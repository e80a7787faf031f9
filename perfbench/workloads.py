"""Workload inputs and output checks, free of Spark so tests can use them.

Two workloads (see NOTES.md for why these two):

- ``etl_pipeline``: the CLI (``python -m neotree_data_pipeline_kedro_spark``)
  over an events table generated from the seed. Checked against stage row
  counts that DuckDB derives from the same events file.
- ``graph_iterative``: the registry queries whose builders launch the most
  Spark jobs, over the vendored sf0.001 tables, in an order drawn from the
  seed. Checked against each query's DuckDB ``oracle_sql()`` twin.
"""

from __future__ import annotations

import random
from pathlib import Path

DEFAULT_SEED = 42
WORKLOADS = ("etl_pipeline", "graph_iterative")

# The three registry queries whose builders start the most jobs (ROADMAP
# direction 4 targets them); they read only lineitem and orders.
GRAPH_QUERIES = ("g17_pagerank_exact", "g8_bfs_hops", "g16_topo_positions")
GRAPH_DATA = Path(__file__).resolve().parent / "data" / "sf0.001"
GRAPH_TABLES = ("lineitem", "orders")

# The stage names ``__main__.main`` returns, in the order it runs them.
STAGES = (
    "bronze",
    "deduplicated",
    "admissions",
    "admissions_mcl",
    "discharges",
    "discharges_mcl",
    "admissions_fixed",
    "discharges_fixed",
    "summary_admissions",
    "joined",
    "union_view",
    "convenience",
    "summary_counts",
    "clean_admissions",
    "merged_all",
)

EVENTS = 10_000
USERS = 150
_EVENT_TYPES = ("click", "signup", "error", "view", "purchase")


def graph_order(seed: int) -> list[str]:
    """The seed's order of the graph queries: a permutation, never a subset,
    so every seed runs the same work."""
    order = list(GRAPH_QUERIES)
    random.Random(seed).shuffle(order)
    return order


def make_events(path: Path, seed: int) -> None:
    """Write an ``events.parquet`` with the schema of the synthetic test
    warehouse (TESTDATA.md): event_id, ts, user_id, event_type, value, props.
    ``build_sessions`` turns each event into one session document."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    gaps_us = rng.integers(1, 360_000_000, EVENTS)  # up to 6 min apart
    start_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00
    table = pa.table(
        {
            "event_id": pa.array(np.arange(EVENTS, dtype=np.int64)),
            "ts": pa.array(start_us + np.cumsum(gaps_us), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, USERS, EVENTS, dtype=np.int64)),
            "event_type": pa.array(
                [_EVENT_TYPES[i] for i in rng.integers(0, 5, EVENTS)]
            ),
            "value": pa.array(np.round(rng.uniform(0.01, 490.0, EVENTS), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, EVENTS)]
            ),
        }
    )
    pq.write_table(table, path)


def expected_stage_counts(events_path: Path) -> dict[str, int]:
    """Stage row counts derived by DuckDB from the events file alone.

    ``build_sessions`` makes one session per event, an admission for even
    ``event_id`` and a discharge for odd, with uid ``'U' || user_id``; the
    engine keeps the latest session per (uid, script). Every generated user
    has both kinds, so each downstream per-admission stage keeps one row per
    admitted uid, each summary table has one row, and the fixture has no
    multi-choice-list fields."""
    import duckdb

    con = duckdb.connect()
    try:
        bronze, dedup, adm, dis = con.execute(
            "SELECT count(*), count(DISTINCT (user_id, event_id % 2)), "
            "count(DISTINCT user_id) FILTER (WHERE event_id % 2 = 0), "
            "count(DISTINCT user_id) FILTER (WHERE event_id % 2 = 1) "
            "FROM read_parquet(?)",
            [str(events_path)],
        ).fetchone()
    finally:
        con.close()
    want = {
        "bronze": bronze,
        "deduplicated": dedup,
        "admissions": adm,
        "discharges": dis,
        "admissions_fixed": adm,
        "discharges_fixed": dis,
        "admissions_mcl": 0,
        "discharges_mcl": 0,
        "summary_admissions": 1,
        "summary_counts": 1,
    }
    for name in ("joined", "union_view", "convenience", "clean_admissions", "merged_all"):
        want[name] = adm
    return want


def count_mismatches(got: dict[str, int], want: dict[str, int]) -> list[str]:
    """Stages whose count differs from ``want`` (or is missing)."""
    return [s for s in STAGES if got.get(s) != want[s]]


def same_result(got, want) -> bool:
    """The oracle hash contract: same row count, same column names, and the
    same canonical hash (tools/oracle_check.canon_hash)."""
    from tools.oracle_check import canon_hash

    return (
        len(got) == len(want)
        and sorted(got.columns) == sorted(want.columns)
        and canon_hash(got.copy()) == canon_hash(want.copy())
    )


def per_layer_names() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every metric a traced run reports, for every
    workload; a layer the workload does not run reports 0."""
    names = [
        ("setup.cold_s", "s", "lower"),
        ("setup.imports_s", "s", "lower"),
        ("session.cold_start_s", "s", "lower"),
        ("session.start_s", "s", "lower"),
        ("session.py_workers_s", "s", "lower"),
        ("sources.load_s", "s", "lower"),
        ("sources.sessions_build_s", "s", "lower"),
        ("queries.build_s", "s", "lower"),
        ("queries.jobs_build", "count", "lower"),
        ("spark.plan_s", "s", "lower"),
        ("operators.exec_s", "s", "lower"),
    ]
    for q in GRAPH_QUERIES:
        names += [(f"graph.{q}.build_s", "s", "lower"), (f"graph.{q}.jobs_build", "count", "lower")]
    names += [
        ("spark.jobs", "count", "lower"),
        ("spark.jobs_first_pass", "count", "lower"),
        ("spark.tasks", "count", "lower"),
        ("spark.shuffle_read_mb", "MB", "lower"),
        ("spark.shuffle_write_mb", "MB", "lower"),
        ("spark.spill_mb", "MB", "lower"),
        ("spark.gc_s", "s", "lower"),
        ("mem.peak_rss_mb", "MB", "lower"),
    ]
    for s in STAGES:
        names += [
            (f"pipeline.{s}.write_s", "s", "lower"),
            (f"pipeline.{s}.jobs", "count", "lower"),
            (f"pipeline.{s}.rows", "rows", "higher"),
        ]
    names += [
        ("pipeline.count_s", "s", "lower"),
        ("pipeline.count_jobs", "count", "lower"),
        ("host.steal_frac", "fraction", "lower"),
        ("host.loadavg_start", "load", "lower"),
        ("trace.first_pass_s", "s", "lower"),
        ("trace.run_s", "s", "lower"),
    ]
    return names
