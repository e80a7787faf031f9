"""Tests of the benchmark itself: ``python -m pytest perfbench/tests -q``.

The end-to-end tests start real runs (about a minute each). They use
``--seconds 1``, which is the declared protocol without the graph
workload's warm passes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
sys.path.insert(0, str(ROOT))

import run  # noqa: E402
import workloads as W  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _declared(kind: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in SPEC[kind]}


def test_declared_metrics_match_what_the_code_emits():
    assert dict(run.END_TO_END) == _declared("end_to_end")
    assert {n: u for n, u, _ in W.per_layer_names()} == _declared("per_layer")
    assert {b for _, _, b in W.per_layer_names()} <= {"lower", "higher"}
    assert [w["name"] for w in SPEC["workloads"]] == list(W.WORKLOADS)


def test_graph_order_is_a_seeded_permutation():
    assert W.graph_order(7) == W.graph_order(7)
    assert sorted(W.graph_order(7)) == sorted(W.GRAPH_QUERIES)
    assert len({tuple(W.graph_order(s)) for s in range(20)}) > 1


def test_events_are_a_function_of_the_seed(tmp_path):
    a, b, c = (tmp_path / n for n in ("a.parquet", "b.parquet", "c.parquet"))
    W.make_events(a, 3)
    W.make_events(b, 3)
    W.make_events(c, 4)
    assert a.read_bytes() == b.read_bytes()
    assert a.read_bytes() != c.read_bytes()
    want = W.expected_stage_counts(a)
    assert want["bronze"] == W.EVENTS
    assert want["admissions"] == want["discharges"] == W.USERS
    assert want["deduplicated"] == 2 * W.USERS


def test_tampered_stage_count_is_flagged(tmp_path):
    W.make_events(tmp_path / "events.parquet", 5)
    want = W.expected_stage_counts(tmp_path / "events.parquet")
    assert W.count_mismatches(dict(want), want) == []
    tampered = dict(want, joined=want["joined"] - 1)
    assert W.count_mismatches(tampered, want) == ["joined"]
    assert W.count_mismatches({}, want) == list(W.STAGES)


def test_tampered_query_result_is_flagged():
    import duckdb

    from neotree_data_pipeline_kedro_spark.plans.queries import ORACLE_SQL

    con = duckdb.connect()
    for t in W.GRAPH_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{W.GRAPH_DATA / t}.parquet')"
        )
    for q in W.GRAPH_QUERIES:
        want = con.execute(ORACLE_SQL[q]).fetchdf()
        assert len(want) > 0, q
        assert W.same_result(want.copy(), want)
        tampered = want.copy()
        col = tampered.columns[-1]
        tampered.loc[0, col] = tampered[col].iloc[1] if len(tampered) > 1 else None
        if not tampered.equals(want):
            assert not W.same_result(tampered, want), q
        assert not W.same_result(want.iloc[1:], want), q


def _tree(root: Path) -> dict[str, float]:
    out = {}
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if d != ".git"]
        for f in filenames:
            p = Path(dirpath, f)
            out[str(p.relative_to(root))] = p.stat().st_mtime
    return out


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", W.WORKLOADS)
def test_run_emits_every_metric_and_writes_nothing_in_the_repo(workload, trace):
    before = _tree(ROOT)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "9",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["failed"] == 0 and last["attempted"] >= 1
    declared = _declared("per_layer" if trace else "end_to_end")
    assert {k: m["unit"] for k, m in last["metrics"].items()} == declared
    if not trace:
        assert all(m["value"] > 0 for m in last["metrics"].values())
        for name in declared:  # the human-readable line carries the sample count
            assert any(line.startswith(f"{name} = ") and "(n=" in line
                       for line in proc.stdout.splitlines())
    assert _tree(ROOT) == before


def test_fails_without_the_package(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench")
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "graph_iterative",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
