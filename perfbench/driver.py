"""One benchmark run in a fresh driver process.

Started by ``run.py`` as ``python3 -B perfbench/driver.py <config.json>``
with the checkout root as working directory. Writes ``result.json`` into the
run's temp dir and exits. The protocol is fixed, never adaptive:

1. the first set-up, from process start: imports, JVM launch,
   ``get_spark``, first ``load_table`` of each input, Python worker spawn;
2. one cold pass, then a fixed number of warm passes, each timed, with the
   process tree's CPU seconds read around them;
3. output checks, outside the timed passes; the graph checks read the
   frames the last pass built;
4. two more set-ups, each after a ``spark.stop()`` in the same process;
   they reuse the JVM and the imports. ``setup_s`` is the median of all three.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import procstat  # noqa: E402
import workloads as W  # noqa: E402
from spans import Tracer, layer_metrics, read_event_logs  # noqa: E402

SETUPS = 3


def _ident(x):
    return x


class Run:
    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.workload = cfg["workload"]
        self.tmp = Path(cfg["tmp"])
        self.sf_dir = cfg["sf_dir"]
        self.tracer = Tracer(cfg["run_id"], bool(cfg["trace"]))
        self.ops = 0  # operations attempted: CLI runs, queries, output checks
        self.failures: list[str] = []
        self.passes: list[dict] = []
        self.counts: list[tuple[Path, dict]] = []  # etl: (out dir, main's counts)

    # -- set-up -------------------------------------------------------------
    def setup(self, t0: float):
        tr = self.tracer
        with tr.span("setup"):
            with tr.span("imports"):
                from neotree_data_pipeline_kedro_spark.session import get_spark
                from neotree_data_pipeline_kedro_spark.sources.tables import load_table

                if self.workload == "etl_pipeline":
                    import neotree_data_pipeline_kedro_spark.__main__  # noqa: F401
                else:
                    import neotree_data_pipeline_kedro_spark.plans.queries  # noqa: F401
            with tr.span("session.start"):
                spark = get_spark(f"perfbench-{self.workload}")
            spark.sparkContext.setLogLevel("ERROR")
            tr.sc = spark.sparkContext
            with tr.span("sources.load", group=True):
                tables = ("events",) if self.workload == "etl_pipeline" else W.GRAPH_TABLES
                for t in tables:
                    load_table(spark, t, self.sf_dir)
            with tr.span("session.py_workers", group=True):
                spark.sparkContext.parallelize([0], 1).map(_ident).collect()
        return spark, time.perf_counter() - t0

    # -- passes -------------------------------------------------------------
    def etl_pass(self, spark, i: int) -> None:
        from neotree_data_pipeline_kedro_spark.__main__ import main

        out = self.tmp / f"warehouse{i}"
        self.ops += 1
        with self.tracer.span("cli_run", group=True):
            counts = main(["--sf-dir", self.sf_dir, "--out", str(out)], spark)
        self.counts.append((out, counts))

    def graph_pass(self, spark, order: list[str]) -> dict:
        """Build and run each query; return the built frames, so the checks
        read the very frames that were timed without building them again."""
        from neotree_data_pipeline_kedro_spark.plans.queries import QUERIES

        tr = self.tracer
        built = {}
        for q in order:
            self.ops += 1
            with tr.span("query", query=q):
                with tr.span("build", group=True, query=q):
                    df = QUERIES[q](spark, self.sf_dir)
                if tr.enabled:
                    with tr.span("plan", query=q):
                        df._jdf.queryExecution().executedPlan()
                with tr.span("exec", group=True, query=q):
                    df.write.format("noop").mode("overwrite").save()
            built[q] = df
        return built

    # -- checks -------------------------------------------------------------
    def check_etl(self) -> None:
        import duckdb

        want = W.expected_stage_counts(Path(self.sf_dir) / "events.parquet")
        con = duckdb.connect()
        try:
            for out, got in self.counts:
                self.ops += 1
                bad = W.count_mismatches(got, want)
                # what was written, read back by DuckDB, not by Spark
                written = {
                    s: con.execute(
                        "SELECT count(*) FROM read_parquet(?)",
                        [str(out / s / "*.parquet")],
                    ).fetchone()[0]
                    for s in W.STAGES
                }
                bad += [f"{s}(written)" for s in W.count_mismatches(written, want)]
                if bad:
                    self.failures.append(f"{out.name}: {bad} got={got} want={want}")
        finally:
            con.close()

    def check_graph(self, built: dict) -> None:
        import duckdb

        from neotree_data_pipeline_kedro_spark.plans.queries import ORACLE_SQL

        con = duckdb.connect()
        try:
            for t in W.GRAPH_TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{Path(self.sf_dir) / t}.parquet')"
                )
            for q, df in built.items():
                self.ops += 1
                try:
                    got = df.toPandas()
                    want = con.execute(ORACLE_SQL[q]).fetchdf()
                except Exception as exc:  # noqa: BLE001 - a failed check is a result
                    self.failures.append(f"{q}: {type(exc).__name__}: {exc}")
                    continue
                if not W.same_result(got, want):
                    self.failures.append(f"{q}: result differs from its oracle")
        finally:
            con.close()

    # -- traced run: wrap the calls main makes, keyed by output path ---------
    def wrap_etl_calls(self) -> None:
        import neotree_data_pipeline_kedro_spark.__main__ as cli
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

        tr = self.tracer
        build_sessions = cli.build_sessions
        write_parquet = DataFrameWriter.parquet
        read_parquet = DataFrameReader.parquet
        count = DataFrame.count

        def traced_build_sessions(spark, sf_dir):
            with tr.span("sources.sessions_build"):
                return build_sessions(spark, sf_dir)

        def traced_write(writer, path, *a, **kw):
            with tr.span("pipeline.write", group=True, stage=Path(path).name):
                return write_parquet(writer, path, *a, **kw)

        def traced_read(reader, *paths, **kw):
            df = read_parquet(reader, *paths, **kw)
            df._perfbench_stage = Path(paths[0]).name
            return df

        def traced_count(df):
            stage = getattr(df, "_perfbench_stage", None)
            if stage is None:
                return count(df)
            with tr.span("pipeline.count", group=True, stage=stage):
                return count(df)

        cli.build_sessions = traced_build_sessions
        DataFrameWriter.parquet = traced_write
        DataFrameReader.parquet = traced_read
        DataFrame.count = traced_count

    # -- the run --------------------------------------------------------------
    def run(self) -> dict:
        tr = self.tracer
        pid = os.getpid()
        with tr.span("run_setup", index=0):
            spark, secs = self.setup(T_START)
        setups = [secs]
        if self.workload == "etl_pipeline" and tr.enabled:
            self.wrap_etl_calls()
        order = W.graph_order(self.cfg["seed"])
        gc0 = _gc_s(spark)
        for i in range(1 + self.cfg["warm_passes"]):
            cpu = procstat.tree_cpu_s(pid)
            t = time.perf_counter()
            with tr.span("pass", index=i):
                if self.workload == "etl_pipeline":
                    self.etl_pass(spark, i)
                else:
                    built = self.graph_pass(spark, order)
            self.passes.append(
                {"wall_s": time.perf_counter() - t, "cpu_s": procstat.tree_cpu_s(pid) - cpu}
            )
        gc_s = _gc_s(spark) - gc0
        peak_rss = procstat.tree_peak_rss_mb(pid)
        with tr.span("checks"):
            if self.workload == "etl_pipeline":
                self.check_etl()
            else:
                self.check_graph(built)
        spark.stop()
        # the repeat set-ups come last, so the cold pass follows the first,
        # cold set-up directly, as it does for a user
        for i in range(1, SETUPS):
            t0 = time.perf_counter()
            with tr.span("run_setup", index=i):
                spark, secs = self.setup(t0)
            setups.append(secs)
            spark.stop()
        result = {
            "setups_s": setups,
            "passes": self.passes,
            "peak_rss_mb": peak_rss,
            "gc_s": gc_s,
            "attempted": self.ops,
            "failures": self.failures,
        }
        if tr.enabled:
            layers = layer_metrics(tr, read_event_logs(self.tmp / "eventlog"), len(self.passes))
            layers["setup.cold_s"] = setups[0]
            layers["mem.peak_rss_mb"] = peak_rss
            layers["spark.gc_s"] = gc_s
            layers["trace.first_pass_s"] = self.passes[0]["wall_s"]
            layers["trace.run_s"] = sum(p["wall_s"] for p in self.passes)
            for stage, rows in (self.counts[-1][1] if self.counts else {}).items():
                layers[f"pipeline.{stage}.rows"] = rows
            result["layers"] = layers
            result["spans"] = tr.spans
        return result


def _gc_s(spark) -> float:
    """Cumulative GC time of the driver JVM, in seconds."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def main() -> None:
    cfg = json.loads(Path(sys.argv[1]).read_text())
    sys.path.insert(0, cfg["root"])  # the package and tools/ live at the root
    result = Run(cfg).run()
    Path(cfg["tmp"], "result.json").write_text(json.dumps(result))


if __name__ == "__main__":
    main()
