"""Paired subset bench: time a few registry queries with the noop sink.

Usage: python tools/subbench.py q1 q2 ... [--runs N] [--sf DIR]
Each run is one pass over the queries in the order given, so a query's
later runs see the codegen cache and JIT state a repeated pass over the
whole set leaves behind. Prints one JSON line {name: {"s": [run_secs...],
"jobs": [...], "compiles": [...]}} and a min line per query on stderr.
For each run, "jobs" counts the Spark jobs in the run's job group (build-time
actions plus the sink) and "compiles" the generated classes Spark's
codegen compiled during the run (CodegenMetrics; 0 once every class the
run needs is in the codegen cache).
Run on a quiet machine; compare MIN-of-runs across code variants
(guide §1.4 — first run pays janino/JIT, min is the steady state).
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from neotree_data_pipeline_kedro_spark.plans.queries import QUERIES
    from neotree_data_pipeline_kedro_spark.session import get_spark

    spark = get_spark(app_name="subbench")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    compiles = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    # warmup: absorb JVM/codegen/Arrow + python worker pool startup
    next(iter(QUERIES.values()))(spark, args.sf).write.format("noop").mode(
        "overwrite"
    ).save()
    spark.range(
        0, 32_000, numPartitions=sc.defaultParallelism
    ).mapInPandas(lambda it: it, schema="id long").write.format("noop").mode(
        "overwrite"
    ).save()

    out = {name: {"s": [], "jobs": [], "compiles": []} for name in args.queries}
    for i in range(args.runs):
        for name, runs in out.items():
            sc.setJobGroup(f"subbench:{name}:{i}", name)
            c0 = compiles.getCount()
            t0 = time.perf_counter()
            QUERIES[name](spark, args.sf).write.format("noop").mode("overwrite").save()
            runs["s"].append(round(time.perf_counter() - t0, 3))
            runs["compiles"].append(compiles.getCount() - c0)
            # job ids reach the status tracker through the asynchronous
            # listener bus: drain it before counting the run's job group
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            runs["jobs"].append(
                len(sc.statusTracker().getJobIdsForGroup(f"subbench:{name}:{i}"))
            )
    for name, runs in out.items():
        print(
            f"{name}: min {min(runs['s']):.2f} runs {runs['s']} "
            f"jobs {runs['jobs']} compiles {runs['compiles']}",
            file=sys.stderr,
        )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
