"""Micro-bench one or more registered queries with bench.py's estimator.

Usage: python tools/qbench.py [-k K] [--sf DIR] query [query ...]

Same methodology as bench.py (sf0.001 codegen warm pass, untimed warm run
at the target sf, min-of-k noop-sink samples, persisted-state cleanup
between samples outside the timed window) so numbers are comparable to
BENCH_DETAIL.json — for iterating on a single query without paying the
whole 63-query run.  Each query's line on stderr also carries the Spark
job counts of its fastest sample: jobs fired while building the
DataFrame (``build_jobs``) and while executing it (``exec_jobs``).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from oltp_to_data_warehouse_pipeline_spark.plans.queryset import registry  # noqa: E402
from oltp_to_data_warehouse_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    k = 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names: list[str] = []
    it = iter(args)
    for a in it:
        if a == "-k":
            k = int(next(it))
        elif a == "--sf":
            sf_dir = next(it)
        else:
            names.append(a)

    spark = get_spark("qbench")
    spark.sparkContext.setLogLevel("ERROR")
    queries, _ = registry()

    def drop_persisted() -> None:
        it2 = spark.sparkContext._jsc.sc().getPersistentRDDs().values().iterator()
        while it2.hasNext():
            it2.next().unpersist(False)
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()

    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs(group: str) -> int:
        return len(tracker.getJobIdsForGroup(group))

    out: dict[str, float] = {}
    for name in names:
        fn = queries[name]
        sc.setJobDescription(f"qbench:{name}")
        fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
        drop_persisted()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        drop_persisted()
        best = float("inf")
        samples = []
        for i in range(k):
            # construction jobs (schema inference, eager pins, sizing
            # collects) and execution jobs are counted per job group
            build, run = f"qbench:{name}:{i}:build", f"qbench:{name}:{i}:exec"
            sc.setJobGroup(build, name)
            t0 = time.time()
            df = fn(spark, sf_dir)
            sc.setJobGroup(run, name)
            df.write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            samples.append(round(dt, 3))
            if dt < best:
                best, best_jobs = dt, (jobs(build), jobs(run))
            drop_persisted()
        out[name] = round(best, 3)
        print(
            f"{name}: min={best:.3f}s build_jobs={best_jobs[0]} "
            f"exec_jobs={best_jobs[1]} samples={samples}",
            file=sys.stderr,
        )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
