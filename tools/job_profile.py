#!/usr/bin/env python3
"""Per-query Spark job profile via the UI REST API (guide §7.1).

For each named query: run it once warm, then run it again inside a
window tagged with the job group ``profile-<query>:query`` and report
the metrics `perfbench.spans.SparkMonitor` reads for that group: job
count, BETWEEN-JOB driver gap (driver-side Catalyst/scheduling cost —
the thing `explain` cannot show and per-job sums hide), executor time,
shuffle bytes, checkpoint jobs and Arrow UDF time. Fence-heavy /
iterative queries (refinedweb, connected components) are gap-bound,
and "fuse the fences" claims are graded on the gap.

Usage:
    python tools/job_profile.py q_refinedweb_e2e q_entity_resolution \
        [--sf /root/testdata/sf0.1] [--runs 1]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.spans import SparkMonitor  # noqa: E402


def profile(spark, monitor: SparkMonitor, sf_dir: str, name: str, runs: int = 1) -> dict:
    from featurestore_spark.queries import QUERIES

    spec = QUERIES[name]

    def go():
        spec.spark(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    go()  # warm: codegen, broadcasts, page cache
    group = f"profile-{name}"
    sc = spark.sparkContext
    sc.setJobGroup(f"{group}:query", f"profile:{name}")
    start = time.time()
    for _ in range(runs):
        go()
    end = time.time()
    sc.setJobGroup(None, None)
    metrics = monitor.op_metrics(group, start, end)
    return {
        "query": name,
        "runs": runs,
        "wall_s": round(end - start, 3),
        "n_jobs": metrics.pop("jobs"),
        **{k: round(v, 3) if isinstance(v, float) else v for k, v in metrics.items()},
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    args = ap.parse_args()

    from featurestore_spark.session import get_spark

    spark = get_spark(
        "featurestore-profile",
        master=f"local[{args.cpus}]",
        shuffle_partitions=int(args.cpus),
        extra_conf={
            "spark.driver.memory": "32g",
            "spark.ui.enabled": "true",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    monitor = SparkMonitor(spark)
    for name in args.queries:
        print(json.dumps(profile(spark, monitor, args.sf, name, args.runs)), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
