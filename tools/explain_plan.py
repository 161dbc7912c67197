#!/usr/bin/env python3
"""Dump `.explain("formatted")` for catalog queries to files.

Writes `<out>/<query><suffix>.txt` with the formatted physical plan of
each named query, so a plan change can be diffed before and after an
optimization. Usage:

  python3 tools/explain_plan.py --out /tmp/plans --suffix _before q_dedup_preset ...
  python3 tools/explain_plan.py --out /tmp/plans --suffix _after q_dedup_preset ...

Plans are captured at --sf (default sf0.1 — the bench's data) with the
same session settings bench.py uses, so Exchange counts / join picks
match what the bench times.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--out", required=True, help="directory the dumps go to")
    ap.add_argument("--suffix", default="")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    from featurestore_spark.queries import QUERIES
    from featurestore_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        "featurestore-explain",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(args.out, exist_ok=True)
    rc = 0
    for name in args.queries:
        spec = QUERIES.get(name)
        if spec is None:
            print(f"unknown query: {name}", file=sys.stderr)
            rc = 1
            continue
        try:
            df = spec.spark(spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001 - record the failure in-file
            plan = f"EXPLAIN FAILED: {e}"
            rc = 1
        path = os.path.join(args.out, f"{name}{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
