#!/usr/bin/env python3
"""Standalone per-query micro-benchmark: warm medians in ONE JVM.

The whole-bench harness (bench.py) measures every query in one long
process; on this host its per-query numbers carry documented run-to-run
variance (PLANS.md "bench methodology"), so apparent regressions must
be cross-checked standalone before acting. This tool is that check:

  python3 tools/micro_bench.py q_minhash_pairs q_dedup_clusters
  python3 tools/micro_bench.py --sf /tmp/sf1_derived --repeats 5 q_simhash_near_dups
  python3 tools/micro_bench.py --py-floor --cpus 4 --repeats 5

Prints per-query run lists + the median (first run includes JIT/scan
warmup — judge by the median, or pass --drop-first).
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

# module-level: pandas_udf resolves py_floor's string annotations here
import pandas as pd

sys.path.insert(0, ".")


def nfc_shapes() -> int:
    """Compare the three available in-batch NFC shapes over 200k mixed
    strings (no Spark): there is NO vectorized Unicode normalizer in
    the pandas/pyarrow stack, so all three are per-string Python and
    should land within noise of each other — this bench exists to
    re-verify that claim (text.py normalize_text keeps the explicit-
    null Series.map). Recorded 2026-08-14 (best-of-3): 0.035 / 0.032 /
    0.032s here; a single-run over heavier combining-mark text read
    0.174 / 0.166 / 0.168s — same conclusion at both scales."""
    import unicodedata

    base = ["café " * 20, "plain ascii text " * 12, "Ω≈ç " * 15]
    s = pd.Series([base[i % 3] for i in range(200_000)])

    def timed(fn):
        best = None
        for _ in range(3):
            t0 = time.time()
            fn()
            dt = time.time() - t0
            best = dt if best is None or dt < best else best
        return best

    norm = unicodedata.normalize
    print(f"Series.map lambda    : "
          f"{timed(lambda: s.map(lambda t: norm('NFC', t) if t is not None else None)):.3f}s")
    print(f"Series.str.normalize : {timed(lambda: s.str.normalize('NFC')):.3f}s")
    print(f"list-comp rebuild    : "
          f"{timed(lambda: pd.Series([norm('NFC', t) for t in s])):.3f}s")
    return 0


def py_floor(cpus: int, repeats: int) -> int:
    """Fixed cost of one Python-UDF stage: a trivial identity
    `pandas_udf` summed over `cpus` partitions against the same sum
    without the UDF, both in one `get_spark` session; medians over
    `repeats` runs after one warm-up run of each. The difference is the
    per-stage Python worker floor (docs/scale.md "Python worker
    floor")."""
    from pyspark.sql import functions as F

    from featurestore_spark.session import get_spark

    spark = get_spark(
        "micro_bench_py_floor", master=f"local[{cpus}]", shuffle_partitions=cpus
    )

    @F.pandas_udf("long")
    def ident(s: pd.Series) -> pd.Series:
        return s

    df = spark.range(0, 1000 * cpus, numPartitions=cpus)
    actions = {
        "plain": lambda: df.agg(F.sum("id")).collect(),
        "pandas_udf": lambda: df.agg(F.sum(ident("id"))).collect(),
    }
    runs = {name: [] for name in actions}
    for i in range(repeats + 1):
        for name, action in actions.items():
            t0 = time.perf_counter()
            action()
            if i:
                runs[name].append(time.perf_counter() - t0)
    med = {name: statistics.median(r) for name, r in runs.items()}
    daemon = spark.sparkContext.getConf().get(
        "spark.python.daemon.module", "pyspark.daemon"
    )
    for name, r in runs.items():
        print(f"{name:12s} median {med[name]:.3f}s  runs={[round(x, 3) for x in r]}")
    print(f"python floor {med['pandas_udf'] - med['plain']:.3f}s per stage "
          f"({cpus} tasks, daemon {daemon})")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--drop-first", action="store_true",
                    help="exclude run 1 (warmup) from the median")
    ap.add_argument("--nfc", action="store_true",
                    help="bench the pandas NFC shapes instead of queries")
    ap.add_argument("--py-floor", action="store_true",
                    help="time a trivial pandas_udf action against the "
                         "same action without it instead of queries")
    args = ap.parse_args()

    if args.nfc:
        return nfc_shapes()
    if args.py_floor:
        return py_floor(args.cpus, args.repeats)
    if not args.queries:
        print("no queries given (or use --nfc / --py-floor)", file=sys.stderr)
        return 2

    from featurestore_spark.queries.catalog import QUERIES
    from featurestore_spark.session import get_spark

    unknown = [q for q in args.queries if q not in QUERIES]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    # match bench.py's measurement conditions: in local mode every
    # executor thread shares the driver heap, and the 1g default
    # (~30 MB/task at local[32]) OOMs the gram-explode aggregates on
    # the 10x derived sets before they can spill
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g")
    spark = get_spark(
        "micro_bench", master=f"local[{args.cpus}]",
        shuffle_partitions=args.cpus,
        extra_conf={"spark.driver.memory": driver_mem},
    )
    for name in args.queries:
        runs = []
        for _ in range(args.repeats):
            t0 = time.time()
            QUERIES[name].spark(spark, args.sf).write.format("noop").mode(
                "overwrite"
            ).save()
            runs.append(time.time() - t0)
            spark.sparkContext._jvm.System.gc()
        scored = runs[1:] if args.drop_first and len(runs) > 1 else runs
        print(
            f"{name:30s} median {statistics.median(scored):6.2f}s  "
            f"runs={[round(r, 2) for r in runs]}",
            flush=True,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
