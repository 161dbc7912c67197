#!/usr/bin/env python3
"""One-command round-end certification (VERDICT r7 #6).

Chains every per-round evidence class behind a single exit code so the
certification cadence is mechanical instead of a hand-run recipe:

1. Full oracle sweep at sf0.01 and sf0.1 (`tools/check_oracle.py`) —
   every `queries()` entry vs its DuckDB oracle.
2. Replication-stress sweeps at factor 3 and factor 10 (datasets
   derived from sf0.1 by `tools/gen_scale.py` on demand), excluding
   only the documented stress-intractable queries (recursive-CTE /
   brute-force oracles + the float-summation artifact), which are
   covered by step 3 instead.
3. Closed-form replication invariants (`tools/check_invariants.py`)
   at BOTH factors — factor 10 is the headline stress, factor 3
   proves the invariants are factor-general rather than tuned.

Usage:
    python3 tools/certify.py                 # the full cadence
    python3 tools/certify.py --factors 10    # stress at 10x only
    python3 tools/certify.py --skip-stress   # oracle sweeps only

Each step streams its own log to /tmp/certify_<step>.log; stdout here
is one PASS/FAIL line per step plus a final summary (the PLANS.md
datapoint).
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PY = sys.executable

# Stress-dir exclusions (PLANS.md r7b): oracle intractable at 10x —
# recursive-CTE cluster oracles, the brute-force all-pairs SimHash
# oracle, entity resolution's recursive oracle, and q_star_fact's
# last-float-digit summation artifact. The first four are value-checked
# by check_invariants.py instead; the last two carry base-scale oracle
# evidence every round.
STRESS_EXCLUDE = {
    "q_simhash_near_dups",
    "q_dedup_clusters",
    "q_embedding_clusters",
    "q_pack_chunks",
    "q_entity_resolution",
    "q_star_fact_order_counts",
}


def run_step(name: str, cmd: list[str]) -> tuple[str, bool, float]:
    log = f"/tmp/certify_{name}.log"
    t0 = time.time()
    with open(log, "w") as f:
        rc = subprocess.run(
            cmd, cwd=REPO, stdout=f, stderr=subprocess.STDOUT
        ).returncode
    dt = time.time() - t0
    ok = rc == 0
    print(f"{'PASS' if ok else 'FAIL'}  {name:<28} {dt:7.1f}s  (log: {log})")
    if not ok:
        tail = subprocess.run(
            ["tail", "-5", log], capture_output=True, text=True
        ).stdout
        print(tail)
    return name, ok, dt


# every table gen_scale.py writes — a stress dir is complete only if
# ALL of them exist (a crash mid-generation must not leave a dir that
# every later run silently reuses)
_STRESS_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def ensure_stress(factor: int, base: str) -> str:
    out = f"/tmp/sf_certify_x{factor}"
    complete = all(
        os.path.exists(os.path.join(out, f"{t}.parquet"))
        for t in _STRESS_TABLES
    )
    if not complete:
        log = f"/tmp/certify_gen_x{factor}.log"
        print(f"....  deriving factor-{factor} stress set at {out} (log: {log})")
        with open(log, "w") as f:
            subprocess.run(
                [PY, "tools/gen_scale.py", "--factor", str(factor),
                 "--src", base, "--out", out],
                cwd=REPO, check=True, stdout=f, stderr=subprocess.STDOUT,
            )
    return out


def check_window_cadence(max_stale_rounds: int = 2) -> bool:
    """Driver-evidence cadence guard (VERDICT r9 #8): every catalog
    query's last driver-green round must be at most
    ``max_stale_rounds`` old AFTER the next round's artifact lands —
    i.e. each query either appears in some CORRECTNESS_r*.json
    recently enough, or sits in the computed first-50 driver window
    (which becomes the next round's artifact). Fails the round when
    the window cannot keep every query's driver evidence fresh."""
    sys.path.insert(0, REPO)
    import __spark_entry__ as entrymod
    from featurestore_spark.queries import QUERIES

    last = entrymod._last_verified(REPO)
    window = set(list(entrymod.queries())[:50])
    # The window is computed from the artifacts on disk, so it always
    # describes the round after the newest one.
    current = max(last.values(), default=0) + 1
    stale = sorted(
        q
        for q in QUERIES
        if q not in window
        and current - last.get(q, -(10**6)) > max_stale_rounds
    )
    if stale:
        print(
            f"FAIL  window_cadence: {len(stale)} queries would exceed "
            f"{max_stale_rounds}-round driver staleness at r{current} "
            f"close and are NOT in the current 50-slot window: "
            f"{stale[:10]}{'...' if len(stale) > 10 else ''}"
        )
        return False
    n_cov = sum(1 for q in QUERIES if q in window or q in last)
    print(
        f"PASS  window_cadence              {0.0:7.1f}s  "
        f"(window 50, {n_cov}/{len(QUERIES)} covered, r{current})"
    )
    return True


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factors", type=int, nargs="*", default=[3, 10])
    ap.add_argument("--skip-stress", action="store_true")
    ap.add_argument("--skip-sweeps", action="store_true")
    ap.add_argument("--base", default="/root/testdata/sf0.1",
                    help="base dir the stress sets are derived from")
    args = ap.parse_args()

    results: list[tuple[str, bool, float]] = []
    results.append(("window_cadence", check_window_cadence(), 0.0))

    if not args.skip_sweeps:
        for sf in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
            tag = "sweep_" + sf.rsplit("sf", 1)[1].replace(".", "")
            results.append(
                run_step(tag, [PY, "tools/check_oracle.py", "--sf", sf])
            )

    if not args.skip_stress:
        sys.path.insert(0, REPO)
        import __spark_entry__ as entrymod

        include = [q for q in entrymod.queries() if q not in STRESS_EXCLUDE]
        for factor in args.factors:
            stress = ensure_stress(factor, args.base)
            cmd = [PY, "tools/check_oracle.py", "--sf", stress]
            for q in include:
                cmd += ["-q", q]
            results.append(run_step(f"stress_sweep_x{factor}", cmd))
            results.append(
                run_step(
                    f"invariants_x{factor}",
                    [PY, "tools/check_invariants.py", "--base", args.base,
                     "--rep", stress, "--factor", str(factor)],
                )
            )

    n_ok = sum(1 for _, ok, _ in results if ok)
    total = sum(dt for _, _, dt in results)
    print(
        f"\nCERTIFY: {n_ok}/{len(results)} steps green, "
        f"{total / 60:.1f} min total"
    )
    return 0 if n_ok == len(results) else 1


if __name__ == "__main__":
    sys.exit(main())
