#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload feature_build --seed 1 --seconds 12 --trace 0

Run from the repository root. It generates the workload's inputs from
the seed (outside any timing), starts the timed process
(perfbench/worker.py) on them, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``, which also keeps the spans in perfbench/traces/).
Each run works in a private directory under perfbench/work/, with its
own Spark local dirs, and removes it at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("feature_build", "corpus_curate")
END_TO_END = {
    "setup_s": "s",
    "op_p50_ctl": "ctl",
    "rows_per_ctl": "1/ctl",
    "peak_rss_mb": "MB",
    "stored_bytes_per_input_byte": "ratio",
}
WORKER_TIMEOUT_S = 160


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ctl"):
        return "ctl"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_ratio", "_share", "_per_read")):
        return "ratio"
    return "count"


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Write the workload's inputs and answers; sizes are fixed, only
    the content depends on the seed."""
    import numpy as np

    import gen

    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    os.makedirs(out_dir)
    if workload == "feature_build":
        return gen.gen_feature_build(
            rng, out_dir, n_entities=1500, sessions_per_entity=6,
            label_mix=dict(unchanged=300, updated=300, new=150, dup=30),
            hub_mix=dict(unchanged=300, new=100, deleted=50, dup=30),
            link_dups=40,
        )
    return gen.gen_corpus_curate(
        rng, out_dir, n_shards=6, originals=140, exact_dups=25, near_dups=25,
        short_docs=30, repetitive_docs=30,
    )


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "featurestore_spark", "__init__.py")):
        print(f"run.py: no featurestore_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)

    run_dir = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        plan = generate(args.workload, args.seed, os.path.join(run_dir, "input"))
        plan.update(workload=args.workload, seed=args.seed, repo_root=ROOT)
        with open(os.path.join(run_dir, "plan.json"), "w") as f:
            json.dump(plan, f)
        env = dict(
            os.environ,
            SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
            TMPDIR=os.path.join(run_dir, "tmp"),
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
            PYTHONPATH=os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")]),
            PYSPARK_PYTHON=sys.executable,
            PYSPARK_DRIVER_PYTHON=sys.executable,
        )
        cpus = min(4, os.cpu_count() or 1)
        t0 = time.monotonic()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), "--run-dir", run_dir,
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--t0", repr(t0), "--cpus", str(cpus)],
            cwd=run_dir, env=env, stdout=sys.stderr, start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            # the worker's process group holds the JVM and its Python
            # workers, which outlive the worker by a moment; end them all
            # and wait until the group is empty
            proc.kill()
            proc.wait()
            deadline = time.monotonic() + 30
            while time.monotonic() < deadline:
                try:
                    os.killpg(proc.pid, signal.SIGKILL)
                except ProcessLookupError:
                    break
                time.sleep(0.1)
        if rc != 0:
            print(f"run.py: worker exited with {rc}", file=sys.stderr)
            return 1
        with open(os.path.join(run_dir, "result.json")) as f:
            res = json.load(f)
        if args.trace:
            traces = os.path.join(HERE, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(run_dir, "trace.json"),
                        os.path.join(traces, f"{args.workload}-seed{args.seed}.json"))
            metrics = {k: {"value": v, "unit": layer_unit(k)}
                       for k, v in res["per_layer"].items()}
        else:
            metrics = {k: {"value": res["end_to_end"][k], "unit": u}
                       for k, u in END_TO_END.items()}
        walls = sorted(res["walls"])
        print(
            f"run.py: {args.workload} seed {args.seed}: {res['attempted']} ops, "
            f"{res['failed']} failed, op wall p50 {statistics.median(walls):.3f} s "
            f"(min {walls[0]:.3f}, max {walls[-1]:.3f}), control p50 "
            f"{statistics.median(res['controls']):.4f} s, op p50 "
            f"{res['end_to_end']['op_p50_ctl']:.2f} ctl, set-up "
            f"{res['end_to_end']['setup_s']:.2f} s "
            + json.dumps({k: round(v, 2) for k, v in res["phases"].items()}),
            file=sys.stderr,
        )
        print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # another run is using it


if __name__ == "__main__":
    sys.exit(main())
