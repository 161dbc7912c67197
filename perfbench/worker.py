"""The timed process: one closed-loop client of featurestore_spark.

Started fresh by run.py once the inputs exist. It starts a Spark
session, builds the workload's state and runs one untimed warm-up op
(together, set-up), then runs equal-sized ops back to back until their
summed wall time reaches the measuring window. Every op's
output is checked against the generator's answer outside its wall time;
so are the JVM and Python garbage collection, cache clearing, the
control query that op times are divided by and, when tracing, the reads
of Spark's monitoring API. Results go to ``result.json`` in the run
directory.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import sys
import time
import traceback

import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
from spans import PeakRss, SparkMonitor, Tracer


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class Workload:
    """One workload: builds its state, runs op `n`, checks op `n`."""

    def __init__(self, spark, tracer: Tracer, plan: dict, store: str):
        self.spark = spark
        self.tracer = tracer
        self.plan = plan
        self.store = store
        self.load_results: list = []

    def build_state(self) -> bool:
        return True

    def op(self, n: int):
        raise NotImplementedError

    def check(self, n: int, result) -> bool:
        raise NotImplementedError

    def op_rows(self, n: int) -> int:
        raise NotImplementedError

    def input_bytes(self, ops: int) -> int:
        raise NotImplementedError


class FeatureBuild(Workload):
    """A training feature table per as-of date, read from an event
    store and a label history that set-up loaded into the vault."""

    def __init__(self, *a):
        super().__init__(*a)
        from featurestore_spark.load import VaultLoader

        self.vault = os.path.join(self.store, "vault")
        self.features = os.path.join(self.store, "features")
        self.loader = VaultLoader(self.spark, self.vault)

    def build_state(self) -> bool:
        files, t, loader = self.plan["files"], self.tracer, self.loader
        with t.span("io.read"):
            df = {name: self.spark.read.schema(gen.ddl(path)).parquet(path)
                  for name, path in files.items()}
        day0, day35 = gen.label_time(0), gen.label_time(1)
        hub = dict(table="entity_hub", entity_type="entity", id_fields=["entity"], id_type="ent")
        labels = dict(table="label_sat", entity_type="entity", id_fields=["entity_key"],
                      id_type="ent")
        res = {}
        with t.span("load.load_hub"):
            res["entity_hub_0"] = loader.load_hub(df["entities"], process_time=day0, **hub)
        with t.span("load.load_satellite"):
            res["event_sat"] = loader.load_satellite(
                df["events"], table="event_sat", entity_type="event",
                id_fields=["event_id"], id_type="event", process_time=day0,
            )
        with t.span("load.load_satellite"):
            res["label_sat_0"] = loader.load_satellite(df["labels_0"], process_time=day0, **labels)
        with t.span("load.load_link"):
            res["entity_device_link"] = loader.load_link(
                df["links"], table="entity_device_link", src_fields=["entity"],
                src_id_type="ent", dst_fields=["device"], dst_id_type="dev", process_time=day0,
            )
        with t.span("load.load_satellite"):
            res["label_sat_1"] = loader.load_satellite(df["labels_1"], process_time=day35, **labels)
        with t.span("load.load_hub"):
            res["entity_hub_1"] = loader.load_hub(
                df["entities_1"], process_time=day35, delete_indicator=("op", "D"), **hub
            )
        with t.span("load.compact_history"):
            compacted = loader.compact_history("label_sat", target_files=1)
        self.load_results.extend(res.values())
        ok = compacted["rows"] == self.plan["label_history_rows"]
        if not ok:
            print(f"check: compacted label history has {compacted['rows']} rows, "
                  f"want {self.plan['label_history_rows']}", file=sys.stderr)
        for name, want in self.plan["loads"].items():
            got = {k: getattr(res[name], k) for k in want}
            if got != want:
                print(f"check: {name} counts {got} != {want}", file=sys.stderr)
                ok = False
        cols = {"label_sat": gen.LABEL_CHECK_COLS, "entity_hub": gen.HUB_CHECK_COLS,
                "entity_device_link": gen.LINK_CHECK_COLS}
        for table, columns in cols.items():
            cur = pq.read_table(os.path.join(self.vault, table, "current.parquet"), columns=columns)
            got = gen.table_digest(cur, columns)
            if got != self.plan["current"][table]:
                print(f"check: {table} current {got} != {self.plan['current'][table]}",
                      file=sys.stderr)
                ok = False
        return ok

    def op(self, n: int):
        from pyspark.sql import functions as F

        from featurestore_spark.operators.events import count_events, paths, sessionize
        from featurestore_spark.operators.pivot import snapshot_pivot
        from featurestore_spark.operators.temporal import asof_join

        t, d = self.tracer, n % len(gen.ASOF_DAYS)
        asof = F.lit(gen.asof_time(d)).cast("timestamp")
        week_before = asof - F.expr("INTERVAL 7 DAYS")
        with t.span("load.read_current"):
            events = self.loader.read_current("event_sat")
        with t.span("load.read_history"):
            labels = self.loader.read_history("label_sat")
        with t.span("harness.assemble"):
            ev = events.where(F.col("ts") <= asof).select("entity", "event_type", "ts", "value")
        with t.span("operators.events.sessionize"):
            sess = sessionize(ev, gen.SESSION_TIMEOUT_S, entity_col="entity")
        with t.span("operators.events.paths"):
            path = paths(ev, entity_col="entity", type_col="event_type")
        with t.span("operators.events.count_events"):
            recent = count_events(
                ev, None, week_before, asof, entity_col="entity",
                type_col="event_type", out_col="n_events_7d",
            )
        with t.span("operators.pivot.snapshot_pivot"):
            pivot = snapshot_pivot(
                ev, gen.EVENT_TYPES, asof, entity_col="entity",
                attr_col="event_type", value_col="value",
            )
        with t.span("harness.assemble"):
            base = (
                sess.groupBy("entity").agg(F.max("session").alias("n_sessions"))
                .join(path, "entity")
                .join(recent, "entity", "left")
                .fillna(0, subset=["n_events_7d"])
                .join(pivot, "entity")
                .withColumn("asof_ts", asof)
            )
        with t.span("operators.temporal.asof_join"):
            labelled = asof_join(
                base, labels.select("entity", F.col("start_time").alias("ts"), "label"),
                on="entity", left_ts="asof_ts", right_ts="ts", right_cols=["label"],
            )
        with t.span("harness.assemble"):
            out = labelled.select(
                "entity", "n_sessions", "path", "n_events_7d",
                *[F.col(e).alias(f"f_{e}") for e in gen.EVENT_TYPES],
                F.col("r_label").alias("label"),
            )
        dest = os.path.join(self.features, f"asof={d}")
        with t.span("io.write"):
            out.write.mode("overwrite").parquet(dest)
        return dest

    def check(self, n: int, result) -> bool:
        got = gen.table_digest(pq.read_table(result), gen.FEATURE_COLS)
        want = self.plan["expected"][n % len(gen.ASOF_DAYS)]
        if got != want:
            print(f"check: op {n} features {got} != {want}", file=sys.stderr)
        return got == want

    def op_rows(self, n: int) -> int:
        return self.plan["rows"]

    def input_bytes(self, ops: int) -> int:
        return self.plan["input_bytes"]


class CorpusCurate(Workload):
    """Curate, dedup and redact one document shard per op."""

    def op(self, n: int):
        from pyspark.sql import functions as F

        from featurestore_spark.operators.curation import curate_corpus, redact_pii
        from featurestore_spark.operators.dedup import dedup_corpus

        t, s = self.tracer, n % len(self.plan["shards"])
        with t.span("io.read"):
            path = self.plan["shards"][s]["path"]
            docs = self.spark.read.schema(gen.ddl(path)).parquet(path)
        with t.span("operators.curation.curate_corpus"):
            curated = curate_corpus(docs, "gopher")
        with t.span("operators.dedup.dedup_corpus"):
            deduped = dedup_corpus(curated, "fineweb")
        with t.span("operators.curation.redact_pii"):
            redacted = redact_pii(deduped)
        with t.span("harness.assemble"):
            out = redacted.select(
                "doc_id", F.col("text_redacted").alias("text"), "n_urls", "n_emails"
            )
        dest = os.path.join(self.store, "kept", f"shard={s}")
        with t.span("io.write"):
            out.write.mode("overwrite").parquet(dest)
        return dest

    def check(self, n: int, result) -> bool:
        shard = self.plan["shards"][n % len(self.plan["shards"])]
        kept = pq.read_table(result)
        ids = sorted(kept.column("doc_id").to_pylist())
        text = kept.column("text")
        problems = [
            name for name, bad in (
                ("kept ids", ids != shard["kept_ids"]),
                ("email count", pc.sum(kept.column("n_emails")).as_py() != shard["kept_emails"]),
                ("url count", pc.sum(kept.column("n_urls")).as_py() != shard["kept_urls"]),
                ("email left", pc.any(pc.match_substring(text, "@example.com")).as_py()),
                ("url left", pc.any(pc.match_substring(text, "https://")).as_py()),
            ) if bad
        ]
        if problems:
            print(f"check: op {n} shard {problems}", file=sys.stderr)
        self.kept_ratio = len(ids) / shard["curated"]
        return not problems

    def op_rows(self, n: int) -> int:
        return self.plan["shards"][n % len(self.plan["shards"])]["rows"]

    def input_bytes(self, ops: int) -> int:
        shards = self.plan["shards"]
        return sum(s["input_bytes"] for s in shards[: min(ops + 1, len(shards))])


WORKLOADS = {
    "feature_build": FeatureBuild,
    "corpus_curate": CorpusCurate,
}


def session_conf(run_dir: str, trace: bool) -> dict[str, str]:
    """The session every run uses on top of the package's defaults."""
    return {
        # a fixed, pre-touched 2g heap: fits a 15 GB host next to other
        # work, never resizes, and keeps resident memory independent of
        # how far GC happened to spread the heap in a given run
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": "-Xms2g -XX:+AlwaysPreTouch",
        "spark.ui.enabled": "true" if trace else "false",
        "spark.ui.port": "0",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }


def hygiene(spark) -> None:
    """Between ops, outside their wall time: drop Python references (so
    checkpointed frames can be cleaned), clear cached frames, and
    collect the JVM heap."""
    gc.collect()
    spark.catalog.clearCache()
    spark._jvm.System.gc()


def steal_s() -> float:
    """CPU time the hypervisor gave to others while this host's vCPUs
    wanted to run, summed over vCPUs, since boot."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def cpu_s(pids) -> float:
    """User + system CPU time of the processes `pids`."""
    tot = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            tot += int(fields[11]) + int(fields[12])
        except OSError:
            pass
    return tot / os.sysconf("SC_CLK_TCK")


def control_s(spark, repeats: int) -> list[float]:
    """Wall times of a fixed Spark query that calls nothing in the
    package: it shares the host, JVM and session with the ops, so host
    speed drift moves it as it moves them."""
    from pyspark.sql import functions as F

    times = []
    for _ in range(repeats):
        t = time.perf_counter()
        spark.range(0, 200_000, numPartitions=4).groupBy(
            (F.col("id") % 101).alias("k")
        ).agg(F.sum("id")).collect()
        times.append(time.perf_counter() - t)
    return times


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--run-dir", required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--t0", type=float, required=True,
                   help="time.monotonic() when run.py started this process")
    p.add_argument("--cpus", type=int, required=True)
    args = p.parse_args()
    with open(os.path.join(args.run_dir, "plan.json")) as f:
        plan = json.load(f)
    sys.path.insert(0, plan["repo_root"])
    from featurestore_spark.session import get_spark

    trace = bool(args.trace)
    store = os.path.join(args.run_dir, "store")
    tracer = Tracer(trace)
    tracer.op = "setup"
    t = time.monotonic()
    spark = get_spark(
        f"perfbench-{plan['workload']}", master=f"local[{args.cpus}]",
        shuffle_partitions=args.cpus, extra_conf=session_conf(args.run_dir, trace),
    )
    spark.sparkContext.setLogLevel("ERROR")
    phases = {"start": time.monotonic() - t}
    tracer.sc = spark.sparkContext if trace else None
    t = time.monotonic()
    wl = WORKLOADS[plan["workload"]](spark, tracer, plan, store)
    ok = wl.build_state()
    phases["state"] = time.monotonic() - t
    t = time.monotonic()
    with tracer.span("op"):
        ok = wl.check(0, wl.op(0)) and ok
    phases["warmup"] = time.monotonic() - t
    setup_s = time.monotonic() - args.t0
    if not ok:
        print("check: set-up output wrong", file=sys.stderr)

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    rss = PeakRss()
    rss.sample(jvm_pid)
    monitor = SparkMonitor(spark) if trace else None
    walls, rows, failed, op_metrics, kept, host, controls = [], 0, 0, [], [], [], []
    control_s(spark, repeats=5)
    n = 1
    while sum(walls) < args.seconds:
        hygiene(spark)
        controls += control_s(spark, repeats=2)
        tracer.op = f"op{n}"
        t_wall = time.time()
        st0, cpu0 = steal_s(), cpu_s(rss.peak_kb)
        t = time.perf_counter()
        err = None
        try:
            with tracer.span("op"):
                result = wl.op(n)
        except Exception:
            err = traceback.format_exc()
        walls.append(time.perf_counter() - t)
        host.append({"steal_s": steal_s() - st0, "cpu_s": cpu_s(rss.peak_kb) - cpu0})
        if err is None:
            try:
                good = wl.check(n, result)
            except Exception:
                good, err = False, traceback.format_exc()
        if err is not None:
            print(f"op {n} failed:\n{err}", file=sys.stderr)
            good = False
        if good:
            rows += wl.op_rows(n)
        else:
            failed += 1
        if hasattr(wl, "kept_ratio"):
            kept.append(wl.kept_ratio)
        if monitor is not None:
            op_metrics.append(monitor.op_metrics(tracer.op, t_wall, t_wall + walls[-1]))
        rss.sample(jvm_pid)
        n += 1
    ops = len(walls)
    controls += control_s(spark, repeats=6)
    # one ctl is the median wall time of the control query in this run
    ctl = median(controls)

    result = {
        "correct": ok and failed == 0,
        "attempted": ops,
        "failed": failed,
        "walls": walls,
        "phases": phases,
        "controls": controls,
        "end_to_end": {
            "setup_s": setup_s,
            "op_p50_ctl": median(walls) / ctl,
            "rows_per_ctl": rows / sum(walls) * ctl,
            "peak_rss_mb": rss.total_mb(),
            "stored_bytes_per_input_byte": dir_bytes(store) / wl.input_bytes(ops),
        },
    }
    if trace:
        result["per_layer"] = layer_metrics(
            spark, tracer, wl, walls, ctl, op_metrics, kept, phases, host
        )
        tracer.write(os.path.join(args.run_dir, "trace.json"),
                     {"op_metrics": op_metrics, "host": host, "walls": walls,
                      "phases": phases})
    spark.stop()
    with open(os.path.join(args.run_dir, "result.json"), "w") as f:
        json.dump(result, f)
    return 0


def layer_metrics(
    spark, tracer, wl, walls, ctl, op_metrics, kept, phases, host
) -> dict:
    from featurestore_spark.io.fs import HadoopFS

    def per_call(name: str) -> float:
        # timed ops when the layer runs in them, else set-up
        calls = [s for s in tracer.spans if s["name"] == name]
        in_ops = [s for s in calls if s["op"] != "setup"]
        return median([s["end"] - s["start"] for s in (in_ops or calls)])

    out = {f"session.{k}_s": v for k, v in phases.items()}
    for name in (
        "load.load_hub", "load.load_satellite", "load.load_link",
        "load.compact_history", "load.read_current", "load.read_history",
        "io.read", "io.write",
        "operators.events.sessionize", "operators.events.paths",
        "operators.events.count_events", "operators.pivot.snapshot_pivot",
        "operators.temporal.asof_join", "operators.curation.curate_corpus",
        "operators.dedup.dedup_corpus", "operators.curation.redact_pii",
    ):
        out[name + "_s"] = per_call(name)
    read = sum(r.read_count for r in wl.load_results)
    changed = sum(r.inserts + r.updates + r.deletes for r in wl.load_results)
    out["load.changed_per_read"] = changed / read if read else 0.0
    vault = getattr(wl, "vault", None)
    fs = HadoopFS(spark)
    out["io.vault_bytes"] = fs.size_bytes(vault) if vault else 0
    out["io.vault_files"] = fs.file_count(vault) if vault else 0
    out["operators.dedup.kept_ratio"] = median(kept)
    for key in ("jobs", "driver_gap_s", "executor_run_s", "shuffle_write_bytes",
                "checkpoint_jobs", "arrow_udf_s"):
        name = "spark.jobs_per_op" if key == "jobs" else f"spark.{key}"
        out[name] = median([m[key] for m in op_metrics])
    out["host.control_s"] = ctl
    out["host.cpu_s"] = median([h["cpu_s"] for h in host])
    out["host.steal_s"] = median([h["steal_s"] for h in host])
    out["trace.op_p50_s"] = median(walls)
    out["trace.op_p50_ctl"] = median(walls) / ctl
    # share of each op's wall time covered by its layer spans
    shares = []
    for i, wall in enumerate(walls):
        op = f"op{i + 1}"
        top = [s for s in tracer.spans if s["op"] == op and s["parent"] is not None
               and tracer.spans[s["parent"]]["name"] == "op"]
        shares.append(sum(s["end"] - s["start"] for s in top) / wall)
    out["trace.attributed_share"] = median(shares)
    return out


if __name__ == "__main__":
    sys.exit(main())
