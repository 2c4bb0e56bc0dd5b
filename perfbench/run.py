"""Benchmark entry point: one workload, one seed, one timed window.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 15 --trace 0

Run it from the repository root. Every run makes its inputs from --seed in
a fresh work directory under .perfbench/work (removed at exit), starts
Spark on local[<cpus>], checks outputs on one untimed sample, runs a fixed
number of untimed warm-up samples, then times whole samples (a pass over
the workload's query list, or one increment) for --seconds.

The last stdout line is the result:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(BENCHMARK.json lists both). Host diagnostics and, with --trace 1, the
spans go to .perfbench/out/<workload>-<seed>-<trace>.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
# BENCHMARK.json lists the first two. `incremental` can be run by hand, but
# it is not listed: its medians varied by 22-33% (IQR over median, five
# seeds) from run to run, more than a metric's bound allows, while its
# steps are timed in every traced run. The curation key list
# (workloads.CURATION_KEYS) is timed in every traced run too.
WORKLOADS = ("analytics", "short_queries", "incremental")
LISTED = WORKLOADS[:2]
# untimed samples after the output-checked one; fixed so that every run
# starts timing at the same point of the JIT warm-up curve, which falls
# for about ten passes. Measured with the parallel collector on 4 cores,
# analytics seed 21, 60 s window: 4.5, 4.1, 3.9 s untimed after the
# checked pass, then 3.2-3.5 s for seven passes and 2.7-3.1 s after that.
# With three untimed samples, ten seeds' pass medians spread 0.30 (IQR
# over median), most runs still falling by about 15% across the window;
# with five, analytics spread 0.12-0.19 and short_queries 0.14-0.21, many
# runs still falling by 10-20%. Seven is as many as a run's time budget
# allows.
# incremental (G1, three untimed): 7.4 (checked), 6.5, 6.6, 5.7 s, then
# 4.3-5.2 s for 12 increments, rising by about 0.7% per increment as the
# table gains a day partition each time.
WARMUP = {"analytics": 7, "short_queries": 7, "incremental": 3}
# days merged as one untimed, cold batch in setup (the late corrections of
# the first increment land on them), and increments staged after them:
# more than any timed window can consume
BASE_DAYS = 3
STAGED_INCREMENTS = 40
# The traced run times every registry key outside the workloads once, split
# between the workloads; keys that take 5-90 s each are placed by hand at
# the end. When the process is SWEEP_DEADLINE_S old, the running key's
# Spark jobs are cancelled (its time is then a lower bound, listed under
# "cut") and the keys still queued are listed under "skipped", so a slow
# host cannot push a run past its time limit.
SWEEP_LAST = {
    "analytics": ["dedup_near_pairs", "join_inner_equi"],
    "short_queries": ["join_merge_upsert", "dedup_near_end_to_end",
                    "grouping_analytics", "semantic_dedup", "ann_topk"],
}
SWEEP_DEADLINE_S = 100
SCAN_TABLES = ("lineitem", "orders", "customer", "events", "documents", "embeddings")


class ProcessClock:
    """Seconds since this process started: /proc gives the start in 10 ms
    ticks once, perf_counter the time since."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        with open("/proc/self/stat") as fh:
            raw = fh.read()
        start_ticks = int(raw[raw.rindex(")") + 2:].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        self.age0 = uptime - start_ticks / os.sysconf("SC_CLK_TCK")

    def __call__(self) -> float:
        return self.age0 + time.perf_counter() - self.t0


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside `work`, and
    let Python workers import the package and the benchmark modules."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cpus = len(os.sched_getaffinity(0))
    path = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ.update({
        "PYTHONPATH": ":".join(path),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cpus),
        # the launcher JVM would otherwise write /tmp/hsperfdata_<user>
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        # a fixed initial heap: with the JVM default, when the heap grows
        # varied from run to run, and runs landed on two levels 30% apart.
        # The parallel collector: under G1 (the default) the pass median
        # over five seeds spread 0.195 (IQR over median), under it 0.110;
        # G1's concurrent threads share the four cores with the tasks and
        # the JIT, which compiles the new codegen classes of every pass.
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g -XX:+UseParallelGC' "
            "pyspark-shell"
        ),
    })
    import tempfile

    tempfile.tempdir = tmp


def stop_processes(grace_s: float = 20.0) -> None:
    """End the JVM PySpark launched, and every other process this run
    started, and wait until each has exited. `SparkSession.stop()` leaves
    the JVM running; it exits on its own only some time after this process
    has, when it sees its stdin close."""
    import tracing

    left = tracing.descendants()
    SparkContext = getattr(sys.modules.get("pyspark"), "SparkContext", None)
    gw = SparkContext and SparkContext._gateway
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        SparkContext._gateway = SparkContext._jvm = None
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(grace_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    # Python workers and anything else: they end with the JVM; kill the rest
    deadline = time.monotonic() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        live = [p for p, start in left.items() if tracing.alive(p, start)]
        if not live:
            return
        if time.monotonic() > deadline:
            for p in live:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def build_workload(name, spark, work, seed, tracer, queries):
    import workloads as W

    if name == "incremental":
        wl = W.Increments(spark, work, seed, tracer, BASE_DAYS, STAGED_INCREMENTS)
    else:
        wl = W.QueryPasses(spark, os.path.join(work, "tables"), W.BATCH_KEYS[name],
                           queries, tracer)
    wl.setup()
    return wl


def end_to_end(samples: list[dict], items_per_sample: int, elapsed: float,
               setup_s: float) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "pass_p50_s": (median([s["s"] for s in samples]), "s"),
        "items_per_s": (len(samples) * items_per_sample / elapsed, "1/s"),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    process_age_s = ProcessClock()
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "f1_data_pipeline_spark", "__init__.py")):
        print("perfbench: run from the repository root (no f1_data_pipeline_spark "
              "package here)", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import tracing

    run_id = f"{args.workload}-{args.seed}-{args.trace}"
    work = os.path.join(ROOT, ".perfbench", "work", f"{run_id}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    os.makedirs(out_dir, exist_ok=True)
    prepare_env(work)
    host0 = tracing.host_snapshot()
    try:
        result, diag = run(args, work, process_age_s)
    finally:
        # cleanup is bounded; a second SIGTERM must not cut it short
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)
    host1 = tracing.host_snapshot()
    diag["host"] = {
        "nproc": len(os.sched_getaffinity(0)),
        "steal_s": round(host1["steal_s"] - host0["steal_s"], 3),
        "user_s": round(host1["user_s"] - host0["user_s"], 3),
        **{k: round(host1[k] - host0[k], 3) for k in host0 if k.endswith("_some_s")},
        "loadavg_start": host0["loadavg"],
        "loadavg_end": host1["loadavg"],
        **diag.get("host", {}),
    }
    diag["result"] = result
    with open(os.path.join(out_dir, f"{run_id}.json"), "w") as fh:
        json.dump(diag, fh, indent=1, default=str)
    print(json.dumps(diag["host"]), file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def run(args, work: str, process_age_s: ProcessClock) -> tuple[dict, dict]:
    import datagen
    import tracing
    import workloads as W

    tracer = tracing.Tracer()
    from f1_data_pipeline_spark.queries import ORACLE, QUERIES

    queries = dict(QUERIES)
    if args.trace:
        tracer.install(queries)
        tracer.enabled = True
        tracer.trace_id = "setup"

    phases = {}
    tables = os.path.join(work, "tables")
    if args.workload != "incremental":
        datagen.write_tables(tables, args.seed)
    phases["inputs"] = process_age_s()

    from f1_data_pipeline_spark import session

    with tracer.span("session.start") as sp_start:
        spark = session.get_spark("perfbench")
    phases["spark"] = process_age_s()
    spark.sparkContext.setLogLevel("ERROR")
    diag: dict = {"host": {
        "spark": spark.version,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
    }}
    try:
        wl = build_workload(args.workload, spark, work, args.seed, tracer, queries)
        if args.workload != "incremental":
            wl.reference(ORACLE)
            phases["reference"] = process_age_s()
        phases["staging"] = process_age_s()
        failures = wl.check()
        phases["check"] = process_age_s()
        attempted = 1 if args.workload == "incremental" else wl.items_per_sample
        diag["warmup"] = []
        for _ in range(WARMUP[args.workload]):
            s = wl.sample()
            diag["warmup"].append(s["s"])
            failures += s.get("failures", [])
            attempted += wl.items_per_sample
        setup_s = process_age_s()
        diag["setup_s"] = setup_s
        diag["phases"] = phases
        # timed window; a traced run alternates untraced and traced samples
        samples, traced = [], []
        jvm0 = tracing.jvm_snapshot(spark)
        cpu0 = tracing.tree_cpu_s()
        t0 = time.perf_counter()
        i = 0
        # a traced run takes at least untraced, traced, untraced samples so
        # the overhead compares a traced sample with its two neighbours
        while time.perf_counter() - t0 < args.seconds or (args.trace and i < 3):
            on = bool(args.trace) and i % 2 == 1
            tracer.enabled = on
            tracer.trace_id = f"sample-{i}"
            s = wl.sample(count_work=on)
            (traced if on else samples).append(s)
            failures += s.get("failures", [])
            attempted += wl.items_per_sample
            i += 1
        elapsed = time.perf_counter() - t0
        # process-tree CPU repeats less well than wall time from run to run
        # (IQR/median 0.24 on incremental), so it is reported per layer
        cpu_per_item = (tracing.tree_cpu_s() - cpu0) / (
            (len(samples) + len(traced)) * wl.items_per_sample)
        diag["cpu_s_per_item"] = cpu_per_item
        jvm1 = tracing.jvm_snapshot(spark)
        diag["jvm_setup"] = jvm0
        diag["jvm_window"] = {k: round(jvm1[k] - jvm0[k], 3) for k in jvm0}
        tracer.enabled = bool(args.trace)
        tracer.trace_id = "checks"
        failures += wl.finish()
        # the final table and the rollup are one check each
        attempted += 2 if args.workload == "incremental" else 0
        keep = ("s", "items", "commit_s", "read_s", "rows")
        diag["samples"] = [
            {k: v for k, v in s.items() if k in keep} for s in samples + traced
        ]
        if args.trace:
            metrics, extra = layer_metrics(args, spark, work, tracer, queries, wl,
                                           samples, traced, sp_start.seconds,
                                           process_age_s)
            metrics["cpu_s_per_item"] = (cpu_per_item, "s")
            failures += extra.pop("failures")
            attempted += extra.pop("attempted")
            diag.update(extra)
            tracer.dump(os.path.join(ROOT, ".perfbench", "out", f"{args.workload}-{args.seed}-trace.json"),
                        {"overhead": extra.get("overhead")})
        else:
            metrics = end_to_end(samples, wl.items_per_sample, elapsed, setup_s)
    finally:
        try:
            spark.stop()
        except Exception as e:  # a SIGTERM can cut a py4j call short;
            # stop_processes() still ends the JVM
            print(f"perfbench: spark.stop() failed: {e}", file=sys.stderr)
    diag["failures"] = failures
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    for f in failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    return result, diag


def _cancel_after(sc, group: str, seconds: float, done: threading.Event) -> None:
    """From `seconds` on, cancel the group's jobs every half second until
    `done`: a key may catch one cancelled job and start another."""
    if done.wait(seconds):
        return
    while not done.is_set():
        sc.cancelJobGroup(group)
        done.wait(0.5)


def layer_metrics(args, spark, work, tracer, queries, wl, samples, traced, start_s,
                  process_age_s):
    """Per-layer numbers: the workload's own traced samples, plus probes
    for the layers this workload does not exercise."""
    import workloads as W
    from tracing import spark_work

    m: dict[str, tuple[float, str]] = {"session.start_s": (start_s, "s")}
    failures: list[str] = []
    sc = spark.sparkContext
    tables = os.path.join(work, "tables")
    if not os.path.isdir(tables):
        import datagen

        datagen.write_tables(tables, args.seed)

    # sources: noop scans through load_table
    from f1_data_pipeline_spark.sources.tables import load_table

    for t in SCAN_TABLES:
        sc.setJobGroup(f"scan-{t}", t)
        with tracer.span(f"probe.scan.{t}") as sp:
            load_table(spark, tables, t).write.format("noop").mode("overwrite").save()
        m[f"sources.scan_s.{t}"] = (sp.seconds, "s")
        m[f"sources.scan_tasks.{t}"] = (spark_work(sc, f"scan-{t}")["tasks"], "count")

    # functions: text kernels over the documents
    from f1_data_pipeline_spark.functions import text as FT

    docs = load_table(spark, tables, "documents")
    with tracer.span("probe.functions.positional_ngrams") as sp:
        FT.positional_ngrams(docs, "doc_id", "text", 5).write.format("noop").mode("overwrite").save()
    m["functions.positional_ngrams_s"] = (sp.seconds, "s")
    with tracer.span("probe.functions.tokens") as sp:
        docs.select("doc_id", FT.tokens("text").alias("t")).write.format("noop").mode("overwrite").save()
    m["functions.tokens_s"] = (sp.seconds, "s")

    # queries: this workload's keys from its traced samples, the other
    # key lists from one counted pass
    failed_tasks = 0
    per_key: dict[str, list[dict]] = {}
    for s in traced:
        for k, v in s.get("items", {}).items():
            per_key.setdefault(k, []).append(v)
    for name, keys in W.BATCH_KEYS.items():
        if name == args.workload and all(k in per_key for k in keys):
            continue
        probe = W.QueryPasses(spark, tables, keys, queries, tracer)
        for k, v in probe.sample(count_work=True)["items"].items():
            per_key.setdefault(k, []).append(v)
    for k in [k for keys in W.BATCH_KEYS.values() for k in keys]:
        vs = per_key[k]
        m[f"queries.{k}.s"] = (median([v["s"] for v in vs]), "s")
        m[f"queries.{k}.stages"] = (median([v["stages"] for v in vs]), "count")
        m[f"queries.{k}.tasks"] = (median([v["tasks"] for v in vs]), "count")
        failed_tasks += sum(v["failed_tasks"] for v in vs)
    m["queries.failed_tasks"] = (failed_tasks, "count")

    # incremental layers: the workload's traced increments, or a short run
    inc = traced if args.workload == "incremental" else []
    attempted = 0
    if not inc:
        mini = W.Increments(spark, os.path.join(work, "mini"), args.seed, tracer,
                             BASE_DAYS, 2)
        mini.setup()
        failures += mini.check()
        s = mini.sample()
        failures += s["failures"]
        inc.append(s)
        failures += mini.finish()
        attempted = 4  # check, sample, final table, rollup
        wl = mini
    m["streaming.start_s"] = (median([s["drain_s"] - s["trigger_s"] for s in inc]), "s")
    m["streaming.addbatch_s"] = (median([s["addbatch_s"] for s in inc]), "s")
    m["streaming.overhead_s"] = (median([s["trigger_s"] - s["addbatch_s"] for s in inc]), "s")
    m["streaming.batches"] = (median([s["batches"] for s in inc]), "count")
    m["sinks.files_added"] = (median([s["files_added"] for s in inc]), "count")
    m["sinks.bytes_added_per_row"] = (median([s["bytes_added_per_row"] for s in inc]), "B")
    m["sinks.files_live"] = (inc[-1]["files_live"], "count")
    m["matview.refresh_s"] = (median([s["refresh_s"] for s in inc]), "s")
    m["matview.groups_touched"] = (median([s["groups_touched"] for s in inc]), "count")
    m["plans.watermark_s"] = (median([s["watermark_s"] for s in inc]), "s")
    m["plans.commit_s"] = (median([s["commit_s"] for s in inc]), "s")
    m["catalog.read_s"] = (median([s["read_s"] for s in inc]), "s")
    from f1_data_pipeline_spark.operators import catalog

    day = inc[-1]["day"].isoformat()
    rec = catalog.catalog_sql(
        spark, wl.cat,
        f"EXPLAIN SELECT event_type, COUNT(*) FROM events_t WHERE day = DATE '{day}' "
        "GROUP BY event_type",
    ).collect()[0]
    m["catalog.files_scanned"] = (rec["files_scanned"], "count")
    m["catalog.files_total"] = (rec["files_total"], "count")

    # tracing overhead: traced samples against the untraced ones around them
    ratio = median([s["s"] for s in traced]) / median([s["s"] for s in samples])
    m["trace.overhead_ratio"] = (ratio, "ratio")

    # every registry key outside the workloads, once (see SWEEP_LAST)
    listed = {k for keys in W.BATCH_KEYS.values() for k in keys}
    placed = {k for ks in SWEEP_LAST.values() for k in ks}
    rest = sorted(k for k in queries if k not in listed and k not in placed)
    part = []
    if args.workload in LISTED:
        part = rest[LISTED.index(args.workload)::len(LISTED)]
        # rotated by seed: keys the deadline skips in one run lead another
        turn = args.seed % max(len(part), 1)
        part = part[turn:] + part[:turn] + SWEEP_LAST[args.workload]
    sweep: dict = {"skipped": [], "cut": []}
    for k in part:
        left = SWEEP_DEADLINE_S - process_age_s()
        if left <= 0:
            sweep["skipped"].append(k)
            continue
        sc.setJobGroup(f"sweep-{k}", k)
        done = threading.Event()
        guard = threading.Thread(target=_cancel_after, args=(sc, f"sweep-{k}", left, done))
        guard.start()
        with tracer.span(f"sweep.{k}") as sp:
            try:
                queries[k](spark, tables).write.format("noop").mode("overwrite").save()
            except Exception as e:  # reported, not fatal: keys outside the workloads
                sweep[f"queries.{k}.error"] = str(e)[:200]
        done.set()
        guard.join()
        if sp.seconds >= left:
            sweep["cut"].append(k)
        sweep[f"queries.{k}.s"] = sp.seconds
    return m, {"failures": failures, "attempted": attempted, "overhead": ratio - 1,
               "sweep": sweep}


if __name__ == "__main__":
    sys.exit(main())
