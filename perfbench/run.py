"""Benchmark of the tika_spark extraction job, one workload per call.

Run from the repository root:

    python3 perfbench/run.py --workload crawl_main --seed 1 --seconds 10 --trace 0

Each workload is a closed loop with one client: the next pass is
submitted when the previous one has completed, at ``local[nproc]``
from this one process. The run builds its inputs from ``--seed``,
times the set-up, checks one collected pass against the inputs'
expectations, then runs passes for ``--seconds``. With ``--trace 1``
it alternates untraced and traced passes and reports per-layer
metrics instead of the end-to-end ones.

Output: JSON lines. The next-to-last holds the host and run facts;
the last holds ``correct``, ``attempted``, ``failed`` and ``metrics``.
The exit code is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import platform
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# name -> unit; BENCHMARK.json lists the same names
END_TO_END = {"docs_per_s": "docs/s", "setup_s": "s", "peak_rss_mb": "MB"}
SPARK_LAYER = {"spark.jvm_cpu_s": "s", "spark.gc_s": "s",
               "spark.shuffle_write_mb": "MB", "spark.input_mb": "MB",
               "spark.output_mb": "MB", "spark.task_s_p50": "s",
               "spark.task_s_max": "s", "spark.failed_tasks": "count"}
CHECKPOINT_LAYER = {"checkpoint.wave_s_p50": "s",
                    "checkpoint.commit_s": "s",
                    "checkpoint.rows_reparsed": "count"}
TRACE_FACTS = {"trace.docs_per_s_untraced": "docs/s",
               "trace.docs_per_s_traced": "docs/s",
               "trace.overhead_share": "share"}

SETUPS = 3          # fresh-context set-ups per run; setup_s is their median
# untimed full passes after the checked one: the JVM's JIT reaches its
# steady pass time by about the fourth full pass in a fresh JVM
WARM_PASSES = 2
BATCH_ROWS = 512    # spark.sql.execution.arrow.maxRecordsPerBatch


def workloads(scale: float) -> dict:
    from perfbench.crawl import CrawlWorkload, ResumeWorkload
    from perfbench.media import MediaWorkload

    def n(rows):
        return max(int(rows * scale), 30)
    return {
        "crawl_main": CrawlWorkload("text-main", n(8000)),
        "crawl_detect": CrawlWorkload("detect", n(12000)),
        "crawl_resume": ResumeWorkload(n(1200)),
        "media_decode": MediaWorkload(
            {"png": 8, "webp_lossless": 8, "webp_lossy": 8, "jpeg": 8,
             "vp8_webm": 4, "mpeg2_ts": 8, "h264_mp4": 8, "mp3": 8},
            copies=max(int(6 * scale), 1)),
    }


def per_layer_units() -> dict[str, str]:
    from perfbench.trace import CODEC_KINDS, ROUTES
    units = dict(SPARK_LAYER)
    units.update({
        "stages.batches": "count", "stages.batch_s_p50": "s",
        "stages.batch_s_tail": "s", "stages.python_s": "s",
        "stages.self_s": "s", "stages.python_busy_share": "share",
        "stages.outside_python_core_s": "s", "mime.s": "s",
        "mime.docs": "count", "charset.s": "s",
        "charset.statistical_share": "share", "dom.s": "s",
        "layout.s": "s", "layout.walks_per_html_doc": "count",
        "boilerpipe.s": "s", "language.s": "s", "language.chars": "count"})
    for route in ROUTES:
        units.update({f"parse.{route}.s": "s", f"parse.{route}.docs": "count",
                      f"parse.{route}.errors": "count"})
    units.update(CHECKPOINT_LAYER)
    for kind in CODEC_KINDS:
        units.update({f"codec.{kind}.s": "s", f"codec.{kind}.items": "count"})
    units.update(TRACE_FACTS)
    return units


# ------------------------------------------------------------------ host


def host_facts() -> dict:
    import pyarrow
    import pyspark
    mem_kb = 0
    with open("/proc/meminfo", encoding="ascii") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"nproc": len(os.sched_getaffinity(0)),
            "mem_total_mb": mem_kb // 1024,
            "python": platform.python_version(),
            "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__}


def process_tree(pid: int) -> list[int]:
    """``pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    tree, todo = [], [pid]
    while todo:
        p = todo.pop()
        tree.append(p)
        todo.extend(children.get(p, ()))
    return tree


def reset_peak_rss(pid: int) -> None:
    """Restart the kernel's resident-memory high-water mark (VmHWM) of
    ``pid``'s process tree."""
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/clear_refs", "w", encoding="ascii") as f:
                f.write("5")
        except OSError:
            continue


def peak_rss_mb(pid: int) -> float:
    """Summed VmHWM of ``pid``'s process tree since the last reset:
    the JVM, its Python daemon and workers. Reading the kernel's
    high-water mark costs nothing while the passes run."""
    total_kb = 0
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/status", encoding="ascii") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


# ----------------------------------------------------------------- spark


def start_session(cores: int, work: str, heap_mb: int, daemon: bool):
    from pyspark.sql import SparkSession
    b = (SparkSession.builder.master(f"local[{cores}]")
         .appName("perfbench")
         .config("spark.driver.memory", f"{heap_mb}m")
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData")
         .config("spark.local.dir", f"{work}/spark-local")
         .config("spark.sql.warehouse.dir", f"{work}/warehouse")
         .config("spark.sql.shuffle.partitions", str(cores))
         .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                 str(BATCH_ROWS))
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false"))
    if daemon:
        b = b.config("spark.python.daemon.module", "perfbench.tracedaemon")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class StageLedger:
    """Spark's own per-stage counters, read from the status store
    (works with the UI disabled) for the stages since the last read."""

    def __init__(self, spark):
        self.spark = spark
        self.seen: set = set()
        self.read()

    def read(self) -> list[dict]:
        sc = self.spark.sparkContext
        jvm = sc._jvm
        store = sc._jsc.sc().statusStore()
        stages = store.stageList(jvm.java.util.ArrayList(), False, False,
                                 sc._gateway.new_array(jvm.double, 0),
                                 jvm.java.util.ArrayList())
        out = []
        for i in range(stages.size()):
            s = stages.apply(i)
            key = (s.stageId(), s.attemptId())
            if key in self.seen or s.status().toString() not in (
                    "COMPLETE", "FAILED"):
                continue
            self.seen.add(key)
            tasks = store.taskList(s.stageId(), s.attemptId(), 100000)
            durations = []
            for j in range(tasks.size()):
                d = tasks.apply(j).duration()
                if d.isDefined():
                    durations.append(d.get() / 1000.0)
            out.append({"cpu_s": s.executorCpuTime() / 1e9,
                        "gc_s": s.jvmGcTime() / 1000.0,
                        "shuffle_write_mb": s.shuffleWriteBytes() / 2**20,
                        "input_mb": s.inputBytes() / 2**20,
                        "output_mb": s.outputBytes() / 2**20,
                        "failed_tasks": s.numFailedTasks(),
                        "task_s": durations})
        return out


def spark_metrics(stages: list[dict], n_passes: int) -> dict[str, float]:
    per = 1.0 / max(n_passes, 1)
    tasks = sorted(t for s in stages for t in s["task_s"])
    m = {f"spark.{k}": per * sum(s[k] for s in stages)
         for k in ("gc_s", "shuffle_write_mb", "input_mb", "output_mb",
                   "failed_tasks")}
    m["spark.jvm_cpu_s"] = per * sum(s["cpu_s"] for s in stages)
    m["spark.task_s_p50"] = tasks[len(tasks) // 2] if tasks else 0.0
    m["spark.task_s_max"] = tasks[-1] if tasks else 0.0
    return m


def checkpoint_metrics(passes: list[dict]) -> dict[str, float]:
    """Checkpoint-layer metrics from the traced resume passes."""
    if not passes:
        return dict.fromkeys(CHECKPOINT_LAYER, 0.0)
    return {"checkpoint.wave_s_p50": statistics.median(
                w for p in passes for w in p["wave_s"]),
            "checkpoint.commit_s": statistics.mean(
                p["commit_s"] for p in passes),
            "checkpoint.rows_reparsed": statistics.mean(
                p["rows_reparsed"] for p in passes)}


# ------------------------------------------------------------------- run


def measure(args, wl, host, work) -> tuple[dict, dict, list]:
    """Set up, verify, then run passes; returns (facts, metrics,
    problems)."""
    from pyspark import SparkContext

    from perfbench import trace
    from tika_spark.pipeline import job

    cores = args.cores or host["nproc"]
    heap_mb = host["mem_total_mb"] // 4
    span_dir = f"{work}/spans"
    os.makedirs(span_dir, exist_ok=True)
    daemon = bool(args.trace) and wl.daemon_traced
    if daemon:
        os.environ["PERFBENCH_SPAN_DIR"] = span_dir

    t0 = time.perf_counter()
    wl.build(args.seed, work, cores)
    input_s = time.perf_counter() - t0

    # set-up k: session start through the first pass over the warm-up
    # slice. The first also launches the JVM; the others start a fresh
    # SparkContext (and so fresh Python workers) in the same JVM.
    setups = []
    t0 = time.perf_counter()
    spark = start_session(cores, work, heap_mb, daemon)
    jvm_launch_s = time.perf_counter() - t0
    gateway = SparkContext._gateway
    try:
        for k in range(SETUPS):
            if k:
                spark.stop()
                t0 = time.perf_counter()
                spark = start_session(cores, work, heap_mb, daemon)
            wl.run_pass(spark, warm=True)
            setups.append(time.perf_counter() - t0)

        ledger = StageLedger(spark)
        check = wl.verify(spark)
        verify_shuffle_mb = sum(s["shuffle_write_mb"]
                                for s in ledger.read())
        for _ in range(WARM_PASSES):
            wl.run_pass(spark)

        traced_fn = functools.partial(trace.make_traced_extract_fn,
                                      span_dir=span_dir)
        untraced_fn = job.make_extract_fn
        passes = {False: [], True: []}
        stages, totals, checkpoint_passes = [], [], []
        deadline = time.perf_counter() + args.seconds
        reset_peak_rss(gateway.proc.pid)
        while True:
            traced = bool(args.trace) and len(passes[False]) > len(
                passes[True])
            if traced:
                ledger.read()
                job.make_extract_fn = traced_fn
                open(f"{span_dir}/ACTIVE", "w").close()
            t0 = time.perf_counter()
            try:
                wl.run_pass(spark)
            finally:
                job.make_extract_fn = untraced_fn
                if traced:
                    os.remove(f"{span_dir}/ACTIVE")
            wall = time.perf_counter() - t0
            passes[traced].append(wall)
            if traced:
                stages.extend(ledger.read())
                totals.extend(trace.read_spans(span_dir))
                if hasattr(wl, "checkpoint_stats"):
                    checkpoint_passes.append(wl.checkpoint_stats(wall))
            # stop before a pass that would end past the deadline
            typical = statistics.median(passes[False] + passes[True])
            done = time.perf_counter() + typical > deadline
            if done and (not args.trace or passes[True]):
                break
        peak_mb = peak_rss_mb(gateway.proc.pid)
    finally:
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=30)
        except Exception:  # a JVM that ignores EOF on stdin
            gateway.proc.kill()
            gateway.proc.wait()

    def docs_per_s(walls):
        return statistics.median(wl.rows / w for w in walls)

    problems = []
    if check["golden_mismatch"]:
        problems.append(f"{check['golden_mismatch']} rows differ from "
                        "their expectation")
    if check["unknown_status"]:
        problems.append(f"{check['unknown_status']} rows in an unknown "
                        "status")
    if wl.shuffles is not None and (verify_shuffle_mb > 0) != wl.shuffles:
        problems.append(f"plan shape: shuffle write {verify_shuffle_mb:.3f}"
                        f" MB, expected {'some' if wl.shuffles else 'none'}")

    n_untraced = len(passes[False])
    facts = {"workload": args.workload, "seed": args.seed, "cores": cores,
             "driver_heap_mb": heap_mb, "rows": wl.rows, "bytes": wl.bytes,
             "input_s": round(input_s, 3),
             "jvm_launch_s": round(jvm_launch_s, 3),
             "setup_samples_s": [round(s, 3) for s in setups],
             "pass_s": [round(w, 3) for w in passes[False]],
             "traced_pass_s": [round(w, 3) for w in passes[True]],
             "golden_mismatch": check["golden_mismatch"],
             "failed_share": check["errors"] / max(check["rows"], 1),
             "attempted": check["rows"] + wl.rows * (n_untraced
                                                     + len(passes[True])),
             "failed": check["errors"]}
    if not args.trace:
        return facts, {"docs_per_s": docs_per_s(passes[False]),
                       "setup_s": statistics.median(setups),
                       "peak_rss_mb": peak_mb}, problems

    n_traced = len(passes[True])
    tot = trace.layer_totals(totals)
    metrics = trace.layer_metrics(tot, n_traced, cores, sum(passes[True]))
    metrics.update(spark_metrics(stages, n_traced))
    metrics.update(checkpoint_metrics(checkpoint_passes))
    untraced, traced = docs_per_s(passes[False]), docs_per_s(passes[True])
    share = trace.self_sum_share(tot)
    metrics.update({"trace.docs_per_s_untraced": untraced,
                    "trace.docs_per_s_traced": traced,
                    "trace.overhead_share": 1.0 - traced / untraced})
    facts["self_sum_share"] = share
    if abs(share - 1.0) > 0.05:
        problems.append(f"layer self times sum to {share:.3f} of the "
                        "batch time")
    return facts, metrics, problems


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=0,
                   help="local[N] cores (default: nproc)")
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size multiplier (smoke test: small)")
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import tika_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the tika_spark package is missing ({e})",
              file=sys.stderr)
        return 2
    all_workloads = workloads(args.scale)
    if args.workload not in all_workloads:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(all_workloads)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    os.makedirs(f"{work}/tmp", exist_ok=True)
    # Spark, the JVM and the Python workers keep their files in `work`;
    # the workers import tika_spark and perfbench from ROOT
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in [os.environ.get("PYTHONPATH")] if x])
    try:
        host = host_facts()
        facts, metrics, problems = measure(
            args, all_workloads[args.workload], host, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    units = END_TO_END if not args.trace else per_layer_units()
    print(json.dumps({"host": host, **facts, "problems": problems}))
    print(json.dumps({
        "correct": not problems, "attempted": facts["attempted"],
        "failed": facts["failed"],
        "metrics": {k: {"value": float(metrics[k]), "unit": u}
                    for k, u in units.items()}}))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
