"""Two-parallelism scaling run (sandbox proxy for N vs 4N executors).

Generates the seeded synthetic pages table once to parquet, then runs
the identical full extraction job (detect → parse → block-classify →
emit, mode text-main) at local[N] and local[4N], one JVM at a time.

    python tools/scaling_bench.py [n_pages] [N]

N defaults to a quarter of the host's cores (at least 1); the driver
heap is a quarter of the host's memory.

Prints one JSON line: throughput at each level + efficiency
(T_N/T_4N)/4; the driver-facing writeup lands in BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check_oracles import host_size  # noqa: E402


def session(cpus: int):
    from pyspark.sql import SparkSession
    return (SparkSession.builder.master(f"local[{cpus}]")
            .appName(f"scaling-{cpus}")
            .config("spark.sql.shuffle.partitions", str(cpus))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
            # scan granularity: byte-balanced splits ≥3-4× cores so the
            # giant-page tail can't serialize one straggler task (the
            # local-mode analog of sizing Iceberg split size vs executor
            # count; default 128m bin-packing left 10× byte skew)
            .config("spark.sql.files.maxPartitionBytes", "1m")
            .config("spark.sql.files.openCostInBytes", "64k")
            .config("spark.driver.memory", f"{host_size()[1]}m")
            .config("spark.ui.enabled", "false")
            .getOrCreate())


def run_level(cpus: int, input_path: str, mode: str, repeats: int) -> dict:
    from tika_spark.pipeline.job import extract
    spark = session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    pages = spark.read.parquet(input_path)
    n = pages.count()
    # input is pre-bucketed at write time (the Iceberg layout), so the
    # job is scan → mapInPandas → sink with ZERO exchanges:
    # repartition=0 skips the skew shuffle.
    # one warmup (JVM/codegen/python-worker spinup), then timed runs
    extract(pages, mode=mode, repartition=0).write \
        .format("noop").mode("overwrite").save()
    walls = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        extract(pages, mode=mode, repartition=0).write \
            .format("noop").mode("overwrite").save()
        walls.append(time.perf_counter() - t0)
    spark.stop()
    best = min(walls)
    return {"cpus": cpus, "n_pages": n, "wall_sec": [round(w, 2)
            for w in walls], "best_sec": round(best, 2),
            "docs_per_sec": round(n / best, 1)}


def _burn(n: int) -> int:
    s = 0
    for i in range(n):
        s += i * i
    return s


def platform_control(base: int, work: int = 12_000_000) -> float:
    """Pure-CPU multiprocessing control: the efficiency the HOST
    itself delivers going base → 4·base processes (embarrassingly
    parallel, zero coordination).  On this sandbox the hypervisor's
    vCPU delivery is time-varying — measured controls swing
    0.7-0.95 within minutes — so the job's ratio is only meaningful
    against the control captured at the same instant."""
    import multiprocessing as mp

    def run(procs):
        t0 = time.perf_counter()
        with mp.Pool(procs) as p:
            p.map(_burn, [work] * procs * 3)
        return time.perf_counter() - t0

    w_lo = run(base)
    w_hi = run(base * 4)
    return round(w_lo / w_hi, 3)


def main_interleaved(n_pages: int, base: int, mode: str,
                     input_path: str, rounds: int) -> None:
    """Paired protocol for bursty co-tenant hosts: alternate
    low/high phases (L H L H …) and compute efficiency per
    adjacent-in-time pair, so a load wave that spans one phase
    cannot masquerade as a scaling deficit (or a win).  Each pair
    is bracketed by a pure-CPU platform control; the adjusted
    efficiency (pair / control) isolates the JOB's scaling from
    the hypervisor's time-varying vCPU delivery.  Reports every
    pair plus the median and best; the all-low-then-all-high
    protocol remains available with SCALING_PROTOCOL=phased."""
    pairs = []
    controls = []
    adjusted = []
    lows, highs = [], []
    rejected = []          # rough-window attempts (ledgered, unused)
    # Load gate (VERDICT r4 task 8): a pair is RECORDED only when the
    # pure-CPU platform control is in band both BEFORE and AFTER the
    # measurement — a co-tenant load wave inside the window discards
    # the pair instead of polluting the ledger.  Out-of-band attempts
    # retry after a backoff, up to SCALING_MAX_TRIES per round.
    gate = float(os.environ.get("SCALING_GATE", "0.85"))
    max_tries = int(os.environ.get("SCALING_MAX_TRIES", "6"))
    backoff = float(os.environ.get("SCALING_BACKOFF", "30"))
    for _ in range(rounds):
        for attempt in range(max_tries):
            ctl = platform_control(base)
            if ctl < gate:
                rejected.append({"control": ctl, "phase": "pre"})
                time.sleep(backoff)
                continue
            lo = run_level(base, input_path, mode, repeats=2)
            hi = run_level(base * 4, input_path, mode, repeats=2)
            post = platform_control(base)
            if post < gate:
                rejected.append({"control": ctl, "post": post,
                                 "phase": "post",
                                 "eff_discarded": round(
                                     (lo["best_sec"]
                                      / hi["best_sec"]) / 4, 3)})
                time.sleep(backoff)
                continue
            lows.append(lo)
            highs.append(hi)
            eff = round((lo["best_sec"] / hi["best_sec"]) / 4, 3)
            pairs.append(eff)
            controls.append(round(min(ctl, post), 3))
            adjusted.append(round(min(1.0, eff / min(ctl, post)), 3))
            break
    if not pairs:
        print(json.dumps({"mode": mode,
                          "protocol": "interleaved-pairs-gated",
                          "error": "no calm window found",
                          "gate": gate, "rejected": rejected}))
        return
    spairs = sorted(pairs)
    median = spairs[len(spairs) // 2] if len(spairs) % 2 \
        else round((spairs[len(spairs) // 2 - 1]
                    + spairs[len(spairs) // 2]) / 2, 3)
    best_i = max(range(len(pairs)), key=lambda i: pairs[i])
    print(json.dumps({
        "mode": mode, "protocol": "interleaved-pairs-gated",
        "n_pages": n_pages, "cpus": [base, base * 4],
        "gate": gate,
        "pair_efficiencies": pairs,
        "platform_controls": controls,
        "adjusted_efficiencies": adjusted,
        "median_efficiency": median,
        "best_pair_efficiency": pairs[best_i],
        "best_adjusted_efficiency": max(adjusted),
        "rejected_windows": rejected,
        "best_pair": {"low": lows[best_i], "high": highs[best_i]},
    }))


def main():
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 100000
    cores = host_size()[0]
    base = int(sys.argv[2]) if len(sys.argv) > 2 else max(1, cores // 4)
    mode = os.environ.get("SCALING_MODE", "text-main")
    input_path = f"/tmp/scaling_pages_bucketed_{n_pages}"

    if not os.path.isdir(input_path):
        spark = session(cores)
        spark.sparkContext.setLogLevel("ERROR")
        import pyspark.sql.functions as F
        from tika_spark.fixtures.pages import generate_pages_df
        from tika_spark.pipeline.job import with_size_bucket
        tmp = input_path + ".tmp"
        # write pre-bucketed: (size_bucket, crc32(url)) spread so every
        # file holds a size-homogeneous, giant-free-or-giant-only slice
        # — the layout an Iceberg crawl table would use (SURVEY §4 O9)
        bucketed = with_size_bucket(generate_pages_df(spark, n_pages))
        (bucketed
         .repartition(128, F.col("size_bucket"), F.crc32("url"))
         .sortWithinPartitions("size_bucket")
         .drop("size_bucket")
         .write.mode("overwrite").parquet(tmp))
        shutil.move(tmp, input_path)
        spark.stop()

    if os.environ.get("SCALING_PROTOCOL", "interleaved") == "phased":
        lo = run_level(base, input_path, mode, repeats=4)
        hi = run_level(base * 4, input_path, mode, repeats=4)
        eff = (lo["best_sec"] / hi["best_sec"]) / 4
        print(json.dumps({"mode": mode, "low": lo, "high": hi,
                          "scaling_efficiency": round(eff, 3)}))
    else:
        main_interleaved(n_pages, base, mode, input_path,
                         rounds=int(os.environ.get(
                             "SCALING_ROUNDS", "3")))


if __name__ == "__main__":
    main()
