"""Headline benchmark: full extraction job + corpus pipeline ops.

Runs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] (default: every core of the host, with a driver
heap of a quarter of its memory) and prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec",
 "queries": {name: sec, ...}, "sf": <sf>, ...}

The extraction input is the deterministic synthetic pages table
(tika_spark.fixtures.pages — realistic variant mix incl. a giant-HTML
tail) at 4x the sf's documents row count, plus the mixed-format wrap of
the sf documents themselves; both are generated distributed (mapInPandas
over spark.range / column expressions), never on the driver.

Each query is forced with a noop-format write (full materialization of
every column, no driver collect).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyspark.sql.functions as F  # noqa: E402

from tools.check_oracles import host_size  # noqa: E402


def force(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def _probe() -> float:
    """Fixed single-thread CPU work (~50 ms idle). Wall time rises
    under co-tenant load, so recording it beside every query makes a
    noise-contaminated bench artifact self-diagnosing: the r02 driver
    bench recorded 5x walls that were pure host noise, and best-of-2
    could not defend against a spike outlasting both runs."""
    t0 = time.perf_counter()
    s = 0
    for i in range(1_000_000):
        s += i
    return round(time.perf_counter() - t0, 4)


def _probe_mt(spark, cpus: int) -> float:
    """Fixed all-cores Spark work (a cpus-partition codegen sum).
    The single-thread probe cannot see many-core contention — a
    co-tenant saturating most cores leaves 1-thread slots free while
    halving 32-way stage throughput — so this probes what the
    queries actually compete for.  Recorded once per query
    (~0.1-0.3 s idle)."""
    t0 = time.perf_counter()
    spark.range(256_000_000, numPartitions=cpus) \
        .selectExpr("sum(id)").collect()
    return round(time.perf_counter() - t0, 4)


def main():
    cores, heap_mb = host_size()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", cores))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0)

    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .appName("tika-spark-bench")
             .config("spark.sql.shuffle.partitions", str(cpus))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
             # byte-balanced fine-grained scan splits (see
             # tools/scaling_bench.py) — avoids giant-page stragglers
             .config("spark.sql.files.maxPartitionBytes", "1m")
             .config("spark.sql.files.openCostInBytes", "64k")
             .config("spark.driver.memory", f"{heap_mb}m")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    from __spark_entry__ import _pages_mixed
    from tika_spark.analysis import dedup, similarity, textstats
    from tika_spark.fixtures.pages import generate_pages_df
    from tika_spark.pipeline.job import extract, lineage_manifest

    # documents.parquet is a single small file → ONE scan partition;
    # without an explicit spread every docs-derived mapInPandas stage
    # (pixel/mp3/video decode) would run on one core and the bench
    # would measure partitioning, not the codecs (found via the r4
    # media_mp3_decode artifact: 35.9 s single-core vs ~2 s spread)
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .repartition(cpus).cache())
    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .repartition(cpus).cache())
    n_docs = docs.count()
    emb.count()

    n_pages = n_docs * 4
    pages = generate_pages_df(spark, n_pages).cache()
    pages.count()  # materialize input outside the timed region

    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    queries = {}
    cold = {}
    probes = {}
    probes_mt = {}
    _probe_mt(spark, cpus)      # warm the probe's codegen once
    t_all = time.perf_counter()

    def timed(name, thunk):
        # min-of-N (default 3) per query: the first run pays
        # codegen/JIT compile; the min is the steady-state cost — the
        # number that projects to a long-running 100 TB job, where
        # one-off compile time amortizes to zero. If the spread is
        # >3x (a co-tenant spike), one extra run is taken, and a CPU
        # noise probe brackets every query so a contaminated artifact
        # reads as noise, not as a code regression.
        probes[name] = [_probe()]
        runs = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            thunk()
            runs.append(time.perf_counter() - t0)
            time.sleep(0.2)  # let a transient spike decay between runs
        if max(runs) > 3 * min(runs):
            t0 = time.perf_counter()
            thunk()
            runs.append(time.perf_counter() - t0)
        probes[name].append(_probe())
        probes_mt[name] = _probe_mt(spark, cpus)
        cold[name] = round(runs[0], 3)
        queries[name] = round(min(runs), 3)

    timed("detect_census", lambda: force(
        extract(pages, mode="detect", repartition=cpus)))
    timed("extract_pages_text", lambda: force(
        extract(pages, mode="text", repartition=cpus)))
    timed("extract_pages_main", lambda: force(
        extract(pages, mode="text-main", repartition=cpus)))
    timed("extract_docs_mixed", lambda: force(
        extract(_pages_mixed(docs), mode="text", repartition=cpus)))
    timed("lineage_manifest", lambda: force(
        lineage_manifest(extract(pages, mode="text", repartition=cpus))))
    from tika_spark.pipeline.corpus import build_corpus
    timed("corpus_build", lambda: force(
        build_corpus(pages)))
    # the extraction block is done with the page bytes — release the
    # cached binary table so the dedup/ANN block isn't timed under its
    # storage-memory pressure (a real pipeline runs these as separate
    # jobs; keeping GBs of page bytes cached during dedup is an
    # artifact of the single-session bench, not the workload)
    pages.unpersist(blocking=True)
    # take the major-GC hit from the extraction block's Arrow churn
    # here, between blocks, instead of mid-way through a timed dedup
    # stage (the JVM-heavy shuffle queries are the ones a GC storm
    # stalls; the Python-heavy extraction queries are insensitive)
    spark._jvm.System.gc()
    timed("quality_fingerprint", lambda: force(
        textstats.fingerprint(textstats.quality_features(docs))))
    timed("word_topk_by_lang", lambda: force(
        textstats.word_topk(docs, k=10, by="lang")))
    timed("dedup_exact", lambda: force(dedup.exact_dedup(docs)))
    timed("dedup_minhash_lsh", lambda: force(
        dedup.minhash_lsh_pairs(docs, threshold=0.12)))
    timed("dedup_simhash", lambda: force(
        dedup.simhash_pairs(docs, max_hamming=3)))
    timed("docs_remove_dup_spans", lambda: force(
        dedup.substring_dup_spans(docs, k=8)))
    timed("ann_topk", lambda: force(similarity.brute_force_topk(
        emb, emb.filter(F.col("vec_id") < 20), k=10)))
    timed("ann_lsh_topk", lambda: force(similarity.lsh_topk(
        emb, emb.filter(F.col("vec_id") < 20), dim=64, k=10)))
    # IVF-PQ composite: the index (one IVF KMeans + m PQ subspace
    # fits) is a build-once artifact amortized across query batches,
    # so it is trained and persisted OUTSIDE the timed region — the
    # timed path is probe → ADC shortlist → exact re-rank, the
    # latency every query batch actually pays. (Training here costs
    # ~30 s of MLlib overhead at any SF; folding it in would measure
    # index build, not the operator.)
    ivf_idx = similarity.ivf_index(emb, nlist=16)
    pq_idx = similarity.pq_index(emb, m=8, ks=16)
    ivf_idx[0].persist().count()
    pq_idx[0].persist().count()
    timed("ann_ivfpq", lambda: force(similarity.ivfpq_topk(
        emb, emb.filter(F.col("vec_id") < 20), k=10, nlist=16,
        nprobe=4, m=8, ks=16, index=(ivf_idx, pq_idx))))
    ivf_idx[0].unpersist()
    pq_idx[0].unpersist()

    # hybrid retrieval (r4): BM25 scan + Arrow-matmul dense top-k
    # fused by integer-nano RRF over the two bounded lists
    from tika_spark.analysis.retrieval import hybrid_topk
    timed("hybrid_search_rrf", lambda: force(hybrid_topk(
        docs, emb, "hash join spark", query_vec_id=3, k=20,
        depth=50)))

    # unigram-LM tokenizer training (r4): EM forward-backward over
    # the aggregated word vocabulary + pruning rounds to 48 pieces
    from tika_spark.analysis.unigram import unigram_train
    timed("unigram_train", lambda: force(unigram_train(
        docs, vocab_size=48, n_iters=1, seed_top=120,
        max_piece_len=3)))

    # multimodal full decode: real PNG/GIF/JPEG/TIFF pixel work
    # (payload generation is materialized outside the timed region)
    from __spark_entry__ import _png_pixels_wrap_udf
    from tika_spark.analysis.pixels import image_pixel_stats
    wrap = _png_pixels_wrap_udf()
    media = docs.select(
        F.col("doc_id").alias("id"),
        wrap(F.col("doc_id")).alias("payload"),
        F.when(F.pmod("doc_id", F.lit(4)) == 0, F.lit("image/png"))
        .when(F.pmod("doc_id", F.lit(4)) == 1, F.lit("image/gif"))
        .when(F.pmod("doc_id", F.lit(4)) == 2, F.lit("image/jpeg"))
        .otherwise(F.lit("image/tiff")).alias("media_type")).cache()
    media.count()
    timed("media_pixel_decode", lambda: force(image_pixel_stats(media)))
    media.unpersist()

    # WebP lossless decode (new r4 final wave): 32x24 five-wire-path
    # VP8L fixtures (literals/palette/subtract-green/predictor/cache)
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BinaryType

    @pandas_udf(BinaryType())
    def webpwrap(ids):
        import numpy as _np
        import pandas as _pd

        from tika_spark.analysis.webp import webp_bytes
        out = []
        for i in ids:
            i = int(i)
            rng = _np.random.RandomState(i % 1000)
            img = rng.randint(0, 256, (24, 32, 4), dtype=_np.uint8)
            v = i % 5
            if v == 1:
                img = img[:, :, :1].repeat(4, axis=2)    # few colors
                img[:, :, 3] = 255
                img = (img // 64) * 64
                out.append(webp_bytes(img, palette=True))
            elif v == 2:
                out.append(webp_bytes(img, subtract_green=True))
            elif v == 3:
                out.append(webp_bytes(img, predictor=i % 14))
            elif v == 4:
                out.append(webp_bytes(img, cache_bits=6))
            else:
                out.append(webp_bytes(img))
        return _pd.Series(out)

    webps = docs.select(
        F.col("doc_id").alias("id"),
        webpwrap(F.col("doc_id")).alias("payload"),
        F.lit("image/webp").alias("media_type")).cache()
    webps.count()
    timed("media_webp_decode", lambda: force(image_pixel_stats(webps)))
    webps.unpersist()

    # WebP lossy decode (VP8 keyframe codec): 32x32 four-MB frames
    # cycling mode plans, quantizers, and the deblocking filter
    @pandas_udf(BinaryType())
    def vp8wrap(ids):
        import numpy as _np
        import pandas as _pd

        from tika_spark.analysis.vp8 import webp_lossy_from_rgb
        out = []
        for i in ids:
            i = int(i)
            rng = _np.random.RandomState(i % 1000)
            img = rng.randint(0, 256, (32, 32, 3), dtype=_np.uint8)
            raw, _ = webp_lossy_from_rgb(
                img, qindex=(i * 13) % 128,
                plan=("dc", "rotate", "bpred")[i % 3],
                filter_level=(i * 7) % 64)
            out.append(raw)
        return _pd.Series(out)

    vp8s = docs.select(
        F.col("doc_id").alias("id"),
        vp8wrap(F.col("doc_id")).alias("payload"),
        F.lit("image/webp").alias("media_type")).cache()
    vp8s.count()
    timed("media_webp_lossy_decode",
          lambda: force(image_pixel_stats(vp8s)))
    vp8s.unpersist()

    # audio full decode: from-scratch MP3 Layer III (header/side
    # info/Huffman/requantize/IMDCT/synthesis per row; new r4)
    from tika_spark.analysis.pcm import audio_pcm_stats

    from pyspark.sql.functions import pandas_udf as _pudf
    from pyspark.sql.types import BinaryType as _Bin

    @_pudf(_Bin())
    def mp3wrap(ids):
        import numpy as _np
        import pandas as _pd

        from tika_spark.analysis.mp3codec import mp3_bytes
        out = []
        z = _np.zeros(576, dtype=_np.int64)
        for i in ids:
            i = int(i)
            nch = 1 + i % 2
            frame = [[z] * nch, [z] * nch]
            out.append(mp3_bytes([frame] * (1 + i % 4),
                                 mode="mono" if nch == 1 else "stereo",
                                 count1_zeros=16 + i % 5,
                                 scalefac_compress=5 + i % 11,
                                 scalefactors=[1] * 21))
        return _pd.Series(out)

    audio = docs.select(F.col("doc_id").alias("id"),
                        mp3wrap(F.col("doc_id")).alias("payload"),
                        F.lit("audio/mpeg").alias("media_type")).cache()
    audio.count()
    timed("media_mp3_decode", lambda: force(audio_pcm_stats(audio)))
    audio.unpersist()

    # video frame sampling: MJPEG-AVI demux + JPEG decode / animated
    # GIF compositing, one row per sampled frame
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BinaryType

    from tika_spark.analysis.video import sample_frame_stats, video_fixture

    @pandas_udf(BinaryType())
    def vwrap(ids):
        import pandas as _pd
        return _pd.Series([video_fixture(int(i)) for i in ids])

    videos = docs.select(F.col("doc_id").alias("id"),
                         vwrap(F.col("doc_id")).alias("payload")).cache()
    videos.count()
    timed("media_video_frames", lambda: force(
        sample_frame_stats(videos, every=2)))
    videos.unpersist()

    # container-demux tier (new r4): transport stream → CRC-checked
    # PAT/PMT → PES reassembly → MPEG-2 I/P/B decode + display
    # reorder, one row per frame
    from tika_spark.analysis.mpegts import mpegts_fixture

    @pandas_udf(BinaryType())
    def tswrap(ids):
        import pandas as _pd
        return _pd.Series([mpegts_fixture(int(i)) for i in ids])

    ts = docs.select(F.col("doc_id").alias("id"),
                     tswrap(F.col("doc_id")).alias("payload")).cache()
    ts.count()
    timed("media_ts_mpeg2_decode", lambda: force(
        sample_frame_stats(ts, every=1)))
    ts.unpersist()

    # H.264/AVC tier (new r4): MP4 avc1 demux (avcC + length-prefixed
    # NALs) → CAVLC intra keyframe + motion-compensated P slices
    # (skip runs, quarter-pel-capable MC), one row per frame
    @pandas_udf(BinaryType())
    def avcwrap(ids):
        import pandas as _pd

        from tika_spark.analysis.isobmff import video_h264p_fixture
        return _pd.Series([video_h264p_fixture(int(i)) for i in ids])

    avc = docs.select(F.col("doc_id").alias("id"),
                      avcwrap(F.col("doc_id")).alias("payload")) \
        .cache()
    avc.count()
    timed("media_mp4_h264_decode", lambda: force(
        sample_frame_stats(avc, every=1)))
    avc.unpersist()

    # dictionary-compressed .warc.zst ingest (new r4 overtime): the
    # IIPC layout — shared zstd dictionary in the leading skippable
    # frame, every member naming its Dictionary_ID — walked by frame
    # arithmetic and decoded by the from-scratch codec. Blobs are
    # built outside the timed region; the timed path is
    # dict-parse + member decode + WARC/HTTP split per row.
    @pandas_udf(BinaryType())
    def zstwrap(ids):
        import pandas as _pd

        from tika_spark.fixtures.warcgen import warc_zst_dict
        out = []
        for i in ids:
            i = int(i)
            recs = [(f"doc://{i}/{k}", "2026-01-17T08:30:00Z",
                     (b"<html><body><p>page %d-%d </p>" % (i, k)
                      + b"<p>crawl body text</p>" * 12
                      + b"</body></html>")) for k in range(8)]
            out.append(warc_zst_dict(recs))
        return _pd.Series(out)

    zst = docs.select(F.col("doc_id").alias("id"),
                      zstwrap(F.col("doc_id")).alias("blob")).cache()
    zst.count()

    def zst_parse():
        import io as _io

        import pandas as _pd

        from tika_spark.sources.warc import warc_pages_from

        def run(batches):
            for pdf in batches:
                rows = [(p["url"], len(p["html"] or b""))
                        for b in pdf["blob"]
                        for p in warc_pages_from(
                            _io.BytesIO(bytes(b)).read, zst=True)
                        if p["status"] == "ok"]
                yield _pd.DataFrame(rows, columns=["url", "n"])
        force(zst.mapInPandas(run, "url string, n long"))

    timed("warc_zst_dict_ingest", zst_parse)
    zst.unpersist()

    # VP8 inter-frame decode (new r4 overtime): WebM streams of one
    # keyframe + three motion-compensated P-frames each (near-MV
    # survey, NEWMV residuals, six-tap MC), one row per frame
    @pandas_udf(BinaryType())
    def vp8pwrap(ids):
        import numpy as _np
        import pandas as _pd

        from tika_spark.analysis.ebml import mkv_wrap_video
        from tika_spark.analysis.vp8 import encode_vp8_yuv
        from tika_spark.analysis.vp8inter import (VP8Decoder,
                                                  encode_vp8_inter_yuv)
        out = []
        for i in ids:
            i = int(i)
            rng = _np.random.RandomState(i % 1000)
            y = rng.randint(0, 256, (32, 32)).astype(_np.int32)
            u = rng.randint(0, 256, (16, 16)).astype(_np.int32)
            v = rng.randint(0, 256, (16, 16)).astype(_np.int32)
            kf, _ = encode_vp8_yuv(y, u, v, qindex=(i * 11) % 96,
                                   plan="dc")
            d = VP8Decoder()
            d.decode_yuv(kf)
            frames = [kf]
            for mv in ((16, 0), (2, -6), (0, 16)):
                src = _np.roll(d.last[0], (mv[0] // 8, mv[1] // 8),
                               axis=(0, 1))[:32, :32]
                p, _ = encode_vp8_inter_yuv(
                    d.last, src, d.last[1][:16, :16],
                    d.last[2][:16, :16], mv=mv, qindex=(i * 7) % 64)
                d.decode_yuv(p)
                frames.append(p)
            out.append(mkv_wrap_video(frames, 32, 32))
        return _pd.Series(out)

    vp8p = docs.select(F.col("doc_id").alias("id"),
                       vp8pwrap(F.col("doc_id")).alias("payload")) \
        .cache()
    vp8p.count()
    timed("media_vp8_inter_decode", lambda: force(
        sample_frame_stats(vp8p, every=1)))
    vp8p.unpersist()

    elapsed = round(time.perf_counter() - t_all, 3)
    total = round(sum(queries.values()), 3)
    extract_sec = queries["extract_pages_text"]
    print(json.dumps({
        # headline = steady-state pipeline wall (sum of per-query
        # best-of-2); elapsed_sec is the full two-execution elapsed
        # and cold_queries the first-execution times, so both regimes
        # are visible (BENCH/BASELINE.md documents the change — the
        # r01 value was single-shot)
        "metric": "extract+corpus pipeline wall (steady-state)",
        "value": total, "unit": "sec", "queries": queries, "sf": sf,
        "cpus": cpus, "n_pages": n_pages, "n_docs": n_docs,
        "elapsed_sec": elapsed, "cold_queries": cold,
        "bench_repeats": repeats,
        # per-query [before, after] wall of a fixed ~50 ms CPU probe:
        # values well above idle mean the query numbers were taken
        # under co-tenant load (see BENCH/BASELINE.md)
        "noise_probe": probes,
        # per-query wall of a fixed cpus-partition Spark sum: the
        # all-cores contention signal the 1-thread probe cannot see
        "noise_probe_mt": probes_mt,
        "extract_docs_per_sec": round(n_pages / extract_sec, 1),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
