#!/usr/bin/env python
"""Multimodal dataset-curation pipeline — the image/audio/video/embedding
counterpart of examples/corpus_pipeline.py, composed from the engine's
multimodal codecs (all pure numpy/stdlib — no imaging/codec libraries)
and its dedup/hygiene operators. Runs standalone on the sf0.001 fixtures
in ~1 min:

    python examples/multimodal_curation.py [sf_dir]

Stages (each prints one line; executed by tests/test_examples.py so it
cannot rot):

1. image decode     — fixture bytes framed as PPM, decoded distributed
2. image dedup      — 64-bit pHash (luma→DCT→median) + banded hamming join
3. audio features   — bytes wrapped as RIFF/WAVE PCM, rms/zcr per clip
4. video sampling   — MJPEG-in-AVI synth, container-aware frame decode
5. embedding dedup  — SemDeDup k-means cells + cosine + CC representatives
6. decontamination  — word-trigram overlap vs a held-out benchmark split
7. curated verdict  — one keep/drop frame joining every signal

At 100 TB each stage stays shuffle-partitionable exactly as written:
payloads ride Arrow batches inside executors (never collected), every
candidate-pair step is an equi-join on a hash key (pHash bands, k-means
cells, shingle strings), and the final verdict is a key-partitioned join
of per-modality frames.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(sf_dir: str = "/root/testdata/sf0.001") -> None:
    t_start = time.time()

    def log(msg: str) -> None:
        print(f"[{time.time()-t_start:6.1f}s] {msg}", flush=True)

    import pyspark.sql.functions as F

    from torcdb_spark import get_spark
    from torcdb_spark.functions.payload import payload_rows, synth_udf
    from torcdb_spark.operators.multimodal import (
        decode_and_featurize,
        audio_features,
        encode_wav_pcm,
        phash_near_dup_pairs,
    )
    from torcdb_spark.operators.similarity import semantic_dedup
    from torcdb_spark.operators.text import benchmark_overlap

    spark = get_spark(app_name="multimodal-curation")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    # -- 1. images: frame each document's bytes as a 16×8 P6 PPM ---------
    w, h = 16, 8
    header = F.encode(F.lit(f"P6\n{w} {h}\n255\n"), "utf-8")
    body = F.encode(F.rpad(F.col("text"), w * h * 3, " "), "utf-8")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.concat(header, body).alias("payload"),
        F.lit("image/x-portable-pixmap").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("n_frames"),
    )
    feats = decode_and_featurize(media)
    n_ok = feats.where(F.col("decode_err").isNull()).count()
    log(f"images decoded: {n_ok}")

    # -- 1b. mixed-format ingest: the SAME pixels through every codec ----
    # (what a real crawl delivers: one logical image arriving as PNG on
    # one site, WebP on another, TIFF from a scanner, lossless JPEG from
    # a medical archive — decode_image dispatches on magic bytes and the
    # downstream pipeline never branches on format)
    def reencode(payload):
        import numpy as np

        from torcdb_spark.operators.jpeg import encode_jpeg_lossless
        from torcdb_spark.operators.multimodal import (
            decode_image,
            encode_png,
            encode_tiff_rgb,
        )
        from torcdb_spark.operators.webp import encode_webp_lossless

        src = decode_image(payload)
        encoded = (
            encode_png(src.astype(np.uint16) * 257, filter_type=1),
            encode_webp_lossless(src, use_subtract_green=True, cache_bits=4),
            encode_tiff_rgb(src, compression=5, predictor=2),
            encode_jpeg_lossless(src, predictor=4),
        )
        return {"formats_exact": sum(
            int(np.array_equal(decode_image(p), src)) for p in encoded
        )}

    fmt_ok = (
        payload_rows(media.limit(64).select("media_id", "payload"), reencode,
                     "media_id long, formats_exact long")
        .agg(F.sum("formats_exact"))
        .collect()[0][0]
    )
    log(f"mixed-format re-encode/decode exact: {fmt_ok}/256 "
        "(16-bit PNG, lossless WebP, LZW TIFF, lossless JPEG)")

    # -- 2. image near-dup census via pHash ------------------------------
    pairs = phash_near_dup_pairs(media, max_hamming=3, bands=4)
    dup_images = pairs.select("id_a").union(pairs.select("id_b")).distinct().count()
    log(f"images in near-dup pairs: {dup_images}")

    # -- 3. audio: wrap bytes as 8-bit PCM WAV, real RIFF parse ----------
    wav = docs.select(
        F.col("doc_id").alias("media_id"),
        synth_udf(encode_wav_pcm)(F.encode("text", "utf-8")).alias("payload"),
    )
    au = audio_features(wav)
    log(f"audio clips with rms: {au.where(F.col('rms').isNotNull()).count()}")

    # -- 4. video: 4-frame MJPEG/AVI per doc, sample every 2nd frame -----
    from torcdb_spark.operators.multimodal import (
        encode_avi_mjpeg,
        video_frame_features,
    )

    def video(d):
        import numpy as np

        yy, xx = np.mgrid[0:16, 0:16]
        frames = [
            np.clip(np.round(np.stack([
                128 + 100 * np.sin((xx + d + 3 * fi) / 5.0),
                128 + 80 * np.cos((yy + fi) / 4.0),
                128 + 60 * np.sin((xx + yy + d) / 7.0),
            ], axis=-1)), 0, 255).astype(np.uint8)
            for fi in range(4)
        ]
        return encode_avi_mjpeg(frames)

    videos = docs.limit(50).select(
        F.col("doc_id").alias("media_id"),
        synth_udf(video)(F.col("doc_id")).alias("payload"),
    )
    vf = video_frame_features(videos, every_n=2)
    log(f"video frames sampled: {vf.where(F.col('decode_err').isNull()).count()}")

    # -- 5. embedding-space dedup (SemDeDup) -----------------------------
    sem = semantic_dedup(emb, threshold=0.95, num_cells=8, kmeans_iters=1)
    log(f"embeddings kept after semantic dedup: {sem.where('kept').count()}")

    # -- 6. decontamination vs a held-out benchmark split ----------------
    contam = benchmark_overlap(
        docs.where("doc_id % 29 <> 0"), docs.where("doc_id % 29 = 0"), n=3
    )
    flagged = contam.where(F.col("contamination") >= 0.2).count()
    log(f"documents flagged contaminated: {flagged}")

    # -- 7. curated verdict: join every per-modality signal --------------
    dup_ids = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .union(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
        .withColumn("_img_dup", F.lit(True))
    )
    verdict = (
        docs.select("doc_id")
        .join(dup_ids, "doc_id", "left")
        .join(
            contam.select("doc_id", "contamination"), "doc_id", "left"
        )
        .select(
            "doc_id",
            (
                F.coalesce(F.col("_img_dup"), F.lit(False))
                | (F.coalesce(F.col("contamination"), F.lit(0.0)) >= 0.2)
            ).alias("drop"),
        )
    )
    kept = verdict.where(~F.col("drop")).count()
    log(f"curated corpus size: {kept} / {docs.count()}")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001")
