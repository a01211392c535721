"""Cluster job entrypoint: multimodal media curation over a binary table.

The media pass a training pipeline runs over opaque image/audio/video
columns:

    sniff (container metadata inventory, no decode)
      → decode stats, each modality routed by its decoders' own format
        table (AVI, MJPEG-in-MP4 and animated GIF → per-frame stats;
        WAV/FLAC → sample stats; images → 64-bit difference hash
        through the raster decoders; GIFs take BOTH routes — first-frame
        dhash and per-frame animation signatures)
      → near-dup pairs per modality (multiset-Jaccard over
        audio/video fingerprints; banded Hamming join over image
        difference hashes)
      → parquet outputs + one JSON summary line

Submit:

    scripts/make_pyfiles.sh
    spark-submit --master <cluster> \
      --py-files dist/documentconvert_spark.zip \
      jobs/run_media.py \
      --input <parquet with doc_id string, content binary> \
      --output <dir> [--jaccard-num 3 --jaccard-den 5] [--files 16]

Scale shape: sniff and decode are narrow Arrow-batched passes over the
scan (bytes never shuffle); only per-chunk/per-frame fingerprints reach
the pairwise joins. Undecodable blobs are contained as error rows /
dropped from dedup, never fail the stage.
"""

from __future__ import annotations

import argparse
import json
import sys

import _bootstrap  # noqa: F401  (self-sufficient launch; see jobs/_bootstrap.py)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--jaccard-num", type=int, default=3)
    ap.add_argument("--jaccard-den", type=int, default=5)
    ap.add_argument("--files", type=int, default=16)
    ap.add_argument("--master", default=None, help="override master (local testing)")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from documentconvert_spark.kernels import media as av, raster
    from documentconvert_spark.ops.multimodal import (
        audio_fingerprint_table,
        dhash_hamming_pairs,
        image_dhash_table,
        multiset_jaccard_pairs,
        real_audio_stats,
        real_video_frame_stats,
        sniff_media_meta,
    )
    from documentconvert_spark.session import build_session
    from documentconvert_spark.tableio import read_table

    spark = build_session(app_name="media", master=args.master)
    media = read_table(spark, args.input).select("doc_id", "content")
    n_in = media.count()

    # 1) sniff inventory — header-level only, no decode
    inv = sniff_media_meta(media).drop("byte_len").cache()
    inv.coalesce(args.files).write.mode("overwrite").parquet(args.output + "/inventory")
    by_fmt = {r["format"]: r["n"] for r in
              inv.groupBy("format").agg(F.count("*").alias("n")).collect()}

    # 2) decode stats per modality — route on the sniffed format by the
    # decoder tables, so the decoders see only bytes they own; errors stay per-row
    video_ids = inv.filter(F.col("format").isin(*av.VIDEO_DECODERS)).select("doc_id")
    audio_ids = inv.filter(F.col("format").isin(*av.AUDIO_DECODERS)).select("doc_id")
    videos = media.join(F.broadcast(video_ids), "doc_id")
    audios = media.join(F.broadcast(audio_ids), "doc_id")

    vstats = real_video_frame_stats(videos).cache()
    vstats.coalesce(args.files).write.mode("overwrite").parquet(args.output + "/video_frames")
    n_frames = vstats.filter(F.col("error").isNull()).count()
    astats = real_audio_stats(audios).cache()
    astats.coalesce(args.files).write.mode("overwrite").parquet(args.output + "/audio_stats")
    n_audio_ok = astats.filter(F.col("error").isNull()).count()

    # 3) near-dup pairs per modality
    vsig = (vstats.filter(F.col("error").isNull())
            .select("doc_id",
                    F.concat_ws(":", "width", "height", "n_dark").alias("sig"),
                    "frame_idx"))
    vpairs = multiset_jaccard_pairs(vsig, "sig", "frame_idx",
                                    args.jaccard_num, args.jaccard_den)
    apairs = multiset_jaccard_pairs(audio_fingerprint_table(audios),
                                    "fp", "chunk_idx",
                                    args.jaccard_num, args.jaccard_den)
    vpairs.coalesce(1).write.mode("overwrite").parquet(args.output + "/video_pairs")
    apairs.coalesce(1).write.mode("overwrite").parquet(args.output + "/audio_pairs")
    n_vpairs = spark.read.parquet(args.output + "/video_pairs").count()
    n_apairs = spark.read.parquet(args.output + "/audio_pairs").count()

    # 4) image modality: decode + difference hash, banded Hamming pairs
    image_ids = inv.filter(F.col("format").isin(*raster.DECODERS)).select("doc_id")
    images = media.join(F.broadcast(image_ids), "doc_id")
    ihash = image_dhash_table(images).cache()
    ihash.coalesce(args.files).write.mode("overwrite").parquet(args.output + "/image_dhash")
    n_images = ihash.count()
    ipairs = dhash_hamming_pairs(ihash)
    ipairs.coalesce(1).write.mode("overwrite").parquet(args.output + "/image_pairs")
    n_ipairs = spark.read.parquet(args.output + "/image_pairs").count()

    print(json.dumps({
        "docs_in": n_in,
        "by_format": by_fmt,
        "video_frames_decoded": n_frames,
        "audio_decoded": n_audio_ok,
        "images_hashed": n_images,
        "video_dup_pairs": n_vpairs,
        "audio_dup_pairs": n_apairs,
        "image_dup_pairs": n_ipairs,
        "output": args.output,
    }))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
