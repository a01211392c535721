"""Throughput bench for the real-codec media surface.

Generates a deterministic in-memory corpus of real AVI (MJPG + DIB),
FLAC and WAV documents, then times the three decode operators end-to-end
(decode happens inside the ops' shared Arrow-batched mapInArrow loop, so
wall time measures the from-scratch kernels under Spark's scan
parallelism):

    real_video_frame_stats   AVI → per-frame dark stats
    real_audio_stats         WAV/FLAC → exact sample stats
    image_dhash_table        PNG/BMP/TIFF/WebP/GIF/progressive-JPEG →
                             decode + 64-bit difference hash

Usage:
    python scripts/bench_media.py [n_docs] [cpus_list]

e.g. `python scripts/bench_media.py 6000 2,8` generates the corpus once
and times both parallelism levels (one JSON line per level) — the
N-vs-4N scaling pair over identical input. BENCH.md records the pairs.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _corpus(n: int):
    """n video + n audio docs, deterministic; realistic small-media sizes
    (videos ~6-10 frames of 64x48, audio ~20-40k samples)."""
    from documentconvert_spark.corpus import (
        encode_flac,
        render_avi,
        render_mp4_mjpeg,
    )
    from documentconvert_spark.queries_extraction import _wav_pcm_bytes

    rng = random.Random("bench-media:1")
    videos, audios = [], []
    for i in range(n):
        w, h = 64, 48
        nf = rng.randrange(6, 11)
        grids = []
        for f in range(nf):
            g = [bytearray([255] * w) for _ in range(h)]
            bw, bh = rng.randrange(4, 14), rng.randrange(4, 12)
            x, y = rng.randrange(w - bw), rng.randrange(h - bh)
            for yy in range(y, y + bh):
                for xx in range(x, x + bw):
                    g[yy][xx] = 0
            grids.append(g)
        # container mix: MJPG-AVI / DIB-AVI / MJPEG-MP4 — all three real
        # video decode paths share the per-frame stats surface
        if i % 3 == 2:
            videos.append((f"v-{i:05d}", render_mp4_mjpeg(w, h, grids, fps=10)))
        else:
            codec = "MJPG" if i % 3 == 0 else "DIB "
            videos.append((f"v-{i:05d}", render_avi(w, h, grids, fps=10, codec=codec)))

        ns = rng.randrange(20_000, 40_000)
        base = rng.randrange(-4000, 4000)
        step = rng.choice((-5, 3, 7))
        mono = [max(-30000, min(30000, base + step * (j % 997))) for j in range(ns)]
        if i % 2 == 0:
            audios.append((f"a-{i:05d}", _wav_pcm_bytes(22050, [mono], 16)))
        else:
            audios.append((f"a-{i:05d}",
                           encode_flac(22050, [mono], blocksize=4096, mode="fixed1")))
    return videos, audios


def _image_corpus(n: int):
    """n images cycling through every decodable format (format mix ≈ a
    real web corpus: the same gradient-scene content class per doc)."""
    from documentconvert_spark.corpus import (
        encode_gray_bmp,
        encode_gray_jpeg_progressive,
        encode_gray_png,
        encode_vp8l,
        gif_encode,
        tiff_encode,
    )

    rng = random.Random("bench-media-img:1")
    out = []
    for i in range(n):
        w, h = 64, 48
        ax, by, base = rng.randrange(1, 4), rng.randrange(1, 4), rng.randrange(30, 120)
        rows = [bytearray(min(255, base + ax * x // 2 + by * y // 2)
                          for x in range(w)) for y in range(h)]
        fmt = ("png", "bmp", "tiff", "webp", "gif", "jpgp")[i % 6]
        if fmt == "png":
            data = encode_gray_png(w, h, rows)
        elif fmt == "bmp":
            data = encode_gray_bmp(w, h, rows)
        elif fmt == "tiff":
            data = tiff_encode("<", w, h, 1, [bytes(b"".join(bytes(r) for r in rows))], h)
        elif fmt == "webp":
            argb = [0xFF000000 | (v << 16) | (v << 8) | v for r in rows for v in r]
            data = encode_vp8l(w, h, argb, cache_bits=4, lz77=True)
        elif fmt == "gif":
            pal = [(v * 17, v * 17, v * 17) for v in range(16)]
            idx = [v >> 4 for r in rows for v in r]
            data = gif_encode(w, h, idx, pal, 4)
        else:  # progressive JPEG
            data = encode_gray_jpeg_progressive(w, h, rows, ycbcr420=(i % 2 == 0))
        out.append((f"i-{i:05d}", data))
    return out


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    cpu_list = [int(c) for c in (sys.argv[2] if len(sys.argv) > 2 else "8").split(",")]

    from documentconvert_spark.ops.multimodal import (
        image_dhash_table,
        real_audio_stats,
        real_video_frame_stats,
    )
    from documentconvert_spark.session import build_session

    gen0 = time.monotonic()
    videos, audios = _corpus(n)
    images = _image_corpus(n)
    gen_s = time.monotonic() - gen0
    video_mb = sum(len(c) for _, c in videos) / 1e6
    audio_mb = sum(len(c) for _, c in audios) / 1e6
    image_mb = sum(len(c) for _, c in images) / 1e6

    for cpus in cpu_list:
        spark = build_session(app_name="bench-media", master=f"local[{cpus}]",
                              shuffle_partitions=max(cpus, 16))
        vdf = spark.createDataFrame(videos, "doc_id string, content binary") \
            .repartition(cpus * 4).cache()
        adf = spark.createDataFrame(audios, "doc_id string, content binary") \
            .repartition(cpus * 4).cache()
        vdf.count(); adf.count()  # materialize: time decode, not corpus ship

        out = {"n_docs": n, "cpus": cpus, "gen_s": round(gen_s, 2),
               "video_mb": round(video_mb, 1), "audio_mb": round(audio_mb, 1)}
        # warm the python workers so the pair compares steady-state decode,
        # not per-session worker spin-up
        real_video_frame_stats(vdf.limit(64)).count()
        t0 = time.monotonic()
        nframes = real_video_frame_stats(vdf).count()
        dt = time.monotonic() - t0
        out["video_decode"] = {"sec": round(dt, 2), "frames": nframes,
                               "docs_per_sec": round(n / dt, 1)}
        real_audio_stats(adf.limit(32)).count()
        t0 = time.monotonic()
        real_audio_stats(adf).count()
        dt = time.monotonic() - t0
        out["audio_decode"] = {"sec": round(dt, 2), "docs_per_sec": round(n / dt, 1)}
        idf = spark.createDataFrame(images, "doc_id string, content binary") \
            .repartition(cpus * 4).cache()
        idf.count()
        out["image_mb"] = round(image_mb, 1)
        image_dhash_table(idf.limit(64)).count()
        t0 = time.monotonic()
        nhash = image_dhash_table(idf).count()
        dt = time.monotonic() - t0
        out["image_decode"] = {"sec": round(dt, 2), "hashed": nhash,
                               "docs_per_sec": round(n / dt, 1)}
        spark.stop()
        print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
