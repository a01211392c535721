"""Multimodal media columns: opaque binary + typed metadata + batch UDF ops.

The reference moves extracted figure crops as opaque files next to the
markdown (`services/document_service.py:259-304`); a training-data engine
instead keeps media as a side table of binary columns

    media(doc_id, media_ref, media_type, content binary)

and runs decode / feature-extract / resize / frame-sample as Arrow-batched
``mapInArrow`` operators. Every op that runs Python per row goes through
``_per_doc``, i.e. the extraction UDF's loop (kernels/errors.contained): a
row that raises becomes the op's error row, or drops out when the op has
none — never a failed task (reference C7). Two decode tiers:

* MINIMEDIA — a deterministic mini-format whose header fields are
  closed-form functions of md5(media_ref), making every operator here
  exactly oracle-checkable in SQL;
* the REAL codec path (`decode_raster_gray` / `decode_audio` /
  `decode_video`) — the sandbox ships no PIL/librosa/ffmpeg, so images
  decode through the from-scratch raster layer (kernels/raster.py:
  baseline JPEG per ITU-T T.81 incl. progressive, PNG, GIF-LZW, BMP,
  baseline TIFF, VP8L lossless WebP), audio and video through the
  audio/video layer (kernels/media.py), whose format → decoder tables
  route audio to the RIFF/WAVE PCM and FLAC decoders and video to the
  RIFF/AVI frame decoder (MJPG + uncompressed DIB frames), the
  MJPEG-in-MP4 carver and the animated-GIF compositor.

The Spark-side plumbing — schemas, batch shapes, partition invariance,
explode semantics — is identical for both tiers and tested.

Portable derivations (same arithmetic in Spark SQL and DuckDB):
    h           = int(md5(media_ref)[:8], 16)
    media_type  = (image, audio, video)[h % 3]
    width       = 64 + h % 1024          (image)
    height      = 64 + (h // 7) % 768    (image)
    duration_ms = 500 + h % 60000        (audio/video)
    fps         = 5 + h % 25             (video)
    payload_len = 128 + h % 4096
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from documentconvert_spark.kernels.detect import extract_media_files
from documentconvert_spark.kernels.errors import contained, require_content
from documentconvert_spark.kernels.media import decode_audio, decode_video, sniff_av_meta
from documentconvert_spark.kernels.raster import (
    decode_raster_gray,
    dhash64,
    sniff_image_meta,
)

MAGIC = b"MINIMEDIA-1.0"
MEDIA_TYPES = ("image", "audio", "video")
FRAME_STRIDE = 10  # sample every 10th frame

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("content", T.BinaryType(), False),
    ]
)

META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
        T.StructField("fps", T.IntegerType(), True),
        T.StructField("payload_len", T.IntegerType(), False),
        T.StructField("error", T.StringType(), True),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_md5", T.StringType(), False),
    ]
)


def _per_doc(df: DataFrame, cols: tuple[str, ...], schema: T.StructType,
             row_fn: Callable[..., list[tuple]],
             error_row: Callable[..., tuple] | None = None) -> DataFrame:
    """Narrow ``mapInArrow`` over ``df.select(*cols)``, each batch run
    through ``contained``. Each input row's values go to ``row_fn``,
    which returns a list of output tuples in ``schema`` order (zero or
    more: filters and row-expanding ops use the same loop). If it
    raises, the row becomes ``error_row(*values, exc)``, or drops out
    when there is no ``error_row`` — a poison row never fails the task
    (reference C7)."""
    arrow_schema = to_arrow_schema(schema)
    names = arrow_schema.names

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            out = []
            for values, rows, exc in contained(zip(*(c.to_pylist() for c in b.columns)), row_fn):
                if exc is None:
                    out.extend(rows)
                elif error_row is not None:
                    out.append(error_row(*values, exc))
            yield pa.RecordBatch.from_pylist([dict(zip(names, r)) for r in out],
                                             schema=arrow_schema)

    return df.select(*cols).mapInArrow(run, schema)


def _h(media_ref: str) -> int:
    return int(hashlib.md5(media_ref.encode("utf-8")).hexdigest()[:8], 16)


def _fields(media_ref: str) -> dict:
    h = _h(media_ref)
    mt = MEDIA_TYPES[h % 3]
    return {
        "media_type": mt,
        "width": 64 + h % 1024 if mt == "image" else None,
        "height": 64 + (h // 7) % 768 if mt == "image" else None,
        "duration_ms": 500 + h % 60000 if mt in ("audio", "video") else None,
        "fps": 5 + h % 25 if mt == "video" else None,
        "payload_len": 128 + h % 4096,
    }


def make_media_bytes(media_ref: str) -> tuple[str, bytes]:
    """Deterministic media object for a ref (generator side)."""
    f = _fields(media_ref)
    header = [
        MAGIC.decode(),
        f["media_type"],
        media_ref,
        ",".join(
            str(f[k]) if f[k] is not None else ""
            for k in ("width", "height", "duration_ms", "fps", "payload_len")
        ),
    ]
    ref_bytes = media_ref.encode("utf-8")
    payload = (ref_bytes * (f["payload_len"] // len(ref_bytes) + 1))[: f["payload_len"]]
    return f["media_type"], "\n".join(header).encode("utf-8") + b"\n" + payload


def build_media_table(docs_with_spans: DataFrame) -> DataFrame:
    """Figure spans → media side table (J3's dimension side). Narrow:
    explode + the batched builder loop; no shuffle. A figure whose
    media_ref cannot build a MINIMEDIA object (null or empty) drops
    out."""
    refs = (
        docs_with_spans.select("doc_id", F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "figure")
        .select("doc_id", F.col("s.media_ref").alias("media_ref"))
    )
    return _per_doc(refs, ("doc_id", "media_ref"), MEDIA_SCHEMA,
                    lambda did, ref: [(did, ref, *make_media_bytes(ref))])


def decode_media_meta(media: DataFrame) -> DataFrame:
    """Parse typed metadata out of the binary column (Arrow-batched; the
    decode reads actual bytes). A malformed or null object becomes an
    error row: media_type 'unknown', payload_len 0 and the full message
    (C7)."""

    def row(did, ref, raw):
        if not require_content(raw).startswith(MAGIC):
            raise ValueError("malformed media: bad magic")
        lines = raw.split(b"\n", 4)  # 4 header lines, then payload
        w, hgt, dur, fps, plen = [int(x) if x else None
                                  for x in lines[3].decode().split(",")]
        if len(lines[4]) != plen:
            raise ValueError("malformed media: payload length mismatch")
        return [(did, ref, lines[1].decode(), w, hgt, dur, fps, plen, None)]

    return _per_doc(
        media, ("doc_id", "media_ref", "content"), META_SCHEMA, row,
        lambda did, ref, raw, exc: (did, ref, "unknown", None, None, None, None, 0, str(exc)))


def sample_frames(meta: DataFrame, stride: int = FRAME_STRIDE) -> DataFrame:
    """Video frame sampling: one output row per sampled frame (the
    row-expanding UDTF shape). frame_md5 stands in for the decoded frame
    tensor. A video row without duration or fps has no frames to sample
    and drops out."""
    return _per_doc(
        meta.filter(F.col("media_type") == "video"),
        ("media_ref", "duration_ms", "fps"), FRAME_SCHEMA,
        lambda ref, dur, fps: [(ref, i, hashlib.md5(f"{ref}:{i}".encode()).hexdigest())
                               for i in range(0, dur * fps // 1000, stride)])


def media_features(media: DataFrame, dim: int = 8) -> DataFrame:
    """Feature extraction stub: deterministic hash-derived features per
    media object, exploded (media_ref, j, feature) — the embedding-table
    shape the ANN ops consume."""
    j = F.explode(F.expr(f"sequence(0, {dim - 1})")).alias("j")
    h = F.conv(F.substring(F.md5(F.concat_ws("#", "media_ref", "j")), 1, 8), 16, 10).cast("long")
    return (
        media.select("media_ref", j)
        .withColumn("feature", F.round((h % 1000) / 1000.0, 3))
    )


# ---------------------------------------------------------------- real media

REAL_MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("format", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("byte_len", T.IntegerType(), False),
        T.StructField("content", T.BinaryType(), False),
    ]
)


def sniff_media_meta(raw: DataFrame) -> DataFrame:
    """Header-level inventory of raw media bytes, no decode: container
    metadata for A/V (kernels/media.sniff_av_meta — MP4 boxes, RIFF
    chunks, FLAC STREAMINFO, ...), and for bytes that are no A/V
    container the image header sniff (sniff_image_meta). Both sniffs are
    total, so corrupt or null bytes come out as format 'unknown', never
    as an error. → (doc_id, format, width, height, duration_ms,
    byte_len); narrow, no shuffle."""
    schema = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("format", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
        T.StructField("byte_len", T.IntegerType(), False),
    ])

    def row(did, data):
        data = data or b""
        fmt, w, h, dur = sniff_av_meta(data)
        if fmt == "unknown":  # not an A/V container: try image
            fmt, w, h = sniff_image_meta(data)
        return [(did, fmt, w, h, dur, len(data))]

    return _per_doc(raw, ("doc_id", "content"), schema, row)


def extract_real_media(docs_raw: DataFrame) -> DataFrame:
    """REAL embedded media: walk each document container (OOXML/ODF zip
    parts, PDF Image XObjects) and emit the actual media bytes plus
    header-sniffed format/dimensions (kernels/media.py — PNG IHDR, JPEG
    SOFn, no codec libs). Row-expanding and narrow (no shuffle); a
    container that fails to walk drops out (C7). media_refs match the
    figure spans the extractors emit, so spans ⋈ media joins work on real
    corpora exactly as on synthetic (J3, reference
    document_service.py:259-304)."""
    return _per_doc(
        docs_raw, ("doc_id", "content"), REAL_MEDIA_SCHEMA,
        lambda did, blob: [(did, ref, *sniff_image_meta(data), len(data), data)
                           for ref, data in extract_media_files(blob or b"")])


RASTER_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("format", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("mean_luma", T.DoubleType(), True),
        T.StructField("dark_frac", T.DoubleType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)


def real_raster_stats(real_media: DataFrame) -> DataFrame:
    """Decode REAL carved media to pixels (from-scratch PNG/JPEG/GIF/
    BMP/TIFF/WebP decoders — kernels/raster.py) and emit per-object luma statistics:
    the real-codec analogue of `media_features`, over actual bytes instead
    of MINIMEDIA headers. Formats without a pixel decoder become error
    rows (format 'unknown'), mirroring the reference's conversion-failure
    containment (C7). Arrow-batched, narrow — decode cost parallelizes
    across the scan; nothing here shuffles."""

    def row(did, ref, blob):
        fmt, w, h, gray = decode_raster_gray(require_content(blob))
        # float64 sums of ≤4 Mi bytes are exact integers, so the mean
        # does not depend on summation order
        return [(did, ref, fmt, w, h, round(float(gray.mean()), 3),
                 round(float((gray < 128).mean()), 3), None)]

    return _per_doc(
        real_media, ("doc_id", "media_ref", "content"), RASTER_STATS_SCHEMA, row,
        lambda did, ref, blob, exc: (did, ref, "unknown", None, None, None, None,
                                     str(exc)[:200]))


VIDEO_FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_dark", T.IntegerType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)


def real_video_frame_stats(videos: DataFrame) -> DataFrame:
    """Decode REAL video bytes to FRAMES (`decode_video`: from-scratch
    RIFF/AVI walker + MJPG/DIB frame decoders, the ISO-BMFF MJPEG-in-MP4
    sample-table carver, or the animated-GIF compositor, routed by the
    recognised format) and emit one row per frame with its dark-pixel
    count.
    `n_dark` at threshold 128 is exactly oracle-checkable on bilevel
    sources even through the lossy MJPG path (the all-ones-quant encoder
    bounds reconstruction error at ±2 gray levels, which never crosses
    the threshold); GIF is lossless, so its counts are exact on any
    source. Undecodable bytes (inter-frame codecs, corrupt containers)
    become a single error row at frame_idx=-1 — containment (C7), not
    silence. Arrow-batched, narrow: decode parallelizes across the scan;
    nothing here shuffles, and frame pixels are charged against a
    per-document budget inside the kernel."""

    def row(did, blob):
        w, h, frames = decode_video(require_content(blob))
        return [(did, i, w, h, int(np.count_nonzero(fr < 128)), None)
                for i, fr in enumerate(frames)]

    return _per_doc(
        videos, ("doc_id", "content"), VIDEO_FRAMES_SCHEMA, row,
        lambda did, blob, exc: (did, -1, None, None, None, str(exc)[:200]))


def audio_fingerprint_table(audios: DataFrame, chunk: int = 250) -> DataFrame:
    """Real WAV/FLAC bytes → (doc_id, chunk_idx, fp): decode to mono and
    fingerprint fixed-size chunks with 64-bit FNV-1a (int64-safe).
    Undecodable or null blobs drop out (containment — a bad blob must
    never fail the stage). Narrow: decode where the bytes are scanned;
    only the ~16-byte fingerprints flow on."""
    schema = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("chunk_idx", T.IntegerType(), False),
        T.StructField("fp", T.LongType(), False),
    ])

    def row(did, blob):
        _sr, _ch, mono = decode_audio(blob)
        out = []
        for i, lo in enumerate(range(0, len(mono) - chunk + 1, chunk)):
            h = 0xCBF29CE484222325
            for v in mono[lo:lo + chunk]:
                h = ((h ^ (v & 0xFFFF)) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
            out.append((did, i, h & 0x7FFFFFFFFFFFFFFF))
        return out

    return _per_doc(audios, ("doc_id", "content"), schema, row)


def multiset_jaccard_pairs(sig: DataFrame, key_col: str, order_col: str,
                           num: int, den: int) -> DataFrame:
    """Per-item keys → near-dup pairs (doc_a, doc_b, matches, n_a, n_b)
    whose multiset Jaccard clears num/den, decided by integer
    cross-multiplication (no float in any hashed output). Multiset
    semantics via an occurrence index over `order_col`, so repeated
    identical items match one-to-one. The keyed table is cached: it is
    referenced three times (counts + both join sides) and holds only
    small keys, while the upstream decode is the expensive part."""
    from pyspark.sql.window import Window

    s = sig.select("doc_id", F.col(key_col).alias("k"),
                   F.col(order_col).alias("o"))
    s = s.withColumn(
        "occ",
        F.row_number().over(Window.partitionBy("doc_id", "k").orderBy("o")),
    ).cache()
    counts = s.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = s.alias("a"), s.alias("b")
    return (
        a.join(b, (F.col("a.k") == F.col("b.k"))
               & (F.col("a.occ") == F.col("b.occ"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("matches"))
        .join(counts.withColumnRenamed("doc_id", "doc_a")
                    .withColumnRenamed("n", "n_a"), "doc_a")
        .join(counts.withColumnRenamed("doc_id", "doc_b")
                    .withColumnRenamed("n", "n_b"), "doc_b")
        .filter(F.col("matches") * den
                >= (F.col("n_a") + F.col("n_b") - F.col("matches")) * num)
        .select("doc_a", "doc_b",
                F.col("matches").cast("long").alias("matches"),
                F.col("n_a").cast("long").alias("n_a"),
                F.col("n_b").cast("long").alias("n_b"))
    )


def image_dhash_table(images: DataFrame) -> DataFrame:
    """Real image bytes (any decodable format) → (doc_id, dhash): decode
    through the raster layer and difference-hash the gray raster
    (kernels/raster.dhash64 — 9×8 integer area-downsample, one bit per
    horizontal gradient, signed int64). Undecodable or null blobs drop
    out (containment). Narrow: pixels never leave the scan; only the
    8-byte hash flows into any downstream join."""
    schema = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("dhash", T.LongType(), False),
    ])

    def row(did, blob):
        _fmt, w, h, gray = decode_raster_gray(blob)
        return [(did, dhash64(w, h, gray))]

    return _per_doc(images, ("doc_id", "content"), schema, row)


def dhash_hamming_pairs(sig: DataFrame, max_dist: int = 6) -> DataFrame:
    """64-bit hash table → near-dup pairs (doc_a, doc_b, hamming ≤
    max_dist). Scale shape: eight 8-bit bands, candidates from an
    equi-join on (band index, band byte) — the pigeonhole principle
    guarantees recall for any distance ≤ 7 — then one bit_count(xor)
    verify per candidate. No CartesianProduct anywhere; at 100 TB the
    band join shuffles 10-byte rows, never pixels."""
    if max_dist > 7:
        raise ValueError("dhash_hamming_pairs: 8 bands only guarantee distance <= 7")
    e = sig.select("doc_id", "dhash").withColumn(
        "band",
        F.explode(F.array(*[
            F.struct(
                F.lit(i).alias("i"),
                F.shiftrightunsigned("dhash", 8 * i).bitwiseAND(F.lit(255)).alias("v"))
            for i in range(8)])))
    a = e.select(F.col("doc_id").alias("doc_a"), F.col("dhash").alias("h_a"),
                 F.col("band.i").alias("i_a"), F.col("band.v").alias("v_a"))
    b = e.select(F.col("doc_id").alias("doc_b"), F.col("dhash").alias("h_b"),
                 F.col("band.i").alias("i_b"), F.col("band.v").alias("v_b"))
    return (
        a.join(b, (F.col("i_a") == F.col("i_b")) & (F.col("v_a") == F.col("v_b"))
               & (F.col("doc_a") < F.col("doc_b")))
        .select("doc_a", "doc_b", "h_a", "h_b").distinct()
        .withColumn("hamming",
                    F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).cast("int"))
        .filter(F.col("hamming") <= max_dist)
        .select("doc_a", "doc_b", "hamming")
    )


AUDIO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("n_samples", T.IntegerType(), True),
        T.StructField("sum_abs", T.LongType(), True),
        T.StructField("peak", T.IntegerType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)


def real_audio_stats(audios: DataFrame) -> DataFrame:
    """Decode REAL audio bytes to SAMPLES (`decode_audio`: RIFF/WAVE
    integer PCM or FLAC streams, both from scratch, channels
    floor-averaged to mono int16) and emit per-document sample
    statistics. Both codecs are lossless, so `sum_abs` and `peak` are
    EXACT integers an oracle can derive from the source samples without
    touching the decoders — the audio analogue of real_pixel_stats /
    real_video_frames. Unsupported, corrupt or null bytes become error
    rows (containment, C7). Arrow-batched, narrow: no shuffle, decoded
    size capped inside the kernels."""

    def row(did, blob):
        sr, ch, mono = decode_audio(require_content(blob))
        # data chunks run up to 256 MiB: vectorize, and take |x| in
        # int64 (|int16 -32768| overflows int16)
        a = np.abs(np.frombuffer(mono, dtype=np.int16).astype(np.int64))
        return [(did, sr, ch, len(mono), int(a.sum()),
                 int(a.max()) if len(a) else 0, None)]

    return _per_doc(
        audios, ("doc_id", "content"), AUDIO_STATS_SCHEMA, row,
        lambda did, blob, exc: (did, None, None, None, None, None, str(exc)[:200]))
