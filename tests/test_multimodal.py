"""Multimodal media ops: schema, decode round-trip, explode semantics."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from documentconvert_spark.corpus import corpus_rows
from documentconvert_spark.kernels.media import decode_audio, decode_video
from documentconvert_spark.kernels.raster import decode_raster_gray
from documentconvert_spark.ops.multimodal import (
    FRAME_STRIDE,
    _fields,
    build_media_table,
    decode_media_meta,
    make_media_bytes,
    media_features,
    sample_frames,
)
from documentconvert_spark.pipeline import extract_spans
from documentconvert_spark.schemas import DOCUMENTS_RAW
from tests.test_kernels import fixture_corpus


def test_make_and_fields_roundtrip_pure():
    for ref in ("img-a-0.jpg", "scan-x.jpg", "视频-1.mp4"):
        mt, blob = make_media_bytes(ref)
        f = _fields(ref)
        assert mt == f["media_type"]
        lines = blob.split(b"\n", 4)
        assert lines[2].decode() == ref
        assert len(lines[4]) == f["payload_len"]


def test_codec_decode_contract():
    # image/audio/video all go through real from-scratch decoders: garbage
    # or unsupported-codec bytes raise ValueError (contained per-row
    # upstream), never NotImplementedError.
    with pytest.raises(ValueError):
        decode_raster_gray(b"\xff\xd8")
    with pytest.raises(ValueError):
        decode_audio(b"RIFF")
    with pytest.raises(ValueError):  # MP4 without a moov box: nothing to decode
        decode_video(b"\x00\x00\x00\x18ftypisom")


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.createDataFrame(corpus_rows(fixture_corpus()), schema=DOCUMENTS_RAW)
    out = extract_spans(docs).filter(F.col("error").isNull())
    return build_media_table(out).cache()


def test_media_table_matches_figure_spans(spark, media):
    docs = spark.createDataFrame(corpus_rows(fixture_corpus()), schema=DOCUMENTS_RAW)
    out = extract_spans(docs).filter(F.col("error").isNull())
    n_figures = (
        out.select(F.explode("spans").alias("s")).filter(F.col("s.kind") == "figure").count()
    )
    assert media.count() == n_figures > 0
    assert set(media.columns) == {"doc_id", "media_ref", "media_type", "content"}


def test_decode_meta(spark, media):
    meta = decode_media_meta(media)
    rows = meta.collect()
    assert all(r.error is None for r in rows)
    for r in rows:
        f = _fields(r.media_ref)
        assert (r.media_type, r.width, r.height, r.duration_ms, r.fps, r.payload_len) == (
            f["media_type"], f["width"], f["height"], f["duration_ms"], f["fps"], f["payload_len"]
        )
    # typed-metadata coupling
    for r in rows:
        if r.media_type == "image":
            assert r.width is not None and r.duration_ms is None
        if r.media_type == "video":
            assert r.fps is not None and r.width is None


def test_decode_meta_error_containment(spark):
    bad = spark.createDataFrame(
        [("d1", "r1", "image", bytearray(b"not media"))],
        schema="doc_id string, media_ref string, media_type string, content binary",
    )
    row = decode_media_meta(bad).first()
    assert row.error is not None and "magic" in row.error


def test_frame_sampling(spark, media):
    meta = decode_media_meta(media)
    frames = sample_frames(meta).collect()
    vids = {r.media_ref: r for r in meta.filter(F.col("media_type") == "video").collect()}
    assert len(vids) > 0
    by_ref = {}
    for fr in frames:
        by_ref.setdefault(fr.media_ref, []).append(fr.frame_idx)
    for ref, idxs in by_ref.items():
        n_frames = vids[ref].duration_ms * vids[ref].fps // 1000
        assert sorted(idxs) == list(range(0, n_frames, FRAME_STRIDE))


def test_media_features_shape(spark, media):
    feats = media_features(media, dim=8)
    n_media = media.count()
    assert feats.count() == n_media * 8
    r = feats.first()
    assert 0.0 <= r.feature < 1.0


# ------------------------------------------------------------ real image inputs

def test_real_image_document_route():
    """Real PNG/JPEG bytes as the DOCUMENT: figure span keyed identically
    to the media side table row, header-sniffed dims, no error raised."""
    import struct

    from documentconvert_spark.kernels.detect import extract, extract_media_files
    from documentconvert_spark.kernels.raster import image_file_ref, sniff_image_meta

    png = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
           + struct.pack(">II", 640, 480) + b"\x08\x02\x00\x00\x00" + b"\x00" * 40)
    spans = extract("image", png)
    assert [s.kind for s in spans] == ["figure"]
    assert spans[0].media_ref == image_file_ref(png, "png")
    media = extract_media_files(png)
    assert media == [(spans[0].media_ref, png)]
    assert sniff_image_meta(png) == ("png", 640, 480)

    # synthetic MINIIMG still routes to the OCR-stub kernel
    mini = b"MINIIMG-1.0\nref.jpg\nsome ocr text here\n"
    mspans = extract("image", mini)
    assert [s.kind for s in mspans] == ["figure", "paragraph"]

    # garbage still raises (contained by the UDF layer)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        extract("image", b"\x00\x01\x02 not an image at all")


def test_webp_sniffing():
    import struct

    from documentconvert_spark.kernels.raster import sniff_image_meta

    # VP8L lossless: 14-bit w-1 / h-1 packed little-endian after signature
    bits = (99)  # w = 100
    bits |= (49 << 14)  # h = 50
    vp8l = (b"RIFF" + struct.pack("<I", 30) + b"WEBP" + b"VP8L"
            + struct.pack("<I", 20) + b"\x2f" + struct.pack("<I", bits) + b"\x00" * 8)
    assert sniff_image_meta(vp8l) == ("webp", 100, 50)
    vp8x = (b"RIFF" + struct.pack("<I", 30) + b"WEBP" + b"VP8X"
            + struct.pack("<I", 10) + b"\x00" * 4
            + (299).to_bytes(3, "little") + (149).to_bytes(3, "little") + b"\x00" * 8)
    assert sniff_image_meta(vp8x) == ("webp", 300, 150)


def test_wmf_emf_dims_sniffing():
    import struct

    from documentconvert_spark.kernels.raster import sniff_image_meta

    # placeable WMF: bounding box in twips at 1440 twips/inch → 96 dpi px
    placeable = (b"\xd7\xcd\xc6\x9a" + b"\x00\x00"
                 + struct.pack("<4hH", 0, 0, 2880, 1440, 1440) + b"\x00" * 20)
    assert sniff_image_meta(placeable) == ("wmf", 192, 96)
    # bare WMF carries no size record
    bare = b"\x01\x00\x09\x00" + b"\x00" * 30
    assert sniff_image_meta(bare) == ("wmf", None, None)
    # zero twips/inch must not divide-by-zero
    broken = (b"\xd7\xcd\xc6\x9a" + b"\x00\x00"
              + struct.pack("<4hH", 0, 0, 100, 100, 0) + b"\x00" * 20)
    assert sniff_image_meta(broken) == ("wmf", None, None)
    # EMF: rclBounds is inclusive device pixels
    emf = (b"\x01\x00\x00\x00" + b"\x00" * 4
           + struct.pack("<4i", 10, 20, 329, 259) + b"\x00" * 16 + b" EMF"
           + b"\x00" * 8)
    assert sniff_image_meta(emf) == ("emf", 320, 240)
    # degenerate bounds stay dimension-less
    emf0 = (b"\x01\x00\x00\x00" + b"\x00" * 4
            + struct.pack("<4i", 0, 0, -5, -5) + b"\x00" * 16 + b" EMF"
            + b"\x00" * 8)
    assert sniff_image_meta(emf0) == ("emf", None, None)


def test_image_sniff_dims_are_int32_clamped():
    # header dims are file-controlled: anything outside (0, 2**31) must
    # become None at the sniff boundary, or one crafted row blows the
    # Arrow Int32 cast in the media job's sniff batch (review finding)
    import struct

    from documentconvert_spark.kernels.raster import sniff_image_meta

    huge_png = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
                + struct.pack(">II", 0xFFFFFFFF, 10)
                + b"\x08\x02\x00\x00\x00" + b"\x00" * 8)
    assert sniff_image_meta(huge_png) == ("png", None, 10)
    neg_bmp = bytearray(b"BM" + bytes(50))
    struct.pack_into("<ii", neg_bmp, 18, -(2**31), 5)
    assert sniff_image_meta(bytes(neg_bmp)) == ("bmp", None, 5)
    zero_gif = b"GIF89a" + struct.pack("<HH", 0, 7) + bytes(40)
    assert sniff_image_meta(zero_gif) == ("gif", None, 7)


def test_av_container_sniffing():
    import struct

    from documentconvert_spark.kernels.media import sniff_av_meta

    def box(t, payload):
        return struct.pack(">I", 8 + len(payload)) + t + payload

    mvhd = box(b"mvhd", b"\x00" * 12 + struct.pack(">II", 1000, 90500) + b"\x00" * 80)
    # dims at spec offset 76 (v0): FullBox(4)+times/ids/reserved(20)+
    # reserved(8)+layer/altgroup/volume/reserved(8)+matrix(36)
    tkhd = box(b"tkhd", b"\x00" * 76 + struct.pack(">II", 1920 << 16, 1080 << 16))
    mp4 = box(b"ftyp", b"isom\x00\x00\x02\x00isom") + box(b"moov", mvhd + box(b"trak", tkhd))
    assert sniff_av_meta(mp4) == ("mp4", 1920, 1080, 90500)

    wav = (b"RIFF" + struct.pack("<I", 100) + b"WAVE"
           + b"fmt " + struct.pack("<I", 16) + struct.pack("<HHIIHH", 1, 2, 44100, 176400, 4, 16)
           + b"data" + struct.pack("<I", 176400 * 3))
    assert sniff_av_meta(wav) == ("wav", None, None, 3000)

    assert sniff_av_meta(b"OggS....")[0] == "ogg"
    assert sniff_av_meta(b"\x1aE\xdf\xa3....")[0] == "webm"
    assert sniff_av_meta(b"ID3\x04....")[0] == "mp3"
    assert sniff_av_meta(b"garbage bytes here")[0] == "unknown"
    # truncated/hostile sizes must terminate fast and not raise
    evil = box(b"ftyp", b"isom") + struct.pack(">I", 0xFFFFFFF0) + b"moov"
    assert sniff_av_meta(evil)[0] == "mp4"


def test_av_sniffing_edge_cases():
    import struct

    from documentconvert_spark.kernels.media import sniff_av_meta

    # MPEG-1 Layer III with CRC protection starts \xff\xfa — still mp3
    assert sniff_av_meta(b"\xff\xfa\x90\x00" + b"\x00" * 30)[0] == "mp3"
    # WAV truncated inside the byterate field: no bogus duration
    trunc = (b"RIFF" + struct.pack("<I", 20) + b"WAVE" + b"fmt "
             + struct.pack("<I", 16) + b"\x01\x00\x02\x00\x44\xac")
    assert sniff_av_meta(trunc) == ("wav", None, None, None)


def test_tiff_entry_with_count_gt_one_is_value_offset_not_dimension():
    """TIFF value-or-offset rule: an ImageWidth/ImageLength entry whose
    count != 1 stores a file OFFSET in the 4-byte value field; reading it
    inline would misreport the dimension (r3 advice, media.py)."""
    import struct

    from documentconvert_spark.kernels.raster import sniff_image_meta

    def entry(tag, typ, count, val):
        return struct.pack("<HHII", tag, typ, count, val)

    # malformed: ImageWidth count=2 → field holds offset 64, must be skipped;
    # ImageLength count=1 stays readable
    ifd = struct.pack("<H", 2) + entry(256, 4, 2, 64) + entry(257, 4, 1, 480)
    data = b"II*\x00" + struct.pack("<I", 8) + ifd + b"\x00" * 64
    assert sniff_image_meta(data) == ("tiff", None, 480)

    # well-formed control: both count=1
    ifd = struct.pack("<H", 2) + entry(256, 4, 1, 640) + entry(257, 3, 1, 480)
    data = b"II*\x00" + struct.pack("<I", 8) + ifd
    assert sniff_image_meta(data) == ("tiff", 640, 480)


def test_ogg_granule_comes_from_page_walk_not_payload_rfind():
    """'OggS' inside a compressed packet payload must not be mistaken for
    the last page header (r3 advice, media.py): duration derives from the
    granule of the last STRUCTURAL page reached via the length chain."""
    from documentconvert_spark.kernels.media import sniff_av_meta

    vorbis_id = (b"\x01vorbis" + b"\x00" * 4 + b"\x01"
                 + (8000).to_bytes(4, "little") + b"\x00" * 14)
    assert len(vorbis_id) == 30
    page1 = (b"OggS" + b"\x00\x02" + (0).to_bytes(8, "little")
             + b"\x00" * 12 + b"\x01" + b"\x1e" + vorbis_id)
    # payload smuggles a fake "OggS" header claiming a huge granule
    payload = b"OggS" + (10**9).to_bytes(8, "little") + b"\x00" * 8
    assert len(payload) == 20
    page2 = (b"OggS" + b"\x00\x04" + (16000).to_bytes(8, "little")
             + b"\x00" * 12 + b"\x01" + b"\x14" + payload)
    fmt, _w, _h, dur = sniff_av_meta(page1 + page2)
    assert fmt == "ogg"
    assert dur == 2000  # 16000 granules at 8 kHz, not 125,000,000 ms


# ------------------------------------------------------------ containment

_BYTES_DDL = "doc_id string, content binary"
_GARBAGE = bytearray(b"garbage bytes")
_BAD_BYTES = [("d-null", None), ("d-garbage", _GARBAGE)]

# op → (input DDL, a null row and a garbage row, output key, what each
# bad row becomes per the op's docstring)
_CONTAINMENT = {
    "build_media_table": (
        "doc_id string, spans array<struct<kind:string,media_ref:string>>",
        [("d-null", [("figure", None)]), ("d-garbage", [("figure", "")])],
        "doc_id", "drop"),
    "decode_media_meta": (
        "doc_id string, media_ref string, media_type string, content binary",
        [("d-null", "r-0", "image", None), ("d-garbage", "r-1", "image", _GARBAGE)],
        "doc_id", "error"),
    "sample_frames": (
        "media_ref string, media_type string, duration_ms int, fps int",
        [("d-null", "video", None, None), ("d-garbage", "video", -5, 30)],
        "media_ref", "drop"),
    "extract_real_media": (_BYTES_DDL, _BAD_BYTES, "doc_id", "drop"),
    "real_raster_stats": (
        "doc_id string, media_ref string, content binary",
        [("d-null", "r-0", None), ("d-garbage", "r-1", _GARBAGE)],
        "doc_id", "error"),
    "real_video_frame_stats": (_BYTES_DDL, _BAD_BYTES, "doc_id", "error"),
    "audio_fingerprint_table": (_BYTES_DDL, _BAD_BYTES, "doc_id", "drop"),
    "image_dhash_table": (_BYTES_DDL, _BAD_BYTES, "doc_id", "drop"),
    "real_audio_stats": (_BYTES_DDL, _BAD_BYTES, "doc_id", "error"),
}


@pytest.mark.parametrize("op_name", sorted(_CONTAINMENT))
def test_every_media_op_contains_null_and_garbage_rows(spark, op_name):
    """A null-content row and a garbage row never fail the task: each
    becomes exactly one error row or drops out, as the op documents. A
    null blob's error row says what the extraction UDF says."""
    from documentconvert_spark.ops import multimodal

    ddl, rows, key, policy = _CONTAINMENT[op_name]
    out = getattr(multimodal, op_name)(spark.createDataFrame(rows, ddl)).collect()
    got = {}
    for r in out:
        got.setdefault(r[key], []).append(r)
    for bad in (row[0] for row in rows):
        if policy == "drop":
            assert bad not in got
        else:
            assert len(got[bad]) == 1 and got[bad][0].error is not None
    if policy == "error":
        assert got["d-null"][0].error == "malformed: null content"


# ------------------------------------------------------------ goldens

def test_committed_goldens_match_their_generators(tmp_path, monkeypatch):
    """Each committed golden parquet equals what its generator writes
    today: regenerate all eleven into tmp_path and compare tables."""
    import pyarrow.parquet as pq

    from documentconvert_spark import queries_extraction as qe

    writers = {
        "EXPECTED_SPANS_PARQUET": qe._ensure_expected_parquet,
        "EXPECTED_DOCS_PARQUET": qe._ensure_expected_parquet,
        "EXPECTED_REAL_IMAGES_PARQUET": qe._ensure_real_images_parquet,
        "EXPECTED_REAL_AV_PARQUET": qe._ensure_real_av_parquet,
        "EXPECTED_REAL_VIDEO_PARQUET": qe._ensure_real_video_parquet,
        "EXPECTED_REAL_AUDIO_PARQUET": qe._ensure_real_audio_parquet,
        "EXPECTED_VIDEO_SIGS_PARQUET": qe._ensure_video_sigs_parquet,
        "EXPECTED_AUDIO_FPS_PARQUET": qe._ensure_audio_fps_parquet,
        "EXPECTED_IMAGE_DHASH_PARQUET":
            lambda: qe._ensure_image_dhash_parquet(qe._image_dedup_corpus()[1]),
        "EXPECTED_GIF_FRAMES_PARQUET":
            lambda: qe._ensure_gif_frames_parquet(qe._gif_anim_corpus()[1]),
        "EXPECTED_MP4_FRAMES_PARQUET": qe._ensure_mp4_frames_parquet,
    }
    committed = {name: getattr(qe, name) for name in writers}
    for name, path in committed.items():
        monkeypatch.setattr(qe, name, str(tmp_path / os.path.basename(path)))
    for ensure in writers.values():
        ensure()
    for name, path in committed.items():
        assert pq.read_table(getattr(qe, name)).equals(pq.read_table(path)), name
