"""RIFF/AVI video decode: writer↔decoder split, budgets, containment.

Generator side: corpus.render_avi (real AVI: hdrl/avih/strl/strh/strf +
movi + idx1, per Microsoft's public 'AVI RIFF File Reference').
Decoder side: kernels/media.decode_avi_frames — an independent parse
path (RIFF walker + MJPG via the from-scratch T.81 decoder + raw DIB).
The reference's media surface stops at container sniffing for video;
frame decode is engine surface for the training-data tier.
"""

import struct

import pytest

from documentconvert_spark.corpus import box_frames, render_avi
from documentconvert_spark.kernels import limits
from documentconvert_spark.kernels.media import (
    _MAX_AVI_FRAMES,
    decode_avi_frames,
    sniff_av_meta,
)


def _grids(w, h, n, dark_rows=0):
    return [
        [bytearray([0] * w) if y < dark_rows else bytearray([255] * w)
         for y in range(h)]
        for _ in range(n)
    ]


@pytest.mark.parametrize("codec", ["MJPG", "DIB "])
def test_roundtrip_exact_on_bilevel(codec):
    w, h = 37, 21  # odd width exercises the 4-byte DIB stride padding
    grids = _grids(w, h, 3, dark_rows=5)
    data = render_avi(w, h, grids, fps=10, codec=codec)
    dw, dh, fps, frames = decode_avi_frames(data)
    assert (dw, dh, fps, len(frames)) == (w, h, 10.0, 3)
    for src, out in zip(grids, frames):
        # bilevel source: ±2 MJPG reconstruction error never crosses 128
        assert [sum(1 for v in r if v < 128) for r in out] == [
            sum(1 for v in r if v < 128) for r in src]
        assert all(abs(a - b) <= 2 for r1, r2 in zip(src, out)
                   for a, b in zip(r1, r2))


def test_sniff_av_meta_avi_duration():
    data = render_avi(16, 8, _grids(16, 8, 4), fps=8)
    # avih: dwMicroSecPerFrame(125000) × dwTotalFrames(4) = 500 ms
    assert sniff_av_meta(data) == ("avi", 16, 8, 500)


def test_not_avi_and_empty_movi_raise():
    with pytest.raises(ValueError, match="not a RIFF/AVI"):
        decode_avi_frames(b"\x00\x00\x00\x18ftypisom")
    with pytest.raises(ValueError, match="no video frames"):
        decode_avi_frames(b"RIFF\x04\x00\x00\x00AVI ")


def test_movi_before_header_raises():
    movi = b"LIST" + struct.pack("<I", 12) + b"movi" + b"00dc" + struct.pack("<I", 0)
    body = b"AVI " + movi
    with pytest.raises(ValueError, match="movi before"):
        decode_avi_frames(b"RIFF" + struct.pack("<I", len(body)) + body)


def test_truncated_dib_frame_raises():
    data = bytearray(render_avi(16, 8, _grids(16, 8, 2), codec="DIB "))
    # shrink the 2nd movi frame chunk's declared size below the raster
    # size (rfind would land on an idx1 entry, which also starts '00db')
    idx = data.find(b"00db", data.find(b"00db", data.find(b"movi")) + 4)
    data[idx + 4:idx + 8] = struct.pack("<I", 10)
    with pytest.raises(ValueError, match="shorter than raster"):
        decode_avi_frames(bytes(data))


def test_unsupported_compression_raises():
    data = bytearray(render_avi(16, 8, _grids(16, 8, 1), codec="DIB "))
    i = data.find(b"strf")
    data[i + 8 + 16:i + 8 + 20] = b"H264"  # biCompression fourcc
    with pytest.raises(ValueError, match="no decoder for compression"):
        decode_avi_frames(bytes(data))


def test_frame_size_disagreement_raises():
    # MJPG frame encodes 16x8 but avih declares 32x8
    data = bytearray(render_avi(16, 8, _grids(16, 8, 1), codec="MJPG"))
    i = data.find(b"avih")
    data[i + 8 + 32:i + 8 + 36] = struct.pack("<I", 32)
    with pytest.raises(ValueError, match="disagrees with avih"):
        decode_avi_frames(bytes(data))


def test_pixel_budget_charged_before_decode(monkeypatch):
    # 64x64 = 4096 px/frame; budget of 3 frames fails ON the 4th frame
    data = render_avi(64, 64, _grids(64, 64, 4), codec="DIB ")
    monkeypatch.setattr(limits, "MAX_PIXELS", 4096 * 3)
    with pytest.raises(ValueError, match="over budget"):
        decode_avi_frames(data)
    monkeypatch.setattr(limits, "MAX_PIXELS", 4096 * 4)
    w, h, _fps, frames = decode_avi_frames(data)
    assert len(frames) == 4


def test_frame_count_bomb_capped():
    # a header can DECLARE anything; the cap must bind on actual chunks.
    # Build movi bytes with _MAX_AVI_FRAMES+1 zero-size 00dc chunks: the
    # decoder must refuse at the cap, not loop on declared dwTotalFrames.
    frame = bytes(16 * 4)  # valid 4x4 24-bit DIB raster (stride 16)
    one = b"00db" + struct.pack("<I", len(frame)) + frame
    movi_body = b"movi" + one * (_MAX_AVI_FRAMES + 1)
    base = render_avi(4, 4, _grids(4, 4, 1), codec="DIB ")
    i = base.find(b"LIST")  # reuse the writer's own hdrl LIST
    sz = struct.unpack("<I", base[i + 4:i + 8])[0]
    hdrl = base[i:i + 8 + sz]
    movi = b"LIST" + struct.pack("<I", len(movi_body)) + movi_body
    body = b"AVI " + hdrl + movi
    bomb = b"RIFF" + struct.pack("<I", len(body)) + body
    # tiny frames: the pixel budget alone would admit them all
    with pytest.raises(ValueError, match="frame count over cap"):
        decode_avi_frames(bomb)


def test_real_video_frame_stats_spark(spark):
    from documentconvert_spark.ops.multimodal import real_video_frame_stats

    grids = _grids(20, 10, 2, dark_rows=3)
    rows = [("v-ok", render_avi(20, 10, grids, fps=5)),
            ("v-bad", b"garbage-not-a-container")]
    videos = spark.createDataFrame(rows, "doc_id string, content binary")
    out = real_video_frame_stats(videos).orderBy("doc_id", "frame_idx").collect()
    assert [(r.doc_id, r.frame_idx, r.n_dark, r.error is None) for r in out] == [
        ("v-bad", -1, None, False),
        ("v-ok", 0, 60, True),
        ("v-ok", 1, 60, True),
    ]


def test_wav_stereo_floor_average():
    # mono averaging floors toward -inf (Python //), pinned because the
    # audio oracle derives expected sums with the same documented rule
    from documentconvert_spark.kernels.media import decode_wav_samples
    from documentconvert_spark.queries_extraction import _wav_pcm_bytes

    wav = _wav_pcm_bytes(8000, [[-3, 5, -1], [2, -2, -2]], 16)
    _, _, mono = decode_wav_samples(wav)
    assert list(mono) == [-1, 1, -2]  # trunc would give 0, 1, -1


def test_real_audio_stats_spark(spark):
    from documentconvert_spark.ops.multimodal import real_audio_stats
    from documentconvert_spark.queries_extraction import _wav_pcm_bytes

    rows = [("a-ok", _wav_pcm_bytes(8000, [[100, -200, 300]], 16)),
            ("a-bad", b"not a wave")]
    audios = spark.createDataFrame(rows, "doc_id string, content binary")
    out = real_audio_stats(audios).orderBy("doc_id").collect()
    assert [(r.doc_id, r.sample_rate, r.n_samples, r.sum_abs, r.peak,
             r.error is None) for r in out] == [
        ("a-bad", None, None, None, None, False),
        ("a-ok", 8000, 3, 600, 300, True),
    ]


def test_webm_sniff_duration_and_dims():
    from documentconvert_spark.queries_extraction import _real_av_fixtures

    rows = {d: c for d, c, *_ in _real_av_fixtures()}
    exp = {d: rest for d, _c, *rest in _real_av_fixtures()}
    for did, (fmt, w, h, dur) in exp.items():
        if fmt in ("webm", "mp3", "avi"):
            assert sniff_av_meta(rows[did]) == (fmt, w, h, dur)


def test_webm_malformed_contained():
    # bare magic / truncated vints / zero-byte IDs: format only, no crash
    for tail in (b"", bytes(4), b"\x18\x53\x80\x67\xff", b"\x00" * 12):
        fmt, w, h, dur = sniff_av_meta(b"\x1aE\xdf\xa3" + tail)
        assert fmt == "webm" and dur is None


def test_mp3_sniff_walks_frames():
    frame = bytes([0xFF, 0xFB, 0x90, 0x00]) + bytes(144 * 128000 // 44100 - 4)
    assert sniff_av_meta(frame * 10) == ("mp3", None, None,
                                         int(10 * 1152 * 1000.0 / 44100))
    # free-format (bitrate index 0) and bad sample rate stop the walk
    assert sniff_av_meta(bytes([0xFF, 0xFB, 0x00, 0x00]) + bytes(100)) == (
        "mp3", None, None, None)
    # MPEG-2 Layer III: 576 samples/frame at half rate
    f2 = bytes([0xFF, 0xF3, 0x90, 0x00])  # ver=2, idx 9 = 80kbps @ 22050
    flen = 576 // 8 * 80 * 1000 // 22050
    assert sniff_av_meta((f2 + bytes(flen - 4)) * 5) == (
        "mp3", None, None, int(5 * 576 * 1000.0 / 22050))


def test_sniff_clamps_file_controlled_overflow():
    import struct as _st

    # webm Duration = inf: must sniff without raising, duration None
    inf_dur = (b"\x1a\x45\xdf\xa3\x80"
               + b"\x18\x53\x80\x67\x95"
               + b"\x15\x49\xa9\x66\x92"
               + b"\x2a\xd7\xb1\x84" + (1_000_000).to_bytes(4, "big")
               + b"\x44\x89\x88" + _st.pack(">d", float("inf")))
    assert sniff_av_meta(inf_dur) == ("webm", None, None, None)
    nan_dur = inf_dur.replace(_st.pack(">d", float("inf")),
                              _st.pack(">d", float("nan")))
    assert sniff_av_meta(nan_dur) == ("webm", None, None, None)
    # avi with usec×frames ≈ 1.8e16 ms: duration clamps to None (int32
    # downstream casts must never die on one crafted row)
    data = bytearray(render_avi(16, 8, _grids(16, 8, 1), fps=1))
    i = data.find(b"avih") + 8
    data[i:i + 4] = _st.pack("<I", 0xFFFFFFFF)       # dwMicroSecPerFrame
    data[i + 16:i + 20] = _st.pack("<I", 0xFFFFFFFF)  # dwTotalFrames
    fmt, w, h, dur = sniff_av_meta(bytes(data))
    assert (fmt, w, h, dur) == ("avi", 16, 8, None)


def test_dropped_frame_marker_skipped():
    # zero-size 00dc chunks are the standard dropped-frame marker: skip
    # them, never fail the document
    data = bytearray(render_avi(16, 8, _grids(16, 8, 2, dark_rows=3)))
    movi_at = data.find(b"movi")
    first = data.find(b"00dc", movi_at)
    data[first:first] = b"00dc" + struct.pack("<I", 0)
    # grow the movi LIST and RIFF sizes by the 8 inserted bytes
    lsz = struct.unpack("<I", data[movi_at - 4:movi_at])[0]
    data[movi_at - 4:movi_at] = struct.pack("<I", lsz + 8)
    rsz = struct.unpack("<I", data[4:8])[0]
    data[4:8] = struct.pack("<I", rsz + 8)
    w, h, _fps, frames = decode_avi_frames(bytes(data))
    assert (w, h, len(frames)) == (16, 8, 2)


def test_rec_list_interleaved_frames_decoded():
    # interleaved AVIs wrap frame chunks in 'LIST rec ' sub-lists of movi
    base = render_avi(16, 8, _grids(16, 8, 2, dark_rows=2), codec="DIB ")
    i = base.find(b"LIST")  # hdrl
    sz = struct.unpack("<I", base[i + 4:i + 8])[0]
    hdrl = base[i:i + 8 + sz]
    movi_at = base.find(b"movi")
    f1 = base.find(b"00db", movi_at)
    fsz = struct.unpack("<I", base[f1 + 4:f1 + 8])[0]
    frame = base[f1:f1 + 8 + fsz + (fsz & 1)]
    rec = b"LIST" + struct.pack("<I", 4 + len(frame)) + b"rec " + frame
    movi_body = b"movi" + rec + rec + rec
    movi = b"LIST" + struct.pack("<I", len(movi_body)) + movi_body
    body = b"AVI " + hdrl + movi
    avi = b"RIFF" + struct.pack("<I", len(body)) + body
    w, h, _fps, frames = decode_avi_frames(avi)
    assert (w, h, len(frames)) == (16, 8, 3)
    assert sum(1 for r in frames[0] for v in r if v < 128) == 32  # 2 rows


def test_webm_oversized_timecodescale_contained():
    import struct as _st

    # a TimecodeScale body longer than the 8-byte EBML uint max made
    # duration*scale raise OverflowError (int too large for float); the
    # malformed scale is now ignored and the default (1 ms units) applies
    def vsize2(n):
        return bytes([0x40 | (n >> 8), n & 0xFF])

    ts = b"\x2a\xd7\xb1" + vsize2(200) + bytes(200)
    dur = b"\x44\x89\x88" + _st.pack(">d", 1000.0)
    info_body = ts + dur
    info = b"\x15\x49\xa9\x66" + vsize2(len(info_body)) + info_body
    seg = b"\x18\x53\x80\x67" + vsize2(len(info)) + info
    data = b"\x1a\x45\xdf\xa3\x80" + seg
    assert sniff_av_meta(data) == ("webm", None, None, 1000)


def test_mp3_id3v24_footer_skipped():
    frame = bytes([0xFF, 0xFB, 0x90, 0x00]) + bytes(144 * 128000 // 44100 - 4)
    tag = b"ID3" + bytes([4, 0, 0x10]) + bytes([0, 0, 0, 20]) + bytes(20 + 10)
    assert sniff_av_meta(tag + frame * 8) == (
        "mp3", None, None, int(8 * 1152 * 1000.0 / 44100))


def test_dedup_video_frames_finds_planted_dups(spark):
    from documentconvert_spark.queries_extraction import q_dedup_video_frames

    rows = {(r.doc_a, r.doc_b): (r.matches, r.n_a, r.n_b)
            for r in q_dedup_video_frames(spark, "").collect()}
    # scene 0 renders 4 ways (MJPG, DIB re-encode, cut, extension): the
    # codec pair matches frame-for-frame across the lossy/lossless split
    assert rows[("vd-000", "vd-001")][0] == rows[("vd-000", "vd-001")][1]
    # the cut is the original minus its first frame
    m, n_a, n_b = rows[("vd-000", "vd-002")]
    assert (m, n_b) == (n_a - 1, n_a - 1)
    # no unrelated-scene pair sneaks in: every reported pair shares a scene
    scene_of = {}
    import random

    rng = random.Random("video-dedup:7")  # replay the corpus id layout
    vid = 0
    for s in range(12):
        n = 1 + (s % 3 == 0) + (s % 4 == 0) + (s % 5 == 0)
        for _ in range(n):
            scene_of[f"vd-{vid:03d}"] = s
            vid += 1
    assert all(scene_of[a] == scene_of[b] for a, b in rows)


def test_ogg_sniff_vorbis_and_opus():
    import struct as _st

    def page(granule, seq, payload, typ=0):
        return (b"OggS" + bytes([0, typ]) + _st.pack("<q", granule)
                + _st.pack("<II", 7, seq) + b"\x00" * 4
                + bytes([1, len(payload)]) + payload)

    ident = (b"\x01vorbis" + _st.pack("<IB", 0, 2) + _st.pack("<I", 44100)
             + _st.pack("<iii", 0, 128000, 0) + b"\xb8\x01")
    ogg = page(0, 0, ident, typ=2) + page(44100 * 5, 1, bytes(8), typ=4)
    assert sniff_av_meta(ogg) == ("ogg", None, None, 5000)
    # Opus granules are fixed 48 kHz regardless of the input rate
    opus = page(0, 0, b"OpusHead" + bytes(11), typ=2) + page(96000, 1, bytes(4), typ=4)
    assert sniff_av_meta(opus) == ("ogg", None, None, 2000)
    # unknown codec or granule -1 (no complete packet): format only
    assert sniff_av_meta(page(-1, 0, b"\x7fFLAC" + bytes(4), typ=2)) == (
        "ogg", None, None, None)
    assert sniff_av_meta(b"OggS" + bytes(10)) == ("ogg", None, None, None)


def test_real_video_keyframes_rule(spark):
    from documentconvert_spark.queries_extraction import (
        _KEYFRAME_DEN,
        _KEYFRAME_NUM,
        _video_corpus,
        q_real_video_keyframes,
    )

    got = {(r.doc_id, r.frame_idx) for r in
           q_real_video_keyframes(spark, "").collect()}
    # recompute from the SOURCE grids: frame 0 + >2%-area dark jumps
    _raw, sigs = _video_corpus()
    prev = {}
    exp = set()
    for did, idx, w, h, nd in sigs:
        if idx == 0 or abs(nd - prev[did]) * _KEYFRAME_DEN > w * h * _KEYFRAME_NUM:
            exp.add((did, idx))
        prev[did] = nd
    assert got == exp
    assert all((d, 0) in got for d, *_ in sigs)  # frame 0 always kept


def test_ocr_raster_text_gif_bmp(extra_doc):
    from documentconvert_spark.corpus import render_text_bmp, render_text_gif
    from documentconvert_spark.kernels.detect import extract
    from documentconvert_spark.kernels.miniocr import ocr_image_text

    assert ocr_image_text(render_text_gif(["GO LEFT 12"]), "gif") == ["GO LEFT 12"]
    assert ocr_image_text(render_text_bmp(["STOP 99"]), "bmp") == ["STOP 99"]
    # a multicolor raster bails to figure-only (mid-gray guard)
    assert ocr_image_text(extra_doc("fixture_tiles.gif"), "gif") == []
    spans = extract("image", render_text_bmp(["STOP 99"]))
    assert [s.kind for s in spans] == ["figure", "paragraph"]
    assert spans[1].text == "STOP 99"


def test_tiff_dims_sniffed_both_endians():
    import struct as _st

    from documentconvert_spark.kernels.raster import sniff_image_meta

    def tiff(le, w, h):
        end = "<" if le else ">"
        hdr = (b"II*\x00" if le else b"MM\x00*") + _st.pack(end + "I", 8)
        ifd = _st.pack(end + "H", 2)
        ifd += _st.pack(end + "HHI", 256, 3, 1) + _st.pack(end + "H2x", w)
        ifd += _st.pack(end + "HHI", 257, 4, 1) + _st.pack(end + "I", h)
        return hdr + ifd + _st.pack(end + "I", 0)

    assert sniff_image_meta(tiff(True, 640, 480)) == ("tiff", 640, 480)
    assert sniff_image_meta(tiff(False, 1200, 900)) == ("tiff", 1200, 900)
    assert sniff_image_meta(b"II*\x00\x08\x00") == ("tiff", None, None)


def test_review_fixes_tiff_gif_audio_containment(spark):
    import struct as _st

    from documentconvert_spark.kernels.detect import extract
    from documentconvert_spark.kernels.miniocr import _header_admits_text, ocr_image_text
    from documentconvert_spark.kernels.raster import sniff_image_meta
    from documentconvert_spark.queries_extraction import _wav_pcm_bytes

    # TIFF LONG dims >= 2^31 clamp to None (int32 casts downstream)
    hdr = b"II*\x00" + _st.pack("<I", 8)
    ifd = _st.pack("<H", 2)
    ifd += _st.pack("<HHIH2x", 256, 3, 1, 640)
    ifd += _st.pack("<HHII", 257, 4, 1, 2**31 + 5)
    tif = hdr + ifd + _st.pack("<I", 0)
    assert sniff_image_meta(tif) == ("tiff", 640, None)

    # GIF truncated right after the image descriptor (no LZW min-code
    # byte): figure-only, never an IndexError out of the route
    gif = (b"GIF89a" + _st.pack("<HH", 8, 8) + bytes([0x80, 0, 0])
           + bytes(6) + b"\x2C" + _st.pack("<HHHH", 0, 0, 8, 8) + b"\x00")
    assert ocr_image_text(gif, "gif") == []
    assert [s.kind for s in extract("image", gif)] == ["figure"]

    # photo-palette GIF bails before the LZW decode (palette pre-gate).
    # The gate is a MAJORITY rule since the antialiasing change: a
    # minority of mid tones (edge pixels of a soft render) passes
    # through to the post-threshold matcher, but a majority-mid palette
    # (a photo) still bails on the header alone.
    photo_hdr = b"GIF89a" + _st.pack("<HH", 8, 8) + bytes([0x80 | 1, 0, 0]) \
        + bytes((100, 100, 100, 128, 128, 128, 160, 160, 160, 255, 255, 255))
    assert not _header_admits_text(photo_hdr, "gif")
    aa_hdr = b"GIF89a" + _st.pack("<HH", 8, 8) + bytes([0x80 | 1, 0, 0]) \
        + bytes((10, 10, 10, 128, 128, 128, 0, 0, 0, 255, 255, 255))
    assert _header_admits_text(aa_hdr, "gif")

    # one corrupt audio blob must not fail the dedup stage
    from documentconvert_spark.queries_extraction import _audio_corpus
    from documentconvert_spark.queries_extraction import (
        q_dedup_audio_fingerprint,  # noqa: F401 — shape pinned elsewhere
    )
    raw, _ = _audio_corpus()
    rows = raw[:3] + [("ad-bad", b"fLaC garbage that cannot decode")]
    from documentconvert_spark.ops.multimodal import real_audio_stats  # sanity
    got = real_audio_stats(
        spark.createDataFrame(rows, "doc_id string, content binary")).collect()
    assert sum(1 for r in got if r.error) == 1


# ------------------------------------------------------------ animated GIF

def test_gif_animation_compose_disposal_transparency():
    from documentconvert_spark.corpus import encode_gif_anim
    from documentconvert_spark.kernels.raster import decode_gif_frames

    pal = [(0, 0, 0), (255, 255, 255), (100, 100, 100), (30, 200, 90)]
    lum = [0, 255, 100, (30 * 299 + 200 * 587 + 90 * 114) // 1000]
    w, h = 12, 8
    f0 = [(x + y) % 2 for y in range(h) for x in range(w)]
    f1 = [3 if x == y else 2 for y in range(3) for x in range(4)]
    frames = [
        {"idx": f0},
        {"idx": f1, "left": 2, "top": 1, "fw": 4, "fh": 3,
         "transparent": 3, "disposal": 2},
        {"idx": [1] * 6, "left": 6, "top": 5, "fw": 3, "fh": 2},
    ]
    dw, dh, out = decode_gif_frames(encode_gif_anim(w, h, frames, pal, 2))
    assert (dw, dh, len(out)) == (w, h, 3)
    assert all(out[0][y][x] == lum[(x + y) % 2] for y in range(h) for x in range(w))
    # frame 1: region drawn except transparent diagonal keeps frame-0 pixels
    for y in range(3):
        for x in range(4):
            want = lum[(x + 2 + y + 1) % 2] if x == y else lum[2]
            assert out[1][1 + y][2 + x] == want
    # frame 2 base: disposal 2 restored frame 1's region to background
    assert out[2][2][3] == lum[0]
    assert out[2][5][6] == lum[1]


def test_gif_animation_disposal_previous():
    from documentconvert_spark.corpus import encode_gif_anim
    from documentconvert_spark.kernels.raster import decode_gif_frames

    pal = [(0, 0, 0), (255, 255, 255)]
    w, h = 6, 4
    frames = [
        {"idx": [1] * (w * h)},
        # disposal 3: the black box vanishes again before frame 2
        {"idx": [0] * 4, "left": 1, "top": 1, "fw": 2, "fh": 2, "disposal": 3},
        {"idx": [0] * 2, "left": 4, "top": 0, "fw": 2, "fh": 1},
    ]
    _, _, out = decode_gif_frames(encode_gif_anim(w, h, frames, pal, 2))
    assert out[1][1][1] == 0          # drawn in frame 1
    assert out[2][1][1] == 255        # restored-to-previous before frame 2
    assert out[2][0][4] == 0          # frame 2's own region


def test_gif_animation_containment(monkeypatch):
    import pytest

    from documentconvert_spark.corpus import encode_gif_anim
    from documentconvert_spark.kernels import raster
    from documentconvert_spark.kernels.raster import decode_gif_frames

    pal = [(0, 0, 0), (255, 255, 255)]
    good = encode_gif_anim(6, 4, [{"idx": [1] * 24}], pal, 2)
    with pytest.raises(ValueError):
        decode_gif_frames(good[:20])
    # region outside the canvas is rejected, not written out of bounds
    bad = encode_gif_anim(6, 4, [{"idx": [1] * 24},
                                 {"idx": [0] * 4, "left": 5, "top": 3,
                                  "fw": 2, "fh": 2}], pal, 2)
    with pytest.raises(ValueError, match="outside canvas"):
        decode_gif_frames(bad)
    # frame-count cap charged before decode work
    many = encode_gif_anim(4, 4, [{"idx": [1] * 16} for _ in range(9)], pal, 2)
    monkeypatch.setattr(raster, "_MAX_GIF_FRAMES", 8)
    with pytest.raises(ValueError, match="frame count over cap"):
        decode_gif_frames(many)


# ---------------------------------------------------------------- MP4 carving

def test_mp4_mjpeg_roundtrip_near_lossless():
    from documentconvert_spark.corpus import render_mp4_mjpeg
    from documentconvert_spark.kernels.media import _mp4_meta, decode_mp4_frames

    for n in (1, 2, 5, 6):  # 1 exercises the single-run stsc; 5 the odd tail
        grids = box_frames(48, 32, n)
        blob = render_mp4_mjpeg(48, 32, grids, fps=12)
        w, h, fps, frames = decode_mp4_frames(blob)
        assert (w, h, len(frames)) == (48, 32, n)
        assert abs(fps - 12) < 1e-9
        for g, fr in zip(grids, frames):
            assert all(abs(a - b) <= 2 for r0, r1 in zip(g, fr)
                       for a, b in zip(r0, r1))
        # the metadata sniffer agrees with the carver on the same bytes
        assert _mp4_meta(blob) == ("mp4", 48, 32, n * 1000 // 12)


def test_mp4_co64_offsets_decoded():
    import struct as _st

    from documentconvert_spark.corpus import render_mp4_mjpeg
    from documentconvert_spark.kernels.media import decode_mp4_frames

    grids = box_frames(24, 24, 3)
    blob = render_mp4_mjpeg(24, 24, grids, fps=10)
    # rewrite the stco box into an equivalent co64 (8-byte offsets)
    i = blob.index(b"stco")
    size = int.from_bytes(blob[i - 4:i], "big")
    body = blob[i + 4:i - 4 + size]
    n = int.from_bytes(body[4:8], "big")
    offs = [int.from_bytes(body[8 + 4 * k:12 + 4 * k], "big") for k in range(n)]
    co64_body = body[:8] + b"".join(_st.pack(">Q", o) for o in offs)
    co64 = _st.pack(">I", len(co64_body) + 8) + b"co64" + co64_body
    grown = len(co64) - size
    out = bytearray(blob[:i - 4] + co64 + blob[i - 4 + size:])
    # grow every enclosing box header (stbl/minf/mdia/trak/moov)
    for cc in (b"stbl", b"minf", b"mdia", b"trak", b"moov"):
        j = out.index(cc)
        _st.pack_into(">I", out, j - 4,
                      int.from_bytes(out[j - 4:j], "big") + grown)
    w, h, _fps, frames = decode_mp4_frames(bytes(out))
    assert (w, h, len(frames)) == (24, 24, 3)


def test_mp4_containment_paths(monkeypatch):
    import pytest

    from documentconvert_spark.corpus import render_mp4_mjpeg
    from documentconvert_spark.kernels.media import decode_mp4_frames

    one = render_mp4_mjpeg(16, 16, box_frames(16, 16, 1), fps=10)
    # unsupported codec is named, not misdecoded
    avc = one.replace(b"\x00\x00\x00\x56jpeg", b"\x00\x00\x00\x56avc1", 1)
    with pytest.raises(ValueError, match="no decoder for codec avc1"):
        decode_mp4_frames(avc)
    with pytest.raises(ValueError, match="not an ISO-BMFF file"):
        decode_mp4_frames(b"RIFF\x00\x00\x00\x00AVI ")
    with pytest.raises(ValueError, match="no moov box"):
        decode_mp4_frames(b"\x00\x00\x00\x18ftypisom" + b"\x00" * 16)
    # pixel budget charged BEFORE the frame decode
    four = render_mp4_mjpeg(16, 16, box_frames(16, 16, 4), fps=10)
    with monkeypatch.context() as m:
        m.setattr(limits, "MAX_PIXELS", 16 * 16 * 2)
        with pytest.raises(ValueError, match="decoded pixels over budget"):
            decode_mp4_frames(four)
    # a sample range pointing outside the file is rejected, not sliced short
    import struct as _st

    bad = bytearray(render_mp4_mjpeg(16, 16, box_frames(16, 16, 2), fps=10))
    i = bad.index(b"stco")
    _st.pack_into(">I", bad, i + 12, len(bad) + 100)  # first chunk offset
    with pytest.raises(ValueError, match="sample range outside the file"):
        decode_mp4_frames(bytes(bad))


def test_mp4_routed_through_video_stats_surface(spark):
    from documentconvert_spark.corpus import render_mp4_mjpeg
    from documentconvert_spark.ops.multimodal import real_video_frame_stats

    grids = box_frames(32, 24, 2)
    rows = [("m-0", render_mp4_mjpeg(32, 24, grids, fps=10)),
            ("m-1", b"\x00\x00\x00\x18ftypisom" + b"\x00" * 16)]
    df = spark.createDataFrame(rows, "doc_id string, content binary")
    got = {(r.doc_id, r.frame_idx): (r.width, r.height, r.n_dark, r.error)
           for r in real_video_frame_stats(df).collect()}
    exp_dark = [sum(1 for row in g for v in row if v < 128) for g in grids]
    assert got[("m-0", 0)] == (32, 24, exp_dark[0], None)
    assert got[("m-0", 1)] == (32, 24, exp_dark[1], None)
    assert got[("m-1", -1)] == (None, None, None, "mp4: no moov box")


def test_mp4_stsz_declared_count_bomb_capped():
    import struct as _st

    import pytest

    from documentconvert_spark.corpus import render_mp4_mjpeg
    from documentconvert_spark.kernels.media import decode_mp4_frames

    # a 20-byte stsz can DECLARE 2^32-1 fixed-size samples; the cap must
    # bind before the [fixed]*n allocation, not after
    bad = bytearray(render_mp4_mjpeg(16, 16, box_frames(16, 16, 2), fps=10))
    i = bad.index(b"stsz")
    _st.pack_into(">II", bad, i + 8, 1, 0xFFFFFFFF)  # fixed=1, count=2^32-1
    with pytest.raises(ValueError, match="frame count over cap"):
        decode_mp4_frames(bytes(bad))


def _swap_box(blob: bytes, fourcc: bytes, new_body: bytes) -> bytes:
    """Replace a leaf box's body, growing every enclosing box header."""
    import struct as _st

    i = blob.index(fourcc)
    size = int.from_bytes(blob[i - 4:i], "big")
    grown = (len(new_body) + 8) - size
    out = bytearray(blob[:i - 4]
                    + _st.pack(">I", len(new_body) + 8) + fourcc + new_body
                    + blob[i - 4 + size:])
    for cc in (b"mdia", b"trak", b"moov"):
        j = out.index(cc)
        _st.pack_into(">I", out, j - 4,
                      int.from_bytes(out[j - 4:j], "big") + grown)
    return bytes(out)


def test_mp4_mdhd_version1_timescale_offset():
    import struct as _st

    from documentconvert_spark.kernels.media import decode_mp4_frames

    from documentconvert_spark.corpus import render_mp4_mjpeg

    base = render_mp4_mjpeg(16, 16, box_frames(16, 16, 2), fps=10)
    # full v1 mdhd (36-byte body): timescale at +20, fps must still parse
    v1 = (_st.pack(">I", 0x01000000) + _st.pack(">QQ", 0, 0)
          + _st.pack(">I", 1000) + _st.pack(">Q", 200)
          + _st.pack(">HH", 0x55C4, 0))
    w, h, fps, frames = decode_mp4_frames(_swap_box(base, b"mdhd", v1))
    assert (w, h, len(frames)) == (16, 16, 2) and abs(fps - 10) < 1e-9
    # TRUNCATED v1 mdhd (20-byte body, timescale would sit past the box
    # end): must yield fps 0.0, never read the next box's bytes
    cut = _st.pack(">I", 0x01000000) + _st.pack(">QQ", 0, 0)
    w, h, fps, frames = decode_mp4_frames(_swap_box(base, b"mdhd", cut))
    assert (w, h, len(frames), fps) == (16, 16, 2, 0.0)


def test_bimodal_gate_block_feed_equals_row_feed():
    """TIFF feeds the gate one decoded strip at a time: a block verdict
    must equal feeding its rows one by one and stopping at the first
    False, with the same running state afterwards."""
    import numpy as np

    from documentconvert_spark.kernels.raster import _BimodalGate

    rng = np.random.default_rng(3)
    for trial in range(200):
        h, w = int(rng.integers(1, 60)), int(rng.integers(1, 40))
        mid_rows = rng.random(h) < rng.random()
        raster = np.where(mid_rows[:, None],
                          rng.integers(33, 224, size=(h, w)),
                          rng.choice([0, 255], size=(h, w))).astype(np.uint8)
        rows = _BimodalGate()
        row_verdict = True
        for r in raster:
            if not rows.feed(r):
                row_verdict = False
                break
        block = _BimodalGate()
        cut = int(rng.integers(0, h + 1))
        block_verdict = block.feed(raster[:cut]) and block.feed(raster[cut:])
        assert block_verdict == row_verdict, trial
        assert (block.mid, block.total, block.run) == (rows.mid, rows.total, rows.run)


def test_bimodal_gate_run_rule_bounds_letterboxed_photos():
    from documentconvert_spark.kernels.raster import _BimodalGate

    # blown-out margin then a photo band at 50% mid: the cumulative rule
    # alone never trips (mid stays under half); the run rule must
    gate = _BimodalGate()
    for _ in range(30):
        assert gate.feed(bytearray([255] * 100))
    verdicts = [gate.feed(bytearray([160] * 100)) for _ in range(24)]
    assert all(verdicts[:-1]) and verdicts[-1] is False
    # a text-like cadence (short mid bands split by background) never
    # accumulates a run, regardless of raster height
    gate = _BimodalGate()
    ok = True
    for _ in range(13):  # renders lead with background margin (≥4 px)
        ok = ok and gate.feed(bytearray([255] * 90))
    for _ in range(200):
        for _ in range(12):  # ≤12-row blurred glyph band (55% mid)
            ok = ok and gate.feed(bytearray([160] * 50 + [255] * 40))
        for _ in range(13):  # inter-line background keeps cumulative <½
            ok = ok and gate.feed(bytearray([255] * 90))
    assert ok
