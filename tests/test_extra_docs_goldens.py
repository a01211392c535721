"""Repo-only golden guard for the 33 in-repo real-format fixtures
(resources/extra_docs): every fixture's spans must equal the committed
expectation parquet byte for byte, and every image fixture's decoded gray
raster is pinned by shape, MD5 and dhash64.

Unlike tests/test_real_documents.py this module needs nothing outside the
repository, so it always runs. The raster pins were recorded from the
per-row decoders before the array-native rewrite; any drift in a decoder
(PNG unfilter, JPEG IDCT, VP8L transforms, TIFF predictor, BMP/GIF
palettes) shows up here even when the OCR text still happens to match.
It also pins that bench.py's real-format leg reads these fixtures alone,
and that scripts/gen_extra_fixtures.py regenerates every fixture byte
for byte.
"""

from __future__ import annotations

import functools
import hashlib
import os

import numpy as np
import pyarrow.parquet as pq
import pytest

from documentconvert_spark.ingest import _SUFFIX_TO_TYPE
from documentconvert_spark.kernels.detect import ROUTES, doc_format, extract
from documentconvert_spark.kernels.raster import decode_raster_gray, dhash64
from documentconvert_spark.udfs import _KERNELS

RES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "documentconvert_spark", "resources",
)
EXTRA = os.path.join(RES, "extra_docs")

# name → (width, height, md5 of the row-major uint8 raster, dhash64)
RASTER_PINS = {
    "fixture_gradient.bmp": (80, 50, "b871e4318211181593d4d01cfd1eee58", 297609347775602772),
    "fixture_mosaic.tiff": (90, 60, "1dfa1811e1a0f0252cec45c5d1f3b004", 3906369333255087654),
    "fixture_ocr_aa_label.png": (170, 46, "ae47186cca9c3d3f0ad9163d96362770", 10314469602932736),
    "fixture_ocr_aa_plate.tiff": (206, 46, "a05f681b9bb75785c79bb4530bfb7aa8", 47350092886364672),
    "fixture_ocr_aa_tag.webp": (247, 61, "c5dc9ebbedea57effcecc38be0aeeee5", 38751790452740268),
    "fixture_ocr_badge.png": (337, 85, "a6684b9bb549058c524973f45fe0135d", 3470182721566649773),
    "fixture_ocr_card.jpg": (278, 62, "92754aebcb5770406186184c19fc018e", 47472671556939776),
    "fixture_ocr_crate.tiff": (206, 46, "babda9ef06c92b6d5272da75fcdd7372", 56449262861725696),
    "fixture_ocr_kerned.png": (206, 30, "3af3ad90592ebf29f676deab46f0d09c", 148238959247360),
    "fixture_ocr_mixed_scale.png": (301, 73, "5fd97e3713a9c65b4504cb34505a2fcb", -1322188963367573368),
    "fixture_ocr_note.png": (230, 62, "2a20a60b3c82bf68cf84ac587672b90a", 58776209329509376),
    "fixture_ocr_panel.bmp": (218, 46, "68835ed78359fe991f50ec514cf9e6de", 47477499596810752),
    "fixture_ocr_prop.png": (246, 46, "7b7e875b980b3b154d1f343b54a21837", 46608168424462848),
    "fixture_ocr_scan.jpg": (230, 46, "892b2f98f07d69e30f2fd0f4ef2aaa98", 29916108038377472),
    "fixture_ocr_sign.gif": (158, 46, "ac6af50578f4df02516a1b905fe5ae7e", 24023614433824768),
    "fixture_ocr_tag.webp": (206, 46, "5705bcaa9763243d478d311f020b7c38", 48528241331972608),
    "fixture_swatch.webp": (72, 40, "3811bf52e082182d9cc97e12d6b2ab77", 1537040931237827669),
    "fixture_tiles.gif": (96, 64, "52ce8487e882d6949e05a74821d3affc", 7915978101100357156),
}


# fixture suffix → the name the document layer's recogniser gives it
FORMAT_BY_SUFFIX = {
    "pdf": "pdf", "rtf": "rtf", "html": "unknown",
    "docx": "zip", "xlsx": "zip", "odt": "zip", "ods": "zip", "odp": "zip",
    "doc": "ole", "xls": "ole", "ppt": "ole",
    "png": "png", "jpg": "jpeg", "gif": "gif", "bmp": "bmp", "tiff": "tiff", "webp": "webp",
}


def _doc_type(name: str) -> str:
    return _SUFFIX_TO_TYPE[name.rsplit(".", 1)[-1].lower()]


@functools.lru_cache(maxsize=1)
def _golden_spans() -> dict[str, list[tuple]]:
    tbl = pq.read_table(os.path.join(RES, "expected_real_spans.parquet")).to_pydict()
    expected: dict[str, list[tuple]] = {}
    for i, did in enumerate(tbl["doc_id"]):
        expected.setdefault(did, []).append(
            (tbl["offset"][i], tbl["kind"][i], tbl["media_ref"][i], tbl["text"][i]))
    return {did: sorted(rows) for did, rows in expected.items()}


def test_extra_docs_match_goldens_and_raster_pins():
    names = sorted(os.listdir(EXTRA))
    assert len(names) == 33
    assert sorted(n for n in names if _doc_type(n) == "image") == sorted(RASTER_PINS)
    expected = _golden_spans()
    for name in names:
        with open(os.path.join(EXTRA, name), "rb") as fh:
            data = fh.read()
        assert name in expected, f"no golden rows for {name}"
        got = [(s.offset, s.kind, s.media_ref, s.text) for s in _KERNELS[_doc_type(name)](data)]
        assert got == expected[name], f"span mismatch for {name}"
        if name not in RASTER_PINS:
            continue
        w, h, md5, dh = RASTER_PINS[name]
        _fmt, dw, dhh, gray = decode_raster_gray(data)
        assert (dw, dhh) == (w, h), name
        assert isinstance(gray, np.ndarray) and gray.dtype == np.uint8, name
        assert gray.shape == (h, w), name
        assert hashlib.md5(np.ascontiguousarray(gray).tobytes()).hexdigest() == md5, name
        assert dhash64(w, h, gray) == dh, name


def _outcome(parse, data: bytes):
    try:
        return parse(data)
    except Exception as exc:  # noqa: BLE001 — the error contract is the outcome
        return type(exc), str(exc)


@pytest.mark.parametrize("name", sorted(os.listdir(EXTRA)))
def test_fixture_routing_pins_format_and_cross_route_fallbacks(name):
    """The recogniser names each fixture's container; its own conversion
    route yields the golden spans; on either other route it has no entry
    and gets exactly that route's fallback parser's result, spans or the
    same exception."""
    with open(os.path.join(EXTRA, name), "rb") as fh:
        data = fh.read()
    fmt = doc_format(data)
    assert fmt == FORMAT_BY_SUFFIX[name.rsplit(".", 1)[-1]]
    own = _doc_type(name)
    got = [(s.offset, s.kind, s.media_ref, s.text) for s in extract(own, data)]
    assert got == _golden_spans()[name]
    for doc_type, (parsers, fallback) in ROUTES.items():
        if doc_type != own:
            assert fmt not in parsers
            assert (_outcome(functools.partial(extract, doc_type), data)
                    == _outcome(fallback, data))


def test_generator_reproduces_the_committed_fixtures():
    """The fixtures are generator output: build() must return exactly the
    committed files, byte for byte. This guards every format writer in
    corpus that the generator composes."""
    from scripts.gen_extra_fixtures import build

    built = build()
    assert sorted(built) == sorted(os.listdir(EXTRA))
    for name, data in built.items():
        with open(os.path.join(EXTRA, name), "rb") as fh:
            assert fh.read() == data, f"{name} no longer regenerates byte for byte"


def test_bench_real_format_leg_reads_the_fixtures(spark, tmp_path, monkeypatch):
    """bench.py's real-format leg times extractbench's realformat_fresh
    input, built from these fixtures alone: every fixture ×80 under its
    base doc_id, cached under bench.WORK."""
    import bench
    from pyspark.sql import functions as F

    monkeypatch.setattr(bench, "WORK", str(tmp_path))
    docs = bench.leg_input(spark, bench.EXTRACT_LEGS["real_docs_extract"])
    assert docs.inputFiles() and all(str(tmp_path) in f for f in docs.inputFiles())
    per_base = {
        r.base: r["count"]
        for r in docs.groupBy(F.regexp_extract("doc_id", r"^(.*)#\d+$", 1).alias("base"))
        .count().collect()
    }
    assert sum(per_base.values()) == 33 * 80
    assert sorted(per_base) == sorted(os.listdir(EXTRA))
    assert set(per_base.values()) == {80}
