"""Regenerate the real-document golden parquet from the reference's own
sample corpus (/root/reference/test) using the current kernels.

Run whenever kernel behavior intentionally changes (e.g. heading levels
added in round 2). Deterministic: same kernels + same files => identical
parquet. The committed goldens pin exact span sequences; tests and the
real_docs_* contract queries compare against them.
"""

from __future__ import annotations

import hashlib
import os
import sys
import urllib.parse

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa
import pyarrow.parquet as pq

from documentconvert_spark.ingest import _SUFFIX_TO_TYPE
from documentconvert_spark.kernels.detect import extract, extract_media_files
from documentconvert_spark.kernels.markdown import spans_to_markdown
from documentconvert_spark.kernels.raster import decode_raster_gray, sniff_image_meta

REF = "/root/reference/test"
RES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                   "documentconvert_spark", "resources")
# crafted deterministic fixtures (scripts/gen_extra_fixtures.py) pinning
# layout behaviors the reference samples don't hit
EXTRA = os.path.join(RES, "extra_docs")


def _crosscheck_pixel_stats(pixel_rows: dict) -> None:
    """The pixel golden is computed BY the decoder, so on its own it is a
    self-referential oracle (r3 advice). Before writing it, verify every
    fixture whose source raster the generator owns against stats derived
    purely from that source (gen_extra_fixtures.source_pixel_stats):
    exact for lossless formats, ±1.5 luma for the DCT JPEGs. A decoder
    bug now fails the regen instead of silently re-baselining."""
    from gen_extra_fixtures import source_pixel_stats

    expected = source_pixel_stats()
    seen = set()
    for i, doc_id in enumerate(pixel_rows["doc_id"]):
        if doc_id not in expected:
            continue  # carved media from the real reference docs: pinned only
        seen.add(doc_id)
        src_mean, src_dark, exact = expected[doc_id]
        got_mean = pixel_rows["mean_luma"][i]
        got_dark = pixel_rows["dark_frac"][i]
        if pixel_rows["error"][i] is not None:
            raise SystemExit(f"{doc_id}: decoder error {pixel_rows['error'][i]!r} "
                             f"but the source raster decodes fine")
        if exact:
            ok = got_mean == src_mean and got_dark == src_dark
        else:
            ok = (abs(got_mean - src_mean) <= 1.5 and abs(got_dark - src_dark) <= 0.02)
        if not ok:
            raise SystemExit(
                f"{doc_id}: decoder stats (mean={got_mean}, dark={got_dark}) "
                f"disagree with source-derived (mean={src_mean}, dark={src_dark}, "
                f"exact={exact}) — decoder bug, refusing to re-baseline"
            )
    missing = set(expected) - seen
    if missing:
        raise SystemExit(f"source-checked fixtures absent from pixel rows: {sorted(missing)}")


def main() -> None:
    span_rows = {"doc_id": [], "offset": [], "kind": [], "media_ref": [], "text": [], "level": []}
    doc_rows = {"doc_id": [], "status": [], "n_spans": [], "markdown_md5": []}
    media_rows = {"doc_id": [], "media_ref": [], "format": [], "width": [],
                  "height": [], "byte_len": [], "content_md5": []}
    pixel_rows = {"doc_id": [], "media_ref": [], "format": [], "width": [],
                  "height": [], "mean_luma": [], "dark_frac": [], "error": []}
    files = [(name, os.path.join(REF, name)) for name in sorted(os.listdir(REF))]
    if os.path.isdir(EXTRA):
        files += [(name, os.path.join(EXTRA, name))
                  for name in sorted(os.listdir(EXTRA))]
    for name, path in files:
        doc_id = urllib.parse.unquote(name)
        with open(path, "rb") as fh:
            data = fh.read()
        spans = extract(_SUFFIX_TO_TYPE[name.rsplit(".", 1)[-1].lower()], data)
        doc_rows["doc_id"].append(doc_id)
        doc_rows["status"].append("completed")
        doc_rows["n_spans"].append(len(spans))
        doc_rows["markdown_md5"].append(
            hashlib.md5(spans_to_markdown(spans).encode("utf-8")).hexdigest()
        )
        for s in spans:
            span_rows["doc_id"].append(doc_id)
            span_rows["offset"].append(s.offset)
            span_rows["kind"].append(s.kind)
            span_rows["media_ref"].append(s.media_ref)
            span_rows["text"].append(s.text)
            span_rows["level"].append(s.level)
        for ref, blob in extract_media_files(data):
            fmt, width, height = sniff_image_meta(blob)
            media_rows["doc_id"].append(doc_id)
            media_rows["media_ref"].append(ref)
            media_rows["format"].append(fmt)
            media_rows["width"].append(width)
            media_rows["height"].append(height)
            media_rows["byte_len"].append(len(blob))
            media_rows["content_md5"].append(hashlib.md5(blob).hexdigest())
            # real-pixel pass: from-scratch raster decode (same kernel the
            # real_pixel_stats contract query runs), stats identical to
            # ops/multimodal.real_raster_stats
            pixel_rows["doc_id"].append(doc_id)
            pixel_rows["media_ref"].append(ref)
            try:
                dfmt, dw, dh, gray = decode_raster_gray(blob)
                pixel_rows["format"].append(dfmt)
                pixel_rows["width"].append(dw)
                pixel_rows["height"].append(dh)
                pixel_rows["mean_luma"].append(round(float(gray.mean()), 3))
                pixel_rows["dark_frac"].append(round(float((gray < 128).mean()), 3))
                pixel_rows["error"].append(None)
            except Exception as exc:  # noqa: BLE001 — containment parity
                pixel_rows["format"].append("unknown")
                pixel_rows["width"].append(None)
                pixel_rows["height"].append(None)
                pixel_rows["mean_luma"].append(None)
                pixel_rows["dark_frac"].append(None)
                pixel_rows["error"].append(str(exc)[:200])
    pq.write_table(
        pa.table(span_rows, schema=pa.schema([
            ("doc_id", pa.string()), ("offset", pa.int32()), ("kind", pa.string()),
            ("media_ref", pa.string()), ("text", pa.string()), ("level", pa.int32()),
        ])),
        os.path.join(RES, "expected_real_spans.parquet"),
    )
    pq.write_table(
        pa.table(doc_rows, schema=pa.schema([
            ("doc_id", pa.string()), ("status", pa.string()),
            ("n_spans", pa.int32()), ("markdown_md5", pa.string()),
        ])),
        os.path.join(RES, "expected_real_docs.parquet"),
    )
    pq.write_table(
        pa.table(media_rows, schema=pa.schema([
            ("doc_id", pa.string()), ("media_ref", pa.string()), ("format", pa.string()),
            ("width", pa.int32()), ("height", pa.int32()), ("byte_len", pa.int32()),
            ("content_md5", pa.string()),
        ])),
        os.path.join(RES, "expected_real_media.parquet"),
    )
    _crosscheck_pixel_stats(pixel_rows)
    pq.write_table(
        pa.table(pixel_rows, schema=pa.schema([
            ("doc_id", pa.string()), ("media_ref", pa.string()), ("format", pa.string()),
            ("width", pa.int32()), ("height", pa.int32()), ("mean_luma", pa.float64()),
            ("dark_frac", pa.float64()), ("error", pa.string()),
        ])),
        os.path.join(RES, "expected_real_pixels.parquet"),
    )
    print(f"docs={len(doc_rows['doc_id'])} spans={len(span_rows['doc_id'])} "
          f"media={len(media_rows['doc_id'])} pixels={len(pixel_rows['doc_id'])} "
          f"decoded={sum(1 for e in pixel_rows['error'] if e is None)}")


if __name__ == "__main__":
    main()
