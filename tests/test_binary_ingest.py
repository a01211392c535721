"""binaryFile directory ingestion → extraction end-to-end: real files on
disk, glob filtering, suffix dispatch, unknown-suffix containment."""

from __future__ import annotations

from documentconvert_spark.ingest import binary_dir_as_raw
from documentconvert_spark.pipeline import extract_spans
from tests.test_kernels import fixture_corpus


def test_binary_dir_ingest_and_extract(spark, tmp_path):
    sub = tmp_path / "landing" / "nested"
    sub.mkdir(parents=True)
    ext = {"pdf": "pdf", "markup": "html", "image": "png"}
    n_written = 0
    for d in fixture_corpus():
        if d.expect_error:
            continue
        (sub / f"{d.doc_id}.{ext[d.doc_type]}").write_bytes(d.content)
        n_written += 1
    (sub / "notes.txt").write_bytes(b"not a supported format")

    raw = binary_dir_as_raw(spark, str(tmp_path / "landing"))
    rows = raw.collect()
    assert len(rows) == n_written + 1
    by_id = {r.doc_id: r for r in rows}
    assert by_id["notes.txt"].doc_type == "unknown"
    assert all(r.byte_len == len(r.content) for r in rows)

    out = extract_spans(raw)
    res = {r.doc_id: r for r in out.collect()}
    # supported files extract cleanly; the unknown suffix becomes an
    # error row (C7 containment), not a failed task
    assert res["notes.txt"].error is not None
    ok = [r for d, r in res.items() if d != "notes.txt"]
    assert all(r.error is None for r in ok)
    # empty-document fixtures legitimately yield 0 spans; the rest extract
    assert all(r.n_spans > 0 for r in ok if not r.doc_id.startswith("fempty"))


def test_binary_dir_glob_pushdown(spark, tmp_path):
    d = tmp_path / "mix"
    d.mkdir()
    for doc in fixture_corpus()[:6]:
        (d / f"{doc.doc_id}.pdf").write_bytes(doc.content)
        (d / f"{doc.doc_id}.log").write_bytes(b"skip me")
    only_pdf = binary_dir_as_raw(spark, str(d), glob="*.pdf")
    assert only_pdf.count() == 6
    assert all(r.doc_type == "pdf" for r in only_pdf.collect())


def test_doc_id_url_decode_preserves_literal_plus(spark, tmp_path):
    """URI percent-decoding only: '+' in a filename must survive decoding
    (form-decode semantics would turn it into a space)."""
    from documentconvert_spark.ingest import binary_dir_as_raw

    d = tmp_path / "plusdir"
    d.mkdir()
    (d / "report+v2 draft.html").write_bytes(b"<html><body><p>x y z</p></body></html>")
    (d / "plain+name.html").write_bytes(b"<html><body><p>a b c</p></body></html>")
    names = {r.doc_id for r in binary_dir_as_raw(spark, str(d)).select("doc_id").collect()}
    assert names == {"report+v2 draft.html", "plain+name.html"}
