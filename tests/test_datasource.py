"""Custom Python DataSource: the URL source fetches per executor slice,
contains failures per row, and flows into extraction."""

from __future__ import annotations


def test_urldocs_source_fetches_and_contains_failures(spark):
    from documentconvert_spark.sources import UrlDocsDataSource

    spark.dataSource.register(UrlDocsDataSource)
    manifest = "\n".join([
        "u1,image,http://example.test/a",
        "u2,image,http://example.test/b",
        "u3,image,http://example.test/missing",
        "u4,image",  # malformed manifest line: error row, not a planning failure
    ])
    df = (
        spark.read.format("urldocs")
        .option("urls", manifest)
        .option("fetcher", "documentconvert_spark.sources:offline_demo_fetcher")
        .option("urls_per_partition", 2)
        .load()
    )
    rows = {r.doc_id: r for r in df.collect()}
    assert len(rows) == 4
    assert rows["u1"].content is not None and rows["u1"].error is None
    assert rows["u1"].byte_len == len(rows["u1"].content)
    # failure contained per row, not a failed task
    assert rows["u3"].content is None and "404" in rows["u3"].error
    assert rows["u4"].content is None and "malformed manifest line 4" in rows["u4"].error

    # fetched bytes flow straight into the extraction pipeline
    from pyspark.sql import functions as F

    from documentconvert_spark.pipeline import extract_spans

    good = df.filter(F.col("error").isNull()).drop("error")
    out = extract_spans(good)
    got = {r.doc_id: r.n_spans for r in out.select("doc_id", "n_spans").collect()}
    assert got == {"u1": 2, "u2": 2}
