"""Corpus-scale invariant checks through the full Spark pipeline
(FIXTURES.md 'correctness at scale'): validated with Spark-native
predicates — nothing large is collected to the driver."""

from __future__ import annotations

from pyspark.sql import functions as F

from documentconvert_spark.corpus import corpus_rows, generate_corpus
from documentconvert_spark.kernels.markdown import spans_to_markdown
from documentconvert_spark.pipeline import extract_spans, size_aware_split
from documentconvert_spark.schemas import DOCUMENTS_RAW
from tests.test_kernels import KINDS

N = 3000


def test_scale_invariants(spark, tmp_path):
    path = str(tmp_path / "corpus")
    rows = corpus_rows(generate_corpus(N, big_every=97))
    # written as 16 input partitions, so size_aware_split sees a
    # multi-partition frame as a real scan would give it
    spark.createDataFrame(rows, schema=DOCUMENTS_RAW).repartition(16).write.parquet(path)
    docs = spark.read.parquet(path)
    assert docs.rdd.getNumPartitions() >= 8
    light, heavy = size_aware_split(docs, target_partitions=8)
    out = extract_spans(light).unionByName(extract_spans(heavy)).cache()

    assert out.count() == N
    ok = out.filter(F.col("error").isNull())

    # offsets dense 0..n-1 in order (posexplode position == offset)
    offset_violations = (
        ok.select(F.posexplode("spans").alias("pos", "s"))
        .filter(F.col("pos") != F.col("s.offset"))
        .count()
    )
    assert offset_violations == 0

    exploded = ok.select(F.explode("spans").alias("s"))
    # kind domain
    assert exploded.filter(~F.col("s.kind").isin(*KINDS)).count() == 0
    # media_ref non-empty iff figure; text empty for figures
    assert exploded.filter(
        ((F.col("s.media_ref") != "") != (F.col("s.kind") == "figure"))
        | ((F.col("s.kind") == "figure") & (F.col("s.text") != ""))
    ).count() == 0

    # markdown column == an independent local fold of the spans, with rows
    # streamed one partition at a time
    mismatches = [
        r.doc_id
        for r in ok.select("doc_id", "spans", "markdown").toLocalIterator()
        if r.markdown != spans_to_markdown([s.asDict() for s in r.spans])
    ]
    assert mismatches == []

    # n_spans consistency and error exclusivity
    assert ok.filter(F.col("n_spans") != F.size("spans")).count() == 0
    bad = out.filter(F.col("error").isNotNull())
    assert bad.filter(F.col("spans").isNotNull()).count() == 0
    assert bad.filter(F.col("error_class") != "malformed_input").count() == 0
    out.unpersist()


def test_gen_sf_preserves_stopwords_and_replica_distinctness(tmp_path):
    """The SF generator's per-replica letter bijection must hold Gopher
    stopwords as word-level fixed points: before the round-5 fix a raw
    translate destroyed every literal stopword, so only base-replica
    docs could pass the Gopher stopword rule and scaled-corpus funnel
    selectivity collapsed to 1/K (the r4 verdict's data-construction
    artifact). Also pins the original invariants: replica texts stay
    pairwise distinct (dedup/LSH work linear in K) and character length
    is untouched."""
    import os
    import subprocess
    import sys

    import duckdb

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    dst = str(tmp_path / "sfgen")
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "scripts", "gen_sf.py"),
         "/root/testdata/sf0.001", dst, "3"],
        capture_output=True, text=True, cwd=repo, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    con = duckdb.connect()
    docs = os.path.join(dst, "documents.parquet")
    per_rep = con.sql(f"""
        SELECT doc_id // 100000000 AS rep, count(*) AS n,
               sum(CASE WHEN len(list_intersect(
                     list_distinct(string_split_regex(lower(trim(text)), '\\s+')),
                     ['the','a','be','to','of','and','that','have','with'])) >= 2
                   THEN 1 ELSE 0 END) AS sw_pass
        FROM '{docs}' GROUP BY 1 ORDER BY 1""").fetchall()
    assert [r[0] for r in per_rep] == [0, 1, 2]
    base_pass = per_rep[0][2]
    assert base_pass > 0
    # stopwords are fixed points -> the stopword rule's verdict is
    # replica-invariant, not 0 beyond the base replica
    assert all(r[2] == base_pass for r in per_rep), per_rep
    dup, = con.sql(f"""
        WITH d AS (SELECT doc_id % 100000000 AS base, doc_id // 100000000 AS rep, text
                   FROM '{docs}')
        SELECT count(*) FROM d a JOIN d b
        ON a.base = b.base AND a.rep < b.rep AND a.text = b.text""").fetchone()
    assert dup == 0
    lenmis, = con.sql(f"""
        WITH d AS (SELECT doc_id % 100000000 AS base, doc_id // 100000000 AS rep,
                          len(text) AS L FROM '{docs}')
        SELECT count(*) FROM d a JOIN d b
        ON a.base = b.base AND a.rep < b.rep AND a.L != b.L""").fetchone()
    assert lenmis == 0
