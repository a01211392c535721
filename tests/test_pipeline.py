"""Spark-side golden + orchestration tests (SURVEY.md §5.2 items 1, 3)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from documentconvert_spark.corpus import corpus_rows, make_doc
from documentconvert_spark.pipeline import (
    extract_spans,
    prepare_documents,
    run_extraction_job,
    size_aware_split,
)
from documentconvert_spark.schemas import DOCUMENTS_RAW
from documentconvert_spark.state import MAX_ATTEMPTS, StateStore
from tests.test_kernels import fixture_corpus


@pytest.fixture()
def docs_df(spark):
    return spark.createDataFrame(corpus_rows(fixture_corpus()), schema=DOCUMENTS_RAW)


def _span_tuples(rows):
    return {
        r.doc_id: None if r.spans is None else [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans]
        for r in rows
    }


def test_spark_golden_span_equality(spark, docs_df):
    """The per-row invariant on Spark: exact (kind, text, media_ref, offset)
    equality per doc_id, across Arrow batch and partition boundaries."""
    out = extract_spans(docs_df.repartition(7))  # deliberately odd partitioning
    got = _span_tuples(out.collect())
    for d in fixture_corpus():
        if d.expect_error:
            assert got[d.doc_id] is None
        else:
            assert got[d.doc_id] == [(s.kind, s.text, s.media_ref, s.offset) for s in d.expected], d.doc_id


def test_partitioning_invariance(spark, docs_df):
    """Span output must not depend on partitioning or batch size (§7.3)."""
    a = _span_tuples(extract_spans(docs_df.coalesce(1)).collect())
    b = _span_tuples(extract_spans(docs_df.repartition(13)).collect())
    assert a == b


def test_markdown_and_error_columns(spark, docs_df):
    rows = extract_spans(docs_df).collect()
    by_id = {r.doc_id: r for r in rows}
    ok = by_id["ffig-000000"]
    assert ok.error is None and ok.status == "completed"
    assert "![](images/img-ffig-000000-0.jpg)" in ok.markdown
    assert ok.n_spans == len(make_doc("F-FIG", 0).expected)
    bad = by_id["fpoison-000000"]
    assert bad.status == "failed" and bad.error_class == "malformed_input"
    assert "Conversion failed" in bad.markdown
    assert bad.spans is None and bad.n_spans is None


def test_encoding_repair_on_ingest(spark, docs_df):
    fixed = prepare_documents(docs_df).filter(F.col("doc_id").startswith("fenc")).collect()
    for r in fixed:
        assert "%" not in r.source_path
        # latin-1 / gbk mojibake repaired back to CJK
        assert any("一" <= ch <= "鿿" for ch in r.source_path), r.source_path


def test_size_aware_split_isolates_heavy_tail(spark):
    docs = [make_doc("F-HEAD", i) for i in range(60)] + [make_doc("F-BIG", 0)]
    df = spark.createDataFrame(corpus_rows(docs), schema=DOCUMENTS_RAW)
    # small_corpus_bytes=0 pins the LARGE-corpus regime (two-branch split);
    # heavy_min_bytes=0 lets the 40 KB fixture doc count as heavy
    light, heavy = size_aware_split(
        df, target_partitions=4, small_corpus_bytes=0, heavy_min_bytes=0
    )
    heavy_ids = [r.doc_id for r in heavy.select("doc_id").collect()]
    assert heavy_ids == ["fbig-000000"]
    assert light.count() == 60
    # each heavy doc gets its own partition
    assert heavy.rdd.getNumPartitions() == 1


def test_size_aware_split_kb_tail_skips_isolation(spark):
    docs = [make_doc("F-HEAD", i) for i in range(60)] + [make_doc("F-BIG", 0)]
    df = spark.createDataFrame(corpus_rows(docs), schema=DOCUMENTS_RAW)
    # large regime but the p99 cut is KB-scale (40 KB fixture): scan splits
    # already bound partition bytes, so no isolation branch and no shuffle
    light, heavy = size_aware_split(df, target_partitions=4, small_corpus_bytes=0)
    assert heavy.count() == 0
    assert light.count() == 61


def test_size_aware_split_small_regime_single_pass(spark):
    docs = [make_doc("F-HEAD", i) for i in range(60)] + [make_doc("F-BIG", 0)]
    df = spark.createDataFrame(corpus_rows(docs), schema=DOCUMENTS_RAW)
    # a corpus under target×maxPartitionBytes takes the one-shuffle path:
    # everything in the light frame, heavy empty, cores all fed
    light, heavy = size_aware_split(df, target_partitions=4)
    assert heavy.count() == 0
    assert light.count() == 61
    assert light.rdd.getNumPartitions() == 4


def test_job_resume_and_retry(spark, docs_df, tmp_path):
    out = str(tmp_path / "spans_out")
    st = StateStore(spark, str(tmp_path / "state"))

    r1 = run_extraction_job(spark, docs_df, out, st, target_partitions=4)
    n_poison = 3
    assert r1.processed == r1.docs_in
    assert r1.failed == n_poison
    assert r1.completed == r1.docs_in - n_poison

    # run 2: only failed docs are retried (attempt 2)
    r2 = run_extraction_job(spark, docs_df, out, st, target_partitions=4)
    assert r2.processed == n_poison and r2.skipped == r2.docs_in - n_poison

    # run 3: attempt 3 (the cap)
    r3 = run_extraction_job(spark, docs_df, out, st, target_partitions=4)
    assert r3.processed == n_poison

    # run 4: poison docs are terminal — nothing left to do
    r4 = run_extraction_job(spark, docs_df, out, st, target_partitions=4)
    assert r4.processed == 0 and r4.run_id is None

    # no duplicate completed outputs across runs
    spans_out = spark.read.parquet(out)
    ok = spans_out.filter(F.col("error").isNull())
    assert ok.count() == ok.select("doc_id").distinct().count() == r1.completed

    # DLQ slice: terminal failures stay queryable with attempt == cap
    latest = st.latest().filter(F.col("status") == "failed")
    assert latest.count() == n_poison
    assert all(r.attempt == MAX_ATTEMPTS for r in latest.collect())

    # lineage rule: {bucket}/{stem}/markdown
    lrow = st.latest().filter(F.col("doc_id") == "fhead-000000").first()
    assert lrow.lineage.endswith("/fhead-000000/markdown")
    assert lrow.lineage.startswith("bucket-")

    # state tallies: one row per attempt, and the latest row per doc splits
    # into completed and failed (the a1_status_counts / a3_batch_tallies view)
    assert st.read().count() == r1.docs_in + 2 * n_poison
    by_status = {r.status: r["count"] for r in st.latest().groupBy("status").count().collect()}
    assert by_status == {"completed": r1.completed, "failed": n_poison}
    assert sum(by_status.values()) == r1.docs_in


def test_committed_output_reader_excludes_crash_orphans(spark, tmp_path):
    """A crash between the output write and the state append leaves an
    orphan output run directory; read_committed_output must exclude it so
    downstream readers see each completed doc exactly once (O5 recovery
    semantics) — and the committed link must survive state compaction and
    ignore half-appended (no _SUCCESS) state runs."""
    import os
    import shutil

    from documentconvert_spark.corpus import corpus_rows, generate_corpus
    from documentconvert_spark.pipeline import read_committed_output, run_extraction_job
    from documentconvert_spark.schemas import DOCUMENTS_RAW
    from documentconvert_spark.state import StateStore

    docs = generate_corpus(30, seed=7)
    docs_df = spark.createDataFrame(corpus_rows(docs), schema=DOCUMENTS_RAW)
    out = str(tmp_path / "out")
    st = StateStore(spark, str(tmp_path / "state"))

    r1 = run_extraction_job(spark, docs_df, out, st, target_partitions=4)
    assert r1.processed == 30

    # simulate the crash window: an output run dir with NO state append
    orphan = str(tmp_path / "out" / "run_id=deadbeef0000")
    committed_dir = str(tmp_path / "out" / f"run_id={r1.run_id}")
    shutil.copytree(committed_dir, orphan)

    raw = spark.read.parquet(out)
    assert raw.count() == 60  # naive reader double-counts

    good = read_committed_output(spark, out, st)
    assert good.count() == r1.completed  # completed rows, exactly once
    assert good.select("doc_id").distinct().count() == r1.completed

    # a half-appended state run (part files, no _SUCCESS) must not count
    half = str(tmp_path / "state" / "run_id=deadbeef0000")
    shutil.copytree(str(tmp_path / "state" / f"run_id={r1.run_id}"), half)
    os.remove(os.path.join(half, "_SUCCESS"))
    assert st.run_ids().count() == 1  # still only the committed run

    # state compaction rewrites run directories — the committed link is
    # DATA (src_run_id) and must survive
    st.compact()
    good2 = read_committed_output(spark, out, st)
    assert good2.count() == r1.completed

    # retried failures produce one artifact per attempt (reference writes
    # an error .md per attempt too) — completed rows stay exactly-once
    r2 = run_extraction_job(spark, docs_df, out, st, target_partitions=4)
    n_poison = sum(1 for d in docs if d.expect_error)
    assert r2.processed == n_poison  # only retryable failures re-selected
    good3 = read_committed_output(spark, out, st)
    assert good3.count() == r1.completed
    assert good3.select("doc_id").distinct().count() == r1.completed
    with_failures = read_committed_output(spark, out, st, completed_only=False)
    assert with_failures.count() == r1.completed + 2 * n_poison  # attempts 1+2


def test_max_docs_batch_is_parallel(spark, docs_df, tmp_path):
    """orderBy().limit() / limit() plan as TakeOrderedAndProject /
    GlobalLimit — ONE output partition. A max_docs-bounded batch must be
    re-spread across tasks, not extracted serially (the split's
    large-corpus branches deliberately do not reshuffle, so without the
    rescue the whole batch rides the limit's single partition)."""
    out = str(tmp_path / "spans_out")
    st = StateStore(spark, str(tmp_path / "state"))
    # The fixed code never reads openCostInBytes on the max_docs path
    # (it pins small_corpus_bytes=-1.0) — this override exists for the
    # REGRESSION case: if someone removes the batch respread AND its
    # regime pin, the tiny fixture corpus would land in the small-corpus
    # rescue and repartition anyway, masking the limit collapse this
    # test is here to catch.
    old = spark.conf.get("spark.sql.files.openCostInBytes", "4194304")
    spark.conf.set("spark.sql.files.openCostInBytes", "1")
    try:
        r = run_extraction_job(
            spark, docs_df, out, st, target_partitions=4, max_docs=20
        )
    finally:
        spark.conf.set("spark.sql.files.openCostInBytes", old)
    assert r.processed == 20
    got = spark.read.parquet(out)
    assert got.select("partition_id").distinct().count() > 1


def test_state_retention_at_thousand_runs(spark, tmp_path):
    """Iceberg-analogue retention at the 10^3-committed-runs scale (r3
    verdict ask #6): a long-lived corpus appends one state run per job;
    after 1,000 committed runs, compact() must collapse the directory
    fan-out to ONE run while leaving latest() byte-identical, and a
    CRASHED compaction (output directory without _SUCCESS) must leave
    readers on the old runs untouched."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from documentconvert_spark.state import StateStore

    root = str(tmp_path / "state")
    os.makedirs(root)
    n_runs, docs_per_run, n_docs = 1000, 5, 200
    base = dt.datetime(2026, 1, 1)
    # write the run directories directly (pyarrow, _SUCCESS-committed):
    # 1000 Spark writes would test nothing extra and cost minutes
    for r in range(n_runs):
        run = f"r{r:04d}"
        d = os.path.join(root, f"run_id={run}")
        os.makedirs(d)
        ids = [f"doc{(r * docs_per_run + j) % n_docs:03d}" for j in range(docs_per_run)]
        t = pa.table({
            "doc_id": pa.array(ids, pa.string()),
            "partition_id": pa.array([r % 32] * docs_per_run, pa.int32()),
            "status": pa.array(["completed" if (r + j) % 7 else "failed"
                                for j in range(docs_per_run)], pa.string()),
            "attempt": pa.array([1 + r // 400] * docs_per_run, pa.int32()),
            "started_at": pa.array([base + dt.timedelta(seconds=r)] * docs_per_run,
                                   pa.timestamp("us")),
            "completed_at": pa.array([base + dt.timedelta(seconds=r, milliseconds=j)
                                      for j in range(docs_per_run)], pa.timestamp("us")),
            "processing_s": pa.array([0.5] * docs_per_run, pa.float64()),
            "n_spans": pa.array([3] * docs_per_run, pa.int32()),
            "error": pa.array([None] * docs_per_run, pa.string()),
            "error_class": pa.array([None] * docs_per_run, pa.string()),
            "lineage": pa.array([f"bkt/{i}/markdown" for i in ids], pa.string()),
            "src_run_id": pa.array([run] * docs_per_run, pa.string()),
        })
        pq.write_table(t, os.path.join(d, "part-00000.parquet"))
        open(os.path.join(d, "_SUCCESS"), "w").close()

    st = StateStore(spark, root)
    assert len(st._committed_run_dirs()) == n_runs
    assert st.read().count() == n_runs * docs_per_run

    def snap(df):
        return sorted(
            (r.doc_id, r.status, r.attempt, r.completed_at, r.src_run_id)
            for r in df.collect()
        )

    lat_before = snap(st.latest())
    assert len(lat_before) == n_docs

    # crashed compaction: output directory exists, no _SUCCESS — readers
    # must stay on the old runs (it contains a poisoned subset that would
    # corrupt latest() if it were ever read)
    crash = os.path.join(root, "run_id=crashedcompact")
    os.makedirs(crash)
    pq.write_table(
        pa.table({"doc_id": pa.array(["doc000"], pa.string()),
                  "status": pa.array(["failed"], pa.string()),
                  "attempt": pa.array([99], pa.int32()),
                  "src_run_id": pa.array(["crashedcompact"], pa.string())}),
        os.path.join(crash, "part-00000.parquet"),
    )
    assert len(st._committed_run_dirs()) == n_runs
    assert snap(st.latest()) == lat_before

    # real compaction: ONE committed run, latest() identical, row count
    # collapses from 5000 to one row per doc, crashed dir swept
    st.compact()
    dirs = st._committed_run_dirs()
    assert len(dirs) == 1
    assert not os.path.exists(crash)
    assert st.read().count() == n_docs
    assert snap(st.latest()) == lat_before


def test_select_work_ids_one_state_pass(spark, tmp_path):
    """Work selection is one aggregate over the state and one left join:
    completed docs (however many failed rows sit beside them) and docs
    failed MAX_ATTEMPTS times drop out, the rest come back once each at
    max(attempt) + 1. The executed plan scans the state once, joins once
    and has no latest-row window."""
    import datetime
    import re

    from documentconvert_spark.pipeline import select_work_ids
    from documentconvert_spark.schemas import EXTRACTION_STATE

    t = datetime.datetime(2026, 1, 1, 10, 0, 0)

    def row(doc_id, status, attempt, completed_at=t):
        return (doc_id, 0, status, attempt, t, completed_at, 0.01, 1, None,
                None, f"runs/x/{doc_id}", None)

    store = StateStore(spark, str(tmp_path / "state"))
    store.append(spark.createDataFrame([
        row("crash", "completed", 1),
        row("tie", "completed", 2, completed_at=None),
        row("tie", "failed", 2),
        *[row("terminal", "failed", a) for a in range(1, MAX_ATTEMPTS + 1)],
        row("retry", "failed", 1),
    ], schema=EXTRACTION_STATE), run_id="r1")
    store.append(spark.createDataFrame([
        # the crash double-append: a later failed row beside a completion
        row("crash", "failed", MAX_ATTEMPTS),
        row("retry", "failed", 2),
    ], schema=EXTRACTION_STATE), run_id="r2")

    docs = spark.createDataFrame(
        [(d,) for d in ("crash", "tie", "terminal", "retry", "retry",
                        "fresh", "fresh")],
        "doc_id string",
    )
    todo = select_work_ids(docs, store)
    assert sorted((r.doc_id, r.attempt) for r in todo.collect()) == [
        ("fresh", 1), ("retry", 3),
    ]

    plan = todo._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert len(re.findall(r"FileScan", final)) == 1, final
    assert len(re.findall(r"\w+Join\b", final)) == 1, final
    assert "Window" not in final, final
