"""The end-to-end extraction job (SURVEY.md §3.1 re-expression).

The reference's whole REST→queue→download→convert→upload→update lifecycle
collapses to one declarative DAG:

    docs ──left_join(state aggregated per doc: done, max attempt)──▶ todo
    todo ──size-aware split (heavy tail isolated)──▶ extract UDF
         ──▶ spans + markdown + error columns
         ──▶ spans_out parquet  +  state append (per-doc row, per-partition metrics)

Scale design (north_rule mandates, SURVEY.md §4):
- **Size-aware partitioning.** Docs above the byte-length p99 (the 167 MB-PDF
  analogue, PROJECT_OVERVIEW.md:769) are split out and round-robin
  repartitioned so each heavy doc gets its own task instead of serializing a
  mixed partition; the light tail hash-partitions on doc_id — with many
  small docs per partition, hash placement equalizes partition *bytes* by
  the law of large numbers. The quantile comes from a column-pruned
  approxQuantile over byte_len only, so the pre-pass is cheap at any scale.
- **Minimal shuffle.** The repartitions are the only shuffles in the hot
  path; extraction, markdown fold, and state-row derivation are narrow.
  Work selection is one doc_id-keyed aggregate over the state table and
  one left join against a doc_id-only projection; AQE picks broadcast vs SMJ.
- **Arrow batches.** maxRecordsPerBatch capped in session.py bounds
  Python-side memory per batch of large documents.
- **Containment.** A malformed document becomes an error row (C7), so one
  poison doc can never fail a 100 TB job.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from documentconvert_spark.state import MAX_ATTEMPTS, StateStore
from documentconvert_spark.udfs import extract_dispatch, fix_encoding_udf

HEAVY_QUANTILE = 0.99
HEAVY_MEDIAN_FACTOR = 8.0  # a doc is heavy only if ≥ 8× the median too
HEAVY_MAX_FANOUT = 8  # heavy partitions ≥ target_partitions × this only via row cap
# Arrow batches never span partitions, so capping ROWS per heavy partition
# caps heavy batch bytes: ≤ 32 × (MB-scale doc) ≈ 10²MB per in-flight
# batch per core, independent of the session's maxRecordsPerBatch (tuned
# high for the KB-scale bulk). The price is more, smaller heavy tasks —
# correct granularity anyway for docs that each take seconds to parse.
HEAVY_ROWS_PER_TASK = 32
# Heavy-tail isolation only pays when a single doc is a multi-second task
# or a giant Arrow batch — i.e. at MB scale. Below this cut the scan's own
# maxPartitionBytes bound already balances partitions, and the isolation
# branch (a second content scan over row groups its filter cannot skip,
# because heavy docs interleave with light ones, plus a shuffle) costs
# more than it saves: measured 2× the whole write phase on a 160k-doc
# corpus whose p99 cut was 40 KB.
HEAVY_MIN_BYTES = 1 << 20


def prepare_documents(docs: DataFrame) -> DataFrame:
    """Ingest normalization: repair source_path encoding (reference fixes
    filename encoding at task creation, unified_document_api.py:277-283)."""
    return docs.withColumn("source_path", fix_encoding_udf(F.col("source_path")))


_SIZE_SUFFIX = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _parse_bytes(v: str) -> int:
    """Spark byte-size strings: '134217728', '16m', '128MB', '1g'."""
    s = str(v).strip().lower().removesuffix("b")
    if s and s[-1] in _SIZE_SUFFIX:
        return int(float(s[:-1]) * _SIZE_SUFFIX[s[-1]])
    return int(s or 0)


@dataclass(frozen=True)
class CorpusStats:
    """One column-pruned aggregate pass over byte_len: everything the split
    needs to make its partitioning decisions without executing the extraction
    DAG. Compute once per corpus and reuse across runs — the stats don't
    change when the job re-executes."""

    n: int
    total_bytes: int
    median: float
    p99: float

    @property
    def heavy_threshold(self) -> float:
        """The byte_len cut separating the heavy tail (p99 AND ≥8× median):
        a uniform corpus (p99 ≈ median) splits nothing; a skewed corpus
        isolates exactly its heavy tail."""
        if self.n == 0:
            return float("inf")
        return max(self.p99, HEAVY_MEDIAN_FACTOR * self.median, 1.0)


def corpus_stats(docs: DataFrame) -> CorpusStats:
    """Profile the corpus in ONE job: row count, total bytes, and the
    byte_len percentiles the heavy cut derives from. Column-pruned to
    byte_len only, so the pre-pass is cheap at any scale."""
    row = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("byte_len"), F.lit(0)).alias("total_bytes"),
        F.expr(
            f"approx_percentile(byte_len, array(0.5, {HEAVY_QUANTILE}), 1000)"
        ).alias("pct"),
    ).first()
    if not row or not row["n"] or row["pct"] is None:
        return CorpusStats(0, 0, 0.0, 0.0)
    median, p99 = row["pct"]
    return CorpusStats(int(row["n"]), int(row["total_bytes"]), float(median), float(p99))


def size_aware_split(
    docs: DataFrame,
    target_partitions: int,
    stats: CorpusStats | None = None,
    small_corpus_bytes: float | None = None,
    heavy_min_bytes: int = HEAVY_MIN_BYTES,
) -> tuple[DataFrame, DataFrame]:
    """Size-aware partitioning, returned as a (light, heavy) pair. Three
    regimes, decided from CorpusStats alone — nothing here triggers a
    content scan or an AQE stage materialization:

    **Small corpus** (too few bytes for the scan to feed every core —
    total under target × openCostInBytes, the floor of Spark's adaptive
    split sizing): one round-robin repartition of the whole frame and an
    empty heavy slice. One scan, one cheap bounded shuffle — the
    two-branch form would scan the corpus twice for no benefit, and
    round-robin placement spreads the heavy docs maximally evenly (every
    n-th row).

    **Large corpus, KB-scale tail** (the heavy cut lands under
    heavy_min_bytes): no split at all — the frame rides its scan splits.
    maxPartitionBytes already byte-bounds every partition, no single doc
    can serialize one, and the isolation branch would cost a second
    content scan plus a shuffle for zero benefit (see HEAVY_MIN_BYTES).

    **Large corpus, genuinely heavy tail** (the 100 TB case with MB-scale
    outliers — the reference's 167 MB PDF): the light slice is
    deliberately NOT reshuffled; a parquet/Iceberg scan already yields
    byte-balanced splits no bigger than maxPartitionBytes, so
    repartitioning the bulk would add a full-corpus shuffle for nothing.
    Only the heavy tail — the docs that are each a multi-second task — is
    isolated (a pushdown-friendly byte_len re-scan) and round-robin
    spread, and that slice is ~1% of rows by construction."""
    if stats is None:
        stats = corpus_stats(docs)
    threshold = stats.heavy_threshold
    if small_corpus_bytes is None:
        # Spark's split sizing (FilePartition.maxSplitBytes) adapts
        # bytes-per-split down to max(openCostInBytes, total/parallelism),
        # so a scan only yields fewer than target_partitions splits when
        # total_bytes < target × openCost — below that line one cheap
        # shuffle (bounded by that same product) fixes core starvation;
        # above it the scan feeds every core by itself.
        open_cost = _parse_bytes(
            docs.sparkSession.conf.get("spark.sql.files.openCostInBytes", "4194304")
        )
        small_corpus_bytes = target_partitions * open_cost
    if threshold != float("inf") and stats.total_bytes <= small_corpus_bytes:
        return docs.repartition(target_partitions), docs.limit(0)
    if threshold == float("inf") or threshold < heavy_min_bytes:
        # KB-regime corpus: no doc can serialize a partition (scan splits
        # are byte-bounded), so the whole frame rides its scan splits —
        # zero shuffles, one content pass
        return docs, docs.limit(0)
    # Inclusive bound because on small corpora p99 lands on the max itself.
    light = docs.filter(F.col("byte_len") < threshold)
    heavy = docs.filter(F.col("byte_len") >= threshold)
    n_heavy = heavy.count()
    if n_heavy:
        # enough partitions that (a) each holds ≤ HEAVY_ROWS_PER_TASK docs
        # (bounds Arrow batch bytes — see constant) and (b) small tails
        # still spread one-doc-per-task up to the fan-out factor
        n_parts = min(
            max(n_heavy // HEAVY_ROWS_PER_TASK + 1, target_partitions * HEAVY_MAX_FANOUT),
            n_heavy,
        )
        heavy = heavy.repartition(n_parts)
    return light, heavy


def extract_spans(docs: DataFrame, passthrough: tuple[str, ...] = ()) -> DataFrame:
    """Core conversion: documents_raw → spans_out columns. Narrow (no
    shuffle). The flagship transformation (SURVEY.md §7.2)."""
    keep = [c for c in passthrough if c in docs.columns]
    return (
        docs.withColumn("r", extract_dispatch("doc_id", "doc_type", "content"))
        .withColumn("partition_id", F.spark_partition_id())
        .select(
            "doc_id",
            *keep,
            "partition_id",
            F.col("r.spans").alias("spans"),
            F.col("r.markdown").alias("markdown"),
            F.col("r.n_spans").alias("n_spans"),
            F.col("r.error").alias("error"),
            F.col("r.error_class").alias("error_class"),
            F.col("r.processing_s").alias("processing_s"),
        )
        .withColumn("status", F.when(F.col("error").isNull(), "completed").otherwise("failed"))
    )


def lineage_column() -> F.Column:
    """Output lineage key `{source_bucket}/{stem}/markdown` — pure column
    expressions (reference path rule, s3_upload_service.py:351-385)."""
    stem = F.regexp_replace(F.regexp_extract("source_path", r"([^/]+)$", 1), r"\.[A-Za-z0-9.]+$", "")
    return F.concat_ws("/", F.col("source_bucket"), stem, F.lit("markdown"))


@dataclass
class JobResult:
    run_id: str | None
    docs_in: int
    processed: int
    completed: int
    failed: int
    skipped: int
    n_spans_total: int
    wall_s: float


def select_work_ids(docs: DataFrame, state: StateStore) -> DataFrame:
    """Slim work selection: one (doc_id, attempt) row per UNIQUE doc_id
    still to do, from ONE aggregate over the state table and ONE left
    join. Per doc, `done` says some run completed it and `prev_attempt`
    is its highest attempt. Runs only ever write completed or failed
    rows, so a doc that is not done has only failed rows, its latest row
    is failed at max(attempt), and "retries exhausted" is exactly
    prev_attempt >= MAX_ATTEMPTS — no latest-row window needed. Runs on
    a doc_id-only projection (see the shuffle-cost note in
    run_extraction_job). The distinct() is load-bearing twice over:
    (a) duplicate doc_ids in the input (repeated crawl output) would
    otherwise multiply through run_extraction_job's inner join back — K
    copies of one doc become K×K extraction rows; (b) a HOT duplicate
    key is collapsed by the distinct's partial aggregation map-side,
    BEFORE any shuffle, so the join never sees the skew at all (and
    reuses the distinct's doc_id exchange — no extra shuffle). Pinned by
    tests/test_skew_join.py; general skewed-join salting for joins that
    can't pre-collapse lives in ops/skew.salted_join."""
    per_doc = state.read().groupBy("doc_id").agg(
        F.max(F.col("status") == "completed").alias("done"),
        F.max("attempt").alias("prev_attempt"),
    )
    prev = F.coalesce(F.col("prev_attempt"), F.lit(0))
    return (
        docs.select("doc_id")
        .distinct()
        .join(per_doc, "doc_id", "left")
        .where(~F.coalesce(F.col("done"), F.lit(False)) & (prev < MAX_ATTEMPTS))
        .select("doc_id", (prev + 1).cast("int").alias("attempt"))
    )


def run_extraction_job(
    spark: SparkSession,
    docs: DataFrame,
    out_path: str,
    state: StateStore,
    target_partitions: int | None = None,
    priority_expr: F.Column | None = None,
    max_docs: int | None = None,
) -> JobResult:
    """One resumable pass: work selection against the state → size-aware
    extract → write output + append state. Rerunning after any interruption converges
    to all-done with no duplicate processing (idempotent per doc_id);
    failed docs are retried until MAX_ATTEMPTS then parked as the DLQ slice.
    """
    t0 = time.monotonic()
    target_partitions = target_partitions or spark.sparkContext.defaultParallelism

    # ONE profiling pass over the raw frame (UDF- and join-free plan, pruned
    # to byte_len) yields the input count AND the split's partitioning
    # stats. Thresholds from the full corpus rather than the post-selection
    # remainder is deliberate: the cut stays stable across resume runs.
    stats = corpus_stats(docs)
    docs_in = stats.n

    docs = prepare_documents(docs)
    # Work selection runs on a SLIM doc_id projection, never on the fat
    # frame: a join planned as sort-merge shuffles its whole left
    # side, and letting `content` ride that shuffle is the single most
    # expensive mistake this job can make (measured: +70% on the write
    # phase — AQE's runtime SMJ→BHJ rescue still pays the map-side
    # shuffle write of every content byte). Joining ids first keeps any
    # shuffle to ~20 bytes/doc at any scale; the one fat join below
    # broadcasts the todo list while it is small (AQE decides from the
    # materialized size), and on a warehouse deployment both sides are
    # bucketed by doc_id (Iceberg `bucket(N, doc_id)`), making it a
    # storage-partitioned join with no shuffle at all.
    if state.is_empty():
        # fresh corpus (metadata-only check): everything is todo on
        # attempt 1 — no join in the plan at all
        todo = docs.withColumn("attempt", F.lit(1).cast("int"))
    else:
        todo = docs.join(select_work_ids(docs, state), "doc_id", "inner")
    # bounded, priority-ordered work selection (reference: fetch worker
    # pulls `limit=max_concurrent_tasks` pending tasks per poll in strict
    # high>normal>low order, enhanced_task_processor.py:259-307). orderBy+
    # limit compiles to TakeOrderedAndProject — no global sort at scale.
    if max_docs is not None:
        todo = todo.orderBy(priority_expr) if priority_expr is not None else todo
        todo = todo.limit(max_docs)
        # GlobalLimit / TakeOrderedAndProject emit ONE output partition;
        # without a rescue the whole bounded batch would extract as a
        # single task (the split's large-corpus branches deliberately do
        # not reshuffle). One round-robin shuffle of ≤ max_docs rows —
        # bounded by the caller's own knob — restores parallelism.
        todo = todo.repartition(target_partitions)

    light, heavy = size_aware_split(
        todo,
        target_partitions,
        stats=stats,
        # a max_docs batch was just round-robin spread above; the
        # small-corpus rescue would shuffle it a second time for nothing
        small_corpus_bytes=-1.0 if max_docs is not None else None,
    )
    extracted = [
        extract_spans(part, passthrough=("source_bucket", "source_path", "attempt"))
        for part in (light, heavy)
    ]
    out = extracted[0].unionByName(extracted[1])

    # in-flight metrics (SURVEY.md A2 — reference keeps live counters,
    # enhanced_task_processor.py:87-92): an Observation rides the action
    # that materializes the output; no extra pass.
    from pyspark.sql import Observation

    obs = Observation("extract_metrics")
    out = out.observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("error").isNull(), 1).otherwise(0)).alias("n_completed"),
        F.sum(F.coalesce(F.col("n_spans"), F.lit(0))).alias("n_spans_total"),
    )

    # Single materializing action: extraction streams STRAIGHT to the
    # run-scoped output directory (observation rides the write). Caching
    # the full spans+markdown output before writing — the previous shape —
    # pins the run's entire payload in executor memory; at corpus scale
    # that is the exact anti-pattern the 100 TB design forbids. The narrow
    # state columns ride along in the output files and are derived by a
    # column-pruned read-back, which costs a footer-and-small-columns scan,
    # not a second extraction.
    import uuid as _uuid

    from documentconvert_spark.tableio import overwrite_table, read_table

    run_id = _uuid.uuid4().hex[:12]
    run_dir = os.path.join(out_path, f"run_id={run_id}")
    started_iso = F.current_timestamp()
    overwrite_table(
        out.select(
            "doc_id", "spans", "markdown", "n_spans", "error", "error_class",
            "partition_id", "status", "attempt", "processing_s",
            "source_bucket", "source_path",
        ),
        run_dir,
    )
    live = obs.get
    processed = int(live["n_docs"] or 0)
    completed_n = int(live["n_completed"] or 0)

    if processed:
        written = read_table(spark, run_dir)
        state_rows = (
            written.withColumn("started_at", started_iso)
            .withColumn("completed_at", F.current_timestamp())
            .withColumn("lineage", lineage_column())
            .select(
                "doc_id",
                F.col("partition_id").cast("int").alias("partition_id"),
                "status",
                "attempt",
                "started_at",
                "completed_at",
                "processing_s",
                F.col("n_spans").cast("int").alias("n_spans"),
                "error",
                "error_class",
                "lineage",
            )
        )
        state.append(state_rows, run_id=run_id)
    else:
        # a no-op rerun wrote only an empty _SUCCESS-marked dir; remove it
        # so out_path doesn't accumulate pseudo-orphans
        import shutil

        shutil.rmtree(run_dir, ignore_errors=True)
        run_id = None
    return JobResult(
        run_id=run_id,
        docs_in=docs_in,
        processed=processed,
        completed=completed_n,
        failed=processed - completed_n,
        skipped=docs_in - processed,
        n_spans_total=int(live["n_spans_total"] or 0),
        wall_s=time.monotonic() - t0,
    )


def read_committed_output(
    spark: SparkSession,
    out_path: str,
    state: StateStore,
    completed_only: bool = True,
) -> DataFrame:
    """Exactly-once output reader: the job writes the output run directory
    BEFORE appending state (both share one run_id), so a crash in that
    window leaves an orphan output directory whose docs get reprocessed by
    the next run. Filtering to state-committed run_ids (derived from state
    DATA, so compaction-safe; _SUCCESS-gated, so half-appended state never
    counts) plus completed rows gives each successfully-converted doc
    EXACTLY ONCE: completed docs are never selected again.
    ``completed_only=False`` additionally returns failure artifacts — one
    row per ATTEMPT by design (the reference also writes an error .md per
    attempt); dedupe by (doc_id, attempt) if single rows are needed.

    Parquet-fallback mechanics (run_id= dirs + partition discovery) — an
    Iceberg deployment gets this from snapshot commits natively."""
    from documentconvert_spark.tableio import read_table

    out = read_table(spark, out_path)
    committed = state.run_ids().withColumnRenamed("run_id", "_committed_run_id")
    good = out.join(
        F.broadcast(committed),
        out["run_id"].cast("string") == committed["_committed_run_id"].cast("string"),
        "left_semi",
    )
    return good.filter(F.col("error").isNull()) if completed_only else good
