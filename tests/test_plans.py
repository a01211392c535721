"""Physical-plan regression tests: the plan properties the engine's scale
story depends on must not silently regress (SURVEY.md §4)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from documentconvert_spark.corpus import corpus_rows
from documentconvert_spark.pipeline import extract_spans
from documentconvert_spark.queries_relational import q_tpch_q1, q_tpch_q3
from documentconvert_spark.schemas import DOCUMENTS_RAW
from tests.test_kernels import fixture_corpus

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().toString()


def test_extraction_is_narrow_no_shuffle(spark):
    docs = spark.createDataFrame(corpus_rows(fixture_corpus()), schema=DOCUMENTS_RAW)
    plan = _plan(extract_spans(docs))
    assert "Exchange" not in plan  # hot path must not shuffle


def test_extraction_single_arrow_hop(spark):
    docs = spark.createDataFrame(corpus_rows(fixture_corpus()), schema=DOCUMENTS_RAW)
    plan = _plan(extract_spans(docs))
    assert plan.count("ArrowEvalPython") == 1  # fold fused into the UDF


def test_parquet_filter_pushdown(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter(F.col("l_shipdate") < "1996-01-01")
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
    # column pruning: only the needed columns in ReadSchema
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" not in read_schema


def test_q3_broadcasts_customer_without_a_hint(spark):
    """No forced broadcast hint on the filtered customer side (it scales
    with the data — the sf10 run measured the forced hint at 2x cost);
    at SMALL scale the planner must still pick a broadcast join from the
    size estimate alone."""
    plan = _plan(q_tpch_q3(spark, SF))
    assert "BroadcastHashJoin" in plan
    import inspect

    from documentconvert_spark import queries_relational as qr

    assert "F.broadcast(cust" not in inspect.getsource(qr.q_tpch_q3)


def test_q1_partial_aggregation(spark):
    plan = _plan(q_tpch_q1(spark, SF))
    # partial (map-side) + final hash aggregate
    assert plan.count("HashAggregate") >= 2


def test_q4s_semi_and_q16s_anti_join_nodes(spark):
    from documentconvert_spark.queries_relational import q_tpch_q16s, q_tpch_q4s

    assert "LeftSemi" in _plan(q_tpch_q4s(spark, SF))  # EXISTS stays a semi-join
    assert "LeftAnti" in _plan(q_tpch_q16s(spark, SF))  # NOT IN stays an anti-join


def test_asof_join_single_shuffle(spark):
    """The as-of join must be one user_id shuffle + one window pass —
    never a range-join explosion (no join node at all)."""
    from documentconvert_spark.queries_events import q_ev_asof_join

    plan = _plan(q_ev_asof_join(spark, SF))
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_sessionize_reuses_partitioning(spark):
    """lag-window, running-sum window, and the per-session groupBy must all
    ride ONE hashpartitioning(user_id) exchange: HashPartitioning(user_id)
    satisfies the groupBy(user_id, sess_seq) clustering requirement."""
    from documentconvert_spark.queries_events import q_ev_sessionize

    plan = _plan(q_ev_sessionize(spark, SF))
    assert plan.count("Exchange") == 1


def test_q18_aggregates_before_join(spark):
    """The HAVING aggregate must run below the joins (shrinking the join
    input), not after them."""
    from documentconvert_spark.queries_relational import q_tpch_q18

    plan = _plan(q_tpch_q18(spark, SF))
    first_join = min(i for i in (plan.find("SortMergeJoin"), plan.find("BroadcastHashJoin")) if i >= 0)
    # reading bottom-up, the aggregate is deeper (later in the printed tree)
    assert plan.rfind("HashAggregate") > first_join


def test_interval_join_is_hash_not_nested_loop(spark):
    """The binned rewrite must turn the range join into a broadcast HASH
    join on the bin — a NestedLoop/Cartesian here means the rewrite
    regressed to the O(n×m) plan."""
    from documentconvert_spark.queries_events import q_ev_interval_join

    plan = _plan(q_ev_interval_join(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_state_read_prunes_content(spark):
    """Computing metrics over documents must not read the content column."""
    docs_path = f"{SF}/documents.parquet"
    df = spark.read.parquet(docs_path).groupBy("lang").agg(F.sum("n_chars").alias("s"))
    plan = _plan(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in read_schema


def test_dedup_embedding_cosine_is_bucketed_not_cartesian(spark):
    """The named dedup op must be the IVF scale path: candidates from an
    equi-join on the centroid bucket. The only cross join allowed is the
    8-row broadcast centroid assignment — never a CartesianProduct over
    the corpus pair space (round-1 advisor finding)."""
    from documentconvert_spark.queries_corpus import q_dedup_embedding_cosine

    plan = _plan(q_dedup_embedding_cosine(spark, SF))
    assert "CartesianProduct" not in plan
    # the pair join is an equi hash/sort-merge join on the bucket key
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        plan.count("BroadcastHashJoin") >= 1)


def test_no_cartesian_product_in_any_registered_query(spark):
    """Registry-wide scale invariant: every one of the contract queries
    must plan without a CartesianProduct, and BroadcastNestedLoopJoin may
    appear only where the build side is bounded by construction (ANN
    centroid/query-set broadcasts, 1-row scalar subqueries). Plans are
    built driver-side only — nothing executes."""
    import __spark_entry__ as entrymod

    # BNLJ whitelist: build side bounded by construction
    bnlj_ok = {
        "ann_cosine_topk",      # query-set broadcast (brute-force baseline)
        "ann_ivf_buckets",      # 8-centroid broadcast assignment
        "ann_ivf_topk",
        "ann_ivf_recall",
        "ann_ivf_trained",        # k<=8 trained centroids broadcast
        "ann_ivf_trained_recall",
        "dedup_embedding_cosine",  # same centroid assignment, then equi-join
        "dq_checks",            # 1-row scalar-subquery cross joins
        "tpch_q11s",            # scalar threshold subquery
        "tpch_q22",             # scalar avg-balance subquery
        "tfidf_topk",             # 1-row n_docs broadcast
        "quality_unigram_logprob",  # 1-row corpus-total broadcast
        "emb_pq_adc_topk",        # 10-query ADC LUT broadcast (Q rows of M*K doubles)
        "emb_pq_refine_topk",     # same LUT broadcast feeding the shortlist
        "emb_pq_recall",          # composes both PQ paths + the brute baseline
        "mix_source_weights",     # 1-row corpus-totals broadcast onto the 20-row source dim
        "semdedup_prune",         # k<=8 trained centroids broadcast (same as ann_ivf_trained)
        "semdedup_hier_prune",    # k1=4 coarse-centroid broadcast; the leaf
                                  # level and the pair stage are equi-joins
                                  # on (g) and (cluster) — only the bounded
                                  # coarse assignment is nested-loop
        "dsir_importance",        # 1-row model-totals broadcast onto the vocab dim
        "perplexity_buckets",     # 1-row corpus-total broadcast (reuses the unigram scorer)
        "curation_funnel",        # composes the unigram scorer (same 1-row total) + 1-row stage counts
    }
    offenders = {}
    for name, fn in entrymod.queries().items():
        plan = _plan(fn(spark, SF))
        if "CartesianProduct" in plan:
            offenders[name] = "cartesian"
        elif "BroadcastNestedLoopJoin" in plan and name not in bnlj_ok:
            offenders[name] = "unlisted-bnlj"
    assert not offenders, offenders


def test_driver_window_is_the_intended_50():
    """The driver's correctness gate checks the FIRST 50 queries() entries;
    any registry edit that reorders them silently de-verifies operators.
    Pin the window to the explicit _WINDOW list and the r3 rotation goals:
    every query that had never seen a driver row is in-window (the 3
    named in r2's verdict plus the 5 media queries added after the
    window froze), and the full registry (100 entries as of late r3) is
    collision-free."""
    import __spark_entry__ as entrymod

    names = list(entrymod.queries())
    assert names[:50] == list(entrymod._WINDOW)
    promoted = {"dedup_image_phash", "real_gif_frames"}
    assert promoted <= set(names[:50])
    assert len(names) == len(set(names)) == len(entrymod._MERGED)
    # every windowed name must have an exact oracle (hash-checked, not
    # the weaker rows-only fallback)
    sqls = entrymod.oracle_sql()
    missing = [n for n in names[:50] if n not in sqls]
    assert not missing, missing


def test_every_registry_query_has_driver_coverage():
    """Rotation-debt guard (r3 verdict ask #1): every registry query must
    either already be driver-green in a committed CORRECTNESS_r*.json or
    sit in the CURRENT 50-query window (so the next driver run verifies
    it). A query added after the window froze — green locally but never
    seen by the driver — fails here with a rotation reminder instead of
    silently accruing debt, which happened in rounds 1, 2 AND 3."""
    import glob
    import json

    import __spark_entry__ as entrymod

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    green: set[str] = set()
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        with open(path) as fh:
            rec = json.load(fh)
        for name, row in rec.items():
            if isinstance(row, dict) and row.get("rows_match") and \
                    row.get("schema_match") and row.get("hash_match", True):
                green.add(name)
    window = set(entrymod._WINDOW)
    uncovered = [n for n in entrymod.queries() if n not in green and n not in window]
    assert not uncovered, (
        f"queries never driver-verified and not in the current window: "
        f"{uncovered} — rotate them into __spark_entry__._WINDOW"
    )


def test_tfidf_and_unigram_explode_once(spark):
    """The corpus-statistics pair must explode the raw token stream
    exactly once: tf is cached and every downstream aggregate (df counts,
    unigram counts, the score join) derives from the compact (doc, term)
    aggregate — an uncached lineage re-scans and re-explodes the corpus
    for the join's right side, doubling the dominant pass at scale. The
    n_docs scalar is a column-pruned count over the parquet footer, so a
    second Scan node with an empty ReadSchema is fine; a second Generate
    (explode) is not."""
    from documentconvert_spark.queries_corpus import (
        q_quality_unigram_logprob,
        q_tfidf_topk,
    )

    for q in (q_tfidf_topk, q_quality_unigram_logprob):
        df = q(spark, SF)
        plan = _plan(df)
        # every Generate printout must sit inside an InMemoryRelation
        # (the cached tf definition, echoed once per InMemoryTableScan
        # reference) — a free-standing explode means an uncached re-scan
        assert plan.count("Generate explode") == plan.count("InMemoryRelation"), q.__name__
        assert plan.count("InMemoryTableScan") >= 2, q.__name__
        # rank-limit pushdown on the top-k window (tfidf only)
        if q is q_tfidf_topk:
            assert "WindowGroupLimit" in plan
        spark.catalog.clearCache()


def test_gopher_gate_is_shuffle_free(spark):
    """The Gopher rule ladder claims 'pure column expressions, zero
    shuffle' — pin it: the physical plan over the documents scan must
    contain no Exchange at all."""
    from documentconvert_spark.functions import gopher_gate

    docs = spark.read.parquet(SF + "/documents.parquet")
    assert "Exchange" not in _plan(gopher_gate(docs))
