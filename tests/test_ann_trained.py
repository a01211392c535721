"""Trained IVF coarse quantizer (Lloyd's k-means) — the r3 verdict ask:
the 100 TB ANN story is stronger with trained cells than arbitrary
pivots, and the claim must be measured, not assumed."""

from __future__ import annotations

from pyspark.sql import functions as F

from documentconvert_spark.queries_corpus import (
    _kmeans_train,
    q_ann_ivf_recall,
    q_ann_ivf_trained,
    q_ann_ivf_trained_recall,
)

SF = "/root/testdata/sf0.01"
# dot product of a vector's `ve` and a centroid's `ce` embeddings
_VDOT = "aggregate(zip_with(ve, ce, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"


def test_trained_cells_beat_pivot_cells_on_recall(spark):
    """recall@5 (nProbe=2, top-5, 10 queries) after 2 Lloyd rounds must be
    at least the pivot-initialized quantizer's — measured 0.86 vs 0.80 at
    sf0.01. If training ever degrades recall the trained path has a bug
    (k-means from the same init can only improve the quantization error)."""
    pivot = q_ann_ivf_recall(spark, SF).agg(F.avg("recall_at_5")).collect()[0][0]
    trained = q_ann_ivf_trained_recall(spark, SF).agg(F.avg("recall_at_5")).collect()[0][0]
    assert trained >= pivot, (trained, pivot)
    assert trained >= 0.8


def test_kmeans_centroids_shape_and_total_assignment(spark):
    emb, cents = _kmeans_train(spark, SF, k=8, iters=2)
    rows = cents.collect()
    assert 1 <= len(rows) <= 8
    dims = {len(r.ce) for r in rows}
    assert dims == {64}
    # every centroid mean is 6dp-rounded (the engine-portability contract)
    for r in rows:
        for v in r.ce:
            assert abs(v - round(v, 6)) < 1e-12
    n_vecs = emb.count()
    assigned = q_ann_ivf_trained(spark, SF)
    assert assigned.count() == n_vecs
    assert assigned.select("vec_id").distinct().count() == n_vecs


def test_kmeans_iteration_reduces_quantization_error(spark):
    """Average cosine distance to the assigned centroid must not increase
    across Lloyd rounds (the textbook monotonicity, modulo the 6dp mean
    rounding — tolerance covers it)."""

    def avg_sim(iters: int) -> float:
        from pyspark.sql import Window

        emb, cents = _kmeans_train(spark, SF, k=8, iters=iters)
        w = Window.partitionBy("vec_id").orderBy(F.desc("csim"), F.asc("c_id"))
        best = (
            emb.crossJoin(F.broadcast(cents))
            .withColumn("csim", F.expr(_VDOT) / (F.col("vn") * F.col("cn")))
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
        )
        return best.agg(F.avg("csim")).collect()[0][0]

    s1, s2 = avg_sim(1), avg_sim(2)
    assert s2 >= s1 - 1e-6, (s1, s2)


def test_semdedup_cells_keeps_pair_work_linear():
    """The corpus-scaled centroid count must grow linearly with n so the
    expected within-cluster pair count (n * block / 2) is linear in the
    corpus — the property that makes run_index --semdedup-tau safe at
    100 TB where the contract query's fixed k=8 would be quadratic."""
    from documentconvert_spark.ops.ann import semdedup_cells

    assert semdedup_cells(500, block=32) == 16          # ceil(500/32)
    assert semdedup_cells(100, block=256) == 8          # k_min floor
    assert semdedup_cells(0, block=256) == 8
    k1m = semdedup_cells(1_000_000, block=256)
    k10m = semdedup_cells(10_000_000, block=256)
    assert k1m == 3907 and k10m == 39063                # ceil(n/256)
    # expected cluster size (and so per-vector pair work) is flat in n
    assert abs(10_000_000 / k10m - 1_000_000 / k1m) < 1


def test_semdedup_scaled_k_agrees_with_fixed_k_on_true_dups(spark):
    """Raising k from the contract pin (8) to the corpus-scaled count
    must not lose genuinely near-identical pairs: a planted near-copy
    (cos ~0.999) lands in its original's cell under ANY reasonable
    quantizer, so it must be pruned at k=8 AND at the finer k=16 with
    the SAME keeper. (Borderline tau-0.4-ish pairs MAY legitimately
    differ when a cell boundary splits them — that tolerance is the
    SemDeDup paper's own; true dups never may.)"""
    import numpy as np

    from documentconvert_spark.ops.ann import semdedup_prune, train_coarse_kmeans

    rng = np.random.default_rng(7)
    base = rng.normal(size=(180, 8))
    rows = [(i, [float(x) for x in base[i]]) for i in range(180)]
    # 20 near-copies of vectors 0..19 at HIGHER ids (keep-first rule)
    rows += [
        (1000 + i, [float(x) for x in base[i] + rng.normal(scale=1e-3, size=8)])
        for i in range(20)
    ]
    emb_df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planted = {1000 + i for i in range(20)}
    keepers = {1000 + i: i for i in range(20)}
    from documentconvert_spark.ops.ann import semdedup_prune_hierarchical

    def check(pruned_rows, label):
        pruned = {r["vec_id"]: r for r in pruned_rows}
        assert planted <= set(pruned), (label, planted - set(pruned))
        for vid in planted:
            assert pruned[vid]["dup_of"] == keepers[vid], (label, pruned[vid])
            assert pruned[vid]["cos_sim"] > 0.99

    for k in (8, 16):
        e, c = train_coarse_kmeans(emb_df, k=k, iters=2)
        check(semdedup_prune(e, c, tau=0.9).collect(), f"flat k={k}")
    # the production scale path: 4x4 two-level quantizer (16 leaves at
    # n*8 assignment cost) must agree on every true duplicate too
    check(
        semdedup_prune_hierarchical(emb_df, k1=4, k2=4, tau=0.9).collect(),
        "hierarchical 4x4",
    )


def test_semdedup_hierarchical_default_call_releases_vecs_cache(spark):
    """With the defaults (persist=True, no cache handle) the corpus-sized
    vecs frame must not stay persisted: the caller has no handle to
    unpersist it. Counted over getPersistentRDDs minus the k-means local
    checkpoints (k-row centroid tables that truncate plan depth and that
    the lazy prune set still reads)."""
    import numpy as np

    from documentconvert_spark.ops.ann import semdedup_prune_hierarchical

    def cached() -> int:
        rdds = spark.sparkContext._jsc.getPersistentRDDs()
        return sum(1 for k in rdds.keySet().toArray()
                   if not rdds.get(k).rdd().isLocallyCheckpointed())

    rng = np.random.default_rng(11)
    emb_df = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=8)]) for i in range(120)],
        "vec_id long, embedding array<double>")
    before = cached()
    out = semdedup_prune_hierarchical(emb_df, k1=3, k2=3, tau=0.9)
    assert cached() == before
    out.collect()
    assert cached() == before
    # the explicit-handle protocol still hands the cache to the caller
    out, vecs = semdedup_prune_hierarchical(emb_df, k1=3, k2=3, tau=0.9,
                                            return_cache_handle=True)
    assert cached() == before + 1
    vecs.unpersist()
    assert cached() == before


def test_semdedup_plan_work_model_subquadratic():
    """The r4 verdict's scale bar, pinned as arithmetic: total SemDeDup
    work under the shared planner (assignment sims n*k flat / n*2*k12
    two-level, plus the n*block/2 pair stage) must grow ~O(n^1.5), not
    quadratically, across production-scale corpus sizes. A regression
    that reintroduces flat assignment at corpus-scaled k (n*K = n²/block
    sims) fails the 100x ratio immediately."""
    from documentconvert_spark.ops.ann import semdedup_plan

    def work(n, block=256):
        mode, k = semdedup_plan(n, block=block)
        assign = n * (2 * k if mode == "two-level" else k)
        return assign + n * block / 2

    assert work(10_000_000) / work(1_000_000) < 40        # 10x data, ~10^1.5
    assert work(100_000_000) / work(1_000_000) < 1500     # 100x data, ~100^1.5
    # the flat shape at corpus-scaled k would be n*(n/block): 100x data
    # -> ~10,000x work; pin that the planner never returns it at scale
    mode, _ = semdedup_plan(100_000_000)
    assert mode == "two-level"
