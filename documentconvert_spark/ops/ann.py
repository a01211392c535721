"""Production ANN index build over an embeddings DataFrame.

The reusable core behind the oracle-certified contract queries
(queries_corpus: ann_ivf_trained*, emb_pq_*) and the index-build job
(jobs/run_index.py): coarse IVF quantizer training (Lloyd's k-means),
cell assignment, product-quantization codebook training and encoding,
and the two-stage IVF search. The contract queries call THESE functions
through thin (spark, sf_dir) wrappers, so the semantics the DuckDB
oracle hash-verifies at sf0.01 are the semantics the job persists at any
scale.

100 TB shape, by construction:
- centroids/codebooks are k (resp. m×k_sub) rows of small double arrays —
  always broadcast; the corpus side is never reshuffled for assignment.
- every Lloyd round ends in a localCheckpoint, keeping the logical plan
  O(1) in the iteration count instead of re-deriving an
  iterations-deep DAG.
- centroid means round to 6dp per update so independent engines (and the
  DuckDB oracle) agree argmin-for-argmin, bit-for-bit.
- the IVF probe is an EQUI-join on centroid id (candidates ≈ nProbe/k of
  the corpus); PQ search folds a per-query LUT over packed codes, never
  decoding vectors.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

ARR_NORM = (
    "sqrt(aggregate(transform({a}, x -> x * x), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
)
VDOT = "aggregate(zip_with(ve, ce, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
L2SQ = (
    "aggregate(zip_with(sv, ce, (x, y) -> (x - y) * (x - y)), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)


def unit_embeddings(emb_df):
    """(vec_id, ve double[], vn): embeddings lifted to double with their
    L2 norm. Input needs (vec_id, embedding array<numeric>)."""
    return (
        emb_df.selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS ve")
        .withColumn("vn", F.expr(ARR_NORM.format(a="ve")))
    )


def train_coarse_kmeans(emb_df, k: int = 8, iters: int = 2):
    """Returns (emb, cents): emb = (vec_id, ve, vn), cents = (c_id, ce,
    cn) after `iters` Lloyd rounds seeded from the k lowest vec_ids
    (deterministic, engine-replicable). Empty cells simply drop out."""
    emb = unit_embeddings(emb_df)
    cents = (
        emb.orderBy("vec_id").limit(k)
        .select(F.col("vec_id").alias("c_id"), F.col("ve").alias("ce"), F.col("vn").alias("cn"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("csim"), F.asc("c_id"))
    for _ in range(iters):
        assign = (
            emb.crossJoin(F.broadcast(cents))
            .withColumn("csim", F.expr(VDOT) / (F.col("vn") * F.col("cn")))
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("vec_id", "c_id")
        )
        means = (
            assign.join(emb, "vec_id")
            .select("c_id", F.posexplode("ve").alias("pos", "val"))
            .groupBy("c_id", "pos")
            .agg(F.round(F.avg("val"), 6).alias("m"))
        )
        cents = (
            means.groupBy("c_id")
            .agg(F.expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)").alias("ce"))
            .withColumn("cn", F.expr(ARR_NORM.format(a="ce")))
        )
        # O(1) plan and no re-execution of the (iteration-deep) upstream
        # DAG — the checkpointed frame is k rows × dim doubles
        cents = cents.localCheckpoint(eager=True)
    return emb, cents


def ivf_assign(emb, cents):
    """(vec_id, centroid_id, cos_sim): each vector's nearest trained
    centroid — the persisted IVF cell assignment."""
    w = Window.partitionBy("vec_id").orderBy(F.desc("csim"), F.asc("c_id"))
    return (
        emb.crossJoin(F.broadcast(cents))
        .withColumn("csim", F.expr(VDOT) / (F.col("vn") * F.col("cn")))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", F.col("c_id").alias("centroid_id"), F.round("csim", 4).alias("cos_sim"))
    )


def pq_train(emb_df, m: int = 8, ksub: int = 16, dsub: int | None = None, iters: int = 2):
    """Returns (emb, sub, cents): emb = (vec_id, uv double[dim]) unit
    vectors; sub = (vec_id, s, sv double[dsub]) their subvectors; cents =
    (s, c_id, ce double[dsub]) after `iters` Lloyd rounds per subspace
    seeded from vec_id < ksub. dsub defaults to dim // m (dim must be
    divisible by m)."""
    unit = unit_embeddings(emb_df).selectExpr("vec_id", "transform(ve, x -> x / vn) AS uv")
    if dsub is None:
        dim = len(unit.select("uv").first()["uv"])
        if dim % m:
            raise ValueError(f"embedding dim {dim} not divisible by m={m}")
        dsub = dim // m
    sub = unit.selectExpr(
        "vec_id",
        f"inline(transform(sequence(0, {m - 1}), "
        f"s -> struct(s AS s, slice(uv, s * {dsub} + 1, {dsub}) AS sv)))",
    )
    # seed from the ksub LOWEST vec_ids (not `vec_id < ksub`, which yields
    # empty/short codebooks on id spaces that don't start at 0), and
    # relabel them densely 0..ksub-1 — pq_pack's 4-bit nibbles REQUIRE
    # c_id < 16, which raw seed vec_ids only satisfy by accident on
    # zero-based inputs. (On dense zero-based ids the relabel is the
    # identity, so contract-query results are unchanged.)
    seeds = (
        unit.orderBy("vec_id").limit(ksub).select("vec_id")
        .withColumn("c_id", F.row_number().over(Window.orderBy("vec_id")) - 1)
    )
    cents = sub.join(F.broadcast(seeds), "vec_id").select(
        "s", "c_id", F.col("sv").alias("ce")
    )
    w = Window.partitionBy("vec_id", "s").orderBy(F.asc("d"), F.asc("c_id"))
    for _ in range(iters):
        assign = (
            sub.join(F.broadcast(cents), "s")
            .withColumn("d", F.expr(L2SQ))
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("s", "c_id", "sv")
        )
        means = (
            assign.select("s", "c_id", F.posexplode("sv").alias("pos", "val"))
            .groupBy("s", "c_id", "pos")
            .agg(F.round(F.avg("val"), 6).alias("m"))
        )
        cents = (
            means.groupBy("s", "c_id")
            .agg(F.expr("transform(array_sort(collect_list(struct(pos, m))), x -> x.m)").alias("ce"))
        )
        # ksub×m rows of dsub doubles: checkpoint keeps the plan O(1) per round
        cents = cents.localCheckpoint(eager=True)
    return unit, sub, cents


def pq_codes(sub, cents):
    """(vec_id, s, c_id, d): nearest-centroid code per subspace with its
    squared L2 residual (the per-subspace distortion)."""
    w = Window.partitionBy("vec_id", "s").orderBy(F.asc("d"), F.asc("c_id"))
    return (
        sub.join(F.broadcast(cents), "s")
        .withColumn("d", F.expr(L2SQ))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "s", "c_id", "d")
    )


def pq_pack(codes, m: int = 8, ksub: int = 16):
    """(vec_id, packed_code, distortion): one row per vector, codes packed
    4 bits per subspace. Hard bounds, not docstring promises: ksub <= 16
    (a nibble holds 0..15) and m <= 15 (subspace m-1 shifts by 4(m-1);
    15*2^60 still fits a signed int64, 15*2^64 does not — and Spark's
    int32 shiftleft would silently wrap the shift amount mod 32 for
    m > 8, so the multiplier is built in BIGINT)."""
    if ksub > 16:
        raise ValueError(f"pq_pack: ksub={ksub} > 16 cannot pack into 4-bit nibbles")
    if m > 15:
        raise ValueError(f"pq_pack: m={m} > 15 overflows the packed int64")
    return codes.groupBy("vec_id").agg(
        F.sum(F.expr("c_id * shiftleft(CAST(1 AS BIGINT), 4 * s)")).alias("packed_code"),
        F.round(F.sum("d"), 6).alias("distortion"),
    )


def ivf_topk(emb, cents, query_ids, k: int = 5, n_probe: int = 2):
    """(q_id, n_id, cos_sim): IVF search — each query probes its n_probe
    nearest cells and ranks exact cosine within them. `query_ids` is a
    (vec_id) DataFrame of a BOUNDED query set (it broadcasts)."""
    w = Window.partitionBy("vec_id").orderBy(F.desc("csim"), F.asc("c_id"))
    ranked = (
        emb.crossJoin(F.broadcast(cents))
        .withColumn("csim", F.expr(VDOT) / (F.col("vn") * F.col("cn")))
        .withColumn("rk", F.row_number().over(w))
    )
    assign = ranked.filter(F.col("rk") == 1).select(
        "vec_id", F.col("c_id").alias("centroid_id"),
        F.col("ve").alias("ne"), F.col("vn").alias("nn"),
    )
    probes = (
        ranked.join(F.broadcast(query_ids), "vec_id")
        .filter(F.col("rk") <= n_probe)
        .select(
            F.col("vec_id").alias("q_id"), F.col("c_id").alias("centroid_id"),
            F.col("ve").alias("qe2"), F.col("vn").alias("qn2"),
        )
    )
    dot2 = (
        "aggregate(zip_with(qe2, ne, (a, b) -> a * b), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    cand = (
        probes.join(assign, "centroid_id")
        .filter(F.col("q_id") != F.col("vec_id"))
        .withColumn("sim", F.expr(dot2) / (F.col("qn2") * F.col("nn")))
    )
    w2 = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        cand.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= k)
        .select("q_id", F.col("vec_id").alias("n_id"), F.round("sim", 4).alias("cos_sim"))
    )


def semdedup_cells(n_vectors: int, block: int = 256, k_min: int = 8) -> int:
    """Corpus-scaled centroid count for SemDeDup: k = max(k_min,
    ceil(n / block)) keeps the EXPECTED cluster size at ~`block`
    vectors, so the within-cluster pair join does ~n*block/2 similarity
    evaluations — LINEAR in the corpus, not quadratic. (Abbas et al.
    2023 §3 scale k with the dataset for exactly this reason; a fixed k
    makes blocks n/k and pair work n²/k.)"""
    return max(k_min, -(-n_vectors // max(block, 1)))


def semdedup_plan(n_vectors: int, block: int = 256,
                  k_min: int = 8, flat_max: int = 64) -> tuple[str, int]:
    """Quantizer choice for corpus-scaled SemDeDup, shared by the
    production job (run_index --semdedup-tau) and the recorded scale
    protocol (scripts/semdedup_scale_bench.py) so the benchmark always
    measures the shipped code path. Returns ('flat', k) while the cell
    count fits a flat quantizer, else ('two-level', k12) with
    k12 = ceil(sqrt(K)) — flat assignment is n*K sims, itself quadratic
    once K ∝ n, while the two-level quantizer reaches k12² >= K leaf
    cells at n*2*k12 assignment cost."""
    cells = semdedup_cells(n_vectors, block=block, k_min=k_min)
    if cells <= flat_max:
        return "flat", cells
    k12 = int(cells ** 0.5)
    while k12 * k12 < cells:
        k12 += 1
    return "two-level", k12


def semdedup_prune(emb, cents, tau: float = 0.4):
    """(vec_id, cluster, dup_of, cos_sim): SemDeDup (Abbas et al. 2023)
    prune set. Cluster the embedding space with the coarse quantizer in
    `cents` (same Lloyd trainer as the IVF index), then within each
    cluster drop every vector that has a LOWER-id cluster-mate above
    `tau` cosine similarity; ties resolve to the lowest such keeper, so
    the output is deterministic. `emb`/`cents` come from
    train_coarse_kmeans.

    Shared definition: the oracle-certified contract query
    (queries_corpus.q_semdedup_prune, k=8 pinned for DuckDB
    determinism) and the production index job (run_index --semdedup-tau,
    k from semdedup_cells so pair work stays linear) both call THIS
    function — the certified semantics are the shipped semantics. The
    cluster-id equi-join is the only shuffle that sees vectors."""
    assign = (
        ivf_assign(emb, cents)
        .select("vec_id", F.col("centroid_id").alias("cluster"))
        .join(emb, "vec_id")
        .select("vec_id", "cluster", "ve", "vn")
    )
    return _semdedup_pairs(assign, tau)


def _semdedup_pairs(assign_vecs, tau: float):
    """Shared pair stage: `assign_vecs` is (vec_id, cluster, ve, vn);
    returns the (vec_id, cluster, dup_of, cos_sim) prune set. The
    cluster-id equi self-join is the only shuffle that sees vectors."""
    pair_dot = (
        "aggregate(zip_with(ae, be, (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    a = assign_vecs.selectExpr("vec_id AS keep_id", "cluster", "ve AS ae", "vn AS an")
    b = assign_vecs.selectExpr(
        "vec_id AS drop_id", "cluster AS cluster_b", "ve AS be", "vn AS bn"
    )
    pairs = (
        a.join(b, (a.cluster == b.cluster_b) & (a.keep_id < b.drop_id))
        .withColumn("sim", F.expr(pair_dot) / (F.col("an") * F.col("bn")))
        .filter(F.col("sim") >= tau)
    )
    w2 = Window.partitionBy("drop_id").orderBy(F.asc("keep_id"))
    return (
        pairs.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") == 1)
        .select(
            F.col("drop_id").alias("vec_id"),
            "cluster",
            F.col("keep_id").alias("dup_of"),
            F.round("sim", 4).alias("cos_sim"),
        )
    )


def train_two_level_kmeans(emb_df, k1: int, k2: int, iters: int = 2,
                           persist: bool = True):
    """Two-level (hierarchical) Lloyd quantizer: a coarse pass at k1
    cells, then k2 sub-cells trained WITHIN each coarse cell — k1*k2
    effective leaf clusters at assignment cost n*(k1 + k2) instead of
    the flat n*k1*k2. With k1 = k2 = ceil(sqrt(K)) and K = n/block that
    is O(n^1.5 / sqrt(block)) total work — the shape that keeps
    corpus-scaled SemDeDup tractable at 10^12 docs, where a flat
    quantizer's n*K assignment is itself quadratic. Same determinism
    rules as train_coarse_kmeans (lowest-vec_id seeds per cell, 6dp
    centroid rounding, ties to the lowest id).

    Returns (vecs, leaves): vecs = (vec_id, g, ve, vn) with g the
    coarse cell (persisted by default — reused by every leaf round and
    the final assignment; the caller owns the unpersist), leaves =
    (g, l_id, ce, cn). persist=False skips the cache entirely (the
    coarse assignment recomputes per leaf round) — for callers that
    cannot manage the cache lifecycle, like a stateless contract query
    whose DataFrame the driver materializes."""
    emb, coarse = train_coarse_kmeans(emb_df, k=k1, iters=iters)
    vecs = (
        ivf_assign(emb, coarse)
        .select("vec_id", F.col("centroid_id").alias("g"))
        .join(emb, "vec_id")
        .select("vec_id", "g", "ve", "vn")
    )
    if persist:
        vecs = vecs.persist()
    ws = Window.partitionBy("g").orderBy("vec_id")
    leaves = (
        vecs.withColumn("ls", F.row_number().over(ws))
        .filter(F.col("ls") <= k2)
        .select(
            "g", (F.col("ls") - 1).alias("l_id"),
            F.col("ve").alias("ce"), F.col("vn").alias("cn"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("csim"), F.asc("l_id"))
    for _ in range(iters):
        assign = (
            vecs.join(leaves, "g")  # equi-join: each vector meets ONLY its cell's k2 leaves
            .withColumn("csim", F.expr(VDOT) / (F.col("vn") * F.col("cn")))
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("vec_id", "g", "l_id")
        )
        means = (
            assign.join(vecs.select("vec_id", "ve"), "vec_id")
            .select("g", "l_id", F.posexplode("ve").alias("pos", "val"))
            .groupBy("g", "l_id", "pos")
            .agg(F.round(F.avg("val"), 6).alias("m"))
        )
        leaves = (
            means.groupBy("g", "l_id")
            .agg(F.expr(
                "transform(array_sort(collect_list(struct(pos, m))), s -> s.m)"
            ).alias("ce"))
            .withColumn("cn", F.expr(ARR_NORM.format(a="ce")))
        )
        leaves = leaves.localCheckpoint(eager=True)  # k1*k2 rows; O(1) plan depth
    return vecs, leaves


def semdedup_prune_hierarchical(emb_df, k1: int, k2: int, tau: float = 0.4,
                                iters: int = 2, return_cache_handle: bool = False,
                                persist: bool = True):
    """SemDeDup prune set over the two-level quantizer: same pair
    semantics as semdedup_prune (lower-id keeper, lowest-keeper ties,
    tau cosine threshold) with cluster = leaf cell. The production
    scale path run_index --semdedup-tau takes once the corpus-scaled
    cell count outgrows a flat quantizer; the k=8 contract query
    certifies the pair semantics, the planted-near-dup test pins
    flat/hierarchical agreement on true duplicates.

    With return_cache_handle=True returns (prune_df, vecs): `vecs` is
    the persisted per-vector assignment frame train_two_level_kmeans
    pins (the whole corpus's vectors) — callers that materialize the
    prune set MUST unpersist it afterwards or it stays cached for the
    app lifetime (same protocol as functions.unigram_logprob_table).
    Without the handle (the default) the cache still serves the leaf
    training rounds and is released before returning, so the lazy prune
    set recomputes the coarse assignment once instead of pinning the
    corpus's vectors for the app lifetime. persist=False skips the cache
    entirely — for stateless callers (the contract query)."""
    vecs, leaves = train_two_level_kmeans(
        emb_df, k1=k1, k2=k2, iters=iters, persist=persist
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("csim"), F.asc("l_id"))
    assign = (
        vecs.join(leaves, "g")
        .withColumn("csim", F.expr(VDOT) / (F.col("vn") * F.col("cn")))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        # leaf id g*k2 + l_id is injective (l_id < k2); fits long easily
        .select(
            "vec_id",
            (F.col("g") * k2 + F.col("l_id")).alias("cluster"),
            "ve", "vn",
        )
    )
    out = _semdedup_pairs(assign, tau)
    if return_cache_handle:
        return out, vecs
    if persist:
        vecs.unpersist()  # no caller handle: never leave it cached
    return out
