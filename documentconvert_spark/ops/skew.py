"""Skew-aware helpers (SURVEY.md §4 custom physical work).

Hot keys make one reducer partition dominate a shuffle. The standard
counter is salting: split each key into `n_salt` subkeys, do the work on
(key, salt), then a cheap final step on key. Spark's hash aggregate
already does map-side partial aggregation, which covers *count/sum* skew,
so the helpers here cover the two cases it does not: a join whose hot
key pins one reducer (``salted_join``), and DISTINCT counts
(``salted_distinct_count``, which salts by the distinct VALUE so per-salt
slices stay disjoint — a row-content salt would spread equal distinct
values across salts and double-count them when merged).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    skewed: DataFrame,
    dim: DataFrame,
    key: str,
    n_salt: int = 16,
    how: str = "inner",
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """Equi-join under join-key skew: each skewed-side row picks one of
    `n_salt` salts; the dim side is replicated across all salts; the join
    runs on (key, salt), splitting a hot key's rows over n_salt reducer
    partitions. Exact for inner/left joins keyed on the dim's unique key.

    Use when AQE's skew-join split can't help: sort-merge feeding a
    non-splittable downstream exchange, or a dim too large to broadcast
    but small enough to replicate n_salt-fold. Cost model: dim shuffle
    volume × n_salt vs the straggler time saved — at 1000 executors a
    single hot key (one URL host, one boilerplate template) otherwise
    pins the whole stage on one core.
    """
    if how not in ("inner", "left", "left_outer"):
        # right/full would emit each unmatched dim row once PER REPLICA —
        # silent n_salt-fold inflation; refuse rather than corrupt
        raise ValueError(f"salted_join supports inner/left joins only, got {how!r}")
    # salt from the ROW CONTENT, never from monotonically_increasing_id():
    # a stage retry / speculative task re-assigns mono ids, which would
    # re-salt rows differently than already-fetched shuffle output. Pass
    # cheap high-cardinality salt_cols (ids, timestamps) when rows carry
    # MB-scale payloads; rows identical across salt_cols share a salt, so
    # fully identical duplicate rows cannot be split by any content salt
    cols = salt_cols or skewed.columns
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(n_salt)).cast("int")
    salted_fact = skewed.withColumn("_salt", salt)
    replicated_dim = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    return salted_fact.join(replicated_dim, [key, "_salt"], how).drop("_salt")


def salted_distinct_count(df: DataFrame, key: str, distinct_col: str, n_salt: int = 16) -> DataFrame:
    """countDistinct under key skew: salt by the *distinct value* so each
    (key, salt) holds a disjoint slice of the distinct set; the final
    stage sums partial distinct counts (disjointness makes this exact)."""
    salt = F.pmod(F.xxhash64(F.col(distinct_col)), F.lit(n_salt))
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(key, "_salt")
        .agg(F.countDistinct(distinct_col).alias("_pd"))
    )
    return partial.groupBy(key).agg(F.sum("_pd").alias("n_distinct"))
