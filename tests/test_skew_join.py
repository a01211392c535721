"""salted_join: result equality with a plain join under heavy key skew,
and the plan property that makes it work (join key includes the salt)."""

from __future__ import annotations

from pyspark.sql import functions as F


def _skewed_frames(spark):
    # 90% of fact rows share one hot key
    fact = spark.range(0, 5000).select(
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 50).alias("k"),
        (F.col("id") * 3).alias("payload"),
    )
    dim = spark.range(0, 50).select(F.col("id").alias("k"), F.concat(F.lit("d"), F.col("id")).alias("name"))
    return fact, dim


def test_salted_join_matches_plain_join(spark):
    from documentconvert_spark.ops.skew import salted_join

    fact, dim = _skewed_frames(spark)
    plain = fact.join(dim, "k").groupBy("k", "name").agg(
        F.count("*").alias("n"), F.sum("payload").alias("s")
    )
    salted = salted_join(fact, dim, "k", n_salt=8).groupBy("k", "name").agg(
        F.count("*").alias("n"), F.sum("payload").alias("s")
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_left_keeps_unmatched(spark):
    from documentconvert_spark.ops.skew import salted_join

    fact, dim = _skewed_frames(spark)
    fact = fact.withColumn("k", F.when(F.col("payload") < 30, F.lit(999)).otherwise(F.col("k")))
    plain = fact.join(dim, "k", "left")
    salted = salted_join(fact, dim, "k", n_salt=8, how="left")
    assert plain.count() == salted.count()
    assert (
        plain.filter(F.col("name").isNull()).count()
        == salted.filter(F.col("name").isNull()).count()
        > 0
    )


def test_salted_join_splits_hot_key(spark):
    from documentconvert_spark.ops.skew import salted_join

    fact, dim = _skewed_frames(spark)
    joined = salted_join(fact, dim, "k", n_salt=8)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # the shuffle must hash on (k, _salt), not k alone
    assert "_salt" in plan


def test_resume_work_selection_skew_split_under_hot_doc_id(spark, tmp_path):
    """The resume path's work selection under key skew: when half the
    input rows share one hot doc_id (repeated crawl output), the slim
    projection's distinct() must collapse the hot key MAP-SIDE (partial
    aggregation before the exchange), so the selection's join never sees
    a skewed shuffle partition at all — stronger than splitting the
    skew after the fact. Evidence: (a) one row per unique doc_id comes
    back even when the hot id is itself still-todo (the K^2-join guard:
    run_extraction_job's inner join back multiplies by this frame's
    per-id multiplicity), (b) the adaptive plan carries a partial
    HashAggregate under the first exchange, and no skewed shuffle read
    appears because none is needed."""
    from documentconvert_spark.pipeline import select_work_ids
    from documentconvert_spark.schemas import EXTRACTION_STATE
    from documentconvert_spark.state import StateStore

    overrides = {
        # force SMJ (no broadcast rescue) and make the tiny test shuffle
        # cross the skew thresholds; production keeps the defaults where
        # the same 5x-median rule fires at real partition sizes
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        # sizes are COMPRESSED shuffle bytes — 20k copies of one hot
        # string lz4 to a few KB, so the thresholds must sit well under
        # that; production keeps the defaults where real payloads cross
        # the same 5x-median rule at MB scale
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        # splitting a join's hot partition breaks the doc_id hash
        # distribution the rest of the plan may want, so plain AQE can
        # decline — this knob tells it the straggler costs more than an
        # extra exchange (true at corpus scale: the hot partition is a
        # multi-GB task, the re-shuffle is slim ids)
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    saved = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        docs = spark.range(0, 40000).select(
            F.when(F.col("id") % 2 == 0, F.lit("hotdoc"))
            .otherwise(F.concat(F.lit("d"), F.col("id"))).alias("doc_id"),
            F.repeat(F.lit("x"), 64).alias("pad"),
        )
        st = StateStore(spark, str(tmp_path / "state"))
        # completed: half the unique ids — the hot doc stays TODO, so its
        # 20k duplicate rows must collapse to exactly one selected row
        done = spark.range(0, 10000).select(
            F.concat(F.lit("d"), (F.col("id") * 2 + 1)).alias("doc_id")
        )
        st.append(done.select(
            "doc_id",
            F.lit("completed").alias("status"),
            F.lit(1).cast("int").alias("attempt"),
            *[F.lit(None).cast(f.dataType).alias(f.name)
              for f in EXTRACTION_STATE.fields
              if f.name not in ("doc_id", "status", "attempt")],
        ))

        todo = select_work_ids(docs, st)
        rows = todo.collect()
        # correctness + the K^2 guard: completed uniques anti-joined
        # away; the 20k hot duplicates collapse to ONE selected row
        got = [r.doc_id for r in rows]
        assert got.count("hotdoc") == 1
        assert len(rows) == len(set(got)) == 10001
        assert all(r.attempt == 1 for r in rows)
        plan = todo._jdf.queryExecution().executedPlan().toString()
        # the hot key never reaches a shuffle at full multiplicity: the
        # distinct's partial aggregate runs under the exchange
        assert "HashAggregate" in plan, plan[:1500]
        import re
        # a partial aggregate must appear BELOW (after, in toString's
        # top-down rendering) the first Exchange that feeds the joins
        first_exchange = plan.index("Exchange")
        assert re.search(r"HashAggregate.*keys=\[doc_id", plan[first_exchange:]), plan[:1500]
        # and with the skew pre-collapsed, AQE has nothing to split
        assert "skew=true" not in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
