"""Driver-contract queries, part 4: event-stream relational ops over the
shared `events` testdata table — sessionization (gap-based), as-of join
(latest prior click per purchase), funnel analysis, and tumbling-window
rollups, expressed as window functions / aggregations so they can be
oracle-verified against DuckDB exactly. They run as batch queries: the
reference has no event time to stream on (SURVEY.md §2.10).

Scale notes: every op here shuffles once on `user_id` (or on the window
bucket) and is otherwise map-side; the window functions stream within a
partition — no per-user collect, no driver loops. A 100 TB event log
partitions by user hash; skewed power-users are bounded by per-session
aggregation happening inside the same shuffle.

Reference grounding: the reference's task tables carry created/started/
completed timestamps (database/models.py:63-84) and its stats endpoint
aggregates per-status and per-time-window (database_manager.py:270-312);
these ops generalize that to event-stream analytics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SESSION_GAP_S = 1800.0  # 30 min, the classic web-analytics cut


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


# ------------------------------------------------------------ sessionization
# lag → gap flag → running sum = session seq; group to one row per session.
# Both engines compute the gap on full-precision epoch seconds (double), so
# the comparison is bit-identical.

def q_ev_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ in the parquet; hop through TIMESTAMP (session tz
    # is UTC) to get full-precision epoch seconds as double.
    epoch = F.col("ts").cast("timestamp").cast("double")
    gap = epoch - F.lag(epoch).over(w)
    new_sess = F.when(gap.isNull() | (gap > SESSION_GAP_S), 1).otherwise(0)
    sess = (
        ev.withColumn("sess_seq", F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "sess_seq")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("t_start"),
            F.max("ts").alias("t_end"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("n_purchases"),
        )
    )
    dur = F.col("t_end").cast("timestamp").cast("double") - F.col("t_start").cast("timestamp").cast("double")
    return sess.withColumn("duration_s", F.round(dur, 3))


SQL_EV_SESSIONIZE = f"""
WITH flagged AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w IS NULL
                OR epoch(ts) - lag(epoch(ts)) OVER w > {SESSION_GAP_S} THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_seq
  FROM flagged
)
SELECT user_id, sess_seq, COUNT(*) AS n_events, MIN(ts) AS t_start, MAX(ts) AS t_end,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
       ROUND(epoch(MAX(ts)) - epoch(MIN(ts)), 3) AS duration_s
FROM numbered GROUP BY user_id, sess_seq
"""


# ------------------------------------------------------------ as-of join
# For every purchase, the latest click at-or-before it for the same user.
# Spark has no native as-of join; the scalable formulation is the
# union-and-carry trick: tag both streams, sort once within the user
# partition, carry the last click forward with last(..., ignorenulls). ONE
# shuffle on user_id, no range-join explosion, no per-key collect — this is
# the plan a 100 TB as-of join wants (vs. the naive t1<=t2 theta-join).
# The oracle states the identical algorithm in SQL (IGNORE NULLS window), so
# tie-breaking is deterministic on both sides: at equal ts the click sorts
# first (is_p 0<1) and among equal-ts clicks the larger event_id wins.

def q_ev_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).filter(F.col("event_type").isin("click", "purchase"))
    tagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("is_p"),
        F.when(F.col("event_type") == "click", F.col("value")).alias("cv"),
        F.when(F.col("event_type") == "click", F.col("ts")).alias("cts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_p", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        tagged.withColumn("click_value", F.last("cv", ignorenulls=True).over(w))
        .withColumn("click_ts", F.last("cts", ignorenulls=True).over(w))
        .filter(F.col("is_p") == 1)
        .select("event_id", "user_id", "ts", "click_ts", "click_value")
    )


SQL_EV_ASOF = """
WITH u AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p,
         CASE WHEN event_type = 'click' THEN value END AS cv,
         CASE WHEN event_type = 'click' THEN ts END AS cts
  FROM events WHERE event_type IN ('click', 'purchase')
), carried AS (
  SELECT *,
         last_value(cv IGNORE NULLS) OVER w AS click_value,
         last_value(cts IGNORE NULLS) OVER w AS click_ts
  FROM u
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, is_p, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, ts, click_ts, click_value FROM carried WHERE is_p = 1
"""


# ------------------------------------------------------------ funnel
# view → click → purchase with ordering constraints (each stage must happen
# at-or-after the previous stage's first event). Three grouped aggs, each a
# shuffle on user_id — at scale these fuse into one wide agg per stage with
# map-side combine; no windows needed.

def q_ev_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    fv = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(F.min("ts").alias("first_view"))
    fc = (
        ev.filter(F.col("event_type") == "click")
        .join(fv, "user_id")
        .filter(F.col("ts") >= F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .join(fc, "user_id")
        .filter(F.col("ts") >= F.col("first_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    return (
        fv.join(fc, "user_id", "left")
        .join(fp, "user_id", "left")
        .agg(
            F.count("*").alias("n_viewed"),
            F.count("first_click").alias("n_clicked"),
            F.count("first_purchase").alias("n_converted"),
            F.round(F.count("first_purchase") / F.count("*"), 6).alias("conversion_rate"),
        )
    )


SQL_EV_FUNNEL = """
WITH fv AS (
  SELECT user_id, MIN(ts) AS first_view FROM events WHERE event_type = 'view' GROUP BY user_id
), fc AS (
  SELECT e.user_id, MIN(e.ts) AS first_click
  FROM events e JOIN fv ON e.user_id = fv.user_id
  WHERE e.event_type = 'click' AND e.ts >= fv.first_view GROUP BY e.user_id
), fp AS (
  SELECT e.user_id, MIN(e.ts) AS first_purchase
  FROM events e JOIN fc ON e.user_id = fc.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= fc.first_click GROUP BY e.user_id
)
SELECT COUNT(*) AS n_viewed, COUNT(fc.first_click) AS n_clicked,
       COUNT(fp.first_purchase) AS n_converted,
       ROUND(COUNT(fp.first_purchase) / COUNT(*), 6) AS conversion_rate
FROM fv LEFT JOIN fc ON fv.user_id = fc.user_id LEFT JOIN fp ON fv.user_id = fp.user_id
"""


# ------------------------------------------------------------ tumbling-window rollup
# 1-day tumbling windows via F.window; session tz is UTC so buckets align
# with DuckDB's date_trunc('day'). Shuffles on (bucket, event_type) —
# bounded cardinality.

def q_ev_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(F.col("w.start").alias("day_start"), "event_type", "n_events", "sum_value", "n_users")
    )


SQL_EV_WINDOW_ROLLUP = """
SELECT date_trunc('day', ts) AS day_start, event_type, COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS sum_value, COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY 1, 2
"""


# ------------------------------------------------------------ JSON props extraction
# The reference stores semi-structured payloads in JSON columns (params /
# result / s3_urls — database/models.py:56-70). Spark-side: real JSON-path
# extraction (get_json_object, JVM-side); the oracle pulls the same value
# with a regex so it needs no JSON extension. One bounded-cardinality
# shuffle on event_type.

def q_ev_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.round(F.avg("k"), 4).alias("avg_k"),
        )
    )


SQL_EV_PROPS_JSON = """
WITH parsed AS (
  SELECT event_type, CAST(regexp_extract(props, '"k": (-?[0-9]+)', 1) AS INT) AS k FROM events
)
SELECT event_type, COUNT(k) AS n_with_k, MIN(k) AS min_k, MAX(k) AS max_k,
       ROUND(AVG(k), 4) AS avg_k
FROM parsed GROUP BY event_type
"""


# ------------------------------------------------------------ interval (range) join, binned
# "events inside promo windows": the naive plan is a BroadcastNestedLoop
# over `start <= ts < end` — O(|events| × |windows|). The scale rewrite
# bins time into fixed buckets: each event maps to ONE bin, each window
# replicates to the bins it covers, the join becomes an EQUI-join on bin
# plus an exact residual filter. Both engines state the binned algorithm,
# so the oracle also verifies the rewrite itself.

_BIN_S = 21600  # 6-hour bins


def q_ev_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    # deterministic synthetic promo windows: one 12-hour window every 5 days
    windows = spark.range(0, 6).select(
        F.col("id").alias("win_id"),
        F.expr("timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,CAST(id*5 AS INT),6,0,0)").alias("w_start"),
        F.expr("timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,CAST(id*5 AS INT),18,0,0)").alias("w_end"),
    )
    bin_of = lambda c: F.floor(F.col(c).cast("timestamp").cast("double") / _BIN_S)  # noqa: E731
    ev_b = ev.withColumn("bin", bin_of("ts"))
    win_b = windows.withColumn(
        "bin", F.explode(F.sequence(bin_of("w_start"), bin_of("w_end")))
    )
    return (
        ev_b.join(F.broadcast(win_b), "bin")
        .filter((F.col("ts") >= F.col("w_start")) & (F.col("ts") < F.col("w_end")))
        .groupBy("win_id")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


SQL_EV_INTERVAL_JOIN = f"""
WITH windows AS (
  SELECT i AS win_id,
         TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (i*5) DAY + INTERVAL 6 HOUR AS w_start,
         TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (i*5) DAY + INTERVAL 18 HOUR AS w_end
  FROM range(0, 6) t(i)),
ev_b AS (SELECT *, CAST(FLOOR(epoch(ts) / {_BIN_S}) AS BIGINT) AS bin FROM events),
win_b AS (
  SELECT win_id, w_start, w_end, unnest(range(CAST(FLOOR(epoch(w_start) / {_BIN_S}) AS BIGINT),
                                  CAST(FLOOR(epoch(w_end) / {_BIN_S}) AS BIGINT) + 1)) AS bin
  FROM windows)
SELECT win_id, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
       ROUND(SUM(value), 4) AS total_value
FROM ev_b JOIN win_b USING (bin)
WHERE ts >= w_start AND ts < w_end
GROUP BY win_id
"""


# ------------------------------------------------------------ retention cohorts
# Classic D+k retention: cohort = first-seen day per user; retained(k) =
# user active k days after their cohort day. Two shuffles (first-seen agg,
# cohort rollup) carrying only (user, day) pairs.

def q_ev_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select("user_id", F.to_date("ts").alias("day")).distinct()
    first = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    j = ev.join(first, "user_id").withColumn("k", F.datediff("day", "cohort_day"))
    return (
        j.groupBy("cohort_day")
        .agg(
            F.countDistinct("user_id").alias("cohort_size"),
            F.countDistinct(F.when(F.col("k") == 1, F.col("user_id"))).alias("d1"),
            F.countDistinct(F.when(F.col("k") == 7, F.col("user_id"))).alias("d7"),
        )
        .withColumn("d1_rate", F.round(F.col("d1") / F.col("cohort_size"), 6))
        .withColumn("d7_rate", F.round(F.col("d7") / F.col("cohort_size"), 6))
        .withColumn("cohort_day", F.date_format("cohort_day", "yyyy-MM-dd"))
    )


SQL_EV_RETENTION = """
WITH active AS (SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day FROM events),
first_seen AS (SELECT user_id, MIN(day) AS cohort_day FROM active GROUP BY user_id),
j AS (SELECT a.user_id, f.cohort_day, date_diff('day', f.cohort_day, a.day) AS k
      FROM active a JOIN first_seen f ON a.user_id = f.user_id)
SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
       COUNT(DISTINCT user_id) AS cohort_size,
       COUNT(DISTINCT CASE WHEN k = 1 THEN user_id END) AS d1,
       COUNT(DISTINCT CASE WHEN k = 7 THEN user_id END) AS d7,
       ROUND(COUNT(DISTINCT CASE WHEN k = 1 THEN user_id END) / COUNT(DISTINCT user_id), 6) AS d1_rate,
       ROUND(COUNT(DISTINCT CASE WHEN k = 7 THEN user_id END) / COUNT(DISTINCT user_id), 6) AS d7_rate
FROM j GROUP BY cohort_day
"""


# ------------------------------------------------------------ MapType ops
# The reference's JSON ORM columns map naturally to MapType in Spark
# (SURVEY.md §1.2). Build a per-user map event_type -> count with
# map_from_entries, then consume it with map_keys / element_at /
# map_filter — the oracle states the same facts relationally (the map is
# an encoding, the values are what must match).

def q_ev_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).filter(F.col("user_id") < 30)
    per_type = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    mapped = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "n")))
        ).alias("counts")
    )
    return mapped.select(
        "user_id",
        F.size("counts").alias("n_types"),
        F.array_join(F.map_keys("counts"), ",").alias("types_csv"),
        F.coalesce(F.element_at("counts", "click"), F.lit(0)).alias("n_clicks"),
        F.expr("size(map_filter(counts, (k, v) -> v >= 10))").alias("n_types_ge10"),
    )


SQL_EV_MAP_OPS = """
WITH per_type AS (
  SELECT user_id, event_type, COUNT(*) AS n FROM events WHERE user_id < 30
  GROUP BY user_id, event_type)
SELECT user_id, COUNT(*) AS n_types,
       string_agg(event_type, ',' ORDER BY event_type) AS types_csv,
       COALESCE(MAX(CASE WHEN event_type = 'click' THEN n END), 0) AS n_clicks,
       CAST(SUM(CASE WHEN n >= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_types_ge10
FROM per_type GROUP BY user_id
"""


EVENT_QUERIES: dict[str, tuple] = {
    "ev_map_ops": (q_ev_map_ops, SQL_EV_MAP_OPS),
    "ev_retention": (q_ev_retention, SQL_EV_RETENTION),
    "ev_interval_join": (q_ev_interval_join, SQL_EV_INTERVAL_JOIN),
    "ev_props_json": (q_ev_props_json, SQL_EV_PROPS_JSON),
    "ev_sessionize": (q_ev_sessionize, SQL_EV_SESSIONIZE),
    "ev_asof_join": (q_ev_asof_join, SQL_EV_ASOF),
    "ev_funnel": (q_ev_funnel, SQL_EV_FUNNEL),
    "ev_window_rollup": (q_ev_window_rollup, SQL_EV_WINDOW_ROLLUP),
}
