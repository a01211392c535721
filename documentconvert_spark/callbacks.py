"""Task-completion HTTP callback dispatch (SURVEY.md §2.10 callbacks).

The reference DECLARED this feature and never implemented it: the task
model carries ``callback_url`` / ``callback_status_code`` /
``callback_message`` / ``callback_time`` columns (`database/models.py:81-84`,
surfaced in `to_dict`, `models.py:120-123`), the API accepts a per-task
callback URL (`api/unified_document_api.py:157,295`), and the processor's
``_callback_worker`` drains completed task ids from a queue — but the POST
itself is a TODO that only logs the URL
(`processors/enhanced_task_processor.py:858-876`). This module implements
the declared contract:

- after a run's state append commits, every terminal state row (completed
  or failed) whose callback URL is set gets ONE successful HTTP POST with a
  JSON payload describing the outcome;
- the delivery result is recorded with exactly the reference's three fields
  (status code, message, time) in a delivery-log table that shares the
  state store's committed-run-directory semantics (atomic `_SUCCESS`-gated
  appends, crash orphans invisible);
- re-dispatch is idempotent: rows whose latest delivery already succeeded
  (2xx) are skipped by an anti-join against the log — the same
  skip-if-done shape as the extraction resume path (P6);
- transient failures retry against the reference's 1/2/4 s backoff
  ladder (`MAX_ATTEMPTS` mirrors `models.py:76-78`; with the default
  3-attempt cap only the 1 s and 2 s rungs sleep — there is no wait
  after the final attempt — the 4 s rung engages for callers raising
  max_attempts); a row that exhausts retries lands in the log with its
  last error so the next dispatch run picks it up again (retry-on-rerun
  == the reference's restart-recovery behavior).

Scale shape: 10^12 docs means the delivery loop cannot live on the driver.
Dispatch runs executor-side via ``mapInPandas`` — per-row Python is
deliberately correct here because each row IS an external network call
(I/O-bound side effect, like a foreachBatch sink), not a columnar
transform. Rows are repartitioned by URL host so one host's deliveries
land in one partition (connection locality, per-host politeness) while
distinct hosts fan out across executors; for fleet-scale politeness the
dispatcher also takes `host_shards` (salt a load-balanced host across N
partitions), `per_post_delay_s` (inter-POST pause) and `max_per_host`
(cap per dispatch run — the anti-join resume is the spillover queue). The transport is injectable (a
picklable callable) so tests exercise success / retry / exhaustion
deterministically without a network; the default transport is a plain
urllib POST.
"""

from __future__ import annotations

import json
import time as _time
from typing import Callable, Iterator, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from documentconvert_spark.state import MAX_ATTEMPTS, StateStore

# (status_code, message) — status_code < 0 means no HTTP response at all
# (connection error); message carries the reason either way.
Transport = Callable[[str, bytes], Tuple[int, str]]

BACKOFF_S = (1.0, 2.0, 4.0)  # reference retry ladder (state.py MAX_ATTEMPTS)

CALLBACK_LOG = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("callback_url", T.StringType(), False),
        # the three columns the reference declared (models.py:81-84)
        T.StructField("callback_status_code", T.IntegerType(), True),
        T.StructField("callback_message", T.StringType(), True),
        T.StructField("callback_time", T.TimestampType(), True),
        T.StructField("delivered", T.BooleanType(), False),
        T.StructField("attempts", T.IntegerType(), False),
        T.StructField("src_run_id", T.StringType(), True),
    ]
)


def http_post_transport(url: str, body: bytes) -> Tuple[int, str]:
    """Default transport: urllib POST, 10 s timeout, JSON body."""
    import urllib.error
    import urllib.request

    req = urllib.request.Request(
        url, data=body, headers={"Content-Type": "application/json"}, method="POST"
    )
    try:
        with urllib.request.urlopen(req, timeout=10) as resp:
            return int(resp.status), str(resp.reason or "OK")[:512]
    except urllib.error.HTTPError as e:  # got a response, non-2xx
        return int(e.code), str(e.reason)[:512]
    except Exception as e:  # no response at all
        return -1, f"{type(e).__name__}: {e}"[:512]


def _url_host(url_col):
    """The ONE host identity of a callback URL: the partition key, the
    max_per_host window and the per-POST pacing key all derive from it.
    Lower-cased, because host names are case-insensitive — without it
    case variants of one receiver would split across partitions and
    escape both the cap and the pacing. try_parse_url: a malformed URL
    must become a NULL-host partition key, not an ANSI INVALID_URL
    crash of the whole dispatch job (the POST itself then fails
    row-locally and lands in the delivery log)."""
    return F.lower(F.try_parse_url(url_col, F.lit("HOST")))


class CallbackLog(StateStore):
    """Delivery log sharing StateStore's COMMIT PROTOCOL — the SCHEMA
    pin reuses append/read/read_run/compact and their _SUCCESS-gating and
    crash-invisibility rules, so those can never drift between the state
    table and its delivery log. The log's latest-row rule is its own
    (newest delivery per (doc, url) by callback_time — there is no
    attempt/completed_at here), which also drives the inherited
    compact().

    Reads are STRICT (no ignoreCorruptFiles): a silently skipped corrupt
    log file would erase delivered=true rows and re-POST already-
    delivered callbacks — for the log, failing loudly beats resuming."""

    SCHEMA = CALLBACK_LOG
    IGNORE_CORRUPT = False
    BACKFILL_SRC_RUN_ID = False  # the dir name is the CALLBACK run id,
    # not the extraction run id this column is defined to hold

    def latest(self) -> DataFrame:
        """Newest delivery row per (doc_id, callback_url)."""
        w = Window.partitionBy("doc_id", "callback_url").orderBy(
            F.desc_nulls_last("callback_time")
        )
        return (
            self.read()
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def delivered_doc_ids(self) -> DataFrame:
        """doc_ids whose LATEST delivery attempt succeeded (2xx)."""
        return (
            self.latest().where(F.col("delivered")).select("doc_id").distinct()
        )


def pending_callbacks(
    state: StateStore, log: CallbackLog, callback_url: Optional[str] = None
) -> DataFrame:
    """Terminal state rows still owed a successful delivery.

    ``callback_url`` is the job-level URL (the reference's per-task field
    set once for the whole submission, `unified_document_api.py:295`); a
    per-row ``callback_url`` column on the state table wins if present.

    Terminal means completed, or failed with retries EXHAUSTED — a failed
    row still under the attempt cap is in-flight (the next run retries
    it) and must not be reported yet, mirroring the reference's flow
    where only tasks leaving the processing pipeline reach the callback
    queue (cleanup worker → callback queue,
    `enhanced_task_processor.py:851-876`).
    """
    rows = state.latest().where(
        (F.col("status") == "completed")
        | ((F.col("status") == "failed") & (F.col("attempt") >= MAX_ATTEMPTS))
    )
    if "callback_url" not in rows.columns:
        if callback_url is None:
            raise ValueError("no callback_url column and no job-level URL")
        rows = rows.withColumn("callback_url", F.lit(callback_url))
    elif callback_url is not None:
        rows = rows.withColumn(
            "callback_url", F.coalesce(F.col("callback_url"), F.lit(callback_url))
        )
    rows = rows.where(F.col("callback_url").isNotNull())
    if log.is_empty():  # metadata-only fast path, same as resume (P6)
        return rows
    done = log.delivered_doc_ids()
    return rows.join(done, "doc_id", "left_anti")


def _dispatch_partitioning(todo: DataFrame, host_shards: int = 1) -> DataFrame:
    """The dispatch layout: by default one host's callbacks land in ONE
    partition (connection locality, strict per-host ordering). At fleet
    scale that is the right default for ordinary receivers but a
    bottleneck for a host that is really a load balancer — 10^9 rows
    for one hostname would serialize through a single executor for
    days. `host_shards > 1` salts the partitioner with a deterministic
    doc_id hash mod shards, splitting each host's rows across up to
    `host_shards` partitions that POST concurrently. Delivery-log
    semantics are unchanged: the log's latest-wins dedup and the
    anti-join resume never depended on partition placement, only
    per-host ORDERING is relaxed (which the salted mode explicitly
    trades away — that is what the knob means). The host travels as a
    `dispatch_host` column so deliver() paces on the very same key."""
    todo = todo.withColumn("dispatch_host", _url_host("callback_url"))
    host = F.col("dispatch_host")
    # sortWithinPartitions makes per-host delivery order (and the
    # same-host inter-POST pacing rule in deliver()) real: a bare
    # repartition leaves rows in shuffle-arrival order, interleaving
    # hosts that share a partition
    if host_shards <= 1:
        return todo.repartition(host).sortWithinPartitions(host, "doc_id")
    # explicit partition count: an expression-only repartition is AQE-
    # coalescible, and merging the salted shards back together would
    # silently undo the split the caller asked for
    try:
        n = int(todo.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        n = 200
    return todo.repartition(
        n, host, F.pmod(F.xxhash64("doc_id"), F.lit(host_shards))
    ).sortWithinPartitions(host, "doc_id")


def dispatch_callbacks(
    state: StateStore,
    log: CallbackLog,
    callback_url: Optional[str] = None,
    transport: Optional[Transport] = None,
    max_attempts: int = MAX_ATTEMPTS,
    backoff_s: Tuple[float, ...] = BACKOFF_S,
    sleep: Callable[[float], None] = _time.sleep,
    host_shards: int = 1,
    per_post_delay_s: float = 0.0,
    max_per_host: Optional[int] = None,
) -> str | None:
    """POST one completion payload per pending terminal row; commit the
    delivery log as one atomic run and return its run_id, or None when
    nothing was pending (no empty run directories accumulate on no-op
    redelivery reruns).

    The side-effecting plan executes exactly once — as the write job
    itself. The only peek happens BEFORE the transport enters the plan
    (pending_callbacks is a pure read): re-executing a plan whose tasks
    POST to external services would double-deliver. (Task RETRIES inside
    one job can still re-POST — inherent to at-least-once side effects;
    the log's latest-wins dedup and the receiver's idempotency key
    (task_id+run_id in the payload) absorb that, same as foreachBatch
    sink guidance.)"""
    transport = transport or http_post_transport
    todo = pending_callbacks(state, log, callback_url)
    # nothing pending → no log run at all. This peek is side-effect-free
    # (todo is a pure read of state+log; the transport only runs inside
    # the mapInPandas below), and it keeps repeated no-op redelivery
    # invocations from appending empty run directories forever.
    if not todo.take(1):
        return None
    payload_cols = [
        "doc_id",
        "callback_url",
        "status",
        "n_spans",
        "error_class",
        "src_run_id",
    ]
    if host_shards < 1:
        raise ValueError(f"host_shards must be >= 1, got {host_shards}")
    if max_per_host is not None and max_per_host < 1:
        # 0 would pass the pending peek above then drop every row, and
        # log.append would commit an EMPTY run directory on every cron'd
        # invocation forever while nothing drains
        raise ValueError(f"max_per_host must be >= 1, got {max_per_host}")
    todo = todo.select(*payload_cols)
    if max_per_host is not None:
        # politeness cap: at most ~N deliveries per host per dispatch
        # run. Rows beyond the cap simply don't reach the log this run,
        # so the NEXT dispatch's anti-join picks them up — the existing
        # resume semantics ARE the spillover queue, no extra state
        # needed. The window partitions by (host, shard-salt), NOT host
        # alone: a host-only window would shuffle the module's own
        # motivating case (10^9 pending rows for one host) into a single
        # sort on one core before the survivors fan out. At
        # host_shards=1 the salt is constant and the cap is exactly the
        # N lowest doc_ids per host; sharded, each shard keeps its own
        # lowest ceil(N/shards), totalling <= N + shards - 1.
        salt = F.pmod(F.xxhash64("doc_id"), F.lit(host_shards))
        wcap = Window.partitionBy(_url_host("callback_url"), salt).orderBy("doc_id")
        per_shard = -(-max_per_host // host_shards)
        todo = (
            todo.withColumn("_hrn", F.row_number().over(wcap))
            .where(F.col("_hrn") <= per_shard)
            .drop("_hrn")
        )
    # one host's callbacks → one partition by default (connection
    # locality, per-host ordering); host_shards > 1 salts load-balanced
    # hosts across partitions — see _dispatch_partitioning
    todo = _dispatch_partitioning(todo, host_shards)

    def deliver(batches: Iterator) -> Iterator:
        import pandas as pd

        prev_host: object = None
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "callback_url", "callback_status_code",
                "callback_message", "callback_time", "delivered", "attempts",
                "src_run_id",
            )}
            for row in pdf.itertuples(index=False):
                if per_post_delay_s > 0:
                    # politeness pause between consecutive POSTs to the
                    # SAME host only — distinct hosts that hash-collide
                    # into one partition are unrelated receivers and
                    # pacing them against each other would serialize
                    # them for no benefit (per-host rows ARE contiguous
                    # within a partition: _dispatch_partitioning sorts
                    # within partitions by host, so same-host == prev row).
                    # The key IS the partition key (no port/userinfo, case
                    # folded); an unparseable URL paces on itself
                    this_host = row.dispatch_host or row.callback_url
                    if prev_host is not None and this_host == prev_host:
                        sleep(per_post_delay_s)
                    prev_host = this_host
                body = json.dumps(
                    {
                        "task_id": row.doc_id,
                        "status": row.status,
                        "n_spans": None if pd.isna(row.n_spans) else int(row.n_spans),
                        "error_class": None
                        if row.error_class is None
                        else str(row.error_class),
                        "run_id": row.src_run_id,
                    },
                    sort_keys=True,
                ).encode("utf-8")
                code, msg, attempts = -1, "not attempted", 0
                for attempt in range(max_attempts):
                    attempts = attempt + 1
                    code, msg = transport(row.callback_url, body)
                    if 200 <= code < 300:
                        break
                    if attempt + 1 < max_attempts:
                        sleep(backoff_s[min(attempt, len(backoff_s) - 1)])
                out["doc_id"].append(row.doc_id)
                out["callback_url"].append(row.callback_url)
                out["callback_status_code"].append(code if code >= 0 else None)
                out["callback_message"].append(msg)
                # naive-UTC wall time: the session timezone is UTC, and a
                # naive executor-local now() would be misread as UTC on
                # non-UTC hosts — skewing delivered_doc_ids' latest-wins
                # ordering across mixed-timezone executors
                out["callback_time"].append(
                    pd.Timestamp.now(tz="UTC").tz_localize(None)
                )
                out["delivered"].append(200 <= code < 300)
                out["attempts"].append(attempts)
                out["src_run_id"].append(row.src_run_id)
            yield pd.DataFrame(out)

    results = todo.mapInPandas(deliver, schema=CALLBACK_LOG)
    return log.append(results)
