"""Cluster job entrypoint: resumable corpus extraction.

Submit (north_rule launch shape):

    scripts/make_pyfiles.sh   # builds dist/documentconvert_spark.zip
    spark-submit \
      --master <cluster> \
      --driver-memory 8g \
      --py-files dist/documentconvert_spark.zip \
      jobs/run_extract.py \
      --input  <documents_raw parquet/iceberg path> \
      --output <spans_out path> \
      --state  <state table path> \
      [--partitions N] [--rounds 3] [--max-docs N]

Rerunning the same command after any interruption resumes from the state
table (anti-join work selection); --rounds>1 retries failed docs with
exponential backoff (1/2/4 s — reference TASK_PROCESSING_GUIDE.md:89-93)
up to the per-doc attempt cap. --max-docs bounds each round to a batch
(the reference fetch-worker polls `limit=max_concurrent_tasks` pending
tasks, enhanced_task_processor.py:259-307); rounds then drain batches
until one selects nothing. --callback-url POSTs one completion payload
per terminal doc after the rounds finish (documentconvert_spark/
callbacks.py — executor-side dispatch, _SUCCESS-gated delivery log,
rerun-safe).
"""

from __future__ import annotations

import argparse
import json
import sys

import _bootstrap  # noqa: F401  (self-sufficient launch; see jobs/_bootstrap.py)
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--state", required=True)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument(
        "--max-docs",
        type=int,
        default=None,
        help="bounded batches: process at most this many docs per round "
        "(the reference fetch-worker pulls limit=max_concurrent_tasks "
        "pending tasks per poll); rounds continue until a round finds "
        "nothing left, still capped by --rounds",
    )
    ap.add_argument("--master", default=None, help="override master (local testing)")
    ap.add_argument(
        "--compact-state",
        action="store_true",
        help="after the rounds finish, collapse the state table's run "
        "directories into one committed snapshot holding the latest row "
        "per doc_id (Iceberg expire_snapshots + rewrite analogue): at "
        "corpus scale the per-run directory count is what makes latest() "
        "reconstruction slow, so long-lived pipelines should compact "
        "periodically; resume semantics are unchanged",
    )
    ap.add_argument(
        "--callback-url",
        default=None,
        help="after the rounds finish, POST one task-completion payload "
        "per terminal doc to this URL (the reference's per-task "
        "callback_url, api/unified_document_api.py:157; its processor "
        "left the POST a TODO). Delivery results land in "
        "<state>_callbacks with the declared status-code/message/time "
        "fields; already-delivered docs are skipped on rerun",
    )
    args = ap.parse_args()

    from documentconvert_spark.pipeline import run_extraction_job
    from documentconvert_spark.session import build_session
    from documentconvert_spark.state import StateStore

    spark = build_session(app_name="documentconvert-extract", master=args.master)
    docs = spark.read.parquet(args.input)
    state = StateStore(spark, args.state)

    backoff = 1.0
    for rnd in range(1, args.rounds + 1):
        r = run_extraction_job(
            spark,
            docs,
            args.output,
            state,
            target_partitions=args.partitions,
            max_docs=args.max_docs,
        )
        print(json.dumps({"round": rnd, **r.__dict__}))
        if r.processed == 0:
            break  # nothing left to select — corpus drained (or all terminal)
        if r.failed == 0 and (args.max_docs is None or r.processed < args.max_docs):
            # converged: an unbatched clean pass, or a clean PARTIAL batch
            # (the selection found less than the batch bound, so nothing
            # remains — skip the otherwise-wasted empty confirmation round)
            break
        if rnd < args.rounds and r.failed:
            time.sleep(backoff)  # 1/2/4 s exponential backoff between retry rounds
            backoff *= 2
    if args.callback_url and not state.is_empty():
        from documentconvert_spark.callbacks import CallbackLog, dispatch_callbacks

        log = CallbackLog(spark, args.state.rstrip("/") + "_callbacks")
        cb_run = dispatch_callbacks(state, log, callback_url=args.callback_url)
        # THIS run's deliveries only — the full log holds prior runs too
        delivered = (0 if cb_run is None
                     else log.read_run(cb_run).where("delivered").count())
        print(json.dumps({"callback_run": cb_run, "callbacks_delivered": delivered}))
    if args.compact_state and not state.is_empty():
        n_before = len(state._committed_run_dirs())
        state.compact()
        print(json.dumps({"compacted_runs": n_before,
                          "runs_after": len(state._committed_run_dirs())}))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
