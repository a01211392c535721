"""Task-completion HTTP callback dispatch (SURVEY.md §2.10 callbacks).

The reference declared per-task callback delivery (``callback_url`` +
``callback_status_code``/``callback_message``/``callback_time`` on the task
model, `database/models.py:81-84`) but left the POST a TODO
(`enhanced_task_processor.py:858-876`). These tests pin the implemented
contract: exactly-once successful delivery per terminal doc, retry with
backoff on transient failure, exhausted rows retried on the next dispatch
run, and the reference's three result fields recorded.

Transports are defined as CLOSURES inside each test: cloudpickle ships
nested functions to executor workers by value (the test module itself is
not importable there). They record calls through the shared filesystem —
driver and local-mode executors see the same tmp_path."""

from __future__ import annotations

import datetime
import json
import os

import pytest

from documentconvert_spark.callbacks import (
    CallbackLog,
    dispatch_callbacks,
    http_post_transport,
    pending_callbacks,
)
from documentconvert_spark.schemas import EXTRACTION_STATE
from documentconvert_spark.state import StateStore


def _state_with_rows(spark, tmp_path, rows):
    # failed rows are written with retries exhausted (attempt=3): only
    # TERMINAL failures are callback-eligible; see the retryable test
    store = StateStore(spark, str(tmp_path / "state"))
    t0 = datetime.datetime(2026, 1, 1, 0, 0, 0)
    df = spark.createDataFrame(
        [
            (
                doc_id,
                0,
                status,
                1 if status == "completed" else 3,
                t0,
                t0,
                0.01,
                n_spans,
                None if status == "completed" else "boom",
                None if status == "completed" else "parse_error",
                f"runs/x/{doc_id}",
                None,
            )
            for doc_id, status, n_spans in rows
        ],
        schema=EXTRACTION_STATE,
    )
    store.append(df, run_id="r1")
    return store


def _recording_ok_transport(call_dir: str):
    """200-OK transport that logs one file per POST into call_dir."""

    def transport(url, body):
        import uuid as _uuid

        with open(os.path.join(call_dir, "c_" + _uuid.uuid4().hex), "w") as f:
            f.write(json.dumps({"url": url, "body": body.decode()}))
        return 200, "OK"

    return transport


def _read_calls(call_dir: str):
    out = []
    for name in sorted(os.listdir(call_dir)):
        if not name.startswith("c_"):
            continue
        with open(os.path.join(call_dir, name)) as f:
            out.append(json.loads(f.read()))
    return out


@pytest.fixture()
def call_dir(tmp_path):
    d = tmp_path / "calls"
    d.mkdir()
    return str(d)


def test_dispatch_posts_once_per_terminal_row(spark, tmp_path, call_dir):
    store = _state_with_rows(
        spark,
        tmp_path,
        [("d1", "completed", 3), ("d2", "failed", None), ("d3", "completed", 1)],
    )
    log = CallbackLog(spark, str(tmp_path / "cblog"))
    run = dispatch_callbacks(
        store,
        log,
        callback_url="http://cb.example/hook",
        transport=_recording_ok_transport(call_dir),
        sleep=lambda _: None,
    )
    assert run is not None
    calls = _read_calls(call_dir)
    assert len(calls) == 3
    assert {c["url"] for c in calls} == {"http://cb.example/hook"}
    by_task = {json.loads(c["body"])["task_id"]: json.loads(c["body"]) for c in calls}
    assert by_task["d1"]["status"] == "completed" and by_task["d1"]["n_spans"] == 3
    assert by_task["d2"]["status"] == "failed"
    assert by_task["d2"]["error_class"] == "parse_error"
    rows = {r.doc_id: r for r in log.read().collect()}
    assert set(rows) == {"d1", "d2", "d3"}
    assert all(r.delivered and r.callback_status_code == 200 for r in rows.values())
    assert all(r.callback_time is not None for r in rows.values())
    assert all(r.attempts == 1 for r in rows.values())


def test_redispatch_skips_delivered_rows(spark, tmp_path, call_dir):
    store = _state_with_rows(spark, tmp_path, [("d1", "completed", 2)])
    log = CallbackLog(spark, str(tmp_path / "cblog"))
    t = _recording_ok_transport(call_dir)
    dispatch_callbacks(
        store, log, callback_url="http://cb.example/hook", transport=t, sleep=lambda _: None
    )
    assert len(_read_calls(call_dir)) == 1
    # second dispatch: nothing pending, no new POSTs
    assert pending_callbacks(store, log, "http://cb.example/hook").count() == 0
    dispatch_callbacks(
        store, log, callback_url="http://cb.example/hook", transport=t, sleep=lambda _: None
    )
    assert len(_read_calls(call_dir)) == 1


def test_transient_failure_retries_with_backoff_then_succeeds(spark, tmp_path, call_dir):
    store = _state_with_rows(spark, tmp_path, [("d1", "completed", 2)])
    log = CallbackLog(spark, str(tmp_path / "cblog"))

    def fail_then_ok(url, body):
        # 503 on the first attempt per payload, 200 after — attempt count
        # tracked through a marker file per payload hash
        import hashlib

        marker = os.path.join(call_dir, "m_" + hashlib.md5(body).hexdigest())
        if os.path.exists(marker):
            return 200, "OK"
        open(marker, "w").close()
        return 503, "try again"

    dispatch_callbacks(
        store,
        log,
        callback_url="http://cb.example/hook",
        transport=fail_then_ok,
        sleep=lambda _: None,
    )
    row = log.read().collect()[0]
    assert row.delivered and row.callback_status_code == 200 and row.attempts == 2


def test_exhausted_failure_logged_and_retried_next_run(spark, tmp_path, call_dir):
    store = _state_with_rows(spark, tmp_path, [("d1", "completed", 2)])
    log = CallbackLog(spark, str(tmp_path / "cblog"))

    def always_503(url, body):
        return 503, "Service Unavailable"

    dispatch_callbacks(
        store,
        log,
        callback_url="http://cb.example/hook",
        transport=always_503,
        sleep=lambda _: None,
    )
    row = log.read().collect()[0]
    assert not row.delivered
    assert row.callback_status_code == 503
    assert row.attempts == 3  # MAX_ATTEMPTS, the reference retry budget
    # not delivered → still pending, the next dispatch run retries it (the
    # reference's restart-recovery behavior for in-flight work)
    assert pending_callbacks(store, log, "http://cb.example/hook").count() == 1
    dispatch_callbacks(
        store,
        log,
        callback_url="http://cb.example/hook",
        transport=_recording_ok_transport(call_dir),
        sleep=lambda _: None,
    )
    assert pending_callbacks(store, log, "http://cb.example/hook").count() == 0
    # the newest log row per doc shows the successful delivery, with the
    # reference's three result fields populated (models.py:120-123)
    (newest,) = log.latest().where("doc_id = 'd1'").collect()
    assert newest.callback_status_code == 200
    assert newest.callback_message == "OK"
    assert newest.callback_time is not None


def test_missing_url_errors_and_job_url_applies(spark, tmp_path, call_dir):
    store = _state_with_rows(spark, tmp_path, [("d1", "completed", 1)])
    log = CallbackLog(spark, str(tmp_path / "cblog"))
    # no per-row column on this state table and no job URL → error
    with pytest.raises(ValueError):
        pending_callbacks(store, log, None)
    run = dispatch_callbacks(
        store,
        log,
        callback_url="http://other.example/x",
        transport=_recording_ok_transport(call_dir),
        sleep=lambda _: None,
    )
    assert run is not None
    assert _read_calls(call_dir)[0]["url"] == "http://other.example/x"


def test_crash_orphan_log_dir_is_invisible(spark, tmp_path, call_dir):
    """A delivery-log run directory without _SUCCESS (crashed append) must
    not mark rows delivered — same commit rule as the state table."""
    store = _state_with_rows(spark, tmp_path, [("d1", "completed", 1)])
    log = CallbackLog(spark, str(tmp_path / "cblog"))
    dispatch_callbacks(
        store,
        log,
        callback_url="http://cb.example/hook",
        transport=_recording_ok_transport(call_dir),
        sleep=lambda _: None,
    )
    run_dir = [d for d in os.listdir(log.path) if d.startswith("run_id=")][0]
    os.remove(os.path.join(log.path, run_dir, "_SUCCESS"))
    assert log.is_empty()
    assert pending_callbacks(store, log, "http://cb.example/hook").count() == 1


def test_default_transport_shapes_errors_not_raises():
    """The urllib transport must contain failures as (code, message) —
    a refused connection is a (-1, reason) result, never an exception."""
    code, msg = http_post_transport("http://127.0.0.1:9/unroutable", b"{}")
    assert code == -1 and msg


def test_end_to_end_with_real_http_server(spark, tmp_path):
    """Full path through the DEFAULT urllib transport against a live
    localhost HTTP server — the executor-side POST is real."""
    import http.server
    import threading

    received = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            n = int(self.headers.get("Content-Length", 0))
            received.append(self.rfile.read(n).decode())
            self.send_response(200)
            self.end_headers()

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        store = _state_with_rows(
            spark, tmp_path, [("d1", "completed", 4), ("d2", "failed", None)]
        )
        log = CallbackLog(spark, str(tmp_path / "cblog"))
        url = f"http://127.0.0.1:{srv.server_address[1]}/hook"
        dispatch_callbacks(store, log, callback_url=url)  # default transport
        assert sorted(json.loads(b)["task_id"] for b in received) == ["d1", "d2"]
        rows = log.read().collect()
        assert all(r.delivered and r.callback_status_code == 200 for r in rows)
    finally:
        srv.shutdown()
        srv.server_close()


def test_retryable_failure_not_called_back(spark, tmp_path):
    """A failed row still under the attempt cap is in-flight (the next
    run retries it) — it must not reach the callback dispatch."""
    import datetime as _dt

    from documentconvert_spark.schemas import EXTRACTION_STATE

    store = StateStore(spark, str(tmp_path / "state"))
    t0 = _dt.datetime(2026, 1, 1, 0, 0, 0)
    df = spark.createDataFrame(
        [("d1", 0, "failed", 1, t0, t0, 0.01, None, "boom", "parse_error",
          "runs/x/d1", None),
         ("d2", 0, "failed", 3, t0, t0, 0.01, None, "boom", "parse_error",
          "runs/x/d2", None)],
        schema=EXTRACTION_STATE,
    )
    store.append(df, run_id="r1")
    log = CallbackLog(spark, str(tmp_path / "cblog"))
    pend = pending_callbacks(store, log, "http://cb.example/hook").collect()
    assert [r.doc_id for r in pend] == ["d2"]  # only the exhausted one

def test_malformed_url_does_not_crash_dispatch(spark, tmp_path, call_dir):
    """A URL try_parse_url cannot parse (illegal char) must flow through
    dispatch as a NULL-host partition key — never an ANSI INVALID_URL
    crash of the whole job; the row still reaches the delivery log."""
    store = _state_with_rows(spark, tmp_path, [("d1", "completed", 1)])
    log = CallbackLog(spark, str(tmp_path / "cblog"))
    run = dispatch_callbacks(
        store,
        log,
        callback_url="http://cb host/hook with spaces",  # unparseable
        transport=_recording_ok_transport(call_dir),
        sleep=lambda _: None,
    )
    assert run is not None
    rows = log.read().collect()
    assert len(rows) == 1 and rows[0].delivered

def test_run_callbacks_cli_redelivers(spark, tmp_path):
    """Drive the standalone jobs/run_callbacks.py CLI against a state
    table and a live localhost server: first invocation delivers, second
    is a no-op (0 delivered, nothing re-POSTed)."""
    import http.server
    import subprocess
    import sys as _sys
    import threading

    received = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            n = int(self.headers.get("Content-Length", 0))
            received.append(self.rfile.read(n).decode())
            self.send_response(200)
            self.end_headers()

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        _state_with_rows(spark, tmp_path, [("d1", "completed", 2), ("d2", "failed", None)])
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        env = {**os.environ, "PYTHONPATH": repo}
        url = f"http://127.0.0.1:{srv.server_address[1]}/hook"
        cmd = [_sys.executable, os.path.join(repo, "jobs", "run_callbacks.py"),
               "--state", str(tmp_path / "state"), "--callback-url", url,
               "--master", "local[2]"]
        p1 = subprocess.run(cmd, capture_output=True, text=True, cwd=repo,
                            env=env, timeout=300)
        assert p1.returncode == 0, p1.stderr[-2000:]
        s1 = json.loads(p1.stdout.strip().splitlines()[-1])
        assert s1["callbacks_delivered"] == 2 and s1["callbacks_failed"] == 0
        assert len(received) == 2
        p2 = subprocess.run(cmd, capture_output=True, text=True, cwd=repo,
                            env=env, timeout=300)
        assert p2.returncode == 0, p2.stderr[-2000:]
        s2 = json.loads(p2.stdout.strip().splitlines()[-1])
        assert s2["callbacks_delivered"] == 0
        assert len(received) == 2  # no re-POSTs
    finally:
        srv.shutdown()
        srv.server_close()

def test_noop_dispatch_appends_no_run_dir_and_log_compacts(spark, tmp_path, call_dir):
    """Repeated no-op redelivery must not grow the log (no empty run
    dirs), and the log's inherited compact() must collapse run dirs
    while preserving delivered_doc_ids."""
    store = _state_with_rows(
        spark, tmp_path, [("d1", "completed", 1), ("d2", "completed", 2)]
    )
    log = CallbackLog(spark, str(tmp_path / "cblog"))
    t = _recording_ok_transport(call_dir)
    r1 = dispatch_callbacks(
        store, log, callback_url="http://cb.example/hook", transport=t,
        sleep=lambda _: None,
    )
    assert r1 is not None
    n_dirs = len(log._committed_run_dirs())
    # no-op rerun: returns None, no new directory
    assert dispatch_callbacks(
        store, log, callback_url="http://cb.example/hook", transport=t,
        sleep=lambda _: None,
    ) is None
    assert len(log._committed_run_dirs()) == n_dirs
    # grow the log with a second real run (new terminal doc), then compact
    store.append(
        spark.createDataFrame(
            [("d3", 0, "completed", 1,
              __import__("datetime").datetime(2026, 1, 2), 
              __import__("datetime").datetime(2026, 1, 2),
              0.01, 1, None, None, "runs/x/d3", None)],
            schema=EXTRACTION_STATE,
        ),
        run_id="r2",
    )
    dispatch_callbacks(
        store, log, callback_url="http://cb.example/hook", transport=t,
        sleep=lambda _: None,
    )
    assert len(log._committed_run_dirs()) == n_dirs + 1
    before = {r.doc_id for r in log.delivered_doc_ids().collect()}
    log.compact()
    assert len(log._committed_run_dirs()) == 1
    after = {r.doc_id for r in log.delivered_doc_ids().collect()}
    assert after == before == {"d1", "d2", "d3"}

def test_run_extract_cli_inline_callbacks(spark, tmp_path):
    """The inline --callback-url path on run_extract: first run delivers
    one callback per terminal doc; an idempotent rerun (resume no-op)
    reports a null callback run and POSTs nothing new."""
    import http.server
    import subprocess
    import sys as _sys
    import threading

    from documentconvert_spark.corpus import corpus_rows
    from tests.test_kernels import fixture_corpus
    from documentconvert_spark.schemas import DOCUMENTS_RAW

    received = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            n = int(self.headers.get("Content-Length", 0))
            received.append(self.rfile.read(n).decode())
            self.send_response(200)
            self.end_headers()

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        raw = str(tmp_path / "raw")
        spark.createDataFrame(
            corpus_rows(fixture_corpus()), schema=DOCUMENTS_RAW
        ).write.parquet(raw)
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        env = {**os.environ, "PYTHONPATH": repo}
        url = f"http://127.0.0.1:{srv.server_address[1]}/hook"
        cmd = [_sys.executable, os.path.join(repo, "jobs", "run_extract.py"),
               "--input", raw, "--output", str(tmp_path / "out"),
               "--state", str(tmp_path / "state"), "--master", "local[4]",
               "--rounds", "3", "--callback-url", url]
        p1 = subprocess.run(cmd, capture_output=True, text=True, cwd=repo,
                            env=env, timeout=300)
        assert p1.returncode == 0, p1.stderr[-2000:]
        cb1 = [json.loads(l) for l in p1.stdout.splitlines()
               if l.startswith('{"callback')][0]
        assert cb1["callbacks_delivered"] == len(received) > 0
        n1 = len(received)
        p2 = subprocess.run(cmd, capture_output=True, text=True, cwd=repo,
                            env=env, timeout=300)
        assert p2.returncode == 0, p2.stderr[-2000:]
        cb2 = [json.loads(l) for l in p2.stdout.splitlines()
               if l.startswith('{"callback')][0]
        assert cb2["callback_run"] is None and cb2["callbacks_delivered"] == 0
        assert len(received) == n1  # nothing re-POSTed
    finally:
        srv.shutdown()
        srv.server_close()


def test_host_shards_split_skewed_host_layout_and_semantics(spark, tmp_path, call_dir):
    """Fleet-scale politeness (r4 verdict ask): by design one host's
    deliveries land in ONE partition — at 10^9 rows for a load-balanced
    host that is one executor POSTing for days. host_shards must split
    the skewed host across partitions while leaving delivery-log
    semantics (one successful POST per row, idempotent re-dispatch)
    unchanged."""
    from pyspark.sql import functions as F

    from documentconvert_spark.callbacks import _dispatch_partitioning, _url_host

    skewed = spark.createDataFrame(
        [(f"a{i:02d}", "http://big.example/cb") for i in range(40)]
        + [("b0", "http://small.example/cb"), ("b1", "http://small.example/cb")],
        "doc_id string, callback_url string",
    )

    def parts_per_host(frame):
        return {
            r["h"]: r["n"]
            for r in frame.withColumn("p", F.spark_partition_id())
            .groupBy(_url_host("callback_url").alias("h"))
            .agg(F.countDistinct("p").alias("n"))
            .collect()
        }

    default = parts_per_host(_dispatch_partitioning(skewed, 1))
    assert default == {"big.example": 1, "small.example": 1}
    sharded = parts_per_host(_dispatch_partitioning(skewed, 4))
    assert sharded["big.example"] > 1, sharded  # the skew actually splits
    assert sharded["big.example"] <= 4
    # end-to-end under the knob: every row delivered exactly once, then
    # a re-dispatch finds nothing pending
    store = _state_with_rows(
        spark, tmp_path, [(f"d{i}", "completed", 1) for i in range(6)]
    )
    log = CallbackLog(spark, str(tmp_path / "cblog"))
    run = dispatch_callbacks(
        store, log, callback_url="http://cb.example/hook",
        transport=_recording_ok_transport(call_dir), sleep=lambda _: None,
        host_shards=4,
    )
    assert run is not None
    assert len(_read_calls(call_dir)) == 6
    assert pending_callbacks(store, log, "http://cb.example/hook").count() == 0


def test_host_case_variants_share_partition_cap_and_pacing(spark, tmp_path):
    """Host names are case-insensitive: URLs for one receiver that differ
    only in host case (and port) must land in one dispatch partition,
    count against one max_per_host budget and pace as one host."""
    from pyspark.sql import functions as F

    from documentconvert_spark.callbacks import _dispatch_partitioning

    urls = ["http://CB.Example/hook", "http://cb.example/hook",
            "http://cb.EXAMPLE:8080/other"]
    rows = spark.createDataFrame(
        [(f"d{i}", "completed", 1, 1, u) for i, u in enumerate(urls)],
        "doc_id string, status string, n_spans int, attempt int, callback_url string",
    ).withColumn("error_class", F.lit(None).cast("string")).withColumn(
        "src_run_id", F.lit("r1"))
    laid = _dispatch_partitioning(rows, 1).withColumn("p", F.spark_partition_id()).collect()
    assert {r.dispatch_host for r in laid} == {"cb.example"}
    assert len({r.p for r in laid}) == 1

    class _State:  # per-row callback_url column, as pending_callbacks allows
        def latest(self):
            return rows

    sleeps = str(tmp_path / "sleeps")
    os.makedirs(sleeps)

    def recording_sleep(seconds):
        import uuid as _uuid

        with open(os.path.join(sleeps, "s_" + _uuid.uuid4().hex), "w") as f:
            f.write(str(seconds))

    calls = str(tmp_path / "calls")
    os.makedirs(calls)
    log = CallbackLog(spark, str(tmp_path / "cblog"))
    dispatch_callbacks(_State(), log, transport=_recording_ok_transport(calls),
                       sleep=recording_sleep, per_post_delay_s=0.5)
    assert len(_read_calls(calls)) == 3
    # three consecutive POSTs to one host: a pause before the 2nd and 3rd
    assert sorted(open(os.path.join(sleeps, n)).read()
                  for n in os.listdir(sleeps)) == ["0.5", "0.5"]
    # and one max_per_host budget across the case variants
    log2 = CallbackLog(spark, str(tmp_path / "cblog2"))
    dispatch_callbacks(_State(), log2, transport=_recording_ok_transport(calls),
                       sleep=lambda _: None, max_per_host=2)
    assert {r.doc_id for r in log2.read().collect()} == {"d0", "d1"}


def test_max_per_host_caps_per_run_and_spills_to_next(spark, tmp_path, call_dir):
    """max_per_host delivers the N lowest doc_ids per host per dispatch
    run; the remainder stays pending (the anti-join resume IS the
    spillover queue) and drains over subsequent runs, and the inter-POST
    delay sleeps exactly once between the two rows of the partition."""
    store = _state_with_rows(
        spark, tmp_path, [(f"d{i}", "completed", 1) for i in range(5)]
    )
    log = CallbackLog(spark, str(tmp_path / "cblog"))
    t = _recording_ok_transport(call_dir)
    sleep_dir = str(tmp_path / "sleeps")
    os.makedirs(sleep_dir)

    def recording_sleep(seconds):
        import uuid as _uuid

        with open(os.path.join(sleep_dir, "s_" + _uuid.uuid4().hex), "w") as f:
            f.write(str(seconds))

    dispatch_callbacks(
        store, log, callback_url="http://cb.example/hook", transport=t,
        sleep=recording_sleep, max_per_host=2, per_post_delay_s=0.25,
    )
    assert {r.doc_id for r in log.read().collect()} == {"d0", "d1"}
    sleeps = [open(os.path.join(sleep_dir, n)).read() for n in os.listdir(sleep_dir)]
    assert sleeps == ["0.25"]  # between the 2 rows only — not after the last
    dispatch_callbacks(
        store, log, callback_url="http://cb.example/hook", transport=t,
        sleep=lambda _: None, max_per_host=2,
    )
    assert {r.doc_id for r in log.read().collect()} == {"d0", "d1", "d2", "d3"}
    dispatch_callbacks(
        store, log, callback_url="http://cb.example/hook", transport=t,
        sleep=lambda _: None, max_per_host=2,
    )
    assert len(_read_calls(call_dir)) == 5  # exactly once each overall
    assert pending_callbacks(store, log, "http://cb.example/hook").count() == 0
