"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest extractbench/tests -q
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from documentconvert_spark.corpus import make_doc_by_index  # noqa: E402
from documentconvert_spark.kernels.spans import Span  # noqa: E402

from extractbench.probes import (  # noqa: E402
    Span as TraceSpan, Tracer, delta, process_age_s, process_tree, sample, self_time)
from extractbench.workloads import SyntheticDrain, count_mismatches, span_key  # noqa: E402


def _expected(docs):
    return {d.doc_id: ("failed", None) if d.expect_error
            else ("completed", span_key(d.expected)) for d in docs}


def test_identical_output_has_no_mismatch():
    docs = [make_doc_by_index(i, seed=3) for i in range(30)]
    again = [make_doc_by_index(i, seed=3) for i in range(30)]
    assert count_mismatches(_expected(docs), _expected(again)) == 0


def test_corrupted_span_counts_one_mismatch():
    docs = [make_doc_by_index(i, seed=3) for i in range(30)]
    actual = _expected(docs)
    victim = next(d for d in docs if d.expected)
    spans = list(victim.expected)
    s0 = spans[0]
    spans[0] = Span(s0.kind, s0.text + "x", s0.media_ref, s0.offset, s0.level)
    actual[victim.doc_id] = ("completed", span_key(spans))
    assert count_mismatches(_expected(docs), actual) == 1


def test_missing_or_wrong_status_counts_as_mismatch():
    docs = [make_doc_by_index(i, seed=3) for i in range(22)]
    actual = _expected(docs)
    poison = next(d for d in docs if d.expect_error)
    actual[poison.doc_id] = ("completed", ())
    del actual[docs[0].doc_id]
    assert count_mismatches(_expected(docs), actual) == 2


def test_drain_schedule_counts_poison_docs():
    wl = SyntheticDrain(seed=1, work_dir="", n_docs=220, max_docs=50)
    assert wl.n_poison == sum(make_doc_by_index(i, 1).expect_error for i in range(220))


def test_sampler_deltas_are_non_negative():
    child = subprocess.Popen([sys.executable, "-c", "sum(i * i for i in range(3_000_000))"])
    before = sample(os.getpid())
    sum(i * i for i in range(2_000_000))
    child.wait(timeout=60)
    d = delta(before, sample(os.getpid()))
    assert d.root_cpu_s >= 0
    assert d.child_cpu_s >= 0
    assert d.hwm_mb > 0
    assert os.getpid() in process_tree(os.getpid())
    assert process_age_s() >= 0


def test_self_time_is_duration_minus_children():
    spans = [
        TraceSpan(0, "job", 0.0, 10.0, None, "w", 0),
        TraceSpan(1, "a", 1.0, 3.0, 0, "w", 0),
        TraceSpan(2, "b", 2.0, 5.0, 0, "w", 0),  # overlaps a: counted once
        TraceSpan(3, "c", 7.0, 8.0, 0, "w", 0),
        TraceSpan(4, "grandchild", 7.2, 7.8, 3, "w", 0),  # not a direct child
    ]
    assert self_time(spans, spans[0]) == 10.0 - 5.0
    assert self_time(spans, spans[3]) == pytest.approx(0.4)
    assert self_time(spans, spans[4]) == spans[4].duration


def test_tracer_nests_and_dumps(tmp_path):
    tr = Tracer("w")
    with tr.span("outer", rep=1):
        with tr.span("inner", rep=1):
            pass
    outer, inner = tr.spans
    assert inner.parent == outer.id and outer.parent is None
    assert self_time(tr.spans, outer) <= outer.duration
    tr.dump(str(tmp_path / "t" / "spans.jsonl"))
    assert len((tmp_path / "t" / "spans.jsonl").read_text().splitlines()) == 2
    off = Tracer("w", enabled=False)
    with off.span("x") as sp:
        assert sp is None
    assert off.spans == []
