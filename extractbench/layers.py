"""Per-layer metrics of the traced run.

Every figure comes from the benchmark's own calls into a module's public
functions, each wrapped in a span: nothing inside the library is traced.
The layer → metric → workload map is in README.md.
"""

from __future__ import annotations

import os
import statistics
import time

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from documentconvert_spark.kernels import errors
from documentconvert_spark.kernels.markdown import spans_to_markdown
from documentconvert_spark.pipeline import (
    corpus_stats, extract_spans, select_work_ids, size_aware_split)
from documentconvert_spark.state import StateStore
from documentconvert_spark.tableio import overwrite_table, read_table
from documentconvert_spark.udfs import _KERNELS  # doc_type → detect.extract_*_any

from extractbench.probes import Tracer, delta, dir_bytes, sample
from extractbench.workloads import REAL_GROUPS, SYNTHETIC_GROUPS, RepResult, Workload

KERNEL_GROUPS = SYNTHETIC_GROUPS + REAL_GROUPS
ERROR_CLASSES = sorted({cls for _, cls in errors._CLASSES} | {"unknown_error"})


def _content_len(content: pd.Series) -> pd.Series:
    return pd.Series([len(c) for c in content], dtype="int64")


# no-op UDF: the content crosses the Arrow boundary and only its length
# comes back, so its time over a plain scan is the hop itself
content_len_udf = pandas_udf(_content_len, returnType=T.LongType())


def _max_over_median(values: list[float]) -> float:
    med = statistics.median(values) if values else 0.0
    return max(values) / med if med else 0.0


def kernel_pass(wl: Workload, tracer: Tracer) -> tuple[dict, float]:
    """Time each kernel in-process on the workload's sample documents.
    Returns the metrics and the estimated kernel + fold CPU seconds for
    the whole input (per-group mean × documents of that group)."""
    docs = wl.kernel_docs()
    for _group, doc_type, content in docs:  # untimed: first calls import parsers
        try:
            _KERNELS[doc_type](content)
        except Exception:  # noqa: BLE001 — poison docs raise by design
            pass
    n = dict.fromkeys(KERNEL_GROUPS, 0)
    kernel_s = dict.fromkeys(KERNEL_GROUPS, 0.0)
    fold_s = dict.fromkeys(KERNEL_GROUPS, 0.0)
    # thread CPU time, comparable with the workers' CPU seconds and blind
    # to the host descheduling this process
    clock = time.thread_time
    with tracer.span("kernels.pass"):
        for _ in range(wl.kernel_reps):
            for group, doc_type, content in docs:
                t0 = clock()
                try:
                    spans = _KERNELS[doc_type](content)
                except Exception:  # noqa: BLE001 — poison docs raise by design
                    spans = None
                t1 = clock()
                if spans is not None:
                    spans_to_markdown(spans)
                    fold_s[group] += clock() - t1
                n[group] += 1
                kernel_s[group] += t1 - t0
    m = {}
    for g in KERNEL_GROUPS:
        m[f"kernels.{g}.ms_per_doc"] = (1e3 * kernel_s[g] / n[g] if n[g] else 0.0, "ms")
        m[f"kernels.{g}.docs"] = (n[g], "count")
    m["kernels.markdown.fold_ms_per_doc"] = (1e3 * sum(fold_s.values()) / max(sum(n.values()), 1), "ms")
    counts = wl.group_counts()
    est = sum((kernel_s[g] + fold_s[g]) / n[g] * counts.get(g, 0) for g in KERNEL_GROUPS if n[g])
    return m, est


def _partition_balance(branches: list[DataFrame]) -> tuple[float, float]:
    rows, nbytes = [], []
    for b in branches:
        for r in (b.select(F.spark_partition_id().alias("p"), "byte_len")
                  .groupBy("p").agg(F.count(F.lit(1)).alias("n"),
                                    F.sum("byte_len").alias("b")).collect()):
            rows.append(r["n"])
            nbytes.append(r["b"])
    return _max_over_median(rows), _max_over_median(nbytes)


def collect(spark: SparkSession, wl: Workload, docs: DataFrame, rep: RepResult,
            cores: int, jvm_pid: int, scratch: str, tracer: Tracer) -> dict:
    """Per-layer metrics, as name → (value, unit), for one traced and
    measured repetition ``rep``."""
    m: dict = {}

    # pipeline: the profiling pass and the size-aware split of the input
    with tracer.span("pipeline.corpus_stats") as sp:
        stats = corpus_stats(docs)
    m["pipeline.corpus_stats_s"] = (sp.duration, "s")
    with tracer.span("pipeline.size_aware_split") as sp:
        light, heavy = size_aware_split(docs, cores, stats=stats)
    m["pipeline.size_aware_split_s"] = (sp.duration, "s")
    n_heavy = heavy.count()
    m["pipeline.heavy_docs"] = (n_heavy, "count")
    m["pipeline.heavy_partitions"] = (heavy.rdd.getNumPartitions() if n_heavy else 0, "count")
    # work selection against the repetition's final state: what a resume
    # run pays up front (the fresh jobs skip it, the drain pays it per round)
    state = StateStore(spark, rep.state_dir)
    with tracer.span("pipeline.select_work_ids") as sp:
        select_work_ids(docs, state).count()
    m["pipeline.select_work_ids_s"] = (sp.duration, "s")
    m["pipeline.rounds"] = (len(rep.rounds), "count")
    m["pipeline.round_s_p50"] = (statistics.median(rep.rounds), "s")
    rows_ratio, bytes_ratio = _partition_balance([light, heavy] if n_heavy else [light])

    # tableio scan, then the same frame through the no-op Arrow UDF
    with tracer.span("tableio.read") as sp:
        docs.agg(F.sum(F.length("content")), F.count(F.lit(1))).collect()
    read_s = sp.duration
    m["tableio.read_s"] = (read_s, "s")
    with tracer.span("udfs.arrow_hop") as sp:
        docs.agg(F.sum(content_len_udf("content"))).collect()
    m["udfs.arrow_hop_s"] = (sp.duration - read_s, "s")

    # the extraction UDF forced without a write, on the job's split
    before = sample(jvm_pid)
    with tracer.span("udfs.extract") as sp:
        parts = [extract_spans(light)] + ([extract_spans(heavy)] if n_heavy else [])
        out = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
        out.agg(F.count(F.lit(1)), F.sum(F.length("markdown")), F.sum("n_spans"),
                F.count("error")).collect()
    python_cpu = delta(before, sample(jvm_pid)).child_cpu_s
    m["udfs.extract_s"] = (sp.duration, "s")
    m["udfs.python_cpu_s"] = (python_cpu, "s")

    # tableio write: the repetition's own output, cached, rewritten
    written = read_table(spark, rep.out_dir).cache()
    written.count()
    with tracer.span("tableio.write") as sp:
        overwrite_table(written, os.path.join(scratch, "spans_out_copy"))
    written.unpersist()
    m["tableio.write_s"] = (sp.duration, "s")
    out_bytes, out_files = dir_bytes(rep.out_dir)
    m["tableio.out_bytes"] = (out_bytes, "B")
    m["tableio.out_files"] = (out_files, "count")

    # state: forced read, then an append of the same rows to a fresh table
    with tracer.span("state.read") as sp:
        state.read().agg(F.count(F.lit(1)), F.sum("n_spans"), F.max("completed_at")).collect()
    m["state.read_s"] = (sp.duration, "s")
    rows = state.read().cache()
    rows.count()
    with tracer.span("state.append") as sp:
        StateStore(spark, os.path.join(scratch, "state_copy")).append(rows)
    rows.unpersist()
    m["state.append_s"] = (sp.duration, "s")
    m["state.run_dirs"] = (sum(
        1 for e in os.listdir(rep.state_dir)
        if e.startswith("run_id=") and os.path.exists(os.path.join(rep.state_dir, e, "_SUCCESS"))
    ), "count")
    m["state.bytes"] = (dir_bytes(rep.state_dir)[0], "B")

    # Spark scheduling over the traced repetition
    m["spark.tasks"] = (rep.tasks, "count")
    m["spark.partition_rows_max_over_median"] = (rows_ratio, "ratio")
    m["spark.partition_bytes_max_over_median"] = (bytes_ratio, "ratio")
    m["spark.jvm_cpu_s"] = (rep.cpu.root_cpu_s, "s")
    m["spark.cpu_util"] = (rep.cpu.cpu_s / (rep.wall_s * cores), "ratio")

    # containment: exact error-row counts of the repetition's output
    by_class = dict(read_table(spark, rep.out_dir).where(F.col("status") == "failed")
                    .groupBy("error_class").count().collect())
    m["containment.error_rows"] = (sum(by_class.values()), "count")
    for cls in ERROR_CLASSES:
        m[f"containment.error_class.{cls}"] = (by_class.get(cls, 0), "count")

    kernels, est_s = kernel_pass(wl, tracer)
    m.update(kernels)
    m["udfs.kernel_share"] = (est_s / python_cpu if python_cpu else 0.0, "ratio")
    return m
