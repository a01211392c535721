"""Extraction-job benchmark: one seeded workload per invocation.

    python3 extractbench/run.py --workload synthetic_fresh --seed 1 --seconds 12 --trace 0

Builds the workload's input (cached under ``_work/extractbench``), starts
one Spark session on ``local[<cores>]``, warms up, then runs the shipped
resumable job (``pipeline.run_extraction_job``) in a closed loop, one
repetition after another with fresh output and state directories, until
``--seconds`` of job time have been measured. Every repetition's output
is checked. ``--trace 1`` instead runs one untraced and one traced
repetition and reports per-layer metrics (see README.md).

Prints each metric as ``name value unit``, then one JSON line. Exit code
1 means an output was wrong; 2 means a repository input is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _log(msg: str) -> None:
    print(f"extractbench: {msg}", file=sys.stderr, flush=True)


def _set_env(work: str) -> str:
    """Keep every file the run writes inside the work directory, and give
    the Python workers the repository on their path."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the small JVM spark-submit runs to assemble the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    return tmp


def _start_session(work: str, tmp: str, cores: int):
    from documentconvert_spark.session import build_session

    return build_session(
        app_name="extractbench",
        master=f"local[{cores}]",
        extra_conf={
            # progress bars and cancelled-worker noise must not bury the result line
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed, pre-touched heap keeps the JVM's resident set from
            # wandering with GC timing, so peak_rss_mb moves only with
            # memory the program uses beyond the heap and in its workers
            "spark.driver.extraJavaOptions": (
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
        },
    )


def _stop_session(spark, jvm_pid: int) -> None:
    """Stop Spark, then the gateway JVM, and wait until every process the
    JVM started has exited."""
    from pyspark import SparkContext

    from extractbench.probes import process_tree

    tree = process_tree(jvm_pid)
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in tree if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, 9)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.1)


def _timed_rep(spark, wl, docs, rep_dir: str, tracer, k: int, jvm_pid: int):
    """Run, measure and check repetition ``k``; returns its RepResult."""
    from extractbench.probes import delta, dir_bytes, group_tasks, sample

    sc = spark.sparkContext
    group = f"rep-{k}"
    sc.setJobGroup(group, f"{wl.name} repetition {k}")
    before = sample(jvm_pid)
    rep = wl.run(spark, docs, rep_dir, tracer, k)
    rep.cpu = delta(before, sample(jvm_pid))
    sc.setJobGroup("untimed", "checks and layer passes")
    rep.tasks, rep.failed_tasks = group_tasks(sc, group)
    rep.out_bytes = dir_bytes(rep.out_dir)[0] + dir_bytes(rep.state_dir)[0]
    t0 = time.perf_counter()
    rep.mismatches = wl.check(spark, rep)
    _log(f"repetition {k}: {rep.docs} docs in {rep.wall_s:.3f} s over {len(rep.rounds)} "
         f"round(s), peak RSS {rep.cpu.hwm_mb:.0f} MB, {rep.mismatches} mismatched, "
         f"checked in {time.perf_counter() - t0:.2f} s")
    return rep


def _end_to_end(reps: list, setup_s: float) -> dict:
    med = statistics.median
    return {
        "docs_per_s": (med(r.docs / r.wall_s for r in reps), "docs/s"),
        "cpu_s_per_1k_docs": (med(1e3 * r.cpu.cpu_s / r.docs for r in reps), "s"),
        "peak_rss_mb": (max(r.cpu.hwm_mb for r in reps), "MB"),
        "out_bytes_per_doc": (med(r.out_bytes / r.docs for r in reps), "B"),
        "setup_s": (setup_s, "s"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    help="synthetic_fresh, realformat_fresh, synthetic_drain or heavy_tail")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="job time to measure; the repetition in progress finishes")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        from extractbench import layers, workloads
    except ImportError as exc:
        print(f"extractbench: cannot import the library from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from extractbench.probes import Tracer, process_age_s

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {', '.join(workloads.WORKLOADS)}")
    work = os.path.join(ROOT, "_work", "extractbench")
    try:
        wl = workloads.WORKLOADS[args.workload](args.seed, work)
    except workloads.MissingInput as exc:
        print(f"extractbench: {exc}", file=sys.stderr)
        return 2
    tmp = _set_env(work)
    cores = len(os.sched_getaffinity(0))
    tracer = Tracer(wl.name, enabled=bool(args.trace))
    reps_dir = os.path.join(work, "reps", f"{wl.name}-{os.getpid()}")

    generate_s = wl.prepare()
    t0 = time.perf_counter()
    spark = _start_session(work, tmp, cores)
    build_s = time.perf_counter() - t0
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    try:
        docs = spark.read.parquet(wl.input_path)
        t0 = time.perf_counter()
        off = Tracer(wl.name, enabled=False)
        for _ in range(wl.warmup_reps):
            wl.run(spark, docs, os.path.join(reps_dir, "warmup"), off)
        warmup_s = time.perf_counter() - t0
        _log(f"session {build_s:.2f} s, input generation {generate_s:.2f} s, "
             f"warm-up {warmup_s:.2f} s")
        # process start → first timed call, less input generation: a cache
        # miss is the benchmark's own cost, not the program's
        setup_s = process_age_s() - generate_s

        if args.trace:
            untraced = _timed_rep(spark, wl, docs, os.path.join(reps_dir, "r0"), off, 0, jvm_pid)
            traced = _timed_rep(spark, wl, docs, os.path.join(reps_dir, "r1"), tracer, 1, jvm_pid)
            reps = [untraced, traced]
            metrics = layers.collect(spark, wl, docs, traced, cores, jvm_pid,
                                     os.path.join(reps_dir, "scratch"), tracer)
            metrics["session.build_s"] = (build_s, "s")
            metrics["setup.generate_s"] = (generate_s, "s")
            metrics["setup.warmup_s"] = (warmup_s, "s")
            metrics["trace.overhead_s"] = (traced.wall_s - untraced.wall_s, "s")
            tracer.dump(os.path.join(work, "traces", f"{wl.name}-seed{args.seed}.jsonl"))
        else:
            reps, measured = [], 0.0
            while not reps or measured < args.seconds:
                rep_dir = os.path.join(reps_dir, f"r{len(reps)}")
                reps.append(_timed_rep(spark, wl, docs, rep_dir, tracer, len(reps), jvm_pid))
                measured += reps[-1].wall_s
                shutil.rmtree(rep_dir, ignore_errors=True)
            metrics = _end_to_end(reps, setup_s)
    finally:
        _stop_session(spark, jvm_pid)
        shutil.rmtree(reps_dir, ignore_errors=True)

    mismatch_docs = sum(r.mismatches for r in reps)
    failed_tasks = sum(r.failed_tasks for r in reps)
    # always 0 on a correct run, so they gate `correct` instead of being
    # compared as metrics
    shown = dict(metrics, mismatch_docs=(mismatch_docs, "count"),
                 failed_tasks=(failed_tasks, "count"))
    for name, (value, unit) in shown.items():
        print(f"{name} {value} {unit}")
    attempted = sum(r.docs for r in reps)
    correct = mismatch_docs == 0 and failed_tasks == 0
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": min(mismatch_docs, attempted),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
