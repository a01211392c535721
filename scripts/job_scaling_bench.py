"""Job-level N-vs-4N scaling evidence: the literal spark-submit shape.

The extraction-level pairs (scaling_bench.py / real_scaling_bench.py)
measure the UDF pipeline; the north_rule's launch shape is the whole
`spark-submit --py-files dist/documentconvert_spark.zip
jobs/run_extract.py` JOB — parquet scan → anti-join work selection →
size-aware split → extraction → zstd parquet write + state append.
This script launches exactly that command per leg (fresh JVM, fresh
state), with the same drift-robust protocol as the other two (legs
interleaved N, 4N, N, 4N, best per level), and a same-window END-TO-END
hardware control — a pure pyarrow + multiprocessing pipeline doing the
identical work (parquet decode → the same extraction kernels → markdown
fold → zstd parquet encode) with no Spark anywhere — so a sub-0.8 job
ratio can be attributed to the box rather than to the job.

The corpus is sized so per-run fixed accounting (corpus profiling pass,
state read-back, job scheduling — a constant ~2 s regardless of corpus
size) stays well under 10% of the fastest leg; the north_rule regime is
10^12 docs, where that constant is nothing.

Usage: python scripts/job_scaling_bench.py [n_docs]
Prints one JSON line and rewrites only the "## spark-submit job-level
scaling" section of BENCH.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from bench_common import (  # noqa: E402
    measure_pair_interleaved,
    pair_summary,
    run_subprocess_json,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_DOCS_DEFAULT = 640_000
BIG_EVERY = 25  # same heavy-tail density as scaling_bench.py
CORPUS_FILES = 64  # enough scan splits that wave quantization can't bite
PAIRS = [(1, 4), (2, 8)]  # physical-core regime (see scaling_bench.py)

_CORPUS_SNIPPET = r"""
import json, sys
sys.path.insert(0, {repo!r})
from documentconvert_spark.benchcorpus import build_bench_corpus
from documentconvert_spark.session import build_session

spark = build_session(app_name="job-scaling-corpus", master="local[32]",
                      shuffle_partitions=32)
docs = build_bench_corpus(spark, {n_docs}, {corpus!r}, big_every={big_every},
                          partitions={files})
print(json.dumps({{"n": docs.count()}}))
spark.stop()
"""

# End-to-end hardware control: the same corpus parquet decoded by
# pyarrow, the same kernels + markdown fold, the same zstd parquet
# encode — one task per input file, no Spark. Bounds what ANY engine
# can achieve end-to-end on this box at that worker count.
_CONTROL_SNIPPET = r"""
import glob, json, os, shutil, sys, tempfile, time
from multiprocessing import Pool
sys.path.insert(0, {repo!r})

FILES = sorted(glob.glob(os.path.join({corpus!r}, "part-*.parquet")))

def work(args):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from documentconvert_spark.kernels.markdown import spans_to_markdown
    from documentconvert_spark.udfs import _KERNELS
    path, out_dir = args
    t = pq.read_table(path, columns=["doc_id", "doc_type", "content"])
    ids, mds, counts = [], [], []
    for did, dt, raw in zip(t["doc_id"].to_pylist(), t["doc_type"].to_pylist(),
                            t["content"].to_pylist()):
        try:
            spans = _KERNELS[dt](raw)
            mds.append(spans_to_markdown(spans))
            counts.append(len(spans))
        except Exception:
            mds.append(None)
            counts.append(-1)
        ids.append(did)
    out = pa.table({{"doc_id": ids, "n_spans": counts, "markdown": mds}})
    pq.write_table(out, os.path.join(out_dir, os.path.basename(path)),
                   compression="zstd")
    return len(ids)

if __name__ == '__main__':
    out = {{}}
    for w in {workers}:
        best = 0.0
        for _ in range(2):
            dest = tempfile.mkdtemp(prefix="jobscale_ctrl_")
            try:
                tasks = [(p, dest) for p in FILES]
                with Pool(w) as p:
                    p.map(work, tasks[:w])  # warm every worker's imports
                    t0 = time.monotonic()
                    n = sum(p.map(work, tasks))
                    best = max(best, n / (time.monotonic() - t0))
            finally:
                shutil.rmtree(dest, ignore_errors=True)
        out[str(w)] = round(best, 1)
    print(json.dumps(out))
"""


def _sub(code: str) -> dict:
    return run_subprocess_json(code, cwd=REPO)


def _submit_leg(corpus: str, cores: int) -> dict:
    """One literal north_rule launch: spark-submit --py-files the packaged
    zip, fresh state, fresh JVM. Timed by the JobResult wall_s the job
    prints (starts at work selection — excludes JVM/session startup, which
    a cluster pays once per executor lifetime, not per job)."""
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix="jobscale_")
    try:
        cmd = [
            "spark-submit",
            "--master", f"local[{cores}]",
            "--driver-memory", "8g",
            "--py-files", os.path.join(REPO, "dist", "documentconvert_spark.zip"),
            os.path.join(REPO, "jobs", "run_extract.py"),
            "--input", corpus,
            "--output", f"{work}/out",
            "--state", f"{work}/state",
            "--partitions", str(cores * 2),
            "--warmup-docs", "2000",
            "--rounds", "1",
        ]
        out = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO,
                             check=True)
        r = json.loads(out.stdout.strip().splitlines()[-1])
        assert r["processed"] == r["docs_in"], r
        return {"cores": cores, "sec": round(r["wall_s"], 2),
                "docs_per_sec": round(r["processed"] / r["wall_s"], 1),
                "n_docs": r["processed"]}
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else N_DOCS_DEFAULT
    corpus = os.path.join(REPO, "_work", f"job_scaling_corpus_{n_docs}_{CORPUS_FILES}f")
    subprocess.run(["bash", os.path.join(REPO, "scripts", "make_pyfiles.sh")],
                   check=True, cwd=REPO, capture_output=True)
    _sub(_CORPUS_SNIPPET.format(repo=REPO, n_docs=n_docs, corpus=corpus,
                                big_every=BIG_EVERY, files=CORPUS_FILES))
    pairs_out = []
    for n, n4 in PAIRS:
        ctrl = _sub(_CONTROL_SNIPPET.format(repo=REPO, corpus=corpus,
                                            workers=[n, n4]))
        best = measure_pair_interleaved(lambda cores: _submit_leg(corpus, cores),
                                        n, n4)
        pairs_out.append(pair_summary(best, ctrl, n, n4))
    result = {"n_docs": n_docs, "big_every": BIG_EVERY, "pairs": pairs_out,
              "timestamp": time.strftime("%Y-%m-%d %H:%M:%S")}
    print(json.dumps(result))
    _write_bench_md(result)


def _write_bench_md(r: dict) -> None:
    lines = [
        "## spark-submit job-level scaling (the north_rule launch shape)",
        "",
        "Produced by `python scripts/job_scaling_bench.py`. Each leg is the",
        "LITERAL launch shape — `spark-submit --master local[N]",
        "--py-files dist/documentconvert_spark.zip jobs/run_extract.py`",
        "against a fresh state table, fresh JVM per leg, legs interleaved",
        "N, 4N ×3 (best per level) — measuring the whole job: parquet",
        "scan → work selection → size-aware split → extraction → zstd",
        "parquet write + state append, over a",
        f"{r['n_docs']:,}-doc synthetic corpus (heavy doc every {r['big_every']}).",
        "The control is END-TO-END too: pyarrow parquet decode → the same",
        "kernels + markdown fold → zstd parquet encode via multiprocessing,",
        "no Spark — the box's ceiling for the full decode-extract-encode path:",
        "",
        "| pair | rate N | rate 4N | efficiency | e2e hardware control* | ≥0.8 |",
        "|---|---|---|---|---|---|",
    ]
    for p in r["pairs"]:
        lines.append(
            f"| {p['pair']} | {p['rate_n']:,} | {p['rate_4n']:,} | "
            f"**{p['efficiency']}** | {p['hardware_control_efficiency']} | "
            f"{'PASS' if p['pass'] else 'no (see control)'} |"
        )
    lines += [
        "",
        "\\* rates in docs/s; measured " + r["timestamp"] + ".",
        "",
        "Job-level measurement drove three structural fixes in the job",
        "itself: `build_session` silently OVERRODE spark-submit's",
        "`--master` with its local[32] fallback (all submitted runs were",
        "secretly 32-thread); the job cached its entire spans+markdown",
        "output in executor memory before writing (now it streams to the",
        "run-scoped directory and derives state rows by a column-pruned",
        "read-back); and the work-selection anti-joins carried the fat",
        "`content` column through a sort-merge shuffle (now they run on a",
        "slim doc_id projection — and not at all on a fresh state). The",
        "remaining sub-1.0 gap is per-run fixed accounting (corpus",
        "profiling, state read-back — constant seconds, nothing at the",
        "10^12-doc regime) plus the shared-bandwidth ceiling the control",
        "row bounds.",
        "",
        "",
    ]
    path = os.path.join(REPO, "BENCH.md")
    with open(path) as f:
        existing = f.read()
    start_marker = "## spark-submit job-level scaling"
    start = existing.find(start_marker)
    if start == -1:
        with open(path, "a") as f:
            f.write("\n" + "\n".join(lines))
        return
    nxt = existing.find("\n## ", start)
    tail = existing[nxt + 1:] if nxt != -1 else ""
    with open(path, "w") as f:
        f.write(existing[:start] + "\n".join(lines) + tail)


if __name__ == "__main__":
    main()
