"""The benchmark's four seeded workloads.

Each workload builds its input from in-repo generators and fixtures only,
caches it under the work directory keyed by (workload, seed, size), runs
the shipped resumable job the way ``jobs/run_extract.py`` calls it, and
checks a repetition's output against the generator's expected spans or
the committed goldens. See README.md for why each workload exists.
"""

from __future__ import annotations

import functools
import os
import random
import shutil
import subprocess
import sys
import time
from collections import Counter
from dataclasses import dataclass, field

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from documentconvert_spark import corpus
from documentconvert_spark.ingest import _SUFFIX_TO_TYPE
from documentconvert_spark.pipeline import JobResult, run_extraction_job
from documentconvert_spark.state import MAX_ATTEMPTS, StateStore
from documentconvert_spark.tableio import read_table

from extractbench.probes import ProcSample, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RESOURCES = os.path.join(ROOT, "documentconvert_spark", "resources")
EXTRA_DOCS = os.path.join(RESOURCES, "extra_docs")
REAL_GOLDENS = os.path.join(RESOURCES, "expected_real_docs.parquet")

# docs regenerated driver-side per repetition to check span sequences
CHECK_SAMPLE = 200
# MB-scale docs regenerated for the check and the kernel pass (~0.3 s each)
HEAVY_SAMPLE = 3
# F-BIG page count multiplier: scale 30 gives ~1.2 MB, above HEAVY_MIN_BYTES
HEAVY_SCALE = 30
# parquet files of a synthetic input, so the scan yields several splits
INPUT_PARTS = 8


class MissingInput(RuntimeError):
    """An in-repo fixture or golden the benchmark needs is absent."""


def span_key(spans) -> tuple | None:
    """The compared part of a span sequence: (kind, text, media_ref, offset)
    per span, in order, from Span objects or Spark Rows."""
    if spans is None:
        return None
    return tuple((s.kind, s.text, s.media_ref, s.offset) for s in spans)


def count_mismatches(expected: dict, actual: dict) -> int:
    """Documents whose (status, span sequence) in ``actual`` differs from
    ``expected`` or is missing; both map doc_id → (status, span_key)."""
    return sum(1 for doc_id, want in expected.items() if actual.get(doc_id) != want)


@dataclass
class RepResult:
    """One closed-loop repetition: the timed job call(s), where they wrote,
    and what the run measured around them (CPU and peak memory of the JVM
    process tree, Spark task counts, bytes written, wrong documents)."""

    docs: int
    wall_s: float
    out_dir: str
    state_dir: str
    rounds: list[float] = field(default_factory=list)
    jobs: list[JobResult] = field(default_factory=list)
    cpu: ProcSample | None = None
    tasks: int = 0
    failed_tasks: int = 0
    out_bytes: int = 0
    mismatches: int = 0


def _fresh_dirs(rep_dir: str) -> tuple[str, str]:
    shutil.rmtree(rep_dir, ignore_errors=True)
    os.makedirs(rep_dir)
    return os.path.join(rep_dir, "spans_out"), os.path.join(rep_dir, "state")


class Workload:
    name = ""
    # untimed repetitions before the timed ones: the first job of a session
    # pays for worker start-up, and the next still runs 10-15% slow
    warmup_reps = 2
    kernel_reps = 1  # times the kernel pass runs over kernel_docs()

    def __init__(self, seed: int, work_dir: str) -> None:
        self.seed = seed
        self.work_dir = work_dir

    # -- sizing and inputs ------------------------------------------------

    @property
    def size_key(self) -> str:
        raise NotImplementedError

    @property
    def input_path(self) -> str:
        return os.path.join(self.work_dir, "inputs",
                            f"{self.name}-seed{self.seed}-{self.size_key}")

    def prepare(self) -> float:
        """Materialize the input unless cached; seconds spent generating."""
        if os.path.exists(os.path.join(self.input_path, "_SUCCESS")):
            return 0.0
        t0 = time.perf_counter()
        shutil.rmtree(self.input_path, ignore_errors=True)
        self._generate()
        return time.perf_counter() - t0

    def _generate(self) -> None:
        raise NotImplementedError

    # -- the timed job ------------------------------------------------------

    def run(self, spark: SparkSession, docs: DataFrame, rep_dir: str,
            tracer: Tracer, rep: int | None = None) -> RepResult:
        """One fresh-state job over the whole input (``run_extract`` with
        the default single round: a clean pass converges)."""
        out_dir, state_dir = _fresh_dirs(rep_dir)
        state = StateStore(spark, state_dir)
        with tracer.span("pipeline.round", rep):
            t0 = time.perf_counter()
            r = run_extraction_job(spark, docs, out_dir, state)
            wall = time.perf_counter() - t0
        return RepResult(r.processed, wall, out_dir, state_dir, [wall], [r])

    # -- correctness ----------------------------------------------------------

    def check(self, spark: SparkSession, res: RepResult) -> int:
        raise NotImplementedError

    # -- the driver-side kernel pass -------------------------------------------

    def kernel_docs(self) -> list[tuple[str, str, bytes]]:
        """(group, doc_type, content) documents for the in-process pass."""
        raise NotImplementedError

    def group_counts(self) -> dict[str, int]:
        """Documents per kernel group in the whole input."""
        raise NotImplementedError


# ---------------------------------------------------------------- synthetic


def class_group(cls: str) -> str:
    """Kernel group of a synthetic class, as its doc_id prefix spells it."""
    return cls.lower().replace("-", "")


SYNTHETIC_GROUPS = [class_group(c) for c in corpus.CLASSES]


def heavy_doc(i: int, seed: int) -> corpus.RawDoc:
    """An MB-scale F-BIG document (the stock one is ~40 KB)."""
    rng = random.Random(f"{seed}:F-BIG:{i}")
    doc_id = f"fbig-{i:06d}"
    content, exp = corpus._build_pdf_class("F-BIG", rng, doc_id, scale=HEAVY_SCALE)
    return corpus.RawDoc(doc_id, "pdf", content, f"bucket-{i % 7}",
                         f"incoming/F-BIG/{doc_id}.pdf", exp)


class Synthetic(Workload):
    """KB-scale synthetic corpus: ``corpus.make_doc_by_index``, the
    generator ``benchcorpus`` runs, with one 40 KB F-BIG doc every
    ``big_every``; or, with ``heavy_every``, an MB-scale F-BIG doc at every
    ``heavy_every``-th index instead."""

    big_every = 500
    heavy_every = 0

    def __init__(self, seed: int, work_dir: str, n_docs: int) -> None:
        super().__init__(seed, work_dir)
        self._n = n_docs

    @property
    def size_key(self) -> str:
        return f"n{self._n}-big{self.big_every}-heavy{self.heavy_every}"

    def is_heavy(self, i: int) -> bool:
        return bool(self.heavy_every) and i % self.heavy_every == self.heavy_every - 1

    def doc_class(self, i: int) -> str:
        """The fixture class ``corpus.make_doc_by_index`` picks for index i."""
        if self.is_heavy(i):
            return "F-BIG"
        if self.big_every and i % self.big_every == self.big_every - 1:
            return "F-BIG"
        return corpus._SCALE_CLASSES[i % len(corpus._SCALE_CLASSES)]

    def make_doc(self, i: int) -> corpus.RawDoc:
        if self.is_heavy(i):
            return heavy_doc(i, self.seed)
        return corpus.make_doc_by_index(i, self.seed, self.big_every)

    @property
    def n_poison(self) -> int:
        return sum(1 for i in range(self._n) if self.doc_class(i) == "F-POISON")

    def _generate(self) -> None:
        # generated outside Spark, so a cache miss warms neither the JVM nor
        # the Python workers and set-up reads the same on a hit or a miss;
        # plain child processes, each waited for, because a multiprocessing
        # pool leaves its resource tracker running after the benchmark exits
        os.makedirs(self.input_path)
        workers = min(INPUT_PARTS, os.cpu_count() or 1)
        procs = []
        try:
            for w in range(workers):
                procs.append(subprocess.Popen(
                    [sys.executable, "-m", "extractbench.workloads", self.name,
                     str(self.seed), self.work_dir, str(w), str(workers)], cwd=ROOT))
            failed = [p.args for p in procs if p.wait() != 0]
        finally:
            for p in procs:
                if p.poll() is None:
                    p.kill()
                    p.wait()
        if failed:
            raise RuntimeError(f"input generation failed: {failed}")
        open(os.path.join(self.input_path, "_SUCCESS"), "wb").close()

    def write_part(self, k: int) -> None:
        """Generate part ``k`` of ``INPUT_PARTS`` of the input into one parquet file."""
        lo, hi = self._n * k // INPUT_PARTS, self._n * (k + 1) // INPUT_PARTS
        docs = [self.make_doc(i) for i in range(lo, hi)]
        pq.write_table(pa.table({
            "doc_id": [d.doc_id for d in docs],
            "doc_type": [d.doc_type for d in docs],
            "content": pa.array([d.content for d in docs], pa.binary()),
            "byte_len": pa.array([d.byte_len for d in docs], pa.int64()),
            "source_bucket": [d.source_bucket for d in docs],
            "source_path": [d.source_path for d in docs],
        }), os.path.join(self.input_path, f"part-{k:05d}.parquet"))

    def sample_indices(self) -> list[int]:
        rng = random.Random(f"check:{self.name}:{self.seed}")
        light = [i for i in rng.sample(range(self._n), min(CHECK_SAMPLE, self._n))
                 if not self.is_heavy(i)]
        heavy = [i for i in range(self._n) if self.is_heavy(i)]
        return sorted(light + rng.sample(heavy, min(HEAVY_SAMPLE, len(heavy))))

    @functools.cached_property
    def sample_docs(self) -> list[corpus.RawDoc]:
        return [self.make_doc(i) for i in self.sample_indices()]

    def expected(self) -> dict:
        return {d.doc_id: ("failed", None) if d.expect_error
                else ("completed", span_key(d.expected)) for d in self.sample_docs}

    def actual(self, spark: SparkSession, out_dir: str) -> dict:
        """doc_id → (status, span_key) for the sampled docs; a completed
        row wins over the failed attempts before it."""
        ids = list(self.expected())
        rows = (read_table(spark, out_dir).where(F.col("doc_id").isin(ids))
                .select("doc_id", "status", "spans").collect())
        got: dict = {}
        for r in rows:
            if r.doc_id not in got or r.status == "completed":
                got[r.doc_id] = (r.status, span_key(r.spans))
        return got

    def check(self, spark: SparkSession, res: RepResult) -> int:
        r = res.jobs[0]
        return (count_mismatches(self.expected(), self.actual(spark, res.out_dir))
                + abs(r.processed - self._n) + abs(r.failed - self.n_poison))

    def kernel_docs(self) -> list[tuple[str, str, bytes]]:
        return [(d.doc_id.split("-", 1)[0], d.doc_type, d.content)
                for d in self.sample_docs]

    def group_counts(self) -> dict[str, int]:
        return dict(Counter(class_group(self.doc_class(i)) for i in range(self._n)))


class SyntheticFresh(Synthetic):
    """KB-scale docs into an empty state: the scan, Arrow hop, fold, zstd
    write and state append dominate; OCR, work selection and the heavy
    split are bypassed."""

    name = "synthetic_fresh"


class HeavyTail(Synthetic):
    """KB docs plus ~1.6% MB-scale docs: the only input past
    HEAVY_MIN_BYTES, so the size-aware split isolates a heavy slice."""

    name = "heavy_tail"
    big_every = 0
    heavy_every = 61


class SyntheticDrain(Synthetic):
    """A smaller corpus drained in ``max_docs`` rounds until a round selects
    nothing; poison docs retry until terminal at MAX_ATTEMPTS. Rounds take
    docs in doc_id order, so the schedule, and the round count, is fixed."""

    name = "synthetic_drain"
    warmup_reps = 1  # a whole drain: its later rounds warm the selection path

    def __init__(self, seed: int, work_dir: str, n_docs: int, max_docs: int) -> None:
        super().__init__(seed, work_dir, n_docs)
        self.max_docs = max_docs

    @property
    def size_key(self) -> str:
        return super().size_key + f"-max{self.max_docs}"

    def run(self, spark, docs, rep_dir, tracer, rep=None) -> RepResult:
        out_dir, state_dir = _fresh_dirs(rep_dir)
        state = StateStore(spark, state_dir)
        res = RepResult(self._n, 0.0, out_dir, state_dir)
        while True:
            with tracer.span("pipeline.round", rep):
                t0 = time.perf_counter()
                r = run_extraction_job(spark, docs, out_dir, state, max_docs=self.max_docs,
                                       priority_expr=F.col("doc_id"))
                res.rounds.append(time.perf_counter() - t0)
            res.jobs.append(r)
            if r.processed == 0:
                break
        res.wall_s = sum(res.rounds)
        return res

    def check(self, spark: SparkSession, res: RepResult) -> int:
        state = StateStore(spark, res.state_dir)
        latest = state.latest().agg(
            F.count(F.lit(1)).alias("rows"),
            F.countDistinct("doc_id").alias("docs"),
            F.sum(F.when((F.col("status") == "failed")
                         & (F.col("attempt") == MAX_ATTEMPTS), 1).otherwise(0)).alias("terminal"),
            F.sum(F.when(F.col("status") == "failed", 1).otherwise(0)).alias("failed"),
        ).first()
        done = (state.read().where(F.col("status") == "completed")
                .agg(F.count(F.lit(1)).alias("rows"),
                     F.countDistinct("doc_id").alias("docs")).first())
        twice = done["rows"] - done["docs"]  # docs completed more than once
        return (count_mismatches(self.expected(), self.actual(spark, res.out_dir))
                + abs(latest["rows"] - self._n) + abs(latest["docs"] - self._n)
                + twice + abs(latest["terminal"] - self.n_poison)
                + (latest["failed"] - latest["terminal"]))


# ---------------------------------------------------------------- real formats


def _suffix(name: str) -> str:
    return name.rsplit(".", 1)[-1].lower()


class RealFormatFresh(Workload):
    """The ``resources/extra_docs`` fixtures replicated ``copies`` times
    (doc_id ``<name>#k``) in a seeded row order, into an empty state.
    Parser and OCR kernels dominate; the Spark layers are a small share."""

    name = "realformat_fresh"

    kernel_reps = 3  # 33 fixtures alone are too few to time steadily

    def __init__(self, seed: int, work_dir: str, copies: int) -> None:
        super().__init__(seed, work_dir)
        self.copies = copies
        if not os.path.isdir(EXTRA_DOCS) or not os.path.isfile(REAL_GOLDENS):
            raise MissingInput(f"real-format fixtures or goldens missing under {RESOURCES}")
        self.fixtures = sorted(os.listdir(EXTRA_DOCS))
        gold = pd.read_parquet(REAL_GOLDENS)
        self.goldens = gold[gold["doc_id"].isin(self.fixtures)]
        missing = sorted(set(self.fixtures) - set(self.goldens["doc_id"]))
        if not self.fixtures or missing:
            raise MissingInput(f"no golden row for fixtures: {missing or 'none found'}")

    @property
    def size_key(self) -> str:
        return f"x{self.copies}"

    @property
    def n_docs(self) -> int:
        return len(self.fixtures) * self.copies

    def _generate(self) -> None:
        blobs = {}
        for name in self.fixtures:
            with open(os.path.join(EXTRA_DOCS, name), "rb") as fh:
                blobs[name] = fh.read()
        rows = [(name, k) for k in range(self.copies) for name in self.fixtures]
        random.Random(f"{self.name}:{self.seed}").shuffle(rows)
        ids = [f"{name}#{k}" for name, k in rows]
        table = pa.table({
            "doc_id": ids,
            "doc_type": [_SUFFIX_TO_TYPE[_suffix(name)] for name, _ in rows],
            "content": pa.array([blobs[name] for name, _ in rows], pa.binary()),
            "byte_len": pa.array([len(blobs[name]) for name, _ in rows], pa.int64()),
            "source_bucket": ["local"] * len(rows),
            "source_path": [f"extra_docs/{i}" for i in ids],
        })
        os.makedirs(self.input_path)
        pq.write_table(table, os.path.join(self.input_path, "part-00000.parquet"))
        open(os.path.join(self.input_path, "_SUCCESS"), "wb").close()

    def check(self, spark: SparkSession, res: RepResult) -> int:
        gold = spark.createDataFrame(self.goldens).select(
            F.col("doc_id").alias("base"), F.col("status").alias("g_status"),
            F.col("n_spans").cast("int").alias("g_n_spans"), "markdown_md5")
        out = (read_table(spark, res.out_dir)
               .withColumn("base", F.regexp_extract("doc_id", r"^(.*)#\d+$", 1)))
        row = out.join(F.broadcast(gold), "base", "left").agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.when(F.col("g_status").isNull()
                         | (F.col("status") != F.col("g_status"))
                         | ~F.col("n_spans").eqNullSafe(F.col("g_n_spans"))
                         | (F.md5(F.col("markdown")) != F.col("markdown_md5")), 1)
                  .otherwise(0)).alias("bad"),
        ).first()
        return int(row["bad"] or 0) + abs(int(row["rows"]) - self.n_docs)

    def kernel_docs(self) -> list[tuple[str, str, bytes]]:
        out = []
        for name in self.fixtures:
            with open(os.path.join(EXTRA_DOCS, name), "rb") as fh:
                out.append((_suffix(name), _SUFFIX_TO_TYPE[_suffix(name)], fh.read()))
        return out

    def group_counts(self) -> dict[str, int]:
        return {k: v * self.copies
                for k, v in Counter(_suffix(n) for n in self.fixtures).items()}


REAL_GROUPS = ["pdf", "docx", "xlsx", "odt", "ods", "odp", "ppt", "xls", "rtf",
               "html", "png", "jpg", "gif", "bmp", "tiff", "webp"]

# sizes for a 4-vCPU host: each repetition takes a few seconds after warm-up
WORKLOADS = {
    "synthetic_fresh": lambda seed, work: SyntheticFresh(seed, work, n_docs=40_000),
    "realformat_fresh": lambda seed, work: RealFormatFresh(seed, work, copies=80),
    # five rounds (the poison retries ride along), then an empty round
    "synthetic_drain": lambda seed, work: SyntheticDrain(seed, work, n_docs=1_100,
                                                          max_docs=300),
    "heavy_tail": lambda seed, work: HeavyTail(seed, work, n_docs=3_050),
}


if __name__ == "__main__":
    # one input-generation child: <workload> <seed> <work_dir> <worker> <workers>
    _name, _seed, _work, _w, _workers = sys.argv[1:]
    _wl = WORKLOADS[_name](int(_seed), _work)
    for _k in range(int(_w), INPUT_PARTS, int(_workers)):
        _wl.write_part(_k)
