"""State compaction, priority-bounded work selection, salted distinct count."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from documentconvert_spark.corpus import corpus_rows, generate_corpus
from documentconvert_spark.ops.skew import salted_distinct_count
from documentconvert_spark.pipeline import run_extraction_job
from documentconvert_spark.schemas import DOCUMENTS_RAW
from documentconvert_spark.state import StateStore


def test_state_compaction(spark, tmp_path):
    docs = spark.createDataFrame(
        corpus_rows(generate_corpus(40, big_every=0)), schema=DOCUMENTS_RAW
    )
    st = StateStore(spark, str(tmp_path / "state"))
    out = str(tmp_path / "out")
    for _ in range(3):  # 3 runs → 3 run dirs (poison retries)
        run_extraction_job(spark, docs, out, st, target_partitions=4)
    latest_before = {(r.doc_id, r.attempt, r.status) for r in st.latest().collect()}
    n_dirs_before = len([e for e in os.listdir(st.path) if e.startswith("run_id=")])
    assert n_dirs_before == 3

    st.compact()
    n_dirs_after = len([e for e in os.listdir(st.path) if e.startswith("run_id=")])
    assert n_dirs_after == 1
    latest_after = {(r.doc_id, r.attempt, r.status) for r in st.latest().collect()}
    assert latest_after == latest_before
    # resume semantics intact: nothing left to do
    r = run_extraction_job(spark, docs, out, st, target_partitions=4)
    assert r.processed == 0


def test_priority_bounded_selection(spark, tmp_path):
    docs_list = generate_corpus(30, big_every=0)
    docs = spark.createDataFrame(corpus_rows(docs_list), schema=DOCUMENTS_RAW)
    st = StateStore(spark, str(tmp_path / "state"))
    out = str(tmp_path / "out")
    # priority: markup docs first (rank 0), then pdf, then image
    prio = (
        F.when(F.col("doc_type") == "markup", 0)
        .when(F.col("doc_type") == "pdf", 1)
        .otherwise(2)
    )
    r1 = run_extraction_job(
        spark, docs, out, st, target_partitions=4, priority_expr=prio, max_docs=10
    )
    assert r1.processed == 10
    done = {r.doc_id for r in st.latest().collect()}
    n_markup = sum(1 for d in docs_list if d.doc_type == "markup")
    # all markup docs (highest priority) were selected in the first slice
    if n_markup <= 10:
        assert all(d.doc_id in done for d in docs_list if d.doc_type == "markup")
    # repeated bounded runs drain the rest without duplicates
    total = r1.processed
    for _ in range(10):
        r = run_extraction_job(spark, docs, out, st, target_partitions=4, max_docs=10)
        total += r.processed
        if r.processed == 0:
            break
    assert st.latest().count() == 30
    spans = spark.read.parquet(out).filter(F.col("error").isNull())
    assert spans.select("doc_id").distinct().count() == spans.count()


def test_salted_distinct_exact(spark):
    events = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    salted = salted_distinct_count(events, "event_type", "user_id", n_salt=8)
    plain = events.groupBy("event_type").agg(F.countDistinct("user_id").alias("n_distinct"))
    assert {tuple(r) for r in salted.collect()} == {tuple(r) for r in plain.collect()}


def test_run_curate_cli_end_to_end(tmp_path):
    """jobs/run_curate.py is a product surface with its own wiring (stage
    counts, persist, sorted write) — drive the literal CLI in a fresh
    interpreter against a small documents table and check the printed
    stage funnel plus the written output."""
    import json
    import os
    import subprocess
    import sys

    import pyarrow.parquet as pq

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src = "/root/testdata/sf0.001/documents.parquet"
    out = str(tmp_path / "curated")
    env = {**os.environ, "PYTHONPATH": repo}
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "jobs", "run_curate.py"),
         "--input", src, "--output", out,
         "--quality-min", "0.3", "--sample-en", "500", "--sample-other", "500",
         "--lm-min", "-100", "--cap-per-source", "10", "--trim-length-tails",
         "--files", "4", "--master", "local[4]"],
        capture_output=True, text=True, cwd=repo, env=env, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    # funnel must be monotone and the write must match the final count;
    # -100 is permissively below any real mean log-prob, so the LM stage
    # must pass everything through (its wiring, not its threshold, is
    # what the CLI run checks — threshold behavior is unit-tested)
    assert (summary["docs_in"] >= summary["after_dedup"]
            >= summary["after_source_cap"] >= summary["after_quality"]
            >= summary["after_length_trim"] >= summary["after_sampling"] > 0)
    assert summary["after_lm_filter"] == summary["after_quality"]
    # cap 10 with >10 docs on some source must actually drop rows, and the
    # length trim (p05/p95) must drop at least the extreme tails (per-lang
    # groups stay >= 20 rows here, so the nearest-rank p95 sits strictly
    # inside the distribution)
    assert summary["after_source_cap"] < summary["after_dedup"]
    assert summary["after_length_trim"] < summary["after_lm_filter"]
    written = pq.read_table(out)
    assert written.num_rows == summary["after_sampling"]
    assert "fingerprint" not in written.schema.names  # internals dropped


def test_run_curate_cli_decontaminates_and_mixes(tmp_path):
    """Drive run_curate's --decontaminate-bench and --mix-by-source
    stages end-to-end: a benchmark built from the first documents must
    knock those documents (contamination 1.0) out of the corpus, and
    source mixing must still produce a non-empty sorted write."""
    import json
    import os
    import subprocess
    import sys

    import pyarrow.parquet as pq

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src = "/root/testdata/sf0.001/documents.parquet"
    bench = str(tmp_path / "bench.parquet")
    docs = pq.read_table(src)
    pq.write_table(docs.slice(0, 10), bench)
    out = str(tmp_path / "curated")
    env = {**os.environ, "PYTHONPATH": repo}
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "jobs", "run_curate.py"),
         "--input", src, "--output", out,
         "--quality-min", "0.0",
         "--decontaminate-bench", bench, "--contamination-max", "0.3",
         "--dup-frac-max", "0.9",
         "--mix-by-source", "--mix-budget-mille", "500",
         "--files", "2", "--master", "local[4]"],
        capture_output=True, text=True, cwd=repo, env=env, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    # the bench docs are IN the corpus: their self-contamination is 1.0,
    # far over the 0.3 ceiling, so decontamination must drop rows; the
    # dup-frac stage slots into the funnel between it and quality
    assert summary["after_decontamination"] < summary["after_dedup"]
    assert (summary["docs_in"] >= summary["after_dedup"]
            >= summary["after_decontamination"] >= summary["after_dup_frac"]
            >= summary["after_quality"] >= summary["after_sampling"] > 0)
    written = pq.read_table(out)
    assert written.num_rows == summary["after_sampling"]
    assert "sample_mille" not in written.schema.names  # mixing internals dropped


def test_run_index_cli_builds_ann_index(tmp_path):
    """Drive the literal jobs/run_index.py CLI: the persisted index must
    cover every vector (assignments and codes), the coarse cells must be
    non-degenerate, and the demo search must return top-5 rows per
    query."""
    import json
    import os
    import subprocess
    import sys

    import pyarrow.parquet as pq

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = str(tmp_path / "index")
    env = {**os.environ, "PYTHONPATH": repo}
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "jobs", "run_index.py"),
         "--input", "/root/testdata/sf0.001/embeddings.parquet",
         "--output", out, "--k", "8", "--demo-queries", "10",
         "--files", "2", "--master", "local[4]"],
        capture_output=True, text=True, cwd=repo, env=env, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["vectors"] == 500
    assert 1 < summary["ivf_cells"] <= 8          # empty cells may drop out
    assert summary["coded_vectors"] == 500        # every vector coded
    assert 0 < summary["avg_distortion"] < 1      # unit vectors: bounded
    assert summary["demo_topk_rows"] == 50        # 10 queries x top-5
    assigns = pq.read_table(out + "/assignments")
    assert assigns.num_rows == 500
    codes = pq.read_table(out + "/codes")
    # 4-bit nibbles x 8 subspaces fit one positive int32 range
    import pyarrow.compute as pc
    assert pc.max(codes["packed_code"]).as_py() < 1 << 32
    assert pc.min(codes["packed_code"]).as_py() >= 0


def test_run_index_cli_semdedup_scaled_k(tmp_path):
    """Drive jobs/run_index.py --semdedup-tau: the prune table must be
    written with corpus-scaled k (500 vectors / block 32 -> 16 cells,
    NOT the index's fixed --k 8), every pruned vector must point at a
    lower-id keeper, and no vector may be pruned twice — the production
    path the k=8 contract query certifies the semantics of."""
    import json
    import os
    import subprocess
    import sys

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = str(tmp_path / "index")
    env = {**os.environ, "PYTHONPATH": repo}
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "jobs", "run_index.py"),
         "--input", "/root/testdata/sf0.001/embeddings.parquet",
         "--output", out, "--k", "8",
         "--semdedup-tau", "0.4", "--semdedup-block", "32",
         "--files", "2", "--master", "local[4]"],
        capture_output=True, text=True, cwd=repo, env=env, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["semdedup_cells"] == 16      # ceil(500/32), not --k
    assert summary["semdedup_pruned"] > 0
    prune = pq.read_table(out + "/semdedup_prune")
    assert prune.num_rows == summary["semdedup_pruned"]
    assert prune.schema.names == ["vec_id", "cluster", "dup_of", "cos_sim"]
    # keep-first determinism: keeper always the lower id, one row per drop
    assert pc.all(pc.less(prune["dup_of"], prune["vec_id"])).as_py()
    assert len(set(prune["vec_id"].to_pylist())) == prune.num_rows
    assert pc.min(prune["cos_sim"]).as_py() >= 0.4


def test_run_extract_cli_compacts_state(spark, tmp_path):
    """Drive the literal jobs/run_extract.py CLI with --compact-state: the
    retry rounds leave multiple state run directories (poison docs fail
    and re-append); the flag must collapse them into ONE committed
    snapshot, and a rerun of the same command must resume to 'nothing
    left' — the scale guard for latest() reconstruction, which reads
    every run directory (state.py)."""
    import json
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    docs = spark.createDataFrame(
        corpus_rows(generate_corpus(30, big_every=0)), schema=DOCUMENTS_RAW
    )
    src = str(tmp_path / "docs")
    docs.write.parquet(src)
    out, state = str(tmp_path / "out"), str(tmp_path / "state")
    env = {**os.environ, "PYTHONPATH": repo}
    cmd = [sys.executable, os.path.join(repo, "jobs", "run_extract.py"),
           "--input", src, "--output", out, "--state", state,
           "--partitions", "4", "--rounds", "3", "--master", "local[4]",
           "--compact-state"]
    proc = subprocess.run(cmd, capture_output=True, text=True, cwd=repo,
                          env=env, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [json.loads(ln) for ln in proc.stdout.strip().splitlines()
             if ln.startswith("{")]
    rounds = [ln for ln in lines if "round" in ln]
    assert rounds and rounds[0]["processed"] == 30
    compacted = [ln for ln in lines if "compacted_runs" in ln]
    assert compacted and compacted[0]["compacted_runs"] == len(rounds)
    assert compacted[0]["runs_after"] == 1
    dirs = [e for e in os.listdir(state) if e.startswith("run_id=")]
    assert len(dirs) == 1

    # resume on the compacted snapshot: nothing left (poison docs are
    # terminal-failed at the attempt cap, completed docs stay completed)
    proc2 = subprocess.run(cmd, capture_output=True, text=True, cwd=repo,
                           env=env, timeout=300)
    assert proc2.returncode == 0, proc2.stderr[-2000:]
    rounds2 = [json.loads(ln) for ln in proc2.stdout.strip().splitlines()
               if ln.startswith("{") and "round" in ln]
    assert rounds2[0]["processed"] == 0


def test_run_media_cli_end_to_end(tmp_path):
    """jobs/run_media.py is the multimodal job surface (sniff inventory →
    per-modality decode stats → near-dup pairs) — drive the literal CLI
    in a fresh interpreter against a mixed media table with planted dups
    and a corrupt blob, then check the summary funnel and the outputs."""
    import json
    import os
    import subprocess
    import sys

    import pyarrow as pa
    import pyarrow.parquet as pq

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    from documentconvert_spark.corpus import band_frames, encode_flac, render_avi, render_mp4_mjpeg
    from documentconvert_spark.queries_extraction import _wav_pcm_bytes

    grids = [[bytearray([255] * 20) for _ in range(10)] for _ in range(4)]
    for f, g in enumerate(grids):
        for y in range(2, 4 + f):
            g[y][:] = bytes(20)
    mono = [((i * 7) % 4001) - 2000 for i in range(2000)]
    from documentconvert_spark.corpus import encode_gif_anim, encode_gray_png, encode_vp8l

    img = [bytearray(min(255, 30 + 3 * x + y) for x in range(48)) for y in range(24)]
    img_argb = [0xFF000000 | (v << 16) | (v << 8) | v for r in img for v in r]
    anim = encode_gif_anim(16, 10, [
        {"idx": [(x + y + f) % 2 for y in range(10) for x in range(16)]}
        for f in range(3)], [(0, 0, 0), (255, 255, 255)], 2)
    # MJPEG-in-MP4 at another size: its frames match no AVI frame
    mp4_grids = band_frames(16, 8, 3)
    rows = [
        ("m-avi-a", render_avi(20, 10, grids, fps=5, codec="MJPG")),
        ("m-avi-b", render_avi(20, 10, grids, fps=5, codec="DIB ")),  # dup
        ("m-mp4", render_mp4_mjpeg(16, 8, mp4_grids, fps=4)),
        ("m-wav", _wav_pcm_bytes(8000, [mono], 16)),
        ("m-flac", encode_flac(8000, [mono], mode="fixed1")),  # cross-codec dup
        ("m-png", encode_gray_png(48, 24, img)),
        ("m-webp", encode_vp8l(48, 24, img_argb)),  # cross-codec image dup
        ("m-gif", anim),  # animated: takes both the image and video routes
        ("m-bad", b"not a container at all"),
    ]
    src = str(tmp_path / "media.parquet")
    pq.write_table(pa.table({"doc_id": [r[0] for r in rows],
                             "content": [r[1] for r in rows]}), src)
    out = str(tmp_path / "media_out")
    env = {**os.environ, "PYTHONPATH": repo}
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "jobs", "run_media.py"),
         "--input", src, "--output", out, "--files", "2",
         "--master", "local[4]"],
        capture_output=True, text=True, cwd=repo, env=env, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["docs_in"] == 9
    assert summary["by_format"] == {"avi": 2, "mp4": 1, "wav": 1, "flac": 1,
                                    "gif": 1, "png": 1, "webp": 1, "unknown": 1}
    assert summary["video_frames_decoded"] == 14  # 2 AVIs x 4 + mp4 x 3 + gif x 3
    assert summary["audio_decoded"] == 2
    assert summary["images_hashed"] == 3  # png, webp + the gif first frame
    assert summary["video_dup_pairs"] == 1 and summary["audio_dup_pairs"] == 1
    assert summary["image_dup_pairs"] == 1
    ip = pq.read_table(out + "/image_pairs").to_pylist()
    assert ip[0]["doc_a"] == "m-png" and ip[0]["doc_b"] == "m-webp"
    assert ip[0]["hamming"] == 0  # lossless cross-codec: identical hash
    vp = pq.read_table(out + "/video_pairs").to_pylist()
    assert vp[0]["doc_a"] == "m-avi-a" and vp[0]["doc_b"] == "m-avi-b"
    assert vp[0]["matches"] == 4  # exact cross-codec frame match


def test_run_curate_cli_gopher_gate_and_ppl_tail(tmp_path):
    """Drive run_curate's --gopher-gate and --ppl-drop-tail stages
    end-to-end: the Gopher ladder must drop the sub-50-word docs, the
    CCNet tail drop must remove roughly the per-language bottom tertile,
    and the funnel stays monotone into a non-empty sorted write."""
    import json
    import os
    import subprocess
    import sys

    import pyarrow.parquet as pq

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src = "/root/testdata/sf0.001/documents.parquet"
    out = str(tmp_path / "curated")
    env = {**os.environ, "PYTHONPATH": repo}
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "jobs", "run_curate.py"),
         "--input", src, "--output", out,
         "--quality-min", "0.0", "--sample-en", "1000", "--sample-other", "1000",
         "--gopher-gate", "--ppl-drop-tail",
         "--files", "2", "--master", "local[4]"],
        capture_output=True, text=True, cwd=repo, env=env, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert (summary["docs_in"] >= summary["after_dedup"]
            >= summary["after_quality"] > summary["after_gopher_gate"]
            > summary["after_ppl_tail_drop"] >= summary["after_sampling"] > 0)
    # the tail drop removes at most half and at least a fifth — a loose
    # band around the tertile that still catches an inverted or no-op
    # filter (ties land whole in tail, so exact 1/3 is not guaranteed)
    kept = summary["after_ppl_tail_drop"] / summary["after_gopher_gate"]
    assert 0.5 <= kept <= 0.8
    written = pq.read_table(out)
    assert written.num_rows == summary["after_sampling"]


def test_jobs_self_sufficient_without_pythonpath(spark, tmp_path):
    """Operator ergonomics (r4 verdict ask #8): `python jobs/run_X.py`
    must work from ANY cwd with NO PYTHONPATH export — the jobs
    bootstrap the repo root onto sys.path for the driver and into the
    PYTHONPATH env for the executor Python workers (which import the
    package's module-level UDFs; a driver-side sys.path alone does not
    reach them). run_extract is the strongest probe: its extraction UDF
    executes package imports inside every executor worker."""
    import json
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    docs = spark.createDataFrame(
        corpus_rows(generate_corpus(20, big_every=0)), schema=DOCUMENTS_RAW
    )
    src = str(tmp_path / "docs")
    docs.write.parquet(src)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "jobs", "run_extract.py"),
         "--input", src, "--output", str(tmp_path / "out"),
         "--state", str(tmp_path / "state"),
         "--rounds", "1", "--master", "local[4]"],
        capture_output=True, text=True, cwd=str(tmp_path), env=env, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["docs_in"] == 20
