"""Shared, oracle-checked column expressions for the curation surface.

Single source of truth: the driver-contract queries (queries_corpus.py)
and the production job (jobs/run_curate.py) import THESE definitions, so
the expressions the DuckDB oracle certifies are the expressions the job
runs — they cannot silently diverge.

Every expression has a DuckDB twin here (SQL_*) built from portable
primitives (regex split, md5, arithmetic, nullif), used verbatim in the
oracle SQL.
"""

from __future__ import annotations

# whitespace tokenizer (Spark SQL expression string)
TOKS = "split(lower(trim(text)), '\\\\s+')"
SQL_TOKS = "string_split_regex(lower(trim(text)), '\\s+')"

# first-8-token prefix fingerprint (near-dup collapse at head)
SQL_PREFIX_FP = f"md5(array_to_string({SQL_TOKS}[1:8], ' '))"

# quality score in [0,1]: token-count saturation × (1 - punct density).
# nullif guards the length-0 edge: ANSI mode (Spark 4 default) turns a
# bare /0 into a job-aborting error; an empty doc must score NULL (and
# fall out of any quality >= t filter), not kill the job.
SQL_QUALITY = (
    f"ROUND(LEAST(1.0, len({SQL_TOKS}) / 100.0) * "
    "(1.0 - (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) "
    "/ nullif(length(text), 0)), 6)"
)

# deterministic per-mille sample hash: pure int64 arithmetic on the key
# (overflow-safe fold first) — identical membership in any engine, any
# run, any partitioning
SAMPLE_HASH = "pmod((doc_id % 1000003) * 2654435761, 1000)"
SQL_SAMPLE_HASH = "((doc_id % 1000003) * 2654435761) % 1000"


def with_curation_columns(docs):
    """Stage the token array ONCE (the split is the expensive expression;
    an explicit intermediate beats relying on codegen subexpression
    elimination, ~20% at sf0.1) and derive fingerprint / n_tokens /
    quality from the staged columns. Same math as the DuckDB oracle's
    SQL_QUALITY / SQL_PREFIX_FP — this is the Spark-side single source
    both the contract query (q_pipeline_e2e) and the production job
    (run_curate) call."""
    from pyspark.sql import functions as F

    staged = docs.select(
        "*",
        F.expr(TOKS).alias("_toks"),
        F.expr("length(text) - length(regexp_replace(text, '[.,;:!?]', ''))").alias("_n_punct"),
        F.length("text").alias("_n_chars"),
    )
    return staged.select(
        "*",
        F.expr("md5(concat_ws(' ', slice(_toks, 1, 8)))").alias("fingerprint"),
        F.size("_toks").alias("n_tokens"),
        F.expr(
            "round(least(1.0, size(_toks) / 100.0) * (1.0 - _n_punct / nullif(_n_chars, 0)), 6)"
        ).alias("quality"),
    ).drop("_toks", "_n_punct", "_n_chars")


def cap_per_source(docs, cap):
    """Keep at most `cap` documents per source (C4-style host frequency
    capping, lowest doc_id first), returning all input columns plus
    rank_in_source. Skew-proof two-phase top-K: phase 1 ranks within
    (source, input-partition) so a hot host splits across its scan
    partitions and every window group is bounded by the partition size;
    phase 2 ranks the ≤ cap×n_partitions survivors globally. The prune is
    lossless (each partition's contribution to the global top-K is inside
    its local top-K), so the result is independent of the physical
    partitioning. Shared by the contract query (q_cap_per_source) and
    run_curate's --cap-per-source stage."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    local_w = Window.partitionBy("source", "_p").orderBy(F.asc("doc_id"))
    glob_w = Window.partitionBy("source").orderBy(F.asc("doc_id"))
    pruned = (
        docs.withColumn("_p", F.spark_partition_id())
        .withColumn("_rk", F.row_number().over(local_w))
        .filter(F.col("_rk") <= cap)
        .drop("_p", "_rk")
    )
    return (
        pruned.withColumn("rank_in_source", F.row_number().over(glob_w))
        .filter(F.col("rank_in_source") <= cap)
    )


def length_outlier_bounds(docs):
    """(lang, n_total, lo_tokens, hi_tokens): nearest-rank 5th/95th
    percentile token-count bounds per language. Positions use integer
    arithmetic — floor((q·100·n + 99) / 100) — because 0.05·n in float is
    engine-divergent (DuckDB parses 0.05 as DECIMAL, Spark as DOUBLE) and
    the quotient is never an exact integer (5n+99 ≢ 0 mod 100), so the
    floor is safe in both engines. The bounds table is lang-cardinality
    rows — broadcast it back onto the corpus for the keep filter. Shared
    by the contract query (q_filter_length_outliers) and run_curate's
    --trim-length-tails stage."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    lens = docs.selectExpr("doc_id", "lang", f"size({TOKS}) AS n_tokens")
    w = Window.partitionBy("lang").orderBy(F.asc("n_tokens"), F.asc("doc_id"))
    ranked = (
        lens.withColumn("rk", F.row_number().over(w))
        .withColumn("cnt", F.count("*").over(Window.partitionBy("lang")))
    )
    return ranked.groupBy("lang").agg(
        F.max("cnt").alias("n_total"),
        F.max(F.when(F.col("rk") == F.floor((F.col("cnt") * 5 + 99) / 100), F.col("n_tokens"))).alias("lo_tokens"),
        F.max(F.when(F.col("rk") == F.floor((F.col("cnt") * 95 + 99) / 100), F.col("n_tokens"))).alias("hi_tokens"),
    )


def unigram_logprob_table(docs, return_cache_handle: bool = False):
    """(doc_id, n_tokens, avg_logprob): CCNet-style quality scoring by
    mean token log-probability under a unigram model estimated from the
    corpus itself. The Spark-side single source: the contract query
    (q_quality_unigram_logprob) and the curation job's --lm-min stage
    both call this, so the expression the DuckDB oracle certifies is the
    expression the job runs. Shape: one explode pass into a CACHED
    (doc, term, k) aggregate; corpus counts are SUM(k) over it, the
    1-row total rides a broadcast, and the per-doc score is the
    k-weighted mean — identical to averaging raw occurrences without
    ever re-scanning or joining the raw token stream.

    The cache is needed only while this table's own plan executes (the
    aggregate appears twice in it). Long-lived jobs pass
    return_cache_handle=True to get (table, handle) and unpersist the
    handle once their stage is counted — otherwise each call pins a
    corpus-vocabulary-sized aggregate in executor storage for the rest
    of the application."""
    from pyspark.sql import functions as F

    toks = (docs.select("doc_id", F.explode(F.expr(TOKS)).alias("token"))
            .filter(F.col("token") != ""))
    tf = (toks.groupBy("doc_id", "token").agg(F.count("*").alias("k"))
          .cache())
    counts = tf.groupBy("token").agg(F.sum("k").alias("c"))
    total = counts.agg(F.sum("c").alias("t"))
    logp = (counts.crossJoin(F.broadcast(total))
            .select("token", F.log(F.col("c") / F.col("t")).alias("logp")))
    out = (tf.join(logp, "token")
           .groupBy("doc_id")
           .agg(F.sum("k").alias("n_tokens"),
                F.round(F.sum(F.col("k") * F.col("logp")) / F.sum("k"), 6)
                .alias("avg_logprob")))
    if return_cache_handle:
        return out, tf
    return out


# --- Bloom-filter decontamination -------------------------------------
# 8-token shingles folded into a fixed 64 Kib bitmap with k=4 portable
# hashes (md5-prefix → mod-p, composed with 4 affine maps). The filter is
# a constant-size build side however large the benchmark suite grows; the
# corpus probes the BROADCAST bitmap — no false negatives possible, FP
# rate ~(1-e^{-kn/m})^k. Shared by the contract query
# (q_decontaminate_bloom) and run_curate's --decontaminate-bench stage.

BLOOM_M = 65536  # filter size in bits (2048 packed 32-bit words)
BLOOM_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
BLOOM_A = [2654435761, 2246822519, 3266489917, 668265263]  # xxhash/Knuth primes
BLOOM_B = [17, 31, 73, 127]

# short-doc guard + bind-split-once trick (see queries_corpus._SHINGLES):
# slice() inside the lambda body would re-run the regex split per shingle
# position — O(tokens^2) per document.
SHINGLES8 = (
    f"element_at(transform(array({TOKS}), toks -> "
    f"if(size(toks) < 8, array(), "
    f"transform(sequence(1, size(toks) - 7), "
    f"i -> concat_ws(' ', slice(toks, i, 8))))), 1)"
)

_BLOOM_H = f"cast(conv(substring(md5(shingle), 1, 15), 16, 10) AS bigint) % {BLOOM_P}L"
_BLOOM_POS = "array(" + ", ".join(
    f"(({a}L * h + {b}L) % {BLOOM_P}L) % {BLOOM_M}L"
    for a, b in zip(BLOOM_A, BLOOM_B)
) + ")"


def bloom_filter_words(bench_docs):
    """(word_idx, bits): the benchmark side's Bloom bitmap, one bigint
    lane per packed 32-bit word, built by a single bit_or aggregation
    over the distinct 8-gram shingles of `bench_docs.text`."""
    from pyspark.sql import functions as F

    return (
        bench_docs.selectExpr(f"explode(array_distinct({SHINGLES8})) AS shingle")
        .distinct()
        .selectExpr(f"{_BLOOM_H} AS h")
        .selectExpr(f"explode({_BLOOM_POS}) AS pos")
        .selectExpr("pos DIV 32 AS word_idx", "CAST(pos % 32 AS INT) AS bit")
        .groupBy("word_idx")
        .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").alias("bits"))
    )


def bloom_contamination(docs, filt):
    """(doc_id, n_shingles, n_bloom_hits, est_contamination): per-document
    benchmark-contamination estimate for `docs` probed against a
    `bloom_filter_words` bitmap. The bitmap broadcasts; a shingle counts
    as contaminated only when ALL k probe bits are set. Documents with
    fewer than 8 tokens have no shingles and emit no row."""
    from pyspark.sql import functions as F

    probes = (
        docs.selectExpr("doc_id", f"explode(array_distinct({SHINGLES8})) AS shingle")
        .selectExpr("doc_id", "shingle", f"{_BLOOM_H} AS h")
        .selectExpr("doc_id", "shingle", f"explode({_BLOOM_POS}) AS pos")
        .selectExpr(
            "doc_id", "shingle", "pos DIV 32 AS word_idx", "CAST(pos % 32 AS INT) AS bit"
        )
    )
    hits = probes.join(F.broadcast(filt), "word_idx", "left").selectExpr(
        "doc_id",
        "shingle",
        "CASE WHEN bits IS NOT NULL AND (bits & shiftleft(CAST(1 AS BIGINT), bit)) != 0"
        " THEN 1 ELSE 0 END AS hit",
    )
    per = hits.groupBy("doc_id", "shingle").agg(F.min("hit").alias("all_hit"))
    return per.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.sum("all_hit").alias("n_bloom_hits"),
        F.round(F.sum("all_hit") / F.count("*"), 6).alias("est_contamination"),
    )


def duplicated_substring_stats(docs):
    """(doc_id, n_tokens, dup_tokens, dup_frac): Lee-style duplicated
    substring mass — the token count covered by 8-gram shingles whose
    full 60-bit hash occurs more than once anywhere in the corpus
    (including within-document repeats). Positions explode to (doc, pos,
    int64) rows — text never shuffles — and each document's covered mass
    is the union length of its flagged [pos, pos+8) intervals via ONE
    lead() window. Shared by the contract query
    (q_dedup_exact_substrings) and run_curate's --dup-frac-max stage."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    h = "cast(conv(substring(md5(shingle), 1, 15), 16, 10) AS bigint)"
    # ONE tokenize+md5 pass: n_tokens rides along the position rows (an
    # int per row) so no second scan re-splits the text, and the frame is
    # persisted because both the duplicate-hash aggregate and the starts
    # join consume it — without the persist the most expensive stage
    # (shingle+hash) would run twice.
    pos = (
        docs.selectExpr(
            "doc_id", f"size({TOKS}) AS n_tokens", f"{SHINGLES8} AS sh_arr"
        )
        .selectExpr("doc_id", "n_tokens", "posexplode(sh_arr) AS (p0, shingle)")
        .selectExpr("doc_id", "n_tokens", "p0 + 1 AS i", f"{h} AS h")
        .persist()
    )
    dup = pos.groupBy("h").agg(F.count("*").alias("n")).filter(F.col("n") > 1).select("h")
    starts = pos.join(dup, "h").select("doc_id", "n_tokens", "i")
    w = Window.partitionBy("doc_id").orderBy("i")
    contrib = starts.withColumn(
        "c",
        F.least(F.lit(8), F.coalesce(F.lead("i").over(w) - F.col("i"), F.lit(8))),
    )
    return (
        contrib.groupBy("doc_id", "n_tokens")
        .agg(F.sum("c").alias("dup_tokens"))
        .select(
            "doc_id",
            "n_tokens",
            "dup_tokens",
            F.round(F.col("dup_tokens") / F.col("n_tokens"), 6).alias("dup_frac"),
        )
    )


def source_mix_rates(docs, budget_mille: int = 500):
    """(source, src_tokens, sample_mille): temperature t=0.5 token-budget
    allocation — each source's weight is floor(sqrt(tokens)) and the
    global budget is `budget_mille`/1000 of the corpus tokens, realized
    as a per-mille rate for the SAMPLE_HASH predicate. All cross-engine
    arithmetic is integer except ONE IEEE division of exact (<2^53)
    integers, so the rates are bit-identical on any engine. Shared by the
    contract query (q_mix_source_weights) and run_curate's
    --mix-by-source stage."""
    from pyspark.sql import functions as F

    toks = docs.selectExpr("source", f"size({TOKS}) AS n_tokens")
    stats = toks.groupBy("source").agg(F.sum("n_tokens").alias("src_tokens"))
    w = stats.withColumn("weight", F.expr("CAST(floor(sqrt(src_tokens)) AS BIGINT)"))
    tot = w.agg(
        F.sum("src_tokens").alias("tot_tokens"), F.sum("weight").alias("tot_weight")
    )
    return (
        w.crossJoin(F.broadcast(tot))  # 1-row totals: narrow
        .withColumn(
            "sample_mille",
            F.expr(
                f"CAST(least(CAST(1000 AS BIGINT), CAST(floor(({budget_mille}.0 * tot_tokens * weight)"
                " / (1.0 * tot_weight * greatest(src_tokens, 1))) AS BIGINT)) AS INT)"
            ),
        )
        .select("source", "src_tokens", "sample_mille")
    )


# --- CCNet-style perplexity bucketing ---------------------------------
# CCNet (Wenzek et al., 2020) shards each language's corpus into
# head/middle/tail thirds by LM perplexity; training mixes then sample the
# head more heavily. Score here is the corpus-estimated unigram mean token
# log-probability (unigram_logprob_table — higher = more typical text),
# bucketed per language at the tertile CUT VALUES of the score
# distribution. 100 TB shape: the cutpoints come from a (lang, score)
# HISTOGRAM — its size is bounded by the rounded-score domain (~1e7
# distinct values), NOT the corpus, so no global sort of documents ever
# happens; the per-lang cumulative sum runs over the tiny histogram and
# the two cut values per language ride a broadcast join back onto the
# scored docs. Ties at a cut value land whole in the lower bucket, which
# makes the labeling independent of partitioning and engine.

def perplexity_buckets(docs, return_cache_handle: bool = False):
    """(doc_id, lang, avg_logprob, ppl_bucket): head/middle/tail per
    language by unigram-LM score tertiles. Shared by the contract query
    (q_perplexity_buckets) and run_curate's --ppl-drop-tail stage (which
    takes the cache handle to free the token aggregate once its keep-set
    is materialized — see unigram_logprob_table)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    scored_tbl, tf = unigram_logprob_table(docs, return_cache_handle=True)
    scored = scored_tbl.join(docs.select("doc_id", "lang"), "doc_id")
    hist = scored.groupBy("lang", "avg_logprob").agg(F.count("*").alias("k"))
    cum = (
        hist.withColumn(
            "cum",
            F.sum("k").over(Window.partitionBy("lang").orderBy("avg_logprob")),
        )
        .withColumn("n", F.sum("k").over(Window.partitionBy("lang")))
    )
    cuts = cum.groupBy("lang").agg(
        F.min(F.when(F.col("cum") * 3 >= F.col("n"), F.col("avg_logprob"))).alias("c1"),
        F.min(F.when(F.col("cum") * 3 >= 2 * F.col("n"), F.col("avg_logprob"))).alias("c2"),
    )
    out = scored.join(F.broadcast(cuts), "lang").select(
        "doc_id",
        "lang",
        "avg_logprob",
        F.when(F.col("avg_logprob") <= F.col("c1"), F.lit("tail"))
        .when(F.col("avg_logprob") <= F.col("c2"), F.lit("middle"))
        .otherwise(F.lit("head"))
        .alias("ppl_bucket"),
    )
    if return_cache_handle:
        return out, tf
    return out


# --- Gopher composite quality gate ------------------------------------
# Gopher (Rae et al., 2021, §A1.1) filters web documents through a fixed
# rule ladder; a document is dropped by the FIRST failing rule. The
# composite gate emits the keep decision plus that first reason, which is
# what a curation pipeline logs for ablation accounting. Pure column
# expressions end to end (one projection, no shuffle, no UDF).

# the paper's 8 function words plus the article 'a' — reimplementations
# (e.g. DataTrove's gopher_quality_filter) expose this list as a
# parameter; the presence check only needs common closed-class words
GOPHER_STOPWORDS = ("the", "a", "be", "to", "of", "and", "that", "have", "with")
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000
GOPHER_MIN_MWL, GOPHER_MAX_MWL = 3.0, 10.0  # mean word length bounds
GOPHER_MAX_SYMBOL_RATIO = 0.1  # '#' or '...' per word
GOPHER_MAX_BULLET_RATIO = 0.9  # lines starting with a bullet
GOPHER_MAX_ELLIPSIS_RATIO = 0.3  # lines ending in '...'
GOPHER_MIN_ALPHA_FRAC = 0.8  # words containing >=1 [a-z]
GOPHER_MIN_STOPWORDS = 2  # distinct stopwords present


def gopher_fail_reason():
    """Column over a `text` column: the FIRST failing Gopher rule in the
    paper's order (word count, mean word length, symbol ratio, bullet
    lines, ellipsis lines, alpha-word fraction, stopwords), or NULL when
    the document passes the whole ladder. A pure expression so the
    curation job applies the gate as a narrow filter — no join, no
    shuffle — while the contract query certifies the identical ladder."""
    from pyspark.sql import functions as F

    toks = F.expr(TOKS)
    lines = F.expr("split(text, '\\n')")
    n_words = F.size(toks)
    n_chars = F.expr(f"aggregate({TOKS}, 0L, (a, t) -> a + length(t))")
    mwl = n_chars / n_words
    n_hash = F.size(F.split(F.col("text"), "#", -1)) - 1
    n_ellipsis = F.size(F.split(F.col("text"), r"\.\.\.", -1)) - 1
    symbol_ratio = (n_hash + n_ellipsis) / n_words
    n_lines = F.size(lines)
    bullet_ratio = (
        F.expr("size(filter(split(text, '\\n'), l -> "
               "ltrim(l) rlike '^[-*\\u2022]'))") / n_lines
    )
    ellipsis_line_ratio = (
        F.expr("size(filter(split(text, '\\n'), l -> "
               "rtrim(l) rlike '\\\\.\\\\.\\\\.$'))") / n_lines
    )
    alpha_frac = (
        F.expr(f"size(filter({TOKS}, t -> t rlike '[a-z]'))") / n_words
    )
    sw_array = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    n_stop = F.expr(
        f"size(array_intersect(array_distinct({TOKS}), array({sw_array})))"
    )
    reason = (
        F.when(n_words < GOPHER_MIN_WORDS, F.lit("word_count_low"))
        .when(n_words > GOPHER_MAX_WORDS, F.lit("word_count_high"))
        .when(mwl < GOPHER_MIN_MWL, F.lit("mean_word_len_low"))
        .when(mwl > GOPHER_MAX_MWL, F.lit("mean_word_len_high"))
        .when(symbol_ratio > GOPHER_MAX_SYMBOL_RATIO, F.lit("symbol_ratio"))
        .when(bullet_ratio > GOPHER_MAX_BULLET_RATIO, F.lit("bullet_lines"))
        .when(ellipsis_line_ratio > GOPHER_MAX_ELLIPSIS_RATIO, F.lit("ellipsis_lines"))
        .when(alpha_frac < GOPHER_MIN_ALPHA_FRAC, F.lit("alpha_words"))
        .when(n_stop < GOPHER_MIN_STOPWORDS, F.lit("stopwords"))
    )
    return reason


def gopher_gate(docs):
    """(doc_id, n_words, keep, fail_reason): Gopher rule-ladder verdict
    per document. Shared by the contract query (q_quality_gopher_gate)
    and run_curate's --gopher-gate stage (which filters on the same
    gopher_fail_reason expression directly)."""
    from pyspark.sql import functions as F

    reason = gopher_fail_reason()
    return docs.select(
        "doc_id",
        F.size(F.expr(TOKS)).alias("n_words"),
        reason.isNull().alias("keep"),
        reason.alias("fail_reason"),
    )
