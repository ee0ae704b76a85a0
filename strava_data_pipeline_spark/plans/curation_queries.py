"""Corpus-curation queries (SURVEY.md §2c, r5 widening): model-based
quality scoring, importance resampling, tokenizer training, bloom-gated
decontamination, novelty/drift metrics, and graph structure mining.

These re-express the published curation passes a production LLM data
pipeline runs between crawl and training — DSIR (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling"),
fastText-style quality classifiers (Joulin et al. 2016, as used by
GPT-3/LLaMA corpus filters), BPE merge statistics (Sennrich et al.
2016), and bloom-filter decontamination (the fixed-size-filter variant
of the broadcast-set scrub) — as exact, oracle-checkable DataFrame
plans. The determinism discipline is the package standard: portable
md5-prefix hashing (functions/hashing.py), integer micro-unit
accumulation wherever doubles would sum in partition order, and a
single final double division both engines perform identically.

No reference parity lines: the reference (a Go activity service) has no
corpus tier; these are the beyond-reference operators the task brief
makes first-class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from strava_data_pipeline_spark.functions import text as T
from strava_data_pipeline_spark.functions.hashing import md5_u32, md5_u32_duckdb
from strava_data_pipeline_spark.plans.prelude import (
    DUCK_SHINGLES,
    DUCK_TOKENS,
    load_docs,
)
from strava_data_pipeline_spark.plans.registry import register
from strava_data_pipeline_spark.sources.catalog import load_table


# --------------------------------------------------------------------------
# 126. classifier_quality_score — hashed-linear quality classifier
# --------------------------------------------------------------------------
# A fastText-style linear model over hashed token features: every token
# hashes into one of B buckets; each bucket carries a fixed milli-unit
# weight; a document's score is the mean bucket weight over ALL token
# occurrences. Production pipelines load trained weights as a broadcast
# B-row dim; here the weight is a pure function of the bucket id
# (md5-derived, zero-mean over [-1000, 1000]) so BOTH engines
# materialize the identical model without shipping a file — the plan
# (hash → weight lookup → per-doc mean) is the trained model's plan.
_CLS_B = 1024

_CLS_W = "(CAST(({h}) % 2001 AS BIGINT) - 1000)"


def _cls_weight_duck(bucket_expr: str) -> str:
    h = md5_u32_duckdb(f"'w#' || CAST({bucket_expr} AS VARCHAR)")
    return _CLS_W.format(h=h)


# score is exact 1e-6 units via a SHIFTED floor division: the old
# round(sum/(n*1000), 6) DOUBLE diverged cross-engine at a half-ulp
# boundary (one doc in the mult=10 rehearsal corpus — rows/cols
# matched, hash didn't). The +n*1000 shift makes the numerator
# non-negative, where Spark's DIV (truncate toward zero) and DuckDB's
# // (floor) are the SAME function; subtracting the 1e6 shift back
# keeps floor semantics for negative scores on both engines.
_CLASSIFIER_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, unnest({DUCK_TOKENS}) AS term FROM documents
), scored AS (
    SELECT doc_id,
           {_cls_weight_duck(md5_u32_duckdb('term') + f" % {_CLS_B}")} AS w
    FROM tok
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(w) AS BIGINT) AS sum_w_milli,
       CAST((sum(w) + count(*) * 1000) * 1000 // count(*)
            - 1000000 AS BIGINT) AS score_q6,
       sum(w) > 0 AS keep
FROM scored GROUP BY 1
"""


@register("classifier_quality_score", oracle=_CLASSIFIER_ORACLE)
def classifier_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed linear quality classifier (fastText-style, Joulin et al.
    2016): token → feature bucket (md5 % B) → milli-unit weight; doc
    score = mean weight over all occurrences in EXACT 1e-6 units
    (shifted floor division — see the oracle note; the double
    round-to-6 it replaces hash-diverged cross-engine at a half-ulp
    boundary in the mult=10 rehearsal), keep = positive sum. The
    weight is computed inline from the bucket id (no join at all) and
    the sum is exact BIGINT milli-units, so the gate boolean and the
    score are engine-identical. One scan, one map-combined doc_id
    groupBy — at 100 TB the only shuffle is the per-doc partial sums;
    a trained model swaps the inline weight for a broadcast B-row dim
    without changing the plan shape."""
    docs = load_docs(spark, sf_dir)
    tok = docs.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("term"))
    bucket = md5_u32(F.col("term")) % _CLS_B
    w = (
        md5_u32(F.concat(F.lit("w#"), bucket.cast("string"))) % 2001 - 1000
    ).cast("bigint")
    return (
        tok.select("doc_id", w.alias("w"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum("w").cast("bigint").alias("sum_w_milli"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "sum_w_milli",
            F.expr(
                "(sum_w_milli + n_tokens * 1000) * 1000 DIV n_tokens"
                " - 1000000"
            )
            .cast("bigint")
            .alias("score_q6"),
            (F.col("sum_w_milli") > 0).alias("keep"),
        )
    )


# --------------------------------------------------------------------------
# 127. dsir_weights — importance-resampling log-weights (DSIR)
# --------------------------------------------------------------------------
# DSIR (Xie et al. 2023): score every raw document by the hashed-n-gram
# log-likelihood ratio log p_target(x) - log p_raw(x) under two bag-of-
# buckets unigram models, then resample proportionally. Target = one
# curated source (src0 stands in for "Wikipedia"); raw = the rest.
# Per-token log-ratio terms are quantized to exact 1e-4 units BEFORE
# the per-doc sum (floor(x + 0.5) of an identically-computed double),
# so the accumulation is BIGINT-exact in any partition order — the
# package's standard defense against cross-engine double-sum
# divergence. The half-unit nudge keeps the quantization boundary off
# exactly-representable values (a mathematically-zero log-ratio that
# computes as -1ulp would otherwise floor to -1 on one engine only);
# residual assumption: Spark and DuckDB lns agree to < half a quantum
# AWAY from half-integer boundaries, the same contract round() queries
# (unigram_logprob) rely on.
_DSIR_B = 512

_DSIR_TGT = "'src0'"

_DSIR_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, source, {md5_u32_duckdb('term')} % {_DSIR_B} AS bucket
    FROM (SELECT doc_id, source, unnest({DUCK_TOKENS}) AS term FROM documents)
), bc AS (
    SELECT bucket,
           CAST(sum(CASE WHEN source = {_DSIR_TGT} THEN 1 ELSE 0 END) AS BIGINT) AS tc,
           CAST(sum(CASE WHEN source <> {_DSIR_TGT} THEN 1 ELSE 0 END) AS BIGINT) AS rc
    FROM tok GROUP BY 1
), tot AS (
    SELECT CAST(sum(tc) AS BIGINT) AS t_total, CAST(sum(rc) AS BIGINT) AS r_total
    FROM bc
), term AS (
    SELECT bucket,
           CAST(floor(ln(((tc + 1) * 1.0 / (t_total + {_DSIR_B}))
                         / ((rc + 1) * 1.0 / (r_total + {_DSIR_B}))) * 10000 + 0.5)
                AS BIGINT) AS lr_q4
    FROM bc CROSS JOIN tot
)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(m.lr_q4) AS BIGINT) AS logw_q4,
       round(sum(m.lr_q4) * 1.0 / 10000, 4) AS logw
FROM tok t JOIN term m USING (bucket)
WHERE t.source <> {_DSIR_TGT}
GROUP BY 1
"""


@register("dsir_weights", oracle=_DSIR_ORACLE)
def dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance log-weights (Xie et al. 2023) for raw docs
    against a curated target source, over hashed token buckets with
    add-1 smoothing. One token explode feeds BOTH bucket models (one
    conditional-sum groupBy → a B-row frame) and the per-doc scoring
    pass; the B-row log-ratio table and the 1-row totals broadcast, so
    the 100 TB raw corpus streams through hash → broadcast probe →
    per-doc sum and never shuffles anything wider than (doc_id,
    partial-sum). The ratio terms are floor-quantized to 1e-4 units so
    per-doc sums are exact BIGINTs."""
    docs = load_docs(spark, sf_dir)
    tok = docs.select(
        "doc_id", "source", F.explode(T.tokens(F.col("text"))).alias("term")
    ).select("doc_id", "source", (md5_u32(F.col("term")) % _DSIR_B).alias("bucket"))
    tgt = F.lit("src0")
    bc = tok.groupBy("bucket").agg(
        F.sum(F.when(F.col("source") == tgt, 1).otherwise(0))
        .cast("bigint")
        .alias("tc"),
        F.sum(F.when(F.col("source") != tgt, 1).otherwise(0))
        .cast("bigint")
        .alias("rc"),
    )
    tot = bc.agg(
        F.sum("tc").cast("bigint").alias("t_total"),
        F.sum("rc").cast("bigint").alias("r_total"),
    )
    term = bc.join(F.broadcast(tot)).select(
        "bucket",
        F.floor(
            F.log(
                ((F.col("tc") + 1) * 1.0 / (F.col("t_total") + _DSIR_B))
                / ((F.col("rc") + 1) * 1.0 / (F.col("r_total") + _DSIR_B))
            )
            * 10000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("lr_q4"),
    )
    return (
        tok.where(F.col("source") != tgt)
        .join(F.broadcast(term), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum("lr_q4").cast("bigint").alias("logw_q4"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "logw_q4",
            F.round(F.col("logw_q4") * 1.0 / 10000, 4).alias("logw"),
        )
    )


# --------------------------------------------------------------------------
# 128. bpe_pair_counts — tokenizer-training merge statistics
# --------------------------------------------------------------------------
# The first round of BPE training (Sennrich et al. 2016): count every
# adjacent character pair inside every token occurrence corpus-wide;
# the top pair is the next merge. All-occurrence counting (frequency,
# not set membership) is what makes it the tokenizer statistic.
_BPE_TOPK = 50

_BPE_ORACLE = f"""
WITH tok AS (
    SELECT unnest({DUCK_TOKENS}) AS term FROM documents
), pr AS (
    SELECT unnest([substr(term, i, 2)
                   FOR i IN range(1, greatest(length(term) - 1, 0) + 1)]) AS pair
    FROM tok
), cnt AS (
    SELECT pair, CAST(count(*) AS BIGINT) AS cnt FROM pr GROUP BY 1
)
SELECT pair, cnt,
       CAST(row_number() OVER (ORDER BY cnt DESC, pair ASC) AS BIGINT) AS rank
FROM cnt
QUALIFY rank <= {_BPE_TOPK}
"""


@register("bpe_pair_counts", oracle=_BPE_ORACLE)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-candidate statistics: corpus-wide counts of adjacent
    character pairs within tokens (every occurrence), top-50 by count.
    Two nested zero-shuffle explodes feed ONE map-combined pair
    groupBy; the vocabulary of character pairs is tiny (≤ alphabet²)
    so the combine collapses the count before the exchange, and the
    top-50 is TakeOrderedAndProject — never a global sort. The rank
    window runs over the already-limited 50-row frame. At 100 TB this
    is the exact per-round counting job of distributed BPE training."""
    docs = load_docs(spark, sf_dir)
    term = F.col("term")
    pairs = F.when(
        F.length(term) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.length(term) - 1),
            lambda i: term.substr(i, F.lit(2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    cnt = (
        docs.select(F.explode(T.tokens(F.col("text"))).alias("term"))
        .select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("pair").asc())
        .limit(_BPE_TOPK)
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("pair").asc())
    return cnt.select(
        "pair", "cnt", F.row_number().over(w).cast("bigint").alias("rank")
    )


# --------------------------------------------------------------------------
# 129. decontaminate_bloom — fixed-size-filter decontamination
# --------------------------------------------------------------------------
# The scale variant of `decontaminate`: instead of broadcasting the
# benchmark's exact shingle set (gigabytes once eval suites grow), ship
# a k=3-hash bloom bitmap of m=4096 positions — constant size no matter
# the benchmark. False positives are the price; this query emits BOTH
# the bloom verdict and the exact verdict so the FP overhead is itself
# measured (and the hash-compare proves the filter math, not just the
# plumbing). Eval set: doc_id % 97 == 0, the same pseudo-benchmark
# `decontaminate` scrubs against.
_BLOOM_M = 4096
_BLOOM_K = 3

_BLOOM_POS = ", ".join(
    md5_u32_duckdb(f"'bloom{j}#' || CAST(sh AS VARCHAR)") + f" % {_BLOOM_M}"
    for j in range(_BLOOM_K)
)

_BLOOM_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, {DUCK_TOKENS} AS t FROM documents
), sh AS (
    SELECT DISTINCT doc_id, {md5_u32_duckdb('shingle')} AS sh
    FROM (SELECT doc_id, unnest({DUCK_SHINGLES}) AS shingle FROM toks)
), bloom AS (
    SELECT DISTINCT pos
    FROM (SELECT unnest([{_BLOOM_POS}]) AS pos FROM sh WHERE doc_id % 97 = 0)
), probe AS (
    SELECT doc_id, sh,
           unnest([{_BLOOM_POS}]) AS pos
    FROM sh WHERE doc_id % 97 <> 0
), hits AS (
    SELECT p.doc_id, p.sh,
           count(*) FILTER (WHERE b.pos IS NOT NULL) = {_BLOOM_K} AS bloom_hit
    FROM probe p LEFT JOIN bloom b USING (pos)
    GROUP BY 1, 2
), bench AS (
    SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0
), per_doc AS (
    SELECT h.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN h.bloom_hit THEN 1 ELSE 0 END) AS BIGINT)
               AS bloom_hits,
           CAST(sum(CASE WHEN e.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS exact_hits
    FROM hits h LEFT JOIN bench e USING (sh)
    GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(p.n_shingles, 0) AS BIGINT) AS n_shingles,
       CAST(coalesce(p.bloom_hits, 0) AS BIGINT) AS bloom_hits,
       CAST(coalesce(p.exact_hits, 0) AS BIGINT) AS exact_hits,
       coalesce(p.bloom_hits, 0) > coalesce(p.exact_hits, 0) AS has_false_positive
FROM documents d LEFT JOIN per_doc p USING (doc_id)
WHERE d.doc_id % 97 <> 0
"""


@register("decontaminate_bloom", oracle=_BLOOM_ORACLE)
def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination: the benchmark's shingles set k=3
    bits in an m=4096 bitmap; a training shingle is flagged when ALL
    its k positions are set. The bitmap travels as ONE row of m/64
    BIGINT words — constant size however large the benchmark — cross-
    joined broadcast onto the corpus, and each shingle's verdict is k
    O(1) bit tests inside codegen. The corpus never shuffles for the
    bloom decision (r6: the previous form exploded k position rows per
    shingle and re-grouped by (doc, shingle) — a 3x-corpus shuffle
    that was the query's largest byte mover and its mult=100 cost
    center at exponent 1.049). Emits bloom hits AND exact hits per doc
    so the false-positive rate is audited in the result itself; the
    oracle checks the filter arithmetic bit-for-bit."""
    docs = load_docs(spark, sf_dir)
    sh = (
        docs.select(
            "doc_id",
            F.explode(T.word_shingles(T.tokens(F.col("text")))).alias("_s"),
        )
        .select("doc_id", md5_u32(F.col("_s")).alias("sh"))
        .distinct()
    )
    pos_arr = F.array(
        *[
            md5_u32(F.concat(F.lit(f"bloom{j}#"), F.col("sh").cast("string")))
            % _BLOOM_M
            for j in range(_BLOOM_K)
        ]
    )
    # fold the benchmark's set positions into one m-bit bitmap row:
    # per 64-bit word a bit_or of the set bits, then a dense
    # 0..m/64-1 array with zero-filled gaps (empty benchmark -> the
    # global agg still emits its one row -> all-zero bitmap -> no hits)
    words = (
        sh.where(F.col("doc_id") % 97 == 0)
        .select(F.explode(pos_arr).alias("pos"))
        .select(
            (F.col("pos") / 64).cast("int").alias("w"),
            (F.col("pos") % 64).cast("int").alias("b"),
        )
        .groupBy("w")
        # shiftleft's python wrapper takes only a literal shift; the SQL
        # form accepts the column
        .agg(F.bit_or(F.expr("shiftleft(1L, b)")).alias("mask"))
    )
    bitmap = (
        words.groupBy()
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("w", "mask"))
            ).alias("m")
        )
        .select(
            F.transform(
                F.sequence(F.lit(0), F.lit(_BLOOM_M // 64 - 1)),
                # try_element_at: ANSI-safe null (not error) on the
                # words the benchmark never touched
                lambda w: F.coalesce(
                    F.try_element_at("m", w), F.lit(0).cast("bigint")
                ),
            ).alias("bitmap")
        )
    )
    bench = sh.where(F.col("doc_id") % 97 == 0).select("sh").distinct()
    hits = (
        sh.where(F.col("doc_id") % 97 != 0)
        .crossJoin(F.broadcast(bitmap))
        .select(
            "doc_id",
            "sh",
            F.forall(
                pos_arr,
                lambda p: F.getbit(
                    F.element_at(
                        "bitmap", (p / F.lit(64)).cast("int") + F.lit(1)
                    ),
                    (p % 64).cast("int"),
                )
                == 1,
            ).alias("bloom_hit"),
        )
    )
    per_doc = (
        hits.join(
            F.broadcast(bench.withColumn("_ex", F.lit(1))), "sh", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.sum(F.when(F.col("bloom_hit"), 1).otherwise(0))
            .cast("bigint")
            .alias("bloom_hits"),
            F.sum(F.coalesce("_ex", F.lit(0))).cast("bigint").alias("exact_hits"),
        )
    )
    return (
        docs.where(F.col("doc_id") % 97 != 0)
        .select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).cast("bigint").alias("n_shingles"),
            F.coalesce("bloom_hits", F.lit(0)).cast("bigint").alias("bloom_hits"),
            F.coalesce("exact_hits", F.lit(0)).cast("bigint").alias("exact_hits"),
            (
                F.coalesce("bloom_hits", F.lit(0))
                > F.coalesce("exact_hits", F.lit(0))
            ).alias("has_false_positive"),
        )
    )


# --------------------------------------------------------------------------
# 130. ngram_novelty — per-doc first-occurrence share
# --------------------------------------------------------------------------
_NOVELTY_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, {DUCK_TOKENS} AS t FROM documents
), sh AS (
    SELECT DISTINCT doc_id, {md5_u32_duckdb('shingle')} AS sh
    FROM (SELECT doc_id, unnest({DUCK_SHINGLES}) AS shingle FROM toks)
), firstocc AS (
    SELECT sh, CAST(min(doc_id) AS BIGINT) AS first_doc FROM sh GROUP BY 1
)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
           AS n_novel,
       round(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) * 1.0
             / count(*), 4) AS novelty_ratio
FROM sh s JOIN firstocc f USING (sh)
GROUP BY 1
"""


@register("ngram_novelty", oracle=_NOVELTY_ORACLE)
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the share of a doc's distinct word-3-
    shingles whose FIRST corpus occurrence (min doc_id) is this doc —
    the dataset-diversity curve curators watch as a crawl grows (novelty
    collapsing toward 0 means the corpus has saturated). Shingles
    travel as u32 hashes; the first-occurrence dim and the per-doc
    rollup share one shingle-keyed exchange, and only (shingle, doc_id)
    pairs ever shuffle — never text. In the incremental production form
    the first-occurrence dim is the persisted state and each crawl
    batch probes it (the dedup_incremental pattern)."""
    docs = load_docs(spark, sf_dir)
    sh = (
        docs.select(
            "doc_id",
            F.explode(T.word_shingles(T.tokens(F.col("text")))).alias("_s"),
        )
        .select("doc_id", md5_u32(F.col("_s")).alias("sh"))
        .distinct()
    )
    first = sh.groupBy("sh").agg(F.min("doc_id").cast("bigint").alias("first_doc"))
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return (
        sh.join(first, "sh")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.sum(novel).cast("bigint").alias("n_novel"),
            F.round(F.sum(novel) * 1.0 / F.count("*"), 4).alias("novelty_ratio"),
        )
    )


# --------------------------------------------------------------------------
# 131. domain_kl — per-source distribution drift vs the corpus
# --------------------------------------------------------------------------
# KL(source ‖ corpus) over hashed token buckets: the mixture-monitoring
# statistic behind corpus_mixture — a source whose KL drifts up is
# diverging from the blend it was weighted for. Bucketing (B=256)
# bounds the state at any corpus size; add-1 smoothing keeps every
# term finite; each term quantizes to 1e-9 units via floor(x + 0.5) so
# the per-source sum is BIGINT-exact in any aggregation order (the
# half-unit nudge keeps p_s == p_c terms — mathematically zero, often
# ±1ulp in double — from flooring to -1 on one engine; see the DSIR
# block note for the residual cross-engine ln assumption).
_KL_B = 256

_KL_ORACLE = f"""
WITH tok AS (
    SELECT source, {md5_u32_duckdb('term')} % {_KL_B} AS bucket
    FROM (SELECT source, unnest({DUCK_TOKENS}) AS term FROM documents)
), sb AS (
    SELECT source, bucket, CAST(count(*) AS BIGINT) AS c_sb FROM tok GROUP BY 1, 2
), b AS (
    SELECT bucket, CAST(count(*) AS BIGINT) AS c_b FROM tok GROUP BY 1
), s AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM tok GROUP BY 1
), n AS (
    SELECT CAST(count(*) AS BIGINT) AS n_total FROM tok
), grid AS (
    SELECT s.source, s.n_s, b.bucket, b.c_b, coalesce(sb.c_sb, 0) AS c_sb
    FROM s CROSS JOIN b
    LEFT JOIN sb ON sb.source = s.source AND sb.bucket = b.bucket
), term AS (
    SELECT source, n_s,
           CAST(floor(((c_sb + 1) * 1.0 / (n_s + {_KL_B}))
                      * ln(((c_sb + 1) * 1.0 / (n_s + {_KL_B}))
                           / ((c_b + 1) * 1.0 / (n_total + {_KL_B})))
                      * 1000000000 + 0.5) AS BIGINT) AS kl_term_q9
    FROM grid CROSS JOIN n
)
SELECT source,
       CAST(min(n_s) AS BIGINT) AS n_tokens,
       CAST(sum(kl_term_q9) AS BIGINT) AS kl_q9,
       round(sum(kl_term_q9) * 1.0 / 1000000000, 6) AS kl
FROM term GROUP BY 1
"""


@register("domain_kl", oracle=_KL_ORACLE)
def domain_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence from the corpus token distribution over
    B=256 hash buckets — the drift monitor for corpus mixtures. One
    token explode feeds the (source × bucket) counts; everything after
    is arithmetic over a ≤(sources × B)-row grid built from broadcast
    dims, so the corpus is scanned once and the only corpus-sized
    shuffle is the map-combined count groupBy. Terms quantize to 1e-9
    units before summing (exact BIGINT accumulation; a double sum's
    partition order would diverge cross-engine)."""
    docs = load_docs(spark, sf_dir)
    tok = docs.select(
        "source", F.explode(T.tokens(F.col("text"))).alias("term")
    ).select("source", (md5_u32(F.col("term")) % _KL_B).alias("bucket"))
    sb = tok.groupBy("source", "bucket").agg(
        F.count("*").cast("bigint").alias("c_sb")
    )
    b = tok.groupBy("bucket").agg(F.count("*").cast("bigint").alias("c_b"))
    s = tok.groupBy("source").agg(F.count("*").cast("bigint").alias("n_s"))
    n = tok.agg(F.count("*").cast("bigint").alias("n_total"))
    grid = (
        s.crossJoin(F.broadcast(b))
        .join(sb, ["source", "bucket"], "left")
        .select(
            "source",
            "n_s",
            "c_b",
            F.coalesce("c_sb", F.lit(0)).cast("bigint").alias("c_sb"),
        )
    )
    p_s = (F.col("c_sb") + 1) * 1.0 / (F.col("n_s") + _KL_B)
    p_c = (F.col("c_b") + 1) * 1.0 / (F.col("n_total") + _KL_B)
    term = grid.join(F.broadcast(n)).select(
        "source",
        "n_s",
        F.floor(p_s * F.log(p_s / p_c) * 1000000000 + F.lit(0.5))
        .cast("bigint")
        .alias("kl_term_q9"),
    )
    return term.groupBy("source").agg(
        F.min("n_s").cast("bigint").alias("n_tokens"),
        F.sum("kl_term_q9").cast("bigint").alias("kl_q9"),
        F.round(F.sum("kl_term_q9") * 1.0 / 1000000000, 6).alias("kl"),
    )


# --------------------------------------------------------------------------
# 132. copurchase_triangles — triangle counting on the co-purchase graph
# --------------------------------------------------------------------------
_TRI_TOPK = 100

_TRI_ORACLE = f"""
WITH items AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), edges AS (
    SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), tri AS (
    SELECT e1.a AS x, e1.b AS y, e2.b AS z
    FROM edges e1
    JOIN edges e2 ON e2.a = e1.b
    JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
), member AS (
    SELECT unnest([x, y, z]) AS partkey FROM tri
), cnt AS (
    SELECT partkey, CAST(count(*) AS BIGINT) AS n_triangles
    FROM member GROUP BY 1
)
SELECT partkey, n_triangles,
       CAST(row_number() OVER (ORDER BY n_triangles DESC, partkey ASC) AS BIGINT)
           AS rank
FROM cnt
QUALIFY rank <= {_TRI_TOPK}
"""


@register("copurchase_triangles", oracle=_TRI_ORACLE)
def copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle participation in the co-purchase graph (parts
    sharing an order) — the local clustering signal behind "customers
    who bought X and Y also bought Z". Scale design: wedges enumerate
    from DEGREE-ORDERED oriented edges (each edge points low→high by
    (degree, id)), the standard trick that bounds wedge fan-out by
    O(m^1.5) on any degree distribution instead of Σdeg² — a hub with
    degree d generates no wedges from its hub side because its edges
    orient INTO it. Each triangle then has exactly one apex (the node
    both others dominate), so it is found once; membership counts come
    from a 3-way explode of the (x, y, z) triples. Only (int, int)
    edge tuples ever shuffle. The DuckDB oracle independently counts
    via plain a<b<c triple enumeration — two different strategies must
    agree bit-for-bit."""
    from strava_data_pipeline_spark.operators.graph import triangle_participation

    li = load_table(spark, sf_dir, "lineitem")
    # basket-array edge build: ONE orderkey-keyed shuffle (map-side-
    # combined collect_set) then a codegen pair explode bounded by
    # basket size — replaces the orderkey self-join (which shuffled the
    # item list twice and deduped 2× the pair volume); pair blow-up is
    # C(basket, 2), the same bound parts_bought_together documents
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    edges = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) ->"
                    " transform(slice(ps, i + 2, size(ps)),"
                    " y -> named_struct('a', x, 'b', y))))"
                )
            ).alias("e")
        )
        .select(F.col("e.a").alias("a"), F.col("e.b").alias("b"))
        .distinct()
    )
    cnt = (
        triangle_participation(edges)
        .withColumnRenamed("node", "partkey")
        .orderBy(F.col("n_triangles").desc(), F.col("partkey").asc())
        .limit(_TRI_TOPK)
    )
    w = Window.orderBy(F.col("n_triangles").desc(), F.col("partkey").asc())
    return cnt.select(
        "partkey",
        "n_triangles",
        F.row_number().over(w).cast("bigint").alias("rank"),
    )


# --------------------------------------------------------------------------
# 133. embedding_power_iteration — top principal component, exact integers
# --------------------------------------------------------------------------
# The PCA step curation pipelines run before whitening / SemDeDup-style
# clustering: two matrix-free power iterations w' = Qᵀ(Q·w) over the
# micro-unit-quantized embedding matrix, renormalized to milli-units
# each round. Every intermediate is BIGINT: vectors quantize with the
# kmeans_lloyd floor(x*1e6 + 0.5) discipline; the per-vector score is
# truncation-divided by 2^16 before the back-projection and the
# per-dim vector renormalizes by its max-abs — both via the portable
# (x - (x % y)) // y identity (numerator made exactly divisible, so
# floor-division in DuckDB and `div` in Spark agree for every sign;
# both engines' % takes the dividend's sign). Output = each vector's
# exact integer projection onto the converged component.
_PI_SHIFT = 65536  # 2^16 score rescale; keeps Qᵀ(Q·w) inside BIGINT


def _pi_w0_duck() -> str:
    h = md5_u32_duckdb("'pw#' || CAST(i AS VARCHAR)")
    return f"CAST(({h}) % 2001 - 1000 AS BIGINT)"


def _pi_oracle(iters: int = 2) -> str:
    steps = []
    prev = "w0"
    for k in range(1, iters + 1):
        steps.append(f"""s{k} AS (
    SELECT lf.vec_id, CAST(sum(lf.qd * {prev}.w) AS BIGINT) AS s
    FROM lf JOIN {prev} USING (dim) GROUP BY 1
), sp{k} AS (
    SELECT vec_id, (s - (s % {_PI_SHIFT})) // {_PI_SHIFT} AS sp FROM s{k}
), u{k} AS (
    SELECT lf.dim, CAST(sum(lf.qd * sp{k}.sp) AS BIGINT) AS u
    FROM lf JOIN sp{k} USING (vec_id) GROUP BY 1
), m{k} AS (
    SELECT greatest(max(abs(u)), 1) AS m FROM u{k}
), w{k} AS (
    SELECT dim, ((u * 1000) - ((u * 1000) % m)) // m AS w
    FROM u{k} CROSS JOIN m{k}
)""")
        prev = f"w{k}"
    return f"""
WITH q AS (
    SELECT vec_id,
           [CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
            FOR i IN range(1, 65)] AS qv
    FROM embeddings
), lf AS (
    SELECT vec_id, CAST(i AS BIGINT) AS dim, qv[i] AS qd
    FROM q, unnest(range(1, 65)) AS t(i)
), w0 AS (
    SELECT CAST(i AS BIGINT) AS dim, {_pi_w0_duck()} AS w
    FROM unnest(range(1, 65)) AS t(i)
), {', '.join(steps)}
SELECT lf.vec_id, CAST(sum(lf.qd * {prev}.w) AS BIGINT) AS proj_q
FROM lf JOIN {prev} USING (dim)
GROUP BY 1
"""


@register("embedding_power_iteration", oracle=_pi_oracle())
def embedding_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-principal-component projection of every embedding via two
    exact-integer power iterations (see module comment above the
    oracle). Plan shape per round: the long (vec_id, dim, qd) frame —
    persisted once — joins the broadcast 64-row component vector,
    aggregates per vec_id (one shuffle), rescales, joins back and
    aggregates per dim (second shuffle); the renormalizer is a 1-row
    broadcast. Nothing wider than (id, bigint) tuples ever shuffles
    and the component state is 64 rows, so the plan is the 100 TB
    shape already; at corpora past ~10^7 vectors the score shift
    widens (shift ∝ log2 n) to keep Qᵀ(Q·w) inside BIGINT, the same
    knob the docstring constant pins. DuckDB oracle = the identical
    recurrence unrolled as chained CTEs (the pagerank discipline)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * F.lit(1000000.0) + F.lit(0.5)).cast(
            "bigint"
        ),
    )
    lf = (
        emb.select("vec_id", F.posexplode(qv).alias("pos", "qd"))
        .select(
            "vec_id", (F.col("pos") + 1).cast("bigint").alias("dim"), "qd"
        )
        .persist()
    )
    dims = spark.range(1, 65).select(F.col("id").cast("bigint").alias("dim"))
    w = dims.select(
        "dim",
        (
            md5_u32(F.concat(F.lit("pw#"), F.col("dim").cast("string"))) % 2001
            - 1000
        )
        .cast("bigint")
        .alias("w"),
    )
    for _ in range(2):
        s = (
            lf.join(F.broadcast(w), "dim")
            .groupBy("vec_id")
            .agg(F.sum(F.col("qd") * F.col("w")).cast("bigint").alias("s"))
        )
        sp = s.select(
            "vec_id",
            F.expr(f"(s - (s % {_PI_SHIFT})) div {_PI_SHIFT}")
            .cast("bigint")
            .alias("sp"),
        )
        u = (
            lf.join(sp, "vec_id")
            .groupBy("dim")
            .agg(F.sum(F.col("qd") * F.col("sp")).cast("bigint").alias("u"))
        )
        m = u.agg(
            F.greatest(F.max(F.abs(F.col("u"))), F.lit(1))
            .cast("bigint")
            .alias("m")
        )
        w = u.crossJoin(F.broadcast(m)).select(
            "dim",
            F.expr("((u * 1000) - ((u * 1000) % m)) div m")
            .cast("bigint")
            .alias("w"),
        )
    return (
        lf.join(F.broadcast(w), "dim")
        .groupBy("vec_id")
        .agg(F.sum(F.col("qd") * F.col("w")).cast("bigint").alias("proj_q"))
    )


# --------------------------------------------------------------------------
# 134. minhash_error_eval — sketch-quality audit of the minhash tier
# --------------------------------------------------------------------------
# Every LSH candidate pair carries an ESTIMATED jaccard (matching
# signature fraction); this query joins each candidate back to the two
# documents' exact hashed-shingle sets and emits estimate, exact value,
# and absolute error — the per-pair audit that tells a curator whether
# 16 permutations are enough before trusting the 0.75 dedup threshold.
# The estimator itself was already oracle-checked (dedup_minhash); this
# checks the EVALUATION HARNESS cross-engine too.


def _minhash_eval_oracle() -> str:
    from strava_data_pipeline_spark.plans.llm_queries import _minhash_oracle

    return f"""
WITH mh AS ({_minhash_oracle()}
), toks2 AS (
    SELECT doc_id, {DUCK_TOKENS} AS t FROM documents
), sh2 AS (
    SELECT DISTINCT doc_id, {md5_u32_duckdb('shingle')} AS x
    FROM (SELECT doc_id, unnest({DUCK_SHINGLES}) AS shingle FROM toks2)
), gs AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh2 GROUP BY 1
), ix AS (
    SELECT m.doc_a, m.doc_b, CAST(count(*) AS BIGINT) AS i
    FROM mh m
    JOIN sh2 a ON a.doc_id = m.doc_a
    JOIN sh2 b ON b.doc_id = m.doc_b AND b.x = a.x
    GROUP BY 1, 2
)
SELECT m.doc_a, m.doc_b, m.est_jaccard,
       round(coalesce(ix.i, 0) * 1.0
             / (ga.n + gb.n - coalesce(ix.i, 0)), 4) AS exact_jaccard,
       round(abs(m.est_jaccard
                 - round(coalesce(ix.i, 0) * 1.0
                         / (ga.n + gb.n - coalesce(ix.i, 0)), 4)), 4) AS abs_err
FROM mh m
JOIN gs ga ON ga.doc_id = m.doc_a
JOIN gs gb ON gb.doc_id = m.doc_b
LEFT JOIN ix ON ix.doc_a = m.doc_a AND ix.doc_b = m.doc_b
"""


@register("minhash_error_eval", oracle=_minhash_eval_oracle())
def minhash_error_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-error audit: for every minhash-LSH candidate pair, the
    estimated jaccard (matching-signature fraction), the exact jaccard
    over the two documents' hashed-shingle sets, and |error|. The
    exact side touches ONLY the candidate pairs the bands emitted —
    never all pairs — so the audit costs O(candidates × shingles/doc),
    the same bound as the dedup verify step itself; gram arrays join
    onto pairs by doc id, nothing quadratic anywhere. At 100 TB this
    runs over a sampled candidate slice to pick the permutation count
    before committing to a full-corpus dedup."""
    from strava_data_pipeline_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    sig = D.minhash_signatures(docs)
    cand = D.minhash_lsh_pairs(sig)
    sh = (
        load_docs(spark, sf_dir)
        .select(
            "doc_id",
            F.explode(T.word_shingles(T.tokens(F.col("text")))).alias("_s"),
        )
        .select("doc_id", md5_u32(F.col("_s")).alias("x"))
        .distinct()
    )
    gs = sh.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("x")).alias("xs"),
        F.count("*").cast("bigint").alias("n"),
    )
    ga = gs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("xs").alias("xs_a"),
        F.col("n").alias("n_a"),
    )
    gb = gs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("xs").alias("xs_b"),
        F.col("n").alias("n_b"),
    )
    inter = F.size(F.array_intersect("xs_a", "xs_b")).cast("bigint")
    exact = F.round(
        inter * F.lit(1.0) / (F.col("n_a") + F.col("n_b") - inter), 4
    )
    return (
        cand.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            exact.alias("exact_jaccard"),
            F.round(F.abs(F.col("est_jaccard") - exact), 4).alias("abs_err"),
        )
    )


# --------------------------------------------------------------------------
# 206. quality_calibration — per-source quantile normalization (r8)
# --------------------------------------------------------------------------
# The curation step between scoring and filtering: raw quality scores
# are not comparable ACROSS sources (a clean-wiki source's median beats
# a crawl source's p90), so production filters calibrate per source —
# replace each doc's score with its within-source quantile rank, then
# cut at one global quantile. Exact-integer discipline throughout: the
# score is BIGINT micro-units (floor DIV — Spark DIV == DuckDB //), the
# rank key is the total order (score, doc_id) so no tie semantics can
# diverge, and the percent rank is (rank-1)*1e6 // (n-1) in micro-units
# (single-doc sources pin to 1e6). Scale: ONE shuffle on source; a
# pathological hot source rides the same two-phase bucketed_cumsum
# remedy the window tier uses (rank == cumsum of ones), so the plan
# survives skew without a rewrite.
_CALIB_ORACLE = f"""
WITH feats AS (
    SELECT doc_id, source,
           CAST(len({DUCK_TOKENS}) AS BIGINT) AS n_tokens,
           CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS BIGINT) AS n_punct,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM documents
), scored AS (
    SELECT doc_id, source,
           (CAST(n_tokens * 1000000 AS BIGINT) // greatest(n_chars, 1)
            - CAST(n_punct * 1000000 AS BIGINT) // greatest(n_chars, 1)
            + n_tokens) AS score_u6
    FROM feats
), ranked AS (
    SELECT doc_id, source, score_u6,
           CAST(row_number() OVER (
               PARTITION BY source ORDER BY score_u6, doc_id
           ) AS BIGINT) AS src_rank,
           CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_src
    FROM scored
)
SELECT doc_id, source, score_u6, src_rank,
       CASE WHEN n_src = 1 THEN CAST(1000000 AS BIGINT)
            ELSE (src_rank - 1) * 1000000 // (n_src - 1) END AS pr_u6,
       CASE WHEN n_src = 1 THEN TRUE
            ELSE (src_rank - 1) * 1000000 // (n_src - 1) >= 500000
       END AS keep
FROM ranked
"""


@register("quality_calibration", oracle=_CALIB_ORACLE)
def quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quantile calibration of an exact-integer quality
    score: token density minus punctuation density (micro-units, floor
    DIV) plus a length term, ranked within source under the total order
    (score, doc_id), percent rank in exact micro-units, and the global
    keep cut at the calibrated median. Every source contributes ~half
    its docs regardless of its raw score distribution — the property
    raw-threshold filters (quality_filter) lack."""
    docs = load_docs(spark, sf_dir)
    toks = T.tokens(F.col("text"))
    feats = docs.select(
        "doc_id",
        "source",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.length(F.regexp_replace("text", "[A-Za-z0-9\\s]", ""))
        .cast("bigint")
        .alias("n_punct"),
        F.length("text").cast("bigint").alias("n_chars_c"),
    )
    scored = feats.select(
        "doc_id",
        "source",
        (
            F.expr("n_tokens * 1000000 DIV greatest(n_chars_c, 1)")
            - F.expr("n_punct * 1000000 DIV greatest(n_chars_c, 1)")
            + F.col("n_tokens")
        )
        .cast("bigint")
        .alias("score_u6"),
    )
    w = Window.partitionBy("source").orderBy("score_u6", "doc_id")
    ranked = scored.select(
        "doc_id",
        "source",
        "score_u6",
        F.row_number().over(w).cast("bigint").alias("src_rank"),
        F.count(F.lit(1))
        .over(Window.partitionBy("source"))
        .cast("bigint")
        .alias("n_src"),
    )
    pr = F.when(F.col("n_src") == 1, F.lit(1000000).cast("bigint")).otherwise(
        F.expr("(src_rank - 1) * 1000000 DIV (n_src - 1)")
    )
    return ranked.select(
        "doc_id",
        "source",
        "score_u6",
        "src_rank",
        pr.alias("pr_u6"),
        (pr >= 500000).alias("keep"),
    )


# --------------------------------------------------------------------------
# 208. corpus_shard_plan — token-budget output sharding (r8)
# --------------------------------------------------------------------------
# The export step after curation: assign every doc to a training shard
# so each shard holds ~TARGET tokens, under a deterministic global
# order (hash order decorrelates shard content from crawl order — the
# shuffle a data loader would otherwise need). shard_id is the doc's
# EXCLUSIVE token prefix-sum DIV target: shards fill to the target and
# spill the boundary doc into the next — sizes land in
# [target - max_doc + 1, target + max_doc - 1], the standard
# split-at-document-boundary contract.
#
# Scale: a global prefix sum is the textbook one-task window (ORDER BY
# over everything), so the plan goes through bucketed_cumsum with a
# CONSTANT key and 64 contiguous hash-range buckets: the heavy cumsum
# runs per bucket (parallel), the sequential dependency rides one
# summary row per bucket, and the boundary join reuses the bucket
# exchange. DuckDB oracle is the plain one-pass window — the two
# strategies must agree to the row.
#
# r8 driver red root-cause: shard_id was the ONLY un-CAST oracle output
# in the registry whose type was HUGEINT (windowed sum(BIGINT) ->
# HUGEINT, and // keeps it). fetchall() renders HUGEINT as Python int
# (replica green); an Arrow-path fetch renders it as decimal128, which
# a value normalizer may stringify differently (driver red). Every
# oracle output is now CAST to a canonical type; tools/verify_oracle.py
# fails on HUGEINT/DECIMAL/TIMESTAMPTZ outputs so the replica catches
# this class pre-submit.
_SHARD_TARGET = 2000


def _shard_plan_oracle() -> str:
    h = md5_u32_duckdb("text")
    return f"""
WITH t AS (
    SELECT doc_id, {h} AS h,
           CAST(len({DUCK_TOKENS}) AS BIGINT) AS n_tokens
    FROM documents
), c AS (
    SELECT n_tokens,
           sum(n_tokens) OVER (ORDER BY h, doc_id
               ROWS UNBOUNDED PRECEDING) - n_tokens AS cum_excl
    FROM t
)
SELECT CAST(cum_excl // {_SHARD_TARGET} AS BIGINT) AS shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
FROM c GROUP BY shard_id
"""


# --------------------------------------------------------------------------
# 214. corpus_shard_buckets — the shard plan's diagnostic decomposition
# --------------------------------------------------------------------------
# corpus_shard_plan is maximally hash-fragile BY DESIGN (a global
# exclusive prefix sum: one differently-tokenized document anywhere
# shifts every later shard boundary and corrupts most output rows), so
# a bare hash mismatch there localizes nothing. This twin emits the
# per-hash-bucket (n_docs, sum_tokens) marginals the prefix sum is
# built FROM: if the plan ever reds while this row greens, the
# divergence is in the cumsum/boundary machinery; if both red, it is
# in hashing/tokenization — and the failing bucket names which 1/64th
# of the corpus to diff. (The r8 red's root cause — the oracle's
# HUGEINT shard_id — was found by a type sweep, but the next
# divergence may not be type-shaped.)
def _shard_buckets_oracle() -> str:
    h = md5_u32_duckdb("text")
    return f"""
SELECT h // 67108864 AS hbucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
FROM (SELECT {h} AS h,
             CAST(len({DUCK_TOKENS}) AS BIGINT) AS n_tokens
      FROM documents)
GROUP BY hbucket
"""


@register("corpus_shard_buckets", oracle=_shard_buckets_oracle())
def corpus_shard_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bucket marginals of corpus_shard_plan's global hash order:
    one map-side-combinable groupBy over the same (h, n_tokens)
    projection the plan feeds bucketed_cumsum — zero windows, one
    shuffle of 64 summary rows. Scale-free by construction."""
    docs = load_docs(spark, sf_dir)
    return (
        docs.select(
            md5_u32(F.col("text")).alias("h"),
            F.size(T.tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
        )
        .groupBy(F.expr("h DIV 67108864").alias("hbucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
        )
    )


@register("corpus_shard_plan", oracle=_shard_plan_oracle())
def corpus_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic token-budget shard assignment via a SKEW-ROBUST
    global prefix sum: hash-order the corpus (md5_u32 of the body,
    doc_id tie-break), two-phase-cumsum token counts through
    operators/bucketed_prefix.bucketed_cumsum over 64 contiguous
    hash-range buckets (constant key — the global-order case of the
    window-tier remedy), shard at every _SHARD_TARGET tokens, report
    per-shard doc/token totals."""
    from strava_data_pipeline_spark.operators.bucketed_prefix import (
        bucketed_cumsum,
    )

    docs = load_docs(spark, sf_dir)
    base = docs.select(
        "doc_id",
        md5_u32(F.col("text")).alias("h"),
        F.size(T.tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
    ).withColumns(
        {
            "gkey": F.lit(1),
            # 64 contiguous hash ranges: bucket b's rows all precede
            # bucket b+1's in (h, doc_id) order, the contiguity the
            # two-phase carry requires
            "hbucket": F.expr("h DIV 67108864"),
        }
    )
    cum = bucketed_cumsum(
        base, "gkey", "hbucket", ["h", "doc_id"], {"cum_incl": "n_tokens"}
    )
    return (
        cum.select(
            F.expr(f"(cum_incl - n_tokens) DIV {_SHARD_TARGET}").alias(
                "shard_id"
            ),
            "n_tokens",
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
    )
