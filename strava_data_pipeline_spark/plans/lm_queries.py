"""Language-model estimation queries (SURVEY.md §2c, r6 second pack,
rows 147-149): the n-gram-LM tier above `bigram_logprob`'s add-1
smoothing, plus the train/test leakage audit and an unrolled BPE merge
loop — the three remaining shapes a tokenizer/LM-prep pipeline runs
that the registry didn't yet cover.

Determinism discipline (the repo-wide contract): token identity is the
whitespace tokenizer both engines share; probability formulas use ONLY
+ - * / over integer counts and exactly-representable constants
(0.75), so both engines' IEEE-754 evaluation of the identical
expression tree is bit-equal — no ln() ulp hazard, no quantization
needed; display rounding at fixed decimals on both sides.

No reference parity lines: the reference (a Go activity service) has
no corpus tier; these are beyond-reference operators the task brief
makes first-class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from strava_data_pipeline_spark.functions import text as T
from strava_data_pipeline_spark.operators import dedup as D
from strava_data_pipeline_spark.operators.sampling import assign_split
from strava_data_pipeline_spark.plans.llm_queries import _JACCARD_ORACLE
from strava_data_pipeline_spark.plans.llm_queries import _bucket_duck
from strava_data_pipeline_spark.plans.prelude import DUCK_TOKENS, load_docs
from strava_data_pipeline_spark.plans.registry import register

_SEP = "\x01"

# Kneser-Ney absolute-discount constant. 0.75 is the textbook value
# (Chen & Goodman 1999) and is exactly representable in binary, so the
# discounted term stays bit-identical across engines.
_KN_D = 0.75


# --------------------------------------------------------------------------
# 147. bigram_kneser_ney — interpolated Kneser-Ney bigram model
# --------------------------------------------------------------------------
# P_kn(w2|w1) = (max(c(w1,w2) - d, 0)
#               + d * N1+(w1,*) * (N1+(*,w2) / N)) / c(w1,*)
# where c(w1,*) = sum_w2 c(w1,w2) (left-context mass), N1+(w1,*) =
# distinct continuations of w1, N1+(*,w2) = distinct left contexts of
# w2 (the continuation probability — "how novel are w2's contexts" —
# the thing add-1 smoothing cannot express), N = total bigram types.
# Hapax bigram types are pruned from the OUTPUT (c >= 2) to bound the
# result; all statistics are computed over the full corpus first.
_KN_ORACLE = f"""
WITH d AS (
    SELECT doc_id, {DUCK_TOKENS} AS t FROM documents
), bg AS (
    SELECT unnest([t[i] || chr(1) || t[i+1] FOR i IN range(1, len(t))]) AS pair
    FROM d
), pc AS (
    SELECT string_split(pair, chr(1))[1] AS w1,
           string_split(pair, chr(1))[2] AS w2,
           CAST(count(*) AS BIGINT) AS c_big
    FROM bg GROUP BY 1, 2
), left_dim AS (
    SELECT w1, CAST(sum(c_big) AS BIGINT) AS c_left,
           CAST(count(*) AS BIGINT) AS n1f
    FROM pc GROUP BY 1
), right_dim AS (
    SELECT w2, CAST(count(*) AS BIGINT) AS n1r FROM pc GROUP BY 1
), tot AS (
    SELECT CAST(count(*) AS BIGINT) AS n_types FROM pc
)
SELECT p.w1, p.w2, p.c_big, l.c_left, l.n1f, r.n1r,
       round((greatest(p.c_big - {_KN_D}, 0.0)
              + {_KN_D} * l.n1f * (r.n1r * 1.0 / t.n_types)) / l.c_left,
             6) AS p_kn
FROM pc p
JOIN left_dim l USING (w1)
JOIN right_dim r USING (w2)
CROSS JOIN tot t
WHERE p.c_big >= 2
"""


@register("bigram_kneser_ney", oracle=_KN_ORACLE)
def bigram_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram model over the corpus's own
    counts — the production-grade smoothing (Chen & Goodman 1999) whose
    continuation probability N1+(*,w2)/N is what separates it from
    `bigram_logprob`'s add-1 baseline: a word that appears often but
    only after one context ("Francisco") gets the low continuation
    mass it deserves.

    Scale design: statistics live on the bigram TYPE table (one row
    per distinct pair — the model, not the corpus), built by one
    map-side-combinable groupBy over the pair stream; the left/right
    dims reduce from the type table (vocabulary-sized) and join back
    on their own keys as plain shuffle joins — nothing corpus-sized
    shuffles twice, nothing vocabulary-sized broadcasts (at 100 TB the
    vocab is ~1e8 types; key-partitioned joins, not broadcasts). The
    type total is a 1-row broadcast. The probability uses only
    + - * / over BIGINTs and the exactly-representable d=0.75, so the
    fixed expression tree is bit-identical across engines."""
    docs = load_docs(spark, sf_dir)
    toks = docs.select(T.tokens(F.col("text")).alias("t"))
    n = F.size("t")
    pc = (
        toks.select(
            F.explode(
                F.zip_with(
                    F.slice(F.col("t"), 1, F.greatest(n - 1, F.lit(0))),
                    F.slice(F.col("t"), 2, F.greatest(n - 1, F.lit(0))),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("bigint").alias("c_big"))
    )
    left_dim = pc.groupBy("w1").agg(
        F.sum("c_big").cast("bigint").alias("c_left"),
        F.count("*").cast("bigint").alias("n1f"),
    )
    right_dim = pc.groupBy("w2").agg(
        F.count("*").cast("bigint").alias("n1r")
    )
    tot = pc.agg(F.count("*").cast("bigint").alias("n_types"))
    return (
        pc.where(F.col("c_big") >= 2)
        .join(left_dim, "w1")
        .join(right_dim, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c_big",
            "c_left",
            "n1f",
            "n1r",
            F.round(
                (
                    F.greatest(F.col("c_big") - F.lit(_KN_D), F.lit(0.0))
                    + F.lit(_KN_D)
                    * F.col("n1f")
                    * (F.col("n1r") * F.lit(1.0) / F.col("n_types"))
                )
                / F.col("c_left"),
                6,
            ).alias("p_kn"),
        )
    )


# --------------------------------------------------------------------------
# 148. split_leakage — near-dup pairs that cross a train/test boundary
# --------------------------------------------------------------------------
# The audit `corpus_split_counts` makes possible and `decontaminate`
# doesn't cover: two NEAR-duplicate documents landing in different
# splits leak training signal into evaluation even though neither text
# matches an eval benchmark. Pair discovery reuses the exact jaccard
# operator (identical pair set, identical threshold); the split labels
# are the same stable hash-bucket assignment as corpus_split_counts.
_LEAKAGE_ORACLE = f"""
WITH pairs AS (
    {_JACCARD_ORACLE}
), labeled AS (
    SELECT doc_id,
           CASE WHEN {_bucket_duck('doc_id', 'split')} < 800 THEN 'train'
                WHEN {_bucket_duck('doc_id', 'split')} < 900 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
)
SELECT p.doc_a, p.doc_b, p.jaccard,
       la.split AS split_a, lb.split AS split_b
FROM pairs p
JOIN labeled la ON la.doc_id = p.doc_a
JOIN labeled lb ON lb.doc_id = p.doc_b
WHERE la.split <> lb.split
"""


@register("split_leakage", oracle=_LEAKAGE_ORACLE)
def split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs whose members landed in DIFFERENT splits —
    the train/test leakage a benchmark-decontamination pass cannot see
    (neither document matches an eval set; they match each other).
    Run before any training job that trusts the split boundary.

    Scale design: pair discovery IS `dedup_ngram_jaccard`
    (operators/dedup.py:ngram_jaccard_pairs — prefix-filtered exact
    PPJoin, corpus-size-gated join hints); this query adds only two
    joins against the doc->split label table, which is a narrow
    per-row hash expression (no shuffle to build). The pair table is
    near-dup-sized, orders of magnitude below the corpus, so the label
    joins are cheap key joins; at 100 TB nothing here adds a
    corpus-sized shuffle beyond the dedup operator itself."""
    docs = load_docs(spark, sf_dir)
    labels = assign_split(docs).select("doc_id", "split")
    pairs = D.ngram_jaccard_pairs(docs)
    la = labels.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    lb = labels.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    return (
        pairs.join(la, "doc_a")
        .join(lb, "doc_b")
        .where(F.col("split_a") != F.col("split_b"))
        .select("doc_a", "doc_b", "jaccard", "split_a", "split_b")
    )


# --------------------------------------------------------------------------
# 149. bpe_merge_rounds — unrolled BPE tokenizer-training merge loop
# --------------------------------------------------------------------------
# `bpe_pair_counts` measures ONE round's pair statistics; training a
# tokenizer ITERATES: count adjacent symbol pairs, merge the most
# frequent pair corpus-wide, recount under the merged vocabulary
# (Sennrich et al. 2016). Three rounds unrolled as a pure DataFrame
# program — each round is (pair count -> 1-row argmax broadcast ->
# in-codegen left-to-right fold that applies the merge) with no driver
# collect, so the loop ships to a cluster unchanged. Words segment to
# characters first (word-internal BPE, the standard formulation; a
# space never merges across words).
_BPE_ROUNDS = 3


def _duck_chars(col: str) -> str:
    # word -> 1-char list, lowercased upstream by the tokenizer
    return f"[{col}[i] FOR i IN range(1, len({col}) + 1)]"


def _duck_apply(sym: str) -> str:
    """Left-to-right greedy merge fold: list_reduce over the symbol
    list (as list-of-lists so the accumulator is a list), replacing
    [.., a, b] with [.., ab] whenever (a, b) is the round's pair —
    which arrives as plain row columns ``ma``/``mb`` (DuckDB forbids
    subqueries inside lambdas, so the 1-row argmax CROSS JOINs in).
    DuckDB slices are 1-based INCLUSIVE, so 'drop last' is
    [1:len-1]; single-symbol words skip the lambda entirely
    (list_reduce starts at the first element)."""
    return f"""
    CASE WHEN len({sym}) <= 1 THEN {sym}
    ELSE list_reduce(list_transform({sym}, x -> [x]),
      (acc, x) -> CASE WHEN acc[-1] = ma AND x[1] = mb
                  THEN acc[1:len(acc)-1] || [acc[-1] || x[1]]
                  ELSE acc || x END)
    END
    """


def _duck_round(r: int) -> str:
    """CTEs for round r: pair counts from sym{r-1}, argmax, applied
    sym{r}."""
    prev = f"w{r - 1}"
    return f"""
p{r} AS (
    SELECT unnest([s[i] || chr(1) || s[i+1] FOR i IN range(1, len(s))]) AS pair
    FROM {prev} t(s)
), t{r} AS (
    SELECT {r} AS round, pair, CAST(count(*) AS BIGINT) AS cnt
    FROM p{r} GROUP BY 2 ORDER BY cnt DESC, pair ASC LIMIT 1
), w{r} AS (
    SELECT {_duck_apply('s')} AS s
    FROM {prev} t(s) CROSS JOIN (
        SELECT string_split(pair, chr(1))[1] AS ma,
               string_split(pair, chr(1))[2] AS mb
        FROM t{r}
    ) m{r}
)"""


_BPE_ORACLE = (
    f"""
WITH tok AS (
    SELECT w FROM (SELECT unnest({DUCK_TOKENS}) AS w FROM documents)
    WHERE w <> ''
), w0 AS (
    SELECT {_duck_chars('w')} AS s FROM tok
), """
    + ", ".join(_duck_round(r).strip() for r in range(1, _BPE_ROUNDS + 1))
    + f"""
SELECT round, string_split(pair, chr(1))[1] AS sym_a,
       string_split(pair, chr(1))[2] AS sym_b, cnt
FROM ({" UNION ALL ".join(f"SELECT * FROM t{r}" for r in range(1, _BPE_ROUNDS + 1))})
"""
)


def _spark_apply(sym: F.Column, pa: F.Column, pb: F.Column) -> F.Column:
    """Spark twin of _duck_apply: F.aggregate over the tail with the
    head as the initial accumulator (matching list_reduce's
    first-element start), replacing [.., a, b] with [.., ab]."""
    tail = F.slice(sym, 2, F.greatest(F.size(sym) - 1, F.lit(0)))
    merged = F.aggregate(
        tail,
        F.slice(sym, 1, 1),
        lambda acc, x: F.when(
            (F.element_at(acc, -1) == pa) & (x == pb),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(F.element_at(acc, -1), x)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )
    return F.when(F.size(sym) <= 1, sym).otherwise(merged)


@register("bpe_merge_rounds", oracle=_BPE_ORACLE)
def bpe_merge_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First three merge rules of a BPE tokenizer trained on the
    corpus (Sennrich et al. 2016): per round, the corpus-wide most
    frequent adjacent symbol pair (ties break lexicographically — a
    strict total order, so the learned rule is deterministic) and its
    count, with the merge applied before the next round counts.

    Scale design (r7 — train on the word TYPE table, the same trick
    wordpiece_vocab uses and every real BPE trainer ships): ONE
    corpus-sized shuffle total — the word-frequency groupBy — then
    every round is (vocab-sized weighted pair count -> 1-row argmax ->
    crossJoin broadcast -> codegen fold over vocab rows). Pair counts
    are SUM(word_count) over the type table, identical by arithmetic
    to COUNT(*) over the token stream (each word type contributes
    pair-occurrences x frequency), so the DuckDB oracle — deliberately
    written over the token stream as the semantic definition — hashes
    the same rules and counts. The type table persists in memory
    (vocab-sized; at 1e6 web-corpus types it is a few MB per executor)
    so the three rounds' fold chains re-derive symbols from the cached
    types, not from three corpus re-scans. Measured at mult=100
    (SCALING_M100_R7_bpe.json): 105.1s -> 4.3s (25x), exponent
    0.763 -> 0.134.
    No driver collect anywhere: the learned pair rides a 1-row
    broadcast, so 3 rounds or 30k run the same plan shape on a
    cluster. A real 30k-merge training run would hoist the argmax
    into a driver loop over this exact per-round plan — same physics,
    shorter lineage. Cache lifecycle is caller-owned (bench clears per
    query; loops must clearCache after materializing)."""
    docs = load_docs(spark, sf_dir)
    # the empty-token filter is load-bearing, not hygiene: tokens('')
    # is [''] by the tokenizer contract, and sequence(1, length(''))
    # is Spark's DESCENDING [1, 0] — an unfiltered empty word would
    # fabricate a ('', '') symbol pair the DuckDB twin (range -> [])
    # never sees
    wtypes = (
        docs.select(F.explode(T.tokens(F.col("text"))).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("wc"))
        .persist()
    )
    sym = wtypes.select(
        F.transform(
            F.sequence(F.lit(1), F.length("w")),
            lambda i: F.col("w").substr(i, F.lit(1)),
        ).alias("s"),
        "wc",
    )
    outs = []
    for r in range(1, _BPE_ROUNDS + 1):
        n = F.size("s")
        pairs = sym.select(
            F.explode(
                F.zip_with(
                    F.slice(F.col("s"), 1, F.greatest(n - 1, F.lit(0))),
                    F.slice(F.col("s"), 2, F.greatest(n - 1, F.lit(0))),
                    lambda a, b: F.struct(a.alias("pa"), b.alias("pb")),
                )
            ).alias("p"),
            "wc",
        ).select("p.pa", "p.pb", "wc")
        top = (
            pairs.groupBy("pa", "pb")
            .agg(F.sum("wc").cast("bigint").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "pa", "pb")
            .limit(1)
        )
        outs.append(
            top.select(
                F.lit(r).cast("int").alias("round"),
                F.col("pa").alias("sym_a"),
                F.col("pb").alias("sym_b"),
                "cnt",
            )
        )
        sym = sym.crossJoin(
            F.broadcast(
                top.select(
                    F.col("pa").alias("_ma"), F.col("pb").alias("_mb")
                )
            )
        ).select(
            _spark_apply(F.col("s"), F.col("_ma"), F.col("_mb")).alias("s"),
            "wc",
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


# --------------------------------------------------------------------------
# 185. token_coverage_curve — cumulative corpus coverage by vocab rank
# --------------------------------------------------------------------------
# The diagnostic every vocabulary/tokenizer decision starts from: what
# fraction of the token stream do the top-k word types cover? Coverage
# is emitted in exact millionths (cum * 1e6 div total — BIGINT, no
# float ratios in the hash), ranks break ties lexicographically, and
# the curve is truncated to the top 100 ranks (bounded output; the
# decision zone — real curves are read at 1e4-1e5 anyway via the same
# query with a higher cap).
_COVERAGE_TOP = 100

_COVERAGE_ORACLE = f"""
WITH tok AS (
    SELECT w FROM (SELECT unnest({DUCK_TOKENS}) AS w FROM documents)
    WHERE w <> ''
), types AS (
    SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1
), tot AS (
    SELECT CAST(sum(cnt) AS BIGINT) AS total FROM types
), ranked AS (
    SELECT w, cnt,
           CAST(row_number() OVER (ORDER BY cnt DESC, w ASC) AS BIGINT)
               AS rank,
           CAST(sum(cnt) OVER (ORDER BY cnt DESC, w ASC
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cnt
    FROM types
)
SELECT rank, w AS term, cnt, cum_cnt,
       CAST(cum_cnt * 1000000 // tot.total AS BIGINT)
           AS coverage_millionths
FROM ranked CROSS JOIN tot
WHERE rank <= {_COVERAGE_TOP}
"""


@register("token_coverage_curve", oracle=_COVERAGE_ORACLE)
def token_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative token-stream coverage by word-type rank, top 100
    ranks, coverage in exact BIGINT millionths. The curve that sizes
    vocabularies (where does coverage flatten?) and sanity-checks a
    corpus (a curve hitting 99% at rank 50 means boilerplate).

    Scale design: ONE corpus-sized shuffle (the type-count groupBy,
    map-side combinable); the ranking window then runs over the TYPE
    table (zipf-bounded vocab, not the token stream) and the 1-row
    total broadcasts. The single-partition window is over vocab rows
    truncated at rank 100 by the same monotone cum — production
    pre-filters types below a sampled rank-100 count bound the same
    way source_caps_sampled pre-drops, if the vocabulary itself is
    huge."""
    words = (
        load_docs(spark, sf_dir)
        .select(F.explode(T.tokens(F.col("text"))).alias("w"))
        .where(F.col("w") != "")
    )
    types = words.groupBy("w").agg(F.count("*").cast("bigint").alias("cnt"))
    tot = types.agg(F.sum("cnt").cast("bigint").alias("total"))
    w_r = Window.orderBy(F.col("cnt").desc(), F.col("w").asc())
    ranked = (
        types.withColumn("rank", F.row_number().over(w_r).cast("bigint"))
        .where(F.col("rank") <= _COVERAGE_TOP)
        .withColumn(
            "cum_cnt",
            F.sum("cnt")
            .over(w_r.rowsBetween(Window.unboundedPreceding, 0))
            .cast("bigint"),
        )
    )
    # BIGINT `div` (not `/` + cast): Spark truncates DOUBLE->BIGINT,
    # DuckDB rounds — integer division never meets the boundary
    return ranked.join(F.broadcast(tot)).select(
        "rank",
        F.col("w").alias("term"),
        "cnt",
        "cum_cnt",
        F.expr("cum_cnt * 1000000 div total")
        .cast("bigint")
        .alias("coverage_millionths"),
    )
