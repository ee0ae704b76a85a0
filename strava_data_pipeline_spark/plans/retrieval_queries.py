"""Retrieval-tier queries (SURVEY.md §2, r7 pack): BM25 lexical
scoring over the documents table and hybrid lexical+vector rank
fusion — the two queries a training-data pipeline runs when it turns
a curated corpus into a retrieval index (hard-negative mining, eval
harnesses, dedup-aware sampling all sit on exactly these shapes).

Float discipline (the tfidf_top_terms precedent): every per-term BM25
contribution is rounded to 6 decimals, per-document sums are rounded
again, and ALL ordering keys are (rounded score, id) — an ulp of ln()
or a different 3-term summation order can never reorder ranks across
engines. The fusion arm goes further and is exact BIGINT: reciprocal
ranks in micro-units, round(1e9/(60+rank)) — and no rank in 1..50
lands on a .5 boundary (2e9's divisors in [61,110] all give even
quotients), so the rounding is engine-independent by arithmetic, not
by luck.

No reference parity lines: beyond-reference operators per the task
brief (the reference is a Go activity CRUD service with no search
tier).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from strava_data_pipeline_spark.functions import text as T
from strava_data_pipeline_spark.operators import similarity as S
from strava_data_pipeline_spark.plans.registry import register
from strava_data_pipeline_spark.sources.catalog import load_table

# The benchmark query: three fixed corpus terms (the synthetic
# vocabulary is the same at every SF). k1/b are the classic BM25
# constants, written as the same decimal literals on both engines.
_QUERY_TERMS = ("hash", "scan", "window")
_K1_PLUS_1 = 2.2
_K1 = 1.2
_ONE_MINUS_B = 0.25
_B = 0.75

_DUCK_TOKS = r"string_split_regex(lower(trim(text)), '\s+')"

# Shared oracle CTE chain: per-doc token length, corpus stats, tf/df
# restricted to the query terms, rounded per-term contributions,
# rounded per-doc scores. Used by both queries so the two stay
# definitionally consistent.
_BM25_CTES = f"""
tokd AS (
    SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
), dl AS (
    SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM tokd
), stats AS (
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           sum(dl) * 1.0 / count(*) AS avgdl
    FROM dl
), tf AS (
    SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, unnest(toks) AS term FROM tokd)
    WHERE term IN ('hash', 'scan', 'window')
    GROUP BY 1, 2
), df AS (
    SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
), contrib AS (
    SELECT tf.doc_id, dl.dl,
           round(
             ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf * {_K1_PLUS_1} / (tf.tf + {_K1} *
                ({_ONE_MINUS_B} + {_B} * dl.dl / s.avgdl))), 6) AS c
    FROM tf
    JOIN df USING (term)
    JOIN dl USING (doc_id)
    CROSS JOIN stats s
), bm25 AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms, dl,
           round(sum(c), 6) AS score
    FROM contrib GROUP BY doc_id, dl
)"""


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BM25 score for the fixed query terms — the Spark
    twin of the ``bm25`` oracle CTE.

    Scale shape: ONE explode of the token stream, filtered to the
    query terms BEFORE any shuffle (post-explode rows for non-query
    terms never leave the scan stage), so the (doc, term) aggregate
    shuffles only |matches| rows. df is |terms| rows and the corpus
    stats are ONE row — both broadcast. dl rides the same doc-grain
    frame the explode came from; no second scan of the text column."""
    docs = load_table(spark, sf_dir, "documents")
    with_toks = docs.select(
        "doc_id", T.tokens(F.col("text")).alias("toks")
    )
    dl = with_toks.select(
        "doc_id", F.size("toks").cast("bigint").alias("dl")
    )
    stats = dl.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        (F.sum("dl") * F.lit(1.0) / F.count("*")).alias("avgdl"),
    )
    tf = (
        with_toks.select("doc_id", F.explode("toks").alias("term"))
        .where(F.col("term").isin(*_QUERY_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    contrib = (
        tf.join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .select(
            "doc_id",
            "dl",
            F.round(
                F.log(
                    F.lit(1)
                    + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                )
                * (
                    F.col("tf")
                    * F.lit(_K1_PLUS_1)
                    / (
                        F.col("tf")
                        + F.lit(_K1)
                        * (
                            F.lit(_ONE_MINUS_B)
                            + F.lit(_B) * F.col("dl") / F.col("avgdl")
                        )
                    )
                ),
                6,
            ).alias("c"),
        )
    )
    return contrib.groupBy("doc_id", "dl").agg(
        F.count("*").cast("bigint").alias("n_terms"),
        F.round(F.sum("c"), 6).alias("score"),
    )


# --------------------------------------------------------------------------
# 181. bm25_topk — lexical retrieval over the corpus
# --------------------------------------------------------------------------
_BM25_ORACLE = f"""
WITH {_BM25_CTES}
SELECT doc_id, n_terms, dl, score
FROM bm25
ORDER BY score DESC, doc_id ASC
LIMIT 20
"""


@register("bm25_topk", oracle=_BM25_ORACLE)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents by BM25 (k1=1.2, b=0.75, idf=ln(1+(N-df+0.5)/
    (df+0.5)) — the non-negative BM25+ idf) for the fixed three-term
    benchmark query. Per-term contributions and the per-doc sum are
    rounded to 6 decimals so the ranking key is cross-engine exact.

    Scale design: the token explode is filtered to the query terms
    before any exchange (at 100 TB only the matching (doc, term) rows
    shuffle — for a 3-term query that is a vanishing fraction of the
    token stream); df and the (N, avgdl) stats are broadcast
    one-row/three-row frames; the top-20 is TakeOrderedAndProject
    (orderBy + limit), never a global window."""
    return (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(20)
        .select("doc_id", "n_terms", "dl", "score")
    )


# --------------------------------------------------------------------------
# 182. hybrid_rank_fusion — reciprocal-rank fusion of BM25 + cosine arms
# --------------------------------------------------------------------------
_DIM = S.DIM
_VEC_COS = f"""
round(
  list_sum([q.qv[i] * c.v[i] FOR i IN range(1, {_DIM + 1})]) /
  (sqrt(list_sum([q.qv[i] * q.qv[i] FOR i IN range(1, {_DIM + 1})])) *
   sqrt(list_sum([c.v[i] * c.v[i] FOR i IN range(1, {_DIM + 1})]))), 6)
"""

_RRF_ORACLE = f"""
WITH {_BM25_CTES}, bm25_top AS (
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
                AS INT) AS bm25_rank
    FROM bm25
    ORDER BY score DESC, doc_id ASC
    LIMIT 50
), e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
), q AS (
    SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id = 0
), vec_scored AS (
    SELECT c.vec_id AS doc_id, {_VEC_COS} AS score
    FROM e c CROSS JOIN q WHERE q.query_id != c.vec_id
), vec_top AS (
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
                AS INT) AS vec_rank
    FROM vec_scored
    ORDER BY score DESC, doc_id ASC
    LIMIT 50
), fused AS (
    SELECT coalesce(b.doc_id, v.doc_id) AS doc_id,
           b.bm25_rank, v.vec_rank,
           coalesce(CAST(round(1e9 / (60 + b.bm25_rank), 0) AS BIGINT), 0)
           + coalesce(CAST(round(1e9 / (60 + v.vec_rank), 0) AS BIGINT), 0)
               AS rrf_micro
    FROM bm25_top b FULL OUTER JOIN vec_top v USING (doc_id)
)
SELECT doc_id, bm25_rank, vec_rank, rrf_micro
FROM fused
ORDER BY rrf_micro DESC, doc_id ASC
LIMIT 20
"""


@register("hybrid_rank_fusion", oracle=_RRF_ORACLE)
def hybrid_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: reciprocal-rank fusion (k=60) of the BM25 arm
    (fixed three-term query, top-50) and the dense arm (exact cosine
    against query vector vec_id=0 via the shared
    operators/similarity.ann_topk_bruteforce, top-50; at index scale
    the IVF/LSH variants swap in — same rank contract). Fused score is
    exact BIGINT micro-units, round(1e9/(60+rank)) per arm, so the
    fusion is engine-independent integer arithmetic; a doc missing
    from one arm contributes 0 from it (standard RRF over truncated
    lists).

    Scale design: each arm reduces to a bounded top-50 BEFORE fusion
    (TakeOrderedAndProject on the BM25 side, the per-query ranked
    window on the dense side), so the rank windows and the full-outer
    fusion join only ever see 50-row frames — the unbounded corpus
    never meets a global window. doc_id and vec_id are the testdata's
    1:1 row identity (TESTDATA.md)."""
    bm25_top = (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(50)
        .withColumn(
            "bm25_rank",
            F.row_number()
            .over(
                Window.orderBy(
                    F.col("score").desc(), F.col("doc_id").asc()
                )
            )
            .cast("int"),
        )
        .select("doc_id", "bm25_rank")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    vec_top = S.ann_topk_bruteforce(
        emb, emb.where(F.col("vec_id") == 0), k=50
    ).select(
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("vec_rank"),
    )
    micro = lambda r: F.coalesce(  # noqa: E731
        F.round(F.lit(1e9) / (F.lit(60) + r), 0).cast("bigint"), F.lit(0)
    )
    fused = (
        bm25_top.join(vec_top, "doc_id", "full_outer")
        .select(
            "doc_id",
            "bm25_rank",
            "vec_rank",
            (micro(F.col("bm25_rank")) + micro(F.col("vec_rank"))).alias(
                "rrf_micro"
            ),
        )
    )
    return fused.orderBy(
        F.col("rrf_micro").desc(), F.col("doc_id").asc()
    ).limit(20)


# --------------------------------------------------------------------------
# 187. retrieval_rank_agreement — do the two arms agree, and where?
# --------------------------------------------------------------------------
# The audit a hybrid-retrieval pipeline runs before trusting fusion:
# set overlap of the two arms' top-k lists and the exact Kendall
# concordant/discordant pair counts over the COMMON ids (both ranks
# known). Everything is exact BIGINT: overlaps are set counts, and
# Kendall pairs are counted over the bounded intersection (<= 50 ids
# -> <= 1225 pairs), so no float correlation ever crosses engines.
_AGREE_ORACLE = f"""
WITH {_BM25_CTES}, bm25_top AS (
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
                AS INT) AS r_bm
    FROM bm25
    ORDER BY score DESC, doc_id ASC
    LIMIT 50
), e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
), q AS (
    SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id = 0
), vec_scored AS (
    SELECT c.vec_id AS doc_id, {_VEC_COS} AS score
    FROM e c CROSS JOIN q WHERE q.query_id != c.vec_id
), vec_top AS (
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
                AS INT) AS r_vec
    FROM vec_scored
    ORDER BY score DESC, doc_id ASC
    LIMIT 50
), common AS (
    SELECT b.doc_id, b.r_bm, v.r_vec
    FROM bm25_top b JOIN vec_top v USING (doc_id)
), pairs AS (
    SELECT CASE WHEN (a.r_bm - b.r_bm) * (a.r_vec - b.r_vec) > 0
                THEN 1 ELSE 0 END AS conc
    FROM common a JOIN common b ON a.doc_id < b.doc_id
), ov AS (
    SELECT CAST(count(*) AS BIGINT) AS n_common,
           CAST(coalesce(sum(CASE WHEN r_bm <= 10 AND r_vec <= 10
                                  THEN 1 END), 0) AS BIGINT) AS overlap_at_10
    FROM common
)
SELECT ov.n_common, ov.overlap_at_10,
       CAST(coalesce(sum(conc), 0) AS BIGINT) AS concordant,
       CAST(coalesce(sum(1 - conc), 0) AS BIGINT) AS discordant
FROM ov LEFT JOIN pairs ON true
GROUP BY 1, 2
"""


@register("retrieval_rank_agreement", oracle=_AGREE_ORACLE)
def retrieval_rank_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row agreement audit between the lexical and dense arms:
    |top-50 intersection|, |top-10 intersection|, and exact Kendall
    concordant/discordant pair counts over the common ids (no ties
    possible — row_number ranks are strict). Consumers derive tau as
    (C-D)/(n(n-1)/2); the query itself stays in exact BIGINT so the
    hash contract never meets a float correlation.

    Scale design: both arms truncate to top-50 BEFORE anything else
    (same bounded-arm discipline as hybrid_rank_fusion), so the
    intersection join and the <=1225-row Kendall pair join run on
    constant-size frames whatever the corpus size."""
    bm25_top = (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(50)
        .withColumn(
            "r_bm",
            F.row_number()
            .over(Window.orderBy(F.col("score").desc(), F.col("doc_id").asc()))
            .cast("int"),
        )
        .select("doc_id", "r_bm")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    vec_top = S.ann_topk_bruteforce(
        emb, emb.where(F.col("vec_id") == 0), k=50
    ).select(F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("r_vec"))
    common = bm25_top.join(vec_top, "doc_id")
    a, b = common.alias("a"), common.alias("b")
    # inequality-only self-join on a <=50-row frame: broadcast one
    # side so it plans as a (bounded) BroadcastNestedLoopJoin, not a
    # CartesianProduct the plan gate rightly bans
    pairs = a.join(
        F.broadcast(b), F.col("a.doc_id") < F.col("b.doc_id")
    ).select(
        F.when(
            (F.col("a.r_bm") - F.col("b.r_bm"))
            * (F.col("a.r_vec") - F.col("b.r_vec"))
            > 0,
            1,
        )
        .otherwise(0)
        .alias("conc")
    )
    ov = common.agg(
        F.count("*").cast("bigint").alias("n_common"),
        F.coalesce(
            F.sum(
                F.when((F.col("r_bm") <= 10) & (F.col("r_vec") <= 10), 1)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("overlap_at_10"),
    )
    kd = pairs.agg(
        F.coalesce(F.sum("conc"), F.lit(0)).cast("bigint").alias("concordant"),
        F.coalesce(F.sum(F.lit(1) - F.col("conc")), F.lit(0))
        .cast("bigint")
        .alias("discordant"),
    )
    return ov.crossJoin(F.broadcast(kd))
