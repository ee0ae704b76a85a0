"""Corpus-mining queries (SURVEY.md §2c, r5 continuation, rows 135-139):
co-occurrence statistics for embedding training, an n-gram LM fluency
score, product quantization for ANN memory compression, and two index
health audits (IVF list balance, simhash sketch error).

Same determinism discipline as the curation pack: portable md5-prefix
hashing, integer micro-unit arithmetic wherever doubles would
accumulate in partition order, and any final double math expressed as
ONE fixed scalar expression tree rounded at an agreed precision so
both engines compute it identically.

No reference parity lines: the reference (a Go activity service) has no
corpus tier; these are the beyond-reference operators the task brief
makes first-class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from strava_data_pipeline_spark.functions import text as T
from strava_data_pipeline_spark.functions import vectors as V
from strava_data_pipeline_spark.functions.hashing import md5_u32, md5_u32_duckdb
from strava_data_pipeline_spark.operators import dedup as D
from strava_data_pipeline_spark.operators import similarity as S
from strava_data_pipeline_spark.operators.skew import spread_small_scan
from strava_data_pipeline_spark.plans.prelude import DUCK_TOKENS, load_docs
from strava_data_pipeline_spark.plans.registry import register
from strava_data_pipeline_spark.sources.catalog import load_table

# Pair separator for (w1, w2) skip-gram keys. chr(1) cannot appear in a
# whitespace token, so the join/split round-trip is unambiguous.
_SEP = "\x01"


def _pair_arrays(t) -> F.Column:
    """All distance-1 and distance-2 ordered skip-gram pairs of a token
    array as ``w1<SEP>w2`` strings — generated INSIDE codegen by zipping
    the array against its own shifted slices (zero joins, zero
    shuffles; the classic posexplode-self-join pair build shuffles the
    corpus token table twice and dies first at scale)."""
    n = F.size(t)
    d1 = F.zip_with(
        F.slice(t, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(t, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat_ws(_SEP, a, b),
    )
    d2 = F.zip_with(
        F.slice(t, 1, F.greatest(n - 2, F.lit(0))),
        F.slice(t, 3, F.greatest(n - 2, F.lit(0))),
        lambda a, b: F.concat_ws(_SEP, a, b),
    )
    return F.concat(d1, d2)


# DuckDB twin of _pair_arrays: list comprehensions over the token list.
# range(1, n) is empty when n <= 1, so short docs contribute nothing —
# matching F.slice with a greatest(0) length guard.
_DUCK_PAIRS = (
    f"[t[i] || chr(1) || t[i+1] FOR i IN range(1, len(t))] || "
    f"[t[i] || chr(1) || t[i+2] FOR i IN range(1, len(t) - 1)]"
)


# --------------------------------------------------------------------------
# 135. skipgram_pmi — co-occurrence statistics for embedding training
# --------------------------------------------------------------------------
# The word2vec/GloVe preprocessing pass: corpus-wide skip-gram pair
# counts (window 2, ordered) with pointwise mutual information against
# the unigram distribution. PMI's log runs over EXACT integer counts in
# one fixed expression tree — ln(c12)+2·ln(N)−ln(P)−ln(c1)−ln(c2) —
# then rounds at 4dp, the unigram_logprob cross-engine discipline.
_PMI_ORACLE = f"""
WITH d AS (
    SELECT doc_id, {DUCK_TOKENS} AS t FROM documents
), pr AS (
    SELECT unnest({_DUCK_PAIRS}) AS pair FROM d
), pc AS (
    SELECT pair, CAST(count(*) AS BIGINT) AS n_pair FROM pr GROUP BY 1
), tok AS (
    SELECT unnest(t) AS term FROM d
), uc AS (
    SELECT term, CAST(count(*) AS BIGINT) AS n_term FROM tok GROUP BY 1
), tot AS (
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM tok) AS n_tok,
           (SELECT CAST(sum(n_pair) AS BIGINT) FROM pc) AS p_total
)
SELECT string_split(pc.pair, chr(1))[1] AS w1,
       string_split(pc.pair, chr(1))[2] AS w2,
       pc.n_pair AS n_pairs,
       round(ln(pc.n_pair) + 2 * ln(tot.n_tok) - ln(tot.p_total)
             - ln(u1.n_term) - ln(u2.n_term), 4) AS pmi
FROM pc
JOIN uc u1 ON u1.term = string_split(pc.pair, chr(1))[1]
JOIN uc u2 ON u2.term = string_split(pc.pair, chr(1))[2]
CROSS JOIN tot
ORDER BY pc.n_pair DESC, w1, w2
LIMIT 50
"""


@register("skipgram_pmi", oracle=_PMI_ORACLE)
def skipgram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 skip-gram pairs (window 2) with PMI — the co-occurrence
    table embedding training (word2vec/GloVe) consumes.

    Scale shape: pairs generate inside codegen from each doc's own
    token array (zip-against-shifted-slice, no self-join), so the only
    shuffles are the two map-side-combined groupBys — pair counts
    (vocab²-bounded, zipf-concentrated) and unigram counts
    (vocab-bounded). The unigram dim joins back onto the PAIR COUNT
    table (vocab² rows max), never the corpus; N and P are a broadcast
    1-row aggregate. Top-50 is TakeOrderedAndProject — no global sort.
    PMI evaluates one fixed ln-expression tree over exact BIGINT
    counts, rounded 4dp (cross-engine contract)."""
    docs = load_docs(spark, sf_dir)
    toks = docs.select(T.tokens(F.col("text")).alias("t"))
    pairs = toks.select(F.explode(_pair_arrays(F.col("t"))).alias("pair"))
    pc = pairs.groupBy("pair").agg(F.count("*").cast("bigint").alias("n_pair"))
    tok = toks.select(F.explode("t").alias("term"))
    uc = tok.groupBy("term").agg(F.count("*").cast("bigint").alias("n_term"))
    # N and P re-aggregate the already-reduced dims (vocab / vocab²
    # rows), NOT the corpus: both lineages end in the same exchange as
    # the main branch, so AQE's ReusedExchange makes each corpus explode
    # run ONCE (a tok.agg(count) total would re-scan and re-explode the
    # whole corpus just to count it)
    tot = pc.agg(F.sum("n_pair").cast("bigint").alias("p_total")).crossJoin(
        uc.agg(F.sum("n_term").cast("bigint").alias("n_tok"))
    )
    u1 = uc.select(F.col("term").alias("w1"), F.col("n_term").alias("c1"))
    u2 = uc.select(F.col("term").alias("w2"), F.col("n_term").alias("c2"))
    split = F.split(F.col("pair"), _SEP)
    return (
        pc.select(
            split.getItem(0).alias("w1"),
            split.getItem(1).alias("w2"),
            F.col("n_pair").alias("n_pairs"),
        )
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "n_pairs",
            F.round(
                F.log("n_pairs")
                + F.lit(2) * F.log("n_tok")
                - F.log("p_total")
                - F.log("c1")
                - F.log("c2"),
                4,
            ).alias("pmi"),
        )
        .orderBy(F.col("n_pairs").desc(), "w1", "w2")
        .limit(50)
    )


# --------------------------------------------------------------------------
# 136. bigram_logprob — n-gram LM fluency score (the unigram_logprob
# upgrade: context-conditional probabilities)
# --------------------------------------------------------------------------
# Add-1 smoothed bigram model under the corpus's own counts:
# p(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V), V = distinct vocabulary.
# c(w1) is the plain unigram occurrence count (the last token of a doc
# has no successor but still counts as context mass — a defined,
# engine-identical convention; a trained KenLM table swaps in as the
# same broadcast dim). Per-doc mean log-prob rounds at 4dp.
_BIGRAM_ORACLE = f"""
WITH d AS (
    SELECT doc_id, {DUCK_TOKENS} AS t FROM documents
), bg AS (
    SELECT doc_id,
           unnest([t[i] || chr(1) || t[i+1] FOR i IN range(1, len(t))]) AS pair
    FROM d
), pc AS (
    SELECT pair, CAST(count(*) AS BIGINT) AS n_pair FROM bg GROUP BY 1
), tok AS (
    SELECT unnest(t) AS term FROM d
), uc AS (
    SELECT term, CAST(count(*) AS BIGINT) AS n_term FROM tok GROUP BY 1
), v AS (
    SELECT CAST(count(*) AS BIGINT) AS vocab FROM uc
)
SELECT b.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(sum(ln((pc.n_pair + 1) * 1.0 / (uc.n_term + v.vocab)))
             / count(*), 4) AS avg_logprob
FROM bg b
JOIN pc ON pc.pair = b.pair
JOIN uc ON uc.term = string_split(b.pair, chr(1))[1]
CROSS JOIN v
GROUP BY 1
"""


@register("bigram_logprob", oracle=_BIGRAM_ORACLE)
def bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean add-1-smoothed bigram log-probability per doc — the
    context-aware fluency score between unigram_logprob and a real
    KenLM perplexity filter (the trained model swaps in as the same
    broadcast (pair → count) dim; the plan is identical).

    One doc scan generates adjacent pairs in codegen; the pair dim
    (vocab²-bounded) and unigram dim (vocab-bounded) broadcast back
    onto the pair stream; vocabulary size is a 1-row broadcast. The
    per-doc rollup is the only corpus-sized shuffle. Every occurrence
    counts (fluency, not set overlap) — no distinct anywhere."""
    docs = load_docs(spark, sf_dir)
    toks = docs.select("doc_id", T.tokens(F.col("text")).alias("t"))
    n = F.size("t")
    bg = toks.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(F.col("t"), 1, F.greatest(n - 1, F.lit(0))),
                F.slice(F.col("t"), 2, F.greatest(n - 1, F.lit(0))),
                lambda a, b: F.concat_ws(_SEP, a, b),
            )
        ).alias("pair"),
    )
    pc = bg.groupBy("pair").agg(F.count("*").cast("bigint").alias("n_pair"))
    tok = toks.select(F.explode("t").alias("term"))
    uc = tok.groupBy("term").agg(F.count("*").cast("bigint").alias("n_term"))
    v = uc.agg(F.count("*").cast("bigint").alias("vocab"))
    w1 = F.split(F.col("pair"), _SEP).getItem(0)
    return (
        bg.join(F.broadcast(pc), "pair")
        .join(F.broadcast(uc.withColumnRenamed("term", "_w1")), w1 == F.col("_w1"))
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.round(
                F.sum(
                    F.log(
                        (F.col("n_pair") + 1)
                        * F.lit(1.0)
                        / (F.col("n_term") + F.col("vocab"))
                    )
                )
                / F.count("*"),
                4,
            ).alias("avg_logprob"),
        )
    )


# --------------------------------------------------------------------------
# 137. ann_pq — product quantization codes (ANN memory compression)
# --------------------------------------------------------------------------
# The IVF-PQ storage path (Jégou et al. 2011, "Product Quantization for
# Nearest Neighbor Search"): the 64-dim vector splits into M=4
# 16-dim subspaces; each subvector is coded as its nearest of K=8
# codebook entries, so a vector stores as M small codes instead of 64
# floats (here 4 codes ≈ 12 bits vs 256 bytes — the compression that
# lets a 100 TB corpus's index fit in executor memory). Codebooks are
# deterministic seeds (vec_id < K subvectors, the kmeans_lloyd seed
# discipline) so the oracle rebuilds the identical index; production
# swaps in per-subspace KMeans codebooks, same plan. Coordinates
# quantize to exact BIGINT micro-units so every distance is an exact
# integer (≤ 16·(2e6)² ≈ 6.4e13 per subspace) and argmin ties break on
# the code id — bit-identical cross-engine.
_PQ_M, _PQ_SUB, _PQ_K = 4, 16, 8

_PQ_ORACLE = f"""
WITH q AS (
    SELECT vec_id,
           [CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
            FOR i IN range(1, 65)] AS qv
    FROM embeddings
), s AS (
    SELECT vec_id AS code, qv AS sv FROM q WHERE vec_id < {_PQ_K}
), d AS (
    SELECT q.vec_id, m.m, s.code,
           list_sum([(q.qv[m.m * {_PQ_SUB} + i] - s.sv[m.m * {_PQ_SUB} + i])
                     * (q.qv[m.m * {_PQ_SUB} + i] - s.sv[m.m * {_PQ_SUB} + i])
                     FOR i IN range(1, {_PQ_SUB} + 1)]) AS dist2
    FROM q CROSS JOIN s, unnest(range(0, {_PQ_M})) AS m(m)
), a AS (
    SELECT vec_id, m, code, dist2 FROM (
        SELECT vec_id, m, code, dist2,
               row_number() OVER (PARTITION BY vec_id, m
                                  ORDER BY dist2, code) AS rn
        FROM d
    ) WHERE rn = 1
)
SELECT vec_id,
       array_to_string(list(code ORDER BY m), ',') AS codes,
       CAST(sum(dist2) AS BIGINT) AS err_micro2
FROM a GROUP BY 1
"""


@register("ann_pq", oracle=_PQ_ORACLE)
def ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes + reconstruction error per vector:
    M=4 subspaces × 16 dims, K=8 codebook entries.

    Scale shape: the K codebook subvectors fold in as ONE broadcast
    1-row array; per corpus row each subspace does K exact-BIGINT
    distance folds inside whole-stage codegen and takes ``array_min``
    over (dist2, code) structs — the kmeans_lloyd argmin idiom, zero
    row expansion, ZERO shuffles end-to-end (the output is a pure
    projection of the scan). The N×(M·K) join+window alternative
    shuffles the whole corpus carrying full vectors — the shape that
    dies first when K grows to the paper's 256."""
    e = load_table(spark, sf_dir, "embeddings")
    q = spread_small_scan(e).select(
        "vec_id",
        F.transform(
            V.as_double(F.col("embedding")),
            lambda x: F.floor(x * F.lit(1000000.0) + F.lit(0.5)).cast("bigint"),
        ).alias("qv"),
    )
    seeds = q.where(F.col("vec_id") < _PQ_K).select(
        F.col("vec_id").alias("code"), F.col("qv").alias("sv")
    )
    seed_arr = seeds.agg(F.collect_list(F.struct("code", "sv")).alias("cb"))

    def best(m: int) -> F.Column:
        sub = F.slice(F.col("qv"), m * _PQ_SUB + 1, _PQ_SUB)
        return F.array_min(
            F.transform(
                F.col("cb"),
                lambda c: F.struct(
                    F.aggregate(
                        F.zip_with(
                            sub,
                            F.slice(c["sv"], m * _PQ_SUB + 1, _PQ_SUB),
                            lambda a, b: (a - b) * (a - b),
                        ),
                        F.lit(0).cast("bigint"),
                        lambda acc, x: acc + x,
                    ).alias("dist2"),
                    c["code"].alias("code"),
                ),
            )
        )

    bests = [best(m) for m in range(_PQ_M)]
    err = bests[0]["dist2"]
    for b in bests[1:]:
        err = err + b["dist2"]
    return q.crossJoin(F.broadcast(seed_arr)).select(
        "vec_id",
        F.concat_ws(",", *[b["code"].cast("string") for b in bests]).alias("codes"),
        err.cast("bigint").alias("err_micro2"),
    )


# --------------------------------------------------------------------------
# 138. ivf_balance — inverted-list balance audit for the IVF index
# --------------------------------------------------------------------------
# The operational health check behind ann_ivf: list-size histogram +
# each list's share of the corpus. A skewed assignment (one list
# holding half the vectors) silently turns every probe of that list
# into a near-full scan — this is the query a pipeline runs after each
# index build to decide whether the centroids need retraining. Shares
# compare against the ideal 1/n_centroids via exact integer
# cross-multiplication (n_vecs · n_centroids > 2 · total ⇔ share >
# 2× ideal), no float thresholds.
_IVF_BALANCE_ORACLE = f"""
WITH e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
), cent AS (
    SELECT vec_id AS cid, v AS centv FROM e WHERE vec_id < 16
), ca AS (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                ORDER BY ccos DESC, cid ASC) AS crank
    FROM (
        SELECT e.vec_id, c.cid,
               round(
                 ({" + ".join(f"e.v[{i}] * c.centv[{i}]" for i in range(1, 65))}) /
                 (sqrt({" + ".join(f"e.v[{i}] * e.v[{i}]" for i in range(1, 65))})
                  * sqrt({" + ".join(f"c.centv[{i}] * c.centv[{i}]" for i in range(1, 65))})),
                 6) AS ccos
        FROM e CROSS JOIN cent c
    )
), lists AS (
    SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs
    FROM ca WHERE crank = 1 GROUP BY 1
), tot AS (
    SELECT CAST(sum(n_vecs) AS BIGINT) AS total FROM lists
)
SELECT l.cid, l.n_vecs,
       round(l.n_vecs * 1.0 / t.total, 6) AS share,
       l.n_vecs * 16 > 2 * t.total AS hot
FROM lists l CROSS JOIN tot t
"""


@register("ivf_balance", oracle=_IVF_BALANCE_ORACLE)
def ivf_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF inverted-list balance: per-list vector count, corpus share,
    and a hot flag (share > 2× the ideal 1/16, exact integer
    cross-multiply). Shares the assignment definition with ann_ivf
    (similarity.ivf_assignments) so the audit measures the REAL index.
    One corpus scan + one 16-row groupBy; the total is a broadcast
    1-row aggregate — the whole audit is O(corpus scan) with a
    16-row result regardless of scale."""
    emb = load_table(spark, sf_dir, "embeddings")
    lists = (
        S.ivf_assignments(emb, n_centroids=16)
        .groupBy("cid")
        .agg(F.count("*").cast("bigint").alias("n_vecs"))
    )
    tot = lists.agg(F.sum("n_vecs").cast("bigint").alias("total"))
    return lists.crossJoin(F.broadcast(tot)).select(
        "cid",
        "n_vecs",
        F.round(F.col("n_vecs") * F.lit(1.0) / F.col("total"), 6).alias("share"),
        (F.col("n_vecs") * 16 > 2 * F.col("total")).alias("hot"),
    )


# --------------------------------------------------------------------------
# 139. simhash_error_eval — sketch-quality audit of the simhash tier
# --------------------------------------------------------------------------
# The minhash_error_eval twin for the OTHER sketch family: every
# byte-band candidate pair (widened to hamming ≤ 5 so the audit sees
# the verdict boundary from both sides — past that the band-collision
# count grows exponentially and adds nothing to the curve) carries its
# hamming distance,
# bit-agreement fraction, and the exact hashed-3-shingle jaccard — the
# curve a curator reads to pick the hamming threshold before trusting
# dedup_simhash. Pairs past hamming 3 are the band-collision sample
# (the pigeonhole recall guarantee covers ≤ 3); both engines enumerate
# the identical candidate set, so the audit itself is oracle-exact.
def _simhash_eval_oracle() -> str:
    from strava_data_pipeline_spark.plans.llm_queries import _simhash_oracle

    gate = md5_u32_duckdb(
        "CAST(doc_a AS VARCHAR) || '#' || CAST(doc_b AS VARCHAR)"
    )
    return f"""
WITH sp0 AS ({_simhash_oracle(max_hamming=5)}
), sp AS (
    -- deterministic 25% audit sample of the candidate pairs (both
    -- engines draw the identical slice; mirrors the Spark md5 gate)
    SELECT * FROM sp0 WHERE {gate} % 4 = 0
), toks2 AS (
    SELECT doc_id, {DUCK_TOKENS} AS t FROM documents
), sh2 AS (
    SELECT DISTINCT doc_id, {md5_u32_duckdb('shingle')} AS x
    FROM (
        SELECT doc_id,
               unnest(list_distinct([array_to_string(t[i:i+2], ' ')
                      FOR i IN range(1, greatest(len(t) - 2, 0) + 1)])) AS shingle
        FROM toks2
    )
), gs AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh2 GROUP BY 1
), ix AS (
    SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) AS i
    FROM sp p
    JOIN sh2 a ON a.doc_id = p.doc_a
    JOIN sh2 b ON b.doc_id = p.doc_b AND b.x = a.x
    GROUP BY 1, 2
)
SELECT p.doc_a, p.doc_b, p.hamming,
       round(1.0 - p.hamming / 32.0, 4) AS bit_agreement,
       round(coalesce(ix.i, 0) * 1.0
             / (ga.n + gb.n - coalesce(ix.i, 0)), 4) AS exact_jaccard
FROM sp p
JOIN gs ga ON ga.doc_id = p.doc_a
JOIN gs gb ON gb.doc_id = p.doc_b
LEFT JOIN ix ON ix.doc_a = p.doc_a AND ix.doc_b = p.doc_b
"""


@register("simhash_error_eval", oracle=_simhash_eval_oracle())
def simhash_error_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simhash sketch-error audit: for every byte-band candidate pair
    within hamming ≤ 5, the hamming distance, the bit-agreement
    fraction (1 − h/32), and the exact jaccard over the two docs'
    hashed-shingle sets. The exact side touches ONLY a deterministic
    25% sample of band-emitted candidates (md5 pair gate, mirrored in
    the oracle) — a calibration curve needs a sample, not every pair,
    and the per-pair shingle intersection is the whole cost; the bound
    is O(candidates/4 × shingles/doc), never all pairs. At 100 TB the
    same gate widens or narrows the audit without changing the plan."""
    docs = load_table(spark, sf_dir, "documents")
    sh = D.simhash(docs)
    cand = D.simhash_pairs(sh, max_hamming=5).withColumn(
        "hamming", F.col("hamming").cast("int")
    )
    # Deterministic 25% audit sample BEFORE the exact-jaccard joins —
    # the expensive side is shingle-set intersection per pair, and an
    # audit needs a calibration curve, not every pair. Same md5 gate in
    # the oracle, so the sampled slice itself stays hash-checked.
    cand = cand.where(
        md5_u32(F.concat_ws("#", F.col("doc_a"), F.col("doc_b"))) % 4 == 0
    )
    shingles = (
        load_docs(spark, sf_dir)
        .select(
            "doc_id",
            F.explode(T.word_shingles(T.tokens(F.col("text")))).alias("_s"),
        )
        .select("doc_id", md5_u32(F.col("_s")).alias("x"))
        .distinct()
    )
    gs = shingles.groupBy("doc_id").agg(
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
    return (
        cand.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "hamming",
            F.round(F.lit(1.0) - F.col("hamming") / F.lit(32.0), 4).alias(
                "bit_agreement"
            ),
            F.round(
                inter * F.lit(1.0) / (F.col("n_a") + F.col("n_b") - inter), 4
            ).alias("exact_jaccard"),
        )
    )


# --------------------------------------------------------------------------
# 140. embedding_outliers — distance-to-own-centroid outlier flags
# --------------------------------------------------------------------------
# The embedding-space quality gate curation pipelines run on labeled or
# clustered corpora: a vector far from its own label's centroid is a
# likely mislabel / garbage-decode candidate. Exactness discipline =
# kmeans_lloyd's: micro-unit quantization up front, centroids re-
# quantized via one deterministic double division per (label, dim),
# distances exact BIGINT, and the outlier rule is an integer
# cross-multiplication (dist2 · n_label > 2 · Σdist2 ⇔ dist2 > 2×mean)
# so no float threshold ever compares.
_OUTLIER_ORACLE = """
WITH q AS (
    SELECT vec_id, label,
           [CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
            FOR i IN range(1, 65)] AS qv
    FROM embeddings
), c AS (
    SELECT label, i AS dim,
           CAST(floor(CAST(sum(qv[i]) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS cq
    FROM q, unnest(range(1, 65)) AS t(i)
    GROUP BY 1, 2
), cv AS (
    SELECT label, list(cq ORDER BY dim) AS cv FROM c GROUP BY 1
), d AS (
    SELECT q.vec_id, q.label,
           CAST(list_sum([(q.qv[i] - cv.cv[i]) * (q.qv[i] - cv.cv[i])
                          FOR i IN range(1, 65)]) AS BIGINT) AS dist2
    FROM q JOIN cv USING (label)
), s AS (
    SELECT label, CAST(sum(dist2) AS BIGINT) AS sd, CAST(count(*) AS BIGINT) AS n
    FROM d GROUP BY 1
)
SELECT d.vec_id, d.label, d.dist2,
       d.dist2 * s.n > 2 * s.sd AS is_outlier
FROM d JOIN s USING (label)
"""


@register("embedding_outliers", oracle=_OUTLIER_ORACLE)
def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector exact-BIGINT squared distance to its OWN label's
    centroid, flagged outlier when above 2× the label's mean (integer
    cross-multiply — no float threshold). Scale shape: one corpus scan
    feeds the (label, dim) centroid aggregate — map-side combined, so
    the exchange is L×64 rows per task regardless of corpus size — the
    L-row centroid dim broadcasts back for an equi-join, and the
    per-label moment aggregate is L rows again. Nothing wider than
    (vec_id, label, dist2) shuffles; the corpus never self-joins."""
    e = load_table(spark, sf_dir, "embeddings")
    q = spread_small_scan(e).select(
        "vec_id",
        "label",
        F.transform(
            V.as_double(F.col("embedding")),
            lambda x: F.floor(x * F.lit(1000000.0) + F.lit(0.5)).cast("bigint"),
        ).alias("qv"),
    )
    c_long = (
        q.select("label", F.posexplode("qv").alias("dim0", "qval"))
        .groupBy("label", (F.col("dim0") + 1).alias("dim"))
        .agg(
            F.floor(F.sum("qval").cast("double") / F.count("*") + F.lit(0.5))
            .cast("bigint")
            .alias("cq")
        )
    )
    cent = c_long.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "cq"))),
            lambda s: s["cq"],
        ).alias("cv")
    )
    dist2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    d = q.join(F.broadcast(cent), "label").select(
        "vec_id", "label", dist2.alias("dist2")
    )
    s = d.groupBy("label").agg(
        F.sum("dist2").cast("bigint").alias("sd"),
        F.count("*").cast("bigint").alias("n"),
    )
    return d.join(F.broadcast(s), "label").select(
        "vec_id",
        "label",
        "dist2",
        (F.col("dist2") * F.col("n") > 2 * F.col("sd")).alias("is_outlier"),
    )


# --------------------------------------------------------------------------
# 141. cluster_purity — clustering-vs-label agreement audit
# --------------------------------------------------------------------------
# The evaluation a pipeline runs after (re)building the IVF/kmeans
# index: assign every vector to its nearest seed centroid (the
# kmeans_lloyd round-1 assignment, bit-identical discipline) and
# cross-tabulate against the ground-truth labels — per-cluster majority
# label and purity. A collapsing purity is the retrain signal the
# ivf_balance histogram can't see (balanced lists can still be
# semantically scrambled).
_PURITY_ORACLE = f"""
WITH q AS (
    SELECT vec_id, label,
           [CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
            FOR i IN range(1, 65)] AS qv
    FROM embeddings
), c0 AS (
    SELECT vec_id AS cid, qv AS cv FROM q WHERE vec_id < 8
), d1 AS (
    SELECT q.vec_id, q.label, c0.cid,
           list_sum([(q.qv[i] - c0.cv[i]) * (q.qv[i] - c0.cv[i])
                     FOR i IN range(1, 65)]) AS dist2
    FROM q CROSS JOIN c0
), a1 AS (
    SELECT vec_id, label, cid FROM (
        SELECT vec_id, label, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
        FROM d1
    ) WHERE rn = 1
), cont AS (
    SELECT cid, label, CAST(count(*) AS BIGINT) AS n FROM a1 GROUP BY 1, 2
), maj AS (
    SELECT cid, label AS majority_label, n AS n_majority FROM (
        SELECT cid, label, n,
               row_number() OVER (PARTITION BY cid ORDER BY n DESC, label ASC)
                   AS rn
        FROM cont
    ) WHERE rn = 1
), tot AS (
    SELECT cid, CAST(sum(n) AS BIGINT) AS n_members FROM cont GROUP BY 1
)
SELECT t.cid, t.n_members, m.majority_label, m.n_majority,
       round(m.n_majority * 1.0 / t.n_members, 6) AS purity
FROM tot t JOIN maj m USING (cid)
"""


@register("cluster_purity", oracle=_PURITY_ORACLE)
def cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster size, majority ground-truth label, and purity under
    the kmeans seed assignment (vec_id < 8 centroids, exact-BIGINT
    argmin with min-cid ties — bit-identical to kmeans_lloyd's round
    1). The assignment folds ONE broadcast centroid array per corpus
    row (array_min over (dist2, cid) structs — zero row expansion); the
    contingency table is K×L rows, map-side combined, and every
    aggregate after it is dimension-sized. Majority ties break on the
    smaller label, mirrored by the oracle's row_number order."""
    from strava_data_pipeline_spark.plans.llm_queries import _nearest_cid

    e = load_table(spark, sf_dir, "embeddings")
    q = spread_small_scan(e).select(
        "vec_id",
        "label",
        F.transform(
            V.as_double(F.col("embedding")),
            lambda x: F.floor(x * F.lit(1000000.0) + F.lit(0.5)).cast("bigint"),
        ).alias("qv"),
    )
    cent = q.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("qv").alias("cv")
    )
    cent_arr = cent.agg(F.collect_list(F.struct("cid", "cv")).alias("cents"))
    assigned = q.crossJoin(F.broadcast(cent_arr)).select(
        "label", _nearest_cid("qv", "cents").alias("cid")
    )
    cont = assigned.groupBy("cid", "label").agg(
        F.count("*").cast("bigint").alias("n")
    )
    w = Window.partitionBy("cid").orderBy(F.col("n").desc(), F.col("label").asc())
    maj = (
        cont.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "cid",
            F.col("label").alias("majority_label"),
            F.col("n").alias("n_majority"),
        )
    )
    tot = cont.groupBy("cid").agg(F.sum("n").cast("bigint").alias("n_members"))
    return tot.join(maj, "cid").select(
        "cid",
        "n_members",
        "majority_label",
        "n_majority",
        F.round(F.col("n_majority") * F.lit(1.0) / F.col("n_members"), 6).alias(
            "purity"
        ),
    )


# --------------------------------------------------------------------------
# 142. ann_recall_eval — recall audit of the approximate ANN tiers
# --------------------------------------------------------------------------
# Third member of the sketch-audit family (minhash_error_eval,
# simhash_error_eval): per-query recall of the IVF (top-10) and LSH
# (top-5) paths against the exact brute-force ranking — the number a
# curator reads before trading the exact scan for the bucketed index.
# Both engines rebuild all three rankings independently, so the audit
# itself is oracle-exact end-to-end.
def _recall_oracle() -> str:
    from strava_data_pipeline_spark.plans.llm_queries import (
        _ANN_IVF_ORACLE,
        _ANN_ORACLE,
        _ann_lsh_oracle,
    )

    return f"""
WITH t AS ({_ANN_ORACLE}
), v AS ({_ANN_IVF_ORACLE}
), l AS ({_ann_lsh_oracle()}
), iv AS (
    SELECT t.query_id, CAST(count(*) AS BIGINT) AS h
    FROM t JOIN v ON v.query_id = t.query_id AND v.neighbor_id = t.neighbor_id
    GROUP BY 1
), ls AS (
    SELECT t.query_id, CAST(count(*) AS BIGINT) AS h
    FROM t JOIN l ON l.query_id = t.query_id AND l.neighbor_id = t.neighbor_id
    WHERE t.rank <= 5
    GROUP BY 1
), qs AS (
    SELECT DISTINCT query_id FROM t
)
SELECT qs.query_id,
       coalesce(iv.h, 0) AS ivf_hits,
       round(coalesce(iv.h, 0) / 10.0, 4) AS ivf_recall,
       coalesce(ls.h, 0) AS lsh_hits,
       round(coalesce(ls.h, 0) / 5.0, 4) AS lsh_recall
FROM qs
LEFT JOIN iv ON iv.query_id = qs.query_id
LEFT JOIN ls ON ls.query_id = qs.query_id
"""


@register("ann_recall_eval", oracle=_recall_oracle())
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 (IVF, 16 lists / 2 probes) and recall@5 (hyperplane
    LSH) against the exact brute-force ranking, per query vector. The
    truth set is |Q|·k rows (broadcast-sized by construction: Q is the
    query set, never the corpus), so the hit joins are broadcast
    equi-joins; each ranking pipeline keeps its own documented scale
    shape. At 100 TB this is the pre-flight check on a sampled query
    set before an index swap — the same composition, Q stays small."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 8)
    truth = S.ann_topk_bruteforce(emb, queries, k=10).select(
        "query_id", "neighbor_id", "rank"
    )
    ivf = S.ann_topk_ivf(emb, queries, k=10).select("query_id", "neighbor_id")
    lsh = S.ann_topk_lsh(emb, queries, k=5).select("query_id", "neighbor_id")
    iv = (
        truth.join(ivf, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").cast("bigint").alias("ivf_h"))
    )
    ls = (
        truth.where(F.col("rank") <= 5)
        .join(lsh, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").cast("bigint").alias("lsh_h"))
    )
    qs = truth.select("query_id").distinct()
    return (
        qs.join(iv, "query_id", "left")
        .join(ls, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("ivf_h", F.lit(0)).cast("bigint").alias("ivf_hits"),
            F.round(F.coalesce("ivf_h", F.lit(0)) / F.lit(10.0), 4).alias(
                "ivf_recall"
            ),
            F.coalesce("lsh_h", F.lit(0)).cast("bigint").alias("lsh_hits"),
            F.round(F.coalesce("lsh_h", F.lit(0)) / F.lit(5.0), 4).alias(
                "lsh_recall"
            ),
        )
    )


# --------------------------------------------------------------------------
# 209. cms_heavy_hitters — count-min sketch under an exact audit (r8)
# --------------------------------------------------------------------------
# The streaming-friendly heavy-hitter sketch (Cormode & Muthukrishnan
# 2005): D=4 hash rows x W=256 counters; a key's estimate is the MIN of
# its D counters, which can only OVERcount (collisions add, never
# subtract) — the one-sided error contract this audit proves per key.
# Counters are built from the per-key count table (counts are additive,
# so summing key counts into buckets is bit-identical to hashing every
# occurrence — and ships D x distinct-keys rows to the sketch instead
# of D x corpus). Everything is exact BIGINT: both engines materialize
# the identical sketch, so est/overcount hash exactly — the same
# sketch-under-exact-audit shape as minhash_error_eval/
# simhash_error_eval.
#
# 100 TB: one map-combined groupBy on the key (the same shuffle the
# exact count needs), then the sketch build + probe run on the key
# DIMENSION (distinct keys), never the corpus; the D-row explode is a
# codegen array, not a join.
_CMS_D = 4
_CMS_W = 256


def _cms_oracle() -> str:
    h = md5_u32_duckdb("'cms' || CAST(j AS VARCHAR) || '#' || CAST(user_id AS VARCHAR)")
    return f"""
WITH c AS (
    SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1
), hashes AS (
    SELECT user_id, cnt, j, {h} % {_CMS_W} AS b
    FROM c CROSS JOIN (SELECT unnest(range({_CMS_D})) AS j)
), counters AS (
    SELECT j, b, CAST(sum(cnt) AS BIGINT) AS v
    FROM hashes GROUP BY 1, 2
)
SELECT h.user_id,
       h.cnt AS exact_cnt,
       CAST(min(t.v) AS BIGINT) AS cms_est,
       CAST(min(t.v) - h.cnt AS BIGINT) AS overcount
FROM hashes h JOIN counters t USING (j, b)
GROUP BY h.user_id, h.cnt
"""


@register("cms_heavy_hitters", oracle=_cms_oracle())
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy hitters with a per-key exact audit:
    exact per-user counts (the baseline shuffle), a D x W BIGINT
    sketch built from the count table, and each key probed back
    through its D buckets — min counter = CMS estimate, estimate
    minus exact = the collision overcount (provably >= 0; a negative
    value anywhere is a sketch-build bug and a hash mismatch)."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    js = F.array(*[F.lit(j) for j in range(_CMS_D)])
    hashes = c.select(
        "user_id", "cnt", F.explode(js).alias("j")
    ).withColumn(
        "b",
        md5_u32(
            F.concat(
                F.lit("cms"),
                F.col("j").cast("string"),
                F.lit("#"),
                F.col("user_id").cast("string"),
            )
        )
        % _CMS_W,
    )
    counters = hashes.groupBy("j", "b").agg(
        F.sum("cnt").cast("bigint").alias("v")
    )
    return (
        hashes.join(counters, ["j", "b"])
        .groupBy("user_id", "cnt")
        .agg(F.min("v").cast("bigint").alias("cms_est"))
        .select(
            "user_id",
            F.col("cnt").alias("exact_cnt"),
            "cms_est",
            (F.col("cms_est") - F.col("cnt")).cast("bigint").alias("overcount"),
        )
    )


# --------------------------------------------------------------------------
# 223. ann_binary — sign-bit binary quantization + Hamming top-k (r10)
# --------------------------------------------------------------------------
# The memory-extreme end of the quantization spectrum next to ann_pq
# (the RaBitQ-family baseline the r9 verdict floated): each 64-dim
# float vector compresses to 64 SIGN BITS — a 256x size cut — and
# neighbor ranking is integer Hamming distance, xor + bit_count inside
# whole-stage codegen. Bits pack into TWO BIGINT words of 32 bits each
# on purpose: a single 64-bit word would need 1<<63, which overflows
# signed BIGINT on DuckDB and wraps negative on the JVM — the two-word
# layout keeps every intermediate portable-positive. All-integer
# end to end, so the oracle replays it exactly (no float-comparator
# tie hazard: ties break on neighbor_id). At 100 TB the plan is one
# corpus scan + an 8-row broadcast + TakeOrderedAndProject per query —
# the packed corpus (16 bytes/vector) is the index.
_BITS_LO = (
    "aggregate(sequence(0, 31), 0L, (acc, d) -> acc + "
    "IF(element_at(v, d + 1) > 0, shiftleft(1L, d), 0L))"
)
_BITS_HI = (
    "aggregate(sequence(32, 63), 0L, (acc, d) -> acc + "
    "IF(element_at(v, d + 1) > 0, shiftleft(1L, d - 32), 0L))"
)


def _duck_bits(lo: bool) -> str:
    rng = "range(0, 32)" if lo else "range(32, 64)"
    shift = "d" if lo else "d - 32"
    return (
        f"CAST(list_sum([CASE WHEN embedding[d + 1] > 0 "
        f"THEN (CAST(1 AS BIGINT) << ({shift})) ELSE 0 END "
        f"FOR d IN {rng}]) AS BIGINT)"
    )


_ANN_BINARY_ORACLE = f"""
WITH packed AS (
    SELECT vec_id,
           coalesce({_duck_bits(True)}, 0) AS lo,
           coalesce({_duck_bits(False)}, 0) AS hi
    FROM embeddings
), q AS (
    SELECT vec_id AS query_id, lo AS qlo, hi AS qhi
    FROM packed WHERE vec_id < 8
), scored AS (
    SELECT q.query_id, p.vec_id AS neighbor_id,
           CAST(bit_count(xor(q.qlo, p.lo)) + bit_count(xor(q.qhi, p.hi))
                AS BIGINT) AS hamming
    FROM packed p, q WHERE p.vec_id != q.query_id
), ranked AS (
    SELECT query_id, neighbor_id, hamming,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY hamming ASC, neighbor_id ASC) AS INT) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, hamming, rank
FROM ranked WHERE rank <= 10
"""


@register("ann_binary", oracle=_ANN_BINARY_ORACLE)
def ann_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized ANN: pack sign bits once (one corpus scan, two
    32-bit words per vector), broadcast the 8 packed query rows, rank
    by integer Hamming distance (xor + bit_count in codegen), top-10
    per query with the neighbor_id tie-break. The packed frame is the
    entire index — 16 bytes/vector however wide the floats — and the
    scan+broadcast+window shape needs no shuffle of embeddings at any
    scale."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    )
    packed = emb.select(
        "vec_id",
        F.expr(_BITS_LO).alias("lo"),
        F.expr(_BITS_HI).alias("hi"),
    )
    q = packed.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("lo").alias("qlo"),
        F.col("hi").alias("qhi"),
    )
    scored = (
        packed.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                F.bit_count(F.expr("qlo ^ lo"))
                + F.bit_count(F.expr("qhi ^ hi"))
            ).cast("bigint").alias("hamming"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 10)
        .select("query_id", "neighbor_id", "hamming", "rank")
    )


# --------------------------------------------------------------------------
# 226. ann_binary_rerank — asymmetric float-query re-rank over Hamming (r11)
# --------------------------------------------------------------------------
# The RaBitQ-estimator second stage the r10 verdict floated (task 8):
# symmetric Hamming distance throws away the query's float precision,
# so stage 1 (integer Hamming over the 16-byte packed corpus — the
# ann_binary shape with a deeper top-100) only SHORTLISTS, and stage 2
# re-ranks the shortlist by the asymmetric estimator <q, sign(x)> =
# sum_d q_d * (bit_d ? +1 : -1) — the query in exact BIGINT micro-units
# (the ann_pq quantization discipline), the corpus STILL only its two
# packed words (2*getbit - 1 recovers the sign; the index never grows
# past 16 bytes/vector, which is the whole point). All-integer end to
# end, ties break on neighbor_id — the oracle replays both stages
# exactly. Scale: stage 1 is the proven scan+broadcast+WindowGroupLimit
# shape; stage 2 touches 100 rows/query.
_ANN_RERANK_ORACLE = f"""
WITH packed AS (
    SELECT vec_id,
           coalesce({_duck_bits(True)}, 0) AS lo,
           coalesce({_duck_bits(False)}, 0) AS hi
    FROM embeddings
), q AS (
    SELECT vec_id AS query_id, lo AS qlo, hi AS qhi
    FROM packed WHERE vec_id < 8
), qv AS (
    SELECT vec_id AS query_id,
           [CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5)
                 AS BIGINT) FOR i IN range(1, 65)] AS qm
    FROM embeddings WHERE vec_id < 8
), scored AS (
    SELECT q.query_id, p.vec_id AS neighbor_id, p.lo, p.hi,
           CAST(bit_count(xor(q.qlo, p.lo)) + bit_count(xor(q.qhi, p.hi))
                AS BIGINT) AS hamming
    FROM packed p, q WHERE p.vec_id != q.query_id
), cand AS (
    SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY hamming ASC, neighbor_id ASC) AS rk
    FROM scored
), est AS (
    SELECT c.query_id, c.neighbor_id, c.hamming,
           CAST(list_sum([qv.qm[d + 1] *
                (CASE WHEN d < 32
                      THEN CASE WHEN (c.lo >> d) & 1 = 1 THEN 1 ELSE -1 END
                      ELSE CASE WHEN (c.hi >> (d - 32)) & 1 = 1
                                THEN 1 ELSE -1 END END)
                FOR d IN range(0, 64)]) AS BIGINT) AS est_score
    FROM cand c JOIN qv ON qv.query_id = c.query_id
    WHERE c.rk <= 100
), ranked AS (
    SELECT query_id, neighbor_id, hamming, est_score,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY est_score DESC, neighbor_id ASC) AS INT) AS rank
    FROM est
)
SELECT query_id, neighbor_id, hamming, est_score, rank
FROM ranked WHERE rank <= 10
"""


@register("ann_binary_rerank", oracle=_ANN_RERANK_ORACLE)
def ann_binary_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage binary ANN: Hamming top-100 shortlist (the ann_binary
    scan + 8-row broadcast + WindowGroupLimit shape, deeper k), then
    asymmetric re-rank by the integer estimator
    ``sum_d q_micro[d] * (2*getbit(word, d) - 1)`` — float query
    precision recovered against the UNCHANGED 16-byte packed corpus.
    Top-10 per query by estimated score, neighbor_id tie-break."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    )
    packed = emb.select(
        "vec_id",
        F.expr(_BITS_LO).alias("lo"),
        F.expr(_BITS_HI).alias("hi"),
    )
    q = packed.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("lo").alias("qlo"),
        F.col("hi").alias("qhi"),
    )
    qm = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.transform(
            V.as_double(F.col("v")),
            lambda x: F.floor(x * F.lit(1000000.0) + F.lit(0.5)).cast(
                "bigint"
            ),
        ).alias("qm"),
    )
    scored = (
        packed.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "lo",
            "hi",
            (
                F.bit_count(F.expr("qlo ^ lo"))
                + F.bit_count(F.expr("qhi ^ hi"))
            ).cast("bigint").alias("hamming"),
        )
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id").asc()
    )
    cand = scored.withColumn("rk", F.row_number().over(w1)).where(
        F.col("rk") <= 100
    )
    est = cand.join(F.broadcast(qm), "query_id").select(
        "query_id",
        "neighbor_id",
        "hamming",
        F.expr(
            "aggregate(sequence(0, 63), 0L, (acc, d) -> acc + "
            "element_at(qm, d + 1) * (2 * CAST(IF(d < 32, "
            "getbit(lo, d), getbit(hi, d - 32)) AS BIGINT) - 1L))"
        ).cast("bigint").alias("est_score"),
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("est_score").desc(), F.col("neighbor_id").asc()
    )
    return (
        est.withColumn("rank", F.row_number().over(w2).cast("int"))
        .where(F.col("rank") <= 10)
        .select("query_id", "neighbor_id", "hamming", "est_score", "rank")
    )
