"""LLM-data-pipeline queries (SURVEY.md §2c): dedup, similarity search,
text analysis, multimodal plumbing over documents/embeddings.

Each Spark builder delegates to operators/functions modules; each
oracle is an independently-written DuckDB SQL twin. The determinism
contract (portable md5-prefix hashing, fixed permutation literals,
agreed rounding) lives in functions/hashing.py and is embedded into
both sides from the same constant tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from strava_data_pipeline_spark.functions import text as T
from strava_data_pipeline_spark.functions import vectors as V
from strava_data_pipeline_spark.functions.hashing import (
    MINHASH_PRIME,
    md5_u32,
    md5_u32_duckdb,
    perm_params,
)
from strava_data_pipeline_spark.operators import dedup as D
from strava_data_pipeline_spark.operators import similarity as S
from strava_data_pipeline_spark.operators.skew import cap_hot_buckets
from strava_data_pipeline_spark.operators.skew import spread_small_scan
from strava_data_pipeline_spark.plans.prelude import (
    DUCK_SHINGLES,
    DUCK_TOKENS,
    load_docs,
)
from strava_data_pipeline_spark.plans.registry import register
from strava_data_pipeline_spark.sources.catalog import load_table


# --------------------------------------------------------------------------
# 21. dedup_exact
# --------------------------------------------------------------------------
_EXACT_ORACLE = """
SELECT md5(text) AS text_hash,
       CAST(min(doc_id) AS BIGINT) AS canonical_doc_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM documents GROUP BY 1
"""


@register("dedup_exact", oracle=_EXACT_ORACLE)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup by md5 hash-groupBy: full hash→canonical
    mapping (testdata plants no byte-identical dups, so the collision
    subset alone would be a vacuous 0-row check)."""
    return D.dedup_exact(load_table(spark, sf_dir, "documents"), only_dups=False)


# --------------------------------------------------------------------------
# 22. dedup_minhash — MinHash + LSH banding
# --------------------------------------------------------------------------
def _minhash_oracle() -> str:
    params = perm_params(D.N_PERMS)
    mh_cols = ",\n        ".join(
        f"min((x * {a} + {b}) % {MINHASH_PRIME}) AS mh_{j}"
        for j, (a, b) in enumerate(params)
    )
    bands = "\n    UNION ALL\n".join(
        "    SELECT doc_id, {b} AS band, md5(concat_ws(',', {cols})) AS bkey FROM sig".format(
            b=b,
            cols=", ".join(
                f"mh_{b * D.ROWS_PER_BAND + r}" for r in range(D.ROWS_PER_BAND)
            ),
        )
        for b in range(D.N_BANDS)
    )
    eq = " + ".join(
        f"(CASE WHEN sa.mh_{j} = sb.mh_{j} THEN 1 ELSE 0 END)"
        for j in range(D.N_PERMS)
    )
    return f"""
WITH toks AS (
    SELECT doc_id, {DUCK_TOKENS} AS t FROM documents
), sh AS (
    SELECT doc_id, unnest({DUCK_SHINGLES}) AS shingle FROM toks
), hx AS (
    SELECT doc_id, {md5_u32_duckdb('shingle')} AS x FROM sh
), sig AS (
    SELECT doc_id,
        {mh_cols}
    FROM hx GROUP BY doc_id
), bands AS (
{bands}
), capped AS (
    -- hot-bucket guard: mirrors operators/skew.cap_hot_buckets
    SELECT * FROM bands
    QUALIFY count(*) OVER (PARTITION BY band, bkey) <= {D.MAX_BUCKET}
), pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM capped a JOIN capped b
      ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
)
SELECT p.doc_a, p.doc_b, round(({eq}) / {float(D.N_PERMS)}, 4) AS est_jaccard
FROM pairs p
JOIN sig sa ON sa.doc_id = p.doc_a
JOIN sig sb ON sb.doc_id = p.doc_b
"""


@register("dedup_minhash", oracle=_minhash_oracle())
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16 perms) + LSH(4 bands × 4 rows) candidate pairs with
    estimated jaccard."""
    docs = load_table(spark, sf_dir, "documents")
    sig = D.minhash_signatures(docs)
    return D.minhash_lsh_pairs(sig)


# --------------------------------------------------------------------------
# 124. dedup_incremental — batch-vs-corpus dedup (the production shape)
# --------------------------------------------------------------------------
def _incremental_oracle(threshold: float = 0.75) -> str:
    params = perm_params(D.N_PERMS)
    mh_cols = ",\n        ".join(
        f"min((x * {a} + {b}) % {MINHASH_PRIME}) AS mh_{j}"
        for j, (a, b) in enumerate(params)
    )
    bands = "\n    UNION ALL\n".join(
        "    SELECT doc_id, {b} AS band, md5(concat_ws(',', {cols})) AS bkey FROM sig".format(
            b=b,
            cols=", ".join(
                f"mh_{b * D.ROWS_PER_BAND + r}" for r in range(D.ROWS_PER_BAND)
            ),
        )
        for b in range(D.N_BANDS)
    )
    eq = " + ".join(
        f"(CASE WHEN sa.mh_{j} = sb.mh_{j} THEN 1 ELSE 0 END)"
        for j in range(D.N_PERMS)
    )
    return f"""
WITH toks AS (
    SELECT doc_id, {DUCK_TOKENS} AS t FROM documents
), sh AS (
    SELECT doc_id, unnest({DUCK_SHINGLES}) AS shingle FROM toks
), hx AS (
    SELECT doc_id, {md5_u32_duckdb('shingle')} AS x FROM sh
), sig AS (
    SELECT doc_id,
        {mh_cols}
    FROM hx GROUP BY doc_id
), bands AS (
{bands}
), capped AS (
    -- hot-bucket guard over the FULL band table (index + batch),
    -- mirroring operators/skew.cap_hot_buckets applied before the
    -- batch side splits off
    SELECT * FROM bands
    QUALIFY count(*) OVER (PARTITION BY band, bkey) <= {D.MAX_BUCKET}
), pairs AS (
    -- batch doc × (any index doc | earlier batch doc)
    SELECT DISTINCT a.doc_id AS new_doc, b.doc_id AS partner
    FROM capped a JOIN capped b
      ON a.band = b.band AND a.bkey = b.bkey
     AND a.doc_id % 10 = 0
     AND (b.doc_id % 10 <> 0 OR b.doc_id < a.doc_id)
), conf AS (
    SELECT p.new_doc, CAST(count(*) AS BIGINT) AS n_dup_partners
    FROM pairs p
    JOIN sig sa ON sa.doc_id = p.new_doc
    JOIN sig sb ON sb.doc_id = p.partner
    WHERE round(({eq}) / {float(D.N_PERMS)}, 4) >= {threshold}
    GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(c.n_dup_partners, 0) AS BIGINT) AS n_dup_partners,
       c.new_doc IS NULL AS keep
FROM documents d LEFT JOIN conf c ON c.new_doc = d.doc_id
WHERE d.doc_id % 10 = 0
"""


@register("dedup_incremental", oracle=_incremental_oracle())
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: judge an incoming BATCH (doc_id % 10 == 0
    stands in for the day's crawl) against the existing corpus index +
    earlier batch members, emitting one deterministic keep verdict per
    batch doc. This is the operator a production pipeline actually
    runs daily — full-corpus re-dedup at 100 TB is a non-starter; here
    the corpus band index is built once (at scale: read from the
    stored index) and each batch generates candidates from its own
    bands only, so per-trigger work is O(batch × bucket). Index docs
    always beat batch docs; within the batch the lower id wins —
    verdicts never depend on join order. Batch docs too short to
    shingle have no signature and trivially keep (nothing to match)."""
    docs = load_table(spark, sf_dir, "documents")
    sig = D.minhash_signatures(docs).withColumn(
        "is_new", F.col("doc_id") % 10 == 0
    )
    confident = D.minhash_incremental_pairs(sig).where(
        F.col("est_jaccard") >= 0.75
    )
    verdicts = confident.groupBy("new_doc").agg(
        F.count("*").cast("bigint").alias("n_dup_partners")
    )
    batch = docs.where(F.col("doc_id") % 10 == 0).select("doc_id")
    return batch.join(
        verdicts, batch["doc_id"] == verdicts["new_doc"], "left"
    ).select(
        "doc_id",
        F.coalesce("n_dup_partners", F.lit(0)).cast("bigint").alias(
            "n_dup_partners"
        ),
        F.col("new_doc").isNull().alias("keep"),
    )


# --------------------------------------------------------------------------
# 23. dedup_simhash
# --------------------------------------------------------------------------
def _simhash_oracle(max_hamming: int = 3) -> str:
    votes = ",\n        ".join(
        f"sum(CASE WHEN (x >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v_{i}"
        for i in range(32)
    )
    bits = " + ".join(
        f"(CASE WHEN v_{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(32)
    )
    return f"""
WITH toks AS (
    SELECT doc_id, {DUCK_TOKENS} AS t FROM documents
), tok AS (
    SELECT doc_id, unnest(t) AS token FROM toks
), hx AS (
    SELECT doc_id, {md5_u32_duckdb('token')} AS x FROM tok
), votes AS (
    SELECT doc_id,
        {votes}
    FROM hx GROUP BY doc_id
), sh AS (
    SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM votes
), bands AS (
    SELECT doc_id, simhash, u.band, (simhash >> (8 * u.band)) & 255 AS bkey
    FROM sh CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) u
), capped AS (
    -- hot-bucket guard: mirrors operators/skew.cap_hot_buckets
    SELECT * FROM bands
    QUALIFY count(*) OVER (PARTITION BY band, bkey) <= {D.MAX_BUCKET}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM capped a JOIN capped b
  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


@register("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(32-bit) near-dup pairs within hamming ≤ 3 via byte-band
    pigeonhole blocking."""
    docs = load_table(spark, sf_dir, "documents")
    sh = D.simhash(docs)
    return D.simhash_pairs(sh).withColumn("hamming", F.col("hamming").cast("int"))


# --------------------------------------------------------------------------
# 49. dedup_simhash64 — the corpus-scale fingerprint width
# --------------------------------------------------------------------------
def _simhash64_oracle() -> str:
    votes = ",\n        ".join(
        f"sum(CASE WHEN (x_{half} >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v_{half}_{i}"
        for half in ("lo", "hi")
        for i in range(32)
    )
    halves = ",\n        ".join(
        "CAST("
        + " + ".join(
            f"(CASE WHEN v_{half}_{i} > 0 THEN {1 << i} ELSE 0 END)"
            for i in range(32)
        )
        + f" AS BIGINT) AS simhash_{half}"
        for half in ("lo", "hi")
    )
    ham = (
        "bit_count(xor(a.simhash_lo, b.simhash_lo)) + "
        "bit_count(xor(a.simhash_hi, b.simhash_hi))"
    )
    return f"""
WITH toks AS (
    SELECT doc_id, {DUCK_TOKENS} AS t FROM documents
), tok AS (
    SELECT doc_id, unnest(t) AS token FROM toks
), hx AS (
    SELECT doc_id, {md5_u32_duckdb('token')} AS x_lo,
           {md5_u32_duckdb("'h2:' || token")} AS x_hi
    FROM tok
), votes AS (
    SELECT doc_id,
        {votes}
    FROM hx GROUP BY doc_id
), sh AS (
    SELECT doc_id,
        {halves}
    FROM votes
), bands AS (
    SELECT doc_id, simhash_lo, simhash_hi, u.band,
           CASE WHEN u.band < 4 THEN (simhash_lo >> (8 * u.band)) & 255
                ELSE (simhash_hi >> (8 * (u.band - 4))) & 255 END AS bkey
    FROM sh CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS band) u
), capped AS (
    -- hot-bucket guard: mirrors operators/skew.cap_hot_buckets
    SELECT * FROM bands
    QUALIFY count(*) OVER (PARTITION BY band, bkey) <= {D.MAX_BUCKET}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST({ham} AS INT) AS hamming
FROM capped a JOIN capped b
  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
WHERE {ham} <= 7
"""


@register("dedup_simhash64", oracle=_simhash64_oracle())
def dedup_simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(64-bit, two portable 32-bit halves) near-dup pairs within
    hamming ≤ 7 via 8 byte-band pigeonhole blocking — the corpus-scale
    fingerprint width (32-bit birthday-collides from ~80k docs)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash64_pairs(D.simhash64(docs))


# --------------------------------------------------------------------------
# 24. dedup_ngram_jaccard
# --------------------------------------------------------------------------
# Grams hash to portable u32 BIGINTs on BOTH engines (see
# operators/dedup.py::ngram_jaccard_pairs — jaccard over the hashed
# gram sets, identical here), so the comparison is exact. The gram
# ORDER is corpus-adaptive in the operator (auto_gram_order: smallest
# n >= 3 with 26**n >= 3*n_docs, cap 7); the oracle encodes the SAME
# integer rule as closed-form count thresholds in a scalar CTE
# (floor(26**n / 3) boundaries), so the two agree at EVERY corpus
# size — the old statically-3-gram oracle was only valid below 5,859
# docs and went blind at rehearsal scale.
_DUCK_GRAM_ORDER = """(
    SELECT CASE WHEN count(*) <= 5858 THEN 3
                WHEN count(*) <= 152325 THEN 4
                WHEN count(*) <= 3960458 THEN 5
                WHEN count(*) <= 102971925 THEN 6
                ELSE 7 END
    FROM documents
)"""

_DUCK_CHAR_GRAMS_ADAPTIVE = (
    "list_distinct([substr(lower(text), i, o.n) "
    "FOR i IN range(1, greatest(length(lower(text)) - o.n + 1, 0) + 1)])"
)
_DUCK_CHAR_GRAMS_HASHED = (
    f"list_distinct(list_transform({_DUCK_CHAR_GRAMS_ADAPTIVE}, "
    f"g -> {md5_u32_duckdb('g')}))"
)
_JACCARD_ORACLE = f"""
WITH o AS (
    SELECT {_DUCK_GRAM_ORDER} AS n
), g AS (
    SELECT doc_id, lang,
           CAST(floor(n_chars / 64.0) AS INT) AS len_bucket,
           {_DUCK_CHAR_GRAMS_HASHED} AS grams
    FROM documents, o
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(len(list_intersect(a.grams, b.grams)) * 1.0 /
             len(list_distinct(list_concat(a.grams, b.grams))), 4) AS jaccard
FROM g a JOIN g b
  ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
WHERE len(list_intersect(a.grams, b.grams)) * 1.0 /
      len(list_distinct(list_concat(a.grams, b.grams))) >= 0.5
"""


@register("dedup_ngram_jaccard", oracle=_JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-n-gram Jaccard pairs ≥ 0.5, blocked by (lang, length
    bucket). Gram order is corpus-adaptive (operators/dedup.py:
    ngram_jaccard_pairs) but resolves to n=3 at every provided
    testdata SF (500..5000 docs), which is exactly what the static
    3-gram oracle above checks; the order only grows past ~100k docs
    (rehearsal scale), where the 17.6k-entry 3-gram space would
    saturate and the oracle is never evaluated."""
    return D.ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# 25. dedup_embedding — cosine near-dup pairs
# --------------------------------------------------------------------------
def _duck_dot(vec_a: str, vec_b: str) -> str:
    return f"list_sum([{vec_a}[i] * {vec_b}[i] FOR i IN range(1, 65)])"


def _duck_cos(a: str, b: str) -> str:
    return (
        f"round({_duck_dot(a, b)} / "
        f"(sqrt({_duck_dot(a, a)}) * sqrt({_duck_dot(b, b)})), 6)"
    )


def _duck_band_bucket(band: int, bits: int) -> str:
    """DuckDB twin of similarity._band_bucket_expr — same plane
    literals, same sequential dot fold, same bit weights."""
    planes = S.plane_literals()
    terms = []
    for j in range(bits):
        plane = planes[band * bits + j]
        dot = " + ".join(f"v[{d + 1}] * ({plane[d]!r})" for d in range(S.DIM))
        terms.append(f"(CASE WHEN ({dot}) >= 0 THEN {1 << j} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS INT)"


def _emb_dedup_oracle() -> str:
    band_selects = "\n    UNION ALL\n    ".join(
        f"SELECT vec_id, label, v, {b} AS band, {_duck_band_bucket(b, S.EMB_BITS)} AS bucket FROM e"
        for b in range(S.EMB_BANDS)
    )
    return f"""
WITH e AS (
    SELECT vec_id, label,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
), bands AS (
    {band_selects}
), capped AS (
    -- hot-bucket guard: mirrors operators/skew.cap_hot_buckets
    SELECT * FROM bands
    QUALIFY count(*) OVER (PARTITION BY label, band, bucket) <= {S.MAX_BUCKET}
), cand AS (
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM capped a JOIN capped b
      ON a.label = b.label AND a.band = b.band AND a.bucket = b.bucket
     AND a.vec_id < b.vec_id
), scored AS (
    SELECT c.vec_a, c.vec_b, {_duck_cos('ea.v', 'eb.v')} AS score
    FROM cand c
    JOIN e ea ON ea.vec_id = c.vec_a
    JOIN e eb ON eb.vec_id = c.vec_b
)
SELECT vec_a, vec_b, score FROM scored WHERE score >= 0.35
"""


@register("dedup_embedding", oracle=_emb_dedup_oracle())
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine ≥ τ) via banded hyperplane LSH
    within label blocks — candidates only inside (label, band, bucket)
    groups, never all-pairs per label. τ=0.35 sits at the top ~0.1% of
    the synthetic same-label cosine distribution (max ≈ 0.47) — a
    production corpus with planted dups would use 0.95+. The threshold
    is a parameter; the band count and bits per band are the operator's
    constants (similarity.EMB_BANDS, EMB_BITS)."""
    return S.embedding_neardup_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=0.35
    )


# --------------------------------------------------------------------------
# 26. ann_topk — brute-force cosine top-k
# --------------------------------------------------------------------------
_ANN_ORACLE = """
WITH e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
), q AS (
    SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8
), scored AS (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           round(
             list_sum([q.qv[i] * c.v[i] FOR i IN range(1, 65)]) /
             (sqrt(list_sum([q.qv[i] * q.qv[i] FOR i IN range(1, 65)])) *
              sqrt(list_sum([c.v[i] * c.v[i] FOR i IN range(1, 65)]))), 6) AS score
    FROM e c CROSS JOIN q WHERE q.query_id != c.vec_id
), ranked AS (
    SELECT query_id, neighbor_id, score,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, neighbor_id ASC) AS INT) AS rank
    FROM scored
)
SELECT * FROM ranked WHERE rank <= 10
"""


@register("ann_topk", oracle=_ANN_ORACLE)
def ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for query vectors vec_id < 8 (broadcast
    queries, single corpus scan)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.ann_topk_bruteforce(emb, emb.where(F.col("vec_id") < 8), k=10)


# --------------------------------------------------------------------------
# 27. ann_lsh — hyperplane-bucketed approximate top-k
# --------------------------------------------------------------------------
def _ann_lsh_oracle() -> str:
    planes = S.plane_literals()
    # bucket bit j: sequential left-to-right dot with the plane literals,
    # mirroring the Spark fold order exactly.
    bucket_terms = []
    for j, plane in enumerate(planes):
        dot = " + ".join(f"v[{d + 1}] * ({plane[d]!r})" for d in range(S.DIM))
        bucket_terms.append(f"(CASE WHEN ({dot}) >= 0 THEN {1 << j} ELSE 0 END)")
    bucket = " + ".join(bucket_terms)
    return f"""
WITH e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
), bucketed AS (
    SELECT vec_id, v, CAST({bucket} AS INT) AS bucket FROM e
), q AS (
    SELECT vec_id AS query_id, v AS qv, bucket FROM bucketed WHERE vec_id < 8
), capped AS (
    -- hot-bucket guard on the corpus side: mirrors skew.cap_hot_buckets
    SELECT * FROM bucketed
    QUALIFY count(*) OVER (PARTITION BY bucket) <= {S.MAX_BUCKET}
), scored AS (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           round(
             {_duck_dot('q.qv', 'c.v')} /
             (sqrt({_duck_dot('q.qv', 'q.qv')}) * sqrt({_duck_dot('c.v', 'c.v')})), 6) AS score
    FROM capped c JOIN q USING (bucket) WHERE q.query_id != c.vec_id
), ranked AS (
    SELECT query_id, neighbor_id, score,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, neighbor_id ASC) AS INT) AS rank
    FROM scored
)
SELECT * FROM ranked WHERE rank <= 5
"""


_ANN_IVF_ORACLE = f"""
WITH e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
), cent AS (
    SELECT vec_id AS cid, v AS centv FROM e WHERE vec_id < 16
), ca AS (
    SELECT vec_id, v, cid,
           row_number() OVER (PARTITION BY vec_id
                ORDER BY ccos DESC, cid ASC) AS crank
    FROM (
        SELECT e.vec_id, e.v, c.cid, {_duck_cos('e.v', 'c.centv')} AS ccos
        FROM e CROSS JOIN cent c
    )
), corpus_lists AS (
    SELECT vec_id AS neighbor_id, v AS cv, cid FROM ca WHERE crank = 1
), probes AS (
    SELECT vec_id AS query_id, v AS qv, cid FROM ca WHERE vec_id < 8 AND crank <= 2
), scored AS (
    SELECT p.query_id, l.neighbor_id, {_duck_cos('p.qv', 'l.cv')} AS score
    FROM corpus_lists l JOIN probes p USING (cid)
    WHERE p.query_id != l.neighbor_id
), ranked AS (
    SELECT query_id, neighbor_id, score,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, neighbor_id ASC) AS INT) AS rank
    FROM scored
)
SELECT * FROM ranked WHERE rank <= 10
"""


@register("ann_ivf", oracle=_ANN_IVF_ORACLE)
def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-10: 16 inverted lists, 2 probes per query.
    The scale path writes the corpus partitioned by centroid_id so a
    probe is a partition-pruned scan; centroids are deterministic
    seeds here so DuckDB rebuilds the identical index."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.ann_topk_ivf(emb, emb.where(F.col("vec_id") < 8), k=10)


@register("ann_lsh", oracle=_ann_lsh_oracle())
def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via 8-hyperplane LSH buckets — the 100 TB path:
    candidates come only from the query's bucket."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.ann_topk_lsh(emb, emb.where(F.col("vec_id") < 8), k=5)


# --------------------------------------------------------------------------
# 28. lang_id — heuristic language identification
# --------------------------------------------------------------------------
def _lang_id_oracle() -> str:
    vote_cols = ",\n        ".join(
        "len(list_filter(t, x -> x IN ({vals}))) AS v_{lang}".format(
            vals=", ".join(f"'{m}'" for m in T.LANG_MARKERS[lang]), lang=lang
        )
        for lang in T.LANG_MARKERS
    )
    best = "greatest(" + ", ".join(f"v_{lang}" for lang in T.LANG_MARKERS) + ")"
    cases = "\n           ".join(
        f"WHEN v_{lang} = {best} THEN '{lang}'" for lang in T.LANG_MARKERS
    )
    return f"""
WITH toks AS (
    SELECT doc_id, lang, {DUCK_TOKENS} AS t FROM documents
), votes AS (
    SELECT doc_id, lang,
        {vote_cols}
    FROM toks
)
SELECT doc_id, lang AS labeled_lang,
       CASE WHEN {best} = 0 THEN 'und'
           {cases}
           ELSE 'und' END AS predicted_lang
FROM votes
"""


@register("lang_id", oracle=_lang_id_oracle())
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-stopword language-ID vote per document."""
    docs = load_docs(spark, sf_dir)
    toks = T.tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        T.predict_lang(toks).alias("predicted_lang"),
    )


# --------------------------------------------------------------------------
# 29. text_quality
# --------------------------------------------------------------------------
_ALL_MARKERS = sorted({m for ms in T.LANG_MARKERS.values() for m in ms})
_QUALITY_ORACLE = f"""
WITH base AS (
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_calc,
           CAST(len({DUCK_TOKENS}) AS BIGINT) AS n_tokens,
           CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS BIGINT) AS n_punct,
           CAST(len(list_filter({DUCK_TOKENS}, x -> x IN ({", ".join(f"'{m}'" for m in _ALL_MARKERS)}))) AS BIGINT) AS n_stop
    FROM documents
)
SELECT doc_id, n_chars_calc, n_tokens,
       round(n_chars_calc * 1.0 / n_tokens, 4) AS avg_token_len,
       round(n_punct * 1.0 / n_chars_calc, 4) AS punct_ratio,
       round(n_stop * 1.0 / n_tokens, 4) AS stopword_ratio,
       round(least(1.0, n_tokens / 100.0) * (1.0 - n_punct * 1.0 / n_chars_calc) *
             (0.5 + 0.5 * least(n_stop * 5.0 / n_tokens, 1.0)), 4) AS quality_score
FROM base
"""


@register("text_quality", oracle=_QUALITY_ORACLE)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length/punctuation/stopword quality features + composite score."""
    docs = load_docs(spark, sf_dir)
    toks = T.tokens(F.col("text"))
    markers = F.array(*[F.lit(m) for m in _ALL_MARKERS])
    base = docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars_calc"),
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.length(F.regexp_replace("text", "[A-Za-z0-9\\s]", ""))
        .cast("bigint")
        .alias("n_punct"),
        F.size(F.filter(toks, lambda t: F.array_contains(markers, t)))
        .cast("bigint")
        .alias("n_stop"),
    )
    return base.select(
        "doc_id",
        "n_chars_calc",
        "n_tokens",
        F.round(F.col("n_chars_calc") / F.col("n_tokens"), 4).alias("avg_token_len"),
        F.round(F.col("n_punct") / F.col("n_chars_calc"), 4).alias("punct_ratio"),
        F.round(F.col("n_stop") / F.col("n_tokens"), 4).alias("stopword_ratio"),
        F.round(
            F.least(F.lit(1.0), F.col("n_tokens") / 100.0)
            * (F.lit(1.0) - F.col("n_punct") / F.col("n_chars_calc"))
            * (
                F.lit(0.5)
                + F.lit(0.5) * F.least(F.col("n_stop") * 5.0 / F.col("n_tokens"), F.lit(1.0))
            ),
            4,
        ).alias("quality_score"),
    )


# --------------------------------------------------------------------------
# 30. token_count
# --------------------------------------------------------------------------
_TOKEN_ORACLE = rf"""
SELECT doc_id,
       CAST(len({DUCK_TOKENS}) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '{T.BPE_TOKEN_RE}')) AS BIGINT) AS bpe_tokens
FROM documents
"""


@register("token_count", oracle=_TOKEN_ORACLE)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-style pre-tokenizer token counts."""
    docs = load_docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        T.ws_token_count(F.col("text")).alias("ws_tokens"),
        T.bpe_token_count(F.col("text")).alias("bpe_tokens"),
    )


# --------------------------------------------------------------------------
# 31. doc_fingerprint — bottom-k sketch
# --------------------------------------------------------------------------
_FP_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, {DUCK_TOKENS} AS t FROM documents
), sh AS (
    SELECT doc_id, unnest({DUCK_SHINGLES}) AS shingle FROM toks
), hx AS (
    SELECT DISTINCT doc_id, {md5_u32_duckdb('shingle')} AS fp FROM sh
), ranked AS (
    SELECT doc_id, fp,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY fp ASC) AS INT) AS fp_rank
    FROM hx
)
SELECT doc_id, fp_rank, fp FROM ranked WHERE fp_rank <= 5
"""


@register("doc_fingerprint", oracle=_FP_ORACLE)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-5 shingle-hash fingerprint sketch per document."""
    return D.doc_fingerprints(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# 32. multimodal_meta — binary payload plumbing
# --------------------------------------------------------------------------
_MM_ORACLE = """
WITH h AS (
    SELECT doc_id, text,
           CAST(('0x' || substr(md5(text), 1, 8))::UBIGINT AS BIGINT) AS x
    FROM documents
)
SELECT doc_id,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       sha256(text) AS payload_sha256,
       CAST(64 + x % 1857 AS INT) AS width,
       CAST(64 + (x // 7) % 1017 AS INT) AS height,
       CAST(1 + x % 30 AS INT) AS n_frames
FROM h
"""


@register("multimodal_meta", oracle=_MM_ORACLE)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload metadata plumbing: the documents' text bytes stand
    in for an opaque media blob (see operators/multimodal.py for the
    decode pipeline; real codecs are stubbed per environment)."""
    docs = load_docs(spark, sf_dir)
    x = md5_u32(F.col("text"))
    payload = F.col("text").cast("binary")
    return docs.select(
        "doc_id",
        F.octet_length("text").cast("bigint").alias("n_bytes"),
        F.sha2(payload, 256).alias("payload_sha256"),
        (F.lit(64) + x % 1857).cast("int").alias("width"),
        (F.lit(64) + F.floor(x / 7) % 1017).cast("int").alias("height"),
        (F.lit(1) + x % 30).cast("int").alias("n_frames"),
    )


# --------------------------------------------------------------------------
# 53. multimodal_features — the Arrow/mapInPandas decode path, end to end
# --------------------------------------------------------------------------
# fake_decode (the declared codec stand-in) computes deterministic byte
# stats, and the corpus is pure ASCII (verified: octet_length == length
# for every document), so code points == payload bytes and DuckDB can
# replay the "decode" exactly — giving the Pandas-UDF plumbing a full
# value-hash oracle instead of a rows-only check.
_MM_FEATURES_ORACLE = """
WITH chars AS (
    SELECT doc_id, length(text) AS n,
           [ord(substr(text, i, 1)) FOR i IN range(1, length(text) + 1)] AS codes
    FROM documents
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_bytes,
       CAST(CASE WHEN n = 0 THEN 0 ELSE floor(list_sum(codes) / n) END AS INT) AS mean_byte,
       CAST(len(list_filter(codes, c -> c // 64 = 0)) AS BIGINT) AS hist_0,
       CAST(len(list_filter(codes, c -> c // 64 = 1)) AS BIGINT) AS hist_1,
       CAST(len(list_filter(codes, c -> c // 64 = 2)) AS BIGINT) AS hist_2,
       CAST(len(list_filter(codes, c -> c // 64 = 3)) AS BIGINT) AS hist_3
FROM chars
"""


@register("multimodal_features", oracle=_MM_FEATURES_ORACLE)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal decode path end to end: attach_payload (built-in
    metadata) → extract_features (Arrow-batched mapInPandas over binary
    payloads — operators/multimodal.py:107). One of the two registry
    queries allowed to run Python (with multimodal_decode): codec
    decode is the sanctioned Pandas-UDF slow path, and this entry keeps
    its batch plumbing under the driver's cross-engine gate, not just
    pytest."""
    from strava_data_pipeline_spark.operators import multimodal as M

    docs = load_docs(spark, sf_dir)
    return M.extract_features(M.attach_payload(docs))


# --------------------------------------------------------------------------
# 143. multimodal_decode — REAL image decode (binary PPM) end to end
# --------------------------------------------------------------------------
# The codec stubs are sanctioned (no media libs in this container), but
# binary PPM needs none: the plant stage builds REAL P6 byte buffers
# (header + raw RGB raster) as a binary Arrow column, and a separate
# decode stage parses them with operators/multimodal.decode_image —
# a genuine whitespace/comment-tolerant netpbm parser — then reduces
# the raster to per-channel sums. Every header field and pixel is a
# pure function of the doc's md5_u32 seed (computed JVM-side), so the
# oracle recomputes the decoded stats arithmetically: any parser bug
# (header offset, raster truncation, channel interleave) breaks the
# hash. Means are exact 1e-4 units via positive floor division
# (python // == DuckDB //).
_MM_DECODE_ORACLE = """
WITH h AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(text), 1, 8))::UBIGINT AS BIGINT) AS x
    FROM documents
), dims AS (
    SELECT doc_id,
           CAST(4 + x % 13 AS INT) AS width,
           CAST(4 + (x // 7) % 9 AS INT) AS height,
           x % 251 AS base
    FROM h
), px AS (
    SELECT doc_id, width, height, base,
           CAST(width * height AS BIGINT) AS n_pixels,
           CAST(list_sum([(base + 3*p) % 256 FOR p IN range(0, width*height)]) AS BIGINT) AS sum_r,
           CAST(list_sum([(base + 3*p + 1) % 256 FOR p IN range(0, width*height)]) AS BIGINT) AS sum_g,
           CAST(list_sum([(base + 3*p + 2) % 256 FOR p IN range(0, width*height)]) AS BIGINT) AS sum_b
    FROM dims
)
SELECT doc_id, width, height, n_pixels,
       sum_r, sum_g, sum_b,
       CAST(sum_r * 10000 // n_pixels AS BIGINT) AS mean_r_q4,
       CAST(sum_g * 10000 // n_pixels AS BIGINT) AS mean_g_q4,
       CAST(sum_b * 10000 // n_pixels AS BIGINT) AS mean_b_q4
FROM px
"""


@register("multimodal_decode", oracle=_MM_DECODE_ORACLE)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real image decode through the Arrow path: plant P6 payloads
    (operators/multimodal.plant_ppm → binary column), decode them with
    the pure-python netpbm parser (decode_image), reduce rasters to
    channel stats. Two separate mapInPandas stages on purpose — the
    decoder parses bytes that crossed the Arrow boundary as a binary
    column, not bytes it built in-process. At 100 TB the same two-stage
    shape holds with a real codec swapped into decode_image; payloads
    stay in their own pruned parquet column (multimodal_meta's layout
    note) and each Arrow batch holds one task's worth of images."""
    from strava_data_pipeline_spark.operators import multimodal as M

    docs = load_docs(spark, sf_dir)
    seeded = docs.select("doc_id", md5_u32(F.col("text")).alias("x"))
    return M.extract_image_stats(M.attach_ppm_payload(seeded))


# --------------------------------------------------------------------------
# 191. multimodal_decode_bmp — real COMPRESSED-raster decode (RLE8 BMP)
# --------------------------------------------------------------------------
# Same planted-oracle contract as multimodal_decode, but the payload
# is a run-length-COMPRESSED format: the Spark path round-trips real
# BMP bytes (headers + palette + RLE8 stream) through encode → Arrow →
# decode, and the oracle recomputes the channel sums from the planted
# index/palette arithmetic — a wrong run expansion, a missed row pad,
# a bottom-up flip bug, or a palette-order slip breaks the hash.
# idx(p) = (base + 7*row + col//4) % 256 (runs of 4 per row);
# r = idx*3 % 256, g = (idx*5+17) % 256, b = (idx*7+31) % 256.
_MM_BMP_ORACLE = """
WITH h AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(text), 1, 8))::UBIGINT AS BIGINT) AS x
    FROM documents
), dims AS (
    SELECT doc_id,
           CAST(4 + x % 13 AS INT) AS width,
           CAST(4 + (x // 7) % 9 AS INT) AS height,
           x % 251 AS base
    FROM h
), px AS (
    SELECT doc_id, width, height,
           CAST(width * height AS BIGINT) AS n_pixels,
           CAST(list_sum([
               ((base + 7*(p // width) + (p % width) // 4) % 256 * 3) % 256
               FOR p IN range(0, width*height)]) AS BIGINT) AS sum_r,
           CAST(list_sum([
               ((base + 7*(p // width) + (p % width) // 4) % 256 * 5 + 17) % 256
               FOR p IN range(0, width*height)]) AS BIGINT) AS sum_g,
           CAST(list_sum([
               ((base + 7*(p // width) + (p % width) // 4) % 256 * 7 + 31) % 256
               FOR p IN range(0, width*height)]) AS BIGINT) AS sum_b
    FROM dims
)
SELECT doc_id, width, height, n_pixels,
       sum_r, sum_g, sum_b,
       CAST(sum_r * 10000 // n_pixels AS BIGINT) AS mean_r_q4,
       CAST(sum_g * 10000 // n_pixels AS BIGINT) AS mean_g_q4,
       CAST(sum_b * 10000 // n_pixels AS BIGINT) AS mean_b_q4
FROM px
"""


@register("multimodal_decode_bmp", oracle=_MM_BMP_ORACLE)
def multimodal_decode_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real COMPRESSED image decode through the Arrow path: plant RLE8
    BMP payloads (operators/multimodal.plant_bmp — headers, 256-entry
    palette, run-length-encoded raster with EOL/EOB escapes), decode
    them with the pure-python RLE8 decompressor + palette lookup
    (_decode_bmp_rle8), reduce to the same channel stats as the P6
    path. The decoder is format-dispatched through the SAME
    decode_image entry the netpbm path uses — one decode surface, two
    real codecs, the remaining formats honestly stubbed. Same
    two-stage mapInPandas shape and 100 TB layout notes as
    multimodal_decode."""
    from strava_data_pipeline_spark.operators import multimodal as M

    docs = load_docs(spark, sf_dir)
    seeded = docs.select("doc_id", md5_u32(F.col("text")).alias("x"))
    return M.extract_image_stats(
        M.attach_ppm_payload(seeded, planter=M.plant_bmp)
    )


# --------------------------------------------------------------------------
# 205. multimodal_decode_gif — real LZW decode (GIF) end to end
# --------------------------------------------------------------------------
# Third real codec, and the first with a genuine ENTROPY-CODED stream:
# the Spark path round-trips real GIF89a bytes (logical screen
# descriptor + 256-entry color table + image descriptor + LZW-
# compressed raster in sub-blocks) through encode → Arrow → decode.
# The decoder reassembles sub-blocks and runs full LZW decompression —
# variable-width LSB-first codes, clear/EOI control codes, the KwKwK
# case, width growth at each 2^w boundary — so a one-bit misalignment
# anywhere corrupts every later pixel and breaks the hash. Plants are
# deliberately larger than the P6/BMP ones (up to 32x24) so big images
# cross the 512-code boundary and the 9→10-bit width path carries real
# weight. idx(p) = (base + 11*row + col//3) % 256 (runs of three);
# r = (idx*11+5) % 256, g = (idx*13+7) % 256, b = (idx*17+11) % 256.
_MM_GIF_ORACLE = """
WITH h AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(text), 1, 8))::UBIGINT AS BIGINT) AS x
    FROM documents
), dims AS (
    SELECT doc_id,
           CAST(8 + x % 25 AS INT) AS width,
           CAST(8 + (x // 7) % 17 AS INT) AS height,
           x % 251 AS base
    FROM h
), px AS (
    SELECT doc_id, width, height,
           CAST(width * height AS BIGINT) AS n_pixels,
           CAST(list_sum([
               ((base + 11*(p // width) + (p % width) // 3) % 256 * 11 + 5) % 256
               FOR p IN range(0, width*height)]) AS BIGINT) AS sum_r,
           CAST(list_sum([
               ((base + 11*(p // width) + (p % width) // 3) % 256 * 13 + 7) % 256
               FOR p IN range(0, width*height)]) AS BIGINT) AS sum_g,
           CAST(list_sum([
               ((base + 11*(p // width) + (p % width) // 3) % 256 * 17 + 11) % 256
               FOR p IN range(0, width*height)]) AS BIGINT) AS sum_b
    FROM dims
)
SELECT doc_id, width, height, n_pixels,
       sum_r, sum_g, sum_b,
       CAST(sum_r * 10000 // n_pixels AS BIGINT) AS mean_r_q4,
       CAST(sum_g * 10000 // n_pixels AS BIGINT) AS mean_g_q4,
       CAST(sum_b * 10000 // n_pixels AS BIGINT) AS mean_b_q4
FROM px
"""


@register("multimodal_decode_gif", oracle=_MM_GIF_ORACLE)
def multimodal_decode_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real ENTROPY-CODED image decode through the Arrow path: plant
    GIF89a payloads (operators/multimodal.plant_gif — headers, color
    table, real LZW compression with variable-width codes), decode
    them with the pure-python GIF parser + LZW decompressor
    (_decode_gif_lzw), reduce to the same channel stats as the P6/BMP
    paths. Format-dispatched through the SAME decode_image entry — one
    decode surface, three real codecs (netpbm raster, BMP run-length,
    GIF LZW); JPEG/PNG stay honestly stubbed (their codecs need native
    libs absent here). Same two-stage mapInPandas shape and 100 TB
    layout notes as multimodal_decode."""
    from strava_data_pipeline_spark.operators import multimodal as M

    docs = load_docs(spark, sf_dir)
    seeded = docs.select("doc_id", md5_u32(F.col("text")).alias("x"))
    return M.extract_image_stats(
        M.attach_ppm_payload(seeded, planter=M.plant_gif)
    )


# --------------------------------------------------------------------------
# 225. multimodal_decode_gif_anim — delta-frame compositing (r11)
# --------------------------------------------------------------------------
# The residual shrink VERDICT r10 task 7 asked for: most animated GIFs
# in the wild use sub-rectangle delta frames, which the decoder used to
# refuse with a typed NotImplementedError. Now _decode_gif_frames
# models full GIF89a animation state — per-image graphic-control
# extensions (disposal method + transparency index), sub-rectangle
# composition onto the logical-screen canvas, restore-to-background /
# restore-to-previous disposal — and this face proves it end to end:
# plant a 3-image animation (full base + two seed-placed patches, one
# carrying a seed-chosen disposal and optional transparent index),
# decode ALL displayed frames through Arrow, and hash channel sums of
# the LAST composited canvas, which observed every piece of state. The
# oracle replays the final canvas arithmetically (every branch of the
# compositor is a CASE arm over affine index patterns).
_MM_GIF_ANIM_ORACLE = """
WITH h AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(text), 1, 8))::UBIGINT AS BIGINT) AS x
    FROM documents
), dims AS (
    SELECT doc_id, x,
           CAST(8 + x % 17 AS INT) AS sw,
           CAST(8 + (x // 7) % 13 AS INT) AS sh,
           x % 256 AS bg, x % 251 AS b0,
           (x // 17) % 251 AS b1,
           (x // 43) % 251 AS b2,
           CASE (x // 19) % 3 WHEN 0 THEN 0 WHEN 1 THEN 2 ELSE 3 END AS d,
           (x // 23) % 2 = 0 AS t1f,
           (x // 47) % 2 = 0 AS t2f
    FROM h
), pos AS (
    SELECT *,
           x % (sw // 2) AS left1, (x // 3) % (sh // 2) AS top1,
           (x // 29) % (sw // 2) AS left2, (x // 31) % (sh // 2) AS top2
    FROM dims
), rects AS (
    SELECT *,
           1 + (x // 11) % (sw - left1) AS w1,
           1 + (x // 13) % (sh - top1) AS h1,
           1 + (x // 37) % (sw - left2) AS w2,
           1 + (x // 41) % (sh - top2) AS h2
    FROM pos
), px AS (
    SELECT doc_id, sw AS width, sh AS height,
           CAST(sw * sh AS BIGINT) AS n_pixels,
           [CASE
              WHEN (p // sw) >= top2 AND (p // sw) < top2 + h2
               AND (p % sw) >= left2 AND (p % sw) < left2 + w2
               AND (NOT t2f OR
                    (b2 + 3*((p // sw) - top2) + 5*((p % sw) - left2))
                    % 256 <> 11)
              THEN (b2 + 3*((p // sw) - top2) + 5*((p % sw) - left2)) % 256
              WHEN d IN (0, 1)
               AND (p // sw) >= top1 AND (p // sw) < top1 + h1
               AND (p % sw) >= left1 AND (p % sw) < left1 + w1
               AND (NOT t1f OR
                    (b1 + 5*((p // sw) - top1) + 2*((p % sw) - left1))
                    % 256 <> 7)
              THEN (b1 + 5*((p // sw) - top1) + 2*((p % sw) - left1)) % 256
              WHEN d = 2
               AND (p // sw) >= top1 AND (p // sw) < top1 + h1
               AND (p % sw) >= left1 AND (p % sw) < left1 + w1
              THEN bg
              ELSE (b0 + 7*(p // sw) + 3*(p % sw)) % 256
            END FOR p IN range(0, sw * sh)] AS fi
    FROM rects
)
SELECT doc_id, width, height, CAST(3 AS INT) AS n_frames, n_pixels,
       CAST(list_sum([(k * 11 + 5) % 256 FOR k IN fi]) AS BIGINT) AS sum_r,
       CAST(list_sum([(k * 13 + 7) % 256 FOR k IN fi]) AS BIGINT) AS sum_g,
       CAST(list_sum([(k * 17 + 11) % 256 FOR k IN fi]) AS BIGINT) AS sum_b,
       CAST(list_sum([(k * 11 + 5) % 256 FOR k IN fi]) * 10000
            // n_pixels AS BIGINT) AS mean_r_q4,
       CAST(list_sum([(k * 13 + 7) % 256 FOR k IN fi]) * 10000
            // n_pixels AS BIGINT) AS mean_g_q4,
       CAST(list_sum([(k * 17 + 11) % 256 FOR k IN fi]) * 10000
            // n_pixels AS BIGINT) AS mean_b_q4
FROM px
"""


@register("multimodal_decode_gif_anim", oracle=_MM_GIF_ANIM_ORACLE)
def multimodal_decode_gif_anim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Animated-GIF delta-frame compositing through the Arrow path:
    plant 3-image GIF89a animations (operators/multimodal.
    plant_gif_anim — full base raster + two sub-rectangle patches with
    seed-derived offsets, disposal methods and transparency), decode
    every displayed frame with the compositing decoder
    (_decode_gif_frames: GCE parse, canvas composition, disposal
    state), and reduce the LAST displayed canvas to channel sums
    (extract_gif_anim_stats). Same two-stage mapInPandas shape and
    100 TB layout notes as the other multimodal faces — payloads
    stream through Arrow batches, rows map 1:1, nothing shuffles."""
    from strava_data_pipeline_spark.operators import multimodal as M

    docs = load_docs(spark, sf_dir)
    seeded = docs.select("doc_id", md5_u32(F.col("text")).alias("x"))
    return M.extract_gif_anim_stats(
        M.attach_ppm_payload(seeded, planter=M.plant_gif_anim)
    )


# --------------------------------------------------------------------------
# 212. multimodal_decode_png — real zlib/filter decode (PNG) end to end
# --------------------------------------------------------------------------
# Fourth real codec, and the first with a DEFLATE stream: the Spark
# path round-trips real PNG bytes (signature + IHDR + one zlib IDAT +
# IEND, CRC32 on every chunk) through encode → Arrow → decode. The
# encoder cycles the scanline filter row % 5 through all five spec
# types (None/Sub/Up/Average/Paeth) and heights are >= 8, so EVERY
# image exercises every filter reversal — a wrong predictor anywhere
# propagates through all later scanlines (Up/Average/Paeth chain on
# prior rows) and breaks the hash. Dims match the GIF plants; channel
# constants are PNG-specific (r = (idx*19+3) % 256, g = (idx*23+9)
# % 256, b = (idx*29+13) % 256) so a dispatch slip cannot hash-match.
_MM_PNG_ORACLE = """
WITH h AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(text), 1, 8))::UBIGINT AS BIGINT) AS x
    FROM documents
), dims AS (
    SELECT doc_id,
           CAST(8 + x % 25 AS INT) AS width,
           CAST(8 + (x // 7) % 17 AS INT) AS height,
           x % 251 AS base
    FROM h
), px AS (
    SELECT doc_id, width, height,
           CAST(width * height AS BIGINT) AS n_pixels,
           CAST(list_sum([
               ((base + 11*(p // width) + (p % width) // 3) % 256 * 19 + 3) % 256
               FOR p IN range(0, width*height)]) AS BIGINT) AS sum_r,
           CAST(list_sum([
               ((base + 11*(p // width) + (p % width) // 3) % 256 * 23 + 9) % 256
               FOR p IN range(0, width*height)]) AS BIGINT) AS sum_g,
           CAST(list_sum([
               ((base + 11*(p // width) + (p % width) // 3) % 256 * 29 + 13) % 256
               FOR p IN range(0, width*height)]) AS BIGINT) AS sum_b
    FROM dims
)
SELECT doc_id, width, height, n_pixels,
       sum_r, sum_g, sum_b,
       CAST(sum_r * 10000 // n_pixels AS BIGINT) AS mean_r_q4,
       CAST(sum_g * 10000 // n_pixels AS BIGINT) AS mean_g_q4,
       CAST(sum_b * 10000 // n_pixels AS BIGINT) AS mean_b_q4
FROM px
"""


@register("multimodal_decode_png", oracle=_MM_PNG_ORACLE)
def multimodal_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real DEFLATE-era image decode through the Arrow path: plant PNG
    payloads (operators/multimodal.plant_png — real encoder, per-row
    filter cycling), decode with the pure-python chunk walk + CRC
    check + zlib inflate + five-filter reversal (_decode_png), reduce
    to the same channel stats as the P6/BMP/GIF paths. Format-
    dispatched through the SAME decode_image entry — one decode
    surface, FOUR real codecs; JPEG stays the one honest stub (its
    entropy coding needs a native lib). Same two-stage mapInPandas
    shape and 100 TB layout notes as multimodal_decode."""
    from strava_data_pipeline_spark.operators import multimodal as M

    docs = load_docs(spark, sf_dir)
    seeded = docs.select("doc_id", md5_u32(F.col("text")).alias("x"))
    return M.extract_image_stats(
        M.attach_ppm_payload(seeded, planter=M.plant_png)
    )


# --------------------------------------------------------------------------
# 219. multimodal_decode_png_deep — indexed-color (PLTE) + 16-bit PNG
# --------------------------------------------------------------------------
# The r10 profile widening of the PNG codec (VERDICT r9 task 5): the
# per-seed variant plants either an indexed-color raster at every legal
# palette depth (1/2/4/8 — MSB-first packed scanlines, PLTE chunk,
# byte-level filters with bpp=1) or a 16-bit truecolor raster (6-byte
# pixels, big-endian samples, filters over a 6-byte unit). Both decode
# through the SAME decode_image dispatch and the SAME extract_image_stats
# reducer (now sample-width aware); the oracle recomputes the palette
# case from index-occurrence counts ((w*h - j + n - 1) // n pixels carry
# palette entry j when the index is raster-position % n) and the 16-bit
# case from the channel affine mod 65536 — so the bit unpacking, PLTE
# mapping, deep-sample reassembly, and all five filters sit in the hash.
_MM_PNG_DEEP_ORACLE = """
WITH h AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(text), 1, 8))::UBIGINT AS BIGINT) AS x
    FROM documents
), dims AS (
    SELECT doc_id,
           CAST(8 + x % 25 AS INT) AS width,
           CAST(8 + (x // 7) % 17 AS INT) AS height,
           x % 251 AS base,
           x % 5 AS v,
           CASE x % 5 WHEN 0 THEN 2 WHEN 1 THEN 4 WHEN 2 THEN 16
                ELSE 256 END AS n
    FROM h
), px AS (
    SELECT doc_id, width, height,
           CAST(width * height AS BIGINT) AS n_pixels,
           CASE WHEN v = 4 THEN
               CAST(list_sum([
                   ((base + 11*(p // width) + (p % width) // 3) % 256
                    * 4021 + 17) % 65536
                   FOR p IN range(0, width*height)]) AS BIGINT)
           ELSE
               CAST(list_sum([
                   ((width*height - j + n - 1) // n)
                   * (((base + 37*j) % 256 * 19 + 3) % 256)
                   FOR j IN range(0, n)]) AS BIGINT)
           END AS sum_r,
           CASE WHEN v = 4 THEN
               CAST(list_sum([
                   ((base + 11*(p // width) + (p % width) // 3) % 256
                    * 4423 + 29) % 65536
                   FOR p IN range(0, width*height)]) AS BIGINT)
           ELSE
               CAST(list_sum([
                   ((width*height - j + n - 1) // n)
                   * (((base + 37*j) % 256 * 23 + 9) % 256)
                   FOR j IN range(0, n)]) AS BIGINT)
           END AS sum_g,
           CASE WHEN v = 4 THEN
               CAST(list_sum([
                   ((base + 11*(p // width) + (p % width) // 3) % 256
                    * 4621 + 43) % 65536
                   FOR p IN range(0, width*height)]) AS BIGINT)
           ELSE
               CAST(list_sum([
                   ((width*height - j + n - 1) // n)
                   * (((base + 37*j) % 256 * 29 + 13) % 256)
                   FOR j IN range(0, n)]) AS BIGINT)
           END AS sum_b
    FROM dims
)
SELECT doc_id, width, height, n_pixels,
       sum_r, sum_g, sum_b,
       CAST(sum_r * 10000 // n_pixels AS BIGINT) AS mean_r_q4,
       CAST(sum_g * 10000 // n_pixels AS BIGINT) AS mean_g_q4,
       CAST(sum_b * 10000 // n_pixels AS BIGINT) AS mean_b_q4
FROM px
"""


@register("multimodal_decode_png_deep", oracle=_MM_PNG_DEEP_ORACLE)
def multimodal_decode_png_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Indexed-color and 16-bit PNG decode end to end: plant PLTE
    payloads at depths 1/2/4/8 plus 16-bit truecolor (operators/
    multimodal.plant_png_deep — real encoders through the shared
    filter machinery), decode with the widened pure-python chunk walk
    (_decode_png), reduce through the sample-width-aware
    extract_image_stats. Same two-stage mapInPandas shape and 100 TB
    layout notes as multimodal_decode; the profile residual shrinks to
    grayscale/alpha color types and Adam7."""
    from strava_data_pipeline_spark.operators import multimodal as M

    docs = load_docs(spark, sf_dir)
    seeded = docs.select("doc_id", md5_u32(F.col("text")).alias("x"))
    return M.extract_image_stats(
        M.attach_ppm_payload(seeded, planter=M.plant_png_deep)
    )


# --------------------------------------------------------------------------
# 216. multimodal_decode_jpeg — real baseline JPEG decode end to end
# --------------------------------------------------------------------------
# The FINAL codec de-stub: grayscale baseline JPEG, real in both
# directions (true forward DCT + DPCM/run-length Huffman in the
# encoder; generic marker walk, file-supplied DQT/DHT tables, entropy
# decode, dequant, full float IDCT in the decoder). Plants are flat
# 8x8 blocks under Q[DC]=8, which makes the DCT round-trip exact
# integer arithmetic (flat block -> DC-only spectrum -> IDCT returns
# the flat value exactly), so the oracle recomputes every pixel while
# both Huffman coders and the IDCT sit inside the hash. Non-flat
# content is pytest-covered against quantization-error bounds. Color
# and progressive JPEG remain the typed profile gap.
_MM_JPEG_ORACLE = """
WITH h AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(text), 1, 8))::UBIGINT AS BIGINT) AS x
    FROM documents
), dims AS (
    SELECT doc_id,
           CAST(8 * (1 + x % 4) AS INT) AS width,
           CAST(8 * (1 + (x // 7) % 3) AS INT) AS height,
           1 + x % 4 AS bw,
           1 + (x // 7) % 3 AS bh,
           x % 251 AS base
    FROM h
), px AS (
    SELECT doc_id, width, height,
           CAST(width * height AS BIGINT) AS n_pixels,
           CAST(64 * list_sum([
               (base + 11*(b // bw) + 3*(b % bw)) % 201 + 20
               FOR b IN range(0, bw*bh)]) AS BIGINT) AS s
    FROM dims
)
SELECT doc_id, width, height, n_pixels,
       s AS sum_r, s AS sum_g, s AS sum_b,
       CAST(s * 10000 // n_pixels AS BIGINT) AS mean_r_q4,
       CAST(s * 10000 // n_pixels AS BIGINT) AS mean_g_q4,
       CAST(s * 10000 // n_pixels AS BIGINT) AS mean_b_q4
FROM px
"""


@register("multimodal_decode_jpeg", oracle=_MM_JPEG_ORACLE)
def multimodal_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real TRANSFORM-CODED image decode through the Arrow path: plant
    baseline grayscale JPEGs (operators/multimodal.plant_jpeg — real
    forward DCT, quantization, DPCM + run-length Huffman, byte
    stuffing), decode with the pure-python marker walk + entropy
    decoder + full IDCT (_decode_jpeg), reduce to the same channel
    stats as the P6/BMP/GIF/PNG paths. Format-dispatched through the
    SAME decode_image entry — FIVE real codecs, zero format stubs
    (color/progressive JPEG is the one remaining PROFILE gap). Same
    two-stage mapInPandas shape and 100 TB layout notes as
    multimodal_decode."""
    from strava_data_pipeline_spark.operators import multimodal as M

    docs = load_docs(spark, sf_dir)
    seeded = docs.select("doc_id", md5_u32(F.col("text")).alias("x"))
    return M.extract_image_stats(
        M.attach_ppm_payload(seeded, planter=M.plant_jpeg)
    )


# --------------------------------------------------------------------------
# 217. multimodal_decode_wav — real AUDIO decode end to end (r9)
# --------------------------------------------------------------------------
# The audio modality joins the pipeline: planted RIFF/WAVE 16-bit PCM
# payloads (real writer) decoded by the real chunk-walk parser
# (operators/multimodal.decode_audio — fmt validation, unknown-chunk
# skipping with odd-size padding, little-endian sample extraction),
# reduced to exact-BIGINT amplitude stats. The planted samples are a
# quadratic residue pattern ((base*31 + 7i² + 13i) % 4001 − 2000), so
# a byte-order or sign bug cannot cancel in the sums; the oracle
# recomputes every sample. Compressed audio (MP3/AAC) = typed profile
# gap through the same dispatch, like JPEG color.
_MM_WAV_ORACLE = """
WITH h AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(text), 1, 8))::UBIGINT AS BIGINT) AS x
    FROM documents
), dims AS (
    SELECT doc_id,
           CAST(8000 + (x % 5) * 2000 AS BIGINT) AS sample_rate,
           CAST(256 + x % 512 AS BIGINT) AS n_samples,
           x % 251 AS base
    FROM h
), s AS (
    SELECT doc_id, sample_rate, n_samples,
           [(base*31 + 7*i*i + 13*i) % 4001 - 2000
            FOR i IN range(0, n_samples)] AS smp
    FROM dims
)
SELECT doc_id, sample_rate, n_samples,
       CAST(list_sum(smp) AS BIGINT) AS sum_amp,
       CAST(list_sum([abs(v) FOR v IN smp]) AS BIGINT) AS sum_abs,
       CAST(list_max([abs(v) FOR v IN smp]) AS BIGINT) AS peak_abs,
       CAST(list_sum([abs(v) FOR v IN smp]) * 10000 // n_samples
            AS BIGINT) AS mean_abs_q4
FROM s
"""


@register("multimodal_decode_wav", oracle=_MM_WAV_ORACLE)
def multimodal_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real AUDIO decode through the Arrow path: plant RIFF/WAVE PCM
    payloads (operators/multimodal.plant_wav — real writer), decode
    with the pure-python chunk walk + PCM extraction (decode_audio),
    reduce to exact-BIGINT amplitude stats (extract_audio_stats). Same
    two-stage mapInPandas shape as the image rows — the audio modality
    is now first-class alongside the five image codecs. 100 TB notes
    as multimodal_decode: the payload column prunes unless requested,
    rows map 1:1, Arrow batches bound memory."""
    from strava_data_pipeline_spark.operators import multimodal as M

    docs = load_docs(spark, sf_dir)
    seeded = docs.select("doc_id", md5_u32(F.col("text")).alias("x"))
    return M.extract_audio_stats(
        M.attach_ppm_payload(seeded, planter=M.plant_wav)
    )


# --------------------------------------------------------------------------
# 222. multimodal_decode_wav_ima — IMA-ADPCM audio (compressed profile)
# --------------------------------------------------------------------------
# The audio-residual shrink (r9 verdict task 5 named it as the WAV
# option): format-0x11 IMA/DVI ADPCM through the SAME decode_audio
# chunk walk — per-block (predictor, step-index) header state,
# low-nibble-first 4-bit codes through the public step/index tables,
# clamps, fact-chunk pad trimming. The decoded signal is a pure
# integer RECURRENCE, so the DuckDB oracle replays it with a
# RECURSIVE CTE over the same tables (one row per doc per step; the
# list_reduce lambda alternative was rejected — its struct fields
# observe earlier fields' in-place writes inconsistently between
# steps, an order-of-evaluation hazard no oracle should stand on).
# The pure-python ENCODER (encode_wav_ima, reconstruction-feedback
# quantizer) is pytest-pinned to agree with the decoder exactly; the
# plant emits closed-form codes so the oracle is seed-computable.
# Residual: compressed audio beyond ADPCM (MP3/AAC) stays typed.
_MM_WAV_IMA_ORACLE = """
WITH RECURSIVE h AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(text), 1, 8))::UBIGINT AS BIGINT) AS x
    FROM documents
), dims AS (
    SELECT doc_id,
           CAST(8000 + (x % 5) * 2000 AS BIGINT) AS sample_rate,
           (x * 23) % 2048 - 1024 AS pred0,
           x % 89 AS idx0,
           x % 251 AS base,
           64 + 2 * (x % 97) AS n_codes
    FROM h
), st AS (
    SELECT doc_id, sample_rate, n_codes, base, 0 AS j,
           CAST(pred0 AS BIGINT) AS p, CAST(idx0 AS BIGINT) AS i,
           CAST(pred0 AS BIGINT) AS s, CAST(abs(pred0) AS BIGINT) AS sa,
           CAST(abs(pred0) AS BIGINT) AS pk
    FROM dims
    UNION ALL
    SELECT doc_id, sample_rate, n_codes, base, j + 1,
           greatest(-32768, least(32767, p + (CASE WHEN (((base + 7*j + j*j) % 16) & 8) = 8 THEN -((([7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,32767][i + 1]) // 8) + ((((base + 7*j + j*j) % 16) & 1) * (([7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,32767][i + 1]) // 4)) + (((((base + 7*j + j*j) % 16) & 2) // 2) * (([7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,32767][i + 1]) // 2)) + (((((base + 7*j + j*j) % 16) & 4) // 4) * ([7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,32767][i + 1]))) ELSE ((([7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,32767][i + 1]) // 8) + ((((base + 7*j + j*j) % 16) & 1) * (([7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,32767][i + 1]) // 4)) + (((((base + 7*j + j*j) % 16) & 2) // 2) * (([7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,32767][i + 1]) // 2)) + (((((base + 7*j + j*j) % 16) & 4) // 4) * ([7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,32767][i + 1]))) END))), greatest(0, least(88, i + [-1,-1,-1,-1,2,4,6,8,-1,-1,-1,-1,2,4,6,8][((base + 7*j + j*j) % 16) + 1])),
           s + greatest(-32768, least(32767, p + (CASE WHEN (((base + 7*j + j*j) % 16) & 8) = 8 THEN -((([7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,32767][i + 1]) // 8) + ((((base + 7*j + j*j) % 16) & 1) * (([7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,32767][i + 1]) // 4)) + (((((base + 7*j + j*j) % 16) & 2) // 2) * (([7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,32767][i + 1]) // 2)) + (((((base + 7*j + j*j) % 16) & 4) // 4) * ([7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,32767][i + 1]))) ELSE ((([7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,32767][i + 1]) // 8) + ((((base + 7*j + j*j) % 16) & 1) * (([7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,32767][i + 1]) // 4)) + (((((base + 7*j + j*j) % 16) & 2) // 2) * (([7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,32767][i + 1]) // 2)) + (((((base + 7*j + j*j) % 16) & 4) // 4) * ([7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,32767][i + 1]))) END))), sa + abs(greatest(-32768, least(32767, p + (CASE WHEN (((base + 7*j + j*j) % 16) & 8) = 8 THEN -((([7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,32767][i + 1]) // 8) + ((((base + 7*j + j*j) % 16) & 1) * (([7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,32767][i + 1]) // 4)) + (((((base + 7*j + j*j) % 16) & 2) // 2) * (([7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,32767][i + 1]) // 2)) + (((((base + 7*j + j*j) % 16) & 4) // 4) * ([7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,32767][i + 1]))) ELSE ((([7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,32767][i + 1]) // 8) + ((((base + 7*j + j*j) % 16) & 1) * (([7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,32767][i + 1]) // 4)) + (((((base + 7*j + j*j) % 16) & 2) // 2) * (([7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,32767][i + 1]) // 2)) + (((((base + 7*j + j*j) % 16) & 4) // 4) * ([7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,32767][i + 1]))) END)))),
           greatest(pk, abs(greatest(-32768, least(32767, p + (CASE WHEN (((base + 7*j + j*j) % 16) & 8) = 8 THEN -((([7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,32767][i + 1]) // 8) + ((((base + 7*j + j*j) % 16) & 1) * (([7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,32767][i + 1]) // 4)) + (((((base + 7*j + j*j) % 16) & 2) // 2) * (([7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,32767][i + 1]) // 2)) + (((((base + 7*j + j*j) % 16) & 4) // 4) * ([7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,32767][i + 1]))) ELSE ((([7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,32767][i + 1]) // 8) + ((((base + 7*j + j*j) % 16) & 1) * (([7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,32767][i + 1]) // 4)) + (((((base + 7*j + j*j) % 16) & 2) // 2) * (([7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,32767][i + 1]) // 2)) + (((((base + 7*j + j*j) % 16) & 4) // 4) * ([7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,32767][i + 1]))) END)))))
    FROM st WHERE j < n_codes
)
SELECT doc_id, sample_rate, n_codes + 1 AS n_samples,
       CAST(s AS BIGINT) AS sum_amp,
       CAST(sa AS BIGINT) AS sum_abs,
       CAST(pk AS BIGINT) AS peak_abs,
       CAST(sa * 10000 // (n_codes + 1) AS BIGINT) AS mean_abs_q4
FROM st WHERE j = n_codes
"""


@register("multimodal_decode_wav_ima", oracle=_MM_WAV_IMA_ORACLE)
def multimodal_decode_wav_ima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-audio decode end to end: plant IMA-ADPCM WAV
    payloads (operators/multimodal.plant_wav_ima — real container
    writer + closed-form 4-bit codes), decode through the widened
    decode_audio (format 0x11: block-header state, step/index tables,
    nibble order, clamps, fact trimming), reduce with the same
    extract_audio_stats as the PCM row. The oracle replays the decode
    recurrence exactly in SQL (recursive CTE); the real PCM->ADPCM
    encoder is pytest-pinned against the decoder (state-feedback
    equality). Same two-stage mapInPandas shape and 100 TB notes as
    multimodal_decode_wav."""
    from strava_data_pipeline_spark.operators import multimodal as M

    docs = load_docs(spark, sf_dir)
    seeded = docs.select("doc_id", md5_u32(F.col("text")).alias("x"))
    return M.extract_audio_stats(
        M.attach_ppm_payload(seeded, planter=M.plant_wav_ima)
    )


# --------------------------------------------------------------------------
# 218. multimodal_frame_sample — real frame sampling end to end (r9)
# --------------------------------------------------------------------------
# De-stubs sample_frames, the last stubbed multimodal operation: plant
# ANIMATED GIFs (real multi-frame GIF89a writer — graphic-control
# extension + independently LZW-compressed raster per frame), sample
# every 2nd frame through the REAL sample_frames entry (decode ->
# stride -> P6 re-encode, the sampled bytes re-decoded before the
# reduction so the encoder is in the hash), and sum channels over the
# SAMPLED frames only. Frame f's raster carries a 29f term, so
# sampling the wrong frames — off-by-one stride, dropped first frame,
# trailing frame kept — moves the sums. The video-shaped modality
# face: frame sequences as first-class payloads.
_MM_FRAMES_ORACLE = """
WITH h AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(text), 1, 8))::UBIGINT AS BIGINT) AS x
    FROM documents
), dims AS (
    SELECT doc_id,
           CAST(8 + x % 15 AS INT) AS width,
           CAST(8 + (x // 7) % 9 AS INT) AS height,
           CAST(2 + x % 4 AS BIGINT) AS n_frames,
           x % 251 AS base
    FROM h
)
SELECT doc_id, width, height, n_frames,
       CAST((n_frames + 1) // 2 AS BIGINT) AS n_sampled,
       CAST(list_sum([list_sum([
           ((base + 11*(p // width) + (p % width) // 3 + 29*f)
            % 256 * 11 + 5) % 256
           FOR p IN range(0, width*height)])
           FOR f IN range(0, n_frames, 2)]) AS BIGINT) AS sum_r,
       CAST(list_sum([list_sum([
           ((base + 11*(p // width) + (p % width) // 3 + 29*f)
            % 256 * 13 + 7) % 256
           FOR p IN range(0, width*height)])
           FOR f IN range(0, n_frames, 2)]) AS BIGINT) AS sum_g,
       CAST(list_sum([list_sum([
           ((base + 11*(p // width) + (p % width) // 3 + 29*f)
            % 256 * 17 + 11) % 256
           FOR p IN range(0, width*height)])
           FOR f IN range(0, n_frames, 2)]) AS BIGINT) AS sum_b
FROM dims
"""


@register("multimodal_frame_sample", oracle=_MM_FRAMES_ORACLE)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real FRAME SAMPLING through the Arrow path: plant animated GIFs
    (operators/multimodal.plant_gif_animated), stride-2 sample through
    the real sample_frames operator, reduce the sampled frames'
    channels (extract_frame_stats). Every plant is genuinely
    multi-frame (2-5 frames), every frame distinct, so the stride and
    the frame boundaries are load-bearing in the hash. Same two-stage
    mapInPandas shape and 100 TB layout notes as the decode rows."""
    from strava_data_pipeline_spark.operators import multimodal as M

    docs = load_docs(spark, sf_dir)
    seeded = docs.select("doc_id", md5_u32(F.col("text")).alias("x"))
    return M.extract_frame_stats(
        M.attach_ppm_payload(seeded, planter=M.plant_gif_animated), every_n=2
    )


# --------------------------------------------------------------------------
# 211. multimodal_resize — real nearest-neighbor resize end to end
# --------------------------------------------------------------------------
# De-stubs resize_image: GIF payloads are decoded (full LZW), downscaled
# by REAL nearest-neighbor resampling to (1 + w//3, 1 + h//3),
# re-encoded as P6, and the RESIZED bytes decoded again — so the
# resample index mapping (src row = r2*h // h2, src col = c2*w // w2)
# AND the P6 encoder round-trip both land in the hash. The oracle
# recomputes the sampled pixels arithmetically: for each target pixel
# the source index is exact integer math over the planted affine
# index/palette, no floats anywhere.
_MM_RESIZE_ORACLE = """
WITH h AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(text), 1, 8))::UBIGINT AS BIGINT) AS x
    FROM documents
), dims AS (
    SELECT doc_id,
           CAST(8 + x % 25 AS BIGINT) AS w,
           CAST(8 + (x // 7) % 17 AS BIGINT) AS h0,
           x % 251 AS base
    FROM h
), d2 AS (
    SELECT doc_id, w, h0, base,
           1 + w // 3 AS w2, 1 + h0 // 3 AS h2
    FROM dims
), px AS (
    SELECT doc_id,
           CAST(w2 AS INT) AS width, CAST(h2 AS INT) AS height,
           CAST(w2 * h2 AS BIGINT) AS n_pixels,
           CAST(list_sum([
               ((base + 11*((p // w2) * h0 // h2)
                 + (((p % w2) * w // w2) // 3)) % 256 * 11 + 5) % 256
               FOR p IN range(0, w2*h2)]) AS BIGINT) AS sum_r,
           CAST(list_sum([
               ((base + 11*((p // w2) * h0 // h2)
                 + (((p % w2) * w // w2) // 3)) % 256 * 13 + 7) % 256
               FOR p IN range(0, w2*h2)]) AS BIGINT) AS sum_g,
           CAST(list_sum([
               ((base + 11*((p // w2) * h0 // h2)
                 + (((p % w2) * w // w2) // 3)) % 256 * 17 + 11) % 256
               FOR p IN range(0, w2*h2)]) AS BIGINT) AS sum_b
    FROM d2
)
SELECT doc_id, width, height, n_pixels,
       sum_r, sum_g, sum_b,
       CAST(sum_r * 10000 // n_pixels AS BIGINT) AS mean_r_q4,
       CAST(sum_g * 10000 // n_pixels AS BIGINT) AS mean_g_q4,
       CAST(sum_b * 10000 // n_pixels AS BIGINT) AS mean_b_q4
FROM px
"""


@register("multimodal_resize", oracle=_MM_RESIZE_ORACLE)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real image RESIZE through the Arrow path: plant LZW GIFs,
    decode → nearest-neighbor downscale (operators/multimodal.
    resize_image — the former stub, now real for every decodable
    format) → P6 re-encode → re-decode → channel stats of the SMALL
    raster. A wrong sample index, an off-by-one in the target grid, or
    a P6 writer bug shifts a channel sum and breaks the hash. Same
    two-stage mapInPandas shape and 100 TB layout notes as the decode
    rows; resize composes decode, so the whole LZW path rides along."""
    from strava_data_pipeline_spark.operators import multimodal as M

    docs = load_docs(spark, sf_dir)
    seeded = docs.select("doc_id", md5_u32(F.col("text")).alias("x"))
    return M.extract_resized_image_stats(
        M.attach_ppm_payload(seeded, planter=M.plant_gif)
    )


# --------------------------------------------------------------------------
# 40. corpus_dedup_keep — end-to-end dedup application (keep-list)
# --------------------------------------------------------------------------
def _dedup_keep_oracle() -> str:
    return f"""
WITH dropd AS (
    SELECT DISTINCT doc_b FROM ({_minhash_oracle()}) WHERE est_jaccard >= 0.75
)
SELECT d.doc_id, d.lang, d.source
FROM documents d WHERE d.doc_id NOT IN (SELECT doc_b FROM dropd)
"""


@register("corpus_dedup_keep", oracle=_dedup_keep_oracle())
def corpus_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline step the pair-finders feed: drop the higher-id doc
    of every confident near-dup pair (est_jaccard >= 0.75) via a
    left-anti join — the keep-list that downstream training reads.
    The anti-join shuffles only doc_ids, never document bodies."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(D.minhash_signatures(docs))
    drop = (
        pairs.where(F.col("est_jaccard") >= 0.75)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    return docs.join(drop, "doc_id", "left_anti").select("doc_id", "lang", "source")


# --------------------------------------------------------------------------
# 41. token_histogram — corpus token-budget planning
# --------------------------------------------------------------------------
_TOKEN_HIST_ORACLE = rf"""
WITH tc AS (
    SELECT CAST(len({DUCK_TOKENS}) AS BIGINT) AS n FROM documents
)
SELECT CAST(CASE WHEN n > 0 THEN floor(log2(n)) ELSE -1 END AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n) AS BIGINT) AS total_tokens
FROM tc GROUP BY 1
"""


@register("token_histogram", oracle=_TOKEN_HIST_ORACLE)
def token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two histogram of per-doc token counts — the corpus
    profile a training-data budget is planned from. One narrow scan,
    one tiny agg."""
    docs = load_docs(spark, sf_dir)
    tc = docs.select(T.ws_token_count(F.col("text")).alias("n"))
    bucket = (
        F.when(F.col("n") > 0, F.floor(F.log2("n"))).otherwise(F.lit(-1)).cast("int")
    )
    return tc.groupBy(bucket.alias("bucket")).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n").cast("bigint").alias("total_tokens"),
    )


# --------------------------------------------------------------------------
# 44. corpus_split_counts — deterministic train/val/test assignment
# --------------------------------------------------------------------------
def _bucket_duck(key_expr: str, salt: str) -> str:
    # coalesce mirrors sampling.hash_bucket's null-key sentinel so the
    # bucket function stays engine-identical even on null-key corpora
    inner = (
        "concat(coalesce(CAST(" + key_expr + " AS VARCHAR), chr(1) || 'null'), '"
        + salt + "')"
    )
    return f"({md5_u32_duckdb(inner)}) % 1000"


_SPLIT_ORACLE = f"""
WITH labeled AS (
    SELECT lang,
           CASE WHEN {_bucket_duck('doc_id', 'split')} < 800 THEN 'train'
                WHEN {_bucket_duck('doc_id', 'split')} < 900 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
)
SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs
FROM labeled GROUP BY 1, 2
"""


@register("corpus_split_counts", oracle=_SPLIT_ORACLE)
def corpus_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable 80/10/10 train/val/test assignment keyed on the content
    hash — a doc's split never changes as the corpus grows, the
    property that prevents cross-run train/test contamination. Narrow
    per-row expression, no shuffle before the count."""
    from strava_data_pipeline_spark.operators.sampling import assign_split

    docs = load_table(spark, sf_dir, "documents")
    return (
        assign_split(docs)
        .groupBy("split", "lang")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )


# --------------------------------------------------------------------------
# 45. corpus_mixture — source-weighted down-sampling
# --------------------------------------------------------------------------
_MIX_WEIGHTS = {"src0": 1.0, "src1": 0.5, "src2": 0.25}

_MIX_ORACLE = f"""
WITH kept AS (
    SELECT source FROM documents
    WHERE {_bucket_duck('doc_id', 'mix')} <
          CASE source WHEN 'src0' THEN 1000 WHEN 'src1' THEN 500
                      WHEN 'src2' THEN 250 ELSE 1000 END
)
SELECT source, CAST(count(*) AS BIGINT) AS n_kept
FROM kept GROUP BY 1
"""


@register("corpus_mixture", oracle=_MIX_ORACLE)
def corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebalance the training mix: keep 100% of src0, 50% of src1,
    25% of src2 (others whole) via deterministic per-row hash gates —
    reproducible under retries, repartitioning, and engine swaps."""
    from strava_data_pipeline_spark.operators.sampling import weighted_mixture

    docs = load_table(spark, sf_dir, "documents")
    return (
        weighted_mixture(docs, _MIX_WEIGHTS)
        .groupBy("source")
        .agg(F.count("*").cast("bigint").alias("n_kept"))
    )


# --------------------------------------------------------------------------
# 55. corpus_pack_bins — sharded sequence packing for training batches
# --------------------------------------------------------------------------
_PACK_BUDGET = 2048
_PACK_SHARDS = 16

_PACK_ORACLE = f"""
WITH tc AS (
    SELECT doc_id,
           CAST(len({DUCK_TOKENS}) AS BIGINT) AS n_tokens,
           CAST({md5_u32_duckdb("concat(CAST(doc_id AS VARCHAR), 'pack')")} % {_PACK_SHARDS} AS INT) AS shard,
           {md5_u32_duckdb("concat('order:', CAST(doc_id AS VARCHAR))")} AS sort_key
    FROM documents
), packed AS (
    SELECT doc_id, n_tokens, shard,
           sum(n_tokens) OVER (PARTITION BY shard ORDER BY sort_key, doc_id
               ROWS UNBOUNDED PRECEDING) AS cum
    FROM tc
)
SELECT doc_id, shard, n_tokens,
       CAST(floor((cum - n_tokens) / {_PACK_BUDGET}) AS BIGINT) AS bin
FROM packed
"""


@register("corpus_pack_bins", oracle=_PACK_ORACLE)
def corpus_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training batches: assign each doc to a
    (shard, bin) so a bin's docs concatenate to ~2048 tokens.

    Scale shape: docs hash into 16 shards and the running token sum is
    a window WITHIN each shard — never a global single-partition
    cumsum. A doc's bin is where its first token lands
    (floor(start_offset / budget)), the standard approximate-packing
    rule; the hash order is stable, so packing is reproducible across
    runs, retries, and engines. At 100 TB, shard count scales with the
    cluster and each shard's window stays an independent task chain.
    """
    docs = load_docs(spark, sf_dir)
    tc = docs.select(
        "doc_id",
        T.ws_token_count(F.col("text")).alias("n_tokens"),
        (
            md5_u32(F.concat(F.col("doc_id").cast("string"), F.lit("pack")))
            % _PACK_SHARDS
        )
        .cast("int")
        .alias("shard"),
        md5_u32(F.concat(F.lit("order:"), F.col("doc_id").cast("string"))).alias(
            "sort_key"
        ),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("sort_key", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return tc.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / _PACK_BUDGET)
        .cast("bigint")
        .alias("bin"),
    )


# --------------------------------------------------------------------------
# 56. embedding_quantize — int8 scalar quantization of the vector column
# --------------------------------------------------------------------------
# floor(x + 0.5) instead of round(): identical symmetric behavior in
# both engines (round() half-way rules differ), and the scale factor is
# derived from the vector's own max-abs so the math is elementwise IEEE
# double on both sides.
_QUANT_ORACLE = """
WITH e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
), scaled AS (
    -- floor-based half-up rounding, NOT round(): Spark's round() rounds
    -- the shortest decimal repr of the double where DuckDB rounds the
    -- true binary value — they disagree exactly on .xxx5-shortest-repr
    -- boundaries. floor() is a pure double op: bit-identical engines.
    SELECT vec_id, v,
           floor(list_max(list_transform(v, x -> abs(x))) * 1000000 + 0.5)
             / 1000000 AS max_abs_r
    FROM e
)
SELECT vec_id,
       max_abs_r AS max_abs,
       -- serialized as a canonical CSV string, not array<int>: the driver
       -- canonicalizer sorts result rows via pandas, which cannot hash
       -- list cells — same information, hash-stable under any harness.
       array_to_string(
           list_transform(v, x -> CAST(floor(x * (127.0 / max_abs_r) + 0.5) AS INT)),
           ',') AS q
FROM scaled
"""


@register("embedding_quantize", oracle=_QUANT_ORACLE)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 scalar quantization (symmetric, max-abs scale):
    4× smaller than float32 on disk and in shuffle — the standard
    storage form for a 100 TB embedding corpus; search scores int8
    dot products and rescales by max_abs/127 per vector. Elementwise
    higher-order functions, zero UDFs, no shuffle at all."""
    from strava_data_pipeline_spark.functions import vectors as V

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", V.as_double(F.col("embedding")).alias("v")
    )
    # The STORED (rounded) scale is also the quantization scale, so
    # dequantization by max_abs/127 inverts exactly. Rounding is
    # floor(x*1e6+0.5)/1e6 — a pure double op both engines compute
    # bit-identically (F.round half-ups the shortest decimal repr,
    # which disagrees with DuckDB's true-binary round on boundary
    # values). Two select stages so the scale reference is unambiguous
    # (a same-select alias reuse resolves laterally in Spark 4).
    max_abs = F.array_max(F.transform(F.col("v"), lambda x: F.abs(x)))
    scaled = e.select(
        "vec_id",
        "v",
        (F.floor(max_abs * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)).alias(
            "max_abs_r"
        ),
    )
    # q is serialized to a canonical comma-joined string (int elements
    # render identically in both engines) so the driver's pandas-based
    # row canonicalizer can sort/hash it — array<int> cells are
    # unhashable there.  Same bytes of information, zero extra shuffle.
    return scaled.select(
        "vec_id",
        F.col("max_abs_r").alias("max_abs"),
        F.array_join(
            F.transform(
                F.col("v"),
                lambda x: F.floor(
                    x * (F.lit(127.0) / F.col("max_abs_r")) + F.lit(0.5)
                )
                .cast("int")
                .cast("string"),
            ),
            ",",
        ).alias("q"),
    )


# --------------------------------------------------------------------------
# 65. dedup_clusters — connected components over near-dup pairs
# --------------------------------------------------------------------------
def _clusters_oracle() -> str:
    # Transitive closure via recursive CTE is exponential-free here
    # because UNION dedups and components are tiny; the Spark side is
    # the scale path (O(log d) label-propagation rounds).
    return f"""
WITH RECURSIVE
prs AS (
    SELECT doc_a, doc_b FROM ({_minhash_oracle()}) WHERE est_jaccard >= 0.75
),
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM prs
    UNION
    SELECT doc_b AS a, doc_a AS b FROM prs
),
reach(a, b) AS (
    SELECT a, b FROM edges
    UNION
    SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
labels AS (
    SELECT a AS doc_id, least(a, min(b)) AS comp FROM reach GROUP BY a
)
SELECT d.doc_id,
       CAST(coalesce(l.comp, d.doc_id) AS BIGINT) AS cluster_id,
       coalesce(l.comp, d.doc_id) = d.doc_id AS is_canonical
FROM documents d LEFT JOIN labels l USING (doc_id)
"""


@register("dedup_clusters", oracle=_clusters_oracle())
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS, not just pairs: transitive closure of the
    confident minhash pairs (est_jaccard >= 0.75) via iterative
    label propagation with pointer jumping (operators/graph.py), so
    chained duplicates A~B~C collapse to one canonical doc even when
    A~C was never emitted as a pair. Every doc maps to a cluster
    (singletons to themselves); is_canonical marks the survivor the
    keep-list retains."""
    from strava_data_pipeline_spark.operators import graph as G

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(D.minhash_signatures(docs)).where(
        F.col("est_jaccard") >= 0.75
    )
    asg = G.cluster_assignments(
        docs.select("doc_id"), pairs, "doc_id", src="doc_a", dst="doc_b"
    )
    return asg.select(
        "doc_id",
        "cluster_id",
        (F.col("cluster_id") == F.col("doc_id")).alias("is_canonical"),
    )


# --------------------------------------------------------------------------
# 66. decontaminate — benchmark n-gram overlap flagging
# --------------------------------------------------------------------------
# The eval set every training corpus must be scrubbed against, stood in
# for by a deterministic pseudo-benchmark (doc_id % 97 == 0). Overlap
# unit = the same distinct word-3-shingles the minhash dedup uses.
_DECONTAM_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, {DUCK_TOKENS} AS t FROM documents
), sh AS (
    -- shingles travel as portable u32 hashes on BOTH engines (the
    -- jaccard discipline): BIGINT distinct/join/broadcast, same result
    SELECT doc_id, {md5_u32_duckdb('shingle')} AS shingle
    FROM (SELECT doc_id, unnest({DUCK_SHINGLES}) AS shingle FROM toks)
), bench AS (
    SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0
), overlap AS (
    SELECT s.doc_id, CAST(count(DISTINCT s.shingle) AS BIGINT) AS n_shared
    FROM sh s JOIN bench b USING (shingle)
    WHERE s.doc_id % 97 <> 0
    GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(o.n_shared, 0) AS BIGINT) AS n_shared,
       coalesce(o.n_shared, 0) >= 2 AS contaminated
FROM documents d LEFT JOIN overlap o USING (doc_id)
WHERE d.doc_id % 97 <> 0
"""


@register("decontaminate", oracle=_DECONTAM_ORACLE)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: count distinct word-3-shingles each
    training doc shares with the benchmark set and flag docs at >= 2
    shared shingles. The benchmark shingle set is tiny by nature (eval
    suites, not corpora) so it BROADCASTS — the 100 TB training side
    never shuffles, it streams through an explode + broadcast-hash
    probe + per-doc count. Every training doc is emitted (zeros kept)
    so the scrub is auditable."""
    docs = load_docs(spark, sf_dir)
    shingled = docs.select(
        "doc_id",
        F.explode(T.word_shingles(T.tokens(F.col("text")))).alias("_sh"),
    ).select("doc_id", md5_u32(F.col("_sh")).alias("shingle"))
    bench = (
        shingled.where(F.col("doc_id") % 97 == 0).select("shingle").distinct()
    )
    train = docs.where(F.col("doc_id") % 97 != 0)
    overlap = (
        shingled.where(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.countDistinct("shingle").cast("bigint").alias("n_shared"))
    )
    return (
        train.select("doc_id")
        .join(overlap, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shared", F.lit(0)).cast("bigint").alias("n_shared"),
            (F.coalesce("n_shared", F.lit(0)) >= 2).alias("contaminated"),
        )
    )


# --------------------------------------------------------------------------
# 67. quality_filter — Gopher-style rule gate
# --------------------------------------------------------------------------
# Rule bounds sit inside the observed corpus ranges (tokens 10..99,
# distinct-ratio 0.28..1.0, avg token length 4.7..6.2) so every rule
# rejects SOME docs — a non-vacuous gate, unlike textbook bounds that
# would pass or fail the whole synthetic corpus.
_QFILTER_ORACLE = f"""
WITH base AS (
    SELECT doc_id,
           CAST(len({DUCK_TOKENS}) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct({DUCK_TOKENS})) AS BIGINT) AS n_distinct,
           CAST(length(text) AS BIGINT) AS n_chars_calc
    FROM documents
)
SELECT doc_id, n_tokens,
       round(n_distinct * 1.0 / n_tokens, 4) AS distinct_ratio,
       round(n_chars_calc * 1.0 / n_tokens, 4) AS avg_token_len,
       n_tokens BETWEEN 20 AND 80 AS pass_length,
       n_distinct * 1.0 / n_tokens >= 0.35 AS pass_repetition,
       n_chars_calc * 1.0 / n_tokens BETWEEN 3.0 AND 6.0 AS pass_word_len,
       (n_tokens BETWEEN 20 AND 80)
         AND n_distinct * 1.0 / n_tokens >= 0.35
         AND n_chars_calc * 1.0 / n_tokens BETWEEN 3.0 AND 6.0 AS keep
FROM base
"""


@register("quality_filter", oracle=_QFILTER_ORACLE)
def quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality gate (Rae et al. 2021 §A1.1 re-expressed
    over this corpus): token-count bounds, distinct-token repetition
    ratio, mean word length — each rule a codegen-resident boolean, keep
    = AND of all. Ratios are exact rationals of bigints so the rule
    booleans are deterministic across engines; one scan, zero shuffles,
    zero UDFs."""
    docs = load_docs(spark, sf_dir)
    toks = T.tokens(F.col("text"))
    base = docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct"),
        F.length("text").cast("bigint").alias("n_chars_calc"),
    )
    d_ratio = F.col("n_distinct") / F.col("n_tokens")
    a_len = F.col("n_chars_calc") / F.col("n_tokens")
    p_len = F.col("n_tokens").between(20, 80)
    p_rep = d_ratio >= 0.35
    p_wl = a_len.between(3.0, 6.0)
    return base.select(
        "doc_id",
        "n_tokens",
        F.round(d_ratio, 4).alias("distinct_ratio"),
        F.round(a_len, 4).alias("avg_token_len"),
        p_len.alias("pass_length"),
        p_rep.alias("pass_repetition"),
        p_wl.alias("pass_word_len"),
        (p_len & p_rep & p_wl).alias("keep"),
    )


# --------------------------------------------------------------------------
# 68. tfidf_top_terms — per-source characteristic terms
# --------------------------------------------------------------------------
_TFIDF_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, source, unnest({DUCK_TOKENS}) AS term FROM documents
), tf AS (
    SELECT source, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2
), df AS (
    SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tok GROUP BY 1
), n AS (
    SELECT count(*) AS n_docs FROM documents
), scored AS (
    SELECT tf.source, tf.term, tf.tf, df.df,
           round(tf.tf * ln(n.n_docs * 1.0 / df.df), 6) AS score
    FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT source, term, tf, df, score,
       CAST(row_number() OVER (PARTITION BY source
                               ORDER BY score DESC, term ASC) AS BIGINT) AS rank
FROM scored
QUALIFY rank <= 5
"""


@register("tfidf_top_terms", oracle=_TFIDF_ORACLE)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per source by tf-idf. One explode of
    the token stream feeds BOTH aggregates: per-(source,term) tf and
    per-term document frequency; the df side is vocabulary-sized
    (zipf-bounded, shuffles (term, count) pairs only) and joins back on
    the hashed term. Ranking keys on the ROUNDED score in both engines
    (term as tiebreak) so an ulp of ln() can't reorder ranks. Top-5 per
    source is a bounded window — partitioned, not global."""
    docs = load_docs(spark, sf_dir)
    tok = docs.select(
        "doc_id", "source", F.explode(T.tokens(F.col("text"))).alias("term")
    )
    # one explode, one shuffle to (doc, term) grain; BOTH downstream
    # aggregates (tf per source-term, df per term) derive from it, so
    # AQE reuses the single exchange instead of exploding the token
    # stream twice
    doc_term = tok.groupBy("doc_id", "source", "term").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    tf = doc_term.groupBy("source", "term").agg(
        F.sum("cnt").cast("bigint").alias("tf")
    )
    df_ = doc_term.groupBy("term").agg(
        F.count("*").cast("bigint").alias("df")
    )
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .join(F.broadcast(n))
        .select(
            "source",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") * F.lit(1.0) / F.col("df")), 6
            ).alias("score"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= 5)
    )


# --------------------------------------------------------------------------
# 76. embedding_centroids — per-label mean vectors (offline IVF step)
# --------------------------------------------------------------------------
_CENTROID_ORACLE = """
SELECT label,
       CAST(dim AS INTEGER) AS dim,
       round(avg(val), 6) AS centroid,
       CAST(count(*) AS BIGINT) AS n_vectors
FROM (
    SELECT label,
           unnest(range(1, len(embedding) + 1)) AS dim,
           unnest(embedding) AS val
    FROM embeddings
)
GROUP BY 1, 2
"""


@register("embedding_centroids", oracle=_CENTROID_ORACLE)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean vectors in long (label, dim) form — the Lloyd
    update step ann_ivf's docstring defers to an offline pass: at scale
    this exact plan (posexplode → per-(list,dim) partial avg) IS the
    centroid refresh, shuffling (label, dim, sum, count) tuples, 64
    narrow rows per vector, never whole vectors. Long form keeps the
    cross-engine contract exact; array re-assembly is one
    sort-collect_list per label when needed."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", (F.col("pos") + 1).cast("int").alias("dim"))
        .agg(
            F.round(F.avg("val"), 6).alias("centroid"),
            F.count("*").cast("bigint").alias("n_vectors"),
        )
    )


# --------------------------------------------------------------------------
# 77. stratified_sample — exact-k deterministic sample per stratum
# --------------------------------------------------------------------------
_STRAT_ORACLE = f"""
SELECT doc_id, source, CAST(rn AS BIGINT) AS rank
FROM (
    SELECT doc_id, source,
           row_number() OVER (
               PARTITION BY source
               ORDER BY {md5_u32_duckdb("'strat:' || CAST(doc_id AS VARCHAR)")} ASC,
                        doc_id ASC) AS rn
    FROM documents
)
WHERE rn <= 5
"""


@register("stratified_sample", oracle=_STRAT_ORACLE)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY k=5 docs per source — the eval-set carve-out that
    fraction-based sampling (corpus_split_counts/corpus_mixture) cannot
    promise. Rank = portable md5 hash of the doc id (no RNG: re-runs,
    retries, and both engines pick the identical sample), per-stratum
    row_number window — partitioned, so it scales with the largest
    stratum. Composes with the hash-gate samplers: this pins counts,
    they pin rates."""
    docs = load_table(spark, sf_dir, "documents")
    rank_key = md5_u32(F.concat(F.lit("strat:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(
        F.col("__rk").asc(), F.col("doc_id").asc()
    )
    return (
        docs.select("doc_id", "source", rank_key.alias("__rk"))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= 5)
        .drop("__rk")
    )


# --------------------------------------------------------------------------
# 80. lang_confusion — labeled × predicted language matrix
# --------------------------------------------------------------------------
_LANG_CONFUSION_ORACLE = f"""
SELECT labeled_lang, predicted_lang,
       CAST(count(*) AS BIGINT) AS n_docs
FROM ({_lang_id_oracle()})
GROUP BY 1, 2
"""


@register("lang_confusion", oracle=_LANG_CONFUSION_ORACLE)
def lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the lang_id heuristic vs corpus labels —
    the monitoring rollup a pipeline runs before trusting a classifier
    gate. Pure composition: the per-doc vote feeds one tiny
    (lang × lang)-cardinality aggregate; map-side partials collapse
    the 100 TB scan to a handful of rows before the shuffle."""
    per_doc = lang_id(spark, sf_dir)
    return per_doc.groupBy("labeled_lang", "predicted_lang").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )


# --------------------------------------------------------------------------
# 82. corpus_dedup_keep_clusters — cluster-canonical keep-list
# --------------------------------------------------------------------------
_CLUSTER_KEEP_ORACLE = f"""
SELECT d.doc_id, d.lang, d.source
FROM documents d
JOIN ({_clusters_oracle()}) c USING (doc_id)
WHERE c.is_canonical
"""


@register("corpus_dedup_keep_clusters", oracle=_CLUSTER_KEEP_ORACLE)
def corpus_dedup_keep_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware keep-list: retain exactly ONE doc (the min-id
    canonical) per transitive near-dup cluster. Stricter than the
    pair-based corpus_dedup_keep when duplicates chain (A~B, B~C with
    no A~C pair): pair-dropping and cluster-dropping agree on chains
    rooted at the min id, but only the cluster form GUARANTEES one
    survivor per component regardless of which pairs the LSH bands
    happened to emit. Joins shuffle doc_ids only."""
    docs = load_table(spark, sf_dir, "documents")
    keep = dedup_clusters(spark, sf_dir).where(F.col("is_canonical")).select("doc_id")
    return docs.join(keep, "doc_id", "left_semi").select("doc_id", "lang", "source")


# --------------------------------------------------------------------------
# 83. unigram_logprob — corpus-LM fluency score (perplexity-filter proxy)
# --------------------------------------------------------------------------
_LOGPROB_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, unnest({DUCK_TOKENS}) AS term FROM documents
), freq AS (
    SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1
), n AS (
    SELECT CAST(count(*) AS BIGINT) AS n_total FROM tok
)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       round(sum(ln(f.cnt * 1.0 / n.n_total)) / count(*), 4) AS avg_logprob
FROM tok t JOIN freq f USING (term) CROSS JOIN n
GROUP BY 1
"""


@register("unigram_logprob", oracle=_LOGPROB_ORACLE)
def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean unigram log-probability per doc under the corpus's own
    token distribution — the distributed stand-in for KenLM-style
    perplexity filtering (real pipelines swap the frequency dim for a
    trained LM table; the plan is identical). One token explode feeds
    the vocabulary-sized frequency dim AND the per-doc score; the dim
    joins back on the term (zipf-bounded, broadcastable), the token
    total is a 1-row broadcast. Every occurrence counts — fluency, not
    set overlap — so no distinct anywhere."""
    docs = load_docs(spark, sf_dir)
    tok = docs.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("term"))
    freq = tok.groupBy("term").agg(F.count("*").cast("bigint").alias("cnt"))
    n = tok.agg(F.count("*").cast("bigint").alias("n_total"))
    return (
        tok.join(freq, "term")
        .join(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.round(
                F.sum(F.log(F.col("cnt") * F.lit(1.0) / F.col("n_total")))
                / F.count("*"),
                4,
            ).alias("avg_logprob"),
        )
    )


# --------------------------------------------------------------------------
# 84. corpus_chunk — overlapping token-window chunking
# --------------------------------------------------------------------------
_CHUNK_W, _CHUNK_S = 32, 24  # window / stride (8-token overlap)

_CHUNK_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, {DUCK_TOKENS} AS t FROM documents
)
SELECT doc_id,
       CAST(seq AS BIGINT) AS chunk_seq,
       CAST(seq * {_CHUNK_S} + 1 AS BIGINT) AS chunk_start,
       CAST(len(t[seq * {_CHUNK_S} + 1 : seq * {_CHUNK_S} + {_CHUNK_W}]) AS BIGINT)
           AS n_chunk_tokens,
       array_to_string(t[seq * {_CHUNK_S} + 1 : seq * {_CHUNK_S} + {_CHUNK_W}], ' ')
           AS chunk_text
FROM tok, unnest(range(0, (len(t) - 1) // {_CHUNK_S} + 1)) AS u(seq)
"""


@register("corpus_chunk", oracle=_CHUNK_ORACLE)
def corpus_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunks (32-token windows, stride 24) —
    the context-window prep step between cleaning and embedding. Pure
    explode over each doc's own chunk count: output size is
    sum(ceil(n_i/stride)) rows, perfectly data-parallel, zero shuffles,
    zero UDFs; the final partial window is kept (training pads, RAG
    retrieves it either way)."""
    docs = load_docs(spark, sf_dir)
    toks = T.tokens(F.col("text"))
    t = docs.select("doc_id", toks.alias("t"))
    seqd = t.select(
        "doc_id",
        "t",
        F.explode(
            F.sequence(
                F.lit(0), F.floor((F.size("t") - 1) / F.lit(_CHUNK_S)).cast("int")
            )
        ).alias("seq"),
    )
    start = F.col("seq") * _CHUNK_S + 1
    chunk = F.slice(F.col("t"), start, _CHUNK_W)
    return seqd.select(
        "doc_id",
        F.col("seq").cast("bigint").alias("chunk_seq"),
        start.cast("bigint").alias("chunk_start"),
        F.size(chunk).cast("bigint").alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


# --------------------------------------------------------------------------
# 98. boilerplate_prune — cross-doc high-DF token pruning
# --------------------------------------------------------------------------
_BOILER_PCT = 78  # tokens present in >78% of docs are boilerplate

_BOILER_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, {DUCK_TOKENS} AS t FROM documents
), total AS (
    SELECT count(*) AS n_docs FROM documents
), df AS (
    SELECT tok, count(DISTINCT doc_id) AS df
    FROM tok, unnest(t) AS u(tok) GROUP BY 1
), bl AS (
    -- integer arithmetic (df*100 > PCT*n_docs), NOT df > frac*n_docs: DuckDB
    -- parses the fraction as exact DECIMAL where Spark multiplies doubles, and
    -- the two disagree when df sits exactly on the boundary
    SELECT coalesce(list(tok ORDER BY tok), []) AS bl
    FROM df, total WHERE df * 100 > {_BOILER_PCT} * n_docs
)
SELECT doc_id,
       coalesce(array_to_string(list_filter(t, x -> NOT list_contains(bl.bl, x)),
                ' '), '') AS pruned_text,
       CAST(len(t) - len(list_filter(t, x -> NOT list_contains(bl.bl, x)))
            AS BIGINT) AS n_removed
FROM tok CROSS JOIN bl
"""


@register("boilerplate_prune", oracle=_BOILER_ORACLE)
def boilerplate_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate removal at token grain: tokens whose document
    frequency exceeds 78% of the corpus are dropped from every document,
    order-preserved. The blocklist is a tiny sorted array built from a
    DISTINCT-per-doc explode (doc-frequency, not term-frequency) and
    broadcast back as a 1-row join; each document is then rewritten by a
    codegen array filter — no explode/reassembly shuffle of the corpus
    itself, so the rewrite is embarrassingly parallel and the only
    shuffles carry (token, df) pairs. At 100 TB the blocklist is still
    vocabulary-sized, exactly like a stopword table; the reference
    pattern is the repeated-line filter of C4 applied at the granularity
    this corpus has (single-line templated docs)."""
    docs = load_docs(spark, sf_dir)
    toks = docs.select("doc_id", T.tokens(F.col("text")).alias("t")).persist()
    total = docs.agg(F.count("*").alias("n_docs"))
    df = (
        toks.select("doc_id", F.explode(F.array_distinct("t")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("df"))
    )
    bl = (
        df.join(F.broadcast(total))
        # df*100 > 78*n_docs: integer-exact percent boundary on both engines
        .where(F.col("df") * 100 > _BOILER_PCT * F.col("n_docs"))
        .agg(F.sort_array(F.collect_list("tok")).alias("bl"))
    )
    kept = F.filter(
        F.col("t"), lambda x: ~F.array_contains(F.col("bl"), x)
    )
    return (
        toks.join(F.broadcast(bl))
        .select(
            "doc_id",
            F.array_join(kept, " ").alias("pruned_text"),
            (F.size("t") - F.size(kept)).cast("bigint").alias("n_removed"),
        )
    )


# --------------------------------------------------------------------------
# 99. vocab_oov_rate — tokenizer-coverage / OOV analysis
# --------------------------------------------------------------------------
_VOCAB_K = 20

_OOV_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, {DUCK_TOKENS} AS t FROM documents
), freq AS (
    SELECT tok, count(*) AS cnt FROM tok, unnest(t) AS u(tok) GROUP BY 1
), vocab AS (
    SELECT list(tok) AS v FROM (
        SELECT tok FROM freq ORDER BY cnt DESC, tok ASC LIMIT {_VOCAB_K}
    )
)
SELECT doc_id,
       CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(len(list_filter(t, x -> NOT list_contains(vocab.v, x)))
            AS BIGINT) AS n_oov,
       CAST(len(list_filter(t, x -> NOT list_contains(vocab.v, x))) AS DOUBLE)
           / len(t) AS oov_rate
FROM tok CROSS JOIN vocab
"""


@register("vocab_oov_rate", oracle=_OOV_ORACLE)
def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus top-K
    vocabulary — the tokenizer-coverage check run before committing to a
    vocab size. The top-20 vocabulary (count desc, token asc — a total
    order, so the cutoff is deterministic) is a TakeOrderedAndProject,
    collapsed to one broadcast array row; per-doc OOV counting is a
    codegen array filter. oov_rate is a single raw-double division —
    bit-identical cross-engine, no rounding needed. At scale the vocab
    build is the only shuffle (token, count) and K stays
    human-constant."""
    docs = load_docs(spark, sf_dir)
    toks = docs.select("doc_id", T.tokens(F.col("text")).alias("t"))
    freq = (
        toks.select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
    )
    vocab = (
        freq.orderBy(F.col("cnt").desc(), F.col("tok").asc())
        .limit(_VOCAB_K)
        .agg(F.collect_list("tok").alias("v"))
    )
    oov = F.filter(F.col("t"), lambda x: ~F.array_contains(F.col("v"), x))
    return (
        toks.join(F.broadcast(vocab))
        .select(
            "doc_id",
            F.size("t").cast("bigint").alias("n_tokens"),
            F.size(oov).cast("bigint").alias("n_oov"),
            (F.size(oov).cast("double") / F.size("t")).alias("oov_rate"),
        )
    )


# --------------------------------------------------------------------------
# 100. kmeans_lloyd — distributed Lloyd iterations (the offline KMeans
# that ann_ivf's inverted lists come from)
# --------------------------------------------------------------------------
_KM_K, _KM_ITERS = 8, 2

_KM_ORACLE = f"""
WITH q AS (
    SELECT vec_id,
           [CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
            FOR i IN range(1, 65)] AS qv
    FROM embeddings
), c0 AS (
    SELECT vec_id AS cid, qv AS cv FROM q WHERE vec_id < {_KM_K}
), d1 AS (
    SELECT q.vec_id, q.qv, c0.cid,
           list_sum([(q.qv[i] - c0.cv[i]) * (q.qv[i] - c0.cv[i])
                     FOR i IN range(1, 65)]) AS dist2
    FROM q CROSS JOIN c0
), a1 AS (
    SELECT vec_id, qv, cid FROM (
        SELECT vec_id, qv, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
        FROM d1
    ) WHERE rn = 1
), c1 AS (
    SELECT cid, i AS dim,
           CAST(floor(CAST(sum(qv[i]) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS cq
    FROM a1, unnest(range(1, 65)) AS t(i)
    GROUP BY 1, 2
), c1v AS (
    SELECT cid, list(cq ORDER BY dim) AS cv FROM c1 GROUP BY 1
), d2 AS (
    SELECT q.vec_id, q.qv, c1v.cid,
           list_sum([(q.qv[i] - c1v.cv[i]) * (q.qv[i] - c1v.cv[i])
                     FOR i IN range(1, 65)]) AS dist2
    FROM q CROSS JOIN c1v
), a2 AS (
    SELECT vec_id, qv, cid FROM (
        SELECT vec_id, qv, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
        FROM d2
    ) WHERE rn = 1
)
SELECT cid AS cluster_id, CAST(i AS BIGINT) AS dim,
       CAST(floor(CAST(sum(qv[i]) AS DOUBLE) / count(*) + 0.5) AS BIGINT)
           AS centroid_micro,
       CAST(count(*) AS BIGINT) AS n_members
FROM a2, unnest(range(1, 65)) AS t(i)
GROUP BY 1, 2
"""


def _nearest_cid(qv, cents):
    """Argmin centroid id WITHOUT row expansion: fold the broadcast
    (cid, centroid-vector) array into a (dist2, cid) struct array and
    take ``array_min`` — struct ordering gives min-dist2 with min-cid
    tie-break, all inside whole-stage codegen. The alternative (join
    the K centroids, window-rank per vec_id) materializes and shuffles
    N×K rows each carrying the full vector: correct, but a
    scale-killer once K grows past toy sizes (SemDeDup's production
    K≈110k)."""
    return F.array_min(
        F.transform(
            F.col(cents) if isinstance(cents, str) else cents,
            lambda c: F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col(qv) if isinstance(qv, str) else qv,
                        c["cv"],
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0).cast("bigint"),
                    lambda acc, x: acc + x,
                ).alias("dist2"),
                c["cid"].alias("cid"),
            ),
        )
    )["cid"]


@register("kmeans_lloyd", oracle=_KM_ORACLE)
def kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two full Lloyd iterations of K=8 k-means over the embeddings —
    the offline clustering ann_ivf's inverted lists and partition
    pruning defer to, expressed as a DataFrame loop (iterative ML on
    the engine, not a library call).

    Exactness design: coordinates quantize to integer micro-units
    (floor(x*1e6+0.5)) up front, so every distance is an exact BIGINT
    (≤64·(2e6)² ≈ 2.6e14, well inside the 2^53 double mantissa AND
    int64), every centroid numerator is an exact integer sum
    (order-independent — a raw double mean would vary with Spark's
    partial-agg order and cascade into different assignments), and
    centroids re-quantize via one deterministic double division per
    (cluster, dim). Argmin ties break on cluster id (min-cid wins),
    mirrored by the oracle's row_number ORDER BY dist2, cid.

    Scale shape: per iteration, the assign folds ONE broadcast 1-row
    array-of-(cid, centroid) against each corpus row — ``array_min``
    over a ``transform``-computed (dist2, cid) struct array, pure
    whole-stage codegen, NO row expansion: the pre-r4 join+window
    argmin materialized N×K rows each carrying the 64-dim vector and
    then shuffled them for the per-vec_id window, a shape that dies at
    the paper's K≈110k; this one's per-row cost is K distance folds and
    its shuffle volume is zero. The update shuffles (cluster, dim,
    partial-sum) triples — map-side combined, so the exchange is K×64
    rows per task regardless of corpus size. The centroid collect stays
    K×64 driver-side rows. Iterations are a driver loop over a lineage
    the optimizer keeps narrow; at 100 TB each round is one scan + one
    tiny shuffle, the textbook distributed Lloyd profile."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id",
        F.transform(
            V.as_double(F.col("embedding")),
            lambda x: F.floor(x * F.lit(1000000.0) + F.lit(0.5)).cast("bigint"),
        ).alias("qv"),
    ).persist()

    cent = q.where(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cid"), F.col("qv").alias("cv")
    )

    c_long = None
    for _ in range(_KM_ITERS):
        cent_arr = cent.agg(F.collect_list(F.struct("cid", "cv")).alias("cents"))
        assigned = q.crossJoin(F.broadcast(cent_arr)).select(
            "vec_id", "qv", _nearest_cid("qv", "cents").alias("cid")
        )
        ex = assigned.select(
            "cid", F.posexplode("qv").alias("dim0", "qval")
        ).select("cid", (F.col("dim0") + 1).cast("bigint").alias("dim"), "qval")
        c_long = ex.groupBy("cid", "dim").agg(
            F.floor(F.sum("qval").cast("double") / F.count("*") + F.lit(0.5))
            .cast("bigint")
            .alias("cq"),
            F.count("*").cast("bigint").alias("n"),
        )
        cent = c_long.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "cq"))),
                lambda s: s["cq"],
            ).alias("cv")
        )

    return c_long.select(
        F.col("cid").alias("cluster_id"),
        "dim",
        F.col("cq").alias("centroid_micro"),
        F.col("n").alias("n_members"),
    )


# --------------------------------------------------------------------------
# 101. ann_filtered — metadata-filtered vector search (hybrid search)
# --------------------------------------------------------------------------
_ANN_FILTERED_ORACLE = """
WITH e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
), corpus AS (
    SELECT e.vec_id, e.v
    FROM e JOIN documents d ON d.doc_id = e.vec_id
    WHERE d.source IN ('src0', 'src1', 'src2')
      AND contains(d.text, 'vector')
), q AS (
    SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8
), scored AS (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           round(
             list_sum([q.qv[i] * c.v[i] FOR i IN range(1, 65)]) /
             (sqrt(list_sum([q.qv[i] * q.qv[i] FOR i IN range(1, 65)])) *
              sqrt(list_sum([c.v[i] * c.v[i] FOR i IN range(1, 65)]))), 6) AS score
    FROM corpus c CROSS JOIN q WHERE q.query_id != c.vec_id
), ranked AS (
    SELECT query_id, neighbor_id, score,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, neighbor_id ASC) AS INT) AS rank
    FROM scored
)
SELECT * FROM ranked WHERE rank <= 5
"""


@register("ann_filtered", oracle=_ANN_FILTERED_ORACLE)
def ann_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: exact cosine top-5, but only over corpus vectors
    whose DOCUMENT passes a metadata + content predicate (source
    allowlist, text contains 'vector') — the filtered-ANN pattern every
    retrieval stack needs (filter-THEN-rank; post-filtering a global
    top-k under-fills results). The document predicate prunes the
    corpus BEFORE scoring via an equi-join on doc_id=vec_id, so the
    expensive similarity work runs on the filtered subset only; the
    query set stays a broadcast. At scale the same shape composes with
    ann_ivf's list pruning (filter the inverted lists, then probe)."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("source").isin("src0", "src1", "src2")
        & F.col("text").contains("vector")
    )
    corpus = emb.join(
        docs.select("doc_id"), emb["vec_id"] == F.col("doc_id"), "left_semi"
    )
    return S.ann_topk_bruteforce(corpus, emb.where(F.col("vec_id") < 8), k=5)


# --------------------------------------------------------------------------
# 104. inverted_index — posting-list build (the search-index artifact)
# --------------------------------------------------------------------------
_INVIDX_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, unnest({DUCK_TOKENS}) AS token FROM documents
)
SELECT token,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
       CAST(count(*) AS BIGINT) AS tf,
       -- canonical CSV string, not array<bigint>: the driver canonicalizer
       -- cannot sort/hash list cells (pandas unhashable-type), and the
       -- string form carries the identical posting-head information.
       array_to_string(list(DISTINCT doc_id ORDER BY doc_id)[1:5], ',')
           AS posting_head
FROM tok
GROUP BY 1
"""


@register("inverted_index", oracle=_INVIDX_ORACLE)
def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the inverted index: per token, document frequency, total
    term frequency, and the head of the sorted posting list — the
    artifact behind every corpus search / decontamination lookup. One
    explode feeds all three aggregates in a single groupBy (no second
    scan for the postings); the posting head is capped at 5 ids so the
    output row stays bounded no matter how common the token. At 100 TB
    the full posting lists would write out bucketed by token instead of
    truncating — the build plan (explode → one token-keyed shuffle) is
    identical."""
    docs = load_docs(spark, sf_dir)
    tok = docs.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("token"))
    # posting_head serialized to a comma-joined string (BIGINT ids render
    # identically in both engines) so the driver's pandas canonicalizer
    # can hash it — array<bigint> cells are unhashable there.
    return tok.groupBy("token").agg(
        F.countDistinct("doc_id").cast("bigint").alias("df"),
        F.count("*").cast("bigint").alias("tf"),
        F.array_join(
            F.transform(
                F.slice(F.sort_array(F.collect_set("doc_id")), 1, 5),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("posting_head"),
    )


# --------------------------------------------------------------------------
# 106. repetition_metrics — Gopher-style n-gram repetition signals
# --------------------------------------------------------------------------
# All-occurrence n-grams (NOT the distinct shingle sets the dedup path
# uses): repetition is about how often a gram recurs inside one doc.
# The corpus has no newlines, so the line-based Gopher rules are
# re-expressed over word n-grams (top-2-gram token share, share of
# 3-gram occurrences that are duplicates). Fractions are single
# divisions of exact BIGINTs (IEEE divide is exactly rounded, so both
# engines produce the identical double), then floor-rounded to 4dp.
_DUCK_ALL_G2 = (
    "[array_to_string(t[i:i+1], ' ') FOR i IN range(1, greatest(len(t) - 1, 0) + 1)]"
)
_DUCK_ALL_G3 = (
    "[array_to_string(t[i:i+2], ' ') FOR i IN range(1, greatest(len(t) - 2, 0) + 1)]"
)
_REPETITION_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, {DUCK_TOKENS} AS t FROM documents
), base AS (
    SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks
), g2 AS (
    SELECT doc_id, unnest({_DUCK_ALL_G2}) AS g FROM toks
), c2 AS (
    SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2
), m2 AS (
    SELECT doc_id, CAST(max(c) AS BIGINT) AS top2_count FROM c2 GROUP BY 1
), g3 AS (
    SELECT doc_id, unnest({_DUCK_ALL_G3}) AS g FROM toks
), c3 AS (
    SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2
), m3 AS (
    SELECT doc_id,
           CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup3_occ,
           CAST(sum(c) AS BIGINT) AS total3_occ
    FROM c3 GROUP BY 1
)
SELECT b.doc_id, b.n_tokens,
       coalesce(m2.top2_count, 0) AS top2_count,
       coalesce(m3.dup3_occ, 0) AS dup3_occ,
       coalesce(m3.total3_occ, 0) AS total3_occ,
       floor(coalesce(m2.top2_count, 0) * 2.0 / b.n_tokens * 10000 + 0.5) / 10000
           AS top2_frac,
       floor(coalesce(m3.dup3_occ, 0) * 1.0
             / greatest(coalesce(m3.total3_occ, 0), 1) * 10000 + 0.5) / 10000
           AS dup3_frac,
       coalesce(m2.top2_count, 0) * 2 * 10 <= b.n_tokens
           AND coalesce(m3.dup3_occ, 0) * 20
               <= greatest(coalesce(m3.total3_occ, 0), 1) AS keep
FROM base b
LEFT JOIN m2 ON b.doc_id = m2.doc_id
LEFT JOIN m3 ON b.doc_id = m3.doc_id
"""


@register("repetition_metrics", oracle=_REPETITION_ORACLE)
def repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter signals (Rae et al. 2021 §A1.1)
    over word n-grams: the token share of the most frequent 2-gram and
    the share of 3-gram occurrences that are duplicates, plus the
    `keep` gate (top2_frac <= 0.10 AND dup3_frac <= 0.05) expressed as
    exact integer cross-multiplications so the boolean is deterministic
    across engines. Two explode→(doc_id, gram) shuffles whose widths
    are bounded by document length, then a doc_id-keyed merge — no
    UDFs, all codegen. At 100 TB each doc contributes O(len) gram rows
    and nothing is quadratic."""
    docs = load_docs(spark, sf_dir)
    toks = T.tokens(F.col("text"))

    def all_grams(n: int):
        return F.when(
            F.size("t") >= n,
            F.transform(
                F.sequence(F.lit(1), F.size("t") - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(F.col("t"), i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    d = docs.select("doc_id", toks.alias("t")).select(
        "doc_id",
        F.size("t").cast("bigint").alias("n_tokens"),
        all_grams(2).alias("g2"),
        all_grams(3).alias("g3"),
    )
    # ONE pass for both gram widths: tag each gram with its width and
    # explode the concatenation, so 2-gram and 3-gram stats share one
    # (doc_id, n, g) shuffle and one doc_id-keyed agg instead of two
    # chains joined at the end (~2× the shuffle volume, measured).
    tagged = F.concat(
        F.transform(
            "g2", lambda g: F.struct(F.lit(2).alias("n"), g.alias("g"))
        ),
        F.transform(
            "g3", lambda g: F.struct(F.lit(3).alias("n"), g.alias("g"))
        ),
    )
    counts = (
        d.select("doc_id", F.explode(tagged).alias("gr"))
        .select("doc_id", F.col("gr.n").alias("n"), F.col("gr.g").alias("g"))
        .groupBy("doc_id", "n", "g")
        .agg(F.count("*").alias("c"))
    )
    m = counts.groupBy("doc_id").agg(
        F.max(F.when(F.col("n") == 2, F.col("c"))).cast("bigint").alias("top2_count"),
        F.sum(F.when((F.col("n") == 3) & (F.col("c") >= 2), F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("dup3_occ"),
        F.sum(F.when(F.col("n") == 3, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("total3_occ"),
    )
    # left join back to the doc base so <2-token docs (no grams at all)
    # still emit a row with zeros, matching the oracle's LEFT JOINs
    joined = (
        d.select("doc_id", "n_tokens")
        .join(m, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("top2_count", F.lit(0)).cast("bigint").alias("top2_count"),
            F.coalesce("dup3_occ", F.lit(0)).cast("bigint").alias("dup3_occ"),
            F.coalesce("total3_occ", F.lit(0)).cast("bigint").alias("total3_occ"),
        )
    )
    top2_frac = F.col("top2_count") * F.lit(2.0) / F.col("n_tokens")
    dup3_frac = F.col("dup3_occ") * F.lit(1.0) / F.greatest(
        F.col("total3_occ"), F.lit(1)
    )
    return joined.select(
        "doc_id",
        "n_tokens",
        "top2_count",
        "dup3_occ",
        "total3_occ",
        (F.floor(top2_frac * 10000 + F.lit(0.5)) / 10000).alias("top2_frac"),
        (F.floor(dup3_frac * 10000 + F.lit(0.5)) / 10000).alias("dup3_frac"),
        (
            (F.col("top2_count") * 2 * 10 <= F.col("n_tokens"))
            & (
                F.col("dup3_occ") * 20
                <= F.greatest(F.col("total3_occ"), F.lit(1))
            )
        ).alias("keep"),
    )


# --------------------------------------------------------------------------
# 113. semdedup — semantic dedup via cluster-then-prune (SemDeDup,
# Abbas et al. 2023: k-means the embedding space, drop near-identical
# pairs INSIDE each cluster only)
# --------------------------------------------------------------------------
_SEM_K, _SEM_TAU = 8, 0.35
# Hot-cluster cap on the within-cluster pair join: a degenerate cluster
# (many near-identical embeddings — exactly what a dedup corpus has)
# re-creates the quadratic on one reducer; members of a dropped cluster
# are kept un-pruned. 1000 never triggers at the test SFs (≤2000 total
# embeddings / 8 clusters) so the oracle result is unchanged.
_SEM_CAP = 1000

_SEMDEDUP_ORACLE = f"""
WITH q AS (
    SELECT vec_id,
           [CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
            FOR i IN range(1, 65)] AS qv
    FROM embeddings
), seeds AS (
    SELECT vec_id AS cid, qv AS cv FROM q WHERE vec_id < {_SEM_K}
), d AS (
    SELECT q.vec_id, seeds.cid,
           list_sum([(q.qv[i] - seeds.cv[i]) * (q.qv[i] - seeds.cv[i])
                     FOR i IN range(1, 65)]) AS dist2
    FROM q CROSS JOIN seeds
), a AS (
    SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
        FROM d
    ) WHERE rn = 1
), a_capped AS (
    SELECT vec_id, cid FROM a
    QUALIFY count(*) OVER (PARTITION BY cid) <= {_SEM_CAP}
), e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
), s AS (
    SELECT y.vec_id AS vb
    FROM a_capped x JOIN a_capped y ON x.cid = y.cid AND x.vec_id < y.vec_id
    JOIN e ea ON ea.vec_id = x.vec_id
    JOIN e eb ON eb.vec_id = y.vec_id
    WHERE round(list_sum([ea.v[i] * eb.v[i] FOR i IN range(1, 65)]) /
          (sqrt(list_sum([ea.v[i] * ea.v[i] FOR i IN range(1, 65)])) *
           sqrt(list_sum([eb.v[i] * eb.v[i] FOR i IN range(1, 65)]))), 6)
          >= {_SEM_TAU}
), drops AS (
    SELECT DISTINCT vb FROM s
)
SELECT a.vec_id, a.cid AS cluster_id, drops.vb IS NULL AS keep
FROM a LEFT JOIN drops ON a.vec_id = drops.vb
"""


@register("semdedup", oracle=_SEMDEDUP_ORACLE)
def semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: assign every embedding to its nearest centroid
    (broadcast K seed rows, exact micro-unit BIGINT distances — the
    kmeans_lloyd assignment step against the seed snapshot), then
    compute cosine ONLY within clusters and drop the higher vec_id of
    every pair above τ. The cluster is the blocking structure: the
    quadratic is bounded by cluster size, and the published algorithm
    scales by growing K with the corpus (k≈110k for LAION-scale), so
    per-cluster all-pairs stays O(1)-ish per row while nothing crosses
    cluster boundaries — no global pair shuffle exists in the plan.
    The assignment itself is the zero-expansion ``_nearest_cid`` fold
    (one broadcast 1-row centroid array, no N×K rows, no shuffle) so
    the plan's cost is independent of K growing to paper scale.
    Keep-rule deviation from the paper: min vec_id survives (the paper
    keeps the farthest-from-centroid member); deterministic and
    engine-portable.

    Verify-stage cost discipline: each vector's norm is computed ONCE
    before the pair join (bitwise-identical expression to the per-pair
    form — same sum order, same multiplication order in the divisor),
    so a pair costs one dot product, not three reductions; measured
    3-5x on the capped-cluster pair tier. ``_spread`` lifts the
    single-split small-file scan to core-count partitions (no-op on a
    real cluster's multi-split scans)."""
    e = spread_small_scan(load_table(spark, sf_dir, "embeddings"))
    q = e.select(
        "vec_id",
        F.transform(
            V.as_double(F.col("embedding")),
            lambda x: F.floor(x * F.lit(1000000.0) + F.lit(0.5)).cast("bigint"),
        ).alias("qv"),
    )
    seeds = q.where(F.col("vec_id") < _SEM_K).select(
        F.col("vec_id").alias("cid"), F.col("qv").alias("cv")
    )
    seed_arr = seeds.agg(F.collect_list(F.struct("cid", "cv")).alias("cents"))
    assigned = q.crossJoin(F.broadcast(seed_arr)).select(
        "vec_id", _nearest_cid("qv", "cents").alias("cid")
    )
    v = e.select("vec_id", V.as_double(F.col("embedding")).alias("v"))
    # cap the blocking key BEFORE pair generation, like every other
    # pair-join in the repo (dedup.py, similarity.py): members of a
    # hotter-than-cap cluster skip pruning instead of melting a reducer
    av = cap_hot_buckets(assigned.join(v, "vec_id"), ["cid"], _SEM_CAP)
    # shared V.norm/V.dot: the fold order and divisor order ARE the
    # cross-engine contract — one spelling, not per-query copies
    av = av.withColumn("nv", V.norm(F.col("v")))
    x = av.select(
        F.col("cid"),
        F.col("vec_id").alias("va"),
        F.col("v").alias("xa"),
        F.col("nv").alias("na"),
    )
    y = av.select(
        F.col("cid"),
        F.col("vec_id").alias("vb"),
        F.col("v").alias("xb"),
        F.col("nv").alias("nb"),
    )
    score = F.round(
        V.dot(F.col("xa"), F.col("xb")) / (F.col("na") * F.col("nb")), 6
    )
    drops = (
        x.join(y, "cid")
        .where(F.col("va") < F.col("vb"))
        .select("vb", score.alias("score"))
        .where(F.col("score") >= _SEM_TAU)
        .select("vb")
        .distinct()
    )
    return assigned.join(
        drops, assigned["vec_id"] == drops["vb"], "left"
    ).select(
        "vec_id",
        F.col("cid").alias("cluster_id"),
        F.col("vb").isNull().alias("keep"),
    )


# --------------------------------------------------------------------------
# 114. dedup_substring — cross-document duplicated-span detection
# (scalable stand-in for exact-substring dedup, Lee et al. 2022)
# --------------------------------------------------------------------------
# Exact-substring dedup builds a corpus suffix array and removes any
# >=50-token span that appears twice ANYWHERE — inherently sequential.
# The distributed re-expression: every overlapping n-token span (ALL
# occurrences, not distinct shingles) is hashed, spans are counted per
# document, and a span is "duplicated" when it occurs in >=2 distinct
# documents. A document whose duplicated-span occurrence share exceeds
# 20% fails the keep gate. Span identity travels as full md5 (128-bit:
# a 100 TB corpus has ~1e13 spans, where a 32/64-bit key would
# birthday-collide), so the shuffle carries (doc_id, 32-char hash) —
# never the span text.
_SUBSTR_N = 5  # tokens per span; the paper's 50 scaled to this corpus
_DUCK_ALL_G5_MD5 = (
    "[md5(array_to_string(t[i:i+4], ' ')) "
    "FOR i IN range(1, greatest(len(t) - 4, 0) + 1)]"
)
_SUBSTR_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, {DUCK_TOKENS} AS t FROM documents
), g AS (
    SELECT doc_id, unnest({_DUCK_ALL_G5_MD5}) AS gh FROM toks
), c AS (
    SELECT doc_id, gh, count(*) AS c FROM g GROUP BY 1, 2
), df AS (
    SELECT gh, count(*) AS n_docs FROM c GROUP BY 1
), per AS (
    SELECT c.doc_id,
           CAST(sum(c.c) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN df.n_docs > 1 THEN c.c ELSE 0 END) AS BIGINT)
               AS dup_spans
    FROM c JOIN df USING (gh) GROUP BY 1
)
SELECT b.doc_id,
       coalesce(per.n_spans, 0) AS n_spans,
       coalesce(per.dup_spans, 0) AS dup_spans,
       floor(coalesce(per.dup_spans, 0) * 1.0
             / greatest(coalesce(per.n_spans, 0), 1) * 10000 + 0.5) / 10000
           AS dup_frac,
       coalesce(per.dup_spans, 0) * 5 <= coalesce(per.n_spans, 0) AS keep
FROM toks b LEFT JOIN per ON b.doc_id = per.doc_id
"""


@register("dedup_substring", oracle=_SUBSTR_ORACLE)
def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span share per document: the distributed form of
    exact-substring dedup (hash every overlapping 5-token span, count
    occurrences per doc, mark spans seen in >=2 docs, gate docs whose
    duplicated-occurrence share exceeds 20% via exact integer
    cross-multiplication). One explode whose width is bounded by doc
    length, a (doc_id, hash) map-combined count, a hash-keyed doc-
    frequency agg reusing the same shuffle key, and a doc_id merge —
    nothing quadratic, nothing carries span text past the map side."""
    docs = load_docs(spark, sf_dir)
    t = docs.select("doc_id", T.tokens(F.col("text")).alias("t"))
    spans = F.when(
        F.size("t") >= _SUBSTR_N,
        F.transform(
            F.sequence(F.lit(1), F.size("t") - (_SUBSTR_N - 1)),
            lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("t"), i, _SUBSTR_N))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    c = (
        t.select("doc_id", F.explode(spans).alias("gh"))
        .groupBy("doc_id", "gh")
        .agg(F.count("*").alias("c"))
    )
    df = c.groupBy("gh").agg(F.count("*").alias("n_docs"))
    per = (
        c.join(df, "gh")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_spans"),
            F.sum(F.when(F.col("n_docs") > 1, F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("dup_spans"),
        )
    )
    joined = t.select("doc_id").join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
        F.coalesce("dup_spans", F.lit(0)).cast("bigint").alias("dup_spans"),
    )
    dup_frac = F.col("dup_spans") * F.lit(1.0) / F.greatest(
        F.col("n_spans"), F.lit(1)
    )
    return joined.select(
        "doc_id",
        "n_spans",
        "dup_spans",
        (F.floor(dup_frac * 10000 + F.lit(0.5)) / 10000).alias("dup_frac"),
        (F.col("dup_spans") * 5 <= F.col("n_spans")).alias("keep"),
    )


# --------------------------------------------------------------------------
# 119. pii_redact — PII detection + redaction (emails / IPv4 / phone)
# --------------------------------------------------------------------------
# The standard scrub step before a corpus ships to training (C4, The
# Pile, RefinedWeb all redact or drop PII spans). The pattern battery
# is the shared functions/text.py::PII_PATTERNS chain (order-pinned:
# emails before phones so digits are never half-claimed). The synthetic
# corpus carries no PII, so both engines deterministically plant one
# span per doc_id%10 class first — which turns the previously vacuous
# corpus-wide check into a meaningful oracle row. Patterns live in the
# RE2 ∩ Java-regex common dialect so Spark and DuckDB agree.


def _pii_oracle() -> str:
    # progressive counts: each class is counted on the text as the
    # redaction chain sees it (mirrors functions/text.py::pii_counts)
    cur = "text"
    counts, names = [], {"email": "n_emails", "ipv4": "n_ips", "phone": "n_phones"}
    for name, pat, repl in T.PII_PATTERNS:
        counts.append(
            f"CAST(len(regexp_extract_all({cur}, '{pat}')) AS BIGINT) AS {names[name]}"
        )
        cur = f"regexp_replace({cur}, '{pat}', '{repl}', 'g')"
    count_cols = ",\n           ".join(counts)
    return f"""
WITH planted AS (
    SELECT doc_id, lang,
           CASE
             WHEN doc_id % 10 = 0 THEN text || ' contact user'
                  || CAST(doc_id AS VARCHAR) || '@example.com now'
             WHEN doc_id % 10 = 1 THEN text || ' node 10.'
                  || CAST(doc_id % 200 AS VARCHAR) || '.0.'
                  || CAST(doc_id % 250 AS VARCHAR) || ' logged'
             WHEN doc_id % 10 = 2 THEN text || ' call 555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today'
             ELSE text
           END AS text
    FROM documents
), redacted AS (
    SELECT doc_id, lang,
           {count_cols},
           {cur} AS clean
    FROM planted
)
SELECT doc_id, lang, n_emails, n_ips, n_phones,
       n_emails + n_ips + n_phones > 0 AS had_pii,
       md5(clean) AS clean_hash
FROM redacted
"""


@register("pii_redact", oracle=_pii_oracle())
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub for the whole corpus in one pass — the registry face
    of functions/text.py::redact_pii/pii_counts: regexp_count per PII
    class + chained regexp_replace redaction, all JVM-side codegen (no
    UDFs), zero shuffles — scan → project, bounded by scan bandwidth
    at any scale. Real pipelines extend the battery (SSNs, IBANs,
    street addresses) the same way: one more PII_PATTERNS row, same
    plan shape."""
    docs = load_docs(spark, sf_dir)
    uid = F.col("doc_id")
    planted = docs.select(
        "doc_id",
        "lang",
        F.when(
            uid % 10 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                uid.cast("string"),
                F.lit("@example.com now"),
            ),
        )
        .when(
            uid % 10 == 1,
            F.concat(
                F.col("text"),
                F.lit(" node 10."),
                (uid % 200).cast("string"),
                F.lit(".0."),
                (uid % 250).cast("string"),
                F.lit(" logged"),
            ),
        )
        .when(
            uid % 10 == 2,
            F.concat(
                F.col("text"),
                F.lit(" call 555-"),
                F.lpad((uid % 10000).cast("string"), 4, "0"),
                F.lit(" today"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    counts = T.pii_counts(F.col("text"))
    return planted.select(
        "doc_id",
        "lang",
        counts["email"].alias("n_emails"),
        counts["ipv4"].alias("n_ips"),
        counts["phone"].alias("n_phones"),
        (counts["email"] + counts["ipv4"] + counts["phone"] > 0).alias("had_pii"),
        F.md5(T.redact_pii(F.col("text"))).alias("clean_hash"),
    )


# --------------------------------------------------------------------------
# 120. source_caps — per-source document caps (domain balancing)
# --------------------------------------------------------------------------
# RefinedWeb/CCNet-style per-domain caps: no single source may
# contribute more than K documents, keeping the best-ranked ones.
_SRC_CAP = 15

_SOURCE_CAPS_ORACLE = f"""
WITH ranked AS (
    SELECT doc_id, source, n_chars,
           row_number() OVER (
               PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
    FROM documents
)
SELECT doc_id, source, n_chars, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {_SRC_CAP}
"""


@register("source_caps", oracle=_SOURCE_CAPS_ORACLE)
def source_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep at most K docs per source, ranked by length (quality proxy)
    with a deterministic doc_id tie-break — the domain-balancing step
    of web-corpus pipelines. One shuffle on source; the window's
    per-source sort is the cost. At 100 TB a hot domain (e.g. one host
    contributing 1% of the corpus) concentrates on one reducer — the
    production variant first drops rows below a sampled per-source
    rank-K threshold (approx quantile) so the exact window only sees
    ~K rows per source; AQE skew-split covers the middle ground."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "source", "n_chars")
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= _SRC_CAP)
    )


# sampled pre-drop: 1-in-_SRC_SAMPLE_MOD deterministic hash sample
_SRC_SAMPLE_MOD = 20


@register("source_caps_sampled", oracle=_SOURCE_CAPS_ORACLE)
def source_caps_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """source_caps through the sampled rank-K pre-drop its docstring
    promises — now implemented, SAME oracle (the pre-drop is an exact
    WITNESS filter, not an approximation): per source, take the K-th
    largest n_chars among a deterministic 1-in-20 hash sample. Any
    corpus row strictly below that value has >= K sample rows — hence
    >= K full-corpus rows — strictly above it, so it provably cannot
    be top-K under (n_chars DESC, doc_id) whatever the tie-breaks;
    rows >= the threshold are kept and the EXACT window re-ranks only
    the survivors. Sources with fewer than K sample rows get no
    threshold (NULL -> keep all), so small domains are never
    mis-pruned and the output is row-identical to source_caps at any
    sample rate.

    Scale shape: the sample window sorts 5% of the corpus; the
    threshold frame is one row per source joined back ON THE SOURCE
    KEY (the same key the exact window partitions by, so the join and
    the window share one exchange — no broadcast of an unbounded
    #sources frame). The hot-domain reducer then sorts ~K/sample_rate
    expected rows instead of the domain's whole row count.

    Measured crossover (SCALING_SKEW_R7.json
    source_caps_sampled_probe): at 500k docs with a 30%-hot domain
    the pre-drop LOSES (0.81s -> 1.16s skewed; 0.32s -> 0.70s
    uniform) — a 150k-row single-task sort of three narrow columns is
    still cheaper than the extra sample pass + threshold join. The
    knob pays when one domain's rows exceed what one task should sort
    or spill (order 1e8 rows at real web scale) — below that, plain
    source_caps stays the default. Same positioning as
    sessionize_bucketed and salted_join: exactness-contracted skew
    fallbacks, engaged by key-concentration stats, not defaults."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    thr = (
        docs.where(
            F.pmod(F.xxhash64(F.col("doc_id")), F.lit(_SRC_SAMPLE_MOD)) == 0
        )
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == _SRC_CAP)
        .select("source", F.col("n_chars").alias("_thr"))
    )
    pruned = docs.join(thr, "source", "left").where(
        F.col("_thr").isNull() | (F.col("n_chars") >= F.col("_thr"))
    )
    return (
        pruned.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= _SRC_CAP)
        .select("doc_id", "source", "n_chars", "rk")
    )


# --------------------------------------------------------------------------
# 121. perplexity_buckets — CCNet head/middle/tail terciles per language
# --------------------------------------------------------------------------
# CCNet buckets each language's documents into head/middle/tail by LM
# perplexity and keeps the head for training. Stand-in LM = the corpus
# unigram model (same as unigram_logprob); bucket boundaries are exact
# integer-arithmetic terciles of the per-language rank — no float
# boundary drift between engines.
_PPL_BUCKETS_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, lang, unnest({DUCK_TOKENS}) AS term FROM documents
), freq AS (
    SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1
), n AS (
    SELECT CAST(count(*) AS BIGINT) AS n_total FROM tok
), scored AS (
    SELECT t.doc_id, t.lang,
           round(sum(ln(f.cnt * 1.0 / n.n_total)) / count(*), 4) AS avg_logprob
    FROM tok t JOIN freq f USING (term) CROSS JOIN n
    GROUP BY 1, 2
), ranked AS (
    SELECT doc_id, lang, avg_logprob,
           row_number() OVER (
               PARTITION BY lang ORDER BY avg_logprob DESC, doc_id) AS rk,
           count(*) OVER (PARTITION BY lang) AS n_lang
    FROM scored
)
SELECT doc_id, lang, avg_logprob,
       CASE WHEN 3 * (rk - 1) < n_lang THEN 'head'
            WHEN 3 * (rk - 1) < 2 * n_lang THEN 'middle'
            ELSE 'tail' END AS bucket
FROM ranked
"""


@register("perplexity_buckets", oracle=_PPL_BUCKETS_ORACLE)
def perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language head/middle/tail fluency terciles (CCNet's bucket
    step, corpus-unigram LM standing in for KenLM). Bucket membership
    is decided by integer arithmetic on the per-language rank — exact
    and engine-portable, no percent_rank float boundaries. At 100 TB
    the per-lang window sort is the cost; the production path
    thresholds on sampled logprob quantiles instead of ranking every
    row, with identical bucket semantics to sampling error."""
    docs = load_docs(spark, sf_dir)
    tok = docs.select(
        "doc_id", "lang", F.explode(T.tokens(F.col("text"))).alias("term")
    )
    freq = tok.groupBy("term").agg(F.count("*").cast("bigint").alias("cnt"))
    n = tok.agg(F.count("*").cast("bigint").alias("n_total"))
    scored = (
        tok.join(freq, "term")
        .join(F.broadcast(n))
        .groupBy("doc_id", "lang")
        .agg(
            F.round(
                F.sum(F.log(F.col("cnt") * F.lit(1.0) / F.col("n_total")))
                / F.count("*"),
                4,
            ).alias("avg_logprob")
        )
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("avg_logprob").desc(), F.col("doc_id")
    )
    ranked = scored.select(
        "doc_id",
        "lang",
        "avg_logprob",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(Window.partitionBy("lang")).alias("n_lang"),
    )
    return ranked.select(
        "doc_id",
        "lang",
        "avg_logprob",
        F.when(3 * (F.col("rk") - 1) < F.col("n_lang"), "head")
        .when(3 * (F.col("rk") - 1) < 2 * F.col("n_lang"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


# --------------------------------------------------------------------------
# 123. dedup_containment — asymmetric doc-inside-doc containment
# --------------------------------------------------------------------------
_CONTAIN_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, {DUCK_TOKENS} AS t FROM documents
), sh AS (
    SELECT doc_id, unnest({DUCK_SHINGLES}) AS shingle FROM toks
), n AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1
), capped AS (
    -- hot-bucket guard: mirrors operators/skew.cap_hot_buckets
    SELECT * FROM sh
    QUALIFY count(*) OVER (PARTITION BY shingle) <= {D.MAX_BUCKET}
), ov AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS overlap
    FROM capped a JOIN capped b USING (shingle)
    WHERE a.doc_id != b.doc_id
    GROUP BY 1, 2
)
SELECT ov.doc_a, ov.doc_b, round(ov.overlap * 1.0 / n.n_sh, 4) AS containment
FROM ov JOIN n ON n.doc_id = ov.doc_a
WHERE ov.overlap * 100 >= 80 * n.n_sh
"""


@register("dedup_containment", oracle=_CONTAIN_ORACLE)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment ≥ 0.8 pairs (directional: doc_a's shingle set is
    ≥80% inside doc_b's) via operators/dedup.py::containment_pairs —
    the asymmetric complement to dedup_ngram_jaccard for contained
    documents whose sizes differ too much for any symmetric threshold."""
    return D.containment_pairs(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# 186. dedup_rate_by_source — which domains are duplicate-heavy?
# --------------------------------------------------------------------------
# The curation diagnostic that decides where dedup budget goes: per
# source, how many docs exist, how many are exact-duplicate REMOVALS
# (not the canonical min-id keeper of their hash group), and the rate
# in exact BIGINT millionths. Cross-source duplicate groups attribute
# each removal to the source of the REMOVED doc — the doc that would
# leave that domain's corpus.
_DEDUP_RATE_ORACLE = """
WITH canon AS (
    SELECT doc_id, source,
           min(doc_id) OVER (PARTITION BY md5(text)) AS canonical
    FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(coalesce(sum(CASE WHEN doc_id <> canonical THEN 1 END), 0)
         AS BIGINT) AS n_removed,
       CAST(coalesce(sum(CASE WHEN doc_id <> canonical THEN 1 END), 0)
            * 1000000 // count(*) AS BIGINT) AS removal_millionths
FROM canon GROUP BY 1
"""


@register("dedup_rate_by_source", oracle=_DEDUP_RATE_ORACLE)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplicate removal rates under the min-id-keeps
    policy (the same canonical rule as dedup_exact / corpus_dedup_keep)
    in exact BIGINT millionths — the report that tells a curation run
    which domains are boilerplate farms before any fuzzy pass spends
    budget there.

    Scale design: one shuffle on the 128-bit content hash (16-byte
    keys, never document bodies) to attach each doc's group canonical,
    then one map-side-combinable groupBy on source. Reuses
    operators/dedup.py::dedup_exact's keep-policy (min id) so the rate
    is definitionally consistent with what the dedup pass would
    actually remove."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5("text").alias("h")
    )
    w = Window.partitionBy("h")
    canon = docs.withColumn("canonical", F.min("doc_id").over(w))
    removed = F.sum(
        F.when(F.col("doc_id") != F.col("canonical"), 1)
    )
    agg = canon.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.coalesce(removed, F.lit(0)).cast("bigint").alias("n_removed"),
    )
    # BIGINT `div`, not `/` + cast: Spark truncates a DOUBLE->BIGINT
    # cast while DuckDB rounds it — integer division sidesteps the
    # boundary entirely (same discipline as pagerank's rank steps)
    return agg.select(
        "source",
        "n_docs",
        "n_removed",
        F.expr("n_removed * 1000000 div n_docs")
        .cast("bigint")
        .alias("removal_millionths"),
    )


# --------------------------------------------------------------------------
# 192. curation_pipeline_e2e — the composed curation capstone (r8)
# --------------------------------------------------------------------------
def _curation_ctes() -> str:
    """The WITH-chain through the ``clean`` survivors (stages 1-4:
    quality gate -> exact dedup -> minhash-LSH near dedup -> benchmark
    decontamination), shared VERBATIM by the split-count oracle
    (curation_pipeline_e2e) and the shard-export oracle
    (export_pipeline_e2e) — the two faces must disagree only in what
    they do with the same survivors. Stage fragments reuse the
    individual queries' oracle arithmetic verbatim (same permutation
    literals, band keys, bucket caps, bucket salt) so a divergence is
    a COMPOSITION bug, not a re-derivation drift."""
    params = perm_params(D.N_PERMS)
    mh_cols = ",\n        ".join(
        f"min((x * {a} + {b}) % {MINHASH_PRIME}) AS mh_{j}"
        for j, (a, b) in enumerate(params)
    )
    bands = "\n    UNION ALL\n".join(
        "    SELECT doc_id, {b} AS band, md5(concat_ws(',', {cols})) AS bkey FROM sig".format(
            b=b,
            cols=", ".join(
                f"mh_{b * D.ROWS_PER_BAND + r}" for r in range(D.ROWS_PER_BAND)
            ),
        )
        for b in range(D.N_BANDS)
    )
    eq = " + ".join(
        f"(CASE WHEN sa.mh_{j} = sb.mh_{j} THEN 1 ELSE 0 END)"
        for j in range(D.N_PERMS)
    )
    return f"""
WITH base AS MATERIALIZED (
    SELECT doc_id, lang, md5(text) AS text_hash,
           {DUCK_TOKENS} AS t,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM documents
), quality AS MATERIALIZED (
    SELECT doc_id, lang, text_hash, t FROM base
    WHERE doc_id % 97 <> 0
      AND len(t) BETWEEN 20 AND 80
      AND len(list_distinct(t)) * 1.0 / len(t) >= 0.35
      AND n_chars * 1.0 / len(t) BETWEEN 3.0 AND 6.0
), exact_surv AS MATERIALIZED (
    SELECT q.doc_id, q.lang, q.t FROM quality q
    JOIN (SELECT min(doc_id) AS doc_id FROM quality GROUP BY text_hash) c
      ON q.doc_id = c.doc_id
), sh AS (
    SELECT doc_id, unnest({DUCK_SHINGLES}) AS shingle FROM exact_surv
), hx AS (
    SELECT doc_id, {md5_u32_duckdb('shingle')} AS x FROM sh
), sig AS MATERIALIZED (
    SELECT doc_id,
        {mh_cols}
    FROM hx GROUP BY doc_id
), bands AS (
{bands}
), capped AS (
    SELECT * FROM bands
    QUALIFY count(*) OVER (PARTITION BY band, bkey) <= {D.MAX_BUCKET}
), pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM capped a JOIN capped b
      ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
), dropd AS (
    SELECT DISTINCT p.doc_b FROM pairs p
    JOIN sig sa ON sa.doc_id = p.doc_a
    JOIN sig sb ON sb.doc_id = p.doc_b
    WHERE round(({eq}) / {float(D.N_PERMS)}, 4) >= 0.75
), near_surv AS MATERIALIZED (
    SELECT doc_id, lang, t FROM exact_surv
    WHERE doc_id NOT IN (SELECT doc_b FROM dropd)
), bench AS (
    SELECT DISTINCT {md5_u32_duckdb('shingle')} AS bsh
    FROM (SELECT unnest({DUCK_SHINGLES}) AS shingle
          FROM (SELECT t FROM base WHERE doc_id % 97 = 0))
), tr_sh AS (
    SELECT doc_id, {md5_u32_duckdb('shingle')} AS shingle
    FROM (SELECT doc_id, unnest({DUCK_SHINGLES}) AS shingle FROM near_surv)
), contaminated AS (
    SELECT s.doc_id FROM tr_sh s JOIN bench b ON b.bsh = s.shingle
    GROUP BY 1 HAVING count(DISTINCT s.shingle) >= 2
), clean AS (
    SELECT doc_id, lang FROM near_surv
    WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
)"""


def _curation_e2e_oracle() -> str:
    """Split counts over the shared survivor chain (see _curation_ctes)."""
    return f"""
{_curation_ctes()}, labeled AS (
    SELECT lang,
           CASE WHEN {_bucket_duck('doc_id', 'split')} < 800 THEN 'train'
                WHEN {_bucket_duck('doc_id', 'split')} < 900 THEN 'val'
                ELSE 'test' END AS split
    FROM clean
)
SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs
FROM labeled GROUP BY 1, 2
"""


@register("curation_pipeline_e2e", oracle=_curation_e2e_oracle())
def curation_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation capstone: quality_filter -> exact dedup
    -> minhash near-dedup -> benchmark decontamination -> train/val/
    test split counts, composed as ONE registered query — the proof
    the registry's curation operators chain without a driver
    round-trip between stages.

    Scale design — ONE scan of the corpus bodies, period: the first
    projection derives everything any stage needs (md5 content hash,
    token array, length stats) and persists that NARROW frame; raw
    text never appears downstream, so the 100 TB body column is read
    exactly once and every later stage consumes derived columns
    (docs-sized, bodies dropped). Stage mechanics are the proven
    shapes of the standalone queries: the quality gate is codegen
    booleans on the persisted stats; exact dedup semi-joins ids
    against the min-id-per-hash frame (16-byte hashes shuffle, never
    bodies); near dedup runs the banded-LSH pair finder with its
    hot-bucket cap on signatures built from the CACHED token arrays;
    decontamination broadcasts the benchmark shingle-hash set (eval
    suites are tiny by nature) and probes the survivors' shingles;
    the split label is the stable content-hash bucket. Benchmark docs
    (doc_id % 97 == 0) are excluded from training output up front —
    an eval suite must never train — but still source the
    decontamination probe set from the SAME cached base frame.
    Persist lifecycle is caller-owned, as with kcore_peel (bench
    clears per query; loops must clearCache after materializing)."""
    from strava_data_pipeline_spark.operators.sampling import assign_split

    base, clean = _curation_clean(spark, sf_dir)

    # stage 5 — stable split assignment over the curated corpus
    return (
        assign_split(clean.select("doc_id", "lang"))
        .groupBy("split", "lang")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )


def _curation_clean(spark: SparkSession, sf_dir: str):
    """Stages 1-4 of the curation capstone, factored so the split-count
    face (curation_pipeline_e2e) and the shard-export face
    (export_pipeline_e2e) provably run the SAME composed pipeline.
    Returns (base, clean): the persisted narrow frame (one corpus body
    scan — md5 hash, token array, length stats; bodies dropped) and the
    curated survivor frame (doc_id, lang, toks)."""
    docs = load_docs(spark, sf_dir)
    toks = T.tokens(F.col("text"))
    base = docs.select(
        "doc_id",
        "lang",
        F.md5(F.col("text")).alias("text_hash"),
        toks.alias("toks"),
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct"),
        F.length("text").cast("bigint").alias("n_chars"),
    ).persist()

    # stage 1 — quality gate + benchmark exclusion (codegen booleans
    # over the persisted stats; thresholds = quality_filter's)
    q = base.where(
        (F.col("doc_id") % 97 != 0)
        & F.col("n_tokens").between(20, 80)
        & (F.col("n_distinct") / F.col("n_tokens") >= 0.35)
        & (F.col("n_chars") / F.col("n_tokens")).between(3.0, 6.0)
    ).select("doc_id", "lang", "text_hash", "toks")

    # stage 2 — exact dedup: the min-id doc per content hash survives
    canon = q.groupBy("text_hash").agg(F.min("doc_id").alias("doc_id"))
    ex = q.join(canon.select("doc_id"), "doc_id", "left_semi")

    # stage 3 — near dedup: minhash signatures from the CACHED token
    # arrays (same permutations/banding/caps as dedup_minhash), drop
    # the higher-id doc of every confident pair
    sh = ex.select(
        "doc_id", F.explode(T.word_shingles(F.col("toks"))).alias("_sh")
    ).select("doc_id", md5_u32(F.col("_sh")).alias("x"))
    sig = sh.groupBy("doc_id").agg(
        *[
            F.min(
                (F.col("x") * F.lit(a) + F.lit(b)) % F.lit(MINHASH_PRIME)
            ).alias(f"mh_{j}")
            for j, (a, b) in enumerate(perm_params(D.N_PERMS))
        ]
    )
    drop = (
        D.minhash_lsh_pairs(sig)
        .where(F.col("est_jaccard") >= 0.75)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    nd = ex.join(drop, "doc_id", "left_anti")

    # stage 4 — decontamination: benchmark shingle hashes broadcast,
    # survivors with >= 2 shared shingles drop (decontaminate's rule)
    bench = (
        base.where(F.col("doc_id") % 97 == 0)
        .select(F.explode(T.word_shingles(F.col("toks"))).alias("_sh"))
        .select(md5_u32(F.col("_sh")).alias("shingle"))
        .distinct()
    )
    tr_sh = nd.select(
        "doc_id", F.explode(T.word_shingles(F.col("toks"))).alias("_sh")
    ).select("doc_id", md5_u32(F.col("_sh")).alias("shingle"))
    contaminated = (
        tr_sh.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.countDistinct("shingle").alias("n_shared"))
        .where(F.col("n_shared") >= 2)
        .select("doc_id")
    )
    clean = nd.join(contaminated, "doc_id", "left_anti")
    return base, clean


# --------------------------------------------------------------------------
# 213. export_pipeline_e2e — the corpus EXPORT half on disk (r9)
# --------------------------------------------------------------------------
# The engine planned shards (corpus_shard_plan) and packed bins
# (corpus_pack_bins) but never WROTE a curated corpus as an audited
# artifact — every streaming sink writes events/rollups/sketches. This
# face closes the loop with the sync_audit discipline: the curation
# survivors (stages 1-4, the SAME _curation_clean frame the split-count
# capstone consumes) are exported as token-budget shards through
# sources/corpus_export.export_corpus_shards — bucketed global prefix
# sum for shard_id, one immutable dir per shard, manifest + marker
# publish via the versioned store — then the export is REPLAYED (the
# second call must fingerprint-match and add no version) and the
# COMMITTED snapshot is read back and hashed against the chained
# oracle. A lost shard, a doc in two shards, a boundary shifted by a
# nondeterministic order, or a replay that double-published all land in
# the hash; n_versions pins replay idempotence into every output row.
_EXPORT_TARGET = 500


def _export_e2e_oracle() -> str:
    """Shard stats over the shared survivor chain: join ``clean`` back
    to ``base`` for the content hash (h = first 32 md5 bits — derivable
    from text_hash, no second body scan on the ORACLE side either) and
    token counts, then corpus_shard_plan's window arithmetic."""
    return f"""
{_curation_ctes()}, kept AS (
    SELECT c.doc_id,
           CAST(('0x' || substr(b.text_hash, 1, 8))::UBIGINT AS BIGINT) AS h,
           CAST(len(b.t) AS BIGINT) AS n_tokens
    FROM clean c JOIN base b ON b.doc_id = c.doc_id
), cum AS (
    SELECT n_tokens,
           sum(n_tokens) OVER (ORDER BY h, doc_id
               ROWS UNBOUNDED PRECEDING) - n_tokens AS cum_excl
    FROM kept
)
SELECT CAST(cum_excl // {_EXPORT_TARGET} AS BIGINT) AS shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(1 AS BIGINT) AS n_versions
FROM cum GROUP BY shard_id
"""


@register("export_pipeline_e2e", oracle=_export_e2e_oracle())
def export_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curate -> shard -> PUBLISH -> replay -> audit the committed
    artifact. Runs stages 1-4 once (one corpus body scan builds the
    narrow base frame), joins the survivor ids back to the raw table
    for bodies — the EXPORT scan, the one unavoidable second read:
    bodies must be read to be written, and carrying them through four
    curation shuffles instead would be strictly worse — and exports
    through the versioned store twice. The second export must be a
    fingerprint-matched no-op (replay adds no version; n_versions in
    every row pins it). Output is computed from the COMMITTED shard
    files, not the in-flight frame, so the store's manifest resolution
    and partition dirs are inside the hash.

    100 TB notes: shard assignment is the skew-immune bucketed prefix
    sum (one summary row per hash bucket rides the sequential
    dependency); the write is one pass, one dir per shard; the replay
    check costs one narrow aggregate (count + two BIGINT sums), never
    a re-read of shard bodies."""
    import hashlib as _hl
    import shutil as _sh

    from strava_data_pipeline_spark.sources.corpus_export import (
        export_corpus_shards,
    )
    from strava_data_pipeline_spark.sources.versioned import (
        committed_versions,
        read_snapshot,
    )

    base, clean = _curation_clean(spark, sf_dir)
    meta = base.select(
        "doc_id",
        F.conv(F.substring("text_hash", 1, 8), 16, 10)
        .cast("bigint")
        .alias("h"),
        F.col("n_tokens"),
    )
    bodies = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    # persisted across BOTH export calls: the replay's fingerprint
    # check is then a cache scan instead of a second full run of the
    # four-stage curation pipeline (export_corpus_shards only persists
    # when the caller didn't)
    kept = (
        clean.select("doc_id").join(meta, "doc_id").join(bodies, "doc_id")
    ).persist()

    tag = _hl.md5(sf_dir.encode()).hexdigest()[:6]
    root = f"spark-warehouse/_corpusexport_{tag}"
    _sh.rmtree(root, ignore_errors=True)

    try:
        v1, wrote1 = export_corpus_shards(kept, root, _EXPORT_TARGET)
        v2, wrote2 = export_corpus_shards(kept, root, _EXPORT_TARGET)
    finally:
        kept.unpersist()
    assert wrote1 and not wrote2 and v1 == v2, (v1, wrote1, v2, wrote2)

    committed = read_snapshot(spark, root)
    n_versions = len(committed_versions(spark, root))
    return (
        committed.groupBy(F.col("shard_id").cast("bigint").alias("shard_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
        .withColumn("n_versions", F.lit(n_versions).cast("bigint"))
    )
