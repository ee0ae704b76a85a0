"""Similarity search over the embeddings table (array<float> columns).

Brute-force cosine top-k (the exact baseline: broadcast the small query
set, scan the corpus once) and a random-hyperplane LSH-bucketed
variant (the scale path: shuffle on bucket ids instead of the cross
product). All vector math is higher-order-function based (see
functions/vectors.py) — JVM-side, no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from strava_data_pipeline_spark.functions import vectors as V
from strava_data_pipeline_spark.operators.skew import (
    MAX_BUCKET,
    cap_hot_buckets_broadcast,
    capped_bucket_pairs,
    spread_small_scan,
)

DIM = 64
N_PLANES = 8

# embedding_neardup_pairs' LSH shape: EMB_BANDS bucket tables of
# EMB_BITS hyperplane sign bits each
EMB_BANDS = 4
EMB_BITS = 2


def _plane_component(j: int, d: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1],
    derived from md5 so the DuckDB oracle regenerates the same planes."""
    import hashlib

    h = int(hashlib.md5(f"plane:{j}:{d}".encode()).hexdigest()[:8], 16)
    return ((h % 2001) - 1000) / 1000.0


def plane_literals(n_planes: int = N_PLANES, dim: int = DIM) -> list[list[float]]:
    return [[_plane_component(j, d) for d in range(dim)] for j in range(n_planes)]


def ann_topk_bruteforce(
    corpus: DataFrame, queries: DataFrame, k: int = 10
) -> DataFrame:
    """Exact cosine top-k: corpus ⨯ broadcast(queries), ranked per query.

    The corpus is scanned once; ranking is a per-query-key window over
    |queries|·|corpus| scored rows. Ordering key is the *rounded* score
    (+ id tiebreak) so ranks are reproducible cross-engine. Each side's
    norm is computed ONCE per vector before the pair expansion — a
    corpus row's norm would otherwise be re-folded per query (|Q|×
    waste); the hoisted expression is bitwise-identical (see
    vectors.cosine_rounded_hoisted) so scores are unchanged.
    """
    q = queries.select(
        F.col("vec_id").alias("query_id"), V.as_double(F.col("embedding")).alias("qv")
    ).withColumn("qn", V.norm(F.col("qv")))
    c = spread_small_scan(corpus).select(
        F.col("vec_id").alias("neighbor_id"),
        V.as_double(F.col("embedding")).alias("cv"),
    ).withColumn("cn", V.norm(F.col("cv")))
    scored = c.crossJoin(F.broadcast(q)).where(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = scored.select(
        "query_id",
        "neighbor_id",
        V.cosine_rounded_hoisted(
            F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
        ).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", F.col("rank").cast("int"))
    )


def _band_bucket_expr(vec_col: str, band: int, bits: int) -> F.Column:
    """Bucket id for one LSH band: ``bits`` consecutive hyperplane sign
    bits starting at plane ``band * bits``."""
    planes = plane_literals()
    bit_terms = []
    for j in range(bits):
        lits = F.array(*[F.lit(x) for x in planes[band * bits + j]])
        d = V.dot(F.col(vec_col), lits)
        bit_terms.append(F.when(d >= 0, F.lit(1 << j)).otherwise(F.lit(0)))
    return sum(bit_terms).cast("int")


def _bucket_expr(vec_col: str) -> F.Column:
    """8-bit random-hyperplane bucket id for a double-array column."""
    return _band_bucket_expr(vec_col, 0, N_PLANES)


def ann_topk_lsh(
    corpus: DataFrame, queries: DataFrame, k: int = 5, max_bucket: int = MAX_BUCKET
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's
    hyperplane bucket. At 100 TB the corpus is pre-bucketed (partitioned
    by bucket id at write), so a query touches 1/256th of the data.
    Corpus buckets larger than ``max_bucket`` vectors are dropped before
    the candidate join (observed metric ``ann_lsh_skew``) — a degenerate
    bucket (e.g. a mass of near-zero vectors landing on one sign
    pattern) would otherwise multiply against every query probing it."""
    q = (
        queries.select(
            F.col("vec_id").alias("query_id"),
            V.as_double(F.col("embedding")).alias("qv"),
        )
        .withColumn("bucket", _bucket_expr("qv"))
        .withColumn("qn", V.norm(F.col("qv")))
    )
    c = (
        spread_small_scan(corpus)
        .select(
            F.col("vec_id").alias("neighbor_id"),
            V.as_double(F.col("embedding")).alias("cv"),
        )
        .withColumn("bucket", _bucket_expr("cv"))
        .withColumn("cn", V.norm(F.col("cv")))
    )
    # broadcast variant: the candidate join below is against a
    # broadcast query side, so the window variant's full-corpus
    # exchange (64-double arrays sorted on bucket) would be pure
    # overhead — the narrow-count + broadcast-anti shape keeps the
    # corpus scan shuffle-free (r11 adjudication fix)
    c = cap_hot_buckets_broadcast(c, ["bucket"], max_bucket, "ann_lsh_skew")
    scored = (
        c.join(F.broadcast(q), "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            V.cosine_rounded_hoisted(
                F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", F.col("rank").cast("int"))
    )


def _ivf_nearest_cids(vec_col: str, norm_col: str, top: int) -> F.Column:
    """Ranked nearest-centroid ids against the broadcast ``cents``
    array-of-(cid, centv, centn): ``array_sort`` over a
    ``transform``-computed struct array, pure whole-stage codegen, NO
    row expansion (the kmeans_lloyd/semdedup argmin idiom). Sort key =
    rounded cosine quantized to exact BIGINT micro-units (round-6dp ×
    1e6 is an integer recovered exactly by floor(x+0.5)), negated so
    ascending struct order equals the oracle's ``ccos DESC, cid ASC``."""
    ranked = F.array_sort(
        F.transform(
            F.col("cents"),
            lambda ct: F.struct(
                (
                    -F.floor(
                        F.round(
                            V.dot(F.col(vec_col), ct["centv"])
                            / (F.col(norm_col) * ct["centn"]),
                            6,
                        )
                        * F.lit(1000000.0)
                        + F.lit(0.5)
                    ).cast("bigint")
                ).alias("neg_ccos_micro"),
                ct["cid"].alias("cid"),
            ),
        )
    )
    return F.transform(F.slice(ranked, 1, top), lambda s: s["cid"])


def ivf_assignments(corpus: DataFrame, n_centroids: int = 16) -> DataFrame:
    """Inverted-list assignment for the IVF index: every corpus vector
    → its single nearest centroid (deterministic vec_id < n_centroids
    seeds, same tie/rounding discipline as ``ann_topk_ivf``). Returns
    (neighbor_id, cv, cn, cid) — the list build half of the index,
    exposed so balance audits (list-size histograms) and the search
    path share one definition. Zero shuffles besides the corpus scan:
    the centroid array folds in as a broadcast 1-row aggregate."""
    c = spread_small_scan(corpus).select(
        F.col("vec_id").alias("neighbor_id"),
        V.as_double(F.col("embedding")).alias("cv"),
    ).withColumn("cn", V.norm(F.col("cv")))
    cent = c.where(F.col("neighbor_id") < n_centroids).select(
        F.col("neighbor_id").alias("cid"),
        F.col("cv").alias("centv"),
        F.col("cn").alias("centn"),
    )
    cent_arr = cent.agg(
        F.collect_list(F.struct("cid", "centv", "centn")).alias("cents")
    )
    return c.crossJoin(F.broadcast(cent_arr)).select(
        "neighbor_id",
        "cv",
        "cn",
        F.element_at(_ivf_nearest_cids("cv", "cn", 1), 1).alias("cid"),
    )


def ann_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 2,
) -> DataFrame:
    """IVF-style approximate top-k: partition the corpus into inverted
    lists by nearest centroid; a query scores only the lists of its
    ``n_probe`` closest centroids.

    Centroids here are deterministic seeds (vec_id < n_centroids) so
    the DuckDB oracle reproduces the index exactly; at cluster scale
    the centroids come from an offline MLlib KMeans fit and the corpus
    is written partitioned by ``centroid_id``, making each probe a
    partition-pruned scan of ~1/n_centroids of the data. Assignment
    ranks by the *rounded* cosine (+ centroid-id tiebreak) so list
    membership is reproducible cross-engine.

    Assignment shape: the ranked-centroid list folds ONE broadcast
    1-row array-of-(cid, centroid, norm) against each row —
    ``array_sort`` over a ``transform``-computed struct array, pure
    whole-stage codegen, NO row expansion (the kmeans_lloyd/semdedup
    argmin idiom). The previous join+window form materialized N×K rows
    each carrying the 64-dim vector and shuffled them for a per-row
    window — a scale-killer once K grows past toy sizes (a production
    IVF index is K≈√N lists). The sort key is the rounded cosine
    quantized to exact BIGINT micro-units (round-6dp × 1e6 is an
    integer recovered exactly by floor(x+0.5): the double product sits
    within ~4e-10 of it), negated so ascending struct order equals the
    oracle's ``ccos DESC, cid ASC`` — list membership is bit-identical
    to the window form.
    """
    c = spread_small_scan(corpus).select(
        F.col("vec_id").alias("neighbor_id"),
        V.as_double(F.col("embedding")).alias("cv"),
    ).withColumn("cn", V.norm(F.col("cv")))
    cent = c.where(F.col("neighbor_id") < n_centroids).select(
        F.col("neighbor_id").alias("cid"),
        F.col("cv").alias("centv"),
        F.col("cn").alias("centn"),
    )
    cent_arr = cent.agg(
        F.collect_list(F.struct("cid", "centv", "centn")).alias("cents")
    )
    corpus_lists = c.crossJoin(F.broadcast(cent_arr)).select(
        "neighbor_id",
        "cv",
        "cn",
        F.element_at(_ivf_nearest_cids("cv", "cn", 1), 1).alias("cid"),
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        V.as_double(F.col("embedding")).alias("qv"),
    ).withColumn("qn", V.norm(F.col("qv")))
    probes = q.crossJoin(F.broadcast(cent_arr)).select(
        "query_id",
        "qv",
        "qn",
        F.explode(_ivf_nearest_cids("qv", "qn", n_probe)).alias("cid"),
    )
    scored = (
        corpus_lists.join(F.broadcast(probes), "cid")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            V.cosine_rounded_hoisted(
                F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", F.col("rank").cast("int"))
    )


def embedding_neardup_pairs(
    embeddings: DataFrame, threshold: float = 0.98, max_bucket: int = MAX_BUCKET
) -> DataFrame:
    """Near-duplicate vector pairs (cosine ≥ threshold) via banded
    random-hyperplane LSH inside ``label`` blocks.

    Candidates are generated ONLY within (label, band, bucket) groups —
    an equi-join shuffle on narrow keys, never all-pairs per label — so
    a hot label cannot melt one reducer. A pair colliding in any of the
    ``EMB_BANDS`` bucket tables becomes a candidate once (ids only,
    de-duplicated: skew.capped_bucket_pairs, the minhash and simhash
    candidate join too), then a single verify join re-attaches the two
    vectors and applies the cosine threshold. Recall for a pair at
    angle θ is 1 - (1 - (1-θ/π)^bits)^bands ≈ 0.85 at this corpus's
    τ=0.35 with ``EMB_BANDS`` = 4 bands of ``EMB_BITS`` = 2 bits; a
    production near-dup threshold (τ ≥ 0.9) wants 8-16 bits per band so
    per-band buckets stay small at corpus scale.
    """
    e = spread_small_scan(embeddings).select(
        "vec_id", "label", V.as_double(F.col("embedding")).alias("v")
    ).withColumn("nv", V.norm(F.col("v")))
    bucketed = e.select(
        "vec_id",
        "label",
        F.posexplode(
            F.array(
                *[_band_bucket_expr("v", b, EMB_BITS) for b in range(EMB_BANDS)]
            )
        ).alias("band", "bucket"),
    )
    cand = capped_bucket_pairs(
        bucketed,
        ["label", "band", "bucket"],
        "vec_id",
        ("vec_a", "vec_b"),
        max_bucket,
        "emb_dedup_skew",
    )
    # verify join with per-vector norms hoisted out of the pair rows:
    # one dot fold per candidate instead of three 64-element reductions
    va = e.select(
        F.col("vec_id").alias("vec_a"),
        F.col("v").alias("va"),
        F.col("nv").alias("na"),
    )
    vb = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("v").alias("vb"),
        F.col("nv").alias("nb"),
    )
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            V.cosine_rounded_hoisted(
                F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
            ).alias("score"),
        )
        .where(F.col("score") >= threshold)
    )
