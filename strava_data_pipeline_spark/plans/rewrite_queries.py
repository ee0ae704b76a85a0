"""Corpus-rewrite queries (SURVEY.md §2c, r6 pack, rows 144-146): the
REMOVE side of the dedup/decontamination story. The detection tier
(dedup_substring, decontaminate) flags documents; a production
training-data pipeline then REWRITES them — drop the duplicated span,
keep the rest — because whole-doc removal at span-level contamination
rates throws away most of the corpus (Lee et al. 2022, "Deduplicating
Training Data Makes Language Models Better", does exactly this with a
suffix array; C4 does it at line grain).

Distributed re-expression used here: documents segment into
NON-OVERLAPPING W-token blocks (the rewrite unit — overlapping spans
have no well-defined "remove one occurrence" rewrite), block identity
travels as full md5 (128-bit: ~1e13 blocks at 100 TB would
birthday-collide a 64-bit key), and the keep/drop decision is one
hash-partitioned window — never a self-join. Reassembly is a doc_id
groupBy. Both shuffles carry (hash | doc_id, short payload) and are
linear in corpus tokens.

Same determinism discipline as every pack: portable md5 identities,
integer micro-unit quantization for log-derived doubles (with the
half-unit nudge before floor), canonical string serialization for any
array-shaped result column.

No reference parity lines: the reference (a Go activity service) has
no corpus tier; these are beyond-reference operators the task brief
makes first-class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from strava_data_pipeline_spark.functions import text as T
from strava_data_pipeline_spark.functions.hashing import md5_u32, md5_u32_duckdb
from strava_data_pipeline_spark.plans.prelude import DUCK_TOKENS, load_docs
from strava_data_pipeline_spark.plans.registry import register

_BLOCK_W = 8  # tokens per rewrite block (the paper's 50 scaled to this corpus)


def _blocks(docs: DataFrame) -> DataFrame:
    """(doc_id, blk, block_text) for non-overlapping W-token blocks.

    Built inside codegen: sequence over ceil(n/W) indices, slice per
    index — no self-join, no UDF. Docs with zero tokens emit zero
    rows (callers left-join documents back to resurface them)."""
    t = T.tokens(F.col("text"))
    n_blocks = F.ceil(F.size(t) / F.lit(_BLOCK_W)).cast("int")
    # sequence(1, 0) is DESCENDING [1, 0] in Spark, not empty — guard
    # zero-block docs explicitly (same discipline as text.char_ngrams)
    idx = F.when(
        n_blocks >= 1, F.sequence(F.lit(1), n_blocks)
    ).otherwise(F.array().cast("array<int>"))
    return docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                idx,
                lambda i: F.concat_ws(
                    " ", F.slice(t, (i - F.lit(1)) * _BLOCK_W + 1, _BLOCK_W)
                ),
            )
        ).alias("blk", "block_text"),
    )


# DuckDB twin of _blocks: same W, same 1-based slice bounds, same
# space-joined block text.
_DUCK_BLOCKS = f"""
    SELECT doc_id,
           CAST(u.seq AS INT) AS blk,
           array_to_string(t[u.seq * {_BLOCK_W} + 1 : (u.seq + 1) * {_BLOCK_W}], ' ')
               AS block_text
    FROM (SELECT doc_id, {DUCK_TOKENS} AS t FROM documents) toks,
         unnest(range(0, (len(t) + {_BLOCK_W} - 1) // {_BLOCK_W})) AS u(seq)
"""


# --------------------------------------------------------------------------
# 144. dedup_span_rewrite — remove duplicated blocks, keep first occurrence
# --------------------------------------------------------------------------
_SPAN_REWRITE_ORACLE = f"""
WITH b AS (
    {_DUCK_BLOCKS}
), kept AS (
    SELECT doc_id, blk, block_text
    FROM b
    QUALIFY row_number() OVER (
        PARTITION BY md5(block_text) ORDER BY doc_id, blk
    ) = 1
), re AS (
    SELECT doc_id,
           array_to_string(list(block_text ORDER BY blk), ' ') AS pruned_text,
           CAST(count(*) AS BIGINT) AS n_kept
    FROM kept GROUP BY 1
), tot AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks FROM b GROUP BY 1
)
SELECT d.doc_id,
       coalesce(re.pruned_text, '') AS pruned_text,
       coalesce(tot.n_blocks, 0) AS n_blocks,
       coalesce(tot.n_blocks, 0) - coalesce(re.n_kept, 0) AS n_dropped
FROM documents d
LEFT JOIN re USING (doc_id)
LEFT JOIN tot USING (doc_id)
"""


@register("dedup_span_rewrite", oracle=_SPAN_REWRITE_ORACLE)
def dedup_span_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup, REMOVE semantics (Lee et al. 2022): every
    8-token block that occurs anywhere else in the corpus keeps exactly
    its FIRST occurrence (ordered by (doc_id, position) — a strict
    total order, so the survivor is unique and deterministic) and every
    later occurrence is cut from its document; documents are reassembled
    from their surviving blocks in order.

    Scale design: the decision is ONE window over blocks partitioned by
    the 128-bit block hash — the shuffle carries (hash, doc_id, blk,
    block_text) once, no self-join, no candidate blow-up (a block with
    k occurrences costs k rows in one partition, and k is bounded by
    the corpus's true duplication, the thing being removed).
    Reassembly is one doc_id-keyed groupBy. Both are linear in corpus
    tokens; at 100 TB the only hot keys are pathological boilerplate
    blocks, which are exactly what the rewrite deletes (the window
    computes rank only — no per-group materialization). Window
    ordering, not min-aggregation + join-back, so the corpus shuffles
    once, not twice."""
    docs = load_docs(spark, sf_dir)
    # two consumers (kept + tot): persist so the block build runs once
    b = _blocks(docs).persist()
    keep_rank = Window.partitionBy(F.md5("block_text")).orderBy("doc_id", "blk")
    kept = (
        b.withColumn("rn", F.row_number().over(keep_rank))
        .where(F.col("rn") == 1)
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("blk", "block_text"))
                    ),
                    lambda s: s["block_text"],
                ),
                " ",
            ).alias("pruned_text"),
            F.count("*").cast("bigint").alias("n_kept"),
        )
    )
    tot = b.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("n_blocks"))
    return (
        docs.select("doc_id")
        .join(kept, "doc_id", "left")
        .join(tot, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("pruned_text", F.lit("")).alias("pruned_text"),
            F.coalesce("n_blocks", F.lit(0)).cast("bigint").alias("n_blocks"),
            (
                F.coalesce("n_blocks", F.lit(0))
                - F.coalesce("n_kept", F.lit(0))
            )
            .cast("bigint")
            .alias("n_dropped"),
        )
    )


# --------------------------------------------------------------------------
# 145. decontaminate_span — cut eval-overlapping blocks, keep the doc
# --------------------------------------------------------------------------
# Same pseudo-benchmark as `decontaminate` (doc_id % 97 == 0) and the
# same overlap unit (distinct word-3-shingles as portable u32 hashes);
# the difference is the ACTION — only the overlapping 8-token blocks
# are cut, the rest of the document survives. Block is dirty when ANY
# of its 3-shingles is an eval shingle.
_DUCK_BLOCK_SHINGLES = (
    "[array_to_string(bt[i:i+2], ' ') "
    "FOR i IN range(1, greatest(len(bt) - 2, 0) + 1)]"
)

_DECONTAM_SPAN_ORACLE = f"""
WITH b AS (
    {_DUCK_BLOCKS}
), bench AS (
    SELECT DISTINCT {md5_u32_duckdb('shingle')} AS sh
    FROM (
        SELECT unnest({_DUCK_BLOCK_SHINGLES}) AS shingle
        FROM (SELECT doc_id, string_split(block_text, ' ') AS bt FROM b)
        WHERE doc_id % 97 = 0
    )
), corpus AS (
    SELECT * FROM b WHERE doc_id % 97 <> 0
), dirty AS (
    SELECT DISTINCT c.doc_id, c.blk
    FROM (
        SELECT doc_id, blk, {md5_u32_duckdb('shingle')} AS sh
        FROM (
            SELECT doc_id, blk, unnest({_DUCK_BLOCK_SHINGLES}) AS shingle
            FROM (SELECT doc_id, blk, string_split(block_text, ' ') AS bt
                  FROM corpus)
        )
    ) c JOIN bench USING (sh)
), re AS (
    SELECT c.doc_id,
           array_to_string(list(c.block_text ORDER BY c.blk), ' ')
               AS pruned_text,
           CAST(count(*) AS BIGINT) AS n_kept
    FROM corpus c LEFT JOIN dirty d
      ON c.doc_id = d.doc_id AND c.blk = d.blk
    WHERE d.doc_id IS NULL
    GROUP BY 1
), tot AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks
    FROM corpus GROUP BY 1
)
SELECT d.doc_id,
       coalesce(re.pruned_text, '') AS pruned_text,
       coalesce(tot.n_blocks, 0) AS n_blocks,
       coalesce(tot.n_blocks, 0) - coalesce(re.n_kept, 0) AS n_cut
FROM documents d
LEFT JOIN re USING (doc_id)
LEFT JOIN tot USING (doc_id)
WHERE d.doc_id % 97 <> 0
"""


@register("decontaminate_span", oracle=_DECONTAM_SPAN_ORACLE)
def decontaminate_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level decontamination: blocks sharing ANY word-3-shingle
    with the eval set are cut; the document keeps its clean blocks.
    Whole-doc removal (what `decontaminate` gates) is the wrong
    granularity when one quoted benchmark sentence sits in an
    otherwise-clean page — the production scrub rewrites.

    Scale design: the eval shingle set is benchmark-sized (tiny by
    nature) — it builds once and BROADCASTS; the corpus side explodes
    block-shingles and LEFT SEMI joins the broadcast to find dirty
    (doc, blk) ids, so the corpus never shuffles for the decision
    (broadcast hash join, map-side). The only corpus shuffles are the
    dirty-id distinct (dirty rows only — contamination-sized, not
    corpus-sized) and the doc_id reassembly groupBy. Shingles travel
    as portable u32 hashes, the same identity `decontaminate` and the
    minhash tier use."""
    docs = load_docs(spark, sf_dir)
    # three consumers (shingle explode, corpus rewrite, totals)
    b = _blocks(docs).persist()
    bt = F.split(F.col("block_text"), " ")
    # sequence(1, 0) is DESCENDING in Spark — guard sub-3-token blocks
    shingles = F.when(
        F.size(bt) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(bt) - F.lit(2)),
            lambda i: md5_u32(F.concat_ws(" ", F.slice(bt, i, 3))),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    exploded = b.select(
        "doc_id", "blk", F.explode(shingles).alias("sh")
    )
    bench = (
        exploded.where(F.col("doc_id") % 97 == 0).select("sh").distinct()
    )
    corpus = b.where(F.col("doc_id") % 97 != 0)
    dirty = (
        exploded.where(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(bench), "sh", "left_semi")
        .select("doc_id", "blk")
        .distinct()
    )
    re = (
        corpus.join(dirty, ["doc_id", "blk"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("blk", "block_text"))
                    ),
                    lambda s: s["block_text"],
                ),
                " ",
            ).alias("pruned_text"),
            F.count("*").cast("bigint").alias("n_kept"),
        )
    )
    tot = corpus.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_blocks")
    )
    return (
        docs.select("doc_id")
        .where(F.col("doc_id") % 97 != 0)
        .join(re, "doc_id", "left")
        .join(tot, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("pruned_text", F.lit("")).alias("pruned_text"),
            F.coalesce("n_blocks", F.lit(0)).cast("bigint").alias("n_blocks"),
            (
                F.coalesce("n_blocks", F.lit(0))
                - F.coalesce("n_kept", F.lit(0))
            )
            .cast("bigint")
            .alias("n_cut"),
        )
    )


# --------------------------------------------------------------------------
# 146. entropy_score — per-doc token Shannon entropy (quality signal)
# --------------------------------------------------------------------------
# Gopher-style repetition/quality signal: low-entropy docs are templated
# or repetitive. entropy = ln(n) - (1/n) * sum_c(c * ln(c)) over the
# doc's token counts c — the sum term uses ONLY integer inputs, so each
# term quantizes to 1e-9 units (half-unit nudge before floor, the
# domain_kl discipline) and the per-doc sum of BIGINTs is
# partition-order-free; the final double expression is one fixed scalar
# tree both engines evaluate identically.
_ENTROPY_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, unnest({DUCK_TOKENS}) AS term FROM documents
), tc AS (
    SELECT doc_id, term, CAST(count(*) AS BIGINT) AS c
    FROM tok GROUP BY 1, 2
), per AS (
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(sum(CAST(floor(c * ln(CAST(c AS DOUBLE)) * 1000000000 + 0.5)
                         AS BIGINT)) AS BIGINT) AS clnc_q9
    FROM tc GROUP BY 1
)
SELECT doc_id, n_tokens, n_distinct, clnc_q9,
       round(ln(CAST(n_tokens AS DOUBLE))
             - clnc_q9 / 1000000000.0 / n_tokens, 4) AS entropy
FROM per
"""


@register("entropy_score", oracle=_ENTROPY_ORACLE)
def entropy_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token Shannon entropy — the Gopher-class signal
    that catches templated/repetitive documents the length and
    stopword-ratio filters miss (a 400-token doc repeating 3 tokens
    has full length but ~1 bit of entropy).

    Scale design: one token explode -> one (doc_id, term) groupBy ->
    one doc_id groupBy; all map-side-combinable counts, no distinct,
    no join. The log arithmetic follows the cross-engine exactness
    discipline: c*ln(c) has integer-only inputs, each term quantizes
    to 1e-9 units with the half-unit nudge before floor (a 1-ulp
    Spark-vs-DuckDB ln() difference cannot flip the floor), the doc
    aggregates BIGINTs (order-free), and the final entropy is one
    fixed expression tree over (n_tokens, clnc_q9) rounded at 4
    decimals on both engines."""
    docs = load_docs(spark, sf_dir)
    tc = (
        docs.select(
            "doc_id", F.explode(T.tokens(F.col("text"))).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    per = tc.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_distinct"),
        F.sum(
            F.floor(
                F.col("c")
                * F.log(F.col("c").cast("double"))
                * F.lit(1000000000)
                + F.lit(0.5)
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("clnc_q9"),
    )
    return per.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        "clnc_q9",
        F.round(
            F.log(F.col("n_tokens").cast("double"))
            - F.col("clnc_q9") / F.lit(1000000000.0) / F.col("n_tokens"),
            4,
        ).alias("entropy"),
    )


# --------------------------------------------------------------------------
# 215. text_normalize — canonicalization-before-dedup, byte-pinned (r9)
# --------------------------------------------------------------------------
# The standard curation step the dedup family assumes has already
# happened: collapse whitespace runs to one space, trim, lowercase —
# so "Hello  World" and "hello world\n" share a canonical form and
# exact dedup catches them. The audit reports, per source, how much
# the canonicalization COLLAPSES (raw-distinct vs norm-distinct), and
# pins the EXACT normalized bytes cross-engine with an
# order-insensitive sum of md5_u32(normalized): if Spark's regex/
# lower/trim semantics diverged from DuckDB's by one byte in one
# document, the sum moves. (Java regex \s and RE2 \s are the same
# six-character class; lower/trim are byte-stable on this corpus's
# ASCII range — the hash sum is the ongoing proof, not an assumption.)
#
# Scale: one body scan, all normalization inside codegen
# (regexp_replace/lower/trim), one map-side-combinable groupBy on
# source; only 16-byte hashes and BIGINTs shuffle. countDistinct
# resolves to two-phase HashAggregate — no window, no join.
_NORMALIZE_ORACLE = f"""
WITH n AS (
    SELECT source,
           md5(text) AS raw_h,
           lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
    FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT raw_h) AS BIGINT) AS n_raw_distinct,
       CAST(count(DISTINCT md5(norm)) AS BIGINT) AS n_norm_distinct,
       CAST(sum({md5_u32_duckdb('norm')}) AS BIGINT) AS norm_hash_sum
FROM n GROUP BY source
"""


@register("text_normalize", oracle=_NORMALIZE_ORACLE)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace-collapse + trim + lowercase canonicalization with a
    per-source collapse report and a cross-engine byte pin (summed
    32-bit md5 of every normalized document). The canonical form is
    what corpus_dedup_keep-style exact dedup should key on when crawls
    differ only in formatting."""
    docs = load_docs(spark, sf_dir)
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), "\\s+", " ")))
    # narrow pre-aggregate FIRST: bodies normalize once into a
    # (source, raw_h, norm_h, norm_u32, c) frame — map-side
    # combinable, only 16-byte hashes and BIGINTs shuffle, and
    # everything downstream derives from it. The distinct counts
    # deliberately avoid countDistinct: two distincts in one agg
    # rewrite through Spark's EXPAND (2x rows) and concentrate the
    # hot source's merge on one reducer (measured 2.6x hot-domain tax
    # at the skew rehearsal); the hash-keyed pre-aggregates spread on
    # the hash no matter how skewed the source mix is. norm_u32 is
    # functionally determined by norm_h (both digest the same bytes),
    # so min() recovers it exactly per group and sum(c * u32) equals
    # the per-document sum — that folds the old separate totals
    # consumer into the norm-distinct one (three cache-read jobs →
    # two; r11 adjudication).
    pre = (
        docs.select(
            "source",
            F.md5("text").alias("raw_h"),
            F.md5(norm).alias("norm_h"),
            md5_u32(norm).alias("norm_u32"),
        )
        .groupBy("source", "raw_h", "norm_h")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("c"),
            F.min("norm_u32").alias("norm_u32"),
        )
        .persist()
    )
    by_norm = pre.groupBy("source", "norm_h").agg(
        F.sum("c").cast("bigint").alias("cn"),
        F.min("norm_u32").alias("u32"),
    )
    norm_agg = by_norm.groupBy("source").agg(
        F.sum("cn").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_norm_distinct"),
        F.sum(F.col("cn") * F.col("u32")).cast("bigint").alias(
            "norm_hash_sum"
        ),
    )
    raw_d = (
        pre.groupBy("source", "raw_h")
        .agg(F.lit(1))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_raw_distinct"))
    )
    return norm_agg.join(raw_d, "source").select(
        "source", "n_docs", "n_raw_distinct", "n_norm_distinct",
        "norm_hash_sum",
    )
