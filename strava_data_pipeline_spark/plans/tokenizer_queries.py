"""Tokenizer-application queries (SURVEY.md §2c, r6 third pack, rows
150-152): learn a subword vocabulary from the corpus and APPLY it —
the step every training pipeline runs after tokenizer training
(`bpe_merge_rounds` learns merge rules; these queries cover the
vocabulary-building + encoding side at corpus scale).

The 100 TB shape all three share: encoding happens on the DISTINCT
WORD table (the type table — orders of magnitude below the token
stream; a 100 TB corpus has ~1e8 word types), and corpus-level numbers
come from joining the per-type encoding back against type frequencies.
The corpus itself is scanned once for the word-frequency groupBy and
never again. The greedy longest-match loop is a per-row `F.aggregate`
fold inside whole-stage codegen — no UDF, no driver loop; the DuckDB
twin replays it as a recursive CTE, so the cross-engine hash match
proves the fold semantics exactly.

Simplification vs production WordPiece (documented contract): no "##"
continuation markers — the vocabulary is position-independent subword
strings (all single characters, so encoding always terminates, plus
the top-K multi-char substrings by corpus frequency). Greedy
longest-match-first from the left, max subword length 4.

No reference parity lines: the reference (a Go activity service) has
no corpus tier; these are beyond-reference operators the task brief
makes first-class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from strava_data_pipeline_spark.functions import text as T
from strava_data_pipeline_spark.plans.prelude import DUCK_TOKENS, load_docs
from strava_data_pipeline_spark.plans.registry import register

# vocabulary knobs — fixed constants of the operator contract
_VOCAB_K = 500  # multi-char entries kept (top-K by weighted count)
_MAX_SUB = 4  # longest subword considered


# --------------------------------------------------------------------------
# shared builders (Spark side)
# --------------------------------------------------------------------------
def _word_freq(docs: DataFrame) -> DataFrame:
    """word -> corpus occurrence count, over non-empty words only (the
    tokenizer contract maps empty text to [''] — those rows carry no
    encodable content). One corpus scan, one map-side-combinable
    groupBy; everything downstream runs on this type table."""
    return (
        docs.select(F.explode(T.tokens(F.col("text"))).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )


def _multi_vocab(wf: DataFrame) -> DataFrame:
    """Top-K multi-char substrings (length 2..4) by weighted corpus
    count: every occurrence position inside a word counts, weighted by
    the word's corpus frequency. Ties break lexicographically so the
    learned vocabulary is a deterministic function of the corpus.

    Scale: the substring stream is ~3L rows per word TYPE (not per
    corpus token); the argtop is TakeOrderedAndProject over the
    substring-type table — no global window, no driver collect."""
    subs = wf.select(
        "cnt",
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(2), F.lit(_MAX_SUB)),
                    lambda l: F.when(
                        F.length("w") >= l,
                        F.transform(
                            F.sequence(F.lit(1), F.length("w") - l + 1),
                            lambda i: F.col("w").substr(i, l),
                        ),
                    ).otherwise(F.array().cast("array<string>")),
                )
            )
        ).alias("t"),
    )
    return (
        subs.groupBy("t")
        .agg(F.sum("cnt").cast("bigint").alias("weight"))
        .orderBy(F.col("weight").desc(), "t")
        .limit(_VOCAB_K)
    )


def _char_vocab(wf: DataFrame) -> DataFrame:
    """Every distinct character of every word type (weighted count for
    the vocab listing). Guarantees the greedy encoder always advances:
    any position falls back to its single character."""
    return (
        wf.select(
            "cnt",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("w")),
                    lambda i: F.col("w").substr(i, F.lit(1)),
                )
            ).alias("t"),
        )
        .groupBy("t")
        .agg(F.sum("cnt").cast("bigint").alias("weight"))
    )


def _encoded_words(wf: DataFrame, multi: DataFrame) -> DataFrame:
    """word type -> its greedy longest-match subword encoding.

    The multi-char vocabulary rides a ONE-ROW map (token -> token,
    <=_VOCAB_K entries — bounded by the operator contract, broadcast
    however large the corpus); the encode loop is an `F.aggregate`
    fold over positions 1..len(word): when the step index reaches the
    cursor, probe the map at lengths 4, 3, 2 (guarded so a short tail
    never matches a shorter vocab entry through substr truncation),
    fall back to the single character, append, and advance the cursor
    by the match length. Steps inside a consumed match are no-ops.
    Whole loop is one codegen expression — no UDF, no explode."""
    vmap = multi.groupBy().agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("t"), F.col("t").alias("v")))
        ).alias("vmap")
    )

    def _step(acc: F.Column, i: F.Column) -> F.Column:
        cur = acc["cursor"]
        rem = F.length("w") - cur + 1
        tok = F.coalesce(
            *[
                F.when(
                    rem >= l,
                    F.try_element_at("vmap", F.col("w").substr(cur, F.lit(l))),
                )
                for l in range(_MAX_SUB, 1, -1)
            ],
            F.col("w").substr(cur, F.lit(1)),
        )
        return F.when(
            i == cur,
            F.struct(
                (cur + F.length(tok)).alias("cursor"),
                F.concat(acc["toks"], F.array(tok)).alias("toks"),
            ),
        ).otherwise(acc)

    return (
        wf.crossJoin(F.broadcast(vmap))
        .select(
            "w",
            "cnt",
            F.aggregate(
                F.sequence(F.lit(1), F.length("w")),
                F.struct(
                    F.lit(1).cast("int").alias("cursor"),
                    F.array().cast("array<string>").alias("toks"),
                ),
                _step,
            )["toks"].alias("toks"),
        )
    )


# --------------------------------------------------------------------------
# shared builders (DuckDB side)
# --------------------------------------------------------------------------
# word-frequency + vocab CTEs shared by all three oracles
_DUCK_COMMON = f"""
wf AS (
    SELECT w, CAST(count(*) AS BIGINT) AS cnt
    FROM (SELECT unnest({DUCK_TOKENS}) AS w FROM documents)
    WHERE w <> '' GROUP BY 1
), subs AS (
    SELECT t, CAST(sum(cnt) AS BIGINT) AS weight FROM (
        SELECT cnt, unnest(flatten(
            [ CASE WHEN length(w) >= l
                   THEN [substr(w, i, l) FOR i IN range(1, length(w) - l + 2)]
                   ELSE [] END
              FOR l IN range(2, {_MAX_SUB} + 1) ])) AS t
        FROM wf)
    GROUP BY 1
), vocab AS (
    SELECT t, weight FROM subs
    ORDER BY weight DESC, t ASC LIMIT {_VOCAB_K}
), chars AS (
    SELECT t, CAST(sum(cnt) AS BIGINT) AS weight FROM (
        SELECT cnt, unnest([substr(w, i, 1) FOR i IN range(1, length(w) + 1)]) AS t
        FROM wf)
    GROUP BY 1
)"""

# greedy longest-match encode as a recursive CTE over (word, cursor):
# each step left-joins the vocab at lengths 4/3/2 (length-guarded, the
# same guard as the Spark fold) and falls back to the single character.
_DUCK_ENCODE = f"""
enc AS (
    SELECT w, cnt, 1 AS pos, CAST([] AS VARCHAR[]) AS toks FROM wf
    UNION ALL
    SELECT w, cnt, pos + length(tok) AS pos, toks || [tok] AS toks
    FROM (
        SELECT e.w, e.cnt, e.pos, e.toks,
               coalesce(v4.t, v3.t, v2.t, substr(e.w, e.pos, 1)) AS tok
        FROM enc e
        LEFT JOIN vocab v4
            ON length(e.w) - e.pos + 1 >= 4 AND v4.t = substr(e.w, e.pos, 4)
        LEFT JOIN vocab v3
            ON length(e.w) - e.pos + 1 >= 3 AND v3.t = substr(e.w, e.pos, 3)
        LEFT JOIN vocab v2
            ON length(e.w) - e.pos + 1 >= 2 AND v2.t = substr(e.w, e.pos, 2)
        WHERE e.pos <= length(e.w)
    )
), done AS (
    SELECT w, cnt, toks FROM enc WHERE pos > length(w)
)"""


# --------------------------------------------------------------------------
# 150. wordpiece_vocab — the learned vocabulary
# --------------------------------------------------------------------------
_VOCAB_ORACLE = f"""
WITH {_DUCK_COMMON}
SELECT t AS token, weight, FALSE AS is_char FROM vocab
UNION ALL
SELECT t AS token, weight, TRUE AS is_char FROM chars
"""


@register("wordpiece_vocab", oracle=_VOCAB_ORACLE)
def wordpiece_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-learned subword vocabulary: every distinct character
    (so encoding always terminates) plus the top-500 length-2..4
    substrings by weighted corpus count (each in-word occurrence
    counts, weighted by the word's corpus frequency; ties break
    lexicographically — the vocabulary is a deterministic function of
    the corpus).

    Scale design: one corpus scan for word frequencies; the substring
    stream expands the word TYPE table (~3L rows per distinct word,
    not per token); the top-K is TakeOrderedAndProject (no global
    window, no collect). Output is bounded at K + |alphabet| rows."""
    wf = _word_freq(load_docs(spark, sf_dir))
    multi = _multi_vocab(wf).select(
        F.col("t").alias("token"), "weight", F.lit(False).alias("is_char")
    )
    chars = _char_vocab(wf).select(
        F.col("t").alias("token"), "weight", F.lit(True).alias("is_char")
    )
    return multi.unionAll(chars)


# --------------------------------------------------------------------------
# 151. wordpiece_encode — apply the tokenizer, corpus-wide usage stats
# --------------------------------------------------------------------------
_ENCODE_ORACLE = f"""
WITH RECURSIVE {_DUCK_COMMON}, {_DUCK_ENCODE}
SELECT token,
       CAST(sum(cnt * n_in_word) AS BIGINT) AS n_uses,
       CAST(count(*) AS BIGINT) AS n_word_types
FROM (
    SELECT w, cnt, token, CAST(count(*) AS BIGINT) AS n_in_word
    FROM (SELECT w, cnt, unnest(toks) AS token FROM done)
    GROUP BY 1, 2, 3
)
GROUP BY 1
"""


@register("wordpiece_encode", oracle=_ENCODE_ORACLE)
def wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned vocabulary to the whole corpus: per subword
    token, its total corpus uses (occurrences inside a word x the
    word's corpus frequency) and how many distinct word types use it —
    the usage audit that decides whether a vocabulary earns its size
    before the expensive training-data encode job runs.

    Scale design: the greedy longest-match encode runs ONCE per word
    TYPE (`_encoded_words`: one-row broadcast vocab map + in-codegen
    `F.aggregate` fold — no UDF, no per-token work), and corpus totals
    come from weighting by the type frequency. The output is bounded
    by the vocabulary size. The DuckDB twin replays the greedy fold as
    a recursive CTE, so the hash match proves the loop semantics, not
    just the aggregate shapes."""
    docs = load_docs(spark, sf_dir)
    wf = _word_freq(docs)
    enc = _encoded_words(wf, _multi_vocab(wf))
    return (
        enc.select("w", "cnt", F.explode("toks").alias("token"))
        .groupBy("w", "cnt", "token")
        .agg(F.count("*").cast("bigint").alias("n_in_word"))
        .groupBy("token")
        .agg(
            F.sum(F.col("cnt") * F.col("n_in_word"))
            .cast("bigint")
            .alias("n_uses"),
            F.count("*").cast("bigint").alias("n_word_types"),
        )
    )


# --------------------------------------------------------------------------
# 152. tokenizer_fertility — subwords-per-word by language
# --------------------------------------------------------------------------
_FERTILITY_ORACLE = f"""
WITH RECURSIVE {_DUCK_COMMON}, {_DUCK_ENCODE}, lw AS (
    SELECT lang, w, CAST(count(*) AS BIGINT) AS cnt
    FROM (SELECT lang, unnest({DUCK_TOKENS}) AS w FROM documents)
    WHERE w <> '' GROUP BY 1, 2
)
SELECT lw.lang,
       CAST(sum(lw.cnt) AS BIGINT) AS n_words,
       CAST(sum(lw.cnt * len(d.toks)) AS BIGINT) AS n_subwords,
       round(sum(lw.cnt * len(d.toks)) * 1.0 / sum(lw.cnt), 6) AS fertility
FROM lw JOIN done d ON d.w = lw.w
GROUP BY 1
"""


@register("tokenizer_fertility", oracle=_FERTILITY_ORACLE)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility (subword tokens emitted per word) by
    language — THE comparative tokenizer-quality number: a vocabulary
    that fragments one language 2x more than another starves it of
    effective context length, and this audit catches that before a
    training run pays for it.

    Scale design: per-(lang, word) counts are one corpus scan; the
    encoding length joins in from the word-TYPE table (`_encoded_words`
    — vocabulary learned corpus-wide, shared with `wordpiece_encode`),
    so the expensive fold never touches the token stream. Output is
    one row per language; fertility is a single BIGINT/BIGINT division
    rounded on both engines."""
    docs = load_docs(spark, sf_dir)
    wf = _word_freq(docs)
    enc = _encoded_words(wf, _multi_vocab(wf)).select(
        "w", F.size("toks").alias("n_toks")
    )
    lw = (
        docs.select("lang", F.explode(T.tokens(F.col("text"))).alias("w"))
        .where(F.col("w") != "")
        .groupBy("lang", "w")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    return (
        lw.join(enc, "w")
        .groupBy("lang")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_toks"))
            .cast("bigint")
            .alias("n_subwords"),
            F.round(
                F.sum(F.col("cnt") * F.col("n_toks"))
                * F.lit(1.0)
                / F.sum("cnt"),
                6,
            ).alias("fertility"),
        )
    )
