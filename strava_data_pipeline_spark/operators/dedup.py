"""Deduplication operators over the documents corpus.

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard dedup — the core of a
training-data pipeline. All candidate generation is blocked (hash
buckets / LSH bands), never O(n²) over the corpus; the only pairwise
work happens inside buckets, which is the property that survives a
100 TB corpus. Everything is built-in-function DataFrame code — no
Python UDFs anywhere in the hot path.

Every operator reads the ``documents`` shape (``doc_id``, ``text``).
The banded operators share one plan: a band table of (doc, band,
bucket key) rows, one capped candidate self-join
(skew.capped_bucket_pairs, or the batch-vs-index join of
minhash_incremental_pairs), then a join back to the signatures to
score each distinct pair.

Determinism contract: integer hashing uses functions/hashing.py's
portable md5-prefix hash so the DuckDB oracles reproduce identical
signatures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from strava_data_pipeline_spark.functions.hashing import (
    MINHASH_PRIME,
    md5_u32,
    perm_params,
)
from strava_data_pipeline_spark.functions.text import char_ngrams, tokens, word_shingles
from strava_data_pipeline_spark.operators.skew import (
    MAX_BUCKET,
    cap_hot_buckets,
    capped_bucket_pairs,
    spread_small_scan,
)

N_PERMS = 16
N_BANDS = 4
ROWS_PER_BAND = N_PERMS // N_BANDS


def dedup_exact(df: DataFrame, only_dups: bool = True) -> DataFrame:
    """Exact dedup: md5-hash groupBy; keep the minimum id as canonical.

    One shuffle on the 128-bit content hash; at 100 TB the hash (16
    bytes) shuffles instead of the document bodies. ``only_dups=False``
    returns the full hash→canonical mapping (the keep-list a downstream
    anti-join prunes against), not just the collision groups.
    """
    out = (
        df.select(F.md5(F.col("text")).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").cast("bigint").alias("canonical_doc_id"),
            F.count("*").cast("bigint").alias("n_copies"),
        )
    )
    return out.where(F.col("n_copies") > 1) if only_dups else out


def minhash_signatures(df: DataFrame) -> DataFrame:
    """Per-document minhash signature (``N_PERMS`` columns ``mh_j``).

    shingle → portable 32-bit hash → universal-hash permutations →
    min per permutation. Documents with fewer than 3 tokens produce no
    shingles and drop out (same as the oracle's unnest).
    """
    sh = spread_small_scan(df).select(
        "doc_id", F.explode(word_shingles(tokens(F.col("text")))).alias("shingle")
    ).select("doc_id", md5_u32(F.col("shingle")).alias("x"))
    aggs = [
        F.min((F.col("x") * F.lit(a) + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(f"mh_{j}")
        for j, (a, b) in enumerate(perm_params(N_PERMS))
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _minhash_bands(sig: DataFrame, *carry: str) -> DataFrame:
    """One (doc_id, *carry, band, bkey) row per document and band:
    ``bkey`` is the md5 of the band's ``ROWS_PER_BAND`` signature
    values."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"mh_{b * ROWS_PER_BAND + r}")
                            for r in range(ROWS_PER_BAND)
                        ],
                    )
                ).alias("bkey"),
            )
            for b in range(N_BANDS)
        ]
    )
    return sig.select("doc_id", *carry, F.explode(band_structs).alias("bk")).select(
        "doc_id", *carry, "bk.band", "bk.bkey"
    )


def _est_jaccard(
    pairs: DataFrame, left: DataFrame, right: DataFrame, a: str, b: str
) -> DataFrame:
    """``(a, b, est_jaccard)``: each pair joined to its two signatures
    (``a`` from ``left``, ``b`` from ``right``), scored by the fraction
    of matching signature components."""
    sa, sb = left.alias("sa"), right.alias("sb")
    eq_sum = sum(
        F.when(F.col(f"sa.mh_{j}") == F.col(f"sb.mh_{j}"), 1).otherwise(0)
        for j in range(N_PERMS)
    )
    return (
        pairs.join(sa, F.col(a) == F.col("sa.doc_id"))
        .join(sb, F.col(b) == F.col("sb.doc_id"))
        .select(a, b, F.round(eq_sum / F.lit(float(N_PERMS)), 4).alias("est_jaccard"))
    )


def minhash_lsh_pairs(sig: DataFrame, max_bucket: int = MAX_BUCKET) -> DataFrame:
    """LSH banding: docs sharing any band key become candidate pairs;
    est_jaccard = fraction of matching signature components.

    The band join shuffles on (band, key) — collisions only, never the
    cross product. Band buckets larger than ``max_bucket`` docs are
    dropped before the join (observed metric ``minhash_lsh_skew``) so a
    degenerate band key can't re-create the quadratic blowup inside one
    bucket.
    """
    # sig feeds the band explode and both est-jaccard joins; persist so
    # the shingle→hash→16-way min pipeline runs once, not three times.
    # Lifecycle is caller-owned (see minhash_incremental_pairs): loops
    # must clearCache() after materializing each result.
    sig = sig.persist()
    pairs = capped_bucket_pairs(
        _minhash_bands(sig),
        ["band", "bkey"],
        "doc_id",
        ("doc_a", "doc_b"),
        max_bucket,
        "minhash_lsh_skew",
    )
    return _est_jaccard(pairs, sig, sig, "doc_a", "doc_b")


def minhash_incremental_pairs(
    sig: DataFrame,
    max_bucket: int = MAX_BUCKET,
    persist_sig: bool = True,
    probe_prune: bool = True,
) -> DataFrame:
    """Candidate near-dup pairs for a NEW BATCH against the full corpus
    — the production dedup shape: a 100 TB corpus's band index is built
    once (at scale: read from the stored index, not recomputed), and
    each incoming batch generates candidates from ITS bands only, so
    per-batch work is O(batch × bucket), never O(corpus).

    ``sig`` is a minhash signature frame (minhash_signatures) carrying
    a boolean ``is_new`` marking batch membership. Returns
    ``(new_doc, partner, est_jaccard)`` where ``partner`` is an index
    doc (any id) or an earlier batch doc (lower id) — index always
    wins, within the batch the lower id wins, so every batch doc gets
    a deterministic verdict and index docs are never re-judged.

    Buckets are capped over the FULL band table (index + batch) before
    the batch side splits off, identical to the oracle's QUALIFY —
    a hot band drops for both sides alike.

    ``sig`` feeds the band explode and both est-jaccard joins, so it is
    persisted here by default. The cached frame's lifecycle is CALLER-
    OWNED: a lazily returned result cannot unpersist behind itself, so
    a long-lived session looping this operator (bench loops, services)
    must drop the cache after materializing each result —
    ``spark.catalog.clearCache()`` (what bench.py does per query), or
    pass ``persist_sig=False`` and persist/unpersist the frame itself
    (what the streaming sink does between micro-batches).
    """
    if persist_sig:
        sig = sig.persist()
    bands = _minhash_bands(sig, "is_new")
    # Prune the corpus band table to the buckets the BATCH probes,
    # BEFORE the hot-bucket window: a bucket with no batch row can
    # produce no pair (side ``a`` is batch-only), and every batch row
    # is its own probe, so dropping unprobed buckets changes nothing —
    # while the per-bucket counts stay EXACT (the semi-join keeps every
    # corpus row of a probed bucket, so the window still counts
    # index + batch members alike, identical to the unpruned cap).
    # This turns the per-trigger/per-call corpus-side work from a full
    # band-table exchange + sort (the window) into a map-only scan
    # against a broadcast of O(batch) bucket keys — the corpus never
    # shuffles, which is the 100 TB shape (index O(corpus), batch
    # O(trigger)).
    if probe_prune:
        # no .distinct() on the build side: a semi-join only tests
        # containment, so duplicate probe keys are harmless and the
        # dedup exchange inside the broadcast build is pure overhead
        probe_keys = bands.where(F.col("is_new")).select("band", "bkey")
        bands = bands.join(
            F.broadcast(probe_keys), ["band", "bkey"], "left_semi"
        )
    bands = cap_hot_buckets(bands, ["band", "bkey"], max_bucket, "minhash_inc_skew")
    a, b_ = bands.where(F.col("is_new")).alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            # self-pairs must be excluded EXPLICITLY, not implied by the
            # batch/index split: a crash-replayed streaming batch sees
            # its own survivors already in the index under the same ids,
            # and without this guard every one of them would self-match
            # at est 1.0 and be dropped on replay (data loss)
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            & (~F.col("b.is_new") | (F.col("b.doc_id") < F.col("a.doc_id"))),
        )
        .select(F.col("a.doc_id").alias("new_doc"), F.col("b.doc_id").alias("partner"))
        .distinct()
    )
    # ``new_doc`` is batch-only by construction (side ``a`` of the pair
    # join filters on ``is_new``), so the signature lookup for the
    # judged side never needs the corpus branch — filtering here prunes
    # the union to the batch subtree (one less full-corpus scan per
    # call; value-identical, the equi-join would drop corpus rows
    # anyway)
    return _est_jaccard(pairs, sig.where(F.col("is_new")), sig, "new_doc", "partner")


# SimHash fingerprints are lists of portable 32-bit halves: half h
# votes over md5_u32 of each token salted with _SIMHASH_SALTS[h]. The
# 32-bit fingerprint is the unsalted half alone (``simhash``); the
# 64-bit one is the unsalted and ``h2:``-salted halves (``simhash_lo``,
# ``simhash_hi``).
_SIMHASH_SALTS = ("", "h2:")
_SIMHASH32 = ("simhash",)
_SIMHASH64 = ("simhash_lo", "simhash_hi")


def _simhash(df: DataFrame, halves: tuple[str, ...]) -> DataFrame:
    """One explode + one groupBy: per half, 32 bit-vote sums weighted by
    token occurrence (plain conditional aggregates that stay in
    codegen), then the positive-vote bits as one BIGINT per half."""
    tok = spread_small_scan(df).select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    ).select(
        "doc_id",
        *[
            md5_u32(F.concat(F.lit(salt), "token") if salt else F.col("token")).alias(
                f"x_{h}"
            )
            for h, salt in enumerate(_SIMHASH_SALTS[: len(halves)])
        ],
    )
    votes = [
        F.sum(
            F.when(
                F.shiftright(F.col(f"x_{h}"), i).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"v_{h}_{i}")
        for h in range(len(halves))
        for i in range(32)
    ]
    voted = tok.groupBy("doc_id").agg(*votes)
    bits = [
        sum(
            F.when(F.col(f"v_{h}_{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
            for i in range(32)
        ).cast("bigint").alias(name)
        for h, name in enumerate(halves)
    ]
    return voted.select("doc_id", *bits)


def _simhash_pairs(
    sh: DataFrame,
    halves: tuple[str, ...],
    max_hamming: int,
    max_bucket: int,
    metric: str,
) -> DataFrame:
    """Byte-band each half (4 bands per half, numbered ``4*h + b``),
    join the capped bands, then join both fingerprints back and keep
    pairs whose hamming distance (the sum of each half's bit_count)
    is within ``max_hamming``."""
    # The join back infers ``doc_id IS NOT NULL`` and pushes it to the
    # documents scan; stating it here puts the same filter under the
    # band side, so both sides plan one vote pipeline and Spark reuses
    # its exchange instead of voting twice. No pair has a NULL id.
    sh = sh.where(F.col("doc_id").isNotNull())
    band_structs = [
        F.struct(
            F.lit(4 * h + b).alias("band"),
            F.shiftright(F.col(half), 8 * b).bitwiseAND(F.lit(255)).alias("bkey"),
        )
        for h, half in enumerate(halves)
        for b in range(4)
    ]
    bands = sh.select("doc_id", F.explode(F.array(*band_structs)).alias("bk")).select(
        "doc_id", "bk.band", "bk.bkey"
    )
    pairs = capped_bucket_pairs(
        bands, ["band", "bkey"], "doc_id", ("doc_a", "doc_b"), max_bucket, metric
    )
    fa, fb = sh.alias("fa"), sh.alias("fb")
    hamming = sum(
        F.bit_count(F.col(f"fa.{half}").bitwiseXOR(F.col(f"fb.{half}")))
        for half in halves
    )
    return (
        pairs.join(fa, F.col("doc_a") == F.col("fa.doc_id"))
        .join(fb, F.col("doc_b") == F.col("fb.doc_id"))
        .select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def simhash(df: DataFrame) -> DataFrame:
    """32-bit SimHash (``simhash``): per-token hash bit votes, weighted
    by occurrence. The same value as simhash64's ``simhash_lo``."""
    return _simhash(df, _SIMHASH32)


def simhash_pairs(
    sh: DataFrame, max_hamming: int = 3, max_bucket: int = MAX_BUCKET
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 32 bits into 4 bytes — any
    pair within hamming ≤ 3 shares at least one byte band (pigeonhole),
    so the band join finds all of them without a cross product. Byte
    bands with more than ``max_bucket`` members are dropped before the
    join (observed metric ``simhash_skew``) — the hot-bucket guard."""
    return _simhash_pairs(sh, _SIMHASH32, max_hamming, max_bucket, "simhash_skew")


def simhash64(df: DataFrame) -> DataFrame:
    """64-bit SimHash as TWO portable 32-bit halves (``simhash_lo``,
    ``simhash_hi``), each from an independent md5-derived token hash
    (the hi half salts the token with a fixed ``h2:`` prefix).

    Why two halves instead of one 64-bit hash: every bit-vote and
    shift stays inside the exact BIGINT arithmetic BOTH engines share —
    and 64 fingerprint bits fix the 32-bit variant's birthday ceiling
    (random 32-bit fingerprints start colliding at ~80k docs, turning
    hamming≤3 "near-dups" into noise at corpus scale; 2^32× lower odds
    at 64 bits). Same single explode + groupBy plan as 32-bit, just
    64 conditional aggregates.
    """
    return _simhash(df, _SIMHASH64)


def simhash64_pairs(
    sh: DataFrame, max_hamming: int = 7, max_bucket: int = MAX_BUCKET
) -> DataFrame:
    """Near-dup pairs by 64-bit SimHash: 8 byte-bands (4 per half) —
    a pair within hamming ≤ 7 leaves at least one of its 8 bands
    untouched (pigeonhole), so the band join finds every such pair
    without a cross product. Hot bands capped (``simhash64_skew``)."""
    return _simhash_pairs(sh, _SIMHASH64, max_hamming, max_bucket, "simhash64_skew")


#: above this many docs the gram-array and prefix-index frames are
#: corpus-sized, never broadcast-sized: pin their joins to non-broadcast
#: strategies so AQE's post-shuffle size estimate (compressed bytes —
#: integer gram payloads compress 10-30x) can't pick a broadcast whose
#: in-memory build is GBs. Below the bound the frames are genuinely
#: small and AQE's broadcast is the faster plan — same gate shape as
#: graph.broadcast_adj_max. 50k docs x ~800 grams x 8B ~= 320 MB raw,
#: already past any sane driver budget; measured: the mult=100
#: rehearsal (500k docs, gram order 5) OOMed an 8g driver on a 2 GB
#: broadcast build of exactly these frames before this gate existed.
_HINT_DOCS_BOUND = 50_000


def auto_gram_order(n_docs: int) -> int:
    """Corpus-adaptive character-gram order: the smallest n >= 3 with
    26**n >= 3 * n_docs, capped at 7 (26^7 ~= 8e9 docs).

    Integer arithmetic — no float-log boundary wobble, so the choice
    is exactly reproducible across runs and engines. n=3 up to 5,858
    docs (every provided testdata SF is 500..5000), n=4 up to ~152k,
    n=5 up to ~3.9M (the 500k-doc rehearsal corpus lands here). See
    :func:`ngram_jaccard_pairs` for why the order must grow with the
    corpus (finite gram space saturates -> candidate volume turns
    quadratic by construction)."""
    n, space = 3, 26**3
    while space < 3 * n_docs and n < 7:
        n += 1
        space *= 26
    return n


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    gram_order: int | str = "auto",
) -> DataFrame:
    """Character-n-gram Jaccard near-dup pairs, blocked by
    (lang, length-bucket), found via an exact prefix-filtered
    similarity join (PPJoin-style).

    Gram size n is corpus-adaptive (``gram_order="auto"``): the
    smallest n >= 3 with 26**n >= 3 * n_docs (capped at 7), see
    :func:`auto_gram_order`. The char-n gram space is finite
    (26**3 ~= 17.6k); once the corpus outgrows it every gram is hot,
    prefix-filter selectivity collapses and candidate volume turns
    quadratic by space exhaustion, not by near-dup structure. Growing
    n with the corpus keeps the expected per-gram document frequency
    bounded. The rule is a deterministic function of the exact row
    count, so plans are reproducible; every provided testdata SF
    (500..5000 docs) gets n=3, which the static 3-gram DuckDB oracle
    checks. Pass an int to pin n (tests do).

    Grams travel as 4-byte ints: md5_u32 (the cross-engine hash every
    sketch operator uses) minus 2³¹, a monotone bijection of the u32
    space, so sort order and set sizes are those of the hashes. Jaccard
    is exact over the hashed gram SETS, which the oracle hashes the
    same way; a within-doc collision (~|G|²/2³³ ≈ 4e-5 per doc) merges
    two grams on both engines alike.

    The result is IDENTICAL to the naive all-blocked-pairs join over
    the same hashed sets. Each document's grams are sorted by value,
    one fixed global total order, and only a prefix of each array is
    indexed: any pair with jaccard >= t must share a prefix gram
    (prefix-filter lemma, which holds for any total order), so nothing
    is missed and a block of B docs costs O(candidates), not O(B²).
    The filters between index and verification are all exact:

    - size-oriented prefixes: the pair's SMALLER document is the
      indexed side and indexes only ``n - ceil(2t/(1+t)·n) + 1`` grams
      (its partner is at least as large), while the larger probing
      side keeps ``n - ceil(t·n) + 1``; at t=0.5 the index shrinks
      from n/2 to n/3 grams per doc;
    - the length filter ``|Ga| >= t·|Gb|``;
    - the positional filter on each shared prefix gram (derivation at
      the join);
    - the suffix filter: a groupBy counts each pair's shared prefix
      grams and, because a gram's value bounds its position in every
      sorted array, bounds the pair's total overlap; pairs that cannot
      reach the threshold die before the gram-array join (derivation
      at the filter site).

    Broadcast contract: below ``_HINT_DOCS_BOUND`` docs AQE picks join
    strategies from measured sizes. Above it the prefix-index join and
    the verify joins are pinned to sort-merge, because those frames
    are corpus-sized and AQE's compressed-size estimate can otherwise
    choose a broadcast whose in-memory build is GBs. The hint changes
    the physical strategy only, never the pair set.
    """
    # the exact row count (parquet metadata) feeds the gram size and
    # the broadcast gate, so it is taken even when n is pinned
    n_docs = df.count()
    if gram_order == "auto":
        gram_order = auto_gram_order(n_docs)
    # past the bound, corpus-sized frames must not be broadcast —
    # see _HINT_DOCS_BOUND
    big_corpus = n_docs > _HINT_DOCS_BOUND
    ordered = spread_small_scan(df).select(
        F.col("doc_id").alias("doc"),
        F.col("lang"),
        F.floor(F.col("n_chars") / F.lit(64)).cast("int").alias("len_bucket"),
        # grams as 4-byte ints: md5_u32 shifted by 2^31 — a MONOTONE
        # bijection of the u32 space into int range, so sort order,
        # set sizes and therefore jaccard are untouched while the
        # persisted index and the verify-join payload halve. Sorting by
        # value is the one global gram order the prefixes use.
        F.array_sort(
            F.array_distinct(
                F.transform(
                    char_ngrams(F.col("text"), gram_order),
                    lambda g: (md5_u32(g) - F.lit(2147483648)).cast("int"),
                )
            )
        ).alias("grams"),
    ).withColumn("n_grams", F.size("grams").cast("long"))
    # `ordered` feeds three consumers (prefix index + both verify
    # sides); persist so the gram pipeline runs once, not three times.
    # MEMORY_AND_DISK default: a 100 TB run spills instead of OOMing.
    ordered = ordered.persist()
    # Size-oriented asymmetric prefixes (Xiao et al., PPJoin self-join):
    # the pair's smaller doc is the INDEXED side — its partner is at
    # least its size, so required overlap >= ceil(2t/(1+t)·n) and the
    # index prefix shrinks to n − that + 1 (n/3 at t=0.5). The larger
    # PROBING side keeps the symmetric n − ceil(t·n) + 1 prefix (its
    # required overlap is >= ceil(t·n) whenever the length filter
    # holds). The 1e-9 keeps a float-rounded ceil from overshooting at
    # exact integer boundaries — rounding DOWN the required overlap
    # only lengthens a prefix, which is always safe.
    idx_frac = 2.0 * threshold / (1.0 + threshold)

    def _prefix_len(n: F.Column, frac: float) -> F.Column:
        return n - F.ceil(F.lit(frac) * n - F.lit(1e-9)) + 1

    idx_len = _prefix_len(F.col("n_grams"), idx_frac).cast("int")
    probe_len = _prefix_len(F.col("n_grams"), threshold).cast("int")

    def _inv(plen: F.Column) -> DataFrame:
        return ordered.select(
            "doc",
            "lang",
            "len_bucket",
            "n_grams",
            # last prefix gram VALUE (NULL-safe on empty gram arrays,
            # which emit no posexplode rows anyway) — feeds the
            # aggregated suffix-bound filter
            F.get("grams", plen - 1).alias("last_pref"),
            F.posexplode(F.slice("grams", 1, plen)).alias("pos", "gram"),
        )

    a, b = _inv(idx_len).alias("a"), _inv(probe_len).alias("b")
    if big_corpus:
        # both sides of the prefix-index join are the EXPLODED corpus
        # (every doc x its prefix grams) — the largest frames in the
        # plan; a broadcast build of either side is corpus-sized
        a, b = a.hint("merge").alias("a"), b.hint("merge").alias("b")
    # PPJoin positional filter: for a shared gram at sorted positions
    # (i, j), overlap <= min(i, j) + min(n_a - i, n_b - j) — shared
    # grams below the match are bounded by the smaller position, those
    # at/after it by the smaller remaining length. jaccard >= t needs
    # overlap >= ceil(t/(1+t) * (n_a + n_b)), so rows whose bound falls
    # short can't belong to a qualifying pair (every match row of a true
    # pair satisfies the bound — pruning is exact, not approximate).
    # The 1e-9 keeps a float-rounded ceil from over-tightening at exact
    # integer boundaries; the verify step recomputes exact jaccard anyway.
    overlap_needed = F.ceil(
        F.lit(threshold / (1.0 + threshold))
        * (F.col("a.n_grams") + F.col("b.n_grams"))
        - F.lit(1e-9)
    )
    overlap_bound = F.least(F.col("a.pos"), F.col("b.pos")) + F.least(
        F.col("a.n_grams") - F.col("a.pos"),
        F.col("b.n_grams") - F.col("b.pos"),
    )
    # Orientation: a (indexed, short prefix) is the SMALLER side under
    # the (n_grams, doc) lexicographic order — a strict total order, so
    # every unordered pair is generated exactly once; the pair identity
    # is re-canonicalized to doc_a < doc_b afterwards (jaccard is
    # symmetric, so the emitted pair set is unchanged).
    smaller_first = (F.col("a.n_grams") < F.col("b.n_grams")) | (
        (F.col("a.n_grams") == F.col("b.n_grams"))
        & (F.col("a.doc") < F.col("b.doc"))
    )
    match = a.join(
        b,
        (F.col("a.gram") == F.col("b.gram"))
        & (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.len_bucket") == F.col("b.len_bucket"))
        & smaller_first
        & (F.col("a.n_grams") >= threshold * F.col("b.n_grams"))
        & (overlap_bound >= overlap_needed),
    )
    # Aggregated suffix-bound filter (the PPJoin suffix filter at
    # pair granularity). Arrays are value-sorted and distinct;
    # for a pair let m = min(last_pref_a, last_pref_b) and
    # cnt = |prefA ∩ prefB| (= the pair's match-row count):
    #   * every shared gram <= m is <= both last prefix values, so
    #     it lies in BOTH prefixes and is counted by cnt — exactly;
    #   * every shared gram > m lies in the SUFFIX of the side
    #     whose last prefix value is m (<= n_min - pref_len_min of
    #     them), and is an element > m of the other side, which has
    #     at least cnt elements <= m (<= n_other - cnt of them).
    # So overlap <= cnt + min(n_min - pref_min, n_other - cnt); a
    # pair whose bound falls below ceil(t/(1+t)(na+nb)) can NEVER
    # verify — pruning it is exact. Measured at rehearsal mult=10:
    # 24.4M candidates -> 9.7M before the array join, identical
    # 2.03M verified pairs, verify stage 2x faster. The groupBy also
    # dedups the candidate pairs.
    agg = match.groupBy(
        F.col("a.doc").alias("da"),
        F.col("b.doc").alias("db"),
        F.col("a.n_grams").alias("na"),
        F.col("b.n_grams").alias("nb"),
        F.col("a.last_pref").alias("lpa"),
        F.col("b.last_pref").alias("lpb"),
    ).agg(F.count("*").alias("pref_overlap"))
    ia = _prefix_len(F.col("na"), idx_frac)
    jb = _prefix_len(F.col("nb"), threshold)
    a_is_min = F.col("lpa") <= F.col("lpb")
    suf_min = F.when(a_is_min, F.col("na") - ia).otherwise(F.col("nb") - jb)
    n_other = F.when(a_is_min, F.col("nb")).otherwise(F.col("na"))
    pair_bound = F.col("pref_overlap") + F.least(
        suf_min, n_other - F.col("pref_overlap")
    )
    pair_needed = F.ceil(
        F.lit(threshold / (1.0 + threshold))
        * (F.col("na") + F.col("nb"))
        - F.lit(1e-9)
    )
    cand = agg.where(pair_bound >= pair_needed).select(
        F.least("da", "db").alias("doc_a"),
        F.greatest("da", "db").alias("doc_b"),
    )
    ga = ordered.select(
        F.col("doc").alias("doc_a"),
        F.col("grams").alias("grams_a"),
        F.col("n_grams").alias("n_a"),
    )
    gb = ordered.select(
        F.col("doc").alias("doc_b"),
        F.col("grams").alias("grams_b"),
        F.col("n_grams").alias("n_b"),
    )
    if big_corpus:
        # the gram-array frames carry the whole corpus's gram payload;
        # sort-merge spills instead of building a multi-GB broadcast
        ga, gb = ga.hint("merge"), gb.hint("merge")
    # grams are DISTINCT per doc, so |union| = n_a + n_b - |intersect|:
    # one array scan per candidate instead of two (array_union dropped)
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    return (
        cand.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(inter / (F.col("n_a") + F.col("n_b") - inter), 4).alias(
                "jaccard"
            ),
        )
        .where(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    threshold_pct: int = 80,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """Asymmetric containment near-dup pairs: C(A→B) = |S_A ∩ S_B| /
    |S_A| over distinct word-shingle sets — the doc-inside-doc case
    (quote farms, boilerplate wrappers, page-of-a-book) that symmetric
    jaccard misses because its length filter discards pairs whose sizes
    differ by more than the threshold ratio.

    Plan: one shingle explode; overlap counts via a shingle-keyed
    self-join + pair groupBy (no arrays shuffled, only (doc, 3-word
    shingle) rows); hot shingles capped BEFORE pair generation — a
    boilerplate shingle in B docs would otherwise fan out B² rows.
    Capping removes those shingles from overlap counts while |S_A|
    stays uncapped, so containment is (deterministically) understated
    for boilerplate-heavy docs — the standard trade, mirrored in the
    oracle. The gate is integer cross-multiplication
    (overlap·100 ≥ pct·|S_A|) — no float boundary.
    """
    sh = spread_small_scan(df).select(
        F.col("doc_id").alias("doc"),
        F.explode(word_shingles(tokens(F.col("text")))).alias("shingle"),
    )
    n_sh = sh.groupBy("doc").agg(F.count("*").cast("bigint").alias("n_sh"))
    capped = cap_hot_buckets(sh, ["shingle"], max_bucket)
    a, b = capped.alias("a"), capped.alias("b")
    ov = (
        a.join(b, "shingle")
        .where(F.col("a.doc") != F.col("b.doc"))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").cast("bigint").alias("overlap"))
    )
    return (
        ov.join(n_sh.withColumnRenamed("doc", "doc_a"), "doc_a")
        .where(F.col("overlap") * 100 >= F.lit(threshold_pct) * F.col("n_sh"))
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("overlap") / F.col("n_sh"), 4).alias("containment"),
        )
    )


# bottom-k fingerprint width (doc_fingerprints)
FINGERPRINT_K = 5


def doc_fingerprints(df: DataFrame) -> DataFrame:
    """Bottom-k fingerprint sketch: the ``FINGERPRINT_K`` smallest
    shingle hashes per document — a compact content signature for fast
    containment checks."""
    sh = spread_small_scan(df).select(
        "doc_id", F.explode(word_shingles(tokens(F.col("text")))).alias("shingle")
    ).select("doc_id", md5_u32(F.col("shingle")).alias("fp"))
    w = Window.partitionBy("doc_id").orderBy(F.col("fp").asc())
    return (
        sh.distinct()
        .withColumn("fp_rank", F.row_number().over(w))
        .where(F.col("fp_rank") <= FINGERPRINT_K)
        .select("doc_id", F.col("fp_rank").cast("int"), F.col("fp"))
    )
