"""Semantic tests for the r5 mining pack (plans/mining_queries.py):
pair-generation parity with an itertools reference, LM probability
bounds, PQ optimality vs numpy brute force, IVF balance conservation,
and simhash-audit consistency with the dedup verdict set."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from strava_data_pipeline_spark.plans import mining_queries as M
from strava_data_pipeline_spark.plans.llm_queries import dedup_simhash

SF = "/root/testdata/sf0.001"


class TestPairGeneration:
    def test_matches_itertools_reference(self, spark):
        texts = [
            "a b c d e",
            "x y",
            "solo",
            "p q r",
        ]
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        got = sorted(
            r["pair"]
            for r in df.select(
                F.explode(
                    M._pair_arrays(F.split(F.lower(F.trim("text")), r"\s+"))
                ).alias("pair")
            ).collect()
        )
        want = []
        for t in texts:
            toks = t.split()
            for d in (1, 2):
                want += [
                    f"{toks[i]}\x01{toks[i + d]}"
                    for i in range(len(toks) - d)
                ]
        assert got == sorted(want)

    def test_pair_mass_conservation(self, spark):
        # total pair count over the corpus = Σ_docs (max(n-1,0) + max(n-2,0))
        docs = M.load_docs(spark, SF)
        toks = docs.select(F.size(F.split(F.lower(F.trim("text")), r"\s+")).alias("n"))
        expect = toks.select(
            F.sum(
                F.greatest(F.col("n") - 1, F.lit(0))
                + F.greatest(F.col("n") - 2, F.lit(0))
            ).alias("p")
        ).first()["p"]
        got = (
            docs.select(
                F.explode(
                    M._pair_arrays(F.split(F.lower(F.trim("text")), r"\s+"))
                ).alias("pair")
            ).count()
        )
        assert got == expect


@pytest.fixture(scope="module")
def pmi_rows(spark):
    return M.skipgram_pmi(spark, SF).collect()


class TestSkipgramPmi:
    def test_topk_shape_and_order(self, pmi_rows):
        assert len(pmi_rows) == 50
        counts = [r["n_pairs"] for r in pmi_rows]
        assert counts == sorted(counts, reverse=True)

    def test_pmi_arithmetic(self, spark, pmi_rows):
        # recompute one row's PMI from raw counts
        docs = M.load_docs(spark, SF)
        toks = docs.select(F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("t"))
        uni = {r["t"]: r["c"] for r in toks.groupBy("t").agg(F.count("*").alias("c")).collect()}
        n_tok = sum(uni.values())
        p_total = sum(r["n_pairs"] for r in pmi_rows)  # lower bound only
        # use the query's own totals: recompute P exactly
        pairs = docs.select(
            F.explode(
                M._pair_arrays(F.split(F.lower(F.trim("text")), r"\s+"))
            ).alias("pair")
        )
        p_total = pairs.count()
        r = pmi_rows[0]
        want = round(
            math.log(r["n_pairs"])
            + 2 * math.log(n_tok)
            - math.log(p_total)
            - math.log(uni[r["w1"]])
            - math.log(uni[r["w2"]]),
            4,
        )
        assert abs(r["pmi"] - want) < 1e-3


class TestBigramLogprob:
    def test_bounds_and_bigram_counts(self, spark):
        rows = M.bigram_logprob(spark, SF).collect()
        docs = {
            r["doc_id"]: r["n"]
            for r in M.load_docs(spark, SF)
            .select(
                "doc_id",
                F.size(F.split(F.lower(F.trim("text")), r"\s+")).alias("n"),
            )
            .collect()
        }
        assert len(rows) == sum(1 for n in docs.values() if n >= 2)
        for r in rows:
            # add-1 smoothing keeps every conditional probability < 1
            assert r["avg_logprob"] < 0
            assert r["n_bigrams"] == docs[r["doc_id"]] - 1


@pytest.fixture(scope="module")
def pq_rows(spark):
    return {r["vec_id"]: r for r in M.ann_pq(spark, SF).collect()}


class TestAnnPq:
    def test_every_vector_coded(self, spark, pq_rows):
        from strava_data_pipeline_spark.sources.catalog import load_table

        n = load_table(spark, SF, "embeddings").count()
        assert len(pq_rows) == n
        for r in pq_rows.values():
            codes = [int(c) for c in r["codes"].split(",")]
            assert len(codes) == M._PQ_M
            assert all(0 <= c < M._PQ_K for c in codes)
            assert r["err_micro2"] >= 0

    def test_seeds_code_to_themselves(self, pq_rows):
        for i in range(M._PQ_K):
            assert pq_rows[i]["err_micro2"] == 0
            # a seed's own subvector is at distance 0; another seed could
            # tie only by being identical, in which case min-code wins —
            # assert the error, and the code when it's the unique argmin
            codes = [int(c) for c in pq_rows[i]["codes"].split(",")]
            assert all(c <= i for c in codes)

    def test_argmin_vs_numpy_bruteforce(self, spark, pq_rows):
        import numpy as np

        from strava_data_pipeline_spark.sources.catalog import load_table

        emb = {
            r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in load_table(spark, SF, "embeddings")
            .where(F.col("vec_id") < 40)
            .collect()
        }
        q = {
            k: np.floor(v * 1e6 + 0.5).astype(np.int64) for k, v in emb.items()
        }
        seeds = {k: q[k] for k in range(M._PQ_K)}
        for vid in list(q)[: 20]:
            got = [int(c) for c in pq_rows[vid]["codes"].split(",")]
            err = 0
            for m in range(M._PQ_M):
                lo, hi = m * M._PQ_SUB, (m + 1) * M._PQ_SUB
                dists = {
                    c: int(((q[vid][lo:hi] - sv[lo:hi]) ** 2).sum())
                    for c, sv in seeds.items()
                }
                best = min(dists.items(), key=lambda kv: (kv[1], kv[0]))
                assert got[m] == best[0]
                err += best[1]
            assert pq_rows[vid]["err_micro2"] == err


class TestIvfBalance:
    def test_conservation_and_flags(self, spark):
        from strava_data_pipeline_spark.sources.catalog import load_table

        rows = M.ivf_balance(spark, SF).collect()
        total = load_table(spark, SF, "embeddings").count()
        assert sum(r["n_vecs"] for r in rows) == total
        assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-3
        for r in rows:
            assert 0 <= r["cid"] < 16
            assert r["hot"] == (r["n_vecs"] * 16 > 2 * total)


class TestSimhashErrorEval:
    def test_consistent_with_dedup_verdicts(self, spark):
        ev = M.simhash_error_eval(spark, SF).collect()
        for r in ev:
            assert 0 <= r["hamming"] <= 5
            # HALF_UP reference: Spark/DuckDB round half away from zero,
            # python's round() is banker's (0.78125 → 0.7812 vs 0.7813)
            want = math.floor((1 - r["hamming"] / 32.0) * 10000 + 0.5) / 10000
            assert abs(r["bit_agreement"] - want) < 1e-9
            assert 0.0 <= r["exact_jaccard"] <= 1.0
        # the audit's hamming ≤ 3 slice IS the dedup_simhash verdict set
        # restricted to the audit's own deterministic 25% pair sample
        from strava_data_pipeline_spark.functions.hashing import md5_u32

        tight = {(r["doc_a"], r["doc_b"]) for r in ev if r["hamming"] <= 3}
        verdicts = {
            (r["doc_a"], r["doc_b"])
            for r in dedup_simhash(spark, SF)
            .where(
                md5_u32(F.concat_ws("#", F.col("doc_a"), F.col("doc_b"))) % 4
                == 0
            )
            .collect()
        }
        assert tight == verdicts
        assert tight  # the sample must not be vacuous at this SF


class TestEmbeddingOutliers:
    def test_flags_derive_from_exact_moments(self, spark):
        rows = M.embedding_outliers(spark, SF).collect()
        from strava_data_pipeline_spark.sources.catalog import load_table

        n = load_table(spark, SF, "embeddings").count()
        assert len(rows) == n
        by_label: dict = {}
        for r in rows:
            by_label.setdefault(r["label"], []).append(r)
        for label, rs in by_label.items():
            sd = sum(r["dist2"] for r in rs)
            for r in rs:
                assert r["dist2"] >= 0
                assert r["is_outlier"] == (r["dist2"] * len(rs) > 2 * sd)

    def test_dist2_matches_numpy(self, spark):
        import numpy as np

        from strava_data_pipeline_spark.sources.catalog import load_table

        rows = {r["vec_id"]: r for r in M.embedding_outliers(spark, SF).collect()}
        emb = load_table(spark, SF, "embeddings").collect()
        q = {
            r["vec_id"]: (
                r["label"],
                np.floor(np.array(r["embedding"], dtype=np.float64) * 1e6 + 0.5
                         ).astype(np.int64),
            )
            for r in emb
        }
        cents: dict = {}
        for label, qv in q.values():
            cents.setdefault(label, []).append(qv)
        cents = {
            lab: np.floor(np.stack(vs).sum(0) / len(vs) + 0.5).astype(np.int64)
            for lab, vs in cents.items()
        }
        for vid in list(q)[:25]:
            lab, qv = q[vid]
            want = int(((qv - cents[lab]) ** 2).sum())
            assert rows[vid]["dist2"] == want


class TestClusterPurity:
    def test_conservation_and_arithmetic(self, spark):
        from strava_data_pipeline_spark.sources.catalog import load_table

        rows = M.cluster_purity(spark, SF).collect()
        total = load_table(spark, SF, "embeddings").count()
        assert sum(r["n_members"] for r in rows) == total
        for r in rows:
            assert 1 <= r["n_majority"] <= r["n_members"]
            want = math.floor(
                r["n_majority"] / r["n_members"] * 1e6 + 0.5
            ) / 1e6
            assert abs(r["purity"] - want) < 1e-9


class TestAnnRecallEval:
    def test_hits_match_operator_outputs(self, spark):
        from strava_data_pipeline_spark.operators import similarity as S
        from strava_data_pipeline_spark.sources.catalog import load_table

        rows = {r["query_id"]: r for r in M.ann_recall_eval(spark, SF).collect()}
        assert len(rows) == 8
        emb = load_table(spark, SF, "embeddings")
        queries = emb.where(F.col("vec_id") < 8)
        truth = {
            (r["query_id"], r["neighbor_id"]): r["rank"]
            for r in S.ann_topk_bruteforce(emb, queries, k=10).collect()
        }
        ivf = {
            (r["query_id"], r["neighbor_id"])
            for r in S.ann_topk_ivf(emb, queries, k=10).collect()
        }
        lsh = {
            (r["query_id"], r["neighbor_id"])
            for r in S.ann_topk_lsh(emb, queries, k=5).collect()
        }
        for qid, r in rows.items():
            want_ivf = sum(1 for k in truth if k[0] == qid and k in ivf)
            want_lsh = sum(
                1 for k, rk in truth.items() if k[0] == qid and rk <= 5 and k in lsh
            )
            assert r["ivf_hits"] == want_ivf
            assert r["lsh_hits"] == want_lsh
            assert 0.0 <= r["ivf_recall"] <= 1.0
            assert 0.0 <= r["lsh_recall"] <= 1.0


class TestCmsHeavyHitters:
    """Count-min sketch audit (r8, row 209): the one-sided error
    contract and the min-probe arithmetic, through the real Spark
    path on the tiny corpus (the oracle hash covers exact equality;
    these pin the PROPERTIES a refactor must not lose)."""

    def test_one_sided_error_and_exact_totals(self, spark, sf_dir):
        from strava_data_pipeline_spark.plans.mining_queries import (
            cms_heavy_hitters,
        )
        from strava_data_pipeline_spark.sources.catalog import load_table

        rows = cms_heavy_hitters(spark, sf_dir).collect()
        assert rows, "empty sketch audit"
        # CMS can only OVERcount: min-of-counters >= true count, always
        assert all(r["overcount"] >= 0 for r in rows)
        assert all(r["cms_est"] == r["exact_cnt"] + r["overcount"] for r in rows)
        # exact side really is the per-user count of the corpus
        ev = load_table(spark, sf_dir, "events")
        n = ev.count()
        assert sum(r["exact_cnt"] for r in rows) == n
        # W=256 >> distinct users at sf0.001, so most keys collide in
        # no row of the sketch and estimate exactly; at least SOME must
        assert any(r["overcount"] == 0 for r in rows)


class TestAnnBinary:
    """r10 VERDICT task 4: ann_binary shipped without its test tier —
    numpy brute-force sign-bit/Hamming cross-check (the TestAnnPq
    pattern) plus plan pins for the claims the SURVEY row makes:
    map-side Partial WindowGroupLimit and the 8-row query broadcast."""

    @pytest.fixture(scope="class")
    def bin_rows(self, spark):
        return M.ann_binary(spark, SF).collect()

    def test_shape_and_rank_contract(self, bin_rows):
        by_q = {}
        for r in bin_rows:
            by_q.setdefault(r["query_id"], []).append(r)
        assert set(by_q) == set(range(8))
        for qid, rows in by_q.items():
            rows.sort(key=lambda r: r["rank"])
            assert [r["rank"] for r in rows] == list(range(1, 11))
            # ranks follow (hamming, neighbor_id) lexicographically
            keys = [(r["hamming"], r["neighbor_id"]) for r in rows]
            assert keys == sorted(keys)
            assert all(r["neighbor_id"] != qid for r in rows)

    def test_vs_numpy_bruteforce(self, spark, bin_rows):
        import numpy as np

        from strava_data_pipeline_spark.sources.catalog import load_table

        emb = {
            r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in load_table(spark, SF, "embeddings").collect()
        }
        # replicate the operator's quantization exactly: bit d set
        # iff component d > 0 (zeros and negatives clear)
        bits = {k: (v > 0) for k, v in emb.items()}
        got = {}
        for r in bin_rows:
            got.setdefault(r["query_id"], []).append(
                (r["rank"], r["neighbor_id"], r["hamming"])
            )
        for qid in range(8):
            ham = sorted(
                (int((bits[qid] ^ b).sum()), nid)
                for nid, b in bits.items()
                if nid != qid
            )
            want = [
                (rank, nid, h)
                for rank, (h, nid) in enumerate(ham[:10], start=1)
            ]
            assert sorted(got[qid]) == want, f"query {qid}"

    def test_plan_pins_window_group_limit_and_broadcast(self, spark):
        df = M.ann_binary(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # rank<=10 must push map-side: Partial mode before the window
        # exchange, Final after — WindowGroupLimit caps each task's
        # output at 10 rows/query so only ~10*8 rows per task shuffle,
        # never the scored corpus
        assert "WindowGroupLimit" in plan
        assert "Partial" in plan and "Final" in plan
        # the 8 packed query rows broadcast; the corpus never shuffles
        # for the join
        assert "BroadcastNestedLoopJoin" in plan
        assert "SortMergeJoin" not in plan


class TestAnnBinaryRerank:
    """Two-stage contract: stage 1 must shortlist exactly the Hamming
    top-100 (ann_binary's order), stage 2 must re-rank by the integer
    asymmetric estimator — both replayed in numpy."""

    @pytest.fixture(scope="class")
    def rr_rows(self, spark):
        return M.ann_binary_rerank(spark, SF).collect()

    def test_vs_numpy_two_stage(self, spark, rr_rows):
        import numpy as np

        from strava_data_pipeline_spark.sources.catalog import load_table

        emb = {
            r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in load_table(spark, SF, "embeddings").collect()
        }
        bits = {k: (v > 0) for k, v in emb.items()}
        qm = {
            k: np.floor(v * 1e6 + 0.5).astype(np.int64)
            for k, v in emb.items()
            if k < 8
        }
        got = {}
        for r in rr_rows:
            got.setdefault(r["query_id"], []).append(
                (r["rank"], r["neighbor_id"], r["hamming"], r["est_score"])
            )
        for qid in range(8):
            ham = sorted(
                (int((bits[qid] ^ b).sum()), nid)
                for nid, b in bits.items()
                if nid != qid
            )
            short = ham[:100]
            est = sorted(
                (
                    -int((qm[qid] * np.where(bits[nid], 1, -1)).sum()),
                    nid,
                    h,
                )
                for h, nid in short
            )
            want = [
                (rank, nid, h, -neg)
                for rank, (neg, nid, h) in enumerate(est[:10], start=1)
            ]
            assert sorted(got[qid]) == want, f"query {qid}"

    def test_estimator_tracks_true_cosine_better_than_hamming(
        self, spark, rr_rows
    ):
        # sanity on the WHY: within the shortlist, the asymmetric
        # score's top-10 true-dot-product sum should be >= the plain
        # Hamming top-10's (it refines, never coarsens, on average
        # across queries)
        import numpy as np

        from strava_data_pipeline_spark.sources.catalog import load_table

        emb = {
            r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in load_table(spark, SF, "embeddings").collect()
        }
        bits = {k: (v > 0) for k, v in emb.items()}
        total_rr = total_ham = 0.0
        by_q = {}
        for r in rr_rows:
            by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
        for qid, nids in by_q.items():
            ham = sorted(
                (int((bits[qid] ^ b).sum()), nid)
                for nid, b in bits.items()
                if nid != qid
            )
            total_ham += sum(
                float(emb[qid] @ emb[nid]) for _, nid in ham[:10]
            )
            total_rr += sum(float(emb[qid] @ emb[nid]) for nid in nids)
        assert total_rr >= total_ham - 1e-9
