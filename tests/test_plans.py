"""Physical-plan regression tests over the whole registry.

Correctness is gated by the DuckDB oracle; these tests gate the
*scale* properties — the plan shapes that decide whether a query
survives 100 TB. They run against sf0.001 (plan shape, not data).

Plans are built lazily per query (cached), and the registry-wide
sweeps are parametrized per query name: one broken registry entry
fails only its own test rows instead of erroring every plan gate.
"""

from __future__ import annotations

import re

import pytest

from strava_data_pipeline_spark.plans import registry

SF_DIR = "/root/testdata/sf0.001"

ALL_QUERIES = sorted(registry.all_queries().keys())

# BroadcastNestedLoopJoin is acceptable ONLY where one side is bounded
# by construction (range-join windows, ANN query set / centroids,
# high-water mark, 1-row scalar thresholds).
_BNLJ_OK = {
    "events_in_windows",
    "ann_topk",
    "ann_ivf",
    "q22_dormant_customers",  # 1-row avg-acctbal threshold broadcast
    "tfidf_top_terms",  # 1-row corpus-count broadcast
    "unigram_logprob",  # 1-row token-total broadcast
    "perplexity_buckets",  # same 1-row token-total broadcast as unigram_logprob
    "customer_rfm",  # 1-row high-water-mark + quantile-threshold broadcasts
    "q15_top_supplier",  # 1-row scalar-max broadcast
    "q11_important_parts",  # 1-row fraction-of-total threshold broadcast
    "boilerplate_prune",  # 1-row sorted-blocklist broadcast
    "vocab_oov_rate",  # 1-row top-K vocabulary broadcast
    "kmeans_lloyd",  # K-row centroid broadcast per Lloyd iteration
    "ann_filtered",  # bounded 8-query broadcast, like ann_topk
    "heavy_hitters",  # 1-row (total, n_groups) broadcast
    "heavy_hitters_sampled",  # 1-row (total, n_groups) broadcast
    "semdedup",  # K-row centroid-seed broadcast, like kmeans_lloyd
    "dsir_weights",  # 1-row token-totals broadcast onto the B-row bucket dim
    "domain_kl",  # B-row bucket dim + 1-row token-total broadcasts
    "embedding_power_iteration",  # 1-row max-abs renormalizer broadcast
    "skipgram_pmi",  # 1-row (N tokens, P pairs) totals broadcast
    "bigram_logprob",  # 1-row vocabulary-size broadcast
    "ann_pq",  # 1-row K-entry codebook array broadcast
    "ivf_balance",  # 1-row centroid array + 1-row total broadcasts
    "cluster_purity",  # K-row centroid-seed array broadcast (kmeans idiom)
    "ann_recall_eval",  # composes ann_topk/ann_ivf (bounded query-set sides)
    "decontaminate_bloom",  # 1-row 4096-bit bloom bitmap broadcast
    "bigram_kneser_ney",  # 1-row bigram-type total broadcast
    "wordpiece_encode",  # 1-row <=500-entry vocab map broadcast
    "tokenizer_fertility",  # same vocab-map broadcast via _encoded_words
    "bpe_merge_rounds",  # 1-row per-round argmax merge-pair broadcast
    "range_partition_plan",  # 1-row total-count broadcast onto the domain frame
    "bm25_topk",  # 1-row (n_docs, avgdl) corpus-stats broadcast
    "hybrid_rank_fusion",  # same 1-row stats broadcast via the bm25 arm
    "retrieval_rank_agreement",  # 1-row Kendall-counts + stats broadcasts
    "token_coverage_curve",  # 1-row token-total broadcast
    "ann_mrr_ndcg",  # composes ann_topk/ann_ivf (bounded query-set sides)
    "join_cardinality_audit",  # 1-row stats-frame broadcasts per join spec
    "selectivity_audit",  # 1-row (N, ndv) broadcast onto the probe set
    "bloom_semi_join",  # 1-row bloom-bitmap broadcast (r10, decontaminate_bloom idiom)
    "ann_binary",  # bounded 8-row packed-query broadcast, like ann_topk
    "ann_binary_rerank",  # same 8-row broadcast, two-stage (r11)
}

# plan-string caches; one build per query per pytest session. A failed
# build is cached as the exception so every dependent test reports it
# without re-running the query.
_PLANS: dict[str, object] = {}
_TREES: dict[str, object] = {}


def _explain(spark, df, mode: str) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def plan_of(spark, name: str) -> str:
    """Formatted explain of the executed (final AQE) plan for one query."""
    if name not in _PLANS:
        try:
            df = registry.all_queries()[name](spark, SF_DIR)
            # execute on this exact QueryExecution: AQE only materializes
            # the final plan (with codegen annotations) for an executed df
            df.collect()
            _PLANS[name] = _explain(spark, df, "formatted")
        except Exception as exc:  # cache the failure, fail fast next time
            _PLANS[name] = exc
    val = _PLANS[name]
    if isinstance(val, Exception):
        pytest.fail(f"building plan for {name!r} raised: {val}")
    return val


def tree_of(spark, name: str) -> str:
    """Simple-mode explain of the EXECUTED (final AQE) plan — tree lines
    carry operator arguments inline; everything after the
    '== Initial Plan ==' marker is the pre-AQE echo we drop."""
    if name not in _TREES:
        try:
            df = registry.all_queries()[name](spark, SF_DIR)
            df.collect()
            _TREES[name] = _explain(spark, df, "simple").split(
                "== Initial Plan =="
            )[0]
        except Exception as exc:
            _TREES[name] = exc
    val = _TREES[name]
    if isinstance(val, Exception):
        pytest.fail(f"building executed tree for {name!r} raised: {val}")
    return val


@pytest.mark.parametrize("name", ALL_QUERIES)
def test_no_cartesian_product(spark, name):
    assert "CartesianProduct" not in plan_of(spark, name), (
        f"unbounded cartesian product in {name}"
    )


@pytest.mark.parametrize("name", ALL_QUERIES)
def test_nested_loop_join_only_on_bounded_sides(spark, name):
    plan = plan_of(spark, name)
    if "BroadcastNestedLoopJoin" in plan:
        assert name in _BNLJ_OK, f"range/theta join on unbounded sides in {name}"


@pytest.mark.parametrize("name", ALL_QUERIES)
def test_no_python_row_eval_in_query_path(spark, name):
    # every registry query must stay JVM-side — EXCEPT the multimodal
    # decode entry, whose whole point is the sanctioned Arrow-batched
    # Pandas path (codecs can't be expressed in built-ins); even there,
    # row-at-a-time BatchEvalPython is banned.
    plan = plan_of(spark, name)
    assert "BatchEvalPython" not in plan, f"row-at-a-time Python in {name}"
    assert "ArrowEvalPython" not in plan, f"Python UDF in the hot path of {name}"
    if name in (
        "multimodal_features",
        "multimodal_decode",
        "multimodal_decode_bmp",
        "multimodal_decode_gif",
        "multimodal_decode_png",
        "multimodal_decode_jpeg",
        "multimodal_decode_wav",
        "multimodal_frame_sample",
        "multimodal_resize",
        "multimodal_decode_png_deep",
        "multimodal_decode_wav_ima",
        "multimodal_decode_gif_anim",
    ):
        assert "MapInPandas" in plan
    else:
        assert "MapInPandas" not in plan, f"Python in the hot path of {name}"


@pytest.mark.parametrize("name", ALL_QUERIES)
def test_whole_stage_codegen_present(spark, name):
    # every query should have at least one codegen span ("(codegen
    # id : N)" in the final adaptive plan); a plan with none has
    # fallen entirely out of Tungsten
    assert "codegen id" in plan_of(spark, name), f"no codegen span in {name}"


@pytest.mark.parametrize(
    "name",
    [
        "recent_activities",
        "activities_keyset",
        "q3_shipping_priority",
        "top_customers_by_revenue",
        "q18_large_orders",
        "q10_returned_items",
    ],
)
def test_topn_queries_avoid_global_sort(spark, name):
    assert "TakeOrderedAndProject" in plan_of(spark, name), name


def test_offset_page_truncates_before_window(spark):
    # page_offset must NOT funnel the whole table through the global
    # row_number window: the TakeOrderedAndProject truncation to
    # offset+limit rows has to appear below the window.
    assert "TakeOrderedAndProject" in plan_of(spark, "activities_page")


def test_point_lookup_pushes_filter_to_scan(spark):
    plan = plan_of(spark, "activity_by_id")
    assert "PushedFilters: [" in plan
    assert "EqualTo(event_id" in plan


def test_embedding_dedup_joins_on_lsh_bucket(spark):
    # dedup_embedding must block on (label, band, bucket) — a
    # SortMergeJoin/ShuffledHashJoin whose keys include the bucket —
    # never all-pairs within label (the round-1 weak plan).
    plan = plan_of(spark, "dedup_embedding")
    assert "bucket" in plan and "band" in plan, "LSH band keys missing from plan"
    join_keys = [
        line for line in plan.splitlines() if "keys" in line and "bucket" in line
    ]
    assert join_keys, "candidate join does not shuffle on the bucket key"


def test_q6_predicates_reach_the_scan(spark):
    # Q6 is the pure-scan query: shipdate/discount/quantity must all
    # appear as PushedFilters on the lineitem parquet scan, not as a
    # post-scan Filter-only evaluation.
    plan = plan_of(spark, "q6_forecast_revenue")
    assert "PushedFilters: [" in plan
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert any(
            col in line for line in plan.splitlines() if "PushedFilters" in line
        ), f"{col} not pushed to the scan"


def test_q21_exists_joins_are_hash_partitioned(spark):
    # The EXISTS/NOT EXISTS rewrites must run as equi-joins on orderkey
    # (semi + anti) with the supplier inequality as a residual — never a
    # nested-loop over the fact table.
    plan = plan_of(spark, "q21_waiting_suppliers")
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_session_stats_single_exchange(spark):
    # both window passes and all aggregate levels must ride ONE
    # user_id hash partitioning — the docstring's one-exchange claim
    n = len(
        re.findall(r"\bExchange hashpartitioning", tree_of(spark, "session_stats"))
    )
    assert n == 1, f"session_stats executed plan has {n} exchanges, expected 1"


@pytest.mark.parametrize("name", ["events_ewma", "cusum_changepoint"])
def test_timeseries_windows_share_one_exchange(spark, name):
    # all window passes (lags / prefix+totals+peak-rank) must ride ONE
    # user_id hash partitioning — the docstrings' one-exchange claim
    n = len(re.findall(r"\bExchange hashpartitioning", tree_of(spark, name)))
    assert n == 1, f"{name} executed plan has {n} exchanges, expected 1"


def test_corr_matrix_single_scan_single_aggregate(spark):
    # all 6 pair rows must explode from ONE 1-row moment aggregate —
    # the union-of-selects form re-ran the aggregate (and the fact
    # scan) once per pair
    seg = tree_of(spark, "corr_matrix")
    assert len(re.findall(r"Scan parquet", seg)) == 1


def test_mad_outliers_scans_events_once(spark):
    # the (type, value) domain frame is persisted and reused by the
    # median, MAD, and outlier passes — the fact table must be read once
    seg = tree_of(spark, "mad_outliers")
    assert len(re.findall(r"Scan parquet", seg)) == 1


def test_decontaminate_training_side_never_shuffles_for_probe(spark):
    # the benchmark shingle set must broadcast: the corpus-side probe
    # is a BroadcastHashJoin, never a sort-merge shuffle of shingles
    seg = tree_of(spark, "decontaminate")
    assert "BroadcastHashJoin" in seg
    assert "SortMergeJoin" not in seg


def test_funnel_single_scan_single_exchange(spark):
    # the windowed funnel must read events ONCE and shuffle ONCE — the
    # 3-scan + 3-join form this replaced re-read the fact table per stage
    seg = tree_of(spark, "events_funnel")
    assert "CartesianProduct" not in seg and "BroadcastNestedLoopJoin" not in seg
    assert len(re.findall(r"Scan parquet", seg)) == 1
    assert len(re.findall(r"\bExchange hashpartitioning", seg)) == 1


def test_latest_n_window_is_partitioned(spark):
    # per-key top-N must sort within user_id partitions, not globally
    assert "hashpartitioning(user_id" in tree_of(spark, "events_latest_n")


def test_bucketed_join_has_no_exchange_before_the_join(spark):
    # both sides are bucketed on the join key: the SortMergeJoin's
    # subtree (everything below it in the tree section) must contain
    # no Exchange — the layout satisfies the join's distribution. The
    # only exchanges allowed in the whole plan belong to the final agg.
    plan = plan_of(spark, "bucketed_join")
    # keep only the final AQE tree: the formatted output echoes the
    # pre-AQE "Initial Plan" (with its pre-bucketing exchanges) below it
    tree = plan.split("== Initial Plan ==")[0].split("\n\n")[0]
    lines = tree.splitlines()
    smj = next(i for i, l in enumerate(lines) if "SortMergeJoin" in l)
    below = "\n".join(lines[smj:])
    assert "Exchange" not in below, "bucketed join sides still shuffle"
    assert "BroadcastHashJoin" not in plan, "merge hint ignored"


def test_centroid_assignment_never_expands_rows(spark):
    # the nearest-centroid argmin must be the zero-expansion array_min
    # fold, NOT the join-K-rows-then-window shape that materializes and
    # shuffles N×K vector-carrying rows (dies at SemDeDup's K≈110k).
    # kmeans_lloyd has no per-vector window at all; semdedup keeps only
    # cap_hot_buckets' cid-partitioned bucket-size window.
    km = plan_of(spark, "kmeans_lloyd")
    assert "Window" not in km, "kmeans assignment regressed to window argmin"
    sd = plan_of(spark, "semdedup")
    assert "windowspecdefinition(vec_id" not in sd, (
        "semdedup assignment regressed to per-vec_id window argmin"
    )
    # ann_ivf's list assignment is the same fold: the only windows left
    # are the per-query_id top-k ranks — never a per-corpus-row
    # (neighbor_id-partitioned) window, which was the N×K shape.
    ivf = plan_of(spark, "ann_ivf")
    assert "windowspecdefinition(neighbor_id" not in ivf, (
        "ann_ivf corpus-list assignment regressed to window argmax"
    )


def test_curation_e2e_single_corpus_scan(spark):
    """The capstone's 100 TB contract: the corpus BODIES are read
    exactly once. After execution, every leaf of the final plan tree
    must be an InMemoryTableScan (all five stages consume the two
    cached relations — the narrow base frame and the LSH signature
    frame minhash_lsh_pairs persists); a direct parquet leaf would
    mean some stage re-scanned the documents table."""
    spark.catalog.clearCache()
    try:
        df = registry.all_queries()["curation_pipeline_e2e"](spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()

        def leaf_names(p, out):
            it = p.collectLeaves().iterator()
            while it.hasNext():
                leaf = it.next()
                if leaf.nodeName() == "AdaptiveSparkPlan":
                    # unwrap to the finalized physical plan
                    leaf_names(leaf.executedPlan(), out)
                else:
                    out.append(leaf.nodeName())
            return out

        names = leaf_names(df._jdf.queryExecution().executedPlan(), [])
        assert names and set(names) == {"InMemoryTableScan"}, names
    finally:
        spark.catalog.clearCache()
