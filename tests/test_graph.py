"""Connected-components operator: planted graphs with known closures."""

from __future__ import annotations

from pyspark.sql import functions as F

from strava_data_pipeline_spark.operators import graph as G


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src bigint, dst bigint")


def test_chain_collapses_to_min(spark):
    # a 9-hop chain exercises pointer jumping (diameter >> 2 rounds)
    e = _edges(spark, [(i, i + 1) for i in range(1, 10)])
    got = {
        (r["node"], r["label"])
        for r in G.connected_components(e).collect()
    }
    assert got == {(i, 1) for i in range(1, 11)}


def test_multiple_components_and_orientation(spark):
    # mixed edge orientation + duplicate edges must not matter
    e = _edges(spark, [(2, 1), (2, 3), (3, 2), (10, 11), (11, 10), (20, 21)])
    got = dict(
        (r["node"], r["label"]) for r in G.connected_components(e).collect()
    )
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_cluster_assignments_includes_singletons(spark):
    nodes = spark.range(1, 8).select(F.col("id").alias("doc_id"))
    e = _edges(spark, [(1, 2), (2, 3), (5, 6)])
    got = dict(
        (r["doc_id"], r["cluster_id"])
        for r in G.cluster_assignments(nodes, e, "doc_id").collect()
    )
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7}


def test_cluster_stats(spark):
    nodes = spark.range(1, 6).select(F.col("id").alias("doc_id"))
    e = _edges(spark, [(1, 2), (2, 3)])
    asg = G.cluster_assignments(nodes, e, "doc_id")
    stats = {
        r["cluster_id"]: (r["cluster_size"], r["canonical"])
        for r in G.cluster_stats(asg, "doc_id").collect()
    }
    assert stats == {1: (3, 1), 4: (1, 4), 5: (1, 5)}


def _pagerank_reference(edges, iterations=3, scale=1_000_000, d_milli=850):
    """Pure-Python twin of the integer recurrence for planted graphs."""
    from collections import defaultdict

    deg = defaultdict(int)
    for s, _ in edges:
        deg[s] += 1
    nodes = sorted(deg)
    r = {n: scale for n in nodes}
    base = scale * (1000 - d_milli) // 1000
    for _ in range(iterations):
        inbox = defaultdict(int)
        for s, t in edges:
            inbox[t] += r[s] // deg[s]
        r = {n: base + (d_milli * inbox.get(n, 0)) // 1000 for n in nodes}
    return r


class TestPagerank:
    def test_star_graph_matches_reference_recurrence(self, spark):
        # undirected star: center 0 ↔ leaves 1..3 (both directions)
        pairs = []
        for leaf in (1, 2, 3):
            pairs += [(0, leaf), (leaf, 0)]
        got = {
            (r["node"], r["rank"])
            for r in G.pagerank(_edges(spark, pairs), iterations=3).collect()
        }
        want = set(_pagerank_reference(pairs).items())
        assert got == want
        ranks = dict(got)
        assert ranks[0] > ranks[1]  # the hub outranks the leaves
        assert ranks[1] == ranks[2] == ranks[3]  # symmetric leaves tie

    def test_two_cliques_with_bridge(self, spark):
        # 3-clique {1,2,3} + 3-clique {4,5,6} bridged 3↔4: the bridge
        # endpoints outrank their clique peers
        und = []
        for a, b in [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)]:
            und += [(a, b), (b, a)]
        got = dict(
            (r["node"], r["rank"])
            for r in G.pagerank(_edges(spark, und), iterations=3).collect()
        )
        assert got == _pagerank_reference(und)
        assert got[3] > got[1] and got[4] > got[5]

    def test_exactness_beyond_double_precision(self, spark):
        # a 7-spoke star at rank_scale 1e15 pushes the hub's damping
        # product past 2^53, where doubles round: routing either
        # division through floats (the pre-r4 `/ 1000.0` bug) provably
        # diverges from this arbitrary-precision Python reference at
        # these exact parameters (verified by simulating both
        # recurrences), while staying under BIGINT overflow
        # (850 * 7 * scale < 2^63). BIGINT `div` must match exactly.
        scale = 10**15
        pairs = []
        for leaf in range(1, 8):
            pairs += [(0, leaf), (leaf, 0)]
        got = dict(
            (r["node"], r["rank"])
            for r in G.pagerank(
                _edges(spark, pairs), iterations=3, rank_scale=scale
            ).collect()
        )
        want = _pagerank_reference(pairs, scale=scale)
        assert got == want
        assert 850 * 7 * scale > 2**53  # doubles round here
        assert 850 * 7 * scale < 2**63  # BIGINT does not overflow


def test_pagerank_persist_gate(spark, tmp_path):
    """pagerank_parts persists nothing (AQE exchange reuse covers the
    one-query shape — persisting the edge set is a measured +15% loss)
    and its ranks are the DuckDB oracle's over the same lineitem."""
    import duckdb

    from strava_data_pipeline_spark.plans import advanced_queries as AQ

    rows = []
    ok = 1
    for parts in [(1, 2, 3), (2, 3, 4), (1, 4, 5)]:
        rows += [(ok, p, 0) for p in parts]
        ok += 1
    spark.createDataFrame(
        rows, "l_orderkey bigint, l_partkey bigint, l_shipdate bigint"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/lineitem.parquet"
    )
    sf = str(tmp_path)

    spark.catalog.clearCache()
    storage = spark.sparkContext._jsc.sc().getRDDStorageInfo
    before = {i.id() for i in storage()}
    got = sorted(
        (r["p_partkey"], r["rank_micro"])
        for r in AQ.pagerank_parts(spark, sf).collect()
    )
    assert not [i for i in storage() if i.id() not in before]

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{tmp_path}/lineitem.parquet/*.parquet')"
    )
    assert got == sorted(con.execute(AQ._pagerank_oracle()).fetchall())
