"""Semantic tests for the r6 graph pack (plans/graph_queries.py):
k-core peel cascade against a python reference on a planted graph,
and the exact-integer degree-histogram bucketing.

Planted graphs are written as real lineitem.parquet (one 2-item order
per edge) and the registry queries read them through their normal
(spark, sf_dir) entry."""

from __future__ import annotations

from collections import Counter

from strava_data_pipeline_spark.plans import graph_queries as G


def _mklineitem(spark, tmpdir, edges, cliques=()):
    """edges: (a, b) part pairs, each its own 2-item order; cliques:
    iterables of parts sharing one order (all-pairs edges)."""
    rows = []
    ok = 1
    for a, b in edges:
        rows += [(ok, a), (ok, b)]
        ok += 1
    for parts in cliques:
        rows += [(ok, p) for p in parts]
        ok += 1
    # l_shipdate present because load_table normalizes it on read
    rows = [(ok_, pk, 0) for ok_, pk in rows]
    df = spark.createDataFrame(
        rows, "l_orderkey bigint, l_partkey bigint, l_shipdate bigint"
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmpdir}/lineitem.parquet")
    return str(tmpdir)


def _ref_kcore(adj, k, rounds):
    """Python reference: per node (peel_round, deg_at_peel); 0 = survives."""
    nodes = set(adj)
    out = {}
    for r in range(1, rounds + 1):
        deg = {n: sum(1 for m in adj[n] if m in nodes) for n in nodes}
        peeled = {n for n in nodes if deg[n] < k}
        for n in peeled:
            out[n] = (r, deg[n])
        nodes -= peeled
    deg = {n: sum(1 for m in adj[n] if m in nodes) for n in nodes}
    for n in nodes:
        out[n] = (0, deg[n])
    return out


def _adj(edges, cliques=()):
    adj = {}
    pairs = set(edges)
    for parts in cliques:
        ps = sorted(parts)
        for i, a in enumerate(ps):
            for b in ps[i + 1 :]:
                pairs.add((a, b))
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    return adj


class TestKcorePeel:
    def test_cascade_on_pendant_chain(self, spark, tmp_path, monkeypatch):
        # triangle (101-103, degree 2 inside) survives k=2; the chain
        # 1-2-3-101 peels in cascade: node 1 (deg 1) round 1, node 2
        # round 2 (its degree DROPS to 1 only after 1 peels), node 3
        # round 3 — the cascade one-shot degree filters cannot see.
        monkeypatch.setattr(G, "_KCORE_K", 2)
        edges = [(1, 2), (2, 3), (3, 101)]
        cliques = [(101, 102, 103)]
        sf = _mklineitem(spark, tmp_path, edges, cliques)
        got = {
            r["partkey"]: (r["peel_round"], r["deg_at_peel"])
            for r in G.kcore_peel(spark, sf).collect()
        }
        assert got == _ref_kcore(_adj(edges, cliques), k=2, rounds=4)
        assert got[1] == (1, 1) and got[2] == (2, 1) and got[3] == (3, 1)
        assert got[101] == (0, 2)
        assert all(got[n] == (0, 2) for n in (102, 103))

    def test_isolated_after_peel_is_peeled_not_lost(
        self, spark, tmp_path, monkeypatch
    ):
        # star: center 10 with 3 leaves. k=2: every leaf (deg 1) peels
        # round 1; the center's degree then drops to ZERO — it must
        # appear as a round-2 peel with deg 0, not vanish from the
        # output (the left-join-from-node-list contract).
        monkeypatch.setattr(G, "_KCORE_K", 2)
        edges = [(10, 21), (10, 22), (10, 23)]
        sf = _mklineitem(spark, tmp_path, edges)
        got = {
            r["partkey"]: (r["peel_round"], r["deg_at_peel"])
            for r in G.kcore_peel(spark, sf).collect()
        }
        assert got == _ref_kcore(_adj(edges), k=2, rounds=4)
        assert got[10] == (2, 0)
        assert set(got) == {10, 21, 22, 23}


class TestDegreeHistogram:
    def test_buckets_and_stats(self, spark, tmp_path):
        # degrees: node 1 has 4 (bucket 3: bin(4)=100), nodes 2-5 have
        # 1 each (bucket 1), plus a 3-clique (degree 2 -> bucket 2).
        edges = [(1, 2), (1, 3), (1, 4), (1, 5)]
        cliques = [(6, 7, 8)]
        sf = _mklineitem(spark, tmp_path, edges, cliques)
        deg = Counter()
        for a, b in edges + [(6, 7), (6, 8), (7, 8)]:
            deg[a] += 1
            deg[b] += 1
        expect = {}
        for n, c in deg.items():
            b = len(bin(c)) - 2  # floor(log2)+1
            lo, hi, s, cnt = expect.get(b, (c, c, 0, 0))
            expect[b] = (min(lo, c), max(hi, c), s + c, cnt + 1)
        got = {
            r["bucket"]: (r["min_deg"], r["max_deg"], r["sum_deg"], r["n_parts"])
            for r in G.degree_histogram(spark, sf).collect()
        }
        assert got == expect
        assert set(got) == {1, 2, 3}


def _edges_df(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "a bigint, b bigint"
    )


def _ref_kcore_fixpoint(adj, k):
    nodes = set(adj)
    out = {}
    r = 0
    while True:
        r += 1
        deg = {n: sum(1 for m in adj[n] if m in nodes) for n in nodes}
        peeledset = {n for n in nodes if deg[n] < k}
        if not peeledset:
            for n in nodes:
                out[n] = (0, deg[n])
            return out
        for n in peeledset:
            out[n] = (r, deg[n])
        nodes -= peeledset


class TestKcoreFixpointOperator:
    def test_long_cascade_beyond_four_rounds(self, spark):
        # a 7-link chain hanging off a triangle peels one node per
        # round at k=2 — seven rounds, past the unrolled query's four
        from strava_data_pipeline_spark.operators.graph import kcore

        chain = [(i, i + 1) for i in range(1, 8)] + [(8, 101)]
        tri = [(101, 102), (102, 103), (101, 103)]
        got = {
            r["node"]: (r["peel_round"], r["deg_at_peel"])
            for r in kcore(_edges_df(spark, chain + tri), k=2).collect()
        }
        assert got == _ref_kcore_fixpoint(_adj(chain + tri), k=2)
        assert got[1] == (1, 1) and got[8][0] == 8
        assert all(got[n] == (0, 2) for n in (101, 102, 103))

    def test_random_graph_matches_reference(self, spark):
        import random

        rng = random.Random(0xC03E)
        pairs = {
            tuple(sorted(rng.sample(range(40), 2))) for _ in range(120)
        }
        from strava_data_pipeline_spark.operators.graph import kcore

        got = {
            r["node"]: (r["peel_round"], r["deg_at_peel"])
            for r in kcore(_edges_df(spark, sorted(pairs)), k=3).collect()
        }
        assert got == _ref_kcore_fixpoint(_adj(sorted(pairs)), k=3)

    def test_agrees_with_unrolled_query_when_converged_early(
        self, spark, tmp_path, monkeypatch
    ):
        # on a graph whose peel converges within 4 rounds, the
        # fixpoint operator and the registry's unrolled query must
        # emit the identical row set
        from strava_data_pipeline_spark.operators.graph import kcore

        monkeypatch.setattr(G, "_KCORE_K", 2)
        edges = [(1, 2), (2, 3), (3, 101)]
        cliques = [(101, 102, 103)]
        sf = _mklineitem(spark, tmp_path, edges, cliques)
        unrolled = {
            (r["partkey"], r["peel_round"], r["deg_at_peel"])
            for r in G.kcore_peel(spark, sf).collect()
        }
        allpairs = edges + [(101, 102), (102, 103), (101, 103)]
        fix = {
            (r["node"], r["peel_round"], r["deg_at_peel"])
            for r in kcore(_edges_df(spark, allpairs), k=2).collect()
        }
        assert fix == unrolled


class TestKcorePlan:
    """Pins the incremental-degree physical shape of kcore_peel:
    exactly ONE persisted edge relation (MEMORY_AND_DISK serialized; a
    per-round edge prune would persist one edge generation per round)
    plus one node-sized degree frame per round boundary; and BOTH peel-join modes (AQE auto-broadcast under the
    threshold, shuffle fallback above it) produce identical rows."""

    def test_one_edge_persist_total(self, spark):
        # sf0.001 through the registry entry: after full execution the
        # cache inventory must hold exactly 1 serialized MEMORY_AND_DISK
        # relation (the edge list, persisted once, never pruned — r12
        # moved it off DISK_ONLY, measured ~17% on the whole query) and
        # _KCORE_ROUNDS + 1 deserialized memory degree frames (initial
        # + one per round). A second edge-shaped entry would mean the
        # per-round edge prune crept back in.
        spark.catalog.clearCache()
        # earlier tests' localCheckpoint RDDs linger in storage until
        # GC (clearCache only drops catalog-cached relations) — count
        # only the entries THIS query adds
        before = {
            i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        }
        try:
            df = G.kcore_peel(spark, "/root/testdata/sf0.001")
            df.write.format("noop").mode("overwrite").save()
            levels = Counter(
                i.storageLevel().description()
                for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
                if i.id() not in before
            )
            disk_only = sum(
                n
                for lvl, n in levels.items()
                if "Disk" in lvl and "Memory" not in lvl
            )
            edge_list = sum(
                n
                for lvl, n in levels.items()
                if "Serialized" in lvl and "Disk" in lvl and "Memory" in lvl
            )
            deg_frames = sum(
                n for lvl, n in levels.items() if "Deserialized" in lvl
            )
            assert disk_only == 0, levels  # DISK_ONLY retired (r12)
            assert edge_list == 1, levels
            assert deg_frames == G._KCORE_ROUNDS + 1, levels
        finally:
            spark.catalog.clearCache()

    def test_broadcast_and_shuffle_fallback_agree(
        self, spark, tmp_path, monkeypatch
    ):
        # same planted cascade graph as TestKcorePeel; k=2
        monkeypatch.setattr(G, "_KCORE_K", 2)
        edges = [(1, 2), (2, 3), (3, 101)]
        cliques = [(101, 102, 103)]
        sf = _mklineitem(spark, tmp_path, edges, cliques)

        def run():
            df = G.kcore_peel(spark, sf)
            rows = {
                (r["partkey"], r["peel_round"], r["deg_at_peel"])
                for r in df.collect()
            }
            plan = df._jdf.queryExecution().executedPlan().toString()
            return rows, plan

        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            # broadcast mode: tiny peel sets auto-broadcast, the edge
            # partitioning is preserved and the lost-count groupBy is
            # exchange-free on the cached layout
            rows_b, plan_b = run()
            assert "BroadcastHashJoin" in plan_b
            spark.catalog.clearCache()
            # degraded mode (1e9-node graphs: peel set exceeds any
            # broadcast threshold): every join falls back to a
            # partitioned strategy — correctness must be unaffected
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            rows_s, plan_s = run()
            assert "BroadcastHashJoin" not in plan_s
            assert "BroadcastNestedLoopJoin" not in plan_s
            assert rows_s == rows_b
            assert rows_b == {
                (n, r, d)
                for n, (r, d) in _ref_kcore(
                    _adj(edges, cliques), k=2, rounds=4
                ).items()
            }
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.catalog.clearCache()
