"""Graph-structure queries on the co-purchase graph (SURVEY.md §2c,
r6 fourth pack, rows 153-154): k-core peeling — the iterative
degree-prune fixpoint that is a DIFFERENT iteration class from the
registry's connected components (pointer jumping) and PageRank (rank
flow): each round REMOVES nodes and re-derives degrees on the surviving
subgraph — plus the degree histogram that justifies every
degree-ordered/skew-capped design choice in operators/graph.py with a
measured distribution.

Both queries build the same co-purchase edge set as
`copurchase_triangles` (basket arrays -> in-codegen pair explode, one
orderkey shuffle), so the 100 TB input path is already rehearsed at
mult=100 (SCALING.json mult100_r6).

No reference parity lines: the reference (a Go activity service) has
no graph tier; these are beyond-reference operators the task brief
makes first-class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from strava_data_pipeline_spark.plans.registry import register
from strava_data_pipeline_spark.sources.catalog import load_table

# k-core parameters — fixed constants of the operator contract. Four
# unrolled rounds: enough for the peel cascade to be visible (round-2+
# peels exist only because round-1 removals lowered degrees), bounded
# so the oracle stays a finite CTE chain. A production "peel to
# fixpoint" hoists the SAME per-round plan into a driver loop with a
# convergence count, exactly like operators/graph.py::connected_components.
_KCORE_K = 100
_KCORE_ROUNDS = 4

_EDGES_DUCK = """
items AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), edges AS (
    SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), u0 AS MATERIALIZED (
    SELECT a AS s, b AS d FROM edges
    UNION ALL
    SELECT b AS s, a AS d FROM edges
), nodes0 AS (
    SELECT DISTINCT s FROM u0
)"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct a<b co-purchase pairs via the basket-array build (one
    orderkey-keyed shuffle, pair explode bounded by basket size) —
    the same construction copurchase_triangles documents."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    return (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) ->"
                    " transform(slice(ps, i + 2, size(ps)),"
                    " y -> named_struct('a', x, 'b', y))))"
                )
            ).alias("e")
        )
        .select(F.col("e.a").alias("a"), F.col("e.b").alias("b"))
        .distinct()
    )


# --------------------------------------------------------------------------
# 153. kcore_peel — k-core decomposition, 4 unrolled peel rounds
# --------------------------------------------------------------------------
def _duck_round(r: int) -> str:
    """CTEs for peel round r: degrees over the surviving subgraph
    (LEFT join from the surviving node list so a node whose neighbors
    all peeled shows degree 0 and is peeled too, not silently lost),
    the peeled set, the survivors, and the pruned edge list. Every
    per-round CTE is AS MATERIALIZED: DuckDB inlines multiply-
    referenced CTEs, and u_r references u_{r-1} three times, so the
    uninlined tree is the same 3^rounds blow-up the Spark side cuts
    with localCheckpoint (measured: 144s inlined -> sub-second
    materialized at sf0.01)."""
    return f"""
deg{r} AS MATERIALIZED (
    SELECT n.s, CAST(coalesce(c.c, 0) AS BIGINT) AS c
    FROM nodes{r - 1} n LEFT JOIN (
        SELECT s, count(*) AS c FROM u{r - 1} GROUP BY 1
    ) c USING (s)
), peel{r} AS (
    SELECT s, c FROM deg{r} WHERE c < {_KCORE_K}
), nodes{r} AS MATERIALIZED (
    SELECT s FROM deg{r} WHERE c >= {_KCORE_K}
), u{r} AS MATERIALIZED (
    SELECT u.s, u.d FROM u{r - 1} u
    JOIN nodes{r} ns ON ns.s = u.s
    JOIN nodes{r} nd ON nd.s = u.d
)"""


_KCORE_ORACLE = (
    f"WITH {_EDGES_DUCK}, "
    + ", ".join(_duck_round(r).strip() for r in range(1, _KCORE_ROUNDS + 1))
    + f""",
surv AS (
    SELECT n.s, CAST(coalesce(c.c, 0) AS BIGINT) AS c
    FROM nodes{_KCORE_ROUNDS} n LEFT JOIN (
        SELECT s, count(*) AS c FROM u{_KCORE_ROUNDS} GROUP BY 1
    ) c USING (s)
)
SELECT s AS partkey, peel_round, deg_at_peel FROM (
    {" UNION ALL ".join(
        f"SELECT s, CAST({r} AS INT) AS peel_round, c AS deg_at_peel FROM peel{r}"
        for r in range(1, _KCORE_ROUNDS + 1)
    )}
    UNION ALL
    SELECT s, CAST(0 AS INT) AS peel_round, c AS deg_at_peel FROM surv
)
"""
)


# Mode gate (r8): the incremental shape wins while the edge list is
# cheap to rescan; the per-round-prune shape wins once it is not. The
# lineitem row count comes from parquet statistics (zero-column count,
# metadata-fast) — the same gate mechanism as pagerank_parts'
# _PAGERANK_PERSIST_ROWS.
_KCORE_PRUNE_ROWS = 4_000_000


@register("kcore_peel", oracle=_KCORE_ORACLE)
def kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core decomposition of the co-purchase graph, four unrolled
    peel rounds at k=100 (the co-purchase graph's median degree is
    ~115 at the tested SFs, so ~40% of parts peel in round 1 and the
    cascade is visibly exercised): per part, the round it was peeled (1-4; 0 =
    survives all rounds, i.e. a 100-core candidate) and its degree at
    peel time. The peel cascade — removing weak nodes lowers their
    neighbors' degrees below k — is what separates core membership
    from a one-shot degree filter, and it is the standard dense-
    subgraph screen before community detection.

    SIZE-ADAPTIVE execution (r8): two measured regimes, gated on the
    parquet-stats lineitem row bound exactly like pagerank_parts'
    persist gate, each keeping the regime where it measured faster
    (SCALING_M100_R7_kcore.json vs _R6_graph.json):

    - below _KCORE_PRUNE_ROWS — INCREMENTAL degree maintenance
      (_kcore_incremental, the r7 shape): at sf0.1 it HALVES the query
      (14.8s -> 6.6s) because the per-round persist+materialize fixed
      costs go away.
    - above — PER-ROUND EDGE PRUNE with full recounts
      (_kcore_pruned, the r6 shape): at mult=100 (240M edges) it wins
      by ~15% (59.5s vs 68.4s) because scans of a shrinking pruned
      list beat four cached full-list scans once the list is that
      big. The prune-once hybrid A/B'd a wash at mult=100 in r7
      (52.6s vs 55.8s, inside box variance) and stays unlanded —
      thread CLOSED in r9: the box's measured run-to-run variance
      (0.7x-1.5x of floors within an hour) exceeds the hybrid's
      largest plausible effect, so no local A/B can certify the
      >=10% win that would justify a third iteration class; both
      landed modes carry recorded floors and plan pins.

    Broadcast contract (both modes): the per-round peel/node join
    auto-broadcasts while the node set fits
    spark.sql.autoBroadcastJoinThreshold (AQE decides from the
    MEASURED size), preserving the edge partitioning and keeping the
    count-by-s exchange-free. Above the threshold Spark falls back to
    a shuffle join — correctness unchanged, two extra edge-subset
    exchanges. Broadcast/shuffle and incremental/pruned modes are all
    pinned by tests/test_graph_pack.py::TestKcorePlan. Cache
    lifecycle is caller-owned, as with minhash_lsh_pairs (bench
    clears per query; loops must clearCache after materializing)."""
    li = load_table(spark, sf_dir, "lineitem")
    if li.count() > _KCORE_PRUNE_ROWS:
        return _kcore_pruned(spark, sf_dir)
    return _kcore_incremental(spark, sf_dir)


def _kcore_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The small/mid-scale mode — INCREMENTAL degree maintenance (r7):
    the peeled nodes' edges are known, so round r+1's degrees are
    round r's minus the edges lost to just-peeled neighbors,

        deg_{r+1}(s) = deg_r(s) - |{d in peel_r : (s,d) in u0}|,

    and the subtraction is exact against the ORIGINAL edge list: s
    survived rounds 1..r and d survived rounds 1..r-1 (it peeled in
    round r), so every (s,d) edge of u0 between them is still present
    in u_{r-1} — no earlier round can have removed it. That identity
    eliminates the per-round edge-list prune entirely: the edge list
    is partitioned by the degree key and persisted ONCE
    (MEMORY_AND_DISK — this mode only runs below the
    _KCORE_PRUNE_ROWS gate, so the single list is bounded and spills
    instead of OOMing; the r12 interleaved A/B measured the
    memory-resident copy ~17% faster than DISK_ONLY every round),
    then each round is one cached-scan join against the node-sized
    peel set (filtering to edges that touch a peeled d) plus a
    map-side-combinable count by s and a node-sized LEFT join for the
    subtraction (coalesce(lost, 0) — most survivors lose nothing; a
    node whose every neighbor peeled reaches 0 and peels next round,
    so zero-degree stragglers still peel instead of vanishing).
    Versus the pruned shape this drops, per round, one full-edge
    degree recount, two semi-join scans, and one edge-generation
    persist. Lineage stays linear because each round's node-sized
    degree frame is persisted (memory) and the edge list resolves to
    the one cached relation — the 3^rounds analyzer blow-up of an
    uncut prune chain never forms."""
    from pyspark.storagelevel import StorageLevel

    edges = _copurchase_edges(spark, sf_dir)
    und = edges.select(
        F.col("a").alias("s"), F.col("b").alias("d")
    ).unionAll(edges.select(F.col("b").alias("s"), F.col("a").alias("d")))
    # ONE upfront hash-partition on the degree key, persisted once and
    # never pruned: the initial count and every per-round lost-count
    # run exchange-free on this layout (peel sets broadcast).
    # MEMORY_AND_DISK, not DISK_ONLY (r12 A/B, interleaved min-of-3:
    # 6.4-6.5s vs 7.7-7.8s at sf0.1 — every per-round lost-join scans
    # this list, and the memory-resident copy wins every round): this
    # mode only runs BELOW the _KCORE_PRUNE_ROWS gate, so the list is
    # bounded and eviction-to-disk (not OOM) is the pressure behavior;
    # the r6 mult=100 OOM that mandated DISK_ONLY came from five
    # per-round edge GENERATIONS in the pruned shape, which keeps its
    # own policy above the gate.
    und = und.repartition("s").persist(StorageLevel.MEMORY_AND_DISK)
    # Round-1 degrees: the only full count. Every node of u0 has >= 1
    # edge, so the groupBy covers nodes0 exactly.
    deg = (
        und.groupBy("s")
        .agg(F.count("*").cast("bigint").alias("c"))
        .persist()
    )
    outs: list[DataFrame] = []
    for r in range(1, _KCORE_ROUNDS + 1):
        peel = deg.where(F.col("c") < _KCORE_K)
        outs.append(
            peel.select(
                "s",
                F.lit(r).cast("int").alias("peel_round"),
                F.col("c").alias("deg_at_peel"),
            )
        )
        survivors = deg.where(F.col("c") >= _KCORE_K).select("s", "c")
        # Edges lost to this round's peel: original edge list joined
        # against the peeled ids on the NEIGHBOR end. Restricting s to
        # survivors afterwards (the LEFT join below) discards the
        # peeled-s rows, so no s-side filter is needed here.
        # No explicit broadcast hint: AQE picks broadcast from the
        # peel set's measured size and falls back to a shuffle join
        # above the threshold (the documented degraded mode).
        lost = (
            und.join(peel.select(F.col("s").alias("d")), "d")
            .groupBy("s")
            .agg(F.count("*").cast("bigint").alias("lost"))
        )
        deg = (
            survivors.join(lost, "s", "left")
            .select(
                "s",
                (
                    F.col("c") - F.coalesce(F.col("lost"), F.lit(0))
                ).alias("c"),
            )
            .persist()
        )
    surv = deg.select(
        "s",
        F.lit(0).cast("int").alias("peel_round"),
        F.col("c").alias("deg_at_peel"),
    )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.unionAll(surv).withColumnRenamed("s", "partkey")


def _kcore_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The large-scale mode — per-round edge prune + full recount (the
    r6 shape): each round is (a) a map-side-combinable degree count
    over the CURRENT edge generation, (b) a node-sized LEFT join from
    the surviving node list (so zero-degree stragglers peel instead of
    vanishing — the edge groupBy alone would lose them), and (c) two
    key-partitioned semi-joins pruning the edge list. The list only
    SHRINKS round over round, which is exactly why this wins past
    _KCORE_PRUNE_ROWS: at 240M+ edges the incremental mode's four
    full-list rescans cost more than the prune that makes later scans
    small. Only (BIGINT, BIGINT) edge tuples and node-sized
    (id, count) frames ever shuffle; nothing broadcasts by hint (AQE
    decides). Each round's edge generation persists DISK_ONLY and each
    degree frame in memory — here the lineage cut is CORRECTNESS of
    the plan, not just hygiene: round r's edge list references round
    r-1's THREE times (degree count + two semi-joins), so an uncut
    lineage grows 3^rounds and the analyzer chokes on the exponential
    tree long before any data moves. The final round's edge list feeds
    exactly one consumer (the survivor degree count) and is not
    persisted — a write with no second read."""
    from pyspark.storagelevel import StorageLevel

    edges = _copurchase_edges(spark, sf_dir)
    und = edges.select(
        F.col("a").alias("s"), F.col("b").alias("d")
    ).unionAll(edges.select(F.col("b").alias("s"), F.col("a").alias("d")))
    # ONE upfront hash-partition on the degree key: the node-list
    # semi-joins broadcast (node ids are tiny next to edges) and so
    # PRESERVE this partitioning through every round — all four
    # degree-count groupBys run exchange-free on the cached layout.
    und = und.repartition("s").persist(StorageLevel.DISK_ONLY)
    nodes = und.select("s").distinct()
    outs: list[DataFrame] = []
    for r in range(1, _KCORE_ROUNDS + 1):
        cnt = und.groupBy("s").agg(F.count("*").cast("bigint").alias("c"))
        deg = nodes.join(cnt, "s", "left").select(
            "s", F.coalesce("c", F.lit(0)).cast("bigint").alias("c")
        )
        deg = deg.persist()
        outs.append(
            deg.where(F.col("c") < _KCORE_K).select(
                "s",
                F.lit(r).cast("int").alias("peel_round"),
                F.col("c").alias("deg_at_peel"),
            )
        )
        nodes = deg.where(F.col("c") >= _KCORE_K).select("s")
        und = und.join(nodes, "s", "left_semi").join(
            nodes.withColumnRenamed("s", "d"), "d", "left_semi"
        )
        if r < _KCORE_ROUNDS:
            und = und.persist(StorageLevel.DISK_ONLY)
    cnt = und.groupBy("s").agg(F.count("*").cast("bigint").alias("c"))
    surv = nodes.join(cnt, "s", "left").select(
        "s",
        F.lit(0).cast("int").alias("peel_round"),
        F.coalesce("c", F.lit(0)).cast("bigint").alias("deg_at_peel"),
    )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.unionAll(surv).withColumnRenamed("s", "partkey")


# --------------------------------------------------------------------------
# 154. degree_histogram — log2-bucketed co-purchase degree distribution
# --------------------------------------------------------------------------
# bucket = length(bin(deg)) = floor(log2(deg)) + 1, computed on the
# BINARY STRING so it is exact integer arithmetic on both engines —
# a float log2 flips the bucket at exact powers of two on a 1-ulp
# engine difference.
_DEGHIST_ORACLE = f"""
WITH {_EDGES_DUCK}, deg AS (
    SELECT s, CAST(count(*) AS BIGINT) AS c FROM u0 GROUP BY 1
)
SELECT CAST(length(bin(c)) AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(min(c) AS BIGINT) AS min_deg,
       CAST(max(c) AS BIGINT) AS max_deg,
       CAST(sum(c) AS BIGINT) AS sum_deg
FROM deg GROUP BY 1
"""


@register("degree_histogram", oracle=_DEGHIST_ORACLE)
def degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed degree distribution of the co-purchase graph —
    the skew audit that justifies (or indicts) every degree-dependent
    design in the graph tier: a heavy tail here is WHY
    triangle_participation degree-orders its edges and why LSH buckets
    are capped. Buckets come from length(bin(degree)) — exact integer
    arithmetic on both engines; a float log2 would flip buckets at
    powers of two on a 1-ulp difference.

    Scale design: one basket-array edge build, one degree groupBy,
    one ~60-row histogram aggregation. Nothing but (BIGINT, BIGINT)
    tuples and the final bucket rows shuffle."""
    edges = _copurchase_edges(spark, sf_dir)
    und = edges.select(
        F.col("a").alias("s"), F.col("b").alias("d")
    ).unionAll(edges.select(F.col("b").alias("s"), F.col("a").alias("d")))
    deg = und.groupBy("s").agg(F.count("*").cast("bigint").alias("c"))
    return (
        deg.select(
            F.length(F.bin("c")).cast("int").alias("bucket"), "c"
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_parts"),
            F.min("c").cast("bigint").alias("min_deg"),
            F.max("c").cast("bigint").alias("max_deg"),
            F.sum("c").cast("bigint").alias("sum_deg"),
        )
    )
