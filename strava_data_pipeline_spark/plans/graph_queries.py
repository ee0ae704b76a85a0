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

    Degrees are maintained INCREMENTALLY: the peeled nodes' edges are
    known, so round r+1's degrees are round r's minus the edges lost
    to just-peeled neighbors,

        deg_{r+1}(s) = deg_r(s) - |{d in peel_r : (s,d) in u0}|,

    and the subtraction is exact against the ORIGINAL edge list: s
    survived rounds 1..r and d survived rounds 1..r-1 (it peeled in
    round r), so every (s,d) edge of u0 between them is still present
    in u_{r-1} — no earlier round can have removed it. The edge list
    is therefore partitioned by the degree key and persisted ONCE
    (MEMORY_AND_DISK: it spills under memory pressure instead of
    failing) and never pruned. Each round is one cached-scan join
    against the node-sized peel set (edges that touch a peeled d), a
    map-side-combinable count by s, and a node-sized LEFT join for the
    subtraction (coalesce(lost, 0) — most survivors lose nothing; a
    node whose every neighbor peeled reaches 0 and peels next round,
    so zero-degree stragglers still peel instead of vanishing).
    Lineage stays linear because each round's node-sized degree frame
    is persisted (memory) and the edge list resolves to the one
    cached relation; the oracle mirrors the rounds with AS
    MATERIALIZED CTEs.

    Broadcast contract: the per-round peel join auto-broadcasts while
    the peel set fits spark.sql.autoBroadcastJoinThreshold (AQE
    decides from the MEASURED size), preserving the edge partitioning
    and keeping the count-by-s exchange-free. Above the threshold
    Spark falls back to a shuffle join — correctness unchanged. The
    persist policy and both join strategies are pinned by
    tests/test_graph_pack.py::TestKcorePlan. Cache lifecycle is
    caller-owned, as with minhash_lsh_pairs (bench clears per query;
    loops must clearCache after materializing)."""
    from pyspark.storagelevel import StorageLevel

    edges = _copurchase_edges(spark, sf_dir)
    und = edges.select(
        F.col("a").alias("s"), F.col("b").alias("d")
    ).unionAll(edges.select(F.col("b").alias("s"), F.col("a").alias("d")))
    # ONE upfront hash-partition on the degree key, persisted once and
    # never pruned: the initial count and every per-round lost-count
    # run exchange-free on this layout (peel sets broadcast).
    # MEMORY_AND_DISK, not DISK_ONLY (interleaved min-of-3 at sf0.1:
    # 6.4-6.5s vs 7.7-7.8s — every per-round lost-join scans this
    # list); under memory pressure it evicts to disk rather than fails.
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
