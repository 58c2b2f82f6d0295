"""Graph analytics over the customer–supplier interaction graph.

The graph: an undirected bipartite edge (customer, supplier) for every
distinct trading relationship in orders⋈lineitem (supplier node ids
offset by 1e6 to disjoin the key spaces). Iterative algorithms are the
one workload MapReduce-era engines (the reference's lineage) handled by
re-running whole jobs per iteration; Spark holds the loop in one driver
program over cached DataFrames — same pattern as
``operators/clustering.py``'s connected components.

Determinism discipline for the PageRank oracle: a FIXED iteration count
(3) unrolled as chained CTEs in DuckDB (no recursive-CTE aggregation,
which SQL forbids), identical double expression shapes on both sides
(``0.15/n + 0.85*SUM(r/outdeg)``), and round-6 only at the output. The
only cross-engine nondeterminism is summation order inside SUM; rank
magnitudes (~1/n) put that noise near 1e-17, eight orders below the
round-6 boundary scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_map_reduce_spark.plans.registry import register
from hadoop_map_reduce_spark.session import load_table

_SUPP_OFFSET = 1_000_000
_DAMP = 0.85
_ITERS = 3

# Broadcast the per-iteration rank vector into the edges⋈ranks join only
# while its just-counted row count is comfortably inside the broadcast
# budget. Round-12 sizing (ADVICE r11 #2): a hashed relation costs far
# more than the raw 16 key+value bytes per row (UnsafeRow + long-map
# overhead, several x), so the cap budgets ~64 bytes/row — 1M rows ≈
# 64 MB built, matching the session's autoBroadcastJoinThreshold. The
# decision input is the runtime count, so behavior stays scale-adaptive:
# a 100 TB graph with |V| > 1M falls back to the shuffled join shape.
_RANKS_BROADCAST_MAX = 1_000_000

_GRAPH_SQL = f"""
    e0 AS (
        SELECT DISTINCT o_custkey AS c, l_suppkey + {_SUPP_OFFSET} AS s
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    edges AS (
        SELECT c AS src, s AS dst FROM e0
        UNION ALL
        SELECT s AS src, c AS dst FROM e0
    ),
    deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src)
"""


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    e0 = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("c"),
            (F.col("l_suppkey") + _SUPP_OFFSET).alias("s"),
        )
        .distinct()
    )
    return e0.select(F.col("c").alias("src"), F.col("s").alias("dst")).union(
        e0.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )


def _pagerank_oracle() -> str:
    # Unrolled fixed-iteration CTE chain: r0 = 1/n, r{k} from r{k-1}.
    steps = []
    for k in range(1, _ITERS + 1):
        steps.append(f"""
    r{k} AS (
        SELECT e.dst AS node,
               0.15 / (SELECT n FROM nn) + {_DAMP} * SUM(p.r / d.outdeg) AS r
        FROM edges e
        JOIN r{k - 1} p ON e.src = p.node
        JOIN deg d ON e.src = d.src
        GROUP BY e.dst
    )""")
    return f"""
    WITH {_GRAPH_SQL},
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS r FROM nodes),
    {",".join(steps)}
    SELECT node, ROUND(r, 6) AS rank FROM r{_ITERS}
    """


@register(
    "graph_pagerank",
    # Round-11 bench rotation (VERDICT r10 #6): the bounded-round bench
    # representative of the converged-PageRank discipline — same
    # per-round plan (one rank shuffle + checkpoint) at a fixed 3
    # rounds, so its timing tracks the iterative engine path without
    # the convergence-length variance a headline pin cannot carry.
    headline=True,
    tags=("graph", "iterative"),
    description=(
        f"PageRank, {_ITERS} fixed iterations (damping {_DAMP}) on the "
        "undirected customer-supplier graph: the iterative-algorithm "
        "pattern — driver loop over cached edge/degree DataFrames, one "
        "equi-join + one aggregation per iteration — vs an unrolled "
        "CTE-chain oracle."
    ),
    oracle=_pagerank_oracle(),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per iteration: edges⋈ranks on src (both sides hash-partitioned on
    the same key → one exchange for ranks, edges reused from cache), then
    one aggregation keyed dst. Undirected edges mean no dangling mass and
    a stable node set, so no driver-side convergence count is needed —
    the loop is fixed-length and fully lazy until the final collect.

    At 100 TB: edges are the big side — pre-partition them on src once
    (the cache preserves partitioning across iterations) and let ranks
    (n_nodes rows, small) shuffle to them each round; skewed hub nodes
    split via AQE exactly like any hot aggregation key.
    """
    # Round-11 (optimization round, guide §1.2/§5): the previous
    # persist() was unpersisted in a `finally` that ran when this
    # function RETURNED — i.e. before the caller's action executed —
    # so the CacheManager never substituted the cached relation and
    # every iteration re-ran the orders⋈lineitem edge build (measured:
    # 3.87 s median for 3 iterations at sf0.1). An eager
    # ``localCheckpoint`` materializes (edges ⋈ outdeg) exactly once
    # per invocation with no unpersist bookkeeping; the RDD is freed
    # with the DataFrame. 3.87 s -> see OPTIMIZATION_r11.md.
    from pyspark.sql import Window

    edges = _edges(spark, sf_dir)
    # outdeg rides a window count over the SAME src partitioning the
    # union already needs — one exchange of the edge stream, replacing
    # the separate degree aggregation + equi-join (guide §2.4: two
    # operations keyed the same way share one exchange; measured warm
    # 2.1-2.5 s -> 1.1-1.3 s for the ew build at sf0.1).
    ew = edges.withColumn(
        "outdeg", F.count(F.lit(1)).over(Window.partitionBy("src"))
    ).localCheckpoint(eager=True)
    nodes = ew.select(F.col("src").alias("node")).distinct()
    n = nodes.count()
    ranks = nodes.select("node", F.lit(1.0 / n).alias("r"))
    # Round-12 (optimization round, guide §3.1 / VERDICT r11 #1): the
    # rank vector is |V| rows by construction (n is the just-counted
    # value), tiny next to the edge stream — broadcast it into every
    # iteration's join so the checkpointed edge table streams with no
    # per-iteration shuffle OR sort; only the dst aggregation exchanges.
    # Gated on the runtime count (scale-adaptive, see
    # _RANKS_BROADCAST_MAX); above the gate the prior shuffled shape
    # stands unchanged. The rank update sums doubles, so this float
    # variant is ORDER-SENSITIVE: the two join shapes feed the partial
    # aggregates in different row orders, and the sums can differ in
    # the last ulp. Results are stable only up to the round(., 6) margin
    # of the output (a value sitting on a 1e-6 rounding boundary could
    # round differently); the converged variant below is order-free
    # because it runs in exact integer arithmetic.
    small = n <= _RANKS_BROADCAST_MAX
    for _ in range(_ITERS):
        rhs = F.broadcast(ranks) if small else ranks
        ranks = (
            ew.join(rhs, ew.src == rhs.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(
                (
                    F.lit(0.15 / n)
                    + F.lit(_DAMP) * F.sum(F.col("r") / F.col("outdeg"))
                ).alias("r")
            )
            .select(F.col("node"), F.col("r"))
        )
    return ranks.select("node", F.round("r", 6).alias("rank"))


# Total-order key for degree orientation: degree-major, id-minor (the id
# breaks ties, so keys are distinct per node). 2^32 base keeps the two
# components from colliding for any id < 2^32 (TPC-H partkeys at SF 100k
# are still < 2e9) and any degree < 2^31.
_KEY_BASE = 4_294_967_296


def _tri_case_sql() -> str:
    ku = f"du.d * {_KEY_BASE} + e.u"
    kv = f"dv.d * {_KEY_BASE} + e.v"
    return f"""
    SELECT CASE WHEN {ku} < {kv} THEN {ku} ELSE {kv} END AS src_key,
           CASE WHEN {ku} < {kv} THEN {kv} ELSE {ku} END AS dst_key
    FROM edges e
    JOIN deg du ON du.node = e.u
    JOIN deg dv ON dv.node = e.v
    """


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The part co-purchase graph: one distinct undirected edge (u < v)
    per pair of parts appearing in the same order. Shared by the exact
    and DOULION triangle queries (r7 review finding #4: keep the graph
    definition in ONE place so the approx twin can never drift)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    # Round-11 (optimization round, guide §2.3/§2.4): the pair fan-out
    # is grouped, not self-joined — one partial-agg'd collect_set
    # shuffle of (orderkey, partkey) replaces the self-join's TWO
    # lineitem shuffles, and the per-order pair expansion happens
    # map-side between the two exchanges (same distinct-pair output,
    # equality verified vs the join form at sf0.1: exceptAll both ways
    # empty; measured warm 2.5 s -> 1.6 s for the build alone). The
    # within-order basket is bounded (TPC-H: <= 7 lineitems), so the
    # collect_set array can never become a hot-key memory risk; the
    # skew profile of the final distinct is unchanged.
    sets = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("_ps")
    )
    return (
        sets.select(
            F.explode(
                F.expr(
                    "flatten(transform(_ps, (x, i) -> "
                    "filter(transform(_ps, y -> "
                    "IF(x < y, struct(x AS u, y AS v), NULL)), "
                    "p -> p IS NOT NULL)))"
                )
            ).alias("_p")
        )
        .select("_p.u", "_p.v")
        .distinct()
    )


def _oriented_edges(edges: DataFrame) -> DataFrame:
    """Degree-ordered orientation of an (u, v) edge set: every edge as
    (src_key, dst_key) with src the lower (degree, id) endpoint, keys
    packed as degree*2^32 + id. Single source of truth for the
    orientation scheme (exact and approx triangle counting both ride
    on it)."""
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ku = F.col("du") * F.lit(_KEY_BASE) + F.col("u")
    kv = F.col("dv") * F.lit(_KEY_BASE) + F.col("v")
    return (
        edges.join(
            deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u"
        )
        .join(
            deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v"
        )
        .select(
            F.when(ku < kv, ku).otherwise(kv).alias("src_key"),
            F.when(ku < kv, kv).otherwise(ku).alias("dst_key"),
        )
    )


_TRIANGLES_SQL = f"""
    WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
    edges AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    deg AS (
        SELECT node, COUNT(*) AS d FROM (
            SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges)
        GROUP BY node),
    oe AS ({_tri_case_sql()}),
    tri AS (
        SELECT e1.src_key AS ak, e1.dst_key AS bk, e2.dst_key AS ck
        FROM oe e1
        JOIN oe e2 ON e1.src_key = e2.src_key AND e1.dst_key < e2.dst_key
        JOIN oe e3 ON e3.src_key = e1.dst_key AND e3.dst_key = e2.dst_key)
    SELECT k % {_KEY_BASE} AS part_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM (SELECT ak AS k FROM tri
          UNION ALL SELECT bk FROM tri
          UNION ALL SELECT ck FROM tri)
    GROUP BY part_id
"""


@register(
    "graph_triangles",
    tags=("graph", "join"),
    description=(
        "Per-node triangle participation counts on the part co-purchase "
        "graph (edge = two parts appearing in the same order), via "
        "degree-ordered edge orientation: each triangle is found exactly "
        "once as a wedge from its lowest-(degree,id) vertex plus the "
        "closing oriented edge — all equi-joins, no cartesian."
    ),
    oracle=_TRIANGLES_SQL,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-ordered (compact-forward) triangle counting.

    Orienting every edge from its lower to its higher (degree, id) key
    makes the edge set a DAG where each triangle has exactly one vertex
    with two outgoing edges; counting wedges at that vertex and closing
    them with a third equi-join finds each triangle once. The wedge
    fan-out of a node is C(oriented_outdeg, 2), and orientation toward
    the higher-degree endpoint caps oriented outdeg at O(sqrt(m)) — the
    hub-skew bound that makes this the standard distributed triangle
    algorithm at 100 TB (a raw hub of degree 1e6 would otherwise
    generate 5e11 wedges on one key). The closing join shuffles on
    (src_key, dst_key) pairs: uniform by construction.

    The wedge table — by far the largest intermediate (sum of
    C(outdeg, 2), ~34x the edge count on this data) — carries ONLY the
    three orientation keys: the key encodes the node id in its low 32
    bits, so ids are decoded with one ``% 2^32`` after the joins instead
    of widening every wedge row with carried id columns.
    """
    oe = _oriented_edges(_copurchase_edges(spark, sf_dir))
    e1, e2, e3 = oe.alias("e1"), oe.alias("e2"), oe.alias("e3")
    tri = (
        e1.join(
            e2,
            (F.col("e1.src_key") == F.col("e2.src_key"))
            & (F.col("e1.dst_key") < F.col("e2.dst_key")),
        )
        .join(
            e3,
            (F.col("e3.src_key") == F.col("e1.dst_key"))
            & (F.col("e3.dst_key") == F.col("e2.dst_key")),
        )
        .select(
            F.col("e1.src_key").alias("ak"),
            F.col("e1.dst_key").alias("bk"),
            F.col("e2.dst_key").alias("ck"),
        )
    )
    nodes = (
        tri.select(F.col("ak").alias("k"))
        .unionAll(tri.select(F.col("bk").alias("k")))
        .unionAll(tri.select(F.col("ck").alias("k")))
    )
    return nodes.groupBy(
        (F.col("k") % _KEY_BASE).alias("part_id")
    ).agg(F.count(F.lit(1)).alias("n_triangles"))


@register(
    "graph_degree_hist",
    tags=("graph", "aggregation"),
    description=(
        "Degree distribution of the customer-supplier graph: degree → "
        "node count (two exact integer aggregations; the skew report "
        "that decides salting/AQE strategy for everything else run on "
        "this graph)."
    ),
    oracle=f"""
        WITH {_GRAPH_SQL}
        SELECT outdeg AS degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
        FROM deg GROUP BY outdeg
    """,
)
def graph_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _edges(spark, sf_dir)
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("degree"))
        .groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )


# ---------------------------------------------------------------------------
# graph_triangles_approx (round-7, VERDICT r6 #6): DOULION edge-sampled
# triangle estimate with a boolean accuracy contract vs the exact count
# ---------------------------------------------------------------------------
#
# Tsourakakis et al., "DOULION: Counting Triangles in Massive Graphs
# with a Coin" (KDD'09): keep each edge independently with probability
# p, count triangles on the sparsified graph, scale by 1/p^3. Sampling
# here is md5-deterministic (first hex digit of md5('u_v') in 0..7,
# p = 1/2) so BOTH engines materialize the identical sparsified graph —
# the estimate itself is hash-exact cross-engine, and the accuracy
# contract (|est - exact| <= 15% of exact; measured rel. err .068/.012/
# .0007 at sf0.001/0.01/0.1) is emitted as est_ok, pinned TRUE by the
# oracle: an accuracy collapse fails the driver round.

_TRI_SAMPLE_HEX = "('0','1','2','3','4','5','6','7')"  # p = 8/16


def _tri_count_sql(edges_cte: str) -> str:
    """Exact triangle COUNT over an ``edges(u, v)`` CTE via the same
    degree-ordered orientation as ``graph_triangles``."""
    return f"""
        deg_{edges_cte} AS (
            SELECT node, COUNT(*) AS d FROM (
                SELECT u AS node FROM {edges_cte}
                UNION ALL SELECT v FROM {edges_cte})
            GROUP BY node),
        oe_{edges_cte} AS (
            SELECT CASE WHEN du.d * {_KEY_BASE} + e.u
                             < dv.d * {_KEY_BASE} + e.v
                        THEN du.d * {_KEY_BASE} + e.u
                        ELSE dv.d * {_KEY_BASE} + e.v END AS src_key,
                   CASE WHEN du.d * {_KEY_BASE} + e.u
                             < dv.d * {_KEY_BASE} + e.v
                        THEN dv.d * {_KEY_BASE} + e.v
                        ELSE du.d * {_KEY_BASE} + e.u END AS dst_key
            FROM {edges_cte} e
            JOIN deg_{edges_cte} du ON du.node = e.u
            JOIN deg_{edges_cte} dv ON dv.node = e.v),
        tri_{edges_cte} AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n
            FROM oe_{edges_cte} e1
            JOIN oe_{edges_cte} e2
              ON e1.src_key = e2.src_key AND e1.dst_key < e2.dst_key
            JOIN oe_{edges_cte} e3
              ON e3.src_key = e1.dst_key AND e3.dst_key = e2.dst_key)
    """


_TRI_APPROX_SQL = f"""
    WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
    full_e AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    samp_e AS (
        SELECT u, v FROM full_e
        WHERE substr(md5(CAST(u AS VARCHAR) || '_' || CAST(v AS VARCHAR)),
                     1, 1) IN {_TRI_SAMPLE_HEX}),
    {_tri_count_sql("full_e")},
    {_tri_count_sql("samp_e")}
    SELECT (SELECT n FROM tri_full_e) AS n_exact,
           CAST((SELECT n FROM tri_samp_e) * 8 AS BIGINT) AS n_est,
           TRUE AS est_ok
"""


def _spark_tri_count(edges: DataFrame) -> DataFrame:
    """1-row (n BIGINT) exact triangle count of an (u, v) edge
    DataFrame — the shared _oriented_edges orientation, globally
    summed instead of per-node grouped."""
    oe = _oriented_edges(edges)
    e1, e2, e3 = oe.alias("e1"), oe.alias("e2"), oe.alias("e3")
    return (
        e1.join(
            e2,
            (F.col("e1.src_key") == F.col("e2.src_key"))
            & (F.col("e1.dst_key") < F.col("e2.dst_key")),
        )
        .join(
            e3,
            (F.col("e3.src_key") == F.col("e1.dst_key"))
            & (F.col("e3.dst_key") == F.col("e2.dst_key")),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


@register(
    "graph_triangles_approx",
    tags=("graph", "join", "sketch"),
    description=(
        "DOULION approximate triangle count: md5-deterministic edge "
        "sampling at p=1/2, exact count on the sparsified graph, 1/p^3 "
        "scale-up — n_est is hash-exact cross-engine (the sample is "
        "deterministic), and est_ok pins |n_est - n_exact| <= 15% of "
        "n_exact (oracle pins TRUE; measured rel. err 6.8%/1.2%/0.07% "
        "at sf0.001/0.01/0.1). The exact count rides along as the "
        "verify twin."
    ),
    oracle=_TRI_APPROX_SQL,
)
def graph_triangles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Why this exists at 100 TB: the wedge table is the triangle
    pipeline's dominant cost (sum of C(outdeg,2); 41 M wedges for this
    graph at sf0.1), and p-sampling cuts it ~1/p^2 BEFORE the join —
    the sampled side builds its wedges from the sparsified oriented
    edge set, not by filtering full wedges. The exact twin is computed
    here only to close the accuracy contract; production runs the
    sampled side alone (estimate variance falls as triangle count
    grows — DOULION thm 2 — so bigger data means a TIGHTER bound).
    The edge build is shared by both sides via one cached slot."""
    from hadoop_map_reduce_spark.operators.caching import cache_one_slot

    edges = cache_one_slot(
        _copurchase_edges(spark, sf_dir), "graph_tri_approx_edges"
    )
    kept = F.substring(
        F.md5(
            F.concat(
                F.col("u").cast("string"),
                F.lit("_"),
                F.col("v").cast("string"),
            )
        ),
        1,
        1,
    ).isin("0", "1", "2", "3", "4", "5", "6", "7")
    n_exact = _spark_tri_count(edges).select(F.col("n").alias("n_exact"))
    n_samp = _spark_tri_count(edges.filter(kept)).select(
        F.col("n").alias("_n_samp")
    )
    est = (F.col("_n_samp") * 8).cast("long")
    return (
        n_exact.crossJoin(F.broadcast(n_samp))
        .select(
            "n_exact",
            est.alias("n_est"),
            (
                F.abs(est - F.col("n_exact")) * 100
                <= F.lit(15) * F.col("n_exact")
            ).alias("est_ok"),
        )
    )


# ---------------------------------------------------------------------------
# graph_triangles_hybrid (round-8, VERDICT r7 #5): hub-split exact/sampled
# triangle count — exact below a pivot-degree threshold, DOULION-style
# sampling above it, reconciled in one output
# ---------------------------------------------------------------------------
#
# The wedge table costs sum of C(outdeg, 2) over pivot nodes; the hub
# split spends exactness where wedges are cheap (outdeg <= T pivots) and
# a p-sampled estimate where they explode (hub pivots). Each hub
# triangle survives iff BOTH its pivot out-edges are sampled (p^2), so
# the unbiased scale-up is 1/p^2 = 16 at p = 1/4 — the closing edge is
# matched against the FULL oriented set and needs no correction.
# Sampling is md5-deterministic on the oriented (src_key, dst_key) pair
# (first hex digit in 0..3), so both engines materialize the identical
# sampled wedge set: the estimate itself is hash-exact cross-engine and
# the accuracy contract lives in tests/test_round8_queries.py (measured
# rel. err vs graph_triangles' exact count at sf0.001/0.01/0.1).
#
# Honesty note (BASELINE.md r8): THIS graph is dense and near-uniform
# (oriented outdeg p50 ~65, max ~97 at every SF), so ~98% of wedge mass
# is hub-side at T=32 and the split behaves like DOULION-with-an-
# exact-island — the wedge stage shrinks ~3.8x (41.1 M -> ~10.8 M at
# sf0.1). On a skewed web/social graph the exact island covers most
# PIVOTS while the sampled branch tames the few true hubs — that is the
# 100-TB regime the operator is built for.

_TRI_HUB_T = 32
_TRI_HUB_HEX = "('0','1','2','3')"  # p = 4/16 per heavy out-edge

_TRI_HYBRID_SQL = f"""
    WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
    edges AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    deg AS (
        SELECT node, COUNT(*) AS d FROM (
            SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
        GROUP BY node),
    oe AS ({_tri_case_sql()}),
    od AS (SELECT src_key, COUNT(*) AS outdeg FROM oe GROUP BY src_key),
    light AS (
        SELECT oe.src_key, oe.dst_key FROM oe
        JOIN od ON od.src_key = oe.src_key
        WHERE od.outdeg <= {_TRI_HUB_T}),
    heavy AS (
        SELECT oe.src_key, oe.dst_key FROM oe
        JOIN od ON od.src_key = oe.src_key
        WHERE od.outdeg > {_TRI_HUB_T}
          AND substr(md5(CAST(oe.src_key AS VARCHAR) || '_'
                         || CAST(oe.dst_key AS VARCHAR)), 1, 1)
              IN {_TRI_HUB_HEX}),
    nl AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n
        FROM light e1
        JOIN light e2
          ON e1.src_key = e2.src_key AND e1.dst_key < e2.dst_key
        JOIN oe e3
          ON e3.src_key = e1.dst_key AND e3.dst_key = e2.dst_key),
    nh AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n
        FROM heavy e1
        JOIN heavy e2
          ON e1.src_key = e2.src_key AND e1.dst_key < e2.dst_key
        JOIN oe e3
          ON e3.src_key = e1.dst_key AND e3.dst_key = e2.dst_key)
    SELECT (SELECT n FROM nl) AS n_light,
           CAST((SELECT n FROM nh) * 16 AS BIGINT) AS n_heavy_est,
           CAST((SELECT n FROM nl) + (SELECT n FROM nh) * 16 AS BIGINT)
               AS n_total_est
"""


@register(
    "graph_triangles_hybrid",
    headline=True,
    tags=("graph", "join", "sketch"),
    description=(
        "Hub-split triangle count: pivots with oriented outdeg <= 32 "
        "counted exactly, hub pivots estimated by md5-deterministic "
        "p=1/4 out-edge sampling scaled 1/p^2 (closing edges unsampled), "
        "reconciled as n_light + n_heavy_est = n_total_est — the "
        "standard cost control for the wedge stage, hash-exact "
        "cross-engine because the sample is deterministic."
    ),
    oracle=_TRI_HYBRID_SQL,
)
def graph_triangles_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wedge-stage cost: sum over light pivots of C(outdeg, 2) plus
    p^2 * (sum over hub pivots) — ~3.2 M of 41.1 M wedges at sf0.1
    (x10 audit in BASELINE.md r8 beats exact graph_triangles' ratio,
    the VERDICT r7 #5 done-bar).

    Plan shape: the branch split is a WINDOW count over the pivot key
    (outdeg tags every edge in the same shuffle that co-partitions the
    wedge self-join — no separate degree aggregation, no semi-joins),
    both branches flow through ONE wedge join + ONE closing join, and
    the light/hub counts come out of a single conditional aggregation
    (a wedge's two edges share the pivot, so e1's tag classifies it).
    The oriented edge set feeds the wedge side and the closing side;
    it is cached and eagerly materialized because those two first
    readers are CONCURRENT stages of one job — Spark's lazy per-
    partition cache fill has no cross-stage dedup, so without the
    barrier each would recompute the dominant edge build."""
    from hadoop_map_reduce_spark.operators.caching import cache_one_slot
    from pyspark.sql import Window

    oe = cache_one_slot(
        _oriented_edges(_copurchase_edges(spark, sf_dir)),
        "graph_tri_hybrid_oe",
    )
    oe.count()  # materialization barrier (see docstring)
    outdeg = F.count(F.lit(1)).over(Window.partitionBy("src_key"))
    sampled = F.substring(
        F.md5(
            F.concat(
                F.col("src_key").cast("string"),
                F.lit("_"),
                F.col("dst_key").cast("string"),
            )
        ),
        1,
        1,
    ).isin("0", "1", "2", "3")
    wedge_edges = (
        oe.withColumn("is_heavy", outdeg > _TRI_HUB_T)
        .filter(~F.col("is_heavy") | sampled)
        .select("src_key", "dst_key", "is_heavy")
    )
    e1, e2 = wedge_edges.alias("e1"), wedge_edges.alias("e2")
    e3 = oe.alias("e3")
    closed = e1.join(
        e2,
        (F.col("e1.src_key") == F.col("e2.src_key"))
        & (F.col("e1.dst_key") < F.col("e2.dst_key")),
    ).join(
        e3,
        (F.col("e3.src_key") == F.col("e1.dst_key"))
        & (F.col("e3.dst_key") == F.col("e2.dst_key")),
    )
    agg = closed.agg(
        F.sum(
            F.when(~F.col("e1.is_heavy"), F.lit(1)).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("n_light"),
        F.sum(F.when(F.col("e1.is_heavy"), F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("_n_heavy"),
    )
    est = (F.col("_n_heavy") * 16).cast("long")
    return agg.select(
        F.coalesce(F.col("n_light"), F.lit(0).cast("long")).alias(
            "n_light"
        ),
        F.coalesce(est, F.lit(0).cast("long")).alias("n_heavy_est"),
        F.coalesce(F.col("n_light") + est, F.lit(0).cast("long")).alias(
            "n_total_est"
        ),
    )


# ---------------------------------------------------------------------------
# graph_cc_bounded (round-8): connected components by hash-min label
# propagation, unrolled to a fixed round budget
# ---------------------------------------------------------------------------
#
# The adjacency graph here is deliberately SPARSER than the co-purchase
# clique expansion: edges connect consecutive line numbers of one order
# (a path per order), orders chain together only through shared parts —
# long-diameter components that make label propagation non-trivial.
# Eight rounds of lbl(v) <- min(lbl(v), min over neighbors) are unrolled
# into one deterministic plan; the census reports how many labels still
# moved in round 8, so partial convergence is visible, never hidden.
# At 100 TB the log-round algorithms (large-star/small-star, Kiveris et
# al. "Connected Components in MapReduce and Beyond", SoCC'14) replace
# the fixed unroll; the per-round shuffle shape (adjacency equi-join +
# min-aggregate, both keyed by node) is identical.

_CC_ROUNDS = 8


def _cc_oracle() -> str:
    rounds = []
    for k in range(1, _CC_ROUNDS + 1):
        rounds.append(
            f"l{k} AS (SELECT a.u AS node, MIN(l{k-1}.lbl) AS lbl "
            f"FROM adj a JOIN l{k-1} ON l{k-1}.node = a.v GROUP BY a.u)"
        )
    steps = ",\n        ".join(rounds)
    return f"""
        WITH e AS (
            SELECT a.l_partkey AS u, b.l_partkey AS v
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey
             AND b.l_linenumber = a.l_linenumber + 1
             AND a.l_partkey <> b.l_partkey),
        nodes AS (SELECT DISTINCT l_partkey AS node FROM lineitem),
        adj AS (
            SELECT u, v FROM e
            UNION ALL SELECT v, u FROM e
            UNION ALL SELECT node, node FROM nodes),
        l0 AS (SELECT node, node AS lbl FROM nodes),
        {steps}
        SELECT CAST(COUNT(DISTINCT l{_CC_ROUNDS}.lbl) AS BIGINT)
                   AS n_components,
               CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(MAX(csize) AS BIGINT) AS largest_component,
               CAST(SUM(CASE WHEN l{_CC_ROUNDS}.lbl <> l{_CC_ROUNDS - 1}.lbl
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_changed_last_round
        FROM l{_CC_ROUNDS}
        JOIN l{_CC_ROUNDS - 1}
          ON l{_CC_ROUNDS - 1}.node = l{_CC_ROUNDS}.node
        JOIN (SELECT lbl, COUNT(*) AS csize FROM l{_CC_ROUNDS} GROUP BY lbl)
             s ON s.lbl = l{_CC_ROUNDS}.lbl
    """


@register(
    "graph_cc_bounded",
    tags=("graph", "join", "aggregation"),
    description=(
        "Connected components census of the consecutive-lineitem part "
        "graph via 8 unrolled hash-min label-propagation rounds "
        "(component count, node count, largest component, labels still "
        "moving in the final round — 0 means converged; non-zero is "
        "reported, never hidden)."
    ),
    oracle=_cc_oracle(),
)
def graph_cc_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each round is one adjacency equi-join plus one min-aggregate,
    both shuffling on the node key, so the unrolled plan is 2x8 narrow
    integer exchanges; the adjacency subtree is byte-identical at every
    level and Catalyst's exchange reuse materializes it once. Labels
    are part keys (8 bytes) — text never enters the loop."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey"
    )
    a, b = li.alias("a"), li.alias("b")
    e = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("b.l_linenumber") == F.col("a.l_linenumber") + 1)
        & (F.col("a.l_partkey") != F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
    )
    nodes = li.select(F.col("l_partkey").alias("node")).distinct()
    adj = (
        e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .unionAll(
            nodes.select(
                F.col("node").alias("u"), F.col("node").alias("v")
            )
        )
    )
    lbl = nodes.select("node", F.col("node").alias("lbl"))
    prev = None
    for _ in range(_CC_ROUNDS):
        prev = lbl
        lbl = (
            adj.join(lbl, adj.v == lbl.node)
            .groupBy(adj.u.alias("node"))
            .agg(F.min("lbl").alias("lbl"))
        )
    final = lbl.alias("f")
    penult = prev.select(
        F.col("node").alias("p_node"), F.col("lbl").alias("p_lbl")
    )
    sizes = final.groupBy("lbl").agg(F.count(F.lit(1)).alias("csize"))
    return (
        final.join(penult, F.col("f.node") == F.col("p_node"))
        .join(sizes, "lbl")
        .agg(
            F.countDistinct("lbl").cast("long").alias("n_components"),
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.max("csize").cast("long").alias("largest_component"),
            F.sum(
                F.when(F.col("lbl") != F.col("p_lbl"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_changed_last_round"),
        )
    )


# ---------------------------------------------------------------------------
# graph_kcore_bounded (round-8): k-core peeling, unrolled round budget
# ---------------------------------------------------------------------------

_KCORE_ROUNDS = 8

# Broadcast the kept-node set into the peeling semi-joins only while its
# just-measured count is comfortably inside the session broadcast budget.
# Round-12 re-sizing (ADVICE r11 #2): the old 4M cap budgeted raw key
# bytes (~8/row), but a LongHashedRelation costs several times that in
# UnsafeRow + map overhead — 1M longs ≈ 64 MB built, matching the
# session's autoBroadcastJoinThreshold. Past the cap the plain semi-join
# shape stands and AQE picks the strategy — scale-adaptive, not a
# local[32] constant (the decision input is the runtime count).
_KCORE_BROADCAST_MAX = 1_000_000

# Tail-round task-count control (round-12, guide §2.2): the kept set
# collapses after the first rounds (sf0.1: 20k -> 10118 -> 71 -> 0), so
# later rounds would otherwise run full-width jobs over near-empty
# checkpointed edge tables. Before each round's checkpoint the edge
# stream is coalesced to ceil(prev_edge_count / _KCORE_COALESCE_ROWS)
# partitions — but ONLY when that is below the session's default
# parallelism, so an at-scale peel (edge count >> cores) keeps its
# shuffle layout untouched and the coalesce can never reduce a big
# round's parallelism. 65536 16-byte edge rows ≈ 1 MB per partition.
_KCORE_COALESCE_ROWS = 65_536


def _kcore_oracle() -> str:
    rounds = []
    for i in range(1, _KCORE_ROUNDS + 1):
        rounds.append(f"""
        d{i} AS MATERIALIZED (SELECT node, COUNT(*) AS d FROM (
                     SELECT u AS node FROM e{i-1}
                     UNION ALL SELECT v FROM e{i-1}) GROUP BY node),
        k{i} AS MATERIALIZED (SELECT node FROM d{i}, kk WHERE d >= kk.k),
        e{i} AS MATERIALIZED (SELECT e.u, e.v FROM e{i-1} e
                 JOIN k{i} a ON a.node = e.u
                 JOIN k{i} b ON b.node = e.v)""")
    steps = ",".join(rounds)
    return f"""
        WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
        e0 AS MATERIALIZED (
            SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM li a JOIN li b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey),
        v0 AS (SELECT DISTINCT node FROM (
                   SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)),
        kk AS MATERIALIZED (SELECT CAST(2 * (SELECT COUNT(*) FROM e0)
                           // (SELECT COUNT(*) FROM v0) AS BIGINT) AS k),
        {steps}
        SELECT (SELECT k FROM kk) AS k,
               CAST((SELECT COUNT(*) FROM k{_KCORE_ROUNDS}) AS BIGINT)
                   AS n_core_nodes,
               CAST((SELECT COUNT(*) FROM e{_KCORE_ROUNDS}) AS BIGINT)
                   AS n_core_edges,
               CAST((SELECT COUNT(*) FROM k{_KCORE_ROUNDS - 1})
                    - (SELECT COUNT(*) FROM k{_KCORE_ROUNDS}) AS BIGINT)
                   AS n_removed_last_round
    """


@register(
    "graph_kcore_bounded",
    headline=True,
    tags=("graph", "join", "aggregation"),
    description=(
        "k-core decomposition census (MATERIALIZED oracle CTEs — an "
        "inlined 8-round unroll re-expands exponentially in any "
        "engine) with k = floor(average degree) of "
        "the co-purchase graph (self-scaling across SFs): 8 unrolled "
        "peeling rounds (drop nodes with degree < k, drop their edges, "
        "repeat); reports core size, core edges, and nodes removed in "
        "the final round (0 = converged — partial convergence is "
        "reported, never hidden)."
    ),
    oracle=_kcore_oracle(),
)
def graph_kcore_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each peeling round is one degree aggregate plus two semi-joins,
    all keyed on node ids — the same narrow-integer shuffle shape as
    graph_cc_bounded. Unlike CC (whose per-round tree references the
    previous labels ONCE, growing linearly), a peeling round references
    the previous edge set through the degree aggregate AND both
    semi-join sides — unrolled naively the logical plan grows ~5^rounds
    and analysis OOMs the driver. Each round therefore ends in an eager
    ``localCheckpoint``: the materialized edge list (shrinking, ≤ the
    initial edge count of 16-byte rows) becomes the next round's leaf,
    keeping plan size constant — the iterative-refinement twin of the
    pagerank persist pattern. The threshold is a 1-row broadcast
    crossed into every round's filter.

    Round-11 (optimization round, guide §2.4/§1.2):

    * ONE edge build per invocation — ``e`` is checkpointed FIRST and
      the node set / threshold derive from the checkpointed leaf
      (previously the kk job and the e-checkpoint job each re-ran the
      lineitem self-join + distinct).
    * the kept set is checkpointed per round (it is the small side of
      both semi-joins AND the convergence scalar), so the degree
      aggregate runs once per round, not once per consumer.
    * early FIXPOINT exit inside the fixed budget: kept sets shrink
      monotonically (e_i ⊆ e_{i-1} ⇒ degrees non-increasing ⇒
      keep_{i+1} ⊆ keep_i), so an unchanged kept-set COUNT is an
      unchanged SET; an unchanged kept set filters e to itself, making
      every remaining round the identity — the round-8 census equals
      the fixpoint census EXACTLY (same rule the graph_kcore_converged
      oracle re-derives in SQL). Detection reads the count of the
      already-materialized kept set: bounded scalar metadata, the
      sanctioned collect class.
    * the semi-join build side is broadcast explicitly when the
      just-measured kept count is broadcast-safe (the planner sees an
      RDD leaf with no stats; the driver KNOWS the row count) — at
      larger-than-broadcast node sets the plain semi join shape is
      kept and AQE decides.
    """
    from hadoop_map_reduce_spark.checkpoint import local_checkpoint

    # Round-12: every per-round checkpoint is taken through the tracked
    # local_checkpoint helper and released as soon as its consumer is
    # materialized (ADVICE r11 #3 — the bare localCheckpoint blocks were
    # only freed at driver GC, accumulating across bench invocations in
    # one session); this query fully materializes before returning, so
    # nothing stays persisted after it.
    e, rel_e = local_checkpoint(_copurchase_edges(spark, sf_dir))
    n_edges0 = e.count()
    e_cnt = n_edges0  # |e_i|, tracked per round (also the final census)
    par = spark.sparkContext.defaultParallelism
    # The threshold k = floor(2|E|/|V|) derives from round 1's degree
    # table (its row count IS |V|: every node of an edge list has
    # degree >= 1) — the separate node-distinct and threshold jobs of
    # the previous shape are gone, and the division is EXACT integer
    # arithmetic, the same `2*e // v` the DuckDB oracle computes (the
    # old floor(double) agreed only up to double rounding).
    k_val: int | None = None
    n_nodes: int | None = None
    prev_cnt: int | None = None  # |keep_{i-1}|
    keep_cnt: int | None = None  # |keep_i|
    for _ in range(_KCORE_ROUNDS):
        deg = (
            e.select(F.col("u").alias("node"))
            .unionAll(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        if k_val is None:
            # Round 1 only: |V| comes from the materialized degree
            # table; later rounds checkpoint just the (smaller) kept
            # set — one eager job per round, not two.
            deg, rel_keep = local_checkpoint(deg)
            n_nodes = deg.count()
            k_val = (2 * n_edges0) // n_nodes if n_nodes else None
            if k_val is None:
                keep_cnt = 0
                prev_cnt = 0
                rel_keep()
                break
            keep = deg.filter(F.col("d") >= F.lit(k_val)).select("node")
        else:
            keep, rel_keep = local_checkpoint(
                deg.filter(F.col("d") >= F.lit(k_val)).select("node")
            )
        cnt = keep.count()
        if keep_cnt is not None and cnt == keep_cnt:
            # Fixpoint: this round's kept set equals the previous
            # round's, so e is already filtered to it and every
            # remaining round reproduces (keep, e) unchanged —
            # including round _KCORE_ROUNDS, whose census is therefore
            # this one with n_removed_last_round = 0.
            prev_cnt = cnt
            rel_keep()
            break
        prev_cnt, keep_cnt = keep_cnt, cnt
        kb = F.broadcast(keep) if cnt <= _KCORE_BROADCAST_MAX else keep
        pruned = e.join(
            kb.select(F.col("node").alias("u")), "u", "left_semi"
        ).join(kb.select(F.col("node").alias("v")), "v", "left_semi")
        # Tail-round coalesce (guide §2.2): |e_i| <= |e_{i-1}| = e_cnt,
        # so sizing by the previous count can only over-provision; the
        # guard keeps at-scale rounds (edge count >> cores) untouched.
        p = (e_cnt + _KCORE_COALESCE_ROWS - 1) // _KCORE_COALESCE_ROWS
        if 0 < p < par:
            pruned = pruned.coalesce(p)
        new_e, rel_new = local_checkpoint(pruned)
        rel_e()
        rel_keep()
        e, rel_e = new_e, rel_new
        e_cnt = e.count()
    n_prev = prev_cnt if prev_cnt is not None else n_nodes
    rel_e()
    return spark.createDataFrame(
        [(k_val, keep_cnt, e_cnt, n_prev - keep_cnt)],
        "k long, n_core_nodes long, n_core_edges long, "
        "n_removed_last_round long",
    )


# ---------------------------------------------------------------------------
# graph_kcore_converged (round-11, VERDICT r10 #4): the
# graph_pagerank_converged discipline applied to k-core peeling — run to
# the kept-set FIXPOINT, report the full per-round trajectory, raise on
# non-convergence. Stronger contract than the bounded twin: the oracle
# pins (round, n_kept, n_edges) for EVERY peeling round up to the
# detected fixpoint, so an engine that converges at the wrong round or
# through the wrong intermediate states fails loudly, not just one that
# lands on the wrong final census.
# ---------------------------------------------------------------------------

_KCORE_MAX_ROUNDS = 12  # measured fixpoints at 3-4 (sf0.001/0.01); 3x margin


def _kcore_converged_oracle() -> str:
    """Unrolled peeling to the budget depth (identity past the
    fixpoint, since an unchanged kept set reproduces itself), then the
    convergence round recovered IN SQL as the smallest round whose
    kept-count equals its predecessor's — the same detection rule the
    engine runs, so depth bookkeeping can never silently diverge."""
    rounds = []
    for i in range(1, _KCORE_MAX_ROUNDS + 1):
        rounds.append(f"""
        d{i} AS MATERIALIZED (SELECT node, COUNT(*) AS d FROM (
                     SELECT u AS node FROM e{i-1}
                     UNION ALL SELECT v FROM e{i-1}) GROUP BY node),
        k{i} AS MATERIALIZED (SELECT node FROM d{i}, kk WHERE d >= kk.k),
        e{i} AS MATERIALIZED (SELECT e.u, e.v FROM e{i-1} e
                 JOIN k{i} a ON a.node = e.u
                 JOIN k{i} b ON b.node = e.v)""")
    steps = ",".join(rounds)
    count_rows = ", ".join(
        ["(0, (SELECT COUNT(*) FROM v0), (SELECT COUNT(*) FROM e0))"]
        + [
            f"({i}, (SELECT COUNT(*) FROM k{i}),"
            f" (SELECT COUNT(*) FROM e{i}))"
            for i in range(1, _KCORE_MAX_ROUNDS + 1)
        ]
    )
    return f"""
        WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
        e0 AS MATERIALIZED (
            SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM li a JOIN li b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey),
        v0 AS (SELECT DISTINCT node FROM (
                   SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)),
        kk AS MATERIALIZED (SELECT CAST(2 * (SELECT COUNT(*) FROM e0)
                           // (SELECT COUNT(*) FROM v0) AS BIGINT) AS k),
        {steps},
        counts(i, c, ec) AS (VALUES {count_rows}),
        conv AS (SELECT MIN(a.i) AS n_rounds FROM counts a
                 JOIN counts b ON b.i = a.i - 1 AND b.c = a.c)
        SELECT (SELECT k FROM kk) AS k,
               CAST(i AS BIGINT) AS round,
               CAST(c AS BIGINT) AS n_kept,
               CAST(ec AS BIGINT) AS n_edges
        FROM counts
        WHERE i >= 1 AND i <= (SELECT n_rounds FROM conv)
    """


@register(
    "graph_kcore_converged",
    tags=("graph", "join", "aggregation", "iterative"),
    description=(
        "k-core peeling run TO CONVERGENCE (k = floor(average degree), "
        "self-scaling): rounds peel until the kept-node set is a "
        "fixpoint (kept sets shrink monotonically, so an unchanged "
        "COUNT is an unchanged SET — exact detection, no tolerance), "
        "RuntimeError past 12 rounds; emits the full per-round "
        "trajectory (round, n_kept, n_edges) up to the fixpoint round, "
        "which the oracle recomputes from the same unrolled recurrence "
        "with the same in-SQL convergence rule."
    ),
    oracle=_kcore_converged_oracle(),
)
def graph_kcore_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERDICT r10 #4: the convergence discipline of
    graph_pagerank_converged applied back to the k-core peel — an
    unconverged peel now raises instead of silently reporting the
    budget-round state as "the k-core". Per-round plan handling is the
    bounded twin's (eager localCheckpoint per round keeps the
    otherwise ~5^rounds logical plan constant-size; threshold rides as
    a 1-row broadcast); the per-round kept/edge counts the detection
    already needs ARE the result rows, assembled driver-side (≤ budget
    rows — bounded metadata, the sanctioned collect class). At 100 TB:
    round count is degree-distribution-bounded (measured 3-4 here),
    each round shuffles narrow integer pairs only, and detection adds
    one count action per round — the same scalar the peel's own
    progress logging would read.

    Monotonicity argument for exact detection: e_i ⊆ e_{i-1} ⇒ every
    degree is non-increasing ⇒ keep_{i+1} ⊆ keep_i; equal COUNTS of
    nested finite sets force equal sets, and an unchanged kept set
    filters e to itself — a true fixpoint, not an oscillation.
    """
    # Round-11 (optimization round): same single-edge-build +
    # checkpointed-keep restructure as graph_kcore_bounded — e is
    # checkpointed FIRST (nodes/threshold derive from the leaf, so the
    # lineitem self-join runs once, not three times), the kept set is
    # checkpointed before counting (previously keep.count() re-ran the
    # degree aggregate the e-prune job had just computed), and the
    # semi-join build side is broadcast while the just-measured kept
    # count is broadcast-safe. Trajectory values are unchanged: at the
    # fixpoint round e_i == e_{i-1}, so the recorded edge count is the
    # previous round's materialized count — no extra prune needed.
    from hadoop_map_reduce_spark.checkpoint import local_checkpoint

    # Round-12: tracked checkpoints with per-round release + tail-round
    # coalesce, exactly as graph_kcore_bounded (the trajectory values
    # are untouched — release/coalesce only manage block storage and
    # task counts of already-materialized leaves).
    e, rel_e = local_checkpoint(_copurchase_edges(spark, sf_dir))
    e_cnt = e.count()
    par = spark.sparkContext.defaultParallelism
    # Threshold from round 1's degree table, exact integer division —
    # see graph_kcore_bounded (same round-11 restructure).
    k_val: int | None = None
    prev_kept: int | None = None
    trajectory: list[tuple[int, int, int]] = []
    for i in range(1, _KCORE_MAX_ROUNDS + 1):
        deg = (
            e.select(F.col("u").alias("node"))
            .unionAll(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        if k_val is None:
            deg, rel_keep = local_checkpoint(deg)
            prev_kept = deg.count()  # |V|: round 0 keeps every node
            k_val = (2 * e_cnt) // prev_kept
            keep = deg.filter(F.col("d") >= F.lit(k_val)).select("node")
        else:
            keep, rel_keep = local_checkpoint(
                deg.filter(F.col("d") >= F.lit(k_val)).select("node")
            )
        kept = keep.count()
        if kept == prev_kept:
            # Fixpoint: the kept set equals last round's, e is already
            # filtered to it (e_i == e_{i-1}), so this round's edge
            # count is the count already materialized.
            trajectory.append((i, kept, e_cnt))
            rel_keep()
            rel_e()
            return spark.createDataFrame(
                [(k_val, r, n, m) for r, n, m in trajectory],
                "k long, round long, n_kept long, n_edges long",
            )
        kb = F.broadcast(keep) if kept <= _KCORE_BROADCAST_MAX else keep
        pruned = e.join(
            kb.select(F.col("node").alias("u")), "u", "left_semi"
        ).join(kb.select(F.col("node").alias("v")), "v", "left_semi")
        p = (e_cnt + _KCORE_COALESCE_ROWS - 1) // _KCORE_COALESCE_ROWS
        if 0 < p < par:
            pruned = pruned.coalesce(p)
        new_e, rel_new = local_checkpoint(pruned)
        rel_e()
        rel_keep()
        e, rel_e = new_e, rel_new
        e_cnt = e.count()
        trajectory.append((i, kept, e_cnt))
        prev_kept = kept
    rel_e()
    raise RuntimeError(
        f"graph_kcore_converged did not reach its kept-set fixpoint in "
        f"{_KCORE_MAX_ROUNDS} rounds; raise _KCORE_MAX_ROUNDS (oracle "
        f"unroll depth must match)"
    )


# ---------------------------------------------------------------------------
# graph_cc_loground (round-9): log-round connected components
# (large-star/small-star) run to CONVERGENCE — the 100-TB path the
# graph_cc_bounded docstring cites (Kiveris et al., SoCC'14)
# ---------------------------------------------------------------------------
#
# The fixture graph is built to have a LONG diameter — the regime where
# the bounded hash-min unroll honestly cannot converge: orders sorted by
# (o_orderpriority, o_orderkey), an edge between rank-consecutive orders
# of the same priority. Five disjoint paths of ~n/5 nodes each: diameter
# ~3,000 at sf0.01 (hash-min would need ~3,000 rounds; the alternating
# star operations converge in ~13). Because the construction chains each
# priority class into one path, the GROUND-TRUTH labels are exactly
# "min o_orderkey of the priority class" — which gives the oracle an
# exact non-recursive form; the Spark side never uses that fact (it runs
# the generic operator on the edge list alone), so the oracle verifies
# the converged fixpoint label of every node via label_sum = Σ c·m.

_CC_LOGROUND_SQL = """
    WITH p AS (
        SELECT o_orderpriority, COUNT(*) AS c, MIN(o_orderkey) AS m
        FROM orders GROUP BY o_orderpriority)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_components,
           CAST(SUM(c) AS BIGINT) AS n_nodes,
           CAST(MAX(c) AS BIGINT) AS largest_component,
           CAST(SUM(c * m) AS BIGINT) AS label_sum
    FROM p
"""


@register(
    "graph_cc_loground",
    tags=("graph", "join", "aggregation"),
    description=(
        "Connected-components census of a long-diameter path fixture "
        "(rank-consecutive orders within each priority class) via "
        "alternating large-star/small-star run to convergence — "
        "O(log n) rounds where hash-min label propagation needs "
        "O(diameter); label_sum verifies every node's converged label "
        "against the per-class ground truth."
    ),
    oracle=_CC_LOGROUND_SQL,
)
def graph_cc_loground(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge construction uses the repo's own distributed ranking
    operator (no skewed 5-partition window): global rank over
    (priority, orderkey) via range-partition + broadcast prefix-sum
    offsets, then a rank+1 self-equi-join within the priority emits the
    path edges. The component loop is
    :func:`~hadoop_map_reduce_spark.operators.clustering.
    connected_components_loground` — per round two grouped mins + two
    equi-joins on 8-byte ids, eager localCheckpoint keeping the plan
    constant-size, convergence detected from a 1-row checksum (raises
    rather than returning a partial clustering). Converged by
    construction: there is no n_changed_last_round column because a
    returned result IS the fixpoint."""
    from hadoop_map_reduce_spark.operators.clustering import (
        connected_components_loground,
    )
    from hadoop_map_reduce_spark.operators.ranking import with_global_rank

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    ranked = with_global_rank(
        orders,
        order=[F.col("o_orderpriority"), F.col("o_orderkey")],
        out="_r",
    )
    a, b = ranked.alias("a"), ranked.alias("b")
    edges = a.join(
        b,
        (F.col("b._r") == F.col("a._r") + 1)
        & (F.col("a.o_orderpriority") == F.col("b.o_orderpriority")),
    ).select(
        F.col("a.o_orderkey").alias("id_a"),
        F.col("b.o_orderkey").alias("id_b"),
    )
    nodes = orders.select(F.col("o_orderkey").alias("node"))
    labels, _rounds = connected_components_loground(edges, nodes=nodes)
    sizes = labels.groupBy("component").agg(
        F.count(F.lit(1)).alias("_c")
    )
    return sizes.agg(
        F.count(F.lit(1)).cast("long").alias("n_components"),
        F.sum("_c").cast("long").alias("n_nodes"),
        F.max("_c").cast("long").alias("largest_component"),
        F.sum(F.col("component") * F.col("_c"))
        .cast("long")
        .alias("label_sum"),
    )


# ---------------------------------------------------------------------------
# PageRank to convergence (round-10, VERDICT r9 #5): the convergence +
# eager-checkpoint discipline connected_components_loground proved,
# applied back to PageRank — in EXACT integer arithmetic so the
# fixpoint itself is cross-engine hash-pinnable.
# ---------------------------------------------------------------------------
#
# Exactness design: floating-point PageRank never reaches a bit-stable
# state (summation order wobbles the last ulp forever), and integer
# FLOOR dynamics started from the uniform vector can enter a limit
# cycle (measured on this graph: delta oscillates at ~6.5e3 micro-units
# and never hits zero). Both problems vanish with the Kleene
# least-fixpoint iteration: start from ZERO and iterate
#
#     r'(d) = (15 * (SCALE div n)) div 100
#             + (85 * SUM over in-edges s->d of (r(s) div outdeg(s))) div 100
#
# The map is monotone in r and floor keeps it integer-valued, so from
# r0 = 0 the sequence is pointwise non-decreasing and bounded above by
# the real-arithmetic PageRank scaled by SCALE — a monotone bounded
# integer sequence MUST reach an exact fixpoint in finitely many
# rounds (measured: 79/77/83 rounds at sf0.001/0.01/0.1 with
# SCALE=1e9). Convergence detection is one scalar per round:
# monotonicity makes SUM(r) strictly increasing until the fixpoint, so
# an unchanged sum IS pointwise convergence — no join against the
# previous round needed.

_PR_SCALE = 1_000_000_000
_PR_MAX_ROUNDS = 100  # measured fixpoints at 77-83; oracle unrolls 100


def _pagerank_converged_oracle() -> str:
    """Unrolled fixed-depth CTE chain: extra rounds past the fixpoint
    are identity (deterministic map), so unrolling _PR_MAX_ROUNDS
    rounds equals the converged result whenever the engine side
    converged within the budget — and the engine RAISES if it did not,
    so a silent depth mismatch cannot happen.

    Every chained CTE is ``AS MATERIALIZED``: DuckDB inlines plain
    single-reference CTEs, and a 100-deep inlined join tree sends its
    planner super-linear (measured: the inlined form did not finish in
    8 minutes at sf0.001; materialized it runs in ~1 s / ~6.5 s at
    sf0.001/0.01 — the same stage-by-stage evaluation the engine side
    performs)."""
    steps = []
    for k in range(1, _PR_MAX_ROUNDS + 1):
        steps.append(f"""
    r{k} AS MATERIALIZED (
        SELECT e.dst AS node,
               (15 * (SELECT b FROM nb)) // 100
               + (85 * SUM(p.r // d.outdeg)) // 100 AS r
        FROM edges e
        JOIN r{k - 1} p ON e.src = p.node
        JOIN deg d ON e.src = d.src
        GROUP BY e.dst
    )""")
    graph_materialized = f"""
    e0 AS (
        SELECT DISTINCT o_custkey AS c, l_suppkey + {_SUPP_OFFSET} AS s
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    edges AS MATERIALIZED (
        SELECT c AS src, s AS dst FROM e0
        UNION ALL
        SELECT s AS src, c AS dst FROM e0
    ),
    deg AS MATERIALIZED (
        SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src
    )"""
    return f"""
    WITH {graph_materialized},
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
    nb AS MATERIALIZED (
        SELECT CAST({_PR_SCALE} AS BIGINT) // n AS b FROM nn
    ),
    r0 AS (SELECT node, CAST(0 AS BIGINT) AS r FROM nodes),
    {",".join(steps)}
    SELECT node, CAST(r AS BIGINT) AS rank_e9 FROM r{_PR_MAX_ROUNDS}
    """


@register(
    "graph_pagerank_converged",
    tags=("graph", "iterative"),
    description=(
        "PageRank iterated TO CONVERGENCE (exact integer fixpoint, "
        "damping 0.85, SCALE=1e9 micro-units) on the undirected "
        "customer-supplier graph: Kleene least-fixpoint iteration from "
        "zero (monotone, so an exact integer fixpoint exists and an "
        "unchanged SUM(r) detects it), one equi-join + one aggregation "
        "+ one eager localCheckpoint per round, RuntimeError past 100 "
        "rounds; the oracle unrolls the same integer recurrence 100 "
        "rounds deep (identity past the fixpoint)."
    ),
    oracle=_pagerank_converged_oracle(),
)
def graph_pagerank_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The graph_cc_loground discipline applied to PageRank (VERDICT r9
    #5): per-round eager localCheckpoint keeps the plan constant-size
    (a 77-round lazy chain would otherwise be a 77-deep join tree at
    analysis time), the previous round's blocks are released once the
    next is materialized, and convergence is read from a 1-row scalar
    collect. At 100 TB: edges pre-partition on src once (the
    checkpoint cache preserves the layout); ranks (n_nodes rows) are
    the only per-round shuffle; round count is data-bounded at
    ~log(SCALE)/log(1/damping), independent of graph size.
    """
    from hadoop_map_reduce_spark.checkpoint import local_checkpoint

    from pyspark.sql import Window

    edges = _edges(spark, sf_dir)
    # Same single-exchange outdeg window as graph_pagerank (round-11).
    ew, release_ew = local_checkpoint(
        edges.withColumn(
            "outdeg", F.count(F.lit(1)).over(Window.partitionBy("src"))
        )
    )
    try:
        nodes = ew.select(F.col("src").alias("node")).distinct()
        n = nodes.count()
        base15 = (15 * (_PR_SCALE // n)) // 100
        ranks = nodes.select("node", F.lit(0).cast("long").alias("r"))
        # Round-12: same runtime-count-gated rank broadcast as
        # graph_pagerank — here the win multiplies across the 77-83
        # rounds (each previously sorted/shuffled the checkpointed edge
        # stream into a sort-merge join). Integer arithmetic makes the
        # result order-independent, so the join strategy cannot move a
        # single bit.
        small = n <= _RANKS_BROADCAST_MAX
        prev_sum = 0
        release = None
        # One round PAST the unroll budget: detecting a fixpoint first
        # produced at round K needs round K+1 (which recomputes the
        # same state). Returning at round _PR_MAX_ROUNDS + 1 therefore
        # still returns r_{_PR_MAX_ROUNDS} — exactly the oracle's
        # deepest CTE — while a fixpoint NOT yet reached by the budget
        # raises below (r10 review: without the +1, a graph converging
        # exactly at round 100 raised spuriously).
        for _rounds in range(1, _PR_MAX_ROUNDS + 2):
            rhs = F.broadcast(ranks) if small else ranks
            nxt = (
                ew.join(rhs, ew.src == rhs.node)
                .groupBy(F.col("dst").alias("node"))
                .agg(
                    F.expr(
                        f"{base15} + (85 * sum(r div outdeg)) div 100"
                    )
                    .cast("long")
                    .alias("r")
                )
            )
            nxt, next_release = local_checkpoint(nxt)
            if release is not None:
                release()
            release = next_release
            ranks = nxt
            cur_sum = ranks.agg(F.sum("r")).first()[0]
            if cur_sum == prev_sum:
                return ranks.select(
                    "node", F.col("r").alias("rank_e9")
                )
            prev_sum = cur_sum
        raise RuntimeError(
            f"graph_pagerank_converged did not reach its integer "
            f"fixpoint in {_PR_MAX_ROUNDS} rounds; raise "
            f"_PR_MAX_ROUNDS (oracle unroll depth must match)"
        )
    finally:
        release_ew()
