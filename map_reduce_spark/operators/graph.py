"""Graph analytics over fixture-derived graphs: PageRank, triangle
counting, and k-hop reachability.

The reference engine's only graph-shaped computation is the iterative
shuffle itself (map -> hash-partition -> reduce rounds,
/root/reference/src/mr/coordinator.go, /root/reference/src/mr/worker.go:39-44);
classic MapReduce papers use PageRank and BFS as the canonical
multi-round jobs. This module expresses those rounds Spark-first:
each iteration is one equi-join + one decomposable aggregate, unrolled
a FIXED number of times into a single lazy Catalyst plan (no driver
loop state, no collects), so AQE plans every round and the whole
computation is one DAG.

Graphs are derived from the star schema:

- The BIPARTITE purchase graph: distinct (customer, supplier) pairs
  connected through orders x lineitem, doubled into both directions.
  Nodes are encoded into one bigint nid = key * 2 + kind (customers
  even, suppliers odd) so every per-node frame is a narrow
  (bigint, bigint) pair — cheap to shuffle at any scale.
- The CO-SUPPLIER graph: suppliers co-occurring on the same
  high-quantity order (l_quantity >= 45 thins lineitem ~8x first, so
  the co-occurrence graph stays sparse as the supplier count grows —
  the unthinned graph is near-complete at small SF and would make
  triangle counting quadratic in suppliers).

Determinism across engines (the driver hashes raw values): PageRank
runs in FIXED-POINT bigint arithmetic — rank mass is an integer
scaled by PR_SCALE, per-edge contributions use integer division
(Spark ``DIV`` == DuckDB ``//`` for non-negative operands), and sums
of bigints are exact and order-independent — so the Spark result and
the unrolled-CTE DuckDB oracle agree bit-for-bit, with no float-drift
rounding gamble anywhere. Triangles and hop distances are integers by
nature.

Scale notes per operator are on their docstrings; the shared design
rule is that every iteration's shuffle is keyed by nid, partial
aggregation applies (sum/min are decomposable), and nothing ever
collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from map_reduce_spark.plans.transient import ordered_result, transient_persist
from map_reduce_spark.registry import register
from map_reduce_spark.sources import load_table, session_cached

# PageRank fixed-point scale: rank mass 1.0 == PR_SCALE. Total mass
# across all nodes stays ~PR_SCALE (teleport re-injects what integer
# truncation drops), so every intermediate (85 * sum(contrib)) is
# bounded by ~85 * PR_SCALE = 8.5e13 << 2^63 — no bigint overflow at
# any node count.
PR_SCALE = 10**12
PR_ITERS = 5
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100  # damping 0.85 as an integer ratio
# Broadcast-ranks regime cutoff: a (bigint, bigint, bigint) rank row
# is ~24 bytes, so 5M nodes is a ~120 MB broadcast — the upper edge of
# comfortable. Beyond it the shuffle form takes over (see docstring).
PR_BROADCAST_MAX_NODES = 5_000_000

# Co-supplier graph thinning: only lineitems with quantity >= this
# participate. Keeps ~12% of rows, and because pairs form per order
# the edge count drops ~quadratically — measured sf0.1: 17,234 edges
# over 1,000 suppliers (vs 214k+ unthinned, near-complete).
TRI_MIN_QTY = 45

# Triangle broadcast-regime cutoff on the DISTINCT EDGE count —
# measured at materialization, not estimated from the node universe.
# The r8 gate used the supplier count with the fixture's ~35
# co-suppliers/node density baked in (ADVICE r8: a denser graph near
# the node cutoff would force a multi-GB F.broadcast that bypasses
# autoBroadcastJoinThreshold and OOM executors); the edge set is
# what actually broadcasts, so the edge count is what the gate must
# read. An oriented edge row is (bigint, bigint, bigint) ~ 24 B, so
# 10M edges ~ 240 MB — the upper edge of comfortable, same budget
# argument as PR_BROADCAST_MAX_NODES. Below it the node-sized rank
# frame (nodes <= 2 * edges) and the oriented edge set both
# broadcast. Above it the shuffle form takes over: orientation joins
# by node, closure probe keyed by the wedge's (y, z) — Cohen's
# MapReduce formulation, whose wedge exchange is the algorithm's
# inherent cost at billion-edge scale. Reading the true count needs
# one bounded job over the transient-persisted edge frame (which the
# downstream plan reuses), so the builder is DEFERRED.
TRI_BROADCAST_MAX_EDGES = 10_000_000

# NATION_3 is the lowest nationkey with suppliers at every fixture
# scale (sf0.001 has only 10 suppliers spread over 25 nations, so most
# nations seed an empty BFS there).
KHOP_SEED_NATION = "NATION_3"
KHOP_HOPS = 3


def _purchase_rel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (c, s) customer-supplier purchase relation.

    orders x lineitem equi-join on the orderkey both sides are
    clustered by, then a distinct on the pair — one shuffle keyed by
    (c, s), decomposable, output bounded by |customers| x avg
    distinct suppliers per customer (~40 at sf0.1), far below the
    lineitem row count.
    """
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )


@session_cached
def _bipartite_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed (src, dst) bigint edges of the doubled bipartite
    purchase graph. Customers get nid = 2*custkey, suppliers
    nid = 2*suppkey + 1.

    SESSION-CACHED (r12, guide §2.4): the orders x lineitem join +
    pair distinct is the corpus-width work shared by graph_pagerank
    and graph_khop_reachability, each of which previously rebuilt it
    per call (and khop additionally re-persisted it transiently).
    (src, dst) bigint pairs only — ~2x the purchase relation, well
    under the LRU budget; eviction transparently rebuilds."""
    rel = _purchase_rel(spark, sf_dir)
    c_nid = (F.col("c") * 2).alias("cn")
    s_nid = (F.col("s") * 2 + 1).alias("sn")
    fwd = rel.select(c_nid.alias("src"), s_nid.alias("dst"))
    bwd = rel.select(s_nid.alias("src"), c_nid.alias("dst"))
    return fwd.unionAll(bwd)


def _edges_with_outdeg(edges: DataFrame, broadcast_ranks: bool) -> DataFrame:
    """(src, dst, outdeg) round-input frame of ``pagerank_fixed`` —
    un-persisted; see the partitioning rationale in the comment
    inside ``pagerank_fixed``."""
    ed = edges.withColumn(
        "outdeg", F.count(F.lit(1)).over(Window.partitionBy("src"))
    )
    return ed.repartition("dst") if broadcast_ranks else ed


@session_cached
def _pr_edge_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached (src, dst, outdeg) frame for the REGISTERED
    pagerank entry (r12, guide §2.4): the out-degree window +
    regime repartition over the bipartite edges re-ran on every
    builder call; the regime flag is a deterministic function of the
    corpus (parquet-footer node bound), so the frame is a pure
    function of (spark, sf_dir) like every other session cache."""
    from map_reduce_spark.sources.tables import parquet_num_rows

    n_upper = parquet_num_rows(f"{sf_dir}/customer.parquet") + parquet_num_rows(
        f"{sf_dir}/supplier.parquet"
    )
    return _edges_with_outdeg(
        _bipartite_edges(spark, sf_dir),
        broadcast_ranks=n_upper <= PR_BROADCAST_MAX_NODES,
    )


def pagerank_fixed(
    edges: DataFrame,
    broadcast_ranks: bool = True,
    prebuilt_ed: DataFrame | None = None,
) -> DataFrame:
    """(nid, pr) fixed-point PageRank over an arbitrary directed
    (src, dst) bigint edge frame — the engine core behind
    ``graph_pagerank``, factored out so the randomized differential
    test (tests/test_graph.py) can run it against a pure-Python
    reference on arbitrary graphs. Node universe = nodes with at
    least one OUT edge (matches the registered oracle's ``deg``
    universe; for the doubled bipartite graph that is every node).

    Plan shape and the two regimes are documented on
    ``graph_pagerank``.
    """
    # (src, dst, outdeg): the per-round join input, persisted because
    # all PR_ITERS rounds scan it — partitioned by the round
    # aggregate's key (dst) in the broadcast regime, by the round
    # join's key (src) in the shuffle regime. r12 (guide §2.4): the
    # out-degree used to be a separate aggregate joined back onto
    # edges — a diamond that forced a SECOND transient cache on the
    # raw edge frame, and profiling showed concurrent broadcast-stage
    # threads racing to build both caches (duplicate upstream scans
    # serialized on the per-partition cache lock — ~2.7 s of a 10 s
    # run). A count window over the same key computes outdeg in the
    # one subplan, so the single ``ed`` cache is the only
    # materialization and the window's hash(src) partitioning is
    # exactly what the shuffle regime's round join needs. Counts are
    # integers: window-vs-join out-degrees are bit-identical.
    ed = (
        prebuilt_ed
        if prebuilt_ed is not None
        else transient_persist(_edges_with_outdeg(edges, broadcast_ranks))
    )
    # Node universe (nodes with >= 1 out edge) and its count, both
    # from the cached ed frame.
    deg = ed.select("src").distinct()
    nn = deg.agg(F.count(F.lit(1)).alias("n"))

    init = F.expr(f"{PR_SCALE} DIV n").alias("pr")
    pr = deg.crossJoin(F.broadcast(nn)).select(F.col("src").alias("nid"), init, "n")
    for _ in range(PR_ITERS):
        rank_side = F.broadcast(pr) if broadcast_ranks else pr
        contribs = ed.join(rank_side, ed.src == pr.nid).select(
            F.col("dst"), F.expr("pr DIV outdeg").alias("contrib"), F.col("n")
        )
        teleport = F.expr(
            f"({PR_DAMP_DEN - PR_DAMP_NUM} * ({PR_SCALE} DIV n)) DIV {PR_DAMP_DEN}"
        )
        pr = (
            contribs.groupBy(F.col("dst").alias("nid"), F.col("n"))
            .agg(F.sum("contrib").alias("sc"))
            .select(
                "nid",
                (teleport + F.expr(f"({PR_DAMP_NUM} * sc) DIV {PR_DAMP_DEN}")).alias(
                    "pr"
                ),
                "n",
            )
        )
    return pr.select("nid", "pr")


_PAGERANK_ORACLE = f"""
    WITH rel AS MATERIALIZED (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
    edges AS MATERIALIZED (
        SELECT c * 2 AS src, s * 2 + 1 AS dst FROM rel
        UNION ALL
        SELECT s * 2 + 1 AS src, c * 2 AS dst FROM rel),
    deg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
    nn AS MATERIALIZED (SELECT count(*) AS n FROM deg),
    p0 AS MATERIALIZED (
        SELECT src AS nid, {PR_SCALE} // (SELECT n FROM nn) AS pr
        FROM deg),
    {', '.join(
        f'''p{i + 1} AS MATERIALIZED (
        SELECT e.dst AS nid,
               ({PR_DAMP_DEN - PR_DAMP_NUM}
                   * ({PR_SCALE} // (SELECT n FROM nn))) // {PR_DAMP_DEN}
               + ({PR_DAMP_NUM}
                   * CAST(sum(p.pr // d.outdeg) AS BIGINT))
                   // {PR_DAMP_DEN} AS pr
        FROM edges e
        JOIN p{i} p ON p.nid = e.src
        JOIN deg d ON d.src = e.src
        GROUP BY e.dst)''' for i in range(PR_ITERS)
    )}
    SELECT CASE WHEN nid % 2 = 1 THEN 'supplier' ELSE 'customer' END
               AS node_kind,
           nid // 2 AS node_key,
           CAST(pr AS BIGINT) AS pr_fixed
    FROM p{PR_ITERS}
    ORDER BY pr_fixed DESC, node_kind, node_key
    """


@register("graph_pagerank", oracle_sql=_PAGERANK_ORACLE)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, PR_ITERS=5 fixed power iterations) over
    the bipartite customer-supplier purchase graph, in exact
    fixed-point bigint arithmetic (see module docstring).

    Plan shape: the edge+outdegree frame is built once and persisted
    (it is referenced by all 5 unrolled rounds); each round
    is ONE equi-join of the rank frame onto the edges (shuffle keyed
    by nid, rank side is |nodes| rows — orders of magnitude smaller
    than edges) followed by ONE map-side-combinable sum keyed by dst.
    The node count rides in as a broadcast 1-row scalar
    (crossJoin(broadcast(count))) — the same whitelisted pattern as
    doc_unigram_logprob's corpus total. No driver loop state: the
    builder returns one lazy plan of depth 5, linear lineage
    (each round references the previous exactly once), so there is no
    exponential plan blowup and no checkpoint requirement — unlike the
    open-ended CC fixpoint (dedup.py:_min_label_propagation), the
    round count is a constant of the operator.

    100 TB, two regimes (same cutoff pattern as the retrieval
    probe-side broadcast, retrieval.py): when the node upper bound
    (customer + supplier parquet footer row counts — a metadata read,
    builder stays lazy) fits PR_BROADCAST_MAX_NODES, the edge frame is
    pre-partitioned by DST and each round BROADCASTS the node-sized
    rank frame — the per-round shuffle then vanishes entirely (the
    join is map-side, and the dst aggregate reuses the cache's
    HashPartitioning(dst), zero Exchange; pinned by
    tests/test_graph.py::test_pagerank_broadcast_regime_plan). Beyond
    the cutoff (billions of nodes — ranks no longer broadcastable) it
    falls back to the co-partitioned shuffle form: edges cached
    partitioned by src so only the |nodes|-sized rank frame shuffles
    into the join, plus the one unavoidable |edges| contribution
    shuffle into the dst aggregate. Rank mass is integers — merge
    order never changes a bit, so stage retries / speculative tasks
    cannot flip the result hash.
    """
    from map_reduce_spark.sources.tables import parquet_num_rows

    n_upper = parquet_num_rows(f"{sf_dir}/customer.parquet") + parquet_num_rows(
        f"{sf_dir}/supplier.parquet"
    )
    pr = pagerank_fixed(
        _bipartite_edges(spark, sf_dir),
        broadcast_ranks=n_upper <= PR_BROADCAST_MAX_NODES,
        prebuilt_ed=_pr_edge_frame(spark, sf_dir),
    )
    out = pr.select(
        F.when(F.col("nid") % 2 == 1, "supplier")
        .otherwise("customer")
        .alias("node_kind"),
        F.expr("nid DIV 2").alias("node_key"),
        F.col("pr").alias("pr_fixed"),
    )
    return ordered_result(out, F.desc("pr_fixed"), "node_kind", "node_key")


_TRIANGLE_ORACLE = f"""
    WITH li AS MATERIALIZED (
        SELECT l_orderkey, l_suppkey FROM lineitem
        WHERE l_quantity >= {TRI_MIN_QTY}),
    e AS MATERIALIZED (
        SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
        FROM li a JOIN li b USING (l_orderkey)
        WHERE a.l_suppkey < b.l_suppkey),
    tri AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM e e1
        JOIN e e2 ON e2.u = e1.v
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
    corners AS (
        SELECT a AS s_suppkey FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri)
    SELECT s_suppkey, count(*) AS n_triangles
    FROM corners
    GROUP BY s_suppkey
    ORDER BY n_triangles DESC, s_suppkey
    """


@register("graph_triangle_count", oracle_sql=_TRIANGLE_ORACLE)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier triangle participation counts in the co-supplier
    graph (suppliers sharing a high-quantity order).

    Spark side uses DEGREE-ORDERED ORIENTATION (the compact-forward /
    Cohen MapReduce triangle algorithm): each undirected edge is
    directed from the endpoint with the smaller (degree, id) to the
    larger, so every node's out-degree is O(sqrt(|E|)) and the wedge
    join generates sum_u C(outdeg(u), 2) candidates instead of
    sum_u C(deg(u), 2) — the difference between surviving a power-law
    degree distribution and not. Each triangle (x, y, z) with
    x < y < z in orientation order is found exactly once as the wedge
    (x->y, x->z) closed by the edge y->z, so the per-supplier COUNTS
    are identical to the oracle's simpler id-ordered enumeration —
    orientation changes the work, not the answer.

    Plan (re-planned r8 — the r7 shape was the verdict's one graph
    `weak` entry, 2.86x DuckDB at sf3 on five keyed exchanges): the
    order-basket build and the packed-pair edge distinct are the only
    data-sized shuffles. Everything graph-sized rides the two-regime
    pattern (TRI_BROADCAST_MAX_EDGES, r9: the gate now reads the
    MEASURED distinct edge count — the r8 node-count proxy assumed
    the fixture's density, ADVICE r8 — so the builder is deferred;
    the count job materializes the transient edge persist the rest
    of the plan reuses): below the cutoff the node-sized rank frame
    BROADCASTS into the orientation (the edge set never shuffles to
    learn its direction) and the closure probes a BROADCAST of the
    oriented edge set — so the wedge stream, the largest frame in
    the algorithm, never crosses the network (pinned by
    tests/test_graph.py::test_triangle_broadcast_regime_plan); the
    wedge self-join exchanges only the cached edge-sized frame.
    Above the cutoff the same joins fall back to hash-partitioned
    form (orientation keyed by node, closure keyed by (y, z)) —
    Cohen's MapReduce formulation, whose wedge exchange is the
    inherent cost once the edge set outgrows a broadcast. One
    explode + count for corners (map-side combinable). Nothing
    quadratic in suppliers either way. Measured sf3 (SOLO_STUDY_r08):
    honest-rebuild 4.06 s = 1.77x paired DuckDB (r7 form: 2.86x,
    rising); cached-rerun mode (the r7-comparable methodology)
    1.96 s vs r7's 4.1 s. sf10 rebuild 7.3 s — sublinear across the
    3.3x octave. The solo-vs-in-sweep gap adjudication is in
    BASELINE.md (r9).
    """
    from map_reduce_spark.plans.deferred import deferred

    def build() -> DataFrame:
        return _triangle_plan(spark, sf_dir)

    return deferred(
        spark, "s_suppkey BIGINT NOT NULL, n_triangles BIGINT NOT NULL", build
    )


def _triangle_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= TRI_MIN_QTY)
        .select(
            "l_orderkey",
            # pack-capacity guard (the basket.py convention, r8
            # review finding): suppkeys must fit the 32-bit packing
            # lanes below or distinct edges would silently alias.
            F.when(
                F.col("l_suppkey") < F.lit(1 << 32).cast("long"),
                F.col("l_suppkey"),
            )
            .otherwise(
                F.raise_error(
                    F.lit("triangle edge packing overflow: suppkey >= 2^32")
                )
            )
            .alias("l_suppkey"),
        )
    )
    # Edge build is ARRAY-side (the basket_part_association shape,
    # r8): ONE scan groups each order's distinct suppliers
    # (collect_set subsumes the per-order dedup), the ordered pairs
    # expand map-side as 64-bit packed keys, and the edge distinct
    # dedupes one long column. The r7 self-join form scanned lineitem
    # twice and exchanged both sides by orderkey.
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_suppkey")).alias("ss")
    )
    pair_array = F.flatten(
        F.transform(
            F.col("ss"),
            lambda x, i: F.transform(
                F.slice(F.col("ss"), i + 2, F.size(F.col("ss"))),
                lambda y: F.shiftleft(x, 32) + y,
            ),
        )
    )
    und = (
        baskets.select(F.explode(pair_array).alias("pk"))
        .distinct()
        .select(
            F.shiftrightunsigned("pk", 32).alias("u"),
            F.col("pk").bitwiseAND(F.lit((1 << 32) - 1)).alias("v"),
        )
        # Referenced twice (degrees + the orientation join); uncached
        # that re-runs the basket build per reference. The edge set
        # itself is graph-sized, tiny. (Transient, like every
        # plan-internal persist in this module.)
    )
    und = transient_persist(und)
    # Regime gate on the MEASURED edge count (ADVICE r8: the old
    # supplier-count proxy baked in the fixture's ~35 edges/node
    # density; a denser graph would have forced a multi-GB broadcast
    # past autoBroadcastJoinThreshold). The count materializes the
    # transient persist every downstream arm reuses, so its marginal
    # cost is one cached-frame scan.
    broadcast_graph = und.count() <= TRI_BROADCAST_MAX_EDGES
    # Undirected degree, then a total order ordv = deg * 2^33 + id
    # (ids < 2^32 — guarded at the pack above; deg < 2^30 — guarded
    # here, mirroring the pack guard: an overflow would silently
    # mis-orient edges and miscount triangles rather than fail,
    # ADVICE r8) so the orientation comparison is one bigint compare.
    # One scan of the cached edges (explode both ends), node-sized
    # output.
    ends = und.select(
        F.explode(F.array(F.col("u"), F.col("v"))).alias("node")
    )
    deg = ends.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    deg_guarded = F.when(F.col("deg") < F.lit(1 << 30), F.col("deg")).otherwise(
        F.raise_error(F.lit("triangle orientation overflow: degree >= 2^30"))
    )
    ordv = (deg_guarded.cast("long") * (2**33) + F.col("node")).alias("ordv")
    rank = deg.select("node", ordv)
    rank_u = rank.withColumnRenamed("node", "u").withColumnRenamed("ordv", "ou")
    rank_v = rank.withColumnRenamed("node", "v").withColumnRenamed("ordv", "ov")
    if broadcast_graph:
        rank_u, rank_v = F.broadcast(rank_u), F.broadcast(rank_v)
    # Orient: src = smaller ordv endpoint. In the broadcast regime
    # this is two map-side joins — the edge frame never shuffles to
    # learn its direction. (The wedge self-join below exchanges the
    # cached EDGE-sized frame by src — graph-sized, the cheap side;
    # an explicit co-partition at persist time is invisible through
    # an AQE-cached InMemoryRelation, so it would only add a shuffle,
    # not remove one.)
    e = (
        und.join(rank_u, "u")
        .join(rank_v, "v")
        .select(
            F.when(F.col("ou") < F.col("ov"), F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(F.col("ou") < F.col("ov"), F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(F.col("ou") < F.col("ov"), F.col("ov")).otherwise(F.col("ou")).alias("dst_ord"),
        )
    )
    e = transient_persist(e)
    # Wedges from a shared source, ordered so each unordered pair of
    # out-neighbors appears once; closure probe on the oriented edge.
    w1, w2 = e.alias("w1"), e.alias("w2")
    wedges = (
        w1.join(w2, F.col("w1.src") == F.col("w2.src"))
        .filter(F.col("w1.dst_ord") < F.col("w2.dst_ord"))
        .select(
            F.col("w1.src").alias("x"),
            F.col("w1.dst").alias("y"),
            F.col("w2.dst").alias("z"),
        )
    )
    closer = e.select(F.col("src").alias("y"), F.col("dst").alias("z"))
    if broadcast_graph:
        closer = F.broadcast(closer)
    tri = wedges.join(closer, ["y", "z"])
    # Single pass over the triangle stream (r8; the r7 three-branch
    # union re-ran the wedge join + closure per corner): each
    # triangle explodes into its three corners map-side, feeding the
    # combinable count directly.
    corners = tri.select(
        F.explode(F.array("x", "y", "z")).alias("s_suppkey")
    )
    return (
        corners.groupBy("s_suppkey")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .transform(ordered_result, F.desc("n_triangles"), "s_suppkey")
    )


def bfs_min_hops(edges: DataFrame, seeds: DataFrame, hops: int) -> DataFrame:
    """(nid, hop) min-hop BFS distances (<= ``hops``) over an
    arbitrary directed (src, dst) bigint edge frame from a (nid) seed
    frame — the engine core behind ``graph_khop_reachability``,
    factored out so the randomized differential test can run it
    against a pure-Python BFS on arbitrary graphs.

    Each round's frontier is persisted: round i+1 references frontier_i
    TWICE (as the expansion source and inside the reached-set
    anti-join), so without a cache the plan tree doubles per hop —
    the same 2^k lineage blowup _min_label_propagation checkpoints
    against, bounded here only by the constant hop count. The cached
    frames are node-sized (bigint, int) pairs. ``reached`` itself
    stays a cheap union of the cached per-hop frames. Frontier and
    visited set are node-sized — BROADCAST both, so a hop never
    shuffles the |edges| frame: the expansion is a map-side hash join
    over the (caller-persisted) edges and the dedup/anti steps work on
    the much smaller neighbor projection. The billion-node regime
    would flip these to shuffle joins, the same cutoff argument as
    graph_pagerank's rank broadcast.
    """
    frontier = transient_persist(seeds.withColumn("hop", F.lit(0)))
    reached = frontier
    for i in range(1, hops + 1):
        neighbors = (
            edges.join(F.broadcast(frontier), edges.src == frontier.nid)
            .select(F.col("dst").alias("nid"))
            .distinct()
        )
        new = transient_persist(
            neighbors.join(F.broadcast(reached.select("nid")), "nid", "left_anti")
            .withColumn("hop", F.lit(i))
        )
        reached = reached.unionAll(new)
        frontier = new
    return reached


def _khop_oracle() -> str:
    hops = []
    prev_reach = "r0"
    hop_tables = ["h0"]
    for i in range(1, KHOP_HOPS + 1):
        hops.append(
            f"""h{i} AS MATERIALIZED (
        SELECT DISTINCT e.dst AS nid FROM edges e
        JOIN h{i - 1} f ON f.nid = e.src
        WHERE e.dst NOT IN (SELECT nid FROM {prev_reach})),
    r{i} AS MATERIALIZED (SELECT nid FROM {prev_reach} UNION ALL SELECT nid FROM h{i})"""
        )
        prev_reach = f"r{i}"
        hop_tables.append(f"h{i}")
    hop_union = "\n        UNION ALL ".join(
        f"SELECT nid, {i} AS hop FROM h{i}" for i in range(KHOP_HOPS + 1)
    )
    hops_joined = ",\n    ".join(hops)
    return f"""
    WITH rel AS MATERIALIZED (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
    edges AS MATERIALIZED (
        SELECT c * 2 AS src, s * 2 + 1 AS dst FROM rel
        UNION ALL
        SELECT s * 2 + 1 AS src, c * 2 AS dst FROM rel),
    h0 AS MATERIALIZED (
        SELECT DISTINCT s_suppkey * 2 + 1 AS nid
        FROM supplier JOIN nation ON n_nationkey = s_nationkey
        WHERE n_name = '{KHOP_SEED_NATION}'
          AND s_suppkey * 2 + 1 IN (SELECT src FROM edges)),
    r0 AS (SELECT nid FROM h0),
    {hops_joined}
    SELECT CASE WHEN nid % 2 = 1 THEN 'supplier' ELSE 'customer' END
               AS node_kind,
           nid // 2 AS node_key,
           hop
    FROM ({hop_union})
    ORDER BY hop, node_kind, node_key
    """


@register("graph_khop_reachability", oracle_sql=_khop_oracle())
def graph_khop_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-hop BFS distances (<= KHOP_HOPS=3 hops) over the bipartite
    purchase graph from the suppliers of one nation.

    The frontier expansion is the canonical iterative-shuffle job:
    each hop is ONE equi-join of the frontier onto the edges plus a
    distinct, and the visited set grows by a left-anti join (new =
    neighbors minus reached) — all keyed by nid, all decomposable.
    Unrolled 3 times into one lazy plan (constant hop count,
    linear lineage — same rationale as graph_pagerank). Seeds
    restrict to nodes present in the edge set so the node universe
    matches the graph the oracle walks.

    100 TB: frontier frames are (bigint, int) pairs; each hop's
    shuffle is bounded by the reachable edge count, and the anti-join
    keeps the visited set deduplicated instead of exploding the
    frontier multiplicatively.
    """
    edges = _bipartite_edges(spark, sf_dir)
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == KHOP_SEED_NATION)
    seeds = (
        supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .select((F.col("s_suppkey") * 2 + 1).alias("nid"))
        # semi join needs no distinct on either side — duplicates in
        # the edge projection don't multiply a semi's output
        .join(edges.select(F.col("src").alias("nid")), "nid", "left_semi")
        .distinct()
    )
    reached = bfs_min_hops(edges, seeds, KHOP_HOPS)
    return reached.select(
        F.when(F.col("nid") % 2 == 1, "supplier")
        .otherwise("customer")
        .alias("node_kind"),
        F.expr("nid DIV 2").alias("node_key"),
        F.col("hop").cast("int").alias("hop"),
    ).transform(ordered_result, "hop", "node_kind", "node_key")
