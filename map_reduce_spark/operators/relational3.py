"""TPC-H-style decision-support queries, second batch (Q7/8/9/13/15/17/19/21).

Round 6 widens the relational surface beyond the first batch in
relational.py / relational2.py with the remaining classic TPC-H join/
agg shapes the fixtures can express (no partsupp table, no
commit/receipt dates — Q2/Q11/Q16/Q20 were already adapted or are out
of fixture reach; Q12's receipt logic was adapted in r2 as
q12ish_shipmode_buckets):

- Q7  cross-nation trade volume (two fact shuffles + dim broadcasts)
- Q8  market share (conditional share-of-total aggregation)
- Q9  product-type profit (profit expression over a mid-size part join)
- Q13 customer order-count distribution (LEFT OUTER join + two-level agg)
- Q15 top-revenue supplier (scalar-subquery max via 1-row broadcast)
- Q17 small-quantity revenue (per-part avg threshold join)
- Q19 disjunctive predicate revenue (OR-of-ANDs pushdown)
- Q21 sole-return-supplier count (per-order conditional distinct agg)

The reference engine (SURVEY.md §2.3) has no relational operators at
all — its only aggregation is the sort-based group-reduce at
/root/reference/src/mr/worker.go:117-137; this module is part of the
native analytics surface that generalizes it.

Scale rules follow relational.py: dims (region/nation/supplier)
broadcast explicitly, fact-fact joins shuffle on their keys, filters
stay declarative so Catalyst pushes them into the parquet scans, all
aggregates are decomposable (map-side partial agg), and doubles are
rounded only at the very end to stabilize the oracle hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_spark.plans.transient import transient_persist
from map_reduce_spark.registry import register
from map_reduce_spark.sources import load_table


def _revenue() -> F.Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


@register(
    "q7ish_nation_trade_volume",
    oracle_sql="""
    SELECT supp_nation, cust_nation, l_year,
           round(sum(volume), 2) AS revenue
    FROM (
        SELECT sn.n_name AS supp_nation,
               cn.n_name AS cust_nation,
               year(l_shipdate) AS l_year,
               l_extendedprice * (1 - l_discount) AS volume
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation sn ON sn.n_nationkey = s_nationkey
        JOIN nation cn ON cn.n_nationkey = c_nationkey
        WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
            OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q7ish_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bilateral trade volume between two nations by year.

    Scale: supplier+nation collapse to a broadcast dim, so the
    nation-pair filter on the supplier side prunes lineitem map-side
    before any shuffle. orders and customer grow with sf and shuffle
    on orderkey/custkey; the customer-side nation filter is applied
    after the (broadcast) customer-nation join, shrinking the second
    shuffle's probe output. The final group-by has O(pairs × years)
    groups — map-side combined to almost nothing.
    """
    nation = load_table(spark, sf_dir, "nation")
    supp_dim = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name").isin("NATION_1", "NATION_2"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust_dim = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name").isin("NATION_1", "NATION_2"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    return (
        li.join(F.broadcast(supp_dim), li.l_suppkey == supp_dim.s_suppkey)
        .join(load_table(spark, sf_dir, "orders"), li.l_orderkey == F.col("o_orderkey"))
        .join(cust_dim, F.col("o_custkey") == cust_dim.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.round(F.sum(_revenue()), 2).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "q8ish_market_share",
    oracle_sql="""
    SELECT o_year,
           round(sum(CASE WHEN supp_nation = 'NATION_1' THEN volume ELSE 0 END)
                 / sum(volume), 6) AS mkt_share
    FROM (
        SELECT year(o_orderdate) AS o_year,
               l_extendedprice * (1 - l_discount) AS volume,
               sn.n_name AS supp_nation
        FROM lineitem
        JOIN part     ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation cn ON cn.n_nationkey = c_nationkey
        JOIN region   ON r_regionkey = cn.n_regionkey
        JOIN nation sn ON sn.n_nationkey = s_nationkey
        WHERE r_name = 'AMERICA'
          AND p_type = 'ECONOMY'
          AND o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q8ish_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: one nation's share of ECONOMY-part volume into AMERICA.

    Scale: the share-of-total is a conditional aggregation — one pass,
    no self-join. part grows with sf, so lineitem⋈part shuffles on
    partkey (the p_type filter pushes to part's scan and AQE may
    broadcast the filtered side at small sf — its call, not a hint);
    orders/customer shuffle on their keys; supplier/nation/region
    broadcast. Group count = years, so the final agg is trivial.
    """
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    supp_dim = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust_dim = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    volume = _revenue().alias("volume")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp_dim), li.l_suppkey == supp_dim.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust_dim, orders.o_custkey == cust_dim.c_custkey)
        .select(F.year("o_orderdate").alias("o_year"), volume, "supp_nation")
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_1", F.col("volume")).otherwise(F.lit(0.0)))
                / F.sum("volume"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@register(
    "q9ish_product_profit",
    oracle_sql="""
    SELECT n_name AS nation, o_year, round(sum(amount), 2) AS sum_profit
    FROM (
        SELECT sn.n_name, year(o_orderdate) AS o_year,
               l_extendedprice * (1 - l_discount)
                 - 0.6 * p_retailprice * l_quantity AS amount
        FROM lineitem
        JOIN part     ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN nation sn ON sn.n_nationkey = s_nationkey
        WHERE p_name LIKE '%widget%'
    ) profit
    GROUP BY n_name, o_year
    ORDER BY nation, o_year DESC
    """,
)
def q9ish_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (adapted): profit on widget parts by supplier nation/year.

    The fixture has no partsupp, so supply cost is modeled as
    0.6 × p_retailprice (deterministic, oracle-identical). Scale: the
    p_name LIKE filter pushes into part's scan (StringContains);
    lineitem⋈part shuffles on partkey, lineitem⋈orders on orderkey;
    supplier⋈nation broadcasts. Groups = nations × years.
    """
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").contains("widget"))
        .select("p_partkey", "p_retailprice")
    )
    supp_dim = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(load_table(spark, sf_dir, "nation")), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity")
    ).alias("amount")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp_dim), li.l_suppkey == supp_dim.s_suppkey)
        .join(load_table(spark, sf_dir, "orders"), li.l_orderkey == F.col("o_orderkey"))
        .select("nation", F.year("o_orderdate").alias("o_year"), amount)
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum("amount"), 2).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@register(
    "q13ish_order_count_distribution",
    oracle_sql="""
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer
        LEFT OUTER JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
        GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13ish_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: how many customers placed 0, 1, 2, … qualifying orders.

    Scale: both sides grow with sf, so the LEFT OUTER join shuffles on
    custkey (the priority predicate filters the orders scan before the
    shuffle — it belongs in the join condition, not a WHERE, or the
    no-order customers vanish). First agg keys on custkey (same
    partitioning as the join → no extra exchange under AQE); second
    agg reduces to O(max orders per customer) groups.
    """
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "4-NOT SPECIFIED")
        .select("o_custkey", "o_orderkey")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "q15ish_top_revenue_supplier",
    oracle_sql="""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier
    JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def q15ish_top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with the maximum quarterly revenue.

    Scale: revenue is one decomposable agg keyed on suppkey (lineitem's
    date filter pushes to the scan). The scalar subquery max is an agg
    over |suppliers| rows reduced to ONE row, which then broadcasts
    back onto the revenue frame — never a global sort, never a window
    over an empty partition (that would funnel every row to one task).
    Rounding happens before the max comparison on both sides so ties
    are decided on identical values.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.round(F.sum(_revenue()), 2).alias("total_revenue"))
        # Referenced twice (max + probe). |suppliers| rows — tiny at
        # any sf — so persisting costs nothing and saves re-scanning
        # the quarter of lineitem a second time for the max branch.
    )
    revenue = transient_persist(revenue)
    top = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.join(F.broadcast(top), F.col("total_revenue") == F.col("max_revenue"))
        .join(
            F.broadcast(load_table(spark, sf_dir, "supplier")),
            F.col("supplier_no") == F.col("s_suppkey"),
        )
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "q17ish_small_quantity_revenue",
    oracle_sql="""
    SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l
    JOIN part ON p_partkey = l.l_partkey
    WHERE p_brand = 'Brand#3'
      AND l.l_quantity < (
          SELECT 0.5 * avg(l2.l_quantity)
          FROM lineitem l2
          WHERE l2.l_partkey = l.l_partkey
      )
    """,
)
def q17ish_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue on below-half-average-quantity orders, one brand.

    The correlated scalar subquery decorrelates into a per-part
    average joined back onto the brand-filtered lines. Scale: the
    thresholds frame has one row per part carrying the brand — a
    ~1/|brands| slice of part, which still grows LINEARLY with sf, so
    neither it nor the filtered part gets a broadcast hint (AQE may
    pick broadcast at small sf; at 100 TB both joins shuffle on
    partkey and share that partitioning). lineitem is scanned once
    for the averages and once for the probe. Determinism across
    engines: l_quantity is integer-valued and per-part line counts
    are small, so the double average is exact and the `<` comparison
    cannot straddle an FP boundary.
    """
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3").select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem")
    thresholds = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(li.l_partkey.alias("t_partkey"))
        .agg((F.lit(0.5) * F.avg("l_quantity")).alias("qty_threshold"))
    )
    return (
        li.join(
            thresholds,
            (li.l_partkey == F.col("t_partkey"))
            & (li.l_quantity < F.col("qty_threshold")),
        )
        .agg(F.round(F.sum("l_extendedprice") / F.lit(7.0), 2).alias("avg_yearly"))
    )


@register(
    "q19ish_disjunctive_revenue",
    oracle_sql="""
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 20)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
           AND l_quantity >= 10 AND l_quantity <= 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
           AND l_quantity >= 20 AND l_quantity <= 40)
    """,
)
def q19ish_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: OR-of-ANDs predicate spanning both join sides.

    Scale: Catalyst derives the single-side residuals of the
    disjunction and pushes them to the scans — part prunes to the
    three brands, lineitem to the quantity envelope [1, 40] — before
    the partkey shuffle join; the full disjunction evaluates as the
    join filter. One decomposable sum, one result row.
    """
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    joined = li.join(part, li.l_partkey == part.p_partkey)
    disj = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30)
           & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50)
           & F.col("l_quantity").between(20, 40))
    )
    return joined.filter(disj).agg(F.round(F.sum(_revenue()), 2).alias("revenue"))


@register(
    "q21ish_sole_return_suppliers",
    oracle_sql="""
    SELECT s_name, count(DISTINCT l1.l_orderkey) AS n_orders
    FROM lineitem l1
    JOIN supplier ON s_suppkey = l1.l_suppkey
    WHERE l1.l_returnflag = 'R'
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_returnflag = 'R'
      )
    GROUP BY s_name
    ORDER BY n_orders DESC, s_name
    LIMIT 20
    """,
)
def q21ish_sole_return_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (adapted): suppliers solely responsible for an order's
    returns, in multi-supplier orders.

    The fixture has no commit/receipt dates, so "kept waiting"
    becomes "sole returnflag='R' supplier". The oracle states it as
    EXISTS / NOT EXISTS; the Spark plan decorrelates both into
    per-order aggregation instead of two extra lineitem self-join
    shuffles. Two distinct-counts in one agg would plan an Expand (3
    projected copies of every line through the shuffle), so the plan
    first reduces lines to distinct (order, supplier, saw-R) pairs,
    then takes plain count/sum/max per order.

    Single-Exchange form (r6 verdict item 4 — the r6 plan's ratio
    ROSE with scale, 3.1x at sf1 -> 4.6x at sf3): the two stacked
    aggregations share the l_orderkey prefix, so one explicit
    ``repartition("l_orderkey")`` feeds BOTH levels exchange-free
    (HashPartitioning([l_orderkey]) satisfies the clustered
    distribution of keys (l_orderkey, l_suppkey) and of (l_orderkey)),
    halving the shuffled bytes vs the r6 two-Exchange plan. The trade
    is losing map-side combine on the first level — a good trade here
    because TPC-H lineitem has ~1 line per (order, supplier) pair, so
    the combine was shrinking nothing. Grouping runs on s_name AFTER
    the broadcast supplier join so the Spark grouping key is the
    oracle's grouping key (r6 ADVICE: grouping by suppkey and
    emitting s_name diverges if two suppliers ever share a name);
    the s_name aggregate is map-side combined, so the final exchange
    carries at most n_suppliers x n_partitions partial rows. Scale:
    per-order state is bounded by lines per order (~7); the top-20
    plans as TakeOrderedAndProject. The semi/anti-join surface itself
    is exercised by q4ish/q22ish — here the decorrelated formulation
    is the one that survives 100 TB.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_returnflag")
        .repartition("l_orderkey")
    )
    pairs = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("has_r")
    )
    per_order = pairs.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("has_r").alias("n_r_supp"),
        F.max(F.when(F.col("has_r") == 1, F.col("l_suppkey"))).alias("sole_r_supp"),
    )
    return (
        per_order.filter((F.col("n_supp") > 1) & (F.col("n_r_supp") == 1))
        .join(
            F.broadcast(load_table(spark, sf_dir, "supplier")),
            F.col("sole_r_supp") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), "s_name")
        .limit(20)
    )


FUZZY_MAX_DIST = 2  # edit-distance threshold for the name-matching join
FUZZY_Q = 2  # blocking q-gram width


@register(
    "fuzzy_join_part_names",
    oracle_sql=f"""
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
    FROM (SELECT DISTINCT p_name FROM part) a
    JOIN (SELECT DISTINCT p_name FROM part) b ON a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_DIST}
    ORDER BY name_a, name_b
    """,
)
def fuzzy_join_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy self-join (entity resolution): distinct part names within
    edit distance FUZZY_MAX_DIST of each other, via q-gram blocking.

    The oracle is the exact all-pairs comparison; the Spark plan
    generates candidates from a q-gram inverted index — the standard
    blocked fuzzy-match shape — and verifies with ``levenshtein`` only
    on candidates. The hash match against the all-pairs oracle
    therefore CERTIFIES the blocking is zero-miss, not just fast: the
    q-gram count filter guarantees two strings with lev <= K share at
    least (max_len - q + 1 - K*q) q-grams, which is >= 1 at the
    fixture's min name length 7 with q=2, K=2 (same certificate
    pattern as dedup_semantic_clusters' banding).

    Scale: the distinct-name table grows far slower than part but is
    never broadcast-hinted; the gram explosion is ~len per name, the
    gram join is a plain equi-join (hash-partitionable; a hot gram is
    bounded by the name-length cap times names sharing it, the same
    DF-cap argument as the shingle index), and the quadratic verify
    runs only on candidate pairs.
    """
    names = load_table(spark, sf_dir, "part").select("p_name").distinct()
    # substring with a dynamic start needs expr: build (name, gram) pairs
    grams = names.select(
        "p_name",
        F.explode(
            F.expr(
                f"transform(sequence(1, length(p_name) - {FUZZY_Q} + 1), "
                f"i -> substring(p_name, i, {FUZZY_Q}))"
            )
        ).alias("gram"),
    ).distinct()
    a = grams.select(F.col("p_name").alias("name_a"), "gram")
    b = grams.select(F.col("p_name").alias("name_b"), "gram")
    cand = (
        a.join(b, "gram")
        .filter(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b")
        .distinct()
    )
    return (
        cand.withColumn("dist", F.levenshtein("name_a", "name_b").cast("long"))
        .filter(F.col("dist") <= FUZZY_MAX_DIST)
        .orderBy("name_a", "name_b")
    )
