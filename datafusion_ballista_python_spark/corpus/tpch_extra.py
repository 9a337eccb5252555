"""Extended TPC-H query-shape corpus (q2/q7/q8/q9/q11/q13/q15/q16/q17/q18/
q19/q22 adapted to the driver's TPC-H-lite schema — no partsupp table, no
commit/receipt dates; see TESTDATA.md).

These widen the relational coverage beyond corpus/relational.py with the
classic hard shapes: nation-pair joins (q7), market share over an 8-way
join (q8), correlated scalar thresholds (q11, q17, q22), min-per-group
join-back (q2, q15), left-join count distributions (q13), NOT IN / anti
semantics (q16), OR-of-conjunction pushdown (q19), and HAVING-driven semi
aggregation (q18).

Reference reachability: all of these are DataFusion-24 SQL dialect shapes
reachable via ``ctx.sql`` (reference `src/context.rs:166-172`); the
operator building blocks are the bound surface of `src/dataframe.rs` +
`src/functions.rs`.

Determinism rules (corpus/__init__): decimal accumulation for double
sums; correlated-average thresholds rewritten multiply-form
(``x * n > sum`` instead of ``x > sum/n``) so no cross-engine decimal
division is involved; years cast to INT on both sides.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .. import functions as bf
from ..dataframe import DataFrame
from . import query
from .util import SQL_DSUM, dsum, load

col = bf.col
lit = bf.lit


def _t(spark, sf_dir, *names):
    return {k: DataFrame(v) for k, v in load(spark, sf_dir, *names).items()}


DEC = "decimal(25,6)"


def _year(c):
    return F.year(F.col(c)).cast("int")


# ---------------------------------------------------------------------------
# q7 — volume shipping between a nation pair
# ---------------------------------------------------------------------------

@query(
    "q7_volume_shipping",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           {SQL_DSUM('volume')} AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier, lineitem, orders, customer, nation n1, nation n2
      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
        AND c_nationkey = n2.n_nationkey
        AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate >= TIMESTAMP '1995-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: revenue flow between a pair of nations by year.

    Scale: both nation filters reduce nation to ≤2 rows -> broadcast into
    supplier and customer, which themselves become selective (~2/25 of
    rows) broadcast-able dims; the one big shuffle is orders⋈lineitem.
    The OR pair-condition is applied post-join on two tiny columns.
    """
    t = _t(spark, sf_dir, "supplier", "lineitem", "orders", "customer", "nation")
    pair = ("NATION_1", "NATION_2")
    n1 = t["nation"].df.filter(F.col("n_name").isin(*pair)).select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = t["nation"].df.filter(F.col("n_name").isin(*pair)).select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    li = t["lineitem"].df.filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    sup = t["supplier"].df.join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
    cus = t["customer"].df.join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
    joined = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .join(t["orders"].df, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cus, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        joined.withColumn("l_year", _year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# ---------------------------------------------------------------------------
# q8 — market share of one supplier nation inside a region
# ---------------------------------------------------------------------------

@query(
    "q8_market_share",
    oracle="""
    SELECT o_year,
           ROUND(CAST(SUM(CASE WHEN nation = 'NATION_5' THEN vol ELSE CAST(0 AS DECIMAL(25,6)) END) AS DOUBLE)
                 / CAST(SUM(vol) AS DOUBLE), 6) AS mkt_share
    FROM (
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
             CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6)) AS vol,
             n2.n_name AS nation
      FROM part, lineitem, supplier, orders, customer, nation n1, nation n2, region
      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
        AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
        AND p_type = 'ECONOMY'
    ) all_nations
    GROUP BY o_year ORDER BY o_year
    """,
)
def q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: 8-way join, share-of-total conditional aggregate.

    Scale: part(type), region(name)→nation→customer form broadcast dim
    chains; supplier⋈nation broadcasts; lineitem⋈orders is the only
    key shuffle.  Share computed in one pass (conditional numerator and
    denominator in the same aggregate — no second scan or self-join).
    """
    t = _t(
        spark, sf_dir,
        "part", "lineitem", "supplier", "orders", "customer", "nation", "region",
    )
    p = t["part"].df.filter(F.col("p_type") == "ECONOMY")
    asia_keys = (
        t["nation"].df.join(
            F.broadcast(t["region"].df.filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select(F.col("n_nationkey").alias("asia_nkey"))
    )
    cus = t["customer"].df.join(
        F.broadcast(asia_keys), F.col("c_nationkey") == F.col("asia_nkey")
    )
    sup = t["supplier"].df.join(
        F.broadcast(t["nation"].df.select(F.col("n_nationkey").alias("s_nkey"),
                                          F.col("n_name").alias("nation"))),
        F.col("s_nationkey") == F.col("s_nkey"),
    )
    li = t["lineitem"].df
    joined = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(t["orders"].df, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cus, F.col("o_custkey") == F.col("c_custkey"))
    )
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    num = F.when(F.col("nation") == "NATION_5", vol).otherwise(F.lit(0).cast(DEC))
    return (
        joined.withColumn("o_year", _year("o_orderdate"))
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(num).cast("double") / F.sum(vol).cast("double"), 6
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# ---------------------------------------------------------------------------
# q9 — product-line profit by supplier nation and year (no supplycost col)
# ---------------------------------------------------------------------------

@query(
    "q9_product_profit",
    oracle=f"""
    SELECT nation, o_year, {SQL_DSUM('amount')} AS sum_profit
    FROM (
      SELECT n.n_name AS nation,
             CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INTEGER) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS amount
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE p.p_name LIKE '%widget%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)
def q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape (adapted: no partsupp.ps_supplycost in the driver's
    schema, so profit = discounted revenue): substring-filtered part dim,
    4 joins, agg by (nation, year).

    Scale: the LIKE filter can't prune parquet row groups (no stats help)
    but part is a broadcast dim after it; supplier⋈nation broadcasts;
    lineitem⋈orders shuffles once on orderkey.
    """
    t = _t(spark, sf_dir, "lineitem", "part", "supplier", "orders", "nation")
    p = t["part"].df.filter(F.col("p_name").like("%widget%"))
    sup = t["supplier"].df.join(
        F.broadcast(t["nation"].df.select(F.col("n_nationkey").alias("s_nkey"),
                                          F.col("n_name").alias("nation"))),
        F.col("s_nationkey") == F.col("s_nkey"),
    )
    li = t["lineitem"].df
    joined = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(t["orders"].df, F.col("o_orderkey") == F.col("l_orderkey"))
    )
    return (
        joined.withColumn("o_year", _year("o_orderdate"))
        .groupBy("nation", "o_year")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_profit"))
        .orderBy(F.col("nation"), F.col("o_year").desc())
    )


# ---------------------------------------------------------------------------
# q11 — important part values (global-total threshold, multiply-form)
# ---------------------------------------------------------------------------

@query(
    "q11_important_values",
    oracle="""
    WITH pv AS (
      SELECT l_partkey AS partkey,
             SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(25,6))) AS val
      FROM lineitem GROUP BY l_partkey
    )
    SELECT partkey, CAST(val AS DOUBLE) AS part_value
    FROM pv
    WHERE val * (SELECT COUNT(*) FROM pv) * 2 > (SELECT SUM(val) FROM pv) * 3
    ORDER BY part_value DESC, partkey
    """,
)
def q11_important_values(spark, sf_dir):
    """TPC-H Q11 shape (adapted: value = extendedprice*quantity from
    lineitem instead of partsupp supplycost*availqty): per-key aggregate
    filtered against the global total.

    Threshold is DATA-ADAPTIVE — parts worth more than 1.5x the MEAN part
    value (``val * n_parts * 2 > total * 3``, the multiply-form so both
    engines compare exact decimals, no division scale differences).  The
    round-6 fixed-share form (``val * 2000 > total``) was the q6 class at
    a different SF: TPC-H scales Q11's fraction by 1/SF precisely because
    a fixed share empties as the key count grows — the 3-SF vacuity sweep
    caught it EMPTY at sf0.1 while green at the sf0.01 driver gate.
    Measured selectivity: 4/200 (sf0.001), 49/2000 (sf0.01), 514/20000
    (sf0.1).  Scale: one shuffle to agg per partkey; count+total are one
    scalar re-agg of the (already small) per-key result, broadcast back —
    no second pass over lineitem.
    """
    t = _t(spark, sf_dir, "lineitem")
    pv = (
        t["lineitem"].df.groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum((F.col("l_extendedprice") * F.col("l_quantity")).cast(DEC)).alias("val"))
    )
    total = pv.agg(
        F.sum("val").alias("total"), F.count(F.lit(1)).alias("nparts")
    )
    return (
        pv.join(F.broadcast(total))
        .filter(F.col("val") * F.col("nparts") * 2 > F.col("total") * 3)
        .select("partkey", F.col("val").cast("double").alias("part_value"))
        .orderBy(F.col("part_value").desc(), F.col("partkey"))
    )


# ---------------------------------------------------------------------------
# q13 — customer order-count distribution
# ---------------------------------------------------------------------------

@query(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape: left join with an extra join-side predicate, then
    a distribution-of-counts double aggregate.

    Scale: the predicate lives on the orders side *before* the join so
    the shuffle carries only qualifying rows; COUNT(o_orderkey) counts
    non-null matches, preserving zero-order customers from the left
    join.  Second agg groups ~distinct-count values — trivially small.
    """
    t = _t(spark, sf_dir, "customer", "orders")
    o = t["orders"].df.filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        t["customer"].df.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


# ---------------------------------------------------------------------------
# q15 — top supplier by revenue (max-equality join-back)
# ---------------------------------------------------------------------------

@query(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_rev = (SELECT MAX(total_rev) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: per-supplier revenue view, suppliers matching the
    global max (argmax via equality join-back).

    The max comparison is on the exact DECIMAL accumulation (cast to
    double only for output) so cross-engine equality is bit-safe.
    Scale: one shuffle for the per-supplier agg; the scalar max is a
    re-agg of that small result broadcast back — lineitem scanned once.
    """
    t = _t(spark, sf_dir, "lineitem", "supplier")
    rev = (
        t["lineitem"].df.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)).alias("total_rev"))
    )
    mx = rev.agg(F.max("total_rev").alias("max_rev"))
    return (
        rev.join(F.broadcast(mx), rev.total_rev == F.col("max_rev"))
        .join(t["supplier"].df, F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_revenue"))
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# q16 — supplier count by part attributes with NOT IN exclusion
# ---------------------------------------------------------------------------

@query(
    "q16_supplier_cnt",
    oracle="""
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#17'
      AND p_size IN (1, 5, 10, 15, 20, 25)
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0
      )
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q16_supplier_cnt(spark, sf_dir):
    """TPC-H Q16 shape (adapted: supplier-part association from lineitem,
    exclusion set = negative-balance suppliers instead of comment-matched
    ones): NOT IN over a non-null key == left-anti join; COUNT(DISTINCT)
    per group.

    Scale: the exclusion set is small -> broadcast anti join; part
    filters broadcast; distinct-count shuffles once on the group keys
    with partial distinct aggregation map-side.
    """
    t = _t(spark, sf_dir, "lineitem", "part", "supplier")
    p = t["part"].df.filter(
        (F.col("p_brand") != "Brand#17") & F.col("p_size").isin(1, 5, 10, 15, 20, 25)
    )
    bad = t["supplier"].df.filter(F.col("s_acctbal") < 0.0).select("s_suppkey")
    li = t["lineitem"].df.join(
        F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti"
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).cast("long").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


# ---------------------------------------------------------------------------
# q17 — small-quantity revenue vs per-part average (multiply-form)
# ---------------------------------------------------------------------------

@query(
    "q17_small_qty_revenue",
    oracle="""
    WITH li AS (
      SELECT l.*,
             SUM(CAST(l_quantity AS DECIMAL(25,6))) OVER (PARTITION BY l_partkey) AS part_qty_sum,
             COUNT(*) OVER (PARTITION BY l_partkey) AS part_cnt
      FROM lineitem l
    )
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) / 7.0 AS DOUBLE) AS avg_yearly
    FROM li JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#17'
      AND CAST(l_quantity AS DECIMAL(25,6)) * 5 * part_cnt < part_qty_sum
    """,
)
def q17_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 shape: rows below 20% of their part's average quantity.

    The correlated AVG is rewritten multiply-form
    (``qty * 5 * count < sum``) so the comparison is exact decimal
    arithmetic on both engines — no division, no float boundary flips.
    Because brand is a part attribute (functionally determined by
    l_partkey), computing the per-part window *after* the broadcast
    brand filter sees exactly the same per-part row set as the
    unfiltered correlated subquery, and scans ~1/25th of the data.
    Scale: broadcast dim filter, then one window shuffle on l_partkey —
    no self-join, single lineitem scan.
    """
    from pyspark.sql import Window

    t = _t(spark, sf_dir, "lineitem", "part")
    p = t["part"].df.filter(F.col("p_brand") == "Brand#17")
    w = Window.partitionBy("l_partkey")
    li = (
        t["lineitem"].df.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .withColumn("part_qty_sum", F.sum(F.col("l_quantity").cast(DEC)).over(w))
        .withColumn("part_cnt", F.count(F.lit(1)).over(w))
    )
    return li.filter(
        F.col("l_quantity").cast(DEC) * 5 * F.col("part_cnt") < F.col("part_qty_sum")
    ).agg(
        (F.sum(F.col("l_extendedprice").cast(DEC)) / 7.0).cast("double").alias("avg_yearly")
    )


# ---------------------------------------------------------------------------
# q18 — large-volume orders (HAVING-qualified keys)
# ---------------------------------------------------------------------------

@query(
    "q18_large_volume",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate,
           o_totalprice AS totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(25,6))) > 150
      )
      AND c_custkey = o_custkey AND o_orderkey = l_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q18_large_volume(spark, sf_dir):
    """TPC-H Q18 shape: orders whose total quantity exceeds a threshold,
    with customer context, top-100 by price.

    Implemented without the IN-subquery's second lineitem pass: the
    HAVING aggregate already carries sum_qty, so it joins straight to
    orders/customer.  Scale: one shuffle to agg lineitem by orderkey
    (map-side partial), the qualifying set is tiny -> broadcast into
    orders; top-100 fuses to TakeOrderedAndProject.
    """
    t = _t(spark, sf_dir, "customer", "orders", "lineitem")
    big = (
        t["lineitem"].df.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).alias("qty_dec"))
        .filter(F.col("qty_dec") > 150)
    )
    return (
        t["orders"].df.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["customer"].df, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            F.col("o_totalprice").alias("totalprice"),
            F.col("qty_dec").cast("double").alias("sum_qty"),
        )
        .orderBy(F.col("totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# q19 — discounted revenue, OR-of-conjunctions predicate
# ---------------------------------------------------------------------------

@query(
    "q19_discounted_revenue",
    oracle=f"""
    SELECT {SQL_DSUM('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#17' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#25' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
           AND l_quantity BETWEEN 20 AND 40)
    """,
)
def q19_discounted_revenue(spark, sf_dir):
    """TPC-H Q19 shape: disjunction of multi-column conjunctions across
    both join sides.

    Scale: Catalyst extracts the part-only disjunction
    (brand/size alternatives) as a derivable filter pushed to the part
    scan, shrinking the broadcast side; the mixed residual evaluates
    post-join in codegen.  Single scan each side, one broadcast join.
    """
    t = _t(spark, sf_dir, "lineitem", "part")
    li, p = t["lineitem"].df, t["part"].df
    joined = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    cond = (
        ((F.col("p_brand") == "Brand#17") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#25") & F.col("p_size").between(10, 30)
           & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50)
           & F.col("l_quantity").between(20, 40))
    )
    return joined.filter(cond).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )


# ---------------------------------------------------------------------------
# q22 — customers above average balance with no orders (multiply-form)
# ---------------------------------------------------------------------------

@query(
    "q22_sales_opportunity",
    oracle=f"""
    SELECT c_nationkey AS nationkey, COUNT(*) AS numcust,
           {SQL_DSUM('c_acctbal')} AS totacctbal
    FROM customer
    CROSS JOIN (
      SELECT SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS bal_sum, COUNT(*) AS bal_cnt
      FROM customer WHERE c_acctbal > 0.0
    ) avg_bal
    WHERE CAST(c_acctbal AS DECIMAL(25,6)) * bal_cnt > bal_sum
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def q22_sales_opportunity(spark, sf_dir):
    """TPC-H Q22 shape (adapted: grouped by nationkey — the driver's
    schema has no phone column for country codes): customers with
    above-average balance and no OPEN orders.  The anti-exists is
    restricted to open-status orders because in the synthetic data every
    customer has SOME order below sf0.1 — the unrestricted Q22 predicate
    returned zero rows at sf0.001 AND at the driver's sf0.01 gate, a
    vacuous 0=0 hash match (round-6 vacuity audit); the restricted form
    keeps the exact Q22 plan shape (scalar avg subquery + anti join) and
    is non-empty at every test SF.

    The AVG threshold is multiply-form (``bal * n > sum``) for exact
    decimal comparison on both engines.  Scale: the scalar (sum, count)
    aggregates map-side and broadcasts; NOT EXISTS is a left-anti join
    shuffling on custkey (orders projected to key + status, filter
    pushed to the scan); final agg groups ≤25 nations.
    """
    t = _t(spark, sf_dir, "customer", "orders")
    cust = t["customer"].df
    stats = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum(F.col("c_acctbal").cast(DEC)).alias("bal_sum"),
        F.count(F.lit(1)).alias("bal_cnt"),
    )
    rich = cust.join(F.broadcast(stats)).filter(
        F.col("c_acctbal").cast(DEC) * F.col("bal_cnt") > F.col("bal_sum")
    )
    no_orders = rich.join(
        t["orders"]
        .df.where(F.col("o_orderstatus") == "O")
        .select("o_custkey"),
        F.col("c_custkey") == F.col("o_custkey"),
        "left_anti",
    )
    return (
        no_orders.groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("numcust"), dsum("c_acctbal").alias("totacctbal"))
        .orderBy("nationkey")
    )


# ---------------------------------------------------------------------------
# q2 — min-balance supplier per part (argmin join-back)
# ---------------------------------------------------------------------------

@query(
    "q2_min_supplier",
    oracle="""
    WITH sp AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    m AS (
      SELECT sp.l_partkey AS partkey, MIN(s.s_acctbal) AS min_bal
      FROM sp JOIN supplier s ON sp.l_suppkey = s.s_suppkey
      GROUP BY sp.l_partkey
    )
    SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_name
    FROM part p
    JOIN sp ON sp.l_partkey = p.p_partkey
    JOIN supplier s ON s.s_suppkey = sp.l_suppkey
    JOIN m ON m.partkey = p.p_partkey AND s.s_acctbal = m.min_bal
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE p.p_size = 15 AND p.p_type = 'ECONOMY'
    ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
    LIMIT 100
    """,
)
def q2_min_supplier(spark, sf_dir):
    """TPC-H Q2 shape (adapted: the supplier-part relation comes from
    lineitem distinct pairs — no partsupp table — and 'min cost' is min
    supplier account balance): correlated-min subquery as an argmin
    equality join-back.

    The min comparison is equality against an actual stored double (no
    arithmetic), so it is engine-safe.  Scale: distinct (part, supp)
    pairs shuffle once; the per-part min is a small agg broadcast back;
    part filter + nation are broadcast dims; top-100 fuses.
    """
    t = _t(spark, sf_dir, "lineitem", "part", "supplier", "nation")
    p = t["part"].df.filter((F.col("p_size") == 15) & (F.col("p_type") == "ECONOMY"))
    sp = (
        t["lineitem"].df.join(
            F.broadcast(p.select("p_partkey", "p_name")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select("p_partkey", "p_name", "l_suppkey")
        .distinct()
    )
    sps = sp.join(t["supplier"].df, F.col("l_suppkey") == F.col("s_suppkey"))
    m = sps.groupBy(F.col("p_partkey").alias("partkey")).agg(
        F.min("s_acctbal").alias("min_bal")
    )
    return (
        sps.join(
            F.broadcast(m),
            (F.col("p_partkey") == F.col("partkey"))
            & (F.col("s_acctbal") == F.col("min_bal")),
        )
        .join(
            F.broadcast(
                t["nation"].df.select(F.col("n_nationkey").alias("nkey"), "n_name")
            ),
            F.col("s_nationkey") == F.col("nkey"),
        )
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name")
        .orderBy(
            F.col("s_acctbal").desc(), F.col("n_name"), F.col("s_name"), F.col("p_partkey")
        )
        .limit(100)
    )


# ---------------------------------------------------------------------------
# q20 — potential part promotion (suppliers dominating a part's volume)
# ---------------------------------------------------------------------------

@query(
    "q20_potential_promotion",
    oracle="""
    WITH sp AS (
      SELECT l_partkey, l_suppkey,
             SUM(CAST(l_quantity AS DECIMAL(25,6))) AS qty
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE 'small%'
        AND l_shipdate >= TIMESTAMP '1995-01-01'
        AND l_shipdate < TIMESTAMP '1996-01-01'
      GROUP BY l_partkey, l_suppkey
    ),
    tot AS (
      SELECT l_partkey AS pk, SUM(qty) AS part_qty FROM sp GROUP BY l_partkey
    )
    SELECT s_name, s_acctbal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_7'
      AND s_suppkey IN (
        SELECT l_suppkey FROM sp JOIN tot ON pk = l_partkey
        WHERE qty * 2 > part_qty
      )
    ORDER BY s_name
    """,
)
def q20_potential_promotion(spark, sf_dir):
    """TPC-H Q20 shape (adapted: no partsupp/availqty in the driver's
    schema — 'excess availability' becomes 'supplier shipped more than
    half of the part's 1995 volume'): nested IN-subqueries collapsing to
    a correlated share-of-total threshold plus a semi join.

    The share threshold is multiply-form (``qty * 2 > part_qty``) —
    exact decimal comparison, no division.  Scale: part filter broadcasts
    into the lineitem scan; ONE big shuffle to agg (part, supp); the
    per-part total is a window over the already-tiny agg frame; the
    qualifying supplier set semi-joins into the nation-filtered supplier
    dim.  No self-join of lineitem, single fact scan.

    Reference: datafusion's TPC-H q20 (benchmarks/queries/q20.sql) is
    SQL-reachable via ctx.sql (src/context.rs:166-172).
    """
    from pyspark.sql import Window

    t = _t(spark, sf_dir, "lineitem", "part", "supplier", "nation")
    p = t["part"].df.filter(F.col("p_name").like("small%")).select("p_partkey")
    sp = (
        t["lineitem"].df.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp_ntz"))
        )
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).alias("qty"))
    )
    w = Window.partitionBy("l_partkey")
    qual = (
        sp.withColumn("part_qty", F.sum("qty").over(w))
        .filter(F.col("qty") * 2 > F.col("part_qty"))
        .select("l_suppkey")
    )
    nat = t["nation"].df.filter(F.col("n_name") == "NATION_7").select("n_nationkey")
    return (
        t["supplier"].df.join(
            F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .join(qual, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


# ---------------------------------------------------------------------------
# q21 — suppliers who kept orders waiting (EXISTS / NOT EXISTS)
# ---------------------------------------------------------------------------

@query(
    "q21_suppliers_waiting",
    oracle="""
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier, lineitem l1, orders, nation
    WHERE s_suppkey = l1.l_suppkey
      AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND l1.l_shipdate >= o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate >= o_orderdate + INTERVAL 60 DAY
      )
      AND s_nationkey = n_nationkey AND n_name = 'NATION_3'
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
)
def q21_suppliers_waiting(spark, sf_dir):
    """TPC-H Q21 shape (adapted: no commit/receipt dates — 'late' is
    l_shipdate >= o_orderdate + 60 days): the sole supplier who shipped
    late on a multi-supplier finished order.

    The oracle keeps the canonical EXISTS / NOT-EXISTS formulation; the
    Spark plan is the single-scan rewrite — per-(order, supplier) grain
    collapsed to per-order counts:

      late(l1) AND EXISTS(other supp)      <=> n_supp > 1
      AND NOT EXISTS(other late supp)      <=> n_late_supp = 1

    so the hash-match doubles as a proof of the rewrite's equivalence.
    Scale: ONE lineitem scan joined against the 3-column orders
    projection.  At scale that join is sort-merge on orderkey, and both
    the (order, supp) aggregate and the order-grain aggregate that
    replaces the former window pass reuse its hash(l_orderkey)
    partitioning (a subset / prefix of the group keys satisfies the
    clustering requirement) — no further full-size exchange and no sort.  At bench scale orders broadcasts instead, which trades
    those savings for two skinny-row exchanges; that is the right trade
    in both regimes, so no join hint is forced.  The nation-filtered
    supplier dim broadcasts into the tiny qualifying set.

    Reference: datafusion's TPC-H q21 (benchmarks/queries/q21.sql) is
    SQL-reachable via ctx.sql (src/context.rs:166-172).
    """
    from pyspark.sql import Window

    t = _t(spark, sf_dir, "lineitem", "orders", "supplier", "nation")
    # o_orderstatus = 'F' is pushed to the ORDERS SCAN (r12): the status
    # is an attribute of the order, constant across every lineitem the
    # inner join keeps, and the EXISTS/NOT-EXISTS subqueries only range
    # over lineitems of the SAME order — so dropping non-F orders before
    # the join removes exactly the orders the old order-grain
    # max(__isF) == 1 filter discarded at the end, with every surviving
    # order's n_supp / n_late_supp / late_rows computed from the same
    # rows.  ~half the orders (and their lineitems) now never reach the
    # join, the repartition exchange, or either aggregate, and the
    # predicate lands in the scan's PushedFilters.
    lo = t["lineitem"].df.select("l_orderkey", "l_suppkey", "l_shipdate").join(
        t["orders"].df.filter(F.col("o_orderstatus") == "F").select(
            "o_orderkey", "o_orderdate"
        ),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    is_late = (
        F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    ).cast("int")
    # The explicit repartition on l_orderkey alone establishes ONE
    # exchange that satisfies both this aggregate (clustering by a
    # superset-keyed group (ok, sk) accepts hash(ok)) and the order-grain
    # aggregate below — the groupBy's natural hash(ok, sk) partitioning
    # would force a second data-sized exchange.
    g = (
        lo.withColumn("__late", is_late)
        .repartition(F.col("l_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.sum("__late").alias("late_rows"),
        )
    )
    # Order-grain aggregate instead of the per-order window pair (r11,
    # OPTIMIZATION_r11.md §15: identical 37-row output, 0.76 -> 0.70 s noop at
    # sf0.1): the window computed n_supp / n_late_supp per (order, supp)
    # row and then FILTERED to the single late supplier — but when exactly
    # one supplier in the order is late, max(when(late, sk)) IS that
    # supplier and sum(when(late, late_rows)) is its late-line count, so a
    # second HashAggregate to l_orderkey grain answers the same question
    # without the Window operator's full sort of the (order, supp) frame.
    # It rides the same hash(l_orderkey) exchange the first aggregate
    # established (group key is a prefix of the clustering), so the plan
    # keeps ONE data-sized exchange and drops the Sort + Window entirely —
    # at scale that is a sort of billions of rows replaced by a hash
    # aggregate.  (The former max(__isF) order-status carry is gone: the
    # status filter now lives in the orders scan above.)
    late = F.col("late_rows") > 0
    qual = (
        g.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_supp"),
            F.sum(late.cast("int")).alias("n_late_supp"),
            F.max(F.when(late, F.col("l_suppkey"))).alias("l_suppkey"),
            F.sum(F.when(late, F.col("late_rows"))).alias("late_rows"),
        )
        .filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
    )
    sup = t["supplier"].df.join(
        F.broadcast(
            t["nation"].df.filter(F.col("n_name") == "NATION_3").select("n_nationkey")
        ),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )
    return (
        qual.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.sum("late_rows").cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(100)
    )
