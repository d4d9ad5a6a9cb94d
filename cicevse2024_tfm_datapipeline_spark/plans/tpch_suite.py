"""TPC-H completion wave: the 13 query shapes not yet covered by
``core_relational`` (Q1) and ``advanced`` (Q3/Q4/Q5/Q7/Q10/Q12/Q14/Q18),
adapted to the synthetic schema (no partsupp, no commit/receipt dates, no
comment/phone columns — each adaptation keeps the defining plan shape:
correlated-min decorrelation, scalar subqueries, nested EXISTS/NOT-EXISTS,
disjunctive join residuals, outer-join histograms).

Determinism contract: every float SUM whose accumulation order differs
between engines is computed on scaled integers — ``floor(x·10⁴ + 0.5)``
cast to BIGINT sums exactly in any order — then divided back once at the
end (an exact-int / constant division is bit-identical everywhere). Plain
doubles pass through untouched only when no re-accumulation happens.

Scale notes (100 TB): region/nation/supplier/part are broadcast dims;
every EXISTS/NOT-EXISTS decorrelates to a left-semi / left-anti equi-join
on the orderkey (no correlated per-row subplans); scalar subqueries
(Q11/Q15/Q17/Q22 thresholds) are 1-row broadcast crossJoins, not driver
collects; all fact-fact joins shuffle on their natural keys and benefit
from AQE skew splitting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cicevse2024_tfm_datapipeline_spark.plans.common import pround, t
from cicevse2024_tfm_datapipeline_spark.plans.registry import register


def _scaled(col: Column, scale: int = 10000) -> Column:
    """floor(x·scale + 0.5) as BIGINT — the order-independent exact-sum
    representation (DuckDB twin: CAST(floor(x * scale + 0.5) AS BIGINT))."""
    return F.floor(col * F.lit(float(scale)) + F.lit(0.5)).cast("long")


_REV = "CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT)"


def _rev() -> Column:
    return _scaled(F.col("l_extendedprice") * (1 - F.col("l_discount")))


# ---------------------------------------------------------------------------
# Q2 — minimum-cost supplier (correlated MIN decorrelation)
# ---------------------------------------------------------------------------


@register(
    "tpch_q2_min_cost_supplier",
    oracle="""
    WITH supply AS (
        SELECT l_partkey, l_suppkey,
               min(l_extendedprice / l_quantity) AS unit_cost
        FROM lineitem GROUP BY 1, 2
    ),
    eligible AS (
        SELECT sp.l_partkey, sp.unit_cost, s.s_name, s.s_acctbal, n.n_name
        FROM supply sp
        JOIN supplier s ON sp.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'EUROPE'
    ),
    best AS (
        SELECT l_partkey, min(unit_cost) AS best_cost FROM eligible GROUP BY 1
    )
    SELECT p.p_partkey, p.p_brand, e.s_name, e.n_name, e.s_acctbal,
           round(e.unit_cost, 6) AS unit_cost
    FROM eligible e
    JOIN best b ON e.l_partkey = b.l_partkey AND e.unit_cost = b.best_cost
    JOIN part p ON e.l_partkey = p.p_partkey
    WHERE p.p_size <= 10 AND p.p_type = 'STANDARD'
    """,
    doc="TPC-H Q2 shape (minimum-cost supplier): the correlated "
    "`unit_cost = (SELECT min ...)` subquery decorrelates to a per-part "
    "MIN aggregate joined back on (partkey, unit_cost) — the classic "
    "argmin-via-self-join. lineitem stands in for partsupp (unit cost = "
    "min extendedprice/quantity per part-supplier pair); supplier/nation/"
    "region are broadcast dims so the only shuffles are the two partkey "
    "aggregations. The double equality join is exact: min() returns an "
    "element of the set and both engines derive it from identical stored "
    "doubles.",
    tags=("J", "tpch", "argmin"),
)
def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
    supply = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    sup = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_acctbal", "s_nationkey")
    nat = t(spark, sf_dir, "nation")
    reg = t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    dims = F.broadcast(
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), F.col("n_regionkey") == reg.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    eligible = supply.join(dims, supply.l_suppkey == dims.s_suppkey).select(
        "l_partkey", "unit_cost", "s_name", "s_acctbal", "n_name"
    )
    # argmin WITHOUT a self-join: rank over a per-part window keeps ties
    # (all suppliers at the min survive, the Q2 contract) and scans
    # lineitem ONCE — the min-agg + equality-join-back alternative
    # re-executes the whole supply subtree for the aggregate branch
    # (observed as a second full lineitem scan in the audited plan)
    from pyspark.sql import Window as W

    wmin = W.partitionBy("l_partkey").orderBy(F.col("unit_cost").asc())
    prt = t(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 10) & (F.col("p_type") == "STANDARD")
    ).select("p_partkey", "p_brand")
    return (
        eligible.withColumn("__rk", F.rank().over(wmin))
        .filter(F.col("__rk") == 1)
        .join(prt, F.col("l_partkey") == prt.p_partkey)
        .select(
            "p_partkey", "p_brand", "s_name", "n_name", "s_acctbal",
            pround(F.col("unit_cost"), 6).alias("unit_cost"),
        )
    )


# ---------------------------------------------------------------------------
# Q6 — forecasting revenue change (pure scan-side filter + exact sum)
# ---------------------------------------------------------------------------


@register(
    "tpch_q6_forecast_revenue",
    oracle=f"""
    SELECT sum(CAST(floor(l_extendedprice * l_discount * 10000 + 0.5) AS BIGINT))
               / 10000.0 AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 (forecast revenue change): the canonical full-pushdown "
    "query — every predicate (date window, discount band, quantity cap) "
    "reaches the parquet scan as a PushedFilter, the projection prunes to "
    "3 columns, and the single global aggregate is map-side combined to "
    "one row per partition. The revenue sum runs on scaled BIGINTs so "
    "accumulation order cannot perturb the result.",
    tags=("A", "tpch", "pushdown"),
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (F.sum(_scaled(F.col("l_extendedprice") * F.col("l_discount"))) / F.lit(10000.0)).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Q8 — national market share (two nation roles, ratio-of-sums)
# ---------------------------------------------------------------------------


@register(
    "tpch_q8_market_share",
    oracle=f"""
    WITH vol AS (
        SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
               {_REV} AS volume,
               sn.n_name AS supp_nation
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        JOIN region r ON cn.n_regionkey = r.r_regionkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE r.r_name = 'AMERICA' AND p.p_type = 'PROMO'
          AND o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    )
    SELECT o_year,
           round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
                 * 1.0 / sum(volume), 6) AS mkt_share,
           CAST(sum(volume) AS BIGINT) AS total_volume_scaled
    FROM vol GROUP BY o_year
    """,
    doc="TPC-H Q8 shape (national market share): nation joins twice in two "
    "roles (customer side filters the market region, supplier side labels "
    "the share numerator) — both roles are broadcast, as are region/"
    "supplier/part, so the only shuffles are the two fact-fact equi-joins "
    "(lineitem⋈orders on orderkey, then custkey). The share is a ratio of "
    "exact scaled-integer sums → bit-stable across engines.",
    tags=("J", "tpch"),
)
def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_partkey", "l_extendedprice", "l_discount"
    )
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = t(spark, sf_dir, "nation")
    reg = t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    cust_in_region = cust.join(
        F.broadcast(
            nat.join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
            .select("n_nationkey")
        ),
        cust.c_nationkey == F.col("n_nationkey"),
        "left_semi",
    )
    sup_nat = F.broadcast(
        t(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(F.broadcast(nat.select("n_nationkey", F.col("n_name").alias("supp_nation"))),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "supp_nation")
    )
    promo = F.broadcast(
        t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    )
    vol = (
        li.join(promo, li.l_partkey == promo.p_partkey, "left_semi")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust_in_region.select("c_custkey"), orders.o_custkey == F.col("c_custkey"), "left_semi")
        .join(sup_nat, li.l_suppkey == sup_nat.s_suppkey)
        .select(
            F.year("o_orderdate").alias("o_year"),
            _rev().alias("volume"),
            "supp_nation",
        )
    )
    num = F.sum(F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(F.lit(0)))
    return vol.groupBy("o_year").agg(
        pround(num * F.lit(1.0) / F.sum("volume"), 6).alias("mkt_share"),
        F.sum("volume").cast("long").alias("total_volume_scaled"),
    )


# ---------------------------------------------------------------------------
# Q9 — product-type profit (amount expression, nation × year rollup)
# ---------------------------------------------------------------------------


@register(
    "tpch_q9_product_profit",
    oracle="""
    SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
           sum(CAST(floor((l.l_extendedprice * (1 - l.l_discount)
                           - 0.5 * p.p_retailprice * l.l_quantity) * 100 + 0.5)
                    AS BIGINT)) / 100.0 AS sum_profit
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_name LIKE '%bolt%'
    GROUP BY 1, 2
    """,
    doc="TPC-H Q9 shape (product-type profit): profit per (supplier "
    "nation, order year) for parts matching a name pattern. partsupp's "
    "supplycost is absent from the synthetic schema; 0.5·p_retailprice·"
    "quantity is the cost stand-in, keeping the multi-column amount "
    "expression that must be computed pre-aggregation. part (LIKE-filtered) "
    "and supplier→nation are broadcast; the one big shuffle is "
    "lineitem⋈orders on orderkey, then a nation×year hash-agg over exact "
    "cent-scaled integers.",
    tags=("J", "tpch"),
)
def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_partkey", "l_extendedprice", "l_discount", "l_quantity"
    )
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    nat = t(spark, sf_dir, "nation")
    sup_nat = F.broadcast(
        t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
        .join(F.broadcast(nat.select("n_nationkey", F.col("n_name").alias("nation"))),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "nation")
    )
    bolts = F.broadcast(
        t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%bolt%"))
        .select("p_partkey", "p_retailprice")
    )
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.5) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(bolts, li.l_partkey == bolts.p_partkey)
        .join(sup_nat, li.l_suppkey == sup_nat.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg((F.sum(_scaled(amount, 100)) / F.lit(100.0)).alias("sum_profit"))
    )


# ---------------------------------------------------------------------------
# Q11 — important value concentration (HAVING vs scalar subquery)
# ---------------------------------------------------------------------------


@register(
    "tpch_q11_important_value",
    oracle="""
    WITH vals AS (
        SELECT l.l_partkey,
               sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)) AS value_cents
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE n.n_name IN ('NATION_7', 'NATION_8')
        GROUP BY 1
    )
    SELECT l_partkey, value_cents / 100.0 AS part_value
    FROM vals, (SELECT sum(value_cents) AS total_cents FROM vals) tot
    WHERE value_cents * 1200 > total_cents
    """,
    doc="TPC-H Q11 shape (important value concentration): a grouped sum "
    "filtered by a HAVING threshold that is itself a scalar subquery over "
    "the same aggregate (> 1/500 of total). The scalar lands as a 1-row "
    "broadcast crossJoin — no driver collect, no second scan of lineitem "
    "(the grouped frame is reused for both sides). The threshold compare "
    "is integer-exact: value·1200 > total on cent-scaled BIGINTs, so no "
    "float boundary can flip membership between engines.",
    tags=("A", "tpch", "scalar-subquery"),
)
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_extendedprice")
    nat = t(spark, sf_dir, "nation").filter(F.col("n_name").isin("NATION_7", "NATION_8"))
    sup = F.broadcast(
        t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
        .join(F.broadcast(nat.select("n_nationkey")), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .select("s_suppkey")
    )
    vals = (
        li.join(sup, li.l_suppkey == sup.s_suppkey, "left_semi")
        .groupBy("l_partkey")
        .agg(F.sum(_scaled(F.col("l_extendedprice"), 100)).alias("value_cents"))
        # two consumers (the filter side and the scalar total) — pin the
        # per-part aggregate so the lineitem scan+agg runs once, not per
        # branch (same multi-consumer discipline as operators/scan)
        .localCheckpoint(eager=False)
    )
    total = vals.agg(F.sum("value_cents").alias("total_cents"))
    return (
        vals.crossJoin(F.broadcast(total))
        .filter(F.col("value_cents") * 1200 > F.col("total_cents"))
        .select("l_partkey", (F.col("value_cents") / F.lit(100.0)).alias("part_value"))
    )


# ---------------------------------------------------------------------------
# Q13 — customer order-count distribution (outer join → double group)
# ---------------------------------------------------------------------------


@register(
    "tpch_q13_custdist",
    oracle="""
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
        SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
        FROM customer c
        LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
    doc="TPC-H Q13 (customer distribution): LEFT OUTER join with the "
    "filter in the JOIN CONDITION (not WHERE — customers with zero "
    "qualifying orders must survive with c_count 0), then a two-level "
    "aggregation: per-customer order count, then the histogram of those "
    "counts. The priority filter stands in for the comment NOT LIKE of "
    "real TPC-H. First agg shuffles on custkey (same key as the join, so "
    "AQE coalesces into one exchange); the histogram agg moves only "
    "(count, 1) pairs.",
    tags=("J", "tpch", "outer"),
)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer").select("c_custkey")
    orders = t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    per_cust = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).cast("long").alias("custdist"))


# ---------------------------------------------------------------------------
# Q15 — top supplier (aggregate view + scalar MAX equality)
# ---------------------------------------------------------------------------


@register(
    "tpch_q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               sum({_REV}) AS total_rev_scaled
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name,
           r.total_rev_scaled / 10000.0 AS total_revenue
    FROM revenue r
    JOIN supplier s ON s.s_suppkey = r.supplier_no
    WHERE r.total_rev_scaled = (SELECT max(total_rev_scaled) FROM revenue)
    """,
    doc="TPC-H Q15 (top supplier): a quarter-scoped revenue aggregate "
    "reused twice — once as the join input, once reduced to its scalar "
    "MAX for the equality filter. The engine computes the aggregate one "
    "time and crossJoins the broadcast 1-row max (the view-reuse the spec "
    "mandates); the max-equality compare runs on exact scaled BIGINTs so "
    "ties and boundaries are engine-independent.",
    tags=("A", "tpch", "argmax"),
)
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_rev()).alias("total_rev_scaled"))
        # the view is consumed twice (join input + scalar MAX) — pin the
        # supplier-level aggregate so lineitem scans once
        .localCheckpoint(eager=False)
    )
    best = revenue.agg(F.max("total_rev_scaled").alias("best_scaled"))
    sup = F.broadcast(t(spark, sf_dir, "supplier").select("s_suppkey", "s_name"))
    return (
        revenue.crossJoin(F.broadcast(best))
        .filter(F.col("total_rev_scaled") == F.col("best_scaled"))
        .join(sup, F.col("supplier_no") == sup.s_suppkey)
        .select(
            "s_suppkey", "s_name",
            (F.col("total_rev_scaled") / F.lit(10000.0)).alias("total_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Q16 — supplier count by part descriptor (NOT IN → anti join, distinct agg)
# ---------------------------------------------------------------------------


@register(
    "tpch_q16_parts_supplier",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    """,
    doc="TPC-H Q16 shape (parts/supplier relationship): negated "
    "predicates + IN-list on the part descriptor, a NOT IN subquery that "
    "decorrelates to a left-anti join against the excluded supplier set "
    "(negative balance stands in for the complaints LIKE of real TPC-H), "
    "and COUNT(DISTINCT suppkey) per descriptor triple — Spark plans the "
    "distinct as a two-phase expand/agg, so the shuffle carries "
    "(brand,type,size,suppkey) pairs once each. lineitem stands in for "
    "partsupp as the part↔supplier association.",
    tags=("A", "tpch", "anti", "distinct"),
)
def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    prt = F.broadcast(
        t(spark, sf_dir, "part").filter(
            (F.col("p_brand") != "Brand#1")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
        ).select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad_sup = F.broadcast(
        t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    )
    return (
        li.join(bad_sup, li.l_suppkey == bad_sup.s_suppkey, "left_anti")
        .join(prt, F.col("l_partkey") == prt.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# Q17 — small-quantity-order revenue (correlated AVG decorrelation)
# ---------------------------------------------------------------------------


@register(
    "tpch_q17_small_qty_revenue",
    oracle="""
    WITH pa AS (
        SELECT l_partkey, avg(l_quantity) AS avg_qty FROM lineitem GROUP BY 1
    )
    SELECT round(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
                 / 100.0 / 7.0, 4) AS avg_yearly,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN pa ON l.l_partkey = pa.l_partkey
    WHERE p.p_brand = 'Brand#9' AND l.l_quantity < 0.2 * pa.avg_qty
    """,
    doc="TPC-H Q17 (small-quantity-order revenue): the correlated "
    "`l_quantity < 0.2 * (SELECT avg ...)` decorrelates to a per-part AVG "
    "aggregate joined back on partkey — one extra shuffle instead of a "
    "per-row subplan. The AVG is exact in both engines (quantities are "
    "small integers; their double sums are order-independent below 2^53), "
    "so the 0.2·avg threshold is bit-identical; the final revenue sum is "
    "cent-scaled. Brand filter is a broadcast semi join pushed below the "
    "avg join.",
    tags=("A", "tpch", "decorrelate"),
)
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice")
    brand = F.broadcast(
        t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#9").select("p_partkey")
    )
    # the per-part AVG is only consumed for brand parts — push the brand
    # semi-join BELOW the aggregate and pin the filtered slice, so ONE
    # brand-pruned lineitem scan feeds both the avg and the revenue side
    # (the unfiltered version scanned lineitem twice, once of them full)
    li_brand = li.join(brand, li.l_partkey == brand.p_partkey, "left_semi").localCheckpoint(
        eager=False
    )
    pa = li_brand.groupBy("l_partkey").agg(F.avg("l_quantity").alias("avg_qty"))
    return (
        li_brand.join(pa, "l_partkey")
        .filter(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
        .agg(
            pround(
                F.sum(_scaled(F.col("l_extendedprice"), 100)) / F.lit(100.0) / F.lit(7.0), 4
            ).alias("avg_yearly"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Q19 — discounted revenue (disjunctive multi-column join residual)
# ---------------------------------------------------------------------------


@register(
    "tpch_q19_disjunctive_revenue",
    oracle=f"""
    SELECT coalesce(sum({_REV}), 0) / 10000.0 AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#7' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19 (discounted revenue): the three-way OR of (brand, "
    "size-range, quantity-range) triples stays a single equi-join on "
    "partkey with the disjunction as a post-join residual — NOT three "
    "separate joins unioned. The part side pre-filters to the union of "
    "the brand/size envelopes (derivable from the disjunction) and "
    "broadcasts; quantity conditions involve both sides so they remain "
    "residual. coalesce guards the empty-match sum.",
    tags=("J", "tpch", "disjunctive"),
)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    prt = F.broadcast(
        t(spark, sf_dir, "part")
        .filter(
            ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(1, 5))
            | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10))
            | ((F.col("p_brand") == "Brand#7") & F.col("p_size").between(1, 15))
        )
        .select("p_partkey", "p_brand", "p_size")
    )
    cond = (
        ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(1, 5) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#7") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(20, 30))
    )
    return (
        li.join(prt, li.l_partkey == prt.p_partkey)
        .filter(cond)
        .agg(
            (F.coalesce(F.sum(_rev()), F.lit(0)) / F.lit(10000.0)).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Q20 — potential part promotion (nested semi-join chain)
# ---------------------------------------------------------------------------


@register(
    "tpch_q20_promotion_suppliers",
    oracle="""
    WITH redparts AS (
        SELECT p_partkey FROM part WHERE p_name LIKE 'red%'
    ),
    shipped AS (
        SELECT l_suppkey,
               sum(CAST(l_quantity AS BIGINT)) AS qty
        FROM lineitem
        JOIN redparts ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY 1
        HAVING sum(CAST(l_quantity AS BIGINT)) > 50
    )
    SELECT s.s_suppkey, s.s_name, n.n_name,
           CAST(sh.qty AS BIGINT) AS shipped_qty
    FROM supplier s
    JOIN shipped sh ON s.s_suppkey = sh.l_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name IN ('NATION_5', 'NATION_12', 'NATION_21')
    """,
    doc="TPC-H Q20 shape (potential part promotion): the nested "
    "IN-subquery chain (suppliers ⊃ shipped-enough ⊃ red parts) becomes a "
    "semi-join ladder — red parts broadcast into the lineitem scan, a "
    "suppkey aggregate applies the volume HAVING on exact integer "
    "quantities (partsupp availqty is absent; the >50 shipped-quantity "
    "threshold keeps the compare-against-aggregate shape), and the "
    "surviving supplier keys join the broadcast supplier×nation dim. No "
    "step materializes more than (suppkey, qty) pairs.",
    tags=("J", "tpch", "semi"),
)
def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    red = F.broadcast(
        t(spark, sf_dir, "part").filter(F.col("p_name").like("red%")).select("p_partkey")
    )
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("l_partkey", "l_suppkey", "l_quantity")
    shipped = (
        li.join(red, li.l_partkey == red.p_partkey, "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("qty"))
        .filter(F.col("qty") > 50)
    )
    nat = t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_5", "NATION_12", "NATION_21")
    )
    sup = F.broadcast(
        t(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
        .select("s_suppkey", "s_name", "n_name")
    )
    return shipped.join(sup, shipped.l_suppkey == sup.s_suppkey).select(
        "s_suppkey", "s_name", "n_name", F.col("qty").cast("long").alias("shipped_qty")
    )


# ---------------------------------------------------------------------------
# Q21 — suppliers who kept orders waiting (EXISTS + NOT EXISTS)
# ---------------------------------------------------------------------------


@register(
    "tpch_q21_waiting_suppliers",
    oracle="""
    WITH late AS (
        SELECT DISTINCT l.l_orderkey, l.l_suppkey
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderstatus = 'F'
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    )
    SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM late l1
    JOIN supplier s ON l1.l_suppkey = s.s_suppkey
    WHERE EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
    )
    AND NOT EXISTS (
        SELECT 1 FROM late l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
    )
    GROUP BY s.s_name
    """,
    doc="TPC-H Q21 shape (suppliers who kept orders waiting): the paired "
    "EXISTS / NOT-EXISTS correlated subqueries decorrelate to a left-semi "
    "join (some OTHER supplier has a line in the order) followed by a "
    "left-anti self-join on the late set (no OTHER supplier was late) — "
    "both equi-joins on orderkey with the supplier-inequality as residual. "
    "Late = shipped >60 days after an order in final status (commit/"
    "receipt dates are absent from the synthetic schema). The late set is "
    "deduped to (orderkey, suppkey) before the self-joins so fanout never "
    "exceeds the supplier count per order.",
    tags=("J", "tpch", "semi", "anti"),
)
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r11 restructure (guide §2.3/§2.4): the decorrelated EXISTS /
    # NOT-EXISTS pair used to run as a left-semi + left-anti self-join,
    # each an equi-join on orderkey with the supplier-inequality as a
    # RESIDUAL — which forced a full distinct of (orderkey, suppkey)
    # over lineitem as the semi probe and three consumers of the pinned
    # late set. Both subqueries are per-ORDER set predicates, so they
    # fold into aggregations:
    #   NOT EXISTS (other late supplier)  ⟺  the order has exactly ONE
    #     late (orderkey, suppkey) row — and max(suppkey) over that
    #     1-row group IS the lone supplier, so the anti join AND the
    #     join-back to late both disappear;
    #   EXISTS (other supplier on the order)  ⟺  the order has >= 2
    #     distinct suppliers in lineitem ((k,s) itself is a lineitem, so
    #     "some other supplier" ⟺ distinct count >= 2) — countDistinct
    #     partial-aggregates map-side, replacing the lines.distinct()
    #     shuffle + residual semi join with one two-phase aggregate and
    #     a residual-free equi-join on 1-row-per-order frames.
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    late = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    solo = (
        late.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("__nl"),
            F.max("l_suppkey").alias("l_suppkey"),
        )
        .filter(F.col("__nl") == 1)
        .select("l_orderkey", "l_suppkey")
    )
    multi = (
        li.groupBy("l_orderkey")
        .agg(F.countDistinct("l_suppkey").alias("__ns"))
        .filter(F.col("__ns") >= 2)
        .select("l_orderkey")
    )
    sup = F.broadcast(t(spark, sf_dir, "supplier").select("s_suppkey", "s_name"))
    return (
        solo.join(multi, "l_orderkey")
        .join(sup, solo.l_suppkey == sup.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
    )


# ---------------------------------------------------------------------------
# Q22 — global sales opportunity (anti join + scalar AVG threshold)
# ---------------------------------------------------------------------------


@register(
    "tpch_q22_sales_opportunity",
    oracle="""
    WITH pool AS (
        SELECT c_custkey, c_nationkey % 10 AS cntrycode,
               CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
        FROM customer
        WHERE c_nationkey % 10 IN (1, 3, 5, 7, 9)
    ),
    thresh AS (
        SELECT sum(bal_cents) * 1.0 / count(*) AS avg_cents
        FROM pool WHERE bal_cents > 0
    )
    SELECT p.cntrycode, CAST(count(*) AS BIGINT) AS numcust,
           sum(p.bal_cents) / 100.0 AS totacctbal
    FROM pool p, thresh
    WHERE p.bal_cents > thresh.avg_cents
      AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = p.c_custkey
            AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
      )
    GROUP BY p.cntrycode
    """,
    doc="TPC-H Q22 shape (global sales opportunity): customers in "
    "selected country groups (nationkey mod 10 stands in for the phone "
    "country-code substring) with above-average balance and no RECENT "
    "orders (every synthetic customer has some order, so the dormancy "
    "window replaces the no-orders-ever predicate while keeping the "
    "anti-join shape) — the NOT EXISTS decorrelates to a left-anti join "
    "on custkey against the date-filtered orders scan and the "
    "average lands as a 1-row broadcast crossJoin. The threshold is "
    "computed from exact cent-scaled integer sums, so the > compare is "
    "engine-independent even at the boundary.",
    tags=("J", "tpch", "anti", "scalar-subquery"),
)
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    pool = cust.filter((F.col("c_nationkey") % 10).isin(1, 3, 5, 7, 9)).select(
        "c_custkey",
        (F.col("c_nationkey") % 10).alias("cntrycode"),
        _scaled(F.col("c_acctbal"), 100).alias("bal_cents"),
    )
    thresh = pool.filter(F.col("bal_cents") > 0).agg(
        (F.sum("bal_cents") * F.lit(1.0) / F.count(F.lit(1))).alias("avg_cents")
    )
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select("o_custkey")
    return (
        pool.crossJoin(F.broadcast(thresh))
        .filter(F.col("bal_cents") > F.col("avg_cents"))
        .join(orders, pool.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).cast("long").alias("numcust"),
            (F.sum("bal_cents") / F.lit(100.0)).alias("totacctbal"),
        )
    )
