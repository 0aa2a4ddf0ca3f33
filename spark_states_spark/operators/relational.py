"""Batch relational operator catalog: scans, filters, joins, aggregations.

These exercise the query surface Spark exposes *above* the state-store SPI
the reference plugs into (SURVEY.md §2.3: the reference implements no
relational operators itself — they are Spark built-ins, which is exactly
the point of a Spark-first design). Every query is declarative DataFrame
API so Catalyst applies pushdown/pruning/join-selection/AQE.

Scale notes (100 TB mindset), applied throughout:
- filters + column pruning reach the parquet scan (tests/test_plans.py);
- broadcast policy: an explicit ``F.broadcast`` hint is reserved for
  inputs whose size is BOUNDED BY THE SCHEMA — region (5 rows), nation
  (25), single-row aggregates — plus the one designated broadcast-join
  demo (``join_broadcast_dim``). Anything that scales with the data
  (customer/supplier/part/orders/lineitem and their pre-joins) carries no
  hint: Catalyst's size estimate broadcasts it while small, and AQE
  re-plans shuffled joins to broadcast from true runtime sizes. A
  hard-coded hint on an sf-scaling table is an OOM at 100×
  (tests/test_plans.py::test_no_fact_side_broadcast_hints enforces this);
- aggregations are single groupBy calls so Spark plans partial (map-side)
  aggregation before the shuffle.

Numeric policy: see ``exact.py`` — decimal-exact aggregates, raw IEEE
per-row arithmetic, no cross-engine rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import register
from ..lifetime import temp_view
from ..sources import load_table, load_table_fanned
from .exact import davg, dec2, dsum, rate, sql_davg, sql_dec2, sql_dsum, sql_rate

_DISC_PRICE_SQL = f"{sql_dec2('l_extendedprice')} * {sql_rate('1.0 - l_discount')}"
_CHARGE_SQL = f"{_DISC_PRICE_SQL} * {sql_rate('1.0 + l_tax')}"


def _disc_price():
    return dec2("l_extendedprice") * rate("1.0 - l_discount")


@register(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum(sql_dec2('l_quantity'))}      AS sum_qty,
           {sql_dsum(sql_dec2('l_extendedprice'))} AS sum_base_price,
           {sql_dsum(_DISC_PRICE_SQL)}             AS sum_disc_price,
           {sql_dsum(_CHARGE_SQL)}                 AS sum_charge,
           {sql_davg(sql_dec2('l_quantity'))}      AS avg_qty,
           {sql_davg(sql_dec2('l_extendedprice'))} AS avg_price,
           {sql_davg(sql_dec2('l_discount'))}      AS avg_disc,
           count(*)                                AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 — wide aggregation with map-side partial agg before shuffle."""
    li = load_table_fanned(spark, sf_dir, "lineitem", key="l_orderkey")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(dec2("l_quantity")).alias("sum_qty"),
            dsum(dec2("l_extendedprice")).alias("sum_base_price"),
            dsum(_disc_price()).alias("sum_disc_price"),
            dsum(_disc_price() * rate("1.0 + l_tax")).alias("sum_charge"),
            davg(dec2("l_quantity")).alias("avg_qty"),
            davg(dec2("l_extendedprice")).alias("avg_price"),
            davg(dec2("l_discount")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey AS orderkey,
           {sql_dsum(_DISC_PRICE_SQL.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount'))} AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1997-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style — both join sides scale with the data (orders is only
    date-halved, customer grows with sf), so neither is broadcast-hinted:
    lineitem⋈orders is a shuffled hash join on l_orderkey and AQE converts
    the customer side to broadcast at runtime when its post-filter size
    actually fits."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1997-03-15"
    )
    li = load_table_fanned(spark, sf_dir, "lineitem", key="l_orderkey").filter(
        F.col("l_shipdate") > "1997-03-15"
    )
    return (
        li.join(
            orders.join(cust, orders.o_custkey == cust.c_custkey),
            li.l_orderkey == orders.o_orderkey,
        )
        .groupBy(
            li.l_orderkey.alias("orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .agg(dsum(_disc_price()).alias("revenue"))
        .select("orderkey", "revenue", "orderdate")
    )


@register(
    "q5_region_revenue",
    oracle=f"""
    SELECT n.n_name AS nation,
           {sql_dsum(_DISC_PRICE_SQL.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount'))} AS revenue
    FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style 6-way join — only the fixed-cardinality dims
    (nation=25, region=5) are broadcast-hinted; orders/supplier/customer
    all scale with sf, so those joins shuffle on their keys and AQE
    upgrades them to broadcast at runtime when small enough."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(
            c,
            (o.o_custkey == c.c_custkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(n.n_name.alias("nation"))
        .agg(dsum(_disc_price()).alias("revenue"))
    )


@register(
    "filter_project",
    oracle="""
    SELECT l_orderkey, l_partkey, l_extendedprice * (1 - l_discount) AS net_price
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-06-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1995-07-01 00:00:00'
      AND l_quantity > 30
    """,
)
def filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan + filter + projection — predicate pushdown & column pruning.

    Per-row double arithmetic is IEEE-deterministic → emitted raw.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1995-06-01")
        & (F.col("l_shipdate") < "1995-07-01")
        & (F.col("l_quantity") > 30)
    ).select(
        "l_orderkey",
        "l_partkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
    )


@register(
    "join_broadcast_dim",
    oracle=f"""
    SELECT p.p_brand AS brand,
           CAST(count(*) AS BIGINT) AS n_items,
           {sql_dsum(sql_dec2('l.l_quantity'))} AS total_qty
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size <= 20
    GROUP BY p.p_brand
    """,
)
def join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-dim broadcast join: the dim filter never forces a fact shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 20)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(part.p_brand.alias("brand"))
        .agg(
            F.count("*").alias("n_items"),
            dsum(dec2("l_quantity")).alias("total_qty"),
        )
    )


@register(
    "semi_join_customers",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
    """,
)
def semi_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "anti_join_customers",
    oracle="""
    SELECT c_custkey, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
    """,
)
def anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS) — customers with no orders in 2001."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "2001-01-01"
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


@register(
    "outer_join_nation_counts",
    oracle="""
    SELECT n.n_name AS nation, CAST(count(c.c_custkey) AS BIGINT) AS n_customers
    FROM nation n LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def outer_join_nation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer join preserving unmatched dimension rows."""
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    return (
        n.join(c, c.c_nationkey == n.n_nationkey, "left")
        .groupBy(n.n_name.alias("nation"))
        .agg(F.count(c.c_custkey).alias("n_customers"))
    )


@register(
    "agg_rollup_returns",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum(sql_dec2('l_extendedprice'))} AS sum_price,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy aggregation (subtotals + grand total).

    Pre-aggregated by the full grouping key before ``rollup`` — the same
    Expand-input collapse as agg_cube_orders (VERDICT r06 #3): Expand
    then multiplies ~8 (flag, status) rows by 3 grouping sets instead of
    the whole lineitem scan. Decimal partial sums re-aggregate exactly.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pre = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(dec2("l_extendedprice")).alias("pre_sum"),
        F.count("*").alias("pre_n"),
    )
    return pre.rollup("l_returnflag", "l_linestatus").agg(
        dsum(F.col("pre_sum")).alias("sum_price"),
        F.sum("pre_n").alias("n_rows"),
    )


@register(
    "agg_cube_orders",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           {sql_dsum(sql_dec2('o_totalprice'))} AS total,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation over two dimensions.

    Pre-aggregated before the cube (VERDICT r06 #3): ``cube`` plans an
    Expand that multiplies its input 4× (one copy per grouping set), so
    cubing the raw fact table replays the whole scan through Expand —
    the catalog's slowest Spark entry at sf0.1 (4.99 s). Collapsing to
    one row per (status, priority) pair first (a map-side-combinable
    groupBy; ~15 rows here, bounded by the dim-value product at any
    scale) leaves Expand × 4 on the collapsed frame. Decimal sums are
    associative-exact, so re-aggregating partial sums is bit-identical
    to the direct cube — at 100 TB this two-level shape is mandatory,
    not an optimization.
    """
    o = load_table(spark, sf_dir, "orders")
    pre = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.sum(dec2("o_totalprice")).alias("pre_total"),
        F.count("*").alias("pre_n"),
    )
    return pre.cube("o_orderstatus", "o_orderpriority").agg(
        dsum(F.col("pre_total")).alias("total"),
        F.sum("pre_n").alias("n_orders"),
    )


@register(
    "distinct_counts",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi count-distinct (expands to Spark's Expand-operator plan)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_rows"),
    )


@register(
    "sort_limit_topk",
    oracle="""
    SELECT o_orderkey, o_totalprice AS totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k — Spark plans TakeOrderedAndProject, no full sort.

    Deterministic tiebreak on o_orderkey so the oracle matches exactly.
    """
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", F.col("o_totalprice").alias("totalprice"))
        .limit(10)
    )


@register(
    "having_filter",
    oracle=f"""
    SELECT o_custkey, {sql_dsum(sql_dec2('o_totalprice'))} AS spend,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY o_custkey
    HAVING count(*) >= 5
    """,
)
def having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING (post-aggregation filter)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            dsum(dec2("o_totalprice")).alias("spend"),
            F.count("*").alias("n_orders"),
        )
        .filter(F.col("n_orders") >= 5)
    )


@register(
    "scalar_subquery_avg",
    oracle="""
    SELECT o_orderkey, o_totalprice AS totalprice
    FROM orders
    WHERE o_totalprice > (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) * 1.5 FROM orders)
    """,
)
def scalar_subquery_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery in a predicate, via the SQL API on a temp view."""
    temp_view(load_table(spark, sf_dir, "orders"), "orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice AS totalprice
        FROM orders
        WHERE o_totalprice > (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) * 1.5 FROM orders)
        """
    )


@register(
    "pivot_status_by_priority",
    oracle=f"""
    SELECT o_orderpriority,
           coalesce({sql_dsum("CASE WHEN o_orderstatus = 'F' THEN " + sql_dec2('o_totalprice') + " END")}, 0.0) AS f_total,
           coalesce({sql_dsum("CASE WHEN o_orderstatus = 'O' THEN " + sql_dec2('o_totalprice') + " END")}, 0.0) AS o_total,
           coalesce({sql_dsum("CASE WHEN o_orderstatus = 'P' THEN " + sql_dec2('o_totalprice') + " END")}, 0.0) AS p_total
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (explicit value list so no extra distinct-values job at scale)."""
    o = load_table(spark, sf_dir, "orders")
    pv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.sum(dec2("o_totalprice")))
    )
    return pv.select(
        "o_orderpriority",
        F.coalesce(F.col("F").cast("double"), F.lit(0.0)).alias("f_total"),
        F.coalesce(F.col("O").cast("double"), F.lit(0.0)).alias("o_total"),
        F.coalesce(F.col("P").cast("double"), F.lit(0.0)).alias("p_total"),
    )


@register(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT {sql_dsum(sql_dec2('l_extendedprice') + ' * ' + sql_rate('l_discount'))} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 — pure scan-side query: every predicate pushes to parquet,
    no shuffle at all (single global agg), the canonical pushdown probe."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum(dec2("l_extendedprice") * rate("l_discount")).alias("revenue"))
    )


@register(
    "q4_priority_late_ship",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def q4_priority_late_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (adapted: fixture has no commit/receipt dates — "late" =
    any lineitem shipped > 60 days after order date). EXISTS becomes a
    left-semi join; Spark dedups the probe side before the shuffle."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-07-01") & (F.col("o_orderdate") < "1996-10-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


@register(
    "q10_returned_revenue",
    oracle=f"""
    SELECT c_custkey, c_name, n_name,
           {sql_dsum(_DISC_PRICE_SQL)} AS revenue
    FROM customer
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 — top-20 customers by returned-item revenue. Join order:
    lineitem filters first (returnflag pushed to scan), orders date-pruned,
    then join customer (nation broadcast into it; customer itself scales
    with sf, so its join is left to AQE rather than broadcast-hinted)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    cn = c.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cn, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(_disc_price()).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "q14_promo_revenue",
    oracle=f"""
    SELECT 100.0 * {sql_dsum("CASE WHEN p_type = 'PROMO' THEN " + _DISC_PRICE_SQL + " ELSE CAST(0 AS DECIMAL(12,2)) END")}
             / {sql_dsum(_DISC_PRICE_SQL)} AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 — promo revenue share for one month. part is unfiltered
    here and scales with sf, so no broadcast hint: AQE broadcasts it at
    runtime while it fits, and the join degrades gracefully to a shuffle
    at scale. The conditional sum is one map-side-combined aggregate."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-09-01") & (F.col("l_shipdate") < "1996-10-01")
    )
    p = load_table(spark, sf_dir, "part")
    promo = F.when(F.col("p_type") == "PROMO", _disc_price()).otherwise(
        F.lit(0).cast("decimal(12,2)")
    )
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (F.lit(100.0) * F.sum(promo).cast("double") / F.sum(_disc_price()).cast("double")).alias(
                "promo_revenue_pct"
            )
        )
    )


@register(
    "q18_large_volume",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) >= 250
    )
    SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
    FROM big
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
)
def q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 — large-volume orders. The HAVING collapses lineitem to a
    tiny keyset before any join: aggregate first, join the survivors."""
    li = load_table_fanned(spark, sf_dir, "lineitem", key="l_orderkey")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec2("l_quantity")).alias("qty_dec"))
        .filter(F.col("qty_dec") >= 250)
        .select("l_orderkey", F.col("qty_dec").cast("double").alias("total_qty"))
    )
    return (
        big.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
    )


@register(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (adapted: priority filter instead of comment LIKE) —
    outer join preserving zero-order customers, then a distribution agg.
    Both aggregations are map-side combinable; the outer join key is the
    natural shuffle key."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "q17_small_quantity_revenue",
    oracle=f"""
    WITH partavg AS (
      SELECT l_partkey,
             0.2 * ({sql_davg(sql_dec2('l_quantity'))}) AS qty_threshold
      FROM lineitem GROUP BY l_partkey
    )
    SELECT {sql_dsum(sql_dec2('l_extendedprice'))} / 7.0 AS avg_yearly
    FROM lineitem JOIN partavg USING (l_partkey)
    WHERE l_quantity < qty_threshold
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 — correlated scalar subquery decorrelated by hand into an
    aggregate + equi-join (the only shape that scales: the correlated form
    re-scans lineitem per part). Threshold avg is decimal-exact so the
    boundary compare is bit-stable cross-engine."""
    li = load_table(spark, sf_dir, "lineitem")
    partavg = li.groupBy("l_partkey").agg(
        (F.lit(0.2) * davg(dec2("l_quantity"))).alias("qty_threshold")
    )
    return (
        li.join(partavg, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg((dsum(dec2("l_extendedprice")) / 7.0).alias("avg_yearly"))
    )


@register(
    "q19_disjunctive_predicates",
    oracle=f"""
    SELECT {sql_dsum(_DISC_PRICE_SQL)} AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 21)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 40)
    """,
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (adapted to fixture columns) — OR-of-ANDs across both join
    sides. Catalyst splits the common conjuncts (CNF conversion) so each
    side's scan still gets a pushable filter; the part join is unhinted
    (AQE broadcasts the filtered part side at runtime while it fits)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 21))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25)
           & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 35)
           & F.col("l_quantity").between(20, 40))
    )
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(dsum(_disc_price()).alias("revenue"))
    )


@register(
    "q22_idle_customers",
    oracle=f"""
    WITH avg_bal AS (
      SELECT {sql_davg(sql_dec2('c_acctbal'))} AS ab
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
           {sql_dsum(sql_dec2('c_acctbal'))} AS totacctbal
    FROM customer, avg_bal
    WHERE c_acctbal > ab
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
    GROUP BY c_nationkey
    """,
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (adapted: nation key instead of phone prefix) — scalar
    subquery threshold + anti join for customers with above-average
    balance and no recent orders."""
    c = load_table(spark, sf_dir, "customer")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        davg(dec2("c_acctbal")).alias("ab")
    )
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "1999-01-01"
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(recent, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            dsum(dec2("c_acctbal")).alias("totacctbal"),
        )
    )


@register(
    "q7_nation_volume",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INT) AS l_year,
           {sql_dsum(_DISC_PRICE_SQL)} AS revenue
    FROM supplier
    JOIN lineitem ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1, 2, 3
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 — bilateral trade volume. The two nation filters broadcast
    into supplier/customer (nation is fixed at 25 rows); the pre-joined
    supplier/customer sides themselves scale with sf, so their fact joins
    carry no hint — AQE broadcasts them at runtime while they fit."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n.filter(F.col("n_name").isin("NATION_1", "NATION_2"))),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    c = load_table(spark, sf_dir, "customer").join(
        F.broadcast(
            n.select(
                F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
            ).filter(F.col("cust_nation").isin("NATION_1", "NATION_2"))
        ),
        F.col("c_nationkey") == F.col("n2_key"),
    ).select("c_custkey", "cust_nation")
    return (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year")
        )
        .agg(dsum(_disc_price()).alias("revenue"))
    )


@register(
    "q8_market_share",
    oracle=f"""
    WITH volumes AS (
      SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             {sql_dec2('l_extendedprice')} * {sql_rate('1.0 - l_discount')} AS volume,
             n2.n_name AS supp_nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region    ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'EUROPE' AND p_type = 'PROMO'
        AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    )
    SELECT o_year,
           CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume
                         ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
             / CAST(sum(volume) AS DOUBLE) AS mkt_share
    FROM volumes GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 — national market share in a region. Nation/region (fixed
    cardinality) broadcast into customer/supplier; the sf-scaling sides —
    part, the European customer keyset, the supplier⋈nation pre-join —
    get no hint, leaving the broadcast-vs-shuffle call to AQE's runtime
    sizes."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    cust_eur = c.join(
        F.broadcast(
            n.join(r, F.col("n_regionkey") == F.col("r_regionkey")).select("n_nationkey")
        ),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select("c_custkey")
    supp_nat = s.join(
        F.broadcast(
            n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
        ),
        F.col("s_nationkey") == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    vol = (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust_eur, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp_nat, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            _disc_price().alias("volume"),
            "supp_nation",
        )
    )
    german = F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(
        F.lit(0).cast("decimal(12,2)")
    )
    return vol.groupBy("o_year").agg(
        (F.sum(german).cast("double") / F.sum("volume").cast("double")).alias("mkt_share")
    )


@register(
    "q9_product_profit",
    oracle=f"""
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
           {sql_dsum(_DISC_PRICE_SQL)} AS profit
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY 1, 2
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (adapted: fixture has no partsupp, so profit = discounted
    revenue without supply cost) — profit by supplier nation and year for
    a product-name family ('red')."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    sn = s.join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", F.col("n_name").alias("nation"))
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(sn, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("nation", F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(dsum(_disc_price()).alias("profit"))
    )


@register(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             {sql_dsum(_DISC_PRICE_SQL)} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 — top supplier by quarterly revenue. The max-revenue
    scalar comes from a 1-row broadcast of the aggregated view, not a
    sort: at scale a full sort for a max is wasted work. Decimal-exact
    revenue makes the equality tie-rule engine-stable."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    s = load_table(spark, sf_dir, "supplier")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(_disc_price()).alias("total_revenue")
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(s, F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q16_supplier_part_counts",
    oracle="""
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#45' AND p_size IN (1, 4, 9, 16, 25, 36, 49)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (adapted: supplier-part pairs come from lineitem, no
    partsupp) — distinct-supplier counts per part class. count(distinct)
    plans as a two-phase aggregate: dedup on the full grouping key first,
    then count — both phases map-side combinable."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "agg_grouping_sets",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           {sql_dsum(sql_dec2('o_totalprice'))} AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond rollup/cube): Spark expands the sets
    into one pass with a grouping-id expand node — rows are read once, not
    once per set. The ``pre`` CTE collapses to one row per (status,
    priority) pair before the sets expand (the agg_cube_orders pattern,
    VERDICT r06 #3); decimal partial sums re-aggregate exactly."""
    o = load_table(spark, sf_dir, "orders")
    temp_view(o, "orders_gs")
    return spark.sql(
        """
        WITH pre AS (
          SELECT o_orderstatus, o_orderpriority,
                 sum(CAST(o_totalprice AS DECIMAL(12,2))) AS pre_total,
                 count(*) AS pre_n
          FROM orders_gs
          GROUP BY o_orderstatus, o_orderpriority
        )
        SELECT o_orderstatus, o_orderpriority,
               sum(pre_n) AS n_orders,
               CAST(sum(pre_total) AS DOUBLE) AS total_price
        FROM pre
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
        """
    )


@register(
    "agg_exact_percentiles",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS q25,
           quantile_cont(l_quantity, 0.50) AS q50,
           quantile_cont(l_quantity, 0.75) AS q75,
           quantile_cont(l_extendedprice, 0.90) AS price_p90
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per group — Spark ``percentile`` and DuckDB
    ``quantile_cont`` share the linear-interpolation rule, so results are
    comparable to the bit. (At 100 TB the swap is ``approx_percentile``
    with a t-digest accuracy knob — sketch results are engine-specific,
    which is why the exact form is the verified one.)"""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.25)").alias("q25"),
        F.expr("percentile(l_quantity, 0.50)").alias("q50"),
        F.expr("percentile(l_quantity, 0.75)").alias("q75"),
        F.expr("percentile(l_extendedprice, 0.90)").alias("price_p90"),
    )


# --- Remaining TPC-H query shapes (completing the 22-query family) -------
#
# The fixture has no partsupp table and no l_commitdate/l_receiptdate/
# l_shipmode columns, so Q2/Q11/Q20 derive their supply relation from
# lineitem's (l_partkey, l_suppkey) pairs and Q12/Q21 define "late" as
# shipping long after the order date — the QUERY SHAPES (correlated min,
# fraction-of-total HAVING, conditional split counts, nested INs,
# EXISTS/NOT EXISTS self-joins) are preserved exactly.


@register(
    "q2_min_cost_supplier",
    oracle="""
    WITH supply AS (
      SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey),
    eu AS (
      SELECT sp.l_partkey, sp.unit_cost, s.s_name, s.s_acctbal, n.n_name
      FROM supply sp JOIN supplier s ON sp.l_suppkey = s.s_suppkey
                     JOIN nation n ON s.s_nationkey = n.n_nationkey
                     JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE'),
    mc AS (SELECT l_partkey, min(unit_cost) AS min_cost FROM eu GROUP BY l_partkey)
    SELECT e.s_acctbal, e.s_name, e.n_name AS nation,
           p.p_partkey AS partkey, p.p_type, e.unit_cost
    FROM eu e JOIN mc ON e.l_partkey = mc.l_partkey AND e.unit_cost = mc.min_cost
              JOIN part p ON e.l_partkey = p.p_partkey
    WHERE p.p_size <= 10 AND p.p_type = 'ECONOMY'
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape — cheapest supplier per part within a region, i.e. a
    correlated MIN subquery decorrelated into aggregate + min-rejoin (the
    only formulation that scales: the correlated form re-scans the supply
    relation per part). The supply relation is derived from lineitem
    (no partsupp in the fixture): unit_cost = min observed unit price per
    (part, supplier).

    Scale shape: one shuffle on (partkey, suppkey) builds supply; the
    EUROPE filter prunes via two bounded broadcast dims (nation 25,
    region 5); min-per-part is a second map-side-combined agg on partkey;
    the equality rejoin on (partkey, unit_cost) is exact — both sides are
    the same IEEE doubles. Ties (two suppliers at the min) are all kept,
    same as the SQL.
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    supply = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    eu = (
        supply.join(s, supply.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("l_partkey", "unit_cost", "s_name", "s_acctbal", "n_name")
    )
    mc = (
        eu.groupBy(F.col("l_partkey").alias("mc_partkey"))
        .agg(F.min("unit_cost").alias("min_cost"))
    )
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 10) & (F.col("p_type") == "ECONOMY")
    )
    return (
        eu.join(
            mc,
            (F.col("l_partkey") == F.col("mc_partkey"))
            & (F.col("unit_cost") == F.col("min_cost")),
        )
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "s_acctbal",
            "s_name",
            F.col("n_name").alias("nation"),
            F.col("p_partkey").alias("partkey"),
            "p_type",
            "unit_cost",
        )
    )


@register(
    "q11_important_stock",
    oracle="""
    WITH val AS (
      SELECT l.l_partkey,
             sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                 * CAST(1.0 - l.l_discount AS DECIMAL(4,2))) AS v
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
                      JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE n.n_name = 'NATION_7'
      GROUP BY l.l_partkey)
    SELECT l_partkey AS partkey, CAST(v AS DOUBLE) AS total_value
    FROM val
    WHERE CAST(v AS DOUBLE)
          > CAST((SELECT sum(v) FROM val) AS DOUBLE) * 0.001
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape — per-part value of goods supplied from one nation,
    keeping parts whose value exceeds a FRACTION OF THE GLOBAL TOTAL
    (scalar subquery over the same aggregate). Value sums are
    decimal-exact; the threshold compare happens on the correctly-rounded
    double conversions so both engines draw the identical boundary.

    Scale shape: nation filter reaches the supplier scan; one shuffle on
    l_partkey with map-side partial agg; the grand total is a single-row
    aggregate of the (already small) per-part result, broadcast back —
    the per-part aggregate is computed ONCE and reused for both sides.
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    val = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("l_partkey")
        .agg(F.sum(dec2("l_extendedprice") * rate("1.0 - l_discount")).alias("v"))
    )
    total = val.agg(F.sum("v").cast("double").alias("grand_total"))
    return (
        val.crossJoin(F.broadcast(total))
        .filter(F.col("v").cast("double") > F.col("grand_total") * 0.001)
        .select(
            F.col("l_partkey").alias("partkey"),
            F.col("v").cast("double").alias("total_value"),
        )
    )


@register(
    "q12_shipmode_priority",
    oracle="""
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate >= o.o_orderdate + INTERVAL 90 DAY
    GROUP BY l_linestatus
    """,
)
def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape — late-shipped lines split into high/low-priority
    counts per group (conditional aggregation over a join). The fixture
    has no l_shipmode/l_commitdate, so the group key is l_linestatus and
    "late" = shipped >= 90 days after the order date.

    Scale shape: the shipdate range filter pushes to the lineitem scan;
    one shuffled equi-join on orderkey (both sides sf-scaling, no hint —
    AQE decides); both CASE counts fold into ONE aggregate pass.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@register(
    "q20_excess_suppliers",
    oracle="""
    SELECT s.s_name, s.s_acctbal
    FROM supplier s
    WHERE s.s_suppkey IN (
        SELECT l.l_suppkey FROM lineitem l
        WHERE l.l_partkey IN (SELECT p_partkey FROM part
                              WHERE p_name LIKE '%widget%')
          AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l.l_suppkey
        HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 300)
      AND s.s_nationkey IN (
        SELECT n.n_nationkey FROM nation n
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA')
    """,
)
def q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape — suppliers in a region who shipped an outsized
    quantity of a named part family: nested IN subqueries three levels
    deep (supplier ← aggregated lineitem ← part), via the SQL API so
    Catalyst's subquery rewrite (IN → left-semi) is what's exercised.

    Scale shape: both INs become semi joins — the part-name filter prunes
    lineitem through a semi join BEFORE the per-supplier aggregate, and
    the HAVING runs on the already-aggregated (suppkey-sized) set; the
    nation/region IN is a bounded-dim semi join. Quantity sum is
    decimal-exact so the >300 boundary is bit-stable.
    """
    temp_view(load_table(spark, sf_dir, "supplier"), "q20_supplier")
    temp_view(load_table(spark, sf_dir, "lineitem"), "q20_lineitem")
    temp_view(load_table(spark, sf_dir, "part"), "q20_part")
    temp_view(load_table(spark, sf_dir, "nation"), "q20_nation")
    temp_view(load_table(spark, sf_dir, "region"), "q20_region")
    return spark.sql(
        """
        SELECT s.s_name, s.s_acctbal
        FROM q20_supplier s
        WHERE s.s_suppkey IN (
            SELECT l.l_suppkey FROM q20_lineitem l
            WHERE l.l_partkey IN (SELECT p_partkey FROM q20_part
                                  WHERE p_name LIKE '%widget%')
              AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY l.l_suppkey
            HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 300)
          AND s.s_nationkey IN (
            SELECT n.n_nationkey FROM q20_nation n
            JOIN q20_region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = 'ASIA')
        """
    )


@register(
    "q21_waiting_suppliers",
    oracle="""
    SELECT s.s_name, count(*) AS numwait
    FROM lineitem l1
      JOIN orders o ON l1.l_orderkey = o.o_orderkey
      JOIN supplier s ON l1.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderstatus = 'F'
      AND r.r_name = 'AMERICA'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY s.s_name
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape — suppliers who were the SOLE late shipper on a
    multi-supplier failed order: the classic EXISTS + NOT EXISTS pair of
    correlated self-joins on lineitem ("some other supplier shipped this
    order; no other supplier shipped it late"). "Late" = shipped > 60
    days after the order date (no l_receiptdate in the fixture).

    Scale shape: Catalyst turns the EXISTS into a left-semi and the NOT
    EXISTS into a left-anti join, all three lineitem sides hash-partition
    on l_orderkey, so the self-joins reuse one exchange instead of
    re-shuffling; supplier/nation/region prune the l1 side first.
    """
    temp_view(load_table(spark, sf_dir, "lineitem"), "q21_lineitem")
    temp_view(load_table(spark, sf_dir, "orders"), "q21_orders")
    temp_view(load_table(spark, sf_dir, "supplier"), "q21_supplier")
    temp_view(load_table(spark, sf_dir, "nation"), "q21_nation")
    temp_view(load_table(spark, sf_dir, "region"), "q21_region")
    return spark.sql(
        """
        SELECT s.s_name, count(*) AS numwait
        FROM q21_lineitem l1
          JOIN q21_orders o ON l1.l_orderkey = o.o_orderkey
          JOIN q21_supplier s ON l1.l_suppkey = s.s_suppkey
          JOIN q21_nation n ON s.s_nationkey = n.n_nationkey
          JOIN q21_region r ON n.n_regionkey = r.r_regionkey
        WHERE o.o_orderstatus = 'F'
          AND r.r_name = 'AMERICA'
          AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAYS
          AND EXISTS (SELECT 1 FROM q21_lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM q21_lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAYS)
        GROUP BY s.s_name
        """
    )
