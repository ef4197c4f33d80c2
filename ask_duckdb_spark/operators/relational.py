"""Relational operator catalog (SURVEY.md §2.1–§2.6).

Each operator is an idiomatic-DataFrame (occasionally spark.sql)
implementation with a DuckDB oracle twin. Conventions that keep the
differential hash stable (SURVEY.md §7.3):

- every computed column is aliased identically on both sides;
- integer SUMs are CAST to BIGINT in the oracle (DuckDB promotes to
  HUGEINT, which pandas renders as float64 — Spark returns long);
- LIMIT queries always carry a total order on a unique key;
- timestamps cross the comparison boundary as-is only when derived
  from ms/us-precision sources; bucketed times are CAST to VARCHAR.

Scale notes: all joins against region/nation/customer/supplier are
broadcast-able dims at any SF (Catalyst auto-broadcasts under the 10 MB
default; AQE converts to broadcast at runtime otherwise). Aggregations
are partial (map-side combine) by construction — no operator here
collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.catalog import load_table, register_views
from ._util import (
    floor_round,
    floor_round_sql,
    icents,
    icents_sql,
    money,
    money_sql,
    rev_units,
    rev_units_sql,
)
from .registry import query

#: Shared oracle fragments for the exact-money discipline (_util.py):
#: revenue = price*(1-disc) summed as exact integer 1e-4 dollar units.
_REV_U = rev_units_sql()
_REV = money_sql(f"sum({_REV_U})", 10_000)
_REV_U_L = rev_units_sql("l.l_extendedprice", "l.l_discount")
_PROMO_PCT = floor_round_sql(
    "100.0 * CAST(sum(CASE WHEN p.p_type LIKE 'small%' THEN "
    + _REV_U_L
    + " ELSE 0 END) AS DOUBLE) / CAST(sum("
    + _REV_U_L
    + ") AS DOUBLE)",
    6,
)

CUTOFF = "1998-09-02 00:00:00"


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Flagship: TPC-H Q1-style pricing summary (P3+G2+G3+O1 in one statement)
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity)                                       AS sum_qty,
           sum(l_extendedprice)                                  AS sum_base_price,
           sum(l_extendedprice * (1 - l_discount))               AS sum_disc_price,
           sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
           avg(l_quantity)                                       AS avg_qty,
           avg(l_extendedprice)                                  AS avg_price,
           avg(l_discount)                                       AS avg_disc,
           count(*)                                              AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '{CUTOFF}'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary: grouped sums/averages over filtered lineitem."""
    li = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit(CUTOFF).cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price).alias("sum_disc_price"),
            F.sum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_extendedprice").alias("avg_price"),
            F.avg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# §2.2 Projections / filters / predicates
# ---------------------------------------------------------------------------


@query("p1_projection", oracle="SELECT c_name FROM customer")
def p1_projection(spark, sf_dir):
    """Single-column projection from customer."""
    return t(spark, sf_dir, "customer").select("c_name")


@query("p2_select_star", oracle="SELECT * FROM supplier")
def p2_select_star(spark, sf_dir):
    """SELECT * passthrough of the supplier table."""
    return t(spark, sf_dir, "supplier").select("*")


@query(
    "p3_filter_eq",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE lower(c_mktsegment) = 'building'
    """,
)
def p3_filter_eq(spark, sf_dir):
    """Equality filter on a lowercased market segment."""
    c = t(spark, sf_dir, "customer")
    return c.filter(F.lower("c_mktsegment") == "building").select("c_custkey", "c_name")


@query(
    "p4_like",
    oracle="SELECT p_partkey, p_name FROM part WHERE p_type LIKE 'S%'",
)
def p4_like(spark, sf_dir):
    """Prefix LIKE pattern over part type."""
    p = t(spark, sf_dir, "part")
    return p.filter(F.col("p_type").like("S%")).select("p_partkey", "p_name")


@query(
    "p5_ilike",
    oracle="SELECT p_partkey, p_type FROM part WHERE p_type ILIKE '%med%'",
)
def p5_ilike(spark, sf_dir):
    """Case-insensitive ILIKE containment over part type."""
    p = t(spark, sf_dir, "part")
    return p.filter(F.col("p_type").ilike("%med%")).select("p_partkey", "p_type")


@query(
    "p6_null_checks",
    oracle="""
    SELECT count(*) FILTER (WHERE props IS NULL)     AS n_null,
           count(*) FILTER (WHERE props IS NOT NULL) AS n_not_null
    FROM events
    """,
)
def p6_null_checks(spark, sf_dir):
    """IS NULL / IS NOT NULL counts with aggregate filters."""
    e = t(spark, sf_dir, "events")
    return e.agg(
        F.count_if(F.col("props").isNull()).alias("n_null"),
        F.count_if(F.col("props").isNotNull()).alias("n_not_null"),
    )


@query(
    "p7_bool_connectives",
    oracle="""
    SELECT c_custkey FROM customer
    WHERE (c_acctbal > 1000 AND c_mktsegment = 'BUILDING')
       OR NOT (c_nationkey < 20)
    """,
)
def p7_bool_connectives(spark, sf_dir):
    """AND/OR/NOT connective combination over customer predicates."""
    c = t(spark, sf_dir, "customer")
    cond = ((F.col("c_acctbal") > 1000) & (F.col("c_mktsegment") == "BUILDING")) | ~(
        F.col("c_nationkey") < 20
    )
    return c.filter(cond).select("c_custkey")


@query(
    "p8_in_list",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
    """,
)
def p8_in_list(spark, sf_dir):
    """IN-list membership filter on market segment."""
    c = t(spark, sf_dir, "customer")
    return c.filter(F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE")).select(
        "c_custkey", "c_mktsegment"
    )


@query(
    "p9_alias_expr",
    oracle="""
    SELECT c_custkey AS customer_id,
           c_acctbal * 1.1 AS boosted_bal
    FROM customer
    """,
)
def p9_alias_expr(spark, sf_dir):
    """Aliased computed projection (scaled account balance)."""
    c = t(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("customer_id"),
        (F.col("c_acctbal") * 1.1).alias("boosted_bal"),
    )


@query(
    "p10_empty_vs_null",
    # The fixture has no null/empty text, so derive a column that is
    # NULL for 'en' rows and '' for 'zh' rows — the predicate then
    # genuinely exercises BOTH branches (reference recipe:
    # queuedata.schema.json:595 `x IS NULL OR x = ''`).
    oracle="""
    SELECT doc_id FROM (
      SELECT doc_id,
             CASE WHEN lang = 'en' THEN NULL
                  WHEN lang = 'zh' THEN ''
                  ELSE lang END AS marker
      FROM documents
    )
    WHERE marker IS NULL OR marker = ''
    """,
)
def p10_empty_vs_null(spark, sf_dir):
    """Empty-string vs NULL discrimination in a derived marker column."""
    d = t(spark, sf_dir, "documents")
    marker = (
        F.when(F.col("lang") == "en", F.lit(None).cast("string"))
        .when(F.col("lang") == "zh", F.lit(""))
        .otherwise(F.col("lang"))
    )
    return (
        d.withColumn("marker", marker)
        .filter(F.col("marker").isNull() | (F.col("marker") == ""))
        .select("doc_id")
    )


@query(
    "p11_between",
    oracle="""
    SELECT count(*) AS n FROM lineitem
    WHERE l_quantity BETWEEN 10 AND 20
    """,
)
def p11_between(spark, sf_dir):
    """BETWEEN range predicate count over lineitem quantity."""
    li = t(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_quantity").between(10, 20)).agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# §2.3 Joins
# ---------------------------------------------------------------------------


@query(
    "j1_inner_multihop",
    oracle="""
    SELECT r.r_name, count(*) AS n_customers, CAST(sum(c.c_nationkey) AS BIGINT) AS sum_nk
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def j1_inner_multihop(spark, sf_dir):
    """Three-hop inner join customer->nation->region with per-region aggregates."""
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    # nation/region are tiny dims at any SF: force broadcast so the fact
    # side never shuffles.
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("c_nationkey").alias("sum_nk"),
        )
    )


@query(
    "j2_left_outer",
    oracle="""
    SELECT o.o_orderkey, CAST(count(l.l_orderkey) AS BIGINT) AS n_hi_lines
    FROM orders o
    LEFT JOIN lineitem l
      ON o.o_orderkey = l.l_orderkey AND l.l_quantity > 45
    GROUP BY o.o_orderkey
    """,
)
def j2_left_outer(spark, sf_dir):
    """Left outer join keeping all orders, counting only high-quantity lines."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    cond = (o.o_orderkey == li.l_orderkey) & (li.l_quantity > 45)
    return (
        o.join(li, cond, "left")
        .groupBy(o.o_orderkey)
        .agg(F.count(li.l_orderkey).alias("n_hi_lines"))
    )


@query(
    "j3_right_outer",
    oracle="""
    SELECT o.o_orderkey, CAST(count(l.l_orderkey) AS BIGINT) AS n_hi_lines
    FROM lineitem l
    RIGHT JOIN orders o
      ON o.o_orderkey = l.l_orderkey AND l.l_quantity > 45
    GROUP BY o.o_orderkey
    """,
)
def j3_right_outer(spark, sf_dir):
    """Right outer join formulation equivalent to j2 (orders preserved)."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    cond = (o.o_orderkey == li.l_orderkey) & (li.l_quantity > 45)
    return (
        li.join(o, cond, "right")
        .groupBy(o.o_orderkey)
        .agg(F.count(li.l_orderkey).alias("n_hi_lines"))
    )


@query(
    "j4_full_outer",
    oracle="""
    WITH cn AS (
      SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY 1
    ), sn AS (
      SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier GROUP BY 1
    )
    SELECT coalesce(cn.nk, sn.nk) AS nationkey, cn.n_cust, sn.n_supp
    FROM cn FULL OUTER JOIN sn ON cn.nk = sn.nk
    """,
)
def j4_full_outer(spark, sf_dir):
    """Full outer join of per-nation customer and supplier counts."""
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    cn = c.groupBy(F.col("c_nationkey").alias("nk")).agg(F.count("*").alias("n_cust"))
    sn = s.groupBy(F.col("s_nationkey").alias("nk")).agg(F.count("*").alias("n_supp"))
    return cn.join(sn, "nk", "full").select(
        F.coalesce(cn.nk, sn.nk).alias("nationkey"), "n_cust", "n_supp"
    )


@query(
    "j5_left_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def j5_left_semi(spark, sf_dir):
    """Left semi join: customers having at least one order."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "j6_left_anti",
    # Every fixture customer has an order, so anti-join against the
    # URGENT subset — non-vacuous (hundreds of rows at sf0.01).
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
    """,
)
def j6_left_anti(spark, sf_dir):
    """Left anti join: customers with no urgent-priority order."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "j7_cross",
    oracle="""
    SELECT a.r_name AS name_a, b.r_name AS name_b
    FROM region a CROSS JOIN region b
    """,
)
def j7_cross(spark, sf_dir):
    """Cross join of region with itself (all name pairs)."""
    r = t(spark, sf_dir, "region")
    a = r.select(F.col("r_name").alias("name_a"))
    b = r.select(F.col("r_name").alias("name_b"))
    return a.crossJoin(b)


# ---------------------------------------------------------------------------
# §2.4 Aggregations
# ---------------------------------------------------------------------------


@query("g1_count_star", oracle="SELECT count(*) AS n FROM lineitem")
def g1_count_star(spark, sf_dir):
    """COUNT(*) over lineitem."""
    return t(spark, sf_dir, "lineitem").agg(F.count("*").alias("n"))


@query(
    "g2_sum_avg_min_max",
    oracle="""
    SELECT sum(o_totalprice) AS sum_price,
           avg(o_totalprice) AS avg_price,
           min(o_totalprice) AS min_price,
           max(o_totalprice) AS max_price,
           min(o_orderdate)  AS first_order,
           max(o_orderdate)  AS last_order
    FROM orders
    """,
)
def g2_sum_avg_min_max(spark, sf_dir):
    """Global SUM/AVG/MIN/MAX over order price and date."""
    o = t(spark, sf_dir, "orders")
    return o.agg(
        F.sum("o_totalprice").alias("sum_price"),
        F.avg("o_totalprice").alias("avg_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
    )


@query(
    "g3_group_by",
    oracle="""
    SELECT o_orderpriority, count(*) AS n, avg(o_totalprice) AS avg_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def g3_group_by(spark, sf_dir):
    """GROUP BY order priority with count and average price."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"), F.avg("o_totalprice").alias("avg_price")
    )


@query(
    "g4_having",
    oracle="""
    SELECT o_custkey, count(*) AS n_orders
    FROM orders GROUP BY o_custkey HAVING count(*) > 12
    """,
)
def g4_having(spark, sf_dir):
    """HAVING filter keeping customers with more than 12 orders."""
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") > 12)
    )


@query("g5_distinct", oracle="SELECT DISTINCT c_mktsegment FROM customer")
def g5_distinct(spark, sf_dir):
    """DISTINCT projection of market segments."""
    return t(spark, sf_dir, "customer").select("c_mktsegment").distinct()


@query(
    "g6_count_distinct",
    oracle="""
    SELECT count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps
    FROM lineitem
    """,
)
def g6_count_distinct(spark, sf_dir):
    """Two COUNT(DISTINCT) aggregates in one pass over lineitem."""
    li = t(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


@query(
    "g7_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def g7_rollup(spark, sf_dir):
    """ROLLUP subtotal hierarchy over returnflag and linestatus."""
    li = t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty")
    )


@query(
    "g8_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def g8_cube(spark, sf_dir):
    """CUBE over returnflag and linestatus with counts."""
    li = t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(F.count("*").alias("n"))


@query(
    "g9_median_percentile",
    oracle="""
    SELECT quantile_cont(l_quantity, 0.5) AS med_qty,
           quantile_cont(l_extendedprice, 0.9) AS p90_price
    FROM lineitem
    """,
)
def g9_median_percentile(spark, sf_dir):
    """Exact continuous median and p90 via percentile interpolation."""
    li = t(spark, sf_dir, "lineitem")
    return li.agg(
        F.expr("percentile(l_quantity, 0.5)").alias("med_qty"),
        F.expr("percentile(l_extendedprice, 0.9)").alias("p90_price"),
    )


@query(
    "g10_approx_count_distinct",
    oracle="""
    SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_exact,
           abs(CAST(approx_count_distinct(l_partkey) AS DOUBLE)
               - count(DISTINCT l_partkey))
             / count(DISTINCT l_partkey) <= 0.05 AS hll_within_bounds
    FROM lineitem
    """,
)
def g10_approx_count_distinct(spark, sf_dir):
    """HyperLogLog++ approx_count_distinct, registered rotation-safe.

    The raw HLL estimate differs between engines by design (different
    sketch implementations), so hashing it produced a stale driver red
    in r2 and the entry sat rows-only since (VERDICT r5 item 6). The
    hashed output is now (a) the EXACT distinct count — identical on
    both engines — and (b) a boolean asserting each engine's OWN
    estimate lands within the 5% relative-error contract of its own
    exact count. Both columns hash stably under any window rotation,
    and an estimator regression on either engine flips the boolean —
    the error-bound gate is now driver-checkable instead of
    pytest-only (the tighter pytest bound in tests remains).
    """
    li = t(spark, sf_dir, "lineitem")
    agg = li.agg(
        F.countDistinct("l_partkey").alias("n_exact"),
        F.approx_count_distinct("l_partkey").alias("est"),
    )
    return agg.select(
        F.col("n_exact").cast("bigint").alias("n_exact"),
        (
            F.abs(F.col("est").cast("double") - F.col("n_exact"))
            / F.col("n_exact")
            <= 0.05
        ).alias("hll_within_bounds"),
    )


# ---------------------------------------------------------------------------
# §2.5 Sorts / limits / set ops / windows
# ---------------------------------------------------------------------------


@query(
    "o1_order_by",
    oracle="""
    SELECT c_custkey, c_acctbal FROM customer
    ORDER BY c_acctbal DESC, c_custkey
    """,
)
def o1_order_by(spark, sf_dir):
    """Multi-key ORDER BY with a deterministic tie-break column."""
    c = t(spark, sf_dir, "customer")
    return c.select("c_custkey", "c_acctbal").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )


@query(
    "o2_top_k",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def o2_top_k(spark, sf_dir):
    """Top-10 most expensive orders (TakeOrderedAndProject plan-gated)."""
    o = t(spark, sf_dir, "orders")
    # Catalyst plans this as TakeOrderedAndProject: no global sort at scale.
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@query(
    "o3_offset",
    oracle="""
    SELECT o_orderkey FROM orders
    ORDER BY o_orderkey LIMIT 5 OFFSET 10
    """,
)
def o3_offset(spark, sf_dir):
    """LIMIT with OFFSET pagination over ordered orders."""
    o = t(spark, sf_dir, "orders")
    return o.select("o_orderkey").orderBy("o_orderkey").offset(10).limit(5)


@query(
    "o4_limit_deterministic",
    oracle="""
    SELECT l_orderkey, l_linenumber FROM lineitem
    ORDER BY l_orderkey, l_linenumber LIMIT 100
    """,
)
def o4_limit_deterministic(spark, sf_dir):
    """Deterministic LIMIT 100 under a total order."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(100)
    )


@query(
    "so1_union_all",
    oracle="""
    SELECT c_nationkey AS nk FROM customer
    UNION ALL
    SELECT s_nationkey AS nk FROM supplier
    """,
)
def so1_union_all(spark, sf_dir):
    """UNION ALL of customer and supplier nation keys."""
    c = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.unionAll(s)


@query(
    "so2_intersect",
    oracle="""
    SELECT c_nationkey AS nk FROM customer
    INTERSECT
    SELECT s_nationkey AS nk FROM supplier
    """,
)
def so2_intersect(spark, sf_dir):
    """Set INTERSECT of customer and supplier nation keys."""
    c = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.intersect(s)


@query(
    "so3_except",
    # orders with no lineitems — non-vacuous on the fixtures (customer
    # nationkeys minus supplier nationkeys, the obvious choice, is empty
    # because both sides cover all 25 nations).
    oracle="""
    SELECT o_orderkey AS ok FROM orders
    EXCEPT
    SELECT l_orderkey AS ok FROM lineitem
    """,
)
def so3_except(spark, sf_dir):
    """Set EXCEPT: orders with no lineitem rows."""
    o = t(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("ok"))
    li = t(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("ok"))
    # subtract == SQL EXCEPT (distinct); exceptAll would keep multiplicity.
    return o.subtract(li)


@query(
    "w1_row_number_topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey
             ) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def w1_row_number_topk_per_group(spark, sf_dir):
    """row_number window: top-3 orders per customer by price."""
    o = t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


@query(
    "w2_running_sum",
    oracle=(
        "SELECT event_id, user_id, "
        + money_sql(
            "sum(" + icents_sql("value") + ") OVER ("
            " PARTITION BY user_id ORDER BY ts, event_id"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)",
            100,
        )
        + " AS running_value FROM events"
    ),
)
def w2_running_sum(spark, sf_dir):
    """Per-user running sum over event time (ROWS UNBOUNDED PRECEDING).

    Accumulates exact integer cents (value is a 2-decimal double) so
    every prefix sum is bit-portable — a raw double running sum drifts
    from the oracle's by an ulp after a few hundred rows."""
    e = t(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        money(F.sum(icents("value")).over(w), 100).alias("running_value"),
    )


@query(
    "w3_lag_delta",
    oracle="""
    SELECT o_custkey, o_orderkey,
           o_totalprice - lag(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS price_delta
    FROM orders
    """,
)
def w3_lag_delta(spark, sf_dir):
    """lag() delta of consecutive order prices per customer."""
    o = t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        (F.col("o_totalprice") - F.lag("o_totalprice").over(w)).alias("price_delta"),
    )


@query(
    "w4_rank_dense_ntile",
    oracle="""
    SELECT c_custkey,
           rank() OVER (PARTITION BY c_mktsegment
                        ORDER BY c_acctbal DESC, c_custkey) AS bal_rank,
           dense_rank() OVER (PARTITION BY c_mktsegment
                              ORDER BY c_nationkey)         AS nation_dense,
           ntile(4) OVER (PARTITION BY c_mktsegment
                          ORDER BY c_acctbal DESC, c_custkey) AS quartile
    FROM customer
    """,
)
def w4_rank_dense_ntile(spark, sf_dir):
    """rank, dense_rank, and ntile quartiles per market segment."""
    # Windows are partitioned by segment: an unpartitioned ORDER BY
    # window funnels every row through one task — a scale-killer at
    # 100 TB (global ranks need a two-pass range-partitioned sort, which
    # o1/o2 already demonstrate via orderBy).
    c = t(spark, sf_dir, "customer")
    w_bal = W.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    w_nat = W.partitionBy("c_mktsegment").orderBy("c_nationkey")
    return c.select(
        "c_custkey",
        F.rank().over(w_bal).alias("bal_rank"),
        F.dense_rank().over(w_nat).alias("nation_dense"),
        F.ntile(4).over(w_bal).alias("quartile"),
    )


# ---------------------------------------------------------------------------
# §2.6 Scalar functions: string / JSON / nested / date
# ---------------------------------------------------------------------------


@query(
    "f1_lower_upper",
    oracle="""
    SELECT c_custkey, upper(c_name) AS name_up, lower(c_mktsegment) AS seg_lo
    FROM customer
    """,
)
def f1_lower_upper(spark, sf_dir):
    """upper()/lower() case mapping of customer name and segment."""
    c = t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_up"),
        F.lower("c_mktsegment").alias("seg_lo"),
    )


@query(
    "f2_json_extract",
    # DuckDB json_extract keeps JSON quoting; ->> (json_extract_string)
    # matches Spark get_json_object's unquoted strings (SURVEY §7.3.1).
    oracle="""
    SELECT event_id,
           props ->> '$.k'                 AS k_str,
           CAST(props ->> '$.k' AS BIGINT) AS k_int
    FROM events
    """,
)
def f2_json_extract(spark, sf_dir):
    """JSON path extraction from event props as string and as bigint."""
    e = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    return e.select(
        "event_id", k.alias("k_str"), k.cast("bigint").alias("k_int")
    )


@query(
    "f3_json_exists",
    oracle="""
    SELECT count(*) FILTER (WHERE props ->> '$.k' IS NOT NULL) AS with_k,
           count(*) FILTER (WHERE props ->> '$.missing' IS NOT NULL) AS with_missing
    FROM events
    """,
)
def f3_json_exists(spark, sf_dir):
    """Existence counts for present vs missing JSON keys in event props."""
    e = t(spark, sf_dir, "events")
    return e.agg(
        F.count_if(F.get_json_object("props", "$.k").isNotNull()).alias("with_k"),
        F.count_if(F.get_json_object("props", "$.missing").isNotNull()).alias(
            "with_missing"
        ),
    )


@query(
    "f4_json_text_like",
    oracle="""
    SELECT event_id FROM events
    WHERE CAST(props AS VARCHAR) LIKE '%"k": 1%'
    """,
)
def f4_json_text_like(spark, sf_dir):
    """Substring LIKE over the raw JSON text of event props."""
    e = t(spark, sf_dir, "events")
    return e.filter(F.col("props").cast("string").like('%"k": 1%')).select("event_id")


@query(
    "f6_struct_access",
    oracle="""
    SELECT event_id, CAST(props ->> '$.k' AS INTEGER) AS k_field
    FROM events
    """,
)
def f6_struct_access(spark, sf_dir):
    """Schema-on-read struct field access into event props."""
    # Schema-on-read: parse the JSON text into a typed struct, then use
    # native dotted field access (reference anticipates col.field for
    # STRUCT columns, query_llm.py:182-183).
    e = t(spark, sf_dir, "events")
    parsed = F.from_json("props", "struct<k:int>")
    return e.select("event_id", parsed.getField("k").alias("k_field"))


@query(
    "f7_map_access",
    oracle="""
    SELECT event_id, CAST(props ->> '$.k' AS INTEGER) AS k_value
    FROM events
    """,
)
def f7_map_access(spark, sf_dir):
    """Map-typed access of a JSON key in event props."""
    # Map-typed schema-on-read: col['key'] access (query_llm.py:184-185).
    e = t(spark, sf_dir, "events")
    parsed = F.from_json("props", "map<string,int>")
    return e.select("event_id", parsed.getItem("k").alias("k_value"))


@query(
    "f8_case_insensitive_eq",
    oracle="""
    SELECT event_id FROM events WHERE lower(event_type) = 'click'
    """,
)
def f8_case_insensitive_eq(spark, sf_dir):
    """Case-insensitive equality on event_type via lower()."""
    e = t(spark, sf_dir, "events")
    return e.filter(F.lower("event_type") == "click").select("event_id")


@query(
    "f9_string_funcs",
    oracle="""
    SELECT c_custkey,
           substr(c_name, 1, 8)                 AS name_prefix,
           length(c_name)                       AS name_len,
           concat(c_mktsegment, ':', c_name)    AS tagged,
           replace(c_name, 'Customer', 'Cust')  AS renamed,
           trim(c_name)                         AS trimmed
    FROM customer
    """,
)
def f9_string_funcs(spark, sf_dir):
    """substr/length/concat/replace string-function surface over customer."""
    c = t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").cast("bigint").alias("name_len"),
        F.concat_ws("", F.col("c_mktsegment"), F.lit(":"), F.col("c_name")).alias(
            "tagged"
        ),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("Cust")).alias("renamed"),
        F.trim("c_name").alias("trimmed"),
    )


@query(
    "f10_case_when",
    oracle="""
    SELECT CASE WHEN o_totalprice >= 300000 THEN 'large'
                WHEN o_totalprice >= 100000 THEN 'medium'
                ELSE 'small' END AS bucket,
           count(*) AS n
    FROM orders GROUP BY 1
    """,
)
def f10_case_when(spark, sf_dir):
    """Three-way CASE WHEN price bucketing with per-bucket counts."""
    o = t(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") >= 300000, "large")
        .when(F.col("o_totalprice") >= 100000, "medium")
        .otherwise("small")
        .alias("bucket")
    )
    return o.groupBy(bucket).agg(F.count("*").alias("n"))


@query(
    "f11_coalesce_nullif",
    oracle="""
    SELECT c_custkey,
           coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_or_other
    FROM customer
    """,
)
def f11_coalesce_nullif(spark, sf_dir):
    """coalesce(nullif(...)) defaulting: BUILDING segment maps to OTHER."""
    c = t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.coalesce(
            F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("OTHER")
        ).alias("seg_or_other"),
    )


@query(
    "d1_date_trunc",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
           count(*) AS n, sum(o_totalprice) AS revenue
    FROM orders GROUP BY 1
    """,
)
def d1_date_trunc(spark, sf_dir):
    """Monthly order counts and revenue via date_trunc('month') bucketing."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("order_month")
    ).agg(F.count("*").alias("n"), F.sum("o_totalprice").alias("revenue"))


@query(
    "d2_extract_parts",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER)  AS yr,
           CAST(month(o_orderdate) AS INTEGER) AS mo,
           count(*) AS n
    FROM orders GROUP BY 1, 2
    """,
)
def d2_extract_parts(spark, sf_dir):
    """Order counts grouped by extracted year and month parts of the order date."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy(
        F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mo")
    ).agg(F.count("*").alias("n"))


@query(
    "d3_date_arith",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date,
           CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT)
             AS days_since_epoch_start
    FROM orders
    """,
)
def d3_date_arith(spark, sf_dir):
    """Due dates via +30-day interval arithmetic and day-diffs from a fixed epoch."""
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("due_date"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
        )
        .cast("bigint")
        .alias("days_since_epoch_start"),
    )


# ---------------------------------------------------------------------------
# Subqueries (dialect surface: executed verbatim via spark.sql)
# ---------------------------------------------------------------------------


@query(
    "sq1_scalar_subquery",
    oracle="""
    SELECT c_custkey, c_acctbal FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
    """,
)
def sq1_scalar_subquery(spark, sf_dir):
    """Scalar subquery: customers above the average account balance."""
    register_views(spark, sf_dir, tables=("customer",))
    return spark.sql(
        """
        SELECT c_custkey, c_acctbal FROM customer
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
        """
    )


@query(
    "sq2_in_subquery",
    oracle="""
    SELECT o_orderkey FROM orders
    WHERE o_custkey IN (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
    )
    """,
)
def sq2_in_subquery(spark, sf_dir):
    """IN subquery: orders from MACHINERY-segment customers."""
    register_views(spark, sf_dir, tables=("orders", "customer"))
    return spark.sql(
        """
        SELECT o_orderkey FROM orders
        WHERE o_custkey IN (
          SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
        )
        """
    )


@query(
    "sq3_correlated_exists",
    oracle="""
    SELECT p_partkey FROM part p
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_partkey = p.p_partkey AND l.l_quantity > 49
    )
    """,
)
def sq3_correlated_exists(spark, sf_dir):
    """Correlated EXISTS: parts with a quantity-49+ lineitem."""
    register_views(spark, sf_dir, tables=("part", "lineitem"))
    return spark.sql(
        """
        SELECT p_partkey FROM part p
        WHERE EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_partkey = p.p_partkey AND l.l_quantity > 49
        )
        """
    )


@query(
    "sq4_cte",
    oracle="""
    WITH big_orders AS (
      SELECT * FROM orders WHERE o_totalprice > 200000
    )
    SELECT o_orderpriority, count(*) AS n
    FROM big_orders GROUP BY o_orderpriority
    """,
)
def sq4_cte(spark, sf_dir):
    """CTE over big orders, then grouped priority counts."""
    register_views(spark, sf_dir, tables=("orders",))
    return spark.sql(
        """
        WITH big_orders AS (
          SELECT * FROM orders WHERE o_totalprice > 200000
        )
        SELECT o_orderpriority, count(*) AS n
        FROM big_orders GROUP BY o_orderpriority
        """
    )


# ---------------------------------------------------------------------------
# TPC-H-style multi-join analytics (the "would a reference user miss it" set)
# ---------------------------------------------------------------------------


@query(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey,
           {money_sql(f"sum({rev_units_sql('l.l_extendedprice', 'l.l_discount')})", 10_000)} AS revenue,
           CAST(o.o_orderdate AS DATE) AS orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l_orderkey LIMIT 20
    """,
)
def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shipping priority: top unshipped-order revenue.

    Revenue sums exact integer 1e-4 dollar units (_util.rev_units) —
    the hashed float-aggregate class is order-dependent in its last ulp
    (the bit-exact diffcheck caught q3 diverging at sf0.01), and an
    exact-cents sum is bit-portable at any partitioning.

    Join order (r13): LEFT-DEEP, FACT-FIRST — lineitem joins each
    filtered dimension in turn instead of joining a pre-built
    (customer ⋈ orders) subtree. Without CBO, Catalyst estimates a
    join's size as the PRODUCT of its children, so the dim-first shape
    made the (c ⋈ o) side look enormous and the planner BROADCAST THE
    FACT TABLE (BuildLeft over lineitem in the r13 `before` plan) — the
    one choice wrong at every scale. Fact-first keeps every broadcast
    candidate a base table with a sane file-size estimate: dims
    broadcast while they fit the threshold, sort-merge when they
    outgrow it, and the fact side is always streamed."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp_ntz"))
        .join(
            o.filter(
                F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp_ntz")
            ),
            li.l_orderkey == o.o_orderkey,
        )
        .join(
            c.filter(F.col("c_mktsegment") == "BUILDING"),
            o.o_custkey == c.c_custkey,
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg(money(F.sum(rev_units()), 10_000).alias("revenue"))
        .select(
            "l_orderkey", "revenue", F.col("o_orderdate").cast("date").alias("orderdate")
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(20)
    )


@query(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
      AND o.o_orderdate < TIMESTAMP '1996-10-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS decorrelates to a left-semi join."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    window = (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp_ntz")) & (
        F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp_ntz")
    )
    cond = (li.l_orderkey == o.o_orderkey) & (li.l_shipdate > o.o_orderdate)
    return (
        o.filter(window)
        .join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("bigint").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT {money_sql(f"sum({icents_sql('l_extendedprice')} * {icents_sql('l_discount')})", 10_000)} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: every predicate pushes to the parquet scan.

    ``price * discount`` in exact 1e-4 dollar units; the former
    ROUND(sum(double), 4) was the order-dependent hashed-aggregate
    class (VERDICT r5 §next-2) and is now exact by construction."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            money(
                F.sum(icents("l_extendedprice") * icents("l_discount")), 10_000
            ).alias("revenue")
        )
    )


@query(
    "q14_promo_effect",
    oracle=f"""
    SELECT {_PROMO_PCT} AS promo_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
      AND l.l_shipdate < TIMESTAMP '1996-04-01'
    """,
)
def q14_promo_effect(spark, sf_dir):
    """TPC-H Q14 shape: fact ⋈ broadcast dim + conditional aggregate.

    Both sums are exact integer revenue units; the ratio is one
    deterministic double division, closed with the portable
    floor-round (scale factors cancel, so no unit conversion)."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    rev_u = rev_units()
    promo_u = F.when(F.col("p_type").like("small%"), rev_u).otherwise(F.lit(0))
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
        )
        .join(p, li.l_partkey == p.p_partkey)
        .agg(
            floor_round(
                F.lit(100.0)
                * F.sum(promo_u).cast("double")
                / F.sum(rev_u).cast("double"),
                6,
            ).alias("promo_pct")
        )
    )


@query(
    "q18_large_orders",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey, sum(l.l_quantity) AS total_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY c.c_custkey, o.o_orderkey
    HAVING sum(l.l_quantity) > 250
    ORDER BY total_qty DESC, o_orderkey
    """,
)
def q18_large_orders(spark, sf_dir):
    """TPC-H Q18 shape: pre-aggregate lineitem BEFORE the joins so only
    qualifying orderkeys (a tiny set) reach the customer join — the
    aggregate-pushdown formulation that scales."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_custkey", "o_orderkey", "total_qty")
        .orderBy(F.col("total_qty").desc(), "o_orderkey")
    )


@query(
    "q5_local_supplier_volume",
    oracle=f"""
    SELECT n.n_name,
           {money_sql(f"sum({rev_units_sql('l.l_extendedprice', 'l.l_discount')})", 10_000)} AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def q5_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 local supplier volume: revenue where supplier and customer share a nation.

    Selectivity-first join order: the region filter reaches supplier
    BEFORE lineitem ever joins — the 5-nation ASIA set is a constant-size
    broadcast at ANY scale, so ~80% of lineitem rows (non-ASIA suppliers)
    are dropped ahead of the orderkey and custkey shuffles. Catalyst has
    no CBO stats to discover this order itself; declaring it is the same
    selectivity-pushdown DuckDB's optimizer applies (its 0.1 s plan at
    sf0.1 filters through region->nation->supplier first too).
    """
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    # 5 ASIA nations — constant-size regardless of SF: always broadcast.
    asia = (
        n.join(F.broadcast(r.filter(F.col("r_name") == "ASIA")),
               n.n_regionkey == r.r_regionkey)
        .select("n_nationkey", "n_name")
    )
    # Left-deep FACT-FIRST order (r13, see q3): every join's right side
    # is a base table (supplier / orders / customer — honest file-size
    # estimates, broadcast while they fit the threshold, sort-merge
    # beyond) or the constant-size asia frame (forced broadcast). The
    # previous shape joined supplier ⋈ asia BEFORE the fact join, and
    # Catalyst's product-of-children estimate for that subtree ballooned
    # past lineitem's — so the planner BROADCAST THE FACT TABLE
    # (BuildLeft over lineitem, r13 `before` plan), wrong at every
    # scale. The ASIA restriction still applies in the same codegen
    # stage as the supplier probe (broadcast filters evaluate inline),
    # so ~80% of lineitem rows are dropped before the orderkey and
    # custkey joins exactly as before.
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(asia), s.s_nationkey == asia.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, (o.o_custkey == c.c_custkey)
              & (c.c_nationkey == s.s_nationkey))
        .groupBy("n_name")
        .agg(money(F.sum(rev_units()), 10_000).alias("revenue"))
    )


@query(
    "q10_returned_items",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           {money_sql(f"sum({rev_units_sql('l.l_extendedprice', 'l.l_discount')})", 10_000)} AS revenue,
           n.n_name
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: top returned-item customers by lost revenue.

    Join order (r13): left-deep fact-first (see q3) — the previous
    (c ⋈ o) ⋈ li shape made Catalyst broadcast filtered LINEITEM
    (product-of-children size estimate poisoned the dim side). Now the
    filtered fact streams through dim broadcasts that AQE/the static
    planner size from real files, the shape that survives 100 TB."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    n = t(spark, sf_dir, "nation")
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(money(F.sum(rev_units()), 10_000).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "q7_nation_volume",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
           {money_sql(f"sum({rev_units_sql('l.l_extendedprice', 'l.l_discount')})", 10_000)} AS revenue
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
    WHERE n1.n_name IN ('NATION_9', 'NATION_10')
      AND n2.n_name IN ('NATION_9', 'NATION_10')
      AND n1.n_name <> n2.n_name
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
)
def q7_nation_volume(spark, sf_dir):
    """TPC-H Q7 shape: bilateral shipping volume between two nations by year.

    The fact table joins two different DIMENSION PATHS to the same tiny
    table (nation, via supplier and via customer) — both broadcast, so
    the only shuffle is the final grouped aggregation. Nation-name
    filters prune before the fact join.
    """
    li = t(spark, sf_dir, "lineitem")
    n1 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = ["NATION_9", "NATION_10"]
    s = t(spark, sf_dir, "supplier").join(
        F.broadcast(n1.filter(F.col("supp_nation").isin(pair))),
        F.col("s_nationkey") == F.col("n1_key"),
    )
    c = t(spark, sf_dir, "customer").join(
        F.broadcast(n2.filter(F.col("cust_nation").isin(pair))),
        F.col("c_nationkey") == F.col("n2_key"),
    )
    o = t(spark, sf_dir, "orders")
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(money(F.sum(rev_units()), 10_000).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "q13_order_distribution",
    oracle="""
    SELECT n_orders, CAST(count(*) AS BIGINT) AS n_cust
    FROM (
      SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS n_orders
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1
    )
    GROUP BY n_orders
    ORDER BY n_cust DESC, n_orders DESC
    """,
)
def q13_order_distribution(spark, sf_dir):
    """TPC-H Q13 shape: distribution of orders-per-customer (0 included).

    Counts-of-counts: the left outer join keeps order-less customers
    (count(o_orderkey) = 0 — count of a COLUMN skips the nulls the
    outer join introduces, where count(*) would not), then a second
    tiny aggregation over the per-customer counts.
    """
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count("*").cast("bigint").alias("n_cust"))
        .orderBy(F.col("n_cust").desc(), F.col("n_orders").desc())
    )


@query(
    "q17_small_quantity_revenue",
    oracle=f"""
    SELECT {floor_round_sql(
        f"CAST(sum({icents_sql('l.l_extendedprice')}) AS DOUBLE) / 100.0 / 7.0", 4
    )} AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23'
      AND l.l_quantity < (
        SELECT 0.5 * avg(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = p.p_partkey
      )
    """,
)
def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape: revenue of below-half-average-quantity orders.

    The correlated scalar aggregate (per-part average quantity) becomes
    a grouped aggregation JOINED back to the fact rows — the standard
    decorrelation Spark and DuckDB both plan; expressing it explicitly
    keeps the shuffle count visible: one agg + one join on p_partkey.
    """
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    avg_q = (
        li.groupBy(F.col("l_partkey").alias("ak"))
        .agg((F.avg("l_quantity") * 0.5).alias("half_avg"))
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(avg_q, li.l_partkey == F.col("ak"))
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(
            floor_round(
                F.sum(icents("l_extendedprice")).cast("double")
                / F.lit(100.0)
                / F.lit(7.0),
                4,
            ).alias("avg_yearly")
        )
    )


@query(
    "q19_disjunctive_predicates",
    oracle=f"""
    SELECT {money_sql(f"sum({rev_units_sql('l.l_extendedprice', 'l.l_discount')})", 10_000)} AS revenue,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_predicates(spark, sf_dir):
    """TPC-H Q19 shape: disjunctive multi-column predicates over a join.

    Three OR'd (brand, size-range, quantity-range) triples — the case
    where per-branch single-table conjuncts (brand/size on part,
    nothing liftable on lineitem alone) should still partially push
    down while the cross-table residual evaluates post-join.
    """
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    j = li.join(p, li.l_partkey == p.p_partkey)
    branch = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & F.col("l_quantity").between(qlo, qhi)
    )
    return j.filter(
        branch("Brand#12", 15, 1, 11)
        | branch("Brand#23", 25, 10, 20)
        | branch("Brand#34", 35, 20, 30)
    ).agg(
        money(F.sum(rev_units()), 10_000).alias("revenue"),
        F.count("*").cast("bigint").alias("n"),
    )


@query(
    "q22_dormant_high_balance",
    oracle=f"""
    SELECT c.c_nationkey, CAST(count(*) AS BIGINT) AS n_cust,
           {money_sql(f"sum({icents_sql('c.c_acctbal')})", 100)} AS total_bal
    FROM customer c
    WHERE {icents_sql('c.c_acctbal')} * (
        SELECT count(*) FROM customer WHERE c_acctbal > 0
      ) > (
        SELECT sum({icents_sql('c_acctbal')}) FROM customer WHERE c_acctbal > 0
      )
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
      )
    GROUP BY c.c_nationkey
    ORDER BY c.c_nationkey
    """,
)
def q22_dormant_high_balance(spark, sf_dir):
    """TPC-H Q22 shape: high-balance customers with no big-ticket orders.

    Global scalar subquery (average positive balance — a one-row
    broadcast) + anti join against qualifying orders + grouped rollup.
    The anti join is the scalable NOT EXISTS: no correlated per-row
    probing, one hash anti join on the order side's distinct keys.

    Exactness: the above-average filter compares in cross-multiplied
    integer cents (``cents * n > sum_cents``) — a float average
    threshold is order-dependent in its last ulp, which can flip
    membership of a boundary customer; the cents sum is the hashed
    aggregate, exact by construction.
    """
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    pos = c.filter(F.col("c_acctbal") > 0)
    bal_stats = pos.agg(
        F.sum(icents("c_acctbal")).alias("s_cents"),
        F.count("*").alias("n_pos"),
    )
    big = o.filter(F.col("o_totalprice") > 400000).select("o_custkey")
    return (
        c.join(F.broadcast(bal_stats))
        .filter(icents("c_acctbal") * F.col("n_pos") > F.col("s_cents"))
        .join(big, c.c_custkey == big.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").cast("bigint").alias("n_cust"),
            money(F.sum(icents("c_acctbal")), 100).alias("total_bal"),
        )
        .orderBy("c_nationkey")
    )


@query(
    "q8_market_share",
    oracle=f"""
    SELECT yr,
           {floor_round_sql(
               "CAST(sum(CASE WHEN supp_nation = 'NATION_9' THEN volume"
               " ELSE 0 END) AS DOUBLE) / CAST(sum(volume) AS DOUBLE)",
               6,
           )} AS mkt_share
    FROM (
      SELECT CAST(year(o.o_orderdate) AS INTEGER) AS yr,
             {rev_units_sql('l.l_extendedprice', 'l.l_discount')} AS volume,
             n2.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON n1.n_nationkey = c.c_nationkey
      JOIN region r   ON r.r_regionkey = n1.n_regionkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n2  ON n2.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'ASIA'
    )
    GROUP BY yr
    ORDER BY yr
    """,
)
def q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: one nation's supplier market share in a region.

    Six-table star: the bounded dims (nation, region) carry broadcast
    hints; customer and supplier scale with SF, so their joins are
    stats-planned (broadcast at test SF, shuffle at 100 TB). The
    conditional-sum ratio is a single grouped aggregation over the
    surviving fact rows.
    """
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    n1 = t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    n2 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cust_in_region = c.join(
        F.broadcast(n1.join(r, n1.n_regionkey == r.r_regionkey)),
        c.c_nationkey == n1.n_nationkey,
    ).select("c_custkey")
    volume = rev_units()
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(cust_in_region, o.o_custkey == F.col("c_custkey"))
        .join(s.join(F.broadcast(n2), s.s_nationkey == n2.sn_key),
              li.l_suppkey == F.col("s_suppkey"))
        .select(
            F.year("o_orderdate").cast("int").alias("yr"),
            volume.alias("volume"),
            "supp_nation",
        )
        .groupBy("yr")
        .agg(
            floor_round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_9", F.col("volume"))
                    .otherwise(F.lit(0))
                ).cast("double")
                / F.sum("volume").cast("double"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("yr")
    )


@query(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             {money_sql(f"sum({_REV_U})", 10_000)} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= DATE '1996-01-01'
        AND l_shipdate < DATE '1996-04-01'
      GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s.s_suppkey
    """,
)
def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: supplier(s) with the maximum quarterly revenue.

    The CTE-reused-twice pattern: revenue feeds both the max (a one-row
    broadcast) and the equality filter — Spark plans the reuse without
    materializing a view, and ROUND pins the float equality identically
    on both engines.
    """
    li = t(spark, sf_dir, "lineitem")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("date"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(money(F.sum(rev_units()), 10_000).alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    s = t(spark, sf_dir, "supplier")
    return (
        s.join(rev, s.s_suppkey == rev.supplier_no)
        .join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )

# ---------------------------------------------------------------------------
# TPC-H completion: Q2, Q9, Q11, Q12, Q16, Q20, Q21 shapes.
#
# The driver testdata has no partsupp table and lineitem lacks
# shipmode/commitdate/receiptdate, so each query keeps its canonical
# SHAPE (correlated min, scalar-subquery fraction, CASE-count by
# priority, distinct-count with NOT IN, nested semi-join chain,
# exists/not-exists self-joins) re-anchored on available columns:
# the part-supplier "catalog" is derived from lineitem, unit cost is
# l_extendedprice / l_quantity, and l_returnflag = 'R' stands in for
# a late/failed delivery. Reference parity: these cover the dialect
# surface a reference user exercises through conn.sql()
# (reference query_db.py:49 runs arbitrary SELECTs).
# ---------------------------------------------------------------------------


@query(
    "q2_min_cost_supplier",
    oracle=f"""
    WITH catalog AS (
      SELECT l_partkey, l_suppkey,
             floor(min(l_extendedprice / l_quantity) * 10000 + 0.5)
               / 10000 AS unit_cost
      FROM lineitem GROUP BY 1, 2
    )
    SELECT {floor_round_sql("s.s_acctbal", 2)} AS s_acctbal, s.s_name, n.n_name,
           p.p_partkey, c.unit_cost
    FROM part p
    JOIN catalog c  ON c.l_partkey = p.p_partkey
    JOIN supplier s ON s.s_suppkey = c.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN region r   ON r.r_regionkey = n.n_regionkey
    WHERE p.p_size = 15 AND p.p_type = 'STANDARD' AND r.r_name = 'EUROPE'
      AND c.unit_cost = (
        SELECT min(c2.unit_cost)
        FROM catalog c2
        JOIN supplier s2 ON s2.s_suppkey = c2.l_suppkey
        JOIN nation n2   ON n2.n_nationkey = s2.s_nationkey
        JOIN region r2   ON r2.r_regionkey = n2.n_regionkey
        WHERE c2.l_partkey = p.p_partkey AND r2.r_name = 'EUROPE'
      )
    ORDER BY s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape: cheapest regional supplier per part (correlated min).

    The partsupp catalog is derived once from lineitem (grouped min unit
    price — rounded to 4dp so the float min is bit-identical across
    engines), and the correlated min-per-part subquery decorrelates into
    a partition window over the already-joined rows: one extra exchange
    on p_partkey instead of a second scan+join chain. nation x region
    broadcast at any SF (bounded tables); supplier and part carry NO
    hint — they scale with SF, so the planner picks broadcast from
    stats at test SF and falls back to shuffle joins at 100 TB (the
    q5/x22 discipline).
    """
    li = t(spark, sf_dir, "lineitem")
    # Portable 4dp rounding: floor(x*1e4 + 0.5)/1e4 is the same IEEE
    # op sequence in both engines. ROUND diverges on doubles just
    # BELOW a midpoint (found at sf0.001: min unit price
    # 26.241249999999997 — Spark ROUND gives the correct 26.2412,
    # DuckDB's decimal-style round() says 26.2413).
    p = t(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "STANDARD")
    )
    # r13: push the (selective) part restriction AHEAD of the catalog
    # aggregation as a left-semi join — the grouped min and the
    # per-part window are groupwise, so restricting partkeys first is
    # exactly equivalent to the old filter-after-window, and the agg +
    # window + dims join now run on the qualifying slice instead of
    # the whole lineitem-derived catalog (sweep r13 clocked the old
    # shape ~2 s at sf0.1). Semi keeps the fact side streamed and the
    # part side's estimate honest (file-size: broadcast at fixture,
    # shuffled semi at 100 TB).
    catalog = (
        li.join(
            p.select("p_partkey"),
            li.l_partkey == F.col("p_partkey"),
            "left_semi",
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            (
                F.floor(
                    F.min(F.col("l_extendedprice") / F.col("l_quantity"))
                    * 10000
                    + 0.5
                )
                / 10000
            ).alias("unit_cost")
        )
    )
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    dims = s.join(
        F.broadcast(n.join(r, n.n_regionkey == r.r_regionkey)),
        s.s_nationkey == n.n_nationkey,
    )
    joined = catalog.join(dims, catalog.l_suppkey == dims.s_suppkey)
    best = W.partitionBy("l_partkey")
    return (
        joined.withColumn("min_cost", F.min("unit_cost").over(best))
        .filter(F.col("unit_cost") == F.col("min_cost"))
        .join(p, F.col("l_partkey") == p.p_partkey)
        .select(
            floor_round(F.col("s_acctbal"), 2).alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "unit_cost",
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


@query(
    "q9_product_type_profit",
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(year(l.l_shipdate) AS INTEGER) AS o_year,
           {money_sql(
               "sum(" + _REV_U_L + " - 10 * " + icents_sql("p.p_retailprice")
               + " * CAST(l.l_quantity AS BIGINT))",
               10_000,
           )} AS sum_profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY 1, 2
    ORDER BY nation, o_year DESC
    """,
)
def q9_product_type_profit(spark, sf_dir):
    """TPC-H Q9 shape: profit by supplier nation and year for a part family.

    Cost side adapted to the testdata (0.1 x p_retailprice x quantity in
    place of ps_supplycost). The name LIKE filter prunes part BEFORE
    any join, and only the bounded nation table carries a broadcast
    hint: part and supplier scale with SF, so the planner broadcasts
    them from stats at test SF and shuffle-joins at 100 TB — forcing
    the hint would cap the query at broadcastable-part sizes.
    """
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    # Exact 1e-4 dollar units: cost 0.1*retail*qty == 10*retail_cents*qty
    # (quantity is integer-valued), so profit stays an exact BIGINT sum.
    profit = rev_units() - F.lit(10) * icents("p_retailprice") * F.col(
        "l_quantity"
    ).cast("long")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(
            s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey),
            li.l_suppkey == F.col("s_suppkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("int").alias("o_year"),
        )
        .agg(money(F.sum(profit), 10_000).alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


@query(
    "q11_important_stock",
    oracle="""
    SELECT l.l_partkey,
           CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS part_qty
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name = 'NATION_1'
    GROUP BY l.l_partkey
    HAVING sum(CAST(l.l_quantity AS BIGINT)) > (
      SELECT sum(CAST(l2.l_quantity AS BIGINT)) * 0.0005
      FROM lineitem l2
      JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
      JOIN nation n2   ON n2.n_nationkey = s2.s_nationkey
      WHERE n2.n_name = 'NATION_1'
    )
    ORDER BY part_qty DESC, l.l_partkey
    """,
)
def q11_important_stock(spark, sf_dir):
    """TPC-H Q11 shape: parts above a fraction of a nation's total volume.

    The global scalar subquery (0.05% of national quantity) is a one-row
    broadcast cross join; the HAVING compares exact integer sums (the
    testdata's quantities are integral) so the threshold cut is
    deterministic across engines — no float-summation-order hazard.
    The grouped agg is computed ONCE and feeds both the threshold and
    the filter via plan reuse.
    """
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    national = li.join(
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey),
        li.l_suppkey == F.col("s_suppkey"),
    )
    per_part = national.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("part_qty")
    )
    threshold = per_part.agg(
        (F.sum("part_qty") * 0.0005).alias("cut")
    )
    return (
        per_part.join(F.broadcast(threshold))
        .filter(F.col("part_qty") > F.col("cut"))
        .select("l_partkey", "part_qty")
        .orderBy(F.col("part_qty").desc(), "l_partkey")
    )


@query(
    "q12_priority_shipping",
    oracle="""
    SELECT l.l_returnflag,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= DATE '1996-01-01'
      AND l.l_shipdate <  DATE '1997-01-01'
      AND l.l_shipdate >  o.o_orderdate + INTERVAL 60 DAY
    GROUP BY l.l_returnflag
    ORDER BY l.l_returnflag
    """,
)
def q12_priority_shipping(spark, sf_dir):
    """TPC-H Q12 shape: priority CASE-counts per shipment class.

    l_returnflag stands in for l_shipmode and ship-lag > 60 days for the
    commit/receipt lateness predicate (neither column exists in the
    testdata). The cross-table lateness predicate can't push below the
    join; the two single-table date bounds do. One shuffle (the join —
    at scale orders/lineitem co-bucket on orderkey), then a 3-group agg.
    """
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0))
            .cast("bigint")
            .alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1))
            .cast("bigint")
            .alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q16_supplier_count",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part p
    JOIN lineitem l ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#45' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY 1, 2, 3
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
)
def q16_supplier_count(spark, sf_dir):
    """TPC-H Q16 shape: distinct suppliers per part class, minus a blocklist.

    NOT IN over a non-nullable key is an anti join (negative-acctbal
    suppliers replace the comment-pattern blocklist) — unhinted, since
    the blocklist scales with |suppliers|. The count(DISTINCT)
    shuffles (brand, type, size, suppkey) once — Spark's two-phase
    distinct-agg — with part pre-filtered before its join so the fact
    side prunes first.
    """
    p = t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    li = t(spark, sf_dir, "lineitem")
    bad = (
        t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(p, F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(
            F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt")
        )
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )


@query(
    "q20_excess_shipments",
    oracle=f"""
    SELECT s.s_name, {floor_round_sql("s.s_acctbal", 2)} AS s_acctbal
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name = 'NATION_2'
      AND s.s_suppkey IN (
        SELECT l.l_suppkey
        FROM lineitem l
        WHERE l.l_partkey IN (
            SELECT p_partkey FROM part WHERE p_name LIKE 'red%'
          )
          AND l.l_shipdate >= DATE '1997-01-01'
          AND l.l_shipdate <  DATE '1998-01-01'
        GROUP BY l.l_suppkey, l.l_partkey
        HAVING sum(CAST(l.l_quantity AS BIGINT)) > 30
      )
    ORDER BY s.s_name
    """,
)
def q20_excess_shipments(spark, sf_dir):
    """TPC-H Q20 shape: nested semi-join chain to qualifying suppliers.

    part-name filter -> semi-join into lineitem -> grouped integer
    HAVING (> 30 units of one red part in 1997, the availqty analogue)
    -> distinct suppkeys -> semi-join into supplier. Every step shrinks
    the key set before the next join; the qualifying-supplier probe is
    an unhinted semi join (the key set is at most |suppliers|, which
    scales with SF — AQE broadcasts it when it measures small).
    """
    red = (
        t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("date"))
    )
    qualifying = (
        li.join(red, li.l_partkey == red.p_partkey, "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("qty"))
        .filter(F.col("qty") > 30)
        .select("l_suppkey")
        .distinct()
    )
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_2")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey, "left_semi")
        .join(
            qualifying,
            s.s_suppkey == F.col("l_suppkey"),
            "left_semi",
        )
        .select("s_name", floor_round(F.col("s_acctbal"), 2).alias("s_acctbal"))
        .orderBy("s_name")
    )


@query(
    "q21_waiting_suppliers",
    oracle="""
    SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
    JOIN orders o    ON o.o_orderkey = l1.l_orderkey
    JOIN nation n    ON n.n_nationkey = s.s_nationkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND n.n_name = 'NATION_3'
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
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    """,
)
def q21_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 shape: sole-blame supplier via EXISTS / NOT EXISTS self-joins.

    l_returnflag = 'R' proxies the late-receipt predicate. Both
    correlated subqueries become lineitem self-joins on l_orderkey with
    a suppkey inequality residual: a left-semi (some OTHER supplier on
    the order) then a left-anti (no OTHER supplier also failed). Both
    shuffle on orderkey — the same key as the orders join, so AQE/
    exchange reuse keeps it to one fact repartitioning at scale.
    """
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = t(spark, sf_dir, "lineitem")
    l1 = li.filter(F.col("l_returnflag") == "R").alias("l1")
    l2 = li.select("l_orderkey", "l_suppkey").alias("l2")
    l3 = (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .alias("l3")
    )
    blamed = (
        l1.join(
            l2,
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
            "left_anti",
        )
    )
    return (
        blamed.join(o, F.col("l1.l_orderkey") == o.o_orderkey, "left_semi")
        .join(
            s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey, "left_semi"),
            F.col("l1.l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count("*").cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
    )


@query(
    "j11_fuzzy_name_join",
    oracle="""
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
    FROM (SELECT DISTINCT p_name FROM part) a
    JOIN (SELECT DISTINCT p_name FROM part) b
      ON split_part(a.p_name, ' ', 2) = split_part(b.p_name, ' ', 2)
     AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    ORDER BY name_a, name_b
    """,
)
def j11_fuzzy_name_join(spark, sf_dir):
    """Fuzzy (edit-distance) self-join with blocking — approximate match.

    The entity-resolution primitive: names within Levenshtein 3,
    blocked on a cheap equality key (the second token) so the join is
    an EQUI-join with the expensive distance as a post-join residual —
    never an all-pairs theta join. At 100 TB the blocking key would be
    a q-gram or phonetic bucket; the plan shape (distinct -> equi-join
    on block -> residual filter) is identical. Both engines implement
    the same Wagner-Fischer distance, so the filter cuts identically.
    """
    names = (
        t(spark, sf_dir, "part").select("p_name").distinct()
    )
    # coalesce to '' so a single-token name matches the oracle's
    # split_part semantics (empty string, joinable) instead of a NULL
    # block key that silently drops the row from the equi-join
    block = lambda c: F.coalesce(  # noqa: E731
        F.split(c, " ").getItem(1), F.lit("")
    )
    a = names.select(
        F.col("p_name").alias("name_a"), block(F.col("p_name")).alias("blk")
    )
    b = names.select(
        F.col("p_name").alias("name_b"), block(F.col("p_name")).alias("blk")
    )
    return (
        a.join(b, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn(
            "dist", F.levenshtein("name_a", "name_b").cast("int")
        )
        .filter(F.col("dist") <= 3)
        .select("name_a", "name_b", "dist")
        .orderBy("name_a", "name_b")
    )
