"""Extended SQL-dialect surface: regex/array/math scalars, pivot,
grouping sets, statistical aggregates, null ordering, multiset ops,
window frames, and range/as-of joins.

None of these appear in the reference's own vocabulary (SURVEY.md §2.5
"absent" notes) — they are the Catalyst-native extras a user of an
analytics engine reaches for next, each registered with a DuckDB oracle
twin so the differential harness checks them like the core surface.

Scale notes: everything here is expression-level (codegen) work except
the joins; j8 shows the bucketed formulation that keeps a time-range
self-join linear in events-per-bucket instead of O(n²) per user.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.catalog import load_table, register_views
from ._util import floor_round, floor_round_sql
from .registry import query


def t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Scalar functions
# ---------------------------------------------------------------------------


@query(
    "f12_regexp",
    oracle=r"""
    SELECT c_custkey,
           CAST(regexp_extract(c_name, 'Customer#(\d+)', 1) AS BIGINT) AS cust_num,
           regexp_replace(c_name, 'Customer#', 'C-') AS short_name
    FROM customer
    WHERE regexp_matches(c_name, '00$')
    """,
)
def f12_regexp(spark, sf_dir):
    """regexp_extract of the customer number plus regexp_replace renaming."""
    c = t(spark, sf_dir, "customer")
    return c.filter(F.col("c_name").rlike("00$")).select(
        "c_custkey",
        F.regexp_extract("c_name", r"Customer#(\d+)", 1)
        .cast("bigint")
        .alias("cust_num"),
        F.regexp_replace("c_name", "Customer#", "C-").alias("short_name"),
    )


@query(
    "f13_split_array",
    oracle="""
    SELECT p_partkey,
           CAST(len(string_split(p_name, ' ')) AS INTEGER)   AS n_words,
           string_split(p_name, ' ')[1]                       AS first_word,
           CASE WHEN list_contains(string_split(p_name, ' '), 'red')
                THEN 1 ELSE 0 END                             AS has_red,
           array_to_string(list_sort(string_split(p_name, ' ')), '_')
                                                              AS sorted_words
    FROM part
    """,
)
def f13_split_array(spark, sf_dir):
    """Split part names into word arrays: count, first element, membership test."""
    p = t(spark, sf_dir, "part")
    words = F.split("p_name", " ")
    return p.select(
        "p_partkey",
        F.size(words).alias("n_words"),
        words.getItem(0).alias("first_word"),
        F.when(F.array_contains(words, "red"), 1).otherwise(0).alias("has_red"),
        F.array_join(F.sort_array(words), "_").alias("sorted_words"),
    )


@query(
    "f14_math",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           abs(l_discount - 0.05)                 AS abs_disc_delta,
           {floor_round_sql("sqrt(l_extendedprice)", 6)} AS sqrt_price,
           CAST(ceil(l_quantity) AS BIGINT)       AS qty_ceil,
           CAST(floor(l_tax * 100) AS BIGINT)     AS tax_pct_floor,
           {floor_round_sql("ln(l_extendedprice)", 6)}   AS ln_price,
           {floor_round_sql("power(1 + l_tax, 2)", 6)}   AS tax_sq
    FROM lineitem
    """,
)
def f14_math(spark, sf_dir):
    """Scalar math surface: abs, sqrt, ceil, floor, pmod over lineitem measures.

    Domain-edge dialect divergence (documented, not papered over — the
    f24 double->int precedent): outside the positive domain the
    engines disagree BEHAVIORALLY, not numerically — Spark ln(0) and
    ln(-x) return NULL and sqrt(-x) returns NaN, while DuckDB RAISES
    Out of Range for all three. The op's contract is therefore
    positive measures (prices/taxes, as in the fixtures); a pipeline
    applying it to unconstrained data should pre-filter or wrap the
    DuckDB side in TRY(). Verified live: Spark (NULL, NULL, NaN) vs
    DuckDB OutOfRangeException.
    """
    li = t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("abs_disc_delta"),
        floor_round(F.sqrt("l_extendedprice"), 6).alias("sqrt_price"),
        F.ceil("l_quantity").alias("qty_ceil"),
        F.floor(F.col("l_tax") * 100).alias("tax_pct_floor"),
        floor_round(F.log("l_extendedprice"), 6).alias("ln_price"),
        floor_round(F.pow(F.col("l_tax") + 1, 2), 6).alias("tax_sq"),
    )


@query(
    "f16_nullsafe_eq",
    oracle="""
    SELECT count(*) FILTER (WHERE props IS NOT DISTINCT FROM NULL) AS n_null_props,
           count(*) FILTER (WHERE event_type IS DISTINCT FROM 'click')
             AS n_not_click
    FROM events
    """,
)
def f16_nullsafe_eq(spark, sf_dir):
    """Null-safe (IS [NOT] DISTINCT FROM) comparisons counted with agg filters."""
    e = t(spark, sf_dir, "events")
    return e.agg(
        F.count_if(F.col("props").eqNullSafe(F.lit(None))).alias("n_null_props"),
        F.count_if(~F.col("event_type").eqNullSafe(F.lit("click"))).alias(
            "n_not_click"
        ),
    )


_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


@query(
    "f17_pivot",
    # Spark's pivot leaves empty cells NULL; NULLIF(count,0) mirrors that.
    oracle=f"""
    SELECT c_nationkey,
           {", ".join(
               f"NULLIF(CAST(count(*) FILTER (WHERE c_mktsegment = '{s}')"
               f" AS BIGINT), 0) AS {s}"
               for s in _SEGMENTS
           )}
    FROM customer GROUP BY c_nationkey
    """,
)
def f17_pivot(spark, sf_dir):
    """Pivot customer counts per nation into one column per market segment."""
    c = t(spark, sf_dir, "customer")
    # explicit pivot values: single-pass, no value-discovery job
    return c.groupBy("c_nationkey").pivot("c_mktsegment", _SEGMENTS).agg(
        F.count(F.lit(1))
    )


@query(
    "f18_greatest_least",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           greatest(l_quantity, l_discount * 100, l_tax * 100) AS biggest,
           least(l_quantity, l_discount * 100, l_tax * 100)    AS smallest
    FROM lineitem
    """,
)
def f18_greatest_least(spark, sf_dir):
    """Row-wise greatest/least across three scaled lineitem measures."""
    li = t(spark, sf_dir, "lineitem")
    q, d, x = F.col("l_quantity"), F.col("l_discount") * 100, F.col("l_tax") * 100
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.greatest(q, d, x).alias("biggest"),
        F.least(q, d, x).alias("smallest"),
    )


# ---------------------------------------------------------------------------
# Aggregation extensions
# ---------------------------------------------------------------------------


@query(
    "g11_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
           CAST(grouping(l_returnflag) AS INTEGER)  AS g_flag,
           CAST(grouping(l_linestatus) AS INTEGER)  AS g_status
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def g11_grouping_sets(spark, sf_dir):
    """GROUPING SETS aggregation with grouping() indicator columns."""
    register_views(spark, sf_dir, tables=("lineitem",))
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
               CAST(grouping(l_returnflag) AS INT) AS g_flag,
               CAST(grouping(l_linestatus) AS INT) AS g_status
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


#: g12 oracle: stddev/mean/corr/covar rebuilt on EXACT integer
#: sufficient statistics (x28b discipline, VERDICT r5 §next-2): price in
#: cents (lossless), custkey already integral. Quadratic sums ride in
#: HUGEINT (DuckDB promotes sum(BIGINT) automatically) / decimal(38,0)
#: (Spark); the only float ops are one identical scalar sequence per
#: output — native stddev/corr accumulate doubles partition-by-partition
#: and are order-dependent in the hashed digit.
_G12_ORACLE = """
    WITH s AS (
      SELECT count(*) AS n,
             sum(pq) AS sp, sum(k) AS sk,
             sum(pq * pq) AS spp, sum(k * k) AS skk, sum(pq * k) AS spk
      FROM (
        SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS pq,
               o_custkey AS k
        FROM orders
      )
    )
    SELECT floor(sqrt(CAST(n * spp - sp * sp AS DOUBLE)
                      / CAST(n * (n - 1) AS DOUBLE)) / 100.0
                 * 100.0 + 0.5) / 100.0 AS sd_price,
           floor(CAST(sp AS DOUBLE) / CAST(n AS DOUBLE) / 100.0
                 * 100.0 + 0.5) / 100.0 AS mean_price,
           floor(CAST(n * spk - sp * sk AS DOUBLE)
                 / (sqrt(CAST(n * spp - sp * sp AS DOUBLE))
                    * sqrt(CAST(n * skk - sk * sk AS DOUBLE)))
                 * 1000000.0 + 0.5) / 1000000.0 AS corr_pk,
           floor(CAST(n * spk - sp * sk AS DOUBLE)
                 / CAST(n * (n - 1) AS DOUBLE) / 100.0
                 * 100.0 + 0.5) / 100.0 AS covar_pk
    FROM s
    """


@query("g12_stats_agg", oracle=_G12_ORACLE)
def g12_stats_agg(spark, sf_dir):
    """Statistical aggregates: sample stddev, mean, corr, covar.

    Computed from exact integer sufficient statistics (n, Σp, Σk, Σp²,
    Σk², Σpk) with price quantized to cents — native stddev_samp/corr
    accumulate doubles in partition order, which is host-dependent in
    the hashed digit (the x28b class). Quadratic sums are decimal(38,0)
    (Spark) / HUGEINT (DuckDB), exact to ~1e38; the closing scalar
    sequence (cast → divide → sqrt → portable floor-round) is identical
    IEEE ops on both engines. One whole-stage-codegen'd aggregation,
    map-side combined — same shuffle shape as the native aggregates.
    """
    o = t(spark, sf_dir, "orders")
    pq = F.floor(F.col("o_totalprice") * F.lit(100) + F.lit(0.5)).cast("long")
    k = F.col("o_custkey")
    dec = "decimal(38,0)"
    s = o.select(pq.alias("pq"), k.alias("k")).agg(
        F.count("*").alias("n"),
        F.sum("pq").alias("sp"),
        F.sum("k").alias("sk"),
        F.sum((F.col("pq") * F.col("pq")).cast(dec)).alias("spp"),
        F.sum((F.col("k") * F.col("k")).cast(dec)).alias("skk"),
        F.sum((F.col("pq") * F.col("k")).cast(dec)).alias("spk"),
    )
    n = F.col("n")
    sp, sk = F.col("sp").cast(dec), F.col("sk").cast(dec)
    spp, skk, spk = F.col("spp"), F.col("skk"), F.col("spk")
    var_u = (n * spp - sp * sp).cast("double") / (n * (n - 1)).cast("double")
    cov_u = (n * spk - sp * sk).cast("double") / (n * (n - 1)).cast("double")
    corr = (n * spk - sp * sk).cast("double") / (
        F.sqrt((n * spp - sp * sp).cast("double"))
        * F.sqrt((n * skk - sk * sk).cast("double"))
    )

    def fr2(c):
        return F.floor(c * F.lit(100.0) + F.lit(0.5)) / F.lit(100.0)

    return s.select(
        fr2(F.sqrt(var_u) / F.lit(100.0)).alias("sd_price"),
        fr2(sp.cast("double") / n.cast("double") / F.lit(100.0)).alias(
            "mean_price"
        ),
        (F.floor(corr * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)).alias(
            "corr_pk"
        ),
        fr2(cov_u / F.lit(100.0)).alias("covar_pk"),
    )


# ---------------------------------------------------------------------------
# Ordering / multiset operators
# ---------------------------------------------------------------------------


@query(
    "o5_nulls_ordering",
    # Spark asc = NULLS FIRST by default, DuckDB = NULLS LAST: both
    # sides explicit (SURVEY.md §7.3 determinism rules)
    oracle="""
    SELECT event_id FROM events
    ORDER BY props NULLS FIRST, event_id
    LIMIT 50
    """,
)
def o5_nulls_ordering(spark, sf_dir):
    """NULLS FIRST ordering over a nullable JSON column."""
    e = t(spark, sf_dir, "events")
    return (
        e.orderBy(F.col("props").asc_nulls_first(), "event_id")
        .select("event_id")
        .limit(50)
    )


@query(
    "so4_intersect_all",
    oracle="""
    SELECT c_nationkey AS nk FROM customer
    INTERSECT ALL
    SELECT s_nationkey AS nk FROM supplier
    """,
)
def so4_intersect_all(spark, sf_dir):
    """Bag-semantics INTERSECT ALL (duplicates kept up to min multiplicity)."""
    c = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.intersectAll(s)


@query(
    "so5_except_all",
    oracle="""
    SELECT c_nationkey AS nk FROM customer
    EXCEPT ALL
    SELECT s_nationkey AS nk FROM supplier
    """,
)
def so5_except_all(spark, sf_dir):
    """Bag-semantics EXCEPT ALL (multiplicity-aware difference)."""
    c = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.exceptAll(s)


# ---------------------------------------------------------------------------
# Window frames
# ---------------------------------------------------------------------------


@query(
    "w5_range_frame",
    oracle="""
    SELECT o_orderkey,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) OVER (
             PARTITION BY o_custkey ORDER BY o_totalprice
             RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) / 100.0 AS nearby_sum
    FROM orders
    """,
)
def w5_range_frame(spark, sf_dir):
    """RANGE frame (value-based 10k window) running sum per customer.

    Frame membership still keys on the raw double (deterministic
    per-row comparisons); the SUM accumulates exact integer cents so
    the hashed value is order-independent (the x28b float-agg class).
    """
    o = t(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_totalprice")
        .rangeBetween(-10000, W.currentRow)
    )
    cents = F.floor(F.col("o_totalprice") * F.lit(100) + F.lit(0.5)).cast("long")
    return o.select(
        "o_orderkey",
        (F.sum(cents).over(w).cast("double") / F.lit(100.0)).alias("nearby_sum"),
    )


@query(
    "w6_first_last_nth",
    oracle="""
    SELECT o_orderkey,
           first_value(o_orderkey) OVER w AS first_ok,
           last_value(o_orderkey) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS last_ok,
           nth_value(o_orderkey, 2) OVER w AS second_ok
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def w6_first_last_nth(spark, sf_dir):
    """first_value/last_value/nth_value over a full-partition frame."""
    o = t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return o.select(
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_ok"),
        F.last("o_orderkey").over(w_full).alias("last_ok"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_ok"),
    )


# ---------------------------------------------------------------------------
# Range join / as-of join
# ---------------------------------------------------------------------------


@query(
    "j8_event_range_join",
    oracle="""
    SELECT a.event_id AS id_a, b.event_id AS id_b
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 5 MINUTE
     AND (b.ts > a.ts OR b.event_id > a.event_id)
     AND a.event_id <> b.event_id
    ORDER BY id_a, id_b
    """,
)
def j8_event_range_join(spark, sf_dir):
    """Time-range self-join via 5-minute bucketing.

    A naive range self-join is O(n²) per user; bucketing ts to the
    range width and joining (bucket, bucket+1) makes it linear in
    events-per-bucket — the standard interval-join decomposition
    (Spark has no native range-join optimizer rule; this IS the plan
    you'd want it to produce at 100 TB).
    """
    e = t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    width = 300 * 1_000_000  # 5 minutes in microseconds
    base = e.select(
        F.col("event_id"), "user_id", "ts", (us / width).cast("bigint").alias("bkt")
    )
    # probe side: each event also probes the previous bucket, so a pair
    # spanning a bucket boundary is still found exactly once
    a = base.select(
        F.col("event_id").alias("id_a"),
        F.col("user_id"),
        F.col("ts").alias("ts_a"),
        F.explode(F.array(F.col("bkt"), F.col("bkt") + 1)).alias("bkt"),
    )
    b = base.select(
        F.col("event_id").alias("id_b"),
        F.col("user_id"),
        F.col("ts").alias("ts_b"),
        "bkt",
    )
    return (
        a.join(b, ["user_id", "bkt"])
        .filter(
            (F.col("ts_b") >= F.col("ts_a"))
            & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 5 MINUTE"))
            & (
                (F.col("ts_b") > F.col("ts_a"))
                | (F.col("id_b") > F.col("id_a"))
            )
            & (F.col("id_a") != F.col("id_b"))
        )
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
        .orderBy("id_a", "id_b")
    )


@query(
    "w7_percent_rank_cume",
    oracle=f"""
    SELECT c_custkey,
           {floor_round_sql(
               "percent_rank() OVER (PARTITION BY c_mktsegment "
               "ORDER BY c_acctbal, c_custkey)", 6)} AS pr,
           {floor_round_sql(
               "cume_dist() OVER (PARTITION BY c_mktsegment "
               "ORDER BY c_acctbal, c_custkey)", 6)} AS cd
    FROM customer
    """,
)
def w7_percent_rank_cume(spark, sf_dir):
    """percent_rank and cume_dist per market segment."""
    c = t(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        floor_round(F.percent_rank().over(w), 6).alias("pr"),
        floor_round(F.cume_dist().over(w), 6).alias("cd"),
    )


@query(
    "f20_array_agg_sorted",
    # collect_list order is nondeterministic under parallelism: sort the
    # result array so both engines agree (SURVEY.md §7.3 determinism).
    # The array is then joined to a scalar string: the driver's pandas
    # canonicalizer cannot hash ndarray cells (VERDICT r4 §wrong-2), so
    # registry outputs must be atomic at the query edge.
    oracle="""
    SELECT n_regionkey,
           array_to_string(list_sort(list(n_name)), ',') AS nations,
           CAST(len(list(n_name)) AS INTEGER) AS n
    FROM nation GROUP BY n_regionkey
    """,
)
def f20_array_agg_sorted(spark, sf_dir):
    """Per-region sorted collect_list of nation names with its length."""
    n = t(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias(
            "nations"
        ),
        F.size(F.collect_list("n_name")).alias("n"),
    )


@query(
    "so6_union_by_name",
    oracle="""
    SELECT nk, src FROM (
      SELECT c_nationkey AS nk, 'cust' AS src FROM customer
      UNION ALL
      SELECT s_nationkey AS nk, 'supp' AS src FROM supplier
    )
    """,
)
def so6_union_by_name(spark, sf_dir):
    """Union by column name with a source-tag column."""
    # columns deliberately in different orders: unionByName aligns on
    # names where unionAll would silently mis-zip positions
    c = t(spark, sf_dir, "customer").select(
        F.lit("cust").alias("src"), F.col("c_nationkey").alias("nk")
    )
    s = t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nk"), F.lit("supp").alias("src")
    )
    return c.unionByName(s).select("nk", "src")


@query(
    "f21_map_functions",
    # DuckDB: json_keys on the raw JSON; Spark: map_keys on the parsed
    # map — the differential check proves schema-on-read parity. Key
    # list joined to a scalar string so the driver canonicalizer can
    # hash it (VERDICT r4 §wrong-3: ndarray cells are unhashable).
    oracle="""
    SELECT event_id,
           array_to_string(list_sort(json_keys(props)), ',') AS keys,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
    FROM events
    WHERE props IS NOT NULL
    """,
)
def f21_map_functions(spark, sf_dir):
    """JSON props as a map: sorted key list plus one extracted value."""
    e = t(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,string>")
    return e.filter(F.col("props").isNotNull()).select(
        "event_id",
        F.array_join(F.sort_array(F.map_keys(m)), ",").alias("keys"),
        F.element_at(m, "k").cast("bigint").alias("k_val"),
    )


@query(
    "d4_format_epoch",
    oracle="""
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m')          AS order_month,
           CAST(epoch(o_orderdate) AS BIGINT)      AS epoch_sec,
           CAST(date_part('dow', o_orderdate) AS INTEGER) AS dow
    FROM orders
    """,
)
def d4_format_epoch(spark, sf_dir):
    """strftime-style date formatting, epoch seconds, and day-of-week extraction."""
    o = t(spark, sf_dir, "orders")
    ts = F.col("o_orderdate").cast("timestamp")  # NTZ→UTC identity
    return o.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
        F.unix_timestamp(ts).alias("epoch_sec"),
        # Spark dayofweek: 1=Sunday..7; DuckDB dow: 0=Sunday..6
        (F.dayofweek("o_orderdate") - 1).alias("dow"),
    )


@query(
    "sq5_lateral_join",
    oracle="""
    SELECT r.r_name, top_n.n_name
    FROM region r, LATERAL (
      SELECT n_name FROM nation n
      WHERE n.n_regionkey = r.r_regionkey
      ORDER BY n_name LIMIT 2
    ) top_n
    ORDER BY r_name, n_name
    """,
)
def sq5_lateral_join(spark, sf_dir):
    """LATERAL join: top-2 nations by name per region."""
    register_views(spark, sf_dir, tables=("region", "nation"))
    return spark.sql(
        """
        SELECT r.r_name, top_n.n_name
        FROM region r, LATERAL (
          SELECT n_name FROM nation n
          WHERE n.n_regionkey = r.r_regionkey
          ORDER BY n_name LIMIT 2
        ) top_n
        ORDER BY r_name, n_name
        """
    )


@query(
    "sq6_values_inline",
    oracle="""
    SELECT t.region_code, r.r_name
    FROM (VALUES (0, 'AFR'), (2, 'ASI'), (3, 'EUR')) AS t(rk, region_code)
    JOIN region r ON r.r_regionkey = t.rk
    ORDER BY region_code
    """,
)
def sq6_values_inline(spark, sf_dir):
    """Inline VALUES table joined against a real table — the literal
    lookup-table pattern (a broadcast of a 3-row relation)."""
    register_views(spark, sf_dir, tables=("region",))
    return spark.sql(
        """
        SELECT t.region_code, r.r_name
        FROM (VALUES (0, 'AFR'), (2, 'ASI'), (3, 'EUR')) AS t(rk, region_code)
        JOIN region r ON r.r_regionkey = t.rk
        ORDER BY region_code
        """
    )


@query(
    "g13_mode",
    # mode() with ties is engine-nondeterministic; the CASE collapses
    # ~60% of rows to 0, guaranteeing a unique mode in every group
    oracle="""
    SELECT l_returnflag,
           CAST(mode(CASE WHEN l_quantity < 30 THEN 0 ELSE l_linenumber END)
                AS INTEGER) AS mode_line
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def g13_mode(spark, sf_dir):
    """Per-flag modal value with an engine-deterministic tie-break."""
    li = t(spark, sf_dir, "lineitem")
    v = F.when(F.col("l_quantity") < 30, 0).otherwise(F.col("l_linenumber"))
    return (
        li.groupBy("l_returnflag")
        .agg(F.mode(v).alias("mode_line"))
        .orderBy("l_returnflag")
    )


@query(
    "g14_string_agg_ordered",
    # deterministic ordered concatenation: DuckDB string_agg with ORDER
    # BY == Spark sort_array(collect_list) + array_join
    oracle="""
    SELECT n_regionkey,
           string_agg(n_name, '|' ORDER BY n_name) AS all_nations
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
)
def g14_string_agg_ordered(spark, sf_dir):
    """Ordered string_agg of nation names per region."""
    n = t(spark, sf_dir, "nation")
    return (
        n.groupBy("n_regionkey")
        .agg(
            F.array_join(F.sort_array(F.collect_list("n_name")), "|").alias(
                "all_nations"
            )
        )
        .orderBy("n_regionkey")
    )


@query(
    "f22_pad_reverse",
    # DuckDB has no initcap: the oracle capitalizes per word manually,
    # matching Spark's initcap semantics on space-separated words
    oracle="""
    SELECT r_regionkey,
           lpad(r_name, 15, '.')  AS padded,
           reverse(r_name)        AS reversed,
           array_to_string(
             list_transform(string_split(lower(r_name), ' '),
                            w -> upper(substr(w, 1, 1)) || substr(w, 2)),
             ' ') AS capped
    FROM region
    """,
)
def f22_pad_reverse(spark, sf_dir):
    """lpad, string reverse, and per-word initcap via transform+array_join."""
    r = t(spark, sf_dir, "region")
    return r.select(
        "r_regionkey",
        F.lpad("r_name", 15, ".").alias("padded"),
        F.reverse("r_name").alias("reversed"),
        F.initcap(F.lower("r_name")).alias("capped"),
    )


@query(
    "f23_bitwise",
    oracle="""
    SELECT o_orderkey,
           o_orderkey & 255            AS low_byte,
           o_orderkey | 1              AS odd_key,
           xor(o_orderkey, 21845)      AS xored,
           o_orderkey << 2             AS shifted
    FROM orders
    """,
)
def f23_bitwise(spark, sf_dir):
    """Bitwise AND/OR/XOR and left-shift over order keys."""
    o = t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).alias("low_byte"),
        k.bitwiseOR(F.lit(1)).alias("odd_key"),
        k.bitwiseXOR(F.lit(21845)).alias("xored"),
        F.shiftleft(k, 2).alias("shifted"),
    )


@query(
    "d5_month_arith",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus_3mo,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS month_end,
           CAST(date_diff('month', TIMESTAMP '1995-01-01', o_orderdate)
                AS INTEGER) AS months_since
    FROM orders
    """,
)
def d5_month_arith(spark, sf_dir):
    """Add-months and last-day-of-month arithmetic on order dates."""
    o = t(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.add_months(d, 3).alias("plus_3mo"),
        F.last_day(d).alias("month_end"),
        (
            (F.year(d) - 1995) * 12 + F.month(d) - 1
        ).cast("int").alias("months_since"),
    )


@query(
    "f24_cast_matrix",
    # Cross-engine-safe casts only: double->int is EXCLUDED on purpose
    # (DuckDB rounds, Spark truncates — a genuine dialect divergence,
    # documented here rather than papered over)
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT)  AS roundtrip_int,
           CAST(o_orderkey AS DOUBLE)                   AS as_double,
           CAST(o_orderdate AS DATE)                    AS as_date,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR)   AS date_str,
           CAST(o_totalprice > 100000 AS INTEGER)       AS bool_int
    FROM orders
    """,
)
def f24_cast_matrix(spark, sf_dir):
    """Round-trip and cross-type CAST matrix (int<->string, double, date)."""
    o = t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.cast("string").cast("bigint").alias("roundtrip_int"),
        k.cast("double").alias("as_double"),
        F.col("o_orderdate").cast("date").alias("as_date"),
        F.col("o_orderdate").cast("date").cast("string").alias("date_str"),
        (F.col("o_totalprice") > 100000).cast("int").alias("bool_int"),
    )


@query(
    "g15_group_percentiles",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.25) AS p25,
           quantile_cont(l_extendedprice, 0.50) AS p50,
           quantile_cont(l_extendedprice, 0.75) AS p75
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def g15_group_percentiles(spark, sf_dir):
    """Per-group continuous quartiles (p25/p50/p75) of extended price."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, 0.25)").alias("p25"),
            F.expr("percentile(l_extendedprice, 0.50)").alias("p50"),
            F.expr("percentile(l_extendedprice, 0.75)").alias("p75"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "f25_width_bucket_histogram",
    # DuckDB has no width_bucket: the oracle spells out its contract
    # (underflow bucket 0, overflow bucket n+1, else floor-division)
    oracle="""
    SELECT CAST(CASE WHEN o_totalprice < 0 THEN 0
                     WHEN o_totalprice >= 500000 THEN 11
                     ELSE floor(o_totalprice / 50000) + 1 END AS BIGINT)
             AS bucket,
           CAST(count(*) AS BIGINT) AS n
    FROM orders GROUP BY 1 ORDER BY 1
    """,
)
def f25_width_bucket_histogram(spark, sf_dir):
    """Fixed-width price histogram (width_bucket semantics built from floor())."""
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.width_bucket("o_totalprice", F.lit(0), F.lit(500000), F.lit(10))
            .cast("bigint")
            .alias("bucket")
        )
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy("bucket")
    )


@query(
    "d6_generate_days",
    # generator functions: a date spine LEFT-joined to the fact so
    # zero-order days still appear (the gap-filling reporting pattern)
    oracle="""
    WITH spine AS (
      SELECT CAST(unnest(generate_series(DATE '1996-03-01',
                                         DATE '1996-03-31',
                                         INTERVAL 1 DAY)) AS DATE) AS d
    )
    SELECT spine.d, CAST(count(o.o_orderkey) AS BIGINT) AS n_orders
    FROM spine LEFT JOIN orders o ON CAST(o.o_orderdate AS DATE) = spine.d
    GROUP BY spine.d ORDER BY spine.d
    """,
)
def d6_generate_days(spark, sf_dir):
    """March-1996 day spine (sequence/explode) left-joined to per-day order counts."""
    o = t(spark, sf_dir, "orders")
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1996-03-01").cast("date"),
                F.lit("1996-03-31").cast("date"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("d")
    )
    return (
        spine.join(o, o.o_orderdate.cast("date") == spine.d, "left")
        .groupBy("d")
        .agg(F.count("o_orderkey").cast("bigint").alias("n_orders"))
        .orderBy("d")
    )


@query(
    "f26_posexplode_ordinality",
    # DuckDB has no WITH ORDINALITY; an indexed list_transform builds
    # (pos, word) structs that unnest to the same rows
    oracle="""
    SELECT p_partkey, CAST(x.pos AS INTEGER) AS pos, x.word AS word
    FROM (
      SELECT p_partkey,
             unnest(list_transform(string_split(p_name, ' '),
                                   (w, i) -> {'pos': i - 1, 'word': w})) AS x
      FROM part
    )
    ORDER BY p_partkey, pos
    """,
)
def f26_posexplode_ordinality(spark, sf_dir):
    """posexplode of part-name words: WITH ORDINALITY positions per word."""
    p = t(spark, sf_dir, "part")
    return (
        p.select(
            "p_partkey", F.posexplode(F.split("p_name", " ")).alias("pos", "word")
        )
        .orderBy("p_partkey", "pos")
    )


@query(
    "f27_unpivot",
    oracle="""
    SELECT c_custkey, metric, value FROM (
      UNPIVOT (SELECT c_custkey,
                      c_acctbal AS acctbal,
                      CAST(c_nationkey AS DOUBLE) AS nationkey
               FROM customer)
      ON acctbal, nationkey
      INTO NAME metric VALUE value
    )
    """,
)
def f27_unpivot(spark, sf_dir):
    """UNPIVOT two customer measures into (metric, value) rows."""
    c = t(spark, sf_dir, "customer")
    wide = c.select(
        "c_custkey",
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_nationkey").cast("double").alias("nationkey"),
    )
    return wide.unpivot(
        ids=["c_custkey"],
        values=["acctbal", "nationkey"],
        variableColumnName="metric",
        valueColumnName="value",
    )


N_SALTS = 8  # fan-out factor for the skew-spreading partial phase


@query(
    "x26_salted_user_totals",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
             / 100.0 AS total_value
    FROM events
    GROUP BY user_id
    ORDER BY total_value DESC, user_id
    LIMIT 25
    """,
)
def x26_salted_user_totals(spark, sf_dir):
    """Two-phase salted aggregation — the hot-key survival pattern.

    A plain ``groupBy(user_id)`` sends every record of a viral key to
    ONE reducer; salting splits each key across N_SALTS partial groups
    (map-side combinable), then a second tiny aggregation merges the
    partials. Results are identical to the direct groupBy (the oracle
    IS the direct groupBy); only the shuffle distribution changes.
    AQE's skew handling covers joins — aggregation skew needs this.
    """
    e = load_table(spark, sf_dir, "events")
    salt = F.pmod(F.xxhash64("event_id"), F.lit(N_SALTS)).alias("_salt")
    cents = F.floor(F.col("value") * F.lit(100) + F.lit(0.5)).cast("long")
    partial = (
        e.withColumn("_salt", salt)
        .groupBy("user_id", "_salt")
        # exact integer cents: the two-phase sum is bit-identical to the
        # oracle's one-phase sum at ANY salt count or partitioning —
        # with floats the salted partials would re-order the additions
        .agg(F.count("*").alias("pn"), F.sum(cents).alias("pv"))
    )
    return (
        partial.groupBy("user_id")
        .agg(
            F.sum("pn").cast("bigint").alias("n_events"),
            (F.sum("pv").cast("double") / F.lit(100.0)).alias("total_value"),
        )
        .orderBy(F.col("total_value").desc(), "user_id")
        .limit(25)
    )


@query(
    "j9_asof_last_purchase",
    oracle="""
    SELECT event_id,
           last_value(CASE WHEN event_type = 'purchase' THEN ts END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS last_purchase_ts
    FROM events
    """,
)
def j9_asof_last_purchase(spark, sf_dir):
    """As-of join expressed as a running last-non-null window.

    For every event: the timestamp of the same user's most recent
    purchase at or before it. This windowed formulation is the
    single-shuffle as-of join — the union-sort trick that scales where
    a per-row backward probe cannot.
    """
    e = t(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    purchase_ts = F.when(F.col("event_type") == "purchase", F.col("ts"))
    return e.select(
        "event_id",
        F.last(purchase_ts, ignorenulls=True).over(w).alias("last_purchase_ts"),
    )


@query(
    "w8_forward_fill",
    # DuckDB spells it last_value(x IGNORE NULLS); Spark SQL puts
    # IGNORE NULLS after the call — same frame, same carry semantics
    oracle="""
    SELECT event_id, user_id,
           last_value(CASE WHEN event_type = 'error' THEN NULL
                           ELSE value END IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS value_ff
    FROM events
    ORDER BY event_id
    """,
)
def w8_forward_fill(spark, sf_dir):
    """Per-user forward fill (gap fill) via last_value IGNORE NULLS.

    Error events carry no trustworthy measurement, so their ``value``
    is masked to NULL and the last good per-user value is carried
    forward — the sensor/telemetry gap-fill idiom. One user-key
    shuffle; the IGNORE NULLS frame walk is linear per partition.
    Events before a user's first good reading stay NULL (both engines).
    """
    e = t(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # mirror the oracle's CASE exactly: only the literal 'error' masks;
    # a NULL event_type keeps its value (when(!=) would null it too)
    masked = F.when(F.col("event_type") == "error", F.lit(None)).otherwise(
        F.col("value")
    )
    return (
        e.select(
            "event_id",
            "user_id",
            F.last(masked, ignorenulls=True).over(w).alias("value_ff"),
        )
        .orderBy("event_id")
    )


@query(
    "sq7_recursive_cte",
    # identical statement runs on both engines (Spark 4 and DuckDB both
    # speak WITH RECURSIVE + VALUES-bodied CTEs)
    oracle="""
    WITH RECURSIVE org(id, mgr) AS (
      VALUES (1, CAST(NULL AS INTEGER)), (2, 1), (3, 1), (4, 2),
             (5, 2), (6, 3), (7, 6), (8, 7)
    ),
    tree(id, depth, path) AS (
      SELECT id, 0, CAST(id AS VARCHAR) FROM org WHERE mgr IS NULL
      UNION ALL
      SELECT o.id, t.depth + 1, t.path || '/' || CAST(o.id AS VARCHAR)
      FROM org o JOIN tree t ON o.mgr = t.id
    )
    SELECT id, CAST(depth AS INTEGER) AS depth, path
    FROM tree ORDER BY id
    """,
)
def sq7_recursive_cte(spark, sf_dir):
    """WITH RECURSIVE hierarchy closure (depth + materialized path).

    Spark 4 ships recursive CTEs (SPARK-24497): the classic org-chart
    traversal — seed the root, join children level by level until the
    fixpoint. Execution is the iterative-join shape (one join per
    level, like x29's label propagation) driven by the engine itself
    rather than driver-side looping; DuckDB runs the very same
    statement as the oracle.
    """
    return spark.sql(
        """
        WITH RECURSIVE org(id, mgr) AS (
          VALUES (1, CAST(NULL AS INT)), (2, 1), (3, 1), (4, 2),
                 (5, 2), (6, 3), (7, 6), (8, 7)
        ),
        tree(id, depth, path) AS (
          SELECT id, 0 AS depth, CAST(id AS STRING) AS path
          FROM org WHERE mgr IS NULL
          UNION ALL
          SELECT o.id, t.depth + 1, CONCAT(t.path, '/', CAST(o.id AS STRING))
          FROM org o JOIN tree t ON o.mgr = t.id
        )
        SELECT id, CAST(depth AS INT) AS depth, path
        FROM tree ORDER BY id
        """
    )


N_SALT = 8  # join-salt fanout: bounds any one key's partition share


@query(
    "j10_salted_skew_join",
    oracle="""
    SELECT e.event_id, c.c_name
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    ORDER BY e.event_id
    """,
)
def j10_salted_skew_join(spark, sf_dir):
    """Skew-salted fact-to-dim join, result-identical to the plain join.

    The companion of x26 (salted AGGREGATION): when one join key
    dominates (a bot user, a null-ish default id) the sort-merge
    partition holding it becomes the straggler. Salting splits each
    key's fact rows across N_SALT sub-keys (deterministic hash of the
    fact row id) and replicates the dim row once per salt, so the
    hottest key's work spreads over N_SALT tasks. AQE's skew split
    (tests/test_aqe_skew.py) reacts at runtime; salting is the static
    formulation you reach for when the skew is known and extreme, and
    the oracle proves it changes the PLAN, not the ANSWER.
    """
    e = t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.pmod(F.xxhash64("event_id"), F.lit(N_SALT)).alias("salt"),
    )
    c = (
        t(spark, sf_dir, "customer")
        .select("c_custkey", "c_name")
        .crossJoin(
            spark.range(N_SALT).select(F.col("id").cast("bigint").alias("salt"))
        )
    )
    return (
        e.join(
            c,
            (e.user_id == c.c_custkey) & (e.salt == c.salt),
        )
        .select("event_id", "c_name")
        .orderBy("event_id")
    )
