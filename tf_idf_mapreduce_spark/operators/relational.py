"""The general relational operator surface (SURVEY.md §2.5-2.7 gaps).

The reference hardcodes every dataflow it needs (reduce-side annotate-joins,
in-memory cogroups — CountTF.java:94-108, CalcTFIDF.java:111-133) and has no
join/set-op/window/rollup surface at all. This module provides that surface
as idiomatic DataFrame queries over the fixture star schema, each one a
named driver query verified against DuckDB.

Scale posture (100 TB / 1000 executors):
- Dimension tables (region, nation; customer when it fits) join via
  ``F.broadcast`` — no shuffle of the fact side. Larger dims fall back to
  shuffle hash/sort-merge chosen by Catalyst + AQE.
- Additive money aggregates go through DECIMAL(38,2): exact, shuffle-order
  independent (double sums are not), identical across engines, and still
  whole-stage-codegen'd JVM-side.
- Windows partition on high-cardinality keys (custkey, user_id) — no
  single-partition global windows anywhere.
- Global top-k uses orderBy+limit: Spark plans TakeOrderedAndProject —
  per-partition heaps + driver merge of k rows, no full sort at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.grid import r6
from ..sources.io import load_table


def dsum(col: Column | str, alias: str, scale: int = 2) -> Column:
    """Exact additive money aggregate: per-row decimal quantization →
    DECIMAL(38,scale) sum → double.

    Why: double sums are shuffle-order dependent; decimal sums are exact and
    associative. ``scale`` must equal the exact decimal width of the input:
    2 for raw money columns, 4 for price*(1-disc) products of two 2dp
    values, 6 with a third 2dp factor. At that scale the cast is exact in
    both engines; a finer scale (e.g. 38,10 on an arbitrary double) would
    round the value's shortest decimal repr in Spark but its exact binary
    expansion in DuckDB — disagreeing with probability ~half-ulp/granularity
    per row — and a coarser one hits exact .5 boundaries (2dp*2dp products
    end in x.xx50 1% of the time), where HALF_UP on the shortest repr and
    round-nearest on the binary expansion systematically diverge.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(38,{scale})")).cast("double").alias(alias)


def top_k_per_group(
    df: DataFrame, partition_cols: list[str], order_cols: list[Column], k: int
) -> DataFrame:
    """Grouped top-k via ranking window (O4 extension, SURVEY.md §2.6).

    ``order_cols`` must define a total order within each partition for
    deterministic results.
    """
    w = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    return (
        df.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .drop("rk")
    )


# --------------------------------------------------------------------------
# Aggregation / scan queries
# --------------------------------------------------------------------------

def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped scan+filter+aggregate on the fact table.

    Exercises: predicate pushdown to parquet (shipdate filter), partial+final
    hash aggregation on a low-cardinality key, exact decimal money sums.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price", 4),
            dsum(charge, "sum_charge", 6),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def distinct_agg_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (expand+two-phase in Spark) + plain counts."""
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    return (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.countDistinct("c_mktsegment").alias("n_segments"),
            F.count("*").alias("n_customers"),
            dsum("c_acctbal", "sum_acctbal"),
        )
    )


def conditional_agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-style conditional aggregation (sum(case when ...)) — the
    shuffle-free way to pivot a known small domain."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_open"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_filled"),
        F.count(F.when(F.col("o_orderstatus") == "P", 1)).alias("n_pending"),
        dsum(
            F.when(F.col("o_orderstatus") == "O", F.col("o_totalprice")).otherwise(
                F.lit(0.0)
            ),
            "open_value",
        ),
    )


def salted_topk_per_group(
    df: DataFrame,
    key: str,
    order_col: str,
    k: int,
    n_salts: int = 8,
    tiebreak: str | None = None,
) -> DataFrame:
    """Skew-proof grouped top-k: two-stage rank with a salt.

    A plain ``row_number() over (partition by key)`` puts a hot key's
    entire partition in ONE task. Stage 1 ranks within (key, salt) — the
    hot key spreads across ``n_salts`` tasks — and keeps k rows per salt;
    stage 2 ranks the ≤ k·n_salts survivors per key. Top-k distributes over
    any partition of the input, so the result is exactly the unsalted
    top-k. The salt is a hash of the full row's tiebreak column —
    deterministic, no rand().
    """
    tb = tiebreak or order_col
    salt = (F.abs(F.hash(F.col(tb))) % n_salts).alias("_salt")
    w1 = Window.partitionBy(key, "_salt").orderBy(F.desc(order_col), F.asc(tb))
    stage1 = (
        df.select("*", salt)
        .withColumn("_r", F.row_number().over(w1))
        .where(F.col("_r") <= k)
        .drop("_salt", "_r")
    )
    w2 = Window.partitionBy(key).orderBy(F.desc(order_col), F.asc(tb))
    return stage1.withColumn("_r", F.row_number().over(w2)).where(
        F.col("_r") <= k
    ).drop("_r")


def salted_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rel_topk_per_group query through the salted two-stage path —
    must produce exactly the same rows as the single-window formulation."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    out = salted_topk_per_group(
        orders, key="o_custkey", order_col="o_totalprice", k=3,
        tiebreak="o_orderkey",
    )
    return out.select("o_custkey", "o_orderkey", "o_totalprice")


def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS via the engine's SQL entry point (the
    DataFrame API only exposes the rollup/cube special cases). Also
    demonstrates that every fixture table is queryable as a SQL view."""
    from ..sources.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE)
                 AS total_value
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


def native_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``.pivot()`` with an explicit value list: quantity totals per
    returnflag x linestatus. Pinning the pivot values avoids the extra
    distinct-scan job Spark otherwise runs to discover them — at 100 TB
    that discovery pass costs a full shuffle of the pivot column."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(38,2)")))
        .select(
            "l_returnflag",
            F.col("F").cast("double").alias("qty_f"),
            F.col("O").cast("double").alias("qty_o"),
        )
    )


def price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (``percentile`` is Spark's
    exact sort-based aggregate; ``approx_percentile`` is the sketch-based
    scale path when a bounded error is acceptable)."""
    li = load_table(spark, sf_dir, "lineitem")
    # one array-argument percentile: the exact aggregate buffers every
    # group value, so three scalar calls buffer the column three times —
    # sharing one buffer measured 2.8s → 1.3s at sf0.1
    pcts = F.percentile(
        "l_extendedprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            pcts.alias("pct"),
            F.round(F.min("l_extendedprice"), 6).alias("p_min"),
            F.round(F.max("l_extendedprice"), 6).alias("p_max"),
        )
        .select(
            "l_returnflag",
            F.round(F.element_at("pct", 1), 6).alias("p25"),
            F.round(F.element_at("pct", 2), 6).alias("p50"),
            F.round(F.element_at("pct", 3), 6).alias("p75"),
            "p_min",
            "p_max",
        )
    )


def rollup_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy (region → nation) with subtotals and grand total."""
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    orders = load_table(spark, sf_dir, "orders")
    joined = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
    )
    return joined.rollup("r_name", "n_name").agg(
        dsum("o_totalprice", "total_sales"),
        F.count("*").alias("n_orders"),
    )


def cube_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two low-cardinality dims — all 4 grouping sets."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        dsum("o_totalprice", "total_value"),
    )


# --------------------------------------------------------------------------
# Join queries
# --------------------------------------------------------------------------

def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way star join: fact ⋈ fact ⋈ 3 dims (TPC-H Q5 shape).

    lineitem⋈orders is the big shuffle join (AQE may pick broadcast at low
    SF); customer/nation/region broadcast — zero extra shuffles of the fact
    stream at any scale.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(dsum(revenue, "revenue", 4), F.count("*").alias("n_items"))
    )


def brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ mid-size dim on partkey; AQE chooses broadcast vs shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            dsum(revenue, "revenue", 4),
            dsum("l_quantity", "total_qty"),
            F.count("*").alias("n_items"),
        )
    )


def customers_with_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS): no payload columns from the right side,
    right side reduced to the join key before shuffle."""
    cust = load_table(spark, sf_dir, "customer")
    open_orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "O")
        .select("o_custkey")
    )
    return (
        cust.join(open_orders, cust.c_custkey == open_orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


def customers_without_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS) — the dual of the semi join."""
    cust = load_table(spark, sf_dir, "customer")
    open_orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "O")
        .select("o_custkey")
    )
    return (
        cust.join(open_orders, cust.c_custkey == open_orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


def orders_with_customer_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join + null-handling aggregate (coalesce over the gap)."""
    orders = load_table(spark, sf_dir, "orders")
    big_cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_acctbal") > 5000
    )
    return (
        orders.join(big_cust, orders.o_custkey == big_cust.c_custkey, "left")
        .groupBy(F.coalesce("c_mktsegment", F.lit("UNMATCHED")).alias("segment"))
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice", "total_value"))
    )


# --------------------------------------------------------------------------
# Window / sort / top-k queries
# --------------------------------------------------------------------------

def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped top-k: row_number over (custkey, price desc) — partitions on
    a high-cardinality key, scales linearly."""
    orders = load_table(spark, sf_dir, "orders")
    return top_k_per_group(
        orders.select("o_custkey", "o_orderkey", "o_totalprice"),
        ["o_custkey"],
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        3,
    )


def customer_order_running_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic windows: rank, lag, and a cumulative frame per customer."""
    orders = load_table(spark, sf_dir, "orders")
    w_order = Window.partitionBy("o_custkey").orderBy(
        F.asc("o_orderdate"), F.asc("o_orderkey")
    )
    cum = w_order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w_order).cast("long").alias("order_seq"),
        F.lag("o_totalprice", 1).over(w_order).alias("prev_price"),
        F.sum(F.col("o_totalprice").cast("decimal(38,2)"))
        .over(cum)
        .cast("double")
        .alias("cum_spend"),
    )


def rolling_month_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per customer, total spend over the trailing 30
    days of each order (event-time frame, not row count — the frame the
    ROWS variant can't express when order density varies).

    Ordering by epoch seconds makes the numeric range frame engine-portable
    (interval frames differ subtly across engines). Same single exchange
    on o_custkey as every other per-customer window.
    """
    orders = load_table(spark, sf_dir, "orders")
    ts = F.unix_timestamp("o_orderdate").alias("ts_sec")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("ts_sec")
        .rangeBetween(-30 * 86400, Window.currentRow)
    )
    return orders.select("o_custkey", "o_orderkey", ts, "o_totalprice").select(
        "o_custkey",
        "o_orderkey",
        "ts_sec",
        F.sum(F.col("o_totalprice").cast("decimal(38,2)"))
        .over(w)
        .cast("double")
        .alias("spend_30d"),
        F.count("*").over(w).alias("n_orders_30d"),
    )


def customer_balance_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rank-function family in one pass: dense_rank, ntile quartiles,
    percent_rank and cume_dist per nation by account balance. The custkey
    tiebreak in the ORDER BY eliminates peer groups, so the distribution
    functions are exactly deterministic.

    pct_rank/cume round via ``floor(x*1e6 + 0.5)/1e6`` instead of
    ``round(x, 6)``: k/n hits EXACT .5 ties at 6dp (e.g. 333/640), where
    Spark's HALF_UP on the shortest decimal repr and DuckDB's rounding of
    the binary value disagree — the floor formula is the same IEEE op
    sequence in both engines, so ties break identically (first seen at
    sf0.1: 3 rows off by 1e-6)."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return c.select(
        "c_nationkey",
        "c_custkey",
        F.round("c_acctbal", 2).alias("acctbal"),
        F.dense_rank().over(w).cast("long").alias("drank"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        r6(F.percent_rank().over(w)).alias("pct_rank"),
        r6(F.cume_dist().over(w)).alias("cume"),
    )


#: Bits per dimension in the Z-order key (two 16-bit dims → 32-bit key).
ZORDER_BITS = 16


def zorder_order_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (o_custkey, order epoch-day):
    interleaving the two dimensions' bits makes lexicographic order on the
    key preserve locality in BOTH dimensions, so a table rewritten in this
    order serves min/max-pruned scans for either predicate — the data-
    layout optimization behind Delta/Iceberg OPTIMIZE ZORDER, expressed as
    pure Column arithmetic (32 unrolled shift/mask terms, whole-stage
    codegen). Returns each order's key; the companion sink test writes the
    re-clustered table and asserts per-file min/max tightness.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.unix_timestamp("o_orderdate").alias("ts_sec")
    )
    # min-max scale BOTH dimensions to the full 16-bit range first —
    # interleaving raw values lets the wider dimension's high bits dominate
    # the key and the narrower one gets no locality at all. Bounds enter
    # the plan as a broadcast 1-row aggregate; `div` keeps the scaling in
    # exact integer arithmetic (portable across engines).
    bounds = o.agg(
        F.min("o_custkey").alias("mn_ck"),
        F.max("o_custkey").alias("mx_ck"),
        F.min("ts_sec").alias("mn_ts"),
        F.max("ts_sec").alias("mx_ts"),
    )
    top = (1 << ZORDER_BITS) - 1
    scaled = o.crossJoin(F.broadcast(bounds)).selectExpr(
        "o_orderkey",
        "o_custkey",
        "ts_sec",
        f"((o_custkey - mn_ck) * {top}) div greatest(mx_ck - mn_ck, 1L) AS x",
        f"((ts_sec - mn_ts) * {top}) div greatest(mx_ts - mn_ts, 1L) AS y",
    )
    z = F.lit(0).cast("long")
    for b in range(ZORDER_BITS):
        z = (
            z
            + (F.shiftright("x", b).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * b)))
            + (F.shiftright("y", b).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * b + 1)))
        )
    return scaled.select("o_orderkey", "o_custkey", "ts_sec", z.alias("zkey"))


def top10_orders_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: TakeOrderedAndProject (heap per partition + driver
    merge of k) — not a full sort (contrast SortByValue.java:111-126)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# Set operations
# --------------------------------------------------------------------------

def segment_key_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT in one query, tagged by branch."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    rich = cust.where(F.col("c_acctbal") > 8000).select("c_custkey")
    open_cust = (
        orders.where(F.col("o_orderstatus") == "O")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    both = rich.intersect(open_cust).withColumn("branch", F.lit("rich_and_open"))
    only_rich = rich.exceptAll(open_cust).withColumn("branch", F.lit("rich_only"))
    return both.unionByName(only_rich)


# --------------------------------------------------------------------------
# Scalar function inventory / subqueries
# --------------------------------------------------------------------------

def part_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar inventory (T2-T7 analogue over relational data):
    case, substring, length, concat, replace, trim-family, split."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").cast("long").alias("name_len"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.size(F.split("p_name", " ")).cast("long").alias("name_words"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
    )


def orders_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar inventory: trunc, extract, diff, formatting."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.month("o_orderdate").cast("long").alias("order_month"),
        F.dayofmonth("o_orderdate").cast("long").alias("order_day"),
        F.date_trunc("month", F.col("o_orderdate"))
        .cast("date")
        .cast("string")
        .alias("order_month_start"),
        F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate").cast("date"))
        .cast("long")
        .alias("days_before_2002"),
    )


def nations_above_avg_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING over a scalar subquery (global average) — the uncorrelated
    scalar broadcast pattern (A4 analogue, CalcTFIDF.java:150)."""
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    # avg as exact-decimal-sum / count: both factors deterministic across
    # engines, so the quotient (one IEEE division) is too — no rounding.
    global_avg = cust.agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(38,2)")).cast("double")
            / F.count("*")
        ).alias("global_avg")
    )
    per_nation = (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(38,2)")).cast("double")
                / F.count("*")
            ).alias("nation_avg"),
            F.count("*").alias("n_customers"),
        )
    )
    return (
        per_nation.crossJoin(F.broadcast(global_avg))
        .where(F.col("nation_avg") > F.col("global_avg"))
        .select("n_name", "nation_avg", "n_customers")
    )


def priority_counts_with_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped correlated EXISTS: count orders per priority in a
    one-quarter window that have at least one large discounted line item.

    (Q4's commit/receipt-date predicate, adapted to this dataset's trimmed
    lineitem schema.) The EXISTS decorrelates to a LEFT SEMI join — the
    probe side carries only ``l_orderkey`` into the shuffle, duplicates
    never materialize, and the quarter filter on orders is pushed to the
    scan so both shuffle inputs are pre-shrunk. At 100 TB both sides would
    already be partitioned by order key, making this a co-located join.
    """
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_orderpriority")
    )
    big_lines = (
        load_table(spark, sf_dir, "lineitem")
        .where((F.col("l_quantity") > 30) & (F.col("l_discount") > 0.05))
        .select("l_orderkey")
    )
    return (
        orders.join(
            big_lines, orders.o_orderkey == big_lines.l_orderkey, "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped scalar subquery: revenue (per-year equivalent) from
    line items whose quantity is below 20% of their part's average — the
    correlated ``(SELECT 0.2*avg(...) WHERE same part)`` decorrelated into
    a per-key aggregate joined back.

    The brand/type filter broadcasts onto the fact scan first, so BOTH the
    threshold aggregate and the probe side run over the pre-shrunk subset
    — and since they share the ``l_partkey`` shuffle key, AQE reuses one
    exchange instead of re-scanning 100 TB to compute averages for parts
    the query immediately discards. The quantity average is exact in
    double (integer-valued quantities, sums < 2^53), so the threshold
    comparison is engine-portable; revenue goes through the DECIMAL(38,2)
    sum like every money aggregate here.
    """
    part = (
        load_table(spark, sf_dir, "part")
        .where(
            (F.col("p_brand") == "Brand#13") & (F.col("p_type") == "ECONOMY")
        )
        .select("p_partkey")
    )
    fact = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    )
    thresholds = fact.groupBy("l_partkey").agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        fact.join(thresholds, "l_partkey")
        .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(38,2)")).cast(
                    "double"
                )
                / 7.0,
                6,
            ).alias("avg_yearly"),
            F.count("*").alias("n_small"),
        )
    )


def dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shaped doubly-nested subquery: suppliers who shipped more
    than 30% of some 'small%' part's total 1996 volume, with their nation —
    ``s_suppkey IN (... WHERE qty > (SELECT 0.3*sum(...) same part))``
    decorrelated into two stacked aggregates over ONE pre-filtered scan.

    The part-name filter broadcasts onto the fact scan (no shuffle of
    lineitem to learn which parts qualify); the per-part total and the
    per-(part,supplier) total then share that shrunk subset — the second
    agg's (partkey, suppkey) shuffle key is a superset of the first's, so
    AQE plans the per-part total as a reuse of the finer exchange's
    output rather than a second full pass. Quantity sums go through
    DECIMAL(38,2) (exact, order-independent); the share comparison
    multiplies identically in both engines (one IEEE op on exact sums).
    The qualifying (part, supplier) set is candidate-sized, so the final
    supplier/nation attach is two broadcast joins — the fact table never
    shuffles at all.
    """
    parts = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .select("l_partkey", "l_suppkey", "l_quantity")
    )
    per_ps = li.groupBy("l_partkey", "l_suppkey").agg(
        dsum("l_quantity", "supp_qty")
    )
    per_part = per_ps.groupBy("l_partkey").agg(
        F.sum(F.col("supp_qty").cast("decimal(38,2)"))
        .cast("double")
        .alias("tot_qty")
    )
    dominant = (
        per_ps.join(per_part, "l_partkey")
        .where(F.col("supp_qty") > 0.3 * F.col("tot_qty"))
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("n_dominated_parts"))
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        dominant.join(
            F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", "n_name", "n_dominated_parts")
    )


Q21_LATE_DAYS = 60
Q21_TOP = 20


def waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped double-correlated EXISTS / NOT EXISTS: suppliers
    who were the ONLY late supplier on a multi-supplier order ("late" =
    shipped more than 60 days after the order date — this dataset's
    trimmed lineitem has no receipt/commit dates). Top 20 by blocked-order
    count.

    Q21's two correlated subqueries (EXISTS another supplier's line,
    NOT EXISTS another supplier's LATE line) decorrelate into ONE
    per-order aggregate — distinct supplier count and distinct LATE
    supplier count — joined back to the late lines: a supplier blocked
    order O iff n_late_supps(O) = 1 and n_supps(O) > 1 and they are late
    on O. One orderkey exchange computes both counts (conditional
    countDistinct shares the shuffle); the join back is on the same key,
    so AQE reuses the exchange; supplier names attach by broadcast. At
    100 TB this replaces Q21's notorious double self-join of the largest
    table with a single aggregation pass.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr(f"INTERVAL {Q21_LATE_DAYS} DAYS")
            ).alias("late"),
        )
    )
    per_order = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct(
            F.when(F.col("late"), F.col("l_suppkey"))
        ).alias("n_late_supps"),
    )
    late_rows = (
        li.where(F.col("late")).select("l_orderkey", "l_suppkey").distinct()
    )
    blocked = (
        late_rows.join(per_order, "l_orderkey")
        .where((F.col("n_late_supps") == 1) & (F.col("n_supps") > 1))
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("numwait"))
    )
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        blocked.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(Q21_TOP)
    )


#: TPC-H Q3-shaped shipping-priority SQL, written in the ANSI subset BOTH
#: Spark SQL and DuckDB parse — the engine runs it verbatim through
#: ``spark.sql`` (the full SQL front-end surface), the oracle runs the
#: SAME text, so the two can never drift.
Q3_SQL = """
    SELECT o_orderkey,
           round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(38,4))) AS DOUBLE), 6) AS revenue,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR(10)) AS o_orderdate
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < DATE '1997-03-15'
      AND l_shipdate > DATE '1997-03-15'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderkey ASC
    LIMIT 10
"""


def shipping_priority_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped shipping priority through the SQL FRONT-END:
    ``spark.sql`` over registered views, not the DataFrame DSL — proving
    the engine's full declarative surface (same Catalyst plan either
    way: both date filters push into the scans, customer broadcasts,
    TakeOrderedAndProject caps the sort at 10 rows).

    The o_orderdate type differs between engines (Spark reads the
    fixture as TIMESTAMP, DuckDB as DATE in its view) — the comparison
    with a DATE literal and the group key both behave identically; the
    driver's value-hash canonicalizes temporal types.
    """
    from ..sources.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(Q3_SQL)


#: TPC-H Q1-shaped pricing summary in the COMMON SQL dialect — run
#: verbatim through spark.sql AND as the DuckDB oracle (same text, zero
#: drift). Decimal-accumulated sums and @6dp rounding keep the float
#: surfaces engine-identical; avg() runs on the decimal sums and rounds.
Q1_SQL = """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(38,4))) AS BIGINT) AS sum_qty,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,4)))
                 AS DOUBLE), 6) AS sum_base_price,
           round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(38,6))) AS DOUBLE), 6) AS sum_disc_price,
           round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                              * (1 + l_tax)
                              AS DECIMAL(38,6))) AS DOUBLE), 6) AS sum_charge,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE)
                 / count(*), 6) AS avg_qty,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE)
                 / count(*), 6) AS avg_price,
           round(CAST(sum(CAST(l_discount AS DECIMAL(38,4))) AS DOUBLE)
                 / count(*), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
"""


def pricing_summary_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 verbatim through the SQL front-end (``spark.sql`` over
    registered views; the oracle runs the identical text). One scan, one
    partial+final aggregate over a 6-group key space — the canonical
    map-side-combine query; the l_shipdate filter pushes into the scan.
    """
    from ..sources.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(Q1_SQL)


#: TPC-H Q18-shaped large-volume customer in the common SQL dialect.
#: Threshold 250 (spec: 300) keeps the HAVING set non-trivial at fixture
#: scale; quantities are integral doubles, so the per-order sums are
#: exact in float64 and the > threshold cut cannot drift between engines.
#: ORDER BY gains o_orderkey as a deterministic tiebreak under LIMIT.
Q18_SQL = """
    SELECT c_name, c_custkey, o_orderkey,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR(10)) AS o_orderdate,
           round(o_totalprice, 2) AS o_totalprice,
           CAST(sum(l_quantity) AS BIGINT) AS sum_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING sum(l_quantity) > 250
    )
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderdate ASC, o_orderkey ASC
    LIMIT 100
"""


#: TPC-H Q6 verbatim (forecasting revenue change): pure filter +
#: single-row aggregate — the minimal pushdown/codegen probe. Decimal
#: accumulation + @6dp rounding as in Q1.
Q6_SQL = """
    SELECT round(CAST(sum(CAST(l_extendedprice * l_discount
                              AS DECIMAL(38,4))) AS DOUBLE), 6) AS revenue
    FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01'
      AND l_shipdate < DATE '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
"""


def forecast_revenue_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 through the SQL front-end (oracle runs the identical
    text). Every predicate must reach the parquet scan as a pushed
    filter; the aggregate partial-combines to a single row — at 100 TB
    this query is scan-bound or the plan is wrong."""
    from ..sources.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(Q6_SQL)


#: TPC-H Q10-shaped returned-item report, restricted to the columns the
#: fixture carries (no c_address/c_phone/c_comment in this schema);
#: deterministic tiebreak on c_custkey under LIMIT.
Q10_SQL = """
    SELECT c_custkey, c_name,
           round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(38,4))) AS DOUBLE), 6) AS revenue,
           round(c_acctbal, 2) AS c_acctbal, n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= DATE '1996-01-01'
      AND o_orderdate < DATE '1996-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
"""


def returned_items_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped top returned-item customers through the SQL
    front-end. nation broadcasts onto customer, the quarter filter and
    the returnflag filter push into the orders/lineitem scans, and
    TakeOrderedAndProject caps the revenue sort at 20 rows."""
    from ..sources.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(Q10_SQL)


#: TPC-H Q14 verbatim (promotion effect): the sums accumulate through
#: DECIMAL (exact), convert to DOUBLE only for the final division, and
#: round via the repo's floor(x*1e6 + 0.5) convention so both engines
#: agree op for op. The fixture's p_type values are plain labels, so
#: the spec's 'PROMO%' prefix match hits the 'PROMO' class.
Q14_SQL = """
    SELECT floor(
             100.0
             * CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
                             THEN CAST(l_extendedprice * (1 - l_discount)
                                       AS DECIMAL(38,4))
                             ELSE CAST(0 AS DECIMAL(38,4)) END)
                    AS DOUBLE)
             / CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(38,4))) AS DOUBLE)
             * 1000000 + 0.5) / 1000000 AS promo_revenue
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= DATE '1996-09-01'
      AND l_shipdate < DATE '1996-10-01'
"""


def promo_effect_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 through the SQL front-end. The month filter pushes into
    the lineitem scan; part (small dim) broadcasts onto the filtered
    fact; one partial+final aggregate emits a single row."""
    from ..sources.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(Q14_SQL)


#: TPC-H Q15 verbatim shape (top supplier): the CTE materializes once
#: per reference; the max() scalar subquery compares EXACT decimal sums,
#: so the winner set is deterministic in both engines.
Q15_SQL = """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             sum(CAST(l_extendedprice * (1 - l_discount)
                      AS DECIMAL(38,4))) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= DATE '1996-01-01'
        AND l_shipdate < DATE '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name,
           round(CAST(total_rev AS DOUBLE), 6) AS total_revenue
    FROM supplier
    JOIN revenue ON s_suppkey = supplier_no
    WHERE total_rev = (SELECT max(total_rev) FROM revenue)
    ORDER BY s_suppkey
"""


def top_supplier_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 through the SQL front-end. The scalar max subquery plans
    as a 1-row broadcast against the aggregated revenue relation (never
    a re-scan of lineitem per row), and the quarter filter pushes into
    the fact scan. Equality on exact DECIMAL sums keeps tie handling
    engine-portable."""
    from ..sources.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(Q15_SQL)


#: TPC-H Q7 verbatim shape (volume shipping): bidirectional nation-pair
#: filter over a 6-relation join; DECIMAL-exact revenue per
#: (supp_nation, cust_nation, year).
Q7_SQL = """
    SELECT supp_nation, cust_nation, l_year,
           round(CAST(sum(volume) AS DOUBLE), 6) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             EXTRACT(YEAR FROM l_shipdate) AS l_year,
             CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(38,4)) AS volume
      FROM supplier, lineitem, orders, customer, nation n1, nation n2
      WHERE s_suppkey = l_suppkey
        AND o_orderkey = l_orderkey
        AND c_custkey = o_custkey
        AND s_nationkey = n1.n_nationkey
        AND c_nationkey = n2.n_nationkey
        AND ((n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_20')
             OR (n1.n_name = 'NATION_20' AND n2.n_name = 'NATION_8'))
        AND l_shipdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
"""


def volume_shipping_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 through the SQL front-end. The two nation roles broadcast
    and their name filters prune the supplier/customer sides BEFORE the
    fact join (Catalyst pushes the disjunction through as an IN-list on
    each nation role), so only nation-pair traffic shuffles."""
    from ..sources.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(Q7_SQL)


#: TPC-H Q8 verbatim shape (national market share): 7-relation join.
#: Volume accumulates through DECIMAL per (year, nation) and the share
#: divides as DOUBLE under the floor-rounding convention.
Q8_SQL = """
    SELECT o_year,
           floor(CAST(sum(CASE WHEN nation = 'NATION_8'
                               THEN volume
                               ELSE CAST(0 AS DECIMAL(38,4)) END)
                      AS DOUBLE)
                 / CAST(sum(volume) AS DOUBLE)
                 * 1000000 + 0.5) / 1000000 AS mkt_share
    FROM (
      SELECT EXTRACT(YEAR FROM o_orderdate) AS o_year,
             CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(38,4)) AS volume,
             n2.n_name AS nation
      FROM part, supplier, lineitem, orders, customer,
           nation n1, nation n2, region
      WHERE p_partkey = l_partkey
        AND s_suppkey = l_suppkey
        AND l_orderkey = o_orderkey
        AND o_custkey = c_custkey
        AND c_nationkey = n1.n_nationkey
        AND n1.n_regionkey = r_regionkey
        AND r_name = 'AMERICA'
        AND s_nationkey = n2.n_nationkey
        AND o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
        AND p_type = 'ECONOMY'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
"""


def market_share_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 through the SQL front-end — the widest join in the
    suite (7 relations). Catalyst reorders the comma joins into a
    broadcast chain over the dims (part, supplier, customer, both
    nation roles, region) hanging off the lineitem-orders backbone; the
    date and p_type filters push into their scans. A 1000-executor run
    shuffles only the two fact relations."""
    from ..sources.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(Q8_SQL)


#: TPC-H Q5 verbatim shape (local supplier volume): 6-relation join with
#: the c_nationkey = s_nationkey co-location predicate; DECIMAL-exact
#: revenue per nation, ordered descending.
Q5_SQL = """
    SELECT n_name,
           round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(38,4))) AS DOUBLE),
                 6) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey
      AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= DATE '1996-01-01'
      AND o_orderdate < DATE '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
"""


def local_supplier_volume_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 through the SQL front-end. The distinguishing predicate is
    c_nationkey = s_nationkey — a join condition between two DIMENSION
    sides of the fact backbone, not a filter: Catalyst keeps customer and
    supplier broadcast (both tiny vs lineitem) and evaluates the equality
    after the backbone join, so the only shuffles at 100 TB are the
    lineitem-orders hash join partial aggregates. The region filter
    prunes nation (and transitively supplier/customer nation values)
    before anything touches the fact table, and the one-year date range
    pushes into the orders scan. A deterministic (revenue DESC, n_name)
    tiebreak keeps the 5-row result ordering engine-portable."""
    from ..sources.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(Q5_SQL)


#: TPC-H Q19 shape (discounted revenue, fixture subset: the reference
#: columns l_shipmode/l_shipinstruct/p_container do not exist in the
#: fixture, so the disjunction keeps its brand/size/quantity arms only).
#: The interesting property is the OR-of-ANDs predicate spanning both
#: join sides.
Q19_SQL = """
    SELECT round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(38,4))) AS DOUBLE),
                 6) AS revenue
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND ((p_brand = 'Brand#12'
            AND p_size BETWEEN 1 AND 15
            AND l_quantity BETWEEN 1 AND 11)
        OR (p_brand = 'Brand#23'
            AND p_size BETWEEN 1 AND 25
            AND l_quantity BETWEEN 10 AND 20)
        OR (p_brand = 'Brand#34'
            AND p_size BETWEEN 1 AND 35
            AND l_quantity BETWEEN 20 AND 30))
"""


def discounted_revenue_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (fixture-subset shape) through the SQL front-end.

    The disjunction mixes part-side (p_brand, p_size) and lineitem-side
    (l_quantity) conjuncts. Catalyst factors the single-side residues
    out of the OR: the part scan receives an In(p_brand, [..3 brands])
    + size upper-bound filter and the lineitem scan a l_quantity range
    — both visible as PushedFilters — while the mixed residual
    evaluates after the broadcast hash join on p_partkey. At 100 TB
    this is the difference between scanning three brands' postings and
    scanning the whole fact table. Reference parity: extends the
    predicate-composition idea of WordCount's token filters
    (WordCount.java:71-84) to multi-relation disjunctions."""
    from ..sources.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(Q19_SQL)


#: TPC-H Q9 shape (product-type profit). The fixture has no partsupp
#: relation, so ps_supplycost is unavailable and "profit" degrades to
#: discounted revenue — the join topology (part filter fanning out over
#: the supplier-nation rollup of lineitem x orders) is the point.
Q9_SQL = """
    SELECT nation, o_year,
           round(CAST(sum(amount) AS DOUBLE), 6) AS sum_profit
    FROM (
      SELECT n_name AS nation,
             EXTRACT(YEAR FROM o_orderdate) AS o_year,
             CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(38,4)) AS amount
      FROM part, supplier, lineitem, orders, nation
      WHERE s_suppkey = l_suppkey
        AND p_partkey = l_partkey
        AND o_orderkey = l_orderkey
        AND s_nationkey = n_nationkey
        AND p_name LIKE '%red%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
"""


def product_profit_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (fixture-subset shape) through the SQL front-end.

    The p_name LIKE '%red%' contains-filter cannot push into parquet
    row-group stats, but it DOES evaluate on the part scan before the
    join, so the broadcast build side carries only matching partkeys and
    the fact rows for every other part never survive the join. supplier
    and nation broadcast; lineitem-orders is the one real shuffle. The
    per-(nation, year) aggregate partial-combines map-side."""
    from ..sources.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(Q9_SQL)


#: TPC-H Q17 shape (small-quantity-order revenue). The fixture has no
#: p_container, so the container filter degrades to a p_size band — the
#: topology (per-part average-quantity scalar subquery gating the fact
#: scan) is the point. The 0.2*avg(qty) threshold is evaluated in exact
#: integer arithmetic: l_quantity is integral, so qty < 0.2 * (sum/cnt)
#: <=> 5*qty*cnt < sum — no floating-point average crosses an engine
#: boundary.
Q17_SQL = """
    WITH part_qty AS (
      SELECT l_partkey AS pq_partkey,
             sum(CAST(l_quantity AS BIGINT)) AS qty_sum,
             count(*) AS qty_cnt
      FROM lineitem
      GROUP BY l_partkey
    )
    SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,4)))
                      AS DOUBLE) / 7.0,
                 6) AS avg_yearly
    FROM lineitem, part, part_qty
    WHERE p_partkey = l_partkey
      AND pq_partkey = l_partkey
      AND p_brand = 'Brand#23'
      AND p_size < 15
      AND CAST(l_quantity AS BIGINT) * 5 * qty_cnt < qty_sum
"""


def small_quantity_revenue_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (fixture-subset shape) through the SQL front-end —
    the SQL twin of ``small_quantity_revenue`` (rel_scalar_subquery),
    completing the unblocked-topology rel_sql_* set.

    The classic trap here is the correlated scalar subquery (0.2 * avg
    quantity per part) — evaluated naively it is one aggregate probe per
    fact row. Written (and planned) as a grouped aggregate joined back
    on l_partkey, it is ONE extra pass over lineitem whose output is
    part-cardinality sized, then a hash join the brand/size filter has
    already shrunk: the part scan keeps only Brand#23 small sizes, AQE
    broadcasts the surviving partkeys, and every other part's fact rows
    die at the join. The threshold comparison is exact integer math
    (5*qty*cnt < sum), so the oracle replays bit-for-bit with no
    floating-point average in the predicate. Reference parity: the
    aggregate-then-join-back shape is the document-frequency A3 pattern
    (CountTF.java:92-99's per-group totals) lifted to a revenue gate."""
    from ..sources.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(Q17_SQL)


def large_volume_customer_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 through the SQL front-end (same text as the oracle).

    The IN-subquery plans as a left-semi join on l_orderkey whose build
    side is a partial+final aggregate of lineitem — at 100 TB that is
    the aggregate-then-semi-join shape you want (the HAVING set is tiny,
    so AQE converts the semi join to broadcast), never a correlated
    per-row probe. TakeOrderedAndProject caps the global sort at 100
    rows. Reference parity: extends SortByValue.java's top-k idea
    (SortByValue.java:101-121) to a multi-table SQL surface.
    """
    from ..sources.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(Q18_SQL)


#: Parallelism assumed by the skew report's salting recommendation — the
#: test rig's core count; a cluster deployment passes its executor-core
#: total. The rule itself (hot share vs 1/sqrt(parallelism)) is the
#: measured SCALE_PROBE.md P1 crossover.
SKEW_REPORT_PARALLELISM = 32
SKEW_TOP_KEYS = 10


def skew_salt_threshold(parallelism: int = SKEW_REPORT_PARALLELISM) -> float:
    """1/sqrt(parallelism) — computed once in Python and embedded as the
    SAME literal in the Spark comparison and the SQL oracle, so an
    engine-level sqrt/pow ulp difference can't flip the recommendation."""
    import math

    return 1.0 / math.sqrt(parallelism)


def join_skew_report(
    spark: SparkSession, sf_dir: str, parallelism: int = SKEW_REPORT_PARALLELISM
) -> DataFrame:
    """Pre-join skew diagnostic for the lineitem join key — the report a
    pipeline reads BEFORE choosing between the plain and salted
    aggregate paths (the monitoring twin of ``doc_freq_salted``, the
    same role ``dedup.lsh_bucket_stats`` plays for the verify join and
    ``similarity.mips_prune_stats`` for the bound scan).

    One row: relation size, distinct keys, the hottest key's row count
    and share, top-10-key mass, max/avg skew ratio, and the salt
    recommendation per the MEASURED crossover rule (SCALE_PROBE.md P1:
    salt once the hottest key exceeds ~1/sqrt(parallelism) of the
    relation — below that the salt's extra exchange costs more than the
    imbalance). One shuffle on the key; the top-10 mass rides a
    TakeOrdered over the per-key counts, never a global sort.
    """
    per_key = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("n"))
    )
    top = (
        per_key.orderBy(F.desc("n"), F.asc("l_orderkey"))
        .limit(SKEW_TOP_KEYS)
        .agg(F.sum("n").alias("top_mass"))
    )
    hot_share = F.col("max_rows") / F.col("n_rows")
    return (
        per_key.agg(
            F.sum("n").cast("long").alias("n_rows"),
            F.count("*").cast("long").alias("n_keys"),
            F.max("n").cast("long").alias("max_rows"),
        )
        .crossJoin(F.broadcast(top))
        .select(
            "n_rows",
            "n_keys",
            "max_rows",
            F.col("top_mass").cast("long").alias("top10_rows"),
            F.round(hot_share, 6).alias("hot_share"),
            F.round(F.col("top_mass") / F.col("n_rows"), 6).alias("top10_share"),
            F.round(
                F.col("max_rows") / (F.col("n_rows") / F.col("n_keys")), 6
            ).alias("skew_ratio"),
            (hot_share > skew_salt_threshold(parallelism)).alias(
                "recommend_salt"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Derived partsupp: the TPC-H table the driver fixture lacks, synthesized
# deterministically from part x supplier so Q2/Q11/Q16 run with a DuckDB
# oracle over the SAME derivation (no parquet side-channel, no RNG)
# ---------------------------------------------------------------------------

def _partsupp_cte(dialect: str) -> str:
    """The ``partsupp`` CTE, rendered for one engine. Four suppliers per
    part (the TPC-H ps arity), suppkey by integer arithmetic over the
    SCALE-DERIVED supplier count (never a hard-coded 100), availqty and
    cost from the repo's md5-uniform convention — pure integer columns,
    so both engines derive bit-identical rows. Costs are kept in CENTS
    (BIGINT) so every aggregate over them is exact; the display dollar
    value divides once at the end. Only dialect seams differ: integer
    division, the 4-row generator, and hex->int."""
    if dialect == "spark":
        d13 = "(p.p_partkey div 13)"
        gen4 = "(SELECT explode(sequence(0, 3)) AS i) g"
        h = (
            "CAST(conv(substr(md5('{tag}:' || p.p_partkey || ':' || g.i), "
            "1, 8), 16, 10) AS BIGINT)"
        )
    else:
        d13 = "(p.p_partkey // 13)"
        gen4 = "(SELECT unnest(generate_series(0, 3)) AS i) g"
        h = (
            "CAST(concat('0x', substr(md5('{tag}:' || p.p_partkey || ':' "
            "|| g.i), 1, 8)) AS BIGINT)"
        )
    return f"""
  partsupp AS (
    SELECT
      p.p_partkey AS ps_partkey,
      sup.s_base + ((p.p_partkey * 4 + g.i + {d13}) % sup.n_supp)
        AS ps_suppkey,
      1 + ({h.format(tag='psq')} % 9999) AS ps_availqty,
      100 + ({h.format(tag='psc')} % 99900) AS ps_cost_cents
    FROM part p
    CROSS JOIN {gen4}
    CROSS JOIN (
      SELECT min(s_suppkey) AS s_base, count(*) AS n_supp FROM supplier
    ) sup
  )"""


def q2_sql(dialect: str) -> str:
    """TPC-H Q2 (minimum-cost supplier) over the derived partsupp.
    Fixture adaptations, documented: p_mfgr/s_address/s_phone/s_comment
    don't exist in the driver fixture — the select list keeps the
    columns that do; the filters keep Q2's shape (size gate, type
    suffix LIKE, region gate) over the fixture's value domains (the
    spec's size equality keeps ~2 rows at sf0.01 — a range keeps the
    min-cost correlation exercised across ~40 parts)."""
    return f"""
WITH {_partsupp_cte(dialect)}
SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_brand, p.p_type,
       CAST(ps.ps_cost_cents AS DOUBLE) / 100.0 AS ps_supplycost
FROM part p, supplier s, partsupp ps, nation n, region r
WHERE p.p_partkey = ps.ps_partkey
  AND s.s_suppkey = ps.ps_suppkey
  AND p.p_size <= 15
  AND p.p_type LIKE '%OMY'
  AND s.s_nationkey = n.n_nationkey
  AND n.n_regionkey = r.r_regionkey
  AND r.r_name = 'EUROPE'
  AND ps.ps_cost_cents = (
    SELECT min(ps2.ps_cost_cents)
    FROM partsupp ps2, supplier s2, nation n2, region r2
    WHERE ps2.ps_partkey = p.p_partkey
      AND s2.s_suppkey = ps2.ps_suppkey
      AND s2.s_nationkey = n2.n_nationkey
      AND n2.n_regionkey = r2.r_regionkey
      AND r2.r_name = 'EUROPE'
  )
ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
LIMIT 100
"""


def q11_sql(dialect: str) -> str:
    """TPC-H Q11 (important stock) over the derived partsupp, one
    nation's share. The HAVING threshold is the classic sum * fraction
    — compared in exact integer cents (value * 10000 > national total)
    so no float ever gates a row."""
    return f"""
WITH {_partsupp_cte(dialect)},
nat_ps AS (
  SELECT ps.ps_partkey,
         ps.ps_cost_cents * ps.ps_availqty AS value_cents
  FROM partsupp ps, supplier s, nation n
  WHERE ps.ps_suppkey = s.s_suppkey
    AND s.s_nationkey = n.n_nationkey
    AND n.n_name = 'NATION_12'
)
SELECT ps_partkey,
       round(CAST(sum(value_cents) AS DOUBLE) / 100.0, 6) AS value
FROM nat_ps
GROUP BY ps_partkey
HAVING sum(value_cents) * 10000 > (
  SELECT sum(value_cents) FROM nat_ps
)
ORDER BY value DESC, ps_partkey
"""


def q16_sql(dialect: str) -> str:
    """TPC-H Q16 (parts/supplier relationship) over the derived
    partsupp. Fixture adaptation, documented: the spec excludes
    suppliers by s_comment LIKE '%Customer%Complaints%', a column the
    fixture lacks — the stand-in exclusion is s_acctbal < 0 (the
    fixture's only supplier-level risk signal), same NOT IN topology."""
    return f"""
WITH {_partsupp_cte(dialect)}
SELECT p.p_brand, p.p_type, p.p_size,
       count(DISTINCT ps.ps_suppkey) AS supplier_cnt
FROM partsupp ps, part p
WHERE p.p_partkey = ps.ps_partkey
  AND p.p_brand <> 'Brand#13'
  AND p.p_type NOT LIKE 'MEDIUM%'
  AND p.p_size IN (49, 14, 23, 45, 19, 3, 36, 9)
  AND ps.ps_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
"""


def min_cost_supplier_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 through the SQL front-end, over the DERIVED partsupp
    (``_partsupp_cte`` — deterministic part x supplier arithmetic both
    engines replay bit-identically; closes the fixture gap from our
    side instead of waiting for a partsupp parquet).

    Plan shape: the correlated min-cost scalar subquery rewrites (as in
    rel_sql_q17) to a grouped min + join back on ps_partkey; partsupp
    itself is a part-scan x 4-row generator x 1-row broadcast scalar —
    no corpus-sized shuffle materializes an 8000-row helper relation.
    Region/nation gates broadcast; LIMIT 100 caps the global sort at
    TakeOrderedAndProject. At 100 TB partsupp would be a real table and
    the identical query text runs unchanged."""
    from ..sources.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(q2_sql("spark"))


def important_stock_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 through the SQL front-end over the derived partsupp.
    The national value table is built ONCE as a CTE consumed by both
    the grouped sum and the grand-total scalar; integer-cents
    arithmetic keeps every comparison exact (no float HAVING gate). The
    scalar total attaches as a 1-row broadcast, the same A4 shape as
    tfidf's totalDocs (TfidfMapReduce.java:51)."""
    from ..sources.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(q11_sql("spark"))


def parts_supplier_cnt_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 through the SQL front-end over the derived partsupp.
    NOT IN over a 6-row exclusion set plans as a broadcast null-aware
    anti join; count(DISTINCT ps_suppkey) is the two-phase expand
    aggregate. Ordered by supplier_cnt desc + full key tiebreak, so the
    relation is deterministic."""
    from ..sources.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(q16_sql("spark"))


# ---------------------------------------------------------------------------
# Derived columns: shipmode/commit/receipt dates, o_comment, c_phone — the
# remaining TPC-H fixture gaps (Q4-exact, Q12, Q13, Q22), closed the same
# way as partsupp: deterministic key arithmetic both engines replay
# bit-identically, no parquet side-channel, no RNG
# ---------------------------------------------------------------------------

#: epoch-day constants used in the derived-date filters (computed once,
#: embedded as integer literals so neither engine does date arithmetic
#: beyond one datediff per row).
import datetime as _dt

_EPOCH = _dt.date(1970, 1, 1)


def _epoch_day(iso: str) -> int:
    return (_dt.date.fromisoformat(iso) - _EPOCH).days


def _hash_bigint(dialect: str, expr: str) -> str:
    """Portable ``md5(expr)[:8] -> BIGINT`` — the repo's uniform-hash
    convention (same seam as ``_partsupp_cte``). ``expr`` is a SQL
    string expression; the result is uniform on [0, 2^32)."""
    if dialect == "spark":
        return f"CAST(conv(substr(md5({expr}), 1, 8), 16, 10) AS BIGINT)"
    return f"CAST(concat('0x', substr(md5({expr}), 1, 8)) AS BIGINT)"


def _lineitem_x_cte(dialect: str) -> str:
    """``lineitem_x``: lineitem extended with the three columns the
    driver fixture trims (TESTDATA.md): ``l_shipmode`` (the TPC-H 7-mode
    domain, hash-picked), and commit/receipt dates carried as EPOCH-DAY
    BIGINTs (``l_commit_day``, ``l_receipt_day``) relative to the real
    ``l_shipdate``. Integer day arithmetic sidesteps every cross-engine
    timestamp-interval seam: commit is ship + [-30, +30] days, receipt is
    ship + [1, 30] days, so ``commit < receipt`` holds for ~64% of lines
    (the Q4/Q12 'late commit' predicate stays selective, not degenerate).
    """
    h = lambda tag: _hash_bigint(  # noqa: E731 — local template helper
        dialect, f"'{tag}:' || l.l_orderkey || ':' || l.l_linenumber"
    )
    if dialect == "spark":
        ship_day = "datediff(CAST(l.l_shipdate AS DATE), DATE '1970-01-01')"
    else:
        ship_day = "datediff('day', DATE '1970-01-01', CAST(l.l_shipdate AS DATE))"
    return f"""
  lineitem_x AS (
    SELECT l.*,
      CASE ({h('lsm')} % 7)
        WHEN 0 THEN 'AIR'      WHEN 1 THEN 'AIR REG' WHEN 2 THEN 'RAIL'
        WHEN 3 THEN 'SHIP'     WHEN 4 THEN 'TRUCK'   WHEN 5 THEN 'MAIL'
        ELSE 'FOB'
      END AS l_shipmode,
      {ship_day} AS l_ship_day,
      {ship_day} + ({h('lcd')} % 61) - 30 AS l_commit_day,
      {ship_day} + 1 + ({h('lrd')} % 30) AS l_receipt_day
    FROM lineitem l
  )"""


def _orders_x_cte(dialect: str) -> str:
    """``orders_x``: orders extended with a derived ``o_comment`` — two
    hash-picked words from 5x5 vocabularies where 'special' x 'requests'
    is one cell, so ``NOT LIKE '%special%requests%'`` excludes ~4% of
    orders (the Q13 comment-filter shape at fixture selectivity)."""
    h = lambda tag: _hash_bigint(dialect, f"'{tag}:' || o.o_orderkey")  # noqa: E731
    return f"""
  orders_x AS (
    SELECT o.*,
      (CASE ({h('ow1')} % 5)
         WHEN 0 THEN 'special' WHEN 1 THEN 'pending' WHEN 2 THEN 'express'
         WHEN 3 THEN 'regular' ELSE 'bulk'
       END) || ' ' ||
      (CASE ({h('ow2')} % 5)
         WHEN 0 THEN 'requests' WHEN 1 THEN 'deposits' WHEN 2 THEN 'packages'
         WHEN 3 THEN 'accounts' ELSE 'instructions'
       END) AS o_comment
    FROM orders o
  )"""


def _customer_x_cte(dialect: str) -> str:
    """``customer_x``: customer extended with a derived ``c_phone``
    (country code 10..34 hash-picked, TPC-H phone shape) plus
    ``c_cents`` (acctbal in exact BIGINT cents — round() lands on an
    exact .0 double in both engines before the cast, so no float ever
    gates a Q22 row) and the pre-sliced ``cntrycode``."""
    h = _hash_bigint(dialect, "'cph:' || c.c_custkey")
    s = "STRING" if dialect == "spark" else "VARCHAR"
    return f"""
  customer_x AS (
    SELECT c.*,
      CAST(10 + ({h} % 25) AS {s}) || '-555-' ||
        CAST(1000 + ({h} % 9000) AS {s}) AS c_phone,
      CAST(10 + ({h} % 25) AS {s}) AS cntrycode,
      CAST(round(c.c_acctbal * 100) AS BIGINT) AS c_cents
    FROM customer c
  )"""


def q4x_sql(dialect: str) -> str:
    """TPC-H Q4 EXACT (order priority checking): the spec's
    ``l_commitdate < l_receiptdate`` EXISTS predicate over the derived
    epoch-day columns (the previously shipped rel_q4_adapted had to
    substitute a shipdate window). Quarter window adapted to the fixture
    date domain (1997Q1)."""
    return f"""
WITH {_lineitem_x_cte(dialect)}
SELECT o.o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= DATE '1997-01-01'
  AND o.o_orderdate < DATE '1997-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem_x l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_commit_day < l.l_receipt_day
  )
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""


def q12_sql(dialect: str) -> str:
    """TPC-H Q12 (shipping modes and order priority) over the derived
    shipmode + commit/receipt days. The two-mode IN gate, the
    late-commit predicates, and the receipt-year window are the spec's;
    the year is adapted to the fixture domain (1997). Counts are exact
    integers — no float crosses the engines."""
    rlo, rhi = _epoch_day("1997-01-01"), _epoch_day("1998-01-01")
    return f"""
WITH {_lineitem_x_cte(dialect)}
SELECT l.l_shipmode,
  CAST(sum(CASE WHEN o.o_orderpriority = '1-URGENT'
                  OR o.o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END)
       AS BIGINT) AS high_line_count,
  CAST(sum(CASE WHEN o.o_orderpriority <> '1-URGENT'
                 AND o.o_orderpriority <> '2-HIGH' THEN 1 ELSE 0 END)
       AS BIGINT) AS low_line_count
FROM orders o, lineitem_x l
WHERE o.o_orderkey = l.l_orderkey
  AND l.l_shipmode IN ('MAIL', 'SHIP')
  AND l.l_commit_day < l.l_receipt_day
  AND l.l_ship_day < l.l_commit_day
  AND l.l_receipt_day >= {rlo}
  AND l.l_receipt_day < {rhi}
GROUP BY l.l_shipmode
ORDER BY l.l_shipmode
"""


def q13_sql(dialect: str) -> str:
    """TPC-H Q13 (customer distribution) over the derived o_comment:
    left-outer join with the comment filter IN THE JOIN CONDITION (the
    Q13 signature — a WHERE filter would wrongly drop zero-order
    customers), double grouping, custdist/c_count descending order."""
    return f"""
WITH {_orders_x_cte(dialect)}
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c
  LEFT OUTER JOIN orders_x o
    ON c.c_custkey = o.o_custkey
   AND o.o_comment NOT LIKE '%special%requests%'
  GROUP BY c.c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q22_sql(dialect: str) -> str:
    """TPC-H Q22 (global sales opportunity) over the derived c_phone.
    The avg-acctbal gate is evaluated in exact integer cents
    (``c_cents * n_pos > s_pos`` — multiply through by the count instead
    of dividing, so no float average ever gates a row); NOT EXISTS
    anti-joins against orders. Fixture adaptation, documented: the
    driver fixture is referentially complete (every customer has at
    least one order, so the spec's literal NOT EXISTS selects nothing)
    — the stand-in is 'no OPEN order' (o_orderstatus = 'O'), the same
    anti-join topology over the fixture's only order-liveness signal.
    Output sums convert cents to dollars once."""
    return f"""
WITH {_customer_x_cte(dialect)},
eligible AS (
  SELECT cntrycode, c_cents, c_custkey
  FROM customer_x
  WHERE cntrycode IN ('13', '31', '23', '29', '30', '18', '17')
),
gate AS (
  SELECT count(*) AS n_pos, sum(c_cents) AS s_pos
  FROM eligible WHERE c_cents > 0
)
SELECT e.cntrycode,
       count(*) AS numcust,
       round(CAST(sum(e.c_cents) AS DOUBLE) / 100.0, 2) AS totacctbal
FROM eligible e, gate g
WHERE e.c_cents * g.n_pos > g.s_pos
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = e.c_custkey AND o.o_orderstatus = 'O'
  )
GROUP BY e.cntrycode
ORDER BY e.cntrycode
"""


def order_priority_exact_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 exact through the SQL front-end (see ``q4x_sql``).

    Plan shape: EXISTS plans as a left-semi join orders ⋈ lineitem_x on
    orderkey; lineitem_x is a map-only projection over the lineitem scan
    (md5 + datediff, whole-stage codegen'd), the late-commit filter
    prunes before the semi join shuffles. At 100 TB both sides shuffle
    on orderkey — the semi join keeps only order keys, never widths."""
    from ..sources.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(q4x_sql("spark"))


def shipmode_priority_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 through the SQL front-end (see ``q12_sql``). The
    derived-column projection is map-only; the receipt-window + mode
    filters cut lineitem BEFORE the orders join shuffles; the final agg
    is 2 groups wide. Scale-safe: one orderkey exchange each side."""
    from ..sources.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(q12_sql("spark"))


def customer_distribution_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 through the SQL front-end (see ``q13_sql``). The
    outer-join keeps every customer (zero-order customers land in the
    c_count=0 bucket); both groupings are additive — partials combine
    map-side. At 100 TB this is one custkey exchange + one tiny
    c_count exchange."""
    from ..sources.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(q13_sql("spark"))


def sales_opportunity_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 through the SQL front-end (see ``q22_sql``). The gate
    aggregate is a 1-row broadcast (A4 shape, TfidfMapReduce.java:51);
    NOT EXISTS plans as a left-anti join on custkey. Exact integer-cents
    gating keeps both engines bit-identical."""
    from ..sources.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(q22_sql("spark"))
