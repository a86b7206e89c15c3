"""Named serving queries — the engine's relational surface.

Each function takes ``(spark, sf_dir)`` and returns a lazy DataFrame.
Together they cover the reference's operator inventory (SURVEY.md §2):
every scan/filter/join/agg/window/sort/set-op the reference executes is
exercised by at least one query here, re-expressed Spark-first over the
driver's test tables. Each docstring cites the reference operator rows
it reproduces (file:line relative to /root/reference).

Plan-shape rules applied throughout:
- dims (region, nation, part dims, literal tables) are broadcast —
  no shuffle for the small side of a star join;
- aggregations are expressed as groupBy().agg() so Catalyst plans
  partial (map-side) + final aggregation automatically;
- money sums go through DECIMAL (see functions/numeric.py) so results
  are order-independent — identical on 32 local threads or 1000
  executors;
- filters and projections stay declarative → parquet pushdown/pruning;
- top-k is orderBy().limit() → TakeOrderedAndProject (no global sort);
- timestamps leave the engine as formatted strings or DATE to keep the
  serialization contract engine-neutral (ref JSON marshal rules,
  app/routes/data.py:35-48).
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from mspr2_back_spark.functions.numeric import METRIC, avg_of, dsum, money, money6
from mspr2_back_spark.sources.readers import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Aggregations (SURVEY §2.4) + scans/filters (§2.1, §2.2)
# ---------------------------------------------------------------------------


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H-Q1-shaped pricing summary.

    Covers S1 (scan), P-filters, A1 (multi-key hash agg with partial
    aggregation; ref app/etl.py:111-117), A2 (sums; ref
    app/routes/data.py:95-105), F12 casts, F13 arithmetic.
    One scan → map-side partial agg on 6 groups → tiny shuffle; the
    shape is scale-free (group count, not row count, crosses the wire).
    """
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") < F.lit("2000-01-01"))
    disc_price = money("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - money("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            avg_of("l_quantity").alias("avg_qty"),
            avg_of("l_extendedprice").alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def global_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global scalar aggregate, no GROUP BY (A2; ref app/routes/data.py:93-105)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        dsum("l_quantity").alias("total_qty"),
        dsum("l_extendedprice").alias("total_base_price"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


def weekly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly fact rollup — the reference's weekly_statistics build
    (A1 + F2 date_trunc('week'); ref app/etl.py:111-117)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.date_trunc("week", F.col("o_orderdate")).cast("date").alias("week_start"),
            F.col("o_orderstatus"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("week_total_price"),
        )
    )


def daily_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series aggregate by date, sorted (A4 + O2; ref
    app/routes/data.py:218-226,238-244)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(F.col("o_orderdate").cast("date").alias("order_date"))
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice").alias("daily_total"))
        .orderBy("order_date")
    )


def avg_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVG/min/max per group with a >0 filter (A10 + P4; ref
    README.md:6-13, app/routes/data.py:362)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    return c.groupBy("c_mktsegment").agg(
        avg_of("c_acctbal").alias("avg_acctbal"),
        F.min(money("c_acctbal")).cast("double").alias("min_acctbal"),
        F.max(money("c_acctbal")).cast("double").alias("max_acctbal"),
        F.count(F.lit(1)).alias("n_customers"),
    )


def distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT DISTINCT per group (A7/A8 generalization; Spark plans a
    two-phase distinct aggregate — no driver-side dedup)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
    )


def max_year_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery: rows of the latest year (A9; ref
    app/grafana/Dashboard.json:240,339). Catalyst evaluates the
    subquery once and folds it into the scan filter."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("__orders_my")
    return spark.sql(
        """
        SELECT o_orderstatus,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM __orders_my
        WHERE year(o_orderdate) = (SELECT MAX(year(o_orderdate)) FROM __orders_my)
        GROUP BY o_orderstatus
        """
    )


def last_value_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-value-per-group then global sum — the reference's
    global_total_cumulative_cases (A11 + W5; ref README.md:1-3,
    app/routes/data.py:344-349). Deterministic tiebreak on event_id."""
    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    last = (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "value")
    )
    return last.agg(
        F.sum(money6("value")).cast("double").alias("sum_last_value"),
        F.count(F.lit(1)).alias("n_users"),
    )


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.3)
# ---------------------------------------------------------------------------


def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join with broadcast dims (J1/J3/J6, X9; ref
    app/etl.py:146-153, app/routes/data.py:278-293). nation and region
    are broadcast — the 100 TB fact side never shuffles for them."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            dsum("o_totalprice").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
    )


def year_week_rollup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key join on derived (key, year, week) against an
    aggregated CTE (J4 + A5 + F3; ref app/routes/data.py:124-147).
    Same derived keys on both sides; the reference's ISO-week trap
    (SURVEY §7.4) applies to its semantics, not the join mechanics."""
    o = _t(spark, sf_dir, "orders")
    weekly = (
        o.groupBy(
            F.col("o_custkey").alias("w_custkey"),
            F.year("o_orderdate").alias("w_year"),
            F.weekofyear("o_orderdate").alias("w_week"),
        )
        .agg(dsum("o_totalprice").alias("weekly_spend"), F.count(F.lit(1)).alias("weekly_orders"))
    )
    return (
        o.join(
            weekly,
            (F.col("o_custkey") == F.col("w_custkey"))
            & (F.year("o_orderdate") == F.col("w_year"))
            & (F.weekofyear("o_orderdate") == F.col("w_week")),
            "left",
        )
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("w_year").alias("order_year"),
            F.col("w_week").alias("order_week"),
            "weekly_spend",
            "weekly_orders",
        )
    )


def urgent_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtering join as LEFT SEMI (J5; ref app/routes/data.py:222-224
    — INNER JOIN used purely as an existence filter). Semi-join ships
    only the join key, never duplicates the probe side."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between(F.lit("1996-01-01"), F.lit("1996-12-31"))
    )
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice").alias("total_price"))
    )


def latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT ON emulation + join (J7/W5; ref app/routes/data.py:344-361,
    PostgreSQL DISTINCT ON → row_number() == 1)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey").desc())
    last = (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderdate").cast("date").alias("last_order_date"),
            money("o_totalprice").cast("double").alias("last_order_price"),
        )
    )
    return last.join(c, last.o_custkey == c.c_custkey).select(
        "c_custkey", "c_name", "c_mktsegment", "last_order_date", "last_order_price"
    )


# ---------------------------------------------------------------------------
# Window functions (SURVEY §2.5)
# ---------------------------------------------------------------------------


def value_lag_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative→delta via lag over (partition, order) — the
    reference's daily-shots derivation (W1; ref app/etl.py:122-131),
    including the null-lag→first-value rule."""
    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    lagv = F.lag("value").over(w)
    return e.select(
        "event_id",
        "user_id",
        F.coalesce(F.col("value") - lagv, F.col("value")).alias("value_delta"),
    )


def yearly_orders_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global-frame LAG over yearly rollup + NULLIF-guarded ratio
    (W3 + F15 + F13; ref app/grafana/Dashboard.json:448)."""
    o = _t(spark, sf_dir, "orders")
    yearly = o.groupBy(F.year("o_orderdate").alias("order_year")).agg(
        dsum("o_totalprice").alias("total_price"), F.count(F.lit(1)).alias("n_orders")
    )
    w = W.orderBy("order_year")
    prev = F.lag("total_price").over(w)
    return yearly.select(
        "order_year",
        "total_price",
        "n_orders",
        F.coalesce(F.col("total_price") - prev, F.lit(0.0)).alias("yoy_delta"),
        (F.col("total_price") / F.nullif(prev, F.lit(0.0))).alias("yoy_ratio"),
    ).orderBy("order_year")


def region_yearly_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned LAG per region over yearly sums (W4; ref
    app/grafana/Dashboard.json:559,885)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    yearly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.year("o_orderdate").alias("order_year"))
        .agg(dsum("o_totalprice").alias("revenue"))
    )
    w = W.partitionBy("region").orderBy("order_year")
    return yearly.select(
        "region",
        "order_year",
        "revenue",
        F.coalesce(F.col("revenue") - F.lag("revenue").over(w), F.lit(0.0)).alias("yoy_delta"),
    )


def brand_surrogate_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surrogate ids by row_number over name order, plus a literal
    default row via unionByName — the reference's vaccine dim build
    (W2 + A7 + U1 + F20 + S4; ref app/etl.py:101-108).
    The single-partition window is acceptable only because the distinct
    dim is tiny (the ref's X4 anti-pattern, contained to dim size)."""
    p = _t(spark, sf_dir, "part")
    brands = p.select(F.col("p_brand").alias("brand")).distinct()
    w = W.orderBy("brand")
    ids = brands.select(F.row_number().over(w).alias("brand_id"), "brand")
    default = spark.range(1, numPartitions=1).select(
        F.lit(0).alias("brand_id"), F.lit("unknown").alias("brand")
    )
    return ids.unionByName(default)


def rolling_sum3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding row-frame aggregate (W6 shape, rowsBetween; ref
    app/routes/predict_france_with_model.py:83-88 LOOKBACK window)."""
    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, 0)
    return e.select(
        "event_id",
        "user_id",
        F.sum(money6("value")).over(w).cast("double").alias("rolling3_value"),
    )


# ---------------------------------------------------------------------------
# Sorts / top-k / pagination (SURVEY §2.6)
# ---------------------------------------------------------------------------


def top5_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY ... DESC LIMIT 5 top-k (O1; ref app/routes/data.py:273-299).
    Plans as TakeOrderedAndProject — per-partition heaps, no global sort."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    spend = o.groupBy("o_custkey").agg(
        dsum("o_totalprice").alias("total_spend"), F.count(F.lit(1)).alias("n_orders")
    )
    return (
        spend.join(c, spend.o_custkey == c.c_custkey)
        .select("c_custkey", "c_name", "total_spend", "n_orders")
        .orderBy(F.desc("total_spend"), F.asc("c_custkey"))
        .limit(5)
    )


def orders_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic LIMIT/OFFSET pagination (O4; ref
    app/routes/data.py:110-147 — ORDER BY then page 3 of 100)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            money("o_totalprice").cast("double").alias("o_totalprice"),
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
        )
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
        .offset(200)
        .limit(100)
    )


def pagination_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pagination envelope: total rows + total pages (O4/A8; ref
    app/routes/data.py:114-117,172-178)."""
    o = _t(spark, sf_dir, "orders")
    return o.agg(F.count(F.lit(1)).alias("total_rows")).select(
        "total_rows",
        F.ceil(F.col("total_rows") / F.lit(100.0)).cast("long").alias("total_pages"),
    )


def table_preview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIMIT-n preview (O3; ref app/routes/tables.py:29 — with the
    injection-prone f-string replaced by a fixed scan)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            "o_orderstatus",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
        )
        .orderBy("o_orderkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Scalar functions / conditional / lateral (SURVEY §2.8)
# ---------------------------------------------------------------------------


def segment_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE/WHEN decode chain (F9; ref app/etl.py:81-88 WHO-region
    decode) + groupBy."""
    c = _t(spark, sf_dir, "customer")
    seg = (
        F.when(F.col("c_mktsegment").isin("AUTOMOBILE", "MACHINERY"), F.lit("INDUSTRIAL"))
        .when(F.col("c_mktsegment").isin("BUILDING", "FURNITURE"), F.lit("CONSTRUCTION"))
        .otherwise(F.lit("OTHER"))
    )
    return c.groupBy(seg.alias("segment_group")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        avg_of("c_acctbal").alias("avg_acctbal"),
    )


def props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed extraction from a semi-structured string column +
    rollup (F12 casts; the events.props JSON payload)."""
    e = _t(spark, sf_dir, "events")
    # NULLIF before the cast: regexp_extract yields '' on no-match
    # (malformed or key-less props), and ANSI CAST('' AS INT) aborts
    # the scan — one bad payload must not kill the job (r15
    # dirty-events sweep). try_cast instead of cast (r17): the
    # NULLIF guard only covers the EMPTY match — a matched digit run
    # too long for INT (e.g. '{"k": 99999999999999999999}') still
    # aborted the scan with CAST_INVALID_INPUT. try_cast NULLs any
    # unrepresentable k on both engines (DuckDB TRY_CAST mirrors).
    # NULL k drops out of SUM; n_events still counts every event.
    k = F.nullif(
        F.regexp_extract(F.col("props"), r'"k":\s*(\d+)', 1), F.lit("")
    ).try_cast("int")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            (F.sum("k").cast("double") / F.count(F.lit(1))).alias("avg_k"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """split + explode lateral view — the reference's VACCINES_USED
    explode (F6/F7; ref app/etl.py:132-137) — then top-20 words."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("word"))
        .limit(20)
    )


def date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-sequence generation + left join + COALESCE zero-fill
    (F17 + F10; ref predict_france_with_model.py:101 pd.date_range,
    app/etl.py:157 coalesce)."""
    e = _t(spark, sf_dir, "events")
    start, end = datetime.date(2024, 1, 1), datetime.date(2024, 2, 10)
    spine = spark.range(1).select(
        F.explode(F.sequence(F.lit(start), F.lit(end))).alias("day")
    )
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(money6("value")).cast("double").alias("v"),
    )
    return (
        spine.join(daily, "day", "left")
        .select(
            "day",
            F.coalesce("n", F.lit(0)).alias("n_events"),
            F.coalesce("v", F.lit(0.0)).alias("total_value"),
        )
        .orderBy("day")
    )


def pct_negative_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentage rate with ROUND + guard (F13/F14 + P4; ref
    app/routes/data.py:356-363 vaccination-percent query)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    neg = F.sum(F.when(F.col("c_acctbal") < 0, 1).otherwise(0))
    return (
        joined.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            neg.alias("n_negative"),
            F.round(neg * 100.0 / F.count(F.lit(1)), 2).alias("pct_negative"),
        )
    )


def events_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Membership + date-band + null predicates (P2/P5/P6/P8; ref
    predict_france_with_model.py:27-34)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.filter(F.col("event_type").isin("click", "view"))
        .filter(
            F.col("ts").between(F.lit("2024-01-05 00:00:00"), F.lit("2024-01-25 23:59:59"))
        )
        .filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", METRIC).alias("total_value"))
    )


def metric_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allowlisted dynamic metric→column dispatch (P9; ref
    app/routes/worldmap.py:10-16 / graph.py:10-34 — the reference
    interpolates user input into SQL; here the metric name is resolved
    against a closed dict, which is both safe and plannable)."""
    allowlist = {"balance": "c_acctbal", "customers": "c_custkey"}
    metric = allowlist["balance"]  # serving layer passes a validated key
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(dsum(metric).alias("metric_value"))
    )


def hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregate in batch form — the batch-parity twin
    of streaming/events.py's windowed agg (extension; A4/F2 shape)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH").alias("hour"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", METRIC).alias("total_value"))
    )


def status_priority_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping-set aggregate (engine extension beyond the
    reference — SURVEY §2.4 'not present' list; Spark and the oracle
    agree on NULL subtotal markers)."""
    o = _t(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice").alias("total_price")
    )


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

QUERIES = {
    "pricing_summary": pricing_summary,
    "global_totals": global_totals,
    "weekly_rollup": weekly_rollup,
    "daily_timeseries": daily_timeseries,
    "avg_by_segment": avg_by_segment,
    "distinct_counts": distinct_counts,
    "max_year_orders": max_year_orders,
    "last_value_sum": last_value_sum,
    "revenue_by_nation": revenue_by_nation,
    "year_week_rollup_join": year_week_rollup_join,
    "urgent_semijoin": urgent_semijoin,
    "latest_order_per_customer": latest_order_per_customer,
    "value_lag_diff": value_lag_diff,
    "yearly_orders_lag": yearly_orders_lag,
    "region_yearly_lag": region_yearly_lag,
    "brand_surrogate_ids": brand_surrogate_ids,
    "rolling_sum3": rolling_sum3,
    "top5_customers": top5_customers,
    "orders_page": orders_page,
    "pagination_meta": pagination_meta,
    "table_preview": table_preview,
    "segment_decode": segment_decode,
    "props_extract": props_extract,
    "word_counts": word_counts,
    "date_spine": date_spine,
    "pct_negative_acctbal": pct_negative_acctbal,
    "events_filtered": events_filtered,
    "metric_projection": metric_projection,
    "hourly_events": hourly_events,
    "status_priority_rollup": status_priority_rollup,
}
