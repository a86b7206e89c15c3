"""Round-5 time-series / behavioral batch.

Five shapes the existing surface didn't exercise, each a staple of
production event analytics (the reference's serving layer stops at
daily aggregates + LAG deltas — plans/queries.py covers those; this
module is the operational layer above them):

- gapfill_user_daily     — per-entity date-spine densification +
                           forward fill (the missing-day repair every
                           dashboard and forecast input needs).
- daily_anomaly_scores   — trailing-window z-score outlier flags over
                           daily event counts (monitoring).
- event_transition_matrix— first-order Markov transition counts /
                           probabilities over per-user event streams.
- attribution_last_touch — last-touch marketing attribution: each
                           purchase credits the latest preceding
                           view/click within a conversion window
                           (consumes operators/asof.asof_join).
- daily_value_trend      — per-series OLS trend (slope/intercept)
                           from exact-decimal moment sums — the
                           regression twin of lineitem_corr_matrix.

Contract identical to plans/queries.py: ``(spark, sf_dir) ->
DataFrame``; every computed column aliased identically to the DuckDB
oracle (plans/timeseries_oracle.py); shared constants and formula
templates live HERE and the oracle imports them (one source of
truth — ADVICE r4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from mspr2_back_spark.functions.numeric import METRIC, dsum
from mspr2_back_spark.operators.asof import asof_join
from mspr2_back_spark.sources.readers import load_table

# Trailing-window length (calendar days) and anomaly threshold for
# daily_anomaly_scores. 7 days is the standard seasonality-free
# baseline; z is NULL until a full window of history exists.
ANOM_WINDOW_DAYS = 7
ANOM_Z_THRESHOLD = 2.0
# Last-touch attribution: qualifying touch types and the maximum
# touch→purchase distance in calendar days.
ATTR_TOUCH_TYPES = ("view", "click")
ATTR_WINDOW_DAYS = 7
ATTR_NO_TOUCH = "none"
# Day-index origin for the OLS trend (x = days since this date).
# Any fixed origin gives the same slope; intercept is "value at
# TREND_EPOCH". The events table starts 2024-01-01 at every SF.
TREND_EPOCH = "2024-01-01"
# Trend moment-sum scale (r18): the y and x·y moment sums go through
# this exact decimal on BOTH engines. Widened from METRIC
# (decimal(18,6)) so an extreme-but-valid day index (|x| ~2.9e6 at
# the date-domain edges) times a large daily total stays
# representable (bound |x·y| < 1e22 instead of 1e12); clean-data
# values are bit-identical (exact sums either way, same double
# conversion at the boundary).
TREND_MOMENT_SCALE = "DECIMAL(28,6)"
# Exponential smoothing factor for ewma_daily_value.
EWMA_ALPHA = 0.3
# Debounce window: an event is dropped when the previous event of
# the same (user, type) is closer than this. 30 min drops 6 / 91
# events at sf0.001 / sf0.01 — the threshold demonstrably binds at
# every sweep SF (a 10-min window drops just 1 at sf0.001).
DEBOUNCE_MINUTES = 30

# --- Timestamp operating window (r18, COVERAGE.md addendum 3) ---
# Spark's own timestamp domain is [0001-01-01, 9999-12-31], but the
# DRIVER boundary is narrower: PySpark's collect()/toPandas
# timestamp conversion underflows day 0001-01-01 to a year-ZERO
# Python datetime (measured r18: 0001-01-01 23:59:59 raises
# `ValueError: year 0 is out of range`; 0001-01-02 00:00:00 is the
# first representable value), and window/lag/horizon arithmetic can
# push an otherwise-representable value past either edge (a 15-min
# hop start for an 0001-01-01 event lands in year 0; a 7-step
# forecast from a 9999-12-31 observation lands in year 10000).
# Consumers whose OUTPUT carries raw or window-shifted timestamps
# therefore enforce this documented operating window SCAN-SIDE (the
# conformance-filter pattern — r16 multimodal NULL doc_ids, r17 lsh
# non-conforming embeddings): margin = 7 days on each edge, wider
# than every registered window/slide/horizon (1 h hop, 30 min
# debounce, 7-day AR horizon). Rows outside are non-conforming for
# timestamp-arithmetic analytics and excluded identically on both
# engines (the oracles format the SAME predicate template). Clean
# corpora (2024-2025 events) are untouched — sim-verified at
# change time, natural driver verdicts per each query's sweep slot.
TS_OPERATING_MIN = "0001-01-08 00:00:00"
TS_OPERATING_MAX = "9999-12-25 00:00:00"


def ts_operating_window_sql(col: str = "ts") -> str:
    """Shared conformance predicate: ``col`` within the documented
    timestamp operating window [TS_OPERATING_MIN, TS_OPERATING_MAX).
    One SQL text, valid on both engines (``TIMESTAMP '...'`` literals
    parse identically), formatted into the Spark plan via F.expr and
    into every mirroring DuckDB oracle — the two sides cannot
    drift."""
    return (
        f"{col} >= TIMESTAMP '{TS_OPERATING_MIN}'"
        f" AND {col} < TIMESTAMP '{TS_OPERATING_MAX}'"
    )


# --- Spine calendar window (r18, COVERAGE.md addendum 3) ---
# The dense-spine consumers (gapfill_user_daily,
# rolling_active_users) densify over [min, max] OBSERVED days, so a
# single extreme-but-valid date inflates the spine without bound:
# one year-9999 event measured 16,268x on gapfill and 121,735x on
# rolling_active_users at sf0.001 — at 100 TB that is a memory bomb
# reachable by one corrupt row. The operating window above cannot
# bound this (it is ~3.65M days wide). Calendar-spine analytics
# therefore have their own documented CONSTANT-width domain: events
# outside [SPINE_CALENDAR_MIN, SPINE_CALENDAR_MAX) are
# non-conforming for spine densification and excluded scan-side, so
# the worst-case spine length is the window width (36,524 days) —
# a constant, data-independent bound — instead of whatever a corrupt
# date dictates. Clean corpora (2024-2025) are untouched; both
# engines format the same predicate template.
SPINE_CALENDAR_MIN = "2000-01-01 00:00:00"
SPINE_CALENDAR_MAX = "2100-01-01 00:00:00"


def spine_calendar_sql(col: str = "ts") -> str:
    """Shared conformance predicate for dense-spine consumers:
    ``col`` within [SPINE_CALENDAR_MIN, SPINE_CALENDAR_MAX) — see
    the window rationale above. Same one-template discipline as
    ts_operating_window_sql."""
    return (
        f"{col} >= TIMESTAMP '{SPINE_CALENDAR_MIN}'"
        f" AND {col} < TIMESTAMP '{SPINE_CALENDAR_MAX}'"
    )


# --- Pandas-path timestamp domain (r18) ---
# Consumers that move raw event time INTO pandas
# (applyInPandas / applyInPandasWithState / mapInPandas) inherit
# pandas' datetime64[ns] domain — nanoseconds since epoch in int64,
# i.e. [1677-09-21 00:12, 2262-04-11 23:47] — far narrower than
# Spark's microsecond timestamp domain. A timestamp INSIDE the
# operating window but past 2262 (e.g. year 2999) aborts the Arrow
# batch conversion before user code runs, so a scan-side filter is
# the only total placement. The python-path ops carry this
# documented narrower domain; their JVM closed-form twins
# (ml_forecast_ar_exact, event_transition_matrix, ewma_daily_value,
# event_funnel) cover the full operating window — the split the
# registry already uses for oracle coverage. Day-grain consumers
# use whole-day bounds strictly inside the ns range.
PANDAS_TS_MIN = "1677-09-22 00:00:00"
PANDAS_TS_MAX = "2262-04-11 00:00:00"


def pandas_ts_window_sql(col: str = "ts") -> str:
    """Shared conformance predicate for python-path consumers:
    ``col`` within [PANDAS_TS_MIN, PANDAS_TS_MAX) — the
    datetime64[ns]-representable domain (see rationale above).
    Strictly inside the operating window."""
    return (
        f"{col} >= TIMESTAMP '{PANDAS_TS_MIN}'"
        f" AND {col} < TIMESTAMP '{PANDAS_TS_MAX}'"
    )


def ewma_step_sql() -> str:
    """One EWMA fold step over (acc, x) — shared lambda-body text so
    both engines execute the identical IEEE sequence in list order.
    The 1-α and α literals are exact decimal strings cast to DOUBLE
    (bare float literals parse as DECIMAL on both engines)."""
    return (
        f"acc * CAST({1 - EWMA_ALPHA} AS DOUBLE)"
        f" + x * CAST({EWMA_ALPHA} AS DOUBLE)"
    )


def zscore_sql() -> str:
    """Trailing-window z-score from integer window sums — one SQL
    text over columns n_events / sum_w / ss_w, evaluated by BOTH
    engines so the IEEE operation order is identical. sum_w/ss_w are
    BIGINT (exact); the mean/variance algebra happens in double with
    a fixed tree. Sample variance (n-1) over the full window."""
    w = ANOM_WINDOW_DAYS
    return (
        f"ROUND((CAST(n_events AS DOUBLE) - CAST(sum_w AS DOUBLE) / {w})"
        f" / NULLIF(sqrt((CAST(ss_w AS DOUBLE)"
        f" - CAST(sum_w AS DOUBLE) * CAST(sum_w AS DOUBLE) / {w})"
        f" / {w - 1}), 0), 6)"
    )


def trend_slope_sql() -> str:
    """OLS slope from moment sums n / sx / sxx / sy / sxy — shared
    template, fixed double operation order (same discipline as
    workloads.corr_sql).

    NULLIF on the denominator: a single-day group has zero x
    variance, and ANSI division by zero aborts the job (r15
    dirty-events sweep — one never-before-seen event type with one
    event did it). Slope over one point is genuinely undefined →
    NULL, identically on both engines (the oracle imports this
    template)."""
    return (
        "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
        " / NULLIF(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0)"
    )


def trend_intercept_sql() -> str:
    """OLS intercept (ȳ - slope·x̄) from the same moments, using the
    UNROUNDED slope expression."""
    return (
        f"(sy - ({trend_slope_sql()}) * CAST(sx AS DOUBLE))"
        " / CAST(n AS DOUBLE)"
    )


def gapfill_user_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily activity, densified over each user's own
    [first, last] day range, with event-less days carrying the most
    recent observed daily value forward (and flagged as gaps).

    Plan: the daily aggregation and the spine⋈daily join both hash on
    (user_id, day); the forward-fill window re-partitions on user_id
    only. Per-partition state is one user's day range — bounded by
    calendar span, not corpus size — so the shape survives 100× (the
    spine explode is sequence() scan-side; no driver state). The
    filled value is never NULL because each user's spine starts on a
    day that has events by construction. Events outside the spine
    calendar window are excluded scan-side (r18, spine_calendar_sql
    rationale: one extreme-but-valid date otherwise inflates a
    user's spine without bound — measured 16,268× at sf0.001; the
    constant window width is the worst-case spine length). Oracle
    mirrors the same predicate template.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.expr(spine_calendar_sql("ts")))
        .select("user_id", F.col("ts").cast("date").alias("day"), "value")
    )
    daily = ev.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).alias("n_raw"),
        dsum("value", METRIC).alias("daily_value"),
    )
    spine = (
        ev.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select("user_id", F.explode(F.sequence("d0", "d1")).alias("day"))
    )
    fill_w = (
        W.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        spine.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.coalesce("n_raw", F.lit(0)).cast("bigint").alias("n_events"),
            F.round(
                F.last("daily_value", ignorenulls=True).over(fill_w), 6
            ).alias("value_filled"),
            F.col("n_raw").isNull().alias("is_gap"),
        )
        .orderBy("user_id", "day")
    )


def daily_anomaly_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-count z-scores per event type against the trailing
    7 calendar days (RANGE frame on the day index, so a missing day
    shrinks the window and z stays NULL — no silent bias).

    The window runs over the DAILY relation (groups × days — thousands
    of rows at any corpus size), so the per-type sort is free; the
    only corpus-sized work is the first aggregation's (event_type,
    day) hash. All window sums are BIGINT → the z expression
    (zscore_sql) sees identical integers on both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    idx = F.datediff(F.col("day"), F.to_date(F.lit(TREND_EPOCH)))
    trail = (
        W.partitionBy("event_type")
        .orderBy(idx)
        .rangeBetween(-ANOM_WINDOW_DAYS, -1)
    )
    scored = (
        daily.withColumn("cnt_w", F.count(F.lit(1)).over(trail))
        .withColumn("sum_w", F.sum("n_events").over(trail))
        .withColumn(
            "ss_w", F.sum(F.col("n_events") * F.col("n_events")).over(trail)
        )
        .withColumn(
            "z_score",
            F.when(
                F.col("cnt_w") == ANOM_WINDOW_DAYS, F.expr(zscore_sql())
            ),
        )
    )
    return scored.select(
        "event_type",
        "day",
        "n_events",
        "z_score",
        (F.abs(F.col("z_score")) > ANOM_Z_THRESHOLD).alias("is_anomaly"),
    ).orderBy("event_type", "day")


def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    streams: count and conditional probability of each
    (event_type → next event_type) step.

    One shuffle on user_id for the LEAD window (per-user state =
    that user's events, the sessionization bound); the transition
    counts are a types² relation, so the probability window is work
    over ~25 rows. Ordering is (ts, event_id) — the event_id
    tie-break makes every count deterministic even under timestamp
    collisions, enforced identically in the oracle (this retires the
    former audited-but-unenforced no-collision invariant).
    """
    ev = load_table(spark, sf_dir, "events")
    nxt = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(nxt).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    per_from = W.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n_transitions",
        F.round(
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(per_from).cast("double"),
            6,
        ).alias("transition_prob"),
    ).orderBy("from_type", "to_type")


def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch revenue attribution: each purchase credits the
    LATEST preceding view/click by the same user (as-of semantics),
    but only within ATTR_WINDOW_DAYS calendar days — older touches
    attribute to 'none'.

    Consumes operators/asof.asof_join (the union + ordered-carry
    composition — linear, never the quadratic join-then-rank), with
    the touch (ts, type) carried as one struct so the window test
    runs AFTER the as-of match, exactly like DuckDB's native
    ASOF JOIN + CASE the oracle runs. One shuffle per side on
    user_id; the final rollup is a touch-type-sized aggregate.
    """
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    touches = ev.filter(F.col("event_type").isin(*ATTR_TOUCH_TYPES)).select(
        "user_id",
        "ts",
        F.struct(
            F.col("ts").alias("t_ts"), F.col("event_type").alias("t_type")
        ).alias("touch"),
    )
    matched = asof_join(
        purchases, touches, key="user_id", ts="ts", value_col="touch",
        out_col="touch",
    )
    in_window = F.datediff(
        F.col("ts").cast("date"), F.col("touch.t_ts").cast("date")
    ) <= ATTR_WINDOW_DAYS
    return (
        matched.select(
            F.when(
                F.col("touch").isNotNull() & in_window, F.col("touch.t_type")
            )
            .otherwise(ATTR_NO_TOUCH)
            .alias("touch_type"),
            "value",
        )
        .groupBy("touch_type")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            dsum("value", METRIC).alias("total_value"),
        )
        .orderBy("touch_type")
    )


def daily_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend of daily total value over time:
    slope (value/day) and intercept (value at TREND_EPOCH) from one
    pass of exact-decimal moment sums.

    Same scale shape as lineitem_corr_matrix: the corpus-sized work
    is one map-side-partial aggregation to a types-sized moment
    relation; the regression algebra (trend_slope_sql /
    trend_intercept_sql — shared templates) runs over that tiny
    relation. Day totals go through DECIMAL(18,6) first so y is
    identical on both engines; x is an exact BIGINT day index
    (r18: datediff returns INT, and a year-9999 day index ~2.9e6
    overflows INT in x·x under ANSI — measured ARITHMETIC_OVERFLOW;
    the oracle's date_diff was already BIGINT, so the widening
    changes no clean-data value) and the y / x·y moment sums go
    through TREND_MOMENT_SCALE on both engines (same rationale).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(dsum("value", METRIC).alias("y"))
    x = F.datediff(F.col("day"), F.to_date(F.lit(TREND_EPOCH))).cast("bigint")
    moments = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sxx"),
        F.sum(F.col("y").cast(TREND_MOMENT_SCALE)).cast("double").alias("sy"),
        F.sum((x * F.col("y")).cast(TREND_MOMENT_SCALE))
            .cast("double")
            .alias("sxy"),
    )
    return moments.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.round(F.expr(trend_slope_sql()), 6).alias("slope_per_day"),
        F.round(F.expr(trend_intercept_sql()), 6).alias("intercept"),
    ).orderBy("event_type")


def ewma_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of each event type's
    daily total value — the smoothing recursion e_t = α·y_t +
    (1-α)·e_{t-1}, seeded with the first day, evaluated as a
    LEFT FOLD over the day-ordered value array (higher-order
    functions, JVM codegen, no UDF).

    Spark's ``aggregate(slice(ys, 2, ...), get(ys, 0), step)`` is
    fold-order-identical to DuckDB's ``list_reduce`` (init = first
    element, fold left over the rest) and the step body is ONE
    shared template (ewma_step_sql) — so the recursive float chain
    is bit-equal cross-engine, the same discipline
    embedding_norm_stats uses for its norm fold.

    Scale: the array is one group's CALENDAR (days, not events) —
    bounded by time; corpus growth adds groups (or, partitioned
    per-entity, entities), never array length. The corpus-sized work
    is the daily aggregation's (event_type, day) hash.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(dsum("value", METRIC).alias("y"))
    arr = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.expr("transform(sort_array(collect_list(struct(day, y))), e -> e.y)")
            .alias("ys"),
    )
    return arr.select(
        "event_type",
        "n_days",
        F.round(
            F.expr(
                "aggregate(slice(ys, 2, greatest(size(ys) - 1, 0)),"
                f" get(ys, 0), (acc, x) -> {ewma_step_sql()})"
            ),
            6,
        ).alias("ewma_value"),
        F.round(F.element_at("ys", -1), 6).alias("last_value"),
    ).orderBy("event_type")


def event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce filter: drop an event when the previous RAW event of
    the same (user, type) is within DEBOUNCE_MINUTES — the
    double-fire / duplicate-webhook suppression every event pipeline
    runs at ingest. (True throttling — "within N of the last KEPT
    event" — is a recursive chain; the LAG-against-raw form is the
    window-expressible industry default, and the streaming module's
    watermark dedup gate is its online twin.)

    One shuffle on (user, type) for the LAG window; the keep test is
    an interval comparison, so the whole operator is one window pass
    over the scan — the 100 TB shape. The LAG orders by
    (ts, event_id) so the "previous raw event" is deterministic even
    under timestamp collisions; the oracle pins the same tie-break.
    Rows outside the timestamp operating window are excluded
    scan-side (r18, ts_operating_window_sql rationale: this query's
    output carries raw timestamps, and a day-one year-1 value is
    unrepresentable at the driver's collect boundary — measured
    `ValueError: year 0 is out of range`). Oracle mirrors the same
    predicate template.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.expr(ts_operating_window_sql("ts"))
    )
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    return (
        ev.withColumn("prev_ts", prev)
        .filter(
            F.col("prev_ts").isNull()
            | (
                F.col("ts")
                > F.col("prev_ts")
                + F.expr(f"INTERVAL {DEBOUNCE_MINUTES} MINUTE")
            )
        )
        .select("event_id", "user_id", "event_type", "ts")
        .orderBy("user_id", "event_type", "ts")
    )


# Centered moving-average window for the decomposition trend
# (±3 days ⇒ 7-day MA, the weekly-seasonality-free baseline).
DECOMP_HALF_WINDOW = 3
SEASON_PERIOD = 7


def seasonal_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic additive seasonal decomposition of each event type's
    daily value series: y = trend + seasonal + residual, with
    trend = centered 7-day moving average, seasonal = mean detrended
    value per weekday position, residual = remainder. The
    moving-average decomposition every monitoring/forecast pipeline
    runs before modeling.

    Determinism discipline: the MA sums day values in DECIMAL inside
    the window (exact, order-free), detrended values round at 6 dp
    BEFORE the seasonal mean decimal-sums them, and the weekday
    index is pure arithmetic (day-index mod 7) — no locale- or
    engine-dependent dow function. Corpus-sized work is one
    aggregation; windows and joins run over the groups × days
    relation. Edge days without a full ±3-day window are excluded
    (count == 7 guard), like the anomaly query's full-window rule.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(dsum("value", METRIC).alias("y"))
    idx = F.datediff(F.col("day"), F.to_date(F.lit(TREND_EPOCH)))
    ma = (
        W.partitionBy("event_type")
        .orderBy(idx)
        .rangeBetween(-DECOMP_HALF_WINDOW, DECOMP_HALF_WINDOW)
    )
    span = 2 * DECOMP_HALF_WINDOW + 1
    with_trend = (
        daily.withColumn("wd", F.pmod(idx, F.lit(SEASON_PERIOD)))
        .withColumn("cnt_w", F.count(F.lit(1)).over(ma))
        .withColumn(
            # second-level sums (of DAILY TOTALS, not raw values) go
            # through TREND_MOMENT_SCALE, not METRIC (r18 metric
            # probe: two in-contract 9.9e11 values on one day make
            # y ≈ 1.98e12 — past DECIMAL(18,6), fine in (28,6); the
            # rfm_segments second-level class). Oracle in lockstep.
            "trend",
            F.round(
                F.sum(F.col("y").cast(TREND_MOMENT_SCALE))
                .over(ma)
                .cast("double")
                / span,
                6,
            ),
        )
        .filter(F.col("cnt_w") == span)
        .withColumn("detrended", F.round(F.col("y") - F.col("trend"), 6))
    )
    seasonal = with_trend.groupBy("event_type", "wd").agg(
        F.round(
            F.sum(F.col("detrended").cast(TREND_MOMENT_SCALE)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("seasonal")
    )
    return (
        with_trend.join(seasonal, ["event_type", "wd"])
        .select(
            "event_type",
            "day",
            "y",
            "trend",
            "seasonal",
            F.round(F.col("detrended") - F.col("seasonal"), 6).alias(
                "residual"
            ),
        )
        .orderBy("event_type", "day")
    )


def chisq_cell_sql() -> str:
    """One contingency cell's χ² contribution over columns
    observed / row_tot / col_tot / n — expected count and the
    (o−e)²/e term in one fixed double expression, shared by both
    engines; all four inputs are exact BIGINTs."""
    e = (
        "(CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)"
        " / CAST(n AS DOUBLE))"
    )
    return (
        f"ROUND((CAST(observed AS DOUBLE) - {e})"
        f" * (CAST(observed AS DOUBLE) - {e}) / {e}, 6)"
    )


def event_weekday_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ² independence profile of event type × weekday position: the
    full contingency matrix with each cell's observed count,
    expected count under independence, and χ² contribution — the
    seasonality-vs-type dependence screen a profiling pass runs
    (Σ contrib vs the χ² critical value is the test; the pytest
    recomputes the statistic from raw counts).

    All marginals come from windows over the types × 7 cell relation
    (the single global-frame window runs on ≤ 35 rows — documented
    tiny-relation shape); the only corpus-sized work is the first
    (type, weekday) aggregation. Weekday is day-index mod 7 — no
    engine dow function.
    """
    ev = load_table(spark, sf_dir, "events")
    idx = F.datediff(
        F.col("ts").cast("date"), F.to_date(F.lit(TREND_EPOCH))
    )
    cells = ev.groupBy(
        "event_type", F.pmod(idx, F.lit(7)).alias("weekday")
    ).agg(F.count(F.lit(1)).alias("observed"))
    by_type = W.partitionBy("event_type")
    by_wd = W.partitionBy("weekday")
    all_w = W.partitionBy()
    enriched = (
        cells.withColumn("row_tot", F.sum("observed").over(by_type))
        .withColumn("col_tot", F.sum("observed").over(by_wd))
        .withColumn("n", F.sum("observed").over(all_w))
    )
    return enriched.select(
        "event_type",
        "weekday",
        "observed",
        F.round(
            F.col("row_tot").cast("double")
            * F.col("col_tot").cast("double")
            / F.col("n").cast("double"),
            6,
        ).alias("expected"),
        F.expr(chisq_cell_sql()).alias("chisq_contrib"),
    ).orderBy("event_type", "weekday")


def assoc_lift_sql() -> str:
    """Association lift (c12·N)/(c1·c2) over integer count columns —
    shared template, fixed double order."""
    return (
        "ROUND(CAST(c12 AS DOUBLE) * CAST(n_baskets AS DOUBLE)"
        " / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE)), 6)"
    )


def event_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over (user, day) event-type
    baskets: support, confidence (a→b), and lift for every co-
    occurring type pair — the classic affinity screen, session-level
    where bigram_pmi is adjacency-level.

    Baskets are distinct (user, day, type) triples, so the pair
    self-join expands each basket to at most C(|types|, 2) rows —
    bounded by the type vocabulary, never by event volume. Shuffles:
    the basket distinct and the (user, day) join both hash on the
    basket key; marginals and the basket total are types-sized /
    one-row (non-foldable scalar attach). All ratios derive from
    exact BIGINTs through shared fixed-order templates.
    """
    ev = load_table(spark, sf_dir, "events")
    # r18 rework (guide §2.4 — remove a shuffle AND the self-join):
    # baskets collapse to ONE corpus exchange keyed on the basket id
    # (user, day) with map-side dedup (partial_collect_set), and the
    # pair expansion happens IN-ROW over each basket's sorted unique
    # type list — the same bucket-expansion pattern as the minhash
    # banding collapse (r10). The old shape paid the (user, day,
    # type) distinct exchange, a SECOND (user, day) distinct for the
    # basket total, and a basket⋈basket self-join; all three are
    # gone. sort_array + (x, later y) expansion emits exactly the
    # a.type < b.type pairs of the join form, once per basket, and
    # every consumer (pairs, marginals, total) derives from the one
    # grouped relation (identical subtree — AQE stage reuse, the r7
    # measured behavior, deduplicates it at runtime; NOT persisted,
    # same evidence as before).
    grouped = (
        ev.select(
            "user_id",
            F.col("ts").cast("date").alias("day"),
            "event_type",
        )
        .groupBy("user_id", "day")
        .agg(F.sort_array(F.collect_set("event_type")).alias("ts_set"))
    )
    n_baskets = grouped.agg(F.count(F.lit(1)).alias("n_baskets"))
    item = grouped.select(
        F.explode("ts_set").alias("event_type")
    ).groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    pair_expansion = (
        "flatten(transform(ts_set, (x, i) -> "
        "transform(slice(ts_set, i + 2, size(ts_set)), "
        "y -> named_struct('type_a', x, 'type_b', y))))"
    )
    pair_counts = (
        grouped.select(F.explode(F.expr(pair_expansion)).alias("p"))
        .select("p.type_a", "p.type_b")
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    from mspr2_back_spark.plans.analytics import _with_scalar

    i1 = item.select(F.col("event_type").alias("type_a"), F.col("c").alias("c1"))
    i2 = item.select(F.col("event_type").alias("type_b"), F.col("c").alias("c2"))
    enriched = _with_scalar(
        pair_counts.join(F.broadcast(i1), "type_a").join(
            F.broadcast(i2), "type_b"
        ),
        n_baskets,
    )
    return enriched.select(
        "type_a",
        "type_b",
        "c12",
        F.round(F.col("c12").cast("double") / F.col("n_baskets"), 6).alias(
            "support"
        ),
        F.round(F.col("c12").cast("double") / F.col("c1"), 6).alias(
            "confidence_a_to_b"
        ),
        F.expr(assoc_lift_sql()).alias("lift"),
    ).orderBy("type_a", "type_b")


def funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency profile of the ordered funnel: for users
    who completed the whole signup→…→purchase chain (same chain as
    workloads.event_funnel), the distribution of signup→purchase
    latency in whole seconds — n, min, exact discrete quartiles, max.

    The quartiles ride operators/quantiles.binned_quantiles over the
    converted-users relation (3600-second bins — no global row sort,
    the same scale path as equidepth_price_bands); latency is
    floor-of-epoch-seconds arithmetic on both engines. One row out,
    also when nobody converts: (0, NULL, NULL, NULL, NULL, NULL), as
    the oracle's COUNT/MIN/MAX over an empty relation gives.
    """
    from mspr2_back_spark.operators.quantiles import binned_quantiles
    from mspr2_back_spark.plans.workloads import (
        FUNNEL_STAGES,
        FUNNEL_WINDOW_DAYS,
    )

    ev = load_table(spark, sf_dir, "events")
    s0 = FUNNEL_STAGES[0]
    # Explicit-N repartition on the grouping key (r18): the funnel
    # chain (collect_list merge + the stepped get/filter projections)
    # is the expensive part of the CACHED plan, and AQE cached-plan
    # coalescing (session.py r18 conf) would shrink its exchange to a
    # byte-sized task count — compute density, not bytes. Pinning at
    # the session's shuffle.partitions keeps today's fan-out exactly
    # (the groupBy reuses this exchange — no extra shuffle); measured
    # +0.3 s regression without the pin, regained with it.
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    per_user = ev.repartition(n_shuffle, "user_id").groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == s0, F.col("ts"))).alias("t_0"),
        *[
            F.sort_array(
                F.collect_list(F.when(F.col("event_type") == s, F.col("ts")))
            ).alias(f"ts_{s}")
            for s in FUNNEL_STAGES[1:]
        ],
    )
    stepped = per_user
    for i, s in enumerate(FUNNEL_STAGES[1:], start=1):
        stepped = stepped.withColumn(
            f"t_{i}",
            F.expr(
                f"get(filter(ts_{s}, x -> x > t_{i - 1}"
                f" AND CAST(x AS DATE) <= CAST(t_0 AS DATE)"
                f" + {FUNNEL_WINDOW_DAYS}), 0)"
            ),
        )
    last = len(FUNNEL_STAGES) - 1
    # converted feeds the quantile machinery (two scans) plus the
    # extremes aggregation; persist eagerly so the windowed funnel
    # chain — the expensive part — runs once (converted-users-sized,
    # tiny). Measured 1.8 s → 1.15 s at sf0.1 (r6).
    #
    # CACHE-LIFECYCLE CONTRACT (r8, ADVICE): this persist cannot be
    # unpersisted at this API boundary (the consumer collects the
    # returned DataFrame later), so the CALLER owns the session
    # cache — long-lived serving sessions should clearCache()
    # periodically or bound the session. The localCheckpoint
    # alternative that fixes cms_heavy_hitters' identical leak was
    # A/B-measured HERE and rejected: 1.41 → 2.51 s at sf0.1
    # (min-of-4) — the checkpointed LogicalRDD loses the relation's
    # stats and binned_quantiles' downstream broadcast decisions
    # degrade. MEMORY_AND_DISK + LRU makes the stacked entries
    # evictable, so the leak is bounded-harm by construction.
    converted = (
        stepped.filter(F.col(f"t_{last}").isNotNull())
        .select(
            (
                F.unix_timestamp(f"t_{last}") - F.unix_timestamp("t_0")
            ).alias("latency_sec"),
            F.lit("all").alias("cohort"),
        )
        .persist()
    )
    converted.count()  # eager: materialize before consumers branch
    qs = binned_quantiles(
        converted, "cohort", "latency_sec", bin_width=3600.0
    )
    extremes = converted.groupBy("cohort").agg(
        F.min("latency_sec").alias("min_sec"),
        F.max("latency_sec").alias("max_sec"),
    )
    # The one-row cohort frame LEFT-joins both aggregates, so an empty
    # converted relation still yields its row (NULL stats, n = 0). It
    # is built in the JVM (a createDataFrame row list is scanned by a
    # Python worker: +0.25 s measured). Its literal key folds, so both
    # joins plan as BroadcastNestedLoopJoin over 1 x <=1 rows.
    cohort = spark.range(1, numPartitions=1).select(
        F.lit("all").alias("cohort")
    )
    return (
        cohort.join(
            F.broadcast(
                qs.select(
                    F.col("n_orders").alias("n_converted"),
                    F.col("p25").cast("bigint").alias("p25_sec"),
                    F.col("p50").cast("bigint").alias("p50_sec"),
                    F.col("p75").cast("bigint").alias("p75_sec"),
                    F.col("grp").alias("cohort"),
                )
            ),
            "cohort",
            "left",
        )
        .join(F.broadcast(extremes), "cohort", "left")
        .select(
            F.coalesce("n_converted", F.lit(0)).alias("n_converted"),
            "min_sec", "p25_sec", "p50_sec", "p75_sec", "max_sec",
        )
    )


WAU_WINDOW_DAYS = 7


def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness (DAU÷WAU) per day — the
    canonical product-engagement triple. A user counts toward
    WAU(d) when active anywhere in [d-6, d].

    Sliding distinct counts can't ride an ordinary window (DISTINCT
    isn't frame-decomposable), so the scale shape is: reduce the
    corpus to the distinct (user, active-day) relation FIRST (one
    key-hash shuffle — entity × days, far smaller than events), then
    explode THAT by the 7 target days, de-duplicate (user, target),
    and count per target. The explode multiplies the already-reduced
    relation, never raw events. Days without a full trailing window
    are flagged rather than dropped (the WAU there is a partial
    cumulation — flagging keeps the column honest without shrinking
    the series).

    The series is DENSE over [min(day), max(day)] (r6, ADVICE r5):
    calendar days with zero activity still get a row (dau=0, and
    wau from whatever trailing activity reaches them) instead of a
    silent hole — the shape a DAU/WAU dashboard expects. When the
    trailing window is entirely empty, wau=0 and stickiness is NULL
    (0/0 has no defensible value; both engines guard the division).
    The spine is days-sized, so densification adds no corpus-scale
    work. Events outside the spine calendar window are excluded
    scan-side (r18, spine_calendar_sql rationale: one
    extreme-but-valid date otherwise inflates the GLOBAL spine
    without bound — measured 121,735× at sf0.001 — and a day past
    9999-12-25 overflows the date_add(day, k) target arithmetic;
    the constant window width bounds both). Oracle mirrors the same
    predicate template.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.expr(spine_calendar_sql("ts"))
    )
    # NOT persisted, on evidence (r7): ReusedExchange shares the
    # distinct across dau / WAU targets / spine; a persist measured
    # WORSE at every scale (0.29→0.43 s sf0.1, 0.38→0.69 s 256x).
    ud = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    targets = (
        ud.select(
            "user_id",
            F.explode(
                F.sequence(F.lit(0), F.lit(WAU_WINDOW_DAYS - 1))
            ).alias("k"),
            "day",
        )
        .select("user_id", F.expr("date_add(day, k)").alias("day"))
        .distinct()
    )
    wau = targets.groupBy("day").agg(F.count(F.lit(1)).alias("wau"))
    spine = (
        ud.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select("d0", F.explode(F.expr("sequence(d0, d1)")).alias("day"))
    )
    dau_f = F.coalesce(F.col("dau"), F.lit(0)).cast("bigint")
    wau_f = F.coalesce(F.col("wau"), F.lit(0)).cast("bigint")
    return (
        spine.join(dau, "day", "left")
        .join(wau, "day", "left")
        .select(
            "day",
            dau_f.alias("dau"),
            wau_f.alias("wau"),
            F.when(
                wau_f > 0,
                F.round(dau_f.cast("double") / wau_f.cast("double"), 6),
            ).alias("stickiness"),
            (
                F.col("day")
                >= F.expr(f"date_add(d0, {WAU_WINDOW_DAYS - 1})")
            ).alias("full_window"),
        )
        .orderBy("day")
    )


TIMESERIES_QUERIES = {
    "gapfill_user_daily": gapfill_user_daily,
    "daily_anomaly_scores": daily_anomaly_scores,
    "event_transition_matrix": event_transition_matrix,
    "attribution_last_touch": attribution_last_touch,
    "daily_value_trend": daily_value_trend,
    "ewma_daily_value": ewma_daily_value,
    "event_debounce": event_debounce,
    "seasonal_decompose_daily": seasonal_decompose_daily,
    "event_weekday_contingency": event_weekday_contingency,
    "event_association_rules": event_association_rules,
    "funnel_latency": funnel_latency,
    "rolling_active_users": rolling_active_users,
}
