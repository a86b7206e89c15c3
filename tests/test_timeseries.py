"""Semantic invariants for the time-series / behavioral batch —
checks the oracle diff can't express (the oracle shares formula
templates with the queries, so these tests validate the SEMANTICS
against independent recomputation: numpy OLS, brute-force windows)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from mspr2_back_spark.plans.timeseries import (
    ANOM_WINDOW_DAYS,
    ATTR_NO_TOUCH,
    ATTR_TOUCH_TYPES,
    attribution_last_touch,
    daily_anomaly_scores,
    daily_value_trend,
    event_transition_matrix,
    gapfill_user_daily,
)
from mspr2_back_spark.sources.readers import load_table


def test_gapfill_covers_each_users_full_span(spark, sf_dir):
    out = gapfill_user_daily(spark, sf_dir).collect()
    per_user: dict[int, list] = {}
    for r in out:
        per_user.setdefault(r.user_id, []).append(r)
    assert per_user, "gap-fill produced no rows"
    n_gaps = 0
    for rows in per_user.values():
        days = [r.day for r in rows]
        # dense spine: every day between the user's min and max, once
        assert len(days) == (max(days) - min(days)).days + 1
        assert len(set(days)) == len(days)
        for r in rows:
            if r.is_gap:
                n_gaps += 1
                assert r.n_events == 0
            else:
                assert r.n_events > 0
            assert r.value_filled is not None  # first day has events
    assert n_gaps > 0, "no gaps at this SF — the fill path is untested"


def test_gapfill_carries_latest_observed_value(spark, sf_dir):
    out = gapfill_user_daily(spark, sf_dir).collect()
    per_user: dict[int, list] = {}
    for r in out:
        per_user.setdefault(r.user_id, []).append(r)
    for rows in per_user.values():
        rows.sort(key=lambda r: r.day)
        last_observed = None
        for r in rows:
            if not r.is_gap:
                last_observed = r.value_filled
            else:
                assert r.value_filled == last_observed


def test_anomaly_zscore_matches_numpy(spark, sf_dir):
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    series: dict[str, dict] = {}
    for r in daily:
        series.setdefault(r.event_type, {})[r.day] = r.n
    out = daily_anomaly_scores(spark, sf_dir).collect()
    assert any(r.z_score is not None for r in out)
    for r in out:
        counts = series[r.event_type]
        window = [
            counts[d]
            for d in counts
            if 1 <= (r.day - d).days <= ANOM_WINDOW_DAYS
        ]
        if len(window) < ANOM_WINDOW_DAYS:
            assert r.z_score is None and r.is_anomaly is None
        else:
            mu = float(np.mean(window))
            sd = float(np.std(window, ddof=1))
            expect = (r.n_events - mu) / sd
            assert math.isclose(r.z_score, expect, rel_tol=0, abs_tol=5e-7)
            assert r.is_anomaly == (abs(r.z_score) > 2.0)


def test_transition_probs_sum_to_one_and_counts_conserve(spark, sf_dir):
    out = event_transition_matrix(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    # each user's chain of k events yields k-1 transitions
    assert sum(r.n_transitions for r in out) == n_events - n_users
    by_from: dict[str, float] = {}
    for r in out:
        by_from[r.from_type] = by_from.get(r.from_type, 0.0) + r.transition_prob
    for total in by_from.values():
        assert math.isclose(total, 1.0, abs_tol=1e-4)


def test_attribution_partitions_all_purchases(spark, sf_dir):
    out = attribution_last_touch(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    n_purchases = ev.filter(F.col("event_type") == "purchase").count()
    assert sum(r.n_purchases for r in out) == n_purchases
    allowed = set(ATTR_TOUCH_TYPES) | {ATTR_NO_TOUCH}
    assert {r.touch_type for r in out} <= allowed
    attributed = sum(
        r.n_purchases for r in out if r.touch_type != ATTR_NO_TOUCH
    )
    assert attributed > 0, "no purchase attributed — window or join broken"


def test_trend_matches_numpy_polyfit(spark, sf_dir):
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("y"))
        .collect()
    )
    series: dict[str, list] = {}
    for r in daily:
        series.setdefault(r.event_type, []).append(r)
    out = {r.event_type: r for r in daily_value_trend(spark, sf_dir).collect()}
    assert set(out) == set(series)
    import datetime

    epoch = datetime.date(2024, 1, 1)
    for et, rows in series.items():
        xs = np.array([(r.day - epoch).days for r in rows], dtype=float)
        ys = np.array([r.y for r in rows], dtype=float)
        slope, intercept = np.polyfit(xs, ys, 1)
        assert math.isclose(out[et].slope_per_day, slope, rel_tol=0, abs_tol=5e-6)
        assert math.isclose(out[et].intercept, intercept, rel_tol=0, abs_tol=5e-5)
        assert out[et].n_days == len(rows)


def test_ewma_matches_python_fold(spark, sf_dir):
    from mspr2_back_spark.plans.timeseries import EWMA_ALPHA, ewma_daily_value

    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("y"))
        .collect()
    )
    series: dict[str, list] = {}
    for r in daily:
        series.setdefault(r.event_type, []).append((r.day, r.y))
    out = {r.event_type: r for r in ewma_daily_value(spark, sf_dir).collect()}
    assert set(out) == set(series)
    for et, pairs in series.items():
        ys = [y for _, y in sorted(pairs)]
        acc = ys[0]
        for y in ys[1:]:
            acc = acc * (1 - EWMA_ALPHA) + y * EWMA_ALPHA
        assert math.isclose(out[et].ewma_value, acc, rel_tol=0, abs_tol=5e-6)
        assert out[et].n_days == len(ys)
        # smoothing pulls the estimate off the raw last value
        assert out[et].ewma_value != out[et].last_value


def test_debounce_drops_exactly_the_close_followers(spark, sf_dir):
    from mspr2_back_spark.plans.timeseries import DEBOUNCE_MINUTES, event_debounce

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    ).collect()
    kept = {r.event_id for r in event_debounce(spark, sf_dir).collect()}
    import datetime

    window = datetime.timedelta(minutes=DEBOUNCE_MINUTES)
    groups: dict = {}
    for r in ev:
        groups.setdefault((r.user_id, r.event_type), []).append(r)
    n_dropped = 0
    for rows in groups.values():
        rows.sort(key=lambda r: r.ts)
        for prev, cur in zip(rows, rows[1:]):
            expect_kept = cur.ts > prev.ts + window
            assert (cur.event_id in kept) == expect_kept
            n_dropped += 0 if expect_kept else 1
        assert rows[0].event_id in kept  # first in group always kept
    assert n_dropped > 0, "debounce window never bound — vacuous"
    assert len(kept) == len(ev) - n_dropped


def test_seasonal_decomposition_identity_and_trend(spark, sf_dir):
    from mspr2_back_spark.plans.timeseries import (
        DECOMP_HALF_WINDOW,
        seasonal_decompose_daily,
    )

    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("y"))
        .collect()
    )
    series: dict[str, dict] = {}
    for r in daily:
        series.setdefault(r.event_type, {})[r.day] = r.y
    out = seasonal_decompose_daily(spark, sf_dir).collect()
    assert out
    import datetime

    one = datetime.timedelta(days=1)
    for r in out:
        # additive identity up to the documented 6-dp rounds
        assert math.isclose(
            r.y, r.trend + r.seasonal + r.residual, rel_tol=0, abs_tol=3e-6
        )
        # trend is the centered mean of the +/-3-day neighborhood
        s = series[r.event_type]
        window = [
            s[r.day + k * one]
            for k in range(-DECOMP_HALF_WINDOW, DECOMP_HALF_WINDOW + 1)
            if r.day + k * one in s
        ]
        assert len(window) == 2 * DECOMP_HALF_WINDOW + 1  # edge days excluded
        assert math.isclose(
            r.trend, sum(window) / len(window), rel_tol=0, abs_tol=5e-6
        )
    # edge trimming: each series loses exactly 2*half_window days
    per_type: dict[str, int] = {}
    for r in out:
        per_type[r.event_type] = per_type.get(r.event_type, 0) + 1
    for et, n in per_type.items():
        assert n == len(series[et]) - 2 * DECOMP_HALF_WINDOW


def test_contingency_chisq_matches_numpy(spark, sf_dir):
    from mspr2_back_spark.plans.timeseries import event_weekday_contingency

    out = event_weekday_contingency(spark, sf_dir).collect()
    assert out
    n_events = load_table(spark, sf_dir, "events").count()
    assert sum(r.observed for r in out) == n_events
    # recompute the full chi-square statistic from raw observed counts
    types = sorted({r.event_type for r in out})
    wds = sorted({r.weekday for r in out})
    obs = np.zeros((len(types), len(wds)))
    for r in out:
        obs[types.index(r.event_type), wds.index(r.weekday)] = r.observed
    row = obs.sum(axis=1, keepdims=True)
    col = obs.sum(axis=0, keepdims=True)
    expected = row @ col / obs.sum()
    chi2 = float(((obs - expected) ** 2 / expected).sum())
    got = sum(r.chisq_contrib for r in out)
    assert math.isclose(got, chi2, rel_tol=0, abs_tol=5e-4)
    for r in out:
        e = expected[types.index(r.event_type), wds.index(r.weekday)]
        assert math.isclose(r.expected, e, rel_tol=0, abs_tol=5e-6)


def test_association_rules_match_python_recount(spark, sf_dir):
    from mspr2_back_spark.plans.timeseries import event_association_rules

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("day"), "event_type"
    ).distinct().collect()
    baskets: dict = {}
    for r in ev:
        baskets.setdefault((r.user_id, r.day), set()).add(r.event_type)
    n_b = len(baskets)
    item: dict = {}
    pair: dict = {}
    for types in baskets.values():
        for t in types:
            item[t] = item.get(t, 0) + 1
        ts = sorted(types)
        for i, ta in enumerate(ts):
            for tb in ts[i + 1 :]:
                pair[(ta, tb)] = pair.get((ta, tb), 0) + 1
    out = event_association_rules(spark, sf_dir).collect()
    assert {(r.type_a, r.type_b) for r in out} == set(pair)
    for r in out:
        c12 = pair[(r.type_a, r.type_b)]
        c1, c2 = item[r.type_a], item[r.type_b]
        assert r.c12 == c12
        assert c12 <= min(c1, c2)
        assert math.isclose(r.support, c12 / n_b, rel_tol=0, abs_tol=5e-7)
        assert math.isclose(
            r.confidence_a_to_b, c12 / c1, rel_tol=0, abs_tol=5e-7
        )
        assert math.isclose(
            r.lift, (c12 * n_b) / (c1 * c2), rel_tol=0, abs_tol=5e-6
        )


def test_funnel_latency_consistent_with_funnel(spark, sf_dir):
    from mspr2_back_spark.plans.timeseries import funnel_latency
    from mspr2_back_spark.plans.workloads import (
        FUNNEL_STAGES,
        FUNNEL_WINDOW_DAYS,
        event_funnel,
    )

    lat = funnel_latency(spark, sf_dir).first()
    funnel = event_funnel(spark, sf_dir).first()
    assert lat.n_converted == funnel[f"reached_{FUNNEL_STAGES[-1]}"]
    assert lat.n_converted > 0
    assert (
        0
        < lat.min_sec
        <= lat.p25_sec
        <= lat.p50_sec
        <= lat.p75_sec
        <= lat.max_sec
    )
    # window bound: purchase lands within signup-day + N calendar days
    assert lat.max_sec <= (FUNNEL_WINDOW_DAYS + 1) * 86400


def test_rfm_scores_partition_customers_into_quintiles(spark, sf_dir):
    from mspr2_back_spark.plans.customer import rfm_segments

    out = rfm_segments(spark, sf_dir).collect()
    orders = load_table(spark, sf_dir, "orders")
    n_cust = orders.select("o_custkey").distinct().count()
    assert sum(r.n_customers for r in out) == n_cust
    for r in out:
        assert 1 <= r.r_score <= 5
        assert 1 <= r.f_score <= 5
        assert 1 <= r.m_score <= 5
        assert r.total_monetary > 0
    # marginal quintiles roughly balanced (ties can skew bands, but
    # every monetary band must be populated — monetary is continuous)
    m_marg: dict[int, int] = {}
    for r in out:
        m_marg[r.m_score] = m_marg.get(r.m_score, 0) + r.n_customers
    assert set(m_marg) == {1, 2, 3, 4, 5}
    for c in m_marg.values():
        assert 0.1 * n_cust < c < 0.35 * n_cust


def test_rfm_per_customer_relation_is_cached_once(spark, sf_dir):
    """r12 (VERDICT r11 task 4, the adopted rework): rfm_segments
    persists the per-customer aggregation because the plan consumes
    it three times (quantile bin pass, quantile refine pass, final
    banding) — ReusedExchange dedups the shuffle write but each
    consumer re-runs the final aggregation over the full shuffled
    orders, which is the 256×-dominant term (SCALING.md round 12).
    Pin: the optimized plan carries the per_cust InMemoryRelation on
    every consumer path (≥ 3 occurrences, distinguished from
    bin_counts' own cache by the recency_days column) — a revert to
    the 3× re-aggregation form drops them and fails here."""
    from mspr2_back_spark.plans.customer import rfm_segments

    df = rfm_segments(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # per_cust columns only exist in the per-customer cache; the
    # bin_counts cache carries (grp, bin, c) instead
    per_cust_caches = [
        seg
        for seg in plan.split("InMemoryRelation")[1:]
        if "recency_days" in seg.split("\n", 1)[0]
    ]
    assert len(per_cust_caches) >= 3, plan[:2000]
    spark.catalog.clearCache()


def test_session_paths_match_python_recount(spark, sf_dir):
    from mspr2_back_spark.plans.customer import (
        PATH_SEP,
        PATH_STEPS,
        PATH_TOP_K,
        session_paths,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("day"), "ts", "event_id",
        "event_type",
    ).collect()
    sessions: dict = {}
    for r in ev:
        sessions.setdefault((r.user_id, r.day), []).append(
            (r.ts, r.event_id, r.event_type)
        )
    counts: dict[str, int] = {}
    for rows in sessions.values():
        rows.sort()
        path = PATH_SEP.join(t for _, _, t in rows[:PATH_STEPS])
        counts[path] = counts.get(path, 0) + 1
    expect = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[
        :PATH_TOP_K
    ]
    out = session_paths(spark, sf_dir).collect()
    assert [(r.path, r.n_sessions) for r in out] == expect
    total = len(sessions)
    for r in out:
        assert math.isclose(
            r.share, counts[r.path] / total, rel_tol=0, abs_tol=5e-7
        )
        assert len(r.path.split(PATH_SEP)) <= PATH_STEPS


def test_cohort_ltv_cumulates_to_total_value(spark, sf_dir):
    from mspr2_back_spark.plans.customer import cohort_ltv

    out = cohort_ltv(spark, sf_dir).collect()
    assert out
    total_value = (
        load_table(spark, sf_dir, "events")
        .agg(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"))
        .first()[0]
    )
    by_cohort: dict = {}
    for r in out:
        by_cohort.setdefault(r.cohort_week, []).append(r)
    final_sum = 0.0
    for rows in by_cohort.values():
        rows.sort(key=lambda r: r.week_offset)
        running = 0.0
        for r in rows:
            running += r.week_value
            assert math.isclose(r.cum_value, running, rel_tol=0, abs_tol=2e-5)
        final_sum += rows[-1].cum_value
    assert math.isclose(final_sum, total_value, rel_tol=0, abs_tol=1e-3)


def test_rolling_active_users_matches_python_recount(spark, sf_dir):
    from mspr2_back_spark.plans.timeseries import (
        WAU_WINDOW_DAYS,
        rolling_active_users,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct().collect()
    active: dict = {}
    for r in ev:
        active.setdefault(r.day, set()).add(r.user_id)
    days = sorted(active)
    import datetime

    one = datetime.timedelta(days=1)
    out = {r.day: r for r in rolling_active_users(spark, sf_dir).collect()}
    # dense contract (r6): every calendar day in [min, max] gets a
    # row, activity or not — no holes in the series
    span = [
        days[0] + k * one
        for k in range((days[-1] - days[0]).days + 1)
    ]
    assert sorted(out) == span
    for d in span:
        dau = len(active.get(d, set()))
        wau_set: set = set()
        for k in range(WAU_WINDOW_DAYS):
            wau_set |= active.get(d - k * one, set())
        r = out[d]
        assert r.dau == dau
        assert r.wau == len(wau_set)
        if wau_set:
            assert math.isclose(
                r.stickiness, dau / len(wau_set), rel_tol=0, abs_tol=5e-7
            )
        else:
            assert r.stickiness is None
        assert r.full_window == (d >= days[0] + (WAU_WINDOW_DAYS - 1) * one)
        assert r.dau <= r.wau


def test_rolling_active_users_densifies_gap_days(spark, tmp_path):
    """A corpus with a hole ≥ the WAU window must still emit one row
    per calendar day: dau=0 on the gap days, wau decaying to 0 once
    the trailing window is empty, stickiness NULL exactly there."""
    import datetime

    from mspr2_back_spark.plans.timeseries import rolling_active_users

    base = datetime.datetime(2024, 3, 1, 12, 0, 0)
    rows = []
    # activity on day 0 and day 10 only — days 1..9 are gap days;
    # days 7..9 have an empty trailing window (wau = 0)
    for i, d in enumerate([0, 10]):
        rows.append((i, 7, "view", base + datetime.timedelta(days=d), 1.0))
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp, value double"
    )
    sf = str(tmp_path / "sparse")
    import os

    os.makedirs(sf, exist_ok=True)
    df.write.mode("overwrite").parquet(os.path.join(sf, "events.parquet"))
    out = {r.day: r for r in rolling_active_users(spark, sf).collect()}
    assert len(out) == 11
    for k, r in out.items():
        off = (k - datetime.date(2024, 3, 1)).days
        assert r.dau == (1 if off in (0, 10) else 0)
        expect_wau = 1 if off <= 6 or off == 10 else 0
        assert r.wau == expect_wau
        if expect_wau == 0:
            assert r.stickiness is None


def test_tiebreak_determinism_under_ts_collisions(spark, tmp_path):
    """r7 (VERDICT r6 task 2): the (ts, event_id) tie-break is
    ENFORCED, not audited. A fixture with deliberate (user, ts)
    collisions — written in DESCENDING event_id physical order so any
    ts-only sort that falls back to input order gets the WRONG answer
    — must produce the hand-computed tie-broken result on Spark AND
    bit-match the DuckDB oracle on the same parquet."""
    import datetime
    import os

    import duckdb

    from mspr2_back_spark.plans.timeseries import event_debounce
    from mspr2_back_spark.plans.timeseries_oracle import TIMESERIES_ORACLE_SQL

    T0 = datetime.datetime(2024, 5, 1, 12, 0, 0)
    H = datetime.timedelta(hours=1)
    rows = [
        # user 1 — transition collision: 'click'(1) and 'view'(2) share
        # T0; tie-break order is click, view, purchase ⇒ transitions
        # click→view and view→purchase. Input order (desc id) would
        # instead give view→click, click→purchase.
        (1, T0, 1, "click", 1.0, None),
        (2, T0, 1, "view", 1.0, None),
        (3, T0 + H, 1, "purchase", 5.0, None),
        # user 2 — debounce collision: two 'click' at the same ts;
        # tie-break keeps the LOWER event_id (10), drops 11; 12 is
        # inside the 30-min debounce window, dropped either way.
        (10, T0, 2, "click", 1.0, None),
        (11, T0, 2, "click", 1.0, None),
        (12, T0 + datetime.timedelta(minutes=10), 2, "click", 1.0, None),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string",
    )
    sf = str(tmp_path / "collide")
    os.makedirs(sf, exist_ok=True)
    # desc event_id + 1 file: the physical order is the adversary
    df.orderBy(F.desc("event_id")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(sf, "events.parquet"))

    trans = {
        (r.from_type, r.to_type): r.n_transitions
        for r in event_transition_matrix(spark, sf).collect()
    }
    # user 1 contributes the tie-broken pair; user 2's three clicks
    # contribute click→click ×2 (order-invariant)
    assert trans == {
        ("click", "view"): 1,
        ("view", "purchase"): 1,
        ("click", "click"): 2,
    }

    keep = event_debounce(spark, sf).collect()
    assert sorted(r.event_id for r in keep if r.user_id == 2) == [10]
    assert sorted(r.event_id for r in keep if r.user_id == 1) == [1, 2, 3]

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{os.path.join(sf, 'events.parquet')}/*.parquet'"
    )
    for name, got in (
        ("event_transition_matrix", trans),
        ("event_debounce", {r.event_id for r in keep}),
    ):
        oracle = con.sql(TIMESERIES_ORACLE_SQL[name]).fetchall()
        if name == "event_transition_matrix":
            assert {(r[0], r[1]): r[2] for r in oracle} == got
        else:
            assert {r[0] for r in oracle} == got
    con.close()


def test_streaming_funnel_parity_under_ts_collisions(spark, tmp_path):
    """The streaming funnel state machine, drained over a fixture with
    same-ts stage collisions (written in adversarial physical order),
    must land every user on the stage the batch event_funnel counts —
    the r7 enforcement of the (ts, event_id) micro-batch sort."""
    import datetime
    import os
    import shutil

    from mspr2_back_spark.plans.workloads import FUNNEL_STAGES, event_funnel
    from mspr2_back_spark.streaming import events as stream_events

    T0 = datetime.datetime(2024, 5, 1, 8, 0, 0)
    H = datetime.timedelta(hours=1)
    rows = [
        # user 3: click(21) and view(22) collide at T0+1h — strict
        # t > tprev means click can never fire at the view's own ts,
        # so the user deterministically stops at stage 2 (view).
        (20, T0, 3, "signup", 0.0, None),
        (21, T0 + H, 3, "click", 0.0, None),
        (22, T0 + H, 3, "view", 0.0, None),
        # user 4: duplicate view at the same ts, then full conversion.
        (30, T0, 4, "signup", 0.0, None),
        (31, T0 + H, 4, "view", 0.0, None),
        (32, T0 + H, 4, "view", 0.0, None),
        (33, T0 + 2 * H, 4, "click", 0.0, None),
        (34, T0 + 3 * H, 4, "purchase", 9.0, None),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string",
    )
    sf = str(tmp_path / "funnel_collide")
    os.makedirs(sf, exist_ok=True)
    df.orderBy(F.desc("event_id")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(sf, "events.parquet"))

    src = load_table(spark, sf, "events")
    stream_dir = str(tmp_path / "funnel_collide_stream")
    src.orderBy(F.desc("event_id")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(stream_dir)
    stream = stream_events.read_event_stream(spark, stream_dir, src.schema)
    prog = stream_events.funnel_stage_progress(stream)
    stream_events.run_to_memory(prog, "funnel_collide", mode="update")

    final: dict[int, int] = {}
    for r in spark.table("funnel_collide").collect():
        final[r.user_id] = max(final.get(r.user_id, 0), r.stage_reached)
    assert final == {3: 2, 4: 4}

    batch = event_funnel(spark, sf).collect()[0]
    stream_counts = [
        sum(1 for v in final.values() if v >= k + 1)
        for k in range(len(FUNNEL_STAGES))
    ]
    assert stream_counts == [batch[f"reached_{s}"] for s in FUNNEL_STAGES]
    shutil.rmtree(stream_dir, ignore_errors=True)


def test_batch_funnel_oracle_parity_under_ts_collisions(spark, tmp_path):
    """r8 (VERDICT r7 task 6): the r7 collision fixture pinned the
    STREAMING funnel; this pins the BATCH side of the parity pair —
    event_funnel on the same descending-event_id-physical-order
    fixture (equal-ts stage collisions, duplicate same-ts stages)
    must hand-compute correctly on Spark AND match the DuckDB oracle
    over the identical parquet, so neither engine can fall back to
    input order."""
    import datetime
    import os

    import duckdb

    from mspr2_back_spark.plans.workloads import FUNNEL_STAGES, event_funnel
    from mspr2_back_spark.plans.workloads_oracle import WORKLOAD_ORACLE_SQL

    T0 = datetime.datetime(2024, 5, 1, 8, 0, 0)
    H = datetime.timedelta(hours=1)
    rows = [
        # user 3: click(21) and view(22) collide at T0+1h — strict
        # t > tprev stops the user at stage 2 (view) regardless of
        # physical order.
        (20, T0, 3, "signup", 0.0, None),
        (21, T0 + H, 3, "click", 0.0, None),
        (22, T0 + H, 3, "view", 0.0, None),
        # user 4: duplicate view at the same ts, then full conversion.
        (30, T0, 4, "signup", 0.0, None),
        (31, T0 + H, 4, "view", 0.0, None),
        (32, T0 + H, 4, "view", 0.0, None),
        (33, T0 + 2 * H, 4, "click", 0.0, None),
        (34, T0 + 3 * H, 4, "purchase", 9.0, None),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string",
    )
    sf = str(tmp_path / "bfunnel_collide")
    os.makedirs(sf, exist_ok=True)
    df.orderBy(F.desc("event_id")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(sf, "events.parquet"))

    batch = event_funnel(spark, sf).collect()[0]
    # signup: 3,4; view: user 3 stops here, user 4 passes on
    expected = {"n_users": 2, "reached_signup": 2, "reached_view": 2,
                "reached_click": 1, "reached_purchase": 1}
    got = {c: batch[c] for c in expected}
    assert got == expected

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{os.path.join(sf, 'events.parquet')}/*.parquet'"
    )
    orow = con.execute(WORKLOAD_ORACLE_SQL["event_funnel"]).fetchall()[0]
    ocols = [d[0] for d in con.description]
    assert dict(zip(ocols, orow)) == {c: batch[c] for c in ocols}
    con.close()


def test_funnel_latency_empty_funnel_matches_oracle(spark, tmp_path):
    """No user reaches the last funnel stage: funnel_latency still
    returns exactly one row — n_converted 0 and NULL latency stats —
    equal to its DuckDB oracle over the same parquet."""
    import datetime
    import os

    import duckdb

    from mspr2_back_spark.plans.timeseries import funnel_latency
    from mspr2_back_spark.plans.timeseries_oracle import TIMESERIES_ORACLE_SQL
    from mspr2_back_spark.plans.workloads import FUNNEL_STAGES

    T0 = datetime.datetime(2024, 5, 1, 8, 0, 0)
    H = datetime.timedelta(hours=1)
    rows = [
        (i * 10 + k, T0 + k * H, i, stage, 0.0, None)
        for i in range(3)
        # every stage but the last, so nobody converts
        for k, stage in enumerate(FUNNEL_STAGES[:-1])
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string",
    )
    sf = str(tmp_path / "empty_funnel")
    os.makedirs(sf, exist_ok=True)
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf, "events.parquet")
    )

    got = funnel_latency(spark, sf).collect()
    assert len(got) == 1
    assert got[0].asDict() == {
        "n_converted": 0, "min_sec": None, "p25_sec": None,
        "p50_sec": None, "p75_sec": None, "max_sec": None,
    }

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{os.path.join(sf, 'events.parquet')}/*.parquet'"
    )
    orows = con.execute(TIMESERIES_ORACLE_SQL["funnel_latency"]).fetchall()
    ocols = [d[0] for d in con.description]
    con.close()
    assert [dict(zip(ocols, r)) for r in orows] == [r.asDict() for r in got]
