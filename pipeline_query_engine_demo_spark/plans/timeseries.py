"""Time-series, sequence, and survival analysis queries (split from plans/analytics.py)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

from pipeline_query_engine_demo_spark.functions.rounding import (
    round_half_up,
    sql_round_half_up,
)
from pipeline_query_engine_demo_spark.plans.registry import query
from pipeline_query_engine_demo_spark.session import resilient_local_checkpoint
from pipeline_query_engine_demo_spark.sources.catalog import load_table


#: Benford first-digit probabilities log10(1 + 1/d), pre-folded to
#: Python doubles once and embedded as literals in BOTH engines — the
#: nDCG-discount trick: no runtime log10 anywhere.
import math as _math  # noqa: E402


# BH wraps the permutation oracle verbatim as a CTE so the two stay in
# lockstep; registered post-hoc because the decorator runs before the
# wrapped oracle string is addressable.
from pipeline_query_engine_demo_spark.plans.registry import (  # noqa: E402
    REGISTRY as _REG,
)
import dataclasses as _dc  # noqa: E402

from pipeline_query_engine_demo_spark.plans.analytics import (  # shared helpers stay in the base module
    _CUSUM_H,
    _CUSUM_K,
    _DEC,
    key_skew_profile,
)

@query(
    "time_bucket_ohlc",
    category="window",
    oracle="""
        WITH b AS (
            SELECT event_type,
                   date_trunc('hour', ts) AS bucket_start,
                   value, ts, event_id,
                   first_value(value) OVER (
                       PARTITION BY event_type, date_trunc('hour', ts)
                       ORDER BY ts, event_id) AS open,
                   first_value(value) OVER (
                       PARTITION BY event_type, date_trunc('hour', ts)
                       ORDER BY ts DESC, event_id DESC) AS close
            FROM events
        )
        SELECT event_type, bucket_start,
               ANY_VALUE(open) AS open,
               MAX(value) AS high,
               MIN(value) AS low,
               ANY_VALUE(close) AS close,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(CASE WHEN isfinite(value) THEN floor((value) * 1000000000.0 + 0.5) / 1000000000.0 END AS DECIMAL(28,12))) AS DOUBLE)
                   AS total_value
        FROM b
        GROUP BY event_type, bucket_start
        ORDER BY event_type, bucket_start
    """,
)
def time_bucket_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour OHLC (open/high/low/close) candles per event type — the
    classic time-series rollup. Spark side uses min_by/max_by on a
    (ts, event_id) struct: a ONE-PASS argmin/argmax aggregation that is
    partial-agg combinable (map-side combine, no window sort of the
    fact table); (ts, event_id) makes the extreme row unique so both
    engines pick the same open/close. The oracle spells the same thing
    with first_value windows since DuckDB's arg_min lacks struct keys.
    """
    ev = load_table(spark, sf_dir, "events")
    tiebreak = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("bucket_start")
        )
        .agg(
            F.min_by("value", tiebreak).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", tiebreak).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(round_half_up(F.col("value"), 9).cast(_DEC)).cast("double").alias("total_value"),
        )
        .orderBy("event_type", "bucket_start")
    )


@query(
    "cohort_retention_orders",
    category="window",
    oracle="""
        WITH firsts AS (
            SELECT o_custkey,
                   MIN(date_trunc('month', o_orderdate)) AS cohort_month
            FROM orders GROUP BY o_custkey
        ),
        activity AS (
            SELECT DISTINCT o.o_custkey, f.cohort_month,
                   date_diff('month', f.cohort_month,
                             date_trunc('month', o.o_orderdate)) AS months_since
            FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
        )
        SELECT CAST(cohort_month AS TIMESTAMP) AS cohort_month,
               CAST(months_since AS BIGINT) AS months_since,
               CAST(COUNT(*) AS BIGINT) AS active_customers
        FROM activity
        GROUP BY cohort_month, months_since
        ORDER BY cohort_month, months_since
    """,
)
def cohort_retention_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention — the canonical product-analytics matrix: each
    customer joins the cohort of their first order month; each later
    active month increments that cohort's months-since-acquisition
    cell. Two aggregations (first-month per customer, then cohort x
    offset counts) and one join.

    Scale shape: the firsts table is customer-sized and re-joins on
    the customer key (AQE picks broadcast vs shuffle by its actual
    size); the distinct + count are map-side-combinable. The month
    arithmetic is integer (year*12+month), identical in both engines.
    """
    orders = load_table(spark, sf_dir, "orders")
    month = F.date_trunc("month", F.col("o_orderdate"))
    firsts = orders.groupBy("o_custkey").agg(F.min(month).alias("cohort_month"))
    months_since = (
        (F.year("o_orderdate") - F.year("cohort_month")) * 12
        + (F.month("o_orderdate") - F.month("cohort_month"))
    ).cast("bigint")
    activity = (
        orders.join(firsts, "o_custkey")
        .select("o_custkey", "cohort_month", months_since.alias("months_since"))
        .distinct()
    )
    return (
        activity.groupBy("cohort_month", "months_since")
        .agg(F.count(F.lit(1)).cast("bigint").alias("active_customers"))
        .orderBy("cohort_month", "months_since")
    )


_RHU_YOY = sql_round_half_up(
    "revenue / lag(revenue, 12) OVER (ORDER BY month) - 1.0", 6
)


@query(
    "yoy_growth_by_month",
    category="window",
    oracle=f"""
        WITH monthly AS (
            SELECT date_trunc('month', o_orderdate) AS month,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       AS revenue
            FROM orders GROUP BY month
        )
        SELECT CAST(month AS TIMESTAMP) AS month, revenue,
               lag(revenue, 12) OVER (ORDER BY month) AS revenue_prior_year,
               {_RHU_YOY} AS yoy_growth
        FROM monthly
        ORDER BY month
    """,
)
def yoy_growth_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year growth — the decision-support staple: aggregate
    to months (exact DECIMAL revenue so both engines agree to the
    cent), then a 12-step lag over the month series and a ratio.

    Scale shape: the window runs over the AGGREGATED series (months,
    not orders) — a single tiny partition by construction, which is
    the correct place for an unpartitioned window; the heavy data only
    ever sees the map-side-combinable monthly groupBy."""
    orders = load_table(spark, sf_dir, "orders")
    from pyspark.sql import Window as W

    monthly = (
        orders.groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("month"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue")
        )
    )
    w = W.orderBy("month")
    prior = F.lag("revenue", 12).over(w)
    return (
        monthly.select(
            "month",
            "revenue",
            prior.alias("revenue_prior_year"),
            round_half_up(F.col("revenue") / prior - 1.0, 6).alias("yoy_growth"),
        )
        .orderBy("month")
    )


@query(
    "interval_sweep_concurrency",
    category="analytics",
    oracle="""
        WITH pts AS (
            SELECT event_type, ts AS t, 1 AS delta FROM events
            UNION ALL
            SELECT event_type, ts + INTERVAL 1 HOUR AS t, -1 AS delta
            FROM events
        ),
        run AS (
            SELECT event_type, delta,
                   SUM(delta) OVER (PARTITION BY event_type
                                    ORDER BY t, delta) AS running
            FROM pts
        )
        SELECT event_type,
               CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_intervals,
               CAST(MAX(running) AS BIGINT) AS max_concurrent
        FROM run GROUP BY event_type ORDER BY event_type
    """,
)
def interval_sweep_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum concurrency of half-open 1-hour intervals per event
    type, by the classic sweep line: every interval contributes a +1
    endpoint at its start and a -1 at its end, and the peak of the
    running endpoint sum is the max overlap. Ordering ends (-1) before
    starts (+1) at equal timestamps gives exact half-open semantics —
    an interval ending at T never overlaps one starting at T. The
    running sum uses the default RANGE frame, so all peer rows at one
    (t, delta) key are summed together and the per-type max is
    order-independent under ties.

    Scale: endpoints double the row count but carry 3 narrow columns;
    one hash exchange on the sweep key (event_type) followed by an
    in-partition sort — the same plan at any fact size. Skewed sweep
    keys would range-partition the time axis and carry per-split open
    counts, the standard distributed-sweep refinement."""
    ev = load_table(spark, sf_dir, "events")
    starts = ev.select(
        "event_type", F.col("ts").alias("t"), F.lit(1).alias("delta")
    )
    ends = ev.select(
        "event_type",
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("t"),
        F.lit(-1).alias("delta"),
    )
    pts = starts.unionAll(ends)
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("t", "delta")
    run = pts.select("event_type", "delta", F.sum("delta").over(w).alias("running"))
    return (
        run.groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_intervals"),
            F.max("running").cast("bigint").alias("max_concurrent"),
        )
        .orderBy("event_type")
    )


@query(
    "event_transition_matrix",
    category="analytics",
    oracle=f"""
        WITH seq AS (
            SELECT user_id, event_type AS from_type,
                   lead(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS to_type
            FROM events
        ),
        t AS (
            SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
            FROM seq WHERE to_type IS NOT NULL
            GROUP BY from_type, to_type
        ),
        tot AS (
            SELECT from_type, CAST(SUM(n) AS BIGINT) AS total_from
            FROM t GROUP BY from_type
        )
        SELECT t.from_type, t.to_type, t.n,
               {sql_round_half_up(
                   'CAST(t.n AS DOUBLE) / CAST(tt.total_from AS DOUBLE)', 6)}
                   AS prob
        FROM t JOIN tot tt ON tt.from_type = t.from_type
        ORDER BY t.from_type, t.to_type
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types per user
    stream: lead() pairs each event with the user's next event, counts
    aggregate per (from, to), and probabilities row-normalize by the
    from-state total — exact integer ratios, one identical double
    division. The behavioral-model summary every product-analytics
    pipeline derives from its event log.

    Scale: one hash exchange on user_id for the lead window, then a
    combinable count aggregate on the (from, to) vocabulary (|types|²
    rows at most); the normalization join runs on the vocabulary-sized
    aggregate, never the fact table."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    )
    t = (
        seq.filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    tot = t.groupBy("from_type").agg(F.sum("n").cast("bigint").alias("total_from"))
    return (
        t.join(F.broadcast(tot), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            round_half_up(
                F.col("n").cast("double") / F.col("total_from").cast("double"), 6
            ).alias("prob"),
        )
        .orderBy("from_type", "to_type")
    )


@query(
    "cusum_change_detection",
    category="analytics",
    oracle=f"""
        WITH RECURSIVE e AS (
            SELECT user_id,
                   CAST(CASE WHEN isfinite(value)
                        THEN floor((value) * 100.0 + 0.5) END AS BIGINT)
                       AS x,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events WHERE isfinite(value)
        ),
        steps AS (
            SELECT user_id, rn,
                   greatest(CAST(0 AS BIGINT), x - {_CUSUM_K}) AS s,
                   greatest(CAST(0 AS BIGINT), x - {_CUSUM_K}) AS mx,
                   CAST(CASE WHEN greatest(CAST(0 AS BIGINT), x - {_CUSUM_K})
                                  >= {_CUSUM_H} THEN 1 ELSE 0 END AS BIGINT)
                       AS alarms
            FROM e WHERE rn = 1
          UNION ALL
            SELECT e.user_id, e.rn,
                   greatest(CAST(0 AS BIGINT), st.s + e.x - {_CUSUM_K}),
                   greatest(st.mx,
                            greatest(CAST(0 AS BIGINT), st.s + e.x - {_CUSUM_K})),
                   st.alarms + CASE WHEN greatest(CAST(0 AS BIGINT),
                                                  st.s + e.x - {_CUSUM_K})
                                        >= {_CUSUM_H} THEN 1 ELSE 0 END
            FROM steps st JOIN e
              ON e.user_id = st.user_id AND e.rn = st.rn + 1
        ),
        last AS (
            SELECT user_id, rn, s, mx, alarms,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY rn DESC) AS rr
            FROM steps
        )
        SELECT user_id, CAST(rn AS BIGINT) AS n_events,
               s AS final_cusum, mx AS max_cusum, alarms AS n_alarms
        FROM last WHERE rr = 1 ORDER BY user_id
    """,
)
def cusum_change_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift detection per user stream: the state
    s_t = max(0, s_(t-1) + x_t - k) accumulates evidence that the
    process mean exceeds the allowance k, alarming when s crosses h —
    the classic sequential change detector. Values scale to integer
    cents with the shared floor-half-up form, so the ENTIRE recursion
    is integer arithmetic: no float enters the loop on either engine,
    and parity is structural rather than ulp-lucky.

    The recurrence LOOKS order-dependent, but the one-sided max(0, .)
    reset has a closed form (Lindley's recursion / reflected random
    walk): with y_t = x_t - k and prefix sum P_t = sum_{i<=t} y_i,
        s_t = P_t - min(0, min_{i<=t} P_i),
    because the running minimum of the prefix sum (clamped at the
    initial 0) is exactly the amount the reflecting barrier has
    absorbed. That turns the whole detector into two cumulative
    window frames — a running SUM and a running MIN over the same
    (user_id, ts, event_id) ordering — followed by one combinable
    group-by: n_events = count, final_cusum = s at the last row,
    max_cusum = max(s), n_alarms = count of s >= h. Everything stays
    integer and JVM-side (whole-stage codegen; no Python eval node).
    The oracle replays the recurrence as a recursive CTE advancing
    every user one event per iteration; tests/test_stats_ext3.py
    additionally replays it as a literal Python scan, so the window
    identity is proven against the sequential form, not assumed.

    Scale: ONE hash exchange on user_id followed by an in-partition
    sort; both frames and the final aggregate ride the same exchange;
    per-user state is O(1) columns, never a per-group Python worker."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    c = F.col("value").cast("double")
    finite = ~(
        F.isnan(c) | (c == F.lit(float("inf"))) | (c == F.lit(float("-inf")))
    )
    x = F.when(finite, F.floor(c * F.lit(100.0) + F.lit(0.5)))
    # Non-finite values are EXCLUDED on both engines (the oracle filters
    # isfinite too): without the filter, DuckDB's greatest(0, NULL)
    # folds the NULL away while the pandas loop would crash on NaN —
    # "skip the row" is the one semantics both sides state identically.
    rows = ev.filter(finite).select(
        "user_id", "ts", "event_id", x.cast("bigint").alias("x")
    )

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    stepped = rows.select(
        "user_id",
        F.row_number().over(w).alias("rn"),
        F.sum(F.col("x") - F.lit(_CUSUM_K)).over(cum).alias("p"),
    )
    cum2 = (
        Window.partitionBy("user_id")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = F.col("p") - F.least(F.lit(0).cast("bigint"), F.min("p").over(cum2))
    per_row = stepped.select("user_id", "rn", s.alias("s"))
    return (
        per_row.groupBy("user_id")
        .agg(
            F.max("rn").cast("bigint").alias("n_events"),
            F.max_by("s", "rn").alias("final_cusum"),
            F.max("s").alias("max_cusum"),
            F.sum(
                F.when(F.col("s") >= F.lit(_CUSUM_H), F.lit(1)).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("n_alarms"),
        )
        .orderBy("user_id")
    )


@query(
    "signup_to_purchase_latency",
    category="analytics",
    oracle=f"""
        WITH s AS (
            SELECT user_id,
                   MIN(CASE WHEN event_type = 'signup' THEN ts END) AS signup_ts
            FROM events GROUP BY user_id
        ),
        p AS (
            SELECT e.user_id,
                   MIN(e.ts) AS first_purchase_ts
            FROM events e JOIN s ON s.user_id = e.user_id
            WHERE e.event_type = 'purchase' AND s.signup_ts IS NOT NULL
              AND e.ts >= s.signup_ts
            GROUP BY e.user_id
        ),
        lat AS (
            SELECT p.user_id,
                   epoch_us(p.first_purchase_ts) - epoch_us(s.signup_ts)
                       AS micros
            FROM p JOIN s ON s.user_id = p.user_id
        ),
        r AS (
            SELECT user_id, micros,
                   row_number() OVER (ORDER BY micros, user_id) AS rn,
                   COUNT(*) OVER () AS n
            FROM lat
        )
        SELECT CAST(MAX(n) AS BIGINT) AS n_converted,
               {sql_round_half_up(
                   "SUM(CASE WHEN 2 * rn = n OR 2 * rn = n + 1"
                   " OR 2 * rn = n + 2 THEN micros END)"
                   " / COUNT(CASE WHEN 2 * rn = n OR 2 * rn = n + 1"
                   " OR 2 * rn = n + 2 THEN 1 END) / 1000000.0", 6)}
                   AS median_latency_sec,
               {sql_round_half_up(
                   "MAX(CASE WHEN rn = CAST(ceil(CAST(0.90 AS DOUBLE)"
                   " * CAST(n AS DOUBLE)) AS BIGINT)"
                   " THEN micros END) / 1000000.0", 6)} AS p90_latency_sec
        FROM r
    """,
)
def signup_to_purchase_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time from signup to first subsequent purchase per user, reduced
    to the median and nearest-rank p90 — the activation-funnel latency
    metric. Latencies are exact integer microseconds; the median uses
    the integer predicate 2·rn ∈ {n, n+1, n+2} (mad_robust_outliers'
    no-interpolation trick) and p90 the nearest-rank predicate, so the
    only float op is the final µs→s division.

    Scale note: the global rank over CONVERTED users runs partition-
    less here (converted users ≪ events; still user-scaled at 100 TB —
    swap in the bucketed two-phase rank of mann_whitney_u_events when
    that matters); flagged to the plan auditor whitelist with that
    justification. The events⋈signups join is deliberately UNhinted
    (ADVICE r4): s is a per-user aggregate — even filtered to
    signed-up users it is user-cardinality, and a forced broadcast of
    a user-grain table OOMs the driver at large user counts. AQE
    broadcasts it while it fits and falls back to shuffle when it
    doesn't; signup_ts rides the groupBy (functionally dependent on
    user_id) so no second join is needed at all."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
            "signup_ts"
        )
    ).filter(F.col("signup_ts").isNotNull())
    p = (
        ev.join(s, "user_id")
        .filter(
            (F.col("event_type") == "purchase")
            & (F.col("ts") >= F.col("signup_ts"))
        )
        .groupBy("user_id", "signup_ts")
        .agg(F.min("ts").alias("first_purchase_ts"))
    )
    lat = p.select(
        "user_id",
        (
            F.unix_micros(F.col("first_purchase_ts"))
            - F.unix_micros(F.col("signup_ts"))
        ).alias("micros"),
    )
    from pyspark.sql import Window

    w = Window.orderBy("micros", "user_id")
    r = lat.select(
        "micros",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    mid = (
        (F.lit(2) * F.col("rn") == F.col("n"))
        | (F.lit(2) * F.col("rn") == F.col("n") + F.lit(1))
        | (F.lit(2) * F.col("rn") == F.col("n") + F.lit(2))
    )
    p90_rn = F.ceil(F.lit(0.90) * F.col("n").cast("double")).cast("bigint")
    return r.agg(
        F.max("n").cast("bigint").alias("n_converted"),
        round_half_up(
            F.sum(F.when(mid, F.col("micros")))
            / F.count(F.when(mid, F.lit(1)))
            / F.lit(1000000.0),
            6,
        ).alias("median_latency_sec"),
        round_half_up(
            F.max(F.when(F.col("rn") == p90_rn, F.col("micros")))
            / F.lit(1000000.0),
            6,
        ).alias("p90_latency_sec"),
    )


@query(
    "seasonal_naive_backtest",
    category="analytics",
    oracle=f"""
        WITH m AS (
            SELECT date_trunc('month', o_orderdate) AS month,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100
                        AS BIGINT) AS rev_cents
            FROM orders GROUP BY month
        ),
        j AS (
            SELECT a.month, a.rev_cents AS actual_cents,
                   b.rev_cents AS forecast_cents
            FROM m a JOIN m b ON b.month = a.month - INTERVAL 12 MONTH
        )
        SELECT month, actual_cents, forecast_cents,
               {sql_round_half_up(
                   'abs(CAST(actual_cents - forecast_cents AS DOUBLE))'
                   ' / CAST(actual_cents AS DOUBLE)', 6)} AS ape
        FROM j ORDER BY month
    """,
)
def seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the seasonal-naive forecast (next month = same month
    last year) on monthly revenue: per-month actual, forecast, and
    absolute percentage error — the baseline every fancier forecaster
    must beat, and the shape of a forecast-accuracy dashboard. Revenue
    stays in exact integer cents (DECIMAL sum × 100), so the only
    float op is the final error ratio; emitting per-month rows (MAPE
    reduced in the test) avoids any cross-row float sum.

    Scale: one month-level aggregate, then a self-join on the
    12-month-shifted key — month-level tables are tiny at any fact
    size."""
    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("month")
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(12,2)")) * 100)
        .cast("bigint")
        .alias("rev_cents")
    )
    a = m.alias("a")
    b = m.select(
        (F.col("month") + F.expr("INTERVAL 12 MONTHS")).alias("month"),
        F.col("rev_cents").alias("forecast_cents"),
    )
    j = a.join(F.broadcast(b), "month").select(
        "month",
        F.col("rev_cents").alias("actual_cents"),
        "forecast_cents",
    )
    return j.select(
        "month",
        "actual_cents",
        "forecast_cents",
        round_half_up(
            F.abs((F.col("actual_cents") - F.col("forecast_cents")).cast("double"))
            / F.col("actual_cents").cast("double"),
            6,
        ).alias("ape"),
    ).orderBy("month")


@query(
    "seasonal_baseline_outliers",
    category="analytics",
    oracle=f"""
        WITH e AS (
            SELECT ts, value,
                   CAST(epoch_us(date_trunc('day', ts)) / 86400000000
                        AS BIGINT) % 7 AS dowi,
                   CAST(hour(ts) AS BIGINT) AS hr,
                   date_trunc('day', ts) AS day
            FROM events
        ),
        base AS (
            SELECT dowi, hr,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))
                            * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS ss
            FROM e GROUP BY dowi, hr
        ),
        z AS (
            SELECT e.day,
                   CASE WHEN (b.ss / b.n - (b.s / b.n) * (b.s / b.n)) > 0.0
                        AND abs((e.value - b.s / b.n)
                                / sqrt(b.ss / b.n - (b.s / b.n) * (b.s / b.n)))
                            > 3.0
                        THEN 1 ELSE 0 END AS is_outlier
            FROM e JOIN base b ON b.dowi = e.dowi AND b.hr = e.hr
        )
        SELECT day,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(is_outlier) AS BIGINT) AS n_outliers,
               {sql_round_half_up(
                   'CAST(SUM(is_outlier) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)',
                   6)} AS outlier_rate
        FROM z GROUP BY day ORDER BY day
    """,
)
def seasonal_baseline_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily anomaly rate against a (day-of-week, hour) seasonal
    baseline: each event's value is z-scored against its weekly-hour
    cell's population moments (exact DECIMAL power sums, the
    zscore_outlier_events recipe) and days are summarized by their
    |z| > 3 rate — the seasonality-aware monitor that a flat global
    threshold gets wrong on weekends. The day-of-week index is a pure
    integer epoch-day mod 7, dodging the Spark-vs-DuckDB
    dayofweek-convention mismatch entirely.

    Scale: one 168-cell baseline aggregate broadcast back onto the
    scan, then a day-level count — two combinable aggregates, no
    window."""
    ev = load_table(spark, sf_dir, "events")
    dowi = (
        F.unix_micros(F.date_trunc("day", F.col("ts"))) / F.lit(86400000000)
    ).cast("bigint") % 7
    e = ev.select(
        F.col("value"),
        dowi.alias("dowi"),
        F.hour("ts").cast("bigint").alias("hr"),
        F.date_trunc("day", F.col("ts")).alias("day"),
    )
    v = F.col("value").cast("decimal(18,2)")
    base = e.groupBy("dowi", "hr").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(v).cast("double").alias("s"),
        F.sum(v * v).cast("double").alias("ss"),
    )
    j = e.join(F.broadcast(base), ["dowi", "hr"])
    mean = F.col("s") / F.col("n")
    var = F.col("ss") / F.col("n") - mean * mean
    is_out = F.when(
        (var > F.lit(0.0))
        & (F.abs((F.col("value") - mean) / F.sqrt(var)) > F.lit(3.0)),
        1,
    ).otherwise(0)
    return (
        j.select("day", is_out.alias("is_outlier"))
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("is_outlier").cast("bigint").alias("n_outliers"),
            round_half_up(
                F.sum("is_outlier").cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("outlier_rate"),
        )
        .orderBy("day")
    )


@query(
    "inter_event_gap_histogram",
    category="analytics",
    oracle="""
        WITH g AS (
            SELECT event_type,
                   epoch_us(ts) - epoch_us(lag(ts) OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY ts, event_id)) AS gap_us
            FROM events
        ),
        b AS (
            SELECT event_type,
                   CAST(floor(ln(CAST(gap_us AS DOUBLE) / 1000000.0)
                              / ln(2.0)) AS BIGINT) AS log2_bucket
            FROM g WHERE gap_us IS NOT NULL AND gap_us > 0
        )
        SELECT event_type, log2_bucket,
               CAST(COUNT(*) AS BIGINT) AS n_gaps
        FROM b GROUP BY event_type, log2_bucket
        ORDER BY event_type, log2_bucket
    """,
)
def inter_event_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of inter-event gaps per (user, event-type) stream in
    log2-second buckets — the burstiness profile that picks session
    timeouts and watermark delays (the time-axis companion to
    key_skew_profile's frequency histogram). Gaps are exact integer
    microseconds; the bucket is floor(log2(seconds)) on identical
    doubles (ln/ln(2), both operands exact), and zero gaps (same-µs
    events) are excluded as degenerate.

    Scale: one lag window per (user, type) partition, then a
    combinable count on ~60 bucket cells."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    g = ev.select(
        "event_type",
        (
            F.unix_micros(F.col("ts"))
            - F.unix_micros(F.lag("ts").over(w))
        ).alias("gap_us"),
    )
    b = g.filter(F.col("gap_us").isNotNull() & (F.col("gap_us") > 0)).select(
        "event_type",
        F.floor(
            F.log(F.col("gap_us").cast("double") / F.lit(1000000.0))
            / F.log(F.lit(2.0))
        )
        .cast("bigint")
        .alias("log2_bucket"),
    )
    return (
        b.groupBy("event_type", "log2_bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_gaps"))
        .orderBy("event_type", "log2_bucket")
    )


@query(
    "ordered_funnel_conversion",
    category="analytics",
    oracle=f"""
        WITH t1 AS (
            SELECT user_id, MIN(ts) AS ts1 FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ),
        t2 AS (
            SELECT e.user_id, MIN(e.ts) AS ts2
            FROM events e JOIN t1 ON t1.user_id = e.user_id
            WHERE e.event_type = 'click' AND e.ts >= t1.ts1
            GROUP BY e.user_id
        ),
        t3 AS (
            SELECT e.user_id, MIN(e.ts) AS ts3
            FROM events e JOIN t2 ON t2.user_id = e.user_id
            WHERE e.event_type = 'purchase' AND e.ts >= t2.ts2
            GROUP BY e.user_id
        ),
        counts AS (
            SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM t1) AS n_view,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM t2) AS n_click,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM t3) AS n_purchase
        )
        SELECT n_view, n_click, n_purchase,
               {sql_round_half_up(
                   'CAST(n_click AS DOUBLE) / CAST(n_view AS DOUBLE)', 6)}
                   AS click_rate,
               {sql_round_half_up(
                   'CAST(n_purchase AS DOUBLE) / CAST(n_click AS DOUBLE)', 6)}
                   AS purchase_rate,
               {sql_round_half_up(
                   'CAST(n_purchase AS DOUBLE) / CAST(n_view AS DOUBLE)', 6)}
                   AS overall_rate
        FROM counts
    """,
)
def ordered_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly ORDERED funnel: view → first click AT OR AFTER the
    first view → first purchase AT OR AFTER that click, with per-step
    user counts and conversion rates. Order matters — a purchase before
    the first view does not convert — which is what separates a funnel
    from three independent EXISTS filters (signup_to_purchase_latency
    measures the unordered 2-step latency; this is the k-step ordered
    membership).

    Spark shape: two window passes over ONE user_id exchange (Catalyst
    reuses the hash partitioning across both): pass 1 pins ts1 =
    min(view ts) per user; rows failing click ∧ ts >= ts1 drop; pass 2
    pins ts2 and filters purchases the same way. The final counts are
    three tiny aggregates. The oracle builds the identical chain with
    per-step GROUP BY joins.

    Scale: no self-joins of the fact table and no driver-side counts —
    each pass is a window + filter on the already-partitioned stream,
    the per-user step flags reduce in the same exchange, and the final
    three counts are one combinable aggregate; at 100 TB this is the
    sessionization access pattern (one shuffle, linear passes)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    w = Window.partitionBy("user_id")
    with_t1 = ev.withColumn(
        "ts1",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
    ).filter(F.col("ts1").isNotNull())
    with_t2 = (
        with_t1.withColumn(
            "ts2",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") >= F.col("ts1")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = with_t2.groupBy("user_id").agg(
        F.max(F.col("ts2").isNotNull()).alias("has_click"),
        F.max(
            F.col("ts2").isNotNull()
            & (F.col("event_type") == "purchase")
            & (F.col("ts") >= F.col("ts2"))
        ).alias("has_purchase"),
    )
    counts = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_view"),
        F.sum(F.col("has_click").cast("long")).cast("bigint").alias("n_click"),
        F.sum(F.col("has_purchase").cast("long"))
        .cast("bigint")
        .alias("n_purchase"),
    )
    return counts.select(
        "n_view",
        "n_click",
        "n_purchase",
        round_half_up(
            F.col("n_click").cast("double") / F.col("n_view").cast("double"), 6
        ).alias("click_rate"),
        round_half_up(
            F.col("n_purchase").cast("double") / F.col("n_click").cast("double"),
            6,
        ).alias("purchase_rate"),
        round_half_up(
            F.col("n_purchase").cast("double") / F.col("n_view").cast("double"),
            6,
        ).alias("overall_rate"),
    )


@query(
    "sequential_pattern_support",
    category="analytics",
    oracle="""
        WITH r AS (
            SELECT user_id, event_type,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events
        ),
        spans AS (
            SELECT user_id, event_type,
                   MIN(rn) AS first_rn, MAX(rn) AS last_rn
            FROM r GROUP BY user_id, event_type
        ),
        tot AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n
                FROM events),
        sup AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   CAST(COUNT(*) AS BIGINT) AS n_users
            FROM spans a
            JOIN spans b ON b.user_id = a.user_id
                        AND a.first_rn < b.last_rn
            GROUP BY type_a, type_b
        )
        SELECT s.type_a, s.type_b, s.n_users,
               CASE WHEN isfinite(CAST(s.n_users AS DOUBLE) / tot.n)
                    THEN floor(CAST(s.n_users AS DOUBLE) / tot.n * 1000000.0
                               + 0.5) / 1000000.0 END AS support
        FROM sup s CROSS JOIN tot
        ORDER BY s.n_users DESC, s.type_a, s.type_b
    """,
)
def sequential_pattern_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern support mining (the length-2 core of
    PrefixSpan): for every ordered pair of event types (a, b), the
    number and fraction of users whose stream contains some a BEFORE
    some b (any gap — subsequence, not bigram; contiguous hops are
    event_transition_matrix's job).

    The naive encoding enumerates all i<j event pairs per user —
    quadratic in stream length, ~10^10 pairs per million-event user at
    100 TB. The identity used instead: "∃ i<j with type_i=a, type_j=b"
    ⟺ first_rank(a) < last_rank(b), so one rank window + one per-user
    5-row span table + a 25-combination self-join per user replaces
    the quadratic blow-up — O(n) + O(|types|^2) per user, exactly.

    Scale: one hash exchange on user_id for the rank window; the span
    self-join joins 5-rows-per-user tables co-partitioned on user_id;
    the support aggregate is combinable over the 25-pair domain."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    r = ev.select("user_id", "event_type", F.row_number().over(w).alias("rn"))
    spans = r.groupBy("user_id", "event_type").agg(
        F.min("rn").alias("first_rn"), F.max("rn").alias("last_rn")
    )
    tot = ev.agg(F.count_distinct("user_id").cast("bigint").alias("n"))
    a = spans.select(
        "user_id", F.col("event_type").alias("type_a"), "first_rn"
    )
    b = spans.select(
        "user_id", F.col("event_type").alias("type_b"), "last_rn"
    )
    sup = (
        a.join(b, "user_id")
        .filter(F.col("first_rn") < F.col("last_rn"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )
    return (
        sup.join(F.broadcast(tot))
        .select(
            "type_a",
            "type_b",
            "n_users",
            round_half_up(
                F.col("n_users").cast("double") / F.col("n").cast("double"), 6
            ).alias("support"),
        )
        .orderBy(F.col("n_users").desc(), "type_a", "type_b")
    )


_ACF_MAX_LAG = 5
#: round9-then-DECIMAL day-total term, shared by the Spark builder's
#: SQL twin below.
_ACF_TERM = sql_round_half_up("value", 9)


@query(
    "acf_daily_event_values",
    category="analytics",
    oracle=f"""
        WITH daily AS (
            SELECT event_type, date_trunc('day', ts) AS day,
                   SUM(CAST({_ACF_TERM} AS DECIMAL(28,12))) AS ds_dec
            FROM events GROUP BY 1, 2),
        st AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
                   CAST(SUM(ds_dec) AS DOUBLE) AS tot
            FROM daily GROUP BY 1),
        dev AS (
            SELECT d.event_type, d.day, st.n_days,
                   CAST(d.ds_dec AS DOUBLE) - st.tot / st.n_days AS dv
            FROM daily d JOIN st ON st.event_type = d.event_type),
        lagged AS (
            SELECT event_type, day, n_days, dv,
                   {", ".join(
                       f"lag(dv, {L}) OVER "
                       "(PARTITION BY event_type ORDER BY day) AS "
                       f"dv{L}" for L in range(1, _ACF_MAX_LAG + 1))}
            FROM dev),
        agg AS (
            SELECT event_type, MAX(n_days) AS n_days,
                   CAST(SUM(CAST({sql_round_half_up("dv * dv", 9)}
                       AS DECIMAL(28,12))) AS DOUBLE) AS denom,
                   {", ".join(
                       f"CAST(SUM(CAST({sql_round_half_up(f'dv * dv{L}', 9)}"
                       f" AS DECIMAL(28,12))) AS DOUBLE) AS num{L}"
                       for L in range(1, _ACF_MAX_LAG + 1))}
            FROM lagged GROUP BY event_type)
        SELECT event_type, CAST(lag AS INT) AS lag,
               CAST(n_days AS BIGINT) AS n_days,
               {sql_round_half_up("num / denom", 6)} AS acf
        FROM agg,
             LATERAL (VALUES {", ".join(
                 f"({L}, num{L})" for L in range(1, _ACF_MAX_LAG + 1))})
                 AS t(lag, num)
        ORDER BY event_type, lag
    """,
)
def acf_daily_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation function (lags 1..5) of each event
    type's DAILY value total — the seasonality diagnostic that decides
    whether a forecast needs weekly terms (big lag-7 ACF) or is white
    noise. r_L = Σ (x_t - x̄)(x_{t-L} - x̄) / Σ (x_t - x̄)², the
    standard biased estimator with the full-series denominator.

    Determinism: day totals and all quadratic sums use the repo's
    order-independent recipe (round each term to 9 dp → DECIMAL(28,12)
    accumulate → one double cast); x̄ is one double division of an
    exact decimal total, so every dev product is the same IEEE value
    in both engines and the gate hash-compares acf raw.

    Scale: the ONLY corpus-sized stage is the (event_type, day)
    aggregation — fully combinable, shuffle carries one decimal per
    group. The lag windows then run over |types| × |days| rows
    (thousands at a century of days), so per-type sequential
    dependence never touches the event-level data. Window is
    partitioned by event_type (audit-clean)."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.sum(round_half_up(F.col("value"), 9).cast("decimal(28,12)")).alias(
            "ds_dec"
        )
    )
    st = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("ds_dec").cast("double").alias("tot"),
    )
    dev = daily.join(F.broadcast(st), "event_type").select(
        "event_type",
        "day",
        "n_days",
        (F.col("ds_dec").cast("double") - F.col("tot") / F.col("n_days")).alias(
            "dv"
        ),
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = dev.select(
        "event_type",
        "n_days",
        "dv",
        *[
            F.lag("dv", L).over(w).alias(f"dv{L}")
            for L in range(1, _ACF_MAX_LAG + 1)
        ],
    )

    def _dsum(col):
        return F.sum(round_half_up(col, 9).cast("decimal(28,12)")).cast("double")

    agg = lagged.groupBy("event_type").agg(
        F.max("n_days").alias("n_days"),
        _dsum(F.col("dv") * F.col("dv")).alias("denom"),
        *[
            _dsum(F.col("dv") * F.col(f"dv{L}")).alias(f"num{L}")
            for L in range(1, _ACF_MAX_LAG + 1)
        ],
    )
    stacked = agg.select(
        "event_type",
        "n_days",
        "denom",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(L).cast("int").alias("lag"),
                        F.col(f"num{L}").alias("num"),
                    )
                    for L in range(1, _ACF_MAX_LAG + 1)
                ]
            )
        ).alias("ln"),
    )
    return stacked.select(
        "event_type",
        F.col("ln.lag").alias("lag"),
        F.col("n_days").cast("bigint").alias("n_days"),
        round_half_up(F.col("ln.num") / F.col("denom"), 6).alias("acf"),
    ).orderBy("event_type", "lag")


@query(
    "stl_decompose_daily_values",
    category="analytics",
    oracle=f"""
        WITH daily AS (
            SELECT event_type, date_trunc('day', ts) AS day,
                   CAST(epoch_us(date_trunc('day', ts)) / 86400000000
                        AS BIGINT) % 7 AS dowi,
                   SUM(CAST({sql_round_half_up("value", 9)}
                       AS DECIMAL(28,12))) AS ds_dec
            FROM events GROUP BY 1, 2, 3),
        tr AS (
            SELECT event_type, day, dowi,
                   CAST(ds_dec AS DOUBLE) AS x,
                   CASE WHEN COUNT(*) OVER w = 7
                        THEN CAST(SUM(ds_dec) OVER w AS DOUBLE) / 7.0
                   END AS trend
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        det AS (
            SELECT event_type, day, dowi, x, trend, x - trend AS d
            FROM tr),
        sraw AS (
            SELECT event_type, dowi,
                   CAST(SUM(CAST({sql_round_half_up("d", 9)}
                       AS DECIMAL(28,12))) AS DOUBLE)
                       / COUNT(d) AS s_raw
            FROM det WHERE d IS NOT NULL GROUP BY 1, 2),
        smean AS (
            SELECT event_type,
                   CAST(SUM(CAST({sql_round_half_up("s_raw", 9)}
                       AS DECIMAL(28,12))) AS DOUBLE)
                       / COUNT(*) AS sbar
            FROM sraw GROUP BY 1),
        seas AS (
            SELECT s.event_type, s.dowi, s.s_raw - m.sbar AS seasonal
            FROM sraw s JOIN smean m ON m.event_type = s.event_type)
        SELECT d.event_type, d.day,
               {sql_round_half_up("d.x", 6)} AS observed,
               {sql_round_half_up("d.trend", 6)} AS trend,
               {sql_round_half_up("se.seasonal", 6)} AS seasonal,
               {sql_round_half_up("d.x - d.trend - se.seasonal", 6)}
                   AS remainder
        FROM det d JOIN seas se
          ON se.event_type = d.event_type AND se.dowi = d.dowi
        ORDER BY d.event_type, d.day
    """,
)
def stl_decompose_daily_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-style additive decomposition of each event type's daily
    value series: trend = centered 7-day moving average (NULL at the
    edges where the window is short), seasonal = mean-centered
    day-of-week effect of the detrended series, remainder = what's
    left — the classic decomposition that turns "traffic dipped" into
    "trend fell" vs "it's just Sunday" (Cleveland et al.'s STL, here
    with a single moving-average pass instead of loess, which keeps it
    a pure windowed-aggregate plan).

    Determinism: day totals are exact decimals; the 7-day trend is an
    exact decimal window sum with ONE division; day-of-week means use
    the round9 → DECIMAL recipe; every remaining op is the same IEEE
    expression on both engines. Day-of-week = epoch-day mod 7
    (engine-neutral integer).

    Scale: the corpus-sized stage is the combinable daily aggregate;
    windows and seasonal means then run over |types|·|days| rows. A
    longer season (monthly/yearly) changes constants, not shape."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    daily = events.groupBy(
        "event_type",
        day.alias("day"),
        (
            F.pmod(
                (F.unix_micros(day) / F.lit(86400000000)).cast("bigint"),
                F.lit(7),
            )
        ).alias("dowi"),
    ).agg(
        F.sum(round_half_up(F.col("value"), 9).cast("decimal(28,12)")).alias(
            "ds_dec"
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    tr = daily.select(
        "event_type",
        "day",
        "dowi",
        F.col("ds_dec").cast("double").alias("x"),
        F.when(
            F.count(F.lit(1)).over(w) == 7,
            F.sum("ds_dec").over(w).cast("double") / F.lit(7.0),
        ).alias("trend"),
    )
    det = tr.withColumn("d", F.col("x") - F.col("trend"))

    def _dsum(col):
        return F.sum(round_half_up(col, 9).cast("decimal(28,12)")).cast("double")

    sraw = (
        det.filter(F.col("d").isNotNull())
        .groupBy("event_type", "dowi")
        .agg((_dsum(F.col("d")) / F.count("d")).alias("s_raw"))
    )
    smean = sraw.groupBy("event_type").agg(
        (_dsum(F.col("s_raw")) / F.count(F.lit(1))).alias("sbar")
    )
    seas = sraw.join(F.broadcast(smean), "event_type").select(
        "event_type", "dowi", (F.col("s_raw") - F.col("sbar")).alias("seasonal")
    )
    return (
        det.join(F.broadcast(seas), ["event_type", "dowi"])
        .select(
            "event_type",
            "day",
            round_half_up(F.col("x"), 6).alias("observed"),
            round_half_up(F.col("trend"), 6).alias("trend"),
            round_half_up(F.col("seasonal"), 6).alias("seasonal"),
            round_half_up(
                F.col("x") - F.col("trend") - F.col("seasonal"), 6
            ).alias("remainder"),
        )
        .orderBy("event_type", "day")
    )


@query(
    "theil_sen_daily_trend",
    category="analytics",
    oracle=f"""
        WITH daily AS (
            SELECT event_type,
                   CAST(epoch_us(date_trunc('day', ts)) / 86400000000
                        AS BIGINT) AS t,
                   SUM(CAST({sql_round_half_up("value", 9)}
                       AS DECIMAL(28,12))) AS ds_dec
            FROM events GROUP BY 1, 2),
        pairs AS (
            SELECT a.event_type,
                   (CAST(b.ds_dec AS DOUBLE) - CAST(a.ds_dec AS DOUBLE))
                       / CAST(b.t - a.t AS DOUBLE) AS slope,
                   a.t AS ta, b.t AS tb
            FROM daily a JOIN daily b
              ON b.event_type = a.event_type AND b.t > a.t),
        r AS (
            SELECT event_type, slope,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY slope, ta, tb) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM pairs),
        med AS (
            SELECT event_type, MAX(n) AS n_pairs,
                   SUM(slope) / COUNT(*) AS m
            FROM r
            WHERE 2 * rn IN (n, n + 1, n + 2)
            GROUP BY event_type),
        nd AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
               FROM daily GROUP BY 1)
        SELECT m.event_type, nd.n_days,
               CAST(m.n_pairs AS BIGINT) AS n_pairs,
               {sql_round_half_up("m.m", 6)} AS ts_slope
        FROM med m JOIN nd ON nd.event_type = m.event_type
        ORDER BY m.event_type
    """,
)
def theil_sen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend estimator per event type: the MEDIAN of
    all pairwise day-to-day slopes of the daily value series — the
    breakdown-resistant alternative to the OLS slope
    (stats_linear_regression family): one wild outlier day drags OLS
    arbitrarily but moves a median of ~O(days²) slopes one rank.

    Determinism: day totals are exact decimals, each pairwise slope is
    one IEEE subtraction+division of identical operands, and the
    median uses the exact midrank trick (2·rn ∈ {{n, n+1, n+2}} with a
    (ta, tb) tiebreak) — the 1-or-2 selected values average exactly
    the same on both engines.

    Scale: the pair join is DAYS², not corpus² — the corpus-sized
    stage is the combinable daily aggregate; a years-long series at
    100 TB is still only ~10⁵ pairs per type, and the rank window is
    bounded by that pair count, never the fact table."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    daily = events.groupBy(
        "event_type",
        (F.unix_micros(day) / F.lit(86400000000)).cast("bigint").alias("t"),
    ).agg(
        F.sum(round_half_up(F.col("value"), 9).cast("decimal(28,12)")).alias(
            "ds_dec"
        )
    )
    a = daily.select(
        "event_type",
        F.col("t").alias("ta"),
        F.col("ds_dec").cast("double").alias("xa"),
    )
    b = daily.select(
        "event_type",
        F.col("t").alias("tb"),
        F.col("ds_dec").cast("double").alias("xb"),
    )
    pairs = (
        a.join(b, "event_type")
        .filter(F.col("tb") > F.col("ta"))
        .select(
            "event_type",
            (
                (F.col("xb") - F.col("xa"))
                / (F.col("tb") - F.col("ta")).cast("double")
            ).alias("slope"),
            "ta",
            "tb",
        )
    )
    wr = Window.partitionBy("event_type").orderBy("slope", "ta", "tb")
    wn = Window.partitionBy("event_type")
    r = pairs.select(
        "event_type",
        "slope",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    med = (
        r.filter(
            (2 * F.col("rn") >= F.col("n")) & (2 * F.col("rn") <= F.col("n") + 2)
        )
        .groupBy("event_type")
        .agg(
            F.max("n").alias("n_pairs"),
            (F.sum("slope") / F.count(F.lit(1))).alias("m"),
        )
    )
    nd = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days")
    )
    return (
        med.join(nd, "event_type")
        .select(
            "event_type",
            "n_days",
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            round_half_up(F.col("m"), 6).alias("ts_slope"),
        )
        .orderBy("event_type")
    )


@query(
    "mann_kendall_trend",
    category="aggregation",
    oracle=f"""
        WITH daily AS (
            SELECT event_type, date_trunc('day', ts) AS day,
                   SUM(CAST({sql_round_half_up('value', 9)}
                       AS DECIMAL(28,12))) AS ds
            FROM events GROUP BY 1, 2),
        pairs AS (
            SELECT a.event_type,
                   CAST(SUM(CAST(sign(b.ds - a.ds) AS BIGINT)) AS BIGINT)
                       AS s_stat
            FROM daily a JOIN daily b
              ON b.event_type = a.event_type AND a.day < b.day
            GROUP BY 1),
        tg AS (
            SELECT event_type, ds, CAST(COUNT(*) AS BIGINT) AS t
            FROM daily GROUP BY 1, 2),
        ties AS (
            SELECT event_type,
                   CAST(SUM(t) AS BIGINT) AS n_days,
                   CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie
            FROM tg GROUP BY 1),
        j AS (
            SELECT t.event_type, t.n_days, p.s_stat,
                   CAST(t.n_days * (t.n_days - 1) * (2 * t.n_days + 5)
                        - t.tie AS DOUBLE) / 18.0 AS var_s
            FROM ties t JOIN pairs p ON p.event_type = t.event_type)
        SELECT event_type, n_days, s_stat,
               {sql_round_half_up('var_s', 6)} AS var_s,
               CASE WHEN s_stat > 0
                    THEN {sql_round_half_up(
                        'CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s)', 6)}
                    WHEN s_stat < 0
                    THEN {sql_round_half_up(
                        'CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s)', 6)}
                    ELSE CAST(0.0 AS DOUBLE) END AS z_stat
        FROM j
        ORDER BY event_type
    """,
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per event type over the DAILY value
    series: S = Σ_{i<j} sign(x_j − x_i) with the tie-corrected
    variance Var(S) = [n(n−1)(2n+5) − Σ t(t−1)(2t+5)]/18 and the
    continuity-corrected z — the standard non-parametric "is this
    metric drifting?" monitor (the reference has no statistics surface;
    a 100 TB pipeline needs drift gates on every daily roll-up).

    Determinism: day totals are 9-dp-rounded DECIMAL(28,12) sums
    (order-independent), so every pairwise sign() compares exact
    decimals, S and the tie term are BIGINT-exact, and the only doubles
    are one identical final expression tree per engine.

    Scale: the only corpus-sized stage is the combinable (event_type,
    day) aggregation; the pairwise join is quadratic in DAYS PER TYPE
    (bounded by the calendar, ~hundreds of rows), partitioned by
    event_type — never corpus-quadratic."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(
            F.sum(
                round_half_up(F.col("value"), 9).cast("decimal(28,12)")
            ).alias("ds")
        )
    )
    a, b = daily.alias("a"), daily.alias("b")
    s = (
        a.join(
            b,
            (F.col("b.event_type") == F.col("a.event_type"))
            & (F.col("a.day") < F.col("b.day")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(F.signum(F.col("b.ds") - F.col("a.ds")).cast("bigint"))
            .cast("bigint")
            .alias("s_stat")
        )
    )
    tg = daily.groupBy("event_type", "ds").agg(
        F.count(F.lit(1)).cast("bigint").alias("t")
    )
    t = F.col("t")
    ties = tg.groupBy("event_type").agg(
        F.sum(t).cast("bigint").alias("n_days"),
        F.sum(t * (t - 1) * (2 * t + 5)).cast("bigint").alias("tie"),
    )
    n = F.col("n_days")
    j = ties.join(s, "event_type").select(
        "event_type",
        "n_days",
        "s_stat",
        (
            (n * (n - 1) * (2 * n + 5) - F.col("tie")).cast("double")
            / F.lit(18.0)
        ).alias("var_s"),
    )
    sstat = F.col("s_stat")
    return j.select(
        "event_type",
        "n_days",
        "s_stat",
        round_half_up(F.col("var_s"), 6).alias("var_s"),
        F.when(
            sstat > 0,
            round_half_up(
                (sstat - 1).cast("double") / F.sqrt(F.col("var_s")), 6
            ),
        )
        .when(
            sstat < 0,
            round_half_up(
                (sstat + 1).cast("double") / F.sqrt(F.col("var_s")), 6
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("z_stat"),
    ).orderBy("event_type")


@query(
    "kaplan_meier_retention",
    category="aggregation",
    oracle=f"""
        WITH h AS (SELECT max(o_orderdate) AS hmax FROM orders),
        life AS (
            SELECT c.c_mktsegment AS seg,
                   CAST(date_diff('day', min(o.o_orderdate),
                                  max(o.o_orderdate)) AS BIGINT) AS t,
                   CASE WHEN date_diff('day', max(o.o_orderdate),
                                       h.hmax) > 90
                        THEN 1 ELSE 0 END AS churn
            FROM orders o
            JOIN customer c ON c.c_custkey = o.o_custkey
            CROSS JOIN h
            GROUP BY c.c_mktsegment, o.o_custkey, h.hmax),
        grp AS (
            SELECT seg, t, CAST(COUNT(*) AS BIGINT) AS cnt,
                   CAST(SUM(churn) AS BIGINT) AS d
            FROM life GROUP BY 1, 2),
        tot AS (
            SELECT seg, CAST(SUM(cnt) AS BIGINT) AS n
            FROM grp GROUP BY 1),
        risk AS (
            SELECT g.seg, g.t, g.d,
                   CAST(tt.n - COALESCE(CAST(SUM(g.cnt) OVER (
                       PARTITION BY g.seg ORDER BY g.t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS BIGINT), 0) AS BIGINT) AS at_risk
            FROM grp g JOIN tot tt ON tt.seg = g.seg),
        ev AS (
            SELECT seg, t, at_risk, d,
                   CASE WHEN at_risk > d THEN CAST({sql_round_half_up(
                       "ln(CAST(at_risk - d AS DOUBLE)"
                       " / CAST(at_risk AS DOUBLE))", 9)}
                       AS DECIMAL(28,12))
                   ELSE CAST(0 AS DECIMAL(28,12)) END AS lnf,
                   CASE WHEN at_risk = d THEN 1 ELSE 0 END AS zf
            FROM risk WHERE d > 0),
        cum AS (
            SELECT seg, t, at_risk, d,
                   SUM(lnf) OVER w AS lsum,
                   SUM(zf) OVER w AS zsum
            FROM ev
            WINDOW w AS (PARTITION BY seg ORDER BY t
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        SELECT seg AS mktsegment, t AS t_days, at_risk, d AS deaths,
               CASE WHEN zsum > 0 THEN CAST(0.0 AS DOUBLE)
                    ELSE {sql_round_half_up("exp(CAST(lsum AS DOUBLE))", 6)}
               END AS survival
        FROM cum ORDER BY mktsegment, t_days
    """,
)
def kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of customer "lifetime" (days between
    first and last order) per market segment, right-censoring customers
    still active within 90 days of the dataset horizon — the standard
    retention/churn estimator (Kaplan & Meier 1958) that no plain
    GROUP BY can produce because later death times condition on the
    at-risk set of earlier ones (the reference has no survival surface;
    its executor stops at hash aggregation, src/executor/mod.rs:250-466).

    Determinism: death counts and at-risk counts are BIGINT-exact; each
    KM factor ln((n-d)/n) is one IEEE division + ln, 9-dp-rounded into
    DECIMAL(28,12), accumulated by an exact decimal window sum ordered
    by event time, and exponentiated once at the end — the established
    order-independent product recipe. A saturated event time
    (at_risk == d, survival hits exactly zero) is carried as an integer
    flag rather than ln(0) = -inf.

    Scale: one corpus-sized aggregation (per-customer min/max order
    date, combinable), then everything runs on the (segment, lifetime)
    aggregate — calendar-bounded, ~thousands of rows; the cumulative
    windows are partitioned by segment over that aggregate, never over
    fact rows; the horizon is a broadcast 1-row scalar."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    hmax = orders.agg(F.max("o_orderdate").alias("hmax"))
    life = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .groupBy(F.col("c_mktsegment").alias("seg"), "o_custkey")
        .agg(
            F.min("o_orderdate").alias("f"),
            F.max("o_orderdate").alias("l"),
        )
        .crossJoin(F.broadcast(hmax))
        .select(
            "seg",
            F.datediff(F.col("l"), F.col("f")).cast("bigint").alias("t"),
            F.when(F.datediff(F.col("hmax"), F.col("l")) > 90, F.lit(1))
            .otherwise(F.lit(0))
            .alias("churn"),
        )
    )
    grp = life.groupBy("seg", "t").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("churn").cast("bigint").alias("d"),
    )
    tot = grp.groupBy("seg").agg(F.sum("cnt").cast("bigint").alias("n"))
    w_prev = (
        Window.partitionBy("seg")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    risk = (
        grp.withColumn(
            "cum_prev",
            F.coalesce(F.sum("cnt").over(w_prev).cast("bigint"), F.lit(0)),
        )
        .join(F.broadcast(tot), "seg")
        .select(
            "seg",
            "t",
            "d",
            (F.col("n") - F.col("cum_prev")).cast("bigint").alias("at_risk"),
        )
        .filter(F.col("d") > 0)
    )
    ar, d = F.col("at_risk"), F.col("d")
    ev = risk.select(
        "seg",
        "t",
        "at_risk",
        "d",
        F.when(
            ar > d,
            round_half_up(
                F.log((ar - d).cast("double") / ar.cast("double")), 9
            ).cast(_DEC),
        )
        .otherwise(F.lit(0).cast(_DEC))
        .alias("lnf"),
        F.when(ar == d, F.lit(1)).otherwise(F.lit(0)).alias("zf"),
    )
    w_cum = (
        Window.partitionBy("seg")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = ev.select(
        "seg",
        "t",
        "at_risk",
        "d",
        F.sum("lnf").over(w_cum).alias("lsum"),
        F.sum("zf").over(w_cum).alias("zsum"),
    )
    return cum.select(
        F.col("seg").alias("mktsegment"),
        F.col("t").alias("t_days"),
        "at_risk",
        F.col("d").alias("deaths"),
        F.when(F.col("zsum") > 0, F.lit(0.0))
        .otherwise(round_half_up(F.exp(F.col("lsum").cast("double")), 6))
        .alias("survival"),
    ).orderBy("mktsegment", "t_days")


@query(
    "page_hinkley_drift",
    category="aggregation",
    oracle=f"""
        WITH daily AS (
            SELECT event_type AS et, date_trunc('day', ts) AS day,
                   CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
                       AS BIGINT) AS cents
            FROM events WHERE isfinite(value) GROUP BY 1, 2),
        seq AS (
            SELECT et, day, cents,
                   CAST(row_number() OVER w AS BIGINT) AS i,
                   CAST(SUM(cents) OVER (PARTITION BY et ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS p
            FROM daily
            WINDOW w AS (PARTITION BY et ORDER BY day)),
        term AS (
            SELECT et, day, i,
                   CAST({sql_round_half_up(
                       "CAST(cents AS DOUBLE) / 100.0"
                       " - CAST(p AS DOUBLE) / (CAST(i AS DOUBLE) * 100.0)"
                       " - 25.0", 9)} AS DECIMAL(28,12)) AS tm
            FROM seq),
        walk AS (
            SELECT et, day,
                   SUM(tm) OVER w AS g
            FROM term
            WINDOW w AS (PARTITION BY et ORDER BY day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        ph AS (
            SELECT et, day,
                   g - LEAST(CAST(0 AS DECIMAL(38,12)),
                             MIN(g) OVER (PARTITION BY et ORDER BY day
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW)) AS ph_t
            FROM walk)
        SELECT et AS event_type,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               {sql_round_half_up("CAST(MAX(ph_t) AS DOUBLE)", 6)}
                   AS max_ph,
               CAST(SUM(CASE WHEN ph_t > CAST(1500 AS DECIMAL(28,12))
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
               MIN(CASE WHEN ph_t > CAST(1500 AS DECIMAL(28,12))
                   THEN day END) AS first_alarm_day
        FROM ph GROUP BY 1 ORDER BY 1
    """,
)
def page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley mean-shift detector per event type over the daily
    value series: g_t = sum_(i<=t)(x_i - mean_i - delta) with mean_i
    the RUNNING mean, PH_t = g_t - min(0, min_(j<=t) g_j), alarm when
    PH_t > lambda (delta=25 dollars drift allowance, lambda=1500
    dollars) — the classic sequential change detector whose reference
    statistic adapts with the running mean, complementing CUSUM's
    fixed-k form (Page 1954; Hinkley 1971).

    Determinism: daily cents and prefix sums are BIGINT; each term
    x_t - mean_t - delta is one identical IEEE expression, 9-dp-rounded
    into DECIMAL(28,12); the walk g, its running min, and PH are exact
    decimal arithmetic; alarms compare exact decimals against an exact
    decimal threshold. Same Lindley-style running-min identity the
    CUSUM rewrite proved out (NOTES_r6).

    Scale: the only corpus-sized stage is the combinable daily roll-up;
    all windows are partitioned by event_type over calendar-bounded
    rows."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    v = F.col("value").cast("double")
    finite = ~(
        F.isnan(v) | (v == F.lit(float("inf"))) | (v == F.lit(float("-inf")))
    )
    daily = (
        ev.filter(finite)
        .groupBy(
            F.col("event_type").alias("et"),
            F.date_trunc("day", F.col("ts")).alias("day"),
        )
        .agg(
            F.sum(F.floor(v * F.lit(100.0) + F.lit(0.5)).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    w_ord = Window.partitionBy("et").orderBy("day")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    seq = daily.select(
        "et",
        "day",
        "cents",
        F.row_number().over(w_ord).cast("bigint").alias("i"),
        F.sum("cents").over(w_cum).cast("bigint").alias("p"),
    )
    tm = round_half_up(
        F.col("cents").cast("double") / F.lit(100.0)
        - F.col("p").cast("double") / (F.col("i").cast("double") * F.lit(100.0))
        - F.lit(25.0),
        9,
    ).cast(_DEC)
    walk = seq.select("et", "day", tm.alias("tm")).select(
        "et", "day", F.sum("tm").over(w_cum).alias("g")
    )
    ph_t = F.col("g") - F.least(
        F.lit(0).cast("decimal(38,12)"), F.min("g").over(w_cum)
    )
    lam = F.lit(1500).cast(_DEC)
    ph = walk.select("et", "day", ph_t.alias("ph_t"))
    return (
        ph.groupBy(F.col("et").alias("event_type"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            round_half_up(F.max("ph_t").cast("double"), 6).alias("max_ph"),
            F.sum(F.when(F.col("ph_t") > lam, 1).otherwise(0))
            .cast("bigint")
            .alias("n_alarms"),
            F.min(F.when(F.col("ph_t") > lam, F.col("day"))).alias(
                "first_alarm_day"
            ),
        )
        .orderBy("event_type")
    )


@query(
    "markov_entropy_rate",
    category="aggregation",
    oracle=f"""
        WITH seq AS (
            SELECT user_id, event_type,
                   lead(event_type) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS nxt
            FROM events),
        trans AS (
            SELECT event_type AS src, nxt AS dst,
                   CAST(COUNT(*) AS BIGINT) AS n_ij
            FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
        outs AS (
            SELECT src, CAST(SUM(n_ij) AS BIGINT) AS n_i
            FROM trans GROUP BY 1),
        tot AS (SELECT CAST(SUM(n_ij) AS BIGINT) AS n FROM trans),
        terms AS (
            SELECT t.src, o.n_i,
                   CAST({sql_round_half_up(
                       "-(CAST(t.n_ij AS DOUBLE) / CAST(o.n_i AS DOUBLE))"
                       " * log2(CAST(t.n_ij AS DOUBLE)"
                       " / CAST(o.n_i AS DOUBLE))", 9)}
                       AS DECIMAL(28,12)) AS h_term
            FROM trans t JOIN outs o ON o.src = t.src)
        SELECT tm.src AS event_type, tm.n_i AS n_transitions,
               {sql_round_half_up(
                   "CAST(tm.n_i AS DOUBLE) / CAST(tt.n AS DOUBLE)", 6)}
                   AS pi_share,
               {sql_round_half_up(
                   "CAST(SUM(tm.h_term) AS DOUBLE)", 6)} AS h_cond_bits,
               {sql_round_half_up(
                   "CAST(SUM(tm.h_term) AS DOUBLE)"
                   " * (CAST(tm.n_i AS DOUBLE) / CAST(tt.n AS DOUBLE))",
                   6)} AS rate_contrib_bits
        FROM terms tm CROSS JOIN tot tt
        GROUP BY tm.src, tm.n_i, tt.n
        ORDER BY event_type
    """,
)
def markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the per-user event-type Markov chain: empirical
    transition counts n_ij from consecutive events, conditional entropy
    H_i = -sum_j p_ij log2 p_ij per source state, stationary share
    pi_i = n_i/N, and the per-state contribution pi_i * H_i whose total
    is the chain's entropy rate — "how predictable is the next event
    given this one", the sequence-level complement to the existing
    unconditional transition matrix and char-entropy queries (the
    reference has no sequence-statistics surface).

    Determinism: counts are BIGINT; each -p log2 p term is one
    identical IEEE expression 9-dp-rounded into DECIMAL(28,12) and
    summed exactly (order-independent, ~|types| terms per state); the
    final shares are single divisions.

    Scale: the lead() window is partitioned by user_id over fact rows
    (the sessionization shape already audited); everything after is
    |types|^2-sized. The 1-row grand-total crossJoin broadcasts."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    )
    trans = (
        seq.filter(F.col("nxt").isNotNull())
        .groupBy(F.col("event_type").alias("src"), F.col("nxt").alias("dst"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ij"))
    )
    outs = trans.groupBy("src").agg(
        F.sum("n_ij").cast("bigint").alias("n_i")
    )
    tot = trans.agg(F.sum("n_ij").cast("bigint").alias("n"))
    p = F.col("n_ij").cast("double") / F.col("n_i").cast("double")
    terms = trans.join(F.broadcast(outs), "src").select(
        "src",
        "n_i",
        round_half_up(-p * F.log2(p), 9).cast(_DEC).alias("h_term"),
    )
    share = F.col("n_i").cast("double") / F.col("n").cast("double")
    return (
        terms.crossJoin(F.broadcast(tot))
        .groupBy(F.col("src").alias("event_type"), "n_i", "n")
        .agg(F.sum("h_term").alias("h_sum"))
        .select(
            "event_type",
            F.col("n_i").alias("n_transitions"),
            round_half_up(share, 6).alias("pi_share"),
            round_half_up(F.col("h_sum").cast("double"), 6).alias(
                "h_cond_bits"
            ),
            round_half_up(
                F.col("h_sum").cast("double") * share, 6
            ).alias("rate_contrib_bits"),
        )
        .orderBy("event_type")
    )


@query(
    "holt_linear_forecast",
    category="aggregation",
    oracle=f"""
        WITH RECURSIVE daily AS (
            SELECT event_type AS et, date_trunc('day', ts) AS day,
                   CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
                       AS DOUBLE) / 100.0 AS x
            FROM events WHERE isfinite(value) GROUP BY 1, 2),
        seq AS (
            SELECT et, x,
                   CAST(row_number() OVER (PARTITION BY et ORDER BY day)
                       AS BIGINT) AS rn
            FROM daily),
        nn AS (SELECT et, CAST(MAX(rn) AS BIGINT) AS n FROM seq GROUP BY 1),
        init AS (
            SELECT et,
                   MAX(CASE WHEN rn = 1 THEN x END) AS x1,
                   MAX(CASE WHEN rn = 2 THEN x END) AS x2
            FROM seq WHERE rn <= 2 GROUP BY 1),
        hw AS (
            SELECT et, CAST(2 AS BIGINT) AS t, x2 AS l, x2 - x1 AS b,
                   CAST(0.0 AS DOUBLE) AS sse
            FROM init
            UNION ALL
            SELECT h.et, h.t + 1,
                   CAST(0.3 AS DOUBLE) * s.x
                       + CAST(0.7 AS DOUBLE) * (h.l + h.b),
                   CAST(0.1 AS DOUBLE)
                       * (CAST(0.3 AS DOUBLE) * s.x
                          + CAST(0.7 AS DOUBLE) * (h.l + h.b) - h.l)
                       + CAST(0.9 AS DOUBLE) * h.b,
                   h.sse + (s.x - (h.l + h.b)) * (s.x - (h.l + h.b))
            FROM hw h JOIN seq s ON s.et = h.et AND s.rn = h.t + 1)
        SELECT h.et AS event_type, n.n AS n_days,
               {sql_round_half_up("h.l", 6)} AS level,
               {sql_round_half_up("h.b", 6)} AS trend,
               {sql_round_half_up(
                   "h.l + CAST(7.0 AS DOUBLE) * h.b", 6)} AS forecast_7d,
               {sql_round_half_up(
                   "sqrt(h.sse / CAST(n.n - 2 AS DOUBLE))", 6)} AS rmse
        FROM hw h JOIN nn n ON n.et = h.et AND h.t = n.n
        ORDER BY event_type
    """,
)
def holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential (level+trend) smoothing of each event
    type's daily value series (alpha=0.3, beta=0.1, init l_2 = x_2,
    b_2 = x_2 - x_1), reporting the final state, the 7-day-ahead
    forecast l + 7b, and the one-step-ahead RMSE — the trend-aware
    forecaster the seasonal-naive backtest can't provide (the
    reference has no forecasting surface).

    Determinism: the recursion is ORDER-DEPENDENT, so both engines run
    it in the same literal order: Spark folds the calendar-sorted
    per-type array with F.aggregate (sequential JVM expression,
    left-to-right), DuckDB replays the identical expression tree one
    recursion level per day via a recursive CTE. Smoothing constants
    appear as the SAME parsed literals on both sides (never 1-alpha
    computed vs 0.7 parsed — those differ in the last ulp), inputs are
    exact cent sums, so every intermediate double is bit-identical.

    Scale: the corpus-sized stage is the combinable daily roll-up; the
    fold runs over a calendar-bounded array per event type (collect
    after aggregation, never raw rows). Horizon-long folds at 100 TB
    stay |days|-sized regardless of corpus growth."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value").cast("double")
    finite = ~(
        F.isnan(v) | (v == F.lit(float("inf"))) | (v == F.lit(float("-inf")))
    )
    daily = (
        ev.filter(finite)
        .groupBy(
            F.col("event_type").alias("et"),
            F.date_trunc("day", F.col("ts")).alias("day"),
        )
        .agg(
            (
                F.sum(F.floor(v * F.lit(100.0) + F.lit(0.5)).cast("bigint"))
                .cast("double")
                / F.lit(100.0)
            ).alias("x")
        )
    )
    arrs = daily.groupBy("et").agg(
        F.sort_array(F.collect_list(F.struct("day", "x"))).alias("arr")
    )
    alpha, one_m_a = F.lit(0.3), F.lit(0.7)
    beta, one_m_b = F.lit(0.1), F.lit(0.9)

    def step(acc, e):
        l_new = alpha * e["x"] + one_m_a * (acc["l"] + acc["b"])
        return F.struct(
            (acc["i"] + F.lit(1)).alias("i"),
            F.when(acc["i"] == 0, e["x"]).otherwise(acc["x1"]).alias("x1"),
            F.when(acc["i"] == 0, acc["l"])
            .when(acc["i"] == 1, e["x"])
            .otherwise(l_new)
            .alias("l"),
            F.when(acc["i"] == 0, acc["b"])
            .when(acc["i"] == 1, e["x"] - acc["x1"])
            .otherwise(beta * (l_new - acc["l"]) + one_m_b * acc["b"])
            .alias("b"),
            F.when(
                acc["i"] >= 2,
                acc["sse"]
                + (e["x"] - (acc["l"] + acc["b"]))
                * (e["x"] - (acc["l"] + acc["b"])),
            )
            .otherwise(acc["sse"])
            .alias("sse"),
        )

    init = F.struct(
        F.lit(0).alias("i"),
        F.lit(0.0).alias("x1"),
        F.lit(0.0).alias("l"),
        F.lit(0.0).alias("b"),
        F.lit(0.0).alias("sse"),
    )
    st = arrs.select(
        "et",
        F.size("arr").cast("bigint").alias("n_days"),
        F.aggregate(F.col("arr"), init, step).alias("st"),
    )
    l, b, sse = F.col("st.l"), F.col("st.b"), F.col("st.sse")
    return st.select(
        F.col("et").alias("event_type"),
        "n_days",
        round_half_up(l, 6).alias("level"),
        round_half_up(b, 6).alias("trend"),
        round_half_up(l + F.lit(7.0) * b, 6).alias("forecast_7d"),
        round_half_up(
            F.sqrt(sse / (F.col("n_days") - 2).cast("double")), 6
        ).alias("rmse"),
    ).orderBy("event_type")


@query(
    "conformal_interval_daily",
    category="aggregation",
    oracle=f"""
        WITH daily AS (
            SELECT event_type AS et, date_trunc('day', ts) AS day,
                   CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
                       AS BIGINT) AS cents
            FROM events WHERE isfinite(value) GROUP BY 1, 2),
        seq AS (
            SELECT et, cents,
                   CAST(row_number() OVER (PARTITION BY et ORDER BY day)
                       AS BIGINT) AS rn,
                   lag(cents) OVER (PARTITION BY et ORDER BY day) AS prev
            FROM daily),
        resid AS (
            SELECT et, rn, abs(cents - prev) AS r,
                   CASE WHEN rn <= 16 THEN 1 ELSE 0 END AS is_cal
            FROM seq WHERE prev IS NOT NULL),
        cal AS (
            SELECT et, r,
                   CAST(row_number() OVER (PARTITION BY et
                       ORDER BY r, rn) AS BIGINT) AS k,
                   CAST(COUNT(*) OVER (PARTITION BY et) AS BIGINT)
                       AS n_cal
            FROM resid WHERE is_cal = 1),
        q AS (
            SELECT et, n_cal, r AS q_cents
            FROM cal
            WHERE k = LEAST((9 * (n_cal + 1) + 9) // 10, n_cal)),
        test AS (
            SELECT et, CAST(COUNT(*) AS BIGINT) AS n_test,
                   CAST(SUM(CASE WHEN r <= q.q_cents THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_cov
            FROM resid JOIN q USING (et)
            WHERE is_cal = 0 GROUP BY 1, q.q_cents)
        SELECT q.et AS event_type, q.n_cal, t.n_test,
               {sql_round_half_up(
                   "CAST(q.q_cents AS DOUBLE) / 100.0", 6)} AS q_dollars,
               {sql_round_half_up(
                   "CAST(t.n_cov AS DOUBLE)"
                   " / CAST(t.n_test AS DOUBLE)", 6)} AS coverage
        FROM q JOIN test t ON t.et = q.et
        ORDER BY event_type
    """,
)
def conformal_interval_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval for the one-step-naive daily
    forecast per event type: calibration residuals |x_t - x_(t-1)| from
    the first 15 transitions set the 90% quantile radius q at the
    conformal rank ceil(0.9 * (n+1)) (Vovk; Lei et al. 2018 — the
    finite-sample-valid rank, not the plug-in percentile), then the
    held-out transitions report empirical coverage — distribution-free
    uncertainty for ANY point forecaster, the companion the
    seasonal-naive backtest and Holt queries lack.

    Determinism: residuals are exact BIGINT cents, the conformal rank
    is the all-integer (9*(n+1)+9)//10 (never ceil of an IEEE product
    — the Nearest-rank trap from the quantile sketch), coverage is an
    integer ratio divided once.

    Scale: one combinable daily roll-up; ranking windows run per
    event type over calendar-bounded residual rows."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    v = F.col("value").cast("double")
    finite = ~(
        F.isnan(v) | (v == F.lit(float("inf"))) | (v == F.lit(float("-inf")))
    )
    daily = (
        ev.filter(finite)
        .groupBy(
            F.col("event_type").alias("et"),
            F.date_trunc("day", F.col("ts")).alias("day"),
        )
        .agg(
            F.sum(F.floor(v * F.lit(100.0) + F.lit(0.5)).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    w_ord = Window.partitionBy("et").orderBy("day")
    seq = daily.select(
        "et",
        "cents",
        F.row_number().over(w_ord).cast("bigint").alias("rn"),
        F.lag("cents").over(w_ord).alias("prev"),
    )
    resid = seq.filter(F.col("prev").isNotNull()).select(
        "et",
        "rn",
        F.abs(F.col("cents") - F.col("prev")).alias("r"),
        F.when(F.col("rn") <= 16, F.lit(1)).otherwise(F.lit(0)).alias(
            "is_cal"
        ),
    )
    w_rank = Window.partitionBy("et").orderBy("r", "rn")
    w_all = Window.partitionBy("et")
    cal = resid.filter(F.col("is_cal") == 1).select(
        "et",
        "r",
        F.row_number().over(w_rank).cast("bigint").alias("k"),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("n_cal"),
    )
    q = cal.filter(
        F.col("k")
        == F.least(
            F.floor((F.lit(9) * (F.col("n_cal") + 1) + 9) / F.lit(10))
            .cast("bigint"),
            F.col("n_cal"),
        )
    ).select("et", "n_cal", F.col("r").alias("q_cents"))
    test = (
        resid.filter(F.col("is_cal") == 0)
        .join(F.broadcast(q), "et")
        .groupBy("et", "q_cents")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(F.when(F.col("r") <= F.col("q_cents"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_cov"),
        )
    )
    return (
        q.join(test.select("et", "n_test", "n_cov"), "et")
        .select(
            F.col("et").alias("event_type"),
            "n_cal",
            "n_test",
            round_half_up(F.col("q_cents").cast("double") / F.lit(100.0), 6)
            .alias("q_dollars"),
            round_half_up(
                F.col("n_cov").cast("double") / F.col("n_test").cast("double"),
                6,
            ).alias("coverage"),
        )
        .orderBy("event_type")
    )


#: Gaussian quartile breakpoint for the 4-symbol SAX alphabet —
#: Phi^-1(0.75), embedded as the same parsed literal on both engines.
_SAX_BP = "0.6744897501960817"


@query(
    "sax_symbolic_daily",
    category="aggregation",
    oracle=f"""
        WITH daily AS (
            SELECT event_type AS et, date_trunc('day', ts) AS day,
                   CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
                       AS BIGINT) AS c
            FROM events WHERE isfinite(value) GROUP BY 1, 2),
        stats AS (
            SELECT et, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(c) AS BIGINT) AS s,
                   CAST(SUM(c * c) AS BIGINT) AS ss
            FROM daily GROUP BY 1),
        z AS (
            SELECT d.et, d.day,
                   CASE WHEN st.n * st.ss - st.s * st.s <= 0 THEN 'b'
                        WHEN (CAST(d.c AS DOUBLE)
                              - CAST(st.s AS DOUBLE) / CAST(st.n AS DOUBLE))
                             / sqrt(CAST(st.n * st.ss - st.s * st.s
                                    AS DOUBLE) / CAST(st.n * st.n
                                    AS DOUBLE))
                             < -CAST({_SAX_BP} AS DOUBLE) THEN 'a'
                        WHEN (CAST(d.c AS DOUBLE)
                              - CAST(st.s AS DOUBLE) / CAST(st.n AS DOUBLE))
                             / sqrt(CAST(st.n * st.ss - st.s * st.s
                                    AS DOUBLE) / CAST(st.n * st.n
                                    AS DOUBLE))
                             < CAST(0.0 AS DOUBLE) THEN 'b'
                        WHEN (CAST(d.c AS DOUBLE)
                              - CAST(st.s AS DOUBLE) / CAST(st.n AS DOUBLE))
                             / sqrt(CAST(st.n * st.ss - st.s * st.s
                                    AS DOUBLE) / CAST(st.n * st.n
                                    AS DOUBLE))
                             < CAST({_SAX_BP} AS DOUBLE) THEN 'c'
                        ELSE 'd' END AS sym
            FROM daily d JOIN stats st ON st.et = d.et),
        sax AS (
            SELECT et, string_agg(sym, '' ORDER BY day) AS sax_string
            FROM z GROUP BY 1),
        bi AS (
            SELECT et, sym || lead(sym) OVER (PARTITION BY et
                       ORDER BY day) AS motif
            FROM z),
        mc AS (
            SELECT et, motif, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM bi WHERE motif IS NOT NULL GROUP BY 1, 2),
        topm AS (
            SELECT et, motif, cnt,
                   row_number() OVER (PARTITION BY et
                       ORDER BY cnt DESC, motif) AS rn
            FROM mc)
        SELECT s.et AS event_type,
               CAST(length(s.sax_string) AS BIGINT) AS n_days,
               s.sax_string,
               t.motif AS top_motif, t.cnt AS motif_count
        FROM sax s JOIN topm t ON t.et = s.et AND t.rn = 1
        ORDER BY event_type
    """,
)
def sax_symbolic_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolic aggregate approximation of each event type's daily
    value series: z-normalize per series, map each day into the
    4-symbol alphabet by the Gaussian quartile breakpoints
    (+-0.6745, 0), and report the symbol string plus the most frequent
    adjacent bigram motif — the discretization that turns numeric time
    series into text so motif mining, grep-style pattern search, and
    sequence models apply (Lin et al. 2003).

    Determinism: means/variances come from exact BIGINT cent sums; the
    z-score and both breakpoints are identical IEEE expressions
    (breakpoint embedded as the same parsed literal both sides); a
    zero-variance series degenerates to all-'b' by an integer guard,
    never a NaN comparison.

    Scale: the corpus-sized stage is the combinable daily roll-up;
    symbolization is a broadcast stats join; the string assembly and
    motif count run per event type over calendar-bounded rows."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    v = F.col("value").cast("double")
    finite = ~(
        F.isnan(v) | (v == F.lit(float("inf"))) | (v == F.lit(float("-inf")))
    )
    daily = (
        ev.filter(finite)
        .groupBy(
            F.col("event_type").alias("et"),
            F.date_trunc("day", F.col("ts")).alias("day"),
        )
        .agg(
            F.sum(F.floor(v * F.lit(100.0) + F.lit(0.5)).cast("bigint"))
            .cast("bigint")
            .alias("c")
        )
    )
    stats = daily.groupBy("et").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("ss"),
    )
    bp = F.lit(float(_SAX_BP))
    nvar = F.col("n") * F.col("ss") - F.col("s") * F.col("s")
    zexpr = (
        F.col("c").cast("double")
        - F.col("s").cast("double") / F.col("n").cast("double")
    ) / F.sqrt(nvar.cast("double") / (F.col("n") * F.col("n")).cast("double"))
    sym = (
        F.when(nvar <= 0, F.lit("b"))
        .when(zexpr < -bp, F.lit("a"))
        .when(zexpr < F.lit(0.0), F.lit("b"))
        .when(zexpr < bp, F.lit("c"))
        .otherwise(F.lit("d"))
    )
    z = daily.join(F.broadcast(stats), "et").select(
        "et", "day", sym.alias("sym")
    )
    sax = z.groupBy("et").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("day", "sym"))),
                lambda e: e["sym"],
            ),
            "",
        ).alias("sax_string")
    )
    w_ord = Window.partitionBy("et").orderBy("day")
    bi = z.select(
        "et",
        F.concat(F.col("sym"), F.lead("sym").over(w_ord)).alias("motif"),
    ).filter(F.col("motif").isNotNull())
    mc = bi.groupBy("et", "motif").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    w_top = Window.partitionBy("et").orderBy(F.col("cnt").desc(), "motif")
    topm = mc.select(
        "et", "motif", "cnt", F.row_number().over(w_top).alias("rn")
    ).filter(F.col("rn") == 1)
    return (
        sax.join(topm, "et")
        .select(
            F.col("et").alias("event_type"),
            F.length("sax_string").cast("bigint").alias("n_days"),
            "sax_string",
            F.col("motif").alias("top_motif"),
            F.col("cnt").alias("motif_count"),
        )
        .orderBy("event_type")
    )


#: Shared AR(1) solve fragments — executed verbatim by BOTH engines
#: (Spark F.expr / selectExpr and the DuckDB oracle) over the exact
#: BIGINT lag-pair moments, so every double op is the identical IEEE
#: expression tree and the outputs hash-match without rounding.
_AR1_PHI = "CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS phi"
_AR1_INTERCEPT = (
    "(CAST(sy AS DOUBLE) - phi * CAST(sx AS DOUBLE)) / CAST(m AS DOUBLE)"
    " AS intercept"
)
_AR1_FORECAST = "intercept + phi * CAST(x_n AS DOUBLE) AS forecast_cents"


@query(
    "ar1_forecast_daily",
    category="aggregation",
    oracle=f"""
        WITH daily AS (
            SELECT event_type AS et, date_trunc('day', ts) AS day,
                   CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
                       AS BIGINT) AS cents
            FROM events WHERE isfinite(value) GROUP BY 1, 2),
        lagged AS (
            SELECT et, cents,
                   lag(cents) OVER (PARTITION BY et ORDER BY day) AS prev
            FROM daily),
        moments AS (
            SELECT et,
                   CAST(COUNT(*) AS BIGINT) AS m,
                   CAST(SUM(prev) AS BIGINT) AS sx,
                   CAST(SUM(cents) AS BIGINT) AS sy,
                   CAST(SUM(prev * prev) AS BIGINT) AS sxx,
                   CAST(SUM(prev * cents) AS BIGINT) AS sxy
            FROM lagged WHERE prev IS NOT NULL GROUP BY 1),
        lasts AS (
            SELECT et, CAST(arg_max(cents, day) AS BIGINT) AS x_n
            FROM daily GROUP BY 1),
        nd AS (
            SELECT mo.et, mo.m, mo.sx, mo.sy, la.x_n,
                   CAST(mo.m * mo.sxy - mo.sx * mo.sy AS BIGINT) AS num,
                   CAST(mo.m * mo.sxx - mo.sx * mo.sx AS BIGINT) AS den
            FROM moments mo JOIN lasts la ON mo.et = la.et),
        p AS (SELECT et, m, sx, sy, x_n, {_AR1_PHI} FROM nd),
        i AS (SELECT et, m, x_n, phi, {_AR1_INTERCEPT} FROM p)
        SELECT et AS event_type, m AS n_pairs, phi, intercept,
               {_AR1_FORECAST}
        FROM i ORDER BY event_type
    """,
)
def ar1_forecast_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(1) one-step forecast per event type over the daily cent
    series: OLS of x_t on x_{{t-1}} in closed form — phi and intercept
    from five exact-integer lag-pair moments (the cross-multiplied
    slope (m·Σxy − Σx·Σy)/(m·Σxx − Σx²) stays BIGINT until one double
    division), then forecast = intercept + phi·x_n. Completes the
    forecasting family (seasonal-naive, Holt, Theil-Sen) with the
    autoregressive member; acf_daily_event_values measures the
    correlation this model fits.

    Scale: the fact table reduces to day-grain per type (combinable),
    the lag window is partitioned by event_type over day-grain rows,
    and the moments reduce to one constant-width row per type — no
    corpus-sized shuffle after the first aggregate."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").cast("double").isNotNull()
        & ~F.isnan(F.col("value"))
        & ~F.col("value").isin(float("inf"), float("-inf"))
    )
    daily = ev.groupBy(
        F.col("event_type").alias("et"),
        F.date_trunc("day", F.col("ts")).alias("day"),
    ).agg(
        F.sum(F.floor(F.col("value") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    w = Window.partitionBy("et").orderBy("day")
    lagged = daily.withColumn("prev", F.lag("cents").over(w)).filter(
        F.col("prev").isNotNull()
    )
    moments = lagged.groupBy("et").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("prev").cast("bigint").alias("sx"),
        F.sum("cents").cast("bigint").alias("sy"),
        F.sum(F.col("prev") * F.col("prev")).cast("bigint").alias("sxx"),
        F.sum(F.col("prev") * F.col("cents")).cast("bigint").alias("sxy"),
    )
    lasts = daily.groupBy("et").agg(
        F.max_by("cents", "day").cast("bigint").alias("x_n")
    )
    nd = moments.join(lasts, "et").select(
        "et",
        "m",
        "sx",
        "sy",
        "x_n",
        (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("bigint")
        .alias("num"),
        (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("bigint")
        .alias("den"),
    )
    p = nd.selectExpr("et", "m", "sx", "sy", "x_n", _AR1_PHI)
    i = p.selectExpr("et", "m", "x_n", "phi", _AR1_INTERCEPT)
    return i.selectExpr(
        "et AS event_type", "m AS n_pairs", "phi", "intercept", _AR1_FORECAST
    ).orderBy("event_type")


@query(
    "nelson_aalen_hazard",
    category="aggregation",
    oracle=f"""
        WITH h AS (SELECT max(o_orderdate) AS hmax FROM orders),
        life AS (
            SELECT c.c_mktsegment AS seg,
                   CAST(date_diff('day', min(o.o_orderdate),
                                  max(o.o_orderdate)) AS BIGINT) AS t,
                   CASE WHEN date_diff('day', max(o.o_orderdate),
                                       h.hmax) > 90
                        THEN 1 ELSE 0 END AS churn
            FROM orders o
            JOIN customer c ON c.c_custkey = o.o_custkey
            CROSS JOIN h
            GROUP BY c.c_mktsegment, o.o_custkey, h.hmax),
        grp AS (
            SELECT seg, t, CAST(COUNT(*) AS BIGINT) AS cnt,
                   CAST(SUM(churn) AS BIGINT) AS d
            FROM life GROUP BY 1, 2),
        tot AS (
            SELECT seg, CAST(SUM(cnt) AS BIGINT) AS n
            FROM grp GROUP BY 1),
        risk AS (
            SELECT g.seg, g.t, g.d,
                   CAST(tt.n - COALESCE(CAST(SUM(g.cnt) OVER (
                       PARTITION BY g.seg ORDER BY g.t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS BIGINT), 0) AS BIGINT) AS at_risk
            FROM grp g JOIN tot tt ON tt.seg = g.seg),
        ev AS (
            SELECT seg, t, at_risk, d,
                   CAST({sql_round_half_up(
                       "CAST(d AS DOUBLE) / CAST(at_risk AS DOUBLE)", 9)}
                       AS DECIMAL(28,12)) AS hz
            FROM risk WHERE d > 0),
        cum AS (
            SELECT seg, t, at_risk, d,
                   SUM(hz) OVER (PARTITION BY seg ORDER BY t
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS hsum
            FROM ev)
        SELECT seg AS mktsegment, t AS t_days, at_risk, d AS deaths,
               {sql_round_half_up("CAST(hsum AS DOUBLE)", 6)} AS cum_hazard
        FROM cum ORDER BY mktsegment, t_days
    """,
)
def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard H(t) = Σ d_i/n_i over the same
    churn lifetimes as kaplan_meier_retention — the estimator
    survival analysis reaches for when the HAZARD (instantaneous churn
    pressure) is the question rather than the survival probability
    (and the one that needs no exp/ln at all: each step is a single
    IEEE division, 9-dp-rounded into DECIMAL, summed exactly in event-
    time order). KM's survival ≈ exp(−H) ties the two rows together.

    Scale: identical shape to KM — one combinable per-customer
    aggregate, then segment-partitioned windows over the bounded
    (segment, lifetime) table."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    hmax = orders.agg(F.max("o_orderdate").alias("hmax"))
    life = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .groupBy(F.col("c_mktsegment").alias("seg"), "o_custkey")
        .agg(F.min("o_orderdate").alias("f"), F.max("o_orderdate").alias("l"))
        .crossJoin(F.broadcast(hmax))
        .select(
            "seg",
            F.datediff(F.col("l"), F.col("f")).cast("bigint").alias("t"),
            F.when(F.datediff(F.col("hmax"), F.col("l")) > 90, F.lit(1))
            .otherwise(F.lit(0))
            .alias("churn"),
        )
    )
    grp = life.groupBy("seg", "t").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("churn").cast("bigint").alias("d"),
    )
    tot = grp.groupBy("seg").agg(F.sum("cnt").cast("bigint").alias("n"))
    w_prev = (
        Window.partitionBy("seg")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    risk = (
        grp.withColumn(
            "cum_prev",
            F.coalesce(F.sum("cnt").over(w_prev).cast("bigint"), F.lit(0)),
        )
        .join(F.broadcast(tot), "seg")
        .select(
            "seg",
            "t",
            "d",
            (F.col("n") - F.col("cum_prev")).cast("bigint").alias("at_risk"),
        )
        .filter(F.col("d") > 0)
    )
    ev = risk.select(
        "seg",
        "t",
        "at_risk",
        "d",
        round_half_up(
            F.col("d").cast("double") / F.col("at_risk").cast("double"), 9
        )
        .cast(_DEC)
        .alias("hz"),
    )
    w_cum = (
        Window.partitionBy("seg")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        F.col("seg").alias("mktsegment"),
        F.col("t").alias("t_days"),
        "at_risk",
        F.col("d").alias("deaths"),
        round_half_up(F.sum("hz").over(w_cum).cast("double"), 6).alias(
            "cum_hazard"
        ),
    ).orderBy("mktsegment", "t_days")


#: Number of seed parts for the two-step walk (smallest part ids with
#: any co-purchase edge — deterministic, data-derived).
_WALK_SEEDS = 5


@query(
    "two_step_transition_probs",
    category="graph",
    oracle=f"""
        WITH edges AS (
            SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        sym AS (SELECT u AS a, v AS b FROM edges
                UNION ALL SELECT v, u FROM edges),
        deg AS (SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS d
                FROM sym GROUP BY 1),
        seeds AS (SELECT node AS s FROM deg ORDER BY node
                  LIMIT {_WALK_SEEDS}),
        hop AS (
            SELECT se.s, e1.b AS w, e2.b AS v, du.d AS d_u, dw.d AS d_w
            FROM seeds se
            JOIN sym e1 ON e1.a = se.s
            JOIN sym e2 ON e2.a = e1.b
            JOIN deg du ON du.node = se.s
            JOIN deg dw ON dw.node = e1.b),
        terms AS (
            SELECT s, v,
                   CAST({sql_round_half_up(
                       "1.0 / (CAST(d_u AS DOUBLE) * CAST(d_w AS DOUBLE))",
                       9)} AS DECIMAL(28,12)) AS t
            FROM hop)
        SELECT s AS seed, v AS target,
               CAST(COUNT(*) AS BIGINT) AS n_paths,
               {sql_round_half_up("CAST(SUM(t) AS DOUBLE)", 6)} AS p2
        FROM terms GROUP BY 1, 2
        ORDER BY seed, p2 DESC, target
    """,
)
def two_step_transition_probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step random-walk transition probabilities P²(seed→target) on
    the part co-purchase graph — one matrix-power step of the walk that
    underlies PageRank/node2vec-style neighborhoods, computed as joins:
    P²(u,v) = Σ_w 1/(d_u·d_w) over paths u→w→v. Each path term is one
    IEEE reciprocal 9-dp-rounded into DECIMAL(28,12), so the sum is
    order-independent; per seed the probabilities total ≤ 1 exactly
    when every w's successors are counted (they are — self-returns
    included, as the walk defines).

    Scale: the seed set bounds the first hop (the full P² is never
    materialized); hop fan-out is Σ_{{w∼seed}} d_w, the frontier shape
    every distributed walk/BFS here uses. Degrees join broadcast-small
    tables."""
    # r12 optimization (guide §2.4/§8): edges via the map-side per-order
    # set expansion shared with the whole graph family
    # (plans.graph._order_part_pairs) instead of the lineitem self-join —
    # the self-join shuffled two full lineitem legs and sorted both for an
    # SMJ (measured 42.7 s of executor time at sf0.1 for this query); the
    # expansion is one combinable groupBy + an in-stage array transform.
    # After .distinct() the (u, v) edge SET is bit-identical.
    from pipeline_query_engine_demo_spark.plans.graph import _order_part_pairs

    edges = resilient_local_checkpoint(
        _order_part_pairs(spark, sf_dir)
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .distinct(),
        eager=False,
    )
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).select(F.col("u").alias("a"), F.col("v").alias("b"))
    # r13 note (verdict item 7, examined): the INITIAL plan prints the
    # sym-wide degree aggregation twice (under the two differently-keyed
    # broadcast builds), but the runtime stage profile shows only ONE
    # 200 MB sym-scanning aggregate stage — AQE's canonical stage cache
    # already dedupes it. A lazy cut here was tried and reverted: it
    # avoids nothing at runtime and adds one semi-eager build sync.
    deg = sym.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    seeds = deg.select(F.col("node").alias("s")).orderBy("s").limit(_WALK_SEEDS)
    e1 = sym.select(F.col("a").alias("s"), F.col("b").alias("w"))
    e2 = sym.select(F.col("a").alias("w"), F.col("b").alias("v"))
    hop = (
        F.broadcast(seeds)
        .join(e1, "s")
        .join(e2, "w")
        .join(F.broadcast(deg.withColumnsRenamed({"node": "s", "d": "d_u"})), "s")
        .join(F.broadcast(deg.withColumnsRenamed({"node": "w", "d": "d_w"})), "w")
    )
    terms = hop.select(
        "s",
        "v",
        round_half_up(
            1.0 / (F.col("d_u").cast("double") * F.col("d_w").cast("double")), 9
        )
        .cast(_DEC)
        .alias("t"),
    )
    return (
        terms.groupBy("s", "v")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_paths"),
            round_half_up(F.sum("t").cast("double"), 6).alias("p2"),
        )
        .select(
            F.col("s").alias("seed"),
            F.col("v").alias("target"),
            "n_paths",
            "p2",
        )
        .orderBy("seed", F.col("p2").desc(), "target")
    )
