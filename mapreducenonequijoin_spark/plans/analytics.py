"""Event-analytics shapes (SURVEY.md §2 extensions, round 5): funnel
conversion and cohort retention over the events fixture — the two
canonical product-analytics queries a warehouse engine is asked for
daily. Both are pure built-in expression plans keyed on user_id, so
every stage reuses one hash partitioning (Exchange reuse at scale);
nothing leaves the JVM.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.io import load_table
from ._scalar import attach_scalar_frame
from .registry import register


@register(
    "funnel_conversion",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
      WHERE e.event_type = 'view' GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT stage, n_users FROM (
      SELECT 1 AS ord, 'signup' AS stage, count(*) AS n_users FROM s1
      UNION ALL
      SELECT 2, 'view_after_signup', count(*) FROM s2
      UNION ALL
      SELECT 3, 'purchase_after_view', count(*) FROM s3
    ) ORDER BY ord
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users who signed up, then VIEWED strictly after
    signing up, then PURCHASED strictly after that first view. Each
    stage is a per-user min-timestamp aggregate joined to the previous
    stage with an event-time residual — the sequential-pattern query
    (MATCH_RECOGNIZE-lite) expressed as chained aggregates. Every
    aggregate and join keys on user_id, so at scale the whole funnel
    is ONE shuffle partitioning reused across stages; stage frames
    shrink monotonically and ride broadcasts once small."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")

    def stage_after(prev: DataFrame, etype: str, tcol: str, out: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == etype)
            .join(prev, "user_id")
            .filter(F.col("ts") > F.col(tcol))
            .groupBy("user_id")
            .agg(F.min("ts").alias(out))
        )

    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = stage_after(s1, "view", "t1", "t2")
    s3 = stage_after(s2, "purchase", "t2", "t3")
    counts = [
        s1.agg(F.lit(1).alias("ord"), F.lit("signup").alias("stage"),
               F.count("*").alias("n_users")),
        s2.agg(F.lit(2).alias("ord"), F.lit("view_after_signup").alias("stage"),
               F.count("*").alias("n_users")),
        s3.agg(F.lit(3).alias("ord"), F.lit("purchase_after_view").alias("stage"),
               F.count("*").alias("n_users")),
    ]
    out = counts[0].unionByName(counts[1]).unionByName(counts[2])
    return out.orderBy("ord").select("stage", "n_users")


@register(
    "retention_cohorts",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, min(ts) AS t0 FROM events GROUP BY user_id
    )
    SELECT
      CAST(floor(datediff('day', DATE '1970-01-01', CAST(t0 AS DATE)) / 7)
           AS BIGINT) AS cohort_week,
      CAST(floor(datediff('day', CAST(t0 AS DATE), CAST(ts AS DATE)) / 7)
           AS BIGINT) AS week_no,
      count(DISTINCT e.user_id) AS n_active
    FROM events e JOIN first_seen f ON e.user_id = f.user_id
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-seen week
    (epoch-day/7 — engine-neutral week arithmetic, no locale-dependent
    date_trunc), counted distinct per (cohort_week, weeks-since-first).
    One user_id aggregate + one user_id join (same partitioning,
    Exchange reuse) + a distinct-count keyed by the tiny
    (cohort, week) pair — the classic retention query, all built-ins."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    first_seen = ev.groupBy("user_id").agg(F.min("ts").alias("t0"))
    days = lambda c: F.datediff(F.to_date(c), F.lit("1970-01-01"))  # noqa: E731
    return (
        ev.join(first_seen, "user_id")
        .withColumn("cohort_week", F.floor(days("t0") / 7).cast("long"))
        .withColumn(
            "week_no",
            F.floor((days("ts") - days("t0")) / 7).cast("long"),
        )
        .groupBy("cohort_week", "week_no")
        .agg(F.count_distinct("user_id").alias("n_active"))
        .orderBy("cohort_week", "week_no")
    )


def _gap_flagged(ev: DataFrame, *cols: str) -> DataFrame:
    """``cols`` of ``ev`` plus ts_us (epoch µs) and is_new: 1 where the
    event opens a session (a user's first event, or more than 30 min
    after the previous one in (ts, event_id) order), else 0."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros("ts")
    return ev.select(
        *cols,
        ts_us.alias("ts_us"),
        F.when(
            F.lag(ts_us).over(w).isNull()
            | (ts_us - F.lag(ts_us).over(w) > 1800 * 1_000_000),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("is_new"),
    )


@register(
    "sessionize_events",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, ts,
             epoch_us(ts) AS ts_us,
             lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      FROM events
    ), flagged AS (
      SELECT *,
             CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM ordered
    ), sess AS (
      SELECT *,
             sum(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS session_no
      FROM flagged
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           count(*) AS n_events,
           min(ts) AS sess_start, max(ts) AS sess_end,
           (max(ts_us) - min(ts_us)) // 1000000 AS duration_s
    FROM sess GROUP BY user_id, session_no
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: split each user's event stream into
    sessions at inactivity gaps > 30 min (the batch twin of
    stream_session's session_window). Gap detection is lag() over
    (user_id, ts, event_id) — the unique event_id breaks timestamp
    ties so the session boundaries are deterministic — and session
    ids are a running sum of boundary flags, so the whole operator is
    two window passes plus one aggregate over a SINGLE hash
    partitioning on user_id (Exchange reuse; no global sort). At
    100 TB this is the canonical scalable plan: per-user state only,
    no skew beyond the per-user event count, all integer arithmetic
    (epoch MICROseconds — second-granularity unix_timestamp floors
    while DuckDB's epoch cast rounds, a real sub-second parity trap)
    for bit-exact cross-engine session boundaries."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    sess = _gap_flagged(ev, "user_id", "event_id", "ts").withColumn(
        "session_no",
        F.sum("is_new").over(
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return sess.groupBy("user_id", F.col("session_no").cast("long").alias("session_no")).agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("sess_start"),
        F.max("ts").alias("sess_end"),
        F.expr("(max(ts_us) - min(ts_us)) DIV 1000000").alias("duration_s"),
    )


@register(
    "anomaly_zscore",
    oracle="""
    WITH stats AS (
      SELECT user_id, event_id, value,
             avg(value)         OVER (PARTITION BY user_id) AS mu,
             stddev_samp(value) OVER (PARTITION BY user_id) AS sd
      FROM events
    )
    SELECT user_id, event_id, round((value - mu) / sd, 4) AS zscore
    FROM stats
    WHERE sd > 0 AND abs((value - mu) / sd) > 2
    """,
)
def anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity anomaly flagging: events whose value sits more than
    2 sample-standard-deviations from that user's mean. The windowed
    mean/stddev avoid a separate aggregate+join round trip — one
    shuffle on user_id computes both moments and scores every row in
    the same partition pass (at scale, the same plan Spark picks for
    a grouped z-score; no second Exchange). z is rounded to 4dp for
    cross-engine float parity; the >2 cut sits far from any fixture
    value's ulp so the filter cannot flip between engines."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "value")
    w = Window.partitionBy("user_id")
    mu = F.avg("value").over(w)
    sd = F.stddev_samp("value").over(w)
    z = (F.col("value") - mu) / sd
    return (
        ev.withColumn("mu", mu)
        .withColumn("sd", sd)
        .filter((F.col("sd") > 0) & (F.abs((F.col("value") - F.col("mu")) / F.col("sd")) > 2))
        .select(
            "user_id",
            "event_id",
            F.round((F.col("value") - F.col("mu")) / F.col("sd"), 4).alias("zscore"),
        )
    )


@register(
    "timeseries_gapfill",
    oracle="""
    WITH ev AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS eh FROM events
    ), cnt AS (
      SELECT event_type, eh, count(*) AS n FROM ev GROUP BY 1, 2
    ), bounds AS (
      SELECT min(eh) AS lo, max(eh) AS hi FROM ev
    ), spine AS (
      SELECT unnest(generate_series(lo, hi)) AS eh FROM bounds
    ), types AS (
      SELECT DISTINCT event_type FROM ev
    )
    SELECT t.event_type, s.eh AS epoch_hour,
           COALESCE(c.n, 0) AS n_events
    FROM spine s CROSS JOIN types t
    LEFT JOIN cnt c ON c.event_type = t.event_type AND c.eh = s.eh
    """,
)
def timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly series per event type with zero-filled gaps — the
    resample/asfreq step every time-series pipeline needs before
    rolling metrics (a LEFT JOIN against reality: absent hours must
    EXIST as zeros). The hour spine is generated, not scanned:
    sequence() over the corpus min/max epoch-hour (a 1-row aggregate)
    explodes into the dense axis, cross-joined with the tiny
    event-type dimension — both sides are generated/bounded, so the
    only data-sized operations are the per-(type,hour) count and one
    broadcast-able left join back onto the spine. Epoch-hour integer
    arithmetic end to end: no timezone, no DST, bit-exact across
    engines."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", (F.unix_micros("ts") / F.lit(3_600_000_000)).cast("long").alias("eh")
    )
    cnt = ev.groupBy("event_type", "eh").agg(F.count("*").alias("n"))
    bounds = ev.agg(F.min("eh").alias("lo"), F.max("eh").alias("hi"))
    spine = bounds.select(F.explode(F.sequence("lo", "hi")).alias("epoch_hour"))
    types = ev.select("event_type").distinct()
    grid = spine.crossJoin(F.broadcast(types))
    return (
        grid.join(
            cnt,
            (grid.event_type == cnt.event_type) & (grid.epoch_hour == cnt.eh),
            "left",
        )
        .select(
            grid.event_type,
            "epoch_hour",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
        )
    )


@register(
    "markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ), pair AS (
      SELECT event_type, next_type, count(*) AS n
      FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
    ), tot AS (
      SELECT event_type, CAST(sum(n) AS BIGINT) AS row_total FROM pair GROUP BY 1
    )
    SELECT p.event_type AS from_type, p.next_type AS to_type, p.n AS n,
           round(CAST(p.n AS DOUBLE) / t.row_total, 6) AS prob
    FROM pair p JOIN tot t ON p.event_type = t.event_type
    """,
)
def markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user event journeys:
    for every (from, to) event-type pair, the transition count and
    row-normalized probability — the user-path / next-action model
    product analytics teams fit daily. Adjacency comes from one
    lead() window per user (the single user_id hash partitioning yet
    again — Exchange reuse with sessionize/scd2 if run in the same
    job), and the matrix itself is a tiny |types|² aggregate, so
    nothing bigger than the event stream is ever shuffled. prob is a
    single division of exact integers, rounded 6dp."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pair = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type"))
        .agg(F.count("*").alias("n"))
    )
    tot = pair.groupBy(F.col("from_type").alias("t_from")).agg(
        F.sum("n").alias("row_total")
    )
    return (
        pair.join(F.broadcast(tot), pair.from_type == F.col("t_from"))
        .select(
            "from_type",
            "to_type",
            "n",
            F.round(F.col("n").cast("double") / F.col("row_total"), 6).alias("prob"),
        )
    )


@register(
    "win_gaps_and_islands",
    oracle="""
    WITH d AS (
      SELECT DISTINCT o_orderpriority AS priority,
             CAST(o_orderdate AS DATE) AS day
      FROM orders
    ), g AS (
      SELECT priority, day,
             date_diff('day', DATE '1992-01-01', day)
               - row_number() OVER (PARTITION BY priority ORDER BY day)
               AS grp
      FROM d
    )
    SELECT priority,
           CAST(min(day) AS VARCHAR) AS island_start,
           CAST(max(day) AS VARCHAR) AS island_end,
           CAST(count(*) AS BIGINT) AS n_days
    FROM g GROUP BY priority, grp
    """,
)
def win_gaps_and_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of CONSECUTIVE calendar days
    with at least one order, per priority class — the classic
    SQL-interview shape warehouses answer with the day-minus-rownum
    trick. Both engines compute the group key in exact integer-day
    arithmetic (epoch-day minus row_number is constant within a run,
    jumps at every gap), so no float ever enters the plan. Two
    shuffles total (distinct + window share the priority hash
    partitioning; Catalyst reuses the Exchange), and the aggregate is
    over (priority, grp) — at 100 TB the distinct collapses the fact
    table to |priorities × days| rows first, which is the whole
    scalability story."""
    days = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.to_date("o_orderdate").alias("day"),
        )
        .distinct()
    )
    w = Window.partitionBy("priority").orderBy("day")
    grp = (
        F.datediff(F.col("day"), F.lit("1992-01-01").cast("date"))
        - F.row_number().over(w)
    )
    return (
        days.withColumn("grp", grp)
        .groupBy("priority", "grp")
        .agg(
            F.min("day").cast("string").alias("island_start"),
            F.max("day").cast("string").alias("island_end"),
            F.count("*").alias("n_days"),
        )
        .select("priority", "island_start", "island_end", "n_days")
    )


@register(
    "rollup_continuous_aggregate",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS bucket_hour,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1
    )
    SELECT CAST(CAST(date_trunc('day', bucket_hour) AS DATE) AS VARCHAR)
             AS day,
           CAST(count(*) AS BIGINT) AS n_hours,
           CAST(sum(n) AS BIGINT) AS n_events,
           sum(cents) / 100.0 AS total_value,
           round((sum(cents) / 100.0) / sum(n), 6) AS avg_value
    FROM hourly GROUP BY 1
    """,
)
def rollup_continuous_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate (TimescaleDB's cagg /
    materialized rollup): hourly partials — count + EXACT integer-cent
    sum — re-aggregated to daily finals, with the average derived
    from the merged partials rather than recomputed from raw rows.
    This is the mergeability contract that makes incremental rollups
    correct: sum/count partials compose associatively, so a day's
    figure is reproducible from its 24 hour-buckets no matter when
    each bucket was materialized. Money math never touches doubles
    until the final display division (one correctly-rounded IEEE op);
    the two groupBys share nothing but tiny keys — at 100 TB the
    hourly partial table is |hours| rows, so the second rollup is
    effectively free, which is the entire point of caggs."""
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("bucket_hour"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    hourly = ev.groupBy("bucket_hour").agg(
        F.count("*").alias("n"), F.sum("cents").alias("cents")
    )
    return (
        hourly.groupBy(
            F.date_trunc("day", "bucket_hour").cast("date").cast("string").alias("day")
        )
        .agg(
            F.count("*").alias("n_hours"),
            F.sum("n").alias("n_events"),
            (F.sum("cents") / 100.0).alias("total_value"),
            F.round((F.sum("cents") / 100.0) / F.sum("n"), 6).alias("avg_value"),
        )
    )


@register(
    "timeseries_yoy_growth",
    oracle="""
    WITH m AS (
      SELECT o_orderpriority AS priority,
             CAST(strftime(o_orderdate, '%Y-%m') AS VARCHAR) AS month,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1, 2
    )
    SELECT priority, month, cents / 100.0 AS revenue,
           round(CAST(cents AS DOUBLE)
                 / lag(cents, 12) OVER (PARTITION BY priority
                                        ORDER BY month) - 1.0, 6)
             AS yoy_growth
    FROM m
    """,
)
def timeseries_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year growth per (priority, month): monthly revenue in
    exact integer cents, then lag(12) over the month series — the
    standard comp-period analytic. NULL growth for the first year
    (nothing to compare against), one correctly-rounded IEEE division
    per row. The monthly pre-aggregate collapses the fact table to
    |priorities × months| rows BEFORE the window, so the lag pass is
    over a bounded series — the only windowing shape that survives
    100 TB (lagging raw rows would sort the world)."""
    m = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
        )
    )
    w = Window.partitionBy("priority").orderBy("month")
    return m.select(
        "priority",
        "month",
        (F.col("cents") / 100.0).alias("revenue"),
        F.round(
            F.col("cents").cast("double") / F.lag("cents", 12).over(w) - 1.0, 6
        ).alias("yoy_growth"),
    )


@register(
    "timeseries_ohlc_resample",
    oracle="""
    WITH e AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
             ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ), r AS (
      SELECT *,
             row_number() OVER (PARTITION BY event_type, day
                                ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY event_type, day
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM e
    )
    SELECT event_type, day,
           max(CASE WHEN rn_a = 1 THEN cents END) / 100.0 AS open,
           max(cents) / 100.0 AS high,
           min(cents) / 100.0 AS low,
           max(CASE WHEN rn_d = 1 THEN cents END) / 100.0 AS close,
           count(*) AS n_events,
           CAST(sum(cents) AS BIGINT) / 100.0 AS total_value
    FROM r GROUP BY 1, 2
    """,
)
def timeseries_ohlc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bar resampling — the time-series downsampling shape every
    market/metrics store provides: per (series, day) the first, max,
    min and last observed value plus volume. First/last are pinned by
    the TOTAL order (ts, event_id) so ties are engine-neutral
    (SURVEY §5.4), and money runs in int64 cents until the final
    display division. Plan: both row_number passes share ONE hash
    Exchange on (event_type, day) (opposite sort orders reuse the
    partitioning; only the sort differs), then the groupBy folds into
    the same partitioning — one shuffle total, and the per-bucket
    state is O(1) per group at any scale."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.col("ts").cast("date").cast("string").alias("day"),
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    wa = Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
    wd = Window.partitionBy("event_type", "day").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    r = ev.withColumn("rn_a", F.row_number().over(wa)).withColumn(
        "rn_d", F.row_number().over(wd)
    )
    return r.groupBy("event_type", "day").agg(
        (F.max(F.when(F.col("rn_a") == 1, F.col("cents"))) / 100.0).alias("open"),
        (F.max("cents") / 100.0).alias("high"),
        (F.min("cents") / 100.0).alias("low"),
        (F.max(F.when(F.col("rn_d") == 1, F.col("cents"))) / 100.0).alias("close"),
        F.count("*").alias("n_events"),
        (F.sum("cents") / 100.0).alias("total_value"),
    )


@register(
    "timeseries_ema_smooth",
    oracle="""
    WITH RECURSIVE r AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE user_id % 20 = 0
    ), e AS (
      SELECT user_id, rn, value AS ema FROM r WHERE rn = 1
      UNION ALL
      SELECT r.user_id, r.rn, 0.7 * e.ema + 0.3 * r.value
      FROM e JOIN r ON r.user_id = e.user_id AND r.rn = e.rn + 1
    )
    SELECT user_id, rn, CAST(trunc(ema * 1000000) AS BIGINT) AS ema_micro
    FROM e
    """,
)
def timeseries_ema_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential moving average (α = 0.3) per user series — the
    inherently-RECURSIVE smoothing no window frame can express
    (y_t = (1-α)·y_{t-1} + α·x_t depends on the unbounded prefix
    through state, not through a bounded frame). This is the
    documented tier-(b) custom-operator path: a grouped
    ``applyInPandas`` whose per-series state is O(1) and whose
    parallelism is the number of series — embarrassingly parallel at
    100 TB since no cross-series traffic exists; one hash Exchange on
    user_id total. The recurrence is evaluated as two IEEE multiplies
    and one add per step IN THAT ORDER on both engines (plain Python
    float math here, the unrolled recursive CTE in the DuckDB
    oracle — no fma, no vectorized reassociation), so the raw doubles
    are bit-identical; display is TRUNCATED integer micros since r14 —
    round(x, 6) split the engines on an exact 6-dp half-way value at
    sf0.1 (truncation of identical bits cannot; SURVEY §5.4). Sequencing is pinned by the (ts, event_id) total
    order, never ts alone."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 20 == 0)
        .select("user_id", "ts", "event_id", "value")
    )

    def _ema(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
        y = None
        out = []
        for x in pdf["value"]:
            x = float(x)
            y = x if y is None else 0.7 * y + 0.3 * x
            out.append(y)
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"].to_numpy(),
                "rn": range(1, len(out) + 1),
                "ema": out,
            }
        )

    raw = ev.groupBy("user_id").applyInPandas(
        _ema, schema="user_id long, rn long, ema double"
    )
    # display as TRUNCATED micros, not round(x, 6): the raw doubles
    # are bit-identical across engines (the docstring's argument), but
    # a value sitting exactly on the 6-dp half-way point split Spark's
    # HALF_UP from DuckDB's binary rounding (66.2913725 -> ...73 vs
    # ...72, caught by the r14 sf0.1 cross-scale sweep). Truncation of
    # identical bits cannot diverge at any scale.
    return raw.select(
        "user_id",
        "rn",
        (F.col("ema") * F.lit(1000000.0)).cast("long").alias("ema_micro"),
    )


@register(
    "pattern_match_sequence",
    oracle="""
    WITH s AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 2), ''
                        ORDER BY ts, event_id) AS seq
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(length(seq) / 2 AS BIGINT) AS n_events,
           CASE WHEN regexp_matches(seq, 'si(..)*pu(..)*er')
                  THEN 'converted_then_error'
                WHEN regexp_matches(seq, 'si(..)*pu') THEN 'converted'
                WHEN regexp_matches(seq, 'si') THEN 'signed_up_only'
                ELSE 'no_signup' END AS journey
    FROM s
    """,
)
def pattern_match_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered event-sequence pattern matching — the MATCH_RECOGNIZE
    / funnel-regex shape (Oracle 12c / Flink CEP's core primitive,
    which Spark SQL lacks): classify each user's journey by whether
    'signup ⋯ purchase ⋯ error' occurs as a temporal subsequence.
    The rewrite: reduce each user's history to a STRING of fixed-width
    event codes in (ts, event_id) total order, then run ordinary
    regexes over it — sequences become strings, CEP becomes regexp,
    and both engines agree byte-for-byte because the encoding is a
    deterministic sort. The per-user string is bounded by that user's
    history (the same envelope any per-entity CEP engine holds); one
    hash Exchange on user_id, regexes evaluated JVM-side. Order is
    pinned by array_sort on (ts, event_id, code) structs — never
    collect_list order (SURVEY §5.4)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.struct(
            F.col("ts"), F.col("event_id"),
            F.substring("event_type", 1, 2).alias("code"),
        ).alias("e"),
    )
    seqs = ev.groupBy("user_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list("e")), lambda x: x.getField("code")
            ),
        ).alias("seq")
    )
    journey = (
        F.when(F.col("seq").rlike("si(..)*pu(..)*er"), "converted_then_error")
        .when(F.col("seq").rlike("si(..)*pu"), "converted")
        .when(F.col("seq").rlike("si"), "signed_up_only")
        .otherwise("no_signup")
    )
    return seqs.select(
        "user_id",
        (F.length("seq") / 2).cast("long").alias("n_events"),
        journey.alias("journey"),
    )


@register(
    "win_running_distinct",
    oracle="""
    WITH firsts AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS first_day FROM events
      GROUP BY 1
    ), daily AS (
      SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
             count(DISTINCT user_id) AS active_users
      FROM events GROUP BY 1
    ), news AS (
      SELECT CAST(first_day AS VARCHAR) AS day, count(*) AS new_users
      FROM firsts GROUP BY 1
    )
    SELECT d.day, d.active_users,
           coalesce(n.new_users, 0) AS new_users,
           CAST(sum(coalesce(n.new_users, 0))
                OVER (ORDER BY d.day) AS BIGINT) AS cum_distinct_users
    FROM daily d LEFT JOIN news n USING (day)
    """,
)
def win_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running DISTINCT count — "unique users to date, per day", the
    growth-dashboard number a naive
    ``count(distinct) OVER (ORDER BY day)`` window cannot express
    (distinct isn't frame-decomposable). The classical rewrite: a
    user contributes to the cumulative curve exactly once, on their
    FIRST day — so min-reduce per user, count firsts per day, and
    cumulative-sum that bounded daily series. Every heavy stage is a
    hash aggregate keyed on user_id or day; the cumsum over the
    |days|-row firsts frame runs as a bounded broadcast TRIANGLE join
    (d2.day <= d1.day, <=|days|^2/2 pairs — 10 years of days is ~7M
    pairs, distributed), so NO partition-less WindowExec exists in the
    plan at all (r11: retired from the GLOBALWIN whitelist; the
    former |days|-row global window was bounded but still single-task).
    New-user and active-user paths share the same day partitioning,
    joined on the |days|-row frames."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").cast("string").alias("day")
    )
    daily = ev.groupBy("day").agg(
        F.countDistinct("user_id").alias("active_users")
    )
    firsts = ev.groupBy("user_id").agg(F.min("day").alias("day"))
    news = firsts.groupBy("day").agg(F.count("*").alias("new_users"))
    prior = news.select(
        F.col("day").alias("_pd"), F.col("new_users").alias("_pn")
    )
    # cumulate over the FULL day spine (a day with zero new users
    # still inherits the running total of all prior days' firsts)
    cum = (
        daily.select("day")
        .join(F.broadcast(prior), F.col("_pd") <= F.col("day"), "left")
        .groupBy("day")
        .agg(
            F.coalesce(F.sum("_pn"), F.lit(0))
            .cast("long")
            .alias("cum_distinct_users")
        )
    )
    return (
        daily.join(news, "day", "left")
        .join(cum, "day")
        .select(
            "day",
            "active_users",
            F.coalesce("new_users", F.lit(0)).alias("new_users"),
            "cum_distinct_users",
        )
    )


@register(
    "timeseries_seasonal_decompose",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS bucket,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1
    ), trend AS (
      SELECT bucket, cents,
             CAST(sum(cents) OVER w AS BIGINT) AS win_cents,
             CAST(count(*) OVER w AS BIGINT) AS win_n
      FROM hourly
      WINDOW w AS (ORDER BY bucket ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
    ), detrended AS (
      -- INTEGER detrend (floor-div MA): keeps the seasonal mean an
      -- exact int-sum/count division — float summation ORDER diverges
      -- at 1 ulp across engines otherwise (observed live)
      SELECT bucket, cents, win_cents, win_n,
             CAST(extract(hour FROM bucket) AS BIGINT) AS hod,
             cents - win_cents // win_n AS resid0
      FROM trend
    ), seasonal AS (
      SELECT hod,
             CAST(sum(resid0) AS BIGINT) AS ssum,
             CAST(count(*) AS BIGINT) AS sn
      FROM detrended GROUP BY 1
    )
    SELECT CAST(CAST(d.bucket AS DATE) AS VARCHAR) AS day, d.hod,
           round(d.cents / 100.0, 2) AS observed,
           round((d.win_cents // d.win_n) / 100.0, 6) AS trend,
           round(s.ssum / CAST(s.sn AS DOUBLE) / 100.0, 6) AS seasonal,
           round((d.resid0 - s.ssum / CAST(s.sn AS DOUBLE)) / 100.0, 6)
             AS residual
    FROM detrended d JOIN seasonal s USING (hod)
    """,
)
def timeseries_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition (the additive moving-average
    method behind STL's ancestor): observed = trend + seasonal +
    residual, with trend = centered 25-hour moving average, seasonal
    = mean detrended value per hour-of-day, residual the rest. The
    scale story is the cascade of COLLAPSES: the fact table folds to
    |hours| rows (int-cents) before any window runs, the MA window is
    a bounded ±12-row frame over that series, and the seasonal
    profile is 24 rows broadcast back — so at 100 TB the heavy input
    touches exactly one hash aggregate and everything after is
    bounded-frame arithmetic. Float enters only at fixed points
    (trend division, seasonal avg), each rounded once at 6dp in the
    same op order on both engines."""
    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("bucket"))
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
        )
    )
    w = Window.orderBy("bucket").rowsBetween(-12, 12)
    trend = hourly.select(
        "bucket",
        "cents",
        F.sum("cents").over(w).alias("win_cents"),
        F.count("*").over(w).alias("win_n"),
    )
    detrended = trend.select(
        "bucket",
        "cents",
        "win_cents",
        "win_n",
        F.hour("bucket").cast("long").alias("hod"),
        # integer detrend: seasonal mean stays an exact int-sum/count
        # division (float summation order diverges 1 ulp across
        # engines — caught live by verify; SURVEY §5.4)
        (F.col("cents") - F.expr("win_cents div win_n")).alias("resid0"),
    )
    seasonal = detrended.groupBy("hod").agg(
        F.sum("resid0").alias("ssum"), F.count("*").alias("sn")
    )
    s_mean = F.col("ssum") / F.col("sn").cast("double")
    return detrended.join(F.broadcast(seasonal), "hod").select(
        F.col("bucket").cast("date").cast("string").alias("day"),
        "hod",
        F.round(F.col("cents") / 100.0, 2).alias("observed"),
        F.round(F.expr("win_cents div win_n") / 100.0, 6).alias("trend"),
        F.round(s_mean / 100.0, 6).alias("seasonal"),
        F.round((F.col("resid0") - s_mean) / 100.0, 6).alias("residual"),
    )


@register(
    "timeseries_interpolate_linear",
    oracle="""
    WITH ev AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS eh,
             CAST(round(value * 1000000) AS BIGINT) AS v_int
      FROM events WHERE event_id % 13 = 0
    ), obs AS (
      SELECT event_type, eh, CAST(sum(v_int) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS c
      FROM ev GROUP BY 1, 2
    ), bounds AS (
      SELECT event_type, min(eh) AS lo, max(eh) AS hi FROM obs GROUP BY 1
    ), spine AS (
      SELECT event_type, unnest(generate_series(lo, hi)) AS eh FROM bounds
    ), walls AS (
      SELECT sp.event_type, sp.eh, o.s, o.c,
             last_value(o.s IGNORE NULLS) OVER w AS ps,
             last_value(o.c IGNORE NULLS) OVER w AS pc,
             last_value(CASE WHEN o.s IS NOT NULL THEN sp.eh END IGNORE NULLS)
               OVER w AS peh,
             first_value(o.s IGNORE NULLS) OVER v AS ns,
             first_value(o.c IGNORE NULLS) OVER v AS nc,
             first_value(CASE WHEN o.s IS NOT NULL THEN sp.eh END IGNORE NULLS)
               OVER v AS neh
      FROM spine sp LEFT JOIN obs o
        ON o.event_type = sp.event_type AND o.eh = sp.eh
      WINDOW w AS (PARTITION BY sp.event_type ORDER BY sp.eh
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             v AS (PARTITION BY sp.event_type ORDER BY sp.eh
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, eh AS epoch_hour,
           CASE WHEN s IS NOT NULL THEN 'observed'
                WHEN ps IS NOT NULL AND ns IS NOT NULL THEN 'interp'
                ELSE 'edge' END AS src,
           CASE WHEN s IS NOT NULL
                  THEN round((CAST(s AS DOUBLE) / c) / 1000000, 6)
                WHEN ps IS NOT NULL AND ns IS NOT NULL
                  THEN round((CAST(ps AS DOUBLE) / pc
                        + ((CAST(ns AS DOUBLE) / nc - CAST(ps AS DOUBLE) / pc)
                           * (eh - peh)) / (neh - peh)) / 1000000, 6)
                END AS value
    FROM walls
    """,
)
def timeseries_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear gap interpolation of an hourly series (pandas
    ``interpolate(method='linear')`` / TimescaleDB ``interpolate()``,
    distributed): absent hours between two observed neighbours get the
    straight-line value, leading/trailing hours stay NULL ('edge') —
    the resample step that turns ragged sensor/metric feeds into the
    dense matrix forecasting models consume.

    Scale shape: the fact table collapses to one int64 (sum, count)
    pair per (series, hour) BEFORE any window — the windows then walk
    the bounded per-series hour spine (|hours| rows per series
    forever), carrying prev/next anchors via last/first IGNORE NULLS
    over one event_type Exchange reused by both frames. Determinism:
    per-row values enter as round(value·10⁶) int64 micro-units so the
    per-hour sums are exact; the interpolated value is ONE fixed
    parenthesization pm + ((nm−pm)·(eh−peh))/(neh−peh) over those
    exact means, divided back and rounded once (SURVEY §5.4)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_id") % 13 == 0
    ).select(
        "event_type",
        (F.unix_micros("ts") / F.lit(3_600_000_000)).cast("long").alias("eh"),
        F.round(F.col("value") * 1_000_000).cast("long").alias("v_int"),
    )
    obs = ev.groupBy("event_type", "eh").agg(
        F.sum("v_int").cast("long").alias("s"),
        F.count("*").cast("long").alias("c"),
    )
    spine = (
        obs.groupBy("event_type")
        .agg(F.min("eh").alias("lo"), F.max("eh").alias("hi"))
        .select("event_type", F.explode(F.sequence("lo", "hi")).alias("eh"))
    )
    g = spine.join(obs, ["event_type", "eh"], "left")
    wb = (
        Window.partitionBy("event_type")
        .orderBy("eh")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("eh")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_eh = F.when(F.col("s").isNotNull(), F.col("eh"))
    walls = g.select(
        "event_type",
        "eh",
        "s",
        "c",
        F.last("s", ignorenulls=True).over(wb).alias("ps"),
        F.last("c", ignorenulls=True).over(wb).alias("pc"),
        F.last(obs_eh, ignorenulls=True).over(wb).alias("peh"),
        F.first("s", ignorenulls=True).over(wf).alias("ns"),
        F.first("c", ignorenulls=True).over(wf).alias("nc"),
        F.first(obs_eh, ignorenulls=True).over(wf).alias("neh"),
    )
    pm = F.col("ps").cast("double") / F.col("pc")
    nm = F.col("ns").cast("double") / F.col("nc")
    interp = pm + ((nm - pm) * (F.col("eh") - F.col("peh"))) / (
        F.col("neh") - F.col("peh")
    )
    has_both = F.col("ps").isNotNull() & F.col("ns").isNotNull()
    return walls.select(
        "event_type",
        F.col("eh").alias("epoch_hour"),
        F.when(F.col("s").isNotNull(), F.lit("observed"))
        .when(has_both, F.lit("interp"))
        .otherwise(F.lit("edge"))
        .alias("src"),
        F.when(
            F.col("s").isNotNull(),
            F.round((F.col("s").cast("double") / F.col("c")) / 1_000_000, 6),
        )
        .when(has_both, F.round(interp / 1_000_000, 6))
        .alias("value"),
    )


@register(
    "agg_entropy_gini",
    oracle="""
    WITH pc AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ), per_user AS (
      SELECT user_id,
             CAST(sum(c) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_types,
             sum(c * ln(CAST(c AS DOUBLE))) AS sclnc,
             CAST(sum(c * c) AS BIGINT) AS sc2
      FROM pc GROUP BY 1
    )
    SELECT user_id, n, n_types,
           round(ln(CAST(n AS DOUBLE)) - sclnc / n, 6) AS entropy,
           round(CAST(n * n - sc2 AS DOUBLE) / (n * n), 6) AS gini
    FROM per_user
    """,
)
def agg_entropy_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (nats) + Gini impurity of each user's
    event-type mix — the concentration/diversity readouts behind
    domain-mix monitoring, feature selection, and bot detection (a
    single-action user scores 0 on both).

    Two-level hash agg: (user, type) counts, then per-user moments —
    the shuffle carries one row per observed (user, type) pair.
    Entropy uses the algebraic form ln(n) − (Σ c·ln c)/n so the only
    float inputs are ln's of INTEGER counts (Σ c·ln c has ≤ |types|
    terms per group); Gini is exact until its single division:
    (n² − Σc²)/n² with all-int64 numerator and denominator, rounded
    once (SURVEY §5.4)."""
    pc = load_table(spark, sf_dir, "events").groupBy("user_id", "event_type").agg(
        F.count("*").cast("long").alias("c")
    )
    per_user = pc.groupBy("user_id").agg(
        F.sum("c").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_types"),
        F.sum(F.col("c") * F.log(F.col("c").cast("double"))).alias("sclnc"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sc2"),
    )
    return per_user.select(
        "user_id",
        "n",
        "n_types",
        F.round(
            F.log(F.col("n").cast("double")) - F.col("sclnc") / F.col("n"), 6
        ).alias("entropy"),
        F.round(
            (F.col("n") * F.col("n") - F.col("sc2")).cast("double")
            / (F.col("n") * F.col("n")),
            6,
        ).alias("gini"),
    )


@register(
    "win_max_drawdown",
    oracle="""
    WITH daily AS (
      SELECT o_custkey AS series,
             CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS day,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders WHERE o_custkey % 100 = 0
      GROUP BY 1, 2
    ), eq AS (
      SELECT series, day,
             CAST(sum(cents) OVER w AS BIGINT) AS equity
      FROM daily
      WINDOW w AS (PARTITION BY series ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), curve AS (
      SELECT series, equity,
             CAST(max(equity) OVER w2 AS BIGINT) AS peak
      FROM eq
      WINDOW w2 AS (PARTITION BY series ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT series,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(max(peak) AS BIGINT) AS peak_cents,
           CAST(max(peak - equity) AS BIGINT) AS max_dd_cents,
           round(CAST(max(peak - equity) AS DOUBLE) / max(peak), 6)
             AS max_drawdown
    FROM curve GROUP BY series
    """,
)
def win_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per series — the risk metric every equity
    curve / KPI dashboard reports: the deepest peak-to-trough dip of
    the running total, both in absolute cents and as a fraction of
    the peak.

    Facts collapse to ONE int64-cents row per (series, day) BEFORE
    any window (the win_cumulative_share discipline), so the two
    stacked frames — running sum, then running max of it — walk the
    bounded per-series day spine and share a single series-key
    Exchange. Peak, equity, and the drawdown numerator stay exact
    int64 end-to-end; the ratio is ONE rounded division. Note
    max(peak) == final peak since the running max is monotone — the
    aggregate form keeps the oracle a plain GROUP BY."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 100 == 0)
        .select(
            F.col("o_custkey").alias("series"),
            F.col("o_orderdate").cast("date").cast("string").alias("day"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("pc"),
        )
        .groupBy("series", "day")
        .agg(F.sum("pc").cast("long").alias("cents"))
    )
    w = (
        Window.partitionBy("series")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    curve = daily.select(
        "series",
        "day",
        F.sum("cents").over(w).cast("long").alias("equity"),
    ).withColumn("peak", F.max("equity").over(w).cast("long"))
    return curve.groupBy("series").agg(
        F.count("*").cast("long").alias("n_days"),
        F.max("peak").cast("long").alias("peak_cents"),
        F.max(F.col("peak") - F.col("equity")).cast("long").alias("max_dd_cents"),
        F.round(
            F.max(F.col("peak") - F.col("equity")).cast("double")
            / F.max("peak"),
            6,
        ).alias("max_drawdown"),
    )


@register(
    "timeseries_cusum_changepoint",
    oracle="""
    WITH hourly AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS eh,
             CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS v
      FROM events GROUP BY 1, 2
    ), stats AS (
      SELECT event_type, CAST(sum(v) AS BIGINT) AS tot,
             CAST(count(*) AS BIGINT) AS n
      FROM hourly GROUP BY 1
    ), cusum AS (
      SELECT h.event_type, h.eh,
             CAST(sum(CAST(h.v AS HUGEINT) * s.n) OVER w
                  - row_number() OVER w * CAST(s.tot AS HUGEINT)
                  AS BIGINT) AS c_scaled
      FROM hourly h JOIN stats s USING (event_type)
      WINDOW w AS (PARTITION BY h.event_type ORDER BY h.eh
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, eh AS change_eh, abs_c AS max_abs_cusum FROM (
      SELECT event_type, eh, abs(c_scaled) AS abs_c,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs(c_scaled) DESC, eh) AS rn
      FROM cusum) WHERE rn = 1
    """,
)
def timeseries_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per series (Page '54): the hour
    where the cumulative deviation from the series mean peaks in
    magnitude — the standard single-changepoint estimator behind
    ops-alerting ("when did the level shift?").

    ALL-INTEGER formulation: with hourly int64 micro-unit sums v_i,
    mean deviation cumsums are scaled by n — C'_k = n·Σv_i − k·total
    = n²·(classic CUSUM) — which preserves the argmax EXACTLY while
    eliminating every float op; the argmax itself ties on the earlier
    hour. Facts collapse to the bounded (series, hour) frame before
    the windows; the deviation cumsum and the argmax rank share one
    series-key Exchange. The scaled magnitudes need >64 bits in
    flight (n·Σv ≈ 2⁴⁰·2³⁰), so both engines run the window sum in
    their exact wide type (Spark decimal(38), DuckDB HUGEINT) and
    cast the final difference — which is back in int64 range by
    construction — once."""
    hourly = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            (F.unix_micros("ts") / F.lit(3_600_000_000)).cast("long").alias("eh"),
            F.round(F.col("value") * 1_000_000).cast("long").alias("vm"),
        )
        .groupBy("event_type", "eh")
        .agg(F.sum("vm").cast("long").alias("v"))
    )
    stats = hourly.groupBy("event_type").agg(
        F.sum("v").cast("long").alias("tot"), F.count("*").cast("long").alias("n")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("eh")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    joined = hourly.join(F.broadcast(stats), "event_type")
    c_scaled = (
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("n")).over(w)
        - F.row_number().over(w).cast("decimal(38,0)") * F.col("tot")
    ).cast("long")
    cusum = joined.select(
        "event_type", "eh", c_scaled.alias("c_scaled")
    )
    rank = F.row_number().over(
        Window.partitionBy("event_type").orderBy(
            F.abs(F.col("c_scaled")).desc(), "eh"
        )
    )
    return (
        cusum.withColumn("rn", rank)
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("eh").alias("change_eh"),
            F.abs(F.col("c_scaled")).alias("max_abs_cusum"),
        )
    )


@register(
    "timeseries_holt_linear",
    oracle="""
    WITH RECURSIVE r AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE user_id % 25 = 3
    ), h AS (
      SELECT user_id, rn, value AS lvl, CAST(0.0 AS DOUBLE) AS trend
      FROM r WHERE rn = 1
      UNION ALL
      SELECT r.user_id, r.rn,
             0.5 * r.value + 0.5 * (h.lvl + h.trend),
             0.3 * ((0.5 * r.value + 0.5 * (h.lvl + h.trend)) - h.lvl)
               + 0.7 * h.trend
      FROM h JOIN r ON r.user_id = h.user_id AND r.rn = h.rn + 1
    )
    SELECT user_id, rn,
           CAST(trunc(lvl * 1000000) AS BIGINT) AS level_micro,
           CAST(trunc(trend * 1000000) AS BIGINT) AS trend_micro,
           CAST(trunc((lvl + trend) * 1000000) AS BIGINT) AS forecast1_micro
    FROM h
    """,
)
def timeseries_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's double exponential smoothing (linear trend; Holt 1957) —
    the canonical forecasting baseline one step above EMA: TWO coupled
    recurrences (level and trend) that no window frame expresses,
        l_t = α·x_t + (1−α)(l_{t−1} + b_{t−1})
        b_t = β(l_t − l_{t−1}) + (1−β)·b_{t−1}
    with the one-step-ahead forecast l_t + b_t — the load-forecasting
    / capacity-planning readout.

    Same tier-(b) contract as timeseries_ema_smooth: grouped
    applyInPandas, O(1) state per series (two floats), parallel in
    #series with ONE user_id Exchange, zero cross-series traffic at
    any scale. Both engines evaluate the recurrences with the SAME
    parenthesization and operation order (plain Python floats here,
    the recursive CTE there — the level expression is repeated
    verbatim inside the trend update rather than referenced, exactly
    as the CTE must write it), so raw doubles are bit-identical;
    display is TRUNCATED integer micros since r14 (the ema_smooth
    boundary lesson; SURVEY §5.4). Init: l_1 = x_1,
    b_1 = 0, the standard convention. Order pinned by (ts, event_id)."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 25 == 3)
        .select("user_id", "ts", "event_id", "value")
    )

    def _holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
        lvl = trend = None
        lvls, trends = [], []
        for x in pdf["value"]:
            x = float(x)
            if lvl is None:
                lvl, trend = x, 0.0
            else:
                new_lvl = 0.5 * x + 0.5 * (lvl + trend)
                trend = 0.3 * ((0.5 * x + 0.5 * (lvl + trend)) - lvl) + 0.7 * trend
                lvl = new_lvl
            lvls.append(lvl)
            trends.append(trend)
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"].to_numpy(),
                "rn": range(1, len(lvls) + 1),
                "lvl": lvls,
                "trend": trends,
            }
        )

    raw = ev.groupBy("user_id").applyInPandas(
        _holt, schema="user_id long, rn long, lvl double, trend double"
    )
    # truncated micros, not round(x, 6) — see timeseries_ema_smooth's
    # r14 note (6-dp half-way boundary split the engines at sf0.1)
    return raw.select(
        "user_id",
        "rn",
        (F.col("lvl") * F.lit(1000000.0)).cast("long").alias("level_micro"),
        (F.col("trend") * F.lit(1000000.0)).cast("long").alias(
            "trend_micro"
        ),
        ((F.col("lvl") + F.col("trend")) * F.lit(1000000.0))
        .cast("long")
        .alias("forecast1_micro"),
    )


@register(
    "attribution_last_touch",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, event_id, value,
             epoch_us(ts) AS us,
             last_value(CASE WHEN event_type IN ('click', 'view')
                             THEN event_type END IGNORE NULLS) OVER w
               AS touch_type,
             last_value(CASE WHEN event_type IN ('click', 'view')
                             THEN epoch_us(ts) END IGNORE NULLS) OVER w
               AS touch_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT CASE WHEN touch_type IS NOT NULL
                 AND us - touch_us <= 604800000000
                THEN touch_type ELSE 'organic' END AS channel,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM ordered WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase credits the
    user's most recent STRICTLY-preceding click/view within a 7-day
    lookback, else 'organic' — the default attribution model of every
    product-analytics stack (and the batch twin of an as-of join from
    the purchase stream to the touch stream).

    One window pass per user over (ts, event_id) — the strictly-
    preceding frame (UNBOUNDED..1 PRECEDING) with last_value IGNORE
    NULLS carries the latest touch forward without a self-join; the
    7-day check is integer epoch-µs arithmetic. ONE user Exchange,
    then a ≤3-row channel rollup with int64-cents money (SURVEY
    §5.4). At 100 TB this beats the join formulation: no second scan
    of events and no touch-table shuffle — state per user is one
    (type, ts) pair in the window."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts", "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin("click", "view")
    us = F.unix_micros("ts")
    ordered = ev.select(
        "event_type",
        "value",
        us.alias("us"),
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("touch_type"),
        F.last(F.when(is_touch, us), ignorenulls=True).over(w).alias("touch_us"),
    )
    channel = F.when(
        F.col("touch_type").isNotNull()
        & (F.col("us") - F.col("touch_us") <= 604_800_000_000),
        F.col("touch_type"),
    ).otherwise(F.lit("organic"))
    return (
        ordered.filter(F.col("event_type") == "purchase")
        .groupBy(channel.alias("channel"))
        .agg(
            F.count("*").cast("long").alias("n_purchases"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("value_cents"),
        )
    )


@register(
    "timeseries_time_weighted_avg",
    oracle="""
    WITH ordered AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS cents,
             epoch_us(ts) AS us,
             lead(epoch_us(ts)) OVER (PARTITION BY event_type
                                      ORDER BY ts, event_id) AS next_us
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_intervals,
           CAST(sum(next_us - us) AS BIGINT) AS span_us,
           round(CAST(sum(cents * (next_us - us)) AS DOUBLE)
                 / sum(next_us - us) / 100, 6) AS twa
    FROM ordered WHERE next_us IS NOT NULL
    GROUP BY event_type
    """,
)
def timeseries_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per series (TimescaleDB `time_weight`,
    the LOCF/step-function form): each observation holds until the
    next one, so the average weights every value by how long it was
    current — the correct mean for irregularly-sampled gauges, where
    the naive row mean over-weights busy periods.

    ONE series Exchange: lead() pins each observation's holding
    interval (the final open-ended observation drops, the standard
    LOCF convention), then the weighted mean folds in a hash agg.
    Exactness: cents·µs products and both sums are int64 end-to-end
    (≈2¹⁴·2⁴⁰ per term — orders of magnitude inside the int64 range,
    and int64→double conversion is a SINGLE correctly-rounded step in
    both engines, unlike the 128-bit types feature_standardize had to
    dodge); the TWA is one fixed two-division chain rounded once
    (SURVEY §5.4)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.unix_micros("ts").alias("us"),
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    ordered = ev.withColumn("next_us", F.lead("us").over(w)).filter(
        F.col("next_us").isNotNull()
    )
    dur = F.col("next_us") - F.col("us")
    return ordered.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_intervals"),
        F.sum(dur).cast("long").alias("span_us"),
        F.round(
            F.sum(F.col("cents") * dur).cast("double")
            / F.sum(dur)
            / 100,
            6,
        ).alias("twa"),
    )


_LTOB_BUCKETS = 24


@register(
    "timeseries_downsample_ltob",
    oracle=f"""
    WITH pts AS (
      SELECT event_type, event_id,
             epoch_us(ts) AS x,
             CAST(round(value * 100) AS BIGINT) AS y,
             CAST(ntile({_LTOB_BUCKETS}) OVER (PARTITION BY event_type
                  ORDER BY ts, event_id) AS BIGINT) AS bucket
      FROM events WHERE event_id % 9 = 0
    ), tri AS (
      SELECT *,
             lag(x)  OVER w AS px, lag(y)  OVER w AS py,
             lead(x) OVER w AS nx, lead(y) OVER w AS ny
      FROM pts
      WINDOW w AS (PARTITION BY event_type ORDER BY x, event_id)
    ), area AS (
      SELECT event_type, event_id, bucket, x, y,
             abs((px - nx) * (y - py) - (px - x) * (ny - py)) AS a2
      FROM tri WHERE px IS NOT NULL AND nx IS NOT NULL
    )
    SELECT event_type, bucket, event_id,
           CAST(x AS BIGINT) AS x_us, y AS y_cents,
           CAST(a2 AS BIGINT) AS area2
    FROM (
      SELECT *, row_number() OVER (PARTITION BY event_type, bucket
                                   ORDER BY a2 DESC, event_id) AS rn
      FROM area) WHERE rn = 1
    """,
)
def timeseries_downsample_ltob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle-One-Bucket downsampling (Steinarsson 2013 —
    the parallelizable sibling of dashboards' LTTB): to plot a
    million-point series with 24 pixels of budget, keep per bucket
    the point whose triangle with its immediate neighbours has the
    largest area — the point whose removal would deform the line
    most. Unlike LTTB's sequential anchor chain, every bucket decides
    independently, which is exactly what makes this the distributed
    variant.

    Shape: one series Exchange shared by the ntile bucketing, the
    neighbour lag/leads, and the per-bucket argmax (map-side
    WindowGroupLimit — O(buckets) rows out per series). Determinism:
    x in integer µs, y in int cents, the doubled triangle area
    |(pₓ−nₓ)(y−p_y) − (pₓ−x)(n_y−p_y)| is INTEGER-exact (cross
    product of int64 coordinates; magnitudes ≲2⁴⁰·2¹⁴ ≪2⁶³) — the
    argmax ranks on the exact integer with the event-id tiebreak, and
    the area EMITS as int64 too: round(x, 6) on a ~10¹⁴ double is
    lossy in DuckDB (multiply-by-10⁶ overflow of the exact range,
    caught live by the strict sweep), so nothing here ever becomes a
    float. Series edges (first/last
    point, no neighbour) drop — the plot keeps its endpoints via the
    bucket boundaries in practice."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 9 == 0)
        .select(
            "event_type",
            "event_id",
            F.unix_micros("ts").alias("x"),
            F.round(F.col("value") * 100).cast("long").alias("y"),
            "ts",
        )
    )
    w_ord = Window.partitionBy("event_type").orderBy("ts", "event_id")
    pts = ev.withColumn(
        "bucket", F.ntile(_LTOB_BUCKETS).over(w_ord).cast("long")
    )
    w_xy = Window.partitionBy("event_type").orderBy("x", "event_id")
    tri = (
        pts.withColumn("px", F.lag("x").over(w_xy))
        .withColumn("py", F.lag("y").over(w_xy))
        .withColumn("nx", F.lead("x").over(w_xy))
        .withColumn("ny", F.lead("y").over(w_xy))
        .filter(F.col("px").isNotNull() & F.col("nx").isNotNull())
    )
    a2 = F.abs(
        (F.col("px") - F.col("nx")) * (F.col("y") - F.col("py"))
        - (F.col("px") - F.col("x")) * (F.col("ny") - F.col("py"))
    )
    area = tri.withColumn("a2", a2)
    rn = F.row_number().over(
        Window.partitionBy("event_type", "bucket").orderBy(
            F.col("a2").desc(), "event_id"
        )
    )
    return (
        area.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            "bucket",
            "event_id",
            F.col("x").cast("long").alias("x_us"),
            F.col("y").alias("y_cents"),
            F.col("a2").cast("long").alias("area2"),
        )
    )


@register(
    "agg_hdr_histogram",
    oracle="""
    WITH v AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ), b AS (
      SELECT event_type,
             CAST(length(bin(cents)) AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS n
      FROM v GROUP BY 1, 2
    ), c AS (
      SELECT event_type, bucket, n,
             CAST(sum(n) OVER (PARTITION BY event_type ORDER BY bucket)
                  AS BIGINT) AS cum_n,
             CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS total
      FROM b
    )
    SELECT event_type, bucket,
           CAST(2 ** (bucket - 1) AS BIGINT) AS lo_cents,
           CAST(2 ** bucket - 1 AS BIGINT) AS hi_cents,
           n, cum_n,
           (cum_n * 100 >= 50 * total AND (cum_n - n) * 100 < 50 * total)
             AS is_p50,
           (cum_n * 100 >= 95 * total AND (cum_n - n) * 100 < 95 * total)
             AS is_p95,
           (cum_n * 100 >= 99 * total AND (cum_n - n) * 100 < 99 * total)
             AS is_p99
    FROM c
    """,
)
def agg_hdr_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDR (high-dynamic-range) histogram — the log2-bucketed latency/
    value histogram every telemetry pipeline keeps (HdrHistogram /
    Prometheus-style exponential buckets): constant relative error per
    bucket, O(log range) buckets total, and percentile readout
    straight from the cumulative counts. Emits one row per
    (event_type, bucket) with the bucket's [lo, hi] cent bounds and
    boolean markers for the buckets containing p50/p95/p99 (the
    "first bucket where cum ≥ q·total" rule, all in integer
    cross-multiplication — ZERO floats anywhere in this plan, so
    engine parity is structural).

    The bucket index is length(bin(cents)) = ⌊log2 cents⌋ + 1 —
    integer bit-length, never floor(log2(x)) on a double (which is off
    by one at exact powers of two in whichever engine rounds ln()
    down). Scale: one (event_type, bucket) hash aggregate with
    map-side combine — the sketch IS mergeable by construction (bucket
    counts add), which is why HdrHistogram is the rollup format of
    choice; the windows run over ≤64 buckets per group, forever."""
    v = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    b = (
        v.select(
            "event_type",
            F.length(F.bin("cents")).cast("long").alias("bucket"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.count("*").cast("long").alias("n"))
    )
    w_cum = Window.partitionBy("event_type").orderBy("bucket")
    w_all = Window.partitionBy("event_type")
    c = b.select(
        "event_type",
        "bucket",
        "n",
        F.sum("n").over(w_cum).cast("long").alias("cum_n"),
        F.sum("n").over(w_all).cast("long").alias("total"),
    )
    cum, n, tot = F.col("cum_n"), F.col("n"), F.col("total")

    def marks(q: int):
        return (cum * 100 >= q * tot) & ((cum - n) * 100 < q * tot)

    return c.select(
        "event_type",
        "bucket",
        F.expr("CAST(shiftleft(1L, CAST(bucket - 1 AS INT)) AS BIGINT)")
        .alias("lo_cents"),
        F.expr("CAST(shiftleft(1L, CAST(bucket AS INT)) - 1 AS BIGINT)")
        .alias("hi_cents"),
        "n",
        "cum_n",
        marks(50).alias("is_p50"),
        marks(95).alias("is_p95"),
        marks(99).alias("is_p99"),
    )


@register(
    "win_rolling_corr",
    oracle="""
    WITH base AS (
      SELECT l_returnflag,
             l_shipdate, l_orderkey, l_linenumber,
             CAST(round(l_extendedprice) AS BIGINT) AS x,
             CAST(l_quantity AS BIGINT) AS y
      FROM lineitem WHERE l_orderkey % 7 = 0
    ), rolled AS (
      SELECT l_returnflag, l_shipdate, l_orderkey, l_linenumber,
             count(*) OVER w AS n,
             CAST(sum(x) OVER w AS BIGINT) AS sx,
             CAST(sum(y) OVER w AS BIGINT) AS sy,
             CAST(sum(x * x) OVER w AS BIGINT) AS sxx,
             CAST(sum(y * y) OVER w AS BIGINT) AS syy,
             CAST(sum(x * y) OVER w AS BIGINT) AS sxy
      FROM base
      WINDOW w AS (PARTITION BY l_returnflag
                   ORDER BY l_shipdate, l_orderkey, l_linenumber, x, y
                   ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
    )
    SELECT l_returnflag, l_orderkey, l_linenumber,
           CAST(trunc((CAST(24 * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(24 * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(24 * syy - sy * sy AS DOUBLE))))
                * CAST(1000000 AS DOUBLE)) AS BIGINT)
             AS corr24_micro
    FROM rolled
    WHERE n = 24 AND 24 * sxx - sx * sx > 0 AND 24 * syy - sy * sy > 0
    """,
)
def win_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 24-row Pearson correlation between price and quantity
    per returnflag — the windowed co-movement statistic of drift
    monitoring and quant pipelines (is the price/volume relationship
    changing?). All five moments (Σx, Σy, Σx², Σy², Σxy) come from
    ONE shared ROWS-framed window over dollar-quantized int64 values,
    so every intermediate is an EXACT integer (24·Σx² − (Σx)² ≤ ~6e12
    ≪ 2⁵³); the correlation is one fixed parenthesization — integer
    numerator, two correctly-rounded sqrts, one division — emitted as
    TRUNCATED int64 micro-units rather than round(x, 6): at 33 k
    output rows a decimal-round boundary WAS hit live (−0.0961025
    rounded apart by Spark's exact-BigDecimal HALF_UP vs DuckDB's
    scaled-double rounding), while trunc-toward-zero of the identical
    IEEE double is boundary-free in both engines. Zero-variance
    windows are excluded by an INTEGER predicate (no NaN crosses
    engines), warm-up rows by the exact n = 24 count.
    The window order is (shipdate, orderkey, linenumber, x, y):
    the FIXTURE's (orderkey, linenumber) is NOT unique (118 k
    duplicate pairs at sf0.1 — the §5.4 tie hazard, caught live when
    engine-arbitrary tie order scrambled whole 24-row frames), and
    appending the value columns makes any remaining ties bit-identical
    rows, whose relative order cannot change any frame's multiset.

    Scale: one partition-keyed Exchange + sort shared by all five
    window sums (Spark collapses same-spec windows into one
    WindowExec); O(1) state per row, O(input) everything."""
    base = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 7 == 0)
        .select(
            "l_returnflag",
            "l_shipdate",
            "l_orderkey",
            "l_linenumber",
            F.expr("CAST(round(l_extendedprice) AS BIGINT)").alias("x"),
            F.col("l_quantity").cast("long").alias("y"),
        )
    )
    w = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "x", "y")
        .rowsBetween(-23, 0)
    )
    rolled = base.select(
        "l_returnflag",
        "l_orderkey",
        "l_linenumber",
        F.count("*").over(w).alias("n"),
        F.sum("x").over(w).cast("long").alias("sx"),
        F.sum("y").over(w).cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).over(w).cast("long").alias("sxy"),
    )
    vx = F.lit(24) * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.lit(24) * F.col("syy") - F.col("sy") * F.col("sy")
    num = (F.lit(24) * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    corr = num / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double")))
    return (
        rolled.filter((F.col("n") == 24) & (vx > 0) & (vy > 0))
        .select(
            "l_returnflag",
            "l_orderkey",
            "l_linenumber",
            # double→long cast truncates toward zero, exactly DuckDB's
            # trunc(); the ×1e6 product is the same IEEE double in both
            (corr * F.lit(1000000).cast("double"))
            .cast("long")
            .alias("corr24_micro"),
        )
    )


# --- lag-1 autocorrelation per event stream ----------------------------------


@register(
    "timeseries_autocorr",
    oracle="""
    WITH base AS (
      SELECT event_type, ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ), lagged AS (
      SELECT event_type, cents AS x,
             lag(cents) OVER (PARTITION BY event_type
                              ORDER BY ts, event_id) AS y
      FROM base
    ), mom AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM lagged WHERE y IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, n,
           CAST(trunc(
             ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))
             * CAST(1000000 AS DOUBLE)) AS BIGINT) AS acf1_micro
    FROM mom
    WHERE n >= 2
      AND CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
      AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
    """,
)
def timeseries_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of the event value per stream — the
    first number any drift monitor / forecasting pipeline reads off a
    metric series (ACF(1) ≈ 0 means white noise, near 1 means a
    random-walk-like level that naive per-day aggregates will alias).

    Pearson over consecutive (xₜ, xₜ₋₁) pairs from a lag window
    PARTITIONED by stream and ordered by the fixture-unique
    (ts, event_id): values are cents-quantized int64 FIRST, the five
    moments are exact int64 sums, and the correlation is the
    eval_spearman_rho double formula (moments multiplied in DOUBLE,
    one fixed parenthesization, two correctly-rounded sqrts, one
    division) emitted as TRUNCATED micro-units. Degenerate streams
    (n < 2 or zero variance) excluded by the same predicates in both
    engines.

    Scale: one stream-keyed Exchange+sort shared by the lag window,
    O(1) window state, map-side-combined moment agg, O(streams)
    output."""
    base = load_table(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    lagged = base.select(
        "event_type",
        F.col("cents").alias("x"),
        F.lag("cents").over(w).alias("y"),
    ).filter(F.col("y").isNotNull())
    mom = lagged.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    vx = d("n") * d("sxx") - d("sx") * d("sx")
    vy = d("n") * d("syy") - d("sy") * d("sy")
    num = d("n") * d("sxy") - d("sx") * d("sy")
    return (
        mom.filter((F.col("n") >= 2) & (vx > 0) & (vy > 0))
        .select(
            "event_type",
            "n",
            (num / (F.sqrt(vx) * F.sqrt(vy)) * F.lit(1000000).cast("double"))
            .cast("long")
            .alias("acf1_micro"),
        )
    )


# --- higher central moments: skewness and excess kurtosis --------------------


@register(
    "agg_skew_kurtosis",
    oracle="""
    WITH mom AS (
      SELECT l_returnflag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
             CAST(sum(CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s2,
             CAST(sum(CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s3,
             CAST(sum(CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s4
      FROM lineitem GROUP BY l_returnflag
    ), d AS (
      SELECT l_returnflag, n,
             CAST(n AS DOUBLE) AS nd, CAST(s1 AS DOUBLE) AS s1d,
             CAST(s2 AS DOUBLE) AS s2d, CAST(s3 AS DOUBLE) AS s3d,
             CAST(s4 AS DOUBLE) AS s4d
      FROM mom
    ), f AS (
      SELECT l_returnflag, n,
             nd * s2d - s1d * s1d AS a,
             nd * nd * s3d - 3.0 * nd * s1d * s2d
               + 2.0 * s1d * s1d * s1d AS b,
             nd * nd * nd * s4d - 4.0 * nd * nd * s1d * s3d
               + 6.0 * nd * s1d * s1d * s2d
               - 3.0 * s1d * s1d * s1d * s1d AS c
      FROM d
    )
    SELECT l_returnflag, n,
           CAST(trunc((b / (a * sqrt(a))) * CAST(1000000 AS DOUBLE))
                AS BIGINT) AS skew_micro,
           CAST(trunc((c / (a * a) - 3.0) * CAST(1000000 AS DOUBLE))
                AS BIGINT) AS kurt_micro
    FROM f WHERE a > 0
    """,
)
def agg_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness g₁ = m₃/m₂^1.5 and EXCESS kurtosis
    g₂ = m₄/m₂² − 3 per group — the distribution-shape moments that
    decide histogram bucketing and outlier policy (Spark's built-in
    skewness()/kurtosis() float-sum across partitions in
    nondeterministic order, so they can never hash-match an oracle).

    The n-power normalization cancels every inner division:
    A = n·Σx² − (Σx)² = n²·m₂,  B = n²·Σx³ − 3n·Σx·Σx² + 2(Σx)³
    = n³·m₃,  C = n³·Σx⁴ − 4n²·Σx·Σx³ + 6n(Σx)²·Σx² − 3(Σx)⁴ = n⁴·m₄,
    giving g₁ = B/A^1.5 and g₂ = C/A² − 3 directly. The four power
    sums are EXACT int64 (quantity ≤ 50 ⇒ Σx⁴ ≤ 6.25e6·n, safe past
    sf100); A/B/C are then formed in DOUBLE (the (Σx)³/(Σx)⁴ terms
    overflow int64) with ONE shared parenthesization in both engines —
    all ops IEEE-exact-rounded (+,−,×,/ and sqrt; A^1.5 deliberately
    a·sqrt(a), never pow) — and the outputs are TRUNCATED micro-units.
    Zero-variance groups excluded by the same double predicate.

    Scale: ONE map-side-combined aggregate, O(groups) output, no
    second pass (the naive centered-moment algorithm needs mean
    first)."""
    q = F.col("l_quantity").cast("long")
    mom = load_table(spark, sf_dir, "lineitem").groupBy("l_returnflag").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(q).cast("long").alias("s1"),
        F.sum(q * q).cast("long").alias("s2"),
        F.sum(q * q * q).cast("long").alias("s3"),
        F.sum(q * q * q * q).cast("long").alias("s4"),
    )
    nd, s1d = F.col("n").cast("double"), F.col("s1").cast("double")
    s2d, s3d = F.col("s2").cast("double"), F.col("s3").cast("double")
    s4d = F.col("s4").cast("double")
    a = nd * s2d - s1d * s1d
    b = nd * nd * s3d - F.lit(3.0) * nd * s1d * s2d + F.lit(2.0) * s1d * s1d * s1d
    c = (
        nd * nd * nd * s4d
        - F.lit(4.0) * nd * nd * s1d * s3d
        + F.lit(6.0) * nd * s1d * s1d * s2d
        - F.lit(3.0) * s1d * s1d * s1d * s1d
    )
    return mom.filter(a > 0).select(
        "l_returnflag",
        "n",
        (b / (a * F.sqrt(a)) * F.lit(1000000).cast("double"))
        .cast("long")
        .alias("skew_micro"),
        ((c / (a * a) - F.lit(3.0)) * F.lit(1000000).cast("double"))
        .cast("long")
        .alias("kurt_micro"),
    )


# --- Bollinger-band breakout detection ----------------------------------------

_BOLL_W = 20  # rolling window length (rows)
_BOLL_K = 2  # band half-width in standard deviations


@register(
    "timeseries_bollinger_breakout",
    oracle=f"""
    WITH x AS (
      SELECT event_type, event_id, ts,
             CAST(round(value * 1000) AS BIGINT) AS m
      FROM events
    ), w AS (
      SELECT event_type, event_id, m,
             CAST(count(*) OVER win AS BIGINT) AS n,
             CAST(sum(m) OVER win AS BIGINT) AS s,
             CAST(sum(m * m) OVER win AS BIGINT) AS ssq
      FROM x
      WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN {_BOLL_W - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, event_id, m,
           (n * m - s) * (n * m - s)
             > {_BOLL_K * _BOLL_K} * (n * ssq - s * s) AS breakout
    FROM w WHERE n = {_BOLL_W}
    """,
)
def timeseries_bollinger_breakout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger-band breakout flags (Bollinger 1992): is the current
    value more than k rolling standard deviations from the rolling
    mean of the trailing W observations — the classic volatility-
    normalized alerting primitive for metric series.

    The sqrt never happens: |x − μ| > kσ  ⟺  (x − μ)² > k²σ², and
    with μ = s/n, σ² = (n·ssq − s²)/n² both sides scale by n² to the
    ALL-INTEGER test (n·m − s)² > k²·(n·ssq − s²) over exact int64
    milli-units — zero floats, zero rounding, so the boolean can never
    sit on an ulp boundary (the failure mode every float-threshold op
    in this repo designs away). Fixture bound: |m| ≤ 5·10⁵ milli ⇒
    every term ≤ ~10¹⁴, safely int64 (re-quantize coarser past ~10⁹
    milli-unit values).

    Scale: ONE window pass per series — hash-partition by series key,
    sort by (ts, event_id) (unique tiebreak = total order), three
    running sums over a W-row frame; no shuffle beyond the one
    partitioning every window op shares."""
    ev = load_table(spark, sf_dir, "events")
    x = ev.select(
        "event_type",
        "event_id",
        "ts",
        F.round(F.col("value") * 1_000).cast("long").alias("m"),
    )
    win = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_BOLL_W - 1), 0)
    )
    w = x.select(
        "event_type",
        "event_id",
        "m",
        F.count("*").over(win).cast("long").alias("n"),
        F.sum("m").over(win).cast("long").alias("s"),
        F.sum(F.col("m") * F.col("m")).over(win).cast("long").alias("ssq"),
    ).filter(F.col("n") == _BOLL_W)
    dev = F.col("n") * F.col("m") - F.col("s")
    var_n2 = F.col("n") * F.col("ssq") - F.col("s") * F.col("s")
    return w.select(
        "event_type",
        "event_id",
        "m",
        (dev * dev > F.lit(_BOLL_K * _BOLL_K) * var_n2).alias("breakout"),
    )


# --- seasonal-strength scalar (STL diagnostics) --------------------------------


@register(
    "timeseries_stl_strength",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS bucket,
             CAST(sum(CAST(round(value * 10) AS BIGINT)) AS BIGINT) AS deci
      FROM events GROUP BY 1
    ), trend AS (
      SELECT bucket, deci,
             CAST(sum(deci) OVER w AS BIGINT) AS win_deci,
             CAST(count(*) OVER w AS BIGINT) AS win_n
      FROM hourly
      WINDOW w AS (ORDER BY bucket ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
    ), detrended AS (
      SELECT CAST(extract(hour FROM bucket) AS BIGINT) AS hod,
             deci - win_deci // win_n AS r0
      FROM trend
    ), per_hod AS (
      SELECT hod, CAST(count(*) AS BIGINT) AS sn,
             CAST(sum(r0) AS BIGINT) AS ssum,
             CAST(sum(r0 * r0) AS BIGINT) AS ssq
      FROM detrended GROUP BY 1
    ), agg AS (
      SELECT CAST(sum(sn) AS BIGINT) AS n,
             CAST(sum(ssum) AS BIGINT) AS s,
             CAST(sum(ssq) AS BIGINT) AS ssq_t,
             CAST(sum((sn * ssq - ssum * ssum) // sn) AS BIGINT) AS ssr
      FROM per_hod
    )
    SELECT n, (n * ssq_t - s * s) // n AS ssd, ssr,
           CAST(trunc(
             (CAST(greatest(0, (n * ssq_t - s * s) // n - ssr) AS DOUBLE)
              * CAST(1000000 AS DOUBLE))
             / CAST((n * ssq_t - s * s) // n AS DOUBLE)) AS BIGINT)
             AS strength_micro
    FROM agg WHERE (n * ssq_t - s * s) // n > 0
    """,
)
def timeseries_stl_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-strength diagnostic F_s = max(0, 1 − Var(remainder) /
    Var(detrended)) (Wang, Smith & Hyndman 2006; the STL-features
    readout forecasting pipelines gate model choice on): how much of
    the detrended variance the hour-of-day profile explains.

    The whole statistic is the one-way ANOVA identity over the SAME
    integer detrended series timeseries_seasonal_decompose builds
    (cents − floor-div MA): SSD = Σ(r₀−μ)², SSR = Σ_h Σ(r₀−μ_h)²,
    strength = (SSD−SSR)/SSD. Both sums stay INTEGER via per-group
    floor division — r_h = (sn·ssq_h − ssum_h²) DIV sn (≥ 0 by
    Cauchy-Schwarz, so floor == trunc across engines) — summed
    exactly. The series is quantized at DECI-units (×10, one decade
    coarser than the cents idiom) so n·Σr₀² clears int64 through the
    sf1.0 spot-bench (the cents variant overflowed EXACTLY there —
    caught by the sf1.0 scaling study, in git history; next decade ~10⁸
    deci-units/bucket, coarsen again). The emitted ratio is the
    fixed-parenthesization (num·10⁶)/ssd over BIGINT→DOUBLE casts
    (single IEEE conversions — exact-equal across engines, unlike
    DuckDB's two-half HUGEINT cast) TRUNCATED, because num·10⁶ as an
    integer re-overflows at the very scale the deci fix buys.

    Scale: identical cascade to seasonal_decompose — the fact table
    collapses to |hours| int rows before any window, then two skinny
    rollups (24-row + 1-row) and a broadcast combine; 1-row output."""
    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("bucket"))
        .agg(F.sum(F.round(F.col("value") * 10).cast("long")).alias("deci"))
    )
    w = Window.orderBy("bucket").rowsBetween(-12, 12)
    trend = hourly.select(
        "bucket",
        "deci",
        F.sum("deci").over(w).alias("win_deci"),
        F.count("*").over(w).alias("win_n"),
    )
    detrended = trend.select(
        F.hour("bucket").cast("long").alias("hod"),
        (F.col("deci") - F.expr("win_deci div win_n")).alias("r0"),
    )
    per_hod = detrended.groupBy("hod").agg(
        F.count("*").cast("long").alias("sn"),
        F.sum("r0").cast("long").alias("ssum"),
        F.sum(F.col("r0") * F.col("r0")).cast("long").alias("ssq"),
    )
    agg = per_hod.agg(
        F.sum("sn").cast("long").alias("n"),
        F.sum("ssum").cast("long").alias("s"),
        F.sum("ssq").cast("long").alias("ssq_t"),
        F.sum(
            F.expr("(sn * ssq - ssum * ssum) div sn")
        ).cast("long").alias("ssr"),
    )
    ssd = F.expr("(n * ssq_t - s * s) div n")
    # ssd = 0 (zero detrended variance) would be 0/0: integer-predicate
    # guard stated identically in both engines (ADVICE r9)
    return agg.filter(ssd > 0).select(
        "n",
        ssd.alias("ssd"),
        "ssr",
        F.expr(
            "CAST((CAST(greatest(0, (n * ssq_t - s * s) div n - ssr)"
            " AS DOUBLE) * CAST(1000000 AS DOUBLE))"
            " / CAST((n * ssq_t - s * s) div n AS DOUBLE) AS BIGINT)"
        ).alias("strength_micro"),
    )


def _hourly_deci(spark: SparkSession, sf_dir: str, *keys: str) -> DataFrame:
    """(``keys``, t, y): events summed per ``keys`` and epoch hour t,
    the value in exact int64 deci-units."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy(
            *keys,
            F.expr(
                "unix_micros(date_trunc('hour', ts)) div 3600000000"
            ).alias("t"),
        )
        .agg(F.sum(F.round(F.col("value") * 10).cast("long")).alias("y"))
    )


# --- Theil–Sen robust trend ------------------------------------------------------

_TSEN_K = 64  # trailing buckets in the estimation frame


@register(
    "timeseries_theil_sen",
    oracle=f"""
    WITH hourly AS (
      SELECT CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS t,
             CAST(sum(CAST(round(value * 10) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1
    ), lastk AS (
      SELECT t, y FROM hourly ORDER BY t DESC LIMIT {_TSEN_K}
    ), pairs AS (
      SELECT (b.y - a.y) / CAST(b.t - a.t AS DOUBLE) AS slope
      FROM lastk a JOIN lastk b ON b.t > a.t
    )
    SELECT CAST((SELECT count(*) FROM lastk) AS BIGINT) AS n_points,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(trunc(quantile_cont(slope, 0.5)
                      * CAST(1000000 AS DOUBLE)) AS BIGINT)
             AS slope_p50_micro
    FROM pairs
    """,
)
def timeseries_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen trend estimator — the MEDIAN of all pairwise slopes
    over the trailing K hourly buckets: the robust replacement for OLS
    trend (a 29% outlier fraction cannot move it; Sen 1968), the
    right slope for alerting on noisy ops metrics.

    The O(K²) pair frame is BOUNDED BY CONSTRUCTION: a TakeOrdered
    last-K on the hour-collapsed series (K=64 ⇒ ≤2,016 pairs forever,
    never data-volume) — the eval_kendall_tau whitelist argument, and
    the same reason the all-pairs join is a bounded broadcast NLJ,
    not a scale hazard. Slopes are exact-int differences divided once
    in DOUBLE (identical IEEE op both engines); the median is R-7
    interpolation over identical double multisets, emitted as
    TRUNCATED int64 micro-units (×10⁶) — round(x, 6) sat exactly on
    the HALF_UP-vs-scaled-double decimal boundary class win_rolling_corr
    hit live at 33k rows (ADVICE r9), trunc is boundary-free.

    Scale: the fact table collapses to |hours| rows in ONE map-side
    agg before anything else; everything after is O(K²) = O(1)."""
    hourly = _hourly_deci(spark, sf_dir)
    lastk = hourly.orderBy(F.col("t").desc()).limit(_TSEN_K)
    a = lastk.select(F.col("t").alias("ta"), F.col("y").alias("ya"))
    b = lastk.select(F.col("t").alias("tb"), F.col("y").alias("yb"))
    pairs = a.join(b, F.col("tb") > F.col("ta")).select(
        ((F.col("yb") - F.col("ya")) / (F.col("tb") - F.col("ta")).cast("double"))
        .alias("slope")
    )
    n_points = lastk.agg(F.count("*").cast("long").alias("n_points"))
    s = pairs.agg(
        F.count("*").cast("long").alias("n_pairs"),
        (F.percentile("slope", 0.5) * F.lit(1_000_000).cast("double"))
        .cast("long")
        .alias("slope_p50_micro"),
    )
    return attach_scalar_frame(n_points, "n_points", s, "n_pairs")


@register(
    "timeseries_mann_kendall",
    oracle=f"""
    WITH hourly AS (
      SELECT CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS t,
             CAST(sum(CAST(round(value * 10) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1
    ), lastk AS (
      SELECT t, y FROM hourly ORDER BY t DESC LIMIT {_TSEN_K}
    ), s AS (
      SELECT CAST(sum(CASE WHEN b.y > a.y THEN 1
                           WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT)
               AS s_stat
      FROM lastk a JOIN lastk b ON b.t > a.t
    ), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lastk),
    ties AS (
      SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS tie_mass
      FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM lastk GROUP BY y)
      WHERE t > 1
    )
    SELECT n, s_stat,
           n * (n - 1) * (2 * n + 5) - tie_mass AS var18,
           CAST(trunc(
             (CAST(CASE WHEN s_stat > 0 THEN s_stat - 1
                        WHEN s_stat < 0 THEN s_stat + 1
                        ELSE 0 END AS DOUBLE)
              * CAST(1000000 AS DOUBLE))
             / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tie_mass AS DOUBLE)
                    / CAST(18 AS DOUBLE))) AS BIGINT) AS z_micro
    FROM s, nn, ties
    WHERE n * (n - 1) * (2 * n + 5) - tie_mass > 0
    """,
)
def timeseries_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall trend TEST over the same trailing-K hourly frame
    as timeseries_theil_sen — the estimator/test pair of
    non-parametric trend analysis (Mann 1945, Kendall 1975): S =
    Σ_{{i<j}} sign(y_j − y_i), Var(S) = (n(n−1)(2n+5) − Σt(t−1)(2t+5))/18
    with the tie correction, z the continuity-corrected normal score.

    S, n, and 18·Var(S) are EXACT integers (the sign sum and the tie
    mass are integer aggregates over the bounded pair frame /
    tie-group counts); z is ONE fixed parenthesization
    (S∓1)·10⁶ / √(var18/18) TRUNCATED (S's sign is data-dependent;
    both engines trunc toward zero). The O(K²) pair frame is the
    SAME TakeOrdered-bounded broadcast NLJ as theil_sen (≤ C(64,2) =
    2,016 pairs forever — census row).

    Scale: the fact table collapses to |hours| in one map-side agg;
    everything after is O(K²) = O(1)."""
    hourly = _hourly_deci(spark, sf_dir)
    lastk = hourly.orderBy(F.col("t").desc()).limit(_TSEN_K)
    a = lastk.select(F.col("t").alias("ta"), F.col("y").alias("ya"))
    b = lastk.select(F.col("t").alias("tb"), F.col("y").alias("yb"))
    s = (
        a.join(b, F.col("tb") > F.col("ta"))
        .agg(
            F.sum(
                F.when(F.col("yb") > F.col("ya"), 1)
                .when(F.col("yb") < F.col("ya"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s_stat")
        )
    )
    nn = lastk.agg(F.count("*").cast("long").alias("n"))
    ties = (
        lastk.groupBy("y")
        .agg(F.count("*").cast("long").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)),
                F.lit(0),
            )
            .cast("long")
            .alias("tie_mass")
        )
    )
    j = attach_scalar_frame(
        attach_scalar_frame(s, "s_stat", nn, "n"), "s_stat", ties, "tie_mass"
    )
    var18 = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tie_mass")
    )
    corrected = (
        F.when(F.col("s_stat") > 0, F.col("s_stat") - 1)
        .when(F.col("s_stat") < 0, F.col("s_stat") + 1)
        .otherwise(0)
        .cast("double")
    )
    # var18 = 0 (all K values tied) would be x/0: integer-predicate
    # guard stated identically in both engines (ADVICE r9)
    return j.filter(var18 > 0).select(
        "n",
        "s_stat",
        var18.cast("long").alias("var18"),
        (
            (corrected * F.lit(1_000_000).cast("double"))
            / F.sqrt(var18.cast("double") / F.lit(18).cast("double"))
        )
        .cast("long")
        .alias("z_micro"),
    )


@register(
    "eval_forecast_smape_naive",
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS t,
             CAST(sum(CAST(round(value * 10) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ), lagged AS (
      SELECT event_type, y,
             lag(y) OVER (PARTITION BY event_type ORDER BY t) AS f
      FROM hourly
    ), terms AS (
      SELECT event_type,
             2 * abs(y - f) * 1000000 // (abs(y) + abs(f)) AS term
      FROM lagged WHERE f IS NOT NULL AND abs(y) + abs(f) > 0
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(term) // count(*) AS BIGINT) AS smape_micro
    FROM terms GROUP BY event_type
    """,
)
def eval_forecast_smape_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sMAPE of the NAIVE last-value forecast per series — the
    forecast-skill BASELINE every model must beat (it is the
    denominator of MASE, Hyndman & Koehler 2006): f_t = y_{t−1},
    sMAPE = mean_t 2·|y_t − f_t| / (|y_t| + |f_t|). Any model op
    (holt_linear, ema_smooth) is judged against exactly this number.

    ALL INTEGER: the hourly series is exact int64 deci-units, each
    term is (2·|Δ|·10⁶) DIV (|y|+|f|) (non-negative ⇒ floor==trunc),
    and the mean is one more non-negative integer DIV — zero floats,
    the quantization being the metric definition (eval_ece /
    eval_chi_square discipline). Zero-denominator points (both
    values 0) are excluded, stated in the WHERE in both engines.

    Scale: one map-side hourly collapse, one lag window per series
    key, one agg; O(series) output."""
    hourly = _hourly_deci(spark, sf_dir, "event_type")
    w = Window.partitionBy("event_type").orderBy("t")
    lagged = hourly.select(
        "event_type", "y", F.lag("y").over(w).alias("f")
    ).filter(F.col("f").isNotNull() & (F.abs("y") + F.abs("f") > 0))
    terms = lagged.select(
        "event_type",
        F.expr(
            "2 * abs(y - f) * 1000000 DIV (abs(y) + abs(f))"
        ).alias("term"),
    )
    return terms.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.expr("CAST(sum(term) DIV count(*) AS BIGINT)").alias("smape_micro"),
    )


@register(
    "eval_forecast_mase_seasonal",
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS t,
             CAST(sum(CAST(round(value * 10) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ), lagged AS (
      SELECT event_type, y,
             lag(y, 1) OVER w AS f1,
             lag(y, 24) OVER w AS f24
      FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY t)
    ), s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(abs(y - f24)) AS BIGINT) AS mae24,
             CAST(sum(abs(y - f1)) AS BIGINT) AS mae1
      FROM lagged WHERE f24 IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, n,
           CAST(mae24 * 1000000 // mae1 AS BIGINT) AS mase_micro
    FROM s WHERE mae1 > 0
    """,
)
def eval_forecast_mase_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE of the SEASONAL-naive forecast (f_t = y_{t−24}) against
    the naive one-step baseline (f_t = y_{t−1}) per series — Hyndman
    & Koehler 2006's scale-free forecast-accuracy measure, answering
    the concrete capacity-planning question "does daily seasonality
    beat persistence on this metric?" (mase < 1: model the season;
    mase ≥ 1: yesterday-same-hour is WORSE than the last observation).

    ALL INTEGER: both forecasts are lagged copies of the exact int64
    deci-unit hourly series, both MAEs are absolute-difference sums
    over the SAME rows (the f24-non-null suffix, stated identically
    in both engines), and the ratio is ONE non-negative integer DIV.
    Zero floats anywhere.

    Scale: one map-side hourly collapse + ONE window pass per series
    producing both lags + one agg; O(series) output."""
    hourly = _hourly_deci(spark, sf_dir, "event_type")
    w = Window.partitionBy("event_type").orderBy("t")
    lagged = hourly.select(
        "event_type",
        "y",
        F.lag("y", 1).over(w).alias("f1"),
        F.lag("y", 24).over(w).alias("f24"),
    ).filter(F.col("f24").isNotNull())
    s = lagged.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.abs(F.col("y") - F.col("f24"))).cast("long").alias("mae24"),
        F.sum(F.abs(F.col("y") - F.col("f1"))).cast("long").alias("mae1"),
    )
    # mae1 = 0 (a constant series) would be 0/0: an integer-predicate
    # guard stated identically in both engines (ADVICE r9), the same
    # degenerate-denominator idiom as eval_kendall_tau's pair guard
    return s.filter(F.col("mae1") > 0).select(
        "event_type",
        "n",
        F.expr("CAST(mae24 * 1000000 DIV mae1 AS BIGINT)").alias("mase_micro"),
    )


@register(
    "timeseries_locf_fill",
    oracle="""
    WITH ev AS (
      SELECT event_type,
             CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS eh,
             CAST(round(value * 10) AS BIGINT) AS v
      FROM events WHERE event_id % 11 = 0
    ), obs AS (
      SELECT event_type, eh, CAST(sum(v) AS BIGINT) AS y
      FROM ev GROUP BY 1, 2
    ), bounds AS (
      SELECT event_type, min(eh) AS lo, max(eh) AS hi FROM obs GROUP BY 1
    ), spine AS (
      SELECT event_type, unnest(generate_series(lo, hi)) AS eh FROM bounds
    )
    SELECT sp.event_type, sp.eh,
           CAST(last_value(o.y IGNORE NULLS) OVER (
             PARTITION BY sp.event_type ORDER BY sp.eh
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS y_filled,
           o.y IS NOT NULL AS observed
    FROM spine sp LEFT JOIN obs o
      ON o.event_type = sp.event_type AND o.eh = sp.eh
    """,
)
def timeseries_locf_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF (last-observation-carried-forward) gap fill on the hourly
    spine — the STEP-fill sibling of timeseries_interpolate_linear
    (the right fill for state-like series: a price, a config value, a
    gauge stays at its last reading until the next one; interpolating
    those invents values that never existed). Emits the filled series
    plus the observed flag so downstream aggs can weight real vs
    carried points.

    ALL INTEGER: the observed series is exact deci-units; the fill is
    ONE backward IGNORE NULLS window wall over the generated spine —
    no arithmetic at all, so nothing to quantize. The first spine row
    per series is an observation by construction (the spine starts at
    min(eh)), so y_filled is never null.

    Scale: the fact collapses to |hours| per series before the spine
    join; one hash partition + sort per series key, one window pass —
    the timeseries_gapfill/interpolate plan shape."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 11 == 0)
        .select(
            "event_type",
            F.expr(
                "unix_micros(date_trunc('hour', ts)) div 3600000000"
            ).alias("eh"),
            F.round(F.col("value") * 10).cast("long").alias("v"),
        )
    )
    obs = ev.groupBy("event_type", "eh").agg(
        F.sum("v").cast("long").alias("y")
    )
    bounds = obs.groupBy("event_type").agg(
        F.min("eh").alias("lo"), F.max("eh").alias("hi")
    )
    spine = bounds.select(
        "event_type",
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("eh"),
    )
    joined = spine.join(obs, ["event_type", "eh"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("eh")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "event_type",
        "eh",
        F.last("y", ignorenulls=True).over(w).cast("long").alias("y_filled"),
        F.col("y").isNotNull().alias("observed"),
    )


# --- Prometheus-style counter rate (rollover-aware increase) ------------------

_COUNTER_MOD = 100_000  # simulated counter rollover (cents)


@register(
    "timeseries_counter_rate",
    oracle=f"""
    WITH c AS (
      SELECT user_id, ts, event_id,
             CAST(round(value * 100, 0) AS BIGINT) AS cents
      FROM events
    ), cum AS (
      SELECT user_id,
             sum(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) % {_COUNTER_MOD}
               AS gauge,
             ts, event_id
      FROM c
    ), d AS (
      SELECT user_id, gauge,
             gauge - lag(gauge) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS delta
      FROM cum
    )
    SELECT user_id % 8 AS bucket,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(CASE WHEN delta < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_resets,
           CAST(sum(CASE WHEN delta IS NULL THEN 0
                         WHEN delta < 0 THEN gauge
                         ELSE delta END) AS BIGINT) AS total_increase
    FROM d GROUP BY 1
    """,
)
def timeseries_counter_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monotone-counter rate recovery with reset detection — the
    Prometheus `increase()` semantics every metrics pipeline needs:
    a per-entity counter samples as a gauge that occasionally RESETS
    (process restart / register rollover); the true increase is the
    sum of positive deltas, counting a post-reset sample as its own
    delta (reset-to-zero assumption). The fixture counter is built
    in-query: the per-user running cents sum modulo 100k (so resets
    are deterministic and both engines derive the identical series).

    ALL INTEGER: cents, one running-sum window, one lag, CASE folds.
    Scale: two window passes over the SAME (user_id) partitioning —
    one sort-shuffle total (Spark reuses the exchange; the second
    Window is sort-only) then a map-side-combined 8-row agg."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = ev.select(
        "user_id",
        "ts",
        "event_id",
        (
            F.sum("cents").over(w.rowsBetween(Window.unboundedPreceding, 0))
            % _COUNTER_MOD
        ).alias("gauge"),
    )
    d = cum.select(
        "user_id",
        "gauge",
        (F.col("gauge") - F.lag("gauge").over(w)).alias("delta"),
    )
    return d.groupBy((F.col("user_id") % 8).alias("bucket")).agg(
        F.count("*").cast("long").alias("n_samples"),
        F.sum(F.when(F.col("delta") < 0, 1).otherwise(0))
        .cast("long")
        .alias("n_resets"),
        F.sum(
            F.when(F.col("delta").isNull(), 0)
            .when(F.col("delta") < 0, F.col("gauge"))
            .otherwise(F.col("delta"))
        )
        .cast("long")
        .alias("total_increase"),
    )


# --- Hampel outlier filter ------------------------------------------------------


@register(
    "timeseries_hampel_filter",
    oracle="""
    WITH x AS (
      SELECT event_type, event_id, ts,
             CAST(round(value * 100) AS BIGINT) AS m
      FROM events
    ), w AS (
      SELECT event_type, event_id, m,
             list_sort(list(m) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS lst
      FROM x
    ), med AS (
      SELECT event_type, event_id, m, lst[4] AS med,
             list_sort(list_transform(lst, v -> abs(v - lst[4])))[4] AS mad
      FROM w WHERE len(lst) = 7
    )
    SELECT event_type, event_id, m AS value_cents, med AS med_cents,
           mad AS mad_cents
    FROM med WHERE abs(m - med) * 10000 > 3 * 14826 * mad
    """,
)
def timeseries_hampel_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel identifier (Hampel 1974; Pearson et al. 2016) — the
    ROBUST outlier filter for metric series: flag x when
    |x − med₇(x)| > k·1.4826·MAD₇, the rolling-median/MAD analogue of
    the z-score whose breakdown point (50%) lets it catch spikes that
    contaminate the rolling mean/σ that anomaly_zscore and
    timeseries_bollinger_breakout lean on. Centered 7-row window,
    k = 3; edge rows (incomplete windows) are skipped, matching the
    centered-MA convention of seasonal_decompose.

    ALL INTEGER, division-free: values in cents, the window frame
    materialized once (collect_list over a BOUNDED ±3 frame),
    array_sort → lower-median at position 4 (exact middle of 7);
    MAD re-sorts the |x−med| transform of the SAME array. The flag is
    the pure-int comparison |x−med|·10⁴ > 3·14826·mad (1.4826 in
    fixed-point) — no sqrt, no division, no float anywhere, so the
    boolean cannot sit on an ulp boundary. MAD = 0 (≥4 equal values
    in the window) degenerates to "any deviation flags" — Hampel's
    documented flat-window behavior, identical in both engines.

    Scale: one window pass per series — hash-partition by series key,
    sort by (ts, event_id) (unique tiebreak = total order); the ±3
    frame caps per-row state at 7 values; same Exchange class as
    lag/lead. Output = flagged rows only."""
    x = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("m"),
    )
    frame = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, 3)
    )
    w = x.select(
        "event_type",
        "event_id",
        "m",
        F.array_sort(F.collect_list("m").over(frame)).alias("lst"),
    ).filter(F.size("lst") == 7)
    med = F.element_at(F.col("lst"), 4)
    m2 = w.select(
        "event_type", "event_id", "m", med.alias("med"), "lst"
    )
    mad = F.element_at(
        F.array_sort(
            F.transform(F.col("lst"), lambda v: F.abs(v - F.col("med")))
        ),
        4,
    )
    return (
        m2.select("event_type", "event_id", "m", "med", mad.alias("mad"))
        .filter(
            F.abs(F.col("m") - F.col("med")) * 10_000
            > 3 * 14_826 * F.col("mad")
        )
        .select(
            "event_type",
            "event_id",
            F.col("m").alias("value_cents"),
            F.col("med").alias("med_cents"),
            F.col("mad").alias("mad_cents"),
        )
    )


# --- market-basket association (support / confidence / lift) -----------------------


@register(
    "agg_basket_lift",
    oracle="""
    WITH b AS (
      SELECT DISTINCT CAST(l_orderkey AS BIGINT) AS o,
                      CAST(l_partkey AS BIGINT) AS p
      FROM lineitem
    ), n AS (
      SELECT CAST(count(DISTINCT o) AS BIGINT) AS n FROM b
    ), item AS (
      SELECT p, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY p
    ), pair AS (
      SELECT a.p AS p1, c.p AS p2, CAST(count(*) AS BIGINT) AS n_pair
      FROM b a JOIN b c ON a.o = c.o AND a.p < c.p
      GROUP BY a.p, c.p
    )
    SELECT p1, p2, n_pair,
           n_pair * 1000000 // n.n AS support_micro,
           n_pair * n.n * 1000000 // (i1.c * i2.c) AS lift_micro
    FROM pair
    JOIN item i1 ON p1 = i1.p
    JOIN item i2 ON p2 = i2.p
    CROSS JOIN n
    ORDER BY n_pair DESC, p1, p2 LIMIT 50
    """,
)
def agg_basket_lift(
    spark: SparkSession, sf_dir: str, basket_cap: int | None = None
) -> DataFrame:
    """Market-basket association mining (Agrawal & Srikant, VLDB'94's
    first pass): per co-purchased part pair, support = P(A∧B) and
    lift = P(A∧B)/(P(A)·P(B)) over order baskets — the recommender /
    assortment primitive ("parts bought together more often than
    independence predicts"). Top-50 pairs by joint frequency.

    ALL INTEGER: counts are exact int64; support_micro and lift_micro
    are single non-negative DIVs (trunc == floor, engine-identical).
    Int64 bound: n_pair·N·10⁶ needs n_pair·N < 9·10¹² (N = 1.5M
    orders at sf1.0 → n_pair < 6·10⁶ — any pair's count is ≤ N, so
    safe through sf1.0; past that emit milli). Deterministic LIMIT:
    (n_pair DESC, p1, p2) is a total order in both engines.

    Scale: the pair generation is the ONE self-equi-join on the
    basket key — fanout bounded by basket size² (≤C(17,2) = 136 pairs
    per order in this schema, a DATA property stated here, not a
    code assumption), so the pair stream is O(orders·k²), shuffled
    once on the basket key and once on the (p1,p2) agg key; the item
    and N frames are part- and 1-row-sized broadcasts. TakeOrdered
    replaces any global sort.

    basket_cap (default None = off, correct for TPC-H's ≤17-item
    baskets): a domain with UNBOUNDED baskets sets it to keep only
    each order's `basket_cap` globally-most-frequent parts before
    pairing (row_number over (corpus frequency DESC, p) within the
    order — deterministic: p is unique per order after the DISTINCT),
    restoring the O(orders·cap²) pair-stream bound. The item
    marginals and N stay on the UNCAPPED basket set — the cap prunes
    the pair stream, it does not redefine P(A) — so for every
    surviving pair key, n_pair / support / lift are each ≤ their
    uncapped value (monotone pruning; property-tested in
    tests/test_analytics.py)."""
    b = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").cast("long").alias("o"),
            F.col("l_partkey").cast("long").alias("p"),
        )
        .dropDuplicates()
    )
    n = b.agg(F.count_distinct("o").cast("long").alias("n"))
    item = b.groupBy("p").agg(F.count("*").cast("long").alias("c"))
    if basket_cap is not None:
        # Capped pair generation is SINGLE-PASS: the row_number window
        # bounds each order to `cap` parts (a streaming sort, never an
        # in-memory array of the raw basket), the groupBy(o) right after
        # it reuses the window's hash partitioning (no new exchange) and
        # collects a <=cap-element sorted array, and pairs expand IN-ROW
        # via nested transform — no self-join, so the cap chain runs
        # once. Measured at sf0.1: 8.3M shuffle records vs 12.5M for the
        # self-join form of the same semantics.
        kept = (
            b.join(item.select("p", F.col("c").alias("_pf")), "p")
            .withColumn(
                "_rk",
                F.row_number().over(
                    Window.partitionBy("o").orderBy(F.col("_pf").desc(), "p")
                ),
            )
            .filter(F.col("_rk") <= int(basket_cap))
            .groupBy("o")
            .agg(F.sort_array(F.collect_list("p")).alias("ps"))
        )
        pair = (
            kept.select(
                F.explode(
                    # ps is sorted ascending, so x < y holds by position
                    F.expr(
                        "flatten(transform(ps, (x, i) -> "
                        "transform(slice(ps, i + 2, size(ps) - i - 1), "
                        "y -> struct(x as p1, y as p2))))"
                    )
                ).alias("pr")
            )
            .select("pr.p1", "pr.p2")
            .groupBy("p1", "p2")
            .agg(F.count("*").cast("long").alias("n_pair"))
        )
    else:
        a = b.select(F.col("o"), F.col("p").alias("p1"))
        c = b.select(F.col("o"), F.col("p").alias("p2"))
        pair = (
            a.join(c, ["o"])
            .filter(F.col("p1") < F.col("p2"))
            .groupBy("p1", "p2")
            .agg(F.count("*").cast("long").alias("n_pair"))
        )
    j = (
        pair.join(
            F.broadcast(item.select(F.col("p").alias("p1"), F.col("c").alias("c1"))),
            "p1",
        )
        .join(
            F.broadcast(item.select(F.col("p").alias("p2"), F.col("c").alias("c2"))),
            "p2",
        )
    )
    j = attach_scalar_frame(j, "p1", n, "n")
    return (
        j.select(
            "p1",
            "p2",
            "n_pair",
            F.expr("n_pair * 1000000 div n").alias("support_micro"),
            F.expr("n_pair * n * 1000000 div (c1 * c2)").alias("lift_micro"),
        )
        .orderBy(F.col("n_pair").desc(), "p1", "p2")
        .limit(50)
    )


@register(
    "agg_basket_lift_capped",
    oracle="""
    WITH b0 AS (
      SELECT DISTINCT CAST(l_orderkey AS BIGINT) AS o,
                      CAST(l_partkey AS BIGINT) AS p
      FROM lineitem
    ), item AS (
      SELECT p, CAST(count(*) AS BIGINT) AS c FROM b0 GROUP BY p
    ), n AS (
      SELECT CAST(count(DISTINCT o) AS BIGINT) AS n FROM b0
    ), b AS (
      SELECT o, p FROM (
        SELECT b0.o, b0.p,
               row_number() OVER (
                 PARTITION BY b0.o ORDER BY item.c DESC, b0.p
               ) AS rk
        FROM b0 JOIN item USING (p)
      ) WHERE rk <= 3
    ), pair AS (
      SELECT a.p AS p1, c.p AS p2, CAST(count(*) AS BIGINT) AS n_pair
      FROM b a JOIN b c ON a.o = c.o AND a.p < c.p
      GROUP BY a.p, c.p
    )
    SELECT p1, p2, n_pair,
           n_pair * 1000000 // n.n AS support_micro,
           n_pair * n.n * 1000000 // (i1.c * i2.c) AS lift_micro
    FROM pair
    JOIN item i1 ON p1 = i1.p
    JOIN item i2 ON p2 = i2.p
    CROSS JOIN n
    ORDER BY n_pair DESC, p1, p2 LIMIT 50
    """,
)
def agg_basket_lift_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`agg_basket_lift` with the unbounded-basket guard ON
    (basket_cap=3): each order contributes only its 3 globally-most-
    frequent parts to the pair stream, bounding pair fanout at
    C(3,2)=3 per order no matter how the basket-size distribution
    degrades. Marginals P(A) and N stay uncapped, so every emitted
    statistic is ≤ its uncapped counterpart (monotone pruning — see
    the base docstring). Registered separately so the capped path has
    its own hash-checked oracle row."""
    return agg_basket_lift(spark, sf_dir, basket_cap=3)


# --- composed user-journey pipeline (VERDICT r10 item 8: multi-op fusion) -----


@register(
    "pipeline_user_journey",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, event_type, ts, epoch_us(ts) AS ts_us,
             lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      FROM events
    ), flagged AS (
      SELECT *,
             CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM ordered
    ), sess AS (
      SELECT *,
             sum(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS session_no
      FROM flagged
    ), per_session AS (
      SELECT user_id, session_no,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_purchases,
             (max(ts_us) - min(ts_us)) // 1000000 AS duration_s
      FROM sess GROUP BY user_id, session_no
    ), per_user AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_sessions,
             CAST(sum(n_events) AS BIGINT) AS total_events,
             CAST(sum(CASE WHEN n_purchases > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS purchase_sessions,
             CAST(sum(duration_s) AS BIGINT) AS total_duration_s
      FROM per_session GROUP BY user_id
    )
    SELECT n_sessions,
           CAST(purchase_sessions > 0 AS BIGINT) AS is_purchaser,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(total_events) AS BIGINT) AS sum_events,
           CAST(sum(total_duration_s) AS BIGINT) AS sum_duration_s
    FROM per_user
    GROUP BY n_sessions, purchase_sessions > 0
    """,
)
def pipeline_user_journey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSED user-journey pipeline — sessionize -> per-session
    stats -> per-user rollup -> journey distribution, fused into ONE
    Catalyst plan (VERDICT r10 item 8's composition row for the
    events table, companion to pipeline_corpus_curate).

    Stages and the existing operators they fuse:
      1. `sessionize_events` semantics verbatim: 30-min-gap session
         ids via lag + running sum over (user_id, ts, event_id);
      2. per-session aggregates (events, purchases, duration) —
         `funnel_conversion`'s stage-counting shape;
      3. per-user rollup (sessions, events, purchase sessions) —
         `retention_cohorts`' per-user first-pass shape;
      4. the journey distribution: users and volume per
         (n_sessions, did-they-ever-purchase) cell — a bounded frame
         (max sessions per user x 2).

    FUSION ECONOMICS (asserted in tests/test_analytics.py): stages
    1-3 are ALL keyed on user_id, so the fused plan carries exactly
    ONE hashpartitioning(user_id) exchange — the window's — and the
    two downstream groupBys ride it (HashPartitioning(user_id)
    satisfies ClusteredDistribution(user_id, session_no) and
    ClusteredDistribution(user_id)); run as separate materialized
    jobs the same chain pays that user_id shuffle three times. The
    only other exchange is the final distribution agg over the
    bounded journey-cell frame. All integer arithmetic (epoch
    microseconds), bit-exact against the oracle."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    flagged = _gap_flagged(ev, "user_id", "event_id", "event_type")
    # ts_us is a monotone bijection of ts, so this is the same order
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sess = flagged.withColumn("session_no", F.sum("is_new").over(w2))
    per_session = sess.groupBy("user_id", "session_no").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("n_purchases"),
        F.expr("(max(ts_us) - min(ts_us)) DIV 1000000").alias("duration_s"),
    )
    per_user = per_session.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.sum("n_events").cast("long").alias("total_events"),
        F.sum(F.when(F.col("n_purchases") > 0, 1).otherwise(0))
        .cast("long")
        .alias("purchase_sessions"),
        F.sum("duration_s").cast("long").alias("total_duration_s"),
    )
    return per_user.groupBy(
        "n_sessions",
        (F.col("purchase_sessions") > 0).cast("long").alias("is_purchaser"),
    ).agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("total_events").cast("long").alias("sum_events"),
        F.sum("total_duration_s").cast("long").alias("sum_duration_s"),
    )


# --- SAX symbolization (round 12) ---------------------------------------------


@register(
    "timeseries_sax_symbols",
    oracle="""
    WITH paa AS (
      SELECT event_type, date_trunc('hour', ts) AS hour_start,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS v_cents
      FROM events GROUP BY 1, 2
    ), stats AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(v_cents) AS BIGINT) AS s,
             CAST(sum(v_cents * v_cents) AS BIGINT) AS sq
      FROM paa GROUP BY 1
    ), z AS (
      SELECT p.event_type, p.hour_start, p.v_cents,
             CAST(p.v_cents * st.n - st.s AS DOUBLE)
               / sqrt(CAST(st.n * st.sq - st.s * st.s AS DOUBLE)) AS zv
      FROM paa p JOIN stats st ON p.event_type = st.event_type
      WHERE st.n * st.sq - st.s * st.s > 0
    )
    SELECT event_type, hour_start, v_cents,
           CASE WHEN zv < -0.6745 THEN 'a'
                WHEN zv < 0.0     THEN 'b'
                WHEN zv < 0.6745  THEN 'c'
                ELSE 'd' END AS symbol
    FROM z
    """,
)
def timeseries_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization (Lin, Keogh et al., DMKD'07): PAA the series
    into hourly int64-cents segments, z-normalize per series, and map
    each segment to a 4-letter alphabet at the standard-normal
    quartile breakpoints (±0.6745, 0) — the discretization behind
    motif discovery, ts-indexing, and "time series as text" pipelines
    (the symbols feed the SAME n-gram/dedup machinery this engine runs
    on documents).

    Determinism: the segment value is an exact int64 cents sum, and
    the z-score is (v·n − s)/sqrt(n·sq − s²) — integer-exact numerator,
    one correctly-rounded sqrt, ONE division (the image_normalize
    witness formula), so both engines classify identical doubles
    against literal breakpoints. Degenerate constant series (zero
    variance) drop rather than divide by zero. Plan: two
    wordcount-shape aggs (hourly PAA, per-series moments) + a
    broadcast stats join — one series-keyed shuffle, no window."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("hour", "ts").alias("hour_start"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    paa = ev.groupBy("event_type", "hour_start").agg(
        F.sum("cents").cast("long").alias("v_cents")
    )
    stats = paa.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v_cents").cast("long").alias("s"),
        F.sum(F.col("v_cents") * F.col("v_cents")).cast("long").alias("sq"),
    )
    z = (
        paa.join(F.broadcast(stats), "event_type")
        .filter(F.col("n") * F.col("sq") - F.col("s") * F.col("s") > 0)
        .withColumn(
            "zv",
            (F.col("v_cents") * F.col("n") - F.col("s")).cast("double")
            / F.sqrt(
                (F.col("n") * F.col("sq") - F.col("s") * F.col("s")).cast(
                    "double"
                )
            ),
        )
    )
    return z.select(
        "event_type",
        "hour_start",
        "v_cents",
        F.when(F.col("zv") < -0.6745, F.lit("a"))
        .when(F.col("zv") < 0.0, F.lit("b"))
        .when(F.col("zv") < 0.6745, F.lit("c"))
        .otherwise(F.lit("d"))
        .alias("symbol"),
    )
