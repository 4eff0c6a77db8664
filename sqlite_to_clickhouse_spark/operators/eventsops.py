"""Event-sequence analytics: the ClickHouse ``windowFunnel`` / ``retention``
parametric-aggregate analogs, expressed as pure DataFrame plans.

The reference's sink is ClickHouse (``/root/reference/main.py:65`` creates
ReplacingMergeTree tables), whose users lean on its event-analytics
aggregates for exactly the kind of ``events`` table the fixtures model.
Neither function exists in Spark; both decompose into window-min chains and
conditional aggregation — no UDF, no per-user array materialization, so the
plan survives users with millions of events.

Scale notes (100 TB): every step keys on ``user_id`` only. The three
window-min passes in the funnel share one ``hashpartitioning(user_id)``
exchange (Catalyst reuses the sort/partitioning between consecutive Window
nodes with identical specs), and the follow-up per-user aggregate reuses it
again — one wide shuffle total, then a tiny shuffle on the step/flag keys.
Skewed users (bots) cost one hot partition in the window pass; AQE skew
handling is on in the session builder.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sqlite_to_clickhouse_spark.io import table
from sqlite_to_clickhouse_spark.registry import register

_FUNNEL_ORACLE = """
    WITH f1 AS (
        SELECT user_id, ts, event_type,
               min(CASE WHEN event_type = 'view' THEN ts END)
                   OVER (PARTITION BY user_id) AS s1
        FROM events
    ), f2 AS (
        SELECT *, min(CASE WHEN event_type = 'click'
                            AND ts >= s1
                            AND ts <= s1 + INTERVAL 24 HOURS THEN ts END)
                      OVER (PARTITION BY user_id) AS s2
        FROM f1
    ), f3 AS (
        SELECT *, min(CASE WHEN event_type = 'purchase'
                            AND ts >= s2
                            AND ts <= s1 + INTERVAL 24 HOURS THEN ts END)
                      OVER (PARTITION BY user_id) AS s3
        FROM f2
    ), per_user AS (
        SELECT user_id,
               max(CASE WHEN s3 IS NOT NULL THEN 3
                        WHEN s2 IS NOT NULL THEN 2
                        WHEN s1 IS NOT NULL THEN 1
                        ELSE 0 END) AS funnel_step
        FROM f3
        GROUP BY user_id
    )
    SELECT funnel_step, count(*) AS n_users
    FROM per_user
    GROUP BY funnel_step
"""


@register("events_funnel", oracle=_FUNNEL_ORACLE, tags=("events", "analytics"))
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``windowFunnel(24h)(ts, view, click, purchase)`` analog:
    deepest view→click→purchase step each user completes, where every later
    step must land within 24 h of the first view. Histogram of users per
    step reached.

    The chain is three whole-partition window mins over the same
    ``user_id`` partitioning (each conditioned on the previous step's
    timestamp, which the prior window already stamped onto every row), so
    Catalyst plans a single exchange for all three plus the per-user
    aggregate.
    """
    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    w = Window.partitionBy("user_id")
    deadline = F.col("s1") + F.expr("INTERVAL 24 HOURS")
    df = ev.withColumn(
        "s1", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    )
    df = df.withColumn(
        "s2",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("ts") >= F.col("s1"))
                & (F.col("ts") <= deadline),
                F.col("ts"),
            )
        ).over(w),
    )
    df = df.withColumn(
        "s3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") >= F.col("s2"))
                & (F.col("ts") <= deadline),
                F.col("ts"),
            )
        ).over(w),
    )
    step = (
        F.when(F.col("s3").isNotNull(), F.lit(3))
        .when(F.col("s2").isNotNull(), F.lit(2))
        .when(F.col("s1").isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
    )
    per_user = df.groupBy("user_id").agg(F.max(step).alias("funnel_step"))
    return per_user.groupBy("funnel_step").agg(F.count("*").alias("n_users"))


_RETENTION_ORACLE = """
    WITH per_user AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'signup'
                         AND ts < TIMESTAMP '2024-01-08 00:00:00'
                        THEN 1 ELSE 0 END) AS r1,
               max(CASE WHEN ts >= TIMESTAMP '2024-01-08 00:00:00'
                         AND ts < TIMESTAMP '2024-01-15 00:00:00'
                        THEN 1 ELSE 0 END) AS r2,
               max(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
                         AND ts < TIMESTAMP '2024-01-22 00:00:00'
                        THEN 1 ELSE 0 END) AS r3
        FROM events
        GROUP BY user_id
    )
    SELECT CAST(sum(r1) AS BIGINT)      AS n_cohort,
           CAST(sum(r1 * r2) AS BIGINT) AS n_week2,
           CAST(sum(r1 * r3) AS BIGINT) AS n_week3
    FROM per_user
"""


@register("events_retention", oracle=_RETENTION_ORACLE, tags=("events", "analytics"))
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``retention(cond1, cond2, cond3)`` analog: cohort = users
    who signed up in week 1; how many were active in week 2 / week 3
    (each later flag ANDed with the cohort flag, per the CH contract).

    One per-user conditional aggregate (map-side partial → single shuffle
    on user_id), then a scalar roll-up — no joins, no arrays.
    """
    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    d2, d3, d4 = "2024-01-08 00:00:00", "2024-01-15 00:00:00", "2024-01-22 00:00:00"
    t = lambda s: F.lit(s).cast("timestamp")  # noqa: E731
    flag = lambda c: F.max(F.when(c, 1).otherwise(0))  # noqa: E731
    per_user = ev.groupBy("user_id").agg(
        flag((F.col("event_type") == "signup") & (F.col("ts") < t(d2))).alias("r1"),
        flag((F.col("ts") >= t(d2)) & (F.col("ts") < t(d3))).alias("r2"),
        flag((F.col("ts") >= t(d3)) & (F.col("ts") < t(d4))).alias("r3"),
    )
    return per_user.agg(
        F.sum("r1").cast("long").alias("n_cohort"),
        F.sum(F.col("r1") * F.col("r2")).cast("long").alias("n_week2"),
        F.sum(F.col("r1") * F.col("r3")).cast("long").alias("n_week3"),
    )


_SEQ_ORACLE = """
    WITH ordered AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    )
    SELECT user_id,
           count(*) AS n_events,
           CAST(sum(CASE WHEN prev_type = 'view' AND event_type = 'click'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_view_then_click
    FROM ordered
    GROUP BY user_id
"""


@register("events_sequence_count", oracle=_SEQ_ORACLE, tags=("events", "analytics"))
def events_sequence_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``sequenceCount('(?1)(?2)')`` (adjacent-pair flavor):
    per user, how many times a click immediately follows a view in
    event-time order. One lag window + the per-user aggregate share a
    single hashpartitioning(user_id) exchange; ties broken on event_id so
    both engines see the same ordering."""
    ev = table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn("prev_type", F.lag("event_type").over(w))
    hit = (F.col("prev_type") == "view") & (F.col("event_type") == "click")
    return flagged.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.when(hit, 1).otherwise(0)).cast("long").alias("n_view_then_click"),
    )


_PATH_ORACLE = """
    SELECT user_id,
           array_to_string(list(event_type ORDER BY ts, event_id)[1:10], '->')
               AS path,
           count(*) AS n_events
    FROM events
    GROUP BY user_id
"""


@register("events_user_path", oracle=_PATH_ORACLE, tags=("events", "analytics"))
def events_user_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``groupArray`` / ordered ``string_agg`` analog: each
    user's first ten event types in time order, joined into a path string.

    Spark has no ordered aggregate, so the canonical trick: collect
    (ts, event_id, type) structs, array_sort (struct comparison is
    field-order, so ts then event_id — deterministic under ties), slice to
    10, project the type, join. One shuffle on user_id; the slice bounds
    the output row width no matter how many events a user has (the
    collect itself is bounded by the heaviest user — for truly unbounded
    users, pre-rank + filter rank<=10 with a window before collecting)."""
    ev = table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type")
    sorted_structs = F.array_sort(
        F.collect_list(F.struct("ts", "event_id", "event_type"))
    )
    path = F.array_join(
        F.transform(F.slice(sorted_structs, 1, 10), lambda x: x["event_type"]),
        "->",
    )
    return ev.groupBy("user_id").agg(
        path.alias("path"), F.count("*").alias("n_events")
    )


_SESSIONIZE_ORACLE = """
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTES
                      OR lag(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, ts,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_no
        FROM flagged
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           count(*) AS n_events,
           CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS span_s
    FROM sessions
    GROUP BY user_id, session_no
"""


@register("events_sessionize", oracle=_SESSIONIZE_ORACLE, tags=("events", "analytics"))
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gaps-and-islands): a session breaks after a
    30-minute silence; per session, event count and span. The lag flag and
    the running session counter ride one hashpartitioning(user_id)
    exchange, and the per-session aggregate reuses it — the batch twin of
    stream_session's session_window, verified against the same SQL shape."""
    ev = table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Gap in microseconds, the timestamps' own precision: whole seconds
    # (cast to long) would keep events 30 min 0.7 s apart in one session,
    # while the oracle compares the exact interval.
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    flagged = ev.withColumn(
        "is_new", F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    )
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = flagged.withColumn("session_no", F.sum("is_new").over(run))
    return sess.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        (F.max(F.col("ts").cast("long")) - F.min(F.col("ts").cast("long")))
        .cast("long")
        .alias("span_s"),
    )


@register(
    "events_anomaly_zscore",
    oracle="""
    WITH cents AS (
        SELECT event_id, user_id,
               CAST(FLOOR(value * 100) AS BIGINT) AS v
        FROM events
    ),
    stats AS (
        SELECT event_id, user_id, v,
               count(v) OVER w AS n,
               sum(v)   OVER w AS s1,
               sum(v * v) OVER w AS s2
        FROM cents
        WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                     ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, user_id, v,
           FLOOR((v - CAST(s1 AS DOUBLE) / n)
                 / sqrt((s2 - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1))
                 * 10000) / 10000 AS z
    FROM stats
    WHERE n >= 8
      AND (s2 - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1) > 0
      AND abs((v - CAST(s1 AS DOUBLE) / n)
              / sqrt((s2 - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1))) > 2
    """,
    tags=("events", "window"),
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly flags: each event scored against the
    trailing 10-event window of ITS OWN user (frame excludes the current
    row — a point must not dilute its own baseline). Emits events more
    than 2 sigma from their trailing mean, given >= 8 prior points and
    nonzero variance.

    Determinism design: values are floored to integer cents first, so the
    windowed count/sum/sum-of-squares are EXACT integers (max |v| ~ 5.6e4
    -> s2 <= 10 * 3.2e9, far inside the 2^53 exact-double range); mean,
    variance, and z are then derived per row with the identical formula
    on both engines — no float accumulation order anywhere. Built-in
    stddev() over a window would hit Welford-vs-naive differences in the
    last ulp. One shuffle (user_id); the three window sums share a single
    window spec and exchange."""
    ev = table(spark, sf_dir, "events")
    cents = ev.select(
        "event_id", "user_id", F.floor(F.col("value") * 100).cast("long").alias("v")
    )
    w = Window.partitionBy("user_id").orderBy("event_id").rowsBetween(-10, -1)
    v = F.col("v")
    stats = cents.select(
        "event_id",
        "user_id",
        "v",
        F.count(v).over(w).alias("n"),
        F.sum(v).over(w).alias("s1"),
        F.sum(v * v).over(w).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = (F.col("s2") - F.col("s1").cast("double") * F.col("s1") / F.col("n")) / (
        F.col("n") - 1
    )
    z = (v - mean) / F.sqrt(var)
    return (
        stats.filter((F.col("n") >= 8) & (var > 0) & (F.abs(z) > 2))
        .select(
            "event_id",
            "user_id",
            "v",
            (F.floor(z * 10000) / 10000).alias("z"),
        )
    )


@register(
    "timeseries_gap_fill",
    oracle="""
    WITH daily AS (
        SELECT user_id, date_trunc('day', ts) AS day, count(*) AS n_events
        FROM events
        GROUP BY user_id, date_trunc('day', ts)
    ),
    spans AS (
        SELECT user_id, min(day) AS d0, max(day) AS d1
        FROM daily GROUP BY user_id
    ),
    spine AS (
        SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
        FROM spans
    )
    SELECT s.user_id, s.day,
           COALESCE(d.n_events, 0) AS n_events,
           CAST(d.user_id IS NULL AS BOOLEAN) AS filled
    FROM spine s LEFT JOIN daily d
      ON s.user_id = d.user_id AND s.day = d.day
    """,
    tags=("events", "timeseries"),
)
def timeseries_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-grid densification (ClickHouse ORDER BY … WITH FILL; the
    resample step of any time-series pipeline): per-user daily event
    counts, with missing days materialized as explicit 0-rows between
    each user's first and last active day. The spine is generated
    data-dependently — sequence(min_day, max_day) per user, exploded —
    so no driver-side date loop and no global calendar join; the spine
    join is keyed (user_id, day) and the per-user grid is bounded by the
    user's own span. At 100 TB the spine is ~|users|×span rows; cap the
    span or bucket coarser when densifying cold users."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id",
            F.explode(
                F.sequence(F.col("d0"), F.col("d1"), F.expr("INTERVAL 1 DAY"))
            ).alias("day"),
        )
    )
    d = daily.alias("d")
    s = spine.alias("s")
    return s.join(
        d, (F.col("s.user_id") == F.col("d.user_id")) & (F.col("s.day") == F.col("d.day")), "left"
    ).select(
        F.col("s.user_id").alias("user_id"),
        F.col("s.day").alias("day"),
        F.coalesce(F.col("d.n_events"), F.lit(0)).alias("n_events"),
        F.col("d.user_id").isNull().alias("filled"),
    )


@register(
    "events_cohort_matrix",
    oracle="""
    WITH firsts AS (
        SELECT user_id, min(ts) AS first_ts
        FROM events
        GROUP BY user_id
    )
    SELECT strftime(f.first_ts, '%Y-%m') AS cohort_month,
           CAST((year(e.ts) * 12 + month(e.ts))
                - (year(f.first_ts) * 12 + month(f.first_ts)) AS INTEGER)
               AS months_since,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active
    FROM events e
    JOIN firsts f ON e.user_id = f.user_id
    GROUP BY 1, 2
    """,
    tags=("events", "analytics"),
)
def events_cohort_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — the product-analytics staple: users
    bucketed by first-seen month (their cohort), counted as active in
    each subsequent month offset. Each matrix cell (cohort, months-since)
    is the distinct active users; dividing by the cohort's month-0 cell
    downstream yields the classic retention curve.

    Two aggregations on the SAME user_id partitioning: the per-user min
    timestamp, then the join back to the event stream — both ride one
    hash family, so AQE plans a single user_id exchange for the heavy
    side. Month arithmetic is pure integers (y·12+m), engine-exact, and
    the cohort label a fixed-format string on both sides."""
    ev = table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    ym = lambda c: F.year(c) * 12 + F.month(c)  # noqa: E731
    return (
        ev.join(firsts, "user_id")
        .groupBy(
            F.date_format("first_ts", "yyyy-MM").alias("cohort_month"),
            (ym(F.col("ts")) - ym(F.col("first_ts")))
            .cast("int")
            .alias("months_since"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


@register(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events
    ), pairs AS (
        SELECT event_type AS from_type, next_type AS to_type,
               CAST(count(*) AS BIGINT) AS n
        FROM seq
        WHERE next_type IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT from_type, to_type, n,
           round(n / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE), 9)
               AS p_transition
    FROM pairs
    """,
    tags=("events", "analytics", "graph"),
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams —
    the ClickHouse ``sequenceCount``-family workhorse turned into the full
    (from, to, count, probability) matrix product analytics tools draw as
    a behavior graph.

    One window pass keyed on ``user_id`` (lead over the in-session order,
    tie-broken by event_id so both engines see the same successor), then a
    tiny aggregate on the (from, to) pair space — the second shuffle moves
    at most |types|² rows per partition after partial aggregation. The
    row-probability normalization runs as a window over the already-tiny
    matrix. Probability rounded to 9 dp so cross-engine double division
    agrees bit-for-bit."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .where(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count("*").alias("n"))
    )
    wrow = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(wrow).cast("double"), 9).alias(
            "p_transition"
        ),
    )


@register(
    "events_attribution",
    oracle="""
    WITH tagged AS (
        SELECT user_id, ts, event_id, event_type, value,
               last_value(CASE WHEN event_type IN ('view', 'click')
                               THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS last_touch
        FROM events
    )
    SELECT coalesce(last_touch, 'organic') AS channel,
           CAST(count(*) AS BIGINT) AS n_purchases,
           round(sum(value), 6) AS attributed_value
    FROM tagged
    WHERE event_type = 'purchase'
    GROUP BY 1
    """,
    tags=("events", "analytics"),
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every ``purchase`` is credited to the most
    recent strictly-preceding touchpoint event (``view``/``click``) of the
    same user; purchases with no prior touch fall into an ``organic``
    bucket. The marketing-analytics staple (ClickHouse users build it from
    ``groupArray``+``arrayReverseFill``); here it is one ignore-nulls
    ``last_value`` window over the user timeline — no arrays materialized,
    so a million-event user costs streaming window state, not RAM.

    Shares the ``hashpartitioning(user_id)`` exchange shape with the rest
    of the events family; final aggregate is on the tiny channel domain.
    Attributed revenue rounded to 6 dp (sum order across engines)."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(
        F.col("event_type").isin("view", "click"), F.col("event_type")
    )
    return (
        ev.withColumn("last_touch", F.last(touch, ignorenulls=True).over(w))
        .where(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("last_touch", F.lit("organic")).alias("channel"))
        .agg(
            F.count("*").alias("n_purchases"),
            F.round(F.sum("value"), 6).alias("attributed_value"),
        )
    )


@register(
    "events_rfm",
    oracle="""
    WITH anchor AS (
        SELECT max(o_orderdate) AS mx FROM orders
    ),
    per_cust AS (
        SELECT o_custkey,
               CAST(date_diff('day', max(o_orderdate), (SELECT mx FROM anchor))
                    AS BIGINT)                         AS recency_days,
               CAST(count(*) AS BIGINT)                AS frequency,
               round(sum(o_totalprice), 2)             AS monetary
        FROM orders
        GROUP BY o_custkey
    ),
    scored AS (
        SELECT *,
               CAST(ntile(5) OVER (ORDER BY recency_days ASC,  o_custkey) AS BIGINT) AS r_score,
               CAST(ntile(5) OVER (ORDER BY frequency   DESC, o_custkey) AS BIGINT) AS f_score,
               CAST(ntile(5) OVER (ORDER BY monetary    DESC, o_custkey) AS BIGINT) AS m_score
        FROM per_cust
    )
    SELECT r_score, f_score, m_score,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(sum(monetary), 2)  AS segment_value
    FROM scored
    GROUP BY 1, 2, 3
    """,
    tags=("events", "analytics"),
)
def events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation — the
    classic warehouse mart the reference's migrated `orders` table feeds:
    per-customer last-order age, order count, and lifetime value, each
    ntile(5)-scored, rolled up to segment cells.

    Scale shape: ONE hash aggregate collapses the fact table to one row
    per customer (the 100 TB → |customers| reduction happens first);
    the three ntile windows then run over the aggregated rows only. The
    global max(o_orderdate) anchor rides a broadcast single-row
    crossJoin, not a driver collect. Ntile ties are broken on o_custkey
    so both engines assign identical quintiles. The un-partitioned
    ntile windows single-thread the scored set — acceptable because it
    is post-aggregation (|customers| rows); at extreme cardinality you
    would switch to percent_rank-derived buckets, same semantics."""
    o = table(spark, sf_dir, "orders")
    anchor = F.broadcast(o.agg(F.max("o_orderdate").alias("mx")))
    per_cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").alias("frequency"),
            F.round(F.sum("o_totalprice"), 2).alias("monetary"),
        )
        .crossJoin(anchor)
        .select(
            "o_custkey",
            F.datediff(F.col("mx"), F.col("last_order"))
            .cast("long")
            .alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    scored = (
        per_cust.withColumn(
            "r_score",
            F.ntile(5)
            .over(Window.orderBy(F.asc("recency_days"), F.asc("o_custkey")))
            .cast("long"),
        )
        .withColumn(
            "f_score",
            F.ntile(5)
            .over(Window.orderBy(F.desc("frequency"), F.asc("o_custkey")))
            .cast("long"),
        )
        .withColumn(
            "m_score",
            F.ntile(5)
            .over(Window.orderBy(F.desc("monetary"), F.asc("o_custkey")))
            .cast("long"),
        )
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").alias("n_customers"),
        F.round(F.sum("monetary"), 2).alias("segment_value"),
    )


@register(
    "events_gap_stats",
    oracle="""
    WITH gaps AS (
        SELECT user_id,
               epoch_us(CAST(ts AS TIMESTAMP))
                 - lag(epoch_us(CAST(ts AS TIMESTAMP)))
                     OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS gap_us
        FROM events
    )
    SELECT user_id,
           CAST(count(gap_us) AS BIGINT)            AS n_gaps,
           CAST(min(gap_us) AS BIGINT)              AS min_gap_us,
           CAST(max(gap_us) AS BIGINT)              AS max_gap_us,
           CAST(sum(gap_us) AS BIGINT)              AS total_span_us,
           round(avg(gap_us), 4)                    AS avg_gap_us
    FROM gaps
    GROUP BY user_id
    """,
    tags=("events", "timeseries"),
)
def events_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap statistics per series — the cadence profile
    (heartbeat regularity, burst detection input, sessionization-gap
    tuning evidence): microsecond deltas between consecutive events,
    aggregated to per-user min/max/avg/total.

    One lag window and one hash aggregate sharing a single user_id
    partitioning (the agg_delta_sum shape). Gaps compare in MICROseconds
    on both sides — unix_micros vs epoch_us — because whole-second casts
    truncate the fixture's fractional timestamps and shift near-boundary
    aggregates; ordering ties break on event_id."""
    ev = table(spark, sf_dir, "events")
    t = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = t - F.lag(t).over(w)
    return (
        ev.select("user_id", gap.alias("gap_us"))
        .groupBy("user_id")
        .agg(
            F.count("gap_us").alias("n_gaps"),
            F.min("gap_us").alias("min_gap_us"),
            F.max("gap_us").alias("max_gap_us"),
            F.sum("gap_us").alias("total_span_us"),
            F.round(F.avg("gap_us"), 4).alias("avg_gap_us"),
        )
    )


_ACTIVE_USERS_ORACLE = """
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ),
    days AS (SELECT DISTINCT day FROM du)
    SELECT d.day,
           CAST((SELECT COUNT(DISTINCT user_id) FROM du
                 WHERE du.day = d.day) AS BIGINT)                     AS dau,
           CAST((SELECT COUNT(DISTINCT user_id) FROM du
                 WHERE du.day BETWEEN d.day - 6 AND d.day) AS BIGINT)  AS wau,
           CAST((SELECT COUNT(DISTINCT user_id) FROM du
                 WHERE du.day BETWEEN d.day - 29 AND d.day) AS BIGINT) AS mau
    FROM days d
"""


@register(
    "events_active_users", oracle=_ACTIVE_USERS_ORACLE, tags=("events", "analytics")
)
def events_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / MAU per day — exact distinct users over trailing 1 /
    7 / 30-day windows, the canonical engagement rollup.

    Distinct-over-a-sliding-window has no direct window-function form,
    so the plan uses the contribution trick: reduce events to distinct
    (day, user) pairs (one shuffle — this is the only pass over the raw
    table), then EXPLODE each pair into the ≤30 later days whose
    trailing windows it contributes to, and take three conditional
    COUNT(DISTINCT)s in one groupBy(day) — dau counts offset 0, wau
    offsets ≤ 6, mau all. Shuffle volume is 30·|distinct day-user
    pairs|, bounded by activity cardinality rather than event count —
    at 100 TB the raw-event reduction dominates and the fan-out rides
    the combiner. Days with no events emit no row (windows are anchored
    on active days, matching the oracle's correlated ground truth,
    which is an INDEPENDENT construction — per-day correlated distinct
    counts, not the contribution trick — so the differential gate
    checks the algebra, not the spelling).
    """
    ev = table(spark, sf_dir, "events")
    du = (
        ev.filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
    )
    contrib = du.select(
        "user_id",
        F.col("day").alias("active_day"),
        F.explode(F.sequence(F.lit(0), F.lit(29))).alias("off"),
    ).select(
        "user_id", "off", F.date_add(F.col("active_day"), F.col("off")).alias("day")
    )
    # Only days that actually had activity anchor a window. That is
    # exactly the days with dau ≥ 1 (an offset-0 contribution), so the
    # filter rides the aggregate itself — no second pass over du, no
    # anchor join.
    return (
        contrib.groupBy("day")
        .agg(
            F.count_distinct(
                F.when(F.col("off") == 0, F.col("user_id"))
            ).alias("dau"),
            F.count_distinct(
                F.when(F.col("off") <= 6, F.col("user_id"))
            ).alias("wau"),
            F.count_distinct("user_id").alias("mau"),
        )
        .filter(F.col("dau") >= 1)
    )


_SEQ_CAP = 500  # per-user sequence bound, applied identically in the oracle

_SEQMATCH_ORACLE = f"""
    WITH seqs AS (
        SELECT user_id,
               count(*) AS n_events,
               array_to_string(
                   list(substr(event_type, 1, 1) ORDER BY ts, event_id)[1:{_SEQ_CAP}],
                   '') AS seq
        FROM events
        GROUP BY user_id
    )
    SELECT user_id, n_events,
           CAST(regexp_matches(seq, 's.*v.*p') AS INT)  AS matched_svp,
           CAST(regexp_matches(seq, 'sv') AS INT)       AS matched_sv_adjacent,
           len(regexp_extract_all(seq, 'v[^p]*p'))      AS n_view_to_purchase
    FROM seqs
"""


@register("events_sequence_match", oracle=_SEQMATCH_ORACLE, tags=("events", "analytics"))
def events_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``sequenceMatch``/``sequenceCount`` regex flavor: each
    user's event history becomes an ordered one-char-per-event code string
    and the patterns run as real regexes over it — ``s.*v.*p`` is
    ``sequenceMatch('(?1).*(?2).*(?3)')(ts, signup, view, purchase)``,
    ``sv`` the adjacent form, and ``regexp_count(seq, 'v[^p]*p')`` is
    ``sequenceCount``'s leftmost-non-overlapping semantics (both engines'
    regex searches are greedy leftmost, so the counts agree exactly).

    Unlike events_funnel's window-min chain (which answers one fixed
    3-step pattern), the string encoding answers ARBITRARY patterns at
    the cost of materializing the per-user sequence — so the sequence is
    hard-capped at the first {_SEQ_CAP} events (mirrored in the oracle's
    list slice), ENFORCED by a row_number pre-filter BEFORE the collect
    so a bot with millions of events costs a bounded array, never an
    unbounded collect_list (the events_user_path pre-rank refinement,
    wired rather than documented); the count column still reports the
    true history length via a count-over-window carried through the
    filter. Both windows and the aggregate share one
    hashpartitioning(user_id) exchange; ties broken on event_id via
    struct array_sort."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", F.substring("event_type", 1, 1).alias("code")
    )
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_cnt = Window.partitionBy("user_id")
    kept = (
        ev.withColumn("rn", F.row_number().over(w_seq))
        .withColumn("n_all", F.count(F.lit(1)).over(w_cnt))
        .filter(F.col("rn") <= _SEQ_CAP)
    )
    per_user = kept.groupBy("user_id").agg(
        F.max("n_all").alias("n_events"),
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "code"))).alias("arr"),
    )
    seqs = per_user.select(
        "user_id",
        "n_events",
        F.concat_ws("", F.transform(F.col("arr"), lambda x: x["code"])).alias("seq"),
    )
    return seqs.select(
        "user_id",
        "n_events",
        F.col("seq").rlike("s.*v.*p").cast("int").alias("matched_svp"),
        F.col("seq").rlike("sv").cast("int").alias("matched_sv_adjacent"),
        F.regexp_count(F.col("seq"), F.lit("v[^p]*p")).cast("long").alias("n_view_to_purchase"),
    )


_STRICT_FUNNEL_ORACLE = f"""
    WITH seqs AS (
        SELECT user_id,
               array_to_string(
                   list(substr(event_type, 1, 1) ORDER BY ts, event_id)[1:{_SEQ_CAP}],
                   '') AS seq
        FROM events
        GROUP BY user_id
    ),
    steps AS (
        SELECT user_id,
               CASE WHEN regexp_matches(seq, 'v[^vcp]*c[^vcp]*p') THEN 3
                    WHEN regexp_matches(seq, 'v[^vcp]*c')         THEN 2
                    WHEN regexp_matches(seq, 'v')                 THEN 1
                    ELSE 0 END AS funnel_step
        FROM seqs
    )
    SELECT funnel_step, CAST(count(*) AS BIGINT) AS n_users
    FROM steps GROUP BY funnel_step
"""


@register("events_funnel_strict_order", oracle=_STRICT_FUNNEL_ORACLE, tags=("events", "analytics"))
def events_funnel_strict_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``windowFunnel(... , 'strict_order')`` parity: the
    view→click→purchase chain counts a step ONLY when no other funnel
    event interleaves — a later view or an early purchase between the
    matched steps breaks the chain (``v[^vcp]*c[^vcp]*p``: non-funnel
    events like signup/error may intervene, funnel events may not) —
    where events_funnel's loose mode lets anything interleave inside
    the 24 h window. Histogram of users per deepest strict step.

    Same machinery as events_sequence_match (per-user ordered code
    string, capped at {_SEQ_CAP} with the cap mirrored in the oracle's
    list slice and enforced by a row_number pre-filter BEFORE the
    collect — see events_sequence_match): the regex family answers mode
    variants the window-min chain can't express without one extra
    window per mode."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", F.substring("event_type", 1, 1).alias("code")
    )
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    kept = ev.withColumn("rn", F.row_number().over(w_ord)).filter(
        F.col("rn") <= _SEQ_CAP
    )
    seqs = kept.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "code"))).alias("arr")
    ).select(
        "user_id",
        F.concat_ws("", F.transform(F.col("arr"), lambda x: x["code"])).alias("seq"),
    )
    step = (
        F.when(F.col("seq").rlike("v[^vcp]*c[^vcp]*p"), 3)
        .when(F.col("seq").rlike("v[^vcp]*c"), 2)
        .when(F.col("seq").rlike("v"), 1)
        .otherwise(0)
    )
    return (
        seqs.select(step.alias("funnel_step"))
        .groupBy("funnel_step")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
