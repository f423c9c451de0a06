"""Event-time catalog: JSON prop extraction (F21), time windows (F20),
sessionization (W1 composition) over the ``events`` table.

The reference has no timestamp pipeline (SURVEY.md §2.8) — these are the
library-completeness operators its engine scope requires, batch-first; the
streaming/ package carries the readStream variants of the same logic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from platform_etl_drug_disease_spark.operators.joins import asof_join, band_join_bucketed
from platform_etl_drug_disease_spark.plans._util import dround, dsum
from platform_etl_drug_disease_spark.schemas import load_table


def json_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F21: get_json_object extraction + aggregation; missing-key → null."""
    ev = load_table(spark, sf_dir, "events", ["event_type", "props"])
    return (
        ev.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("bigint").alias("k"),
            F.get_json_object("props", "$.missing").alias("missing"),
        )
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("k_total"),
            F.max("k").alias("k_max"),
            F.count("missing").alias("n_missing"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


_JSON_SQL = """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_total,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max,
       COUNT(json_extract_string(props, '$.missing')) AS n_missing,
       COUNT(*) AS n_events
FROM events
GROUP BY event_type
"""


def hourly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F20 tumbling window: ``F.window(ts, '1 hour')`` — the batch form of the
    streaming windowed aggregation. Window start surfaced as a string so the
    cross-engine comparison is timezone-unambiguous."""
    ev = load_table(spark, sf_dir, "events", ["ts", "event_type", "value"])
    w = ev.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type")).agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value").alias("value_sum"),
    )
    return w.select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
        "event_type",
        "n",
        "value_sum",
    )


_HOURLY_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
FROM events
GROUP BY 1, 2
"""


def sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F20 sliding window: 2-hour window sliding 1 hour — each event lands in
    two windows. Oracle expands the slide with a generate_series lateral."""
    ev = load_table(spark, sf_dir, "events", ["ts", "value"])
    w = ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w")).agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value").alias("value_sum"),
    )
    return w.select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "n",
        "value_sum",
    )


_SLIDING_SQL = """
WITH expanded AS (
    SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start, value
    FROM events,
         LATERAL (SELECT unnest([date_trunc('hour', ts),
                                 date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS win_start)
)
SELECT win_start, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
FROM expanded
GROUP BY win_start
"""


def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via lag + gap threshold (30 min): the W1 composition the
    engine uses instead of stateful streaming for batch session analytics."""
    ev = load_table(spark, sf_dir, "events", ["user_id", "ts"])
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts", 1).over(w))
    marked = ev.withColumn(
        "is_start", F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0))
    )
    return marked.groupBy("user_id").agg(
        F.sum("is_start").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


_SESSIONS_SQL = """
WITH gaps AS (
    SELECT user_id,
           epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) AS gap
    FROM events
)
SELECT user_id,
       CAST(SUM(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events
FROM gaps
GROUP BY user_id
"""


def daily_event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 pivot on the event stream: per-day wide count matrix by type."""
    ev = load_table(spark, sf_dir, "events", ["ts", "event_type"])
    day = ev.withColumn("day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd"))
    types = ["click", "view", "purchase", "signup", "error"]
    out = day.groupBy("day").pivot("event_type", types).agg(F.count(F.lit(1)))
    out = out.na.fill(0, subset=types)
    for t in types:
        out = out.withColumnRenamed(t, f"n_{t}")
    return out


_DAILY_PIVOT_SQL = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       COALESCE(COUNT(*) FILTER (WHERE event_type = 'click'), 0) AS n_click,
       COALESCE(COUNT(*) FILTER (WHERE event_type = 'view'), 0) AS n_view,
       COALESCE(COUNT(*) FILTER (WHERE event_type = 'purchase'), 0) AS n_purchase,
       COALESCE(COUNT(*) FILTER (WHERE event_type = 'signup'), 0) AS n_signup,
       COALESCE(COUNT(*) FILTER (WHERE event_type = 'error'), 0) AS n_error
FROM events
GROUP BY 1
"""


def typed_json_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F21 typed parse: ``from_json`` with an explicit schema (struct<k:int>)
    — unlike get_json_object string extraction, the parse happens once and
    yields a typed column; malformed JSON → null struct, not a job failure.
    Histogram of k by decade per event type."""
    ev = load_table(spark, sf_dir, "events", ["event_type", "props"])
    parsed = ev.select("event_type", F.from_json("props", "k INT").alias("p"))
    return (
        parsed.select("event_type", F.floor(F.col("p.k") / 10).alias("k_decade"))
        .groupBy("event_type", "k_decade")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_TYPED_JSON_SQL = """
SELECT event_type,
       CAST(floor(CAST(json_extract_string(props, '$.k') AS INTEGER) / 10) AS BIGINT) AS k_decade,
       COUNT(*) AS n
FROM events
GROUP BY 1, 2
"""


def asof_latest_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase annotated with the user's most recent click
    at-or-before it (point-in-time lookup). Union-merge implementation — one
    shuffle on user_id, no range explosion (operators/joins.py:asof_join).
    Clicks deduped per (user_id, ts) for deterministic payload."""
    ev = load_table(spark, sf_dir, "events", ["event_id", "ts", "user_id", "event_type", "value"])
    purchases = ev.where("event_type = 'purchase'").select(
        "event_id", "user_id", "ts", F.col("value").alias("purchase_value")
    )
    clicks = (
        ev.where("event_type = 'click'")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
    )
    out = asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        payload={"click_value": "click_value"},
        matched_ts="click_ts",
    )
    return out.select(
        "event_id",
        "user_id",
        "purchase_value",
        "click_value",
        (F.unix_micros("ts") - F.unix_micros("click_ts")).alias("lag_us"),
    )


_ASOF_SQL = """
WITH clicks AS (
    SELECT user_id, ts, MAX(value) AS click_value
    FROM events WHERE event_type = 'click' GROUP BY user_id, ts
), purchases AS (
    SELECT event_id, user_id, ts, value AS purchase_value
    FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id, p.purchase_value, c.click_value,
       epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
FROM purchases p ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def errors_near_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range (band) join, no equality key: per purchase, the count of
    error events anywhere in the stream within ±5 minutes. Bucketed
    implementation (operators/joins.py:band_join_bucketed) keeps it an
    equi-join at scale instead of a quadratic nested loop."""
    ev = load_table(spark, sf_dir, "events", ["event_id", "ts", "event_type"])
    purchases = ev.where("event_type = 'purchase'").select("event_id", F.col("ts").alias("p_ts"))
    errors = ev.where("event_type = 'error'").select(F.col("ts").alias("e_ts"))
    joined = band_join_bucketed(purchases, errors, "p_ts", "e_ts", band_seconds=300)
    return joined.groupBy("event_id").agg(F.count(F.lit(1)).alias("n_errors_5min"))


_BAND_SQL = """
SELECT p.event_id, COUNT(*) AS n_errors_5min
FROM (SELECT event_id, ts FROM events WHERE event_type = 'purchase') p
JOIN (SELECT ts FROM events WHERE event_type = 'error') e
  ON abs(epoch_us(p.ts) - epoch_us(e.ts)) <= 300000000
GROUP BY p.event_id
"""


def event_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 lag/lead: per event-type inter-arrival gap stats (min/max/avg µs) —
    the time-series delta idiom over a keyed window.

    Scale note: `lag OVER (PARTITION BY event_type ORDER BY
    ts)` on the raw log sorts the whole table through ~|types| reducers.
    operators/scans.keyed_lag_delta computes the identical gap multiset with
    local lags inside time-range buckets plus per-bucket boundary stitches
    (tiny first/last aggregate) — shuffle key (type, bucket)."""
    from platform_etl_drug_disease_spark.operators.scans import keyed_lag_delta

    # persist the 2-column projection: the two-phase scan consumes it three
    # times (bounds aggregate, local lags, per-bucket ends) and the bounds
    # aggregate is in-plan (lazy) — without the cache the scan repeats.
    ev = (
        load_table(spark, sf_dir, "events", ["event_type", "ts"])
        .select("event_type", F.unix_micros("ts").alias("us"))
        .persist()
    )
    gaps = keyed_lag_delta(ev, ["event_type"], "us", n_buckets=64)
    return gaps.groupBy("event_type").agg(
        F.min("gap").alias("gap_min_us"),
        F.max("gap").alias("gap_max_us"),
        F.floor(F.sum("gap") / F.count(F.lit(1))).alias("gap_avg_us_floor"),
        F.count(F.lit(1)).alias("n_gaps"),
    )


_INTERARRIVAL_SQL = """
WITH gaps AS (
    SELECT event_type,
           epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY event_type ORDER BY ts)) AS gap
    FROM events
)
SELECT event_type,
       MIN(gap) AS gap_min_us,
       MAX(gap) AS gap_max_us,
       CAST(floor(SUM(gap) / COUNT(*)) AS BIGINT) AS gap_avg_us_floor,
       COUNT(*) AS n_gaps
FROM gaps WHERE gap IS NOT NULL
GROUP BY event_type
"""


def value_anomaly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type anomaly census from a trailing-window z-score
    (operators/windows.py:rolling_zscore, frame = previous 5 events of the
    same user): rows scored, rows beyond |z| > 2, and the worst score.
    The one-step-ahead residual form of time-series outlier detection —
    exactly-decimal frame moments keep it engine-deterministic."""
    from platform_etl_drug_disease_spark.operators.windows import rolling_zscore

    ev = load_table(
        spark, sf_dir, "events", ["event_id", "ts", "user_id", "event_type", "value"]
    )
    scored = rolling_zscore(
        ev, ["user_id"], ["ts", "event_id"], "value", window_rows=5
    )
    return scored.groupBy("event_type").agg(
        F.count("z").alias("n_scored"),
        F.count(F.when(F.abs("z") > 2, 1)).alias("n_anomalies"),
        dround(F.max(F.abs("z")), 6).alias("max_abs_z"),
    )


_ANOMALY_SQL = """
WITH w AS (
    SELECT event_type, value,
           count(value) OVER fr AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER fr AS DOUBLE) AS s,
           CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)))
                OVER fr AS DOUBLE) AS ss
    FROM events
    WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)
), z AS (
    SELECT event_type,
           CASE WHEN n = 5 AND (ss - s * s / n) / (n - 1) > 0
                THEN (value - s / n) / sqrt((ss - s * s / n) / (n - 1))
           END AS z
    FROM w
)
SELECT event_type,
       CAST(count(z) AS BIGINT) AS n_scored,
       CAST(count(CASE WHEN abs(z) > 2 THEN 1 END) AS BIGINT) AS n_anomalies,
       floor(max(abs(z)) * 1e6 + 0.5) / 1e6 AS max_abs_z
FROM z GROUP BY event_type
"""


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict ORDERED funnel (view → click → purchase): a click counts only
    if some view of the same user precedes it, a purchase only if a
    qualifying click precedes it. Emits one row per stage with the user
    count and the conversion rate from the previous stage.

    Scale shape: ONE shuffle total. All three stages come from running
    conditional counts over a single ``(user_id, ts, event_id)`` window —
    consecutive window expressions share the partition spec, so Spark plans
    one Exchange + one Sort; the per-user groupBy that follows reuses the
    same hash partitioning (no second Exchange), and the final stage rollup
    is a 150-group aggregate. No per-stage self-joins — the classic
    funnel-as-3-joins shape shuffles the event table three times and
    explodes on users with many events; the running-flag form scans once.
    Ordering ties are pinned by event_id so both engines sort identically.
    """
    from platform_etl_drug_disease_spark.operators.windows import funnel_flags

    ev = load_table(
        spark, sf_dir, "events", ["event_id", "ts", "user_id", "event_type"]
    ).where(F.col("event_type").isin("view", "click", "purchase"))
    per_user = funnel_flags(
        ev,
        "user_id",
        ["ts", "event_id"],
        [
            ("view", F.col("event_type") == "view"),
            ("click", F.col("event_type") == "click"),
            ("purchase", F.col("event_type") == "purchase"),
        ],
    )
    totals = per_user.agg(
        F.count(F.when(F.col("reached_view"), 1)).alias("n_view"),
        F.count(F.when(F.col("reached_click"), 1)).alias("n_click"),
        F.count(F.when(F.col("reached_purchase"), 1)).alias("n_purchase"),
    )
    stages = totals.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("stage"),
                    F.lit("view").alias("stage_name"),
                    F.col("n_view").alias("users"),
                    F.col("n_view").alias("prev_users"),
                ),
                F.struct(
                    F.lit(2).alias("stage"),
                    F.lit("click").alias("stage_name"),
                    F.col("n_click").alias("users"),
                    F.col("n_view").alias("prev_users"),
                ),
                F.struct(
                    F.lit(3).alias("stage"),
                    F.lit("purchase").alias("stage_name"),
                    F.col("n_purchase").alias("users"),
                    F.col("n_click").alias("prev_users"),
                ),
            )
        ).alias("s")
    )
    return stages.select(
        "s.stage",
        "s.stage_name",
        "s.users",
        dround(
            F.col("s.users") / F.nullif(F.col("s.prev_users").cast("double"), F.lit(0.0)),
            6,
        ).alias("conversion"),
    )


_FUNNEL_SQL = """
WITH ev AS (
    SELECT user_id, ts, event_id, event_type
    FROM events WHERE event_type IN ('view', 'click', 'purchase')
), f1 AS (
    SELECT *,
           (event_type = 'click' AND
            SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) OVER fr > 0)
               AS q_click
    FROM ev
    WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), f2 AS (
    SELECT *,
           (event_type = 'purchase' AND
            SUM(CASE WHEN q_click THEN 1 ELSE 0 END) OVER fr > 0) AS q_purchase
    FROM f1
    WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), per_user AS (
    SELECT user_id,
           max(event_type = 'view') AS r_view,
           max(q_click) AS r_click,
           max(q_purchase) AS r_purchase
    FROM f2 GROUP BY user_id
), totals AS (
    SELECT CAST(count(CASE WHEN r_view THEN 1 END) AS BIGINT) AS n_view,
           CAST(count(CASE WHEN r_click THEN 1 END) AS BIGINT) AS n_click,
           CAST(count(CASE WHEN r_purchase THEN 1 END) AS BIGINT) AS n_purchase
    FROM per_user
)
SELECT stage, stage_name, users,
       floor(users / nullif(CAST(prev_users AS DOUBLE), 0.0) * 1e6 + 0.5) / 1e6
           AS conversion
FROM (
    SELECT 1 AS stage, 'view' AS stage_name, n_view AS users,
           n_view AS prev_users FROM totals
    UNION ALL
    SELECT 2, 'click', n_click, n_view FROM totals
    UNION ALL
    SELECT 3, 'purchase', n_purchase, n_click FROM totals
)
"""


def order_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix over orders: customers are cohorted by the
    month of their FIRST order; each later month they order again counts
    them active at that month offset. Emits (cohort_month, month_offset,
    n_active, retention-vs-cohort-size) for offsets ≤ 12.

    Scale shape: the cohort month comes from a min-window over the
    customer-keyed Exchange, and the following (customer, offset) dedup
    aggregate REUSES that partitioning (its clustering contains the window
    key, so Catalyst plans no second Exchange for it) — the fact table
    shuffles once. Everything after is cohort×offset-sized. The
    self-join formulation (orders ⋈ first-orders) shuffles twice and
    carries the fact table through both; this form carries it once."""
    orders = load_table(spark, sf_dir, "orders", ["o_custkey", "o_orderdate"])
    om = F.date_trunc("month", F.col("o_orderdate"))
    w = Window.partitionBy("o_custkey")
    df = (
        orders.select("o_custkey", om.alias("om"))
        .withColumn("cohort_month", F.min("om").over(w))
        .withColumn(
            "month_offset",
            F.months_between(F.col("om"), F.col("cohort_month")).cast("int"),
        )
        .where(F.col("month_offset") <= 12)
    )
    active = df.groupBy("o_custkey", "cohort_month", "month_offset").agg(
        F.lit(1).alias("_one")
    )
    # cohort×offset-sized — persist so the sizes branch doesn't re-run the
    # fact-table window/dedup subtree a second time.
    counts = active.groupBy("cohort_month", "month_offset").agg(
        F.count(F.lit(1)).alias("n_active")
    ).persist()
    sizes = counts.where(F.col("month_offset") == 0).select(
        "cohort_month", F.col("n_active").alias("cohort_size")
    )
    return counts.join(F.broadcast(sizes), "cohort_month").select(
        # string month: raw timestamps land as ns-vs-us dtypes in the
        # driver's pandas canonicalizer and hash-mismatch on equal values
        F.date_format("cohort_month", "yyyy-MM").alias("cohort"),
        "month_offset",
        "n_active",
        dround(F.col("n_active") / F.col("cohort_size").cast("double"), 6).alias(
            "retention"
        ),
    )


_COHORT_SQL = """
WITH df AS (
    SELECT o_custkey,
           date_trunc('month', o_orderdate) AS om,
           min(date_trunc('month', o_orderdate))
               OVER (PARTITION BY o_custkey) AS cohort_month
    FROM orders
), offs AS (
    SELECT DISTINCT o_custkey, cohort_month,
           CAST(datediff('month', cohort_month, om) AS INTEGER) AS month_offset
    FROM df
    WHERE datediff('month', cohort_month, om) <= 12
), counts AS (
    SELECT cohort_month, month_offset, CAST(count(*) AS BIGINT) AS n_active
    FROM offs GROUP BY 1, 2
), sizes AS (
    SELECT cohort_month, n_active AS cohort_size FROM counts
    WHERE month_offset = 0
)
SELECT strftime(c.cohort_month, '%Y-%m') AS cohort, c.month_offset, c.n_active,
       floor(c.n_active / CAST(s.cohort_size AS DOUBLE) * 1e6 + 0.5) / 1e6
           AS retention
FROM counts c JOIN sizes s USING (cohort_month)
"""


def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the event stream: for every
    (prev_type → next_type) pair of consecutive events of the same user,
    the transition count and probability. The path-analysis primitive
    behind "what do users do after an error?".

    Scale shape: one user-keyed window (lag) — the same single Exchange as
    sessionization — then a |types|² aggregate; transition probabilities
    divide exact counts inside the tiny post-agg table (per-prev totals via
    a second aggregation broadcast back, never a corpus-wide window)."""
    ev = load_table(spark, sf_dir, "events", ["event_id", "ts", "user_id", "event_type"])
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("prev_type", F.lag("event_type", 1).over(w))
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    ).persist()  # |types|²-sized; consumed by totals + the final join
    totals = pairs.groupBy("prev_type").agg(F.sum("n").alias("n_prev"))
    return pairs.join(F.broadcast(totals), "prev_type").select(
        "prev_type",
        "next_type",
        "n",
        dround(F.col("n") / F.col("n_prev").cast("double"), 6).alias("p"),
    )


_TRANSITION_SQL = """
WITH pairs AS (
    SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type,
           event_type AS next_type
    FROM events
), counts AS (
    SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
    FROM pairs WHERE prev_type IS NOT NULL GROUP BY 1, 2
), totals AS (
    SELECT prev_type, SUM(n) AS n_prev FROM counts GROUP BY prev_type
)
SELECT c.prev_type, c.next_type, c.n,
       floor(c.n / CAST(t.n_prev AS DOUBLE) * 1e6 + 0.5) / 1e6 AS p
FROM counts c JOIN totals t USING (prev_type)
"""


def time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user TIME-WEIGHTED mean of the value signal: each reading is
    weighted by how long it was current (seconds until the next event of
    that user) — the correct average for irregularly sampled series, where
    the plain mean over-weights bursts. Last reading of a user carries no
    interval and is excluded.

    One user-keyed window (lead) + per-user aggregate on the SAME key —
    the aggregate reuses the window's Exchange. Weighted sums accumulate as
    exact decimals (value·seconds), so the division is the only float op."""
    ev = load_table(spark, sf_dir, "events", ["event_id", "ts", "user_id", "value"])
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond integers on BOTH engines — unix_timestamp() truncates to
    # seconds while DuckDB epoch() keeps the fraction, which skews weights.
    dt = (
        F.unix_micros(F.lead("ts", 1).over(w)) - F.unix_micros("ts")
    ).alias("dt")
    rows = ev.select("user_id", "value", dt).where(F.col("dt").isNotNull())
    d = "decimal(38,0)"
    v6 = F.round(F.col("value") * 1e6).cast(d)  # value in 1e-6 units, exact
    num = F.sum(v6 * F.col("dt").cast(d))
    den = F.sum(F.col("dt").cast(d))
    return rows.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        dround(
            num.cast("double") / den.cast("double") / F.lit(1e6),
            6,
        ).alias("time_weighted_value"),
    )


_TW_VALUE_SQL = """
WITH rows_ AS (
    SELECT user_id, value,
           epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
               - epoch_us(ts) AS dt
    FROM events
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_intervals,
       floor(CAST(SUM(CAST(round(value * 1e6) AS HUGEINT) * CAST(dt AS HUGEINT))
                  AS DOUBLE)
             / CAST(SUM(CAST(dt AS HUGEINT)) AS DOUBLE) / 1e6 * 1e6 + 0.5) / 1e6
           AS time_weighted_value
FROM rows_ WHERE dt IS NOT NULL
GROUP BY user_id
"""




def funnel_latency_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert through the strict funnel: among users whose
    purchase QUALIFIED (view → click → purchase in order), the latency
    from first view to first qualifying purchase. One row: converter
    count, mean (microsecond-exact decimal sum), min/max, and the exact
    median by sorted-array indexing (no interpolation — engine-identical).

    Scale note: per-user reduction happens first, so the latency table is
    one row per converter. The median's single collect_list group is the
    exact-order-statistic form (same contract as price_quantiles_per_flag);
    for converter populations too large for one group's state, swap in
    approx_percentile (t-digest) — the surrounding plan is unchanged."""
    from platform_etl_drug_disease_spark.operators.windows import funnel_flags

    ev = load_table(
        spark, sf_dir, "events", ["event_id", "ts", "user_id", "event_type"]
    ).where(F.col("event_type").isin("view", "click", "purchase"))
    per_user = funnel_flags(
        ev,
        "user_id",
        ["ts", "event_id"],
        [
            ("view", F.col("event_type") == "view"),
            ("click", F.col("event_type") == "click"),
            ("purchase", F.col("event_type") == "purchase"),
        ],
        time_col="ts",
    )
    lat = per_user.where(F.col("reached_purchase")).select(
        (
            F.unix_micros("first_purchase_at") - F.unix_micros("first_view_at")
        ).alias("us")
    )
    hours = F.lit(3600.0 * 1e6)
    arr = F.sort_array(F.collect_list("us"))
    return lat.agg(
        F.count(F.lit(1)).alias("n_converters"),
        dround(
            F.sum(F.col("us").cast("decimal(38,0)")).cast("double")
            / F.count(F.lit(1))
            / hours,
            6,
        ).alias("mean_hours"),
        dround(F.min("us") / hours, 6).alias("min_hours"),
        dround(F.max("us") / hours, 6).alias("max_hours"),
        dround(
            F.element_at(arr, ((F.size(arr) + 1) / 2).cast("int")) / hours, 6
        ).alias("median_hours"),
    )


_FUNNEL_LATENCY_SQL = """
WITH ev AS (
    SELECT user_id, ts, event_id, event_type
    FROM events WHERE event_type IN ('view', 'click', 'purchase')
), f1 AS (
    SELECT *,
           (event_type = 'click' AND
            SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) OVER fr > 0)
               AS q_click
    FROM ev
    WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), f2 AS (
    SELECT *,
           (event_type = 'purchase' AND
            SUM(CASE WHEN q_click THEN 1 ELSE 0 END) OVER fr > 0) AS q_purchase
    FROM f1
    WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), per_user AS (
    SELECT user_id,
           max(q_purchase) AS r_purchase,
           min(CASE WHEN event_type = 'view' THEN ts END) AS first_view_at,
           min(CASE WHEN q_purchase THEN ts END) AS first_purchase_at
    FROM f2 GROUP BY user_id
), lat AS (
    SELECT epoch_us(first_purchase_at) - epoch_us(first_view_at) AS us
    FROM per_user WHERE r_purchase
)
SELECT CAST(count(*) AS BIGINT) AS n_converters,
       floor(CAST(SUM(CAST(us AS HUGEINT)) AS DOUBLE) / count(*)
             / (3600.0 * 1e6) * 1e6 + 0.5) / 1e6 AS mean_hours,
       floor(min(us) / (3600.0 * 1e6) * 1e6 + 0.5) / 1e6 AS min_hours,
       floor(max(us) / (3600.0 * 1e6) * 1e6 + 0.5) / 1e6 AS max_hours,
       floor(list_sort(list(us))[CAST(floor((count(*) + 1) / 2) AS BIGINT)]
             / (3600.0 * 1e6) * 1e6 + 0.5) / 1e6 AS median_hours
FROM lat
"""




def value_drift_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user drift range of the value signal: the running sum of
    deviations from the GLOBAL mean, tracked per user in event order; the
    spread max(R)-min(R) is the CUSUM-style drift statistic (a user whose
    values sit persistently above/below the corpus mean accumulates a wide
    range; noise cancels). Everything stays EXACT integer arithmetic until
    one final division: deviations are computed as n·v − S (value scaled
    1e-6, n and S the global count/sum), so the running sums are exact
    decimals in both engines.

    One broadcast of the 1-row global total + one user-keyed window; the
    per-user aggregate reuses the window partitioning."""
    ev = load_table(
        spark, sf_dir, "events", ["event_id", "ts", "user_id", "value"]
    )
    d = "decimal(38,0)"
    v6 = F.round(F.col("value") * 1e6).cast(d)
    rows = ev.select("user_id", "ts", "event_id", v6.alias("v6"))
    totals = rows.agg(
        F.count(F.lit(1)).cast(d).alias("n"), F.sum("v6").alias("s6")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = F.sum(F.col("n") * F.col("v6") - F.col("s6")).over(w)
    scored = rows.crossJoin(F.broadcast(totals)).withColumn("run", run)
    return scored.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        dround(
            (F.max("run") - F.min("run")).cast("double")
            / (F.max("n").cast("double") * 1e6),
            6,
        ).alias("drift_range"),
    )


_DRIFT_RANGE_SQL = """
WITH rows_ AS (
    SELECT user_id, ts, event_id,
           CAST(round(value * 1e6) AS HUGEINT) AS v6
    FROM events
), totals AS (
    SELECT CAST(count(*) AS HUGEINT) AS n, SUM(v6) AS s6 FROM rows_
), scored AS (
    SELECT user_id,
           SUM(n * v6 - s6) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run,
           n
    FROM rows_ CROSS JOIN totals
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       floor(CAST(max(run) - min(run) AS DOUBLE)
             / (CAST(max(n) AS DOUBLE) * 1e6) * 1e6 + 0.5) / 1e6
           AS drift_range
FROM scored GROUP BY user_id
"""




def seasonal_hour_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal profile per event type: each (type, hour) cell
    gets its event count, mean value, and a z-score of the hour's mean
    against the type's overall distribution — the baseline table used to
    judge "is 3am traffic abnormal for clicks?". All moments are exact
    integer sums (value scaled 1e-6); the only floats are the final
    divisions and one sqrt, identical in both engines.

    One map-side-combinable aggregate over the fact table; the z-scores are
    computed on the 120-row profile with a broadcast of the 5-row per-type
    moment table."""
    ev = load_table(spark, sf_dir, "events", ["ts", "event_type", "value"])
    d = "decimal(38,0)"
    v6 = F.round(F.col("value") * 1e6).cast(d)
    cells = (
        ev.select(
            "event_type",
            F.hour("ts").alias("hour"),
            v6.alias("v6"),
        )
        .groupBy("event_type", "hour")
        .agg(
            F.count(F.lit(1)).cast(d).alias("n"),
            F.sum("v6").alias("s"),
            F.sum(F.col("v6") * F.col("v6")).alias("ss"),
        )
    ).persist()  # 120 rows; consumed by the per-type rollup and the join
    types = cells.groupBy("event_type").agg(
        F.sum("n").alias("tn"), F.sum("s").alias("ts_"), F.sum("ss").alias("tss")
    )
    j = cells.join(F.broadcast(types), "event_type")
    mean_h = F.col("s").cast("double") / F.col("n").cast("double") / 1e6
    mean_t = F.col("ts_").cast("double") / F.col("tn").cast("double") / 1e6
    var_t = (
        (F.col("tn") * F.col("tss") - F.col("ts_") * F.col("ts_")).cast("double")
        / (F.col("tn") * F.col("tn")).cast("double")
        / 1e12
    )
    return j.select(
        "event_type",
        "hour",
        F.col("n").cast("bigint").alias("n_events"),
        dround(mean_h, 6).alias("mean_value"),
        dround((mean_h - mean_t) / F.sqrt(var_t), 6).alias("z_vs_type"),
    )


_SEASONAL_SQL = """
WITH cells AS (
    SELECT event_type, CAST(hour(ts) AS INTEGER) AS hour,
           CAST(count(*) AS HUGEINT) AS n,
           SUM(CAST(round(value * 1e6) AS HUGEINT)) AS s,
           SUM(CAST(round(value * 1e6) AS HUGEINT)
               * CAST(round(value * 1e6) AS HUGEINT)) AS ss
    FROM events GROUP BY 1, 2
), types AS (
    SELECT event_type, SUM(n) AS tn, SUM(s) AS ts_, SUM(ss) AS tss
    FROM cells GROUP BY event_type
)
SELECT c.event_type, c.hour,
       CAST(c.n AS BIGINT) AS n_events,
       floor(CAST(c.s AS DOUBLE) / CAST(c.n AS DOUBLE) / 1e6 * 1e6 + 0.5) / 1e6
           AS mean_value,
       floor((CAST(c.s AS DOUBLE) / CAST(c.n AS DOUBLE) / 1e6
              - CAST(t.ts_ AS DOUBLE) / CAST(t.tn AS DOUBLE) / 1e6)
             / sqrt(CAST(t.tn * t.tss - t.ts_ * t.ts_ AS DOUBLE)
                    / CAST(t.tn * t.tn AS DOUBLE) / 1e12)
             * 1e6 + 0.5) / 1e6 AS z_vs_type
FROM cells c JOIN types t USING (event_type)
"""




def top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 user-journey patterns: sessionize (30-min gap), render each
    session's first 10 event types as an ordered path string, count
    identical journeys corpus-wide. The sequence-mining primitive behind
    "what do typical sessions look like?".

    Scale shape: session ids come from the standard lag+cumsum window (one
    user-keyed shuffle, reused by the per-session aggregation since the
    session key starts with user_id); paths are built by sorting the
    per-session struct array (collect_list order is NOT deterministic —
    sort_array over (ts, event_id, type) structs is, in both engines).
    Top-20 via orderBy+limit = TakeOrdered, no global sort materialization."""
    ev = load_table(
        spark, sf_dir, "events", ["event_id", "ts", "user_id", "event_type"]
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts", 1).over(w))
    marked = ev.withColumn(
        "is_start", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    ).withColumn(
        "session_no",
        F.sum("is_start").over(
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    paths = (
        marked.groupBy("user_id", "session_no")
        .agg(
            F.concat_ws(
                ">",
                F.slice(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct("ts", "event_id", "event_type")
                            )
                        ),
                        lambda st: st["event_type"],
                    ),
                    1,
                    10,
                ),
            ).alias("path")
        )
    )
    counts = paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_sessions"))
    return counts.orderBy(F.col("n_sessions").desc(), "path").limit(20)


_SESSION_PATHS_SQL = """
WITH gaps AS (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) IS NULL
                  OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                THEN 1 ELSE 0 END AS is_start
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
    SELECT *, SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_no
    FROM gaps
), paths AS (
    SELECT user_id, session_no,
           array_to_string(list(event_type ORDER BY ts, event_id)[1:10], '>')
               AS path
    FROM sess GROUP BY user_id, session_no
)
SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT 20
"""




def hourly_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-seasonality strength per event type: the Pearson correlation
    of the hourly count series with itself 24 hours earlier (lag-24
    autocorrelation). Near 1 → strong daily rhythm; near 0 → arrivals are
    memoryless at the day scale.

    Hourly counts are INTEGERS, so the whole ACF runs on exact integer
    moments (same closed form as price_quantity_corr): one fact aggregate
    to the (type, hour) series, a per-type lag window over that tiny
    series, one moment aggregate. No floats until the final ratio."""
    ev = load_table(spark, sf_dir, "events", ["ts", "event_type"])
    hours = (
        ev.select("event_type", F.date_trunc("hour", "ts").alias("h"))
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("event_type").orderBy("h")
    d = "decimal(38,0)"
    paired = (
        hours.withColumn("c_prev", F.lag("c", 24).over(w))
        .withColumn("h_prev", F.lag("h", 24).over(w))
        # lag-24 ROWS == lag-24 HOURS only when the series is dense; guard
        # against gaps so both engines pair identical (x, y) sets
        .where(
            F.col("c_prev").isNotNull()
            & (F.col("h_prev") == F.col("h") - F.expr("INTERVAL 24 HOURS"))
        )
        .select(
            "event_type",
            F.col("c").cast(d).alias("x"),
            F.col("c_prev").cast(d).alias("y"),
        )
    )
    g = paired.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(d).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
        F.sum(F.col("y") * F.col("y")).alias("sy2"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx = (F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")).cast("double")
    deny = (F.col("n") * F.col("sy2") - F.col("sy") * F.col("sy")).cast("double")
    return g.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_pairs"),
        dround(num / F.sqrt(denx * deny) + F.lit(1.0), 6).alias("acf24_p1"),
    )


_AUTOCORR_SQL = """
WITH hours_ AS (
    SELECT event_type, date_trunc('hour', ts) AS h,
           CAST(count(*) AS HUGEINT) AS c
    FROM events GROUP BY 1, 2
), paired AS (
    SELECT event_type, c AS x, c_prev AS y FROM (
        SELECT event_type, h, c,
               lag(c, 24) OVER w AS c_prev,
               lag(h, 24) OVER w AS h_prev
        FROM hours_ WINDOW w AS (PARTITION BY event_type ORDER BY h)
    ) WHERE c_prev IS NOT NULL AND h_prev = h - INTERVAL 24 HOURS
), m AS (
    SELECT event_type,
           CAST(count(*) AS HUGEINT) AS n,
           SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy,
           SUM(x*x) AS sx2, SUM(y*y) AS sy2
    FROM paired GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_pairs,
       floor((CAST(n * sxy - sx * sy AS DOUBLE)
              / sqrt(CAST(n * sx2 - sx * sx AS DOUBLE)
                     * CAST(n * sy2 - sy * sy AS DOUBLE)) + 1.0)
             * 1e6 + 0.5) / 1e6 AS acf24_p1
FROM m
"""




def hourly_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification audit per event type: materialize the FULL
    hourly calendar between each type's first and last event (sequence +
    explode — the gap-filling step every time-series op needs before
    lag-k/rolling logic is trustworthy), left-join the observed counts, and
    report coverage: hours in span, hours with data, missing hours, and
    the longest missing streak (gaps-and-islands over the dense series).

    Scale shape: the dense calendar is |types| × span-hours rows —
    generated, not shuffled from the fact table; observed counts join on
    (type, hour); the streak window runs per type over the dense series."""
    ev = load_table(spark, sf_dir, "events", ["ts", "event_type"])
    obs = (
        ev.select("event_type", F.date_trunc("hour", "ts").alias("h"))
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).alias("c"))
    ).persist()  # consumed by span bounds + the dense-series join
    span = obs.groupBy("event_type").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    dense = span.select(
        "event_type",
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("h"),
    )
    joined = dense.join(obs, ["event_type", "h"], "left").select(
        "event_type", "h", F.col("c").isNull().cast("int").alias("missing")
    )
    w = Window.partitionBy("event_type").orderBy("h")
    # gaps-and-islands: group id = running count of PRESENT hours; rows of
    # one missing streak share it
    grp = F.sum(1 - F.col("missing")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    streaks = (
        joined.withColumn("g", grp)
        .where(F.col("missing") == 1)
        .groupBy("event_type", "g")
        .agg(F.count(F.lit(1)).alias("streak"))
    )
    per_type = joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours_span"),
        F.sum(1 - F.col("missing")).cast("bigint").alias("n_hours_present"),
        F.sum("missing").cast("bigint").alias("n_hours_missing"),
    )
    longest = streaks.groupBy("event_type").agg(
        F.max("streak").alias("longest_gap_hours")
    )
    return per_type.join(longest, "event_type", "left").withColumn(
        "longest_gap_hours", F.coalesce("longest_gap_hours", F.lit(0))
    )


_GAP_AUDIT_SQL = """
WITH obs AS (
    SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS c
    FROM events GROUP BY 1, 2
), span AS (
    SELECT event_type, min(h) AS h0, max(h) AS h1 FROM obs GROUP BY event_type
), dense AS (
    SELECT s.event_type, g.h
    FROM span s, LATERAL (
        SELECT unnest(generate_series(s.h0, s.h1, INTERVAL 1 HOUR)) AS h
    ) g
), joined AS (
    SELECT d.event_type, d.h,
           CASE WHEN o.c IS NULL THEN 1 ELSE 0 END AS missing
    FROM dense d LEFT JOIN obs o ON o.event_type = d.event_type AND o.h = d.h
), grouped AS (
    SELECT *, SUM(1 - missing) OVER (PARTITION BY event_type ORDER BY h
                                     ROWS UNBOUNDED PRECEDING) AS g
    FROM joined
), streaks AS (
    SELECT event_type, g, count(*) AS streak
    FROM grouped WHERE missing = 1 GROUP BY event_type, g
), per_type AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_hours_span,
           CAST(SUM(1 - missing) AS BIGINT) AS n_hours_present,
           CAST(SUM(missing) AS BIGINT) AS n_hours_missing
    FROM joined GROUP BY event_type
)
SELECT p.event_type, p.n_hours_span, p.n_hours_present, p.n_hours_missing,
       COALESCE((SELECT CAST(max(streak) AS BIGINT) FROM streaks st
                 WHERE st.event_type = p.event_type), 0) AS longest_gap_hours
FROM per_type p
"""




def hourly_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification WITH linear interpolation — the repair step
    downstream of ``hourly_gap_audit``: materialize every hour in each event
    type's span, and fill missing hours' mean value by interpolating between
    the nearest observed hours (leading/trailing gaps stay NULL — there is
    nothing to anchor them to).

    Scale shape: hourly means are one groupBy over the fact table
    (decimal-exact sums, so the fill values are engine-deterministic); the
    dense calendar is |types| × span-hours GENERATED rows; the prev/next
    anchors are two ignore-nulls window passes over that bounded dense
    series, never over raw events. Interpolation is pure row-local IEEE
    arithmetic — identical bits on any engine evaluating the same
    expression."""
    ev = load_table(spark, sf_dir, "events", ["ts", "event_type", "value"])
    obs = (
        ev.select("event_type", F.date_trunc("hour", "ts").alias("hour_ts"), "value")
        .groupBy("event_type", "hour_ts")
        .agg((dsum("value") / F.count("value")).alias("v"))
    ).persist()  # consumed by span bounds + the dense-series join
    span = obs.groupBy("event_type").agg(
        F.min("hour_ts").alias("h0"), F.max("hour_ts").alias("h1")
    )
    dense = span.select(
        "event_type",
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias(
            "hour_ts"
        ),
    )
    j = dense.join(obs, ["event_type", "hour_ts"], "left")
    w = Window.partitionBy("event_type").orderBy("hour_ts")
    wprev = w.rowsBetween(Window.unboundedPreceding, 0)
    wnext = w.rowsBetween(0, Window.unboundedFollowing)
    known_h = F.when(F.col("v").isNotNull(), F.col("hour_ts"))
    j = j.select(
        "event_type",
        "hour_ts",
        "v",
        F.last("v", ignorenulls=True).over(wprev).alias("pv"),
        F.last(known_h, ignorenulls=True).over(wprev).alias("ph"),
        F.first("v", ignorenulls=True).over(wnext).alias("nv"),
        F.first(known_h, ignorenulls=True).over(wnext).alias("nh"),
    )
    frac = (
        (F.unix_timestamp("hour_ts") - F.unix_timestamp("ph")).cast("double")
        / (F.unix_timestamp("nh") - F.unix_timestamp("ph")).cast("double")
    )
    filled = F.when(F.col("v").isNotNull(), F.col("v")).otherwise(
        F.col("pv") + (F.col("nv") - F.col("pv")) * frac
    )
    return j.select(
        "event_type",
        F.date_format("hour_ts", "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
        filled.alias("value_filled"),
        F.col("v").isNull().cast("int").alias("was_missing"),
    )


_GAP_FILL_SQL = """
WITH obs AS (
    SELECT event_type, date_trunc('hour', ts) AS hour_ts,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value) AS v
    FROM events GROUP BY 1, 2
), span AS (
    SELECT event_type, min(hour_ts) AS h0, max(hour_ts) AS h1
    FROM obs GROUP BY event_type
), dense AS (
    SELECT s.event_type, g.hour_ts
    FROM span s, LATERAL (
        SELECT unnest(generate_series(s.h0, s.h1, INTERVAL 1 HOUR)) AS hour_ts
    ) g
), anchored AS (
    SELECT d.event_type, d.hour_ts, o.v,
           LAST_VALUE(o.v IGNORE NULLS) OVER wp AS pv,
           LAST_VALUE(CASE WHEN o.v IS NOT NULL THEN d.hour_ts END IGNORE NULLS)
               OVER wp AS ph,
           FIRST_VALUE(o.v IGNORE NULLS) OVER wn AS nv,
           FIRST_VALUE(CASE WHEN o.v IS NOT NULL THEN d.hour_ts END IGNORE NULLS)
               OVER wn AS nh
    FROM dense d
    LEFT JOIN obs o ON o.event_type = d.event_type AND o.hour_ts = d.hour_ts
    WINDOW wp AS (PARTITION BY d.event_type ORDER BY d.hour_ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           wn AS (PARTITION BY d.event_type ORDER BY d.hour_ts
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type,
       strftime(hour_ts, '%Y-%m-%d %H:%M:%S') AS hour_ts,
       CASE WHEN v IS NOT NULL THEN v
            ELSE pv + (nv - pv) *
                 (CAST(date_diff('second', ph, hour_ts) AS DOUBLE)
                  / CAST(date_diff('second', ph, nh) AS DOUBLE))
       END AS value_filled,
       CAST(v IS NULL AS INT) AS was_missing
FROM anchored
"""


def funnel_conversion_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-window funnel: like ``funnel_conversion`` but a stage
    only qualifies if the prior stage happened within the last 24 HOURS —
    the attribution-window semantics real funnels use (a purchase a month
    after the click doesn't credit the click).

    The strict-order running flags become RANGE-framed window counts over
    event-time micros (24h preceding up to 1µs before the current row), so
    the whole funnel is still ONE user-keyed shuffle. Frames are defined on
    the microsecond axis identically in both engines."""
    day_us = 24 * 3600 * 1000000
    ev = (
        load_table(
            spark, sf_dir, "events", ["event_id", "ts", "user_id", "event_type"]
        )
        .where(F.col("event_type").isin("view", "click", "purchase"))
        .withColumn("us", F.unix_micros("ts"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-day_us, -1)
    )
    prior_views = F.sum(
        F.when(F.col("event_type") == "view", 1).otherwise(0)
    ).over(w)
    flagged = ev.withColumn(
        "q_click", (F.col("event_type") == "click") & (prior_views > 0)
    )
    prior_q_clicks = F.sum(F.col("q_click").cast("int")).over(w)
    flagged = flagged.withColumn(
        "q_purchase", (F.col("event_type") == "purchase") & (prior_q_clicks > 0)
    )
    per_user = flagged.groupBy("user_id").agg(
        F.max(F.col("event_type") == "view").alias("r_view"),
        F.max("q_click").alias("r_click"),
        F.max("q_purchase").alias("r_purchase"),
    )
    return per_user.agg(
        F.count(F.when(F.col("r_view"), 1)).alias("n_view"),
        F.count(F.when(F.col("r_click"), 1)).alias("n_click_24h"),
        F.count(F.when(F.col("r_purchase"), 1)).alias("n_purchase_24h"),
    )


_FUNNEL_WINDOWED_SQL = """
WITH ev AS (
    SELECT user_id, epoch_us(ts) AS us, event_type
    FROM events WHERE event_type IN ('view', 'click', 'purchase')
), f1 AS (
    SELECT *,
           (event_type = 'click' AND
            COALESCE(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                     OVER fr, 0) > 0) AS q_click
    FROM ev
    WINDOW fr AS (PARTITION BY user_id ORDER BY us
                  RANGE BETWEEN 86400000000 PRECEDING AND 1 PRECEDING)
), f2 AS (
    SELECT *,
           (event_type = 'purchase' AND
            COALESCE(SUM(CASE WHEN q_click THEN 1 ELSE 0 END) OVER fr, 0) > 0)
               AS q_purchase
    FROM f1
    WINDOW fr AS (PARTITION BY user_id ORDER BY us
                  RANGE BETWEEN 86400000000 PRECEDING AND 1 PRECEDING)
), per_user AS (
    SELECT user_id,
           max(event_type = 'view') AS r_view,
           max(q_click) AS r_click,
           max(q_purchase) AS r_purchase
    FROM f2 GROUP BY user_id
)
SELECT CAST(count(CASE WHEN r_view THEN 1 END) AS BIGINT) AS n_view,
       CAST(count(CASE WHEN r_click THEN 1 END) AS BIGINT) AS n_click_24h,
       CAST(count(CASE WHEN r_purchase THEN 1 END) AS BIGINT) AS n_purchase_24h
FROM per_user
"""




def cumulative_users_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth curve: per day, first-time users and the cumulative distinct
    user count to date. The distinct-to-date series does NOT need a
    per-day distinct over growing prefixes (quadratic): each user reduces
    to a first-seen day, days aggregate new-user counts, and one running
    sum over the ~30-row day series yields the cumulative curve."""
    ev = load_table(spark, sf_dir, "events", ["ts", "user_id"])
    first_seen = ev.groupBy("user_id").agg(
        F.date_format(F.date_trunc("day", F.min("ts")), "yyyy-MM-dd").alias("day")
    )
    daily = first_seen.groupBy("day").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.partitionBy().orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return daily.select(
        "day",
        "new_users",
        F.sum("new_users").over(w).cast("bigint").alias("cumulative_users"),
    )


_CUMULATIVE_SQL = """
WITH first_seen AS (
    SELECT user_id,
           strftime(date_trunc('day', min(ts)), '%Y-%m-%d') AS day
    FROM events GROUP BY user_id
), daily AS (
    SELECT day, CAST(count(*) AS BIGINT) AS new_users
    FROM first_seen GROUP BY day
)
SELECT day, new_users,
       CAST(SUM(new_users) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS cumulative_users
FROM daily
"""




def event_props_map_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP-typed column operators end to end: build a per-event
    map<string,string> from heterogeneous attributes (``create_map``),
    drop null-valued entries with the ``map_filter`` HOF (the "sparse
    attributes" idiom — absent keys instead of null values), explode the
    entries, and profile each key's entry count and value cardinality.
    The semi-structured attribute-bag audit for event streams whose
    property sets vary by event.

    Map construction and filtering are JVM expressions in the scan
    projection; the only shuffle is the |keys|-sized profile aggregate.
    The oracle replicates each key family relationally — same rows, no
    map type needed on the DuckDB side."""
    ev = load_table(spark, sf_dir, "events", ["event_type", "value", "props"])
    m = F.map_filter(
        F.create_map(
            F.lit("etype"), F.col("event_type"),
            F.lit("k"), F.get_json_object("props", "$.k"),
            F.lit("vband"),
            F.when(F.col("value") >= 50, F.lit("high")).otherwise(
                F.lit(None).cast("string")
            ),
        ),
        lambda k, v: v.isNotNull(),
    )
    entries = ev.select(F.explode(m).alias("key", "val"))
    return entries.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_entries"),
        F.countDistinct("val").alias("n_distinct_values"),
    )


_PROPS_MAP_SQL = """
WITH entries AS (
    SELECT 'etype' AS key, event_type AS val FROM events
    UNION ALL
    SELECT 'k', json_extract_string(props, '$.k') FROM events
    WHERE json_extract_string(props, '$.k') IS NOT NULL
    UNION ALL
    SELECT 'vband', 'high' FROM events WHERE value >= 50
)
SELECT key,
       CAST(count(*) AS BIGINT) AS n_entries,
       CAST(count(DISTINCT val) AS BIGINT) AS n_distinct_values
FROM entries GROUP BY key
"""




def variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-schema ingestion via the VARIANT type (Spark 4): ``parse_json``
    once into a binary-encoded variant column, then typed ``variant_get``
    paths at query time — the modern semi-structured path that replaces
    per-query string re-parsing (get_json_object re-parses the text for
    every extraction; a variant parses once and serves any number of typed
    path reads). Per event type: rows with k, sum/max of k read AS LONG
    through the variant, and the dominant inferred variant schema.

    The oracle reads the same paths with DuckDB's JSON extraction — the
    engines' storage differs (that's the point: VARIANT is engine-side
    encoding), the VALUES must not."""
    ev = load_table(spark, sf_dir, "events", ["event_type", "props"])
    v = ev.select("event_type", F.parse_json("props").alias("v"))
    typed = v.select(
        "event_type",
        F.variant_get("v", "$.k", "long").alias("k"),
        F.schema_of_variant("v").alias("sch"),
    )
    return typed.groupBy("event_type").agg(
        F.count("k").alias("n_with_k"),
        F.sum("k").alias("k_sum"),
        F.max("k").alias("k_max"),
        F.max("sch").alias("variant_schema"),
    )


_VARIANT_SQL = """
SELECT event_type,
       COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
           AS k_sum,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max,
       'OBJECT<k: BIGINT>' AS variant_schema
FROM events GROUP BY event_type
"""




def value_moments_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-moment profile per event type: mean, variance, skewness, and
    excess kurtosis from ONE pass of exact integer raw moments (value in
    1e-2 units so even the 4th-power sums stay far inside 38-digit
    integers at any realistic scale). The shape audit that tells a
    heavy-tailed value distribution from a Gaussian one before anyone
    trusts a z-score threshold."""
    ev = load_table(spark, sf_dir, "events", ["event_type", "value"])
    d = "decimal(38,0)"
    x = F.round(F.col("value") * 100).cast(d)
    g = ev.select("event_type", x.alias("x")).groupBy("event_type").agg(
        F.count(F.lit(1)).cast(d).alias("n"),
        F.sum("x").alias("s1"),
        F.sum(F.col("x") * F.col("x")).alias("s2"),
        F.sum(F.col("x") * F.col("x") * F.col("x")).alias("s3"),
        F.sum(F.col("x") * F.col("x") * F.col("x") * F.col("x")).alias("s4"),
    )
    n = F.col("n").cast("double")
    m1 = F.col("s1").cast("double") / n
    m2 = F.col("s2").cast("double") / n
    m3 = F.col("s3").cast("double") / n
    m4 = F.col("s4").cast("double") / n
    var = m2 - m1 * m1
    mu3 = m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1
    mu4 = m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2 - 3 * m1 * m1 * m1 * m1
    return g.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_events"),
        dround(m1 / F.lit(100.0), 6).alias("mean"),
        dround(var / F.lit(10000.0), 6).alias("variance"),
        # skewness can be negative; kurtosis−3 likewise → shift by +10
        dround(mu3 / (var * F.sqrt(var)) + F.lit(10.0), 6).alias("skew_p10"),
        dround(mu4 / (var * var) - F.lit(3.0) + F.lit(10.0), 6).alias(
            "ex_kurtosis_p10"
        ),
    )


_MOMENTS_SQL = """
WITH g AS (
    SELECT event_type,
           CAST(count(*) AS HUGEINT) AS n,
           SUM(CAST(round(value * 100) AS HUGEINT)) AS s1,
           SUM(CAST(round(value * 100) AS HUGEINT)
               * CAST(round(value * 100) AS HUGEINT)) AS s2,
           SUM(CAST(round(value * 100) AS HUGEINT)
               * CAST(round(value * 100) AS HUGEINT)
               * CAST(round(value * 100) AS HUGEINT)) AS s3,
           SUM(CAST(round(value * 100) AS HUGEINT)
               * CAST(round(value * 100) AS HUGEINT)
               * CAST(round(value * 100) AS HUGEINT)
               * CAST(round(value * 100) AS HUGEINT)) AS s4
    FROM events GROUP BY event_type
), m AS (
    SELECT event_type, CAST(n AS BIGINT) AS n_events,
           CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m1,
           CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS m2,
           CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS m3,
           CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS m4
    FROM g
)
SELECT event_type, n_events,
       floor(m1 / 100.0 * 1e6 + 0.5) / 1e6 AS mean,
       floor((m2 - m1 * m1) / 10000.0 * 1e6 + 0.5) / 1e6 AS variance,
       floor(((m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1)
              / ((m2 - m1 * m1) * sqrt(m2 - m1 * m1)) + 10.0) * 1e6 + 0.5) / 1e6
           AS skew_p10,
       floor(((m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2 - 3 * m1 * m1 * m1 * m1)
              / ((m2 - m1 * m1) * (m2 - m1 * m1)) - 3.0 + 10.0) * 1e6 + 0.5)
           / 1e6 AS ex_kurtosis_p10
FROM m
"""




def value_ks_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sample Kolmogorov–Smirnov statistic per event type:
    weekday vs weekend value distributions. The CDF difference is evaluated
    as the integer cross-product |n₂·C₁(x) − n₁·C₂(x)| over the distinct
    value grid (values quantized to 1e-6), so the entire statistic is
    integer arithmetic until one final division — no float CDFs to drift
    between engines. The distribution-shift test behind "does the weekend
    traffic behave differently?".

    Scale shape: rows reduce to per-(type, x) group counts first; the
    running-CDF window runs over each type's DISTINCT value grid, not its
    rows."""
    ev = load_table(spark, sf_dir, "events", ["ts", "event_type", "value"])
    d = "decimal(38,0)"
    g = F.dayofweek("ts").isin(1, 7).cast("int")  # 1=Sun, 7=Sat
    x = F.round(F.col("value") * 1e6).cast("long")
    grid = (
        ev.select("event_type", x.alias("x"), g.alias("wknd"))
        .groupBy("event_type", "x")
        .agg(
            F.sum("wknd").cast(d).alias("d1"),
            F.sum(1 - F.col("wknd")).cast(d).alias("d2"),
        )
    )
    wt = Window.partitionBy("event_type")
    wrun = wt.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    scored = (
        grid.withColumn("n1", F.sum("d1").over(wt))
        .withColumn("n2", F.sum("d2").over(wt))
        .withColumn("c1", F.sum("d1").over(wrun))
        .withColumn("c2", F.sum("d2").over(wrun))
        .withColumn(
            "diff",
            F.abs(F.col("n2") * F.col("c1") - F.col("n1") * F.col("c2")),
        )
    )
    return scored.groupBy("event_type").agg(
        F.max(F.col("n1")).cast("bigint").alias("n_weekend"),
        F.max(F.col("n2")).cast("bigint").alias("n_weekday"),
        dround(
            F.max("diff").cast("double")
            / (F.max("n1") * F.max("n2")).cast("double"),
            6,
        ).alias("ks_stat"),
    )


_KS_SQL = """
WITH grid AS (
    SELECT event_type, CAST(round(value * 1e6) AS BIGINT) AS x,
           SUM(CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END) AS d1,
           SUM(CASE WHEN dayofweek(ts) IN (0, 6) THEN 0 ELSE 1 END) AS d2
    FROM events GROUP BY 1, 2
), scored AS (
    SELECT event_type,
           CAST(SUM(d1) OVER wt AS HUGEINT) AS n1,
           CAST(SUM(d2) OVER wt AS HUGEINT) AS n2,
           CAST(SUM(d1) OVER wrun AS HUGEINT) AS c1,
           CAST(SUM(d2) OVER wrun AS HUGEINT) AS c2
    FROM grid
    WINDOW wt AS (PARTITION BY event_type),
           wrun AS (PARTITION BY event_type ORDER BY x
                    ROWS UNBOUNDED PRECEDING)
)
SELECT event_type,
       CAST(MAX(n1) AS BIGINT) AS n_weekend,
       CAST(MAX(n2) AS BIGINT) AS n_weekday,
       floor(CAST(MAX(abs(n2 * c1 - n1 * c2)) AS DOUBLE)
             / CAST(MAX(n1) * MAX(n2) AS DOUBLE) * 1e6 + 0.5) / 1e6
           AS ks_stat
FROM scored GROUP BY event_type
"""




def type_dow_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared independence test: is event type independent of
    day-of-week? Observed counts per (type, dow) cell; each cell's term is
    (n·obs − row·col)² / (n·row·col) with EXACT integer numerator and
    denominator, and the ~35 float terms are summed as a LEFT FOLD over
    the (type, dow)-sorted array — sequence-deterministic in both engines
    (the harmonic-sum rule), so even the final statistic hashes equal.
    One fact aggregate; everything else runs on the 35-row table."""
    ev = load_table(spark, sf_dir, "events", ["ts", "event_type"])
    d = "decimal(38,0)"
    cells = (
        ev.select("event_type", F.dayofweek("ts").alias("dow"))
        .groupBy("event_type", "dow")
        .agg(F.count(F.lit(1)).cast(d).alias("obs"))
    ).persist()  # consumed by row totals, col totals, and the term build
    rows_t = cells.groupBy("event_type").agg(F.sum("obs").alias("row_tot"))
    cols_t = cells.groupBy("dow").agg(F.sum("obs").alias("col_tot"))
    n_t = cells.agg(F.sum("obs").alias("n"))
    j = (
        cells.join(F.broadcast(rows_t), "event_type")
        .join(F.broadcast(cols_t), "dow")
        .crossJoin(F.broadcast(n_t))
    )
    num = (F.col("n") * F.col("obs") - F.col("row_tot") * F.col("col_tot"))
    term = (num * num).cast("double") / (
        F.col("n") * F.col("row_tot") * F.col("col_tot")
    ).cast("double")
    keyed = j.select(
        F.struct(F.col("event_type"), F.col("dow"), term.alias("t")).alias("s")
    )
    folded = keyed.agg(
        F.aggregate(
            F.array_sort(F.collect_list("s")),
            F.lit(0.0),
            lambda acc, x: acc + x["t"],
        ).alias("chi2"),
        F.count(F.lit(1)).alias("n_cells"),
    )
    return folded.select(
        F.col("n_cells").cast("bigint").alias("n_cells"),
        dround(F.col("chi2"), 6).alias("chi2"),
    )


_CHI2_SQL = """
WITH cells AS (
    SELECT event_type, CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
           CAST(count(*) AS HUGEINT) AS obs
    FROM events GROUP BY 1, 2
), rt AS (SELECT event_type, SUM(obs) AS row_tot FROM cells GROUP BY 1),
ct AS (SELECT dow, SUM(obs) AS col_tot FROM cells GROUP BY 1),
nt AS (SELECT SUM(obs) AS n FROM cells),
terms AS (
    SELECT c.event_type, c.dow,
           CAST((n * obs - row_tot * col_tot) * (n * obs - row_tot * col_tot)
                AS DOUBLE)
           / CAST(n * row_tot * col_tot AS DOUBLE) AS t
    FROM cells c JOIN rt USING (event_type) JOIN ct USING (dow) CROSS JOIN nt
), ordered AS (
    SELECT list(t ORDER BY event_type, dow) AS ts_ FROM terms
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM terms) AS n_cells,
       floor(list_reduce(list_prepend(0.0, ts_), (a, b) -> a + b) * 1e6 + 0.5)
           / 1e6 AS chi2
FROM ordered
"""




def click_attribution_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear marketing attribution: each purchase's value is split equally
    across that user's clicks in the 24 hours before it; purchases with no
    qualifying click stay unattributed. Per user: purchases, attributed
    purchases, credited value (sum of per-click shares), unattributed value.

    Scale shape: the purchase×click pairing is a user-keyed equi-join with
    a time-band filter — per-user fan-out is bounded by activity, never a
    cross join; per-purchase click counts come from one aggregate on the
    pair table. Shares are rounded to the 1e-6 grid BEFORE summation so
    both engines add identical values (the decimal detour then makes the
    sum order-independent)."""
    day_us = 24 * 3600 * 1000000
    ev = load_table(
        spark, sf_dir, "events", ["event_id", "ts", "user_id", "event_type", "value"]
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        F.unix_micros("ts").alias("p_us"),
        F.col("value").alias("p_value"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("c_user"),
        F.unix_micros("ts").alias("c_us"),
    )
    pairs = purchases.join(
        clicks,
        (purchases.user_id == clicks.c_user)
        & (F.col("p_us") - F.col("c_us") >= 0)
        & (F.col("p_us") - F.col("c_us") <= day_us),
        "left",
    )
    per_purchase = pairs.groupBy("p_id", "user_id", "p_value").agg(
        F.count("c_id").alias("n_clicks")
    )
    share = dround(
        F.col("p_value") / F.col("n_clicks").cast("double"), 6
    )
    credited = F.when(F.col("n_clicks") > 0, share * F.col("n_clicks")).otherwise(
        F.lit(0.0)
    )
    unattributed = F.when(F.col("n_clicks") == 0, F.col("p_value")).otherwise(
        F.lit(0.0)
    )
    return per_purchase.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.count(F.when(F.col("n_clicks") > 0, 1)).alias("n_attributed"),
        dsum(credited).alias("credited_value"),
        dsum(unattributed).alias("unattributed_value"),
    )


_ATTRIB_SQL = """
WITH purchases AS (
    SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_us, value AS p_value
    FROM events WHERE event_type = 'purchase'
), clicks AS (
    SELECT event_id AS c_id, user_id AS c_user, epoch_us(ts) AS c_us
    FROM events WHERE event_type = 'click'
), pairs AS (
    SELECT p.*, c.c_id
    FROM purchases p LEFT JOIN clicks c
      ON p.user_id = c.c_user
     AND p.p_us - c.c_us >= 0 AND p.p_us - c.c_us <= 86400000000
), per_purchase AS (
    SELECT p_id, user_id, p_value, count(c_id) AS n_clicks
    FROM pairs GROUP BY 1, 2, 3
), scored AS (
    SELECT user_id, n_clicks,
           p_value,
           CASE WHEN n_clicks > 0
                THEN floor(p_value / n_clicks * 1e6 + 0.5) / 1e6 * n_clicks
                ELSE 0.0 END AS credited,
           CASE WHEN n_clicks = 0 THEN p_value ELSE 0.0 END AS unattributed
    FROM per_purchase
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(count(CASE WHEN n_clicks > 0 THEN 1 END) AS BIGINT) AS n_attributed,
       CAST(SUM(CAST(credited AS DECIMAL(18,6))) AS DOUBLE) AS credited_value,
       CAST(SUM(CAST(unattributed AS DECIMAL(18,6))) AS DOUBLE)
           AS unattributed_value
FROM scored GROUP BY user_id
"""




def ab_conversion_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment readout: users split 50/50 into arms by hash (pure
    function of user_id — the same deterministic assignment a real
    experiment platform uses), strict funnel conversion computed per arm,
    and the 2×2 chi-squared statistic for purchase-conversion independence
    of arm. One row per arm plus lift columns — the A/B analysis staple.

    The funnel reuses funnel_flags (one user-keyed shuffle); the chi²
    term arithmetic is exact integers over the 2×2 table (n·obs −
    row·col form), summed in fixed arm order."""
    from platform_etl_drug_disease_spark.operators.sampling import md5_bucket
    from platform_etl_drug_disease_spark.operators.windows import funnel_flags

    ev = load_table(
        spark, sf_dir, "events", ["event_id", "ts", "user_id", "event_type"]
    ).where(F.col("event_type").isin("view", "click", "purchase"))
    per_user = funnel_flags(
        ev,
        "user_id",
        ["ts", "event_id"],
        [
            ("view", F.col("event_type") == "view"),
            ("click", F.col("event_type") == "click"),
            ("purchase", F.col("event_type") == "purchase"),
        ],
    ).withColumn(
        "arm",
        F.when(md5_bucket("user_id", 2, "ab1") == 0, "A").otherwise("B"),
    )
    d = "decimal(38,0)"
    arms = per_user.where(F.col("reached_view")).groupBy("arm").agg(
        F.count(F.lit(1)).cast(d).alias("n_exposed"),
        F.count(F.when(F.col("reached_purchase"), 1)).cast(d).alias("n_converted"),
    ).persist()  # 2 rows; consumed by totals + the per-arm output
    tot = arms.agg(
        F.sum("n_exposed").alias("N"),
        F.sum("n_converted").alias("C"),
    )
    j = arms.crossJoin(F.broadcast(tot))
    # chi² over the 2×2 (converted vs not, arm A vs B): term per cell in
    # (N·obs − row·col)²/(N·row·col) form; 4 cells = 2 per arm
    conv_term_num = (
        F.col("N") * F.col("n_converted") - F.col("n_exposed") * F.col("C")
    )
    nonc_term_num = (
        F.col("N") * (F.col("n_exposed") - F.col("n_converted"))
        - F.col("n_exposed") * (F.col("N") - F.col("C"))
    )
    # degenerate margins (all or none converted) contribute 0 — at sf0.01
    # every viewer converts, so the N−C denominator would be literal zero
    chi_arm = F.when(
        F.col("C") > 0,
        (conv_term_num * conv_term_num).cast("double")
        / (F.col("N") * F.col("n_exposed") * F.col("C")).cast("double"),
    ).otherwise(F.lit(0.0)) + F.when(
        (F.col("N") - F.col("C")) > 0,
        (nonc_term_num * nonc_term_num).cast("double")
        / (F.col("N") * F.col("n_exposed") * (F.col("N") - F.col("C"))).cast(
            "double"
        ),
    ).otherwise(F.lit(0.0))
    rate = F.col("n_converted").cast("double") / F.col("n_exposed").cast("double")
    base_rate = F.col("C").cast("double") / F.col("N").cast("double")
    return j.select(
        "arm",
        F.col("n_exposed").cast("bigint").alias("n_exposed"),
        F.col("n_converted").cast("bigint").alias("n_converted"),
        dround(rate, 6).alias("conversion"),
        dround(rate / base_rate, 6).alias("lift_vs_pooled"),
        dround(chi_arm, 6).alias("chi2_contrib"),
    )


_AB_SQL = """
WITH ev AS (
    SELECT user_id, ts, event_id, event_type
    FROM events WHERE event_type IN ('view', 'click', 'purchase')
), f1 AS (
    SELECT *,
           (event_type = 'click' AND
            SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) OVER fr > 0)
               AS q_click
    FROM ev
    WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), f2 AS (
    SELECT *,
           (event_type = 'purchase' AND
            SUM(CASE WHEN q_click THEN 1 ELSE 0 END) OVER fr > 0) AS q_purchase
    FROM f1
    WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), per_user AS (
    SELECT user_id,
           max(event_type = 'view') AS r_view,
           max(q_purchase) AS r_purchase,
           CASE WHEN CAST(('0x' || substr(md5('ab1' || CAST(user_id AS VARCHAR)),
                            1, 7)) AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END
               AS arm
    FROM f2 GROUP BY user_id
), arms AS (
    SELECT arm,
           CAST(count(*) AS HUGEINT) AS n_exposed,
           CAST(count(CASE WHEN r_purchase THEN 1 END) AS HUGEINT)
               AS n_converted
    FROM per_user WHERE r_view GROUP BY arm
), tot AS (
    SELECT SUM(n_exposed) AS N, SUM(n_converted) AS C FROM arms
)
SELECT arm,
       CAST(n_exposed AS BIGINT) AS n_exposed,
       CAST(n_converted AS BIGINT) AS n_converted,
       floor(CAST(n_converted AS DOUBLE) / CAST(n_exposed AS DOUBLE)
             * 1e6 + 0.5) / 1e6 AS conversion,
       floor((CAST(n_converted AS DOUBLE) / CAST(n_exposed AS DOUBLE))
             / (CAST(C AS DOUBLE) / CAST(N AS DOUBLE)) * 1e6 + 0.5) / 1e6
           AS lift_vs_pooled,
       floor((CASE WHEN C > 0 THEN
                CAST((N * n_converted - n_exposed * C)
                     * (N * n_converted - n_exposed * C) AS DOUBLE)
                / CAST(N * n_exposed * C AS DOUBLE) ELSE 0.0 END
              + CASE WHEN N - C > 0 THEN
                CAST((N * (n_exposed - n_converted) - n_exposed * (N - C))
                     * (N * (n_exposed - n_converted) - n_exposed * (N - C))
                     AS DOUBLE)
                / CAST(N * n_exposed * (N - C) AS DOUBLE) ELSE 0.0 END)
             * 1e6 + 0.5) / 1e6 AS chi2_contrib
FROM arms CROSS JOIN tot
"""




def growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly growth accounting: active users decomposed into NEW (first
    month), RETAINED (also active the previous month), RESURRECTED (active,
    inactive last month, not new), plus CHURNED (last month's actives who
    went dark) = active(m−1) − retained(m). The MAU bridge every growth
    team reads.

    Scale shape: the fact table reduces to distinct (user, month) once;
    per-user lag/min windows run over that reduction; monthly states are a
    |months|-row rollup, churn derived by joining the month series to
    itself shifted one month (never re-touching the fact table)."""
    ev = load_table(spark, sf_dir, "events", ["ts", "user_id"])
    um = (
        ev.select(
            "user_id", F.date_trunc("month", "ts").alias("m")
        ).distinct()
    )
    w = Window.partitionBy("user_id").orderBy("m")
    flags = (
        um.withColumn("first_m", F.min("m").over(Window.partitionBy("user_id")))
        .withColumn("prev_m", F.lag("m").over(w))
        .withColumn("is_new", (F.col("m") == F.col("first_m")).cast("int"))
        .withColumn(
            "is_retained",
            # when/otherwise, not a bare cast: prev_m is NULL on each
            # user's first month and null comparisons propagate — a month
            # of all-first-timers would sum is_retained to NULL
            F.when(
                F.col("prev_m") == F.col("m") - F.expr("INTERVAL 1 MONTH"), 1
            ).otherwise(0),
        )
    )
    monthly = flags.groupBy("m").agg(
        F.count(F.lit(1)).alias("active"),
        F.sum("is_new").alias("new_users"),
        F.sum("is_retained").alias("retained"),
        F.sum(
            1 - F.greatest(F.col("is_new"), F.col("is_retained"))
        ).alias("resurrected"),
    ).persist()  # consumed twice for the churn self-shift
    prev = monthly.select(
        (F.col("m") + F.expr("INTERVAL 1 MONTH")).alias("m"),
        F.col("active").alias("prev_active"),
    )
    return (
        monthly.join(prev, "m", "left")
        .select(
            F.date_format("m", "yyyy-MM").alias("month"),
            "active",
            F.col("new_users").cast("bigint").alias("new_users"),
            F.col("retained").cast("bigint").alias("retained"),
            F.col("resurrected").cast("bigint").alias("resurrected"),
            (F.coalesce(F.col("prev_active"), F.lit(0)) - F.col("retained"))
            .cast("bigint")
            .alias("churned"),
        )
    )


_GROWTH_SQL = """
WITH um AS (
    SELECT DISTINCT user_id, date_trunc('month', ts) AS m FROM events
), flags AS (
    SELECT user_id, m,
           CASE WHEN m = MIN(m) OVER (PARTITION BY user_id) THEN 1 ELSE 0 END
               AS is_new,
           CASE WHEN lag(m) OVER (PARTITION BY user_id ORDER BY m)
                     = m - INTERVAL 1 MONTH THEN 1 ELSE 0 END AS is_retained
    FROM um
), monthly AS (
    SELECT m,
           CAST(count(*) AS BIGINT) AS active,
           CAST(SUM(is_new) AS BIGINT) AS new_users,
           CAST(SUM(is_retained) AS BIGINT) AS retained,
           CAST(SUM(1 - greatest(is_new, is_retained)) AS BIGINT)
               AS resurrected
    FROM flags GROUP BY m
)
SELECT strftime(c.m, '%Y-%m') AS month,
       c.active, c.new_users, c.retained, c.resurrected,
       COALESCE(p.active, 0) - c.retained AS churned
FROM monthly c
LEFT JOIN monthly p ON p.m = c.m - INTERVAL 1 MONTH
"""




def ab_cuped_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for the A/B readout: per-user outcome y =
    second-half event count, pre-period covariate x = first-half event
    count (split at mid-January — the fixture spans one month), θ =
    cov(x,y)/var(x) from
    POOLED exact integer moments, adjusted estimate per arm =
    ȳ_arm − θ·(x̄_arm − x̄_pooled). Reports per arm the raw and adjusted
    means plus the pooled ρ² (the fraction of outcome variance the
    covariate removes) — the standard sensitivity upgrade every
    experimentation platform applies before reading small lifts.

    Per-user reduction first; every moment is an exact integer sum; θ and
    the adjustments are a handful of IEEE ops on the 2-row arm table."""
    from platform_etl_drug_disease_spark.operators.sampling import md5_bucket

    ev = load_table(spark, sf_dir, "events", ["ts", "user_id"])
    mid = F.to_timestamp(F.lit("2024-01-16"))
    per_user = ev.groupBy("user_id").agg(
        F.count(F.when(F.col("ts") < mid, 1)).alias("x"),
        F.count(F.when(F.col("ts") >= mid, 1)).alias("y"),
    ).withColumn(
        "arm",
        F.when(md5_bucket("user_id", 2, "ab1") == 0, "A").otherwise("B"),
    ).persist()  # pooled moments + per-arm rollup
    d = "decimal(38,0)"
    pooled = per_user.agg(
        F.count(F.lit(1)).cast(d).alias("n"),
        F.sum("x").cast(d).alias("sx"),
        F.sum("y").cast(d).alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast(d).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast(d).alias("sx2"),
        F.sum(F.col("y") * F.col("y")).cast(d).alias("sy2"),
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast(d).alias("na"),
        F.sum("x").cast(d).alias("sxa"),
        F.sum("y").cast(d).alias("sya"),
    )
    j = arms.crossJoin(F.broadcast(pooled))
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx = (F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")).cast("double")
    deny = (F.col("n") * F.col("sy2") - F.col("sy") * F.col("sy")).cast("double")
    theta = num / denx
    rho2 = (num / denx) * (num / deny)
    mean_y = F.col("sya").cast("double") / F.col("na").cast("double")
    mean_x = F.col("sxa").cast("double") / F.col("na").cast("double")
    mean_x_pool = F.col("sx").cast("double") / F.col("n").cast("double")
    return j.select(
        "arm",
        F.col("na").cast("bigint").alias("n_users"),
        dround(mean_y, 6).alias("mean_raw"),
        dround(mean_y - theta * (mean_x - mean_x_pool), 6).alias("mean_cuped"),
        dround(theta + F.lit(10.0), 6).alias("theta_p10"),
        dround(rho2, 6).alias("rho2_pooled"),
    )


_CUPED_SQL = """
WITH per_user AS (
    SELECT user_id,
           CAST(count(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 END)
                AS HUGEINT) AS x,
           CAST(count(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 END)
                AS HUGEINT) AS y,
           CASE WHEN CAST(('0x' || substr(md5('ab1' || CAST(user_id AS VARCHAR)),
                            1, 7)) AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END
               AS arm
    FROM events GROUP BY user_id
), pooled AS (
    SELECT CAST(count(*) AS HUGEINT) AS n,
           SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy,
           SUM(x*x) AS sx2, SUM(y*y) AS sy2
    FROM per_user
), arms AS (
    SELECT arm, CAST(count(*) AS HUGEINT) AS na,
           SUM(x) AS sxa, SUM(y) AS sya
    FROM per_user GROUP BY arm
)
SELECT arm,
       CAST(na AS BIGINT) AS n_users,
       floor(CAST(sya AS DOUBLE) / CAST(na AS DOUBLE) * 1e6 + 0.5) / 1e6
           AS mean_raw,
       floor((CAST(sya AS DOUBLE) / CAST(na AS DOUBLE)
              - (CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sx2 - sx * sx AS DOUBLE))
                * (CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE)
                   - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) * 1e6 + 0.5)
           / 1e6 AS mean_cuped,
       floor((CAST(n * sxy - sx * sy AS DOUBLE)
              / CAST(n * sx2 - sx * sx AS DOUBLE) + 10.0) * 1e6 + 0.5) / 1e6
           AS theta_p10,
       floor((CAST(n * sxy - sx * sy AS DOUBLE)
              / CAST(n * sx2 - sx * sx AS DOUBLE))
             * (CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sy2 - sy * sy AS DOUBLE)) * 1e6 + 0.5) / 1e6
           AS rho2_pooled
FROM arms CROSS JOIN pooled
"""



def next_event_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-model training-example generation from the event log: for
    every event with at least one predecessor, the (up-to-3-event context
    window → next event type) pair a next-action model trains on. Reports,
    per label: example count, distinct-context count, total context length,
    and the single most frequent context (ties broken lexicographically) —
    the dataset card a sequence-training pipeline emits before exporting
    the examples themselves.

    Scale shape: ONE user-keyed window shuffle builds all three lags at
    once (the example set never materializes wider than the event row), one
    (label, context) aggregation, then per-label totals + the argmax ride
    the SAME small aggregate through one label-keyed window — no join-back
    to the fact table. Context strings cap at 3 types, so the aggregate is
    bounded by |types|^4 rows regardless of corpus size."""
    ev = load_table(
        spark, sf_dir, "events", ["event_id", "ts", "user_id", "event_type"]
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.select(
        F.col("event_type").alias("next_type"),
        F.lag("event_type", 1).over(w).alias("c1"),
        F.lag("event_type", 2).over(w).alias("c2"),
        F.lag("event_type", 3).over(w).alias("c3"),
    ).where(F.col("c1").isNotNull())
    # concat_ws skips NULLs in both engines -> oldest-first context string
    ex = lagged.select(
        "next_type",
        F.concat_ws(">", "c3", "c2", "c1").alias("context"),
        (
            F.lit(1)
            + F.col("c2").isNotNull().cast("int")
            + F.col("c3").isNotNull().cast("int")
        ).alias("ctx_len"),
    )
    per_ctx = ex.groupBy("next_type", "context", "ctx_len").agg(
        F.count(F.lit(1)).alias("n")
    )
    wtot = Window.partitionBy("next_type")
    wrank = Window.partitionBy("next_type").orderBy(
        F.col("n").desc(), "context"
    )
    return (
        per_ctx.withColumn("n_examples", F.sum("n").over(wtot))
        .withColumn("n_contexts", F.count(F.lit(1)).over(wtot))
        .withColumn(
            "sum_ctx_len", F.sum(F.col("n") * F.col("ctx_len")).over(wtot)
        )
        .withColumn("rk", F.row_number().over(wrank))
        .where(F.col("rk") == 1)
        .select(
            "next_type",
            F.col("n_examples").cast("bigint").alias("n_examples"),
            F.col("n_contexts").cast("bigint").alias("n_contexts"),
            F.col("sum_ctx_len").cast("bigint").alias("sum_ctx_len"),
            F.col("context").alias("top_context"),
            F.col("n").cast("bigint").alias("top_context_n"),
        )
    )


_NEXT_EVENT_SQL = """
WITH lagged AS (
    SELECT event_type AS next_type,
           lag(event_type, 1) OVER w AS c1,
           lag(event_type, 2) OVER w AS c2,
           lag(event_type, 3) OVER w AS c3
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), ex AS (
    SELECT next_type,
           concat_ws('>', c3, c2, c1) AS context,
           1 + CASE WHEN c2 IS NULL THEN 0 ELSE 1 END
             + CASE WHEN c3 IS NULL THEN 0 ELSE 1 END AS ctx_len
    FROM lagged WHERE c1 IS NOT NULL
), per_ctx AS (
    SELECT next_type, context, ctx_len, count(*) AS n
    FROM ex GROUP BY next_type, context, ctx_len
), ranked AS (
    SELECT next_type, context, n,
           SUM(n) OVER (PARTITION BY next_type) AS n_examples,
           COUNT(*) OVER (PARTITION BY next_type) AS n_contexts,
           SUM(n * ctx_len) OVER (PARTITION BY next_type) AS sum_ctx_len,
           row_number() OVER (PARTITION BY next_type
                              ORDER BY n DESC, context) AS rk
    FROM per_ctx
)
SELECT next_type,
       CAST(n_examples AS BIGINT) AS n_examples,
       CAST(n_contexts AS BIGINT) AS n_contexts,
       CAST(sum_ctx_len AS BIGINT) AS sum_ctx_len,
       context AS top_context,
       CAST(n AS BIGINT) AS top_context_n
FROM ranked WHERE rk = 1
"""


QUERIES = {
    "json_props_rollup": json_props_rollup,
    "typed_json_histogram": typed_json_histogram,
    "asof_latest_click": asof_latest_click,
    "errors_near_purchase": errors_near_purchase,
    "event_interarrival_stats": event_interarrival_stats,
    "hourly_windows": hourly_windows,
    "sliding_windows": sliding_windows,
    "user_sessions": user_sessions,
    "daily_event_type_pivot": daily_event_type_pivot,
    "value_anomaly_stats": value_anomaly_stats,
    "funnel_conversion": funnel_conversion,
    "order_cohort_retention": order_cohort_retention,
    "event_transition_matrix": event_transition_matrix,
    "time_weighted_value": time_weighted_value,
    "funnel_latency_stats": funnel_latency_stats,
    "value_drift_stats": value_drift_stats,
    "seasonal_hour_profile": seasonal_hour_profile,
    "top_session_paths": top_session_paths,
    "hourly_autocorr": hourly_autocorr,
    "hourly_gap_audit": hourly_gap_audit,
    "hourly_gap_fill": hourly_gap_fill,
    "funnel_conversion_windowed": funnel_conversion_windowed,
    "cumulative_users_by_day": cumulative_users_by_day,
    "event_props_map_stats": event_props_map_stats,
    "variant_props_stats": variant_props_stats,
    "value_moments_stats": value_moments_stats,
    "value_ks_by_type": value_ks_by_type,
    "type_dow_chi2": type_dow_chi2,
    "click_attribution_stats": click_attribution_stats,
    "ab_conversion_lift": ab_conversion_lift,
    "growth_accounting": growth_accounting,
    "ab_cuped_estimates": ab_cuped_estimates,
    "next_event_examples": next_event_examples,
}

ORACLES = {
    "json_props_rollup": _JSON_SQL,
    "typed_json_histogram": _TYPED_JSON_SQL,
    "asof_latest_click": _ASOF_SQL,
    "errors_near_purchase": _BAND_SQL,
    "event_interarrival_stats": _INTERARRIVAL_SQL,
    "hourly_windows": _HOURLY_SQL,
    "sliding_windows": _SLIDING_SQL,
    "user_sessions": _SESSIONS_SQL,
    "daily_event_type_pivot": _DAILY_PIVOT_SQL,
    "value_anomaly_stats": _ANOMALY_SQL,
    "funnel_conversion": _FUNNEL_SQL,
    "order_cohort_retention": _COHORT_SQL,
    "event_transition_matrix": _TRANSITION_SQL,
    "time_weighted_value": _TW_VALUE_SQL,
    "funnel_latency_stats": _FUNNEL_LATENCY_SQL,
    "value_drift_stats": _DRIFT_RANGE_SQL,
    "seasonal_hour_profile": _SEASONAL_SQL,
    "top_session_paths": _SESSION_PATHS_SQL,
    "hourly_autocorr": _AUTOCORR_SQL,
    "hourly_gap_audit": _GAP_AUDIT_SQL,
    "hourly_gap_fill": _GAP_FILL_SQL,
    "funnel_conversion_windowed": _FUNNEL_WINDOWED_SQL,
    "cumulative_users_by_day": _CUMULATIVE_SQL,
    "event_props_map_stats": _PROPS_MAP_SQL,
    "variant_props_stats": _VARIANT_SQL,
    "value_moments_stats": _MOMENTS_SQL,
    "value_ks_by_type": _KS_SQL,
    "type_dow_chi2": _CHI2_SQL,
    "click_attribution_stats": _ATTRIB_SQL,
    "ab_conversion_lift": _AB_SQL,
    "growth_accounting": _GROWTH_SQL,
    "ab_cuped_estimates": _CUPED_SQL,
    "next_event_examples": _NEXT_EVENT_SQL,
}


def value_quantile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated (quantile_cont) p10/p50/p90/p99 value profile per event
    type — the tail-aware companion to value_moments_stats: moments say
    "heavy-tailed", the quantile profile says where the tail starts.

    Values are quantized to integer cents first (the same round(value·100)
    convention value_moments_stats uses), which is what makes this exact
    AND scale-safe: the per-(type, cents) histogram is bounded by the cent
    GRID, not the row count, so operators/scans.quantiles_from_histogram's
    rank arithmetic (cont mode: v_lo + (v_hi − v_lo)·frac at position
    (n−1)·p + 1 — identical IEEE ops on both engines) runs over a bounded
    table. Continuous raw doubles would put the histogram ≈ the row count;
    quantize-to-grid is the documented precondition for this machinery.
    The oracle is the naive row_number form over the same quantized values.
    """
    from platform_etl_drug_disease_spark.operators.scans import (
        quantiles_from_histogram,
        value_histogram,
    )

    ev = load_table(spark, sf_dir, "events", ["event_type", "value"]).where(
        F.col("value").isNotNull()
    )
    cents = ev.select(
        "event_type", F.round(F.col("value") * 100).cast("bigint").alias("x")
    )
    hist = value_histogram(cents, ["event_type"], "x")
    q = quantiles_from_histogram(
        hist,
        ["event_type"],
        "x",
        {"p10": 0.10, "p50": 0.50, "p90": 0.90, "p99": 0.99},
        mode="cont",
    )
    hundred = F.lit(100.0)
    return q.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_events"),
        (F.col("p10") / hundred).alias("p10"),
        (F.col("p50") / hundred).alias("p50"),
        (F.col("p90") / hundred).alias("p90"),
        (F.col("p99") / hundred).alias("p99"),
    )


_VALUE_QUANTILE_SQL = """
WITH v AS (
    SELECT event_type, CAST(round(value * 100) AS BIGINT) AS x
    FROM events WHERE value IS NOT NULL
),
n0 AS (SELECT event_type, COUNT(*) AS n FROM v GROUP BY event_type),
-- positions in DOUBLE (DuckDB parses 0.10 as exact DECIMAL, Spark as
-- double; the engines must run the same IEEE interpolation arithmetic)
n AS (SELECT event_type, n,
             (n - 1) * CAST(0.10 AS DOUBLE) + CAST(1 AS DOUBLE) AS pos10,
             (n - 1) * CAST(0.50 AS DOUBLE) + CAST(1 AS DOUBLE) AS pos50,
             (n - 1) * CAST(0.90 AS DOUBLE) + CAST(1 AS DOUBLE) AS pos90,
             (n - 1) * CAST(0.99 AS DOUBLE) + CAST(1 AS DOUBLE) AS pos99
      FROM n0),
r AS (SELECT event_type, x,
             row_number() OVER (PARTITION BY event_type ORDER BY x) AS rn
      FROM v),
q AS (
    SELECT r.event_type,
           MIN(CASE WHEN rn >= floor(pos10) THEN x END) AS lo10,
           MIN(CASE WHEN rn >= ceil(pos10) THEN x END) AS hi10,
           MIN(CASE WHEN rn >= floor(pos50) THEN x END) AS lo50,
           MIN(CASE WHEN rn >= ceil(pos50) THEN x END) AS hi50,
           MIN(CASE WHEN rn >= floor(pos90) THEN x END) AS lo90,
           MIN(CASE WHEN rn >= ceil(pos90) THEN x END) AS hi90,
           MIN(CASE WHEN rn >= floor(pos99) THEN x END) AS lo99,
           MIN(CASE WHEN rn >= ceil(pos99) THEN x END) AS hi99,
           MAX(pos10 - floor(pos10)) AS f10,
           MAX(pos50 - floor(pos50)) AS f50,
           MAX(pos90 - floor(pos90)) AS f90,
           MAX(pos99 - floor(pos99)) AS f99
    FROM r JOIN n USING (event_type) GROUP BY r.event_type
)
SELECT n.event_type,
       CAST(n.n AS BIGINT) AS n_events,
       (q.lo10 + (q.hi10 - q.lo10) * q.f10) / CAST(100 AS DOUBLE) AS p10,
       (q.lo50 + (q.hi50 - q.lo50) * q.f50) / CAST(100 AS DOUBLE) AS p50,
       (q.lo90 + (q.hi90 - q.lo90) * q.f90) / CAST(100 AS DOUBLE) AS p90,
       (q.lo99 + (q.hi99 - q.lo99) * q.f99) / CAST(100 AS DOUBLE) AS p99
FROM n JOIN q USING (event_type)
"""

QUERIES["value_quantile_profile"] = value_quantile_profile
ORACLES["value_quantile_profile"] = _VALUE_QUANTILE_SQL
