"""Product/ops-analytics query family over the events table (round 6,
session 4): data profiling, trend fitting, experiment readouts, cohort
retention matrices.

Float-parity discipline (COVERAGE.md round-3 classes): every statistic
here reduces to INTEGER sums first — OLS via (n·Σxy − ΣxΣy), the z-score
via integer success/total counts — with doubles entering only in the
final closed-form expression, written identically on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fusionspark.io import load_table
from fusionspark.queries import query


@query(
    "table_profile",
    """
    WITH s AS (
        SELECT COUNT(*)::BIGINT AS n,
               COUNT(event_id)::BIGINT AS nn_event_id,
               COUNT(DISTINCT event_id)::BIGINT AS nd_event_id,
               MIN(event_id)::DOUBLE AS mn_event_id,
               MAX(event_id)::DOUBLE AS mx_event_id,
               COUNT(user_id)::BIGINT AS nn_user_id,
               COUNT(DISTINCT user_id)::BIGINT AS nd_user_id,
               MIN(user_id)::DOUBLE AS mn_user_id,
               MAX(user_id)::DOUBLE AS mx_user_id,
               COUNT(value)::BIGINT AS nn_value,
               COUNT(DISTINCT value)::BIGINT AS nd_value,
               ROUND(MIN(value), 6) AS mn_value,
               ROUND(MAX(value), 6) AS mx_value,
               COUNT(event_type)::BIGINT AS nn_event_type,
               COUNT(DISTINCT event_type)::BIGINT AS nd_event_type
        FROM events
    )
    SELECT 'event_id' AS col, n, nn_event_id AS n_nonnull,
           nd_event_id AS n_distinct, mn_event_id AS min_v, mx_event_id AS max_v
    FROM s
    UNION ALL
    SELECT 'user_id', n, nn_user_id, nd_user_id, mn_user_id, mx_user_id FROM s
    UNION ALL
    SELECT 'value', n, nn_value, nd_value, mn_value, mx_value FROM s
    UNION ALL
    SELECT 'event_type', n, nn_event_type, nd_event_type, NULL, NULL FROM s
    """,
)
def table_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiler — the ingest-gate report every pipeline runs first:
    row count, non-nulls, exact distincts, numeric ranges, ONE scan, one
    wide aggregate unpivoted to long form (explicit stack, not a
    per-column loop of scans).  At 100 TB exact COUNT(DISTINCT) becomes
    approx_count_distinct (HLL, mergeable) — the query shape is
    unchanged; exact is kept here because the oracle can check it."""
    e = load_table(spark, sf_dir, "events")
    s = e.agg(
        F.count("*").cast("long").alias("n"),
        F.count("event_id").cast("long").alias("nn_event_id"),
        F.count_distinct("event_id").cast("long").alias("nd_event_id"),
        F.min("event_id").cast("double").alias("mn_event_id"),
        F.max("event_id").cast("double").alias("mx_event_id"),
        F.count("user_id").cast("long").alias("nn_user_id"),
        F.count_distinct("user_id").cast("long").alias("nd_user_id"),
        F.min("user_id").cast("double").alias("mn_user_id"),
        F.max("user_id").cast("double").alias("mx_user_id"),
        F.count("value").cast("long").alias("nn_value"),
        F.count_distinct("value").cast("long").alias("nd_value"),
        F.round(F.min("value"), 6).alias("mn_value"),
        F.round(F.max("value"), 6).alias("mx_value"),
        F.count("event_type").cast("long").alias("nn_event_type"),
        F.count_distinct("event_type").cast("long").alias("nd_event_type"),
    )
    return s.selectExpr(
        """stack(4,
            'event_id',   nn_event_id,   nd_event_id,   mn_event_id, mx_event_id,
            'user_id',    nn_user_id,    nd_user_id,    mn_user_id,  mx_user_id,
            'value',      nn_value,      nd_value,      mn_value,    mx_value,
            'event_type', nn_event_type, nd_event_type, CAST(NULL AS DOUBLE),
                                                        CAST(NULL AS DOUBLE)
        ) AS (col, n_nonnull, n_distinct, min_v, max_v)""",
        "n",
    ).select("col", "n", "n_nonnull", "n_distinct", "min_v", "max_v")


@query(
    "trend_daily_events",
    """
    WITH daily AS (
        SELECT event_type,
               (epoch_us(ts) // 86400000000) AS day,
               COUNT(*)::BIGINT AS y
        FROM events GROUP BY event_type, (epoch_us(ts) // 86400000000)
    ),
    x AS (
        SELECT event_type,
               (day - MIN(day) OVER (PARTITION BY event_type))::BIGINT AS xi, y
        FROM daily
    ),
    sums AS (
        SELECT event_type, COUNT(*)::BIGINT AS n,
               SUM(xi)::BIGINT AS sx, SUM(y)::BIGINT AS sy,
               SUM(xi * y)::BIGINT AS sxy, SUM(xi * xi)::BIGINT AS sxx
        FROM x GROUP BY event_type
    )
    SELECT event_type, n,
           ROUND((n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx), 6) AS slope,
           ROUND((sy::DOUBLE - ((n * sxy - sx * sy)::DOUBLE
                  / (n * sxx - sx * sx)) * sx) / n, 6) AS intercept
    FROM sums WHERE n * sxx - sx * sx <> 0
    """,
)
def trend_daily_events_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type daily-volume OLS trend: slope/intercept from the
    closed-form normal equations over INTEGER sums (n·Σxy − ΣxΣy etc.) —
    the numerically-naive-but-exact form that makes the regression
    bit-reproducible under any aggregation order (built-in regr_slope
    folds doubles and drifts ulps between engines).  Day index is
    per-type-rebased so the integers stay small.  Degenerate one-day
    types are excluded (zero variance ⇒ undefined slope)."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    daily = (
        e.select(
            "event_type",
            F.floor(F.unix_micros("ts") / F.lit(86_400_000_000)).alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count("*").cast("long").alias("y"))
    )
    w = Window.partitionBy("event_type")
    x = daily.select(
        "event_type",
        (F.col("day") - F.min("day").over(w)).cast("long").alias("xi"),
        "y",
    )
    sums = x.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("xi").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("xi") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("xi") * F.col("xi")).cast("long").alias("sxx"),
    )
    det = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope_num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    slope = slope_num.cast("double") / det
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx")
    ) / F.col("n")
    return sums.filter(det != 0).select(
        "event_type",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
    )


@query(
    "ab_test_zscore",
    """
    WITH assign AS (
        SELECT user_id, user_id % 2 AS variant,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted
        FROM events GROUP BY user_id
    ),
    arms AS (
        SELECT variant, COUNT(*)::BIGINT AS n,
               SUM(converted)::BIGINT AS conv
        FROM assign GROUP BY variant
    ),
    wide AS (
        SELECT
            MAX(CASE WHEN variant = 0 THEN n END)::BIGINT AS n0,
            MAX(CASE WHEN variant = 0 THEN conv END)::BIGINT AS c0,
            MAX(CASE WHEN variant = 1 THEN n END)::BIGINT AS n1,
            MAX(CASE WHEN variant = 1 THEN conv END)::BIGINT AS c1
        FROM arms
    )
    SELECT n0, c0, n1, c1,
           ROUND(c0::DOUBLE / n0, 6) AS p0,
           ROUND(c1::DOUBLE / n1, 6) AS p1,
           CASE WHEN c0 + c1 > 0 AND c0 + c1 < n0 + n1 THEN
           ROUND((c1::DOUBLE / n1 - c0::DOUBLE / n0)
                 / sqrt(((c0 + c1)::DOUBLE / (n0 + n1))
                        * (1.0::DOUBLE - (c0 + c1)::DOUBLE / (n0 + n1))
                        * (1.0::DOUBLE / n0 + 1.0::DOUBLE / n1)), 6)
           END AS z
    FROM wide
    """,
)
def ab_test_zscore_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion experiment readout: users split into arms by a
    deterministic rule (user_id parity standing in for the assignment
    hash), per-user conversion collapsed FIRST (MAX per user — a user
    converting twice is one success, the unit-of-analysis rule A/B
    tooling gets wrong at its peril), then the pooled two-proportion
    z-score from four integers in one closed-form expression.  Two hash
    aggs total; the arms table is 2 rows."""
    e = load_table(spark, sf_dir, "events")
    assign = e.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("converted")
    ).select((F.col("user_id") % 2).alias("variant"), "converted")
    arms = assign.groupBy("variant").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("converted").cast("long").alias("conv"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).cast("long").alias("n0"),
        F.max(F.when(F.col("variant") == 0, F.col("conv"))).cast("long").alias("c0"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).cast("long").alias("n1"),
        F.max(F.when(F.col("variant") == 1, F.col("conv"))).cast("long").alias("c1"),
    )
    p0 = F.col("c0").cast("double") / F.col("n0")
    p1 = F.col("c1").cast("double") / F.col("n1")
    pp = (F.col("c0") + F.col("c1")).cast("double") / (F.col("n0") + F.col("n1"))
    z = (p1 - p0) / F.sqrt(
        pp * (F.lit(1.0) - pp)
        * (F.lit(1.0) / F.col("n0") + F.lit(1.0) / F.col("n1"))
    )
    # zero pooled variance (nobody / everybody converted) ⇒ z undefined;
    # gate on the INTEGER counts so both engines agree exactly
    c = F.col("c0") + F.col("c1")
    n = F.col("n0") + F.col("n1")
    return wide.select(
        "n0", "c0", "n1", "c1",
        F.round(p0, 6).alias("p0"),
        F.round(p1, 6).alias("p1"),
        F.when((c > 0) & (c < n), F.round(z, 6)).alias("z"),
    )


@query(
    "cohort_weekly",
    """
    WITH act AS (
        SELECT DISTINCT user_id,
               (epoch_us(ts) // 604800000000) AS week
        FROM events
    ),
    first_w AS (
        SELECT user_id, MIN(week) AS cohort FROM act GROUP BY user_id
    )
    SELECT f.cohort, (a.week - f.cohort)::BIGINT AS week_offset,
           COUNT(*)::BIGINT AS active_users
    FROM act a JOIN first_w f USING (user_id)
    GROUP BY f.cohort, (a.week - f.cohort)
    """,
)
def cohort_weekly_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention matrix: distinct (user, week) activity,
    each user's first week as their cohort, counts per (cohort, offset).
    The cohort join runs on the distinct frame's own user partitioning —
    one extra shuffle only for the final (cohort, offset) rollup.  The
    user_retention query is this matrix's day-over-day diagonal."""
    e = load_table(spark, sf_dir, "events")
    act = e.select(
        "user_id",
        F.floor(F.unix_micros("ts") / F.lit(604_800_000_000)).alias("week"),
    ).distinct()
    first_w = act.groupBy("user_id").agg(F.min("week").alias("cohort"))
    return (
        act.join(first_w, "user_id")
        .groupBy("cohort", (F.col("week") - F.col("cohort")).cast("long").alias("week_offset"))
        .agg(F.count("*").cast("long").alias("active_users"))
    )


@query(
    "geo_neighbors",
    """
    WITH pts AS (SELECT DISTINCT user_id FROM events),
    p AS (
        SELECT user_id AS id,
               ('0x' || substr(md5('gx:' || user_id), 1, 8))::BIGINT % 10000 AS x,
               ('0x' || substr(md5('gy:' || user_id), 1, 8))::BIGINT % 10000 AS y
        FROM pts
    )
    SELECT a.id AS id_a, b.id AS id_b,
           ((a.x - b.x) * (a.x - b.x)
            + (a.y - b.y) * (a.y - b.y))::BIGINT AS dist_sq
    FROM p a
    CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dx) dx
    CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dy) dy
    JOIN p b ON (a.x // 100) + dx.dx = (b.x // 100)
            AND (a.y // 100) + dy.dy = (b.y // 100)
            AND a.id < b.id
    WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 10000
    """,
)
def geo_neighbors_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial proximity self-join (operators/joins.py::
    grid_proximity_join): users mapped to deterministic integer plane
    coordinates, all pairs within Euclidean radius 100 via radius-sized
    grid cells + 3×3 neighborhood replication — a bounded 9× fan-out
    equi-join, never a cross join.  Each qualifying pair shares exactly
    one of the nine keys, so no distinct pass is needed; distances stay
    integer d² end-to-end."""
    from fusionspark.operators.joins import grid_proximity_join

    from fusionspark.operators.dedup import md5_hash32

    users = load_table(spark, sf_dir, "events").select("user_id").distinct()
    uid = F.col("user_id").cast("string")
    pts = users.select(
        F.col("user_id").alias("id"),
        (md5_hash32(F.concat(F.lit("gx:"), uid)) % 10000).alias("x"),
        (md5_hash32(F.concat(F.lit("gy:"), uid)) % 10000).alias("y"),
    )
    return grid_proximity_join(pts, radius=100)


@query(
    "event_transitions",
    """
    WITH tr AS (
        SELECT lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ) AS from_t,
               event_type AS to_t
        FROM events
    ),
    cnt AS (
        SELECT from_t, to_t, COUNT(*)::BIGINT AS n
        FROM tr WHERE from_t IS NOT NULL GROUP BY from_t, to_t
    ),
    tot AS (SELECT from_t, SUM(n)::BIGINT AS t FROM cnt GROUP BY from_t)
    SELECT c.from_t, c.to_t, c.n, ROUND(c.n::DOUBLE / t.t, 6) AS p
    FROM cnt c JOIN tot t USING (from_t)
    """,
)
def event_transitions_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the per-user event stream:
    lag pairs on one user_id shuffle, then a |types|² count + row-
    normalized probabilities (integer counts, ONE final division).  The
    behavioral-model / anomalous-sequence baseline every event pipeline
    eventually wants; event_funnel is a fixed path through this
    matrix."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    tr = e.select(
        F.lag("event_type").over(w).alias("from_t"),
        F.col("event_type").alias("to_t"),
    ).filter(F.col("from_t").isNotNull())
    cnt = tr.groupBy("from_t", "to_t").agg(F.count("*").cast("long").alias("n"))
    tot = cnt.groupBy("from_t").agg(F.sum("n").cast("long").alias("t"))
    return (
        cnt.join(F.broadcast(tot), "from_t")
        .select(
            "from_t", "to_t", "n",
            F.round(F.col("n").cast("double") / F.col("t"), 6).alias("p"),
        )
    )


@query(
    "session_paths",
    """
    WITH e AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
               lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ) AS prev_us
        FROM events
    ),
    n AS (
        SELECT user_id, event_id, event_type, ts_us,
               SUM(CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000
                        THEN 1 ELSE 0 END) OVER (
                   PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               )::BIGINT AS session_no
        FROM e
    ),
    paths AS (
        SELECT user_id, session_no,
               string_agg(event_type, '>' ORDER BY ts_us, event_id) AS path
        FROM n GROUP BY user_id, session_no
    )
    SELECT path, COUNT(*)::BIGINT AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path LIMIT 20
    """,
)
def session_paths_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top session paths: the sessionize numbering (same single user_id
    shuffle) rolled up to an ORDERED in-row type sequence — sort_array
    over (ts, event_id, type) structs then join, because a bare
    collect_list is partition-racy (the chat_render rule) — and counted.
    Fully-keyed ORDER BY before the LIMIT keeps the top-20 cut
    deterministic."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    ts_us = F.unix_micros(F.col("ts"))
    prev = F.lag("ts").over(w)
    is_new = (prev.isNull() | (ts_us - F.unix_micros(prev) > 1_800_000_000)).cast("int")
    n = e.select(
        "user_id",
        "event_id",
        "event_type",
        ts_us.alias("ts_us"),
        F.sum(is_new)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("session_no"),
    )
    paths = n.groupBy("user_id", "session_no").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("ts_us", "event_id", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").cast("long").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(20)
    )


@query(
    "conversion_latency",
    """
    WITH firsts AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS v,
               MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p
        FROM events GROUP BY user_id
    ),
    lat AS (
        SELECT (p - v)::BIGINT AS us FROM firsts
        WHERE v IS NOT NULL AND p IS NOT NULL AND p > v
    )
    SELECT COUNT(*)::BIGINT AS n,
           FLOOR(((SUM(us)::DOUBLE / COUNT(*)) / 1e6)
                 * 1000000.0 + 0.5) / 1000000.0 AS avg_sec,
           FLOOR((quantile_cont(us, 0.5) / 1e6)
                 * 1000000.0 + 0.5) / 1000000.0 AS p50_sec,
           FLOOR((quantile_cont(us, 0.9) / 1e6)
                 * 1000000.0 + 0.5) / 1000000.0 AS p90_sec
    FROM lat
    """,
)
def conversion_latency_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-view → first-purchase latency distribution: conditional MINs
    per user (one agg, no self-join — the event_funnel shape), then
    count / mean / exact P50 / P90 over the integer microsecond gaps in
    one 1-row aggregate.  The mean divides ONE integer sum; the
    percentiles are the attested type-7 `percentile` ≡ quantile_cont
    pair."""
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    firsts = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", us)).alias("v"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("p"),
    )
    lat = firsts.filter(
        F.col("v").isNotNull() & F.col("p").isNotNull() & (F.col("p") > F.col("v"))
    ).select((F.col("p") - F.col("v")).cast("long").alias("us"))
    # r14: interpolated percentiles of integer microseconds land on exact
    # .5 midpoints, and /1e6 puts that halfway at the 7th decimal — the
    # shortest-string ROUND divergence class (audit-flagged at sf0.1);
    # round6_stable reads only the binary value
    from fusionspark.operators.textstats import round6_stable

    return lat.agg(
        F.count("*").cast("long").alias("n"),
        round6_stable(
            (F.sum("us").cast("double") / F.count("*")) / F.lit(1e6)
        ).alias("avg_sec"),
        round6_stable(F.expr("percentile(us, 0.5)") / F.lit(1e6)).alias(
            "p50_sec"
        ),
        round6_stable(F.expr("percentile(us, 0.9)") / F.lit(1e6)).alias(
            "p90_sec"
        ),
    )


@query(
    "revenue_deciles",
    """
    WITH rev AS (
        SELECT user_id,
               SUM(CASE WHEN event_type = 'purchase'
                        THEN floor(value * 1e6)::BIGINT ELSE 0 END)::BIGINT
                   AS rev_micros
        FROM events GROUP BY user_id
    ),
    ranked AS (
        SELECT user_id, rev_micros,
               ntile(10) OVER (ORDER BY rev_micros, user_id)::INT AS decile
        FROM rev
    )
    SELECT decile, COUNT(*)::BIGINT AS n_users,
           SUM(rev_micros)::BIGINT AS total_rev_micros,
           ROUND(SUM(rev_micros)::DOUBLE / COUNT(*) / 1e6, 6) AS avg_rev
    FROM ranked GROUP BY decile
    """,
)
def revenue_deciles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user revenue deciles (the LTV report): purchase revenue folds
    as exact integer micro-units per user, ntile(10) over the FULLY-KEYED
    (revenue, user_id) order — a bare revenue order leaves equal-revenue
    users engine-ordered and the decile boundaries racy.  The global
    ntile is a single-partition sort over one row per USER (already
    aggregated), not per event; at 100 TB swap ntile for percent_rank
    over pre-aggregated range boundaries."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    rev = e.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.floor(F.col("value") * F.lit(1e6)).cast("long"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("rev_micros")
    )
    ranked = rev.select(
        "rev_micros",
        F.ntile(10).over(Window.orderBy("rev_micros", "user_id")).alias("decile"),
    )
    return ranked.groupBy("decile").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("rev_micros").cast("long").alias("total_rev_micros"),
        F.round(
            F.sum("rev_micros").cast("double") / F.count("*") / F.lit(1e6), 6
        ).alias("avg_rev"),
    )


@query(
    "seasonal_decompose",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, COUNT(*)::BIGINT AS cnt
        FROM events GROUP BY 1
    ),
    trended AS (
        SELECT day, cnt,
               SUM(cnt) OVER (ORDER BY day
                              ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                   ::BIGINT AS win_sum,
               COUNT(*) OVER (ORDER BY day
                              ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                   ::BIGINT AS win_n
        FROM daily
    ),
    interior AS (
        SELECT day, cnt, 7 * cnt - win_sum AS detrend7,
               (day - DATE '1970-01-01') % 7 AS dow
        FROM trended WHERE win_n = 7
    )
    SELECT dow::INT AS dow, COUNT(*)::BIGINT AS n_days,
           SUM(detrend7)::BIGINT AS detrend7_sum,
           ROUND(SUM(detrend7)::DOUBLE / 7 / COUNT(*), 6) AS seasonal
    FROM interior GROUP BY dow
    """,
)
def seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonal decomposition of the daily event series
    (seasonal-naive / classical-decomposition shape): trend = 7-row
    centered moving sum over observed days; detrended values stay exact
    BIGINTs by scaling ×7 (7·cnt − window_sum) instead of dividing per
    row, so the per-weekday seasonal means fold exactly on both engines
    and divide ONCE at the end — the float-fold drift class designed
    out, same as trend_daily_events' integer normal equations.  Edge
    days with partial windows are excluded (win_n = 7); dow is epoch-day
    mod 7 (0 = Thursday), engine-independent unlike dayofweek().
    One scan → one day aggregate → one window → one 7-row aggregate;
    the single-partition window runs over the PRE-AGGREGATED daily
    series (one row per day — ~37k rows for a century), not the events."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count("*").cast("long").alias("cnt")
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    trended = daily.select(
        "day",
        "cnt",
        F.sum("cnt").over(w).cast("long").alias("win_sum"),
        F.count("*").over(w).cast("long").alias("win_n"),
    )
    interior = trended.filter(F.col("win_n") == 7).select(
        (7 * F.col("cnt") - F.col("win_sum")).alias("detrend7"),
        (F.datediff(F.col("day"), F.lit("1970-01-01")) % 7).alias("dow"),
    )
    return interior.groupBy(F.col("dow").cast("int").alias("dow")).agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("detrend7").cast("long").alias("detrend7_sum"),
        F.round(
            F.sum("detrend7").cast("double") / 7 / F.count("*"), 6
        ).alias("seasonal"),
    )


@query(
    "changepoint_cusum",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, COUNT(*)::BIGINT AS cnt
        FROM events GROUP BY 1
    ),
    stats AS (
        SELECT COUNT(*)::BIGINT AS n, SUM(cnt)::BIGINT AS total FROM daily
    ),
    cusum AS (
        SELECT day,
               SUM((SELECT n FROM stats) * cnt - (SELECT total FROM stats))
                   OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)::BIGINT
                   AS cusum_n
        FROM daily
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, cusum_n,
           abs(cusum_n)::BIGINT AS magnitude
    FROM cusum
    ORDER BY abs(cusum_n) DESC, day ASC
    LIMIT 5
    """,
)
def changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint candidates on the daily event series: the running
    sum of (count − mean) peaks in magnitude at a level shift.  Deviations
    scale by N (N·cnt − total) so the cumulative sum is an exact BIGINT —
    no float fold anywhere; top-5 by |cusum| with (magnitude DESC, day
    ASC) determinism.  Complements ts_anomalies (point outliers) with
    level-shift detection.  The running window orders the pre-aggregated
    daily series; the one-row stats broadcast."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count("*").cast("long").alias("cnt")
    )
    stats = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cnt").cast("long").alias("total"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cusum = (
        daily.crossJoin(F.broadcast(stats))
        .withColumn(
            "cusum_n",
            F.sum(F.col("n") * F.col("cnt") - F.col("total")).over(w).cast("long"),
        )
    )
    return (
        cusum.select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "cusum_n",
            F.abs("cusum_n").cast("long").alias("magnitude"),
        )
        .orderBy(F.col("magnitude").desc(), F.col("day").asc())
        .limit(5)
    )


@query(
    "k_anonymity",
    """
    WITH quasi AS (
        SELECT lang, source, (n_chars // 100) * 100 AS len_bucket,
               COUNT(*)::BIGINT AS group_size
        FROM documents
        GROUP BY lang, source, (n_chars // 100) * 100
    )
    SELECT lang, source, len_bucket::BIGINT AS len_bucket, group_size
    FROM quasi WHERE group_size < 5
    """,
)
def k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier tuple (lang, source,
    length bucket): groups smaller than k=5 are re-identification risks a
    release pipeline must suppress or generalize (Sweeney 2002) — the
    governance sibling of pii_redact (which removes direct identifiers;
    this finds INDIRECT ones).  One hash aggregate on the quasi key; the
    under-k report is tiny by construction."""
    d = load_table(spark, sf_dir, "documents")
    quasi = d.groupBy(
        "lang",
        "source",
        ((F.col("n_chars") / 100).cast("long") * 100).alias("len_bucket"),
    ).agg(F.count("*").cast("long").alias("group_size"))
    return quasi.filter(F.col("group_size") < 5)


@query(
    "autocorr_weekly",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, COUNT(*)::BIGINT AS cnt
        FROM events GROUP BY 1
    ),
    lagged AS (
        SELECT day, cnt,
               LAG(cnt, 7) OVER (ORDER BY day) AS cnt7
        FROM daily
    ),
    pairs AS (SELECT cnt, cnt7 FROM lagged WHERE cnt7 IS NOT NULL),
    s AS (
        SELECT COUNT(*)::BIGINT AS n,
               SUM(cnt)::BIGINT AS sx, SUM(cnt7)::BIGINT AS sy,
               SUM(cnt * cnt7)::BIGINT AS sxy,
               SUM(cnt * cnt)::BIGINT AS sxx,
               SUM(cnt7 * cnt7)::BIGINT AS syy
        FROM pairs
    )
    SELECT n,
           ROUND(CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                      THEN (n * sxy - sx * sy)::DOUBLE
                           / SQRT((n * sxx - sx * sx)::DOUBLE)
                           / SQRT((n * syy - sy * sy)::DOUBLE)
                      ELSE 0.0 END, 6) AS acf7
    FROM s
    """,
)
def autocorr_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-7 autocorrelation of the daily event series — the scalar
    confirmation of the weekly cycle seasonal_decompose extracts.  All
    moments are exact BIGINT sums over integer counts (N·Σxy − ΣxΣy
    numerator, same for the variances), so both engines compute identical
    integers and divide/sqrt once — the trend_daily_events integer
    normal-equations pattern applied to correlation."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count("*").cast("long").alias("cnt")
    )
    lagged = daily.withColumn(
        "cnt7", F.lag("cnt", 7).over(Window.orderBy("day"))
    ).filter(F.col("cnt7").isNotNull())
    s = lagged.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cnt").cast("long").alias("sx"),
        F.sum("cnt7").cast("long").alias("sy"),
        F.sum(F.col("cnt") * F.col("cnt7")).cast("long").alias("sxy"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("sxx"),
        F.sum(F.col("cnt7") * F.col("cnt7")).cast("long").alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        "n",
        F.round(
            F.when(
                (vx > 0) & (vy > 0),
                num.cast("double") / F.sqrt(vx.cast("double")) / F.sqrt(vy.cast("double")),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("acf7"),
    )


@query(
    "revenue_gini",
    """
    WITH ltv AS (
        SELECT o_custkey,
               SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))::BIGINT AS cents
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT cents,
               ROW_NUMBER() OVER (ORDER BY cents ASC, o_custkey ASC) AS i
        FROM ltv
    ),
    s AS (
        SELECT COUNT(*)::BIGINT AS n, SUM(cents)::BIGINT AS total,
               SUM(i * cents)::BIGINT AS weighted
        FROM ranked
    )
    SELECT n, total,
           ROUND((2 * weighted - (n + 1) * total)::DOUBLE / (n * total), 6)
               AS gini
    FROM s
    """,
)
def revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer lifetime revenue — the concentration
    scalar behind revenue_deciles' table (how top-heavy is the customer
    base).  Prices become exact BIGINT cents (two-decimal TPC-H prices;
    .5-boundary rounding cannot occur), the rank window orders the
    PRE-AGGREGATED per-customer series with an id tie-break, and
    G = (2·Σi·x − (N+1)·Σx) / (N·Σx) stays in exact integers until one
    final division."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    ltv = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .cast("long")
        .alias("cents")
    )
    ranked = ltv.withColumn(
        "i", F.row_number().over(Window.orderBy(F.asc("cents"), F.asc("o_custkey")))
    )
    s = ranked.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("total"),
        F.sum(F.col("i") * F.col("cents")).cast("long").alias("weighted"),
    )
    return s.select(
        "n",
        "total",
        F.round(
            (2 * F.col("weighted") - (F.col("n") + 1) * F.col("total")).cast("double")
            / (F.col("n") * F.col("total")),
            6,
        ).alias("gini"),
    )


@query(
    "event_burstiness",
    """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*)::BIGINT AS cnt
        FROM events GROUP BY 1, 2
    ),
    s AS (
        SELECT event_type, COUNT(*)::BIGINT AS n_days,
               SUM(cnt)::BIGINT AS sx, SUM(cnt * cnt)::BIGINT AS sxx
        FROM daily GROUP BY event_type
    )
    SELECT event_type, n_days, sx AS total_events,
           ROUND((n_days * sxx - sx * sx)::DOUBLE / (n_days * sx), 6)
               AS fano
    FROM s
    """,
)
def event_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (variance-to-mean of daily counts) per event type —
    burstiness beyond ts_anomalies' point outliers: ≈1 is Poisson-like
    arrival, >1 is bursty/overdispersed traffic.  (N·Σx² − (Σx)²) and
    N·Σx are exact BIGINTs over integer counts; one division per type.
    Days with zero events for a type are absent from BOTH engines' daily
    series identically (observed-day convention)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("long").alias("cnt"))
    s = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("cnt").cast("long").alias("sx"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("sxx"),
    )
    return s.select(
        "event_type",
        "n_days",
        F.col("sx").alias("total_events"),
        F.round(
            (F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
            / (F.col("n_days") * F.col("sx")),
            6,
        ).alias("fano"),
    )


def _stationary_oracle(iters: int) -> str:
    """Unrolled power iteration over the event-type transition matrix —
    the pagerank-oracle pattern: float products replayed in the same
    structure on both engines, rounded once at the end."""
    sql = """
    WITH tr AS (
        SELECT lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ) AS from_t,
               event_type AS to_t
        FROM events
    ),
    cnt AS (
        SELECT from_t, to_t, COUNT(*)::BIGINT AS n
        FROM tr WHERE from_t IS NOT NULL GROUP BY from_t, to_t
    ),
    tot AS (SELECT from_t, SUM(n)::BIGINT AS t FROM cnt GROUP BY from_t),
    types AS (SELECT DISTINCT event_type AS ty FROM events),
    p0 AS (
        SELECT ty, 1.0 / (SELECT COUNT(*) FROM types) AS p FROM types
    )"""
    for i in range(iters):
        sql += f""",
    p{i + 1} AS (
        SELECT m.to_t AS ty, SUM(pk.p * (m.n::DOUBLE / tt.t)) AS p
        FROM p{i} pk
        JOIN cnt m ON m.from_t = pk.ty
        JOIN tot tt ON tt.from_t = m.from_t
        GROUP BY m.to_t
    )"""
    sql += f"""
    SELECT ty AS event_type, ROUND(p, 6) AS stationary_p FROM p{iters}
    """
    return sql


@query("markov_stationary", _stationary_oracle(iters=5))
def markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type Markov chain — 5 power
    iterations from uniform over event_transitions' matrix (where does a
    user's session settle in the long run).  Each iteration is one join
    against the (types², tiny) transition matrix + one aggregate; the
    oracle unrolls the same 5 iterations (pagerank's oracle pattern).
    Types that never emit (appear only session-final) would absorb mass
    identically on both engines; none exist in this corpus."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    tr = e.select(
        F.lag("event_type")
        .over(Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id")))
        .alias("from_t"),
        F.col("event_type").alias("to_t"),
    ).filter(F.col("from_t").isNotNull())
    cnt = tr.groupBy("from_t", "to_t").agg(F.count("*").cast("long").alias("n"))
    tot = cnt.groupBy("from_t").agg(F.sum("n").cast("long").alias("t"))
    m = cnt.join(tot, "from_t").select(
        "from_t", "to_t", (F.col("n").cast("double") / F.col("t")).alias("pij")
    )
    n_types = e.select("event_type").distinct().count()
    pi = e.select(F.col("event_type").alias("ty")).distinct().select(
        "ty", (F.lit(1.0) / F.lit(n_types)).alias("p")
    )
    for _ in range(5):
        pi = (
            pi.join(m, pi["ty"] == m["from_t"])
            .groupBy(F.col("to_t").alias("ty2"))
            .agg(F.sum(F.col("p") * F.col("pij")).alias("p"))
            .withColumnRenamed("ty2", "ty")
        )
    return pi.select(
        F.col("ty").alias("event_type"), F.round("p", 6).alias("stationary_p")
    )


@query(
    "histogram_quantiles",
    """
    WITH b AS (
        SELECT FLOOR(value * 100.0 + 0.5)::BIGINT AS b, COUNT(*)::BIGINT AS c
        FROM events GROUP BY 1
    ),
    nn AS (SELECT SUM(c)::BIGINT AS n FROM b),
    cum AS (
        SELECT b, SUM(c) OVER (ORDER BY b
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum
        FROM b
    ),
    qs AS (SELECT unnest([500, 900, 990, 999])::BIGINT AS q_permille),
    thr AS (
        SELECT q_permille,
               ((SELECT n FROM nn) * q_permille + 999) // 1000 AS threshold
        FROM qs
    )
    SELECT t.q_permille,
           ROUND(MIN(c.b)::DOUBLE / 100.0, 6) AS est_value
    FROM thr t JOIN cum c ON c.cum >= t.threshold
    GROUP BY t.q_permille
    ORDER BY t.q_permille
    """,
)
def histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable fixed-grid quantile sketch over event values: bin =
    round(value·100) (exact for 2-decimal data), so the sketch is ONE
    bounded-cardinality integer histogram — partitions aggregate
    independently and merge by addition, the property exact
    percentile_disc (a full sort-shuffle of the corpus) does not have.
    Quantile q = the smallest bin whose cumulative count reaches
    ceil(q·n), computed in integers ((n·q‰ + 999) div 1000) — estimate
    error is bounded by the bin width, engine drift is impossible.

    Scale shape: one groupBy(bin) with map-side combine; the cumulative
    window runs over the GRID (≤ ~50k bins here, fixed by value range ×
    resolution), never over the corpus."""
    from fusionspark.operators.sketches import cents_histogram, quantiles_from_bins

    e = load_table(spark, sf_dir, "events")
    return quantiles_from_bins(cents_histogram(e), [500, 900, 990, 999])


# Holt's linear-trend recursion replayed as an ordered fold whose
# accumulator is a [level, trend] DOUBLE array on BOTH engines (Spark
# F.aggregate / DuckDB list_reduce over single-element lists — the
# accumulator and element types must match in DuckDB, hence the [y]
# wrapping).  α = β = 0.5: exact binary fractions, and the l' expression
# is textually duplicated in the trend update on both sides so the IEEE
# trees are identical.
_ETS_SQL_STEP = """(a, y) -> CASE WHEN len(a) = 1
            THEN [y[1], y[1] - a[1]]
            ELSE [0.5 * y[1] + 0.5 * (a[1] + a[2]),
                  0.5 * ((0.5 * y[1] + 0.5 * (a[1] + a[2])) - a[1])
                  + 0.5 * a[2]]
            END"""


@query(
    "ets_forecast",
    f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, COUNT(*)::BIGINT AS cnt
        FROM events GROUP BY 1
    ),
    ys AS (SELECT list(CAST(cnt AS DOUBLE) ORDER BY day) AS ys FROM daily),
    st AS (
        SELECT list_reduce(list_transform(ys, y -> [y]), {_ETS_SQL_STEP}) AS s
        FROM ys
    ),
    hs AS (SELECT unnest(range(1, 8))::BIGINT AS h)
    SELECT h, ROUND((SELECT s[1] + h * s[2] FROM st), 6) AS forecast
    FROM hs ORDER BY h
    """,
)
def ets_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day-ahead forecast of the daily event count by Holt's
    linear-trend exponential smoothing (α = β = 0.5, init l₂ = y₂,
    b₂ = y₂ − y₁): the capacity-planning readout over the same daily
    series trend_daily_events fits linearly — ETS tracks level changes
    the global OLS line averages away.  The recursion is a
    left-to-right fold over the day-ordered counts with a [level,
    trend] accumulator, bit-identical across engines (exact-fraction
    coefficients, duplicated-subexpression update, ordered list).

    Scale shape: one groupBy(day) with map-side combine; the fold runs
    over the DAY COUNT (30 rows), not the corpus."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").cast("long").alias("cnt")
    )
    ys = daily.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "cnt"))),
            lambda s: s["cnt"].cast("double"),
        ).alias("ys")
    )

    def step(a, y):
        lnew = 0.5 * y + 0.5 * (F.element_at(a, 1) + F.element_at(a, 2))
        return F.when(
            F.size(a) == 1,
            F.array(y, y - F.element_at(a, 1)),
        ).otherwise(
            F.array(
                lnew,
                0.5 * (lnew - F.element_at(a, 1)) + 0.5 * F.element_at(a, 2),
            )
        )

    st = ys.select(
        F.aggregate(
            F.slice(F.col("ys"), 2, F.size("ys") - 1),
            F.array(F.element_at("ys", 1)),
            step,
        ).alias("s")
    )
    hs = spark.range(1, 8).select(F.col("id").alias("h"))
    return (
        hs.crossJoin(F.broadcast(st))
        .select(
            "h",
            F.round(
                F.element_at("s", 1) + F.col("h") * F.element_at("s", 2), 6
            ).alias("forecast"),
        )
        .orderBy("h")
    )


@query(
    "l_diversity",
    """
    WITH g AS (
        SELECT CAST(ts AS DATE) AS day, event_type,
               COUNT(DISTINCT user_id)::BIGINT AS l,
               COUNT(*)::BIGINT AS group_size
        FROM events GROUP BY 1, 2
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, event_type, l, group_size
    FROM g ORDER BY l ASC, day ASC, event_type ASC LIMIT 10
    """,
)
def l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala 2007) — k_anonymity's
    sensitive-attribute sibling: per quasi-identifier cell (day,
    event_type), how many DISTINCT users stand behind it; the 10
    lowest-diversity cells are where a released aggregate is closest to
    naming someone even when every cell is k-large.  One distinct-agg
    shuffle on the quasi key; the report is a top-10 TakeOrdered."""
    e = load_table(spark, sf_dir, "events")
    g = e.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
        F.count_distinct("user_id").cast("long").alias("l"),
        F.count("*").cast("long").alias("group_size"),
    )
    return (
        g.orderBy(F.col("l").asc(), F.col("day").asc(), F.col("event_type").asc())
        .limit(10)
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "event_type",
            "l",
            "group_size",
        )
    )


@query(
    "lineitem_corr",
    """
    WITH q AS (
        SELECT FLOOR(l_quantity * 100.0 + 0.5)::BIGINT AS x,
               FLOOR(l_extendedprice * 100.0 + 0.5)::BIGINT AS y,
               FLOOR(l_discount * 100.0 + 0.5)::BIGINT AS z
        FROM lineitem
    ),
    s AS (
        SELECT COUNT(*)::HUGEINT AS n,
               SUM(x)::HUGEINT AS sx, SUM(y)::HUGEINT AS sy,
               SUM(z)::HUGEINT AS sz,
               SUM((x * y)::HUGEINT) AS sxy, SUM((x * z)::HUGEINT) AS sxz,
               SUM((y * z)::HUGEINT) AS syz,
               SUM((x * x)::HUGEINT) AS sxx, SUM((y * y)::HUGEINT) AS syy,
               SUM((z * z)::HUGEINT) AS szz
        FROM q
    )
    SELECT ROUND((n * sxy - sx * sy)::DOUBLE
                 / SQRT((n * sxx - sx * sx)::DOUBLE)
                 / SQRT((n * syy - sy * sy)::DOUBLE), 6) AS corr_qty_price,
           ROUND((n * sxz - sx * sz)::DOUBLE
                 / SQRT((n * sxx - sx * sx)::DOUBLE)
                 / SQRT((n * szz - sz * sz)::DOUBLE), 6) AS corr_qty_disc,
           ROUND((n * syz - sy * sz)::DOUBLE
                 / SQRT((n * syy - sy * sy)::DOUBLE)
                 / SQRT((n * szz - sz * sz)::DOUBLE), 6) AS corr_price_disc
    FROM s
    """,
)
def lineitem_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Pearson correlations between the lineitem measures
    (quantity/price/discount) — the numeric-profiling companion of
    table_profile.  The 2-decimal doubles quantize losslessly to cents
    (round(v·100)), every moment is an exact integer sum
    (decimal(38)/HUGEINT — ~1e22 at sf100, far inside 38 digits), and
    doubles appear only in the one closed-form display expression
    written identically on both engines (the autocorr_weekly /SQRT/SQRT
    shape).  One pass, map-side-combined; no corpus shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    q = li.select(
        F.floor(F.col("l_quantity") * 100.0 + 0.5).cast("long").alias("x"),
        F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("long").alias("y"),
        F.floor(F.col("l_discount") * 100.0 + 0.5).cast("long").alias("z"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = q.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum(dec(F.col("x"))).cast("decimal(38,0)").alias("sx"),
        F.sum(dec(F.col("y"))).cast("decimal(38,0)").alias("sy"),
        F.sum(dec(F.col("z"))).cast("decimal(38,0)").alias("sz"),
        F.sum(dec(F.col("x") * F.col("y"))).cast("decimal(38,0)").alias("sxy"),
        F.sum(dec(F.col("x") * F.col("z"))).cast("decimal(38,0)").alias("sxz"),
        F.sum(dec(F.col("y") * F.col("z"))).cast("decimal(38,0)").alias("syz"),
        F.sum(dec(F.col("x") * F.col("x"))).cast("decimal(38,0)").alias("sxx"),
        F.sum(dec(F.col("y") * F.col("y"))).cast("decimal(38,0)").alias("syy"),
        F.sum(dec(F.col("z") * F.col("z"))).cast("decimal(38,0)").alias("szz"),
    )

    def corr(sab, sa, sb, saa, sbb):
        return F.round(
            (F.col("n") * F.col(sab) - F.col(sa) * F.col(sb)).cast("double")
            / F.sqrt((F.col("n") * F.col(saa) - F.col(sa) * F.col(sa)).cast("double"))
            / F.sqrt((F.col("n") * F.col(sbb) - F.col(sb) * F.col(sb)).cast("double")),
            6,
        )

    return s.select(
        corr("sxy", "sx", "sy", "sxx", "syy").alias("corr_qty_price"),
        corr("sxz", "sx", "sz", "sxx", "szz").alias("corr_qty_disc"),
        corr("syz", "sy", "sz", "syy", "szz").alias("corr_price_disc"),
    )


@query(
    "benford_digits",
    """
    WITH c AS (
        SELECT substr(CAST(FLOOR(value * 100.0 + 0.5)::BIGINT AS VARCHAR),
                      1, 1)::BIGINT AS digit
        FROM events WHERE value > 0
    ),
    nn AS (SELECT COUNT(*)::BIGINT AS n FROM c),
    obs AS (SELECT digit, COUNT(*)::BIGINT AS observed FROM c GROUP BY digit),
    d9 AS (SELECT unnest(range(1, 10))::BIGINT AS digit)
    SELECT d.digit,
           COALESCE(o.observed, 0)::BIGINT AS observed,
           ROUND(log10(1.0 + 1.0 / CAST(d.digit AS DOUBLE)), 6) AS benford_p,
           ROUND(CAST(COALESCE(o.observed, 0) AS DOUBLE)
                 / CAST((SELECT n FROM nn) AS DOUBLE), 6) AS observed_p,
           ROUND(CAST(COALESCE(o.observed, 0) AS DOUBLE)
                 / CAST((SELECT n FROM nn) AS DOUBLE)
                 - log10(1.0 + 1.0 / CAST(d.digit AS DOUBLE)), 6) AS deviation
    FROM d9 d LEFT JOIN obs o ON o.digit = d.digit
    ORDER BY d.digit
    """,
)
def benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law digit test over event values — the fraud / synthetic-
    data forensics screen: natural multi-scale amounts put digit d first
    with p = log₁₀(1 + 1/d); a flat or spiked profile means generated or
    manipulated values.  The first digit is extracted from the INTEGER
    cents string (no float log bucketing — engine-identical by
    construction); all 9 digits are kept via the left join so absent
    digits report observed = 0 rather than vanishing.  One digit groupBy
    (map-side combine); the readout is 9 rows."""
    e = load_table(spark, sf_dir, "events")
    c = e.filter(F.col("value") > 0).select(
        F.substring(
            F.floor(F.col("value") * 100.0 + 0.5).cast("long").cast("string"), 1, 1
        )
        .cast("long")
        .alias("digit")
    )
    nn = c.agg(F.count("*").cast("long").alias("n"))
    obs = c.groupBy("digit").agg(F.count("*").cast("long").alias("observed"))
    d9 = spark.range(1, 10).select(F.col("id").alias("digit"))
    bp = F.log10(1.0 + 1.0 / F.col("digit").cast("double"))
    op = F.col("observed").cast("double") / F.col("n").cast("double")
    return (
        d9.join(F.broadcast(obs), "digit", "left")
        .crossJoin(F.broadcast(nn))
        .select(
            "digit",
            F.coalesce("observed", F.lit(0)).cast("long").alias("observed"),
            F.round(bp, 6).alias("benford_p"),
            F.round(
                F.coalesce("observed", F.lit(0)).cast("double")
                / F.col("n").cast("double"),
                6,
            ).alias("observed_p"),
            F.round(
                F.coalesce("observed", F.lit(0)).cast("double")
                / F.col("n").cast("double")
                - bp,
                6,
            ).alias("deviation"),
        )
        .orderBy("digit")
    )


@query(
    "t_closeness",
    """
    WITH gc AS (
        SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*)::BIGINT AS cnt
        FROM events GROUP BY 1, 2
    ),
    gn AS (SELECT day, SUM(cnt)::BIGINT AS group_n FROM gc GROUP BY day),
    gl AS (SELECT event_type, SUM(cnt)::BIGINT AS gcnt FROM gc GROUP BY event_type),
    tot AS (SELECT SUM(cnt)::BIGINT AS n FROM gc),
    grid AS (SELECT gn.day, gn.group_n, gl.event_type, gl.gcnt FROM gn CROSS JOIN gl),
    diffs AS (
        SELECT g.day, g.group_n,
               ABS(COALESCE(c.cnt, 0) * t.n - g.gcnt * g.group_n)::BIGINT AS num
        FROM grid g
        LEFT JOIN gc c ON g.day = c.day AND g.event_type = c.event_type
        CROSS JOIN tot t
    ),
    scored AS (
        SELECT day, group_n,
               SUM(num)::BIGINT AS num_sum
        FROM diffs GROUP BY day, group_n
    )
    SELECT strftime(s.day, '%Y-%m-%d') AS day, s.group_n AS group_size,
           ROUND(0.5 * s.num_sum / (s.group_n * t.n)::DOUBLE, 6) AS t_dist
    FROM scored s CROSS JOIN tot t
    ORDER BY t_dist DESC, day ASC LIMIT 10
    """,
)
def t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li et al. 2007) — completes the privacy triad
    with k_anonymity and l_diversity: per quasi-identifier group (day),
    the total-variation distance between the group's sensitive-attribute
    (event_type) distribution and the global one; the 10 farthest groups
    are where a released cell leaks attribute skew even when k-large and
    l-diverse.  Exact arithmetic: the TV sum is folded over a common
    denominator — Σ|cnt·N − gcnt·gn| in BIGINT (≤ N² ≈ 10¹⁰ at sf0.1,
    envelope to 2⁶³ at ~3M events per the spectral overflow discipline) —
    with ONE closed-form double at the end.

    Plan: one groupBy(day, type) shuffle; days and the 5-type global
    histogram are tiny and broadcast into a dense grid so absent types
    count their full global mass; the report is a top-10 TakeOrdered."""
    e = load_table(spark, sf_dir, "events")
    gc = e.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
        F.count("*").cast("long").alias("cnt")
    )
    gn = gc.groupBy("day").agg(F.sum("cnt").cast("long").alias("group_n"))
    gl = gc.groupBy("event_type").agg(F.sum("cnt").cast("long").alias("gcnt"))
    tot = gc.agg(F.sum("cnt").cast("long").alias("n"))
    grid = gn.crossJoin(F.broadcast(gl))
    diffs = (
        grid.join(gc, ["day", "event_type"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "day",
            "group_n",
            "n",
            F.abs(
                F.coalesce(F.col("cnt"), F.lit(0)) * F.col("n")
                - F.col("gcnt") * F.col("group_n")
            )
            .cast("long")
            .alias("num"),
        )
    )
    scored = diffs.groupBy("day", "group_n", "n").agg(
        F.sum("num").cast("long").alias("num_sum")
    )
    return (
        scored.select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("group_n").alias("group_size"),
            F.round(
                F.lit(0.5)
                * F.col("num_sum")
                / (F.col("group_n") * F.col("n")).cast("double"),
                6,
            ).alias("t_dist"),
        )
        .orderBy(F.col("t_dist").desc(), F.col("day").asc())
        .limit(10)
    )


@query(
    "skyline_parts",
    """
    WITH pts AS (
        SELECT l_partkey AS part,
               MIN(FLOOR(l_extendedprice * 100.0 + 0.5)::BIGINT) AS price,
               SUM(l_quantity)::BIGINT AS qty
        FROM lineitem GROUP BY 1
    ),
    w AS (
        SELECT part, price, qty,
               MAX(qty) OVER (ORDER BY price
                   RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m1,
               MAX(qty) OVER (ORDER BY price
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m2
        FROM pts
    )
    SELECT part, price AS min_price_cents, qty AS total_qty
    FROM w
    WHERE COALESCE(m1 >= qty, FALSE) = FALSE AND m2 <= qty
    """,
)
def skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKYLINE (Pareto frontier, Börzsönyi et al. 2001) over per-part
    (min price cents ↓ better, total quantity ↑ better): parts no other
    part beats on both axes.  A 2-D skyline needs no pairwise dominance
    test — sort by price and a point survives iff no cheaper point has
    ≥ its quantity (window running max with a RANGE frame; the ≤-price
    frame catches same-price strict dominators).  All integers (cents,
    summed integral quantities); no floats anywhere.

    Plan: two-phase distributive skyline — phase 1 runs the same window
    per input partition (skyline(S) = skyline(∪ skyline(Sᵢ)), so
    dominated points die before any global step), phase 2 re-runs it on
    the surviving candidates, which are at most one frontier per
    partition.  At 100 TB the global sort touches only candidates; the
    oracle replays the single-pass form, attesting the two-phase cut
    drops exactly the dominated set."""
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.groupBy(F.col("l_partkey").alias("part")).agg(
        F.min(F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("long")).alias(
            "price"
        ),
        F.sum("l_quantity").cast("long").alias("qty"),
    )

    def survivors(df: DataFrame, *parts) -> DataFrame:
        w1 = (
            Window.partitionBy(*parts)
            .orderBy("price")
            .rangeBetween(Window.unboundedPreceding, -1)
        )
        w2 = (
            Window.partitionBy(*parts)
            .orderBy("price")
            .rangeBetween(Window.unboundedPreceding, 0)
        )
        return (
            df.withColumn("m1", F.max("qty").over(w1))
            .withColumn("m2", F.max("qty").over(w2))
            .filter(
                ~F.coalesce(F.col("m1") >= F.col("qty"), F.lit(False))
                & (F.col("m2") <= F.col("qty"))
            )
            .drop("m1", "m2")
        )

    local = survivors(
        pts.withColumn("_pid", F.spark_partition_id()), "_pid"
    ).drop("_pid")
    return survivors(local).select(
        "part",
        F.col("price").alias("min_price_cents"),
        F.col("qty").alias("total_qty"),
    )


@query(
    "dq_expectations",
    """
    WITH n AS (SELECT COUNT(*)::BIGINT AS n FROM lineitem)
    SELECT 'l_quantity_not_null' AS rule, n.n AS n_rows,
           (SELECT COUNT(*) FILTER (WHERE l_quantity IS NULL) FROM lineitem)::BIGINT
           AS n_violations,
           (SELECT COUNT(*) FILTER (WHERE l_quantity IS NULL) FROM lineitem) = 0
           AS passed
    FROM n
    UNION ALL
    SELECT 'l_discount_in_range', n.n,
           (SELECT COUNT(*) FILTER (WHERE NOT (l_discount >= 0.0 AND l_discount <= 0.1))
            FROM lineitem)::BIGINT,
           (SELECT COUNT(*) FILTER (WHERE NOT (l_discount >= 0.0 AND l_discount <= 0.1))
            FROM lineitem) = 0
    FROM n
    UNION ALL
    SELECT 'l_returnflag_accepted', n.n,
           (SELECT COUNT(*) FILTER (WHERE l_returnflag NOT IN ('A', 'N', 'R'))
            FROM lineitem)::BIGINT,
           (SELECT COUNT(*) FILTER (WHERE l_returnflag NOT IN ('A', 'N', 'R'))
            FROM lineitem) = 0
    FROM n
    UNION ALL
    SELECT 'l_quantity_max_50', n.n,
           (SELECT COUNT(*) FILTER (WHERE l_quantity > 50.0) FROM lineitem)::BIGINT,
           (SELECT COUNT(*) FILTER (WHERE l_quantity > 50.0) FROM lineitem) = 0
    FROM n
    UNION ALL
    SELECT 'lineitem_pk_unique', n.n,
           (n.n - (SELECT COUNT(DISTINCT (l_orderkey, l_linenumber)) FROM lineitem))::BIGINT,
           n.n = (SELECT COUNT(DISTINCT (l_orderkey, l_linenumber)) FROM lineitem)
    FROM n
    UNION ALL
    SELECT 'l_orderkey_in_orders', n.n,
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))::BIGINT,
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) = 0
    FROM n
    """,
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation suite over lineitem (operators/dq.py):
    four row-predicate rules folded into ONE scan-side aggregate, a
    composite-key uniqueness check (one distinct-count shuffle), and
    orders referential integrity (broadcast anti-join) — the publish
    gate a pipeline runs on every new partition."""
    from fusionspark.operators import dq

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    rules = dq.dq_check(
        li,
        [
            ("l_quantity_not_null", F.col("l_quantity").isNull()),
            (
                "l_discount_in_range",
                ~((F.col("l_discount") >= 0.0) & (F.col("l_discount") <= 0.1)),
            ),
            (
                "l_returnflag_accepted",
                ~F.col("l_returnflag").isin("A", "N", "R"),
            ),
            ("l_quantity_max_50", F.col("l_quantity") > 50.0),
        ],
    )
    uniq = dq.dq_unique(li, ["l_orderkey", "l_linenumber"], "lineitem_pk_unique")
    ref = dq.dq_ref_integrity(li, "l_orderkey", o, "o_orderkey", "l_orderkey_in_orders")
    return dq.dq_suite([rules, uniq, ref])


@query(
    "theil_sen_trend",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, COUNT(*)::BIGINT AS y
        FROM events GROUP BY 1
    ),
    mn AS (SELECT MIN(day) AS d0 FROM daily),
    idx AS (
        SELECT (day - mn.d0)::BIGINT AS d, y FROM daily CROSS JOIN mn
    ),
    pairs AS (
        SELECT (b.y - a.y)::BIGINT AS num, (b.d - a.d)::BIGINT AS den
        FROM idx a JOIN idx b ON b.d > a.d
    ),
    m AS (SELECT COUNT(*)::BIGINT AS m, (COUNT(*) - 1) // 2 AS t FROM pairs),
    dist AS (SELECT DISTINCT num, den FROM pairs),
    ranked AS (
        SELECT p.num, p.den,
               SUM(CASE WHEN q.num * p.den < p.num * q.den THEN 1 ELSE 0 END)::BIGINT AS n_less,
               SUM(CASE WHEN q.num * p.den = p.num * q.den THEN 1 ELSE 0 END)::BIGINT AS n_eq
        FROM dist p CROSS JOIN pairs q
        GROUP BY p.num, p.den
    ),
    med AS (
        SELECT r.num, r.den FROM ranked r CROSS JOIN m
        WHERE r.n_less <= m.t AND r.n_less + r.n_eq > m.t
        ORDER BY r.den, r.num LIMIT 1
    ),
    ic AS (
        SELECT i.y * med.den - med.num * i.d AS ic_num, i.d
        FROM idx i CROSS JOIN med
    ),
    icr AS (
        SELECT ic_num,
               ROW_NUMBER() OVER (ORDER BY ic_num ASC, d ASC) AS rn,
               COUNT(*) OVER () AS n
        FROM ic
    ),
    icm AS (
        SELECT AVG(ic_num) AS ic_avg FROM icr
        WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
    )
    SELECT ROUND(med.num::DOUBLE / med.den, 6) AS slope,
           ROUND(icm.ic_avg / med.den, 6) AS intercept,
           (SELECT COUNT(*)::BIGINT FROM idx) AS n_days,
           m.m AS n_pairs
    FROM med CROSS JOIN icm CROSS JOIN m
    """,
)
def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of daily event counts — the
    breakdown-resistant sibling of trend_daily_events' OLS: slope =
    median of all pairwise (Δy/Δd) fractions, intercept = median of
    (yᵢ − slope·dᵢ).  ZERO float comparisons anywhere: fractions are
    ranked by BIGINT cross-multiplication (rank = #strictly-smaller over
    all m pairs, the median is the fraction whose below-count brackets
    (m−1)//2), and the intercept median orders exact integer numerators
    over the slope's common denominator; doubles appear only in the two
    final display divisions (IEEE division is correctly rounded, so any
    equal-valued fraction representation yields the identical double).

    Plan: the corpus collapses to ≤ |days| rows in one groupBy; pairs
    (m = days²/2 ≈ 435) and the m×m rank comparison (~190k rows) are
    bounded-grid broadcasts (the histogram_quantiles discipline), never
    corpus-sized."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").cast("long").alias("y")
    )
    mn = daily.agg(F.min("day").alias("d0"))
    # one corpus scan: the ≤|days|-row frame is checkpointed, so the many
    # bounded-grid reuses below (pairs, ranks, intercepts) never re-read
    # the events table
    idx = (
        daily.crossJoin(F.broadcast(mn))
        .select(F.datediff("day", "d0").cast("long").alias("d"), "y")
        .localCheckpoint(eager=True)
    )
    a, b = idx.alias("a"), idx.alias("b")
    pairs = (
        a.join(b, F.col("b.d") > F.col("a.d"))
        .select(
            (F.col("b.y") - F.col("a.y")).cast("long").alias("num"),
            (F.col("b.d") - F.col("a.d")).cast("long").alias("den"),
        )
        .localCheckpoint(eager=True)
    )
    m = pairs.agg(
        F.count("*").cast("long").alias("m"),
        F.expr("(count(*) - 1) div 2").cast("long").alias("t"),
    )
    dist = pairs.select("num", "den").distinct()
    p, q = dist.alias("p"), pairs.alias("q")
    ranked = (
        p.crossJoin(F.broadcast(q))
        .groupBy(F.col("p.num").alias("num"), F.col("p.den").alias("den"))
        .agg(
            F.sum(
                F.when(
                    F.col("q.num") * F.col("p.den") < F.col("p.num") * F.col("q.den"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_less"),
            F.sum(
                F.when(
                    F.col("q.num") * F.col("p.den") == F.col("p.num") * F.col("q.den"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_eq"),
        )
    )
    med = (
        ranked.crossJoin(F.broadcast(m))
        .filter(
            (F.col("n_less") <= F.col("t"))
            & (F.col("n_less") + F.col("n_eq") > F.col("t"))
        )
        .orderBy("den", "num")
        .limit(1)
        .select("num", "den")
    )
    ic = idx.crossJoin(F.broadcast(med)).select(
        (F.col("y") * F.col("den") - F.col("num") * F.col("d")).alias("ic_num"),
        "d",
    )
    wn = Window.orderBy(F.col("ic_num").asc(), F.col("d").asc())
    icr = ic.withColumn("rn", F.row_number().over(wn)).crossJoin(
        F.broadcast(idx.agg(F.count("*").cast("long").alias("n")))
    )
    icm = icr.filter(
        (F.col("rn") == F.expr("(n + 1) div 2")) | (F.col("rn") == F.expr("(n + 2) div 2"))
    ).agg(F.avg("ic_num").alias("ic_avg"))
    nd = idx.agg(F.count("*").cast("long").alias("n_days"))
    return (
        med.crossJoin(F.broadcast(icm))
        .crossJoin(F.broadcast(nd))
        .crossJoin(F.broadcast(m.select("m")))
        .select(
            F.round(F.col("num").cast("double") / F.col("den"), 6).alias("slope"),
            F.round(F.col("ic_avg") / F.col("den"), 6).alias("intercept"),
            "n_days",
            F.col("m").alias("n_pairs"),
        )
    )


@query(
    "mann_whitney",
    """
    WITH s AS (
        SELECT event_type AS g, FLOOR(value * 100.0 + 0.5)::BIGINT AS v
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    grid AS (
        SELECT v, COUNT(*)::BIGINT AS cnt,
               SUM(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS cnt1
        FROM s GROUP BY v
    ),
    ranked AS (
        SELECT v, cnt, cnt1,
               COALESCE(SUM(cnt) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        FROM grid
    ),
    agg AS (
        SELECT SUM(cnt1 * (2 * cum_before + cnt + 1))::BIGINT AS r1d,
               SUM(cnt1)::BIGINT AS n1,
               SUM(cnt - cnt1)::BIGINT AS n2,
               SUM(cnt * cnt * cnt - cnt)::BIGINT AS tsum
        FROM ranked
    )
    SELECT n1, n2,
           ROUND((r1d - n1 * (n1 + 1)) / 2.0, 6) AS u1,
           ROUND(
               ((r1d - n1 * (n1 + 1)) / 2.0 - (n1 * n2) / 2.0)
               / SQRT(((n1 * n2) * ((n1 + n2 + 1) - tsum / ((n1 + n2) * (n1 + n2 - 1)))) / 12.0),
               6) AS z
    FROM agg
    """,
)
def mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) between 'purchase' and 'click'
    event values — the nonparametric sibling of ab_test_zscore.  EXACT
    rank arithmetic on the bounded cents grid: per distinct cents value
    one (count, group-count) row, average tie ranks kept integral by
    DOUBLING (2·min_rank + t − 1), the rank sum, tie term Σ(t³−t), and
    group sizes all BIGINT; the tie-corrected normal approximation is one
    closed-form double written identically on both engines.

    Plan: the corpus does ONE groupBy(cents) shuffle; the running rank
    walks the distinct-value grid (≤ 10k rows — the histogram_quantiles
    discipline), never the event rows; the readout is a single row."""
    e = load_table(spark, sf_dir, "events")
    s = e.filter(F.col("event_type").isin("click", "purchase")).select(
        F.col("event_type").alias("g"),
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("v"),
    )
    grid = s.groupBy("v").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum(F.when(F.col("g") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("cnt1"),
    )
    wb = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = grid.withColumn(
        "cum_before", F.coalesce(F.sum("cnt").over(wb), F.lit(0))
    )
    agg = ranked.agg(
        F.sum(F.col("cnt1") * (2 * F.col("cum_before") + F.col("cnt") + 1))
        .cast("long")
        .alias("r1d"),
        F.sum("cnt1").cast("long").alias("n1"),
        F.sum(F.col("cnt") - F.col("cnt1")).cast("long").alias("n2"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("long")
        .alias("tsum"),
    )
    n1, n2, r1d, tsum = F.col("n1"), F.col("n2"), F.col("r1d"), F.col("tsum")
    u1 = (r1d - n1 * (n1 + 1)) / F.lit(2.0)
    num = u1 - (n1 * n2) / F.lit(2.0)
    inner = (n1 + n2 + 1) - tsum / ((n1 + n2) * (n1 + n2 - 1))
    z = num / F.sqrt(((n1 * n2) * inner) / F.lit(12.0))
    return agg.select(
        "n1", "n2", F.round(u1, 6).alias("u1"), F.round(z, 6).alias("z")
    )


@query(
    "chi2_independence",
    """
    WITH cells AS (
        SELECT event_type AS g, (dayofweek(ts) + 1)::BIGINT AS wd,
               COUNT(*)::BIGINT AS o
        FROM events GROUP BY 1, 2
    ),
    rm AS (SELECT g, SUM(o)::BIGINT AS r FROM cells GROUP BY g),
    cm AS (SELECT wd, SUM(o)::BIGINT AS c FROM cells GROUP BY wd),
    nn AS (SELECT SUM(o)::BIGINT AS n FROM cells),
    grid AS (
        SELECT rm.g, cm.wd, rm.r, cm.c, COALESCE(cells.o, 0)::BIGINT AS o
        FROM rm CROSS JOIN cm
        LEFT JOIN cells ON cells.g = rm.g AND cells.wd = cm.wd
    ),
    terms AS (
        SELECT g, wd,
               ((o * nn.n - r * c)::DOUBLE * (o * nn.n - r * c)::DOUBLE)
               / (nn.n * r * c)::DOUBLE AS term
        FROM grid CROSS JOIN nn
    ),
    folded AS (
        SELECT list_reduce(list_prepend(0.0, list(term ORDER BY g, wd)),
                           (a, x) -> a + x) AS chi2,
               COUNT(*)::BIGINT AS n_cells
        FROM terms
    )
    SELECT ROUND(folded.chi2, 6) AS chi2,
           (((SELECT COUNT(*) FROM rm) - 1)
            * ((SELECT COUNT(*) FROM cm) - 1))::BIGINT AS dof,
           folded.n_cells
    FROM folded
    """,
)
def chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ² test of independence between event_type and weekday — the
    contingency-table sibling of ab_test_zscore/mann_whitney.  Per cell
    the statistic is rewritten over the common denominator,
    (O·N − R·C)²/(N·R·C), so every ingredient is an exact BIGINT (the
    difference ≤ N² ≈ 10¹⁰ converts to double EXACTLY before squaring);
    the 35-term sum is a (type, weekday)-ordered IEEE fold on both
    engines (the source_divergence discipline), so no aggregation-order
    drift is possible.

    Plan: ONE groupBy(type, weekday) over the corpus; margins, the dense
    grid, and the fold all run on ≤ |types|·7 rows."""
    e = load_table(spark, sf_dir, "events")
    # the ≤ |types|·7-row contingency table is checkpointed so margins,
    # grid, and dof derive from ONE corpus scan
    cells = (
        e.groupBy(
            F.col("event_type").alias("g"),
            F.dayofweek("ts").cast("long").alias("wd"),
        )
        .agg(F.count("*").cast("long").alias("o"))
        .localCheckpoint(eager=True)
    )
    rm = cells.groupBy("g").agg(F.sum("o").cast("long").alias("r"))
    cm = cells.groupBy("wd").agg(F.sum("o").cast("long").alias("c"))
    nn = cells.agg(F.sum("o").cast("long").alias("n"))
    grid = (
        rm.crossJoin(F.broadcast(cm))
        .join(cells, ["g", "wd"], "left")
        .select(
            "g", "wd", "r", "c", F.coalesce(F.col("o"), F.lit(0)).cast("long").alias("o")
        )
    )
    x = (F.col("o") * F.col("n") - F.col("r") * F.col("c")).cast("double")
    terms = grid.crossJoin(F.broadcast(nn)).select(
        "g",
        "wd",
        ((x * x) / (F.col("n") * F.col("r") * F.col("c")).cast("double")).alias("term"),
    )
    folded = terms.agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("g", "wd", "term"))),
            F.lit(0.0),
            lambda acc, s: acc + s["term"],
        ).alias("chi2"),
        F.count("*").cast("long").alias("n_cells"),
    )
    dof = (
        rm.agg(F.count("*").alias("ng"))
        .crossJoin(F.broadcast(cm.agg(F.count("*").alias("nw"))))
        .select(((F.col("ng") - 1) * (F.col("nw") - 1)).cast("long").alias("dof"))
    )
    return folded.crossJoin(F.broadcast(dof)).select(
        F.round("chi2", 6).alias("chi2"), "dof", "n_cells"
    )


# Poisson(1) inverse-CDF cutoffs scaled to the md5_hash32 range [0, 2^32):
# T_k = ceil(CDF(k) * 2^32).  Weights compare the INTEGER hash against
# these BIGINT literals, so the resampling plan has zero float ops — any
# engine that agrees on md5 agrees on every weight.
_POIS_T = [1580030169, 3160060338, 3950075422, 4213413784, 4279248374,
           4292415292, 4294609778]
_B_BOOT = 200


def _pois_w_sql(h: str) -> str:
    out = f"CASE WHEN {h} < {_POIS_T[0]} THEN 0"
    for k in range(1, len(_POIS_T)):
        out += f" WHEN {h} < {_POIS_T[k]} THEN {k}"
    return out + f" ELSE {len(_POIS_T)} END"


@query(
    "bootstrap_ci",
    f"""
    WITH v AS (
        SELECT event_id, FLOOR(value * 100.0 + 0.5)::BIGINT AS cents
        FROM events
    ),
    h AS (
        SELECT cents,
               ('0x' || substr(md5('boot:' || event_id::VARCHAR), 1, 8))::BIGINT AS hr
        FROM v
    ),
    expl AS (
        SELECT b.b, h.cents,
               {_pois_w_sql("((h.hr * (2 * b.b + 1) + b.b * 2654435761) % 4294967296)")} AS w
        FROM h CROSS JOIN (SELECT unnest(generate_series(0, {_B_BOOT - 1})) AS b) b
    ),
    means AS (
        SELECT b, SUM(w * cents)::BIGINT AS s, SUM(w)::BIGINT AS n
        FROM expl GROUP BY b
    ),
    ranked AS (
        SELECT b, s, n,
               ROW_NUMBER() OVER (
                   ORDER BY s * 1.0 / n ASC, b ASC
               ) AS rn
        FROM means WHERE n > 0
    ),
    pt AS (
        SELECT SUM(cents)::BIGINT AS s, COUNT(*)::BIGINT AS n FROM v
    )
    SELECT ROUND(pt.s * 1.0 / pt.n / 100.0, 6) AS mean_value,
           ROUND((SELECT s * 1.0 / n FROM ranked WHERE rn = 5) / 100.0, 6) AS ci_lo,
           ROUND((SELECT s * 1.0 / n FROM ranked WHERE rn = 196) / 100.0, 6) AS ci_hi,
           (SELECT COUNT(*)::BIGINT FROM ranked) AS n_resamples
    FROM pt
    """,
)
def bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap confidence interval for the mean event value via the
    POISSON bootstrap (the resample-without-coordination trick for
    distributed data: each (row, replicate) draws an independent
    Poisson(1) multiplicity, so no replicate needs a global sample):
    B = 200 replicates, weight = inverse-CDF lookup of the md5 hash
    against INTEGER cutoffs (zero float ops until each replicate's one
    mean division), CI bounds = rank 5 / rank 196 of the replicate means
    (2.5%/97.5%), tie-broken by replicate id.

    Plan: one scan explodes ×B into (replicate, weight) partial sums —
    map-side combinable, shuffle carries 2B scalars per partition; the
    rank walks the B-row replicate table.  B is a constant: 100 TB costs
    the same shuffle width."""
    e = load_table(spark, sf_dir, "events")
    v = e.select(
        "event_id", F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("cents")
    )
    b = spark.range(_B_BOOT).select(F.col("id").cast("long").alias("b"))
    # ONE md5 per row; each replicate draws its uniform via a
    # Carter-Wegman integer mix (odd multiplier 2b+1 is a bijection mod
    # 2^32) — 200× less hashing than md5('boot:'||b||':'||id) per pair,
    # still engine-exact BIGINT arithmetic
    hr = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("boot:"), F.col("event_id").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    # checkpoint pins the one-md5-per-row evaluation: Catalyst would
    # otherwise collapse this projection into the ×B join and recompute
    # the hash per (row, replicate)
    hv = v.select("cents", hr.alias("hr")).localCheckpoint(eager=True)
    h = (F.col("hr") * (2 * F.col("b") + 1) + F.col("b") * F.lit(2654435761)) % F.lit(
        4294967296
    )
    w = F.when(h < _POIS_T[0], 0)
    for k in range(1, len(_POIS_T)):
        w = w.when(h < _POIS_T[k], k)
    w = w.otherwise(len(_POIS_T))
    expl = hv.crossJoin(F.broadcast(b)).select("b", "cents", w.alias("w"))
    # the B-row replicate table is checkpointed: the rank walk, both CI
    # bounds, and the count reuse it without re-exploding the corpus
    means = (
        expl.groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("cents")).cast("long").alias("s"),
            F.sum("w").cast("long").alias("n"),
        )
        .localCheckpoint(eager=True)
    )
    wr = Window.orderBy((F.col("s") * 1.0 / F.col("n")).asc(), F.col("b").asc())
    ranked = means.filter(F.col("n") > 0).withColumn("rn", F.row_number().over(wr))
    lo = ranked.filter(F.col("rn") == 5).select(
        (F.col("s") * 1.0 / F.col("n") / 100.0).alias("lo")
    )
    hi = ranked.filter(F.col("rn") == 196).select(
        (F.col("s") * 1.0 / F.col("n") / 100.0).alias("hi")
    )
    nres = ranked.agg(F.count("*").cast("long").alias("n_resamples"))
    pt = v.agg(
        (F.sum("cents").cast("long") * 1.0 / F.count("*").cast("long") / 100.0).alias(
            "mean_value"
        )
    )
    return (
        pt.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .crossJoin(F.broadcast(nres))
        .select(
            F.round("mean_value", 6).alias("mean_value"),
            F.round("lo", 6).alias("ci_lo"),
            F.round("hi", 6).alias("ci_hi"),
            "n_resamples",
        )
    )


@query(
    "cumulative_users",
    """
    WITH firstseen AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events GROUP BY user_id
    ),
    per_day AS (
        SELECT d0 AS day, COUNT(*)::BIGINT AS new_users FROM firstseen GROUP BY d0
    ),
    days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)
    SELECT strftime(d.day, '%Y-%m-%d') AS day,
           COALESCE(p.new_users, 0)::BIGINT AS new_users,
           SUM(COALESCE(p.new_users, 0)) OVER (
               ORDER BY d.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           )::BIGINT AS cum_users
    FROM days d LEFT JOIN per_day p ON p.day = d.day
    """,
)
def cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day — the growth-curve readout.  A
    naive per-day COUNT(DISTINCT) over a growing window rescans history
    per day; the first-seen-day trick makes it exact in ONE user groupBy:
    cumulative distinct = running sum of first appearances.  The running
    sum walks the ≤|days| grid."""
    e = load_table(spark, sf_dir, "events")
    firstseen = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("d0"))
    per_day = firstseen.groupBy(F.col("d0").alias("day")).agg(
        F.count("*").cast("long").alias("new_users")
    )
    days = e.select(F.to_date("ts").alias("day")).distinct()
    wb = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        days.join(per_day, "day", "left")
        .select("day", F.coalesce("new_users", F.lit(0)).cast("long").alias("new_users"))
        .withColumn("cum_users", F.sum("new_users").over(wb).cast("long"))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"), "new_users", "cum_users"
        )
    )


@query(
    "median_by_type",
    """
    WITH grid AS (
        SELECT event_type, FLOOR(value * 100.0 + 0.5)::BIGINT AS v,
               COUNT(*)::BIGINT AS cnt
        FROM events GROUP BY 1, 2
    ),
    walked AS (
        SELECT event_type, v, cnt,
               SUM(cnt) OVER (PARTITION BY event_type ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               SUM(cnt) OVER (PARTITION BY event_type) AS tot
        FROM grid
    ),
    med AS (
        SELECT event_type,
               MIN(CASE WHEN cum * 2 >= tot THEN v END) AS lo,
               MIN(CASE WHEN cum * 2 >= tot + 2 THEN v END) AS hi_even,
               MAX(tot) AS tot
        FROM walked GROUP BY event_type
    )
    SELECT event_type,
           ROUND(CASE WHEN tot % 2 = 1 THEN lo / 100.0
                      ELSE (lo + COALESCE(hi_even, lo)) / 200.0 END, 6) AS median_value,
           tot::BIGINT AS n
    FROM med
    """,
)
def median_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group median of event values: one groupBy((type, cents))
    collapses the corpus, a partitioned cumulative walk over the bounded
    cents grid finds the middle element(s) — odd n takes the rank-⌈n/2⌉
    value, even n averages ranks n/2 and n/2+1 (both found by cumulative
    threshold, the halves exact in double).  No global sort, no
    percentile_approx."""
    e = load_table(spark, sf_dir, "events")
    grid = e.groupBy(
        "event_type", F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("v")
    ).agg(F.count("*").cast("long").alias("cnt"))
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("event_type")
    walked = grid.withColumn("cum", F.sum("cnt").over(wcum)).withColumn(
        "tot", F.sum("cnt").over(wall)
    )
    med = walked.groupBy("event_type").agg(
        F.min(F.when(F.col("cum") * 2 >= F.col("tot"), F.col("v"))).alias("lo"),
        F.min(F.when(F.col("cum") * 2 >= F.col("tot") + 2, F.col("v"))).alias(
            "hi_even"
        ),
        F.max("tot").alias("tot"),
    )
    return med.select(
        "event_type",
        F.round(
            F.when(F.col("tot") % 2 == 1, F.col("lo") / 100.0).otherwise(
                (F.col("lo") + F.coalesce(F.col("hi_even"), F.col("lo"))) / 200.0
            ),
            6,
        ).alias("median_value"),
        F.col("tot").cast("long").alias("n"),
    )


@query(
    "forecast_backtest",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, COUNT(*)::BIGINT AS y
        FROM events GROUP BY 1
    ),
    idx AS (
        SELECT ROW_NUMBER() OVER (ORDER BY day) AS i, y FROM daily
    ),
    joined AS (
        SELECT c.i, c.y,
               n.y AS naive_pred, s.y AS seasonal_pred
        FROM idx c
        JOIN idx n ON n.i = c.i - 1
        JOIN idx s ON s.i = c.i - 7
        WHERE c.i > (SELECT MAX(i) FROM idx) - 14
    )
    SELECT COUNT(*)::BIGINT AS n_days,
           SUM(ABS(y - naive_pred))::BIGINT AS naive_abs_err,
           SUM(ABS(y - seasonal_pred))::BIGINT AS seasonal_abs_err,
           ROUND(SUM(ABS(y - naive_pred)) * 1.0 / COUNT(*) , 6) AS naive_mae,
           ROUND(SUM(ABS(y - seasonal_pred)) * 1.0 / COUNT(*), 6) AS seasonal_mae
    FROM joined
    """,
)
def forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtest over the last 14 days of the daily event-count
    series: naive (ŷ = yesterday) vs seasonal-naive (ŷ = same weekday
    last week) absolute error — the baseline pair every forecast (ets,
    Theil–Sen) must beat before anyone ships it.  Errors are exact
    BIGINT sums; the MAEs are two final divisions.  The corpus collapses
    in one groupBy; the lag joins walk the ≤|days| frame."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").cast("long").alias("y")
    )
    idx = daily.select(
        F.row_number().over(Window.orderBy("day")).alias("i"), "y"
    ).localCheckpoint(eager=True)
    mx = idx.agg(F.max("i").alias("mx"))
    c, nv, s = idx.alias("c"), idx.alias("n"), idx.alias("s")
    joined = (
        c.join(nv, F.col("n.i") == F.col("c.i") - 1)
        .join(s, F.col("s.i") == F.col("c.i") - 7)
        .crossJoin(F.broadcast(mx))
        .filter(F.col("c.i") > F.col("mx") - 14)
        .select(
            F.col("c.y").alias("y"),
            F.col("n.y").alias("naive_pred"),
            F.col("s.y").alias("seasonal_pred"),
        )
    )
    return joined.agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum(F.abs(F.col("y") - F.col("naive_pred"))).cast("long").alias("naive_abs_err"),
        F.sum(F.abs(F.col("y") - F.col("seasonal_pred")))
        .cast("long")
        .alias("seasonal_abs_err"),
        F.round(
            F.sum(F.abs(F.col("y") - F.col("naive_pred"))) * 1.0 / F.count("*"), 6
        ).alias("naive_mae"),
        F.round(
            F.sum(F.abs(F.col("y") - F.col("seasonal_pred"))) * 1.0 / F.count("*"), 6
        ).alias("seasonal_mae"),
    )


@query(
    "quantiles_by_type",
    """
    WITH grid AS (
        SELECT event_type, FLOOR(value * 100.0 + 0.5)::BIGINT AS v,
               COUNT(*)::BIGINT AS cnt
        FROM events GROUP BY 1, 2
    ),
    walked AS (
        SELECT event_type, v, cnt,
               SUM(cnt) OVER (PARTITION BY event_type ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               SUM(cnt) OVER (PARTITION BY event_type) AS tot
        FROM grid
    )
    SELECT event_type,
           ROUND(MIN(CASE WHEN cum >= (tot * 500 + 999) // 1000 THEN v END) / 100.0, 6) AS p50,
           ROUND(MIN(CASE WHEN cum >= (tot * 900 + 999) // 1000 THEN v END) / 100.0, 6) AS p90,
           ROUND(MIN(CASE WHEN cum >= (tot * 990 + 999) // 1000 THEN v END) / 100.0, 6) AS p99,
           MAX(tot)::BIGINT AS n
    FROM walked GROUP BY event_type
    """,
)
def quantiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-type p50/p90/p99 of event values (lower-value quantile
    law: smallest v whose cumulative count reaches ⌈p·n⌉, the rank
    computed in integer arithmetic) — the per-dimension SLO readout
    beside the global histogram_quantiles sketch.  One corpus
    groupBy((type, cents)); the cumulative walk and threshold cuts run on
    the bounded grid."""
    e = load_table(spark, sf_dir, "events")
    grid = e.groupBy(
        "event_type", F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("v")
    ).agg(F.count("*").cast("long").alias("cnt"))
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("event_type")
    walked = grid.withColumn("cum", F.sum("cnt").over(wcum)).withColumn(
        "tot", F.sum("cnt").over(wall)
    )

    def q(perm: int):
        rank = F.expr(f"(tot * {perm} + 999) div 1000")
        return F.round(
            F.min(F.when(F.col("cum") >= rank, F.col("v"))) / 100.0, 6
        )

    return walked.groupBy("event_type").agg(
        q(500).alias("p50"),
        q(900).alias("p90"),
        q(990).alias("p99"),
        F.max("tot").cast("long").alias("n"),
    )


# Holt-Winters ADDITIVE seasonal step (weekly ring): accumulator is
# [L, T, s1..s7] where s1 is the seasonal due NOW; coefficients are
# exact binary fractions (alpha 1/4, beta 1/8, gamma 1/4) so literals
# parse identically everywhere, and L' is textually duplicated in the
# T'/s' updates so the IEEE trees match Spark's reused expression tree.
_HW_SQL_STEP = """(a, y) -> [
            0.25 * (y[1] - a[3]) + 0.75 * (a[1] + a[2]),
            0.125 * ((0.25 * (y[1] - a[3]) + 0.75 * (a[1] + a[2])) - a[1])
                + 0.875 * a[2],
            a[4], a[5], a[6], a[7], a[8], a[9],
            0.25 * (y[1] - (0.25 * (y[1] - a[3]) + 0.75 * (a[1] + a[2])))
                + 0.75 * a[3]
        ]"""

_HW_SQL_L0 = (
    "((((((ys[1] + ys[2]) + ys[3]) + ys[4]) + ys[5]) + ys[6]) + ys[7]) / 7.0"
)


@query(
    "hw_forecast",
    f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, COUNT(*)::BIGINT AS cnt
        FROM events GROUP BY 1
    ),
    ys AS (SELECT list(CAST(cnt AS DOUBLE) ORDER BY day) AS ys FROM daily),
    init AS (
        SELECT ys, list_prepend(
            [{_HW_SQL_L0}, 0.0,
             ys[1] - ({_HW_SQL_L0}), ys[2] - ({_HW_SQL_L0}),
             ys[3] - ({_HW_SQL_L0}), ys[4] - ({_HW_SQL_L0}),
             ys[5] - ({_HW_SQL_L0}), ys[6] - ({_HW_SQL_L0}),
             ys[7] - ({_HW_SQL_L0})],
            list_transform(ys[8:], y -> [y])) AS seq
        FROM ys
    ),
    st AS (SELECT list_reduce(seq, {_HW_SQL_STEP}) AS s FROM init),
    hs AS (SELECT unnest(range(1, 8))::BIGINT AS h)
    SELECT h, ROUND((SELECT s[1] + h * s[2] + s[h + 2] FROM st), 6)
               AS forecast
    FROM hs ORDER BY h
    """,
)
def hw_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day-ahead Holt-Winters ADDITIVE forecast of the daily event
    count (weekly seasonality) — completes the forecasting ladder:
    trend_daily_events (global OLS) → ets_forecast (Holt level+trend) →
    hw_forecast (level+trend+season), with forecast_backtest carrying
    the naive baselines they must beat.  Classical init over the first
    week (L0 = week mean, T0 = 0, s_i = y_i − L0), then the textbook
    recursion with α=1/4, β=1/8, γ=1/4 — all exact binary fractions —
    folded left-to-right over the day-ordered counts with a
    [L, T, s-ring(7)] accumulator, bit-identical across engines (the
    ets_forecast parity pattern with a 9-element state).

    Scale shape: one groupBy(day) with map-side combine; the fold runs
    over the DAY COUNT (30 rows), never the corpus."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").cast("long").alias("cnt")
    )
    ys = daily.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "cnt"))),
            lambda s: s["cnt"].cast("double"),
        ).alias("ys")
    )

    def y(i: int):
        return F.element_at("ys", i)

    l0 = ((((((y(1) + y(2)) + y(3)) + y(4)) + y(5)) + y(6)) + y(7)) / 7.0
    init = F.array(
        l0, F.lit(0.0),
        y(1) - l0, y(2) - l0, y(3) - l0, y(4) - l0,
        y(5) - l0, y(6) - l0, y(7) - l0,
    )
    rest = F.transform(
        F.slice(F.col("ys"), 8, F.size("ys")), lambda v: F.array(v)
    )

    def step(a, yv):
        yy = F.element_at(yv, 1)
        lnew = 0.25 * (yy - F.element_at(a, 3)) + 0.75 * (
            F.element_at(a, 1) + F.element_at(a, 2)
        )
        tnew = 0.125 * (lnew - F.element_at(a, 1)) + 0.875 * F.element_at(a, 2)
        snew = 0.25 * (yy - lnew) + 0.75 * F.element_at(a, 3)
        return F.array(
            lnew, tnew,
            F.element_at(a, 4), F.element_at(a, 5), F.element_at(a, 6),
            F.element_at(a, 7), F.element_at(a, 8), F.element_at(a, 9),
            snew,
        )

    st = ys.select(F.aggregate(rest, init, step).alias("s"))
    hs = spark.range(1, 8).select(F.col("id").alias("h"))
    return (
        hs.crossJoin(F.broadcast(st))
        .select(
            "h",
            F.round(
                F.element_at("s", 1)
                + F.col("h") * F.element_at("s", 2)
                + F.element_at("s", (F.col("h") + 2).cast("int")),
                6,
            ).alias("forecast"),
        )
        .orderBy("h")
    )


@query(
    "dbscan_users",
    """
    WITH RECURSIVE pts AS (SELECT DISTINCT user_id FROM events),
    p AS (
        SELECT user_id AS id,
               ('0x' || substr(md5('gx:' || user_id), 1, 8))::BIGINT % 10000 AS x,
               ('0x' || substr(md5('gy:' || user_id), 1, 8))::BIGINT % 10000 AS y
        FROM pts
    ),
    nn AS (SELECT COUNT(*)::BIGINT AS c FROM p),
    pr AS (
        SELECT a.id AS ia, b.id AS ib
        FROM p a JOIN p b ON a.id < b.id, nn
        WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
              <= 190000000 // nn.c
    ),
    sym AS (
        SELECT ia AS s, ib AS d FROM pr
        UNION ALL SELECT ib, ia FROM pr
    ),
    deg AS (SELECT s AS id, COUNT(*)::BIGINT AS n FROM sym GROUP BY 1),
    cores AS (SELECT id FROM deg WHERE n >= 3),
    csym AS (
        SELECT s, d FROM sym
        WHERE s IN (SELECT id FROM cores) AND d IN (SELECT id FROM cores)
    ),
    walk(node, lbl) AS (
        SELECT id, id FROM cores
        UNION
        SELECT csym.d, walk.lbl FROM walk JOIN csym ON walk.node = csym.s
    ),
    clab AS (SELECT node AS id, MIN(lbl)::BIGINT AS cluster FROM walk GROUP BY 1),
    border AS (
        SELECT sym.s AS id, MIN(clab.cluster)::BIGINT AS cluster
        FROM sym JOIN clab ON sym.d = clab.id
        WHERE sym.s NOT IN (SELECT id FROM cores)
        GROUP BY sym.s
    )
    SELECT p.id,
           CASE WHEN c.id IS NOT NULL THEN 'core'
                WHEN b.id IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           COALESCE(c.cluster, b.cluster) AS cluster
    FROM p
    LEFT JOIN clab c ON p.id = c.id
    LEFT JOIN border b ON p.id = b.id
    """,
)
def dbscan_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN density clustering (operators/density.py) over the
    deterministic user plane geo_neighbors uses — completes the
    clustering triad (centroid: kmeans, connectivity: dedup_clusters/
    community_lpa, density: this).  eps is DENSITY-ADAPTIVE so every
    scale factor exercises real clusters: eps² = 190_000_000 // n_users
    keeps the expected neighbor count ~6 as the plane fills (an exact
    integer both engines derive from the same count — sqrt never enters
    the parity surface; the blocking cell uses isqrt(eps²)+1, which
    affects candidates only, never the pair set).  min_pts = 3 neighbors
    (self excluded); clusters = min-label components over CORE-CORE
    edges; borders attach to the MINIMUM adjacent core cluster
    (deterministic, where textbook DBSCAN is scan-order-dependent);
    noise keeps a NULL cluster.

    Scale shape: one blocked proximity self-join + one degree groupBy on
    the corpus; the CC iteration touches core-incident edges only
    (diameter-bounded rounds, the dedup_clusters machinery); the n_users
    scalar is a documented driver-bounded collect."""
    from fusionspark.operators.dedup import md5_hash32
    from fusionspark.operators.density import dbscan

    users = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .localCheckpoint(eager=True)  # one distinct scan feeds count + plan
    )
    uid = F.col("user_id").cast("string")
    pts = users.select(
        F.col("user_id").alias("id"),
        (md5_hash32(F.concat(F.lit("gx:"), uid)) % 10000).alias("x"),
        (md5_hash32(F.concat(F.lit("gy:"), uid)) % 10000).alias("y"),
    )
    n = users.count()  # one scalar; eps adapts to density (see docstring)
    d2_max = 190_000_000 // n
    return dbscan(pts, d2_max, min_pts=3)


def _esd_oracle_sql(k: int = 5) -> str:
    """Generated k-round generalized-ESD replay (unrolled MATERIALIZED
    rounds — the mmr/kmeans oracle pattern).  Each round's argmax runs
    on the exact BIGINT key |v·n − sum| (argmax of |z| needs no σ — σ is
    constant within a round); z itself is one closed-form double per
    pick, the identical expression both engines."""
    parts = [
        """vals AS MATERIALIZED (
        SELECT event_id, FLOOR(value * 100.0 + 0.5)::BIGINT AS v FROM events
    )"""
    ]
    excl = ""
    picks = []
    for i in range(1, k + 1):
        parts.append(
            f"""st{i} AS MATERIALIZED (
        SELECT COUNT(*)::BIGINT AS n, SUM(v)::BIGINT AS s,
               SUM(v * v)::BIGINT AS ss
        FROM vals{excl}
    )"""
        )
        parts.append(
            f"""pick{i} AS MATERIALIZED (
        SELECT {i} AS round, event_id, v,
               abs(v - s::DOUBLE / n)
               / sqrt((ss - s * (s::DOUBLE / n)) / (n - 1)) AS z
        FROM vals, st{i}{excl}
        ORDER BY abs(v * n - s) DESC, v ASC, event_id ASC LIMIT 1
    )"""
        )
        picks.append(f"SELECT * FROM pick{i}")
        prev = " UNION ALL ".join(
            f"SELECT event_id FROM pick{j}" for j in range(1, i + 1)
        )
        excl = f" WHERE event_id NOT IN ({prev})"
    un = " UNION ALL ".join(picks)
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT round::INT AS round, event_id, v AS cents, ROUND(z, 6) AS z
    FROM ({un}) ORDER BY round"""
    )


@query("anomaly_esd", _esd_oracle_sql())
def anomaly_esd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized ESD outlier extraction (Rosner 1983) over event-value
    cents — the ITERATIVE sibling of ts_anomalies' one-shot MAD screen:
    each of 5 rounds removes the remaining set's most extreme value
    before recomputing the moments, so a cluster of outliers cannot mask
    itself (the failure mode single-pass z-scores have).  The per-round
    argmax runs on the exact BIGINT key |v·n − sum| (σ is round-constant,
    so the |z| argmax needs no float comparison); ties break value-asc
    then event_id-asc; the reported z is one closed-form double.

    Scale shape: per round one moments aggregate + one TakeOrdered(1)
    over the corpus — 2k bounded jobs with one scalar row collected each
    (the kmeans per-round contract); nothing corpus-sized shuffles."""
    e = load_table(spark, sf_dir, "events")
    vals = e.select(
        "event_id",
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("v"),
    ).localCheckpoint(eager=True)
    picked: list[int] = []
    out_rows = []
    for rnd in range(1, 6):
        rem = vals.filter(~F.col("event_id").isin(picked)) if picked else vals
        st = rem.agg(
            F.count("*").cast("long").alias("n"),
            F.sum("v").cast("long").alias("s"),
            F.sum(F.col("v") * F.col("v")).cast("long").alias("ss"),
        ).collect()[0]
        n, s, ss = st.n, st.s, st.ss
        pick = (
            rem.select(
                "event_id", "v",
                (
                    F.abs(F.col("v") - F.lit(s) / F.lit(n))
                    / F.sqrt(
                        (F.lit(ss) - F.lit(s) * (F.lit(s) / F.lit(n)))
                        / F.lit(n - 1)
                    )
                ).alias("z"),
                F.abs(F.col("v") * F.lit(n) - F.lit(s)).alias("key"),
            )
            .orderBy(F.col("key").desc(), F.col("v").asc(), F.col("event_id").asc())
            .limit(1)
            .collect()[0]
        )
        out_rows.append((rnd, pick.event_id, pick.v, float(pick.z)))
        picked.append(pick.event_id)
    out = spark.createDataFrame(
        out_rows, "round int, event_id long, cents long, z double"
    )
    return out.select(
        "round", "event_id", "cents", F.round("z", 6).alias("z")
    ).orderBy("round")


@query(
    "diff_in_diff",
    """
    WITH bounds AS (
        SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1
        FROM events
    ),
    cells AS (
        SELECT ('0x' || substr(md5('did:' || e.user_id), 1, 8))::BIGINT % 2
                   = 0 AS is_treated,
               (CAST(e.ts AS DATE) - b.d0) * 2 >= (b.d1 - b.d0) AS is_post,
               SUM(FLOOR(e.value * 100.0 + 0.5)::BIGINT)::BIGINT AS cents,
               COUNT(*)::BIGINT AS n
        FROM events e
        CROSS JOIN bounds b
        GROUP BY 1, 2
    ),
    m AS (
        SELECT is_treated, is_post, n,
               cents::DOUBLE / n / 100 AS mean_value
        FROM cells
    )
    SELECT ROUND(tp.mean_value - tr.mean_value
                 - (cp.mean_value - cr.mean_value), 6) AS did,
           ROUND(tp.mean_value, 6) AS treated_post,
           ROUND(tr.mean_value, 6) AS treated_pre,
           ROUND(cp.mean_value, 6) AS control_post,
           ROUND(cr.mean_value, 6) AS control_pre,
           (tp.n + tr.n)::BIGINT AS n_treated_events,
           (cp.n + cr.n)::BIGINT AS n_control_events
    FROM (SELECT * FROM m WHERE is_treated AND is_post) tp,
         (SELECT * FROM m WHERE is_treated AND NOT is_post) tr,
         (SELECT * FROM m WHERE NOT is_treated AND is_post) cp,
         (SELECT * FROM m WHERE NOT is_treated AND NOT is_post) cr
    """,
)
def diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences — the causal-inference readout beside
    ab_test_zscore (cross-sectional) and the robust-test family: split
    the event window at its midpoint (pre/post), assign users to
    treatment by a deterministic md5 coin (the train_split pattern —
    every user here triggers every event type, so no behavioral split
    exists; randomized assignment is also the clean DiD demo), and
    estimate the treatment effect on event value as
    (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre) — the parallel-trends
    estimator.  Group/period sums are exact BIGINT cents; the four cell
    means and the DiD are closed-form doubles with the subtraction tree
    written identically on both engines.

    Scale shape: one corpus scan into a 4-cell groupBy (map-side
    combine) with the treated set as a broadcast-able semi-join side;
    the estimator arithmetic runs on 4 rows."""
    from fusionspark.operators.dedup import md5_hash32

    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    coin = (
        F.pmod(
            md5_hash32(
                F.concat(F.lit("did:"), F.col("user_id").cast("string"))
            ),
            F.lit(2),
        )
        == 0
    )
    cells = (
        e.crossJoin(F.broadcast(bounds))
        .select(
            coin.alias("is_treated"),
            (
                F.datediff(F.to_date("ts"), F.col("d0")) * 2
                >= F.datediff(F.col("d1"), F.col("d0"))
            ).alias("is_post"),
            F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("cents"),
        )
        .groupBy("is_treated", "is_post")
        .agg(
            F.sum("cents").cast("long").alias("cents"),
            F.count("*").cast("long").alias("n"),
        )
        .select(
            "is_treated", "is_post", "n",
            (F.col("cents").cast("double") / F.col("n") / 100).alias("mean_value"),
        )
    )
    rows = {(r.is_treated, r.is_post): r for r in cells.collect()}  # 4 rows
    tp, tr = rows[(True, True)], rows[(True, False)]
    cp, cr = rows[(False, True)], rows[(False, False)]
    did = tp.mean_value - tr.mean_value - (cp.mean_value - cr.mean_value)
    out = spark.createDataFrame(
        [(
            float(did), float(tp.mean_value), float(tr.mean_value),
            float(cp.mean_value), float(cr.mean_value),
            tp.n + tr.n, cp.n + cr.n,
        )],
        "did double, treated_post double, treated_pre double, "
        "control_post double, control_pre double, "
        "n_treated_events long, n_control_events long",
    )
    return out.select(
        F.round("did", 6).alias("did"),
        F.round("treated_post", 6).alias("treated_post"),
        F.round("treated_pre", 6).alias("treated_pre"),
        F.round("control_post", 6).alias("control_post"),
        F.round("control_pre", 6).alias("control_pre"),
        "n_treated_events", "n_control_events",
    )


@query(
    "propensity_match",
    """
    WITH u AS (
        SELECT user_id,
               ('0x' || substr(md5('did:' || user_id), 1, 8))::BIGINT % 2 = 0
                   AS is_treated,
               SUM(FLOOR(value * 100.0 + 0.5)::BIGINT)::BIGINT AS score,
               COUNT(*)::BIGINT AS y
        FROM events GROUP BY user_id
    ),
    w AS (
        SELECT *,
               LAST_VALUE(CASE WHEN NOT is_treated THEN user_id END
                          IGNORE NULLS) OVER ord AS prev_id,
               LAST_VALUE(CASE WHEN NOT is_treated THEN score END
                          IGNORE NULLS) OVER ord AS prev_score,
               LAST_VALUE(CASE WHEN NOT is_treated THEN y END
                          IGNORE NULLS) OVER ord AS prev_y,
               FIRST_VALUE(CASE WHEN NOT is_treated THEN user_id END
                           IGNORE NULLS) OVER fwd AS next_id,
               FIRST_VALUE(CASE WHEN NOT is_treated THEN score END
                           IGNORE NULLS) OVER fwd AS next_score,
               FIRST_VALUE(CASE WHEN NOT is_treated THEN y END
                           IGNORE NULLS) OVER fwd AS next_y
        FROM u
        WINDOW ord AS (ORDER BY score, user_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               fwd AS (ORDER BY score, user_id
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    ),
    matched AS (
        SELECT user_id, score, y,
               CASE WHEN prev_id IS NULL THEN next_id
                    WHEN next_id IS NULL THEN prev_id
                    WHEN abs(score - prev_score) < abs(score - next_score)
                         THEN prev_id
                    WHEN abs(score - next_score) < abs(score - prev_score)
                         THEN next_id
                    WHEN prev_id < next_id THEN prev_id ELSE next_id
               END AS m_id,
               CASE WHEN prev_id IS NULL THEN next_y
                    WHEN next_id IS NULL THEN prev_y
                    WHEN abs(score - prev_score) < abs(score - next_score)
                         THEN prev_y
                    WHEN abs(score - next_score) < abs(score - prev_score)
                         THEN next_y
                    WHEN prev_id < next_id THEN prev_y ELSE next_y
               END AS m_y,
               CASE WHEN prev_id IS NULL THEN next_score
                    WHEN next_id IS NULL THEN prev_score
                    WHEN abs(score - prev_score) < abs(score - next_score)
                         THEN prev_score
                    WHEN abs(score - next_score) < abs(score - prev_score)
                         THEN next_score
                    WHEN prev_id < next_id THEN prev_score ELSE next_score
               END AS m_score
        FROM w WHERE is_treated
    )
    SELECT COUNT(*)::BIGINT AS n_treated,
           COUNT(DISTINCT m_id)::BIGINT AS n_distinct_controls,
           ROUND(SUM(y - m_y)::DOUBLE / COUNT(*), 6) AS att,
           ROUND(SUM(abs(score - m_score))::DOUBLE / COUNT(*) / 100, 6)
               AS mean_score_gap
    FROM matched
    """,
)
def propensity_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor matching with replacement — diff_in_diff's
    cross-sectional sibling (together the causal pair): per user a
    deterministic md5-coin treatment flag, an exact-cents LTV matching
    score, and an event-count outcome; each treated user matches the
    control with the CLOSEST score (the two candidates are the as-of
    carries in score order — last control ≤ and first control ≥ —
    so matching needs no pairwise join), ties to the smaller |Δ| then
    the lower control id; ATT = mean(y_treated − y_matched).

    Parity: scores/outcomes are exact BIGINTs, candidate selection
    compares integer |Δ|s, and the two output ratios are closed-form
    doubles.

    Scale shape: one corpus groupBy(user) collapses to the USER frame;
    the two carries are windows over that bounded model-sized frame
    (the theil_sen collapsed-frame contract — at 100 TB the user table
    is the small side, and the window can partition by score bucket
    with boundary overlap if it ever isn't)."""
    from pyspark.sql import Window

    from fusionspark.operators.dedup import md5_hash32

    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.sum(F.floor(F.col("value") * 100.0 + 0.5).cast("long"))
        .cast("long")
        .alias("score"),
        F.count("*").cast("long").alias("y"),
    ).select(
        "user_id",
        (
            F.pmod(
                md5_hash32(
                    F.concat(F.lit("did:"), F.col("user_id").cast("string"))
                ),
                F.lit(2),
            )
            == 0
        ).alias("is_treated"),
        "score",
        "y",
    )
    ctl = lambda c: F.when(~F.col("is_treated"), F.col(c))
    ord_w = Window.orderBy("score", "user_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    fwd_w = Window.orderBy("score", "user_id").rowsBetween(
        0, Window.unboundedFollowing
    )
    w = u.select(
        "*",
        F.last(ctl("user_id"), ignorenulls=True).over(ord_w).alias("prev_id"),
        F.last(ctl("score"), ignorenulls=True).over(ord_w).alias("prev_score"),
        F.last(ctl("y"), ignorenulls=True).over(ord_w).alias("prev_y"),
        F.first(ctl("user_id"), ignorenulls=True).over(fwd_w).alias("next_id"),
        F.first(ctl("score"), ignorenulls=True).over(fwd_w).alias("next_score"),
        F.first(ctl("y"), ignorenulls=True).over(fwd_w).alias("next_y"),
    ).filter(F.col("is_treated"))

    def pick(prev_c: str, next_c: str):
        dp = F.abs(F.col("score") - F.col("prev_score"))
        dn = F.abs(F.col("score") - F.col("next_score"))
        return (
            F.when(F.col("prev_id").isNull(), F.col(next_c))
            .when(F.col("next_id").isNull(), F.col(prev_c))
            .when(dp < dn, F.col(prev_c))
            .when(dn < dp, F.col(next_c))
            .when(F.col("prev_id") < F.col("next_id"), F.col(prev_c))
            .otherwise(F.col(next_c))
        )

    m = w.select(
        "user_id", "score", "y",
        pick("prev_id", "next_id").alias("m_id"),
        pick("prev_y", "next_y").alias("m_y"),
        pick("prev_score", "next_score").alias("m_score"),
    )
    return m.agg(
        F.count("*").cast("long").alias("n_treated"),
        F.count_distinct("m_id").cast("long").alias("n_distinct_controls"),
        F.round(
            F.sum(F.col("y") - F.col("m_y")).cast("double") / F.count("*"), 6
        ).alias("att"),
        F.round(
            F.sum(F.abs(F.col("score") - F.col("m_score"))).cast("double")
            / F.count("*")
            / 100,
            6,
        ).alias("mean_score_gap"),
    )


@query(
    "pettitt_test",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               SUM(FLOOR(value * 100.0 + 0.5)::BIGINT)::BIGINT AS x
        FROM events GROUP BY 1
    ),
    idx AS (
        SELECT x, ROW_NUMBER() OVER (ORDER BY day)::BIGINT AS i,
               COUNT(*) OVER ()::BIGINT AS n, day
        FROM daily
    ),
    pairs AS (
        SELECT a.i AS ia, b.i AS ib,
               CASE WHEN a.x > b.x THEN 1
                    WHEN a.x < b.x THEN -1 ELSE 0 END::BIGINT AS sg
        FROM idx a JOIN idx b ON a.i < b.i
    ),
    u AS (
        SELECT t.i AS t,
               SUM(CASE WHEN p.ia <= t.i AND p.ib > t.i THEN p.sg
                        ELSE 0 END)::BIGINT AS u_t
        FROM (SELECT i FROM idx WHERE i < n) t
        CROSS JOIN pairs p
        GROUP BY t.i
    ),
    best AS (
        SELECT t, u_t, abs(u_t) AS k
        FROM u ORDER BY abs(u_t) DESC, t ASC LIMIT 1
    )
    SELECT (SELECT strftime(day, '%Y-%m-%d') FROM idx
            WHERE i = (SELECT t FROM best)) AS change_day,
           (SELECT u_t FROM best)::BIGINT AS u_stat,
           (SELECT k FROM best)::BIGINT AS k_stat,
           ROUND(2 * exp(-6.0 * (SELECT k FROM best)
                         * (SELECT k FROM best)
                         / ((SELECT MAX(n) FROM idx) * (SELECT MAX(n) FROM idx)
                            * (SELECT MAX(n) FROM idx)
                            + (SELECT MAX(n) FROM idx)
                              * (SELECT MAX(n) FROM idx))), 6) AS p_approx
    """,
)
def pettitt_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt change-point test (Pettitt 1979) on the daily revenue
    series — the NONPARAMETRIC sibling of changepoint_cusum (rank-based:
    robust to outliers, no variance estimate): U_t = Σ_{i≤t<j}
    sgn(x_i − x_j), change point = argmax |U_t| (ties → earliest day),
    with the standard p ≈ 2·exp(−6K²/(n³+n²)) approximation as the only
    float (one closed-form double; everything else exact BIGINT).

    Scale shape: one corpus groupBy(day) collapses to the ≤|days| frame;
    the sign grid and the t-sweep run on that bounded frame (n² pairs ×
    n cuts with n = |days| ≈ 30 — the theil_sen collapsed-frame
    contract), never on events."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 100.0 + 0.5).cast("long"))
        .cast("long")
        .alias("x")
    )
    idx = daily.select(
        "day",
        "x",
        F.row_number().over(Window.orderBy("day")).cast("long").alias("i"),
        F.count("*").over(Window.partitionBy()).cast("long").alias("n"),
    ).localCheckpoint(eager=True)
    a = idx.select(F.col("i").alias("ia"), F.col("x").alias("xa"))
    b = idx.select(F.col("i").alias("ib"), F.col("x").alias("xb"))
    pairs = (
        a.join(b, F.col("ia") < F.col("ib"))
        .select(
            "ia", "ib",
            F.when(F.col("xa") > F.col("xb"), 1)
            .when(F.col("xa") < F.col("xb"), -1)
            .otherwise(0)
            .cast("long")
            .alias("sg"),
        )
    )
    ts = idx.filter(F.col("i") < F.col("n")).select(F.col("i").alias("t"))
    u = (
        ts.crossJoin(pairs)
        .groupBy("t")
        .agg(
            F.sum(
                F.when(
                    (F.col("ia") <= F.col("t")) & (F.col("ib") > F.col("t")),
                    F.col("sg"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("u_t")
        )
    )
    best = (
        u.orderBy(F.abs(F.col("u_t")).desc(), F.col("t").asc()).limit(1)
        .collect()[0]
    )  # bounded: one row from the <=|days| frame
    n = idx.collect()[0].n
    day = idx.filter(F.col("i") == best.t).collect()[0].day
    import math

    k = abs(best.u_t)
    p = 2 * math.exp(-6.0 * k * k / (n * n * n + n * n))
    out = spark.createDataFrame(
        [(day.strftime("%Y-%m-%d"), int(best.u_t), int(k), float(p))],
        "change_day string, u_stat long, k_stat long, p_approx double",
    )
    return out.select(
        "change_day", "u_stat", "k_stat",
        F.round("p_approx", 6).alias("p_approx"),
    )


# ── round 10: rank / distribution statistics ───────────────────────────────
# Same float-parity classes as the rest of the module: every statistic
# reduces to exact integer (or decimal-38/HUGEINT) sums first; doubles
# enter only in one closed-form display expression written identically
# on both engines.


@query(
    "spearman_corr",
    """
    WITH q AS (
        SELECT FLOOR(l_quantity * 100.0 + 0.5)::BIGINT AS x,
               FLOOR(l_extendedprice * 100.0 + 0.5)::BIGINT AS y,
               FLOOR(l_discount * 100.0 + 0.5)::BIGINT AS z
        FROM lineitem
    ),
    rx AS (SELECT x, (2 * SUM(cnt) OVER (ORDER BY x) - cnt + 1)::BIGINT AS r
           FROM (SELECT x, COUNT(*)::BIGINT AS cnt FROM q GROUP BY x)),
    ry AS (SELECT y, (2 * SUM(cnt) OVER (ORDER BY y) - cnt + 1)::BIGINT AS r
           FROM (SELECT y, COUNT(*)::BIGINT AS cnt FROM q GROUP BY y)),
    rz AS (SELECT z, (2 * SUM(cnt) OVER (ORDER BY z) - cnt + 1)::BIGINT AS r
           FROM (SELECT z, COUNT(*)::BIGINT AS cnt FROM q GROUP BY z)),
    ranked AS (
        SELECT rx.r AS ax, ry.r AS ay, rz.r AS az
        FROM q JOIN rx USING (x) JOIN ry USING (y) JOIN rz USING (z)
    ),
    s AS (
        SELECT COUNT(*)::HUGEINT AS n,
               SUM(ax)::HUGEINT AS sx, SUM(ay)::HUGEINT AS sy,
               SUM(az)::HUGEINT AS sz,
               SUM((ax * ay)::HUGEINT) AS sxy, SUM((ax * az)::HUGEINT) AS sxz,
               SUM((ay * az)::HUGEINT) AS syz,
               SUM((ax * ax)::HUGEINT) AS sxx, SUM((ay * ay)::HUGEINT) AS syy,
               SUM((az * az)::HUGEINT) AS szz
        FROM ranked
    )
    SELECT ROUND((n * sxy - sx * sy)::DOUBLE
                 / SQRT((n * sxx - sx * sx)::DOUBLE)
                 / SQRT((n * syy - sy * sy)::DOUBLE), 6) AS rho_qty_price,
           ROUND((n * sxz - sx * sz)::DOUBLE
                 / SQRT((n * sxx - sx * sx)::DOUBLE)
                 / SQRT((n * szz - sz * sz)::DOUBLE), 6) AS rho_qty_disc,
           ROUND((n * syz - sy * sz)::DOUBLE
                 / SQRT((n * syy - sy * sy)::DOUBLE)
                 / SQRT((n * szz - sz * sz)::DOUBLE), 6) AS rho_price_disc
    FROM s
    """,
)
def spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlations between the lineitem measures — the
    rank-based (outlier- and monotone-transform-robust) companion of
    lineitem_corr's Pearson.  Ties get average ranks, kept EXACT by
    working with 2·avg_rank = 2·(#smaller) + #equal + 1 (an integer —
    Pearson is affine-invariant, so doubling every rank leaves rho
    unchanged); moments are decimal(38)/HUGEINT sums and doubles appear
    only in the lineitem_corr closed-form shape.

    Scale shape: two tiny per-axis groupBys (bounded by distinct values)
    + a window cumsum, joined back onto the rows — the rank join is the
    inherent cost of a rank statistic; the moment pass is one map-side-
    combined aggregate.  At extreme n the 2·rank products approach the
    decimal-38 bound around n ≈ 1e11 rows — far past any per-partition
    frame this runs on."""
    li = load_table(spark, sf_dir, "lineitem")
    from fusionspark.io import spread

    # r15 note: io.spread tried and REVERTED (in-suite regression; the
    # rank joins dominate, not the projection map)
    q = li.select(
        F.floor(F.col("l_quantity") * 100.0 + 0.5).cast("long").alias("x"),
        F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("long").alias("y"),
        F.floor(F.col("l_discount") * 100.0 + 0.5).cast("long").alias("z"),
    )

    def rank2(col: str) -> DataFrame:
        g = q.groupBy(col).agg(F.count("*").cast("long").alias("cnt"))
        w = Window.orderBy(col)
        return g.select(
            col,
            (2 * F.sum("cnt").over(w) - F.col("cnt") + 1)
            .cast("long")
            .alias(f"r_{col}"),
        )

    ranked = (
        q.join(rank2("x"), "x").join(rank2("y"), "y").join(rank2("z"), "z")
        .select(
            F.col("r_x").alias("ax"), F.col("r_y").alias("ay"),
            F.col("r_z").alias("az"),
        )
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = ranked.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum(dec(F.col("ax"))).cast("decimal(38,0)").alias("sx"),
        F.sum(dec(F.col("ay"))).cast("decimal(38,0)").alias("sy"),
        F.sum(dec(F.col("az"))).cast("decimal(38,0)").alias("sz"),
        F.sum(dec(F.col("ax") * F.col("ay"))).cast("decimal(38,0)").alias("sxy"),
        F.sum(dec(F.col("ax") * F.col("az"))).cast("decimal(38,0)").alias("sxz"),
        F.sum(dec(F.col("ay") * F.col("az"))).cast("decimal(38,0)").alias("syz"),
        F.sum(dec(F.col("ax") * F.col("ax"))).cast("decimal(38,0)").alias("sxx"),
        F.sum(dec(F.col("ay") * F.col("ay"))).cast("decimal(38,0)").alias("syy"),
        F.sum(dec(F.col("az") * F.col("az"))).cast("decimal(38,0)").alias("szz"),
    )

    def rho(sab, sa, sb, saa, sbb):
        return F.round(
            (F.col("n") * F.col(sab) - F.col(sa) * F.col(sb)).cast("double")
            / F.sqrt((F.col("n") * F.col(saa) - F.col(sa) * F.col(sa)).cast("double"))
            / F.sqrt((F.col("n") * F.col(sbb) - F.col(sb) * F.col(sb)).cast("double")),
            6,
        )

    return s.select(
        rho("sxy", "sx", "sy", "sxx", "syy").alias("rho_qty_price"),
        rho("sxz", "sx", "sz", "sxx", "szz").alias("rho_qty_disc"),
        rho("syz", "sy", "sz", "syy", "szz").alias("rho_price_disc"),
    )


_DAILY_CTE = """
    daily AS (
        SELECT CAST(ts AS DATE) AS day,
               SUM(FLOOR(value * 100.0 + 0.5)::BIGINT)::BIGINT AS x,
               COUNT(*)::BIGINT AS c
        FROM events GROUP BY 1
    )
"""


def _daily_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """day → (revenue cents, event count): the bounded ≤|days| frame the
    time-series statistics run on (the theil_sen/pettitt contract — the
    corpus collapses in ONE groupBy, tests never touch raw events)."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 100.0 + 0.5).cast("long"))
        .cast("long")
        .alias("x"),
        F.count("*").cast("long").alias("c"),
    )


@query(
    "kendall_tau_daily",
    f"""
    WITH {_DAILY_CTE},
    p AS (
        SELECT CASE WHEN (a.x - b.x) * (a.c - b.c) > 0 THEN 1 ELSE 0 END::BIGINT AS con,
               CASE WHEN (a.x - b.x) * (a.c - b.c) < 0 THEN 1 ELSE 0 END::BIGINT AS dis,
               CASE WHEN a.x = b.x THEN 1 ELSE 0 END::BIGINT AS tx,
               CASE WHEN a.c = b.c THEN 1 ELSE 0 END::BIGINT AS tc
        FROM daily a JOIN daily b ON a.day < b.day
    ),
    s AS (
        SELECT SUM(con)::BIGINT AS nc, SUM(dis)::BIGINT AS nd,
               SUM(tx)::BIGINT AS n1, SUM(tc)::BIGINT AS n2,
               COUNT(*)::BIGINT AS n0
        FROM p
    )
    SELECT n0, nc, nd, n1, n2,
           ROUND((nc - nd)::DOUBLE
                 / SQRT((n0 - n1)::DOUBLE) / SQRT((n0 - n2)::DOUBLE), 6) AS tau_b
    FROM s
    """,
)
def kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between daily revenue and daily event count — the
    concordance-based trend-association test (is a busier day a
    higher-revenue day?).  All pair counts (concordant, discordant,
    per-axis ties) are exact integers over the bounded-frame pair grid
    (|days|² ≈ 450 pairs); tau-b's tie-corrected denominator
    √(n0−n1)·√(n0−n2) is the single closed-form double.

    Scale: the corpus collapses in one groupBy(day); the O(|days|²)
    self-join runs on the ≤|days| frame only (a full-corpus Kendall
    needs a global merge-sort inversion count — out of scope by
    design, documented here)."""
    d = _daily_frame(spark, sf_dir).localCheckpoint(eager=True)
    a = d.select(F.col("day").alias("da"), F.col("x").alias("xa"), F.col("c").alias("ca"))
    b = d.select(F.col("day").alias("db"), F.col("x").alias("xb"), F.col("c").alias("cb"))
    p = a.join(b, F.col("da") < F.col("db")).select(
        F.when((F.col("xa") - F.col("xb")) * (F.col("ca") - F.col("cb")) > 0, 1)
        .otherwise(0).cast("long").alias("con"),
        F.when((F.col("xa") - F.col("xb")) * (F.col("ca") - F.col("cb")) < 0, 1)
        .otherwise(0).cast("long").alias("dis"),
        F.when(F.col("xa") == F.col("xb"), 1).otherwise(0).cast("long").alias("tx"),
        F.when(F.col("ca") == F.col("cb"), 1).otherwise(0).cast("long").alias("tc"),
    )
    s = p.agg(
        F.sum("con").cast("long").alias("nc"),
        F.sum("dis").cast("long").alias("nd"),
        F.sum("tx").cast("long").alias("n1"),
        F.sum("tc").cast("long").alias("n2"),
        F.count("*").cast("long").alias("n0"),
    )
    return s.select(
        "n0", "nc", "nd", "n1", "n2",
        F.round(
            (F.col("nc") - F.col("nd")).cast("double")
            / F.sqrt((F.col("n0") - F.col("n1")).cast("double"))
            / F.sqrt((F.col("n0") - F.col("n2")).cast("double")),
            6,
        ).alias("tau_b"),
    )


@query(
    "mann_kendall",
    f"""
    WITH {_DAILY_CTE},
    s AS (
        SELECT SUM(CASE WHEN b.x > a.x THEN 1
                        WHEN b.x < a.x THEN -1 ELSE 0 END)::BIGINT AS s_stat
        FROM daily a JOIN daily b ON a.day < b.day
    ),
    n AS (SELECT COUNT(*)::BIGINT AS n FROM daily),
    ties AS (
        SELECT COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0)::BIGINT AS tie_term
        FROM (SELECT COUNT(*)::BIGINT AS t FROM daily GROUP BY x) g
        WHERE t > 1
    )
    SELECT s_stat,
           (n.n * (n.n - 1) * (2 * n.n + 5) - tie_term)::BIGINT AS var18,
           CASE WHEN s_stat > 0 THEN 'increasing'
                WHEN s_stat < 0 THEN 'decreasing' ELSE 'no trend' END AS trend,
           ROUND(CASE WHEN s_stat > 0 THEN (s_stat - 1)::DOUBLE
                      WHEN s_stat < 0 THEN (s_stat + 1)::DOUBLE
                      ELSE 0.0 END
                 / SQRT((n.n * (n.n - 1) * (2 * n.n + 5) - tie_term)::DOUBLE
                        / 18.0), 6) AS z
    FROM s, n, ties
    """,
)
def mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on the daily revenue series — the
    rank-sign trend detector that needs no linear model (complements
    theil_sen_trend's slope estimate and pettitt_test's change point):
    S = Σ_{{i<j}} sgn(x_j − x_i) exact BIGINT over the bounded pair grid,
    tie-corrected Var·18 kept as an exact integer, and the
    continuity-corrected z the one closed-form double."""
    d = _daily_frame(spark, sf_dir).localCheckpoint(eager=True)
    a = d.select(F.col("day").alias("da"), F.col("x").alias("xa"))
    b = d.select(F.col("day").alias("db"), F.col("x").alias("xb"))
    s = (
        a.join(b, F.col("da") < F.col("db"))
        .agg(
            F.sum(
                F.when(F.col("xb") > F.col("xa"), 1)
                .when(F.col("xb") < F.col("xa"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s_stat")
        )
    )
    n = d.agg(F.count("*").cast("long").alias("n"))
    ties = (
        d.groupBy("x").agg(F.count("*").cast("long").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)),
                F.lit(0),
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    out = s.crossJoin(n).crossJoin(ties)
    var18 = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tie_term")
    ).cast("long")
    num = (
        F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1).cast("double"))
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1).cast("double"))
        .otherwise(F.lit(0.0))
    )
    return out.select(
        "s_stat",
        var18.alias("var18"),
        F.when(F.col("s_stat") > 0, "increasing")
        .when(F.col("s_stat") < 0, "decreasing")
        .otherwise("no trend")
        .alias("trend"),
        F.round(num / F.sqrt(var18.cast("double") / 18.0), 6).alias("z"),
    )


@query(
    "runs_test",
    f"""
    WITH {_DAILY_CTE},
    ordered AS (
        SELECT day, x, ROW_NUMBER() OVER (ORDER BY x, day)::BIGINT AS i,
               COUNT(*) OVER ()::BIGINT AS n
        FROM daily
    ),
    med AS (
        SELECT (SELECT x FROM ordered WHERE i = (n + 1) // 2 LIMIT 1)
             + (SELECT x FROM ordered WHERE i = (n + 2) // 2 LIMIT 1) AS med2
        FROM ordered LIMIT 1
    ),
    signs AS (
        SELECT day, CASE WHEN 2 * x > med2 THEN 1 ELSE 0 END AS s
        FROM daily, med
        WHERE 2 * x <> med2
    ),
    runs AS (
        SELECT SUM(CASE WHEN prev IS NULL OR s <> prev THEN 1 ELSE 0 END)::BIGINT AS r,
               SUM(s)::BIGINT AS n1,
               SUM(1 - s)::BIGINT AS n2
        FROM (SELECT s, LAG(s) OVER (ORDER BY day) AS prev FROM signs)
    )
    SELECT r, n1, n2,
           ROUND((r::DOUBLE - (2.0 * n1 * n2 / (n1 + n2) + 1.0))
                 / SQRT(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                        / ((n1 + n2)::DOUBLE * (n1 + n2) * (n1 + n2 - 1))),
                 6) AS z
    FROM runs
    """,
)
def runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test for randomness of the daily revenue
    series around its median: days above/below the median form runs;
    too few runs = trending/clustered, too many = oscillating.  The
    median cut is EXACT (2·x vs the sum of the two middle order
    statistics — no float median; exact-median days are excluded, the
    standard treatment), the runs/above/below counts are integers from
    a lag over the bounded frame, and the normal-approximation z is the
    one closed-form double."""
    from pyspark.sql import Window as W

    d = _daily_frame(spark, sf_dir).localCheckpoint(eager=True)
    o = d.select(
        "day", "x",
        F.row_number().over(W.orderBy("x", "day")).cast("long").alias("i"),
        F.count("*").over(W.partitionBy()).cast("long").alias("n"),
    )
    m1 = o.filter(F.col("i") == F.floor((F.col("n") + 1) / 2)).select("x")
    m2 = o.filter(F.col("i") == F.floor((F.col("n") + 2) / 2)).select("x")
    med2 = m1.crossJoin(m2.withColumnRenamed("x", "x2")).select(
        (F.col("x") + F.col("x2")).alias("med2")
    )
    signs = (
        d.crossJoin(F.broadcast(med2))
        .filter(2 * F.col("x") != F.col("med2"))
        .select(
            "day", F.when(2 * F.col("x") > F.col("med2"), 1).otherwise(0).alias("s")
        )
    )
    lagged = signs.select(
        "s", F.lag("s").over(W.orderBy("day")).alias("prev")
    )
    runs = lagged.agg(
        F.sum(
            F.when(F.col("prev").isNull() | (F.col("s") != F.col("prev")), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("r"),
        F.sum("s").cast("long").alias("n1"),
        F.sum(1 - F.col("s")).cast("long").alias("n2"),
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("r")
    mu = 2.0 * n1 * n2 / (n1 + n2) + 1.0
    var = (
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2).cast("double") * (n1 + n2) * (n1 + n2 - 1))
    )
    return runs.select(
        "r", "n1", "n2",
        F.round((r.cast("double") - mu) / F.sqrt(var), 6).alias("z"),
    )


@query(
    "ks_two_sample",
    """
    WITH cnts AS (
        SELECT n_chars AS v,
               SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS ca,
               SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END)::BIGINT AS cb
        FROM documents WHERE lang IN ('en', 'zh') GROUP BY 1
    ),
    cum AS (
        SELECT SUM(ca) OVER (ORDER BY v)::BIGINT AS fa,
               SUM(cb) OVER (ORDER BY v)::BIGINT AS fb,
               (SELECT SUM(ca)::BIGINT FROM cnts) AS n,
               (SELECT SUM(cb)::BIGINT FROM cnts) AS m
        FROM cnts
    ),
    d AS (
        SELECT MAX(ABS(fa * m - fb * n))::BIGINT AS d_num,
               MAX(n)::BIGINT AS n, MAX(m)::BIGINT AS m
        FROM cum
    )
    SELECT n, m, d_num,
           ROUND(d_num::DOUBLE / (n::DOUBLE * m), 6) AS d,
           ROUND(2 * EXP(-2.0 * (d_num::DOUBLE / (n::DOUBLE * m))
                              * (d_num::DOUBLE / (n::DOUBLE * m))
                              * n * m / (n + m)), 6) AS p_approx
    FROM d
    """,
)
def ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test: does English doc length follow
    the same distribution as Chinese doc length?  The distribution-free
    screen a curation pipeline runs before pooling sources.  The KS
    statistic is kept EXACT: D = max|F_a − F_b| is computed as the
    integer max of |cum_a·m − cum_b·n| over the pooled value grid (no
    float ECDFs), with D itself and the one-term asymptotic p-value
    2·exp(−2D²nm/(n+m)) the only closed-form doubles.

    Scale: one groupBy(value) collapse (bounded by distinct lengths), a
    window cumsum over that bounded grid, one max — the corpus shuffles
    once as (value, two counts)."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("lang").isin("en", "zh")
    )
    cnts = docs.groupBy(F.col("n_chars").alias("v")).agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long")
        .alias("ca"),
        F.sum(F.when(F.col("lang") == "zh", 1).otherwise(0))
        .cast("long")
        .alias("cb"),
    )
    w = W.orderBy("v")
    tot = W.partitionBy()
    cum = cnts.select(
        F.sum("ca").over(w).cast("long").alias("fa"),
        F.sum("cb").over(w).cast("long").alias("fb"),
        F.sum("ca").over(tot).cast("long").alias("n"),
        F.sum("cb").over(tot).cast("long").alias("m"),
    )
    d = cum.agg(
        F.max(F.abs(F.col("fa") * F.col("m") - F.col("fb") * F.col("n")))
        .cast("long")
        .alias("d_num"),
        F.max("n").cast("long").alias("n"),
        F.max("m").cast("long").alias("m"),
    )
    dd = F.col("d_num").cast("double") / (F.col("n").cast("double") * F.col("m"))
    return d.select(
        "n", "m", "d_num",
        F.round(dd, 6).alias("d"),
        F.round(
            2
            * F.exp(
                -2.0 * dd * dd * F.col("n") * F.col("m") / (F.col("n") + F.col("m"))
            ),
            6,
        ).alias("p_approx"),
    )


@query(
    "cramers_v",
    """
    WITH cells AS (
        SELECT lang AS g, source AS s, COUNT(*)::BIGINT AS o
        FROM documents GROUP BY 1, 2
    ),
    rm AS (SELECT g, SUM(o)::BIGINT AS r FROM cells GROUP BY g),
    cm AS (SELECT s, SUM(o)::BIGINT AS c FROM cells GROUP BY s),
    nn AS (SELECT SUM(o)::BIGINT AS n FROM cells),
    grid AS (
        SELECT rm.g, cm.s, rm.r, cm.c, COALESCE(cells.o, 0)::BIGINT AS o
        FROM rm CROSS JOIN cm
        LEFT JOIN cells ON cells.g = rm.g AND cells.s = cm.s
    ),
    terms AS (
        SELECT g, s,
               ((o * nn.n - r * c)::DOUBLE * (o * nn.n - r * c)::DOUBLE)
               / (nn.n * r * c)::DOUBLE AS term
        FROM grid CROSS JOIN nn
    ),
    folded AS (
        SELECT list_reduce(list_prepend(0.0, list(term ORDER BY g, s)),
                           (a, x) -> a + x) AS chi2
        FROM terms
    ),
    dims AS (
        SELECT (SELECT COUNT(*) FROM rm)::BIGINT AS nr,
               (SELECT COUNT(*) FROM cm)::BIGINT AS nc,
               (SELECT n FROM nn)::BIGINT AS n
    )
    SELECT ROUND(folded.chi2, 6) AS chi2,
           ((dims.nr - 1) * (dims.nc - 1))::BIGINT AS dof,
           ROUND(SQRT(folded.chi2
                      / (dims.n * LEAST(dims.nr - 1, dims.nc - 1))::DOUBLE),
                 6) AS v
    FROM folded CROSS JOIN dims
    """,
)
def cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V between document language and source — the EFFECT-SIZE
    readout the chi2_independence significance test doesn't give (is the
    lang×source association big enough to stratify sampling by?).  Same
    exact-integer contingency discipline: (O·N − R·C)²/(N·R·C) per cell
    from BIGINT counts, a (lang, source)-ordered IEEE fold for the χ²
    sum, and V = √(χ²/(N·min(r−1, c−1))) the closed-form double.

    Plan: one groupBy(lang, source) corpus collapse; margins, grid, and
    fold on the ≤|langs|·|sources| frame."""
    d = load_table(spark, sf_dir, "documents")
    cells = (
        d.groupBy(F.col("lang").alias("g"), F.col("source").alias("s"))
        .agg(F.count("*").cast("long").alias("o"))
        .localCheckpoint(eager=True)
    )
    rm = cells.groupBy("g").agg(F.sum("o").cast("long").alias("r"))
    cm = cells.groupBy("s").agg(F.sum("o").cast("long").alias("c"))
    nn = cells.agg(F.sum("o").cast("long").alias("n"))
    grid = (
        rm.crossJoin(F.broadcast(cm))
        .join(cells, ["g", "s"], "left")
        .select(
            "g", "s", "r", "c",
            F.coalesce(F.col("o"), F.lit(0)).cast("long").alias("o"),
        )
    )
    x = (F.col("o") * F.col("n") - F.col("r") * F.col("c")).cast("double")
    terms = grid.crossJoin(F.broadcast(nn)).select(
        "g", "s",
        ((x * x) / (F.col("n") * F.col("r") * F.col("c")).cast("double")).alias("term"),
    )
    folded = terms.agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("g", "s", "term"))),
            F.lit(0.0),
            lambda acc, st: acc + st["term"],
        ).alias("chi2")
    )
    dims = (
        rm.agg(F.count("*").cast("long").alias("nr"))
        .crossJoin(F.broadcast(cm.agg(F.count("*").cast("long").alias("nc"))))
        .crossJoin(F.broadcast(nn))
    )
    return folded.crossJoin(F.broadcast(dims)).select(
        F.round("chi2", 6).alias("chi2"),
        ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long").alias("dof"),
        F.round(
            F.sqrt(
                F.col("chi2")
                / (
                    F.col("n") * F.least(F.col("nr") - 1, F.col("nc") - 1)
                ).cast("double")
            ),
            6,
        ).alias("v"),
    )


@query(
    "ewma_control",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               SUM(FLOOR(value * 100.0 + 0.5)::BIGINT)::BIGINT AS x
        FROM events GROUP BY 1
    ),
    ys AS (
        SELECT list(strftime(day, '%Y-%m-%d') ORDER BY day) AS days,
               list(CAST(x AS DOUBLE) ORDER BY day) AS ys
        FROM daily
    ),
    folded AS (
        SELECT days, ys,
               list_reduce(
                   list_prepend([ys[1]], list_transform(ys[2:], y -> [y])),
                   (a, y) -> list_append(a, a[-1] + 0.25 * (y[1] - a[-1]))
               ) AS es
        FROM ys
    ),
    mom AS (
        SELECT COUNT(*)::BIGINT AS n, SUM(x)::HUGEINT AS s,
               SUM((x * x)::HUGEINT) AS ss
        FROM daily
    ),
    lim AS (
        SELECT ROUND(3.0 * SQRT(((n * ss - s * s)::DOUBLE) / n / (n - 1))
                         * SQRT(1.0 / 7.0), 6) AS limit3,
               ROUND((s::DOUBLE) / n, 6) AS mu
        FROM mom
    )
    SELECT t.day, t.x,
           ROUND(t.e, 6) AS ewma,
           (ROUND(ABS(t.e - (SELECT (s::DOUBLE) / n FROM mom)), 6)
            > (SELECT limit3 FROM lim)) AS out_of_control,
           (SELECT mu FROM lim) AS mu,
           (SELECT limit3 FROM lim) AS limit3
    FROM (
        SELECT unnest(days) AS day,
               unnest(list_transform(ys, v -> v::BIGINT)) AS x,
               unnest(es) AS e
        FROM folded
    ) t
    """,
)
def ewma_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart over daily revenue (λ=1/4, L=3) — the
    small-shift drift detector that complements ts_anomalies' one-shot
    MAD screen and changepoint_cusum's cumulative sum: the EWMA line
    e_t = e_{t−1} + λ(x_t − e_{t−1}) reacts to sustained small shifts a
    3σ point rule misses.  λ is an exact binary fraction and the fold is
    day-ordered with the update written textually identically in both
    engines (the ets/hw ordered-IEEE-fold discipline) so every e_t is
    bit-identical; σ comes from exact HUGEINT moments, and the
    out-of-control cut compares ROUNDED |e_t − μ| against the ROUNDED
    asymptotic limit 3σ√(λ/(2−λ)) — never raw multi-op doubles (the
    weighted_sample k-boundary lesson).

    Scale: one groupBy(day) corpus collapse; fold and chart on the
    bounded ≤|days| frame."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 100.0 + 0.5).cast("long"))
        .cast("long")
        .alias("x")
    ).localCheckpoint(eager=True)
    ys = daily.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "x"))),
            lambda s: F.date_format(s["day"], "yyyy-MM-dd"),
        ).alias("days"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "x"))),
            lambda s: s["x"].cast("double"),
        ).alias("ys"),
    )
    init = F.array(F.element_at("ys", 1))
    rest = F.transform(
        F.slice(F.col("ys"), 2, F.size("ys")), lambda v: F.array(v)
    )
    es = F.aggregate(
        rest,
        init,
        lambda a, y: F.concat(
            a,
            F.array(
                F.element_at(a, -1)
                + 0.25 * (F.element_at(y, 1) - F.element_at(a, -1))
            ),
        ),
    )
    folded = ys.select("days", "ys", es.alias("es"))
    mom = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).cast("decimal(38,0)").alias("s"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("ss"),
    )
    lim = mom.select(
        F.round(
            3.0
            * F.sqrt(
                (F.col("n") * F.col("ss") - F.col("s") * F.col("s")).cast("double")
                / F.col("n")
                / (F.col("n") - 1)
            )
            * F.sqrt(F.lit(1.0) / 7.0),
            6,
        ).alias("limit3"),
        F.round(F.col("s").cast("double") / F.col("n"), 6).alias("mu"),
        (F.col("s").cast("double") / F.col("n")).alias("mu_raw"),
    )
    rows = folded.select(
        F.posexplode(F.arrays_zip("days", "ys", "es")).alias("pos", "z")
    ).select(
        F.col("z.days").alias("day"),
        F.col("z.ys").cast("long").alias("x"),
        F.col("z.es").alias("e"),
    )
    return rows.crossJoin(F.broadcast(lim)).select(
        "day", "x",
        F.round("e", 6).alias("ewma"),
        (F.round(F.abs(F.col("e") - F.col("mu_raw")), 6) > F.col("limit3"))
        .alias("out_of_control"),
        "mu", "limit3",
    )


@query(
    "shuffle_skew_report",
    """
    WITH kc AS (
        SELECT l_partkey AS k, COUNT(*)::BIGINT AS cnt
        FROM lineitem GROUP BY 1
    ),
    coc AS (
        SELECT cnt, COUNT(*)::BIGINT AS freq FROM kc GROUP BY cnt
    ),
    walked AS (
        SELECT cnt, SUM(freq) OVER (ORDER BY cnt)::BIGINT AS cum,
               (SELECT SUM(freq)::BIGINT FROM coc) AS tot
        FROM coc
    ),
    ginisrc AS (
        SELECT SUM((2 * i - n - 1) * cnt)::BIGINT AS gnum,
               MAX(n)::BIGINT AS k_cnt, SUM(cnt)::BIGINT AS n_rows
        FROM (SELECT cnt,
                     ROW_NUMBER() OVER (ORDER BY cnt, k)::BIGINT AS i,
                     COUNT(*) OVER ()::BIGINT AS n
              FROM kc)
    ),
    mom AS (
        SELECT COUNT(*)::BIGINT AS k_cnt, SUM(cnt)::HUGEINT AS s,
               SUM((cnt * cnt)::HUGEINT) AS ss, MAX(cnt)::BIGINT AS mx
        FROM kc
    )
    SELECT mom.k_cnt AS n_keys, ginisrc.n_rows,
           mom.mx AS max_cnt,
           (SELECT MIN(cnt) FROM walked
            WHERE cum >= (tot * 500 + 999) // 1000)::BIGINT AS p50_cnt,
           (SELECT MIN(cnt) FROM walked
            WHERE cum >= (tot * 990 + 999) // 1000)::BIGINT AS p99_cnt,
           ROUND(mom.mx::DOUBLE / ginisrc.n_rows, 6) AS top1_share,
           ROUND(ginisrc.gnum::DOUBLE / (ginisrc.k_cnt::DOUBLE * ginisrc.n_rows),
                 6) AS gini,
           ROUND(SQRT((mom.k_cnt * mom.ss - mom.s * mom.s)::DOUBLE
                      / mom.k_cnt / (mom.k_cnt - 1))
                 / ((mom.s::DOUBLE) / mom.k_cnt), 6) AS cv
    FROM mom CROSS JOIN ginisrc
    """,
)
def shuffle_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis for l_partkey — the report you run BEFORE
    shuffling 100 TB on a key: per-key row counts reduced to max / exact
    p50 / exact p99 / top-1 share / Gini / coefficient of variation.  A
    Gini near 0 and p99≈p50 say hash partitioning is safe; a fat top-1
    share says salt THIS key (salted_join_demo is the companion fix).
    Counts are exact BIGINTs, the percentiles use the histogram_quantiles
    integer permille walk on the count-of-counts grid, Gini's numerator
    Σ(2i−K−1)·cnt is an exact integer over the sorted counts (tie order
    irrelevant — equal values contribute equally under any permutation),
    and only the three display ratios are doubles.

    Scale: one groupBy(key) with map-side combine; everything else runs
    on the K-row counts frame (and the permille walk on the even smaller
    count-of-counts grid)."""
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    kc = li.groupBy(F.col("l_partkey").alias("k")).agg(
        F.count("*").cast("long").alias("cnt")
    ).localCheckpoint(eager=True)
    coc = kc.groupBy("cnt").agg(F.count("*").cast("long").alias("freq"))
    walked = coc.select(
        "cnt",
        F.sum("freq").over(W.orderBy("cnt")).cast("long").alias("cum"),
        F.sum("freq").over(W.partitionBy()).cast("long").alias("tot"),
    )

    def perc(perm: int):
        rank = F.expr(f"(tot * {perm} + 999) div 1000")
        return F.min(F.when(F.col("cum") >= rank, F.col("cnt"))).cast("long")

    pcts = walked.agg(perc(500).alias("p50_cnt"), perc(990).alias("p99_cnt"))
    ranked = kc.select(
        "cnt",
        F.row_number().over(W.orderBy("cnt", "k")).cast("long").alias("i"),
        F.count("*").over(W.partitionBy()).cast("long").alias("n"),
    )
    gini = ranked.agg(
        F.sum((2 * F.col("i") - F.col("n") - 1) * F.col("cnt"))
        .cast("long")
        .alias("gnum"),
        F.max("n").cast("long").alias("k_cnt"),
        F.sum("cnt").cast("long").alias("n_rows"),
    )
    mom = kc.agg(
        F.count("*").cast("long").alias("k_cnt2"),
        F.sum(F.col("cnt").cast("decimal(38,0)")).cast("decimal(38,0)").alias("s"),
        F.sum((F.col("cnt") * F.col("cnt")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("ss"),
        F.max("cnt").cast("long").alias("mx"),
    )
    return (
        mom.crossJoin(F.broadcast(gini))
        .crossJoin(F.broadcast(pcts))
        .select(
            F.col("k_cnt2").alias("n_keys"),
            "n_rows",
            F.col("mx").alias("max_cnt"),
            "p50_cnt", "p99_cnt",
            F.round(F.col("mx").cast("double") / F.col("n_rows"), 6)
            .alias("top1_share"),
            F.round(
                F.col("gnum").cast("double")
                / (F.col("k_cnt").cast("double") * F.col("n_rows")),
                6,
            ).alias("gini"),
            F.round(
                F.sqrt(
                    (F.col("k_cnt2") * F.col("ss") - F.col("s") * F.col("s"))
                    .cast("double")
                    / F.col("k_cnt2")
                    / (F.col("k_cnt2") - 1)
                )
                / (F.col("s").cast("double") / F.col("k_cnt2")),
                6,
            ).alias("cv"),
        )
    )


@query(
    "isotonic_calibration",
    """
    WITH deciles AS (
        SELECT decile,
               SUM(is_pos)::BIGINT AS pos, COUNT(*)::BIGINT AS cnt
        FROM (
            SELECT NTILE(10) OVER (ORDER BY n_chars, doc_id) AS decile,
                   CASE WHEN source IN ('src0','src1','src2','src3','src4')
                        THEN 1 ELSE 0 END AS is_pos
            FROM documents
        )
        GROUP BY decile
    ),
    cums AS (
        SELECT decile, pos, cnt,
               SUM(pos) OVER (ORDER BY decile)::BIGINT AS cpos,
               SUM(cnt) OVER (ORDER BY decile)::BIGINT AS ccnt
        FROM deciles
    ),
    spans AS (
        -- avg of the span j..k = (cpos_k - cpos_{j-1}) / (ccnt_k - ccnt_{j-1})
        SELECT j.decile AS j, k.decile AS k,
               (k.cpos - j.cpos + j.pos)::DOUBLE
               / (k.ccnt - j.ccnt + j.cnt)::DOUBLE AS avg_jk
        FROM cums j JOIN cums k ON j.decile <= k.decile
    ),
    inner_min AS (
        SELECT j, i.decile AS i, MIN(avg_jk) AS m
        FROM spans JOIN cums i ON spans.j <= i.decile AND i.decile <= spans.k
        GROUP BY j, i.decile
    ),
    fit AS (SELECT i AS decile, MAX(m) AS iso FROM inner_min GROUP BY i)
    SELECT d.decile::BIGINT AS decile, d.pos, d.cnt,
           ROUND(d.pos::DOUBLE / d.cnt, 6) AS raw_rate,
           ROUND(f.iso, 6) AS isotonic_rate
    FROM deciles d JOIN fit f ON d.decile = f.decile
    """,
)
def isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone non-decreasing) calibration of the per-decile
    curated-source rate over doc length — the regression step after
    nb_calibration's diagnostic: fit the best monotone curve to the
    bucket rates (weighted least squares ⇒ pool-adjacent-violators).
    Instead of replaying the sequential PAV fold, BOTH engines use the
    exact minimax characterization of the isotonic fit,

        iso_i = max_{j≤i} min_{k≥i} avg(y_j..y_k)

    (Robertson-Wright-Dykstra eq. 1.9) — pure joins over the bounded
    decile frame: O(B²) span averages, O(B²) min/max, B = 10.  Span
    averages divide the SAME exact integers in both engines, so every
    candidate double is bit-identical and the max/min selection cannot
    diverge.

    Scale: a global NTILE is a single-partition window, so the Spark
    side derives the SAME bucket ids scalably — global_rank =
    cum_lower(value) [broadcast grid] + row_number within the value
    [window partitioned by value, parallel], then Spark's exact ntile
    law bucket(rank) with larger-buckets-first; the oracle keeps
    DuckDB's native NTILE, which doubles as a cross-check that the
    closed-form law IS ntile.  The fit runs on the B-row frame."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    pos = F.col("source").isin("src0", "src1", "src2", "src3", "src4")
    grid = (
        d.groupBy("n_chars")
        .agg(F.count("*").cast("long").alias("vcnt"))
        .select(
            "n_chars",
            (F.sum("vcnt").over(W.orderBy("n_chars")) - F.col("vcnt"))
            .cast("long")
            .alias("cum_lower"),
            F.sum("vcnt").over(W.partitionBy()).cast("long").alias("n"),
        )
    )
    ranked = (
        d.select("doc_id", "n_chars", pos.cast("int").alias("is_pos"))
        .withColumn(
            "rn",
            F.row_number().over(W.partitionBy("n_chars").orderBy("doc_id")),
        )
        .join(F.broadcast(grid), "n_chars")
        .select(
            "is_pos",
            (F.col("cum_lower") + F.col("rn")).cast("long").alias("grank"),
            "n",
        )
    )
    # Spark/DuckDB ntile law, B=10: q=n div B, r=n mod B; the first r
    # buckets hold q+1 rows, the rest q
    q = F.expr("n div 10")
    r = F.col("n") % 10
    decile = F.when(
        F.col("grank") <= r * (q + 1),
        F.expr("(grank + (n div 10)) div ((n div 10) + 1)"),
    ).otherwise(
        r + F.expr("(grank - (n % 10) * ((n div 10) + 1) + (n div 10) - 1) div (n div 10)")
    )
    deciles = (
        ranked.select(decile.cast("int").alias("decile"), "is_pos")
        .groupBy("decile")
        .agg(
            F.sum("is_pos").cast("long").alias("pos"),
            F.count("*").cast("long").alias("cnt"),
        )
        .localCheckpoint(eager=True)
    )
    cums = deciles.select(
        "decile", "pos", "cnt",
        F.sum("pos").over(W.orderBy("decile")).cast("long").alias("cpos"),
        F.sum("cnt").over(W.orderBy("decile")).cast("long").alias("ccnt"),
    )
    j = cums.select(
        F.col("decile").alias("j"), F.col("pos").alias("jpos"),
        F.col("cnt").alias("jcnt"), F.col("cpos").alias("jcpos"),
        F.col("ccnt").alias("jccnt"),
    )
    k = cums.select(
        F.col("decile").alias("k"), F.col("cpos").alias("kcpos"),
        F.col("ccnt").alias("kccnt"),
    )
    spans = j.join(k, F.col("j") <= F.col("k")).select(
        "j", "k",
        (
            (F.col("kcpos") - F.col("jcpos") + F.col("jpos")).cast("double")
            / (F.col("kccnt") - F.col("jccnt") + F.col("jcnt")).cast("double")
        ).alias("avg_jk"),
    )
    i = cums.select(F.col("decile").alias("i"))
    inner = (
        spans.join(i, (F.col("j") <= F.col("i")) & (F.col("i") <= F.col("k")))
        .groupBy("j", "i")
        .agg(F.min("avg_jk").alias("m"))
    )
    fit = inner.groupBy("i").agg(F.max("m").alias("iso"))
    return deciles.join(fit, deciles["decile"] == fit["i"]).select(
        F.col("decile").cast("long").alias("decile"),
        "pos", "cnt",
        F.round(F.col("pos").cast("double") / F.col("cnt"), 6).alias("raw_rate"),
        F.round("iso", 6).alias("isotonic_rate"),
    )


@query(
    "matrix_profile_daily",
    f"""
    WITH {_DAILY_CTE},
    idx AS (
        SELECT x, ROW_NUMBER() OVER (ORDER BY day)::BIGINT AS i,
               COUNT(*) OVER ()::BIGINT AS n
        FROM daily
    ),
    win AS (
        SELECT w.i AS w, SUM(v.x)::BIGINT AS s1,
               SUM((v.x * v.x)::HUGEINT) AS s2
        FROM (SELECT i FROM idx WHERE i <= (SELECT MAX(n) FROM idx) - 4) w
        JOIN idx v ON v.i BETWEEN w.i AND w.i + 4
        GROUP BY w.i
    ),
    cross_sum AS (
        SELECT a.i AS wa, b.i AS wb, SUM((va.x * vb.x)::HUGEINT) AS sxy
        FROM (SELECT i FROM idx WHERE i <= (SELECT MAX(n) FROM idx) - 4) a
        JOIN (SELECT i FROM idx WHERE i <= (SELECT MAX(n) FROM idx) - 4) b
          ON abs(a.i - b.i) >= 3
        JOIN idx va ON va.i BETWEEN a.i AND a.i + 4
        JOIN idx vb ON vb.i = b.i + (va.i - a.i)
        GROUP BY a.i, b.i
    ),
    dists AS (
        SELECT cs.wa, cs.wb,
               ROUND(sqrt(greatest(2.0 * 5 * (1.0 -
                   (5 * cs.sxy - wa.s1 * wb.s1)::DOUBLE
                   / sqrt((5 * wa.s2 - wa.s1 * wa.s1)::DOUBLE)
                   / sqrt((5 * wb.s2 - wb.s1 * wb.s1)::DOUBLE)), 0.0)), 6)
                   AS d
        FROM cross_sum cs
        JOIN win wa ON wa.w = cs.wa
        JOIN win wb ON wb.w = cs.wb
    )
    SELECT wa::BIGINT AS pos, d AS mp, wb::BIGINT AS motif_pos
    FROM (
        SELECT wa, wb, d,
               ROW_NUMBER() OVER (PARTITION BY wa ORDER BY d ASC, wb ASC) AS rn
        FROM dists
    ) WHERE rn = 1
    """,
)
def matrix_profile_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matrix profile (Yeh et al. 2016) of the daily revenue series,
    window m=5: for every subsequence, the z-normalized distance to its
    nearest non-trivial neighbor (exclusion zone |i−j| ≥ 3) — low values
    are MOTIFS (repeated weekly patterns), high values are DISCORDS
    (novel weeks), the modern time-series mining primitive beside the
    classical tests.  Every window/cross sum is an exact BIGINT/HUGEINT
    moment; the correlation-form distance √(2m(1−ρ)) divides the same
    integers in both engines, and the nearest-neighbor argmin orders by
    the ROUNDED distance with the position tiebreak (the
    weighted_sample cut discipline).  greatest(·, 0) guards the ρ→1
    negative-zero edge.

    Scale: the corpus collapses in one groupBy(day); the O(w²·m) pair
    grid runs on the bounded ≤|days| frame (the pettitt contract)."""
    from pyspark.sql import Window as W

    daily = _daily_frame(spark, sf_dir).select("day", "x")
    idx = daily.select(
        "x",
        F.row_number().over(W.orderBy("day")).cast("long").alias("i"),
        F.count("*").over(W.partitionBy()).cast("long").alias("n"),
    ).localCheckpoint(eager=True)
    starts = idx.filter(F.col("i") <= F.col("n") - 4).select(
        F.col("i").alias("w")
    )
    vals = idx.select(F.col("i").alias("vi"), F.col("x").alias("vx"))
    win = (
        starts.join(
            vals,
            (F.col("vi") >= F.col("w")) & (F.col("vi") <= F.col("w") + 4),
        )
        .groupBy("w")
        .agg(
            F.sum("vx").cast("long").alias("s1"),
            F.sum((F.col("vx") * F.col("vx")).cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias("s2"),
        )
    )
    a = starts.select(F.col("w").alias("wa"))
    b = starts.select(F.col("w").alias("wb"))
    va = vals.select(F.col("vi").alias("ai"), F.col("vx").alias("ax"))
    vb = vals.select(F.col("vi").alias("bi"), F.col("vx").alias("bx"))
    cross = (
        a.join(b, F.abs(F.col("wa") - F.col("wb")) >= 3)
        .join(va, (F.col("ai") >= F.col("wa")) & (F.col("ai") <= F.col("wa") + 4))
        .join(vb, F.col("bi") == F.col("wb") + (F.col("ai") - F.col("wa")))
        .groupBy("wa", "wb")
        .agg(
            F.sum((F.col("ax") * F.col("bx")).cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias("sxy")
        )
    )
    wa = win.select(
        F.col("w").alias("wa"), F.col("s1").alias("s1a"), F.col("s2").alias("s2a")
    )
    wb = win.select(
        F.col("w").alias("wb"), F.col("s1").alias("s1b"), F.col("s2").alias("s2b")
    )
    rho = (
        (5 * F.col("sxy") - F.col("s1a") * F.col("s1b")).cast("double")
        / F.sqrt((5 * F.col("s2a") - F.col("s1a") * F.col("s1a")).cast("double"))
        / F.sqrt((5 * F.col("s2b") - F.col("s1b") * F.col("s1b")).cast("double"))
    )
    dists = (
        cross.join(wa, "wa")
        .join(wb, "wb")
        .select(
            "wa", "wb",
            F.round(
                F.sqrt(F.greatest(2.0 * 5 * (1.0 - rho), F.lit(0.0))), 6
            ).alias("d"),
        )
    )
    wmin = W.partitionBy("wa").orderBy(F.col("d").asc(), F.col("wb").asc())
    return (
        dists.withColumn("rn", F.row_number().over(wmin))
        .filter(F.col("rn") == 1)
        .select(
            F.col("wa").cast("long").alias("pos"),
            F.col("d").alias("mp"),
            F.col("wb").cast("long").alias("motif_pos"),
        )
    )


@query(
    "ar2_fit",
    f"""
    WITH {_DAILY_CTE},
    idx AS (
        SELECT x, ROW_NUMBER() OVER (ORDER BY day)::BIGINT AS i,
               COUNT(*) OVER ()::BIGINT AS n,
               SUM(x) OVER ()::BIGINT AS s
        FROM daily
    ),
    -- n²-scaled autocovariances: ĉ_k ∝ Σ (n·x_t − S)(n·x_{{t+k}} − S),
    -- exact HUGEINT (the n² factor cancels in every ratio below)
    c AS (
        SELECT
            (SELECT SUM(((a.n * a.x - a.s) * (a.n * a.x - a.s))::HUGEINT)
             FROM idx a) AS c0,
            (SELECT SUM(((a.n * a.x - a.s) * (b.n * b.x - b.s))::HUGEINT)
             FROM idx a JOIN idx b ON b.i = a.i + 1) AS c1,
            (SELECT SUM(((a.n * a.x - a.s) * (b.n * b.x - b.s))::HUGEINT)
             FROM idx a JOIN idx b ON b.i = a.i + 2) AS c2
    )
    SELECT ROUND(c1::DOUBLE / c0::DOUBLE, 6) AS r1,
           ROUND(c2::DOUBLE / c0::DOUBLE, 6) AS r2,
           ROUND((c1::DOUBLE / c0::DOUBLE)
                 * (1.0 - c2::DOUBLE / c0::DOUBLE)
                 / (1.0 - (c1::DOUBLE / c0::DOUBLE) * (c1::DOUBLE / c0::DOUBLE)),
                 6) AS phi1,
           ROUND((c2::DOUBLE / c0::DOUBLE
                  - (c1::DOUBLE / c0::DOUBLE) * (c1::DOUBLE / c0::DOUBLE))
                 / (1.0 - (c1::DOUBLE / c0::DOUBLE) * (c1::DOUBLE / c0::DOUBLE)),
                 6) AS phi2
    FROM c
    """,
)
def ar2_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule-Walker AR(2) fit of the daily revenue series — the
    autoregressive companion of the forecasting ladder (trend OLS → ETS
    → Holt-Winters) and the lag-2 PACF in closed form (φ₂ IS the
    partial autocorrelation at lag 2):

        φ₁ = r₁(1−r₂)/(1−r₁²)      φ₂ = (r₂−r₁²)/(1−r₁²)

    The autocovariances are EXACT integer sums of (n·x_t − S)(n·x_{t+k}
    − S) — the n²-scaling clears the fractional mean and cancels in
    every ratio — so r₁, r₂ and both coefficients are closed forms over
    identical integers in both engines.

    Scale: one groupBy(day); the lag joins run on the bounded frame."""
    from pyspark.sql import Window as W

    daily = _daily_frame(spark, sf_dir).select("day", "x")
    idx = daily.select(
        "x",
        F.row_number().over(W.orderBy("day")).cast("long").alias("i"),
        F.count("*").over(W.partitionBy()).cast("long").alias("n"),
        F.sum("x").over(W.partitionBy()).cast("long").alias("s"),
    ).localCheckpoint(eager=True)
    dev = idx.select(
        "i", ((F.col("n") * F.col("x") - F.col("s")).cast("decimal(38,0)")).alias("d")
    )

    def ck(k: int):
        a = dev.select(F.col("i").alias("ia"), F.col("d").alias("da"))
        b = dev.select(F.col("i").alias("ib"), F.col("d").alias("db"))
        return (
            a.join(b, F.col("ib") == F.col("ia") + k)
            .agg(
                F.sum((F.col("da") * F.col("db")).cast("decimal(38,0)"))
                .cast("decimal(38,0)")
                .alias(f"c{k}")
            )
        )

    c = ck(0).crossJoin(ck(1)).crossJoin(ck(2))
    r1 = F.col("c1").cast("double") / F.col("c0").cast("double")
    r2 = F.col("c2").cast("double") / F.col("c0").cast("double")
    return c.select(
        F.round(r1, 6).alias("r1"),
        F.round(r2, 6).alias("r2"),
        F.round(r1 * (1.0 - r2) / (1.0 - r1 * r1), 6).alias("phi1"),
        F.round((r2 - r1 * r1) / (1.0 - r1 * r1), 6).alias("phi2"),
    )


def _shesd_oracle_sql(k: int = 3) -> str:
    """Seasonal-hybrid ESD replay: per-weekday 2×median removal (exact
    order statistics), then k unrolled MATERIALIZED ESD rounds on the
    residuals — the _esd_oracle_sql pattern over the daily frame.
    Spark weekday convention (dayofweek 1=Sunday) = DuckDB dayofweek+1."""
    parts = [
        """daily AS MATERIALIZED (
        SELECT CAST(ts AS DATE) AS day,
               dayofweek(CAST(ts AS DATE)) + 1 AS wd,
               SUM(FLOOR(value * 100.0 + 0.5)::BIGINT)::BIGINT AS x
        FROM events GROUP BY 1, 2
    )""",
        """wmed AS MATERIALIZED (
        SELECT wd,
               (SELECT x FROM (SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS r,
                                      COUNT(*) OVER () AS m
                               FROM daily i WHERE i.wd = o.wd)
                WHERE r = (m + 1) // 2)
             + (SELECT x FROM (SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS r,
                                      COUNT(*) OVER () AS m
                               FROM daily i WHERE i.wd = o.wd)
                WHERE r = (m + 2) // 2) AS med2
        FROM (SELECT DISTINCT wd FROM daily) o
    )""",
        """vals AS MATERIALIZED (
        SELECT strftime(d.day, '%Y-%m-%d') AS day,
               (2 * d.x - w.med2)::BIGINT AS v
        FROM daily d JOIN wmed w ON w.wd = d.wd
    )""",
    ]
    excl = ""
    picks = []
    for i in range(1, k + 1):
        parts.append(
            f"""st{i} AS MATERIALIZED (
        SELECT COUNT(*)::BIGINT AS n, SUM(v)::BIGINT AS s,
               SUM(v * v)::HUGEINT AS ss
        FROM vals{excl}
    )"""
        )
        parts.append(
            f"""pick{i} AS MATERIALIZED (
        SELECT {i} AS round, day, v,
               abs(v - s::DOUBLE / n)
               / sqrt((ss - s * (s::DOUBLE / n)) / (n - 1)) AS z
        FROM vals, st{i}{excl}
        ORDER BY abs(v * n - s) DESC, v ASC, day ASC LIMIT 1
    )"""
        )
        picks.append(f"SELECT * FROM pick{i}")
        prev = " UNION ALL ".join(
            f"SELECT day FROM pick{j}" for j in range(1, i + 1)
        )
        excl = f" WHERE day NOT IN ({prev})"
    un = " UNION ALL ".join(picks)
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT round::INT AS round, day, v AS resid2, ROUND(z, 6) AS z
    FROM ({un}) ORDER BY round"""
    )


@query("anomaly_shesd", _shesd_oracle_sql())
def anomaly_shesd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-hybrid ESD (the Twitter AnomalyDetection recipe:
    Hochenbaum et al. 2017) on daily revenue — remove the WEEKDAY
    seasonal median, then run generalized ESD on the residuals, so a
    legitimately-busy Monday is not flagged while a quiet Monday IS.
    The seasonal removal is exact: resid2 = 2·x − med2(weekday), with
    med2 the sum of the weekday's two middle order statistics (no float
    median; the x − seasonal − median(series) form telescopes to
    x − med_weekday, so resid2 stays integer).  Each ESD round argmaxes
    the exact BIGINT key |v·n − Σ| (σ is round-constant) with
    value/day tiebreaks; z is the one closed-form double.

    Scale: one groupBy(day, weekday); medians and the 3 ESD rounds run
    on the bounded ≤|days| frame (the pettitt contract)."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.to_date("ts").alias("day"),
        F.dayofweek(F.to_date("ts")).alias("wd"),
    ).agg(
        F.sum(F.floor(F.col("value") * 100.0 + 0.5).cast("long"))
        .cast("long")
        .alias("x")
    )
    ww = W.partitionBy("wd").orderBy("x")
    ranked = daily.select(
        "day", "wd", "x",
        F.row_number().over(ww).cast("long").alias("r"),
        F.count("*").over(W.partitionBy("wd")).cast("long").alias("m"),
    )
    m1 = ranked.filter(F.col("r") == F.floor((F.col("m") + 1) / 2)).select(
        "wd", F.col("x").alias("xa")
    )
    m2 = ranked.filter(F.col("r") == F.floor((F.col("m") + 2) / 2)).select(
        "wd", F.col("x").alias("xb")
    )
    wmed = m1.join(m2, "wd").select(
        "wd", (F.col("xa") + F.col("xb")).cast("long").alias("med2")
    )
    vals = (
        daily.join(F.broadcast(wmed), "wd")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            (2 * F.col("x") - F.col("med2")).cast("long").alias("v"),
        )
        .localCheckpoint(eager=True)
    )
    picked: list[str] = []
    out_rows = []
    for rnd in range(1, 4):
        rem = vals.filter(~F.col("day").isin(picked)) if picked else vals
        st = rem.agg(
            F.count("*").cast("long").alias("n"),
            F.sum("v").cast("long").alias("s"),
            F.sum((F.col("v") * F.col("v")).cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias("ss"),
        ).collect()[0]
        n, s, ss = st.n, int(st.s), int(st.ss)
        pick = (
            rem.select(
                "day", "v",
                (
                    F.abs(F.col("v") - F.lit(s) / F.lit(n))
                    / F.sqrt(
                        (F.lit(ss) - F.lit(s) * (F.lit(s) / F.lit(n)))
                        / F.lit(n - 1)
                    )
                ).alias("z"),
                F.abs(F.col("v") * F.lit(n) - F.lit(s)).alias("key"),
            )
            .orderBy(F.col("key").desc(), F.col("v").asc(), F.col("day").asc())
            .limit(1)
            .collect()[0]
        )
        out_rows.append((rnd, pick.day, pick.v, float(pick.z)))
        picked.append(pick.day)
    out = spark.createDataFrame(
        out_rows, "round int, day string, resid2 long, z double"
    )
    return out.select(
        "round", "day", "resid2", F.round("z", 6).alias("z")
    ).orderBy("round")


# Logistic approximation of the normal CDF (Bowling et al. 2009):
# Phi(z) ~= 1/(1+exp(-(0.07056 z^3 + 1.5976 z))), |error| < 1.4e-4 —
# literal constants, so the two-sided p = 2/(1+exp(0.07056|t|^3+1.5976|t|))
# is the same IEEE expression in both engines.
_PHI2_SQL = "2.0 / (1.0 + exp(0.07056 * {t} * {t} * {t} + 1.5976 * {t}))"


@query(
    "welch_bh",
    f"""
    WITH g AS (
        SELECT source, COUNT(*)::BIGINT AS n1, SUM(n_chars)::BIGINT AS s1,
               SUM((n_chars * n_chars)::HUGEINT) AS ss1
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT COUNT(*)::BIGINT AS n, SUM(n_chars)::BIGINT AS s,
               SUM((n_chars * n_chars)::HUGEINT) AS ss,
               COUNT(DISTINCT source)::BIGINT AS m
        FROM documents
    ),
    t AS (
        SELECT source, n1,
               ROUND(s1::DOUBLE / n1, 6) AS mean_chars,
               (s1::DOUBLE / n1 - (tot.s - s1)::DOUBLE / (tot.n - n1))
               / sqrt(((n1 * ss1 - s1 * s1)::DOUBLE / n1 / (n1 - 1)) / n1
                      + (((tot.n - n1) * (tot.ss - ss1)
                          - (tot.s - s1) * (tot.s - s1))::DOUBLE
                         / (tot.n - n1) / (tot.n - n1 - 1)) / (tot.n - n1))
                   AS t_stat,
               tot.m AS m
        FROM g CROSS JOIN tot
    ),
    p AS (
        SELECT source, n1, mean_chars, ROUND(t_stat, 6) AS t_stat,
               ROUND({_PHI2_SQL.format(t='abs(ROUND(t_stat, 6))')}, 6)
                   AS p_approx, m
        FROM t
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY p_approx ASC, source ASC)
                      ::BIGINT AS rnk
        FROM p
    ),
    k AS (
        SELECT COALESCE(MAX(CASE WHEN p_approx * m * 10 <= rnk THEN rnk END), 0)
                   AS kk
        FROM ranked
    )
    SELECT source, n1 AS n, mean_chars, t_stat, p_approx, rnk,
           (rnk <= (SELECT kk FROM k)) AS rejected
    FROM ranked
    """,
)
def welch_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Welch two-sample t (each source's doc length vs the
    REST of the corpus — complement moments by exact integer
    subtraction, no second scan) with Benjamini-Hochberg FDR control at
    q = 0.1 over the 20-test family — the parametric sibling of
    mann_whitney plus the multiple-testing step every fleet-wide screen
    needs (20 sources tested at α=0.05 yields ~1 false alarm; BH caps
    the false-discovery RATE instead).  The normal CDF uses the Bowling
    2009 logistic approximation (literal constants, same IEEE tree both
    engines); the BH step-up compares p·m·10 ≤ rank — exact rational
    threshold, no q/m division — on ROUNDED p with source tiebreaks.

    Scale: one groupBy(source) + one global aggregate; everything else
    on the |sources| frame."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    g = d.groupBy("source").agg(
        F.count("*").cast("long").alias("n1"),
        F.sum("n_chars").cast("long").alias("s1"),
        F.sum((F.col("n_chars") * F.col("n_chars")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("ss1"),
    )
    tot = d.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("n_chars").cast("long").alias("s"),
        F.sum((F.col("n_chars") * F.col("n_chars")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("ss"),
        F.countDistinct("source").cast("long").alias("m"),
    )
    j = g.crossJoin(F.broadcast(tot))
    n1, s1, ss1 = F.col("n1"), F.col("s1"), F.col("ss1")
    n2 = F.col("n") - n1
    s2 = F.col("s") - s1
    ss2 = (F.col("ss") - ss1).cast("decimal(38,0)")
    v1 = (n1 * ss1 - s1 * s1).cast("double") / n1 / (n1 - 1)
    v2 = (n2 * ss2 - s2 * s2).cast("double") / n2 / (n2 - 1)
    t_stat = (s1.cast("double") / n1 - s2.cast("double") / n2) / F.sqrt(
        v1 / n1 + v2 / n2
    )
    at = F.abs(F.round(t_stat, 6))
    p = F.round(2.0 / (1.0 + F.exp(0.07056 * at * at * at + 1.5976 * at)), 6)
    scored = j.select(
        "source",
        F.col("n1").alias("n"),
        F.round(s1.cast("double") / n1, 6).alias("mean_chars"),
        F.round(t_stat, 6).alias("t_stat"),
        p.alias("p_approx"),
        "m",
    )
    ranked = scored.withColumn(
        "rnk",
        F.row_number()
        .over(W.orderBy(F.col("p_approx").asc(), F.col("source").asc()))
        .cast("long"),
    )
    k = ranked.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("p_approx") * F.col("m") * 10 <= F.col("rnk"),
                    F.col("rnk"),
                )
            ),
            F.lit(0),
        ).alias("kk")
    )
    return ranked.crossJoin(F.broadcast(k)).select(
        "source", "n", "mean_chars", "t_stat", "p_approx", "rnk",
        (F.col("rnk") <= F.col("kk")).alias("rejected"),
    )


@query(
    "poisson_rate_test",
    f"""
    WITH c AS (
        SELECT SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n1,
               SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS n2
        FROM events
    )
    SELECT n1, n2,
           ROUND((n1 - n2) / sqrt((n1 + n2)::DOUBLE), 6) AS z,
           ROUND({_PHI2_SQL.format(t='abs((n1 - n2) / sqrt((n1 + n2)::DOUBLE))')}, 6)
               AS p_approx
    FROM c
    """,
)
def poisson_rate_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Poisson rate test (conditional/binomial form): are
    purchases and clicks arriving at the same rate over the same
    exposure window?  Given N = n₁+n₂, n₁ ~ Binomial(N, ½) under H₀, so
    z = (n₁−n₂)/√(n₁+n₂) — exact integer counts, one closed-form double,
    and the same logistic Φ approximation as welch_bh for the two-sided
    p.  One aggregate over the corpus; nothing shuffles but two longs."""
    e = load_table(spark, sf_dir, "events")
    c = e.agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("n2"),
    )
    z = (F.col("n1") - F.col("n2")) / F.sqrt((F.col("n1") + F.col("n2")).cast("double"))
    az = F.abs(z)
    return c.select(
        "n1", "n2",
        F.round(z, 6).alias("z"),
        F.round(2.0 / (1.0 + F.exp(0.07056 * az * az * az + 1.5976 * az)), 6)
        .alias("p_approx"),
    )


@query(
    "cuped_adjustment",
    """
    WITH bounds AS (
        SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1
        FROM events
    ),
    u AS (
        SELECT user_id,
               (('0x' || substr(md5('cuped:' || user_id::VARCHAR), 1, 8))::BIGINT
                % 2 = 0) AS treated,
               SUM(CASE WHEN CAST(ts AS DATE) - (SELECT d0 FROM bounds)
                             < ((SELECT d1 FROM bounds) - (SELECT d0 FROM bounds) + 1) // 2
                        THEN FLOOR(value * 100.0 + 0.5)::BIGINT ELSE 0 END)::BIGINT AS x,
               SUM(CASE WHEN CAST(ts AS DATE) - (SELECT d0 FROM bounds)
                             >= ((SELECT d1 FROM bounds) - (SELECT d0 FROM bounds) + 1) // 2
                        THEN FLOOR(value * 100.0 + 0.5)::BIGINT ELSE 0 END)::BIGINT AS y
        FROM events GROUP BY user_id
    ),
    mom AS (
        SELECT COUNT(*)::BIGINT AS n, SUM(x)::BIGINT AS sx, SUM(y)::BIGINT AS sy,
               SUM((x * y)::HUGEINT) AS sxy, SUM((x * x)::HUGEINT) AS sxx
        FROM u
    ),
    th AS (
        SELECT (n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE AS theta,
               sx::DOUBLE / n AS mx
        FROM mom
    ),
    adj AS (
        SELECT treated, COUNT(*)::BIGINT AS n_g,
               list_reduce(list_prepend(0.0,
                   list(y - th.theta * (x - th.mx) ORDER BY user_id)),
                   (a, v) -> a + v) AS s_adj,
               SUM(y)::BIGINT AS s_raw
        FROM u, th GROUP BY treated
    )
    SELECT t.n_g AS n_treated, c.n_g AS n_control,
           ROUND((t.s_raw::DOUBLE / t.n_g - c.s_raw::DOUBLE / c.n_g) / 100.0, 6)
               AS raw_effect,
           ROUND((t.s_adj / t.n_g - c.s_adj / c.n_g) / 100.0, 6)
               AS cuped_effect,
           ROUND((SELECT theta FROM th), 6) AS theta
    FROM (SELECT * FROM adj WHERE treated) t,
         (SELECT * FROM adj WHERE NOT treated) c
    """,
)
def cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013) for the md5-coin A/B
    split: per-user PRE-period spend is the covariate, POST-period spend
    the metric, θ = cov(x,y)/var(x) from exact decimal-38/HUGEINT
    moments, adjusted metric ỹ = y − θ(x − x̄) — the standard trick that
    cuts experiment variance by the covariate's R².  The adjusted-sum
    fold is user_id-ORDERED in both engines (θ·(x−x̄) is float, so the
    per-group sum must not depend on aggregation order); raw effect uses
    integer sums only.  Complements diff_in_diff (same midpoint split,
    observational form) and ab_test_zscore.

    Scale: one groupBy(user_id) corpus collapse, one moment aggregate,
    one bounded two-group fold."""
    from fusionspark.operators.dedup import md5_hash32

    e = load_table(spark, sf_dir, "events")
    b = e.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    ).collect()[0]
    half = (b.d1 - b.d0).days + 1
    cents = F.floor(F.col("value") * 100.0 + 0.5).cast("long")
    pre = F.datediff(F.to_date("ts"), F.lit(b.d0)) < half // 2
    u = (
        e.groupBy("user_id")
        .agg(
            F.sum(F.when(pre, cents).otherwise(0)).cast("long").alias("x"),
            F.sum(F.when(~pre, cents).otherwise(0)).cast("long").alias("y"),
        )
        .select(
            "user_id", "x", "y",
            (md5_hash32(F.concat(F.lit("cuped:"), F.col("user_id").cast("string")))
             % 2 == 0).alias("treated"),
        )
        .localCheckpoint(eager=True)
    )
    mom = u.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sxx"),
    )
    th = mom.select(
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        ).alias("theta"),
        (F.col("sx").cast("double") / F.col("n")).alias("mx"),
    )
    adj = (
        u.crossJoin(F.broadcast(th))
        .groupBy("treated")
        .agg(
            F.count("*").cast("long").alias("n_g"),
            F.aggregate(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "user_id",
                                (
                                    F.col("y")
                                    - F.col("theta") * (F.col("x") - F.col("mx"))
                                ).alias("v"),
                            )
                        )
                    ),
                    lambda s: s["v"],
                ),
                F.lit(0.0),
                lambda a, v: a + v,
            ).alias("s_adj"),
            F.sum("y").cast("long").alias("s_raw"),
        )
    )
    t = adj.filter(F.col("treated")).select(
        F.col("n_g").alias("n_treated"),
        F.col("s_adj").alias("sa_t"),
        F.col("s_raw").alias("sr_t"),
    )
    c = adj.filter(~F.col("treated")).select(
        F.col("n_g").alias("n_control"),
        F.col("s_adj").alias("sa_c"),
        F.col("s_raw").alias("sr_c"),
    )
    return (
        t.crossJoin(c)
        .crossJoin(F.broadcast(th))
        .select(
            "n_treated", "n_control",
            F.round(
                (
                    F.col("sr_t").cast("double") / F.col("n_treated")
                    - F.col("sr_c").cast("double") / F.col("n_control")
                )
                / 100.0,
                6,
            ).alias("raw_effect"),
            F.round(
                (
                    F.col("sa_t") / F.col("n_treated")
                    - F.col("sa_c") / F.col("n_control")
                )
                / 100.0,
                6,
            ).alias("cuped_effect"),
            F.round("theta", 6).alias("theta"),
        )
    )


@query(
    "simpson_diversity",
    """
    WITH wc AS (
        SELECT source, w.w AS word, COUNT(*)::BIGINT AS c
        FROM (SELECT source,
                     list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
              FROM documents) d,
             unnest(d.ws) AS w(w)
        GROUP BY source, w.w
    ),
    s AS (
        SELECT source, SUM((c * (c - 1))::HUGEINT) AS lam_num,
               SUM(c)::BIGINT AS n, COUNT(*)::BIGINT AS n_types
        FROM wc GROUP BY source
    )
    SELECT source, n, n_types,
           ROUND(lam_num::DOUBLE / (n::DOUBLE * (n - 1)), 6) AS simpson_lambda,
           ROUND(1.0 - lam_num::DOUBLE / (n::DOUBLE * (n - 1)), 6)
               AS simpson_diversity,
           ROUND((n::DOUBLE * (n - 1)) / lam_num::DOUBLE, 6) AS inv_simpson
    FROM s
    """,
)
def simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's diversity of each source's word distribution — the
    UNBIASED small-sample form λ = Σ nᵢ(nᵢ−1)/(N(N−1)) (the probability
    two tokens drawn without replacement are the same word), with 1−λ
    (Gini-Simpson) and the inverse-Simpson effective vocabulary size.
    Completes the lexical-diversity panel: zipf_fit (law), heaps_law
    (growth), vocab_gini (inequality), ngram_diversity (n-gram types) —
    Simpson is the one that is EXACTLY rational (integer numerator and
    denominator; the three displays are the only doubles).

    Scale: one token explode → one (source, word) groupBy with map-side
    combine; the diversity arithmetic runs on the per-source frame."""
    d = load_table(spark, sf_dir, "documents")
    wc = (
        d.select(
            "source",
            F.explode(
                F.filter(F.split(F.lower("text"), " "), lambda w: w != "")
            ).alias("word"),
        )
        .groupBy("source", "word")
        .agg(F.count("*").cast("long").alias("c"))
    )
    s = wc.groupBy("source").agg(
        F.sum((F.col("c") * (F.col("c") - 1)).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("lam_num"),
        F.sum("c").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_types"),
    )
    lam = F.col("lam_num").cast("double") / (
        F.col("n").cast("double") * (F.col("n") - 1)
    )
    return s.select(
        "source", "n", "n_types",
        F.round(lam, 6).alias("simpson_lambda"),
        F.round(1.0 - lam, 6).alias("simpson_diversity"),
        F.round(
            (F.col("n").cast("double") * (F.col("n") - 1))
            / F.col("lam_num").cast("double"),
            6,
        ).alias("inv_simpson"),
    )


@query(
    "sprt_monitor",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS x,
               SUM(CASE WHEN event_type IN ('purchase', 'click') THEN 1 ELSE 0 END)::BIGINT AS n
        FROM events GROUP BY 1
    ),
    walked AS (
        SELECT strftime(day, '%Y-%m-%d') AS day,
               SUM(x) OVER (ORDER BY day)::BIGINT AS cx,
               SUM(n - x) OVER (ORDER BY day)::BIGINT AS cnx
        FROM daily
    ),
    llr AS (
        SELECT day, cx, cnx,
               ROUND(cx * ln(1.125) + cnx * ln(0.875), 6) AS llr
        FROM walked
    )
    SELECT day, cx AS conversions, cnx AS non_conversions, llr,
           CASE WHEN llr >= ROUND(ln(19.0), 6) THEN 'accept_h1'
                WHEN llr <= ROUND(ln(1.0 / 19.0), 6) THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM llr
    """,
)
def sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's sequential probability ratio test over the daily purchase
    share of purchase+click traffic — the ALWAYS-VALID monitor that lets
    an experiment stop the day the evidence crosses a boundary instead
    of waiting for a fixed horizon (peeking at a z-test inflates α;
    SPRT's boundaries ln(19), ln(1/19) give α=β=0.05 at H₀ p=1/2 vs H₁
    p=9/16).  The hypotheses are EXACT BINARY FRACTIONS so the two
    likelihood ratios are the exact doubles 1.125 and 0.875 in both
    engines (a 0.55/0.5 formulation would hit the DuckDB decimal-literal
    ulp trap); llr_t = cx_t·ln(1.125) + cnx_t·ln(0.875) with cx/cnx
    exact cumulative counts — one multiply-add per day, identical IEEE
    tree both engines; the boundary compare is ROUNDED-vs-ROUNDED.

    Scale: one groupBy(day) corpus collapse; the cumulative walk runs on
    the bounded frame.  The streaming twin is the same plan under a
    tumbling-window readStream."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(
            F.when(F.col("event_type").isin("purchase", "click"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n"),
    )
    w = W.orderBy("day")
    walked = daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.sum("x").over(w).cast("long").alias("cx"),
        F.sum(F.col("n") - F.col("x")).over(w).cast("long").alias("cnx"),
    )
    llr = F.round(
        F.col("cx") * F.log(F.lit(1.125)) + F.col("cnx") * F.log(F.lit(0.875)),
        6,
    )
    hi = F.round(F.log(F.lit(19.0)), 6)
    lo = F.round(F.log(F.lit(1.0) / 19.0), 6)
    return walked.select(
        "day",
        F.col("cx").alias("conversions"),
        F.col("cnx").alias("non_conversions"),
        llr.alias("llr"),
    ).withColumn(
        "decision",
        F.when(F.col("llr") >= hi, "accept_h1")
        .when(F.col("llr") <= lo, "accept_h0")
        .otherwise("continue"),
    )


@query(
    "hill_tail_index",
    """
    WITH topk AS (
        SELECT n_chars AS x,
               ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id ASC) AS i
        FROM documents
        QUALIFY i <= 100
    ),
    xk AS (SELECT x AS xk FROM topk WHERE i = 100),
    folded AS (
        SELECT list_reduce(list_prepend(0.0,
                   list(ln(x::DOUBLE / (SELECT xk FROM xk)) ORDER BY i)),
                   (a, v) -> a + v) AS s
        FROM topk WHERE i < 100
    )
    SELECT 100::BIGINT AS k,
           (SELECT xk FROM xk)::BIGINT AS x_k,
           ROUND(folded.s / 99.0, 6) AS alpha_inv,
           ROUND(99.0 / folded.s, 6) AS alpha
    FROM folded
    """,
)
def hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the doc-length tail index (Hill 1975) — the
    heavy-tail diagnosis beside zipf_fit's rank law: α̂⁻¹ = mean of
    ln(x_i/x_k) over the k−1 largest order statistics above the k-th.
    α < 2 means infinite variance (plan reservoir/quantile ops
    accordingly); the corpus's partition-size planning reads this.  The
    top-k cut is exact-integer (value DESC, id ASC ranks); each log term
    divides the same two integers in both engines; the sum is a
    rank-ORDERED IEEE fold.

    Scale: one TakeOrdered(k) — k rows cross partitions; the fold is on
    the bounded top-k frame."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    topk = (
        d.select(
            F.col("n_chars").alias("x"),
            F.row_number()
            .over(W.orderBy(F.col("n_chars").desc(), F.col("doc_id").asc()))
            .alias("i"),
        )
        .filter(F.col("i") <= 100)
        .localCheckpoint(eager=True)
    )
    xk = topk.filter(F.col("i") == 100).select(F.col("x").alias("xk"))
    folded = (
        topk.filter(F.col("i") < 100)
        .crossJoin(F.broadcast(xk))
        .agg(
            F.aggregate(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "i",
                                F.log(
                                    F.col("x").cast("double") / F.col("xk")
                                ).alias("v"),
                            )
                        )
                    ),
                    lambda s: s["v"],
                ),
                F.lit(0.0),
                lambda a, v: a + v,
            ).alias("s")
        )
    )
    return folded.crossJoin(F.broadcast(xk)).select(
        F.lit(100).cast("long").alias("k"),
        F.col("xk").cast("long").alias("x_k"),
        F.round(F.col("s") / 99.0, 6).alias("alpha_inv"),
        F.round(99.0 / F.col("s"), 6).alias("alpha"),
    )


@query(
    "mad_by_type",
    """
    WITH v AS (
        SELECT event_type, FLOOR(value * 100.0 + 0.5)::BIGINT AS x
        FROM events
    ),
    med AS (
        SELECT event_type,
               (SELECT x FROM (SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS r,
                                      COUNT(*) OVER () AS m
                               FROM v i WHERE i.event_type = o.event_type)
                WHERE r = (m + 1) // 2)
             + (SELECT x FROM (SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS r,
                                      COUNT(*) OVER () AS m
                               FROM v i WHERE i.event_type = o.event_type)
                WHERE r = (m + 2) // 2) AS med2
        FROM (SELECT DISTINCT event_type FROM v) o
    ),
    dev AS (
        SELECT v.event_type, abs(2 * v.x - m.med2)::BIGINT AS d
        FROM v JOIN med m ON m.event_type = v.event_type
    ),
    mad AS (
        SELECT event_type,
               (SELECT d FROM (SELECT d, ROW_NUMBER() OVER (ORDER BY d) AS r,
                                      COUNT(*) OVER () AS m
                               FROM dev i WHERE i.event_type = o.event_type)
                WHERE r = (m + 1) // 2)
             + (SELECT d FROM (SELECT d, ROW_NUMBER() OVER (ORDER BY d) AS r,
                                      COUNT(*) OVER () AS m
                               FROM dev i WHERE i.event_type = o.event_type)
                WHERE r = (m + 2) // 2) AS mad4
        FROM (SELECT DISTINCT event_type FROM dev) o
    )
    SELECT m.event_type,
           ROUND(m.med2 / 2.0 / 100.0, 6) AS median_value,
           ROUND(d.mad4 / 4.0 / 100.0, 6) AS mad_value,
           ROUND(d.mad4 / 4.0 / 100.0 * 1.4826, 6) AS sigma_robust
    FROM med m JOIN mad d ON d.event_type = m.event_type
    """,
)
def mad_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type median and MAD, EXACT: both medians are sums of
    the two middle order statistics (med2 = 2·median of cents; the
    deviation median runs on the integer |2x − med2|, so mad4 = 4·MAD·100
    stays integer until the two display divisions).  σ ≈ 1.4826·MAD is
    the robust scale every outlier screen consumes (ts_anomalies uses
    the global form; this is the per-group table).

    Scale: two rank windows PARTITIONED BY type (parallel across groups;
    the skew bound is the largest group, the same bound any per-group
    order statistic has)."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    v = e.select(
        "event_type", F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("x")
    )

    def med2_of(df, col, out):
        ww = W.partitionBy("event_type").orderBy(col)
        ranked = df.select(
            "event_type", F.col(col),
            F.row_number().over(ww).cast("long").alias("r"),
            F.count("*").over(W.partitionBy("event_type")).cast("long").alias("m"),
        )
        m1 = ranked.filter(F.col("r") == F.floor((F.col("m") + 1) / 2)).select(
            "event_type", F.col(col).alias("a")
        )
        m2 = ranked.filter(F.col("r") == F.floor((F.col("m") + 2) / 2)).select(
            "event_type", F.col(col).alias("b")
        )
        return m1.join(m2, "event_type").select(
            "event_type", (F.col("a") + F.col("b")).cast("long").alias(out)
        )

    med = med2_of(v, "x", "med2")
    dev = v.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(2 * F.col("x") - F.col("med2")).cast("long").alias("d")
    )
    mad = med2_of(dev, "d", "mad4")
    return med.join(mad, "event_type").select(
        "event_type",
        F.round(F.col("med2") / 2.0 / 100.0, 6).alias("median_value"),
        F.round(F.col("mad4") / 4.0 / 100.0, 6).alias("mad_value"),
        F.round(F.col("mad4") / 4.0 / 100.0 * 1.4826, 6).alias("sigma_robust"),
    )


@query(
    "theil_index",
    """
    WITH rev AS (
        SELECT user_id,
               SUM(CASE WHEN event_type = 'purchase'
                        THEN floor(value * 1e6)::BIGINT ELSE 0 END)::BIGINT AS x
        FROM events GROUP BY user_id
    ),
    pos AS (SELECT user_id, x FROM rev WHERE x > 0),
    tot AS (SELECT COUNT(*)::BIGINT AS n, SUM(x)::BIGINT AS s FROM pos),
    folded AS (
        SELECT list_reduce(list_prepend(0.0,
                   list((x::DOUBLE * tot.n / tot.s)
                        * ln(x::DOUBLE * tot.n / tot.s) ORDER BY user_id)),
                   (a, v) -> a + v) AS t_sum,
               MAX(tot.n)::BIGINT AS n
        FROM pos, tot
    )
    SELECT n AS n_users, ROUND(t_sum / n, 6) AS theil_t,
           ROUND(1.0 - exp(-t_sum / n), 6) AS atkinson1
    FROM folded
    """,
)
def theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of per-user purchase revenue — the
    entropy-based member of the inequality panel (revenue_gini measures
    rank concentration; Theil is DECOMPOSABLE across subgroups, which a
    per-segment rollup exploits), with Atkinson(ε=1) = 1 − e^{−T} as the
    welfare reading.  Each term (x/μ)·ln(x/μ) uses x·n/S — a ratio of
    exact integers, so both engines feed ln the same double — and the
    sum is a user-ORDERED IEEE fold; zero-revenue users are excluded
    (the standard treatment: x·ln x → 0 but the index is defined on
    positive incomes).

    Scale: one groupBy(user) corpus collapse, one bounded fold."""
    e = load_table(spark, sf_dir, "events")
    rev = e.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.floor(F.col("value") * 1e6).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("x")
    )
    pos = rev.filter(F.col("x") > 0)
    tot = pos.agg(
        F.count("*").cast("long").alias("n"), F.sum("x").cast("long").alias("s")
    )
    term = (F.col("x").cast("double") * F.col("n") / F.col("s")) * F.log(
        F.col("x").cast("double") * F.col("n") / F.col("s")
    )
    folded = (
        pos.crossJoin(F.broadcast(tot))
        .agg(
            F.aggregate(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("user_id", term.alias("v")))
                    ),
                    lambda st: st["v"],
                ),
                F.lit(0.0),
                lambda a, v: a + v,
            ).alias("t_sum"),
            F.max("n").cast("long").alias("n"),
        )
    )
    return folded.select(
        F.col("n").alias("n_users"),
        F.round(F.col("t_sum") / F.col("n"), 6).alias("theil_t"),
        F.round(1.0 - F.exp(-F.col("t_sum") / F.col("n")), 6).alias("atkinson1"),
    )


# ---------------------------------------------------------------------------
# Round 11: experimentation / survival / causal completions
# ---------------------------------------------------------------------------


@query(
    "logrank_test",
    """
    WITH c AS (
        SELECT o_custkey, o_custkey % 2 AS g,
               MIN(CAST(o_orderdate AS DATE)) AS t0,
               MAX(CAST(o_orderdate AS DATE)) AS t1
        FROM orders GROUP BY 1, 2
    ),
    hz AS (SELECT MAX(t1) AS h FROM c),
    cd AS (
        SELECT g, date_diff('day', t0, t1)::BIGINT AS t,
               CASE WHEN date_diff('day', t1, (SELECT h FROM hz)) > 90
                    THEN 1 ELSE 0 END::BIGINT AS ev
        FROM c
    ),
    tl AS (
        SELECT t,
               SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END)::BIGINT AS m0,
               SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END)::BIGINT AS m1,
               SUM(CASE WHEN g = 0 THEN ev ELSE 0 END)::BIGINT AS d0,
               SUM(CASE WHEN g = 1 THEN ev ELSE 0 END)::BIGINT AS d1
        FROM cd GROUP BY t
    ),
    risk AS (
        SELECT t, d0, d1,
               (SELECT SUM(m0) FROM tl)::BIGINT
                 - (SUM(m0) OVER (ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - m0)::BIGINT AS n0,
               (SELECT SUM(m1) FROM tl)::BIGINT
                 - (SUM(m1) OVER (ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - m1)::BIGINT AS n1
        FROM tl
    ),
    ev AS (
        SELECT t, d0, d1, n0, n1, d0 + d1 AS d, n0 + n1 AS n
        FROM risk WHERE d0 + d1 > 0 AND n0 + n1 > 1
    ),
    folded AS (
        SELECT SUM(d1)::BIGINT AS o1,
               list_reduce(list_prepend([0.0, 0.0],
                   list([(d * n1)::DOUBLE / n,
                         (d * n1 * n0 * (n - d))::DOUBLE
                           / (n * n * (n - 1))] ORDER BY t)),
                   (a, x) -> [a[1] + x[1], a[2] + x[2]]) AS s
        FROM ev
    ),
    sizes AS (
        SELECT SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END)::BIGINT AS n0_total,
               SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END)::BIGINT AS n1_total
        FROM cd
    )
    SELECT sizes.n0_total, sizes.n1_total, folded.o1,
           ROUND(folded.s[1], 6) AS e1,
           ROUND(folded.s[2], 6) AS var1,
           CASE WHEN folded.s[2] > 0.0
                THEN ROUND((folded.o1 - folded.s[1]) / sqrt(folded.s[2]), 6)
           END AS z
    FROM folded, sizes
    """,
)
def logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank (Mantel-Cox) two-group survival comparison — completes the
    survival family begun by survival_km: customers split by key parity,
    duration = first→last order span, churn event = last order > 90 days
    before the corpus horizon.  At each event time t the test compares
    observed group-1 events d1_t against the hypergeometric expectation
    d_t·n1_t/n_t and variance d_t·n1_t·n0_t·(n_t−d_t)/(n_t²·(n_t−1));
    z = (O1 − E1)/√V is the curve-separation readout A/B survival
    analyses (retention experiments) run on.

    Parity: every per-time term is ONE correctly-rounded division of two
    exact BIGINT products (no intermediate float arithmetic — IEEE
    division of exact integers is deterministic, unlike libm), the
    at-risk counts come from integer reverse-cumulative windows, and E1/V
    are t-ASC ordered folds (survival_km discipline).  sqrt is
    IEEE-correctly-rounded, so z is bit-identical given identical (O1,
    E1, V).

    Scale: the corpus collapses to per-customer (min, max) with map-side
    combine, then to the bounded per-day timeline (≤ calendar span rows);
    the windows and folds run on the timeline only — the single-partition
    window is over thousands of rows at ANY corpus size."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    c = o.groupBy("o_custkey").agg(
        F.min(F.to_date("o_orderdate")).alias("t0"),
        F.max(F.to_date("o_orderdate")).alias("t1"),
    ).select((F.col("o_custkey") % 2).alias("g"), "t0", "t1")
    hz = c.agg(F.max("t1").alias("h"))
    cd = c.crossJoin(F.broadcast(hz)).select(
        "g",
        F.datediff("t1", "t0").cast("long").alias("t"),
        F.when(F.datediff("h", "t1") > 90, F.lit(1)).otherwise(F.lit(0))
        .cast("long").alias("ev"),
    )
    tl = cd.groupBy("t").agg(
        F.sum(F.when(F.col("g") == 0, 1).otherwise(0)).cast("long").alias("m0"),
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).cast("long").alias("m1"),
        F.sum(F.when(F.col("g") == 0, F.col("ev")).otherwise(0)).cast("long").alias("d0"),
        F.sum(F.when(F.col("g") == 1, F.col("ev")).otherwise(0)).cast("long").alias("d1"),
    )
    wcum = W.orderBy("t").rowsBetween(W.unboundedPreceding, W.currentRow)
    wall = W.orderBy("t").rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    risk = tl.select(
        "t", "d0", "d1",
        (F.sum("m0").over(wall) - (F.sum("m0").over(wcum) - F.col("m0")))
        .cast("long").alias("n0"),
        (F.sum("m1").over(wall) - (F.sum("m1").over(wcum) - F.col("m1")))
        .cast("long").alias("n1"),
    )
    ev = risk.withColumn("d", F.col("d0") + F.col("d1")).withColumn(
        "n", F.col("n0") + F.col("n1")
    ).filter((F.col("d") > 0) & (F.col("n") > 1))
    e1_t = (F.col("d") * F.col("n1")).cast("double") / F.col("n")
    v_t = (
        F.col("d") * F.col("n1") * F.col("n0") * (F.col("n") - F.col("d"))
    ).cast("double") / (F.col("n") * F.col("n") * (F.col("n") - 1))
    folded = ev.agg(
        F.sum("d1").cast("long").alias("o1"),
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("t", e1_t.alias("e"), v_t.alias("v"))
                    )
                ),
                lambda s: F.array(s["e"], s["v"]),
            ),
            F.array(F.lit(0.0), F.lit(0.0)),
            lambda a, x: F.array(
                F.element_at(a, 1) + F.element_at(x, 1),
                F.element_at(a, 2) + F.element_at(x, 2),
            ),
        ).alias("s"),
    )
    sizes = cd.agg(
        F.sum(F.when(F.col("g") == 0, 1).otherwise(0)).cast("long").alias("n0_total"),
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).cast("long").alias("n1_total"),
    )
    return folded.crossJoin(F.broadcast(sizes)).select(
        "n0_total", "n1_total", "o1",
        F.round(F.element_at("s", 1), 6).alias("e1"),
        F.round(F.element_at("s", 2), 6).alias("var1"),
        F.when(
            F.element_at("s", 2) > 0.0,
            F.round(
                (F.col("o1") - F.element_at("s", 1))
                / F.sqrt(F.element_at("s", 2)),
                6,
            ),
        ).alias("z"),
    )


# z-quantiles for ab_power_mde as exact integer ratios: both engines parse
# the integer literals exactly and IEEE division is correctly rounded, so
# the constants are bit-identical (the DuckDB decimal-literal 1-ulp trap
# from COVERAGE.md §cross-SF does not apply to INT/INT division).
# z_{0.975} and z_{0.80} to 16 significant digits.
_Z_ALPHA_NUM = 1959963984540054  # / 1e15 = 1.959963984540054
_Z_BETA_NUM = 841621233572914  # / 1e15 = 0.841621233572914
_Z_DEN = 10**15


@query(
    "ab_power_mde",
    f"""
    WITH assign AS (
        SELECT user_id, user_id % 2 AS variant,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted
        FROM events GROUP BY user_id
    ),
    wide AS (
        SELECT
            SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
            SUM(CASE WHEN variant = 0 THEN converted ELSE 0 END)::BIGINT AS c0,
            SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
            SUM(CASE WHEN variant = 1 THEN converted ELSE 0 END)::BIGINT AS c1
        FROM assign
    )
    SELECT n0, c0, n1, c1,
           ROUND((c0 + c1)::DOUBLE / (n0 + n1), 6) AS p_pool,
           ROUND(({_Z_ALPHA_NUM}::DOUBLE / {_Z_DEN}
                  + {_Z_BETA_NUM}::DOUBLE / {_Z_DEN})
                 * sqrt(((c0 + c1)::DOUBLE / (n0 + n1))
                        * (1.0::DOUBLE - (c0 + c1)::DOUBLE / (n0 + n1))
                        * (1.0::DOUBLE / n0 + 1.0::DOUBLE / n1)), 6)
               AS mde_abs
    FROM wide
    """,
)
def ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect of the running experiment — the power
    companion to ab_test_zscore's readout: at alpha=0.05 (two-sided) and
    power 0.80, the smallest absolute conversion-rate lift this sample
    can reliably detect is (z_{{0.975}} + z_{{0.80}}) · sqrt(p̄(1−p̄)(1/n0 +
    1/n1)).  Pipelines gate launch decisions on MDE-vs-observed-lift, not
    on the z alone (an insignificant z with MDE >> the business-relevant
    lift means "underpowered", not "no effect").

    Parity: the z quantiles are INT/INT divisions (bit-identical on both
    engines — decimal literals are not, COVERAGE.md cross-SF notes); all
    other inputs are four exact BIGINTs; sqrt is IEEE-correctly-rounded;
    the expression tree is written in the same operation order in both
    engines.  Scale: one per-user collapse + one 4-integer aggregate."""
    e = load_table(spark, sf_dir, "events")
    assign = e.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("converted")
    ).select((F.col("user_id") % 2).alias("variant"), "converted")
    wide = assign.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).cast("long").alias("n0"),
        F.sum(F.when(F.col("variant") == 0, F.col("converted")).otherwise(0)).cast("long").alias("c0"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("variant") == 1, F.col("converted")).otherwise(0)).cast("long").alias("c1"),
    )
    pp = (F.col("c0") + F.col("c1")).cast("double") / (F.col("n0") + F.col("n1"))
    zsum = (
        F.lit(_Z_ALPHA_NUM).cast("double") / F.lit(_Z_DEN)
        + F.lit(_Z_BETA_NUM).cast("double") / F.lit(_Z_DEN)
    )
    mde = zsum * F.sqrt(
        pp * (F.lit(1.0) - pp)
        * (F.lit(1.0) / F.col("n0") + F.lit(1.0) / F.col("n1"))
    )
    return wide.select(
        "n0", "c0", "n1", "c1",
        F.round(pp, 6).alias("p_pool"),
        F.round(mde, 6).alias("mde_abs"),
    )


@query(
    "post_strat_ate",
    """
    WITH u AS (
        SELECT c_custkey, seg, w,
               2000 * (ascii(substr(seg, 1, 1)) % 5) + c_custkey % 1000
                 + w * (1000 + (c_custkey % 7) * 50) AS y
        FROM (
            SELECT c_custkey, c_mktsegment AS seg,
                   CASE WHEN ('0x' || substr(md5('ate:' || c_custkey::VARCHAR),
                                             1, 8))::BIGINT % 100
                             < 30 + 10 * (ascii(substr(c_mktsegment, 1, 1)) % 5)
                        THEN 1 ELSE 0 END AS w
            FROM customer
        )
    ),
    strata AS (
        SELECT seg,
               SUM(w)::BIGINT AS n1,
               SUM(1 - w)::BIGINT AS n0,
               SUM(CASE WHEN w = 1 THEN y ELSE 0 END)::BIGINT AS s1,
               SUM(CASE WHEN w = 0 THEN y ELSE 0 END)::BIGINT AS s0
        FROM u GROUP BY seg
    ),
    keep AS (SELECT * FROM strata WHERE n1 > 0 AND n0 > 0),
    tot AS (
        SELECT SUM(n1 + n0)::BIGINT AS n,
               SUM(n1)::BIGINT AS nt, SUM(n0)::BIGINT AS nc,
               SUM(s1)::BIGINT AS st, SUM(s0)::BIGINT AS sc,
               COUNT(*)::BIGINT AS n_strata
        FROM keep
    ),
    folded AS (
        SELECT list_reduce(list_prepend(0.0,
                   list(((n1 + n0)::DOUBLE / (SELECT n FROM tot))
                        * (s1::DOUBLE / n1 - s0::DOUBLE / n0)
                        ORDER BY seg)),
                   (a, x) -> a + x) AS ate
        FROM keep
    )
    SELECT tot.nt AS n_treat, tot.nc AS n_ctrl, tot.n_strata,
           ROUND(folded.ate / 100.0, 6) AS ate,
           ROUND((tot.st::DOUBLE / tot.nt - tot.sc::DOUBLE / tot.nc)
                 / 100.0, 6) AS naive_diff
    FROM folded, tot
    """,
)
def post_strat_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-stratification average-treatment-effect estimator — completes
    the causal family (diff_in_diff's panel form, propensity_match's
    nearest-control form, cuped_adjustment's variance reduction).  The
    derived corpus plants a REAL confound: treatment probability varies
    BY STRATUM (30%–70%, md5 coin against a segment-dependent threshold)
    and the outcome baseline also varies by stratum (2000·segcode cents),
    so the naive treated-vs-control difference absorbs the baseline
    imbalance while the stratified estimator Σ_s (n_s/N)(ȳ₁s − ȳ₀s)
    removes it and recovers the planted lift 1000 + 50·(key mod 7) cents
    (estimand ≈ $11.50; the pytest asserts recovery AND that the naive
    diff is biased away from it).

    Parity: all outcomes are exact integer cents (fully derived — no
    float input anywhere); per-stratum means are single divisions of
    exact BIGINT sums; the stratum fold is seg-ASC ordered; strata with
    an empty arm are excluded by an integer gate.  Scale: one
    groupBy(seg) — the stratum frame is |segments| rows at any corpus
    size; nothing else shuffles."""
    from fusionspark.operators.dedup import md5_hash32

    c = load_table(spark, sf_dir, "customer")
    segcode = F.ascii(F.substring("c_mktsegment", 1, 1)) % 5
    w = F.when(
        md5_hash32(F.concat(F.lit("ate:"), F.col("c_custkey").cast("string")))
        % 100
        < 30 + 10 * segcode,
        F.lit(1),
    ).otherwise(F.lit(0))
    y = (
        2000 * segcode.cast("long")
        + F.col("c_custkey") % 1000
        + w * (F.lit(1000) + (F.col("c_custkey") % 7) * 50)
    )
    u = c.select(F.col("c_mktsegment").alias("seg"), w.alias("w"), y.alias("y"))
    strata = u.groupBy("seg").agg(
        F.sum("w").cast("long").alias("n1"),
        F.sum(1 - F.col("w")).cast("long").alias("n0"),
        F.sum(F.when(F.col("w") == 1, F.col("y")).otherwise(0)).cast("long").alias("s1"),
        F.sum(F.when(F.col("w") == 0, F.col("y")).otherwise(0)).cast("long").alias("s0"),
    ).filter((F.col("n1") > 0) & (F.col("n0") > 0))
    tot = strata.agg(
        F.sum(F.col("n1") + F.col("n0")).cast("long").alias("n"),
        F.sum("n1").cast("long").alias("nt"),
        F.sum("n0").cast("long").alias("nc"),
        F.sum("s1").cast("long").alias("st"),
        F.sum("s0").cast("long").alias("sc"),
        F.count("*").cast("long").alias("n_strata"),
    )
    term = (
        (F.col("n1") + F.col("n0")).cast("double") / F.col("n")
    ) * (
        F.col("s1").cast("double") / F.col("n1")
        - F.col("s0").cast("double") / F.col("n0")
    )
    folded = strata.crossJoin(F.broadcast(tot)).agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg", term.alias("v")))),
                lambda s: s["v"],
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("ate"),
        F.max("nt").cast("long").alias("n_treat"),
        F.max("nc").cast("long").alias("n_ctrl"),
        F.max("n_strata").cast("long").alias("n_strata"),
        F.max("st").cast("long").alias("st"),
        F.max("sc").cast("long").alias("sc"),
    )
    return folded.select(
        "n_treat", "n_ctrl", "n_strata",
        F.round(F.col("ate") / 100.0, 6).alias("ate"),
        F.round(
            (
                F.col("st").cast("double") / F.col("n_treat")
                - F.col("sc").cast("double") / F.col("n_ctrl")
            )
            / 100.0,
            6,
        ).alias("naive_diff"),
    )


@query(
    "conformal_interval",
    """
    WITH d AS (
        SELECT doc_id,
               n_chars AS y,
               6 * (length(text) - length(replace(text, ' ', ''))) + 20 AS yhat,
               ('0x' || substr(md5('conf:' || doc_id::VARCHAR), 1, 8))::BIGINT
                 % 2 AS grp
        FROM documents
    ),
    r AS (SELECT doc_id, grp, abs(y - yhat)::BIGINT AS resid FROM d),
    cal AS (
        SELECT resid,
               ROW_NUMBER() OVER (ORDER BY resid, doc_id) AS rk,
               COUNT(*) OVER () AS n_cal
        FROM r WHERE grp = 0
    ),
    q AS (
        SELECT n_cal, resid AS qhat FROM cal
        WHERE rk = LEAST((19 * (n_cal + 1) + 19) // 20, n_cal)
    ),
    test AS (
        SELECT COUNT(*)::BIGINT AS n_test,
               SUM(CASE WHEN resid <= (SELECT qhat FROM q)
                        THEN 1 ELSE 0 END)::BIGINT AS covered
        FROM r WHERE grp = 1
    )
    SELECT q.n_cal::BIGINT AS n_cal, test.n_test, q.qhat::BIGINT AS qhat,
           ROUND(test.covered::DOUBLE / test.n_test, 6) AS coverage
    FROM q, test
    """,
)
def conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval — the distribution-free
    calibration layer a model-serving pipeline wraps around ANY point
    predictor: a fixed linear rule ŷ = 6·spaces + 20 predicts doc length,
    the md5-coin calibration half supplies the (1−α)(n+1)/n empirical
    residual quantile q̂ (α = 0.05), and ŷ ± q̂ then covers ≥ 95% of test
    points by exchangeability — no distributional assumption, which is
    why the guarantee survives any model.  Output is the finite-sample
    readout: q̂ and the realized test coverage.

    Parity: residuals are exact integers, the quantile is an exact
    order-statistic pick at integer rank ceil(0.95(n+1)) computed with
    integer arithmetic ((19(n+1)+19) div 20), coverage is one division
    of exact counts.  Scale: one scan + a rank window over the
    calibration half; the quantile could swap to approx_percentile-then-
    exact-verify at extreme scale without changing the contract."""
    from pyspark.sql import Window as W

    from fusionspark.operators.dedup import md5_hash32

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").alias("y"),
        (
            6 * (F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))))
            + 20
        ).alias("yhat"),
        (md5_hash32(F.concat(F.lit("conf:"), F.col("doc_id").cast("string"))) % 2).alias("grp"),
    )
    r = d.select(
        "doc_id", "grp", F.abs(F.col("y") - F.col("yhat")).cast("long").alias("resid")
    )
    # r13 whitelist burn-down: the order-statistic pick at rank K of the
    # (resid, doc_id) order is the smallest resid whose value-grid
    # inclusive cumulative reaches K — identical output, and the only
    # window left runs over the bounded distinct-residual grid
    cal = r.filter(F.col("grp") == 0)
    vg = cal.groupBy("resid").agg(F.count("*").cast("long").alias("c"))
    gw = W.orderBy("resid").rowsBetween(W.unboundedPreceding, 0)
    gr = vg.select("resid", F.sum("c").over(gw).cast("long").alias("cum"))
    nn = cal.agg(F.count("*").cast("long").alias("n_cal"))
    kk = F.least(
        ((19 * (F.col("n_cal") + 1) + 19) / 20).cast("long"), F.col("n_cal")
    )
    q = (
        gr.crossJoin(F.broadcast(nn))
        .filter(F.col("cum") >= kk)
        .agg(
            F.max("n_cal").cast("long").alias("n_cal"),
            F.min("resid").alias("qhat"),
        )
    )
    test = r.filter(F.col("grp") == 1).crossJoin(F.broadcast(q)).agg(
        F.count("*").cast("long").alias("n_test"),
        F.sum(F.when(F.col("resid") <= F.col("qhat"), 1).otherwise(0))
        .cast("long")
        .alias("covered"),
        F.max("n_cal").alias("n_cal"),
        F.max("qhat").cast("long").alias("qhat"),
    )
    return test.select(
        "n_cal", "n_test", "qhat",
        F.round(F.col("covered").cast("double") / F.col("n_test"), 6).alias("coverage"),
    )


@query(
    "psi_drift",
    """
    WITH ev AS (
        SELECT epoch_us(ts) AS t, FLOOR(value * 100.0 + 0.5)::BIGINT AS x
        FROM events
    ),
    mid AS (SELECT (MIN(t) + MAX(t)) // 2 AS m FROM ev),
    ref AS (SELECT x FROM ev WHERE t <= (SELECT m FROM mid)),
    cur AS (SELECT x FROM ev WHERE t > (SELECT m FROM mid)),
    rr AS (
        SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS rk,
               COUNT(*) OVER () AS n
        FROM ref
    ),
    bounds AS (
        SELECT k.k AS k, MAX(rr.x)::BIGINT AS b
        FROM rr JOIN (SELECT unnest(generate_series(1, 9)) AS k) k
          ON rr.rk = (k.k * rr.n) // 10
        GROUP BY k.k
    ),
    rbin AS (
        SELECT (SELECT COUNT(*) FROM bounds WHERE b < ref.x)::BIGINT AS bin
        FROM ref
    ),
    cbin AS (
        SELECT (SELECT COUNT(*) FROM bounds WHERE b < cur.x)::BIGINT AS bin
        FROM cur
    ),
    grid AS (SELECT unnest(generate_series(0, 9)) AS bin),
    cnts AS (
        SELECT grid.bin::BIGINT AS bin,
               COALESCE(r.n, 0)::BIGINT AS ref_n,
               COALESCE(c.n, 0)::BIGINT AS cur_n
        FROM grid
        LEFT JOIN (SELECT bin, COUNT(*)::BIGINT AS n FROM rbin GROUP BY bin) r
               ON r.bin = grid.bin
        LEFT JOIN (SELECT bin, COUNT(*)::BIGINT AS n FROM cbin GROUP BY bin) c
               ON c.bin = grid.bin
    ),
    tot AS (
        SELECT SUM(ref_n)::BIGINT AS nr, SUM(cur_n)::BIGINT AS nc FROM cnts
    ),
    folded AS (
        SELECT list_reduce(list_prepend(0.0,
            list(((ref_n + 1)::DOUBLE / (nr + 10) - (cur_n + 1)::DOUBLE / (nc + 10))
                 * ln(((ref_n + 1) * (nc + 10))::DOUBLE
                      / ((cur_n + 1) * (nr + 10)))
                 ORDER BY bin)),
            (a, x) -> a + x) AS psi
        FROM cnts, tot
        GROUP BY nr, nc
    ),
    tots AS (SELECT nr, nc FROM tot)
    SELECT tots.nr AS n_ref, tots.nc AS n_cur,
           ROUND(folded.psi, 6) + 0.0 AS psi
    FROM folded, tots
    """,
)
def psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index — THE production feature-drift monitor
    (credit-scoring lineage, now the default ML-monitoring metric): the
    event-value distribution's later time-half scored against its
    earlier half over the earlier half's decile bins, PSI = Σ (p_i −
    q_i)·ln(p_i/q_i).  Convention: PSI < 0.1 stable, 0.1-0.25 shifting,
    > 0.25 action.  Laplace-smoothed proportions ((c+1)/(n+10)) keep
    empty bins finite — the standard production guard, replayed
    identically in the oracle.

    Parity: bin boundaries are EXACT rank picks (rk = ⌊k·n/10⌋ over the
    reference half, integer arithmetic), bin assignment is an integer
    boundary count, and each bin's term is built from exact integers
    with ONE ln of an integer ratio; the 10-term sum is a bin-ordered
    fold.  The emitted psi carries `+ 0.0` (a zero-drift corpus can
    round to a signed zero).  Scale: one midpoint scalar, one rank
    window over the reference half (swap approx_percentile + exact
    verify past ~1e9 rows), integer bin counts with map-side combine;
    the 10-row bin frame is where all float math lives."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").select(
        F.unix_micros("ts").alias("t"),
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("x"),
    )
    mid = ev.agg(
        F.expr("(min(t) + max(t)) div 2").cast("long").alias("m")
    )
    e = ev.crossJoin(F.broadcast(mid))
    ref = e.filter(F.col("t") <= F.col("m")).select("x")
    cur = e.filter(F.col("t") > F.col("m")).select("x")
    # r13 whitelist burn-down: boundary ranks come from the VALUE-GRID
    # cumulative, not a row_number over raw rows — the x at rank
    # (k*n) div 10 is exactly the smallest grid value whose inclusive
    # cumulative count reaches that rank (identical output; the only
    # windows left are over the bounded distinct-cents grid)
    vg = ref.groupBy("x").agg(F.count("*").cast("long").alias("c"))
    gw = W.orderBy("x").rowsBetween(W.unboundedPreceding, 0)
    gr = vg.select("x", F.sum("c").over(gw).cast("long").alias("cum"))
    nn = ref.agg(F.count("*").cast("long").alias("n"))
    ks = ev.sparkSession.range(1, 10).select(F.col("id").alias("k"))
    pos = F.expr("(k * n) div 10")
    bounds = (
        gr.crossJoin(F.broadcast(ks))
        .crossJoin(F.broadcast(nn))
        .filter((pos >= 1) & (F.col("cum") >= pos))
        .groupBy("k")
        .agg(F.min("x").cast("long").alias("b"))
        .select("b")
    )
    barr = bounds.agg(F.array_sort(F.collect_list("b")).alias("bs"))

    def bin_of(df):
        return (
            df.crossJoin(F.broadcast(barr))
            .select(
                F.aggregate(
                    "bs",
                    F.lit(0).cast("long"),
                    lambda a, b: a + F.when(b < F.col("x"), 1).otherwise(0),
                ).alias("bin")
            )
            .groupBy("bin")
            .agg(F.count("*").cast("long").alias("n"))
        )
    rb, cb = bin_of(ref), bin_of(cur)
    grid = ev.sparkSession.range(0, 10).select(F.col("id").alias("bin"))
    cnts = (
        grid.join(rb.withColumnRenamed("n", "ref_n"), "bin", "left")
        .join(cb.withColumnRenamed("n", "cur_n"), "bin", "left")
        .na.fill({"ref_n": 0, "cur_n": 0})
    )
    tot = cnts.agg(
        F.sum("ref_n").cast("long").alias("nr"),
        F.sum("cur_n").cast("long").alias("nc"),
    )
    j = cnts.crossJoin(F.broadcast(tot))
    term = (
        (F.col("ref_n") + 1).cast("double") / (F.col("nr") + 10)
        - (F.col("cur_n") + 1).cast("double") / (F.col("nc") + 10)
    ) * F.log(
        ((F.col("ref_n") + 1) * (F.col("nc") + 10)).cast("double")
        / ((F.col("cur_n") + 1) * (F.col("nr") + 10))
    )
    folded = j.agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("bin", term.alias("v")))),
                lambda s: s["v"],
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("psi"),
        F.max("nr").cast("long").alias("n_ref"),
        F.max("nc").cast("long").alias("n_cur"),
    )
    return folded.select(
        "n_ref", "n_cur", (F.round("psi", 6) + F.lit(0.0)).alias("psi")
    )


# ---------------------------------------------------------------------------
# Round 11 (cont.): classic closed-form inference — one-way ANOVA, IV/Wald
# ---------------------------------------------------------------------------


@query(
    "anova_oneway",
    """
    WITH v AS (
        SELECT o_orderpriority AS g, FLOOR(o_totalprice + 0.5)::BIGINT AS v
        FROM orders
    ),
    grp AS (
        SELECT g, COUNT(*)::BIGINT AS ng, SUM(v)::BIGINT AS sg,
               SUM(v * v)::BIGINT AS ssg
        FROM v GROUP BY g
    ),
    tot AS (
        SELECT COUNT(*)::BIGINT AS k, SUM(ng)::BIGINT AS n,
               SUM(sg)::BIGINT AS s, SUM(ssg)::BIGINT AS ss
        FROM grp
    ),
    terms AS (
        SELECT g, sg::DOUBLE * sg::DOUBLE / ng AS t,
               ssg::DOUBLE - sg::DOUBLE * sg::DOUBLE / ng AS w
        FROM grp
    ),
    folded AS (
        SELECT list_reduce(list_prepend(0.0, list(t ORDER BY g)),
                           (a, x) -> a + x) AS st,
               list_reduce(list_prepend(0.0, list(w ORDER BY g)),
                           (a, x) -> a + x) AS ssw
        FROM terms
    )
    SELECT tot.k AS k, tot.n AS n,
           (tot.k - 1)::BIGINT AS dof1, (tot.n - tot.k)::BIGINT AS dof2,
           ROUND(folded.st - tot.s::DOUBLE * tot.s::DOUBLE / tot.n, 6) + 0.0
               AS ss_between,
           ROUND(folded.ssw, 6) + 0.0 AS ss_within,
           ROUND(((folded.st - tot.s::DOUBLE * tot.s::DOUBLE / tot.n)
                  / (tot.k - 1)) / (folded.ssw / (tot.n - tot.k)), 6) + 0.0
               AS f_stat,
           ROUND((folded.st - tot.s::DOUBLE * tot.s::DOUBLE / tot.n)
                 / ((folded.st - tot.s::DOUBLE * tot.s::DOUBLE / tot.n)
                    + folded.ssw), 6) + 0.0 AS eta_sq
    FROM folded, tot
    """,
)
def anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of order value across the 5 order priorities — the
    k-group generalization of welch_bh's two-sample t (F(k−1, n−k) =
    MSB/MSW), the first screen any "does this categorical segment matter"
    question gets before pairwise drilldowns.  Also emits eta² =
    SSB/SST, the variance-explained effect size the F alone hides.

    Parity: values are whole dollars (FLOOR(price + 0.5), exact BIGINT);
    per-group n/s/ss are exact BIGINT sums; every per-group term is
    s::DOUBLE · s::DOUBLE / n where s < 2^53 (the int64→double
    conversions are correctly rounded single instructions in both
    engines); the k-term SSB/SSW sums are g-ordered IEEE folds (the
    chi2_independence discipline).  ROUNDed outputs carry `+ 0.0`.
    Scale: one groupBy(priority) with map-side combine; folds run on the
    k-row group frame — the corpus is scanned once."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("g"),
        F.floor(F.col("o_totalprice") + 0.5).cast("long").alias("v"),
    )
    grp = o.groupBy("g").agg(
        F.count("*").cast("long").alias("ng"),
        F.sum("v").cast("long").alias("sg"),
        F.sum(F.col("v") * F.col("v")).cast("long").alias("ssg"),
    )
    tot = grp.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("ng").cast("long").alias("n"),
        F.sum("sg").cast("long").alias("s"),
        F.sum("ssg").cast("long").alias("ss"),
    )
    sgd = F.col("sg").cast("double")
    terms = grp.select(
        "g",
        (sgd * sgd / F.col("ng")).alias("t"),
        (F.col("ssg").cast("double") - sgd * sgd / F.col("ng")).alias("w"),
    )
    folded = terms.agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("g", "t"))),
            F.lit(0.0),
            lambda acc, s: acc + s["t"],
        ).alias("st"),
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("g", "w"))),
            F.lit(0.0),
            lambda acc, s: acc + s["w"],
        ).alias("ssw"),
    )
    j = folded.crossJoin(F.broadcast(tot))
    sd = F.col("s").cast("double")
    ssb = F.col("st") - sd * sd / F.col("n")
    return j.select(
        "k",
        "n",
        (F.col("k") - 1).cast("long").alias("dof1"),
        (F.col("n") - F.col("k")).cast("long").alias("dof2"),
        (F.round(ssb, 6) + F.lit(0.0)).alias("ss_between"),
        (F.round(F.col("ssw"), 6) + F.lit(0.0)).alias("ss_within"),
        (
            F.round(
                (ssb / (F.col("k") - 1)) / (F.col("ssw") / (F.col("n") - F.col("k"))),
                6,
            )
            + F.lit(0.0)
        ).alias("f_stat"),
        (F.round(ssb / (ssb + F.col("ssw")), 6) + F.lit(0.0)).alias("eta_sq"),
    )


@query(
    "iv_wald",
    """
    WITH d AS (
        SELECT FLOOR(o_totalprice * 100.0 + 0.5)::BIGINT AS cents,
               ('0x' || substr(md5('ivz:' || o_orderkey::VARCHAR), 1, 8))::BIGINT
                   % 2 AS z,
               ('0x' || substr(md5('ivx:' || o_orderkey::VARCHAR), 1, 8))::BIGINT
                   % 100 AS h2
        FROM orders
    ),
    t AS (
        SELECT cents, z,
               CASE WHEN cents >= 25000000 THEN 1 ELSE 0 END AS e,
               CASE WHEN h2 < 10 + 60 * z
                         + 30 * (CASE WHEN cents >= 25000000 THEN 1 ELSE 0 END)
                    THEN 1 ELSE 0 END AS x
        FROM d
    ),
    y AS (SELECT z, x, cents % 10000 + 5000 * e + 1000 * x AS y FROM t),
    s AS (
        SELECT COUNT(*)::BIGINT AS n,
               SUM(z)::BIGINT AS n1, SUM(1 - z)::BIGINT AS n0,
               SUM(z * x)::BIGINT AS sx1, SUM((1 - z) * x)::BIGINT AS sx0,
               SUM(z * y)::BIGINT AS sy1, SUM((1 - z) * y)::BIGINT AS sy0,
               SUM(x)::BIGINT AS m1, SUM(1 - x)::BIGINT AS m0,
               SUM(x * y)::BIGINT AS t1, SUM((1 - x) * y)::BIGINT AS t0
        FROM y
    )
    SELECT n, n1, n0, 1000::BIGINT AS planted_tau_cents,
           ROUND((sx1 * n0 - sx0 * n1)::DOUBLE / (n1 * n0), 6) AS first_stage,
           ROUND((sy1 * n0 - sy0 * n1)::DOUBLE / (n1 * n0), 6) AS itt_cents,
           ROUND((sy1 * n0 - sy0 * n1)::DOUBLE / (sx1 * n0 - sx0 * n1), 6)
               AS beta_iv_cents,
           ROUND((t1 * m0 - t0 * m1)::DOUBLE / (m1 * m0), 6) AS beta_naive_cents
    FROM s
    """,
)
def iv_wald(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instrumental-variables Wald estimator on a derived encouragement
    design — the causal tool for when treatment is self-selected but an
    exogenous nudge exists (the classic draft-lottery / encouragement-
    email setting).  Derivation: instrument z = md5 coin (exogenous by
    construction); confounder e = high-value order (cents ≥ 250k, the
    median cut — carved from the HIGH bits of the price); outcome
    baseline = cents mod 10000 (the LOW bits — independent of e by
    construction, so σ_y stays small enough that the planted effect is
    measurable); treatment uptake P(x=1) = (10 + 60z + 30e)/100 (md5
    inverse-CDF draw: monotone in z, confounded by e); outcome y =
    baseline + 5000·e + 1000·x (planted τ = $10).  β_IV = Δy/Δx across
    instrument arms recovers τ; the naive treated-vs-untreated diff
    picks up the 5000·e confound through P(e|x=1) > P(e|x=0) — the gate
    re-proves the bias story every run (first_stage ≈ 0.6, beta_iv ≈
    1000, beta_naive ≈ 2500).

    Parity: ONE aggregate of conditional exact-BIGINT sums; each output
    is a single division of exact integers (Wald ratio cross-multiplied:
    (sy1·n0 − sy0·n1)/(sx1·n0 − sx0·n1) — products ≤ ~1e17 stay in
    BIGINT; int64→double casts are correctly rounded in both engines).
    Scale: map-side-combined scalar aggregate, one corpus scan, no
    shuffle wider than the 11-field sum vector."""
    from fusionspark.operators.dedup import md5_hash32

    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
    z = md5_hash32(F.concat(F.lit("ivz:"), F.col("o_orderkey").cast("string"))) % 2
    h2 = md5_hash32(F.concat(F.lit("ivx:"), F.col("o_orderkey").cast("string"))) % 100
    e = F.when(cents >= 25000000, 1).otherwise(0)
    d = o.select(cents.alias("cents"), z.alias("z"), h2.alias("h2"), e.alias("e"))
    x = F.when(F.col("h2") < 10 + 60 * F.col("z") + 30 * F.col("e"), 1).otherwise(0)
    yv = d.select(
        "z",
        x.alias("x"),
        (F.col("cents") % 10000 + 5000 * F.col("e") + 1000 * x).alias("y"),
    )
    s = yv.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("z").cast("long").alias("n1"),
        F.sum(1 - F.col("z")).cast("long").alias("n0"),
        F.sum(F.col("z") * F.col("x")).cast("long").alias("sx1"),
        F.sum((1 - F.col("z")) * F.col("x")).cast("long").alias("sx0"),
        F.sum(F.col("z") * F.col("y")).cast("long").alias("sy1"),
        F.sum((1 - F.col("z")) * F.col("y")).cast("long").alias("sy0"),
        F.sum("x").cast("long").alias("m1"),
        F.sum(1 - F.col("x")).cast("long").alias("m0"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("t1"),
        F.sum((1 - F.col("x")) * F.col("y")).cast("long").alias("t0"),
    )
    return s.select(
        "n",
        "n1",
        "n0",
        F.lit(1000).cast("long").alias("planted_tau_cents"),
        F.round(
            (F.col("sx1") * F.col("n0") - F.col("sx0") * F.col("n1")).cast("double")
            / (F.col("n1") * F.col("n0")),
            6,
        ).alias("first_stage"),
        F.round(
            (F.col("sy1") * F.col("n0") - F.col("sy0") * F.col("n1")).cast("double")
            / (F.col("n1") * F.col("n0")),
            6,
        ).alias("itt_cents"),
        F.round(
            (F.col("sy1") * F.col("n0") - F.col("sy0") * F.col("n1")).cast("double")
            / (F.col("sx1") * F.col("n0") - F.col("sx0") * F.col("n1")),
            6,
        ).alias("beta_iv_cents"),
        F.round(
            (F.col("t1") * F.col("m0") - F.col("t0") * F.col("m1")).cast("double")
            / (F.col("m1") * F.col("m0")),
            6,
        ).alias("beta_naive_cents"),
    )


@query(
    "granger_causality",
    """
    WITH daily AS (
        SELECT ts::DATE AS d,
               SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS x,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS y
        FROM events GROUP BY 1
    ),
    pairs AS (
        SELECT t.y AS yt, p.y AS yl, p.x AS xl, 'clicks->purchases' AS direction
        FROM daily t JOIN daily p ON p.d = t.d - INTERVAL 1 DAY
        UNION ALL
        SELECT t.x AS yt, p.x AS yl, p.y AS xl, 'purchases->clicks' AS direction
        FROM daily t JOIN daily p ON p.d = t.d - INTERVAL 1 DAY
    ),
    s AS (
        SELECT direction, COUNT(*)::BIGINT AS n,
               SUM(yt)::BIGINT AS sy, SUM(yl)::BIGINT AS sl, SUM(xl)::BIGINT AS sx,
               SUM(yt * yt)::BIGINT AS syy, SUM(yl * yl)::BIGINT AS sll,
               SUM(xl * xl)::BIGINT AS sxx, SUM(yt * yl)::BIGINT AS syl,
               SUM(yt * xl)::BIGINT AS syx, SUM(yl * xl)::BIGINT AS slx
        FROM pairs GROUP BY direction
    ),
    c AS (
        SELECT direction, n,
               (n * syy - sy * sy)::BIGINT AS cyy,
               (n * sll - sl * sl)::BIGINT AS cll,
               (n * sxx - sx * sx)::BIGINT AS cxx,
               (n * syl - sy * sl)::BIGINT AS cyl,
               (n * syx - sy * sx)::BIGINT AS cyx,
               (n * slx - sl * sx)::BIGINT AS clx
        FROM s
    ),
    fit AS (
        SELECT direction, n,
               (cyl * cxx - cyx * clx)::DOUBLE
                   / (cll * cxx - clx * clx)::DOUBLE AS b,
               (cll * cyx - clx * cyl)::DOUBLE
                   / (cll * cxx - clx * clx)::DOUBLE AS cc,
               cyy, cll, cyl, cyx
        FROM c
    ),
    rss AS (
        SELECT direction, n, b, cc,
               (cyy::DOUBLE - (cyl::DOUBLE * cyl) / cll) / n AS rss_r,
               (cyy::DOUBLE - b * cyl - cc * cyx) / n AS rss_u
        FROM fit
    )
    SELECT direction, n,
           ROUND(b, 6) + 0.0 AS beta_own_lag,
           ROUND(cc, 6) + 0.0 AS beta_cross_lag,
           ROUND(rss_r, 6) + 0.0 AS rss_restricted,
           ROUND(rss_u, 6) + 0.0 AS rss_unrestricted,
           ROUND((rss_r - rss_u) * (n - 3) / rss_u, 6) + 0.0 AS f_stat
    FROM rss
    """,
)
def granger_causality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 Granger causality between the daily click and purchase
    series, BOTH directions — the time-series screen for "does knowing
    yesterday's X improve today's Y forecast beyond Y's own history":
    F = ((RSS_r − RSS_u)/1) / (RSS_u/(T−3)) comparing y_t ~ a + b·y_{t−1}
    against y_t ~ a + b·y_{t−1} + c·x_{t−1} (Granger 1969).

    Parity: daily counts are exact BIGINT; the intercept is eliminated by
    n-scaled CENTERED moments (C_ab = n·S_ab − S_a·S_b, exact BIGINT —
    ≤ ~4e8 at sf0.1, int64 headroom to ~sf1); the OLS coefficients are
    single divisions of exact ≤1e17 integers (int64→double conversion is
    a correctly-rounded instruction in both engines), and RSS/F are one
    fixed expression tree on those doubles.  Consecutive-day pairs come
    from a calendar self-join (a gap day drops its pair — deterministic).
    ROUNDed outputs carry `+ 0.0` (RSS_r − RSS_u ≥ 0 only in exact
    arithmetic; the FP difference can round to a signed zero).  Scale:
    one groupBy(day) over the corpus with map-side combine; the join,
    centering, fit, and F all run on the |days|-row frame."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("y"),
    )
    prev = daily.select(
        F.date_add("d", 1).alias("d"),
        F.col("y").alias("yl"),
        F.col("x").alias("xl"),
    )
    base = daily.join(prev, "d")
    pairs = base.select(
        F.col("y").alias("yt"), "yl", "xl", F.lit("clicks->purchases").alias(
            "direction"
        )
    ).unionByName(
        base.select(
            F.col("x").alias("yt"),
            F.col("xl").alias("yl"),
            F.col("yl").alias("xl"),
            F.lit("purchases->clicks").alias("direction"),
        )
    )
    s = pairs.groupBy("direction").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("yt").cast("long").alias("sy"),
        F.sum("yl").cast("long").alias("sl"),
        F.sum("xl").cast("long").alias("sx"),
        F.sum(F.col("yt") * F.col("yt")).cast("long").alias("syy"),
        F.sum(F.col("yl") * F.col("yl")).cast("long").alias("sll"),
        F.sum(F.col("xl") * F.col("xl")).cast("long").alias("sxx"),
        F.sum(F.col("yt") * F.col("yl")).cast("long").alias("syl"),
        F.sum(F.col("yt") * F.col("xl")).cast("long").alias("syx"),
        F.sum(F.col("yl") * F.col("xl")).cast("long").alias("slx"),
    )
    c = s.select(
        "direction",
        "n",
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).alias("cyy"),
        (F.col("n") * F.col("sll") - F.col("sl") * F.col("sl")).alias("cll"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("cxx"),
        (F.col("n") * F.col("syl") - F.col("sy") * F.col("sl")).alias("cyl"),
        (F.col("n") * F.col("syx") - F.col("sy") * F.col("sx")).alias("cyx"),
        (F.col("n") * F.col("slx") - F.col("sl") * F.col("sx")).alias("clx"),
    )
    det = (F.col("cll") * F.col("cxx") - F.col("clx") * F.col("clx")).cast("double")
    b = (F.col("cyl") * F.col("cxx") - F.col("cyx") * F.col("clx")).cast(
        "double"
    ) / det
    cc = (F.col("cll") * F.col("cyx") - F.col("clx") * F.col("cyl")).cast(
        "double"
    ) / det
    fit = c.select("direction", "n", b.alias("b"), cc.alias("cc"), "cyy", "cll",
                   "cyl", "cyx")
    rss_r = (
        F.col("cyy").cast("double")
        - (F.col("cyl").cast("double") * F.col("cyl")) / F.col("cll")
    ) / F.col("n")
    rss_u = (
        F.col("cyy").cast("double")
        - F.col("b") * F.col("cyl")
        - F.col("cc") * F.col("cyx")
    ) / F.col("n")
    rss = fit.select("direction", "n", "b", "cc", rss_r.alias("rss_r"),
                     rss_u.alias("rss_u"))
    return rss.select(
        "direction",
        "n",
        (F.round("b", 6) + F.lit(0.0)).alias("beta_own_lag"),
        (F.round("cc", 6) + F.lit(0.0)).alias("beta_cross_lag"),
        (F.round("rss_r", 6) + F.lit(0.0)).alias("rss_restricted"),
        (F.round("rss_u", 6) + F.lit(0.0)).alias("rss_unrestricted"),
        (
            F.round(
                (F.col("rss_r") - F.col("rss_u")) * (F.col("n") - 3)
                / F.col("rss_u"),
                6,
            )
            + F.lit(0.0)
        ).alias("f_stat"),
    )


@query(
    "cohens_kappa",
    """
    WITH rated AS (
        SELECT CASE WHEN len(regexp_extract_all(text, '[.!?]')) >= 3
                    THEN 1 ELSE 0 END AS ra,
               CASE WHEN len(list_filter(string_split(lower(text), ' '),
                                         x -> x <> '')) >= 80
                    THEN 1 ELSE 0 END AS rb
        FROM documents
    ),
    conf AS (
        SELECT COUNT(*)::BIGINT AS n,
               SUM(CASE WHEN ra = 0 AND rb = 0 THEN 1 ELSE 0 END)::BIGINT AS n00,
               SUM(CASE WHEN ra = 0 AND rb = 1 THEN 1 ELSE 0 END)::BIGINT AS n01,
               SUM(CASE WHEN ra = 1 AND rb = 0 THEN 1 ELSE 0 END)::BIGINT AS n10,
               SUM(CASE WHEN ra = 1 AND rb = 1 THEN 1 ELSE 0 END)::BIGINT AS n11
        FROM rated
    )
    SELECT n, n00, n01, n10, n11,
           ROUND((n00 + n11)::DOUBLE / n, 6) AS po,
           ROUND(((n00 + n01) * (n00 + n10)
                  + (n10 + n11) * (n01 + n11))::DOUBLE / (n * n), 6) AS pe,
           ROUND((n * (n00 + n11)
                  - ((n00 + n01) * (n00 + n10) + (n10 + n11) * (n01 + n11)))::DOUBLE
                 / (n * n
                    - ((n00 + n01) * (n00 + n10) + (n10 + n11) * (n01 + n11))),
                 6) + 0.0 AS kappa
    FROM conf
    """,
)
def cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa agreement between two independent document-quality
    raters — the inter-annotator reliability readout every labeling
    pipeline publishes before trusting its labels.  Rater A calls a doc
    substantive when it has >= 3 sentence enders; rater B when it has
    >= 80 whitespace tokens — two different heuristics for the same
    construct, so kappa measures real agreement beyond chance, not
    self-agreement.

    Parity: the confusion matrix is four exact BIGINT counts; po, pe, and
    kappa = (n*agree - pe_num) / (n^2 - pe_num) are each ONE correctly-
    rounded division of exact <= ~1e10 integer products (pe_num =
    a0*b0 + a1*b1 on marginals) — no float accumulates.  kappa can be a
    tiny negative that rounds to zero, so it carries `+ 0.0` (the
    weighted_sample signed-zero rule).

    Scale: one full-scan aggregate with map-side combine; the kappa
    arithmetic runs on a single 5-integer row regardless of corpus size."""
    d = load_table(spark, sf_dir, "documents")
    rated = d.select(
        F.when(
            F.size(F.regexp_extract_all("text", F.lit("[.!?]"), F.lit(0))) >= 3,
            1,
        ).otherwise(0).alias("ra"),
        F.when(
            F.size(F.filter(F.split(F.lower("text"), " "), lambda x: x != ""))
            >= 80,
            1,
        ).otherwise(0).alias("rb"),
    )
    conf = rated.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when((F.col("ra") == 0) & (F.col("rb") == 0), 1).otherwise(0))
        .cast("long").alias("n00"),
        F.sum(F.when((F.col("ra") == 0) & (F.col("rb") == 1), 1).otherwise(0))
        .cast("long").alias("n01"),
        F.sum(F.when((F.col("ra") == 1) & (F.col("rb") == 0), 1).otherwise(0))
        .cast("long").alias("n10"),
        F.sum(F.when((F.col("ra") == 1) & (F.col("rb") == 1), 1).otherwise(0))
        .cast("long").alias("n11"),
    )
    pe_num = (F.col("n00") + F.col("n01")) * (F.col("n00") + F.col("n10")) + (
        F.col("n10") + F.col("n11")
    ) * (F.col("n01") + F.col("n11"))
    return conf.select(
        "n", "n00", "n01", "n10", "n11",
        F.round((F.col("n00") + F.col("n11")).cast("double") / F.col("n"), 6)
        .alias("po"),
        F.round(pe_num.cast("double") / (F.col("n") * F.col("n")), 6).alias("pe"),
        (
            F.round(
                (F.col("n") * (F.col("n00") + F.col("n11")) - pe_num).cast("double")
                / (F.col("n") * F.col("n") - pe_num),
                6,
            )
            + F.lit(0.0)
        ).alias("kappa"),
    )


@query(
    "dispersion_index",
    """
    WITH days AS (SELECT DISTINCT ts::DATE AS d FROM events),
    types AS (SELECT DISTINCT event_type FROM events),
    cnts AS (
        SELECT event_type, ts::DATE AS d, COUNT(*)::BIGINT AS x
        FROM events GROUP BY 1, 2
    ),
    grid AS (
        SELECT t.event_type, dy.d, COALESCE(c.x, 0)::BIGINT AS x
        FROM types t CROSS JOIN days dy
        LEFT JOIN cnts c ON c.event_type = t.event_type AND c.d = dy.d
    ),
    s AS (
        SELECT event_type, COUNT(*)::BIGINT AS n, SUM(x)::BIGINT AS sx,
               SUM(x * x)::BIGINT AS sxx
        FROM grid GROUP BY event_type
    )
    SELECT event_type, n, sx AS total,
           ROUND(sx::DOUBLE / n, 6) AS mean_daily,
           ROUND((n * sxx - sx * sx)::DOUBLE / ((n - 1) * sx), 6)
               AS dispersion,
           ROUND((n * sxx - sx * sx)::DOUBLE / sx, 6) AS chi2_stat,
           (n * sxx - sx * sx > (n - 1) * sx) AS overdispersed
    FROM s ORDER BY event_type
    """,
)
def dispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher dispersion index of the daily event counts per type — the
    variance/mean ratio that screens "is this arrival process Poisson or
    bursty": D = s^2 / x_bar, with (n-1)*D ~ chi^2(n-1) under the Poisson
    null.  D >> 1 flags overdispersion (burst/incident traffic), D << 1
    underdispersion (rate-limited or scheduled traffic) — the upstream
    diagnostic for whether poisson_rate_test's model even applies.

    Parity: the day grid is zero-filled (types x distinct days, LEFT
    JOIN) so silent days count — the observed-days-only index is biased
    upward; n, S, and Sxx are exact BIGINTs and D = (n*Sxx - S^2) /
    ((n-1)*S) is ONE correctly-rounded division of exact integer
    products (<= ~1e13 at sf1).  The overdispersed verdict is an EXACT
    integer comparison — no float threshold.

    Scale: one groupBy(type, day) with map-side combine collapses the
    corpus; the grid and moments run on |types| * |days| rows (hundreds),
    independent of corpus size."""
    e = load_table(spark, sf_dir, "events")
    days = e.select(F.to_date("ts").alias("d")).distinct()
    types = e.select("event_type").distinct()
    cnts = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count("*").cast("long").alias("x")
    )
    grid = (
        types.crossJoin(days)
        .join(cnts, ["event_type", "d"], "left")
        .select("event_type", "d", F.coalesce("x", F.lit(0)).cast("long").alias("x"))
    )
    s = grid.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    num = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.select(
        "event_type", "n", F.col("sx").alias("total"),
        F.round(F.col("sx").cast("double") / F.col("n"), 6).alias("mean_daily"),
        F.round(num.cast("double") / ((F.col("n") - 1) * F.col("sx")), 6)
        .alias("dispersion"),
        F.round(num.cast("double") / F.col("sx"), 6).alias("chi2_stat"),
        (num > (F.col("n") - 1) * F.col("sx")).alias("overdispersed"),
    ).orderBy("event_type")


@query(
    "ljung_box",
    """
    WITH days AS (SELECT DISTINCT ts::DATE AS d FROM events),
    cnts AS (
        SELECT ts::DATE AS d, COUNT(*)::BIGINT AS y
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    tl AS (
        SELECT ROW_NUMBER() OVER (ORDER BY days.d) AS rn,
               COALESCE(cnts.y, 0)::BIGINT AS y
        FROM days LEFT JOIN cnts ON cnts.d = days.d
    ),
    s AS (SELECT COUNT(*)::BIGINT AS n, SUM(y)::BIGINT AS sy FROM tl),
    z AS (
        SELECT rn, (s.n * tl.y - s.sy)::BIGINT AS z, s.n AS n FROM tl, s
    ),
    den AS (SELECT SUM(z * z)::BIGINT AS den, MAX(n)::BIGINT AS n FROM z),
    num AS (
        SELECT k.k, SUM(a.z * b.z)::BIGINT AS num
        FROM unnest(generate_series(1, 7)) AS k(k)
        JOIN z a ON TRUE
        JOIN z b ON b.rn = a.rn - k.k
        GROUP BY k.k
    ),
    wide AS (
        SELECT den.n, den.den,
               MAX(CASE WHEN k = 1 THEN num END)::BIGINT AS c1,
               MAX(CASE WHEN k = 2 THEN num END)::BIGINT AS c2,
               MAX(CASE WHEN k = 3 THEN num END)::BIGINT AS c3,
               MAX(CASE WHEN k = 4 THEN num END)::BIGINT AS c4,
               MAX(CASE WHEN k = 5 THEN num END)::BIGINT AS c5,
               MAX(CASE WHEN k = 6 THEN num END)::BIGINT AS c6,
               MAX(CASE WHEN k = 7 THEN num END)::BIGINT AS c7
        FROM num, den GROUP BY den.n, den.den
    )
    SELECT n,
           ROUND(c1::DOUBLE / den, 6) + 0.0 AS r1,
           ROUND(c2::DOUBLE / den, 6) + 0.0 AS r2,
           ROUND(c3::DOUBLE / den, 6) + 0.0 AS r3,
           ROUND(c4::DOUBLE / den, 6) + 0.0 AS r4,
           ROUND(c5::DOUBLE / den, 6) + 0.0 AS r5,
           ROUND(c6::DOUBLE / den, 6) + 0.0 AS r6,
           ROUND(c7::DOUBLE / den, 6) + 0.0 AS r7,
           ROUND(n * (n + 2)
                 * ((c1::DOUBLE / den) * (c1::DOUBLE / den) / (n - 1)
                    + (c2::DOUBLE / den) * (c2::DOUBLE / den) / (n - 2)
                    + (c3::DOUBLE / den) * (c3::DOUBLE / den) / (n - 3)
                    + (c4::DOUBLE / den) * (c4::DOUBLE / den) / (n - 4)
                    + (c5::DOUBLE / den) * (c5::DOUBLE / den) / (n - 5)
                    + (c6::DOUBLE / den) * (c6::DOUBLE / den) / (n - 6)
                    + (c7::DOUBLE / den) * (c7::DOUBLE / den) / (n - 7)),
                 6) AS q_stat
    FROM wide
    """,
)
def ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test on the daily purchase series — "is there
    ANY autocorrelation in the first 7 lags", the residual-whiteness check
    run after every forecast fit (the companion diagnostic to ets_forecast
    / hw_forecast / ar2_fit): Q = n(n+2) * sum_k r_k^2/(n-k) ~ chi^2(7)
    under the white-noise null (Ljung & Box 1978).

    Parity: the day grid is zero-filled; with S = sum(y) the centered
    series n*y_t - S is an exact BIGINT, so den = sum(z^2) and each
    num_k = sum(z_t * z_{t-k}) are exact integer folds — r_k = num_k/den
    is ONE correctly-rounded division.  Q is a FIXED left-to-right sum of
    the seven r_k^2/(n-k) terms, written identically in both engines
    (same expression tree on identical doubles -> identical bits).  Every
    r_k carries `+ 0.0` (a tiny negative autocorrelation rounds to signed
    zero).

    Scale: one groupBy(day) collapses the corpus with map-side combine;
    the lag join and folds run on the |days|-row timeline crossed with 7
    lags — bounded by the calendar, not the data."""
    e = load_table(spark, sf_dir, "events")
    days = e.select(F.to_date("ts").alias("d")).distinct()
    cnts = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count("*").cast("long").alias("y"))
    )
    tl = (
        days.join(cnts, "d", "left")
        .select("d", F.coalesce("y", F.lit(0)).cast("long").alias("y"))
        .select(F.row_number().over(Window.orderBy("d")).alias("rn"), "y")
    )
    s = tl.agg(
        F.count("*").cast("long").alias("n"), F.sum("y").cast("long").alias("sy")
    )
    z = tl.crossJoin(F.broadcast(s)).select(
        "rn", (F.col("n") * F.col("y") - F.col("sy")).alias("z"), "n"
    )
    den = z.agg(
        F.sum(F.col("z") * F.col("z")).cast("long").alias("den"),
        F.max("n").cast("long").alias("n"),
    )
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("k"))
    a = z.select("rn", F.col("z").alias("za"))
    b = z.select(F.col("rn").alias("rnb"), F.col("z").alias("zb"))
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("rnb") == F.col("rn") - F.col("k"))
        .groupBy("k")
        .agg(F.sum(F.col("za") * F.col("zb")).cast("long").alias("num"))
    )
    wide = num.crossJoin(F.broadcast(den)).groupBy("n", "den").agg(
        *[
            F.max(F.when(F.col("k") == i, F.col("num"))).cast("long").alias(f"c{i}")
            for i in range(1, 8)
        ]
    )
    r = [
        (F.col(f"c{i}").cast("double") / F.col("den")) for i in range(1, 8)
    ]
    q = F.col("n") * (F.col("n") + 2) * (
        r[0] * r[0] / (F.col("n") - 1)
        + r[1] * r[1] / (F.col("n") - 2)
        + r[2] * r[2] / (F.col("n") - 3)
        + r[3] * r[3] / (F.col("n") - 4)
        + r[4] * r[4] / (F.col("n") - 5)
        + r[5] * r[5] / (F.col("n") - 6)
        + r[6] * r[6] / (F.col("n") - 7)
    )
    return wide.select(
        "n",
        *[(F.round(r[i - 1], 6) + F.lit(0.0)).alias(f"r{i}") for i in range(1, 8)],
        F.round(q, 6).alias("q_stat"),
    )


# Shapley weights for k=3 players: |S|=0 -> 2/6, |S|=1 -> 1/6, |S|=2 -> 2/6.
# Written as integer/6.0 divisions so both engines build identical doubles.


@query(
    "attribution_shapley",
    """
    WITH u AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               + 2 * MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               + 4 * MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                   AS mask,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS conv
        FROM events GROUP BY user_id
    ),
    s AS (
        SELECT
            SUM(CASE WHEN (mask & ~0) = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
            SUM(CASE WHEN (mask & ~0) = 0 THEN conv ELSE 0 END)::BIGINT AS c0,
            SUM(CASE WHEN (mask & ~1) = 0 THEN 1 ELSE 0 END)::BIGINT AS n1,
            SUM(CASE WHEN (mask & ~1) = 0 THEN conv ELSE 0 END)::BIGINT AS c1,
            SUM(CASE WHEN (mask & ~2) = 0 THEN 1 ELSE 0 END)::BIGINT AS n2,
            SUM(CASE WHEN (mask & ~2) = 0 THEN conv ELSE 0 END)::BIGINT AS c2,
            SUM(CASE WHEN (mask & ~3) = 0 THEN 1 ELSE 0 END)::BIGINT AS n3,
            SUM(CASE WHEN (mask & ~3) = 0 THEN conv ELSE 0 END)::BIGINT AS c3,
            SUM(CASE WHEN (mask & ~4) = 0 THEN 1 ELSE 0 END)::BIGINT AS n4,
            SUM(CASE WHEN (mask & ~4) = 0 THEN conv ELSE 0 END)::BIGINT AS c4,
            SUM(CASE WHEN (mask & ~5) = 0 THEN 1 ELSE 0 END)::BIGINT AS n5,
            SUM(CASE WHEN (mask & ~5) = 0 THEN conv ELSE 0 END)::BIGINT AS c5,
            SUM(CASE WHEN (mask & ~6) = 0 THEN 1 ELSE 0 END)::BIGINT AS n6,
            SUM(CASE WHEN (mask & ~6) = 0 THEN conv ELSE 0 END)::BIGINT AS c6,
            SUM(CASE WHEN (mask & ~7) = 0 THEN 1 ELSE 0 END)::BIGINT AS n7,
            SUM(CASE WHEN (mask & ~7) = 0 THEN conv ELSE 0 END)::BIGINT AS c7
        FROM u
    ),
    v AS (
        SELECT
            CASE WHEN n0 > 0 THEN c0::DOUBLE / n0 ELSE 0.0 END AS v0,
            CASE WHEN n1 > 0 THEN c1::DOUBLE / n1 ELSE 0.0 END AS v1,
            CASE WHEN n2 > 0 THEN c2::DOUBLE / n2 ELSE 0.0 END AS v2,
            CASE WHEN n3 > 0 THEN c3::DOUBLE / n3 ELSE 0.0 END AS v3,
            CASE WHEN n4 > 0 THEN c4::DOUBLE / n4 ELSE 0.0 END AS v4,
            CASE WHEN n5 > 0 THEN c5::DOUBLE / n5 ELSE 0.0 END AS v5,
            CASE WHEN n6 > 0 THEN c6::DOUBLE / n6 ELSE 0.0 END AS v6,
            CASE WHEN n7 > 0 THEN c7::DOUBLE / n7 ELSE 0.0 END AS v7,
            n7 AS n_users, c7 AS n_conversions
        FROM s
    )
    SELECT channel,
           ROUND(phi, 6) + 0.0 AS phi,
           ROUND(v7 - v0, 6) + 0.0 AS total_lift,
           n_users, n_conversions
    FROM (
        SELECT 'click' AS channel,
               (2.0 * (v1 - v0) + 1.0 * (v3 - v2) + 1.0 * (v5 - v4)
                + 2.0 * (v7 - v6)) / 6.0 AS phi,
               v0, v7, n_users, n_conversions FROM v
        UNION ALL
        SELECT 'view',
               (2.0 * (v2 - v0) + 1.0 * (v3 - v1) + 1.0 * (v6 - v4)
                + 2.0 * (v7 - v5)) / 6.0,
               v0, v7, n_users, n_conversions FROM v
        UNION ALL
        SELECT 'signup',
               (2.0 * (v4 - v0) + 1.0 * (v5 - v1) + 1.0 * (v6 - v2)
                + 2.0 * (v7 - v3)) / 6.0,
               v0, v7, n_users, n_conversions FROM v
    )
    ORDER BY channel
    """,
)
def attribution_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapley-value marketing attribution over the three touch channels
    (click, view, signup) with purchase as conversion — the game-theoretic
    alternative to attribution_last_touch that credits each channel its
    AVERAGE marginal contribution over all join orders (Shapley 1953;
    the standard data-driven-attribution formulation): the characteristic
    function v(S) is the conversion rate of users whose touch set is
    contained in S, enumerated exactly over all 2^3 coalitions.

    Parity: user masks and per-coalition (n_S, conv_S) are exact BIGINT
    conditional sums in ONE aggregate; each v(S) is one correctly-rounded
    division; phi is a FIXED unrolled 4-term weighted sum (weights 2/6,
    1/6, 1/6, 2/6 as integer-literal divisions) — the identical
    expression tree on identical doubles in both engines.  phi can be a
    tiny negative rounding to zero, so it carries `+ 0.0`.  Efficiency
    (sum phi = v(full) - v(empty)) is pytest-checked.

    Scale: one groupBy(user) collapses the corpus with map-side combine;
    the 16 coalition sums ride ONE aggregate over |users| rows and the
    Shapley arithmetic runs on a single row.  k channels cost 2^k
    conditional sums — enumerable for marketing-sized k."""
    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        (
            F.max(F.when(F.col("event_type") == "click", 1).otherwise(0))
            + 2 * F.max(F.when(F.col("event_type") == "view", 1).otherwise(0))
            + 4 * F.max(F.when(F.col("event_type") == "signup", 1).otherwise(0))
        ).alias("mask"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .alias("conv"),
    )
    aggs = []
    for sub in range(8):
        in_s = F.col("mask").bitwiseAND(F.lit(~sub & 7)) == 0
        aggs.append(
            F.sum(F.when(in_s, 1).otherwise(0)).cast("long").alias(f"n{sub}")
        )
        aggs.append(
            F.sum(F.when(in_s, F.col("conv")).otherwise(0))
            .cast("long")
            .alias(f"c{sub}")
        )
    s = u.agg(*aggs)
    vcols = [
        F.when(
            F.col(f"n{i}") > 0, F.col(f"c{i}").cast("double") / F.col(f"n{i}")
        ).otherwise(F.lit(0.0)).alias(f"v{i}")
        for i in range(8)
    ]
    v = s.select(
        *vcols, F.col("n7").alias("n_users"), F.col("c7").alias("n_conversions")
    )

    def phi(pairs):
        (w0, a0, b0), (w1, a1, b1), (w2, a2, b2), (w3, a3, b3) = pairs
        return (
            F.lit(float(w0)) * (F.col(f"v{a0}") - F.col(f"v{b0}"))
            + F.lit(float(w1)) * (F.col(f"v{a1}") - F.col(f"v{b1}"))
            + F.lit(float(w2)) * (F.col(f"v{a2}") - F.col(f"v{b2}"))
            + F.lit(float(w3)) * (F.col(f"v{a3}") - F.col(f"v{b3}"))
        ) / F.lit(6.0)

    rows = v.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("click").alias("channel"),
                    phi([(2, 1, 0), (1, 3, 2), (1, 5, 4), (2, 7, 6)]).alias("phi"),
                ),
                F.struct(
                    F.lit("view").alias("channel"),
                    phi([(2, 2, 0), (1, 3, 1), (1, 6, 4), (2, 7, 5)]).alias("phi"),
                ),
                F.struct(
                    F.lit("signup").alias("channel"),
                    phi([(2, 4, 0), (1, 5, 1), (1, 6, 2), (2, 7, 3)]).alias("phi"),
                ),
            )
        ).alias("r"),
        (F.col("v7") - F.col("v0")).alias("lift"),
        "n_users",
        "n_conversions",
    )
    return rows.select(
        F.col("r.channel").alias("channel"),
        (F.round(F.col("r.phi"), 6) + F.lit(0.0)).alias("phi"),
        (F.round("lift", 6) + F.lit(0.0)).alias("total_lift"),
        "n_users", "n_conversions",
    ).orderBy("channel")


_FE_PANEL = 4


@query(
    "fixed_effects",
    f"""
    WITH ranked AS (
        SELECT user_id,
               EXTRACT(hour FROM ts)::BIGINT AS x,
               CAST(ROUND(value * 1000000) AS BIGINT) AS y,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    panel AS (
        SELECT user_id, x, y FROM ranked WHERE rn <= {_FE_PANEL}
    ),
    full_users AS (
        SELECT user_id FROM panel GROUP BY user_id
        HAVING COUNT(*) = {_FE_PANEL}
    ),
    g AS (
        SELECT p.user_id,
               SUM(p.x)::BIGINT AS sx, SUM(p.y)::BIGINT AS sy,
               SUM(p.x * p.y)::BIGINT AS sxy, SUM(p.x * p.x)::BIGINT AS sxx
        FROM panel p JOIN full_users USING (user_id)
        GROUP BY p.user_id
    ),
    w AS (
        SELECT COUNT(*)::BIGINT AS n_users,
               SUM({_FE_PANEL} * sxy - sx * sy)::BIGINT AS a,
               SUM({_FE_PANEL} * sxx - sx * sx)::BIGINT AS b,
               SUM(sx)::BIGINT AS tx, SUM(sy)::BIGINT AS ty,
               SUM(sxy)::BIGINT AS txy, SUM(sxx)::BIGINT AS txx
        FROM g
    )
    SELECT n_users, ({_FE_PANEL} * n_users)::BIGINT AS n_obs,
           ROUND(a::DOUBLE / b / 1000000, 6) + 0.0 AS beta_within,
           ROUND(({_FE_PANEL} * n_users * txy - tx * ty)::DOUBLE
                 / ({_FE_PANEL} * n_users * txx - tx * tx) / 1000000, 6) + 0.0
               AS beta_pooled
    FROM w
    """,
)
def fixed_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way fixed-effects (within) estimator on a balanced user panel —
    "does spend-per-event vary with hour of day AFTER absorbing user-level
    generosity": the workhorse panel regression, next to diff_in_diff and
    cuped_adjustment in the causal family.  Each user contributes their
    first 4 events (ts, event_id order); users with fewer are dropped so
    the panel is BALANCED.

    Parity: on a balanced panel the within slope has the closed form
    sum_g(T*Sxy_g - Sx_g*Sy_g) / sum_g(T*Sxx_g - Sx_g^2) — the per-group
    demeaning denominators T cancel, so BOTH folds are exact BIGINT sums
    (y in value-micros, x = hour <= 23; |terms| <= ~5e11 per group,
    ~1e17 summed at sf1) and the slope is ONE correctly-rounded division.
    An unbalanced within estimator would sum per-group RATIONALS with
    different denominators — order-dependent float accumulation — which
    is exactly why the panel is balanced by construction.  beta_pooled
    (no fixed effects) comes from the same moments for contrast; both
    carry `+ 0.0`.

    Scale: rank-4 selection is a per-user window (hash-partitioned by
    user, no global sort); group moments ride one groupBy(user) with
    map-side combine; the final fold is a single aggregate."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    ranked = e.select(
        "user_id",
        F.hour("ts").cast("long").alias("x"),
        F.round(F.col("value") * 1000000).cast("long").alias("y"),
        F.row_number()
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("rn"),
    )
    panel = ranked.filter(F.col("rn") <= _FE_PANEL).select("user_id", "x", "y")
    g = (
        panel.groupBy("user_id")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        )
        .filter(F.col("cnt") == _FE_PANEL)
    )
    w = g.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum(_FE_PANEL * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("long").alias("a"),
        F.sum(_FE_PANEL * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("long").alias("b"),
        F.sum("sx").cast("long").alias("tx"),
        F.sum("sy").cast("long").alias("ty"),
        F.sum("sxy").cast("long").alias("txy"),
        F.sum("sxx").cast("long").alias("txx"),
    )
    nobs = F.lit(_FE_PANEL) * F.col("n_users")
    return w.select(
        "n_users",
        nobs.cast("long").alias("n_obs"),
        (
            F.round(F.col("a").cast("double") / F.col("b") / 1000000, 6)
            + F.lit(0.0)
        ).alias("beta_within"),
        (
            F.round(
                (nobs * F.col("txy") - F.col("tx") * F.col("ty")).cast("double")
                / (nobs * F.col("txx") - F.col("tx") * F.col("tx"))
                / 1000000,
                6,
            )
            + F.lit(0.0)
        ).alias("beta_pooled"),
    )


@query(
    "ransac_trend",
    """
    WITH days AS (SELECT DISTINCT ts::DATE AS d FROM events),
    cnts AS (
        SELECT ts::DATE AS d, COUNT(*)::BIGINT AS y
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    tl AS (
        SELECT ROW_NUMBER() OVER (ORDER BY days.d)::BIGINT AS t,
               COALESCE(cnts.y, 0)::BIGINT AS y
        FROM days LEFT JOIN cnts ON cnts.d = days.d
    ),
    s AS (
        SELECT COUNT(*)::BIGINT AS n, SUM(y)::BIGINT AS sy,
               (SUM(y) // (5 * COUNT(*)) + 1)::BIGINT AS eps
        FROM tl
    ),
    pairs AS (
        SELECT a.t AS i, a.y AS yi, b.t AS j, b.y AS yj,
               (b.y - a.y)::BIGINT AS snum, (b.t - a.t)::BIGINT AS den
        FROM tl a JOIN tl b ON b.t > a.t
    ),
    votes AS (
        SELECT p.i, p.j, p.snum, p.den, COUNT(*)::BIGINT AS n_inliers
        FROM pairs p JOIN tl q
          ON abs((q.y - p.yi) * p.den - p.snum * (q.t - p.i))
             <= (SELECT eps FROM s) * p.den
        GROUP BY p.i, p.j, p.snum, p.den
    ),
    best AS (
        SELECT * FROM votes
        ORDER BY n_inliers DESC, i ASC, j ASC LIMIT 1
    ),
    inl AS (
        SELECT q.t, q.y FROM tl q, best b, s
        WHERE abs((q.y - (SELECT yi FROM pairs p
                          WHERE p.i = b.i AND p.j = b.j)) * b.den
                  - b.snum * (q.t - b.i)) <= s.eps * b.den
    ),
    fit AS (
        SELECT COUNT(*)::BIGINT AS m, SUM(t)::BIGINT AS st,
               SUM(y)::BIGINT AS syy, SUM(t * y)::BIGINT AS sty,
               SUM(t * t)::BIGINT AS stt
        FROM inl
    )
    SELECT s.n AS n_days, best.i, best.j, best.n_inliers, s.eps,
           ROUND((fit.m * fit.sty - fit.st * fit.syy)::DOUBLE
                 / (fit.m * fit.stt - fit.st * fit.st), 6) + 0.0 AS slope,
           ROUND((fit.syy * fit.stt - fit.st * fit.sty)::DOUBLE
                 / (fit.m * fit.stt - fit.st * fit.st), 6) + 0.0 AS intercept
    FROM best, s, fit
    """,
)
def ransac_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANSAC line fit of the daily purchase series — the outlier-robust
    trend that OLS (trend_daily_events) cannot give when incident days
    contaminate the series (Fischler & Bolles 1981).  Exhaustive
    deterministic variant: EVERY day pair proposes the line through its
    two points, each line counts its inliers, the max-inlier line wins
    (ties -> smallest (i, j)), and the consensus set is refit by OLS.

    Parity: the inlier predicate is cross-multiplied into EXACT integers —
    |(y - yi)*den - snum*(t - i)| <= eps*den avoids the rational slope
    entirely (the weighted_sample lesson: never cut on a float) — and the
    inlier band eps = S // (5n) + 1 is an exact integer floor division.
    The refit slope/intercept are single correctly-rounded divisions of
    exact BIGINT moments, carrying `+ 0.0`.

    Scale: the corpus collapses to the |days|-row timeline (one groupBy
    with map-side combine); candidates are day PAIRS (|days|^2/2 — a few
    hundred at a month, ~66k at a year) and the vote join is pairs x
    days — calendar-bounded, independent of corpus size.  Sampled RANSAC
    (md5-chosen pairs) only becomes necessary if the series outgrows the
    calendar, which a daily rollup cannot."""
    e = load_table(spark, sf_dir, "events")
    days = e.select(F.to_date("ts").alias("d")).distinct()
    cnts = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count("*").cast("long").alias("y"))
    )
    tl = (
        days.join(cnts, "d", "left")
        .select("d", F.coalesce("y", F.lit(0)).cast("long").alias("y"))
        .select(
            F.row_number().over(Window.orderBy("d")).cast("long").alias("t"), "y"
        )
    )
    s = tl.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
        (F.floor(F.sum("y") / (5 * F.count("*"))) + 1).cast("long").alias("eps"),
    )
    a = tl.select(F.col("t").alias("i"), F.col("y").alias("yi"))
    b = tl.select(F.col("t").alias("j"), F.col("y").alias("yj"))
    pairs = (
        a.join(b, F.col("j") > F.col("i"))
        .select(
            "i", "yi", "j", "yj",
            (F.col("yj") - F.col("yi")).alias("snum"),
            (F.col("j") - F.col("i")).alias("den"),
        )
    )
    q = tl.select(F.col("t").alias("qt"), F.col("y").alias("qy"))
    withe = pairs.crossJoin(F.broadcast(s.select("eps")))
    votes = (
        withe.join(
            q,
            F.abs(
                (F.col("qy") - F.col("yi")) * F.col("den")
                - F.col("snum") * (F.col("qt") - F.col("i"))
            )
            <= F.col("eps") * F.col("den"),
        )
        .groupBy("i", "yi", "j", "snum", "den", "eps")
        .agg(F.count("*").cast("long").alias("n_inliers"))
    )
    best = votes.orderBy(
        F.col("n_inliers").desc(), F.col("i").asc(), F.col("j").asc()
    ).limit(1)
    inl = q.crossJoin(F.broadcast(best)).filter(
        F.abs(
            (F.col("qy") - F.col("yi")) * F.col("den")
            - F.col("snum") * (F.col("qt") - F.col("i"))
        )
        <= F.col("eps") * F.col("den")
    )
    fit = inl.groupBy("i", "j", "n_inliers", "eps").agg(
        F.count("*").cast("long").alias("m"),
        F.sum("qt").cast("long").alias("st"),
        F.sum("qy").cast("long").alias("syy"),
        F.sum(F.col("qt") * F.col("qy")).cast("long").alias("sty"),
        F.sum(F.col("qt") * F.col("qt")).cast("long").alias("stt"),
    )
    det = F.col("m") * F.col("stt") - F.col("st") * F.col("st")
    return fit.crossJoin(F.broadcast(s.select("n"))).select(
        F.col("n").alias("n_days"), "i", "j", "n_inliers", "eps",
        (
            F.round(
                (F.col("m") * F.col("sty") - F.col("st") * F.col("syy"))
                .cast("double") / det,
                6,
            )
            + F.lit(0.0)
        ).alias("slope"),
        (
            F.round(
                (F.col("syy") * F.col("stt") - F.col("st") * F.col("sty"))
                .cast("double") / det,
                6,
            )
            + F.lit(0.0)
        ).alias("intercept"),
    )


# Viterbi model constants: log-probabilities scaled by 1000 and truncated to
# integers, so the whole DP is EXACT BIGINT max-plus algebra.  State 0 =
# browsing, state 1 = buying-intent.  A fixed, trained-elsewhere model (the
# perceptron_quality convention).
_VIT_START = (-693, -693)  # ln(0.5) * 1000
_VIT_T = (-105, -2303, -693, -693)  # t00, t01, t10, t11
_VIT_EMIT = {
    # event_type: (log-emission in state 0, in state 1), * 1000
    "view": (-916, -2303),
    "click": (-916, -1609),
    "error": (-1609, -2996),
    "signup": (-2303, -1204),
    "purchase": (-3912, -693),
}


def _vit_emit_sql(idx: int) -> str:
    cases = " ".join(
        f"WHEN event_type = '{t}' THEN {e[idx]}" for t, e in _VIT_EMIT.items()
    )
    return f"CASE {cases} END"


@query(
    "viterbi_decode",
    f"""
    WITH ev AS (
        SELECT user_id, ts, event_id,
               ({_vit_emit_sql(0)})::BIGINT AS e0,
               ({_vit_emit_sql(1)})::BIGINT AS e1
        FROM events
    ),
    seq AS (
        SELECT user_id,
               list(struct_pack(e0 := e0, e1 := e1)
                    ORDER BY ts, event_id) AS l
        FROM ev GROUP BY user_id
    ),
    dp AS (
        SELECT user_id, len(l)::BIGINT AS n_events,
               list_reduce(
                   list_prepend(
                       [{_VIT_START[0]} + l[1].e0, {_VIT_START[1]} + l[1].e1],
                       list_transform(l[2:], x -> [x.e0, x.e1])),
                   (a, x) -> [greatest(a[1] + {_VIT_T[0]}, a[2] + {_VIT_T[2]})
                              + x[1],
                              greatest(a[1] + {_VIT_T[1]}, a[2] + {_VIT_T[3]})
                              + x[2]]) AS v
        FROM seq
    )
    SELECT user_id, n_events,
           greatest(v[1], v[2])::BIGINT AS viterbi_score,
           (CASE WHEN v[2] > v[1] THEN 1 ELSE 0 END)::INT AS final_state
    FROM dp
    ORDER BY viterbi_score DESC, user_id ASC
    LIMIT 200
    """,
)
def viterbi_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi decoding of a 2-state HMM (browsing vs buying-intent) over
    each user's time-ordered event sequence — the classic sequence-
    labeling DP (Viterbi 1967; the same max-plus recursion behind CRF/HMM
    taggers in NLP pipelines), here scoring which users most likely ended
    a session in the buying state.  Model: fixed integer log-prob tables
    (x1000), the trained-elsewhere convention perceptron_quality uses.

    Parity: the DP is EXACT max-plus BIGINT algebra — v'_s = max_r(v_r +
    T_rs) + E_s(x) with every quantity an integer, so there is no float
    anywhere: the fold is bit-exact by construction, and the final
    (score DESC, user_id) cut is an exact integer sort.  The fold runs
    over the (ts, event_id)-ordered event list per user (the ets_forecast
    accumulator pattern; the start vector is prepended as the fold init
    so the first event pays start + emission, not a transition).

    Scale: one groupBy(user) with map-side combine builds per-user
    sequences (bounded by a user's event count — the conversation_tail
    contract); the DP is a linear per-row fold, embarrassingly parallel
    across users; the top-200 cut is a TakeOrdered, no global sort."""
    e = load_table(spark, sf_dir, "events")
    e0 = F.lit(None).cast("long")
    e1 = F.lit(None).cast("long")
    for t, (a, b) in _VIT_EMIT.items():
        e0 = F.when(F.col("event_type") == t, F.lit(a)).otherwise(e0)
        e1 = F.when(F.col("event_type") == t, F.lit(b)).otherwise(e1)
    ev = e.select(
        "user_id", "ts", "event_id", e0.alias("e0"), e1.alias("e1")
    )
    seq = ev.groupBy("user_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "event_id", "e0", "e1"))),
            lambda s: F.array(s["e0"].cast("long"), s["e1"].cast("long")),
        ).alias("l")
    )
    t00, t01, t10, t11 = _VIT_T
    init = F.array(
        F.lit(_VIT_START[0]) + F.element_at(F.element_at("l", 1), 1),
        F.lit(_VIT_START[1]) + F.element_at(F.element_at("l", 1), 2),
    )
    dp = seq.select(
        "user_id",
        F.size("l").cast("long").alias("n_events"),
        F.aggregate(
            F.slice("l", 2, F.greatest(F.size("l") - 1, F.lit(0))),
            init,
            lambda a, x: F.array(
                F.greatest(
                    F.element_at(a, 1) + F.lit(t00),
                    F.element_at(a, 2) + F.lit(t10),
                )
                + F.element_at(x, 1),
                F.greatest(
                    F.element_at(a, 1) + F.lit(t01),
                    F.element_at(a, 2) + F.lit(t11),
                )
                + F.element_at(x, 2),
            ),
        ).alias("v"),
    )
    return (
        dp.select(
            "user_id", "n_events",
            F.greatest(F.element_at("v", 1), F.element_at("v", 2))
            .cast("long").alias("viterbi_score"),
            F.when(F.element_at("v", 2) > F.element_at("v", 1), 1)
            .otherwise(0).cast("int").alias("final_state"),
        )
        .orderBy(F.col("viterbi_score").desc(), F.col("user_id").asc())
        .limit(200)
    )

_RDD_CUTOFF = 5_000  # balance cutoff in whole dollars
_RDD_H = 2_000  # +/- bandwidth, dollars
_RDD_BONUS = 5  # planted program effect: +5 orders above the cutoff


@query(
    "reg_discontinuity",
    f"""
    WITH cnt AS (
        SELECT o_custkey, COUNT(*)::BIGINT AS c FROM orders GROUP BY o_custkey
    ),
    base AS (
        SELECT CAST(ROUND(c_acctbal) AS BIGINT) - {_RDD_CUTOFF} AS xc,
               COALESCE(c, 0)::BIGINT
               + CASE WHEN CAST(ROUND(c_acctbal) AS BIGINT) >= {_RDD_CUTOFF}
                      THEN {_RDD_BONUS} ELSE 0 END AS y
        FROM customer LEFT JOIN cnt ON o_custkey = c_custkey
        WHERE abs(CAST(ROUND(c_acctbal) AS BIGINT) - {_RDD_CUTOFF})
              <= {_RDD_H}
    ),
    m AS (
        SELECT
            SUM(CASE WHEN xc < 0 THEN 1 ELSE 0 END)::BIGINT AS nl,
            SUM(CASE WHEN xc < 0 THEN xc ELSE 0 END)::BIGINT AS lx,
            SUM(CASE WHEN xc < 0 THEN y ELSE 0 END)::BIGINT AS ly,
            SUM(CASE WHEN xc < 0 THEN xc * y ELSE 0 END)::BIGINT AS lxy,
            SUM(CASE WHEN xc < 0 THEN xc * xc ELSE 0 END)::BIGINT AS lxx,
            SUM(CASE WHEN xc >= 0 THEN 1 ELSE 0 END)::BIGINT AS nr,
            SUM(CASE WHEN xc >= 0 THEN xc ELSE 0 END)::BIGINT AS rx,
            SUM(CASE WHEN xc >= 0 THEN y ELSE 0 END)::BIGINT AS ry,
            SUM(CASE WHEN xc >= 0 THEN xc * y ELSE 0 END)::BIGINT AS rxy,
            SUM(CASE WHEN xc >= 0 THEN xc * xc ELSE 0 END)::BIGINT AS rxx
        FROM base
    ),
    fit AS (
        SELECT nl, nr,
               (nl * lxy - lx * ly)::DOUBLE / (nl * lxx - lx * lx) AS bl,
               (nr * rxy - rx * ry)::DOUBLE / (nr * rxx - rx * rx) AS br,
               lx, ly, rx, ry
        FROM m
    )
    SELECT nl AS n_left, nr AS n_right,
           ROUND((ly - bl * lx) / nl, 6) + 0.0 AS intercept_left,
           ROUND((ry - br * rx) / nr, 6) + 0.0 AS intercept_right,
           ROUND(1000 * bl, 6) + 0.0 AS slope_left_per_k,
           ROUND(1000 * br, 6) + 0.0 AS slope_right_per_k,
           ROUND((ry - br * rx) / nr - (ly - bl * lx) / nl, 6) + 0.0 AS tau
    FROM fit
    """,
)
def reg_discontinuity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharp regression-discontinuity estimate of a program that kicks in
    at account balance 5000: local linear fits of ORDER COUNT on balance
    on both sides of the cutoff within a +/-2000 bandwidth, tau = the
    jump between the side intercepts AT the cutoff (Thistlethwaite &
    Campbell 1960; the Imbens-Lemieux local-linear workhorse).  The
    outcome carries a PLANTED +5-orders program effect above the cutoff;
    the estimator recovers ~5 (pytest-pinned) where a naive above/below
    means comparison would confound the jump with balance's own trend.
    Order count (not spend) is the outcome because its variance is small
    enough for the plant to dominate finite-sample intercept noise.

    Parity: balances become exact whole-dollar BIGINTs via CAST(ROUND(x))
    (half-away rounding agrees across engines; exact .5 doubles included);
    both sides' five moments are exact BIGINT conditional sums in ONE
    aggregate; each slope is ONE correctly-rounded division of exact
    integer products and intercepts use the (Sy - b*Sx)/n form (the
    Sy*Sxx product form overflows int64) with a textually identical tree
    in both engines.  All outputs carry `+ 0.0`.

    Scale: one groupBy(custkey) with map-side combine, a band filter
    pushed to the customer scan, a single-row closed form — no window,
    no sort, corpus-size-free."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cnt = o.groupBy("o_custkey").agg(F.count("*").cast("long").alias("c"))
    bal = F.round(F.col("c_acctbal")).cast("long")
    base = (
        c.join(cnt, c.c_custkey == cnt.o_custkey, "left")
        .select(
            (bal - _RDD_CUTOFF).alias("xc"),
            (
                F.coalesce("c", F.lit(0)).cast("long")
                + F.when(bal >= _RDD_CUTOFF, _RDD_BONUS).otherwise(0)
            ).alias("y"),
        )
        .filter(F.abs(F.col("xc")) <= _RDD_H)
    )
    left = F.col("xc") < 0
    right = F.col("xc") >= 0
    m = base.agg(
        F.sum(F.when(left, 1).otherwise(0)).cast("long").alias("nl"),
        F.sum(F.when(left, F.col("xc")).otherwise(0)).cast("long").alias("lx"),
        F.sum(F.when(left, F.col("y")).otherwise(0)).cast("long").alias("ly"),
        F.sum(F.when(left, F.col("xc") * F.col("y")).otherwise(0))
        .cast("long").alias("lxy"),
        F.sum(F.when(left, F.col("xc") * F.col("xc")).otherwise(0))
        .cast("long").alias("lxx"),
        F.sum(F.when(right, 1).otherwise(0)).cast("long").alias("nr"),
        F.sum(F.when(right, F.col("xc")).otherwise(0)).cast("long").alias("rx"),
        F.sum(F.when(right, F.col("y")).otherwise(0)).cast("long").alias("ry"),
        F.sum(F.when(right, F.col("xc") * F.col("y")).otherwise(0))
        .cast("long").alias("rxy"),
        F.sum(F.when(right, F.col("xc") * F.col("xc")).otherwise(0))
        .cast("long").alias("rxx"),
    )
    bl = (F.col("nl") * F.col("lxy") - F.col("lx") * F.col("ly")).cast(
        "double"
    ) / (F.col("nl") * F.col("lxx") - F.col("lx") * F.col("lx"))
    br = (F.col("nr") * F.col("rxy") - F.col("rx") * F.col("ry")).cast(
        "double"
    ) / (F.col("nr") * F.col("rxx") - F.col("rx") * F.col("rx"))
    fit = m.select("nl", "nr", bl.alias("bl"), br.alias("br"),
                   "lx", "ly", "rx", "ry")
    il = (F.col("ly") - F.col("bl") * F.col("lx")) / F.col("nl")
    ir = (F.col("ry") - F.col("br") * F.col("rx")) / F.col("nr")
    return fit.select(
        F.col("nl").alias("n_left"), F.col("nr").alias("n_right"),
        (F.round(il, 6) + F.lit(0.0)).alias("intercept_left"),
        (F.round(ir, 6) + F.lit(0.0)).alias("intercept_right"),
        (F.round(1000 * F.col("bl"), 6) + F.lit(0.0)).alias("slope_left_per_k"),
        (F.round(1000 * F.col("br"), 6) + F.lit(0.0)).alias("slope_right_per_k"),
        (F.round(ir - il, 6) + F.lit(0.0)).alias("tau"),
    )


@query(
    "capture_recapture",
    """
    WITH horizon AS (SELECT MIN(ts::DATE) AS d0 FROM events),
    s1 AS (
        SELECT DISTINCT user_id FROM events, horizon
        WHERE ts::DATE = d0 + INTERVAL 4 DAY
    ),
    s2 AS (
        SELECT DISTINCT user_id FROM events, horizon
        WHERE ts::DATE = d0 + INTERVAL 19 DAY
    ),
    m AS (
        SELECT (SELECT COUNT(*) FROM s1)::BIGINT AS n1,
               (SELECT COUNT(*) FROM s2)::BIGINT AS n2,
               (SELECT COUNT(*) FROM s1 JOIN s2 USING (user_id))::BIGINT AS m,
               (SELECT COUNT(DISTINCT user_id) FROM events)::BIGINT AS n_true
    )
    SELECT n1, n2, m, n_true,
           ROUND(CASE WHEN m > 0 THEN (n1 * n2)::DOUBLE / m END, 6)
               AS lincoln_petersen,
           ROUND(((n1 + 1) * (n2 + 1))::DOUBLE / (m + 1) - 1, 6)
               AS chapman
    FROM m
    """,
)
def capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lincoln-Petersen / Chapman capture-recapture estimate of the total
    user population from two one-day "capture occasions" (days 5 and 20
    of the horizon): N-hat = n1*n2/m from the marked-recapture overlap —
    the ecology estimator data teams reuse to size a population no single
    snapshot sees (how many distinct users exist, from two daily logs).
    Chapman's (n1+1)(n2+1)/(m+1) - 1 is the small-sample bias correction;
    n_true is emitted for the accuracy readout (pytest checks Chapman
    lands within a factor of 2 under the uniform-activity corpus).

    Parity: all four inputs are exact BIGINT distinct counts; each
    estimator is ONE correctly-rounded division (m = 0 yields NULL in
    both engines rather than an infinity).

    Scale: two partition-prunable day filters + distinct aggregates with
    map-side partials; the overlap is a join of two one-day user sets —
    bounded by daily actives, not the corpus."""
    e = load_table(spark, sf_dir, "events")
    d0 = e.agg(F.min(F.to_date("ts")).alias("d0"))
    ed = e.select("user_id", F.to_date("ts").alias("d")).crossJoin(
        F.broadcast(d0)
    )
    s1 = ed.filter(F.col("d") == F.date_add("d0", 4)).select("user_id").distinct()
    s2 = ed.filter(F.col("d") == F.date_add("d0", 19)).select("user_id").distinct()
    c1 = s1.agg(F.count("*").cast("long").alias("n1"))
    c2 = s2.agg(F.count("*").cast("long").alias("n2"))
    cm = s1.join(s2, "user_id").agg(F.count("*").cast("long").alias("m"))
    ct = e.agg(F.countDistinct("user_id").cast("long").alias("n_true"))
    row = c1.crossJoin(c2).crossJoin(cm).crossJoin(ct)
    return row.select(
        "n1", "n2", "m", "n_true",
        F.round(
            F.when(F.col("m") > 0,
                   (F.col("n1") * F.col("n2")).cast("double") / F.col("m")),
            6,
        ).alias("lincoln_petersen"),
        F.round(
            ((F.col("n1") + 1) * (F.col("n2") + 1)).cast("double")
            / (F.col("m") + 1)
            - 1,
            6,
        ).alias("chapman"),
    )


# Gumbel method-of-moments constants as exact integer ratios (the
# ab_power_mde convention): Euler-Mascheroni gamma and pi to 16 digits,
# plus ln(-ln(1 - 1/100)) for the 100-block return level.
_EVT_GAMMA_NUM = 5772156649015329  # / 1e16
_EVT_PI_NUM = 3141592653589793  # / 1e15
_EVT_LN_RL100_NUM = -4600149226776579  # / 1e15 = ln(-ln(0.99))


@query(
    "extreme_value_fit",
    f"""
    WITH daily AS (
        SELECT ts::DATE AS d,
               MAX(CAST(ROUND(value * 100) AS BIGINT))::BIGINT AS mx
        FROM events GROUP BY 1
    ),
    s AS (
        SELECT COUNT(*)::BIGINT AS n, SUM(mx)::BIGINT AS sx,
               SUM(mx * mx)::BIGINT AS sxx
        FROM daily
    ),
    fit AS (
        SELECT n, sx, sxx,
               sx::DOUBLE / n / 100 AS mean_max,
               sqrt(6.0 * ((n * sxx - sx * sx)::DOUBLE / (n * (n - 1))))
                   / ({_EVT_PI_NUM}::DOUBLE / 1000000000000000) / 100 AS beta
        FROM s
    )
    SELECT n AS n_blocks,
           ROUND(mean_max, 6) AS mean_block_max,
           ROUND(beta, 6) AS scale_beta,
           ROUND(mean_max
                 - ({_EVT_GAMMA_NUM}::DOUBLE / 10000000000000000) * beta, 6)
               AS location_mu,
           ROUND(mean_max
                 - ({_EVT_GAMMA_NUM}::DOUBLE / 10000000000000000) * beta
                 - beta * ({_EVT_LN_RL100_NUM}::DOUBLE / 1000000000000000), 6)
               AS return_level_100
    FROM fit
    """,
)
def extreme_value_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel extreme-value fit of the daily maximum event value (block
    maxima, method of moments): scale beta = s*sqrt(6)/pi, location mu =
    mean - gamma*beta, and the 100-day return level mu - beta*ln(-ln(1 -
    1/100)) — the capacity-planning question "what's the biggest value we
    should expect over the next 100 days" (Gumbel 1958; the EVT
    counterpart to hill_tail_index's power-law tail exponent).

    Parity: block maxima are exact cents; n/S/Sxx are exact BIGINTs and
    the variance is one division of integer products; gamma, pi, and the
    ln(-ln(0.99)) constant enter as INTEGER-literal ratios (the
    ab_power_mde decimal-literal-ulp-proof convention), sqrt is IEEE
    correctly rounded, and every output is a fixed expression tree on
    those doubles.

    Scale: one groupBy(day) MAX with map-side combine collapses the
    corpus; the fit runs on a single 3-integer row."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.max(F.round(F.col("value") * 100).cast("long")).cast("long").alias("mx")
    )
    s = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("mx").cast("long").alias("sx"),
        F.sum(F.col("mx") * F.col("mx")).cast("long").alias("sxx"),
    )
    gamma = F.lit(_EVT_GAMMA_NUM).cast("double") / F.lit(10**16).cast("double")
    pi = F.lit(_EVT_PI_NUM).cast("double") / F.lit(10**15).cast("double")
    lnrl = F.lit(_EVT_LN_RL100_NUM).cast("double") / F.lit(10**15).cast("double")
    mean_max = F.col("sx").cast("double") / F.col("n") / 100
    beta = (
        F.sqrt(
            6.0
            * (
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                .cast("double")
                / (F.col("n") * (F.col("n") - 1))
            )
        )
        / pi
        / 100
    )
    fit = s.select(
        "n", mean_max.alias("mean_max"), beta.alias("beta")
    )
    mu = F.col("mean_max") - gamma * F.col("beta")
    return fit.select(
        F.col("n").alias("n_blocks"),
        F.round("mean_max", 6).alias("mean_block_max"),
        F.round("beta", 6).alias("scale_beta"),
        F.round(mu, 6).alias("location_mu"),
        F.round(mu - F.col("beta") * lnrl, 6).alias("return_level_100"),
    )


@query(
    "durbin_watson",
    """
    WITH days AS (SELECT DISTINCT ts::DATE AS d FROM events),
    cnts AS (
        SELECT ts::DATE AS d, COUNT(*)::BIGINT AS y
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    tl AS (
        SELECT ROW_NUMBER() OVER (ORDER BY days.d)::BIGINT AS t,
               COALESCE(cnts.y, 0)::BIGINT AS y
        FROM days LEFT JOIN cnts ON cnts.d = days.d
    ),
    s AS (
        SELECT COUNT(*)::BIGINT AS n, SUM(t)::BIGINT AS st,
               SUM(y)::BIGINT AS sy, SUM(t * y)::BIGINT AS sty,
               SUM(t * t)::BIGINT AS stt
        FROM tl
    ),
    coef AS (
        SELECT n, (n * stt - st * st)::BIGINT AS det,
               (n * sty - st * sy)::BIGINT AS bnum,
               (sy * stt - st * sty)::BIGINT AS anum
        FROM s
    ),
    res AS (
        SELECT tl.t, (coef.det * tl.y - coef.anum - coef.bnum * tl.t)::BIGINT
                   AS e
        FROM tl, coef
    ),
    dd AS (
        SELECT SUM(e * e)::BIGINT AS see,
               SUM(CASE WHEN pe IS NULL THEN 0
                        ELSE (e - pe) * (e - pe) END)::BIGINT AS sdd
        FROM (SELECT e, LAG(e) OVER (ORDER BY t) AS pe FROM res)
    )
    SELECT (SELECT n FROM coef) AS n,
           ROUND(sdd::DOUBLE / see, 6) AS dw,
           ROUND(1.0 - (sdd::DOUBLE / see) / 2, 6) + 0.0 AS rho_approx
    FROM dd
    """,
)
def durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson statistic of the OLS-trend residuals of the daily
    purchase series — the lag-1 serial-correlation diagnostic a forecast
    fit reports next to ljung_box's portmanteau: DW = sum((e_t -
    e_{t-1})^2) / sum(e_t^2), ~2 under independence, <2 positive
    autocorrelation (Durbin & Watson 1950).

    Parity: with det = n*Stt - St^2, the D-SCALED residuals e~_t = det*y_t
    - anum - bnum*t are EXACT BIGINTs (the rational OLS intercept/slope
    never materialize as floats; the common factor det cancels in the DW
    ratio), so both folds are exact integer sums and DW is ONE
    correctly-rounded division.  |e~| ~ det * residual ~ 7e10 at sf1's
    count scale — squares stay inside int64 because residuals are
    O(series noise), orders below the raw terms.  rho_approx can round
    to a signed zero, hence `+ 0.0`.

    Scale: one groupBy(day) collapses the corpus; the OLS closed form,
    scaled residuals, and lag window all run on the |days|-row timeline."""
    e = load_table(spark, sf_dir, "events")
    days = e.select(F.to_date("ts").alias("d")).distinct()
    cnts = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count("*").cast("long").alias("y"))
    )
    tl = (
        days.join(cnts, "d", "left")
        .select("d", F.coalesce("y", F.lit(0)).cast("long").alias("y"))
        .select(
            F.row_number().over(Window.orderBy("d")).cast("long").alias("t"), "y"
        )
    )
    s = tl.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("t").cast("long").alias("st"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("t") * F.col("y")).cast("long").alias("sty"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("stt"),
    )
    coef = s.select(
        "n",
        (F.col("n") * F.col("stt") - F.col("st") * F.col("st")).alias("det"),
        (F.col("n") * F.col("sty") - F.col("st") * F.col("sy")).alias("bnum"),
        (F.col("sy") * F.col("stt") - F.col("st") * F.col("sty")).alias("anum"),
    )
    res = tl.crossJoin(F.broadcast(coef)).select(
        "t", "n",
        (F.col("det") * F.col("y") - F.col("anum") - F.col("bnum") * F.col("t"))
        .alias("e"),
    )
    lagged = res.select(
        "n", "e", F.lag("e").over(Window.orderBy("t")).alias("pe")
    )
    dd = lagged.groupBy("n").agg(
        F.sum(F.col("e") * F.col("e")).cast("long").alias("see"),
        F.sum(
            F.when(F.col("pe").isNull(), 0).otherwise(
                (F.col("e") - F.col("pe")) * (F.col("e") - F.col("pe"))
            )
        ).cast("long").alias("sdd"),
    )
    dw = F.col("sdd").cast("double") / F.col("see")
    return dd.select(
        "n",
        F.round(dw, 6).alias("dw"),
        (F.round(1.0 - dw / 2, 6) + F.lit(0.0)).alias("rho_approx"),
    )


@query(
    "kruskal_wallis",
    """
    WITH ev AS (
        SELECT event_type AS g, CAST(ROUND(value * 100) AS BIGINT) AS v
        FROM events
    ),
    grid AS (SELECT v, COUNT(*)::BIGINT AS eq FROM ev GROUP BY v),
    cum AS (
        SELECT v, eq,
               (SUM(eq) OVER (ORDER BY v) - eq)::BIGINT AS less
        FROM grid
    ),
    gv AS (
        SELECT g, v, COUNT(*)::BIGINT AS m FROM ev GROUP BY g, v
    ),
    dr AS (
        SELECT gv.g, SUM(gv.m)::BIGINT AS n_g,
               SUM(gv.m * (2 * cum.less + cum.eq + 1))::BIGINT AS dr
        FROM gv JOIN cum ON cum.v = gv.v
        GROUP BY gv.g
    ),
    wide AS (
        SELECT SUM(n_g)::BIGINT AS n,
               MAX(CASE WHEN g = 'click' THEN dr END)::BIGINT AS d1,
               MAX(CASE WHEN g = 'click' THEN n_g END)::BIGINT AS m1,
               MAX(CASE WHEN g = 'error' THEN dr END)::BIGINT AS d2,
               MAX(CASE WHEN g = 'error' THEN n_g END)::BIGINT AS m2,
               MAX(CASE WHEN g = 'purchase' THEN dr END)::BIGINT AS d3,
               MAX(CASE WHEN g = 'purchase' THEN n_g END)::BIGINT AS m3,
               MAX(CASE WHEN g = 'signup' THEN dr END)::BIGINT AS d4,
               MAX(CASE WHEN g = 'signup' THEN n_g END)::BIGINT AS m4,
               MAX(CASE WHEN g = 'view' THEN dr END)::BIGINT AS d5,
               MAX(CASE WHEN g = 'view' THEN n_g END)::BIGINT AS m5
        FROM dr
    ),
    ties AS (
        SELECT SUM(eq * eq * eq - eq)::BIGINT AS tsum FROM grid
    )
    SELECT n,
           ROUND((3.0 * (d1::DOUBLE * d1 / m1 + d2::DOUBLE * d2 / m2
                         + d3::DOUBLE * d3 / m3 + d4::DOUBLE * d4 / m4
                         + d5::DOUBLE * d5 / m5))
                 / (n::DOUBLE * (n + 1)) - 3.0 * (n + 1), 6) AS h_stat,
           ROUND(1.0 - tsum::DOUBLE / (n::DOUBLE * n * n - n), 6)
               AS tie_correction,
           ROUND(((3.0 * (d1::DOUBLE * d1 / m1 + d2::DOUBLE * d2 / m2
                          + d3::DOUBLE * d3 / m3 + d4::DOUBLE * d4 / m4
                          + d5::DOUBLE * d5 / m5))
                  / (n::DOUBLE * (n + 1)) - 3.0 * (n + 1))
                 / (1.0 - tsum::DOUBLE / (n::DOUBLE * n * n - n)), 6)
               AS h_corrected
    FROM wide, ties
    """,
)
def kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis rank one-way ANOVA across the five event types on
    event value — the nonparametric companion to anova_oneway (means) and
    the k-group generalization of mann_whitney_u: H = 12/(N(N+1)) *
    sum R_i^2/n_i - 3(N+1), divided by the tie correction 1 -
    sum(t^3 - t)/(N^3 - N) (Kruskal & Wallis 1952).

    Parity: the mann_whitney_u doubled-rank discipline — on the distinct-
    cents grid, 2*avgrank = 2*less + eq + 1 is an exact BIGINT, per-group
    doubled rank sums dR_g are exact integer folds, and H = 3*sum(dR_g^2/
    n_g)/(N(N+1)) - 3(N+1) (the 12/4 collapses against the doubling).
    dR_g^2 exceeds 2^53 at sf0.1, so each square is computed in DOUBLE —
    identically rounded in both engines from identical exact integers —
    and the five group terms sum in FIXED pivot order (click, error,
    purchase, signup, view), never in shuffle order.

    Scale: ranks come from the distinct-value grid (groupBy + one
    cumulative window over |distinct cents| rows), per-group sums are one
    grid-sized join + groupBy; the corpus itself is touched by exactly
    two map-side-combine aggregations."""
    e = load_table(spark, sf_dir, "events")
    ev = e.select(
        F.col("event_type").alias("g"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    grid = ev.groupBy("v").agg(F.count("*").cast("long").alias("eq"))
    cum = grid.select(
        "v", "eq",
        (
            F.sum("eq").over(
                Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
            )
            - F.col("eq")
        ).cast("long").alias("less"),
    )
    gv = ev.groupBy("g", "v").agg(F.count("*").cast("long").alias("m"))
    dr = (
        gv.join(cum, "v")
        .groupBy("g")
        .agg(
            F.sum("m").cast("long").alias("n_g"),
            F.sum(
                F.col("m") * (2 * F.col("less") + F.col("eq") + 1)
            ).cast("long").alias("dr"),
        )
    )
    types = ["click", "error", "purchase", "signup", "view"]
    aggs = [F.sum("n_g").cast("long").alias("n")]
    for i, t in enumerate(types, start=1):
        aggs.append(
            F.max(F.when(F.col("g") == t, F.col("dr"))).cast("long").alias(f"d{i}")
        )
        aggs.append(
            F.max(F.when(F.col("g") == t, F.col("n_g"))).cast("long")
            .alias(f"m{i}")
        )
    wide = dr.agg(*aggs)
    ties = grid.agg(
        F.sum(F.col("eq") * F.col("eq") * F.col("eq") - F.col("eq"))
        .cast("long").alias("tsum")
    )
    w = wide.crossJoin(F.broadcast(ties))
    ssum = None
    for i in range(1, 6):
        term = F.col(f"d{i}").cast("double") * F.col(f"d{i}") / F.col(f"m{i}")
        ssum = term if ssum is None else ssum + term
    nn = F.col("n").cast("double")
    h = 3.0 * ssum / (nn * (F.col("n") + 1)) - 3.0 * (F.col("n") + 1)
    corr = 1.0 - F.col("tsum").cast("double") / (nn * F.col("n") * F.col("n") - F.col("n"))
    return w.select(
        "n",
        F.round(h, 6).alias("h_stat"),
        F.round(corr, 6).alias("tie_correction"),
        F.round(h / corr, 6).alias("h_corrected"),
    )


@query(
    "mcnemar_test",
    """
    WITH horizon AS (SELECT MIN(ts::DATE) AS d0 FROM events),
    u AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'purchase'
                         AND ts::DATE < d0 + INTERVAL 15 DAY
                        THEN 1 ELSE 0 END) AS x,
               MAX(CASE WHEN event_type = 'purchase'
                         AND ts::DATE >= d0 + INTERVAL 15 DAY
                        THEN 1 ELSE 0 END) AS y
        FROM events, horizon GROUP BY user_id
    ),
    m AS (
        SELECT COUNT(*)::BIGINT AS n,
               SUM(CASE WHEN x = 1 AND y = 1 THEN 1 ELSE 0 END)::BIGINT AS a,
               SUM(CASE WHEN x = 1 AND y = 0 THEN 1 ELSE 0 END)::BIGINT AS b,
               SUM(CASE WHEN x = 0 AND y = 1 THEN 1 ELSE 0 END)::BIGINT AS c,
               SUM(CASE WHEN x = 0 AND y = 0 THEN 1 ELSE 0 END)::BIGINT AS d
        FROM u
    )
    SELECT n, a, b, c, d,
           ROUND(CASE WHEN b + c > 0
                      THEN ((b - c) * (b - c))::DOUBLE / (b + c) END, 6)
               AS chi2,
           ROUND(CASE WHEN b + c > 0
                      THEN ((abs(b - c) - 1) * (abs(b - c) - 1))::DOUBLE
                           / (b + c) END, 6) AS chi2_corrected
    FROM m
    """,
)
def mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test of paired binary outcomes — did per-user conversion
    CHANGE between the first and second half of the horizon: only the
    discordant pairs carry information, chi2 = (b - c)^2/(b + c) with
    Edwards' continuity correction (McNemar 1947) — the paired
    counterpart to ab_test_zscore's independent-groups comparison.

    Parity: the 2x2 paired table is five exact BIGINT conditional sums
    over one groupBy(user); both statistics are ONE correctly-rounded
    division of exact integer products (b + c = 0 yields NULL in both
    engines).

    Scale: one groupBy(user) with map-side combine; the test runs on a
    single 5-integer row."""
    e = load_table(spark, sf_dir, "events")
    d0 = e.agg(F.min(F.to_date("ts")).alias("d0"))
    u = (
        e.crossJoin(F.broadcast(d0))
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.to_date("ts") < F.date_add("d0", 15)),
                    1,
                ).otherwise(0)
            ).alias("x"),
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.to_date("ts") >= F.date_add("d0", 15)),
                    1,
                ).otherwise(0)
            ).alias("y"),
        )
    )
    m = u.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when((F.col("x") == 1) & (F.col("y") == 1), 1).otherwise(0))
        .cast("long").alias("a"),
        F.sum(F.when((F.col("x") == 1) & (F.col("y") == 0), 1).otherwise(0))
        .cast("long").alias("b"),
        F.sum(F.when((F.col("x") == 0) & (F.col("y") == 1), 1).otherwise(0))
        .cast("long").alias("c"),
        F.sum(F.when((F.col("x") == 0) & (F.col("y") == 0), 1).otherwise(0))
        .cast("long").alias("d"),
    )
    bc = F.col("b") + F.col("c")
    return m.select(
        "n", "a", "b", "c", "d",
        F.round(
            F.when(
                bc > 0,
                ((F.col("b") - F.col("c")) * (F.col("b") - F.col("c")))
                .cast("double") / bc,
            ),
            6,
        ).alias("chi2"),
        F.round(
            F.when(
                bc > 0,
                (
                    (F.abs(F.col("b") - F.col("c")) - 1)
                    * (F.abs(F.col("b") - F.col("c")) - 1)
                ).cast("double") / bc,
            ),
            6,
        ).alias("chi2_corrected"),
    )


@query(
    "cronbach_alpha",
    """
    WITH users AS (SELECT DISTINCT user_id FROM events),
    types AS (SELECT DISTINCT event_type AS g FROM events),
    cnts AS (
        SELECT user_id, event_type AS g, COUNT(*)::BIGINT AS x
        FROM events GROUP BY 1, 2
    ),
    grid AS (
        SELECT u.user_id, t.g, COALESCE(c.x, 0)::BIGINT AS x
        FROM users u CROSS JOIN types t
        LEFT JOIN cnts c ON c.user_id = u.user_id AND c.g = t.g
    ),
    item AS (
        SELECT g, COUNT(*)::BIGINT AS n, SUM(x)::BIGINT AS s,
               SUM(x * x)::BIGINT AS ss
        FROM grid GROUP BY g
    ),
    items AS (
        SELECT MAX(n)::BIGINT AS n, COUNT(*)::BIGINT AS k,
               SUM(n * ss - s * s)::BIGINT AS vi
        FROM item
    ),
    tot AS (
        SELECT user_id, SUM(x)::BIGINT AS tx FROM grid GROUP BY user_id
    ),
    vtot AS (
        SELECT COUNT(*)::BIGINT AS n,
               (COUNT(*) * SUM(tx * tx) - SUM(tx) * SUM(tx))::BIGINT AS vt
        FROM tot
    )
    SELECT items.n AS n_users, items.k AS k_items,
           ROUND(items.vi::DOUBLE / (items.n * (items.n - 1)), 6)
               AS sum_item_var,
           ROUND(vtot.vt::DOUBLE / (vtot.n * (vtot.n - 1)), 6) AS total_var,
           ROUND((items.k * (vtot.vt - items.vi))::DOUBLE
                 / ((items.k - 1) * vtot.vt), 6) + 0.0 AS alpha
    FROM items, vtot
    """,
)
def cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha over the five per-user event-type counts — the
    internal-consistency readout "do these activity signals measure one
    underlying engagement trait": alpha = k/(k-1) * (1 - sum var_i /
    var_total) (Cronbach 1951), the reliability companion to
    cohens_kappa's two-rater agreement.

    Parity: the (user, type) score grid is zero-filled; every variance
    numerator is the exact BIGINT form n*Sxx - S^2, all item numerators
    SHARE the denominator n(n-1) so they sum exactly, and alpha collapses
    to ONE division of exact integer products k*(VT - VI) / ((k-1)*VT).
    alpha can be a tiny negative rounding to zero, hence `+ 0.0`.

    Scale: one groupBy(user, type) with map-side combine collapses the
    corpus; the grid is |users| x 5 rows, the item and total folds are
    two bounded aggregations."""
    e = load_table(spark, sf_dir, "events")
    users = e.select("user_id").distinct()
    types = e.select(F.col("event_type").alias("g")).distinct()
    cnts = e.groupBy("user_id", F.col("event_type").alias("g")).agg(
        F.count("*").cast("long").alias("x")
    )
    grid = (
        users.crossJoin(types)
        .join(cnts, ["user_id", "g"], "left")
        .select(
            "user_id", "g", F.coalesce("x", F.lit(0)).cast("long").alias("x")
        )
    )
    item = grid.groupBy("g").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("ss"),
    )
    items = item.agg(
        F.max("n").cast("long").alias("n"),
        F.count("*").cast("long").alias("k"),
        F.sum(F.col("n") * F.col("ss") - F.col("s") * F.col("s"))
        .cast("long").alias("vi"),
    )
    tot = grid.groupBy("user_id").agg(F.sum("x").cast("long").alias("tx"))
    vtot = tot.agg(
        F.count("*").cast("long").alias("nt"),
        (
            F.count("*") * F.sum(F.col("tx") * F.col("tx"))
            - F.sum("tx") * F.sum("tx")
        ).cast("long").alias("vt"),
    )
    j = items.crossJoin(F.broadcast(vtot))
    return j.select(
        F.col("n").alias("n_users"),
        F.col("k").alias("k_items"),
        F.round(
            F.col("vi").cast("double") / (F.col("n") * (F.col("n") - 1)), 6
        ).alias("sum_item_var"),
        F.round(
            F.col("vt").cast("double") / (F.col("nt") * (F.col("nt") - 1)), 6
        ).alias("total_var"),
        (
            F.round(
                (F.col("k") * (F.col("vt") - F.col("vi"))).cast("double")
                / ((F.col("k") - 1) * F.col("vt")),
                6,
            )
            + F.lit(0.0)
        ).alias("alpha"),
    )


@query(
    "friedman_test",
    """
    WITH grid AS (
        SELECT ts::DATE AS d, event_type AS g, COUNT(*)::BIGINT AS x
        FROM events GROUP BY 1, 2
    ),
    full_grid AS (
        SELECT dy.d, t.g, COALESCE(grid.x, 0)::BIGINT AS x
        FROM (SELECT DISTINCT ts::DATE AS d FROM events) dy
        CROSS JOIN (SELECT DISTINCT event_type AS g FROM events) t
        LEFT JOIN grid ON grid.d = dy.d AND grid.g = t.g
    ),
    ranked AS (
        SELECT a.d, a.g,
               SUM(CASE WHEN b.x < a.x THEN 2
                        WHEN b.x = a.x THEN 1 ELSE 0 END)::BIGINT + 1 AS dr
        FROM full_grid a JOIN full_grid b ON b.d = a.d
        GROUP BY a.d, a.g
    ),
    rsum AS (
        SELECT g, SUM(dr)::BIGINT AS r FROM ranked GROUP BY g
    ),
    wide AS (
        SELECT (SELECT COUNT(DISTINCT d) FROM full_grid)::BIGINT AS n,
               (SELECT COUNT(DISTINCT g) FROM full_grid)::BIGINT AS k,
               MAX(CASE WHEN g = 'click' THEN r END)::BIGINT AS r1,
               MAX(CASE WHEN g = 'error' THEN r END)::BIGINT AS r2,
               MAX(CASE WHEN g = 'purchase' THEN r END)::BIGINT AS r3,
               MAX(CASE WHEN g = 'signup' THEN r END)::BIGINT AS r4,
               MAX(CASE WHEN g = 'view' THEN r END)::BIGINT AS r5
        FROM rsum
    )
    SELECT n AS n_blocks, k AS k_treatments,
           ROUND(3.0 * (r1 * r1 + r2 * r2 + r3 * r3 + r4 * r4 + r5 * r5)
                 / (n::DOUBLE * k * (k + 1)) - 3.0 * n * (k + 1), 6)
               AS chi2_f
    FROM wide
    """,
)
def friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test — do the five event types keep the same relative
    intensity ordering across days: each day is a BLOCK, the five daily
    counts are ranked within the day, and chi2_F = 12/(nk(k+1)) *
    sum R_j^2 - 3n(k+1) ~ chi^2(k-1) under the null of exchangeable
    columns (Friedman 1937) — the repeated-measures counterpart to
    kruskal_wallis's independent groups.

    Parity: within-block ranks use the doubled-average-rank form 2*less +
    eq + 1 from a 5x5 per-day self-join — exact BIGINTs (average ranks
    from ties never materialize as floats); rank sums pivot in FIXED type
    order and the statistic absorbs the doubling (12/4 = 3): ONE fixed
    expression on exact integers.

    Scale: one groupBy(day, type) with map-side combine collapses the
    corpus; everything after runs on the |days| x 5 grid."""
    e = load_table(spark, sf_dir, "events")
    days = e.select(F.to_date("ts").alias("d")).distinct()
    types = e.select(F.col("event_type").alias("g")).distinct()
    grid = e.groupBy(
        F.to_date("ts").alias("d"), F.col("event_type").alias("g")
    ).agg(F.count("*").cast("long").alias("x"))
    fg = (
        days.crossJoin(types)
        .join(grid, ["d", "g"], "left")
        .select("d", "g", F.coalesce("x", F.lit(0)).cast("long").alias("x"))
    )
    b = fg.select(
        F.col("d").alias("db"), F.col("x").alias("xb")
    )
    ranked = (
        fg.join(b, F.col("db") == F.col("d"))
        .groupBy("d", "g")
        .agg(
            (
                F.sum(
                    F.when(F.col("xb") < F.col("x"), 2)
                    .when(F.col("xb") == F.col("x"), 1)
                    .otherwise(0)
                )
                + 1
            ).cast("long").alias("dr")
        )
    )
    rsum = ranked.groupBy("g").agg(F.sum("dr").cast("long").alias("r"))
    types_l = ["click", "error", "purchase", "signup", "view"]
    aggs = []
    for i, t in enumerate(types_l, start=1):
        aggs.append(
            F.max(F.when(F.col("g") == t, F.col("r"))).cast("long").alias(f"r{i}")
        )
    wide = rsum.agg(*aggs)
    nk = days.agg(F.count("*").cast("long").alias("n")).crossJoin(
        types.agg(F.count("*").cast("long").alias("k"))
    )
    w = wide.crossJoin(F.broadcast(nk))
    ss = sum(F.col(f"r{i}") * F.col(f"r{i}") for i in range(1, 6))
    return w.select(
        F.col("n").alias("n_blocks"),
        F.col("k").alias("k_treatments"),
        F.round(
            3.0 * ss / (F.col("n").cast("double") * F.col("k") * (F.col("k") + 1))
            - 3.0 * F.col("n") * (F.col("k") + 1),
            6,
        ).alias("chi2_f"),
    )


# z_{0.95} for the two one-sided tests, as an exact integer ratio.
_TOST_Z95_NUM = 1644853626951473  # / 1e15


@query(
    "tost_equivalence",
    f"""
    WITH p AS (
        SELECT user_id % 2 AS grp, CAST(ROUND(value * 100) AS BIGINT) AS v
        FROM events WHERE event_type = 'purchase'
    ),
    m AS (
        SELECT
            SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
            SUM(CASE WHEN grp = 0 THEN v ELSE 0 END)::BIGINT AS s0,
            SUM(CASE WHEN grp = 0 THEN v * v ELSE 0 END)::BIGINT AS ss0,
            SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
            SUM(CASE WHEN grp = 1 THEN v ELSE 0 END)::BIGINT AS s1,
            SUM(CASE WHEN grp = 1 THEN v * v ELSE 0 END)::BIGINT AS ss1
        FROM p
    ),
    f AS (
        SELECT n0, n1,
               (s1::DOUBLE / n1 - s0::DOUBLE / n0) AS diff,
               sqrt(((n0 * ss0 - s0 * s0)::DOUBLE / (n0 * (n0 - 1))) / n0
                    + ((n1 * ss1 - s1 * s1)::DOUBLE / (n1 * (n1 - 1))) / n1)
                   AS se,
               0.05 * ((s0 + s1)::DOUBLE / (n0 + n1)) AS delta
        FROM m
    )
    SELECT n0, n1,
           ROUND(diff, 6) + 0.0 AS mean_diff_cents,
           ROUND(se, 6) AS se_cents,
           ROUND(delta, 6) AS margin_cents,
           ROUND((diff + delta) / se, 6) + 0.0 AS z_lower,
           ROUND((diff - delta) / se, 6) + 0.0 AS z_upper,
           ((diff + delta) / se > {_TOST_Z95_NUM}::DOUBLE / 1000000000000000
            AND (diff - delta) / se
                < -({_TOST_Z95_NUM}::DOUBLE / 1000000000000000))
               AS equivalent
    FROM f
    """,
)
def tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence test (Schuirmann 1987) of purchase value between
    the two user-parity arms — the question ab_test_zscore CANNOT answer:
    not "is there a difference" but "are the arms equivalent within a
    +/-5%-of-mean margin".  Both one-sided z tests must reject at alpha =
    .05: z_lower = (diff + delta)/se > z95 AND z_upper = (diff -
    delta)/se < -z95.

    Parity: cents moments are exact BIGINT conditional sums in ONE
    aggregate; diff/se/delta are fixed expression trees on single
    divisions of exact integers (Welch se; margin = 5% of the pooled
    mean, itself one exact division); z95 enters as an INTEGER-literal
    ratio and the equivalence verdict compares identical doubles — the
    same boolean in both engines.  diff and both z's can round to signed
    zero, hence `+ 0.0`.

    Scale: one filtered full-scan aggregate with map-side combine; the
    test runs on one 6-integer row."""
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        (F.col("user_id") % 2).alias("grp"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    m = p.agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).cast("long").alias("n0"),
        F.sum(F.when(F.col("grp") == 0, F.col("v")).otherwise(0))
        .cast("long").alias("s0"),
        F.sum(F.when(F.col("grp") == 0, F.col("v") * F.col("v")).otherwise(0))
        .cast("long").alias("ss0"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("grp") == 1, F.col("v")).otherwise(0))
        .cast("long").alias("s1"),
        F.sum(F.when(F.col("grp") == 1, F.col("v") * F.col("v")).otherwise(0))
        .cast("long").alias("ss1"),
    )
    diff = F.col("s1").cast("double") / F.col("n1") - F.col("s0").cast(
        "double"
    ) / F.col("n0")
    se = F.sqrt(
        ((F.col("n0") * F.col("ss0") - F.col("s0") * F.col("s0")).cast("double")
         / (F.col("n0") * (F.col("n0") - 1))) / F.col("n0")
        + ((F.col("n1") * F.col("ss1") - F.col("s1") * F.col("s1")).cast("double")
           / (F.col("n1") * (F.col("n1") - 1))) / F.col("n1")
    )
    delta = 0.05 * ((F.col("s0") + F.col("s1")).cast("double")
                    / (F.col("n0") + F.col("n1")))
    f = m.select(
        "n0", "n1", diff.alias("diff"), se.alias("se"), delta.alias("delta")
    )
    z95 = F.lit(_TOST_Z95_NUM).cast("double") / F.lit(10**15).cast("double")
    zl = (F.col("diff") + F.col("delta")) / F.col("se")
    zu = (F.col("diff") - F.col("delta")) / F.col("se")
    return f.select(
        "n0", "n1",
        (F.round("diff", 6) + F.lit(0.0)).alias("mean_diff_cents"),
        F.round("se", 6).alias("se_cents"),
        F.round("delta", 6).alias("margin_cents"),
        (F.round(zl, 6) + F.lit(0.0)).alias("z_lower"),
        (F.round(zu, 6) + F.lit(0.0)).alias("z_upper"),
        ((zl > z95) & (zu < -z95)).alias("equivalent"),
    )


@query(
    "negative_binomial_fit",
    """
    WITH days AS (SELECT DISTINCT ts::DATE AS d FROM events),
    types AS (SELECT DISTINCT event_type FROM events),
    cnts AS (
        SELECT event_type, ts::DATE AS d, COUNT(*)::BIGINT AS x
        FROM events GROUP BY 1, 2
    ),
    grid AS (
        SELECT t.event_type, dy.d, COALESCE(c.x, 0)::BIGINT AS x
        FROM types t CROSS JOIN days dy
        LEFT JOIN cnts c ON c.event_type = t.event_type AND c.d = dy.d
    ),
    s AS (
        SELECT event_type, COUNT(*)::BIGINT AS n, SUM(x)::BIGINT AS sx,
               SUM(x * x)::BIGINT AS sxx
        FROM grid GROUP BY event_type
    )
    SELECT event_type, n,
           ROUND(sx::DOUBLE / n, 6) AS mean_daily,
           ROUND((n * sxx - sx * sx)::DOUBLE / (n * (n - 1)), 6) AS var_daily,
           CASE WHEN (n * sxx - sx * sx) * n > sx * sx * (n - 1)
                THEN ROUND((sx::DOUBLE / n) * (sx::DOUBLE / n)
                           / ((n * sxx - sx * sx)::DOUBLE / (n * (n - 1))
                              - sx::DOUBLE / n), 6)
           END AS r_size,
           CASE WHEN (n * sxx - sx * sx) * n > sx * sx * (n - 1)
                THEN ROUND((sx::DOUBLE / n)
                           / ((n * sxx - sx * sx)::DOUBLE / (n * (n - 1))), 6)
           END AS p_success
    FROM s ORDER BY event_type
    """,
)
def negative_binomial_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-binomial method-of-moments fit of the daily count
    distribution per event type — the model dispersion_index says you
    need when D > 1: r = m^2/(v - m), p = m/v (NB2 parameterization).
    Types whose sample variance does not exceed the mean get NULL (the
    NB fit does not exist there — Poisson or binomial territory), via an
    EXACT integer cross-multiplied condition, never a float compare.

    Parity: the zero-filled grid and moments are shared with
    dispersion_index (exact BIGINTs); m and v are single divisions and
    r/p are fixed trees on them.  The existence condition (n*Sxx -
    Sx^2)*n > Sx^2*(n-1) is v > m cross-multiplied into int64-safe
    products (~1e17 at sf1).

    Scale: one groupBy(type, day) with map-side combine; the fit runs on
    |types| rows."""
    e = load_table(spark, sf_dir, "events")
    days = e.select(F.to_date("ts").alias("d")).distinct()
    types = e.select("event_type").distinct()
    cnts = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count("*").cast("long").alias("x")
    )
    grid = (
        types.crossJoin(days)
        .join(cnts, ["event_type", "d"], "left")
        .select(
            "event_type", "d", F.coalesce("x", F.lit(0)).cast("long").alias("x")
        )
    )
    s = grid.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    num = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    m = F.col("sx").cast("double") / F.col("n")
    v = num.cast("double") / (F.col("n") * (F.col("n") - 1))
    exists = num * F.col("n") > F.col("sx") * F.col("sx") * (F.col("n") - 1)
    return s.select(
        "event_type", "n",
        F.round(m, 6).alias("mean_daily"),
        F.round(v, 6).alias("var_daily"),
        F.when(exists, F.round(m * m / (v - m), 6)).alias("r_size"),
        F.when(exists, F.round(m / v, 6)).alias("p_success"),
    ).orderBy("event_type")


@query(
    "uplift_stump",
    """
    WITH u AS (
        SELECT user_id,
               ('0x' || substr(md5('up:' || user_id::VARCHAR), 1, 8))::BIGINT
                   % 2 AS t,
               COUNT(*)::BIGINT AS x,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS y
        FROM events GROUP BY user_id
    ),
    tot AS (
        SELECT SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END)::BIGINT AS nt,
               SUM(CASE WHEN t = 1 THEN y ELSE 0 END)::BIGINT AS ct,
               SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END)::BIGINT AS nc,
               SUM(CASE WHEN t = 0 THEN y ELSE 0 END)::BIGINT AS cc
        FROM u
    ),
    grid AS (
        SELECT x,
               SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END)::BIGINT AS nt,
               SUM(CASE WHEN t = 1 THEN y ELSE 0 END)::BIGINT AS ct,
               SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END)::BIGINT AS nc,
               SUM(CASE WHEN t = 0 THEN y ELSE 0 END)::BIGINT AS cc
        FROM u GROUP BY x
    ),
    cum AS (
        SELECT x,
               SUM(nt) OVER (ORDER BY x)::BIGINT AS lnt,
               SUM(ct) OVER (ORDER BY x)::BIGINT AS lct,
               SUM(nc) OVER (ORDER BY x)::BIGINT AS lnc,
               SUM(cc) OVER (ORDER BY x)::BIGINT AS lcc
        FROM grid
    ),
    scored AS (
        SELECT cum.x AS threshold,
               lnt, lct, lnc, lcc,
               (tot.nt - lnt)::BIGINT AS rnt, (tot.ct - lct)::BIGINT AS rct,
               (tot.nc - lnc)::BIGINT AS rnc, (tot.cc - lcc)::BIGINT AS rcc,
               (lct::DOUBLE / lnt - lcc::DOUBLE / lnc)
               - ((tot.ct - lct)::DOUBLE / (tot.nt - lnt)
                  - (tot.cc - lcc)::DOUBLE / (tot.nc - lnc)) AS gap
        FROM cum, tot
        WHERE lnt > 0 AND lnc > 0 AND tot.nt - lnt > 0 AND tot.nc - lnc > 0
    )
    SELECT threshold,
           lnt AS left_nt, lct AS left_ct, lnc AS left_nc, lcc AS left_cc,
           rnt AS right_nt, rct AS right_ct, rnc AS right_nc, rcc AS right_cc,
           ROUND(lct::DOUBLE / lnt - lcc::DOUBLE / lnc, 6) + 0.0
               AS uplift_left,
           ROUND(rct::DOUBLE / rnt - rcc::DOUBLE / rnc, 6) + 0.0
               AS uplift_right,
           ROUND(abs(gap), 6) AS uplift_gap
    FROM scored
    ORDER BY ROUND(abs(gap), 6) DESC, threshold ASC LIMIT 1
    """,
)
def uplift_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uplift-tree split finder (one stump): the activity threshold that
    maximizes the DIFFERENCE in treatment effect between its two sides —
    the inner loop of uplift modeling (Radcliffe & Surry; Rzepakowski &
    Jaroszewicz), which targets "whom does the treatment help MOST", not
    "who converts": treatment is the repo-wide md5 coin on user_id,
    outcome is conversion, the covariate is the user's event count, and
    each side's uplift is conv_T - conv_C.

    Parity: per-threshold counts come from ONE cumulative window over the
    distinct-activity grid (the decision_stump machinery doubled across
    the four treatment/outcome cells — all exact BIGINTs); each uplift is
    a fixed tree of single divisions; the argmax sorts the ROUNDED |gap|
    (rounded before the sort, the pagerank_docs discipline) with a
    threshold tiebreak.  Degenerate sides (an arm empty on either side)
    are excluded by exact integer conditions.  Uplifts can round to
    signed zero, hence `+ 0.0`.

    Scale: one groupBy(user), one groupBy(distinct activity) with a
    single cumulative window — grid-sized, corpus-free."""
    from fusionspark.operators.dedup import md5_hash32

    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.count("*").cast("long").alias("x"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .alias("y"),
    ).select(
        "x", "y",
        (md5_hash32(F.concat(F.lit("up:"), F.col("user_id").cast("string")))
         % 2).alias("t"),
    )
    tot = u.agg(
        F.sum(F.when(F.col("t") == 1, 1).otherwise(0)).cast("long").alias("tnt"),
        F.sum(F.when(F.col("t") == 1, F.col("y")).otherwise(0))
        .cast("long").alias("tct"),
        F.sum(F.when(F.col("t") == 0, 1).otherwise(0)).cast("long").alias("tnc"),
        F.sum(F.when(F.col("t") == 0, F.col("y")).otherwise(0))
        .cast("long").alias("tcc"),
    )
    grid = u.groupBy("x").agg(
        F.sum(F.when(F.col("t") == 1, 1).otherwise(0)).cast("long").alias("nt"),
        F.sum(F.when(F.col("t") == 1, F.col("y")).otherwise(0))
        .cast("long").alias("ct"),
        F.sum(F.when(F.col("t") == 0, 1).otherwise(0)).cast("long").alias("nc"),
        F.sum(F.when(F.col("t") == 0, F.col("y")).otherwise(0))
        .cast("long").alias("cc"),
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    cum = grid.select(
        "x",
        F.sum("nt").over(w).cast("long").alias("lnt"),
        F.sum("ct").over(w).cast("long").alias("lct"),
        F.sum("nc").over(w).cast("long").alias("lnc"),
        F.sum("cc").over(w).cast("long").alias("lcc"),
    )
    sc = cum.crossJoin(F.broadcast(tot)).filter(
        (F.col("lnt") > 0)
        & (F.col("lnc") > 0)
        & (F.col("tnt") - F.col("lnt") > 0)
        & (F.col("tnc") - F.col("lnc") > 0)
    )
    rnt = F.col("tnt") - F.col("lnt")
    rct = F.col("tct") - F.col("lct")
    rnc = F.col("tnc") - F.col("lnc")
    rcc = F.col("tcc") - F.col("lcc")
    ul = F.col("lct").cast("double") / F.col("lnt") - F.col("lcc").cast(
        "double"
    ) / F.col("lnc")
    ur = rct.cast("double") / rnt - rcc.cast("double") / rnc
    scored = sc.select(
        F.col("x").alias("threshold"),
        F.col("lnt").alias("left_nt"), F.col("lct").alias("left_ct"),
        F.col("lnc").alias("left_nc"), F.col("lcc").alias("left_cc"),
        rnt.cast("long").alias("right_nt"), rct.cast("long").alias("right_ct"),
        rnc.cast("long").alias("right_nc"), rcc.cast("long").alias("right_cc"),
        (F.round(ul, 6) + F.lit(0.0)).alias("uplift_left"),
        (F.round(ur, 6) + F.lit(0.0)).alias("uplift_right"),
        F.round(F.abs(ul - ur), 6).alias("uplift_gap"),
    )
    return scored.orderBy(
        F.col("uplift_gap").desc(), F.col("threshold").asc()
    ).limit(1)


@query(
    "salt_plan",
    """
    WITH keyed AS (
        SELECT CAST(FLOOR(SQRT(user_id)) AS BIGINT) AS k FROM events
    ),
    cnt AS (SELECT k, COUNT(*)::BIGINT AS n_rows FROM keyed GROUP BY k),
    tot AS (
        SELECT SUM(n_rows)::BIGINT AS total, COUNT(*)::BIGINT AS n_keys
        FROM cnt
    ),
    plan AS (
        SELECT cnt.k, cnt.n_rows, tot.total,
               (tot.total // (tot.n_keys * 2) + 1)::BIGINT AS target,
               ((cnt.n_rows + tot.total // (tot.n_keys * 2))
                // (tot.total // (tot.n_keys * 2) + 1))::BIGINT AS salt_factor
        FROM cnt, tot
        WHERE cnt.n_rows > tot.total // (tot.n_keys * 2) + 1
    )
    SELECT k, n_rows, target,
           ROUND(100.0 * n_rows / total, 6) AS share_pct,
           CASE WHEN salt_factor < 1 THEN 1 ELSE salt_factor END AS salt_factor
    FROM plan
    ORDER BY n_rows DESC, k ASC
    """,
)
def salt_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salting plan — the pre-join diagnosis-to-action step after
    shuffle_skew_report's measurement: for a skewed join key (here the
    derived key floor(sqrt(user_id)), whose population grows linearly —
    a planted heavy-hitter distribution), emit the per-key salt factor
    ceil(n_k / target) for every key exceeding the 2x-mean target.  A
    downstream join explodes each heavy key k into salt_factor
    sub-keys (k, 0..s-1) and duplicates the small side per sub-key —
    bounding every shuffle partition near the target regardless of skew
    (the salted_join_demo mechanics, planned from data instead of
    hardcoded).

    Parity: counts and the target are exact BIGINTs; the salt factor is
    an exact integer CEILING via (n + t - 1) // t written as floor
    division (both engines' // on positive BIGINTs); only share_pct is a
    rounded division.  floor(sqrt(bigint)) is IEEE-exact (sqrt is
    correctly rounded; doubles hold these integers exactly).

    Scale: one groupBy(key) with map-side combine; the plan is
    |heavy keys| rows — the whole point is that this table stays tiny
    (and broadcastable to the salting stage) even at 100 TB."""
    e = load_table(spark, sf_dir, "events")
    keyed = e.select(
        F.floor(F.sqrt(F.col("user_id"))).cast("long").alias("k")
    )
    cnt = keyed.groupBy("k").agg(F.count("*").cast("long").alias("n_rows"))
    tot = cnt.agg(
        F.sum("n_rows").cast("long").alias("total"),
        F.count("*").cast("long").alias("n_keys"),
    )
    j = cnt.crossJoin(F.broadcast(tot))
    target = (F.floor(F.col("total") / (F.col("n_keys") * 2)) + 1).cast("long")
    half_mean = F.floor(F.col("total") / (F.col("n_keys") * 2)).cast("long")
    salt = F.floor((F.col("n_rows") + half_mean) / (half_mean + 1)).cast("long")
    plan = j.filter(F.col("n_rows") > target).select(
        "k", "n_rows",
        target.alias("target"),
        F.round(100.0 * F.col("n_rows") / F.col("total"), 6).alias("share_pct"),
        F.when(salt < 1, F.lit(1)).otherwise(salt).cast("long")
        .alias("salt_factor"),
    )
    return plan.orderBy(F.col("n_rows").desc(), F.col("k").asc())


_DTW_INF = 10**12


@query(
    "dtw_distance",
    f"""
    WITH days AS (SELECT DISTINCT ts::DATE AS d FROM events),
    cnts AS (
        SELECT ts::DATE AS d,
               SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT
                   AS x,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
                   AS y
        FROM events GROUP BY 1
    ),
    tl AS (
        SELECT days.d, COALESCE(cnts.x, 0)::BIGINT AS x,
               COALESCE(cnts.y, 0)::BIGINT AS y
        FROM days LEFT JOIN cnts ON cnts.d = days.d
    ),
    arrs AS (
        SELECT list(x ORDER BY d) AS xs, list(y ORDER BY d) AS ys,
               COUNT(*)::BIGINT AS n
        FROM tl
    ),
    dp AS (
        SELECT n, xs, ys,
               list_reduce(
                   list_prepend(
                       [0::BIGINT]
                       || list_transform(ys, y -> {_DTW_INF}::BIGINT),
                       list_transform(xs, x -> [x])),
                   (prev, xi) -> list_reduce(
                       list_prepend([{_DTW_INF}::BIGINT],
                                    list_transform(ys, y -> [y])),
                       (acc, yj) -> acc
                           || [abs(xi[1] - yj[1])
                               + least(prev[len(acc) + 1], prev[len(acc)],
                                       acc[len(acc)])])) AS row
        FROM arrs
    ),
    lock AS (
        SELECT SUM(abs(x - y))::BIGINT AS lockstep FROM tl
    )
    SELECT dp.n AS n_days,
           dp.row[len(dp.row)]::BIGINT AS dtw,
           lock.lockstep,
           ROUND(dp.row[len(dp.row)]::DOUBLE / (2 * dp.n), 6)
               AS dtw_per_step
    FROM dp, lock
    """,
)
def dtw_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-time-warping distance between the daily click and purchase
    series (Sakoe & Chiba 1978) — "do purchases follow the click shape,
    allowing the lag to drift", which the lockstep L1 distance (also
    emitted, always >= informative vs DTW) cannot answer because it pins
    day i to day i.  The full O(n^2) DP runs as a NESTED ordered fold —
    outer over the x series, inner building each DP row with new[j] =
    |x_i - y_j| + min(prev[j], prev[j-1], new[j-1]) — in EXACT BIGINT
    arithmetic (costs are integer counts, min/+ exact, the INF boundary
    is a 1e12 literal), so both engines are bit-identical by
    construction; both engines' higher-order lambdas close over the
    outer accumulator (prototype-verified against a pure-python DP).

    Scale: the corpus collapses to the calendar-bounded day grid (one
    groupBy(day)); the DP is |days|^2 cells inside ONE row's fold —
    thousands of integer ops, independent of corpus size.  Series that
    outgrow a single row's fold budget (years of minutes) would move to
    the banded Sakoe-Chiba variant over mapInPandas — unnecessary at
    daily grain."""
    e = load_table(spark, sf_dir, "events")
    days = e.select(F.to_date("ts").alias("d")).distinct()
    cnts = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long").alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long").alias("y"),
    )
    tl = days.join(cnts, "d", "left").select(
        "d",
        F.coalesce("x", F.lit(0)).cast("long").alias("x"),
        F.coalesce("y", F.lit(0)).cast("long").alias("y"),
    )
    arrs = tl.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "x"))), lambda s: s["x"]
        ).alias("xs"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "y"))), lambda s: s["y"]
        ).alias("ys"),
        F.count("*").cast("long").alias("n"),
        F.sum(F.abs(F.col("x") - F.col("y"))).cast("long").alias("lockstep"),
    )
    inf = F.lit(_DTW_INF).cast("long")

    def dp_col(xs, ys):
        init = F.concat(F.array(F.lit(0).cast("long")),
                        F.transform(ys, lambda y: inf))

        def outer(prev, xi):
            def inner(acc, yj):
                j = F.size(acc)
                cost = F.abs(xi - F.element_at(yj, 1)) + F.least(
                    F.element_at(prev, j + 1),
                    F.element_at(prev, j),
                    F.element_at(acc, j),
                )
                return F.concat(acc, F.array(cost))

            return F.aggregate(
                F.transform(ys, lambda y: F.array(y)), F.array(inf), inner
            )

        return F.aggregate(xs, init, outer)

    dp = arrs.select(
        "n", "lockstep", dp_col(F.col("xs"), F.col("ys")).alias("row")
    )
    last = F.element_at("row", F.size("row"))
    return dp.select(
        F.col("n").alias("n_days"),
        last.cast("long").alias("dtw"),
        "lockstep",
        F.round(last.cast("double") / (2 * F.col("n")), 6).alias("dtw_per_step"),
    )


# SAX breakpoints for alphabet size 4 (Gaussian quartiles) as exact
# integer ratios: +/- 0.6744897501960817, 0.
_SAX_BP_NUM = 6744897501960817  # / 1e16
_SAX_SEG = 5  # days per PAA segment


@query(
    "sax_words",
    f"""
    WITH days AS (SELECT DISTINCT ts::DATE AS d FROM events),
    cnts AS (
        SELECT event_type AS g, ts::DATE AS d, COUNT(*)::BIGINT AS x
        FROM events GROUP BY 1, 2
    ),
    tl AS (
        SELECT t.g, ROW_NUMBER() OVER (PARTITION BY t.g ORDER BY dy.d)
                   - 1 AS i,
               COALESCE(c.x, 0)::BIGINT AS x
        FROM (SELECT DISTINCT event_type AS g FROM events) t
        CROSS JOIN days dy
        LEFT JOIN cnts c ON c.g = t.g AND c.d = dy.d
    ),
    stats AS (
        SELECT g, COUNT(*)::BIGINT AS n, SUM(x)::BIGINT AS sx,
               SUM(x * x)::BIGINT AS sxx
        FROM tl GROUP BY g
    ),
    segs AS (
        SELECT tl.g, (tl.i // {_SAX_SEG})::BIGINT AS seg,
               COUNT(*)::BIGINT AS w, SUM(tl.x)::BIGINT AS s
        FROM tl JOIN stats ON stats.g = tl.g
        WHERE tl.i < (stats.n // {_SAX_SEG}) * {_SAX_SEG}
        GROUP BY tl.g, tl.i // {_SAX_SEG}
    ),
    scored AS (
        SELECT segs.g, segs.seg,
               (segs.s::DOUBLE / segs.w - stats.sx::DOUBLE / stats.n)
                   AS dev,
               sqrt((stats.n * stats.sxx - stats.sx * stats.sx)::DOUBLE
                    / (stats.n * (stats.n - 1))) AS sd
        FROM segs JOIN stats ON stats.g = segs.g
    ),
    sym AS (
        SELECT g, seg,
               CASE
                 WHEN dev < -({_SAX_BP_NUM}::DOUBLE / 10000000000000000) * sd
                     THEN 'a'
                 WHEN dev < 0.0 THEN 'b'
                 WHEN dev < ({_SAX_BP_NUM}::DOUBLE / 10000000000000000) * sd
                     THEN 'c'
                 ELSE 'd'
               END AS c,
               dev
        FROM scored
    )
    SELECT g AS event_type,
           string_agg(c, '' ORDER BY seg) AS sax_word,
           COUNT(*)::BIGINT AS n_segments
    FROM sym GROUP BY g ORDER BY g
    """,
)
def sax_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolic representation (Lin, Keogh et al. 2003) of each event
    type's daily series: PAA over 5-day segments, then quantization of
    the z-deviation into a 4-letter alphabet at the Gaussian quartile
    breakpoints — the discretization under which time-series become
    strings (so substring_dedup/edit-distance machinery can index shapes;
    the classic "hot week / cold week" motif alphabet).

    Parity: the day grid zero-fills per type; segment sums, n, S, Sxx are
    exact BIGINTs; the quantization compares dev = S_j/w - S/n (exact
    single divisions) against bp*sd, with the breakpoint as an
    INTEGER-literal ratio and sd one IEEE sqrt — the same comparison tree
    in both engines picks the same letter (a tie ON the breakpoint would
    need dev == bp*sd exactly — measure-zero for these rationals).  The
    word assembles with an explicit ORDER BY seg.

    Scale: one groupBy(type, day), then calendar-bounded segment math —
    corpus-size-free after the first aggregate."""
    e = load_table(spark, sf_dir, "events")
    days = e.select(F.to_date("ts").alias("d")).distinct()
    types = e.select(F.col("event_type").alias("g")).distinct()
    cnts = e.groupBy(
        F.col("event_type").alias("g"), F.to_date("ts").alias("d")
    ).agg(F.count("*").cast("long").alias("x"))
    tl = (
        types.crossJoin(days)
        .join(cnts, ["g", "d"], "left")
        .select(
            "g", "d", F.coalesce("x", F.lit(0)).cast("long").alias("x")
        )
        .select(
            "g", "x",
            (
                F.row_number().over(Window.partitionBy("g").orderBy("d")) - 1
            ).cast("long").alias("i"),
        )
    )
    stats = tl.groupBy("g").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    j = tl.join(stats, "g")
    segs = (
        j.filter(
            F.col("i") < F.floor(F.col("n") / _SAX_SEG) * _SAX_SEG
        )
        .groupBy("g", F.floor(F.col("i") / _SAX_SEG).alias("seg"))
        .agg(
            F.count("*").cast("long").alias("w"),
            F.sum("x").cast("long").alias("s"),
        )
    )
    scored = segs.join(stats, "g").select(
        "g", "seg",
        (
            F.col("s").cast("double") / F.col("w")
            - F.col("sx").cast("double") / F.col("n")
        ).alias("dev"),
        F.sqrt(
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            .cast("double") / (F.col("n") * (F.col("n") - 1))
        ).alias("sd"),
    )
    bp = F.lit(_SAX_BP_NUM).cast("double") / F.lit(10**16).cast("double")
    sym = scored.select(
        "g", "seg",
        F.when(F.col("dev") < -bp * F.col("sd"), "a")
        .when(F.col("dev") < 0.0, "b")
        .when(F.col("dev") < bp * F.col("sd"), "c")
        .otherwise("d").alias("c"),
    )
    return (
        sym.groupBy("g")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seg", "c"))),
                    lambda s: s["c"],
                ),
                "",
            ).alias("sax_word"),
            F.count("*").cast("long").alias("n_segments"),
        )
        .select(F.col("g").alias("event_type"), "sax_word", "n_segments")
        .orderBy("event_type")
    )


@query(
    "odds_ratio_ci",
    """
    WITH u AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS e,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
        FROM events GROUP BY user_id
    ),
    m AS (
        SELECT
            SUM(CASE WHEN e = 1 AND y = 1 THEN 1 ELSE 0 END)::BIGINT AS a,
            SUM(CASE WHEN e = 1 AND y = 0 THEN 1 ELSE 0 END)::BIGINT AS b,
            SUM(CASE WHEN e = 0 AND y = 1 THEN 1 ELSE 0 END)::BIGINT AS c,
            SUM(CASE WHEN e = 0 AND y = 0 THEN 1 ELSE 0 END)::BIGINT AS d
        FROM u
    )
    SELECT a, b, c, d,
           ROUND(CASE WHEN b * c > 0 THEN (a * d)::DOUBLE / (b * c) END, 6)
               AS odds_ratio,
           ROUND(CASE WHEN a * b * c * d > 0
                      THEN ln((a * d)::DOUBLE / (b * c)) END, 6) + 0.0
               AS log_or,
           ROUND(CASE WHEN a * b * c * d > 0
                      THEN ln((a * d)::DOUBLE / (b * c))
                           - (1959963984540054::DOUBLE / 1000000000000000)
                             * sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)
                 END, 6) + 0.0 AS log_or_lo95,
           ROUND(CASE WHEN a * b * c * d > 0
                      THEN ln((a * d)::DOUBLE / (b * c))
                           + (1959963984540054::DOUBLE / 1000000000000000)
                             * sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)
                 END, 6) + 0.0 AS log_or_hi95,
           (a * d > b * c) AS positive_association
    FROM m
    """,
)
def odds_ratio_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Odds ratio of purchase given signup with the Woolf 95% CI — the
    epidemiologist's 2x2 association readout next to chi2_independence's
    test statistic: OR = ad/bc, SE(ln OR) = sqrt(1/a + 1/b + 1/c + 1/d)
    (Woolf 1955).  The CI is emitted in LOG space — exponentiating would
    pull libm exp into the parity surface (the dp_quantile no-exp rule);
    ln on identical doubles is the attested precedent, and the point OR
    is ONE exact-integer division anyway.

    Parity: the 2x2 table is exact BIGINT conditional sums over one
    groupBy(user); OR = (a*d)/(b*c) one division of exact products; the
    CI bounds are fixed trees with z_{.975} as an INTEGER-literal ratio;
    the association direction a*d > b*c is an EXACT integer comparison.
    Degenerate cells yield NULL identically.  Log outputs carry `+ 0.0`.

    Scale: one groupBy(user) with map-side combine; closed form on a
    4-integer row."""
    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "signup", 1).otherwise(0)).alias("e"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .alias("y"),
    )
    m = u.agg(
        F.sum(F.when((F.col("e") == 1) & (F.col("y") == 1), 1).otherwise(0))
        .cast("long").alias("a"),
        F.sum(F.when((F.col("e") == 1) & (F.col("y") == 0), 1).otherwise(0))
        .cast("long").alias("b"),
        F.sum(F.when((F.col("e") == 0) & (F.col("y") == 1), 1).otherwise(0))
        .cast("long").alias("c"),
        F.sum(F.when((F.col("e") == 0) & (F.col("y") == 0), 1).otherwise(0))
        .cast("long").alias("d"),
    )
    ad = F.col("a") * F.col("d")
    bc = F.col("b") * F.col("c")
    allpos = F.col("a") * F.col("b") * F.col("c") * F.col("d") > 0
    lor = F.log(ad.cast("double") / bc)
    z = F.lit(1959963984540054).cast("double") / F.lit(10**15).cast("double")
    se = F.sqrt(
        1.0 / F.col("a") + 1.0 / F.col("b") + 1.0 / F.col("c") + 1.0 / F.col("d")
    )
    return m.select(
        "a", "b", "c", "d",
        F.round(F.when(bc > 0, ad.cast("double") / bc), 6).alias("odds_ratio"),
        (F.round(F.when(allpos, lor), 6) + F.lit(0.0)).alias("log_or"),
        (F.round(F.when(allpos, lor - z * se), 6) + F.lit(0.0))
        .alias("log_or_lo95"),
        (F.round(F.when(allpos, lor + z * se), 6) + F.lit(0.0))
        .alias("log_or_hi95"),
        (ad > bc).alias("positive_association"),
    )


# R/S window sizes and their ln() as canonical integer-literal ratios —
# the regression abscissae must be the SAME constant in both engines,
# not each engine's libm ln of a small int.
_HURST_SIZES = [
    (5, 1609437912434100),
    (6, 1791759469228055),
    (10, 2302585092994046),
    (15, 2708050201102210),
    (30, 3401197381662156),
]
_HURST_INF = 10**15


def _hurst_oracle() -> str:
    per_size = []
    for m, _ in _HURST_SIZES:
        per_size.append(f"""
    blk{m} AS (
        SELECT i // {m} AS b, SUM(x)::BIGINT AS s, SUM(x * x)::BIGINT AS ss,
               list([x] ORDER BY i) AS xs
        FROM tl, n WHERE i < (n.n // {m}) * {m}
        GROUP BY i // {m}, n.n
    ),
    rs{m} AS (
        SELECT b,
               (list_reduce(
                    list_prepend([0::BIGINT, 0::BIGINT,
                                  -{_HURST_INF}::BIGINT,
                                  {_HURST_INF}::BIGINT],
                                 xs),
                    (a, e) -> [a[1] + e[1], a[2] + 1,
                               greatest(a[3], {m} * (a[1] + e[1])
                                              - (a[2] + 1) * s),
                               least(a[4], {m} * (a[1] + e[1])
                                           - (a[2] + 1) * s)]))
                   AS f,
               s, ss
        FROM blk{m}
    ),
    a{m} AS (
        SELECT list_reduce(
                   list_prepend([0.0],
                       list(
                           [(f[3] - f[4])::DOUBLE
                            / sqrt(({m} * ss - s * s)::DOUBLE)]
                           ORDER BY b)),
                   (acc, e) -> [acc[1] + e[1]])[1]
               / COUNT(*) AS rs
        FROM rs{m} WHERE {m} * ss - s * s > 0
    )""")
    return (
        """
    WITH days AS (SELECT DISTINCT ts::DATE AS d FROM events),
    cnts AS (
        SELECT ts::DATE AS d, COUNT(*)::BIGINT AS x FROM events GROUP BY 1
    ),
    tl AS (
        SELECT (ROW_NUMBER() OVER (ORDER BY days.d) - 1)::BIGINT AS i,
               COALESCE(cnts.x, 0)::BIGINT AS x
        FROM days LEFT JOIN cnts ON cnts.d = days.d
    ),
    n AS (SELECT COUNT(*)::BIGINT AS n FROM tl),"""
        + ",".join(per_size)
        + f"""
    SELECT (SELECT n FROM n) AS n_days,
           {", ".join(f"ROUND((SELECT rs FROM a{m}), 6) AS rs{m}"
                      for m, _ in _HURST_SIZES)},
           ROUND(
             (5.0 * ({" + ".join(
                 f"({u}::DOUBLE / 1000000000000000) * ln((SELECT rs FROM a{m}))"
                 for m, u in _HURST_SIZES)})
              - ({" + ".join(f"({u}::DOUBLE / 1000000000000000)"
                             for _, u in _HURST_SIZES)})
                * ({" + ".join(f"ln((SELECT rs FROM a{m}))"
                               for m, _ in _HURST_SIZES)}))
             / (5.0 * ({" + ".join(
                 f"({u}::DOUBLE / 1000000000000000)"
                 f" * ({u}::DOUBLE / 1000000000000000)"
                 for _, u in _HURST_SIZES)})
                - ({" + ".join(f"({u}::DOUBLE / 1000000000000000)"
                               for _, u in _HURST_SIZES)})
                  * ({" + ".join(f"({u}::DOUBLE / 1000000000000000)"
                                 for _, u in _HURST_SIZES)})), 6)
               AS hurst_h
    """
    )


@query("hurst_exponent", _hurst_oracle())
def hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of the daily event-count series by classical
    rescaled-range analysis (Hurst 1951; Mandelbrot & Wallis): for window
    sizes m in {{5, 6, 10, 15, 30}}, each complete block's R/S =
    (max - min of cumulative mean deviations) / block std; H is the OLS
    slope of ln(avg R/S) on ln(m).  H ~ 0.5 is a memoryless series, H >
    0.5 long-range persistence, H < 0.5 anti-persistence — the
    long-memory screen next to ljung_box's short-lag portmanteau.

    Parity: cumulative deviations are m-SCALED exact BIGINTs (z_i =
    m*cumsum_i - i*S — the durbin_watson trick), so each block's R and
    the std radicand m*SS - S^2 are exact integers; R/S is ONE division
    + one IEEE sqrt; block averages fold in b-order, the regression
    abscissae ln(m) are INTEGER-LITERAL ratios (never each engine's libm
    on small ints), and the slope is a fixed unrolled 5-term tree.
    Degenerate (constant) blocks are excluded by an exact integer
    condition.

    Scale: one groupBy(day) collapses the corpus; every fold and the
    regression run on the calendar-bounded grid (30 rows x 5 sizes)."""
    e = load_table(spark, sf_dir, "events")
    days = e.select(F.to_date("ts").alias("d")).distinct()
    cnts = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.count("*").cast("long").alias("x")
    )
    tl = (
        days.join(cnts, "d", "left")
        .select("d", F.coalesce("x", F.lit(0)).cast("long").alias("x"))
        .select(
            (F.row_number().over(Window.orderBy("d")) - 1).cast("long")
            .alias("i"),
            "x",
        )
    )
    n_row = tl.agg(F.count("*").cast("long").alias("n"))
    tn = tl.crossJoin(F.broadcast(n_row))
    inf = F.lit(_HURST_INF).cast("long")
    rs_cols = {}
    base = None
    for m, _u in _HURST_SIZES:
        blk = (
            tn.filter(F.col("i") < F.floor(F.col("n") / m) * m)
            .groupBy(F.floor(F.col("i") / m).alias("b"))
            .agg(
                F.sum("x").cast("long").alias("s"),
                F.sum(F.col("x") * F.col("x")).cast("long").alias("ss"),
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "x"))),
                    lambda st: F.array(st["x"]),
                ).alias("xs"),
            )
        )

        def fold(a, ecol, m_=m):
            s1 = F.element_at(a, 1) + F.element_at(ecol, 1)
            i1 = F.element_at(a, 2) + 1
            z = m_ * s1 - i1 * F.col("s")
            return F.array(
                s1, i1,
                F.greatest(F.element_at(a, 3), z),
                F.least(F.element_at(a, 4), z),
            )

        folded = blk.select(
            "b", "s", "ss",
            F.aggregate(
                "xs",
                F.array(
                    F.lit(0).cast("long"), F.lit(0).cast("long"), -inf, inf
                ),
                lambda a, ecol: fold(a, ecol),
            ).alias("f"),
        ).filter(m * F.col("ss") - F.col("s") * F.col("s") > 0)
        rs = folded.select(
            "b",
            (
                (F.element_at("f", 3) - F.element_at("f", 4)).cast("double")
                / F.sqrt((m * F.col("ss") - F.col("s") * F.col("s"))
                         .cast("double"))
            ).alias("rs"),
        )
        avg = rs.agg(
            (
                F.element_at(
                    F.aggregate(
                        F.transform(
                            F.array_sort(F.collect_list(F.struct("b", "rs"))),
                            lambda st: F.array(st["rs"]),
                        ),
                        F.array(F.lit(0.0)),
                        lambda a, ecol: F.array(
                            F.element_at(a, 1) + F.element_at(ecol, 1)
                        ),
                    ),
                    1,
                )
                / F.count("*")
            ).alias(f"rs{m}")
        )
        rs_cols[m] = avg
        base = avg if base is None else base.crossJoin(F.broadcast(avg))
    w = base.crossJoin(F.broadcast(n_row))
    us = [
        F.lit(u).cast("double") / F.lit(10**15).cast("double")
        for _, u in _HURST_SIZES
    ]
    vs = [F.log(F.col(f"rs{m}")) for m, _ in _HURST_SIZES]
    suv = None
    su = None
    sv = None
    suu = None
    for u, v in zip(us, vs):
        suv = u * v if suv is None else suv + u * v
        su = u if su is None else su + u
        sv = v if sv is None else sv + v
        suu = u * u if suu is None else suu + u * u
    h = (5.0 * suv - su * sv) / (5.0 * suu - su * su)
    return w.select(
        F.col("n").alias("n_days"),
        *[F.round(F.col(f"rs{m}"), 6).alias(f"rs{m}") for m, _ in _HURST_SIZES],
        F.round(h, 6).alias("hurst_h"),
    )


_RB_PARTS = 32


@query(
    "range_bounds_plan",
    f"""
    WITH o AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey
        FROM orders
    ),
    ranked AS (
        SELECT cents,
               ROW_NUMBER() OVER (ORDER BY cents, o_orderkey)::BIGINT AS rn
        FROM o
    ),
    nn AS (SELECT COUNT(*)::BIGINT AS n FROM o),
    marks AS (
        SELECT i.i::BIGINT AS part,
               ((i.i * nn.n) // {_RB_PARTS})::BIGINT AS rn
        FROM unnest(generate_series(1, {_RB_PARTS} - 1)) AS i(i), nn
    )
    SELECT marks.part, ranked.cents AS bound_cents, marks.rn AS rows_below,
           (SELECT n // {_RB_PARTS} FROM nn) AS target_rows
    FROM marks JOIN ranked ON ranked.rn = marks.rn
    ORDER BY marks.part
    """,
)
def range_bounds_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced range-partition boundaries for orders by price — what
    Spark's RangePartitioner estimates by SAMPLING, computed exactly:
    the 31 split values that put n/32 rows in each of 32 partitions
    (exact order statistics at rank i*n//32 with an orderkey tiebreak).
    The companion to salt_plan: salt fixes hash-skew, range bounds fix
    sort/range-scan layout (a write.sortBy or a bucketed range join
    consumes exactly this table).

    Parity: prices become exact cents; ranks and marks are exact integer
    windows and floor divisions — there is NO float anywhere in this
    query.

    Scale: one global sort-rank window is the honest cost (the same sort
    a range-write pays anyway); at 100 TB the production form samples
    per-partition histograms first — this exact form is the ground truth
    those samples approximate, and the emitted plan is 31 rows."""
    o = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderkey",
    )
    # r13 whitelist burn-down: the order statistic at rank part*n//32 of
    # the (cents, orderkey) order is the smallest cents value whose grid
    # inclusive cumulative reaches the rank — identical bounds, and the
    # only window left runs over the bounded distinct-cents grid
    vg = o.groupBy("cents").agg(F.count("*").cast("long").alias("c"))
    gw = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    gr = vg.select("cents", F.sum("c").over(gw).cast("long").alias("cum"))
    nn = o.agg(F.count("*").cast("long").alias("n"))
    marks = (
        spark.range(1, _RB_PARTS)
        .select(F.col("id").cast("long").alias("part"))
        .crossJoin(F.broadcast(nn))
        .select(
            "part",
            # ADVICE r13 (ranking.py finding, same class): exact LONG
            # integer division, not FLOOR over a double quotient
            F.expr(f"(part * n) div {_RB_PARTS}").alias("rn"),
            F.expr(f"n div {_RB_PARTS}").alias("target_rows"),
        )
    )
    return (
        gr.crossJoin(F.broadcast(marks))
        # ADVICE r13: guard rn >= 1 — for n < _RB_PARTS some marks have
        # rn = 0 and cum >= 0 would emit a spurious global-min bound row
        # where the row_number-join form (and the oracle) emits none
        .filter((F.col("rn") >= 1) & (F.col("cum") >= F.col("rn")))
        .groupBy("part", "rn", "target_rows")
        .agg(F.min("cents").cast("long").alias("bound_cents"))
        .select(
            "part", "bound_cents",
            F.col("rn").alias("rows_below"), "target_rows",
        )
        .orderBy("part")
    )


@query(
    "krippendorff_alpha",
    """
    WITH rated AS (
        SELECT CASE WHEN len(regexp_extract_all(text, '[.!?]')) >= 3
                    THEN 1 ELSE 0 END
             + CASE WHEN len(list_filter(string_split(lower(text), ' '),
                                         x -> x <> '')) >= 80
                    THEN 1 ELSE 0 END
             + CASE WHEN n_chars >= 450 THEN 1 ELSE 0 END AS ones
        FROM documents
    ),
    s AS (
        SELECT COUNT(*)::BIGINT AS n_units,
               SUM(ones)::BIGINT AS p1,
               SUM(3 - ones)::BIGINT AS p0,
               SUM(ones * (3 - ones))::BIGINT AS do_sum
        FROM rated
    )
    SELECT n_units, (3 * n_units)::BIGINT AS n_values, p1, p0, do_sum,
           ROUND(1.0 - ((3 * n_units - 1) * do_sum)::DOUBLE / (2 * p1 * p0),
                 6) + 0.0 AS alpha
    FROM s
    """,
)
def krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha for THREE binary raters (sentence-count,
    token-count, and char-length substantiveness heuristics) — the
    multi-rater generalization of cohens_kappa and the reliability
    statistic annotation guidelines actually quote (Krippendorff 2004):
    alpha = 1 - D_o/D_e with per-unit observed disagreement 2*n1*n0/(m-1)
    and expected disagreement 2*P1*P0/(N(N-1)).

    Parity: with m = 3 the per-unit term 2*n1*n0/(m-1) = n1*n0 is an
    EXACT integer, so alpha = 1 - (N-1)*sum(n1*n0) / (2*P1*P0) is ONE
    correctly-rounded division of exact BIGINT products (~1e17 at sf1).
    alpha can round to signed zero, hence `+ 0.0`.  Perfect agreement
    (do_sum = 0) gives exactly 1.

    Scale: one full-scan aggregate with map-side combine; closed form on
    a 4-integer row."""
    d = load_table(spark, sf_dir, "documents")
    ones = (
        F.when(
            F.size(F.regexp_extract_all("text", F.lit("[.!?]"), F.lit(0))) >= 3,
            1,
        ).otherwise(0)
        + F.when(
            F.size(F.filter(F.split(F.lower("text"), " "), lambda x: x != ""))
            >= 80,
            1,
        ).otherwise(0)
        + F.when(F.col("n_chars") >= 450, 1).otherwise(0)
    )
    rated = d.select(ones.alias("ones"))
    s = rated.agg(
        F.count("*").cast("long").alias("n_units"),
        F.sum("ones").cast("long").alias("p1"),
        F.sum(3 - F.col("ones")).cast("long").alias("p0"),
        F.sum(F.col("ones") * (3 - F.col("ones"))).cast("long").alias("do_sum"),
    )
    return s.select(
        "n_units",
        (3 * F.col("n_units")).cast("long").alias("n_values"),
        "p1", "p0", "do_sum",
        (
            F.round(
                1.0
                - ((3 * F.col("n_units") - 1) * F.col("do_sum")).cast("double")
                / (2 * F.col("p1") * F.col("p0")),
                6,
            )
            + F.lit(0.0)
        ).alias("alpha"),
    )


_TRUSS_K = 4  # edges must sit in >= k-2 = 2 triangles
_TRUSS_ROUNDS = 5


def _ktruss_oracle() -> str:
    head = """
    WITH docs AS (SELECT doc_id FROM documents),
    nn AS (SELECT COUNT(*) AS n FROM docs),
    raw AS (
        SELECT doc_id AS s, (doc_id + 1) % (SELECT n FROM nn) AS d FROM docs
        UNION ALL
        SELECT doc_id, (doc_id + 2) % (SELECT n FROM nn) FROM docs
        UNION ALL
        SELECT doc_id, (doc_id * 3 + 1) % (SELECT n FROM nn) FROM docs
    ),
    e0 AS MATERIALIZED (
        SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
        FROM raw WHERE s <> d
    )"""
    body = ""
    for r in range(_TRUSS_ROUNDS):
        body += f""",
    adj{r} AS MATERIALIZED (
        SELECT a AS x, b AS y FROM e{r} UNION ALL SELECT b, a FROM e{r}
    ),
    sup{r} AS (
        SELECT e.a, e.b, COUNT(n2.y)::BIGINT AS sup
        FROM e{r} e
        LEFT JOIN adj{r} n1 ON n1.x = e.a
        LEFT JOIN adj{r} n2 ON n2.x = e.b AND n2.y = n1.y
        GROUP BY e.a, e.b
    ),
    e{r + 1} AS MATERIALIZED (
        SELECT a, b FROM sup{r} WHERE sup >= {_TRUSS_K - 2}
    )"""
    rows = "\n        UNION ALL\n".join(
        f"        SELECT {r}::BIGINT AS round,"
        f" (SELECT COUNT(*) FROM e{r})::BIGINT AS n_edges"
        for r in range(_TRUSS_ROUNDS + 1)
    )
    return head + body + f"""
    SELECT round, n_edges,
           COALESCE(LAG(n_edges) OVER (ORDER BY round) - n_edges, 0)::BIGINT
               AS n_removed
    FROM (
{rows}
    ) ORDER BY round
    """


@query("k_truss", _ktruss_oracle())
def k_truss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss peeling on the deterministic doc link graph (Cohen 2008):
    every edge of a k-truss sits in >= k-2 triangles of the truss, so
    peeling repeatedly deletes support-deficient edges — the
    community-core extractor that is stricter than k-core (graph family:
    kcore_docs, graph_triangles, community_lpa) and the dense-cluster
    certificate dedup graphs use.  Emits the peeling TRAJECTORY (edges
    remaining after each of 5 rounds) — the convergence readout.

    Parity: supports are exact BIGINT common-neighbor counts (LEFT JOIN
    keeps 0-support edges); the peel condition is an exact integer
    comparison; both engines unroll the SAME 5 rounds (a fixpoint needs
    at most |E| rounds; 5 is the documented bounded-round contract and
    the trajectory itself shows whether it has converged).

    Scale: each round is two joins keyed on node ids with map-side
    combine on the support count — the standard distributed truss
    decomposition shape (edges shuffle by endpoint, never materializing
    triangles); rounds are bounded, and each round's frame only shrinks."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    d = F.col("doc_id")
    raw = None
    for expr in (((d + 1) % n), ((d + 2) % n), ((d * 3 + 1) % n)):
        part = docs.select(d.alias("s"), expr.alias("dd"))
        raw = part if raw is None else raw.unionAll(part)
    e = (
        raw.filter(F.col("s") != F.col("dd"))
        .select(
            F.least("s", "dd").alias("a"), F.greatest("s", "dd").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    counts = [e.count()]
    for _ in range(_TRUSS_ROUNDS):
        adj = e.select(F.col("a").alias("x"), F.col("b").alias("y")).unionAll(
            e.select(F.col("b").alias("x"), F.col("a").alias("y"))
        )
        n1 = adj.select(F.col("x").alias("x1"), F.col("y").alias("c"))
        n2 = adj.select(F.col("x").alias("x2"), F.col("y").alias("c2"))
        sup = (
            e.join(n1, F.col("x1") == F.col("a"), "left")
            .join(
                n2,
                (F.col("x2") == F.col("b")) & (F.col("c2") == F.col("c")),
                "left",
            )
            .groupBy("a", "b")
            .agg(F.count("c2").cast("long").alias("sup"))
        )
        e = sup.filter(F.col("sup") >= _TRUSS_K - 2).select("a", "b")
        e = e.localCheckpoint(eager=True)
        counts.append(e.count())
    rows = [
        (r, c, (counts[r - 1] - c) if r else 0)
        for r, c in enumerate(counts)
    ]
    return spark.createDataFrame(
        rows, "round long, n_edges long, n_removed long"
    ).orderBy("round")


@query(
    "join_order_plan",
    """
    WITH co AS (
        SELECT (SELECT SUM(cc * oc)::BIGINT FROM
            (SELECT c_custkey AS k, COUNT(*)::BIGINT AS cc
             FROM customer GROUP BY 1) c
            JOIN
            (SELECT o_custkey AS k, COUNT(*)::BIGINT AS oc
             FROM orders GROUP BY 1) o
            USING (k)) AS rows
    ),
    ol AS (
        SELECT (SELECT SUM(oc * lc)::BIGINT FROM
            (SELECT o_orderkey AS k, COUNT(*)::BIGINT AS oc
             FROM orders GROUP BY 1) o
            JOIN
            (SELECT l_orderkey AS k, COUNT(*)::BIGINT AS lc
             FROM lineitem GROUP BY 1) l
            USING (k)) AS rows
    ),
    col AS (
        SELECT (SELECT SUM(lc)::BIGINT FROM
            (SELECT l_orderkey AS k, COUNT(*)::BIGINT AS lc
             FROM lineitem GROUP BY 1) l
            JOIN orders o ON o.o_orderkey = l.k
            JOIN customer c ON c.c_custkey = o.o_custkey) AS rows
    ),
    plans AS (
        SELECT 'customer JOIN orders, then lineitem' AS plan,
               (SELECT rows FROM co) AS intermediate_rows,
               (SELECT rows FROM col) AS final_rows
        UNION ALL
        SELECT 'orders JOIN lineitem, then customer',
               (SELECT rows FROM ol), (SELECT rows FROM col)
    )
    SELECT plan, intermediate_rows, final_rows,
           intermediate_rows = (SELECT MIN(intermediate_rows) FROM plans)
               AS chosen
    FROM plans ORDER BY plan
    """,
)
def join_order_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based join ordering for the 3-table chain customer - orders -
    lineitem, with EXACT cardinalities instead of the optimizer's
    estimates: |A join B| on key k is sum_k cnt_A(k) * cnt_B(k) — an
    exact BIGINT computed WITHOUT materializing the join (two groupBys
    and a key join on count pairs).  The left-deep plan with the smaller
    intermediate is flagged chosen — the decision Catalyst's CBO makes
    from sampled statistics, derived here from ground truth (the
    companion diagnostic to shuffle_skew_report and salt_plan: size the
    shuffles BEFORE running them).

    Parity: every cardinality is an exact BIGINT sum of count products
    (<= |B| * max-fanout, ~1e9 at sf1); the chosen flag is an exact
    integer comparison.  No floats anywhere.

    Scale: count-sketch joins are key-distinct-sized, orders of magnitude
    below the joins they cost out; at 100 TB this is exactly the stats
    pass a warehouse runs at ingest (and the final_rows column doubles
    as the sanity check that both plans produce the same result size)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cc = c.groupBy(F.col("c_custkey").alias("k")).agg(
        F.count("*").cast("long").alias("cc")
    )
    oc = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count("*").cast("long").alias("oc")
    )
    co = cc.join(oc, "k").agg(
        F.sum(F.col("cc") * F.col("oc")).cast("long").alias("rows")
    )
    ok = o.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count("*").cast("long").alias("oc")
    )
    lk = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count("*").cast("long").alias("lc")
    )
    ol = ok.join(lk, "k").agg(
        F.sum(F.col("oc") * F.col("lc")).cast("long").alias("rows")
    )
    col = (
        lk.join(o, F.col("k") == F.col("o_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .agg(F.sum("lc").cast("long").alias("rows"))
    )
    plans = (
        co.select(
            F.lit("customer JOIN orders, then lineitem").alias("plan"),
            F.col("rows").alias("intermediate_rows"),
        )
        .unionByName(
            ol.select(
                F.lit("orders JOIN lineitem, then customer").alias("plan"),
                F.col("rows").alias("intermediate_rows"),
            )
        )
        .crossJoin(F.broadcast(col.select(F.col("rows").alias("final_rows"))))
    )
    w = Window.partitionBy(F.lit(1))
    return plans.select(
        "plan", "intermediate_rows", "final_rows",
        (
            F.col("intermediate_rows")
            == F.min("intermediate_rows").over(w)
        ).alias("chosen"),
    ).orderBy("plan")


# chi^2(1) critical value at alpha = .05 as an exact integer ratio.
_SRM_CHI2_95_NUM = 3841458820694124  # / 1e15 = 3.841458820694124


@query(
    "ab_srm_check",
    f"""
    WITH assign AS (
        SELECT user_id,
               ('0x' || substr(md5('up:' || user_id::VARCHAR), 1, 8))::BIGINT
                   % 2 AS t
        FROM events GROUP BY user_id
    ),
    m AS (
        SELECT SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
               SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END)::BIGINT AS n1
        FROM assign
    )
    SELECT n0, n1,
           ROUND((n0 - n1) * (n0 - n1)::DOUBLE / (n0 + n1), 6) AS chi2,
           ((n0 - n1) * (n0 - n1) * 1000000000000000
            <= {_SRM_CHI2_95_NUM} * (n0 + n1)) AS ratio_ok
    FROM m
    """,
)
def ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check for the md5-coin experiment split (the
    same `up:` coin uplift_stump randomizes with) — the FIRST gate every
    A/B readout must pass: under a 50/50 design, chi2 = (n0 - n1)^2 /
    (n0 + n1) ~ chi^2(1); a failing SRM invalidates the experiment
    before any effect is read (Kohavi et al., the most common
    trustworthiness bug in online experiments).

    Parity: arm counts are exact BIGINTs; chi2 is ONE correctly-rounded
    division; the verdict is an EXACT integer cross-multiplication
    against the chi^2_{{.95}}(1) critical value scaled to an integer
    ratio — no float threshold anywhere.

    Scale: one groupBy(user) + one 2-integer aggregate."""
    from fusionspark.operators.dedup import md5_hash32

    e = load_table(spark, sf_dir, "events")
    assign = e.groupBy("user_id").agg(F.count("*").alias("_c")).select(
        (md5_hash32(F.concat(F.lit("up:"), F.col("user_id").cast("string")))
         % 2).alias("t")
    )
    m = assign.agg(
        F.sum(F.when(F.col("t") == 0, 1).otherwise(0)).cast("long").alias("n0"),
        F.sum(F.when(F.col("t") == 1, 1).otherwise(0)).cast("long").alias("n1"),
    )
    d = F.col("n0") - F.col("n1")
    return m.select(
        "n0", "n1",
        F.round(
            (d * d).cast("double") / (F.col("n0") + F.col("n1")), 6
        ).alias("chi2"),
        (
            d * d * F.lit(10**15)
            <= F.lit(_SRM_CHI2_95_NUM) * (F.col("n0") + F.col("n1"))
        ).alias("ratio_ok"),
    )


@query(
    "gamma_fit",
    """
    WITH p AS (
        SELECT CAST(ROUND(value * 100) AS BIGINT) AS v
        FROM events WHERE event_type = 'purchase'
    ),
    s AS (
        SELECT COUNT(*)::BIGINT AS n, SUM(v)::BIGINT AS sx,
               SUM(v * v)::BIGINT AS sxx
        FROM p
    )
    SELECT n,
           ROUND(sx::DOUBLE / n / 100, 6) AS mean_value,
           ROUND((n * sxx - sx * sx)::DOUBLE / (n * (n - 1)) / 10000, 6)
               AS var_value,
           ROUND((sx::DOUBLE / n) * (sx::DOUBLE / n)
                 / ((n * sxx - sx * sx)::DOUBLE / (n * (n - 1))), 6)
               AS shape_k,
           ROUND((n * sxx - sx * sx)::DOUBLE / (n * (n - 1))
                 / (sx::DOUBLE / n) / 100, 6) AS scale_theta
    FROM s
    """,
)
def gamma_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gamma method-of-moments fit of purchase value — the continuous
    counterpart to negative_binomial_fit's count model and the standard
    revenue-distribution assumption (shape k = m^2/v, scale theta = v/m):
    k < 1 flags a hyper-skewed spend distribution where mean-based
    readouts mislead (route to winsorize_values / revenue_deciles), k >>
    1 approaches normal and t-tests are safe.

    Parity: cents moments are exact BIGINTs; m and v are single
    divisions; k and theta are fixed trees on them (theta converted back
    to currency units by a literal /100).

    Scale: one filtered full-scan aggregate with map-side combine; the
    fit runs on one 3-integer row."""
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.round(F.col("value") * 100).cast("long").alias("v")
    )
    s = p.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v").cast("long").alias("sx"),
        F.sum(F.col("v") * F.col("v")).cast("long").alias("sxx"),
    )
    m = F.col("sx").cast("double") / F.col("n")
    v = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    ) / (F.col("n") * (F.col("n") - 1))
    return s.select(
        "n",
        F.round(m / 100, 6).alias("mean_value"),
        F.round(v / 10000, 6).alias("var_value"),
        F.round(m * m / v, 6).alias("shape_k"),
        F.round(v / m / 100, 6).alias("scale_theta"),
    )


# studentized-range critical value q_{.05}(k=5, df=inf) / sqrt(2) folded in:
# we compare |mi - mj| / sqrt(MSW * (1/ni + 1/nj) / 2) against q = 3.858.
_TUKEY_Q_NUM = 3858

_TUKEY_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "tukey_hsd",
    f"""
    WITH ev AS (
        SELECT event_type AS g, CAST(ROUND(value * 100) AS BIGINT) AS v
        FROM events
    ),
    st AS (
        SELECT g, COUNT(*)::BIGINT AS n, SUM(v)::BIGINT AS s,
               SUM(v * v)::BIGINT AS ss
        FROM ev GROUP BY g
    ),
    msw AS (
        SELECT SUM(ss - s * s / n)::DOUBLE / (SUM(n) - COUNT(*)) AS msw
        FROM (SELECT g, n, s::DOUBLE AS s, ss::DOUBLE AS ss FROM st)
    ),
    pairs AS (
        SELECT a.g AS g1, b.g AS g2, a.n AS n1, b.n AS n2,
               a.s::DOUBLE / a.n AS m1, b.s::DOUBLE / b.n AS m2
        FROM st a JOIN st b ON a.g < b.g
    )
    SELECT g1, g2, n1, n2,
           ROUND((m2 - m1) / 100, 6) + 0.0 AS mean_diff,
           ROUND(abs(m2 - m1)
                 / sqrt((SELECT msw FROM msw)
                        * (1.0 / n1 + 1.0 / n2) / 2), 6) AS q_stat,
           (abs(m2 - m1)
            > ({_TUKEY_Q_NUM}::DOUBLE / 1000)
              * sqrt((SELECT msw FROM msw) * (1.0 / n1 + 1.0 / n2) / 2))
               AS significant
    FROM pairs ORDER BY g1, g2
    """,
)
def tukey_hsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey HSD post-hoc pairwise comparisons after anova_oneway: all 10
    event-type pairs scored q = |m_i - m_j| / sqrt(MSW*(1/n_i + 1/n_j)/2)
    against the studentized-range critical value q_{{.05}}(5, inf) =
    3.858 (Tukey 1949) — the familywise-safe answer to "WHICH groups
    differ", which running 10 Welch tests would alpha-inflate.

    Parity: group moments are exact BIGINTs; the within-group mean square
    folds per-group s^2/n terms in ONE aggregate over the 5-row stats
    frame (cast to DOUBLE first — the per-group term is a single
    division); each pair's q is a fixed tree and the significance verdict
    compares identical doubles against an INTEGER-literal critical
    ratio.  mean_diff can round to signed zero, hence `+ 0.0`.

    Scale: one groupBy(type) with map-side combine; pairs are a 5x5
    self-join of the stats frame."""
    e = load_table(spark, sf_dir, "events")
    ev = e.select(
        F.col("event_type").alias("g"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    st = ev.groupBy("g").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
        F.sum(F.col("v") * F.col("v")).cast("long").alias("ss"),
    )
    msw = st.select(
        "n",
        (F.col("ss").cast("double")
         - F.col("s").cast("double") * F.col("s") / F.col("n")).alias("w"),
    ).agg(
        (F.sum("w") / (F.sum("n") - F.count("*"))).alias("msw")
    )
    a = st.select(
        F.col("g").alias("g1"), F.col("n").alias("n1"),
        (F.col("s").cast("double") / F.col("n")).alias("m1"),
    )
    b = st.select(
        F.col("g").alias("g2"), F.col("n").alias("n2"),
        (F.col("s").cast("double") / F.col("n")).alias("m2"),
    )
    pairs = a.join(b, F.col("g1") < F.col("g2")).crossJoin(F.broadcast(msw))
    se = F.sqrt(
        F.col("msw") * (1.0 / F.col("n1") + 1.0 / F.col("n2")) / 2
    )
    qcrit = F.lit(_TUKEY_Q_NUM).cast("double") / F.lit(1000).cast("double")
    return pairs.select(
        "g1", "g2", "n1", "n2",
        (F.round((F.col("m2") - F.col("m1")) / 100, 6) + F.lit(0.0))
        .alias("mean_diff"),
        F.round(F.abs(F.col("m2") - F.col("m1")) / se, 6).alias("q_stat"),
        (F.abs(F.col("m2") - F.col("m1")) > qcrit * se).alias("significant"),
    ).orderBy("g1", "g2")


# cos/sin phase literals for periods 7 and 15 as python-repr doubles —
# identical text parses to identical doubles in both engines (libm
# cos/sin never runs inside a query).
@query(
    "seasonality_power",
    """
    WITH days AS (SELECT DISTINCT ts::DATE AS d FROM events),
    cnts AS (
        SELECT ts::DATE AS d, COUNT(*)::BIGINT AS x FROM events GROUP BY 1
    ),
    tl AS (
        SELECT (ROW_NUMBER() OVER (ORDER BY days.d) - 1)::BIGINT AS i,
               COALESCE(cnts.x, 0)::BIGINT AS x
        FROM days LEFT JOIN cnts ON cnts.d = days.d
    ),
    s AS (SELECT COUNT(*)::BIGINT AS n, SUM(x)::BIGINT AS sx FROM tl),
    z AS (
        SELECT tl.i, (s.n * tl.x - s.sx)::BIGINT AS z, s.n FROM tl, s
    ),
    ph AS (
        SELECT MAX(n)::BIGINT AS n,
               SUM(z * z)::BIGINT AS total_energy,
               SUM(CASE WHEN i % 7 = 0 THEN z ELSE 0 END)::BIGINT AS z7_0,
               SUM(CASE WHEN i % 7 = 1 THEN z ELSE 0 END)::BIGINT AS z7_1,
               SUM(CASE WHEN i % 7 = 2 THEN z ELSE 0 END)::BIGINT AS z7_2,
               SUM(CASE WHEN i % 7 = 3 THEN z ELSE 0 END)::BIGINT AS z7_3,
               SUM(CASE WHEN i % 7 = 4 THEN z ELSE 0 END)::BIGINT AS z7_4,
               SUM(CASE WHEN i % 7 = 5 THEN z ELSE 0 END)::BIGINT AS z7_5,
               SUM(CASE WHEN i % 7 = 6 THEN z ELSE 0 END)::BIGINT AS z7_6,
               SUM(CASE WHEN i % 15 = 0 THEN z ELSE 0 END)::BIGINT AS z15_0,
               SUM(CASE WHEN i % 15 = 1 THEN z ELSE 0 END)::BIGINT AS z15_1,
               SUM(CASE WHEN i % 15 = 2 THEN z ELSE 0 END)::BIGINT AS z15_2,
               SUM(CASE WHEN i % 15 = 3 THEN z ELSE 0 END)::BIGINT AS z15_3,
               SUM(CASE WHEN i % 15 = 4 THEN z ELSE 0 END)::BIGINT AS z15_4,
               SUM(CASE WHEN i % 15 = 5 THEN z ELSE 0 END)::BIGINT AS z15_5,
               SUM(CASE WHEN i % 15 = 6 THEN z ELSE 0 END)::BIGINT AS z15_6,
               SUM(CASE WHEN i % 15 = 7 THEN z ELSE 0 END)::BIGINT AS z15_7,
               SUM(CASE WHEN i % 15 = 8 THEN z ELSE 0 END)::BIGINT AS z15_8,
               SUM(CASE WHEN i % 15 = 9 THEN z ELSE 0 END)::BIGINT AS z15_9,
               SUM(CASE WHEN i % 15 = 10 THEN z ELSE 0 END)::BIGINT AS z15_10,
               SUM(CASE WHEN i % 15 = 11 THEN z ELSE 0 END)::BIGINT AS z15_11,
               SUM(CASE WHEN i % 15 = 12 THEN z ELSE 0 END)::BIGINT AS z15_12,
               SUM(CASE WHEN i % 15 = 13 THEN z ELSE 0 END)::BIGINT AS z15_13,
               SUM(CASE WHEN i % 15 = 14 THEN z ELSE 0 END)::BIGINT AS z15_14
        FROM z
    )
    SELECT n AS n_days,
           ROUND((((z7_0) * ((1.0)::DOUBLE) + (z7_1) * ((0.6234898018587336)::DOUBLE) + (z7_2) * ((-0.22252093395631434)::DOUBLE) + (z7_3) * ((-0.900968867902419)::DOUBLE) + (z7_4) * ((-0.9009688679024191)::DOUBLE) + (z7_5) * ((-0.2225209339563146)::DOUBLE) + (z7_6) * ((0.6234898018587334)::DOUBLE)) * ((z7_0) * ((1.0)::DOUBLE) + (z7_1) * ((0.6234898018587336)::DOUBLE) + (z7_2) * ((-0.22252093395631434)::DOUBLE) + (z7_3) * ((-0.900968867902419)::DOUBLE) + (z7_4) * ((-0.9009688679024191)::DOUBLE) + (z7_5) * ((-0.2225209339563146)::DOUBLE) + (z7_6) * ((0.6234898018587334)::DOUBLE)) + ((z7_0) * ((0.0)::DOUBLE) + (z7_1) * ((0.7818314824680298)::DOUBLE) + (z7_2) * ((0.9749279121818236)::DOUBLE) + (z7_3) * ((0.43388373911755823)::DOUBLE) + (z7_4) * ((-0.433883739117558)::DOUBLE) + (z7_5) * ((-0.9749279121818236)::DOUBLE) + (z7_6) * ((-0.7818314824680299)::DOUBLE)) * ((z7_0) * ((0.0)::DOUBLE) + (z7_1) * ((0.7818314824680298)::DOUBLE) + (z7_2) * ((0.9749279121818236)::DOUBLE) + (z7_3) * ((0.43388373911755823)::DOUBLE) + (z7_4) * ((-0.433883739117558)::DOUBLE) + (z7_5) * ((-0.9749279121818236)::DOUBLE) + (z7_6) * ((-0.7818314824680299)::DOUBLE)))
                 / (n::DOUBLE * n), 6) AS power_p7,
           ROUND((((z15_0) * ((1.0)::DOUBLE) + (z15_1) * ((0.9135454576426009)::DOUBLE) + (z15_2) * ((0.6691306063588582)::DOUBLE) + (z15_3) * ((0.30901699437494745)::DOUBLE) + (z15_4) * ((-0.10452846326765333)::DOUBLE) + (z15_5) * ((-0.4999999999999998)::DOUBLE) + (z15_6) * ((-0.8090169943749473)::DOUBLE) + (z15_7) * ((-0.9781476007338057)::DOUBLE) + (z15_8) * ((-0.9781476007338057)::DOUBLE) + (z15_9) * ((-0.8090169943749476)::DOUBLE) + (z15_10) * ((-0.5000000000000004)::DOUBLE) + (z15_11) * ((-0.10452846326765423)::DOUBLE) + (z15_12) * ((0.30901699437494723)::DOUBLE) + (z15_13) * ((0.6691306063588585)::DOUBLE) + (z15_14) * ((0.913545457642601)::DOUBLE)) * ((z15_0) * ((1.0)::DOUBLE) + (z15_1) * ((0.9135454576426009)::DOUBLE) + (z15_2) * ((0.6691306063588582)::DOUBLE) + (z15_3) * ((0.30901699437494745)::DOUBLE) + (z15_4) * ((-0.10452846326765333)::DOUBLE) + (z15_5) * ((-0.4999999999999998)::DOUBLE) + (z15_6) * ((-0.8090169943749473)::DOUBLE) + (z15_7) * ((-0.9781476007338057)::DOUBLE) + (z15_8) * ((-0.9781476007338057)::DOUBLE) + (z15_9) * ((-0.8090169943749476)::DOUBLE) + (z15_10) * ((-0.5000000000000004)::DOUBLE) + (z15_11) * ((-0.10452846326765423)::DOUBLE) + (z15_12) * ((0.30901699437494723)::DOUBLE) + (z15_13) * ((0.6691306063588585)::DOUBLE) + (z15_14) * ((0.913545457642601)::DOUBLE)) + ((z15_0) * ((0.0)::DOUBLE) + (z15_1) * ((0.40673664307580015)::DOUBLE) + (z15_2) * ((0.7431448254773941)::DOUBLE) + (z15_3) * ((0.9510565162951535)::DOUBLE) + (z15_4) * ((0.9945218953682734)::DOUBLE) + (z15_5) * ((0.8660254037844387)::DOUBLE) + (z15_6) * ((0.5877852522924732)::DOUBLE) + (z15_7) * ((0.20791169081775931)::DOUBLE) + (z15_8) * ((-0.20791169081775907)::DOUBLE) + (z15_9) * ((-0.587785252292473)::DOUBLE) + (z15_10) * ((-0.8660254037844384)::DOUBLE) + (z15_11) * ((-0.9945218953682733)::DOUBLE) + (z15_12) * ((-0.9510565162951536)::DOUBLE) + (z15_13) * ((-0.743144825477394)::DOUBLE) + (z15_14) * ((-0.40673664307580015)::DOUBLE)) * ((z15_0) * ((0.0)::DOUBLE) + (z15_1) * ((0.40673664307580015)::DOUBLE) + (z15_2) * ((0.7431448254773941)::DOUBLE) + (z15_3) * ((0.9510565162951535)::DOUBLE) + (z15_4) * ((0.9945218953682734)::DOUBLE) + (z15_5) * ((0.8660254037844387)::DOUBLE) + (z15_6) * ((0.5877852522924732)::DOUBLE) + (z15_7) * ((0.20791169081775931)::DOUBLE) + (z15_8) * ((-0.20791169081775907)::DOUBLE) + (z15_9) * ((-0.587785252292473)::DOUBLE) + (z15_10) * ((-0.8660254037844384)::DOUBLE) + (z15_11) * ((-0.9945218953682733)::DOUBLE) + (z15_12) * ((-0.9510565162951536)::DOUBLE) + (z15_13) * ((-0.743144825477394)::DOUBLE) + (z15_14) * ((-0.40673664307580015)::DOUBLE)))
                 / (n::DOUBLE * n), 6) AS power_p15,
           ROUND(total_energy::DOUBLE / (n::DOUBLE * n), 6) AS total_energy,
           (((z7_0) * ((1.0)::DOUBLE) + (z7_1) * ((0.6234898018587336)::DOUBLE) + (z7_2) * ((-0.22252093395631434)::DOUBLE) + (z7_3) * ((-0.900968867902419)::DOUBLE) + (z7_4) * ((-0.9009688679024191)::DOUBLE) + (z7_5) * ((-0.2225209339563146)::DOUBLE) + (z7_6) * ((0.6234898018587334)::DOUBLE)) * ((z7_0) * ((1.0)::DOUBLE) + (z7_1) * ((0.6234898018587336)::DOUBLE) + (z7_2) * ((-0.22252093395631434)::DOUBLE) + (z7_3) * ((-0.900968867902419)::DOUBLE) + (z7_4) * ((-0.9009688679024191)::DOUBLE) + (z7_5) * ((-0.2225209339563146)::DOUBLE) + (z7_6) * ((0.6234898018587334)::DOUBLE)) + ((z7_0) * ((0.0)::DOUBLE) + (z7_1) * ((0.7818314824680298)::DOUBLE) + (z7_2) * ((0.9749279121818236)::DOUBLE) + (z7_3) * ((0.43388373911755823)::DOUBLE) + (z7_4) * ((-0.433883739117558)::DOUBLE) + (z7_5) * ((-0.9749279121818236)::DOUBLE) + (z7_6) * ((-0.7818314824680299)::DOUBLE)) * ((z7_0) * ((0.0)::DOUBLE) + (z7_1) * ((0.7818314824680298)::DOUBLE) + (z7_2) * ((0.9749279121818236)::DOUBLE) + (z7_3) * ((0.43388373911755823)::DOUBLE) + (z7_4) * ((-0.433883739117558)::DOUBLE) + (z7_5) * ((-0.9749279121818236)::DOUBLE) + (z7_6) * ((-0.7818314824680299)::DOUBLE))
            > ((z15_0) * ((1.0)::DOUBLE) + (z15_1) * ((0.9135454576426009)::DOUBLE) + (z15_2) * ((0.6691306063588582)::DOUBLE) + (z15_3) * ((0.30901699437494745)::DOUBLE) + (z15_4) * ((-0.10452846326765333)::DOUBLE) + (z15_5) * ((-0.4999999999999998)::DOUBLE) + (z15_6) * ((-0.8090169943749473)::DOUBLE) + (z15_7) * ((-0.9781476007338057)::DOUBLE) + (z15_8) * ((-0.9781476007338057)::DOUBLE) + (z15_9) * ((-0.8090169943749476)::DOUBLE) + (z15_10) * ((-0.5000000000000004)::DOUBLE) + (z15_11) * ((-0.10452846326765423)::DOUBLE) + (z15_12) * ((0.30901699437494723)::DOUBLE) + (z15_13) * ((0.6691306063588585)::DOUBLE) + (z15_14) * ((0.913545457642601)::DOUBLE)) * ((z15_0) * ((1.0)::DOUBLE) + (z15_1) * ((0.9135454576426009)::DOUBLE) + (z15_2) * ((0.6691306063588582)::DOUBLE) + (z15_3) * ((0.30901699437494745)::DOUBLE) + (z15_4) * ((-0.10452846326765333)::DOUBLE) + (z15_5) * ((-0.4999999999999998)::DOUBLE) + (z15_6) * ((-0.8090169943749473)::DOUBLE) + (z15_7) * ((-0.9781476007338057)::DOUBLE) + (z15_8) * ((-0.9781476007338057)::DOUBLE) + (z15_9) * ((-0.8090169943749476)::DOUBLE) + (z15_10) * ((-0.5000000000000004)::DOUBLE) + (z15_11) * ((-0.10452846326765423)::DOUBLE) + (z15_12) * ((0.30901699437494723)::DOUBLE) + (z15_13) * ((0.6691306063588585)::DOUBLE) + (z15_14) * ((0.913545457642601)::DOUBLE)) + ((z15_0) * ((0.0)::DOUBLE) + (z15_1) * ((0.40673664307580015)::DOUBLE) + (z15_2) * ((0.7431448254773941)::DOUBLE) + (z15_3) * ((0.9510565162951535)::DOUBLE) + (z15_4) * ((0.9945218953682734)::DOUBLE) + (z15_5) * ((0.8660254037844387)::DOUBLE) + (z15_6) * ((0.5877852522924732)::DOUBLE) + (z15_7) * ((0.20791169081775931)::DOUBLE) + (z15_8) * ((-0.20791169081775907)::DOUBLE) + (z15_9) * ((-0.587785252292473)::DOUBLE) + (z15_10) * ((-0.8660254037844384)::DOUBLE) + (z15_11) * ((-0.9945218953682733)::DOUBLE) + (z15_12) * ((-0.9510565162951536)::DOUBLE) + (z15_13) * ((-0.743144825477394)::DOUBLE) + (z15_14) * ((-0.40673664307580015)::DOUBLE)) * ((z15_0) * ((0.0)::DOUBLE) + (z15_1) * ((0.40673664307580015)::DOUBLE) + (z15_2) * ((0.7431448254773941)::DOUBLE) + (z15_3) * ((0.9510565162951535)::DOUBLE) + (z15_4) * ((0.9945218953682734)::DOUBLE) + (z15_5) * ((0.8660254037844387)::DOUBLE) + (z15_6) * ((0.5877852522924732)::DOUBLE) + (z15_7) * ((0.20791169081775931)::DOUBLE) + (z15_8) * ((-0.20791169081775907)::DOUBLE) + (z15_9) * ((-0.587785252292473)::DOUBLE) + (z15_10) * ((-0.8660254037844384)::DOUBLE) + (z15_11) * ((-0.9945218953682733)::DOUBLE) + (z15_12) * ((-0.9510565162951536)::DOUBLE) + (z15_13) * ((-0.743144825477394)::DOUBLE) + (z15_14) * ((-0.40673664307580015)::DOUBLE))) AS weekly_dominant
    FROM ph
    """,
)
def seasonality_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal spectral energy of the daily event series at the weekly
    (period 7) and half-month (period 15) cycles — the Goertzel-style
    single-bin DFT a capacity planner checks before fitting hw_forecast's
    seasonal component: power_p = |sum_t z_t e^(-2 pi i (t mod p)/p)|^2
    over the CENTERED series, normalized by n^2.  weekly_dominant is the
    exact verdict the seasonal period picker needs.

    Parity: the centered series n*x_t - S is exact BIGINT (the ljung_box
    trick); phase-bucket sums (t mod p) are exact conditional BIGINTs in
    ONE aggregate; the cos/sin coefficients are PYTHON-REPR LITERALS and
    each power is a FIXED unrolled phase-ordered sum — libm trig never
    executes in either engine.  The dominance verdict compares identical
    doubles.

    Scale: one groupBy(day) collapses the corpus; the phase algebra runs
    on one row of 22 integers + literals, calendar-bounded."""
    e = load_table(spark, sf_dir, "events")
    days = e.select(F.to_date("ts").alias("d")).distinct()
    cnts = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.count("*").cast("long").alias("x")
    )
    tl = (
        days.join(cnts, "d", "left")
        .select("d", F.coalesce("x", F.lit(0)).cast("long").alias("x"))
        .select(
            (F.row_number().over(Window.orderBy("d")) - 1).cast("long")
            .alias("i"),
            "x",
        )
    )
    s = tl.agg(
        F.count("*").cast("long").alias("n"), F.sum("x").cast("long").alias("sx")
    )
    z = tl.crossJoin(F.broadcast(s)).select(
        "i", (F.col("n") * F.col("x") - F.col("sx")).alias("z"), "n"
    )
    ph = z.agg(
        F.max("n").cast("long").alias("n"),
        F.sum(F.col("z") * F.col("z")).cast("long").alias("total_energy"),
        F.sum(F.when(F.col("i") % 7 == 0, F.col("z")).otherwise(0)).cast("long").alias("z7_0"),
        F.sum(F.when(F.col("i") % 7 == 1, F.col("z")).otherwise(0)).cast("long").alias("z7_1"),
        F.sum(F.when(F.col("i") % 7 == 2, F.col("z")).otherwise(0)).cast("long").alias("z7_2"),
        F.sum(F.when(F.col("i") % 7 == 3, F.col("z")).otherwise(0)).cast("long").alias("z7_3"),
        F.sum(F.when(F.col("i") % 7 == 4, F.col("z")).otherwise(0)).cast("long").alias("z7_4"),
        F.sum(F.when(F.col("i") % 7 == 5, F.col("z")).otherwise(0)).cast("long").alias("z7_5"),
        F.sum(F.when(F.col("i") % 7 == 6, F.col("z")).otherwise(0)).cast("long").alias("z7_6"),
        F.sum(F.when(F.col("i") % 15 == 0, F.col("z")).otherwise(0)).cast("long").alias("z15_0"),
        F.sum(F.when(F.col("i") % 15 == 1, F.col("z")).otherwise(0)).cast("long").alias("z15_1"),
        F.sum(F.when(F.col("i") % 15 == 2, F.col("z")).otherwise(0)).cast("long").alias("z15_2"),
        F.sum(F.when(F.col("i") % 15 == 3, F.col("z")).otherwise(0)).cast("long").alias("z15_3"),
        F.sum(F.when(F.col("i") % 15 == 4, F.col("z")).otherwise(0)).cast("long").alias("z15_4"),
        F.sum(F.when(F.col("i") % 15 == 5, F.col("z")).otherwise(0)).cast("long").alias("z15_5"),
        F.sum(F.when(F.col("i") % 15 == 6, F.col("z")).otherwise(0)).cast("long").alias("z15_6"),
        F.sum(F.when(F.col("i") % 15 == 7, F.col("z")).otherwise(0)).cast("long").alias("z15_7"),
        F.sum(F.when(F.col("i") % 15 == 8, F.col("z")).otherwise(0)).cast("long").alias("z15_8"),
        F.sum(F.when(F.col("i") % 15 == 9, F.col("z")).otherwise(0)).cast("long").alias("z15_9"),
        F.sum(F.when(F.col("i") % 15 == 10, F.col("z")).otherwise(0)).cast("long").alias("z15_10"),
        F.sum(F.when(F.col("i") % 15 == 11, F.col("z")).otherwise(0)).cast("long").alias("z15_11"),
        F.sum(F.when(F.col("i") % 15 == 12, F.col("z")).otherwise(0)).cast("long").alias("z15_12"),
        F.sum(F.when(F.col("i") % 15 == 13, F.col("z")).otherwise(0)).cast("long").alias("z15_13"),
        F.sum(F.when(F.col("i") % 15 == 14, F.col("z")).otherwise(0)).cast("long").alias("z15_14"),
    )
    c7 = F.col("z7_0").cast("double") * F.lit(1.0) + F.col("z7_1").cast("double") * F.lit(0.6234898018587336) + F.col("z7_2").cast("double") * F.lit(-0.22252093395631434) + F.col("z7_3").cast("double") * F.lit(-0.900968867902419) + F.col("z7_4").cast("double") * F.lit(-0.9009688679024191) + F.col("z7_5").cast("double") * F.lit(-0.2225209339563146) + F.col("z7_6").cast("double") * F.lit(0.6234898018587334)
    s7 = F.col("z7_0").cast("double") * F.lit(0.0) + F.col("z7_1").cast("double") * F.lit(0.7818314824680298) + F.col("z7_2").cast("double") * F.lit(0.9749279121818236) + F.col("z7_3").cast("double") * F.lit(0.43388373911755823) + F.col("z7_4").cast("double") * F.lit(-0.433883739117558) + F.col("z7_5").cast("double") * F.lit(-0.9749279121818236) + F.col("z7_6").cast("double") * F.lit(-0.7818314824680299)
    c15 = F.col("z15_0").cast("double") * F.lit(1.0) + F.col("z15_1").cast("double") * F.lit(0.9135454576426009) + F.col("z15_2").cast("double") * F.lit(0.6691306063588582) + F.col("z15_3").cast("double") * F.lit(0.30901699437494745) + F.col("z15_4").cast("double") * F.lit(-0.10452846326765333) + F.col("z15_5").cast("double") * F.lit(-0.4999999999999998) + F.col("z15_6").cast("double") * F.lit(-0.8090169943749473) + F.col("z15_7").cast("double") * F.lit(-0.9781476007338057) + F.col("z15_8").cast("double") * F.lit(-0.9781476007338057) + F.col("z15_9").cast("double") * F.lit(-0.8090169943749476) + F.col("z15_10").cast("double") * F.lit(-0.5000000000000004) + F.col("z15_11").cast("double") * F.lit(-0.10452846326765423) + F.col("z15_12").cast("double") * F.lit(0.30901699437494723) + F.col("z15_13").cast("double") * F.lit(0.6691306063588585) + F.col("z15_14").cast("double") * F.lit(0.913545457642601)
    s15 = F.col("z15_0").cast("double") * F.lit(0.0) + F.col("z15_1").cast("double") * F.lit(0.40673664307580015) + F.col("z15_2").cast("double") * F.lit(0.7431448254773941) + F.col("z15_3").cast("double") * F.lit(0.9510565162951535) + F.col("z15_4").cast("double") * F.lit(0.9945218953682734) + F.col("z15_5").cast("double") * F.lit(0.8660254037844387) + F.col("z15_6").cast("double") * F.lit(0.5877852522924732) + F.col("z15_7").cast("double") * F.lit(0.20791169081775931) + F.col("z15_8").cast("double") * F.lit(-0.20791169081775907) + F.col("z15_9").cast("double") * F.lit(-0.587785252292473) + F.col("z15_10").cast("double") * F.lit(-0.8660254037844384) + F.col("z15_11").cast("double") * F.lit(-0.9945218953682733) + F.col("z15_12").cast("double") * F.lit(-0.9510565162951536) + F.col("z15_13").cast("double") * F.lit(-0.743144825477394) + F.col("z15_14").cast("double") * F.lit(-0.40673664307580015)
    nn = F.col("n").cast("double") * F.col("n")
    p7 = (c7 * c7 + s7 * s7)
    p15 = (c15 * c15 + s15 * s15)
    return ph.select(
        F.col("n").alias("n_days"),
        F.round(p7 / nn, 6).alias("power_p7"),
        F.round(p15 / nn, 6).alias("power_p15"),
        F.round(F.col("total_energy").cast("double") / nn, 6)
        .alias("total_energy"),
        (p7 > p15).alias("weekly_dominant"),
    )


# Shared RSS closed form on exact integer moments:
# RSS = (n*Syy - Sy^2 - (n*Sty - St*Sy)^2 / (n*Stt - St^2)) / n
_CHOW_RSS = (
    "(({n} * {syy} - {sy} * {sy})::DOUBLE"
    " - (({n} * {sty} - {st} * {sy})::DOUBLE"
    "    * ({n} * {sty} - {st} * {sy}))"
    "   / ({n} * {stt} - {st} * {st})) / {n}"
)


def _chow_moments_sql(alias: str, cond: str) -> str:
    return f"""
    {alias} AS (
        SELECT COUNT(*)::BIGINT AS n, SUM(t)::BIGINT AS st,
               SUM(y)::BIGINT AS sy, SUM(t * y)::BIGINT AS sty,
               SUM(t * t)::BIGINT AS stt, SUM(y * y)::BIGINT AS syy
        FROM tl WHERE {cond}
    )"""


@query(
    "chow_test",
    f"""
    WITH days AS (SELECT DISTINCT ts::DATE AS d FROM events),
    cnts AS (
        SELECT ts::DATE AS d, COUNT(*)::BIGINT AS y
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    tl AS (
        SELECT ROW_NUMBER() OVER (ORDER BY days.d)::BIGINT AS t,
               COALESCE(cnts.y, 0)::BIGINT AS y,
               (SELECT COUNT(*) FROM days)::BIGINT AS n_all
        FROM days LEFT JOIN cnts ON cnts.d = days.d
    ),
    {_chow_moments_sql("mf", "TRUE").strip()},
    {_chow_moments_sql("m1", "t <= n_all // 2").strip()},
    {_chow_moments_sql("m2", "t > n_all // 2").strip()},
    r AS (
        SELECT mf.n AS n,
               {_CHOW_RSS.format(n="mf.n", st="mf.st", sy="mf.sy",
                                 sty="mf.sty", stt="mf.stt", syy="mf.syy")}
                   AS rss_full,
               {_CHOW_RSS.format(n="m1.n", st="m1.st", sy="m1.sy",
                                 sty="m1.sty", stt="m1.stt", syy="m1.syy")}
                   AS rss_1,
               {_CHOW_RSS.format(n="m2.n", st="m2.st", sy="m2.sy",
                                 sty="m2.sty", stt="m2.stt", syy="m2.syy")}
                   AS rss_2
        FROM mf, m1, m2
    )
    SELECT n,
           ROUND(rss_full, 6) AS rss_full,
           ROUND(rss_1, 6) AS rss_first,
           ROUND(rss_2, 6) AS rss_second,
           ROUND(((rss_full - rss_1 - rss_2) / 2)
                 / ((rss_1 + rss_2) / (n - 4)), 6) + 0.0 AS f_stat
    FROM r
    """,
)
def chow_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow structural-break test (1960) at the series midpoint: did the
    purchase trend's (intercept, slope) CHANGE between the two halves —
    F = ((RSS_full - RSS_1 - RSS_2)/k) / ((RSS_1 + RSS_2)/(n - 2k)) with
    k = 2 — the parametric companion to pettitt_test / changepoint_cusum
    (which locate a break; Chow tests a hypothesized one).

    Parity: all three RSS values use the SAME closed form on exact
    BIGINT moments — (n*Syy - Sy^2 - (n*Sty - St*Sy)^2/(n*Stt - St^2))/n
    — a fixed expression tree shared TEXTUALLY between the three
    aliases and both engines; F is a fixed tree on those three doubles
    and carries `+ 0.0` (the numerator is >= 0 only in exact
    arithmetic).

    Scale: one groupBy(day); three conditional-moment aggregates over
    the calendar-bounded timeline."""
    e = load_table(spark, sf_dir, "events")
    days = e.select(F.to_date("ts").alias("d")).distinct()
    cnts = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count("*").cast("long").alias("y"))
    )
    tl = (
        days.join(cnts, "d", "left")
        .select("d", F.coalesce("y", F.lit(0)).cast("long").alias("y"))
        .select(
            F.row_number().over(Window.orderBy("d")).cast("long").alias("t"),
            "y",
        )
    )
    n_all = tl.agg(F.count("*").cast("long").alias("n_all"))
    tn = tl.crossJoin(F.broadcast(n_all))

    def moments(cond):
        return [
            F.sum(F.when(cond, 1).otherwise(0)).cast("long"),
            F.sum(F.when(cond, F.col("t")).otherwise(0)).cast("long"),
            F.sum(F.when(cond, F.col("y")).otherwise(0)).cast("long"),
            F.sum(F.when(cond, F.col("t") * F.col("y")).otherwise(0))
            .cast("long"),
            F.sum(F.when(cond, F.col("t") * F.col("t")).otherwise(0))
            .cast("long"),
            F.sum(F.when(cond, F.col("y") * F.col("y")).otherwise(0))
            .cast("long"),
        ]

    half = F.floor(F.col("n_all") / 2)
    conds = {
        "f": F.lit(True),
        "1": F.col("t") <= half,
        "2": F.col("t") > half,
    }
    aggs = []
    for tag, cond in conds.items():
        for name, expr in zip(("n", "st", "sy", "sty", "stt", "syy"),
                              moments(cond)):
            aggs.append(expr.alias(f"{name}{tag}"))
    m = tn.agg(*aggs)

    def rss(tag):
        n = F.col(f"n{tag}")
        st = F.col(f"st{tag}")
        sy = F.col(f"sy{tag}")
        sty = F.col(f"sty{tag}")
        stt = F.col(f"stt{tag}")
        syy = F.col(f"syy{tag}")
        num = (n * sty - st * sy).cast("double")
        return (
            (n * syy - sy * sy).cast("double")
            - num * num / (n * stt - st * st)
        ) / n

    r = m.select(
        F.col("nf").alias("n"),
        rss("f").alias("rss_full"),
        rss("1").alias("rss_1"),
        rss("2").alias("rss_2"),
    )
    fstat = ((F.col("rss_full") - F.col("rss_1") - F.col("rss_2")) / 2) / (
        (F.col("rss_1") + F.col("rss_2")) / (F.col("n") - 4)
    )
    return r.select(
        "n",
        F.round("rss_full", 6).alias("rss_full"),
        F.round("rss_1", 6).alias("rss_first"),
        F.round("rss_2", 6).alias("rss_second"),
        (F.round(fstat, 6) + F.lit(0.0)).alias("f_stat"),
    )


@query(
    "cooks_distance",
    """
    WITH days AS (SELECT DISTINCT ts::DATE AS d FROM events),
    cnts AS (
        SELECT ts::DATE AS d, COUNT(*)::BIGINT AS y
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    tl AS (
        SELECT days.d, ROW_NUMBER() OVER (ORDER BY days.d)::BIGINT AS t,
               COALESCE(cnts.y, 0)::BIGINT AS y
        FROM days LEFT JOIN cnts ON cnts.d = days.d
    ),
    s AS (
        SELECT COUNT(*)::BIGINT AS n, SUM(t)::BIGINT AS st,
               SUM(y)::BIGINT AS sy, SUM(t * y)::BIGINT AS sty,
               SUM(t * t)::BIGINT AS stt
        FROM tl
    ),
    coef AS (
        SELECT n, st, stt,
               (n * stt - st * st)::BIGINT AS det,
               (n * sty - st * sy)::BIGINT AS bnum,
               (sy * stt - st * sty)::BIGINT AS anum
        FROM s
    ),
    res AS (
        SELECT tl.d, tl.t,
               (coef.det * tl.y - coef.anum - coef.bnum * tl.t)::BIGINT AS e,
               coef.n, coef.st, coef.det
        FROM tl, coef
    ),
    rss AS (
        SELECT SUM(e * e)::BIGINT AS see FROM res
    ),
    scored AS (
        SELECT res.d, res.t,
               (1.0 / res.n
                + ((res.n * res.t - res.st)::DOUBLE
                   * (res.n * res.t - res.st))
                  / (res.n::DOUBLE * res.det)) AS h,
               (res.e::DOUBLE * res.e) / rss.see * (res.n - 2) / 2 AS base
        FROM res, rss
    )
    SELECT strftime(d, '%Y-%m-%d') AS day, t,
           ROUND(h, 6) AS leverage,
           ROUND(base * h / ((1.0 - h) * (1.0 - h)) / (
                 (SELECT (n - 2)::DOUBLE FROM s)) * 1.0, 6) AS cooks_d
    FROM scored
    ORDER BY ROUND(base * h / ((1.0 - h) * (1.0 - h)) / (
             (SELECT (n - 2)::DOUBLE FROM s)) * 1.0, 6) DESC, t ASC
    LIMIT 5
    """,
)
def cooks_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cook's distance influence diagnostics (1977) for the daily purchase
    trend OLS: D_t = e_t^2 / (k*s^2) * h_t/(1-h_t)^2 with leverage h_t =
    1/n + (t - t_bar)^2/Sxx — WHICH days drive the fitted trend (the
    per-point companion to chow_test's break test and durbin_watson's
    residual diagnostics); top-5 most influential days emitted.

    Parity: residuals are the det-scaled exact BIGINTs of durbin_watson
    (e~ = det*y - anum - bnum*t), so e^2/RSS is a ratio of exact
    integers whose det^2 factors cancel; leverage uses the n-scaled
    exact form (n*t - St)^2/(n*det).  D collapses to base*h/(1-h)^2 with
    base = e~^2/SEE * (n-2)/2 / (n-2) — every term a fixed tree on exact
    integers; the top-5 cut sorts the ROUNDED D with a t tiebreak.

    Scale: one groupBy(day); all scoring on the calendar-bounded
    timeline against two broadcast scalars."""
    e = load_table(spark, sf_dir, "events")
    days = e.select(F.to_date("ts").alias("d")).distinct()
    cnts = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count("*").cast("long").alias("y"))
    )
    tl = (
        days.join(cnts, "d", "left")
        .select("d", F.coalesce("y", F.lit(0)).cast("long").alias("y"))
        .select(
            "d",
            F.row_number().over(Window.orderBy("d")).cast("long").alias("t"),
            "y",
        )
    )
    s = tl.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("t").cast("long").alias("st"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("t") * F.col("y")).cast("long").alias("sty"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("stt"),
    )
    coef = s.select(
        "n", "st",
        (F.col("n") * F.col("stt") - F.col("st") * F.col("st")).alias("det"),
        (F.col("n") * F.col("sty") - F.col("st") * F.col("sy")).alias("bnum"),
        (F.col("sy") * F.col("stt") - F.col("st") * F.col("sty")).alias("anum"),
    )
    res = tl.crossJoin(F.broadcast(coef)).select(
        "d", "t", "n", "st", "det",
        (F.col("det") * F.col("y") - F.col("anum") - F.col("bnum") * F.col("t"))
        .alias("e"),
    )
    rss = res.agg(F.sum(F.col("e") * F.col("e")).cast("long").alias("see"))
    scored = res.crossJoin(F.broadcast(rss))
    h = (
        1.0 / F.col("n")
        + ((F.col("n") * F.col("t") - F.col("st")).cast("double")
           * (F.col("n") * F.col("t") - F.col("st")))
        / (F.col("n").cast("double") * F.col("det"))
    )
    base = (F.col("e").cast("double") * F.col("e")) / F.col("see") * (
        F.col("n") - 2
    ) / 2
    d_ = base * h / ((1.0 - h) * (1.0 - h)) / (F.col("n") - 2).cast("double")
    out = scored.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"), "t",
        F.round(h, 6).alias("leverage"),
        F.round(d_, 6).alias("cooks_d"),
    )
    return out.orderBy(F.col("cooks_d").desc(), F.col("t").asc()).limit(5)


@query(
    "qini_curve",
    """
    WITH u AS (
        SELECT user_id,
               ('0x' || substr(md5('up:' || user_id::VARCHAR), 1, 8))::BIGINT
                   % 2 AS t,
               COUNT(*)::BIGINT AS x,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
        FROM events GROUP BY user_id
    ),
    ranked AS (
        SELECT t, y,
               ROW_NUMBER() OVER (ORDER BY x DESC, user_id ASC)::BIGINT AS rk,
               (SELECT COUNT(*) FROM u)::BIGINT AS n
        FROM u
    ),
    dec AS (
        SELECT ((rk - 1) * 10 // n + 1)::BIGINT AS decile, t, y FROM ranked
    ),
    per AS (
        SELECT decile,
               SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END)::BIGINT AS nt,
               SUM(CASE WHEN t = 1 THEN y ELSE 0 END)::BIGINT AS yt,
               SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END)::BIGINT AS nc,
               SUM(CASE WHEN t = 0 THEN y ELSE 0 END)::BIGINT AS yc
        FROM dec GROUP BY decile
    ),
    cum AS (
        SELECT decile,
               SUM(nt) OVER (ORDER BY decile)::BIGINT AS nt,
               SUM(yt) OVER (ORDER BY decile)::BIGINT AS yt,
               SUM(nc) OVER (ORDER BY decile)::BIGINT AS nc,
               SUM(yc) OVER (ORDER BY decile)::BIGINT AS yc
        FROM per
    ),
    tot AS (
        SELECT yt AS yt10, yc AS yc10, nt AS nt10, nc AS nc10
        FROM cum WHERE decile = 10
    )
    SELECT cum.decile, cum.nt AS n_treat_cum, cum.yt AS y_treat_cum,
           cum.nc AS n_ctrl_cum, cum.yc AS y_ctrl_cum,
           ROUND(cum.yt - cum.yc::DOUBLE * cum.nt / cum.nc, 6) + 0.0
               AS qini_value,
           ROUND((cum.yt - cum.yc::DOUBLE * cum.nt / cum.nc)
                 - (tot.yt10 - tot.yc10::DOUBLE * tot.nt10 / tot.nc10)
                   * cum.decile / 10, 6) + 0.0 AS qini_minus_random
    FROM cum, tot ORDER BY cum.decile
    """,
)
def qini_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini curve for the activity-ranked uplift model (Radcliffe 2007) —
    the evaluation companion to uplift_stump: users sort by the uplift
    score (event count, the stump's covariate), and at each cumulative
    decile the Qini value y_T - y_C * N_T/N_C measures incremental
    conversions captured so far; qini_minus_random subtracts the
    straight-line random-targeting baseline (its sum over deciles is the
    Qini coefficient — positive means the ranking targets persuadables
    better than chance).

    Parity: deciles come from exact integer rank arithmetic ((rk-1)*10 //
    n — the scalable ntile replacement isotonic_calibration established);
    cumulative cells are exact BIGINT windows over the 10-row decile
    frame; each Qini value is a fixed tree with ONE division, and both
    rounded outputs carry `+ 0.0`.

    Scale: one groupBy(user), one rank window (the honest sort any
    ranked-targeting evaluation pays), then 10-row arithmetic."""
    from fusionspark.operators.dedup import md5_hash32

    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.count("*").cast("long").alias("x"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .alias("y"),
    ).select(
        "user_id", "x", "y",
        (md5_hash32(F.concat(F.lit("up:"), F.col("user_id").cast("string")))
         % 2).alias("t"),
    )
    nn = u.agg(F.count("*").cast("long").alias("n"))
    ranked = u.select(
        "t", "y",
        F.row_number().over(Window.orderBy(F.col("x").desc(), F.col("user_id")))
        .cast("long").alias("rk"),
    ).crossJoin(F.broadcast(nn))
    dec = ranked.select(
        (F.floor((F.col("rk") - 1) * 10 / F.col("n")) + 1).cast("long")
        .alias("decile"),
        "t", "y",
    )
    per = dec.groupBy("decile").agg(
        F.sum(F.when(F.col("t") == 1, 1).otherwise(0)).cast("long").alias("nt"),
        F.sum(F.when(F.col("t") == 1, F.col("y")).otherwise(0))
        .cast("long").alias("yt"),
        F.sum(F.when(F.col("t") == 0, 1).otherwise(0)).cast("long").alias("nc"),
        F.sum(F.when(F.col("t") == 0, F.col("y")).otherwise(0))
        .cast("long").alias("yc"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select(
        "decile",
        F.sum("nt").over(w).cast("long").alias("nt"),
        F.sum("yt").over(w).cast("long").alias("yt"),
        F.sum("nc").over(w).cast("long").alias("nc"),
        F.sum("yc").over(w).cast("long").alias("yc"),
    )
    tot = cum.filter(F.col("decile") == 10).select(
        F.col("yt").alias("yt10"), F.col("yc").alias("yc10"),
        F.col("nt").alias("nt10"), F.col("nc").alias("nc10"),
    )
    j = cum.crossJoin(F.broadcast(tot))
    qv = F.col("yt") - F.col("yc").cast("double") * F.col("nt") / F.col("nc")
    qtot = F.col("yt10") - F.col("yc10").cast("double") * F.col("nt10") / F.col(
        "nc10"
    )
    return j.select(
        "decile",
        F.col("nt").alias("n_treat_cum"), F.col("yt").alias("y_treat_cum"),
        F.col("nc").alias("n_ctrl_cum"), F.col("yc").alias("y_ctrl_cum"),
        (F.round(qv, 6) + F.lit(0.0)).alias("qini_value"),
        (F.round(qv - qtot * F.col("decile") / 10, 6) + F.lit(0.0))
        .alias("qini_minus_random"),
    ).orderBy("decile")


# Bloom sizing constants as exact integer ratios: ln 2 and -ln(fpp).
_BLOOM_LN2_NUM = 6931471805599453  # / 1e16
_BLOOM_LNP = {"0.01": 4605170185988091, "0.001": 6907755278982137}  # /1e15


@query(
    "bloom_sizing_plan",
    f"""
    WITH counts AS (
        SELECT 'orders.o_custkey' AS key_set,
               COUNT(DISTINCT o_custkey)::BIGINT AS n FROM orders
        UNION ALL
        SELECT 'lineitem.l_partkey', COUNT(DISTINCT l_partkey)::BIGINT
        FROM lineitem
        UNION ALL
        SELECT 'events.user_id', COUNT(DISTINCT user_id)::BIGINT FROM events
    ),
    fpps AS (
        SELECT '0.01' AS fpp, {_BLOOM_LNP['0.01']}::DOUBLE
               / 1000000000000000 AS lnp
        UNION ALL
        SELECT '0.001', {_BLOOM_LNP['0.001']}::DOUBLE / 1000000000000000
    ),
    plan AS (
        SELECT c.key_set, c.n, f.fpp,
               CAST(CEIL(c.n * f.lnp
                         / (({_BLOOM_LN2_NUM}::DOUBLE / 10000000000000000)
                            * ({_BLOOM_LN2_NUM}::DOUBLE / 10000000000000000)))
                    AS BIGINT) AS bits
        FROM counts c CROSS JOIN fpps f
    )
    SELECT key_set, n AS n_distinct, fpp, bits,
           CAST(CEIL(bits::DOUBLE / n
                     * ({_BLOOM_LN2_NUM}::DOUBLE / 10000000000000000))
                AS BIGINT) AS n_hashes,
           ROUND(bits::DOUBLE / 8 / 1048576, 6) AS mbytes
    FROM plan ORDER BY key_set, fpp
    """,
)
def bloom_sizing_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter sizing plan for the three join-key sets a broadcast
    bloom prefilter (bloom_join_filter / bloom_prefilter) would build:
    optimal bits m = ceil(n * -ln(fpp) / ln(2)^2) and hash count k =
    ceil(m/n * ln 2) at target false-positive rates 1% and 0.1% — the
    capacity arithmetic that decides whether the filter fits in a
    broadcast (the mbytes column IS the broadcast budget line).

    Parity: distinct counts are exact BIGINTs; ln 2 and -ln(fpp) are
    INTEGER-literal ratios (libm never runs); bits/hashes go through
    CEIL on identical doubles — exact integer outputs; mbytes is one
    rounded division.

    Scale: three distinct-count aggregates with partial aggregation;
    the plan itself is 6 rows."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    e = load_table(spark, sf_dir, "events")
    counts = (
        o.agg(F.countDistinct("o_custkey").cast("long").alias("n"))
        .select(F.lit("orders.o_custkey").alias("key_set"), "n")
        .unionByName(
            li.agg(F.countDistinct("l_partkey").cast("long").alias("n"))
            .select(F.lit("lineitem.l_partkey").alias("key_set"), "n")
        )
        .unionByName(
            e.agg(F.countDistinct("user_id").cast("long").alias("n"))
            .select(F.lit("events.user_id").alias("key_set"), "n")
        )
    )
    ln2 = F.lit(_BLOOM_LN2_NUM).cast("double") / F.lit(10**16).cast("double")
    fpps = None
    for fpp, num in _BLOOM_LNP.items():
        row = spark.range(1).select(
            F.lit(fpp).alias("fpp"),
            (F.lit(num).cast("double") / F.lit(10**15).cast("double"))
            .alias("lnp"),
        )
        fpps = row if fpps is None else fpps.unionByName(row)
    plan = counts.crossJoin(F.broadcast(fpps)).select(
        "key_set", "n", "fpp",
        F.ceil(F.col("n") * F.col("lnp") / (ln2 * ln2)).cast("long")
        .alias("bits"),
    )
    return plan.select(
        "key_set", F.col("n").alias("n_distinct"), "fpp", "bits",
        F.ceil(F.col("bits").cast("double") / F.col("n") * ln2).cast("long")
        .alias("n_hashes"),
        F.round(F.col("bits").cast("double") / 8 / 1048576, 6).alias("mbytes"),
    ).orderBy("key_set", "fpp")


@query(
    "label_model_3lf",
    """
    WITH lf AS (
        SELECT CASE WHEN len(regexp_extract_all(text, '[.!?]')) >= 3
                    THEN 1 ELSE 0 END AS l1,
               CASE WHEN len(list_filter(string_split(lower(text), ' '),
                                         x -> x <> '')) >= 80
                    THEN 1 ELSE 0 END AS l2,
               CASE WHEN n_chars >= 450 THEN 1 ELSE 0 END AS l3
        FROM documents
    ),
    agr AS (
        SELECT COUNT(*)::BIGINT AS n,
               SUM(CASE WHEN l1 = l2 THEN 1 ELSE 0 END)::BIGINT AS a12,
               SUM(CASE WHEN l1 = l3 THEN 1 ELSE 0 END)::BIGINT AS a13,
               SUM(CASE WHEN l2 = l3 THEN 1 ELSE 0 END)::BIGINT AS a23,
               SUM(CASE WHEN l1 + l2 + l3 >= 2 THEN 1 ELSE 0 END)::BIGINT
                   AS n_majority_pos
        FROM lf
    ),
    c AS (
        SELECT n, a12, a13, a23, n_majority_pos,
               (2.0 * a12 - n) / n AS c12,
               (2.0 * a13 - n) / n AS c13,
               (2.0 * a23 - n) / n AS c23
        FROM agr
    )
    SELECT n, a12, a13, a23, n_majority_pos,
           ROUND(CASE WHEN c12 * c13 * c23 > 0
                      THEN (1.0 + sqrt(c12 * c13 / c23)) / 2 END, 6)
               AS acc_lf1,
           ROUND(CASE WHEN c12 * c13 * c23 > 0
                      THEN (1.0 + sqrt(c12 * c23 / c13)) / 2 END, 6)
               AS acc_lf2,
           ROUND(CASE WHEN c12 * c13 * c23 > 0
                      THEN (1.0 + sqrt(c13 * c23 / c12)) / 2 END, 6)
               AS acc_lf3
    FROM c
    """,
)
def label_model_3lf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snorkel-style label model for THREE labeling functions WITHOUT any
    ground truth (Ratner et al. 2017; the classic three-viewpoint
    triangulation): under conditional independence, pairwise agreement
    rates identify each LF's accuracy in closed form — with correlation
    c_ij = 2*a_ij/n - 1 and balanced classes, (2p_i - 1)^2 = c_ij *
    c_ik / c_jk, so acc_i = (1 + sqrt(c_ij*c_ik/c_jk))/2.  The LFs are
    the krippendorff_alpha heuristics; n_majority_pos is the
    majority-vote positive count the downstream training set would use.

    Parity: agreements are exact BIGINT conditional sums in ONE
    aggregate; each c is one division; the accuracies are fixed trees
    (one sqrt each) guarded by an identifiability condition (all three
    products positive) that yields NULL identically when triangulation
    fails.

    Scale: one full-scan aggregate with map-side combine; closed form on
    a 5-integer row."""
    d = load_table(spark, sf_dir, "documents")
    l1 = F.when(
        F.size(F.regexp_extract_all("text", F.lit("[.!?]"), F.lit(0))) >= 3, 1
    ).otherwise(0)
    l2 = F.when(
        F.size(F.filter(F.split(F.lower("text"), " "), lambda x: x != "")) >= 80,
        1,
    ).otherwise(0)
    l3 = F.when(F.col("n_chars") >= 450, 1).otherwise(0)
    lf = d.select(l1.alias("l1"), l2.alias("l2"), l3.alias("l3"))
    agr = lf.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("l1") == F.col("l2"), 1).otherwise(0))
        .cast("long").alias("a12"),
        F.sum(F.when(F.col("l1") == F.col("l3"), 1).otherwise(0))
        .cast("long").alias("a13"),
        F.sum(F.when(F.col("l2") == F.col("l3"), 1).otherwise(0))
        .cast("long").alias("a23"),
        F.sum(
            F.when(F.col("l1") + F.col("l2") + F.col("l3") >= 2, 1).otherwise(0)
        ).cast("long").alias("n_majority_pos"),
    )
    c12 = (2.0 * F.col("a12") - F.col("n")) / F.col("n")
    c13 = (2.0 * F.col("a13") - F.col("n")) / F.col("n")
    c23 = (2.0 * F.col("a23") - F.col("n")) / F.col("n")
    ident = c12 * c13 * c23 > 0
    return agr.select(
        "n", "a12", "a13", "a23", "n_majority_pos",
        F.round(
            F.when(ident, (1.0 + F.sqrt(c12 * c13 / c23)) / 2), 6
        ).alias("acc_lf1"),
        F.round(
            F.when(ident, (1.0 + F.sqrt(c12 * c23 / c13)) / 2), 6
        ).alias("acc_lf2"),
        F.round(
            F.when(ident, (1.0 + F.sqrt(c13 * c23 / c12)) / 2), 6
        ).alias("acc_lf3"),
    )


_ER_TYPES = ["click", "error", "purchase", "signup", "view"]


def _entropy_rate_oracle() -> str:
    pair_terms = []
    for a in _ER_TYPES:
        for b in _ER_TYPES:
            pair_terms.append(
                f"CASE WHEN c_{a}_{b} > 0 AND r_{a} > 0 THEN"
                f" (r_{a}::DOUBLE / tn) * (c_{a}_{b}::DOUBLE / r_{a})"
                f" * ln(r_{a}::DOUBLE / c_{a}_{b}) ELSE 0.0 END"
            )
    pair_cols = ",\n               ".join(
        f"SUM(CASE WHEN g = '{a}' AND ng = '{b}' THEN 1 ELSE 0 END)::BIGINT"
        f" AS c_{a}_{b}"
        for a in _ER_TYPES for b in _ER_TYPES
    )
    row_cols = ",\n               ".join(
        f"SUM(CASE WHEN g = '{a}' THEN 1 ELSE 0 END)::BIGINT AS r_{a}"
        for a in _ER_TYPES
    )
    return f"""
    WITH seq AS (
        SELECT user_id, event_type AS g,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS ng
        FROM events
    ),
    pairs AS (SELECT g, ng FROM seq WHERE ng IS NOT NULL),
    m AS (
        SELECT COUNT(*)::BIGINT AS tn,
               {pair_cols},
               {row_cols}
        FROM pairs
    )
    SELECT tn AS n_transitions,
           ROUND({" + ".join(pair_terms)}, 6) AS entropy_rate_nats,
           ROUND(({" + ".join(pair_terms)})
                 / ({int(round(__import__("math").log(5) * 10**15))}::DOUBLE
                    / 1000000000000000), 6) AS normalized
    FROM m
    """


@query("entropy_rate", _entropy_rate_oracle())
def entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the per-user event-type Markov chain — how
    predictable is the NEXT action given the current one: H = -sum_i
    pi_i sum_j P_ij ln P_ij in nats, normalized by ln(5) (the maximum
    for 5 states) — the single-number predictability readout on top of
    event_transitions' matrix and markov_stationary's pi (0 = fully
    deterministic behavior, 1 = uniform randomness; the
    session-modeling prior a sequence model's achievable loss is
    bounded by).

    Parity: transition and row counts are exact BIGINT conditional sums
    in ONE aggregate over the LEAD pairs; the 25 plug-in terms
    (pi_i * P_ij * ln(1/P_ij), each TWO exact-integer divisions and one
    ln on identical doubles) sum in FIXED (i, j) literal order; ln(5)
    enters as an integer-literal ratio.

    Scale: one per-user window builds transitions (hash-partitioned by
    user); one aggregate; 25-term closed form on a single row."""
    e = load_table(spark, sf_dir, "events")
    seq = e.select(
        "user_id", F.col("event_type").alias("g"),
        F.lead("event_type").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        ).alias("ng"),
    ).filter(F.col("ng").isNotNull())
    aggs = [F.count("*").cast("long").alias("tn")]
    for a in _ER_TYPES:
        for b in _ER_TYPES:
            aggs.append(
                F.sum(
                    F.when((F.col("g") == a) & (F.col("ng") == b), 1).otherwise(0)
                ).cast("long").alias(f"c_{a}_{b}")
            )
    for a in _ER_TYPES:
        aggs.append(
            F.sum(F.when(F.col("g") == a, 1).otherwise(0)).cast("long")
            .alias(f"r_{a}")
        )
    m = seq.agg(*aggs)
    terms = None
    for a in _ER_TYPES:
        for b in _ER_TYPES:
            c = F.col(f"c_{a}_{b}")
            r = F.col(f"r_{a}")
            t = F.when(
                (c > 0) & (r > 0),
                (r.cast("double") / F.col("tn"))
                * (c.cast("double") / r)
                * F.log(r.cast("double") / c),
            ).otherwise(F.lit(0.0))
            terms = t if terms is None else terms + t
    import math as _math

    ln5 = F.lit(int(round(_math.log(5) * 10**15))).cast("double") / F.lit(
        10**15
    ).cast("double")
    return m.select(
        F.col("tn").alias("n_transitions"),
        F.round(terms, 6).alias("entropy_rate_nats"),
        F.round(terms / ln5, 6).alias("normalized"),
    )


# KS one-sample critical value at alpha=.05: 1.358 (asymptotic), as an
# integer-literal ratio.
_KSU_CRIT_NUM = 1358


@query(
    "coin_uniformity",
    """
    WITH u AS (
        SELECT DISTINCT user_id FROM events
    ),
    coins AS (
        SELECT ('0x' || substr(md5('up:' || user_id::VARCHAR), 1, 8))::BIGINT
                   AS c
        FROM u
    ),
    ranked AS (
        SELECT c, ROW_NUMBER() OVER (ORDER BY c, c)::BIGINT AS i,
               (SELECT COUNT(*) FROM coins)::BIGINT AS n
        FROM coins
    ),
    d AS (
        SELECT MAX(i * 4294967296 - n * c)::BIGINT AS dplus,
               MAX(n * c - (i - 1) * 4294967296)::BIGINT AS dminus,
               MAX(n)::BIGINT AS n
        FROM ranked
    )
    SELECT n,
           ROUND(dplus::DOUBLE / (n::DOUBLE * 4294967296), 6) AS d_plus,
           ROUND(dminus::DOUBLE / (n::DOUBLE * 4294967296), 6) AS d_minus,
           ROUND(greatest(dplus, dminus)::DOUBLE
                 / (n::DOUBLE * 4294967296), 6) AS ks_stat,
           ROUND(greatest(dplus, dminus)::DOUBLE
                 / (n::DOUBLE * 4294967296) * sqrt(n::DOUBLE), 6)
               AS ks_scaled,
           (greatest(dplus, dminus)::DOUBLE / (n::DOUBLE * 4294967296)
            * sqrt(n::DOUBLE) < 1358::DOUBLE / 1000) AS uniform_ok
    FROM d
    """,
)
def coin_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sample Kolmogorov-Smirnov uniformity audit of the repo's OWN
    md5 randomization coin (the `up:` coin that uplift_stump /
    ab_srm_check / qini_curve randomize with): D = max(D+, D-) between
    the empirical CDF of the 32-bit coin values and Uniform[0, 2^32),
    with sqrt(n)*D against the asymptotic 5% critical value 1.358 —
    the infrastructure self-QA that certifies every md5-coin experiment
    upstream (SRM checks the SPLIT ratio; this checks the coin's whole
    DISTRIBUTION).

    Parity: coins are exact BIGINTs; D+ and D- are exact integer
    maxima of i*2^32 - n*c_i over the rank window (<= ~6e15 at sf1 —
    int64 headroom); the statistics are single divisions and the
    verdict compares identical doubles against an INTEGER-literal
    critical ratio.

    Scale: one distinct + one rank window over |users| (the honest sort
    of any ECDF statistic); everything after is a 3-integer row."""
    e = load_table(spark, sf_dir, "events")
    from fusionspark.operators.dedup import md5_hash32

    u = e.select("user_id").distinct()
    coins = u.select(
        md5_hash32(
            F.concat(F.lit("up:"), F.col("user_id").cast("string"))
        ).alias("c")
    )
    nn = coins.agg(F.count("*").cast("long").alias("n"))
    ranked = coins.select(
        "c",
        F.row_number().over(Window.orderBy("c")).cast("long").alias("i"),
    ).crossJoin(F.broadcast(nn))
    two32 = F.lit(4294967296).cast("long")
    d = ranked.agg(
        F.max(F.col("i") * two32 - F.col("n") * F.col("c")).cast("long")
        .alias("dplus"),
        F.max(F.col("n") * F.col("c") - (F.col("i") - 1) * two32).cast("long")
        .alias("dminus"),
        F.max("n").cast("long").alias("n"),
    )
    denom = F.col("n").cast("double") * 4294967296.0
    ks = F.greatest("dplus", "dminus").cast("double") / denom
    crit = F.lit(_KSU_CRIT_NUM).cast("double") / F.lit(1000).cast("double")
    return d.select(
        "n",
        F.round(F.col("dplus").cast("double") / denom, 6).alias("d_plus"),
        F.round(F.col("dminus").cast("double") / denom, 6).alias("d_minus"),
        F.round(ks, 6).alias("ks_stat"),
        F.round(ks * F.sqrt(F.col("n").cast("double")), 6).alias("ks_scaled"),
        (ks * F.sqrt(F.col("n").cast("double")) < crit).alias("uniform_ok"),
    )

_LEV_TYPES = ["click", "error", "purchase", "signup", "view"]


def _levene_oracle() -> str:
    piv = ",\n               ".join(
        f"MAX(CASE WHEN g = '{t}' THEN n END)::BIGINT AS n{i},\n"
        f"               MAX(CASE WHEN g = '{t}' THEN s END)::BIGINT AS s{i},\n"
        f"               MAX(CASE WHEN g = '{t}' THEN ss END)::BIGINT AS ss{i}"
        for i, t in enumerate(_LEV_TYPES)
    )
    sb = " + ".join(f"(s{i}::DOUBLE * s{i} / n{i})" for i in range(5))
    nn = " + ".join(f"n{i}" for i in range(5))
    stot = " + ".join(f"s{i}" for i in range(5))
    sstot = " + ".join(f"ss{i}" for i in range(5))
    return f"""
    WITH ev AS (
        SELECT event_type AS g, CAST(ROUND(value * 100) AS BIGINT) AS v
        FROM events
    ),
    grid AS (
        SELECT g, v, COUNT(*)::BIGINT AS cnt FROM ev GROUP BY g, v
    ),
    cum AS (
        SELECT g, v, cnt,
               SUM(cnt) OVER (PARTITION BY g ORDER BY v)::BIGINT AS c,
               SUM(cnt) OVER (PARTITION BY g)::BIGINT AS n
        FROM grid
    ),
    med AS (
        SELECT g,
               MIN(CASE WHEN c >= (n + 1) // 2 THEN v END)::BIGINT AS lo,
               MIN(CASE WHEN c >= n // 2 + 1 THEN v END)::BIGINT AS hi
        FROM cum GROUP BY g
    ),
    z AS (
        SELECT ev.g, abs(2 * ev.v - (med.lo + med.hi))::BIGINT AS d
        FROM ev JOIN med ON med.g = ev.g
    ),
    st AS (
        SELECT g, COUNT(*)::BIGINT AS n, SUM(d)::BIGINT AS s,
               SUM(d * d)::BIGINT AS ss
        FROM z GROUP BY g
    ),
    wide AS (
        SELECT {piv}
        FROM st
    ),
    f AS (
        SELECT ({nn})::BIGINT AS nn, ({stot})::BIGINT AS stot,
               ({sstot})::BIGINT AS sstot, ({sb}) AS sb
        FROM wide
    )
    SELECT nn AS n_obs, 5::BIGINT AS k_groups,
           ROUND((sb - stot::DOUBLE * stot / nn) / 4
                 / ((sstot - sb) / (nn - 5)), 6) + 0.0 AS f_stat,
           ((sb - stot::DOUBLE * stot / nn) / 4
            / ((sstot - sb) / (nn - 5)) > 2.372) AS variances_differ
    FROM f
    """


@query("levene_test", _levene_oracle())
def levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe (median-centered Levene) test of variance
    homogeneity across the five event types — the PRECONDITION check for
    anova_oneway and tukey_hsd (both assume equal variances): one-way
    ANOVA on absolute deviations from each group's MEDIAN (Brown &
    Forsythe 1974; the robust form), F against 2.372 = F_{.05}(4, inf)
    as a shared decimal literal.

    Parity: group medians use the DOUBLED-median trick on the
    distinct-value grid (2*med = v_(ceil(n/2)) + v_(floor(n/2)+1) — an
    exact BIGINT, never a float average); deviations d = |2v - 2med| are
    exact integers, so every group moment is an exact BIGINT.  The five
    S_g^2/n_g terms sum in FIXED pivot order (click, error, purchase,
    signup, view — the kruskal_wallis discipline), never shuffle order;
    f_stat is one fixed tree and carries `+ 0.0`.

    Scale: one groupBy(type, value-grid) + per-group cumulative windows
    on the grid; one corpus re-scan for deviations with the 5-row median
    table broadcast — the mad_by_type shape."""
    e = load_table(spark, sf_dir, "events")
    ev = e.select(
        F.col("event_type").alias("g"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    grid = ev.groupBy("g", "v").agg(F.count("*").cast("long").alias("cnt"))
    wg = Window.partitionBy("g").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy("g")
    cum = grid.select(
        "g", "v", "cnt",
        F.sum("cnt").over(wg).cast("long").alias("c"),
        F.sum("cnt").over(wall).cast("long").alias("n"),
    )
    med = cum.groupBy("g").agg(
        F.min(
            F.when(F.col("c") >= F.floor((F.col("n") + 1) / 2), F.col("v"))
        ).cast("long").alias("lo"),
        F.min(
            F.when(F.col("c") >= F.floor(F.col("n") / 2) + 1, F.col("v"))
        ).cast("long").alias("hi"),
    )
    z = ev.join(F.broadcast(med), "g").select(
        "g",
        F.abs(2 * F.col("v") - (F.col("lo") + F.col("hi"))).cast("long")
        .alias("d"),
    )
    st = z.groupBy("g").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("d").cast("long").alias("s"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("ss"),
    )
    aggs = []
    for i, t in enumerate(_LEV_TYPES):
        aggs.append(F.max(F.when(F.col("g") == t, F.col("n"))).cast("long")
                    .alias(f"n{i}"))
        aggs.append(F.max(F.when(F.col("g") == t, F.col("s"))).cast("long")
                    .alias(f"s{i}"))
        aggs.append(F.max(F.when(F.col("g") == t, F.col("ss"))).cast("long")
                    .alias(f"ss{i}"))
    wide = st.agg(*aggs)
    sb = None
    nn = None
    stot = None
    sstot = None
    for i in range(5):
        term = F.col(f"s{i}").cast("double") * F.col(f"s{i}") / F.col(f"n{i}")
        sb = term if sb is None else sb + term
        nn = F.col(f"n{i}") if nn is None else nn + F.col(f"n{i}")
        stot = F.col(f"s{i}") if stot is None else stot + F.col(f"s{i}")
        sstot = F.col(f"ss{i}") if sstot is None else sstot + F.col(f"ss{i}")
    f_ = wide.select(
        nn.cast("long").alias("nn"), stot.cast("long").alias("stot"),
        sstot.cast("long").alias("sstot"), sb.alias("sb"),
    )
    fstat = (
        (F.col("sb") - F.col("stot").cast("double") * F.col("stot") / F.col("nn"))
        / 4
    ) / ((F.col("sstot") - F.col("sb")) / (F.col("nn") - 5))
    return f_.select(
        F.col("nn").alias("n_obs"),
        F.lit(5).cast("long").alias("k_groups"),
        (F.round(fstat, 6) + F.lit(0.0)).alias("f_stat"),
        (fstat > 2.372).alias("variances_differ"),
    )


# ---------------------------------------------------------------------------
# Round 12: Cochran's Q — k-period paired binary outcomes
# ---------------------------------------------------------------------------


@query(
    "cochran_q",
    """
    WITH horizon AS (SELECT MIN(ts::DATE) AS d0 FROM events),
    u AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'purchase'
                         AND ts::DATE < d0 + INTERVAL 10 DAY
                        THEN 1 ELSE 0 END)::BIGINT AS x1,
               MAX(CASE WHEN event_type = 'purchase'
                         AND ts::DATE >= d0 + INTERVAL 10 DAY
                         AND ts::DATE < d0 + INTERVAL 20 DAY
                        THEN 1 ELSE 0 END)::BIGINT AS x2,
               MAX(CASE WHEN event_type = 'purchase'
                         AND ts::DATE >= d0 + INTERVAL 20 DAY
                        THEN 1 ELSE 0 END)::BIGINT AS x3
        FROM events, horizon GROUP BY user_id
    ),
    m AS (
        SELECT COUNT(*)::BIGINT AS n,
               SUM(x1)::BIGINT AS t1, SUM(x2)::BIGINT AS t2,
               SUM(x3)::BIGINT AS t3,
               SUM(3 * (x1 + x2 + x3)
                   - (x1 + x2 + x3) * (x1 + x2 + x3))::BIGINT AS denom
        FROM u
    )
    SELECT n AS n_users, t1, t2, t3,
           ROUND(CASE WHEN denom > 0 THEN
                 (2 * (3 * (t1 * t1 + t2 * t2 + t3 * t3)
                       - (t1 + t2 + t3) * (t1 + t2 + t3)))::DOUBLE
                 / denom END, 6) AS q_stat
    FROM m
    """,
)
def cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q test (1950) — did per-user conversion change across
    THREE 10-day thirds of the horizon: the k-treatment extension of
    mcnemar_test's paired halves.  Q = (k-1)[k SUM T_j^2 - (SUM T_j)^2]
    / SUM(k R_i - R_i^2) ~ chi^2(k-1) under marginal homogeneity, with
    T_j the period totals and R_i the per-user success counts; constant
    rows (all-0 / all-1 users) provably cancel from BOTH numerator and
    denominator, so no row filtering is needed (replay-pytested).

    Parity: the binary panel is three conditional MAXes over one
    groupBy(user); numerator and denominator are exact BIGINTs and Q is
    ONE correctly-rounded non-negative division (denominator 0 — every
    user constant — yields NULL in both engines).

    Scale: one groupBy(user) with map-side combine collapses the event
    stream; the statistic evaluates on a single 5-integer row."""
    e = load_table(spark, sf_dir, "events")
    d0 = e.agg(F.min(F.to_date("ts")).alias("d0"))
    is_p = F.col("event_type") == "purchase"
    dt = F.to_date("ts")
    u = (
        e.crossJoin(F.broadcast(d0))
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(is_p & (dt < F.date_add("d0", 10)), 1).otherwise(0)
            ).cast("long").alias("x1"),
            F.max(
                F.when(
                    is_p
                    & (dt >= F.date_add("d0", 10))
                    & (dt < F.date_add("d0", 20)),
                    1,
                ).otherwise(0)
            ).cast("long").alias("x2"),
            F.max(
                F.when(is_p & (dt >= F.date_add("d0", 20)), 1).otherwise(0)
            ).cast("long").alias("x3"),
        )
    )
    r = F.col("x1") + F.col("x2") + F.col("x3")
    m = u.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x1").cast("long").alias("t1"),
        F.sum("x2").cast("long").alias("t2"),
        F.sum("x3").cast("long").alias("t3"),
        F.sum(3 * r - r * r).cast("long").alias("denom"),
    )
    num = 2 * (
        3
        * (
            F.col("t1") * F.col("t1")
            + F.col("t2") * F.col("t2")
            + F.col("t3") * F.col("t3")
        )
        - (F.col("t1") + F.col("t2") + F.col("t3"))
        * (F.col("t1") + F.col("t2") + F.col("t3"))
    )
    return m.select(
        F.col("n").alias("n_users"), "t1", "t2", "t3",
        F.round(
            F.when(F.col("denom") > 0, num.cast("double") / F.col("denom")),
            6,
        ).alias("q_stat"),
    )


# Shared by kendall_w / page_trend (friedman_test's machinery, kept
# verbatim there since that query is on the current attestation board):
# the zero-filled day x type count grid and its within-day DOUBLED
# average ranks (2*less + eq + 1 — exact BIGINTs under ties).
_RANK_GRID_SQL = """grid AS (
        SELECT ts::DATE AS d, event_type AS g, COUNT(*)::BIGINT AS x
        FROM events GROUP BY 1, 2
    ),
    full_grid AS (
        SELECT dy.d, t.g, COALESCE(grid.x, 0)::BIGINT AS x
        FROM (SELECT DISTINCT ts::DATE AS d FROM events) dy
        CROSS JOIN (SELECT DISTINCT event_type AS g FROM events) t
        LEFT JOIN grid ON grid.d = dy.d AND grid.g = t.g
    ),
    ranked AS (
        SELECT a.d, a.g,
               SUM(CASE WHEN b.x < a.x THEN 2
                        WHEN b.x = a.x THEN 1 ELSE 0 END)::BIGINT + 1 AS dr
        FROM full_grid a JOIN full_grid b ON b.d = a.d
        GROUP BY a.d, a.g
    ),
    rsum AS (SELECT g, SUM(dr)::BIGINT AS r FROM ranked GROUP BY g)"""


def _rank_grid(spark, sf_dir: str):
    """Spark twin of _RANK_GRID_SQL: returns (days, types, fg, rsum)."""
    e = load_table(spark, sf_dir, "events")
    days = e.select(F.to_date("ts").alias("d")).distinct()
    types = e.select(F.col("event_type").alias("g")).distinct()
    grid = e.groupBy(
        F.to_date("ts").alias("d"), F.col("event_type").alias("g")
    ).agg(F.count("*").cast("long").alias("x"))
    fg = (
        days.crossJoin(types)
        .join(grid, ["d", "g"], "left")
        .select("d", "g", F.coalesce("x", F.lit(0)).cast("long").alias("x"))
    )
    b = fg.select(F.col("d").alias("db"), F.col("x").alias("xb"))
    ranked = (
        fg.join(b, F.col("db") == F.col("d"))
        .groupBy("d", "g")
        .agg(
            (
                F.sum(
                    F.when(F.col("xb") < F.col("x"), 2)
                    .when(F.col("xb") == F.col("x"), 1)
                    .otherwise(0)
                )
                + 1
            ).cast("long").alias("dr")
        )
    )
    rsum = ranked.groupBy("g").agg(F.sum("dr").cast("long").alias("r"))
    return days, types, fg, rsum


# ---------------------------------------------------------------------------
# Round 12: Kendall's W — concordance of daily type rankings
# ---------------------------------------------------------------------------


@query(
    "kendall_w",
    f"""
    WITH {_RANK_GRID_SQL},
    ties AS (
        SELECT COALESCE(SUM(t * t * t - t), 0)::BIGINT AS tt
        FROM (SELECT d, x, COUNT(*)::BIGINT AS t
              FROM full_grid GROUP BY d, x) c
    ),
    wide AS (
        SELECT (SELECT COUNT(DISTINCT d) FROM full_grid)::BIGINT AS n,
               (SELECT COUNT(DISTINCT g) FROM full_grid)::BIGINT AS k,
               SUM(r * r)::BIGINT AS sr2
        FROM rsum
    )
    SELECT n AS n_blocks, k AS k_objects, sr2 AS sum_dr2, tt AS ties_term,
           ROUND(CASE WHEN n * n * k * (k * k - 1) - n * tt > 0 THEN
                 (3 * sr2 - 3 * k * n * n * (k + 1) * (k + 1))::DOUBLE
                 / (n * n * k * (k * k - 1) - n * tt) END, 6) AS w
    FROM wide, ties
    """,
)
def kendall_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's coefficient of concordance W (1939) — HOW MUCH the days
    agree on the relative intensity ordering of the five event types
    (friedman_test answers WHETHER they differ; W = chi2_F/(n(k-1)) is
    its effect size, 0 = random rankings, 1 = perfect agreement), with
    the tie correction W = (12 SUM R_j^2 - 3 n^2 k(k+1)^2)
    / (n^2 k(k^2-1) - n SUM(t^3 - t)).

    Parity: within-day ranks use friedman_test's doubled-average-rank
    form (2*less + eq + 1 from the per-day self-join) so tied average
    ranks never materialize as floats; with doubled rank sums R' = 2R
    the numerator becomes 3 SUM R'^2 - 3 k n^2 (k+1)^2 — exact BIGINTs
    (numerator = 48*S >= 0, so the single correctly-rounded division is
    never a signed zero); the tie term t^3 - t folds over the per-(day,
    value) group sizes as exact BIGINTs.

    Scale: one groupBy(day, type) with map-side combine collapses the
    corpus; ranks and ties evaluate on the |days| x 5 grid.  A fully
    tied degenerate corpus (every day's five counts equal) zeroes the
    denominator: the guard yields NULL in both engines (DuckDB would
    otherwise emit NaN where Spark emits NULL)."""
    days, types, fg, rsum = _rank_grid(spark, sf_dir)
    wide = rsum.agg(F.sum(F.col("r") * F.col("r")).cast("long").alias("sr2"))
    ties = (
        fg.groupBy("d", "x")
        .agg(F.count("*").cast("long").alias("t"))
        .agg(
            F.coalesce(
                F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")),
                F.lit(0),
            ).cast("long").alias("tt")
        )
    )
    nk = days.agg(F.count("*").cast("long").alias("n")).crossJoin(
        types.agg(F.count("*").cast("long").alias("k"))
    )
    w = wide.crossJoin(F.broadcast(ties)).crossJoin(F.broadcast(nk))
    n, k, sr2, tt = F.col("n"), F.col("k"), F.col("sr2"), F.col("tt")
    den = n * n * k * (k * k - 1) - n * tt
    return w.select(
        n.alias("n_blocks"),
        k.alias("k_objects"),
        sr2.alias("sum_dr2"),
        tt.alias("ties_term"),
        F.round(
            F.when(
                den > 0,
                (3 * sr2 - 3 * k * n * n * (k + 1) * (k + 1)).cast("double")
                / den,
            ),
            6,
        ).alias("w"),
    )


# ---------------------------------------------------------------------------
# Round 12: Page's trend test — ordered alternative across type ranks
# ---------------------------------------------------------------------------


@query(
    "page_trend",
    f"""
    WITH {_RANK_GRID_SQL},
    ordered AS (
        SELECT r, ROW_NUMBER() OVER (ORDER BY g ASC)::BIGINT AS j FROM rsum
    ),
    wide AS (
        SELECT (SELECT COUNT(DISTINCT d) FROM full_grid)::BIGINT AS n,
               (SELECT COUNT(DISTINCT g) FROM full_grid)::BIGINT AS k,
               SUM(j * r)::BIGINT AS l2
        FROM ordered
    )
    SELECT n AS n_blocks, k AS k_treatments,
           l2 AS l_doubled,
           l2 / 2.0 AS l_stat,
           CASE WHEN 6 * l2 > 3 * n * k * (k + 1) * (k + 1) THEN 1
                WHEN 6 * l2 = 3 * n * k * (k + 1) * (k + 1) THEN 0
                ELSE -1 END AS trend_direction,
           CASE WHEN n * k * k * (k * k - 1) * (k + 1) > 0 THEN
               ROUND(((6 * l2 - 3 * n * k * (k + 1) * (k + 1))
                      * (6 * l2 - 3 * n * k * (k + 1) * (k + 1)))::DOUBLE
                     / (n * k * k * (k * k - 1) * (k + 1)), 6)
           END AS chi2_l
    FROM wide
    """,
)
def page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's trend test (1963) for an ORDERED alternative — are the
    five event types' daily intensity ranks monotone in the
    pre-specified (alphabetical) treatment order, where friedman_test
    only asks whether they differ at all: L = SUM_j j*R_j, and
    chi2_L = [12L - 3nk(k+1)^2]^2 / [n k^2 (k^2-1)(k+1)] ~ chi^2(1)
    under the null (the tie-affected approximation is documented; ranks
    reuse friedman's doubled-average-rank form).

    Parity: with doubled rank sums R' = 2R the statistic folds as
    L' = SUM j*R' = 2L — exact BIGINT (l_stat = L'/2 is exact in a
    double: one halving of an integer); the chi2 numerator is an exact
    integer SQUARED (never negative, so the single correctly-rounded
    division cannot emit a signed zero) and trend_direction is an exact
    integer sign from cross-multiplication, never a float compare.
    The treatment order is ROW_NUMBER over g ASC — a total order on the
    five distinct type names, deterministic in both engines.

    Scale: identical to friedman_test — one groupBy(day, type) with
    map-side combine, then the |days| x 5 grid."""
    days, types, fg, rsum = _rank_grid(spark, sf_dir)
    ordered = rsum.select(
        "r",
        F.row_number().over(Window.orderBy(F.col("g").asc())).cast("long").alias("j"),
    )
    wide = ordered.agg(F.sum(F.col("j") * F.col("r")).cast("long").alias("l2"))
    nk = days.agg(F.count("*").cast("long").alias("n")).crossJoin(
        types.agg(F.count("*").cast("long").alias("k"))
    )
    w = wide.crossJoin(F.broadcast(nk))
    n, k, l2 = F.col("n"), F.col("k"), F.col("l2")
    dev = 6 * l2 - 3 * n * k * (k + 1) * (k + 1)
    return w.select(
        n.alias("n_blocks"),
        k.alias("k_treatments"),
        l2.alias("l_doubled"),
        (l2 / F.lit(2.0)).alias("l_stat"),
        F.when(dev > 0, 1).when(dev == 0, 0).otherwise(-1).alias(
            "trend_direction"
        ),
        # k = 1 (single event type) zeroes k^2-1: guard the division so a
        # degenerate corpus gives NULL in BOTH engines (DuckDB would emit
        # inf/NaN where Spark emits NULL) — kendall_w's denominator rule.
        F.when(
            n * k * k * (k * k - 1) * (k + 1) > 0,
            F.round(
                (dev * dev).cast("double")
                / (n * k * k * (k * k - 1) * (k + 1)),
                6,
            ),
        ).alias("chi2_l"),
    )


# ---------------------------------------------------------------------------
# Round 12: Simpson's paradox audit — stratified direction check
# ---------------------------------------------------------------------------


@query(
    "simpsons_paradox",
    """
    WITH s AS (
        SELECT date_part('dow', ts)::BIGINT AS dow,
               user_id % 2 AS grp,
               COUNT(*)::BIGINT AS n,
               SUM(CASE WHEN event_type = 'purchase'
                        THEN 1 ELSE 0 END)::BIGINT AS a
        FROM events GROUP BY 1, 2
    ),
    wide AS (
        SELECT dow,
               SUM(CASE WHEN grp = 0 THEN n ELSE 0 END)::BIGINT AS n0,
               SUM(CASE WHEN grp = 0 THEN a ELSE 0 END)::BIGINT AS a0,
               SUM(CASE WHEN grp = 1 THEN n ELSE 0 END)::BIGINT AS n1,
               SUM(CASE WHEN grp = 1 THEN a ELSE 0 END)::BIGINT AS a1
        FROM s GROUP BY dow
    ),
    agg AS (
        SELECT SUM(n0)::BIGINT AS tn0, SUM(a0)::BIGINT AS ta0,
               SUM(n1)::BIGINT AS tn1, SUM(a1)::BIGINT AS ta1
        FROM wide
    )
    SELECT w.dow, w.n0, w.a0, w.n1, w.a1,
           ROUND(CASE WHEN w.n0 > 0 THEN w.a0::DOUBLE / w.n0 END, 6)
               AS rate0,
           ROUND(CASE WHEN w.n1 > 0 THEN w.a1::DOUBLE / w.n1 END, 6)
               AS rate1,
           CASE WHEN w.a1 * w.n0 > w.a0 * w.n1 THEN 1
                WHEN w.a1 * w.n0 = w.a0 * w.n1 THEN 0
                ELSE -1 END AS dir_stratum,
           CASE WHEN g.ta1 * g.tn0 > g.ta0 * g.tn1 THEN 1
                WHEN g.ta1 * g.tn0 = g.ta0 * g.tn1 THEN 0
                ELSE -1 END AS dir_aggregate,
           (CASE WHEN w.a1 * w.n0 > w.a0 * w.n1 THEN 1
                 WHEN w.a1 * w.n0 = w.a0 * w.n1 THEN 0
                 ELSE -1 END)
           * (CASE WHEN g.ta1 * g.tn0 > g.ta0 * g.tn1 THEN 1
                   WHEN g.ta1 * g.tn0 = g.ta0 * g.tn1 THEN 0
                   ELSE -1 END) < 0 AS reversed
    FROM wide w, agg g
    ORDER BY w.dow
    """,
)
def simpsons_paradox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's paradox audit (Simpson 1951; the Yule association
    reversal) — does the aggregate group-1-vs-group-0 conversion
    direction REVERSE inside any day-of-week stratum: the standard
    sanity gate before reading an unstratified experiment readout, run
    as a data operator (one row per stratum, the aggregate direction
    alongside, reversed = the paradox flag).

    Parity: every cell is an exact BIGINT conditional sum; BOTH
    direction columns are exact integer signs from cross-multiplication
    (a1*n0 vs a0*n1) — no rate float ever enters a comparison, and they
    are total even for an empty group; the two displayed rates are
    correctly-rounded non-negative divisions, NULL in both engines when
    a stratum lacks the group entirely (DuckDB would otherwise emit NaN
    where Spark emits NULL).
    Day-of-week is DuckDB date_part('dow') = Sunday 0, matched by
    Spark's dayofweek() - 1 (Sunday 1).

    Scale: one groupBy(dow, grp) with map-side combine collapses the
    stream to 14 cells; everything after is driver-scale arithmetic on
    a 7-row frame with the 1-row aggregate broadcast."""
    e = load_table(spark, sf_dir, "events")
    s = e.groupBy(
        (F.dayofweek("ts") - 1).cast("long").alias("dow"),
        (F.col("user_id") % 2).alias("grp"),
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long").alias("a"),
    )
    wide = s.groupBy("dow").agg(
        F.sum(F.when(F.col("grp") == 0, F.col("n")).otherwise(0))
        .cast("long").alias("n0"),
        F.sum(F.when(F.col("grp") == 0, F.col("a")).otherwise(0))
        .cast("long").alias("a0"),
        F.sum(F.when(F.col("grp") == 1, F.col("n")).otherwise(0))
        .cast("long").alias("n1"),
        F.sum(F.when(F.col("grp") == 1, F.col("a")).otherwise(0))
        .cast("long").alias("a1"),
    )
    agg = wide.agg(
        F.sum("n0").cast("long").alias("tn0"),
        F.sum("a0").cast("long").alias("ta0"),
        F.sum("n1").cast("long").alias("tn1"),
        F.sum("a1").cast("long").alias("ta1"),
    )
    j = wide.crossJoin(F.broadcast(agg))

    def sign(lhs, rhs):
        return (
            F.when(lhs > rhs, 1).when(lhs == rhs, 0).otherwise(-1)
        )

    ds = sign(F.col("a1") * F.col("n0"), F.col("a0") * F.col("n1"))
    da = sign(F.col("ta1") * F.col("tn0"), F.col("ta0") * F.col("tn1"))
    return (
        j.select(
            "dow", "n0", "a0", "n1", "a1",
            F.round(
                F.when(
                    F.col("n0") > 0, F.col("a0").cast("double") / F.col("n0")
                ),
                6,
            ).alias("rate0"),
            F.round(
                F.when(
                    F.col("n1") > 0, F.col("a1").cast("double") / F.col("n1")
                ),
                6,
            ).alias("rate1"),
            ds.alias("dir_stratum"),
            da.alias("dir_aggregate"),
            ((ds * da) < 0).alias("reversed"),
        )
        .orderBy("dow")
    )


# ---------------------------------------------------------------------------
# Round 12: KMV sketch intersection — set-overlap estimation
# ---------------------------------------------------------------------------

_KMV_K = 64


@query(
    "kmv_intersect",
    f"""
    WITH ut AS (
        SELECT DISTINCT event_type AS g, user_id FROM events
    ),
    sh AS (
        SELECT DISTINCT g,
               ('0x' || substr(md5('kmv:' || user_id), 1, 8))::BIGINT AS h
        FROM ut
    ),
    sk AS (
        SELECT g, h FROM (
            SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn
            FROM sh) WHERE rn <= {_KMV_K}
    ),
    tp AS (SELECT DISTINCT event_type AS g FROM events),
    pairs AS (
        SELECT a.g AS g1, b.g AS g2 FROM tp a JOIN tp b ON a.g < b.g
    ),
    pu AS (
        SELECT p.g1, p.g2, s.h,
               MAX(CASE WHEN s.g = p.g1 THEN 1 ELSE 0 END) AS in_a,
               MAX(CASE WHEN s.g = p.g2 THEN 1 ELSE 0 END) AS in_b
        FROM pairs p JOIN sk s ON s.g = p.g1 OR s.g = p.g2
        GROUP BY 1, 2, 3
    ),
    uk AS (
        SELECT g1, g2, in_a, in_b FROM (
            SELECT g1, g2, in_a, in_b,
                   ROW_NUMBER() OVER (PARTITION BY g1, g2 ORDER BY h) AS rn
            FROM pu) WHERE rn <= {_KMV_K}
    ),
    est AS (
        SELECT g1, g2, COUNT(*)::BIGINT AS union_k,
               SUM(in_a * in_b)::BIGINT AS kmv_inter
        FROM uk GROUP BY 1, 2
    ),
    ti AS (
        SELECT a.g AS g1, b.g AS g2, COUNT(*)::BIGINT AS true_inter
        FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.g < b.g
        GROUP BY 1, 2
    ),
    sz AS (SELECT g, COUNT(*)::BIGINT AS cnt FROM ut GROUP BY g)
    SELECT e.g1 AS type_a, e.g2 AS type_b, e.union_k, e.kmv_inter,
           ROUND(e.kmv_inter::DOUBLE / e.union_k, 6) AS est_jaccard,
           COALESCE(ti.true_inter, 0)::BIGINT AS true_inter,
           (za.cnt + zb.cnt - COALESCE(ti.true_inter, 0))::BIGINT AS true_union,
           ROUND(COALESCE(ti.true_inter, 0)::DOUBLE
                 / (za.cnt + zb.cnt - COALESCE(ti.true_inter, 0)), 6)
               AS true_jaccard
    FROM est e
    LEFT JOIN ti ON ti.g1 = e.g1 AND ti.g2 = e.g2
    JOIN sz za ON za.g = e.g1
    JOIN sz zb ON zb.g = e.g2
    ORDER BY e.g1, e.g2
    """,
)
def kmv_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values sketch intersection (Beyer et al., SIGMOD 2007)
    — estimate the Jaccard overlap of per-type user populations from
    {_KMV_K}-value sketches instead of the full sets, the
    set-OPERATION sketch the family still lacked (hll_distinct counts
    one set, cms/bloom answer frequency/membership): the union sketch
    of two KMV sketches is the {_KMV_K} smallest of their merged
    values, and rho = |union_k ^ A ^ B| / |union_k| is an unbiased
    Jaccard estimator.  The exact intersection/union run alongside, so
    every gate run re-attests the estimator's error envelope.

    Parity: sketch values are distinct 32-bit md5 BIGINTs (ROW_NUMBER
    over a distinct integer key — no order tie exists in either
    engine); memberships and counts are exact BIGINTs; the two
    reported ratios are correctly-rounded non-negative divisions.

    Scale: the corpus collapses through distinct(type, user) with
    partial aggregation; sketches are <= {_KMV_K} rows per type (the
    whole point — fixed-size state per set at ANY cardinality, exactly
    how a 100 TB overlap matrix stays driver-scale); the exact
    ti/sz CTEs are the attestation baseline, not the scale path, and
    themselves only shuffle (type, user) pairs."""
    from fusionspark.operators.dedup import md5_hash32

    e = load_table(spark, sf_dir, "events")
    ut = e.select(F.col("event_type").alias("g"), "user_id").distinct()
    sh = ut.select(
        "g",
        md5_hash32(
            F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))
        ).alias("h"),
    ).distinct()
    rn = F.row_number().over(Window.partitionBy("g").orderBy("h"))
    sk = sh.withColumn("rn", rn).filter(F.col("rn") <= _KMV_K).drop("rn")
    tp = e.select(F.col("event_type").alias("g")).distinct()
    pairs = (
        tp.select(F.col("g").alias("g1"))
        .crossJoin(tp.select(F.col("g").alias("g2")))
        .filter(F.col("g1") < F.col("g2"))
    )
    pu = (
        pairs.join(
            sk, (F.col("g") == F.col("g1")) | (F.col("g") == F.col("g2"))
        )
        .groupBy("g1", "g2", "h")
        .agg(
            F.max(F.when(F.col("g") == F.col("g1"), 1).otherwise(0)).alias(
                "in_a"
            ),
            F.max(F.when(F.col("g") == F.col("g2"), 1).otherwise(0)).alias(
                "in_b"
            ),
        )
    )
    urn = F.row_number().over(Window.partitionBy("g1", "g2").orderBy("h"))
    uk = pu.withColumn("rn", urn).filter(F.col("rn") <= _KMV_K)
    est = uk.groupBy("g1", "g2").agg(
        F.count("*").cast("long").alias("union_k"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("kmv_inter"),
    )
    ua = ut.select(F.col("g").alias("g1"), "user_id")
    ub = ut.select(F.col("g").alias("g2"), "user_id")
    ti = (
        ua.join(ub, "user_id")
        .filter(F.col("g1") < F.col("g2"))
        .groupBy("g1", "g2")
        .agg(F.count("*").cast("long").alias("true_inter"))
    )
    sz = ut.groupBy("g").agg(F.count("*").cast("long").alias("cnt"))
    za = sz.select(F.col("g").alias("g1"), F.col("cnt").alias("cnt_a"))
    zb = sz.select(F.col("g").alias("g2"), F.col("cnt").alias("cnt_b"))
    j = (
        est.join(ti, ["g1", "g2"], "left")
        .na.fill({"true_inter": 0})
        .join(za, "g1")
        .join(zb, "g2")
    )
    tu = F.col("cnt_a") + F.col("cnt_b") - F.col("true_inter")
    return (
        j.select(
            F.col("g1").alias("type_a"),
            F.col("g2").alias("type_b"),
            "union_k",
            "kmv_inter",
            F.round(
                F.col("kmv_inter").cast("double") / F.col("union_k"), 6
            ).alias("est_jaccard"),
            F.col("true_inter").cast("long").alias("true_inter"),
            tu.cast("long").alias("true_union"),
            F.round(
                F.col("true_inter").cast("double") / tu, 6
            ).alias("true_jaccard"),
        )
        .orderBy("type_a", "type_b")
    )
