"""Statistics queries over the events, documents and TPC-H tables that
the round-12 operator tests (tests/test_round12_ops.py,
tests/test_round12b_ops.py and their property files) still check, plus
conformal_interval, skyline_parts, cumulative_users and
poisson_rate_test.  No front door reaches them; ROADMAP item 5 lists
the module for deletion.

Float-parity discipline (COVERAGE.md round-3 classes): every statistic
here reduces to INTEGER sums first, with doubles entering only in the
final closed-form expression, written identically on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fusionspark.io import load_table
from fusionspark.queries import query


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


# Logistic approximation of the normal CDF (Bowling et al. 2009):
# Phi(z) ~= 1/(1+exp(-(0.07056 z^3 + 1.5976 z))), |error| < 1.4e-4 —
# literal constants, so the two-sided p = 2/(1+exp(0.07056|t|^3+1.5976|t|))
# is the same IEEE expression in both engines.
_PHI2_SQL = "2.0 / (1.0 + exp(0.07056 * {t} * {t} * {t} + 1.5976 * {t}))"


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
    sequences (bounded by a user's event count); the DP is a linear per-row fold, embarrassingly parallel
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
