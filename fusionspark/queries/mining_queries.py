"""Data-mining query family (round 8, session 6): market-basket
frequent-pattern mining over TPC-H orders, substring-level exact
deduplication over the documents corpus (the Lee-et-al training-data
dedup shape), and Kaplan-Meier survival over customer order spans.

Float-parity discipline (COVERAGE.md round-3 classes): every statistic
reduces to INTEGER counts first; doubles enter only in final closed-form
expressions written identically on both engines, and the one genuinely
sequential float recursion (the KM survival product) runs as an ordered
array fold with bit-identical left-to-right IEEE ops on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fusionspark.functions import vector as V
from fusionspark.io import load_table
from fusionspark.operators.knn import vector_dim
from fusionspark.queries import query

# ---------------------------------------------------------------------------
# Market basket: frequent pairs + association rules
# ---------------------------------------------------------------------------

_BASKETS_SQL = """
    b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    s AS (SELECT l_partkey, COUNT(*)::BIGINT AS sup FROM b GROUP BY 1),
    f AS (SELECT l_partkey FROM s WHERE sup >= 2),
    bf AS (SELECT b.l_orderkey, b.l_partkey FROM b JOIN f USING (l_partkey)),
    p AS (
        SELECT a.l_partkey AS x, c.l_partkey AS y, COUNT(*)::BIGINT AS pair_sup
        FROM bf a
        JOIN bf c ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
        GROUP BY 1, 2
    )
"""


def _baskets(spark: SparkSession, sf_dir: str):
    """(basket rows, per-item support) — baskets are orders, items are the
    DISTINCT parts on each order."""
    li = load_table(spark, sf_dir, "lineitem")
    b = li.select("l_orderkey", "l_partkey").distinct()
    sup = b.groupBy("l_partkey").agg(F.count("*").cast("long").alias("sup"))
    return b, sup


def _pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-occurring part pairs with apriori item pruning: an item below
    the pair support floor cannot appear in a frequent pair, so the
    self-join runs over the pre-filtered basket rows only.  The part
    dimension is small (|parts| ~ 0.02% of |lineitem|): the frequent-item
    set broadcasts, and the within-basket pair expansion is bounded by
    the max basket size (<= 7 lines in TPC-H), never quadratic in the
    corpus."""
    b, sup = _baskets(spark, sf_dir)
    freq = sup.filter(F.col("sup") >= 2).select("l_partkey")
    bf = b.join(F.broadcast(freq), "l_partkey")
    a, c = bf.alias("a"), bf.alias("c")
    return (
        a.join(
            c,
            (F.col("a.l_orderkey") == F.col("c.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("c.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("x"), F.col("c.l_partkey").alias("y")
        )
        .agg(F.count("*").cast("long").alias("pair_sup"))
    )


@query(
    "frequent_pairs",
    f"""
    WITH {_BASKETS_SQL}
    SELECT x, y, pair_sup FROM p WHERE pair_sup >= 2
    """,
)
def frequent_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent item pairs (support >= 2 baskets) over order baskets —
    the SON/apriori candidate stage of market-basket analysis.

    Scale shape: one shuffle of (orderkey, partkey) id pairs to co-locate
    baskets, a broadcast of the frequent-item filter, and a bounded
    within-basket expansion (max basket size squared, not corpus
    squared); the pair aggregation map-side combines.  Raising the
    support floor at 100 TB only strengthens the apriori prefilter."""
    return _pairs(spark, sf_dir).filter(F.col("pair_sup") >= 2)


@query(
    "association_rules",
    f"""
    WITH {_BASKETS_SQL},
    n AS (SELECT COUNT(DISTINCT l_orderkey)::BIGINT AS n_b FROM b),
    r AS (
        SELECT p.x AS antecedent, p.y AS consequent, p.pair_sup,
               sx.sup AS sup_ante, sy.sup AS sup_cons
        FROM p JOIN s sx ON p.x = sx.l_partkey
               JOIN s sy ON p.y = sy.l_partkey
        WHERE p.pair_sup >= 3
        UNION ALL
        SELECT p.y, p.x, p.pair_sup, sy.sup, sx.sup
        FROM p JOIN s sx ON p.x = sx.l_partkey
               JOIN s sy ON p.y = sy.l_partkey
        WHERE p.pair_sup >= 3
    )
    SELECT antecedent, consequent, pair_sup, sup_ante,
           ROUND(pair_sup::DOUBLE / sup_ante, 6) AS confidence,
           ROUND((SELECT n_b FROM n)::DOUBLE * pair_sup
                 / (sup_ante::DOUBLE * sup_cons), 6) AS lift
    FROM r
    """,
)
def association_rules_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules from pairs with support >= 3, both directions:
    confidence = sup(x,y)/sup(x), lift = N * sup(x,y)/(sup(x) * sup(y)).
    All inputs are exact BIGINT counts; the two divisions are the only
    float ops, written identically in the oracle.

    Scale shape: rules derive from the (tiny) frequent-pair set joined
    against the broadcast item-support table — no further corpus scan."""
    b, sup = _baskets(spark, sf_dir)
    n_b = b.select("l_orderkey").distinct().count()
    p = _pairs(spark, sf_dir).filter(F.col("pair_sup") >= 3)
    sx = sup.select(F.col("l_partkey").alias("x"), F.col("sup").alias("sup_x"))
    sy = sup.select(F.col("l_partkey").alias("y"), F.col("sup").alias("sup_y"))
    j = p.join(F.broadcast(sx), "x").join(F.broadcast(sy), "y")
    both = j.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("x").alias("antecedent"),
                    F.col("y").alias("consequent"),
                    F.col("pair_sup"),
                    F.col("sup_x").alias("sup_ante"),
                    F.col("sup_y").alias("sup_cons"),
                ),
                F.struct(
                    F.col("y").alias("antecedent"),
                    F.col("x").alias("consequent"),
                    F.col("pair_sup"),
                    F.col("sup_y").alias("sup_ante"),
                    F.col("sup_x").alias("sup_cons"),
                ),
            )
        ).alias("r")
    )
    return both.select(
        F.col("r.antecedent").alias("antecedent"),
        F.col("r.consequent").alias("consequent"),
        F.col("r.pair_sup").alias("pair_sup"),
        F.col("r.sup_ante").alias("sup_ante"),
        F.round(
            F.col("r.pair_sup").cast("double") / F.col("r.sup_ante"), 6
        ).alias("confidence"),
        F.round(
            F.lit(n_b).cast("double")
            * F.col("r.pair_sup")
            / (F.col("r.sup_ante").cast("double") * F.col("r.sup_cons")),
            6,
        ).alias("lift"),
    )


# ---------------------------------------------------------------------------
# Substring-level exact dedup (duplicated spans across documents)
# ---------------------------------------------------------------------------

_SSD_W = 32  # window width (chars)
_SSD_S = 8  # stride


@query(
    "substring_dedup",
    f"""
    WITH d AS (
        SELECT doc_id, text, length(text)::BIGINT AS L
        FROM documents WHERE length(text) >= {_SSD_W}
    ),
    w AS (
        SELECT doc_id, L, 1 + i * {_SSD_S} AS s,
               i * {_SSD_S} + {_SSD_W} AS e,
               md5(substr(text, CAST(1 + i * {_SSD_S} AS BIGINT), {_SSD_W})) AS h
        FROM d, LATERAL (
            SELECT unnest(range(0, CAST((L - {_SSD_W}) // {_SSD_S} AS BIGINT) + 1)) AS i
        ) g
    ),
    dup AS (SELECT h FROM w GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
    wd AS (SELECT w.* FROM w JOIN dup USING (h)),
    isl AS (
        SELECT doc_id, L, s, e,
               SUM(CASE WHEN pe IS NULL OR s > pe + 1 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY s
                         ROWS UNBOUNDED PRECEDING) AS island
        FROM (
            SELECT *, MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING) AS pe
            FROM wd
        ) t
    ),
    sp AS (
        SELECT doc_id, L, island, COUNT(*)::BIGINT AS nw,
               MAX(e) - MIN(s) + 1 AS span
        FROM isl GROUP BY 1, 2, 3
    )
    SELECT doc_id, SUM(nw)::BIGINT AS n_dup_windows,
           COUNT(*)::BIGINT AS n_spans, SUM(span)::BIGINT AS dup_chars,
           ROUND(SUM(span)::DOUBLE / L, 6) AS dup_frac
    FROM sp GROUP BY doc_id, L
    """,
)
def substring_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup: hash every 32-char window at stride 8,
    keep windows whose hash occurs in >= 2 distinct docs, merge
    overlapping/adjacent duplicated windows into maximal spans
    (gaps-and-islands), and report per-doc duplicated-char mass — the
    "remove repeated substrings from the training corpus" primitive
    (Lee et al. 2022 dedup shape), as opposed to the whole-doc
    (dedup_exact) and near-doc (dedup_minhash) families.

    Scale shape: the shuffle carries (digest, doc_id, position) only —
    document text NEVER shuffles; duplicated-hash detection is one
    groupBy(digest) with map-side combine; the island merge is a per-doc
    window function over that doc's duplicated windows (dozens of rows).
    Stride trades span granularity for an 8x cut in window volume: a
    duplicated region >= W + S - 1 chars with equal alignment is always
    caught; at 100 TB the same plan runs with a larger stride and a
    64-bit hash."""
    from fusionspark.io import spread

    W, S = _SSD_W, _SSD_S
    docs = load_table(spark, sf_dir, "documents")
    # r15: the window-hash explode below is evaluated on BOTH sides of the
    # dup join - spread the one-row-group scan first (io.spread)
    d = spread(docs.select(
        "doc_id", "text", F.length("text").cast("long").alias("L")
    ).filter(F.col("L") >= W))
    w = d.select(
        "doc_id",
        "L",
        F.explode(
            F.sequence(F.lit(0).cast("long"), ((F.col("L") - W) / S).cast("long"))
        ).alias("i"),
        "text",
    ).select(
        "doc_id",
        "L",
        (1 + F.col("i") * S).alias("s"),
        (F.col("i") * S + W).alias("e"),
        F.md5(F.expr(f"substring(text, CAST(1 + i * {S} AS INT), {W})")).alias(
            "h"
        ),
    )
    dup = (
        w.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    wd = w.join(dup, "h")
    by_start = Window.partitionBy("doc_id").orderBy("s")
    prev_end = (
        F.max("e")
        .over(by_start.rowsBetween(Window.unboundedPreceding, -1))
        .alias("pe")
    )
    isl = wd.select("doc_id", "L", "s", "e", prev_end).select(
        "doc_id",
        "L",
        "s",
        "e",
        F.sum(
            F.when(
                F.col("pe").isNull() | (F.col("s") > F.col("pe") + 1), 1
            ).otherwise(0)
        )
        .over(by_start.rowsBetween(Window.unboundedPreceding, 0))
        .alias("island"),
    )
    sp = isl.groupBy("doc_id", "L", "island").agg(
        F.count("*").cast("long").alias("nw"),
        (F.max("e") - F.min("s") + 1).alias("span"),
    )
    return sp.groupBy("doc_id", "L").agg(
        F.sum("nw").cast("long").alias("n_dup_windows"),
        F.count("*").cast("long").alias("n_spans"),
        F.sum("span").cast("long").alias("dup_chars"),
        F.round(F.sum("span").cast("double") / F.col("L"), 6).alias("dup_frac"),
    ).drop("L")


# ---------------------------------------------------------------------------
# Kaplan-Meier survival over customer order spans
# ---------------------------------------------------------------------------

_KM_CHURN_DAYS = 90

_KM_FOLD = (
    "(a, x) -> [a[1] - x[1] - x[2], a[2] * (1 - x[1] / a[1])]"
)


@query(
    "survival_km",
    f"""
    WITH c AS (
        SELECT o_custkey, MIN(CAST(o_orderdate AS DATE)) AS t0,
               MAX(CAST(o_orderdate AS DATE)) AS t1
        FROM orders GROUP BY 1
    ),
    hz AS (SELECT MAX(t1) AS h FROM c),
    cd AS (
        SELECT date_diff('day', t0, t1)::BIGINT AS t,
               CASE WHEN date_diff('day', t1, (SELECT h FROM hz))
                         > {_KM_CHURN_DAYS}
                    THEN 1 ELSE 0 END::BIGINT AS ev
        FROM c
    ),
    tl AS (
        SELECT t, SUM(ev)::BIGINT AS d, SUM(1 - ev)::BIGINT AS cens
        FROM cd GROUP BY t
    ),
    ag AS (
        SELECT list([t::DOUBLE, d::DOUBLE, cens::DOUBLE] ORDER BY t) AS arr,
               SUM(d + cens)::BIGINT AS n FROM tl
    ),
    ix AS (SELECT arr, n, unnest(range(1, len(arr) + 1)) AS i FROM ag)
    SELECT CAST(arr[i][1] AS BIGINT) AS t,
           n - CAST(list_reduce(
                   list_prepend([0.0], list_transform(
                       list_slice(arr, 1, i - 1), x -> [x[2] + x[3]])),
                   (a, x) -> [a[1] + x[1]])[1] AS BIGINT) AS n_risk,
           CAST(arr[i][2] AS BIGINT) AS d,
           CAST(arr[i][3] AS BIGINT) AS censored,
           ROUND(list_reduce(
                   list_prepend([n::DOUBLE, 1.0], list_transform(
                       list_slice(arr, 1, i), x -> [x[2], x[3]])),
                   {_KM_FOLD})[2], 6) AS surv
    FROM ix
    """,
)
def survival_km_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve over customer engagement spans:
    duration = days between a customer's first and last order, event
    (churn) = last order more than 90 days before the corpus horizon,
    else right-censored.  S(t_i) = prod_(j<=i) (1 - d_j / n_j) over the
    day-ordered timeline — the retention readout a subscription or
    engagement pipeline runs on event history.

    Parity: d/c/n_risk are exact BIGINT counts; the survival product is
    a left-to-right fold over the day-ordered timeline array with a
    [n_remaining, S] accumulator, the same IEEE ops in the same order on
    both engines (ets_forecast discipline).

    Scale shape: the corpus collapses to per-customer (min, max) with
    map-side combine, then to the per-day timeline (thousands of rows at
    any corpus size — durations are bounded by calendar span); the fold
    runs over the TIMELINE, never the corpus.  The O(T^2) slice replay
    here is the oracle-parity form; the streaming form folds once."""
    o = load_table(spark, sf_dir, "orders")
    c = o.groupBy("o_custkey").agg(
        F.min(F.to_date("o_orderdate")).alias("t0"),
        F.max(F.to_date("o_orderdate")).alias("t1"),
    )
    hz = c.agg(F.max("t1").alias("h"))
    cd = c.crossJoin(F.broadcast(hz)).select(
        F.datediff("t1", "t0").cast("long").alias("t"),
        F.when(F.datediff("h", "t1") > _KM_CHURN_DAYS, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("ev"),
    )
    tl = cd.groupBy("t").agg(
        F.sum("ev").cast("long").alias("d"),
        F.sum(1 - F.col("ev")).cast("long").alias("cens"),
    )
    ag = tl.agg(
        F.array_sort(
            F.collect_list(
                F.array(
                    F.col("t").cast("double"),
                    F.col("d").cast("double"),
                    F.col("cens").cast("double"),
                )
            )
        ).alias("arr"),
        F.sum(F.col("d") + F.col("cens")).cast("long").alias("n"),
    )
    ix = ag.select("arr", "n", F.posexplode("arr").alias("p", "el"))

    def km_step(a, x):
        return F.array(
            F.element_at(a, 1) - F.element_at(x, 1) - F.element_at(x, 2),
            F.element_at(a, 2)
            * (1 - F.element_at(x, 1) / F.element_at(a, 1)),
        )

    # posexplode's p is 0-based; the oracle's i is 1-based: current
    # element is arr[p + 1], prior elements are the first p
    dc = F.transform(
        F.slice(F.col("arr"), 1, F.col("p") + 1),
        lambda x: F.array(F.element_at(x, 2), F.element_at(x, 3)),
    )
    prior = F.aggregate(
        F.slice(dc, 1, F.col("p")),
        F.lit(0.0),
        lambda a, x: a + F.element_at(x, 1) + F.element_at(x, 2),
    )
    surv = F.aggregate(
        dc,
        F.array(F.col("n").cast("double"), F.lit(1.0)),
        km_step,
    )
    return ix.select(
        F.element_at("el", 1).cast("long").alias("t"),
        (F.col("n") - prior.cast("long")).alias("n_risk"),
        F.element_at("el", 2).cast("long").alias("d"),
        F.element_at("el", 3).cast("long").alias("censored"),
        F.round(F.element_at(surv, 2), 6).alias("surv"),
    )


# ---------------------------------------------------------------------------
# k-NN graph over embeddings (label-blocked, the IVF blocking shape)
# ---------------------------------------------------------------------------

_KNNG_K = 3


@query(
    "knn_graph",
    f"""
    WITH scored AS (
        SELECT a.vec_id, b.vec_id AS nbr_id,
               list_cosine_similarity(a.embedding::DOUBLE[],
                                      b.embedding::DOUBLE[]) AS sim
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id <> b.vec_id
    )
    SELECT vec_id, nbr_id, ROUND(sim, 6) AS sim,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY sim DESC, nbr_id ASC) AS rnk
    FROM scored
    QUALIFY rnk <= {_KNNG_K}
    """,
)
def knn_graph_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN graph construction: top-3 cosine neighbors for EVERY vector
    within its label block — the neighbor-graph primitive under semdedup
    clustering, graph-based diversity sampling, and kNN-classification of
    unlabeled corpus slices.  Blocking mirrors neardup_embedding: at
    100 TB the label is the assigned IVF centroid, so each block is a
    bounded cell and the per-block pair expansion never goes corpus-
    quadratic; the top-k window partitions by source vector (ids +
    distance shuffle only — the knn.py discipline of dropping vector
    payloads before the rank exchange)."""
    e = load_table(spark, sf_dir, "embeddings")
    dim = vector_dim(e, "embedding")
    a = e.select("label", F.col("vec_id"), F.col("embedding"))
    b = e.select(
        "label",
        F.col("vec_id").alias("nbr_id"),
        F.col("embedding").alias("nbr_embedding"),
    )
    scored = (
        a.join(b, "label")
        .filter(F.col("vec_id") != F.col("nbr_id"))
        .withColumn(
            "sim",
            V.cosine_similarity(
                F.col("embedding"), F.col("nbr_embedding"), dim
            ),
        )
        .select("vec_id", "nbr_id", "sim")
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("sim").desc(), F.col("nbr_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _KNNG_K)
        .select(
            "vec_id",
            "nbr_id",
            F.round("sim", 6).alias("sim"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation
# ---------------------------------------------------------------------------

_RFM_SEGMENT_SQL = """
    CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champions'
         WHEN f_score >= 4 THEN 'loyal'
         WHEN r_score >= 4 AND f_score <= 2 THEN 'recent'
         WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
         WHEN r_score <= 2 THEN 'at_risk'
         ELSE 'regular' END
"""


@query(
    "rfm_segments",
    f"""
    WITH hz AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS h FROM orders),
    rfm AS (
        SELECT o_custkey,
               date_diff('day', MAX(CAST(o_orderdate AS DATE)),
                         (SELECT h FROM hz))::BIGINT AS recency_days,
               COUNT(*)::BIGINT AS frequency,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))::BIGINT
                   AS monetary_cents
        FROM orders GROUP BY 1
    ),
    scored AS (
        SELECT *,
               NTILE(5) OVER (ORDER BY recency_days DESC, o_custkey DESC)
                   AS r_score,
               NTILE(5) OVER (ORDER BY frequency ASC, o_custkey ASC)
                   AS f_score,
               NTILE(5) OVER (ORDER BY monetary_cents ASC, o_custkey ASC)
                   AS m_score
        FROM rfm
    )
    SELECT o_custkey, recency_days, frequency, monetary_cents,
           r_score::BIGINT AS r_score, f_score::BIGINT AS f_score,
           m_score::BIGINT AS m_score,
           {_RFM_SEGMENT_SQL} AS segment
    FROM scored
    """,
)
def rfm_segments_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: quintile scores over recency / frequency /
    monetary (exact cents) per customer, mapped to named segments — the
    standard CRM cut of an order history.  NTILE over a TOTAL order
    (metric, custkey) is deterministic and identical under ANSI
    semantics on both engines; monetary is exact BIGINT cents.

    Scale shape: one groupBy(custkey) with map-side combine collapses
    the order corpus; the three NTILE windows run over the CUSTOMER
    table (orders/10 rows).  A global NTILE is a single-partition sort
    at extreme scale — there the scores would switch to a mergeable
    histogram-quantile cut with identical segment semantics."""
    o = load_table(spark, sf_dir, "orders")
    hz = o.agg(F.max(F.to_date("o_orderdate")).alias("h"))
    rfm = (
        o.groupBy("o_custkey")
        .agg(
            F.max(F.to_date("o_orderdate")).alias("last_d"),
            F.count("*").cast("long").alias("frequency"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("monetary_cents"),
        )
        .crossJoin(F.broadcast(hz))
        .select(
            "o_custkey",
            F.datediff("h", "last_d").cast("long").alias("recency_days"),
            "frequency",
            "monetary_cents",
        )
    )
    scored = rfm.select(
        "*",
        F.ntile(5)
        .over(
            Window.orderBy(
                F.col("recency_days").desc(), F.col("o_custkey").desc()
            )
        )
        .cast("long")
        .alias("r_score"),
        F.ntile(5)
        .over(Window.orderBy(F.col("frequency").asc(), F.col("o_custkey").asc()))
        .cast("long")
        .alias("f_score"),
        F.ntile(5)
        .over(
            Window.orderBy(
                F.col("monetary_cents").asc(), F.col("o_custkey").asc()
            )
        )
        .cast("long")
        .alias("m_score"),
    )
    return scored.withColumn("segment", F.expr(_RFM_SEGMENT_SQL))


# ---------------------------------------------------------------------------
# Source-pair distribution divergence (Jensen-Shannon over unigrams)
# ---------------------------------------------------------------------------

_JSD_V = 256  # compared vocabulary: top-V global words

# p/q/m written ONCE as SQL and mirrored column-for-column in the Spark
# lambda below: parity depends on the identical IEEE expression
_JSD_TERM_SQL = """
      CASE WHEN pa[i] > 0 THEN 0.5 * (pa[i]::DOUBLE / ta)
           * ln((pa[i]::DOUBLE / ta)
                / (0.5 * ((pa[i]::DOUBLE / ta) + (pb[i]::DOUBLE / tb))))
           ELSE 0.0 END
    + CASE WHEN pb[i] > 0 THEN 0.5 * (pb[i]::DOUBLE / tb)
           * ln((pb[i]::DOUBLE / tb)
                / (0.5 * ((pa[i]::DOUBLE / ta) + (pb[i]::DOUBLE / tb))))
           ELSE 0.0 END
"""


@query(
    "source_divergence",
    f"""
    WITH words AS (
        SELECT source,
               unnest(list_filter(string_split(lower(text), ' '),
                                  x -> x <> '')) AS w
        FROM documents
    ),
    wc_all AS (SELECT w, COUNT(*)::BIGINT AS c FROM words GROUP BY 1),
    vocab AS (
        SELECT w, ROW_NUMBER() OVER (ORDER BY c DESC, w ASC) AS idx
        FROM wc_all ORDER BY c DESC, w ASC LIMIT {_JSD_V}
    ),
    swc AS (
        SELECT source, idx, COUNT(*)::BIGINT AS c
        FROM words JOIN vocab USING (w) GROUP BY 1, 2
    ),
    srcs AS (SELECT DISTINCT source FROM documents),
    grid AS (SELECT s.source, v.idx FROM srcs s CROSS JOIN vocab v),
    densed AS (
        SELECT g.source, g.idx, COALESCE(swc.c, 0)::BIGINT AS c
        FROM grid g LEFT JOIN swc
          ON swc.source = g.source AND swc.idx = g.idx
    ),
    dense AS (
        SELECT source, list(c ORDER BY idx) AS arr, SUM(c)::BIGINT AS t
        FROM densed GROUP BY source
    ),
    pr AS (
        SELECT a.source AS src_a, b.source AS src_b,
               a.arr AS pa, b.arr AS pb, a.t AS ta, b.t AS tb
        FROM dense a JOIN dense b ON a.source < b.source
    )
    SELECT src_a, src_b,
           ROUND(list_reduce(list_prepend(0.0,
               list_transform(range(1, len(pa) + 1), i -> {_JSD_TERM_SQL})),
               (a, x) -> a + x), 6) AS jsd
    FROM pr
    """,
)
def source_divergence_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence (nats) between every pair of sources'
    unigram distributions over the shared top-256 vocabulary — the
    domain-mix diagnostic that tells a corpus curator which sources are
    near-duplicates of each other and which add genuinely new text
    (embedding_drift's lexical sibling).

    Parity: counts are exact BIGINT on a dense sources × vocab grid
    (absent words kept as 0); the JSD sum is a vocab-ordered
    left-to-right fold with the p/q/m term written identically on both
    engines.

    Scale shape: one word-digest groupBy for global counts, a
    TakeOrdered(256) vocab cut, one (source, idx) groupBy, and the pair
    join runs over |sources| rows with 256-long int arrays — corpus text
    never shuffles, and the pairwise stage is quadratic only in the
    SOURCE COUNT (a catalog, not a corpus)."""
    V = _JSD_V
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "source",
        F.explode(
            F.filter(F.split(F.lower("text"), " "), lambda x: x != "")
        ).alias("w"),
    )
    wc_all = words.groupBy("w").agg(F.count("*").cast("long").alias("c"))
    top = wc_all.orderBy(F.col("c").desc(), F.col("w").asc()).limit(V)
    vocab = top.select(
        "w",
        F.row_number()
        .over(Window.orderBy(F.col("c").desc(), F.col("w").asc()))
        .cast("long")
        .alias("idx"),
    )
    swc = (
        words.join(F.broadcast(vocab), "w")
        .groupBy("source", "idx")
        .agg(F.count("*").cast("long").alias("c"))
    )
    srcs = docs.select("source").distinct()
    grid = srcs.crossJoin(F.broadcast(vocab.select("idx")))
    densed = grid.join(swc, ["source", "idx"], "left").select(
        "source", "idx", F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c")
    )
    dense = densed.groupBy("source").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("idx", "c"))),
            lambda s: s["c"],
        ).alias("arr"),
        F.sum("c").cast("long").alias("t"),
    )
    a = dense.select(
        F.col("source").alias("src_a"),
        F.col("arr").alias("pa"),
        F.col("t").alias("ta"),
    )
    b = dense.select(
        F.col("source").alias("src_b"),
        F.col("arr").alias("pb"),
        F.col("t").alias("tb"),
    )
    pr = a.join(b, F.col("src_a") < F.col("src_b"))

    def term(i):
        pa_i = F.element_at("pa", i).cast("double")
        pb_i = F.element_at("pb", i).cast("double")
        p = pa_i / F.col("ta")
        q = pb_i / F.col("tb")
        m = 0.5 * (p + q)
        return F.when(F.element_at("pa", i) > 0, 0.5 * p * F.log(p / m)).otherwise(
            F.lit(0.0)
        ) + F.when(F.element_at("pb", i) > 0, 0.5 * q * F.log(q / m)).otherwise(
            F.lit(0.0)
        )

    jsd = F.aggregate(
        F.sequence(F.lit(1), F.size("pa")),
        F.lit(0.0),
        lambda acc, i: acc + term(i.cast("int")),
    )
    return pr.select("src_a", "src_b", F.round(jsd, 6).alias("jsd"))


# ---------------------------------------------------------------------------
# Frequent event-type sequences (sequential pattern mining)
# ---------------------------------------------------------------------------

# 1-day inactivity gap, compared in MICROSECONDS on both engines so
# sub-second timestamps sessionize identically (ADVICE r8: a 86400.5 s
# gap differed between second-truncated Spark longs and DuckDB's
# full-precision interval compare).
_SEQ_GAP_US = 86_400_000_000
_SEQ_MINSUP = 5


@query(
    "frequent_sequences",
    f"""
    WITH e AS (SELECT user_id, ts, event_id, event_type FROM events),
    m AS (
        SELECT *, CASE WHEN LAG(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                            > {_SEQ_GAP_US}
                       THEN 1 ELSE 0 END AS st
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT *, SUM(st) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sess
        FROM m
    ),
    t AS (
        SELECT user_id, sess, event_type AS e1,
               LEAD(event_type, 1) OVER w AS e2,
               LEAD(event_type, 2) OVER w AS e3,
               LEAD(sess, 2) OVER w AS s3
        FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT e1, e2, e3, COUNT(*)::BIGINT AS n_occurrences,
           COUNT(DISTINCT user_id::VARCHAR || '#' || sess::VARCHAR)::BIGINT
               AS n_sessions
    FROM t WHERE s3 = sess
    GROUP BY 1, 2, 3
    HAVING COUNT(DISTINCT user_id::VARCHAR || '#' || sess::VARCHAR)
           >= {_SEQ_MINSUP}
    """,
)
def frequent_sequences_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-step event-type sequences within user sessions (1-day
    inactivity gap) — the sequential-pattern sibling of frequent_pairs
    (order matters here, not just co-occurrence): support counted in
    DISTINCT sessions, the GSP/PrefixSpan length-3 candidate readout.

    Scale shape: one shuffle partitions by user_id; sessionization,
    trigram LEADs, and the session-distinct count all run inside that
    partitioning; output is bounded by |event_types|³, never corpus
    rows."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lag_ts = F.lag("ts").over(w)
    m = e.withColumn(
        "st",
        F.when(
            lag_ts.isNull()
            | (F.unix_micros("ts") - F.unix_micros(lag_ts) > _SEQ_GAP_US),
            1,
        ).otherwise(0),
    )
    s = m.withColumn(
        "sess", F.sum("st").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    t = s.select(
        "user_id",
        "sess",
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
        F.lead("sess", 2).over(w).alias("s3"),
    )
    sk = F.concat(
        F.col("user_id").cast("string"), F.lit("#"), F.col("sess").cast("string")
    )
    return (
        t.filter(F.col("s3") == F.col("sess"))
        .groupBy("e1", "e2", "e3")
        .agg(
            F.count("*").cast("long").alias("n_occurrences"),
            F.count_distinct(sk).cast("long").alias("n_sessions"),
        )
        .filter(F.col("n_sessions") >= _SEQ_MINSUP)
    )


# ---------------------------------------------------------------------------
# Substring-span rewrite (remove non-canonical duplicated spans)
# ---------------------------------------------------------------------------


@query(
    "dedup_span_rewrite",
    f"""
    WITH d AS (SELECT doc_id, text, length(text)::BIGINT AS L FROM documents),
    w AS (
        SELECT doc_id, 1 + i * {_SSD_S} AS s, i * {_SSD_S} + {_SSD_W} AS e,
               md5(substr(text, CAST(1 + i * {_SSD_S} AS BIGINT), {_SSD_W})) AS h
        FROM d, LATERAL (
            SELECT unnest(range(0, CAST((L - {_SSD_W}) // {_SSD_S} AS BIGINT) + 1)) AS i
        ) g
        WHERE L >= {_SSD_W}
    ),
    duph AS (
        SELECT h, MIN(doc_id) AS owner FROM w
        GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    rem AS (
        SELECT w.doc_id, w.s, w.e FROM w JOIN duph USING (h)
        WHERE w.doc_id <> duph.owner
    ),
    isl AS (
        SELECT doc_id, s, e,
               SUM(CASE WHEN pe IS NULL OR s > pe + 1 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY s
                         ROWS UNBOUNDED PRECEDING) AS island
        FROM (
            SELECT *, MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING) AS pe
            FROM rem
        ) t
    ),
    sp AS (
        SELECT doc_id, island, MIN(s) AS rs, MAX(e) AS re
        FROM isl GROUP BY 1, 2
    ),
    seg AS (
        SELECT doc_id,
               COALESCE(LAG(re) OVER (PARTITION BY doc_id ORDER BY rs), 0)
                   + 1 AS gs,
               rs - 1 AS ge
        FROM sp
        UNION ALL
        SELECT doc_id, MAX(re) + 1, NULL FROM sp GROUP BY doc_id
    ),
    segs AS (
        SELECT s.doc_id, s.gs, COALESCE(s.ge, d.L) AS ge
        FROM seg s JOIN d USING (doc_id)
        WHERE COALESCE(s.ge, d.L) >= s.gs
    ),
    cleaned AS (
        SELECT segs.doc_id,
               string_agg(substr(d.text, CAST(gs AS BIGINT),
                                 CAST(ge - gs + 1 AS BIGINT)),
                          '' ORDER BY gs) AS ctext
        FROM segs JOIN d USING (doc_id) GROUP BY segs.doc_id
    ),
    rm AS (
        SELECT doc_id, SUM(re - rs + 1)::BIGINT AS removed FROM sp GROUP BY 1
    )
    SELECT d.doc_id,
           COALESCE(rm.removed, 0)::BIGINT AS removed_chars,
           length(CASE WHEN rm.doc_id IS NULL THEN d.text
                       ELSE COALESCE(c.ctext, '') END)::BIGINT AS cleaned_len,
           md5(CASE WHEN rm.doc_id IS NULL THEN d.text
                    ELSE COALESCE(c.ctext, '') END) AS cleaned_md5
    FROM d LEFT JOIN rm USING (doc_id) LEFT JOIN cleaned c USING (doc_id)
    """,
)
def dedup_span_rewrite_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTIONABLE form of substring_dedup (the Lee-et-al removal
    step): every duplicated window hash gets a canonical owner (the
    smallest doc_id containing it); non-owner docs have their duplicated
    spans cut out, and the rewrite is attested by md5 of the cleaned
    text for EVERY document (unchanged docs hash their original text).
    Span removal merges overlapping windows first (same gaps-and-islands
    law as substring_dedup), then keeps the complement segments in
    order.

    Scale shape: identical to substring_dedup until the islands (shuffles
    carry digests + positions only); the rewrite itself is a per-doc
    array fold over that doc's segment list — text is touched only in
    its own scan partition, and the owner election is one min-aggregate
    on the digest key."""
    W, S = _SSD_W, _SSD_S
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", "text", F.length("text").cast("long").alias("L"))
    w = (
        d.filter(F.col("L") >= W)
        .select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"), ((F.col("L") - W) / S).cast("long")
                )
            ).alias("i"),
            "text",
        )
        .select(
            "doc_id",
            (1 + F.col("i") * S).alias("s"),
            (F.col("i") * S + W).alias("e"),
            F.md5(
                F.expr(f"substring(text, CAST(1 + i * {S} AS INT), {W})")
            ).alias("h"),
        )
    )
    duph = (
        w.groupBy("h")
        .agg(
            F.count_distinct("doc_id").alias("nd"),
            F.min("doc_id").alias("owner"),
        )
        .filter(F.col("nd") >= 2)
        .select("h", "owner")
    )
    rem = (
        w.join(duph, "h")
        .filter(F.col("doc_id") != F.col("owner"))
        .select("doc_id", "s", "e")
    )
    by_start = Window.partitionBy("doc_id").orderBy("s")
    prev_end = (
        F.max("e")
        .over(by_start.rowsBetween(Window.unboundedPreceding, -1))
        .alias("pe")
    )
    isl = rem.select("doc_id", "s", "e", prev_end).select(
        "doc_id",
        "s",
        "e",
        F.sum(
            F.when(
                F.col("pe").isNull() | (F.col("s") > F.col("pe") + 1), 1
            ).otherwise(0)
        )
        .over(by_start.rowsBetween(Window.unboundedPreceding, 0))
        .alias("island"),
    )
    sp = isl.groupBy("doc_id", "island").agg(
        F.min("s").alias("rs"), F.max("e").alias("re")
    )
    # per-doc sorted island array -> complement segments -> cleaned text
    arrs = sp.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("rs", "re"))).alias("arr"),
        F.sum(F.col("re") - F.col("rs") + 1).cast("long").alias("removed"),
    )
    j = d.join(arrs, "doc_id", "left")
    gaps = F.transform(
        F.col("arr"),
        lambda x, i: F.struct(
            F.when(i == 0, F.lit(1).cast("long"))
            .otherwise(F.element_at(F.col("arr"), i)["re"] + 1)
            .alias("gs"),
            (x["rs"] - 1).alias("ge"),
        ),
    )
    tail = F.array(
        F.struct(
            (F.element_at(F.col("arr"), -1)["re"] + 1).alias("gs"),
            F.col("L").alias("ge"),
        )
    )
    segs = F.filter(
        F.concat(gaps, tail), lambda sg: sg["ge"] >= sg["gs"]
    )
    ctext = F.concat_ws(
        "",
        F.transform(
            segs,
            lambda sg: F.substring(
                F.col("text"),
                sg["gs"].cast("int"),
                (sg["ge"] - sg["gs"] + 1).cast("int"),
            ),
        ),
    )
    cleaned = F.when(F.col("arr").isNull(), F.col("text")).otherwise(ctext)
    return j.select(
        "doc_id",
        F.coalesce(F.col("removed"), F.lit(0)).cast("long").alias("removed_chars"),
        F.length(cleaned).cast("long").alias("cleaned_len"),
        F.md5(cleaned).alias("cleaned_md5"),
    )


# ---------------------------------------------------------------------------
# Link prediction (common-neighbor Jaccard + Adamic-Adar)
# ---------------------------------------------------------------------------

_LP_EDGES_SQL = """
    docs AS (SELECT doc_id FROM documents),
    raw AS (
        SELECT doc_id AS src, (doc_id * 7 + 1) % (SELECT COUNT(*) FROM docs) AS dst FROM docs
        UNION ALL
        SELECT doc_id, (doc_id * 13 + 3) % (SELECT COUNT(*) FROM docs) FROM docs
        UNION ALL
        SELECT doc_id, (doc_id * 29 + 7) % (SELECT COUNT(*) FROM docs) FROM docs
    ),
    und AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM raw WHERE src <> dst
    ),
    adj AS (SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und),
    deg AS (SELECT u, COUNT(*)::BIGINT AS d FROM adj GROUP BY u)
"""


@query(
    "link_prediction",
    f"""
    WITH {_LP_EDGES_SQL},
    paths AS (
        SELECT l.v AS u, r.v AS v, l.u AS w
        FROM adj l JOIN adj r ON l.u = r.u AND l.v < r.v
    ),
    cand AS (
        SELECT p.u, p.v, COUNT(*)::BIGINT AS cn,
               list(dw.d ORDER BY dw.d) AS dws
        FROM paths p JOIN deg dw ON dw.u = p.w
        GROUP BY p.u, p.v
    ),
    nonadj AS (
        SELECT c.* FROM cand c
        LEFT JOIN und e ON e.a = c.u AND e.b = c.v
        WHERE e.a IS NULL
    )
    SELECT nonadj.u AS u, nonadj.v AS v, cn,
           ROUND(cn::DOUBLE / (du.d + dv.d - cn), 6) AS jaccard,
           ROUND(list_reduce(list_prepend(0.0,
               list_transform(dws, x -> 1.0 / ln(x::DOUBLE))),
               (a, x) -> a + x), 6) AS adamic_adar
    FROM nonadj JOIN deg du ON du.u = nonadj.u
                JOIN deg dv ON dv.u = nonadj.v
    WHERE cn >= 2
    """,
)
def link_prediction_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the shared deterministic 3-out link graph
    (pagerank_docs / bfs_hops / degree_distribution family):
    non-adjacent doc pairs with >= 2 common neighbors, scored by
    neighbor-set Jaccard (cn / (deg_u + deg_v - cn), exact-int inputs)
    and Adamic-Adar (sum of 1/ln(deg(w)) over common neighbors) — the
    "which docs SHOULD be linked" readout of citation/link curation.

    Parity: common-neighbor degrees are exact BIGINTs; the Adamic-Adar
    sum folds the DEGREE-SORTED list left-to-right on both engines (ties
    are equal values, so tie order cannot change the fold).  Common
    neighbors of any pair have degree >= 2, so ln never sees 1.

    Scale shape: candidate pairs come from joining the adjacency list on
    the HUB node — expansion bounded by max-degree² per hub, the
    triangle-counting discipline (degree-orient the join on skewed
    graphs); the adjacency anti-join and degree joins are equi-joins on
    node ids; nothing is corpus-quadratic."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    d = F.col("doc_id")
    raw = docs.select(
        d.alias("src"),
        F.explode(
            F.array((d * 7 + 1) % n, (d * 13 + 3) % n, (d * 29 + 7) % n)
        ).alias("dst"),
    )
    und = (
        raw.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    adj = und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = adj.groupBy("u").agg(F.count("*").cast("long").alias("d"))
    l, r = adj.alias("l"), adj.alias("r")
    paths = l.join(
        r, (F.col("l.u") == F.col("r.u")) & (F.col("l.v") < F.col("r.v"))
    ).select(
        F.col("l.v").alias("u"), F.col("r.v").alias("v"), F.col("l.u").alias("w")
    )
    dw = deg.select(F.col("u").alias("w"), F.col("d").alias("dw"))
    cand = (
        paths.join(dw, "w")
        .groupBy("u", "v")
        .agg(
            F.count("*").cast("long").alias("cn"),
            F.array_sort(F.collect_list("dw")).alias("dws"),
        )
    )
    nonadj = cand.join(
        und,
        (und["a"] == cand["u"]) & (und["b"] == cand["v"]),
        "left_anti",
    )
    du = deg.select(F.col("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("u").alias("v"), F.col("d").alias("dv"))
    aa = F.aggregate(
        F.col("dws"),
        F.lit(0.0),
        lambda acc, x: acc + 1.0 / F.log(x.cast("double")),
    )
    return (
        nonadj.join(du, "u")
        .join(dv, "v")
        .filter(F.col("cn") >= 2)
        .select(
            "u",
            "v",
            "cn",
            F.round(
                F.col("cn").cast("double")
                / (F.col("du") + F.col("dv") - F.col("cn")),
                6,
            ).alias("jaccard"),
            F.round(aa, 6).alias("adamic_adar"),
        )
    )


def item_cf_frame(
    o: DataFrame, li: DataFrame, cap: int = 128, k: int = 3
) -> DataFrame:
    """Core item-item CF plan over (orders, lineitem) frames — see
    item_cf_q for semantics.  ``cap`` bounds distinct items per customer
    basket BEFORE the pair self-join: a b-item mega-basket fans out
    b(b−1)/2 pairs, so one pathological customer can dominate the whole
    shuffle.  The cap keeps a deterministic md5-coin within-basket sample
    (unbiased, replayable in SQL), applied to baskets AND degrees so the
    cosine stays internally consistent; the oracle replays the identical
    cap, making the bound part of the operator's semantics at every
    scale rather than a gate-invisible divergence."""
    cp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    wcap = Window.partitionBy("c").orderBy(
        F.md5(F.concat_ws(":", F.col("c"), F.col("p"))).asc(), F.col("p").asc()
    )
    cp = (
        cp.withColumn("bi", F.row_number().over(wcap))
        .filter(F.col("bi") <= cap)
        .drop("bi")
        # r16: materialize the capped basket table ONCE (guide §2.4/§3.3) —
        # it feeds the pair self-join (both sides) and the degree table
        # (joined twice), and AQE reuses exchanges, not the distinct+cap
        # window above them: the lineitem⋈orders join, the (c,p) distinct
        # and the cap window were each evaluated FOUR times in the r15
        # plan.  The table is two int-like columns capped at 128 rows per
        # customer, so the checkpoint is small at any scale.
        .localCheckpoint(eager=True)
    )
    deg = cp.groupBy("p").agg(F.count("*").cast("long").alias("n"))
    a, b = cp.alias("a"), cp.alias("b")
    pr = (
        a.join(b, (F.col("a.c") == F.col("b.c")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("pa"), F.col("b.p").alias("pb"))
        .agg(F.count("*").cast("long").alias("n_uv"))
    )
    # r15: both orientations via ONE explode above the pair aggregate —
    # the old unionAll of two projections duplicated the pr subtree, so
    # the 12.7M-row final HashAggregate ran twice (AQE reuses the
    # exchange, not the aggregation above it).  Same rows, one pass.
    sym = pr.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("pa").alias("part"),
                    F.col("pb").alias("neighbor"),
                    F.col("n_uv"),
                ),
                F.struct(
                    F.col("pb").alias("part"),
                    F.col("pa").alias("neighbor"),
                    F.col("n_uv"),
                ),
            )
        ).alias("s")
    ).select("s.part", "s.neighbor", "s.n_uv")
    da = deg.select(F.col("p").alias("part"), F.col("n").alias("na"))
    dbn = deg.select(F.col("p").alias("neighbor"), F.col("n").alias("nb"))
    scored = (
        sym.join(F.broadcast(da), "part")
        .join(F.broadcast(dbn), "neighbor")
        .withColumn(
            "cos",
            F.col("n_uv").cast("double")
            / F.sqrt((F.col("na") * F.col("nb")).cast("double")),
        )
    )
    w = Window.partitionBy("part").orderBy(F.col("cos").desc(), F.col("neighbor").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("part", "neighbor", "n_uv", F.round("cos", 6).alias("cosine"), "rk")
    )


@query(
    "item_cf",
    """
    WITH cp0 AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    cp AS (
        SELECT c, p FROM (
            SELECT c, p, ROW_NUMBER() OVER (
                PARTITION BY c
                ORDER BY md5(c::VARCHAR || ':' || p::VARCHAR) ASC, p ASC
            ) AS bi FROM cp0
        ) WHERE bi <= 128
    ),
    deg AS (SELECT p, COUNT(*)::BIGINT AS n FROM cp GROUP BY p),
    pr AS (
        SELECT a.p AS pa, b.p AS pb, COUNT(*)::BIGINT AS n_uv
        FROM cp a JOIN cp b ON a.c = b.c AND a.p < b.p
        GROUP BY 1, 2
    ),
    sym AS (
        SELECT pa AS part, pb AS neighbor, n_uv FROM pr
        UNION ALL
        SELECT pb AS part, pa AS neighbor, n_uv FROM pr
    ),
    scored AS (
        SELECT s.part, s.neighbor, s.n_uv,
               s.n_uv / sqrt((da.n * db.n)::DOUBLE) AS cos
        FROM sym s
        JOIN deg da ON s.part = da.p
        JOIN deg db ON s.neighbor = db.p
    )
    SELECT part, neighbor, n_uv, ROUND(cos, 6) AS cosine, rk FROM (
        SELECT part, neighbor, n_uv, cos,
               ROW_NUMBER() OVER (
                   PARTITION BY part ORDER BY cos DESC, neighbor ASC
               )::BIGINT AS rk
        FROM scored
    ) WHERE rk <= 3
    """,
)
def item_cf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: top-3 co-purchase neighbors per
    part, cosine = n_uv / √(n_u·n_v) over CUSTOMER baskets (cross-order
    affinity — frequent_pairs mines within-order baskets).  All counts are
    exact integers; the cosine is one closed-form double on both engines,
    ranked pre-round with neighbor-asc tiebreak.

    Plan: baskets distinct once, capped to 128 items per customer via a
    deterministic md5-coin within-basket sample BEFORE the pair self-join
    (the mega-basket skew bound — a b-item basket fans b(b−1)/2 pairs;
    the measured sf0.1 max basket is 105, under the cap, and the oracle
    replays the identical cap so the bound holds at any scale).  The pair
    self-join shuffles on the customer key only (a.p < b.p halves the
    square), per-part degrees are a tiny table broadcast twice, and the
    top-3 cut is a WindowGroupLimit rank pushdown — no all-pairs across
    customers.  Beyond-reference (north-star recommendation family)."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return item_cf_frame(o, li, cap=128, k=3)


@query(
    "burrows_delta",
    """
    WITH wc AS (
        SELECT source, w.w AS word, COUNT(*)::BIGINT AS c
        FROM (SELECT source,
                     list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
              FROM documents) d,
             unnest(d.ws) AS w(w)
        GROUP BY source, w.w
    ),
    ts AS (SELECT source, SUM(c)::BIGINT AS t FROM wc GROUP BY source),
    topw AS (
        SELECT word FROM (
            SELECT word, SUM(c)::BIGINT AS tot FROM wc GROUP BY word
        ) ORDER BY tot DESC, word ASC LIMIT 20
    ),
    cells AS (
        SELECT ts.source, topw.word,
               COALESCE(wc.c, 0)::DOUBLE / ts.t::DOUBLE AS f
        FROM ts CROSS JOIN topw
        LEFT JOIN wc ON wc.source = ts.source AND wc.word = topw.word
    ),
    stats AS (
        SELECT word,
               COUNT(*)::BIGINT AS ns,
               list(f ORDER BY source) AS fl
        FROM cells GROUP BY word
    ),
    mom AS (
        SELECT word, ns, fl,
               list_reduce(list_prepend(0.0, fl), (a, x) -> a + x) / ns AS mean
        FROM stats
    ),
    sd AS (
        SELECT word, ns, mean,
               sqrt(list_reduce(list_prepend(0.0,
                        list_transform(fl, x -> (x - mean) * (x - mean))),
                    (a, x) -> a + x) / (ns - 1)) AS std
        FROM mom
    ),
    z AS (
        SELECT c.source, c.word, (c.f - sd.mean) / sd.std AS z
        FROM cells c JOIN sd ON sd.word = c.word
    ),
    pairs AS (
        SELECT a.source AS src_a, b.source AS src_b,
               list(abs(a.z - b.z) ORDER BY a.word) AS dl
        FROM z a JOIN z b ON a.word = b.word AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT src_a, src_b,
           ROUND(list_reduce(list_prepend(0.0, dl), (a, x) -> a + x)
                 / len(dl), 6) AS delta
    FROM pairs
    """,
)
def burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows's Delta (Burrows 2002) between every source pair — the
    classic stylometric distance: z-score each source's relative
    frequency of the corpus's top-20 words, then Delta = mean |z_a −
    z_b|.  The attribution/contamination screen that catches one crawl
    source masquerading as another (same topic words, different function
    -word profile).  Parity: every f divides the same exact integers;
    the per-word mean/std and the per-pair Delta are SOURCE- and
    WORD-ordered IEEE folds written identically in both engines (sample
    std over ns−1).

    Scale: one token explode → one (source, word) groupBy; everything
    after runs on the |sources|×20 cell frame."""
    from pyspark.sql import Window as W

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
        .localCheckpoint(eager=True)
    )
    ts = wc.groupBy("source").agg(F.sum("c").cast("long").alias("t"))
    topw = (
        wc.groupBy("word")
        .agg(F.sum("c").cast("long").alias("tot"))
        .orderBy(F.col("tot").desc(), F.col("word").asc())
        .limit(20)
        .select("word")
    )
    cells = (
        ts.crossJoin(F.broadcast(topw))
        .join(wc, ["source", "word"], "left")
        .select(
            "source", "word",
            (
                F.coalesce(F.col("c"), F.lit(0)).cast("double")
                / F.col("t").cast("double")
            ).alias("f"),
        )
        .localCheckpoint(eager=True)
    )
    stats = cells.groupBy("word").agg(
        F.count("*").cast("long").alias("ns"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("source", "f"))),
            lambda s: s["f"],
        ).alias("fl"),
    )
    mom = stats.select(
        "word", "ns", "fl",
        (
            F.aggregate(F.col("fl"), F.lit(0.0), lambda a, x: a + x)
            / F.col("ns")
        ).alias("mean"),
    )
    sd = mom.select(
        "word", "ns", "mean",
        F.sqrt(
            F.aggregate(
                F.transform(
                    F.col("fl"), lambda x: (x - F.col("mean")) * (x - F.col("mean"))
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            / (F.col("ns") - 1)
        ).alias("std"),
    )
    z = cells.join(sd, "word").select(
        "source", "word",
        ((F.col("f") - F.col("mean")) / F.col("std")).alias("z"),
    )
    a = z.select(
        F.col("source").alias("src_a"), F.col("word"), F.col("z").alias("za")
    )
    b = z.select(
        F.col("source").alias("src_b"), F.col("word"), F.col("z").alias("zb")
    )
    pairs = (
        a.join(b, "word")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("word", F.abs(F.col("za") - F.col("zb")).alias("d"))
                    )
                ),
                lambda s: s["d"],
            ).alias("dl")
        )
    )
    return pairs.select(
        "src_a", "src_b",
        F.round(
            F.aggregate(F.col("dl"), F.lit(0.0), lambda acc, x: acc + x)
            / F.size("dl"),
            6,
        ).alias("delta"),
    )


# ---------------------------------------------------------------------------
# Round 11: ordered-funnel-within-window + Mann-Whitney U
# ---------------------------------------------------------------------------

_WF_WINDOW_US = 7 * 86_400_000_000  # 7-day conversion window
_WF_UNSET = -(1 << 62)  # not-yet-reached sentinel for the fold state


@query(
    "window_funnel",
    f"""
    WITH ev AS (
        SELECT user_id, epoch_us(ts) AS t, event_id,
               CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
                               WHEN 'purchase' THEN 3 END AS step
        FROM events
        WHERE event_type IN ('view', 'click', 'purchase')
    ),
    folded AS (
        SELECT user_id,
               list_reduce(list_prepend(
                   [{_WF_UNSET}::BIGINT, {_WF_UNSET}::BIGINT, {_WF_UNSET}::BIGINT],
                   list([t, step::BIGINT] ORDER BY t, event_id)),
                   (a, e) -> [
                       CASE WHEN e[2] = 1 THEN GREATEST(a[1], e[1]) ELSE a[1] END,
                       CASE WHEN e[2] = 2 AND a[1] > {_WF_UNSET}
                                 AND e[1] - a[1] <= {_WF_WINDOW_US}
                            THEN GREATEST(a[2], a[1]) ELSE a[2] END,
                       CASE WHEN e[2] = 3 AND a[2] > {_WF_UNSET}
                                 AND e[1] - a[2] <= {_WF_WINDOW_US}
                            THEN GREATEST(a[3], a[2]) ELSE a[3] END]) AS s
        FROM ev GROUP BY user_id
    ),
    lv AS (
        SELECT user_id,
               CASE WHEN s[3] > {_WF_UNSET} THEN 3
                    WHEN s[2] > {_WF_UNSET} THEN 2
                    WHEN s[1] > {_WF_UNSET} THEN 1 ELSE 0 END AS level
        FROM folded
    )
    SELECT level::INT AS level, COUNT(*)::BIGINT AS n_users
    FROM lv GROUP BY level
    """,
)
def window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel within a conversion window (the ClickHouse
    windowFunnel shape): per user, the deepest prefix of view → click →
    purchase completed IN ORDER with the whole chain inside 7 days of
    its first step.  Semantics are a deterministic greedy fold over the
    user's time-ordered events: s[k] keeps the LATEST chain-start
    reaching level k; a step-k event extends a chain iff s[k−1] is set
    and t − s[k−1] ≤ W.  Latest (not earliest) is the greedy-OPTIMAL
    rule for "deepest level ever reached": a later chain start is always
    at least as extendable under the t − start ≤ W test, and it is what
    makes a fresh step-1 event restart an expired chain (the first draft
    kept the earliest start and provably missed restarts — caught by the
    hand-built-sequence pytest, user 4).  event_funnel counts unordered
    per-step reach; this is the stricter ordered-within-window
    conversion readout.

    Parity: state and timestamps are exact BIGINT micros with a
    not-yet-reached sentinel (−2⁶²); the fold order is (t, event_id) on both
    engines — pure integer CASE/LEAST arithmetic, no floats anywhere.
    Scale: one groupBy(user_id) building a per-user bounded array (the
    3-type filter prunes the rest at the scan), one small aggregate."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    step = (
        F.when(F.col("event_type") == "view", 1)
        .when(F.col("event_type") == "click", 2)
        .otherwise(3)
        .cast("long")
    )
    ev = e.select(
        "user_id",
        F.unix_micros("ts").alias("t"),
        F.col("event_id").cast("long").alias("event_id"),
        step.alias("step"),
    )
    unset = F.lit(_WF_UNSET).cast("long")

    def fold(a, x):
        t, st = F.element_at(x, 3), F.element_at(x, 4)
        s1, s2, s3 = F.element_at(a, 1), F.element_at(a, 2), F.element_at(a, 3)
        return F.array(
            F.when(st == 1, F.greatest(s1, t)).otherwise(s1),
            F.when(
                (st == 2) & (s1 > _WF_UNSET) & (t - s1 <= _WF_WINDOW_US),
                F.greatest(s2, s1),
            ).otherwise(s2),
            F.when(
                (st == 3) & (s2 > _WF_UNSET) & (t - s2 <= _WF_WINDOW_US),
                F.greatest(s3, s2),
            ).otherwise(s3),
        )

    folded = ev.groupBy("user_id").agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(F.array("t", "event_id", "t", "step"))
            ),
            F.array(unset, unset, unset),
            fold,
        ).alias("s")
    )
    level = (
        F.when(F.element_at("s", 3) > _WF_UNSET, 3)
        .when(F.element_at("s", 2) > _WF_UNSET, 2)
        .when(F.element_at("s", 1) > _WF_UNSET, 1)
        .otherwise(0)
    )
    return (
        folded.select(level.cast("int").alias("level"))
        .groupBy("level")
        .agg(F.count("*").cast("long").alias("n_users"))
    )


@query(
    "mann_whitney_u",
    """
    WITH spend AS (
        SELECT user_id, user_id % 2 AS g,
               SUM(FLOOR(value * 100.0 + 0.5)::BIGINT)::BIGINT AS x
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id
    ),
    vals AS (
        SELECT x, COUNT(*)::BIGINT AS cnt,
               SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END)::BIGINT AS cnt1
        FROM spend GROUP BY x
    ),
    ranked AS (
        SELECT x, cnt, cnt1,
               COALESCE(SUM(cnt) OVER (ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 ::BIGINT AS less
        FROM vals
    ),
    agg AS (
        SELECT SUM(cnt)::BIGINT AS n,
               SUM(cnt1)::BIGINT AS n1,
               SUM((2 * less + cnt + 1) * cnt1)::BIGINT AS r1_x2,
               SUM(cnt * cnt * cnt - cnt)::BIGINT AS ties
        FROM ranked
    )
    SELECT n1, (n - n1)::BIGINT AS n2,
           (r1_x2 - n1 * (n1 + 1))::BIGINT AS u1_x2,
           CASE WHEN n1 * (n - n1) * ((n + 1) * n * (n - 1) - ties) > 0 THEN
               ROUND((r1_x2 - n1 * (n1 + 1) - n1 * (n - n1))::DOUBLE
                     / (2.0 * sqrt(
                         (n1 * (n - n1) * ((n + 1) * n * (n - 1) - ties))::DOUBLE
                         / (12 * n * (n - 1))::DOUBLE)), 6)
           END AS z
    FROM agg
    """,
)
def mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) — the nonparametric two-sample
    location test beside ks_two_sample's distribution test and
    ab_test_zscore's parametric readout: per-user purchase spend in exact
    cents, arms by key parity, tie-corrected normal approximation.  Runs
    on ranks, so it is outlier-robust where the t/z on means is not —
    the right default for heavy-tailed revenue metrics (hill_tail_index
    diagnoses exactly such tails in this corpus family).

    Parity: the entire statistic reduces to exact BIGINTs — doubled
    average ranks via 2·less + eq + 1 (the spearman_corr trick), doubled
    rank-sum, U₁·2, and the tie term Σ(t³−t); the variance is ONE
    division of two exact integers and z is one subtraction and one
    correctly-rounded sqrt/division chain.  Zero-variance gates on the
    integer radicand.  Scale: per-user collapse, then a groupBy on
    DISTINCT spend values and one window over that bounded value grid —
    the corpus never sorts globally."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    spend = e.groupBy("user_id").agg(
        F.sum(F.floor(F.col("value") * 100.0 + 0.5).cast("long"))
        .cast("long")
        .alias("x")
    ).select((F.col("user_id") % 2).alias("g"), "x")
    vals = spend.groupBy("x").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).cast("long").alias("cnt1"),
    )
    wless = W.orderBy("x").rowsBetween(W.unboundedPreceding, -1)
    ranked = vals.select(
        "x", "cnt", "cnt1",
        F.coalesce(F.sum("cnt").over(wless), F.lit(0)).cast("long").alias("less"),
    )
    agg = ranked.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum("cnt1").cast("long").alias("n1"),
        F.sum((2 * F.col("less") + F.col("cnt") + 1) * F.col("cnt1"))
        .cast("long")
        .alias("r1_x2"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("long")
        .alias("ties"),
    )
    n, n1 = F.col("n"), F.col("n1")
    n2 = n - n1
    u1_x2 = F.col("r1_x2") - n1 * (n1 + 1)
    rad = n1 * n2 * ((n + 1) * n * (n - 1) - F.col("ties"))
    z = (u1_x2 - n1 * n2).cast("double") / (
        2.0 * F.sqrt(rad.cast("double") / (12 * n * (n - 1)).cast("double"))
    )
    return agg.select(
        n1.alias("n1"),
        n2.cast("long").alias("n2"),
        u1_x2.cast("long").alias("u1_x2"),
        F.when(rad > 0, F.round(z, 6)).alias("z"),
    )
