"""Coverage completion: F6/F7 (searchAll flat rank + per-doc quota),
M5 (auto-remember), T6 (plaintext sections),
A13 (weight adjustment, rows-only) — plus classic relational queries over
the TPC-H-ish tables (lineitem is the scale-stress table) exercising the
grouped-aggregate / join / rollup machinery the agent-state operators
compile to (SURVEY §2.6 note: grouping sets come free with Spark SQL)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fusionspark import fixtures as FX
from fusionspark.functions.text import keyword_overlap
from fusionspark.io import load_table
from fusionspark.operators import learning, tree
from fusionspark.queries import query
from fusionspark.queries.text_queries import QUERY, _TERMS
from fusionspark.queries.tree_queries import MD_CORPUS_SQL, md_corpus_df

def _rev_e4():
    """Lineitem revenue term in EXACT 10^-4-dollar integer units:
    cents(price) * (100 - cents(discount)) — prices and discounts are
    cents-exact in the data, so the revenue SUM folds as exact BIGINTs
    in any shuffle order (raw-double sums diverge from the oracle in
    the 6th decimal at ~1e9 magnitude; the r13 strict-gate find)."""
    return F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("long") * (
        100 - F.floor(F.col("l_discount") * 100.0 + 0.5).cast("long")
    )



# ── classic relational (lineitem = 600k rows at sf0.1) ────────────────────

@query(
    "tpch_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 6) AS sum_qty,
           ROUND(SUM(FLOOR(l_extendedprice * 100.0 + 0.5)::BIGINT)::DOUBLE
                 / 100.0, 6) AS sum_base_price,
           ROUND(SUM(FLOOR(l_extendedprice * 100.0 + 0.5)::BIGINT
                     * (100 - FLOOR(l_discount * 100.0 + 0.5)::BIGINT)
                    )::DOUBLE / 10000.0, 6) AS sum_disc_price,
           ROUND(AVG(l_quantity), 6) AS avg_qty,
           COUNT(*)::BIGINT AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped pricing summary: the grouped-aggregate shape every
    stats operator (A2-A5) compiles to, on the big table.  Fully partial
    (map-side) aggregation; the shuffle carries 4 groups.

    Money sums fold in exact cents / 10^-4-dollar integer units (the r13
    strict-gate find — raw-double sums at ~1e9 diverge from the oracle
    in the 6th decimal, which is below the ulp there); quantity sums are
    integral doubles (exact in any order) and stay as-is."""
    li = load_table(spark, sf_dir, "lineitem")
    pc = F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("long")
    dc = F.floor(F.col("l_discount") * 100.0 + 0.5).cast("long")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
            F.round(F.sum(pc).cast("double") / 100.0, 6).alias("sum_base_price"),
            F.round(F.sum(pc * (100 - dc)).cast("double") / 10000.0, 6).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "tpch_top_customers",
    """
    SELECT c.c_custkey, c.c_name, n.n_name,
           ROUND(SUM(FLOOR(l.l_extendedprice * 100.0 + 0.5)::BIGINT
                     * (100 - FLOOR(l.l_discount * 100.0 + 0.5)::BIGINT))::DOUBLE / 10000.0, 6) AS revenue
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey ASC LIMIT 10
    """,
)
def tpch_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: broadcast the small dims (customer/nation/orders side),
    keep lineitem shuffle-free until the final 10-row top-k."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = load_table(spark, sf_dir, "lineitem")
    joined = (
        li.join(F.broadcast(o), li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
    )
    return (
        joined.groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(_rev_e4()).cast("double") / 10000.0, 6).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(10)
    )


@query(
    "rollup_orders",
    """
    SELECT COALESCE(o_orderpriority, '__all__') AS o_orderpriority,
           COALESCE(o_orderstatus, '__all__') AS o_orderstatus,
           COUNT(*)::BIGINT AS n,
           ROUND(SUM(FLOOR(o_totalprice * 10000.0 + 0.5)::BIGINT)::DOUBLE
                 / 10000.0, 6) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
)
def rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (free via Spark SQL; the reference has no
    grouping machinery at all — SURVEY §2.6 note).  o_totalprice is
    exact at 4 decimals in the data (NOT cents — it was generated as a
    float sum), so the total folds in exact 10^-4-dollar integer units:
    order-free, bitwise stable under any partitioning (the r13
    strict-gate find; see tpch_region_revenue)."""
    o = load_table(spark, sf_dir, "orders")
    te4 = F.floor(F.col("o_totalprice") * 10000.0 + 0.5).cast("long")
    return (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(te4).cast("double") / 10000.0, 6).alias("total"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("__all__")).alias("o_orderpriority"),
            F.coalesce("o_orderstatus", F.lit("__all__")).alias("o_orderstatus"),
            "n",
            "total",
        )
    )


# ── F6/F7: searchAll flat rank + per-doc quota ────────────────────────────

_TERMS_SQL = "[" + ", ".join(f"'{t}'" for t in _TERMS) + "]"

_SEARCHALL_SQL = f"""
WITH {MD_CORPUS_SQL.strip()},
split_t AS (
    SELECT md_doc_id, string_split(md_text, chr(10)) AS ls FROM md_corpus
),
idx_t AS (
    SELECT md_doc_id, ls, unnest(generate_series(1, len(ls))) AS pos FROM split_t
),
lines AS (SELECT md_doc_id, pos, ls[pos] AS line FROM idx_t),
marked AS (
    SELECT md_doc_id, pos, line,
           length(regexp_extract(line, '^(#{{1,6}}) (.*)$', 1)) AS level
    FROM lines
),
seg AS (
    SELECT *, (SUM(CASE WHEN level > 0 THEN 1 ELSE 0 END)
                  OVER (PARTITION BY md_doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING))::BIGINT AS sec_idx
    FROM marked
),
sections AS (
    SELECT md_doc_id, sec_idx,
           MAX(CASE WHEN level = 0 THEN line END) AS content
    FROM seg WHERE sec_idx > 0 GROUP BY md_doc_id, sec_idx
),
scored AS (
    SELECT md_doc_id, sec_idx,
           (SELECT SUM(CASE WHEN contains(lower(content), t) THEN 1 ELSE 0 END)
            FROM unnest({_TERMS_SQL}) AS u(t))::DOUBLE / {len(_TERMS)} AS score
    FROM sections
),
quota AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY md_doc_id
                                 ORDER BY score DESC, sec_idx ASC) AS doc_rn
    FROM scored WHERE score > 0.3
)
SELECT md_doc_id, sec_idx, ROUND(score, 6) AS score
FROM quota WHERE doc_rn <= 1
ORDER BY score DESC, md_doc_id ASC, sec_idx ASC LIMIT 10
"""


@query("searchall_quota", _SEARCHALL_SQL)
def searchall_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6+F7: searchAll — per-doc quota ceil(k/nDocs)=1 via window, then
    flat cross-doc rank, top-k (TreeIndex.js:214-229)."""
    sections = tree.parse_markdown_sections(md_corpus_df(spark, sf_dir))
    terms = F.array(*[F.lit(t) for t in _TERMS])
    scored = sections.withColumn("score", keyword_overlap(F.col("content"), terms)).filter(
        F.col("score") > 0.3
    )
    wq = Window.partitionBy("md_doc_id").orderBy(F.col("score").desc(), F.col("sec_idx").asc())
    return (
        scored.withColumn("doc_rn", F.row_number().over(wq))
        .filter(F.col("doc_rn") <= 1)
        .orderBy(F.col("score").desc(), F.col("md_doc_id").asc(), F.col("sec_idx").asc())
        .limit(10)
        .select("md_doc_id", F.col("sec_idx").cast("long").alias("sec_idx"), F.round("score", 6).alias("score"))
    )


# ── M5: significant-message auto-remember ─────────────────────────────────

@query(
    "messages_significant",
    f"WITH {FX.MESSAGES_SQL.strip()}\n"
    """
    SELECT msg_id, from_agent, type, substr(payload, 1, 500) AS remembered
    FROM messages WHERE type IN ('task', 'result')
    """,
)
def messages_significant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5: auto-remember significant messages with payload truncated to 500
    chars (AgentOrchestrator.js:160-170)."""
    m = FX.messages_df(spark, sf_dir)
    return m.filter(F.col("type").isin("task", "result")).select(
        "msg_id",
        "from_agent",
        "type",
        F.substring("payload", 1, 500).alias("remembered"),
    )


# ── T6: plaintext numbered-section parse ──────────────────────────────────

PT_CORPUS_SQL = """
pt_corpus AS (
    SELECT doc_id // 10 AS pt_doc_id,
           string_agg(
               CASE WHEN doc_id % 10 = 0 THEN '1 Overview ' || doc_id::VARCHAR
                    WHEN doc_id % 3 = 0 THEN '1.' || (doc_id % 10)::VARCHAR || ' Part ' || doc_id::VARCHAR
                    ELSE '1.' || (doc_id % 10)::VARCHAR || '.1 Sub ' || doc_id::VARCHAR END
               || chr(10) || text,
               chr(10) ORDER BY doc_id) AS pt_text
    FROM documents GROUP BY doc_id // 10
)
"""


@query(
    "plaintext_sections",
    f"""
    WITH {PT_CORPUS_SQL.strip()},
    split_t AS (SELECT pt_doc_id, string_split(pt_text, chr(10)) AS ls FROM pt_corpus),
    idx_t AS (SELECT pt_doc_id, ls, unnest(generate_series(1, len(ls))) AS pos FROM split_t),
    lines AS (SELECT pt_doc_id, pos, ls[pos] AS line FROM idx_t),
    marked AS (
        SELECT pt_doc_id, pos, line,
               regexp_extract(line, '^(\\d+(?:\\.\\d+)*)\\s+(.+)$', 1) AS numbering,
               regexp_extract(line, '^(\\d+(?:\\.\\d+)*)\\s+(.+)$', 2) AS title
        FROM lines
    )
    SELECT pt_doc_id, pos, title,
           (len(string_split(numbering, '.')))::INT AS level
    FROM marked WHERE numbering <> ''
    """,
)
def plaintext_sections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6: numbered-header plaintext parse, level = dot depth
    (TreeIndex.js:396-440) over a constructed numbered corpus."""
    d = load_table(spark, sf_dir, "documents")
    j = F.col("doc_id") % 10
    header = (
        F.when(j == 0, F.concat(F.lit("1 Overview "), F.col("doc_id").cast("string")))
        .when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("1."), j.cast("string"), F.lit(" Part "), F.col("doc_id").cast("string")),
        )
        .otherwise(
            F.concat(F.lit("1."), j.cast("string"), F.lit(".1 Sub "), F.col("doc_id").cast("string"))
        )
    )
    d2 = d.withColumn("sec_text", F.concat(header, F.lit("\n"), F.col("text")))
    corpus = (
        d2.groupBy(F.expr("doc_id div 10").alias("pt_doc_id"))
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "sec_text"))),
                    lambda s: s.getField("sec_text"),
                ),
            ).alias("pt_text")
        )
    )
    lines = corpus.select(
        "pt_doc_id", F.posexplode(F.split("pt_text", "\n")).alias("pos0", "line")
    ).withColumn("pos", F.col("pos0") + 1)
    pat = r"^(\d+(?:\.\d+)*)\s+(.+)$"
    numbering = F.regexp_extract("line", pat, 1)
    title = F.regexp_extract("line", pat, 2)
    return (
        lines.withColumn("numbering", numbering)
        .withColumn("title", title)
        .filter(F.col("numbering") != "")
        .select(
            "pt_doc_id",
            F.col("pos").cast("long").alias("pos"),
            "title",
            F.size(F.split("numbering", r"\.")).cast("int").alias("level"),
        )
    )


# ── A13: incremental weight adjustment (rows-only; ordered fold) ──────────

# A13 oracle: the order-dependent fold is replayed with a RECURSIVE CTE —
# one step per feedback row in (ts, fb_id) order, each step applying the
# same clamp (LEAST/GREATEST) and renormalize arithmetic in the same
# left-to-right operation order as the Python fold, so the float64 values
# agree bit-for-bit.  The ring bound (last FEEDBACK_RING per pattern, the
# reference's bounded history) caps the recursion depth SF-independently.
@query(
    "weight_adjustment",
    f"""
    WITH RECURSIVE {FX.FEEDBACK_SQL.strip()},
    pat AS (
        SELECT *,
            array_to_string(list_sort(list_filter(string_split(lower(query), ' '),
                                                  x -> x <> ''))[1:5], '_') AS pattern
        FROM feedback
    ),
    recent AS (
        SELECT * FROM (
            SELECT pattern, strategy, quality, ts, fb_id,
                   ROW_NUMBER() OVER (PARTITION BY pattern
                                      ORDER BY ts DESC, fb_id DESC) AS rn
            FROM pat
        ) WHERE rn <= {learning.FEEDBACK_RING}
    ),
    seqd AS (
        SELECT pattern, strategy, quality,
               ROW_NUMBER() OVER (PARTITION BY pattern ORDER BY ts, fb_id) AS seq,
               COUNT(*) OVER (PARTITION BY pattern) AS n
        FROM recent
    ),
    fold AS (
        SELECT pattern, 0::BIGINT AS seq, MAX(n) AS n,
               0.4::DOUBLE AS w_vector, 0.4::DOUBLE AS w_tree,
               0.2::DOUBLE AS w_keyword
        FROM seqd GROUP BY pattern
        UNION ALL
        SELECT pattern, seq, n,
               CASE WHEN tot > 0 THEN uv / tot ELSE uv END,
               CASE WHEN tot > 0 THEN ut / tot ELSE ut END,
               CASE WHEN tot > 0 THEN uk / tot ELSE uk END
        FROM (
            SELECT pattern, seq, n, uv, ut, uk, uv + ut + uk AS tot
            FROM (
                SELECT f.pattern, s.seq, f.n,
                    CASE WHEN s.quality > 0.7 AND s.strategy IN ('vector', 'hybrid')
                             THEN LEAST(0.8, f.w_vector + 0.1 * s.quality)
                         WHEN s.quality < 0.3 AND s.strategy = 'vector'
                             THEN GREATEST(0.1, f.w_vector - 0.1)
                         ELSE f.w_vector END AS uv,
                    CASE WHEN s.quality > 0.7 AND s.strategy IN ('tree', 'hybrid')
                             THEN LEAST(0.8, f.w_tree + 0.1 * s.quality)
                         WHEN s.quality < 0.3 AND s.strategy = 'tree'
                             THEN GREATEST(0.1, f.w_tree - 0.1)
                         ELSE f.w_tree END AS ut,
                    CASE WHEN s.quality > 0.7 AND s.strategy IN ('keyword', 'hybrid')
                             THEN LEAST(0.5, f.w_keyword + 0.1 * s.quality * 0.5)
                         WHEN s.quality < 0.3 AND s.strategy = 'keyword'
                             THEN GREATEST(0.05, f.w_keyword - 0.1)
                         ELSE f.w_keyword END AS uk
                FROM fold f JOIN seqd s
                  ON s.pattern = f.pattern AND s.seq = f.seq + 1
            ) f
        )
    )
    SELECT pattern,
           ROUND(w_vector, 6) AS w_vector,
           ROUND(w_tree, 6) AS w_tree,
           ROUND(w_keyword, 6) AS w_keyword,
           n AS n_feedback
    FROM fold WHERE seq = n
    """,
)
def weight_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 (RecursiveLearningEngine.js:747-770): order-dependent clamp+
    renormalize fold per pattern over the last FEEDBACK_RING feedback rows
    (the reference's bounded history) — applyInPandas fold, replayed
    bit-exact by the oracle's recursive CTE."""
    df = learning.adjust_strategy_weights(
        FX.feedback_df(spark, sf_dir), ring=learning.FEEDBACK_RING
    )
    return df.select(
        "pattern",
        F.round("w_vector", 6).alias("w_vector"),
        F.round("w_tree", 6).alias("w_tree"),
        F.round("w_keyword", 6).alias("w_keyword"),
        "n_feedback",
    )


@query(
    "tpch_shipping_priority",
    """
    SELECT l.l_orderkey,
           ROUND(SUM(FLOOR(l.l_extendedprice * 100.0 + 0.5)::BIGINT
                     * (100 - FLOOR(l.l_discount * 100.0 + 0.5)::BIGINT))::DOUBLE / 10000.0, 6) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate, o.o_orderpriority
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l.l_orderkey, strftime(o.o_orderdate, '%Y-%m-%d'), o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
    """,
)
def tpch_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: date-filtered join (both filters push to the scans),
    revenue aggregate, 10-row top-k — the orders side broadcasts."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-01-01"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1998-01-01"
    )
    return (
        li.join(F.broadcast(o), li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(
            F.round(F.sum(_rev_e4()).cast("double") / 10000.0, 6).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
        .select("l_orderkey", "revenue", "orderdate", "o_orderpriority")
    )


@query(
    "tpch_late_ship_priority",
    """
    SELECT o.o_orderpriority, COUNT(*)::BIGINT AS order_count
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
    )
    GROUP BY o.o_orderpriority
    """,
)
def tpch_late_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (EXISTS → left-semi join): orders with at least one
    lineitem shipped more than 30 days after the order date, counted per
    priority.  The semi-join never duplicates orders and carries only the
    join keys."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


@query(
    "cube_orders",
    """
    SELECT COALESCE(o_orderpriority, '__all__') AS o_orderpriority,
           COALESCE(o_orderstatus, '__all__') AS o_orderstatus,
           COUNT(*)::BIGINT AS n,
           SUM(FLOOR(o_totalprice * 100.0 + 0.5)::BIGINT)::BIGINT AS total_cents
    FROM orders
    GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
)
def cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets — rollup_orders' full-lattice sibling (adds the
    status-only marginals ROLLUP omits); revenue kept as exact cents so
    every one of the 4 grouping levels hash-matches regardless of
    aggregation order."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
    return (
        o.select("o_orderpriority", "o_orderstatus", cents.alias("cents"))
        .cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("cents").cast("long").alias("total_cents"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("__all__")).alias("o_orderpriority"),
            F.coalesce("o_orderstatus", F.lit("__all__")).alias("o_orderstatus"),
            "n",
            "total_cents",
        )
    )
