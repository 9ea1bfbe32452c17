"""Derived agent-state fixtures (FIXTURES.md).

The reference keeps agent state (memory entries, conversations, agents,
messages, feedback, skills) in in-memory Maps.  Our engine models them as
tables.  For the correctness gate they are derived DETERMINISTICALLY from the
driver's seed-42 tables by pure column functions, so the DuckDB oracle can
rebuild byte-identical inputs from the same parquet (the `*_SQL` constants
below are those rebuild rules as DuckDB CTE bodies).

Reference shapes:
  MemoryEntry            /root/reference/src/memory/AgentMemory.js:29-41
  ConversationMessage    AgentMemory.js:44-49
  Agent                  /root/reference/src/orchestration/AgentOrchestrator.js:21-28
  AgentMessage           AgentOrchestrator.js:31-38
  Feedback record        /root/reference/src/learning/RecursiveLearningEngine.js:262-301
  Skill                  RecursiveLearningEngine.js:410-421
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fusionspark.io import load_table

#: Deterministic "now" for TTL / decay computations (reference uses
#: Date.now(); tests need a fixed clock).  memory.ts spans
#: 2024-01-01 00:00 .. +n_docs minutes.
REF_NOW = "2024-01-01 06:00:00"

MEMORY_TYPES = ["episodic", "semantic", "procedural", "shared"]


# ── memory ────────────────────────────────────────────────────────────────

def memory_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    typ = (
        F.when(F.col("doc_id") % 4 == 0, "episodic")
        .when(F.col("doc_id") % 4 == 1, "semantic")
        .when(F.col("doc_id") % 4 == 2, "procedural")
        .otherwise("shared")
    )
    ts = F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_dt_interval(
        mins=F.col("doc_id").cast("int")
    )
    return d.select(
        F.col("doc_id"),
        F.concat(F.lit("mem_"), typ, F.lit("_"), F.lpad(F.col("doc_id").cast("string"), 6, "0")).alias("mem_id"),
        F.concat(F.lit("agent-"), (F.col("doc_id") % 5).cast("string")).alias("agent_id"),
        typ.alias("type"),
        F.col("text").alias("content"),
        ((F.col("doc_id") % 100) / 100.0).alias("importance"),
        (F.col("doc_id") % 7).cast("int").alias("access_count"),
        ts.alias("ts"),
        F.when(
            F.col("doc_id") % 5 != 0,
            ts + F.make_dt_interval(mins=((F.col("doc_id") % 13) * 20).cast("int")),
        ).alias("last_accessed"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(0))
        .when(F.col("doc_id") % 3 == 1, F.lit(3600000))
        .otherwise(F.lit(43200000))
        .cast("long")
        .alias("ttl_ms"),
        F.when(
            (F.col("doc_id") % 4 == 3) & (F.col("doc_id") % 2 == 0),
            F.array(F.lit("agent-0"), F.lit("agent-1")),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("allowed_agents"),
    )


MEMORY_SQL = """
memory AS (
    SELECT
        doc_id,
        'mem_' || typ || '_' || lpad(doc_id::VARCHAR, 6, '0') AS mem_id,
        'agent-' || (doc_id % 5)::VARCHAR AS agent_id,
        typ AS type,
        text AS content,
        (doc_id % 100) / 100.0 AS importance,
        (doc_id % 7)::INT AS access_count,
        ts,
        CASE WHEN doc_id % 5 <> 0
             THEN ts + (doc_id % 13) * 20 * INTERVAL 1 MINUTE END AS last_accessed,
        (CASE doc_id % 3 WHEN 0 THEN 0 WHEN 1 THEN 3600000 ELSE 43200000 END)::BIGINT AS ttl_ms,
        CASE WHEN doc_id % 4 = 3 AND doc_id % 2 = 0
             THEN ['agent-0', 'agent-1'] ELSE [] END AS allowed_agents
    FROM (
        SELECT *,
               CASE doc_id % 4 WHEN 0 THEN 'episodic' WHEN 1 THEN 'semantic'
                               WHEN 2 THEN 'procedural' ELSE 'shared' END AS typ,
               TIMESTAMP '2024-01-01 00:00:00' + doc_id * INTERVAL 1 MINUTE AS ts
        FROM documents
    )
)
"""


# ── conversations ─────────────────────────────────────────────────────────

def conversations_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.select(
        F.col("event_id").alias("msg_seq"),
        F.concat(F.lit("agent-"), (F.col("user_id") % 5).cast("string")).alias("agent_id"),
        F.concat(F.lit("t-"), F.col("user_id").cast("string")).alias("thread_id"),
        F.when(F.col("event_id") % 3 == 0, "user")
        .when(F.col("event_id") % 3 == 1, "assistant")
        .otherwise("system")
        .alias("role"),
        F.col("event_type").alias("content"),
        F.col("ts"),
    )


CONVERSATIONS_SQL = """
conversations AS (
    SELECT
        event_id AS msg_seq,
        'agent-' || (user_id % 5)::VARCHAR AS agent_id,
        't-' || user_id::VARCHAR AS thread_id,
        CASE event_id % 3 WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' ELSE 'system' END AS role,
        event_type AS content,
        ts
    FROM events
)
"""


# ── agents ────────────────────────────────────────────────────────────────

AGENT_ROWS = [
    ("agent-0", "Coordinator", []),
    ("agent-1", "Researcher", ["search", "analysis", "summarization"]),
    ("agent-2", "Writer", ["writing", "formatting", "reporting"]),
    ("agent-3", "SafetyExpert", ["safety", "compliance", "analysis"]),
    ("agent-4", "Coder", ["coding", "search"]),
]


def agents_df(spark: SparkSession, sf_dir: str = "") -> DataFrame:
    return spark.createDataFrame(
        AGENT_ROWS, "agent_id: string, name: string, capabilities: array<string>"
    )


AGENTS_SQL = """
agents AS (
    SELECT * FROM (VALUES
        ('agent-0', 'Coordinator',  []::VARCHAR[]),
        ('agent-1', 'Researcher',   ['search', 'analysis', 'summarization']),
        ('agent-2', 'Writer',       ['writing', 'formatting', 'reporting']),
        ('agent-3', 'SafetyExpert', ['safety', 'compliance', 'analysis']),
        ('agent-4', 'Coder',        ['coding', 'search'])
    ) AS t(agent_id, name, capabilities)
)
"""


# ── messages ──────────────────────────────────────────────────────────────

def messages_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → messages projection."""
    return load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("msg_id"),
        F.concat(F.lit("agent-"), (F.col("user_id") % 5).cast("string")).alias("from_agent"),
        F.when(F.col("event_id") % 7 == 0, F.lit("*"))
        .otherwise(F.concat(F.lit("agent-"), ((F.col("user_id") + 1) % 5).cast("string")))
        .alias("to_agent"),
        F.when(F.col("event_id") % 4 == 0, "task")
        .when(F.col("event_id") % 4 == 1, "result")
        .when(F.col("event_id") % 4 == 2, "query")
        .otherwise("status")
        .alias("type"),
        F.col("props").alias("payload"),
        F.col("ts"),
    )


MESSAGES_SQL = """
messages AS (
    SELECT
        event_id AS msg_id,
        'agent-' || (user_id % 5)::VARCHAR AS from_agent,
        CASE WHEN event_id % 7 = 0 THEN '*'
             ELSE 'agent-' || ((user_id + 1) % 5)::VARCHAR END AS to_agent,
        CASE event_id % 4 WHEN 0 THEN 'task' WHEN 1 THEN 'result'
                          WHEN 2 THEN 'query' ELSE 'status' END AS type,
        props AS payload,
        ts
    FROM events
)
"""


# ── feedback ──────────────────────────────────────────────────────────────

def feedback_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.select(
        F.col("event_id").alias("fb_id"),
        F.concat(F.lit("agent-"), (F.col("user_id") % 5).cast("string")).alias("agent_id"),
        F.concat(F.col("event_type"), F.lit(" "), F.col("user_id").cast("string")).alias("query"),
        F.when(F.col("event_id") % 4 == 0, "vector")
        .when(F.col("event_id") % 4 == 1, "tree")
        .when(F.col("event_id") % 4 == 2, "keyword")
        .otherwise("hybrid")
        .alias("strategy"),
        ((F.col("event_id") % 101) / 100.0).alias("quality"),
        F.col("ts"),
    )


FEEDBACK_SQL = """
feedback AS (
    SELECT
        event_id AS fb_id,
        'agent-' || (user_id % 5)::VARCHAR AS agent_id,
        event_type || ' ' || user_id::VARCHAR AS query,
        CASE event_id % 4 WHEN 0 THEN 'vector' WHEN 1 THEN 'tree'
                          WHEN 2 THEN 'keyword' ELSE 'hybrid' END AS strategy,
        (event_id % 101) / 100.0 AS quality,
        ts
    FROM events
)
"""


# ── skills ────────────────────────────────────────────────────────────────

SKILL_ROWS = [
    ("skill-00", "scan-tuner", ["table", "scan", "filter"], 0.0, 0),
    ("skill-01", "join-planner", ["join", "merge", "hash"], 0.1, 1),
    ("skill-02", "window-writer", ["window", "row", "order"], 0.2, 2),
    ("skill-03", "stream-fixer", ["stream", "batch", "spark"], 0.3, 3),
    ("skill-04", "sort-helper", ["sort", "order", "key"], 0.4, 4),
    ("skill-05", "agg-builder", ["agg", "group", "sum"], 0.5, 5),
    ("skill-06", "query-critic", ["query", "slow", "fast"], 0.6, 6),
    ("skill-07", "row-counter", ["row", "line", "data"], 0.7, 7),
    ("skill-08", "cust-mapper", ["customer", "part", "value"], 0.8, 8),
    ("skill-09", "big-mover", ["big", "small", "data"], 0.9, 9),
]


def skills_df(spark: SparkSession, sf_dir: str = "") -> DataFrame:
    return spark.createDataFrame(
        SKILL_ROWS,
        "skill_id: string, name: string, trigger_keywords: array<string>, "
        "success_rate: double, use_count: int",
    )


SKILLS_SQL = """
skills AS (
    SELECT * FROM (VALUES
        ('skill-00', 'scan-tuner',    ['table', 'scan', 'filter'],    0.0, 0),
        ('skill-01', 'join-planner',  ['join', 'merge', 'hash'],      0.1, 1),
        ('skill-02', 'window-writer', ['window', 'row', 'order'],     0.2, 2),
        ('skill-03', 'stream-fixer',  ['stream', 'batch', 'spark'],   0.3, 3),
        ('skill-04', 'sort-helper',   ['sort', 'order', 'key'],       0.4, 4),
        ('skill-05', 'agg-builder',   ['agg', 'group', 'sum'],        0.5, 5),
        ('skill-06', 'query-critic',  ['query', 'slow', 'fast'],      0.6, 6),
        ('skill-07', 'row-counter',   ['row', 'line', 'data'],        0.7, 7),
        ('skill-08', 'cust-mapper',   ['customer', 'part', 'value'],  0.8, 8),
        ('skill-09', 'big-mover',     ['big', 'small', 'data'],       0.9, 9)
    ) AS t(skill_id, name, trigger_keywords, success_rate, use_count)
)
"""

# ── triples (knowledge graph; RecursiveLearningEngine.js:538-547) ─────────

def triples_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return d.select(
        F.col("doc_id"),
        toks.getItem(0).alias("subject"),
        F.lit("covers").alias("predicate"),
        toks.getItem(1).alias("object"),
        (0.5 + (F.col("doc_id") % 5) / 10.0).alias("confidence"),
        F.col("source"),
    )


TRIPLES_SQL = """
triples AS (
    SELECT
        doc_id,
        string_split(text, ' ')[1] AS subject,
        'covers' AS predicate,
        string_split(text, ' ')[2] AS object,
        0.5 + (doc_id % 5) / 10.0 AS confidence,
        source
    FROM documents
)
"""
