"""Declarative data-quality expectations (the Great-Expectations /
dbt-test shape): a rule suite compiled into ONE aggregate pass over the
table, plus a table-level uniqueness check that needs a distinct-count.
Every check returns the same summary row — (rule, n_rows, n_violations,
passed) — so suites compose by unionAll and land in one report.

Not in the reference (north-star addition): the reference validates
per-insert (dimension checks, Collection.js) but has no corpus-level
expectation audit; this is the batch gate a 100 TB ingest runs before
publishing a partition.

Scale shape: row-predicate rules fold into a single map-side aggregate
(one scan, zero shuffle, one tiny reduce); uniqueness is one
distinct-count shuffle on the key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SCHEMA = ("rule", "n_rows", "n_violations", "passed")


def _summarize(rule: str, n_rows: Column, n_violations: Column, df: DataFrame) -> DataFrame:
    return df.select(
        F.lit(rule).alias("rule"),
        n_rows.cast("long").alias("n_rows"),
        n_violations.cast("long").alias("n_violations"),
        (n_violations == 0).alias("passed"),
    )


def dq_check(df: DataFrame, rules: list[tuple[str, Column]]) -> DataFrame:
    """Row-predicate rules: each entry is (rule_name, VIOLATION condition).
    All rules fold into one aggregate over one scan."""
    if not rules:
        raise ValueError("empty rule list")
    aggs = [
        F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(f"v{i}")
        for i, (_, cond) in enumerate(rules)
    ]
    row = df.agg(F.count("*").cast("long").alias("n"), *aggs)
    # unpivot via explode(array(struct(...))) — rule names are DATA here,
    # never spliced into a SQL string (a quote in a name must not break
    # or re-shape the expression)
    pairs = F.array(
        *[
            F.struct(
                F.lit(name).alias("rule"),
                F.col(f"v{i}").alias("n_violations"),
            )
            for i, (name, _) in enumerate(rules)
        ]
    )
    long = row.select("n", F.explode(pairs).alias("kv"))
    return long.select(
        F.col("kv.rule").alias("rule"),
        F.col("n").alias("n_rows"),
        F.col("kv.n_violations").alias("n_violations"),
        (F.col("kv.n_violations") == 0).alias("passed"),
    )


def dq_unique(df: DataFrame, cols: list[str], rule: str) -> DataFrame:
    """Uniqueness of a (composite) key: violations = rows − distinct keys."""
    row = df.agg(
        F.count("*").cast("long").alias("n"),
        F.count_distinct(*[F.col(c) for c in cols]).cast("long").alias("d"),
    )
    return _summarize(rule, F.col("n"), F.col("n") - F.col("d"), row)


def dq_suite(parts: list[DataFrame]) -> DataFrame:
    """Union per-check reports into one (rule, n_rows, n_violations,
    passed) table."""
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out
