"""Skew-safe join utilities.

A hot key (one user, one host, one null-ish default) can put an entire
shuffle partition on one executor and stall a 1000-executor join at 99%.
Spark's AQE skew-join (spark.sql.adaptive.skewJoin.enabled, on in this
repo's sessions) splits oversized partitions at runtime; `salted_join` is
the PLAN-LEVEL form of the same idea for when you know the skew up front
or need it on a non-AQE path: the big side's key gains a deterministic
salt in [0, S), the small side is replicated S× via explode, and the join
runs on (key, salt) — the hot key's rows spread across S partitions.

The result set is salt-INVARIANT (every salted big row still meets every
replica of its key's small rows exactly once), which is what the
`salted_join_demo` oracle attests: the salted plan hash-matches a plain
SQL join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fusionspark.operators.dedup import md5_hash32


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_source: Column,
    n_salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join `big ⋈ small` on `key` with the big side salted by
    md5(salt_source) mod n_salt (pass a per-row column, e.g. the row id,
    so a hot key's rows spread evenly and deterministically).  The small
    side is exploded n_salt× — keep it broadcast-small × n_salt."""
    big_s = big.withColumn("_salt", F.pmod(md5_hash32(salt_source.cast("string")), F.lit(n_salt)))
    small_s = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    out = big_s.join(small_s, [key, "_salt"], how)
    return out.drop("_salt")

