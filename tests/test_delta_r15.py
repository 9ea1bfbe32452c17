"""Round-15 Delta-reader hardening (VERDICT r14 #4 + ADVICE r14):

- date / timestamp partition-value round trips (Delta serializes
  partition values as strings; Spark Hive-escapes them in dir names);
- null + non-null partition values for the same column (None-safe
  group ordering in read_delta);
- multi-checkpoint logs (newest readable checkpoint <= V wins);
- classic multi-part checkpoints (all parts read; incomplete sets are
  not a usable anchor);
- the anchored-replay guard: a log-cleaned tail with no readable
  anchor raises instead of silently yielding a partial file set, and
  names the v2/uuid checkpoint when one would have covered the gap;
- the columnMapping metadata gate;
- attach_delta freshness: an unpinned (follow-latest) attach keys its
  resident/index caches on the resolved Delta version, so an external
  commit marks them stale; a pinned attach stays fresh.
"""

from __future__ import annotations

import datetime
import json
import os

import pytest
from pyspark.sql import functions as F

from fusionspark.storage.delta import (
    DeltaProtocolError,
    read_delta,
    resolve_snapshot,
    write_checkpoint,
    write_delta_table,
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )


def test_date_partition_roundtrip(spark, tmp_path):
    t = str(tmp_path / "dp")
    df = spark.range(0, 12).select(
        "id",
        F.date_add(F.lit("2024-01-01").cast("date"), (F.col("id") % 3).cast("int"))
        .alias("d"),
        (F.col("id") * 10).alias("v"),
    )
    write_delta_table(spark, df, t, partition_columns=["d"])
    out = read_delta(spark, t)
    assert dict(out.dtypes)["d"] == "date"
    got = {(r["id"], r["d"], r["v"]) for r in out.collect()}
    want = {
        (i, datetime.date(2024, 1, 1) + datetime.timedelta(days=i % 3), i * 10)
        for i in range(12)
    }
    assert got == want
    # the log stores the unescaped ISO string, no nulls post-cast
    snap = resolve_snapshot(spark, t)
    vals = {pv["d"] for pv in snap.files.values()}
    assert vals == {"2024-01-01", "2024-01-02", "2024-01-03"}


def test_timestamp_partition_roundtrip(spark, tmp_path):
    """Spark Hive-escapes ':' as %3A in partition dirs; the log must
    carry the unescaped value and the cast must not null it out."""
    t = str(tmp_path / "tsp")
    df = spark.range(0, 8).select(
        "id",
        (F.lit("2024-03-05 10:00:00").cast("timestamp")
         + F.make_interval(hours=(F.col("id") % 2).cast("int"))).alias("ts"),
    )
    write_delta_table(spark, df, t, partition_columns=["ts"])
    snap = resolve_snapshot(spark, t)
    vals = {pv["ts"] for pv in snap.files.values()}
    assert all("%3A" not in v and ":" in v for v in vals), vals
    out = read_delta(spark, t)
    assert dict(out.dtypes)["ts"] == "timestamp"
    got = {(r["id"], r["ts"]) for r in out.collect()}
    want = {
        (i, datetime.datetime(2024, 3, 5, 10 + i % 2, 0, 0)) for i in range(8)
    }
    assert got == want


def test_null_partition_value_sorts_safely(spark, tmp_path):
    """A null partition value next to non-null ones must not TypeError
    in the group ordering (ADVICE r14) and must round-trip as NULL."""
    t = str(tmp_path / "np")
    df = spark.range(0, 9).select(
        "id",
        F.when(F.col("id") % 3 == 0, F.lit(None)).otherwise(
            F.concat(F.lit("g"), (F.col("id") % 3).cast("string"))
        ).alias("grp"),
        (F.col("id") + 100).alias("v"),
    )
    write_delta_table(spark, df, t, partition_columns=["grp"])
    out = read_delta(spark, t)
    got = {(r["id"], r["grp"], r["v"]) for r in out.collect()}
    want = {
        (i, None if i % 3 == 0 else f"g{i % 3}", i + 100) for i in range(9)
    }
    assert got == want


def test_multi_checkpoint_replay(spark, tmp_path):
    """Two checkpoints + later commits: the newest checkpoint <= V
    anchors, and time travel to a version between them uses the older
    one (VERDICT r14 #4)."""
    t = str(tmp_path / "mc")
    write_delta_table(spark, _df(spark, 0, 5), t)          # v0
    write_delta_table(spark, _df(spark, 5, 10), t, mode="append")  # v1
    write_checkpoint(spark, t)                              # ckpt @1
    write_delta_table(spark, _df(spark, 10, 15), t, mode="append")  # v2
    write_delta_table(spark, _df(spark, 15, 20), t, mode="append")  # v3
    write_checkpoint(spark, t)                              # ckpt @3
    write_delta_table(spark, _df(spark, 20, 22), t, mode="append")  # v4
    assert sorted(r["id"] for r in read_delta(spark, t).collect()) == list(
        range(22)
    )
    assert sorted(
        r["id"] for r in read_delta(spark, t, version=2).collect()
    ) == list(range(15))
    # delete the JSON commits the newest checkpoint covers — the replay
    # still anchors (checkpoint state + v4 tail)
    for v in range(0, 4):
        os.remove(os.path.join(t, "_delta_log", f"{v:020d}.json"))
    assert sorted(r["id"] for r in read_delta(spark, t).collect()) == list(
        range(22)
    )
    # ...but a version BELOW the surviving anchor is honestly gone
    with pytest.raises(ValueError):
        read_delta(spark, t, version=2)


def test_multipart_checkpoint_reads_all_parts(spark, tmp_path):
    """A classic multi-part checkpoint (v.checkpoint.i.n.parquet) is a
    readable anchor only when every part is present."""
    import pyarrow.parquet as pq

    t = str(tmp_path / "mp")
    write_delta_table(spark, _df(spark, 0, 10), t)          # v0
    write_delta_table(spark, _df(spark, 10, 20), t, mode="append")  # v1
    ckv = write_checkpoint(spark, t)
    log = os.path.join(t, "_delta_log")
    single = os.path.join(log, f"{ckv:020d}.checkpoint.parquet")
    tbl = pq.read_table(single)
    n = tbl.num_rows
    assert n >= 2
    p1 = os.path.join(log, f"{ckv:020d}.checkpoint.{1:010d}.{2:010d}.parquet")
    p2 = os.path.join(log, f"{ckv:020d}.checkpoint.{2:010d}.{2:010d}.parquet")
    pq.write_table(tbl.slice(0, n // 2), p1)
    pq.write_table(tbl.slice(n // 2), p2)
    os.remove(single)
    # log-clean the commits the checkpoint covers: the multi-part set is
    # now the only anchor
    for v in range(0, ckv + 1):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    write_delta_table(spark, _df(spark, 20, 25), t, mode="append")
    assert sorted(r["id"] for r in read_delta(spark, t).collect()) == list(
        range(25)
    )
    # an INCOMPLETE part set must refuse, not replay an unanchored tail
    os.remove(p2)
    with pytest.raises(DeltaProtocolError, match="incomplete|v2"):
        read_delta(spark, t)


def test_unanchored_tail_refuses(spark, tmp_path):
    """Log-cleaned commit 0 with no checkpoint: replaying the tail would
    silently drop files — must raise (ADVICE r14)."""
    t = str(tmp_path / "ua")
    write_delta_table(spark, _df(spark, 0, 5), t)
    write_delta_table(spark, _df(spark, 5, 10), t, mode="append")
    write_delta_table(spark, _df(spark, 10, 15), t, mode="append")
    os.remove(os.path.join(t, "_delta_log", f"{0:020d}.json"))
    with pytest.raises(ValueError, match="incomplete"):
        read_delta(spark, t)


def test_v2_uuid_checkpoint_gate(spark, tmp_path):
    """When the only anchor covering a cleaned prefix is a v2/uuid
    checkpoint, the refusal names the unreadable checkpoint (its
    protocol action lives only there — the feature gate can't fire from
    the tail alone)."""
    t = str(tmp_path / "v2")
    write_delta_table(spark, _df(spark, 0, 5), t)            # v0
    write_delta_table(spark, _df(spark, 5, 10), t, mode="append")   # v1
    write_delta_table(spark, _df(spark, 10, 15), t, mode="append")  # v2
    log = os.path.join(t, "_delta_log")
    uuid_ck = os.path.join(
        log,
        f"{1:020d}.checkpoint.00000000-0000-0000-0000-000000000000.parquet",
    )
    with open(uuid_ck, "wb") as f:
        f.write(b"")  # never read — recognized by name only
    os.remove(os.path.join(log, f"{0:020d}.json"))
    os.remove(os.path.join(log, f"{1:020d}.json"))
    with pytest.raises(DeltaProtocolError, match="v2"):
        read_delta(spark, t)


def test_column_mapping_gate(spark, tmp_path):
    """delta.columnMapping.mode != none: physical parquet columns would
    not match the schema — refuse at metadata time, not with a
    confusing missing-column error later (ADVICE r14)."""
    t = str(tmp_path / "cm")
    write_delta_table(spark, _df(spark, 0, 5), t)
    snap = resolve_snapshot(spark, t)
    md = {
        "id": "x",
        "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps(snap.schema.jsonValue()),
        "partitionColumns": [],
        "configuration": {"delta.columnMapping.mode": "name"},
    }
    with open(os.path.join(t, "_delta_log", f"{1:020d}.json"), "w") as f:
        f.write(json.dumps({"metaData": md}) + "\n")
    with pytest.raises(DeltaProtocolError, match="columnMapping"):
        read_delta(spark, t)


def _engine_table_df(spark, lo, hi):
    from fusionspark.operators.embedder import mock_embed

    rows = [
        (str(i), [float(x) for x in mock_embed(f"doc {i}", 64)],
         f"doc {i}", {}, None, 0, 0)
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(
        rows,
        "id: string, vector: array<float>, content: string, "
        "metadata: map<string,string>, tenant_id: string, ts: long, "
        "ttl_ms: long",
    )


def test_attach_delta_freshness_follows_external_commits(spark, tmp_path):
    """Unpinned attach: resident caches go stale when the EXTERNAL
    writer commits (cfg['mutations'] never bumps for attached tables —
    freshness keys on the resolved Delta version, ADVICE r14).  Pinned
    attach stays fresh forever."""
    from fusionspark.engine import FusionSparkEngine

    t = str(tmp_path / "fresh")
    write_delta_table(spark, _engine_table_df(spark, 0, 12), t)
    eng = FusionSparkEngine(spark, str(tmp_path / "root"))
    eng.attach_delta("live", t)                  # follow latest
    eng.attach_delta("pin0", t, version=0)       # pinned
    eng.load_resident("live")
    eng.load_resident("pin0")
    assert eng._resident_fresh("live") is not None
    assert eng._resident_fresh("pin0") is not None

    # external commit: the unpinned resident cache must go stale...
    write_delta_table(
        spark, _engine_table_df(spark, 12, 16), t, mode="append"
    )
    assert eng._resident_fresh("live") is None
    # ...and the serve-many path refuses rather than serving the stale
    # snapshot
    probes = spark.createDataFrame(
        [("p", [0.0] * 64)], "id: string, vector: array<float>"
    )
    with pytest.raises(ValueError, match="stale or missing"):
        eng.search_many("live", probes, method="resident", approximate=False)
    # the pinned attach is unaffected
    assert eng._resident_fresh("pin0") is not None

    # rebuild picks up the new snapshot and is fresh again
    eng.load_resident("live")
    assert eng._resident_fresh("live") is not None
    # the exact path already sees the new rows (follow-latest read)
    sizes = {c["name"]: c["size"] for c in eng.list_collections()}
    assert sizes["live"] == 16 and sizes["pin0"] == 12
