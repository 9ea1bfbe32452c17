"""Manifest-commit table (storage/manifest.py): snapshot isolation,
concurrent writers, copy-on-write deletes, reclaim at commit, vacuum — the
VERDICT r2 'ACID table semantics' item."""

from __future__ import annotations

import os
import threading

from pyspark.sql import functions as F

from fusionspark.storage import ManifestTable

SCHEMA = "id string, v long"


def _rows(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").cast("string").alias("id"), F.col("id").alias("v")
    )


def _assert_one_version(t: ManifestTable) -> None:
    """On disk: the latest manifest alone, and exactly the data files it
    lists (each txn dir holds one of them; .crc siblings and _SUCCESS
    markers aside)."""
    assert os.listdir(t._manifest_dir) == [f"v{t.version():012d}.json"]
    listed = set(t._manifest(t.version())["files"])
    on_disk = {
        os.path.relpath(os.path.join(d, n), t.path)
        for d, _dirs, names in os.walk(t._data_dir)
        for n in names if n.endswith(".parquet") and not n.startswith(".")
    }
    assert on_disk == listed
    assert {os.path.dirname(f) for f in listed} == {
        os.path.relpath(os.path.join(t._data_dir, d), t.path)
        for d in os.listdir(t._data_dir)
    }


def test_append_read_keeps_one_version(spark, tmp_path):
    t = ManifestTable.create(spark, str(tmp_path / "t"), SCHEMA)
    assert t.version() == 0 and t.read().count() == 0

    assert t.append(_rows(spark, 0, 10)) == (1, 10)
    assert t.append(_rows(spark, 10, 30)) == (2, 20)
    assert t.read().count() == 30
    assert t._manifest(2)["op"] == "append"
    _assert_one_version(t)


def test_concurrent_appends_no_lost_updates(spark, tmp_path):
    """Racing writers: every append must land exactly once (losers of the
    atomic manifest-create retry on top of the winner's snapshot)."""
    t = ManifestTable.create(spark, str(tmp_path / "t"), SCHEMA)
    n_writers, per = 6, 5
    errs = []

    def write(i):
        try:
            ManifestTable(spark, str(tmp_path / "t")).append(
                _rows(spark, i * per, (i + 1) * per)
            )
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=write, args=(i,)) for i in range(n_writers)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()

    assert not errs
    assert t.version() == n_writers
    got = sorted(int(r["id"]) for r in t.read().collect())
    assert got == list(range(n_writers * per))


def test_delete_where_is_file_level_cow(spark, tmp_path):
    """A selective delete rewrites ONLY the files containing hits; the
    other appends' files carry over by reference (same relative paths)."""
    t = ManifestTable.create(spark, str(tmp_path / "t"), SCHEMA)
    for i in range(4):
        t.append(_rows(spark, i * 100, (i + 1) * 100))
    before = set(t._manifest(t.version())["files"])

    t.delete_where(F.col("v") < 100)  # hits only the first append's files
    after = set(t._manifest(t.version())["files"])

    assert t.read().count() == 300
    assert sorted(int(r["v"]) for r in t.read().collect()) == list(range(100, 400))
    carried = before & after
    # 3 of 4 appends untouched: their files survive by reference
    assert len(carried) >= len(before) * 3 // 4
    # no-hit delete commits a no-op version without touching files
    v = t.delete_where(F.col("v") > 10_000)
    assert set(t._manifest(v)["files"]) == after


def test_overwrite_and_vacuum(spark, tmp_path):
    t = ManifestTable.create(spark, str(tmp_path / "t"), SCHEMA)
    t.append(_rows(spark, 0, 50))
    t.overwrite(_rows(spark, 1000, 1010))
    assert sorted(int(r["v"]) for r in t.read().collect()) == list(range(1000, 1010))
    _assert_one_version(t)  # the overwrite reclaimed the append's files

    # a writer that staged files and died: default retention spares them
    # (YOUNG files could belong to an in-flight writer about to commit)
    staged, _n = t._stage(_rows(spark, 0, 5))
    assert t.vacuum() == 0
    assert t.vacuum(retain_seconds=0) == len(staged)
    assert t.read().count() == 10  # latest snapshot intact
    _assert_one_version(t)


def test_delete_where_keeps_null_predicate_rows(spark, tmp_path):
    """DELETE keeps every row the predicate is NOT TRUE for: a row where
    the predicate evaluates to NULL must survive even when it lives in a
    file that is rewritten for co-located true-matching rows (ADVICE r3:
    filter(~predicate) alone drops NULL rows from the survivors)."""
    t = ManifestTable.create(spark, str(tmp_path / "t"), SCHEMA)
    df = spark.createDataFrame(
        [("a", 1), ("b", None), ("c", 200)], "id string, v long"
    ).coalesce(1)  # one file → the NULL row is co-located with the hit
    t.append(df)

    t.delete_where(F.col("v") < 100)  # NULL < 100 is NULL, not a hit

    kept = sorted(r["id"] for r in t.read().collect())
    assert kept == ["b", "c"]


def test_upsert_is_one_atomic_commit(spark, tmp_path):
    """upsert = copy-on-write removal + append in ONE manifest version: no
    window where the id is missing, and the history shows a single 'upsert'
    op rather than delete+append."""
    t = ManifestTable.create(spark, str(tmp_path / "t"), SCHEMA)
    t.append(_rows(spark, 0, 10))
    v_before = t.version()

    new = spark.createDataFrame([("5", 500), ("99", 99)], SCHEMA)
    v = t.upsert(new, F.col("id").isin(["5", "99"]))

    assert v == v_before + 1  # exactly one commit
    assert t._manifest(v)["op"] == "upsert"
    got = {r["id"]: r["v"] for r in t.read().collect()}
    assert got["5"] == 500 and got["99"] == 99
    assert len(got) == 11  # 10 originals − 1 replaced + 1 new


def test_engine_manifest_storage_end_to_end(spark, tmp_path):
    """FusionSparkEngine: insert / search / delete / forget commit new
    manifest versions, each reclaiming what it replaced."""
    from fusionspark.engine import CollectionConfig, FusionSparkEngine

    eng = FusionSparkEngine(spark, str(tmp_path / "eng"))
    eng.create_collection("docs", CollectionConfig(dimensions=8))
    eng.insert(
        "docs",
        [
            {"id": f"d{i}", "vector": [float(i)] * 8, "content": f"doc {i}",
             "tenant_id": "a" if i % 2 else "b"}
            for i in range(10)
        ],
    )
    assert eng._load("docs").count() == 10

    hits = eng.search("docs", query_vector=[1.0] * 8, top_k=3)
    assert len(hits) == 3

    eng.delete("docs", ["d0", "d1"])
    assert eng._load("docs").count() == 8
    # tenant-scoped delete keeps the other tenant's row with a listed id
    eng.delete("docs", ["d2", "d3"], tenant_id="a")
    ids = {r["id"] for r in eng._load("docs").collect()}
    assert "d3" not in ids and "d2" in ids

    eng.remember("agent-1", "likes spark", importance=0.9)
    eng.remember("agent-2", "likes duckdb", importance=0.9)
    eng.forget("agent-1")
    mem = eng._load("_memory_episodic")
    assert mem.filter(F.col("tenant_id") == "agent-1").count() == 0
    assert mem.filter(F.col("tenant_id") == "agent-2").count() == 1

    t = eng._table("docs")
    assert t.version() >= 3
    _assert_one_version(t)
    assert eng.vacuum("docs") == 0  # nothing left behind
    assert eng._load("docs").count() == 7  # latest snapshot intact post-vacuum


def test_manifest_random_op_sequences_match_model(spark, tmp_path):
    """Model check: any sequence of append/overwrite/delete_where/vacuum
    leaves the table equal to a plain in-memory model of the same ops, on
    disk as one version."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    ops = st.lists(
        st.one_of(
            st.tuples(st.just("append"), st.integers(0, 3)),
            st.tuples(st.just("overwrite"), st.integers(0, 3)),
            st.tuples(st.just("delete_lt"), st.integers(0, 400)),
            st.tuples(st.just("vacuum"), st.just(0)),
        ),
        min_size=1, max_size=5,
    )
    counter = {"n": 0}

    @given(seq=ops)
    @settings(
        max_examples=6, deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def run(seq):
        counter["n"] += 1
        path = str(tmp_path / f"t{counter['n']}")
        t = ManifestTable.create(spark, path, SCHEMA)
        model: set[int] = set()
        block = 0
        for op, arg in seq:
            if op == "append":
                lo = 1000 * block + 100 * arg
                t.append(_rows(spark, lo, lo + 20))
                model |= set(range(lo, lo + 20))
                block += 1
            elif op == "overwrite":
                lo = 1000 * block + 100 * arg
                t.overwrite(_rows(spark, lo, lo + 20))
                model = set(range(lo, lo + 20))
                block += 1
            elif op == "delete_lt":
                t.delete_where(F.col("v") < arg)
                model = {v for v in model if not v < arg}
            else:
                t.vacuum()
        assert {int(r["v"]) for r in t.read().collect()} == model
        _assert_one_version(t)

    run()


def test_compact_collapses_small_files(spark, tmp_path):
    """OPTIMIZE: many per-transaction small files → one right-sized file,
    same rows, committed as a version that reclaims the olds."""
    t = ManifestTable.create(spark, str(tmp_path / "t"), SCHEMA)
    for i in range(5):
        t.append(_rows(spark, i * 10, (i + 1) * 10))
    n_before = len(t._manifest(t.version())["files"])
    assert n_before >= 5

    v = t.compact(target_file_rows=1000)
    m = t._manifest(v)
    assert m["op"] == "compact" and m["rows"] == 50
    assert len(m["files"]) == 1
    assert sorted(int(r["v"]) for r in t.read().collect()) == list(range(50))
    _assert_one_version(t)
    assert t.vacuum(retain_seconds=0) == 0


def test_compact_cluster_by_gives_file_skipping_ranges(spark, tmp_path):
    """Range-clustered compaction: each output file covers a disjoint value
    range (parquet min/max stats skip files on point/range filters)."""
    import pyarrow.parquet as pq

    t = ManifestTable.create(spark, str(tmp_path / "t"), SCHEMA)
    # interleaved appends so pre-compact files all span the full range
    for i in range(4):
        t.append(_rows(spark, i, 400 + i).filter((F.col("v") % 4) == i))
    v = t.compact(target_file_rows=100, cluster_by=["v"])
    m = t._manifest(v)
    assert m["op"] == "compact" and len(m["files"]) >= 3

    ranges = []
    for rel in m["files"]:
        md = pq.read_metadata(f"{t.path}/{rel}")
        vi = [c for c in range(md.num_columns)
              if md.schema.column(c).name == "v"][0]
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(vi).statistics
            mins.append(st.min); maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    # disjoint, ordered coverage: every file's max < next file's min
    assert all(a_max < b_min for (_, a_max), (b_min, _) in zip(ranges, ranges[1:]))
    assert t.read().count() == 400


def test_compact_racing_appends_lose_no_rows(spark, tmp_path):
    """The compact docstring's race claim, exercised: appends running
    concurrently with a compaction all survive — whichever commit wins a
    version, the loser retries onto the winner's snapshot."""
    import threading

    t = ManifestTable.create(spark, str(tmp_path / "t"), SCHEMA)
    for i in range(4):
        t.append(_rows(spark, i * 10, (i + 1) * 10))
    errs = []
    compacted = []

    def appender(i):
        try:
            ManifestTable(spark, str(tmp_path / "t")).append(
                _rows(spark, 1000 + i * 10, 1000 + (i + 1) * 10)
            )
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    def compactor():
        try:
            compacted.append(
                ManifestTable(spark, str(tmp_path / "t")).compact(target_file_rows=1000))
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=appender, args=(i,)) for i in range(3)]
    threads.append(threading.Thread(target=compactor))
    for th in threads:
        th.start()
    for th in threads:
        th.join()

    assert not errs
    got = sorted(int(r["v"]) for r in t.read().collect())
    assert got == list(range(40)) + list(range(1000, 1030))
    assert compacted and compacted[0] <= t.version()
    t.vacuum(retain_seconds=0)  # a lost compact attempt's staging
    _assert_one_version(t)


def test_racing_tables_delete_and_upsert_over_shared_files(spark, tmp_path):
    """Two ManifestTable objects on one path race delete_where and upsert
    over the same files: each commit reclaims files the other may be
    reading, and the loser retries over the new version.  Neither raises,
    and the table equals the model of both op sequences (the ids they
    touch are disjoint, so any interleaving ends the same)."""
    path = str(tmp_path / "t")
    t = ManifestTable.create(spark, path, SCHEMA)
    for lo in (0, 20):  # two files, each holding rows both writers touch
        t.append(_rows(spark, lo, lo + 20).coalesce(1))
    model = {str(i): i for i in range(40)}
    deletes = [list(range(lo, 40, 8)) for lo in range(4)]
    upserts = [[str(i) for i in range(lo, 40, 8)] + [f"n{lo}"] for lo in range(4, 8)]
    for ids in deletes:
        for i in ids:
            model.pop(str(i))
    for ids in upserts:
        model.update({i: 1000 + len(i) for i in ids})
    errs = []

    def deleter():
        mt = ManifestTable(spark, path)
        try:
            for ids in deletes:
                mt.delete_where(F.col("v").isin(ids))
        except Exception as e:  # noqa: BLE001 — reported by the assert
            errs.append(e)

    def upserter():
        mt = ManifestTable(spark, path)
        try:
            for ids in upserts:
                df = spark.createDataFrame([(i, 1000 + len(i)) for i in ids], SCHEMA)
                mt.upsert(df.coalesce(1), F.col("id").isin(ids))
        except Exception as e:  # noqa: BLE001 — reported by the assert
            errs.append(e)

    threads = [threading.Thread(target=deleter), threading.Thread(target=upserter)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=600)
    assert errs == []
    assert {r["id"]: r["v"] for r in t.read().collect()} == model
    assert t.version() == 2 + len(deletes) + len(upserts)
    assert t.vacuum(retain_seconds=0) >= 0  # a lost attempt's staging, if any
    _assert_one_version(t)


def test_crash_between_commit_and_reclaim(spark, tmp_path, monkeypatch):
    """A writer that dies after linking its manifest and before reclaiming
    leaves garbage, never a wrong read: a new engine reads the committed
    state, and vacuum(retain_seconds=0) removes the leftovers."""
    from fusionspark.engine import CollectionConfig, FusionSparkEngine

    root = str(tmp_path / "eng")
    eng = FusionSparkEngine(spark, root)
    eng.create_collection("c", CollectionConfig(dimensions=2))
    eng.insert("c", [{"id": i, "vector": [1.0, float(n)]}
                     for n, i in enumerate("abc")])

    def crash(*_a, **_k):
        raise RuntimeError("crash after the manifest link")

    monkeypatch.setattr(ManifestTable, "_reclaim", crash)
    try:
        eng.insert("c", [{"id": "a", "vector": [0.0, 9.0]}])  # replaces a's file
    except RuntimeError:
        pass
    else:
        raise AssertionError("the injected crash did not fire")
    monkeypatch.undo()

    fresh = FusionSparkEngine(spark, root)
    rows = {r["id"]: list(r["vector"]) for r in fresh._load("c").collect()}
    assert rows == {"a": [0.0, 9.0], "b": [1.0, 1.0], "c": [1.0, 2.0]}
    assert fresh.search("c", query_vector=[0.0, 1.0], top_k=1)[0]["id"] == "a"
    t = fresh._table("c")
    assert len(os.listdir(t._manifest_dir)) == 2  # the superseded one stayed
    assert t.vacuum(retain_seconds=0) >= 1
    _assert_one_version(t)
    assert {r["id"] for r in fresh._load("c").collect()} == set("abc")


def test_every_engine_write_leaves_one_version(spark, tmp_path):
    """After each engine write — insert, upsert, delete, remember, forget,
    ingest, import and optimize — the collection holds one manifest and
    only the data files it lists."""
    import json

    from fusionspark.engine import CollectionConfig, FusionSparkEngine

    eng = FusionSparkEngine(spark, str(tmp_path / "eng"))
    eng.create_collection("c", CollectionConfig(dimensions=2))
    jsonl = tmp_path / "rows.jsonl"
    jsonl.write_text("".join(
        json.dumps({"id": f"j{i}", "vector": [1.0, float(i)]}) + "\n" for i in range(3)))
    writes = [
        ("c", lambda: eng.insert("c", [{"id": "a", "vector": [1.0, 0.0]},
                                       {"id": "b", "vector": [0.0, 1.0]}])),
        ("c", lambda: eng.insert("c", [{"id": "n", "vector": [1.0, 1.0]}])),
        ("c", lambda: eng.insert("c", [{"id": "a", "vector": [2.0, 0.0]}])),
        ("c", lambda: eng.delete("c", ["b"])),
        ("c", lambda: eng.import_jsonl("c", str(jsonl), dimensions=2)),
        ("c", lambda: eng.optimize("c", target_file_rows=2)),
        ("_memory_episodic", lambda: eng.remember("a1", "alpha")),
        ("_memory_episodic", lambda: eng.remember("a2", "beta")),
        ("_memory_episodic", lambda: eng.forget("a1")),
        ("notes", lambda: eng.ingest("notes", "d0", "some words. " * 40)),
        ("notes", lambda: eng.ingest("notes", "d1", "other words. " * 40)),
    ]
    for coll, write in writes:
        write()
        _assert_one_version(eng._table(coll))
    assert {r["id"] for r in eng._load("c").collect()} == {"a", "n", "j0", "j1", "j2"}
