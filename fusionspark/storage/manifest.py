"""Manifest-commit table: ACID mutations for concurrent writers, and the
one layout of every engine-owned collection.

SURVEY §1.3 maps the reference's mutation model (FusionEngine.js insert/
delete over in-memory Maps with a JSON autosave) to Delta-style MERGE /
DELETE at 100 TB; this module is that commit protocol without the Delta
dependency, in the shape Delta/Iceberg use:

  <path>/_manifests/v000000000042.json   ← snapshot 42 (atomic create)
  <path>/data/txn-<uuid>/part-*.parquet  ← immutable data files

* Data files are IMMUTABLE — a transaction stages new files under its own
  txn directory, never touching live ones.
* A snapshot is a JSON manifest listing the file set (paths relative to
  the table root) plus the schema; readers list `_manifests/`, take the
  highest version, and read exactly that file set — a half-written
  transaction is invisible because its manifest doesn't exist yet.
* Commit = atomic create-if-absent of v{N+1}.json (a hard link of a fully
  written temp file, made while N is the latest, under a flock that
  dropping old manifests also takes), so of two racing writers exactly
  one wins version N+1; the loser re-reads the new snapshot, re-applies
  its logical operation, and retries at N+2 (optimistic concurrency, like
  Delta's commit loop).  The flock needs one POSIX filesystem shared by
  every writer.
* `delete_where` is file-level copy-on-write: only files that actually
  contain matching rows (found via input_file_name()) are rewritten;
  a 100 TB table with a point delete rewrites one file, not the table.
* Reclaim at commit: once v{N+1} is linked, the writer deletes the data
  files N listed and N+1 does not, and every older manifest, so disk holds
  one version (no time travel).  A crash between the link and the
  deletions leaves garbage for `vacuum`, never a wrong read.  A writer in
  another process whose base version was reclaimed under it retries over
  the new version, as after a lost race; a reader there may fail loudly
  (missing file), never read a mix of versions.

Contract analogues: FusionEngine.js:175-241 (insert/delete),
Storage.js save/load (the reference's whole-file JSON swap — the
single-writer ancestor of this protocol).
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import shutil
import time
import uuid

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_MANIFEST_FMT = "v{:012d}.json"


class CommitConflict(RuntimeError):
    """Another writer committed the version this transaction targeted."""


class ManifestTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)
        self._manifest_dir = os.path.join(self.path, "_manifests")
        self._data_dir = os.path.join(self.path, "data")

    # ── snapshots ─────────────────────────────────────────────────────────

    @classmethod
    def create(
        cls, spark: SparkSession, path: str, schema: StructType | str
    ) -> "ManifestTable":
        """Initialize an empty table at `path` (version 0, no files)."""
        t = cls(spark, path)
        os.makedirs(t._manifest_dir, exist_ok=True)
        os.makedirs(t._data_dir, exist_ok=True)
        if isinstance(schema, str):
            schema = spark.createDataFrame([], schema).schema
        t._write_manifest(0, [], schema.jsonValue(), op="create", rows=0)
        return t

    def exists(self) -> bool:
        return bool(self._versions())

    def _versions(self) -> list[int]:
        return sorted(
            int(n[1:13]) for n in _listdir(self._manifest_dir)
            if n.startswith("v") and n.endswith(".json")
        )

    def version(self) -> int:
        vs = self._versions()
        if not vs:
            raise FileNotFoundError(f"no manifest at {self.path}")
        return vs[-1]

    def _manifest(self, version: int) -> dict:
        with open(
            os.path.join(self._manifest_dir, _MANIFEST_FMT.format(version))
        ) as f:
            return json.load(f)

    # ── read ──────────────────────────────────────────────────────────────

    def read(self) -> DataFrame:
        """DataFrame over exactly the latest snapshot's file set.
        Missing-at-commit-time transactions are invisible by construction."""
        m = self._manifest(self.version())
        files = [os.path.join(self.path, p) for p in m["files"]]
        schema = StructType.fromJson(m["schema"])
        if not files:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(*files)

    # ── commit protocol ───────────────────────────────────────────────────

    def _write_manifest(
        self,
        version: int,
        files: list[str],
        schema_json: dict,
        op: str,
        rows: int,
    ) -> None:
        """Atomic create-if-absent of v{version}.json — the commit point."""
        payload = json.dumps(
            {
                "version": version,
                "parent": version - 1 if version else None,
                "files": sorted(files),
                "schema": schema_json,
                "op": op,
                "rows": rows,
                "ts_ms": int(time.time() * 1000),
            }
        )
        target = os.path.join(self._manifest_dir, _MANIFEST_FMT.format(version))
        # Two-phase visibility: the payload is fully written + fsynced into
        # a hidden temp file (the "." prefix keeps it out of _versions()),
        # then LINKED to the version name — os.link is atomic AND fails
        # with FileExistsError if the version exists, and a concurrent
        # reader never observes a visible-yet-empty manifest (which an
        # O_EXCL create followed by the write would show it).
        tmp = os.path.join(
            self._manifest_dir, f".tmp-{uuid.uuid4().hex}-v{version}.json"
        )
        fd = os.open(tmp, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        with os.fdopen(fd, "w") as f:
            f.write(payload)
            f.flush()
            os.fsync(f.fileno())
        try:
            # under the lock no manifest is dropped, so a version that was
            # committed and then reclaimed still shows as a later latest
            with self._manifest_lock():
                if self._versions()[-1:] != ([version - 1] if version else []):
                    raise CommitConflict(f"version {version} already committed")
                os.link(tmp, target)
        except FileExistsError as e:
            raise CommitConflict(f"version {version} already committed") from e
        finally:
            os.unlink(tmp)

    @contextlib.contextmanager
    def _manifest_lock(self):
        """Exclusive flock on `_manifests/` across threads and processes,
        held to link a version or drop old ones: without it a writer whose
        base was reclaimed could recreate a dropped version name."""
        fd = os.open(self._manifest_dir, os.O_RDONLY)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            os.close(fd)

    def _stage(self, df: DataFrame) -> tuple[list[str], int]:
        """Write df's rows as immutable zstd files under a fresh txn dir;
        returns (relative file paths, row count from their footers).
        Nothing is live until a manifest references these files."""
        txn = os.path.join(self._data_dir, f"txn-{uuid.uuid4().hex}")
        df.write.mode("errorifexists").option("compression", "zstd").parquet(txn)
        files = [os.path.join(txn, n) for n in os.listdir(txn) if n.endswith(".parquet")]
        n = sum(pq.read_metadata(f).num_rows for f in files)
        return [os.path.relpath(f, self.path) for f in files], n

    def _commit_loop(self, apply_fn, op: str, max_retries: int = 20) -> int:
        """Optimistic-concurrency commit: apply_fn(snapshot_manifest) →
        (files, rows) for the NEXT version; on a lost race, re-read the
        winner's snapshot and re-apply.  A failed apply whose base version
        moved meanwhile (the winner reclaimed the base's manifest or files)
        is a lost race too.  Returns the committed version."""
        for _ in range(max_retries):
            base = self.version()
            try:
                m = self._manifest(base)
                files, rows = apply_fn(m)
            except Exception:
                if self.version() != base:
                    continue
                raise
            try:
                self._write_manifest(base + 1, files, m["schema"], op, rows)
            except CommitConflict:
                continue
            self._reclaim(m["files"], files, base + 1)
            return base + 1
        raise CommitConflict(f"lost {max_retries} commit races on {self.path}")

    def _reclaim(self, old: list[str], new: list[str], version: int) -> None:
        """After v{version} is linked: delete the data files `old` listed and
        `new` does not, and every manifest older than `version`."""
        self._remove_files(set(old) - set(new))
        self._drop_manifests_before(version)

    def _drop_manifests_before(self, version: int) -> None:
        with self._manifest_lock():
            for v in self._versions():
                if v < version:
                    _unlink(os.path.join(self._manifest_dir, _MANIFEST_FMT.format(v)))

    def _remove_files(self, rels) -> None:
        """Delete data files with their .crc siblings, then any txn dir that
        no longer holds a data file."""
        dirs = set()
        for rel in rels:
            d, name = os.path.split(os.path.join(self.path, rel))
            _unlink(os.path.join(d, name))
            _unlink(os.path.join(d, f".{name}.crc"))
            dirs.add(d)
        for d in dirs:
            if not any(n.endswith(".parquet") for n in _listdir(d)):
                shutil.rmtree(d, ignore_errors=True)

    # ── mutations ─────────────────────────────────────────────────────────

    def append(self, df: DataFrame) -> tuple[int, int]:
        """Append rows; returns (committed version, rows appended).
        Concurrent appends all land (no lost updates) — staged files are
        snapshot-independent, so a lost race retries the manifest write
        alone, not the data write."""
        new_files, n = self._stage(df)
        v = self._commit_loop(
            lambda m: (list(m["files"]) + new_files, n), op="append"
        )
        return v, n

    def overwrite(self, df: DataFrame) -> int:
        """Replace the table's content atomically (readers see old or new,
        never a mix)."""
        new_files, n = self._stage(df)
        return self._commit_loop(lambda m: (new_files, n), op="overwrite")

    def _cow_rewrite(
        self, m: dict, predicate: Column
    ) -> tuple[list[str], list[str], int]:
        """Copy-on-write core shared by delete_where/upsert: find the files
        that contain predicate-TRUE rows and restage them WITHOUT those
        rows.  DELETE semantics keep every row the predicate is not true
        for — rows where it evaluates to NULL survive (three-valued logic:
        `~predicate` alone would drop them), hence the coalesce.  Returns
        (untouched files, restaged survivor files, survivor row count)."""
        files = list(m["files"])
        if not files:
            return files, [], 0
        is_hit = F.coalesce(predicate, F.lit(False))
        full = {os.path.join(self.path, p): p for p in files}
        df = self.spark.read.schema(StructType.fromJson(m["schema"])).parquet(*full)
        hit_files = [
            _strip_scheme(r["f"])
            for r in df.filter(is_hit)
            .select(F.input_file_name().alias("f"))
            .distinct()
            .collect()
        ]
        hit_rel = {full[h] for h in hit_files if h in full}
        if not hit_rel:
            return files, [], 0
        survivors = self.spark.read.schema(
            StructType.fromJson(m["schema"])
        ).parquet(*(os.path.join(self.path, p) for p in sorted(hit_rel)))
        kept_files, kept_rows = self._stage(survivors.filter(~is_hit))
        return [p for p in files if p not in hit_rel], kept_files, kept_rows

    def delete_where(self, predicate: Column) -> int:
        """File-level copy-on-write DELETE: rewrite ONLY the files that
        contain matching rows; untouched files carry over by reference.
        Must re-run discovery after a lost race (the new snapshot may have
        replaced files), so the whole operation sits inside the retry
        loop."""

        def apply(m: dict) -> tuple[list[str], int]:
            untouched, kept_files, kept_rows = self._cow_rewrite(m, predicate)
            if not kept_files and untouched == list(m["files"]):
                return untouched, 0
            return untouched + kept_files, kept_rows

        return self._commit_loop(apply, op="delete")

    def upsert(self, df: DataFrame, predicate: Column) -> int:
        """MERGE-lite in ONE atomic commit: remove the rows matching
        `predicate` (file-level copy-on-write, like delete_where) and add
        `df`'s rows.  Readers never observe the intermediate state a
        delete-then-append exposes (id briefly missing), a crash cannot
        lose the old row without the new one landing, and two racing
        upserts of the same id serialize through the commit loop instead
        of interleaving into duplicates."""
        new_files, n_new = self._stage(df)

        def apply(m: dict) -> tuple[list[str], int]:
            untouched, kept_files, _kept = self._cow_rewrite(m, predicate)
            return untouched + kept_files + new_files, n_new

        return self._commit_loop(apply, op="upsert")

    # ── maintenance ───────────────────────────────────────────────────────

    def compact(
        self,
        target_file_rows: int = 1_000_000,
        cluster_by: list[str] | None = None,
    ) -> int:
        """OPTIMIZE: rewrite the current snapshot into
        ⌈rows / target_file_rows⌉ right-sized files and commit the new file
        set as one version (op='compact').  Append-heavy tables accumulate
        one small file per transaction — the classic small-files problem —
        and scans pay per-file open cost; compaction is the Delta OPTIMIZE
        answer, here just another optimistic commit (a racing append either
        lands before the compact's manifest, forcing a retry over the new
        snapshot, or after, on top of the compacted set — rows are never
        lost either way).  Returns the committed version.

        cluster_by: range-cluster the rewrite on these columns
        (repartitionByRange + sortWithinPartitions) so each output file
        covers a narrow value range — parquet row-group min/max stats then
        let a point/range filter skip whole files (Z-ORDER-lite; one
        dimension fully ordered, the rest sorted within)."""

        def apply(m: dict) -> tuple[list[str], int]:
            files = list(m["files"])
            if len(files) <= 1 and not cluster_by:
                return files, m.get("rows", 0)
            df = self.spark.read.schema(StructType.fromJson(m["schema"])).parquet(
                *(os.path.join(self.path, p) for p in files)
            )
            n = df.count()
            k = max(1, -(-n // target_file_rows))
            if cluster_by:
                df = df.repartitionByRange(k, *cluster_by).sortWithinPartitions(
                    *cluster_by
                )
            else:
                df = df.repartition(k)
            new_files, rows = self._stage(df)
            return new_files, rows

        return self._commit_loop(apply, op="compact")

    def vacuum(self, retain_seconds: float = 600.0) -> int:
        """Delete every manifest but the latest, and every data file (with
        its .crc sibling and emptied txn dir) that the latest does not list:
        what a crash between a commit and its reclaim, or a writer that
        staged files and then lost or died, leaves behind.  Returns data
        files removed.

        `retain_seconds` guards in-flight writers: a concurrent append /
        compact / upsert stages its files BEFORE its manifest commit makes
        them referenced, so an unreferenced-but-young file may belong to a
        transaction about to commit.  Deleting it would let that writer
        commit a manifest pointing at missing files — the same hazard
        Delta's VACUUM retention check exists for — so files and txn dirs
        whose mtime is within the retention window are skipped.  Pass 0
        only when no other writer can be active."""
        latest = self.version()
        referenced = set(self._manifest(latest)["files"])
        self._drop_manifests_before(latest)
        cutoff = time.time() - max(0.0, retain_seconds)
        stale = []
        for txn in (os.path.join(self._data_dir, d) for d in _listdir(self._data_dir)):
            names = [n for n in _listdir(txn) if n.endswith(".parquet")]
            if not names and os.path.getmtime(txn) < cutoff:  # a dead writer's
                shutil.rmtree(txn, ignore_errors=True)
            for n in names:
                rel = os.path.relpath(os.path.join(txn, n), self.path)
                if rel not in referenced and os.path.getmtime(os.path.join(txn, n)) < cutoff:
                    stale.append(rel)
        self._remove_files(stale)
        return len(stale)


def _unlink(path: str) -> None:
    with contextlib.suppress(FileNotFoundError):
        os.remove(path)


def _listdir(path: str) -> list[str]:
    try:
        return os.listdir(path)
    except FileNotFoundError:
        return []


def _strip_scheme(p: str) -> str:
    """input_file_name() returns file:/abs/path URIs in local mode."""
    if p.startswith("file:"):
        p = p[len("file:"):]
        while p.startswith("//"):
            p = p[1:]
    return p
