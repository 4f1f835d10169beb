"""Snapshot-committed tables: the Iceberg stand-in.

Production target is Apache Iceberg (atomic commits, snapshot tags,
time travel) — this sandbox has no Iceberg runtime jars, so SnapshotTable
reproduces the subset of semantics the engine needs over plain parquet:

- every write is prepare() then install(): prepare() writes a new
  immutable snapshot directory under a fresh id, install() adds it to the
  log by `os.replace` of a small JSON pointer file — the exact analogue of
  the reference's rename-swap install (crawl/CrawlDb.java:148-164) and of
  an Iceberg metadata-pointer swap;
- snapshots carry tags (cycle markers) so a killed crawl resumes from the
  last committed cycle. Installs are keyed by tag: a snapshot whose tag is
  already on the newest one replaces it in the same swap, so a redone
  cycle's writes leave each table as if the cycle had run once;
- readers always see a complete snapshot (never a partial write).

Swapping this class for `spark.read/writeTo("catalog.db.table")` is a
one-file change; operators only see DataFrames.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


@dataclass
class Snapshot:
    snapshot_id: int
    tag: str | None
    path: str
    committed_at_ms: int
    parent_id: int | None
    append: bool = False
    # Iceberg bucket-spec analogue: hash-bucket layout recorded per snapshot
    bucket_col: str | None = None
    bucket_n: int | None = None
    table_name: str | None = None
    # Iceberg snapshot-summary analogue: row count recorded at commit time
    # (from the writer's Observation) so readers never pay a count() scan
    row_count: int | None = None
    # writer-defined layout parameters (the seen sketch's fmt/buckets/bits/k),
    # recorded at commit time for the same reason
    params: dict | None = None


class SnapshotTable:
    def __init__(self, root: str, name: str):
        self.root = os.path.join(root, name)
        self.name = name
        os.makedirs(self.root, exist_ok=True)

    # -- metadata ----------------------------------------------------------
    @property
    def _pointer(self) -> str:
        return os.path.join(self.root, "_snapshots.json")

    def _load_log(self) -> list[dict]:
        if not os.path.exists(self._pointer):
            return []
        with open(self._pointer) as f:
            return json.load(f)

    def _install_log(self, log: list[dict]) -> None:
        # atomic pointer swap (crawl/CrawlDb.java:148-164 analogue)
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".json.tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(log, f, indent=1)
        os.replace(tmp, self._pointer)

    def snapshots(self) -> list[Snapshot]:
        return [Snapshot(**e) for e in self._load_log()]

    def latest(self) -> Snapshot | None:
        log = self._load_log()
        return Snapshot(**log[-1]) if log else None

    def by_tag(self, tag: str) -> Snapshot | None:
        for e in reversed(self._load_log()):
            if e["tag"] == tag:
                return Snapshot(**e)
        return None

    def exists(self) -> bool:
        return self.latest() is not None

    # -- I/O ---------------------------------------------------------------
    def _table_name(self, sid: int) -> str:
        # catalog-unique, deterministic from (root, name, sid) so a resumed
        # session re-registers the exact same name recorded in the log
        import hashlib

        h = hashlib.md5(self.root.encode()).hexdigest()[:8]
        return f"{self.name}_{h}_snap{sid:06d}"

    def commit(self, df: DataFrame, tag: str | None = None,
               params: dict | None = None) -> Snapshot:
        """Write df as a new full snapshot and atomically install it,
        recording `params` in its log entry."""
        pending = self.prepare(df, tag=tag)
        pending["params"] = params
        return self.install(pending)

    def prepare(self, data: DataFrame | list[dict], tag: str | None = None,
                bucket_by: str | None = None, append: bool = False) -> dict:
        """Phase 1 of every write (the Iceberg write protocol: data files
        first, metadata-pointer swap last): the only place a snapshot id is
        minted. Writes data (a DataFrame, or driver-side rows) WITHOUT
        touching the log, so readers cannot see it until install(). Lets a
        caller use the snapshot write itself as a plan's single
        materialization (instead of a .cache() columnar copy) and keep the
        pointer swap, the completeness marker, as its last step. A crash
        before install() leaves an unlisted dir with id newest+1, which the
        redo's prepare() writes over. append=True: read() unions the
        snapshot with every append since the last full commit.

        bucket_by=col writes a hash-bucketed layout (the Iceberg
        `bucket(n, col)` partition-spec analogue, realized as a Spark
        bucketed datasource table). The payoff is join-side: a scan of a
        bucketed snapshot reports HashPartitioning(col, n), so an equi-join
        on col shuffles ONLY the other side (reference analogue: the
        MapFile-keyed crawldb makes CrawlDb's reduce co-group shuffle-free
        on sorted keys, crawl/CrawlDb.java:90-116). The write itself adds
        no exchange either: when the incoming df is already hash-placed on
        col (as the updatedb merge output is), each task holds exactly one
        bucket and emits one bucket-tagged file; misaligned input merely
        yields more files per bucket, never wrong results. n is the writing
        session's spark.sql.shuffle.partitions: EnsureRequirements keeps a
        bucketed join side whose bucket count is >= the shuffle partitions,
        so n equal to them keeps the next merge's bucketed side free of any
        Exchange. A session resumed under a larger setting shuffles that
        side once (a smaller one sorts it once); either way the snapshot it
        writes is at the new n, and reads follow each snapshot's bucket_n."""
        log = self._load_log()
        parent = log[-1]["snapshot_id"] if log else None
        sid = (parent or 0) + 1
        path = os.path.join(self.root, f"snap-{sid:06d}")
        snap = {"snapshot_id": sid, "tag": tag, "path": path,
                "committed_at_ms": int(time.time() * 1000),
                "parent_id": parent, "append": append}
        if isinstance(data, list):
            self._write_rows(data, path, log)
        elif bucket_by:
            spark = data.sparkSession
            n = int(spark.conf.get("spark.sql.shuffle.partitions"))
            tname = self._table_name(sid)
            spark.sql(f"DROP TABLE IF EXISTS {tname}")
            (
                data.write.mode("overwrite")
                .format("parquet")
                .option("path", path)
                .bucketBy(n, bucket_by)
                .sortBy(bucket_by)
                .saveAsTable(tname)
            )
            snap.update(bucket_col=bucket_by, bucket_n=n, table_name=tname)
        else:
            data.write.mode("overwrite").parquet(path)
        return snap

    def _write_rows(self, rows: list[dict], path: str, log: list[dict]) -> None:
        """Tiny driver-side log rows (lineage, per-partition metrics) go out
        without a Spark write job: one pyarrow file. A Spark parquet write
        costs task launch + the output-committer rename dance per cycle —
        pure serial driver time for a ~36-row table, i.e. exactly the
        fraction the N->4N scaling criterion punishes."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pa.Table.from_pylist(rows)
        # pin physical types to the table's existing parquet layout:
        # read() unions every append since the last full commit into ONE
        # spark.read.parquet call, so a pyarrow-inferred int64 next to a
        # Spark-written int32 (or an all-None column inferred as null type)
        # would mix conflicting physical types in one scan
        ref_schema = self._latest_parquet_schema(log)
        if ref_schema is not None and set(ref_schema.names) == set(table.schema.names):
            table = table.select(ref_schema.names).cast(ref_schema)
        else:
            null_cols = [f.name for f in table.schema if pa.types.is_null(f.type)]
            if null_cols:
                raise ValueError(
                    f"append_rows({self.name}): columns {null_cols} are all-None and "
                    "no prior snapshot pins their type; pass typed values"
                )
        os.makedirs(path, exist_ok=True)
        pq.write_table(table, os.path.join(path, "part-00000.parquet"))

    def read_files(self, spark: SparkSession, snap: Snapshot | dict,
                   schema: StructType | None = None) -> DataFrame:
        """Scan one snapshot's own data files: an installed one, or a
        prepare()d one not yet installed. Never the append chain read()
        unions. `schema`, the schema the writer wrote, spares a plain
        snapshot's scan the schema-inference job."""
        if isinstance(snap, dict):
            snap = Snapshot(**snap)
        if snap.bucket_col:
            return self._read_bucketed(spark, snap)
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(snap.path)

    def install(self, pending: dict) -> Snapshot:
        """Phase 2 of every write: add a prepare()d snapshot to the log in
        one atomic pointer swap. Keyed by tag, so a redo is idempotent: if
        the newest snapshot already carries the pending tag (a crashed
        cycle's write), the same swap replaces it, and its data dir and
        catalog table are dropped afterwards. The replacement has a fresh id
        and path, so installed files are never overwritten in place. Refuses
        a tag that an older snapshot carries, and a pending snapshot that
        another install overtook since prepare() (its id is stale)."""
        log = self._load_log()
        expected = (log[-1]["snapshot_id"] + 1) if log else 1
        if pending["snapshot_id"] != expected:
            raise RuntimeError(
                f"install({self.name}): snapshot id {pending['snapshot_id']} is "
                f"stale (next id is {expected}); a commit landed since prepare()")
        tag = pending["tag"]
        old = log.pop() if tag is not None and log and log[-1]["tag"] == tag else None
        if tag is not None and any(e["tag"] == tag for e in log):
            raise RuntimeError(
                f"install({self.name}): tag {tag!r} is on an older snapshot; "
                "only the newest snapshot can be replaced")
        if old is not None:
            pending["parent_id"] = old["parent_id"]
        pending["committed_at_ms"] = int(time.time() * 1000)
        self._install_log(log + [pending])
        if old is not None:
            self._drop([old], SparkSession.getActiveSession())
        return Snapshot(**pending)

    def append(self, df: DataFrame, tag: str | None = None) -> Snapshot:
        """Append-only commit (logs: lineage, metrics, fetch status).
        Readers union all appended snapshots since the last full commit."""
        return self.install(self.prepare(df, tag=tag, append=True))

    def append_rows(self, rows: list[dict], tag: str | None = None) -> Snapshot:
        """append() for tiny driver-side rows, written without a Spark job."""
        return self.install(self.prepare(rows, tag=tag, append=True))

    def read(self, spark: SparkSession, tag: str | None = None, snapshot_id: int | None = None) -> DataFrame:
        if snapshot_id is not None:
            snap = next((s for s in self.snapshots()
                         if s.snapshot_id == snapshot_id), None)
            if snap is None:
                raise KeyError(
                    f"no snapshot id {snapshot_id} in {self.name} "
                    f"(expired or never existed)")
        elif tag is not None:
            snap = self.by_tag(tag)
            if snap is None:
                raise KeyError(f"no snapshot tagged {tag!r} in {self.name}")
        else:
            snap = self.latest()
            if snap is None:
                raise KeyError(f"table {self.name} has no snapshots")
        if not snap.append:
            return self.read_files(spark, snap)
        # append snapshot: union every append since the last full commit
        paths = []
        for e in self.snapshots():
            if e.snapshot_id > snap.snapshot_id:
                break
            if e.append:
                paths.append(e.path)
            else:
                paths = [e.path]
        return spark.read.parquet(*paths)

    def _latest_parquet_schema(self, log: list[dict]):
        """Arrow schema of the newest snapshot's parquet files (None if no
        snapshot or no readable file) — used to keep append_rows writes
        byte-compatible with Spark-written history."""
        import pyarrow.parquet as pq

        for e in reversed(log):
            d = e["path"]
            if not os.path.isdir(d):
                continue
            for fn in sorted(os.listdir(d)):
                if fn.endswith(".parquet"):
                    try:
                        return pq.read_schema(os.path.join(d, fn))
                    except Exception:
                        return None
        return None

    def _read_bucketed(self, spark: SparkSession, snap: Snapshot) -> DataFrame:
        """Scan a bucketed snapshot through the session catalog so Catalyst
        sees HashPartitioning(bucket_col, bucket_n). A fresh session (crash
        resume) re-registers the external table from the snapshot log —
        the in-memory catalog is session-scoped, the parquet layout is not."""
        tname = snap.table_name
        if not spark.catalog.tableExists(tname):
            ddl = spark.read.parquet(snap.path).schema.toDDL()
            spark.sql(
                f"CREATE TABLE {tname} ({ddl}) USING PARQUET "
                f"CLUSTERED BY ({snap.bucket_col}) SORTED BY ({snap.bucket_col}) "
                f"INTO {snap.bucket_n} BUCKETS LOCATION '{snap.path}'"
            )
        return spark.table(tname)

    def _drop(self, entries: list[dict], spark: SparkSession | None) -> None:
        """Delete the data dirs of snapshots no longer in the log; with a
        session, also deregister their bucketed catalog tables (the
        in-memory catalog is session-scoped, so this is best-effort)."""
        for e in entries:
            if spark is not None and e.get("table_name"):
                spark.sql(f"DROP TABLE IF EXISTS {e['table_name']}")
            shutil.rmtree(e["path"], ignore_errors=True)

    def expire_snapshots(self, keep: int = 3, spark: SparkSession | None = None) -> int:
        """Drop all but the newest `keep` snapshots (GC; Iceberg expire
        analogue; keep=0 keeps all). Also deletes orphans: snapshot dirs
        with an id at or below the newest logged one that the log does not
        list, left by a crash between an earlier swap and its deletes. A
        pending prepare() has id newest+1, so it is never touched. Returns
        the number of snapshots expired plus orphans deleted."""
        log = self._load_log()
        cut = len(log) - keep if 0 < keep < len(log) else 0
        # append chains: a retained APPEND snapshot is a logical union of
        # every snapshot back to (and including) its base full commit —
        # expiring any of those would silently drop their rows from read().
        # Walk back from the oldest retained snapshot to its chain base and
        # keep everything from there on.
        while cut > 0 and log[cut].get("append"):
            cut -= 1
        dead, live = log[:cut], log[cut:]
        if dead:
            self._install_log(live)
        self._drop(dead, spark)
        newest = live[-1]["snapshot_id"] if live else 0
        listed = {os.path.basename(e["path"]) for e in live}
        orphans = [d for d in os.listdir(self.root) if d.startswith("snap-")
                   and d not in listed and int(d[5:]) <= newest]
        self._drop([{"path": os.path.join(self.root, d)} for d in orphans], None)
        return len(dead) + len(orphans)


class Catalog:
    """A directory of SnapshotTables (hadoop-catalog analogue)."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def table(self, name: str) -> SnapshotTable:
        return SnapshotTable(self.root, name)
