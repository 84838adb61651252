"""Iceberg-style snapshot tables over parquet with atomic manifest commits.

The north_rule demands Iceberg-checkpointed micro-batches with per-partition
lineage, resumable mid-crawl. This container ships no Iceberg runtime jar,
so this module implements the same commit semantics on plain parquet:

- every table is append-only data files under ``<root>/<table>/data/``
- a *snapshot* is a JSON manifest listing the data directories it contains
- a *catalog commit* atomically advances ``<root>/_state/current`` (tmp file
  + ``os.rename``, atomic on POSIX) to a state JSON that pins one snapshot
  version per table plus the engine's scalar state
- data written by a crashed batch is simply never referenced (orphans), so
  resume-from-checkpoint reads a consistent multi-table view — the same
  guarantee Iceberg snapshots give
- ``append`` is ``write`` (data files into a fresh directory) + ``stage``
  (the next manifest names it). A directory that was written but never
  staged is an orphan until staged: no manifest names it, restore never
  reads it and ``vacuum`` removes it. The crawl writes batch k+1's
  attempts that way while batch k is still admitting, and stages it only
  after batch k's commit

Swapping in real Iceberg later is localized to this module: ``append``
becomes ``writeTo(...).append()`` and the catalog commit becomes a
multi-table transaction / WAP commit.
"""

from __future__ import annotations

import json
import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _atomic_write_json(path: str, obj: dict) -> None:
    tmp = path + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, path)
    # the rename is atomic but not DURABLE until the directory entry is
    # flushed: without this a power loss after "commit succeeded" could
    # resurface the previous head on restart
    dfd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


#: committed artifacts only — a crash inside _atomic_write_json leaves
#: ``*.tmp-<hex>`` siblings that every directory listing must ignore
_MANIFEST_RE = re.compile(r"v(\d+)\.json$")
_COMMIT_RE = re.compile(r"(\d+)\.json$")


def _listed(dirname: str, pat: re.Pattern) -> list[tuple[int, str]]:
    """(number, filename) for files matching ``pat`` exactly, sorted."""
    out = []
    for n in os.listdir(dirname):
        m = pat.fullmatch(n)
        if m:
            out.append((int(m.group(1)), n))
    return sorted(out)


class SnapshotTable:
    """One append-only snapshot table."""

    def __init__(self, spark: SparkSession, root: str, name: str, schema: StructType):
        self.spark = spark
        self.name = name
        self.schema = schema
        self.dir = os.path.join(root, name)
        self.data_dir = os.path.join(self.dir, "data")
        self.manifest_dir = os.path.join(self.dir, "_snapshots")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.manifest_dir, exist_ok=True)
        # uncommitted state, pinned by the catalog commit
        self._dirs: list[str] = []
        self._version = 0
        # one materialized view of the current snapshot per batch: flat
        # parquet read, persisted on first use, invalidated by append()
        self._cache_df = None
        self._cache_version = -1

    # -- snapshot plumbing --------------------------------------------------
    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.manifest_dir, f"v{version}.json")

    def _drop_cache(self) -> None:
        if self._cache_df is not None:
            self._cache_df.unpersist(blocking=False)
            self._cache_df = None

    def _stage(self, dirs: list[str]) -> int:
        """Stage snapshot version+1 pinning ``dirs``: write its manifest
        atomically, make it the current state and drop the cached read.
        Returns the new version."""
        new_version = self._version + 1
        _atomic_write_json(
            self._manifest_path(new_version),
            {"version": new_version, "dirs": dirs},
        )
        self._dirs, self._version = dirs, new_version
        self._drop_cache()
        return new_version

    def load_version(self, version: int) -> None:
        self._drop_cache()
        if version == 0:
            self._dirs, self._version = [], 0
            return
        with open(self._manifest_path(version)) as f:
            manifest = json.load(f)
        self._dirs = manifest["dirs"]
        self._version = version

    @property
    def version(self) -> int:
        return self._version

    # -- operations ----------------------------------------------------------
    def write(
        self,
        df: DataFrame,
        label: str,
        n_files: int | None = None,
        shuffle: bool = True,
    ) -> str:
        """Write df as new data files into a fresh directory and return it.
        The directory is an orphan until :meth:`stage` names it in a
        manifest. ``n_files`` right-sizes the output (micro-batches would
        otherwise emit one near-empty file per shuffle partition).
        ``shuffle=True`` repartitions (keeps an unmaterialized upstream at
        full parallelism); ``shuffle=False`` coalesces — only safe when the
        upstream is already cached, else it would collapse the compute
        into n_files tasks. Touches no snapshot state, so it may run on
        another thread while this table is read or appended to."""
        out = os.path.join(self.data_dir, f"{label}-{uuid.uuid4().hex[:8]}")
        if n_files is not None:
            df = df.repartition(n_files) if shuffle else df.coalesce(n_files)
        df.write.parquet(out, mode="overwrite")
        return out

    def stage(self, out: str) -> int:
        """Stage snapshot version+1 = the current dirs + ``out``. Returns
        the new (staged) version. Not visible until catalog commit."""
        return self._stage(self._dirs + [out])

    def append(
        self,
        df: DataFrame,
        label: str,
        n_files: int | None = None,
        shuffle: bool = True,
    ) -> int:
        """:meth:`write` then :meth:`stage`; returns the staged version."""
        return self.stage(self.write(df, label, n_files, shuffle))

    def append_rows(self, rows: list[tuple], label: str) -> int:
        """Driver-side append of a tiny row set (seed frontier, per-batch
        lineage): one pyarrow parquet file, NO Spark job. A 1-row
        ``createDataFrame().coalesce(1).write`` costs ~4s in local mode (the
        single task drains every Python-pickled parent partition serially);
        this path is ~milliseconds and lands in the same snapshot chain."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        out = os.path.join(self.data_dir, f"{label}-{uuid.uuid4().hex[:8]}")
        os.makedirs(out, exist_ok=True)
        arrow_schema = to_arrow_schema(self.schema)
        cols = list(zip(*rows)) if rows else [[] for _ in arrow_schema]
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
            schema=arrow_schema,
        )
        pq.write_table(table, os.path.join(out, "part-00000.parquet"))
        return self.stage(out)

    # -- Iceberg-shaped snapshot operations ---------------------------------
    def read_at(self, version: int) -> DataFrame:
        """Time-travel: the table exactly as of snapshot ``version``
        (Iceberg ``VERSION AS OF``). Snapshots are immutable manifests, so
        this is just a scan of the dirs that manifest pins."""
        if version == 0:
            return self.spark.createDataFrame([], self.schema)
        with open(self._manifest_path(version)) as f:
            dirs = json.load(f)["dirs"]
        return self.spark.read.schema(self.schema).parquet(*dirs)

    def snapshots(self) -> list[dict]:
        """All known snapshot manifests, oldest first (Iceberg
        ``table.snapshots()``)."""
        out = []
        for _, f in _listed(self.manifest_dir, _MANIFEST_RE):
            with open(os.path.join(self.manifest_dir, f)) as fh:
                out.append(json.load(fh))
        return out

    def compact(self, n_files: int = 1) -> int:
        """Rewrite the current snapshot's many per-batch deltas into
        ``n_files`` files and advance the version (Iceberg
        ``rewrite_data_files``). Micro-batch crawls append one small delta
        per batch; at 10^5 batches the file listing itself becomes the
        scan bottleneck, so periodic compaction is the scale story. Old
        snapshots still reference the old dirs (time-travel keeps working)
        until ``vacuum`` expires them."""
        out = os.path.join(self.data_dir, f"compact-{uuid.uuid4().hex[:8]}")
        self.read().repartition(n_files).write.parquet(out, mode="overwrite")
        return self._stage([out])

    def vacuum(self, committed_version: int | None = None) -> int:
        """Expire everything but the current snapshot: delete data dirs
        the current manifest does not reference (crashed-batch orphans,
        pre-compaction deltas) and drop superseded manifests (Iceberg
        ``expire_snapshots``). Time-travel to expired versions is gone —
        that is the contract. Returns the number of dirs removed.

        ``committed_version``: the version the CATALOG's committed state
        pins for this table. Between a staged append/compact and the next
        catalog commit the staged version is AHEAD of the committed one —
        without this, vacuuming in that window would delete data the
        committed checkpoint still references and make restore()
        unrecoverable. ``CrawlCheckpoint.vacuum()`` passes it
        automatically; keep it None only when no catalog commit exists.
        Crash-leftover ``*.tmp-*`` manifest files are swept too."""
        import shutil

        keep = set(self._dirs)
        keep_versions = {self._version}
        if committed_version is not None and committed_version > 0:
            keep_versions.add(committed_version)
            if committed_version != self._version:
                with open(self._manifest_path(committed_version)) as f:
                    keep.update(json.load(f)["dirs"])
        removed = 0
        for name in os.listdir(self.data_dir):
            full = os.path.join(self.data_dir, name)
            if full not in keep:
                shutil.rmtree(full, ignore_errors=True)
                removed += 1
        for n in os.listdir(self.manifest_dir):
            m = _MANIFEST_RE.fullmatch(n)
            if m is None or int(m.group(1)) not in keep_versions:
                os.unlink(os.path.join(self.manifest_dir, n))
        return removed

    @property
    def last_dir(self) -> str | None:
        """Directory of the most recently appended data files (the delta of
        the last append) — lets consumers re-read just-written rows from
        parquet instead of recomputing the producing plan."""
        return self._dirs[-1] if self._dirs else None

    def last_dir_row_count(self) -> int:
        """Exact row count of the last delta from parquet footers —
        driver-side metadata read, no Spark job."""
        import pyarrow.parquet as pq

        d = self.last_dir
        if d is None:
            return 0
        total = 0
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
        return total

    def read(self, cached: bool = False) -> DataFrame:
        """Current snapshot. ``cached=True`` returns a persisted flat read —
        reused by every consumer within a batch (the anti-join probes the
        same table several times), invalidated on the next append. The plan
        stays flat (one parquet scan), so cache depth never grows with
        batch count."""
        if not self._dirs:
            return self.spark.createDataFrame([], self.schema)
        if cached:
            if self._cache_df is not None and self._cache_version == self._version:
                return self._cache_df
            df = self.spark.read.schema(self.schema).parquet(*self._dirs).persist()
            self._cache_df = df
            self._cache_version = self._version
            return df
        return self.spark.read.schema(self.schema).parquet(*self._dirs)


class CrawlCheckpoint:
    """Multi-table catalog with a single atomic commit point per batch."""

    def __init__(self, spark: SparkSession, root: str, schemas: dict[str, StructType]):
        self.spark = spark
        self.root = root
        self.state_dir = os.path.join(root, "_state")
        os.makedirs(self.state_dir, exist_ok=True)
        self.tables = {n: SnapshotTable(spark, root, n, s) for n, s in schemas.items()}
        self.state: dict = {}

    @property
    def current_path(self) -> str:
        return os.path.join(self.state_dir, "current")

    def exists(self) -> bool:
        return os.path.exists(self.current_path)

    def commit(self, state: dict) -> None:
        """Atomically pin every table's staged version + engine scalars.
        Every commit is also journaled to ``_state/commits/<seq>.json``
        (the Iceberg snapshot log), enabling ``history``/``rollback``."""
        seq = self.state.get("_commit_seq", 0) + 1 if self.state else 1
        payload = {
            "tables": {n: t.version for n, t in self.tables.items()},
            "state": {**state, "_commit_seq": seq},
        }
        commits_dir = os.path.join(self.state_dir, "commits")
        os.makedirs(commits_dir, exist_ok=True)
        _atomic_write_json(os.path.join(commits_dir, f"{seq}.json"), payload)
        _atomic_write_json(self.current_path, payload)
        self.state = payload["state"]

    def restore(self) -> dict:
        """Load the last committed state; tables see exactly the committed
        snapshot set (orphaned post-crash files are ignored)."""
        with open(self.current_path) as f:
            payload = json.load(f)
        for name, version in payload["tables"].items():
            self.tables[name].load_version(version)
        self.state = payload["state"]
        return self.state

    def vacuum(self) -> dict[str, int]:
        """Catalog-safe vacuum: expire each table against BOTH its staged
        version and the version pinned by the committed head, so a vacuum
        issued between a staged append/compact and the next commit can
        never delete committed data. Returns removed-dir counts."""
        committed: dict[str, int] = {}
        if self.exists():
            with open(self.current_path) as f:
                committed = json.load(f)["tables"]
        return {
            name: t.vacuum(committed_version=committed.get(name))
            for name, t in self.tables.items()
        }

    def history(self) -> list[dict]:
        """The commit journal, oldest first (Iceberg snapshot log)."""
        commits_dir = os.path.join(self.state_dir, "commits")
        if not os.path.isdir(commits_dir):
            return []
        out = []
        for _, f in _listed(commits_dir, _COMMIT_RE):
            with open(os.path.join(commits_dir, f)) as fh:
                out.append(json.load(fh))
        return out

    def rollback(self, commit_seq: int) -> dict:
        """Reset the catalog head to an earlier commit (Iceberg
        ``rollback_to_snapshot``): the crawl resumes from that batch
        boundary exactly — later appends become unreferenced orphans. Not
        valid after a table ``vacuum`` expired the pinned snapshots."""
        commits_dir = os.path.join(self.state_dir, "commits")
        with open(os.path.join(commits_dir, f"{commit_seq}.json")) as f:
            target = json.load(f)
        # the rollback itself is the new head, JOURNALED like any commit:
        # history() stays linear and its tail always agrees with current
        entries = _listed(commits_dir, _COMMIT_RE)
        new_seq = (entries[-1][0] if entries else 0) + 1
        payload = {
            "tables": target["tables"],
            "state": {
                **target["state"],
                "_commit_seq": new_seq,
                "_rollback_of": commit_seq,
            },
        }
        _atomic_write_json(os.path.join(commits_dir, f"{new_seq}.json"), payload)
        _atomic_write_json(self.current_path, payload)
        for name, version in payload["tables"].items():
            self.tables[name].load_version(version)
        self.state = payload["state"]
        return self.state
