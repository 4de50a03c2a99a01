"""Iceberg-style snapshot/manifest table layer (SURVEY.md §1.3, S2/S6/S7).

No Iceberg jar ships in this sandbox (verified: /opt/spark jars contain none,
no network), so this implements the Iceberg *design* from the public spec:

* data files are immutable parquet files under ``<table>/data/``;
* every commit writes a new manifest ``<table>/_snapshots/v{N}.json`` listing
  ALL live data files (with partition values + row counts), its parent
  snapshot id, and free-form ``meta`` (engine checkpoint state lives here);
* the root pointer ``_root/v{N}.json`` names each table's committed
  version, and it is the ONLY visibility rule: a manifest is visible only
  through a root version, so a table the root does not track does not exist
  and a store without a root is empty.  Every commit (a single-table
  :meth:`SnapshotStore.commit` or a multi-table :class:`Transaction`)
  publishes its manifests, then swaps the root with a tmp-file +
  ``os.rename`` — atomic on POSIX, so a crash anywhere before the rename
  leaves the previous state of every table intact (checkpoint-resume,
  BASELINE.json:14);
* readers open a *specific snapshot* (default: latest) and can prune the
  file list by partition values **before** Spark ever lists anything
  (manifest-level partition pruning, like Iceberg's manifest filtering);
* a manifest also records the table's Spark schema, so a read hands Spark
  the schema instead of running a footer-inference job (Iceberg keeps the
  schema in table metadata for the same reason).

The reference kept a filesystem JSON "db" with per-provider/day/batch dirs
(SURVEY.md §1.1 [M csxj/db/provider.py]); this layer is its columnar,
snapshot-isolated analogue.  Swappable for real Iceberg: same logical schema.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import IntegerType, StructField, StructType

_PART_RE = re.compile(r"([A-Za-z0-9_]+)=([^/]+)/")
_INT_RE = re.compile(r"-?[0-9]+")


def _written_schema(df: DataFrame, partition_by: list[str] | None) -> dict:
    """The schema of the files ``df`` is written to, as parquet inference
    returns it: data columns in frame order, then the partition columns in
    directory order, nullable (as Spark reads any file schema; recording
    that keeps the schemas of one table's commits comparable).
    :func:`_read_schema` types the partition columns."""
    parts = list(partition_by or [])
    by_name = {f.name: f for f in df.schema.fields}
    fields = [f for f in df.schema.fields if f.name not in parts]
    fields += [by_name[p] for p in parts]
    return StructType(
        [StructField(f.name, f.dataType, True, f.metadata) for f in fields]
    ).jsonValue()


def _read_schema(schema: dict | None, files: list[dict]) -> StructType | None:
    """Schema to hand ``spark.read`` for ``files``, or None to infer it.

    Partition columns get the type Spark's partition inference gives their
    values in ``files``; only all-int32 values are typed here (int), any
    other partition value falls back to inference."""
    if schema is None:
        return None
    parts = set(files[0]["partition"])
    if any(set(f["partition"]) != parts for f in files):
        return None
    fields = []
    for field in StructType.fromJson(schema).fields:
        if field.name in parts:
            values = {f["partition"][field.name] for f in files}
            if not all(_INT_RE.fullmatch(v) and -(2**31) <= int(v) < 2**31 for v in values):
                return None
            field = StructField(field.name, IntegerType(), True, field.metadata)
        fields.append(field)
    return StructType(fields)


class SnapshotStore:
    """A directory of snapshot-versioned parquet tables."""

    def __init__(self, root: str, write_tasks: int | None = None):
        """``write_tasks`` caps the shuffle width of partitioned commit
        writes (AQE cannot coalesce an explicit ``repartition(cols)``, so
        wave-sized commits would otherwise pay full-width task overhead).
        ``None`` uses ``spark.sql.shuffle.partitions``.  Size it to the
        expected commit volume: ~8 for bench-scale waves, hundreds on a
        real cluster."""
        self.root = root
        self.write_tasks = write_tasks
        #: memo for resolved delta-chain file lists — ONE entry per table
        #: (the newest version resolved so far).  A long crawl commits a new
        #: version per table per wave; keying by (table, version) without
        #: eviction would retain every historical version's full file list,
        #: O(waves × live_files) driver memory at the 10^5-10^6-file regime.
        #: Older versions (explicit time travel) re-resolve uncached.
        self._live_cache: dict[str, tuple[int, tuple[list[dict], dict | None]]] = {}
        os.makedirs(root, exist_ok=True)

    # -- paths --------------------------------------------------------------
    def _tdir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _snap_dir(self, table: str) -> str:
        return os.path.join(self._tdir(table), "_snapshots")

    def versions(self, table: str) -> list[int]:
        """Committed versions, ``0..current_version`` (a version is always
        its parent + 1).  Manifests beyond the root's version belong to a
        crashed transaction and are not listed."""
        v = self.current_version(table)
        return [] if v is None else list(range(v + 1))

    def current_version(self, table: str) -> int | None:
        """Latest committed version: the one the root pointer names.  None
        for a table the root does not track and for a store with no root —
        a manifest is visible only through a root version."""
        root = self._root_current()
        return None if root is None else root["tables"].get(table)

    def manifest(self, table: str, version: int | None = None) -> dict | None:
        if version is None:
            version = self.current_version(table)
        if version is None:
            return None
        with open(os.path.join(self._snap_dir(table), f"v{version}.json")) as f:
            return json.load(f)

    # -- root pointer (catalog-level atomic multi-table commits) -------------
    def _root_dir(self) -> str:
        return os.path.join(self.root, "_root")

    def _root_current(self) -> dict | None:
        d = self._root_dir()
        if not os.path.isdir(d):
            return None
        vs = sorted(
            int(m.group(1))
            for f in os.listdir(d)
            if (m := re.fullmatch(r"v(\d+)\.json", f))
        )
        if not vs:
            return None
        with open(os.path.join(d, f"v{vs[-1]}.json")) as f:
            return json.load(f)

    def _write_root(self, tables: dict[str, int], meta: dict | None) -> dict:
        """Atomically swap the root pointer (the Iceberg catalog swap): a
        manifest version is INVISIBLE until a root version references it."""
        prev = self._root_current()
        version = 0 if prev is None else prev["version"] + 1
        merged = dict(prev["tables"]) if prev else {}
        merged.update(tables)
        root = {"version": version, "tables": merged, "meta": meta or {}}
        os.makedirs(self._root_dir(), exist_ok=True)
        tmp = os.path.join(self._root_dir(), f".v{version}.json.{uuid.uuid4().hex[:8]}.tmp")
        with open(tmp, "w") as f:
            json.dump(root, f)
        os.rename(tmp, os.path.join(self._root_dir(), f"v{version}.json"))
        return root

    def list_tables(self) -> list[str]:
        """Tables the root pointer tracks (a table whose only manifests
        belong to a crashed transaction is not one)."""
        root = self._root_current()
        return [] if root is None else sorted(root["tables"])

    def transaction(self) -> "Transaction":
        """Begin a multi-table atomic commit: ``stage`` each table (data
        files land immediately, stats become readable), then ``commit()``
        publishes every manifest and swaps the root pointer in ONE atomic
        rename — a crash anywhere before that leaves the previous state."""
        return Transaction(self)

    # -- commit -------------------------------------------------------------
    def commit(
        self,
        df: DataFrame,
        table: str,
        mode: str = "append",
        partition_by: list[str] | None = None,
        meta: dict | None = None,
    ) -> dict:
        """Write ``df`` as new immutable data files + a new manifest, and
        swap the root to it (a one-table transaction).

        ``mode='append'`` keeps the parent's files; ``'overwrite'`` starts the
        file list fresh (old files stay on disk for time travel).
        """
        man = self._stage_df(df, table, mode, partition_by, meta)
        self._publish_and_swap([man], None)
        return man

    def _publish_and_swap(self, mans: list[dict], meta: dict | None) -> dict:
        """The one commit path: publish staged manifests (still invisible),
        then swap the root to their versions — the commit point."""
        for man in mans:
            self._publish(man)
        return self._write_root({m["table"]: m["version"] for m in mans}, meta)

    def _publish(self, man: dict) -> None:
        snap_dir = self._snap_dir(man["table"])
        os.makedirs(snap_dir, exist_ok=True)
        tmp = os.path.join(
            snap_dir, f".v{man['version']}.json.{man['commit']}.tmp"
        )
        with open(tmp, "w") as f:
            json.dump(man, f)
        os.rename(tmp, os.path.join(snap_dir, f"v{man['version']}.json"))

    def _stage_df(
        self,
        df: DataFrame,
        table: str,
        mode: str = "append",
        partition_by: list[str] | None = None,
        meta: dict | None = None,
    ) -> dict:
        """Write data files and build (but do not publish) the manifest."""
        commit_id = uuid.uuid4().hex[:12]
        tmp_dir = os.path.join(self._tdir(table), ".tmp", commit_id)
        data_dir = os.path.join(self._tdir(table), "data")
        if partition_by:
            # co-locate rows of one partition into one task → one file per
            # partition value instead of tasks×partitions small files
            if self.write_tasks:
                df = df.repartition(self.write_tasks, *partition_by)
            else:
                df = df.repartition(*partition_by)
            writer = df.write.mode("overwrite").partitionBy(*partition_by)
        else:
            writer = df.write.mode("overwrite")
        writer.parquet(tmp_dir)

        # relocate immutable data files under data/<partition dirs>/ so the
        # layout below basePath is uniform k=v (Spark partition discovery)
        files = []
        i = 0
        for dirpath, _dirnames, filenames in os.walk(tmp_dir):
            for fn in sorted(filenames):
                if not fn.endswith(".parquet"):
                    continue
                rel_dir = os.path.relpath(dirpath, tmp_dir)
                rel_dir = "" if rel_dir == "." else rel_dir
                parts = {k: v for k, v in _PART_RE.findall(rel_dir + "/")}
                dest_dir = os.path.join(data_dir, rel_dir)
                os.makedirs(dest_dir, exist_ok=True)
                dest = os.path.join(dest_dir, f"{commit_id}-{i:05d}.parquet")
                os.rename(os.path.join(dirpath, fn), dest)
                # row count from the parquet footer — a local metadata read,
                # no Spark job; lets the engine answer "how many rows" from
                # the manifest alone (Iceberg keeps the same per-file stats)
                nrows = pq.ParquetFile(dest).metadata.num_rows
                files.append({"path": dest, "partition": parts, "rows": nrows})
                i += 1
        shutil.rmtree(os.path.join(self._tdir(table), ".tmp"), ignore_errors=True)
        return self._manifest(
            table, mode, meta, commit_id, files,
            schema=_written_schema(df, partition_by),
        )

    def _manifest(
        self,
        table: str,
        mode: str,
        meta: dict | None,
        commit_id: str,
        files: list[dict],
        **extra,
    ) -> dict:
        """The manifest of a staged commit of exactly ``files``, versioned
        as the child of the table's committed version."""
        parent = self.current_version(table)
        prev = None if parent is None else self.manifest(table, parent)
        # O(delta) appends: an append manifest lists ONLY its new files and
        # points at its parent (files_are_delta) — writing the full live
        # list per append is O(live files) driver work and manifest bytes,
        # the commit bottleneck at 10^5-10^6 files.  Readers resolve the
        # chain (live_files); compaction emits a non-delta base, bounding
        # chain length.  This mirrors Iceberg's hierarchical manifests.
        return {
            "table": table,
            "version": 0 if parent is None else parent + 1,
            "parent": parent,
            "commit": commit_id,
            "mode": mode,
            "content_id": self._content_id(prev, mode, meta, commit_id, files),
            "files_are_delta": mode == "append" and prev is not None,
            "files": files,
            "new_files": len(files),
            "meta": meta or {},
            **extra,
        }

    @staticmethod
    def _content_id(
        prev: dict | None,
        mode: str,
        meta: dict | None,
        commit_id: str,
        files: list[dict],
    ) -> str:
        """Logical-content identity of a snapshot: changes on any append or
        overwrite, but a COMPACTION (rewrite of the same rows) inherits its
        parent's id, and so does a ZERO-ROW APPEND (the table's content is
        unchanged).  Consumers that derive sidecar structures from a table
        (the crawl engine's bloom blobs) stamp this id: compaction and empty
        waves keep them valid, any content change invalidates them.  Without
        the zero-row rule, every empty wave late in a crawl would flip the
        stamp and silently degrade the O(delta) bloom merge into an O(seen)
        full rebuild."""
        if prev is not None and prev.get("content_id"):
            if mode == "overwrite" and (meta or {}).get("compaction"):
                return prev["content_id"]
            if mode == "append" and sum(f["rows"] for f in files) == 0:
                return prev["content_id"]
        return commit_id

    def _stage_rows(
        self,
        rows: list[dict],
        schema: "pa.Schema",
        table: str,
        mode: str = "append",
        meta: dict | None = None,
    ) -> dict:
        """Write a tiny driver-side table (e.g. one wave-metrics row) as one
        parquet file with pyarrow — zero Spark jobs — and build (but do not
        publish) its manifest."""
        commit_id = uuid.uuid4().hex[:12]
        data_dir = os.path.join(self._tdir(table), "data")
        os.makedirs(data_dir, exist_ok=True)
        dest = os.path.join(data_dir, f"{commit_id}-00000.parquet")
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), dest)
        files = [{"path": dest, "partition": {}, "rows": len(rows)}]
        return self._manifest(table, mode, meta, commit_id, files)

    def live_files(self, table: str, version: int | None = None) -> list[dict] | None:
        """Resolve a snapshot's full live file list (see :meth:`_resolve`)."""
        resolved = self._resolve(table, version)
        return None if resolved is None else resolved[0]

    def _resolve(
        self, table: str, version: int | None = None
    ) -> tuple[list[dict], dict | None] | None:
        """A snapshot's live file list and the schema its files share.

        Delta (append) manifests list only their new files; the chain of
        parents is walked back to the nearest base snapshot (an overwrite,
        a compaction, or a legacy full-list manifest) and accumulated in
        commit order.  The schema is the one every manifest of the chain
        records, or None when one records none (a store written before
        manifests carried schemas) or they disagree.  Only the newest
        resolved version per table is memoized (manifests are immutable
        once published; older versions are touched only by explicit time
        travel and re-resolve)."""
        if version is None:
            version = self.current_version(table)
        if version is None:
            return None
        cached = self._live_cache.get(table)
        if cached is not None and cached[0] == version:
            return cached[1]
        chain: list[dict] = []
        man = self.manifest(table, version)
        while man is not None:
            chain.append(man)
            if not man.get("files_are_delta"):
                break
            parent = man["parent"]
            man = None if parent is None else self.manifest(table, parent)
        files: list[dict] = []
        for m in reversed(chain):
            if m.get("files_are_delta"):
                files.extend(m["files"])
            else:
                files = list(m["files"])
        schemas = [m.get("schema") for m in chain]
        schema = schemas[0] if all(x == schemas[0] for x in schemas) else None
        if cached is None or version >= cached[0]:
            self._live_cache[table] = (version, (files, schema))
        return files, schema

    def file_count(self, table: str) -> int:
        files = self.live_files(table)
        return 0 if files is None else len(files)

    def compact(
        self,
        spark: SparkSession,
        table: str,
        partition_by: list[str] | None = None,
    ) -> dict | None:
        """Rewrite a table's live files into one file per partition (Iceberg
        'rewrite_data_files').  Amortized maintenance: call when the manifest
        file count crosses a threshold so appends stay O(delta) but reads
        stay O(partitions).  The new snapshot keeps its parent's meta, marked
        ``compaction``."""
        df = self.read(spark, table)
        if df is None:
            return None
        meta = {**self.manifest(table)["meta"], "compaction": True}
        return self.commit(df, table, mode="overwrite", partition_by=partition_by, meta=meta)

    def row_count(self, table: str, version: int | None = None) -> int | None:
        """Exact row count of a snapshot from manifest stats alone (no Spark
        job): every manifest records each file's ``rows``."""
        files = self.live_files(table, version)
        return None if files is None else sum(f["rows"] for f in files)

    # -- read ---------------------------------------------------------------
    def read(
        self,
        spark: SparkSession,
        table: str,
        version: int | None = None,
        partition_filter: dict[str, set[str]] | None = None,
    ) -> DataFrame | None:
        """Open a snapshot as a DataFrame, pruning files by partition values.

        ``partition_filter={'host_bucket': {'3','7'}}`` reads only matching
        data files — pruning happens here at the manifest, before Spark.
        """
        resolved = self._resolve(table, version)
        if resolved is None:
            return None
        files, schema = resolved
        if partition_filter:
            files = [
                f
                for f in files
                if all(
                    f["partition"].get(k) in vals
                    for k, vals in partition_filter.items()
                )
            ]
        return self._read_files(spark, table, files, schema)

    def _read_files(
        self, spark: SparkSession, table: str, files: list[dict], schema: dict | None
    ) -> DataFrame | None:
        if not files:
            return None
        reader = spark.read.option("basePath", self._tdir(table) + "/data")
        # the manifest's schema spares Spark a footer-inference job per read;
        # manifests without one (older stores) still infer
        read_schema = _read_schema(schema, files)
        if read_schema is not None:
            reader = reader.schema(read_schema)
        return reader.parquet(*[f["path"] for f in files])

    # -- metadata tables (Iceberg-style `#snapshots` / `#files`) -------------
    def snapshots_df(self, spark: SparkSession, table: str) -> DataFrame:
        # num_files = LIVE files at the snapshot (Iceberg total-data-files
        # semantics); with delta manifests len(m["files"]) would equal
        # new_files for appends, silently changing the column's meaning.
        # Computed incrementally in version order (delta: parent + new;
        # base: new) — O(versions), no per-version chain walks.
        live_at: dict[int, int] = {}
        rows = []
        for v in self.versions(table):
            m = self.manifest(table, v)
            if m.get("files_are_delta"):
                live = live_at.get(m["parent"], 0) + len(m["files"])
            else:
                live = len(m["files"])
            live_at[v] = live
            rows.append(
                {
                    "version": m["version"],
                    "parent": m["parent"],
                    "commit": m["commit"],
                    "mode": m["mode"],
                    "num_files": live,
                    "new_files": m["new_files"],
                    "meta_json": json.dumps(m["meta"], sort_keys=True),
                }
            )
        return spark.createDataFrame(
            rows,
            schema="version int, parent int, commit string, mode string, "
            "num_files int, new_files int, meta_json string",
        )

    def files_df(self, spark: SparkSession, table: str) -> DataFrame:
        rows = [
            {"path": f["path"], "partition_json": json.dumps(f["partition"], sort_keys=True)}
            for f in (self.live_files(table) or [])
        ]
        return spark.createDataFrame(
            rows, schema="path string, partition_json string"
        )


class Transaction:
    """Atomic multi-table commit (Iceberg catalog-swap pattern).

    ``stage*`` calls write data files immediately — their manifest dicts
    (with per-file row stats) are returned so the caller can derive metrics
    BEFORE publishing — but nothing is visible to readers until
    :meth:`commit` publishes every staged manifest and renames a new root
    pointer version in one atomic ``os.rename``.  A crash at any earlier
    point leaves readers on the previous root: either the whole wave
    happened or none of it did (closes the seen-committed/queued-not window
    of sequential per-table commits)."""

    def __init__(self, store: SnapshotStore):
        self.store = store
        self._staged: list[dict] = []

    def stage(
        self,
        df: DataFrame,
        table: str,
        mode: str = "append",
        partition_by: list[str] | None = None,
        meta: dict | None = None,
    ) -> dict:
        # same-table restaging inside one txn is unsupported — reject BEFORE
        # any data files are written (an after-the-fact assert would leave
        # orphan files and, under python -O, silently lose the first stage)
        if any(m["table"] == table for m in self._staged):
            raise ValueError(f"table {table!r} already staged in this transaction")
        man = self.store._stage_df(df, table, mode, partition_by, meta)
        self._staged.append(man)
        return man

    def stage_pylist(
        self,
        rows: list[dict],
        schema,
        table: str,
        mode: str = "append",
        meta: dict | None = None,
    ) -> dict:
        if any(m["table"] == table for m in self._staged):
            raise ValueError(f"table {table!r} already staged in this transaction")
        man = self.store._stage_rows(rows, schema, table, mode, meta)
        self._staged.append(man)
        return man

    def read(self, spark: SparkSession, table: str) -> DataFrame | None:
        """The rows this transaction staged into ``table`` (the whole new
        snapshot for an overwrite, the appended rows for an append), still
        invisible to every other reader.  Opening them runs no Spark job,
        like :meth:`SnapshotStore.read`."""
        man = next((m for m in self._staged if m["table"] == table), None)
        if man is None:
            raise ValueError(f"table {table!r} is not staged in this transaction")
        return self.store._read_files(spark, table, man["files"], man.get("schema"))

    def commit(self, meta: dict | None = None) -> dict:
        root = self.store._publish_and_swap(self._staged, meta)
        self._staged = []
        return root
