"""A minimal snapshot-versioned lake table ("mini-Iceberg") on parquet.

The reference publishes change events to Kafka and leaves materialization to
downstream consumers (``Db2ConnectorTask.java:130-136, 187-195``); our engine
*applies* changes instead, so it needs a transactional table format.  No
Iceberg/Delta jars ship in this sandbox, so this module implements the small
subset the engine needs, with the same design shape as Iceberg:

* **snapshots**: every commit writes an immutable manifest ``v{N}.json``
  listing the data files that make up that version; readers always read an
  explicit file list, never a directory (=> snapshot isolation, time travel);
* **atomic commit**: every data-file write goes through one commit path
  (``_commit_rows``: one file per bucket, spliced into the parent's file
  map); the manifest ``v{N}.json`` is written and fsync'd before the
  current-version pointer flips with an atomic, fsync'd replace
  (``write_atomic``), so a crash mid-commit leaves the previous version
  intact and the pointer never names a torn manifest;
* **manifest-level pruning**: data files are hash-bucketed by a key column
  (``pmod(xxhash64(conv_id), n_buckets)``); MERGE rewrites only the buckets
  the batch touches and carries every untouched file forward by reference
  (copy-on-write at bucket granularity — at 100 TB a small batch rewrites a
  bounded slice, not the table);
* **idempotent commits**: a commit can carry a ``batch_id``; re-applying an
  already-committed batch id is a no-op.  This is what makes the engine's
  ``foreachBatch`` MERGE exactly-once across crash/restart (the reference
  reaches the same guarantee with per-record offsets + event serial numbers,
  ``Db2OffsetContext.java:66-104``);
* **schema evolution**: the manifest historizes schemas; each data file
  records the schema version it was written under, and reads upgrade old
  files (fill added columns with their declared default, apply renames) —
  mirroring the reference's historized schema with LSN-ordered recovery
  (``Db2DatabaseSchema.java:30-77``).

Single-writer by design, like the reference's single connector task
(``Db2Connector.java:55-61``) — but the *data path* is fully parallel.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass, field
from typing import Any, Callable, Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from debezium_connector_db2_spark.operators.dedup import latest_per_key
from debezium_connector_db2_spark.streaming.checkpoint import write_atomic

_MANIFEST_DIR = "_manifests"
_VERSION_PTR = "_VERSION"
_DATA_DIR = "data"

DEFAULT_N_BUCKETS = 64

#: Per-row metadata columns of a versioned table (see ``create``).
_VERSION_META_FIELDS = [T.StructField("__commit_lsn", T.LongType(), True),
                        T.StructField("__intent_seq", T.LongType(), True),
                        T.StructField("__deleted", T.BooleanType(), True)]
VERSION_META_COLS = [f.name for f in _VERSION_META_FIELDS]


def bucket_expr(key_col: str, n_buckets: int):
    """Deterministic bucket id for a key: pmod(xxhash64(key), n)."""
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")


@dataclass
class SchemaVersion:
    version: int
    schema_json: dict
    #: columns added at this version: {name: default-literal-or-None}
    added: dict = field(default_factory=dict)
    #: columns renamed at this version: {old_name: new_name}
    renamed: dict = field(default_factory=dict)
    #: columns altered at this version: {name: {"dtype": type-string?,
    #: "default": new-default?}} — type widening and/or default change
    altered: dict = field(default_factory=dict)
    #: columns removed at this version: [name, ...]
    dropped: list = field(default_factory=list)

    @property
    def struct(self) -> T.StructType:
        return T.StructType.fromJson(self.schema_json)


class LakeTable:
    """Snapshot-versioned, bucket-partitioned parquet table."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)

    # -- creation / loading -------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        bucket_by: str,
        n_buckets: int = DEFAULT_N_BUCKETS,
        versioned: bool = False,
        merge_mode: str = "cow",
        key_cols: Sequence[str] | None = None,
    ) -> "LakeTable":
        """``versioned=True`` stores per-row ``__commit_lsn/__intent_seq/
        __deleted`` metadata and makes MERGE **order-insensitive across
        batches**: an older change arriving after a newer one (possible
        when micro-batches come from a file stream that lists files out of
        LSN order) loses the per-key argmax instead of clobbering the row,
        and deletes persist as tombstone rows (filtered on read, removed
        by ``vacuum_tombstones``) so they cannot be resurrected by late
        older updates.  The unversioned default relies on the engine
        feeding batches in LSN order (which ``CdcEngine`` guarantees).
        It stays the default because it is cheaper at scale: its MERGE
        anti-joins the stored rows with the batch keys, where the
        versioned one aggregates stored rows and changes per key and
        keeps tombstones — the CDC replay of 9.1 M events on 4 cores
        took a median 36.9 s unversioned against 43.4 s versioned
        (BASELINE.md, "One row model").

        ``merge_mode`` picks the MERGE physical strategy (Iceberg's
        ``write.merge.mode``):

        * ``"cow"`` (copy-on-write, default) — each MERGE rewrites the
          touched buckets; reads are a plain scan.  Right when batches
          are large relative to the table or reads dominate.
        * ``"mor"`` (merge-on-read) — each MERGE only *appends* the
          change rows as per-bucket delta files (one write job: no read
          of existing data, no rewrite); readers resolve the per-key
          last-writer via the ``(__commit_lsn, __intent_seq)`` argmax,
          and ``compact()`` folds deltas back to one base file per
          bucket.  Right for high-frequency micro-batches over a large
          table — write amplification drops from O(table-slice) to
          O(changes) per batch.  Requires ``versioned=True`` and
          ``key_cols`` (the resolution identity, persisted in the
          manifest so any reader agrees on it).
        """
        if merge_mode not in ("cow", "mor"):
            raise ValueError(f"unknown merge_mode {merge_mode!r}")
        if merge_mode == "mor":
            if not versioned:
                raise ValueError("merge_mode='mor' requires versioned=True "
                                 "(delta resolution needs the per-row "
                                 "position metadata)")
            if not key_cols:
                raise ValueError("merge_mode='mor' requires key_cols "
                                 "(the per-key resolution identity)")
        t = cls(spark, path)
        os.makedirs(os.path.join(t.path, _MANIFEST_DIR), exist_ok=True)
        os.makedirs(os.path.join(t.path, _DATA_DIR), exist_ok=True)
        manifest = {
            "version": 0,
            "parent": None,
            "bucket_by": bucket_by,
            "n_buckets": n_buckets,
            "versioned": versioned,
            "merge_mode": merge_mode,
            "key_cols": list(key_cols) if key_cols else None,
            "schema_versions": [
                {"version": 0, "schema_json": schema.jsonValue(), "added": {}, "renamed": {}}
            ],
            "current_schema_version": 0,
            # {bucket(str): [ {path, schema_version} ]}
            "files": {},
            "summary": {"operation": "create"},
            "committed_batch_ids": [],
        }
        t._write_manifest(manifest)
        return t

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "LakeTable":
        t = cls(spark, path)
        t.manifest()  # raises if absent
        return t

    @staticmethod
    def exists(path: str) -> bool:
        return os.path.exists(os.path.join(os.path.abspath(path), _VERSION_PTR))

    # -- manifest I/O -------------------------------------------------------

    def current_version(self) -> int:
        with open(os.path.join(self.path, _VERSION_PTR)) as f:
            return int(f.read().strip())

    def manifest(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        with open(os.path.join(self.path, _MANIFEST_DIR, f"v{v}.json")) as f:
            return json.load(f)

    def _write_manifest(self, manifest: dict) -> None:
        v = manifest["version"]
        write_atomic(os.path.join(self.path, _MANIFEST_DIR, f"v{v}.json"),
                     json.dumps(manifest))
        # Atomic pointer flip: the commit point.  The manifest is durable
        # before it; a crash before the flip leaves the table at the
        # previous version with v{N}.json orphaned (harmless); after it,
        # the new version is fully visible.
        write_atomic(os.path.join(self.path, _VERSION_PTR), str(v))

    def _versions(self) -> list[int]:
        """Versions with a manifest on disk, ascending: one listing of
        the manifest directory, so the cost follows the retained
        manifests, not every version ever committed.  Includes a
        manifest a crashed commit wrote past the current version."""
        return sorted(int(n[1:-5]) for n in os.listdir(
            os.path.join(self.path, _MANIFEST_DIR))
            if n.startswith("v") and n.endswith(".json"))

    def history(self) -> list[dict]:
        cur = self.current_version()
        return [{"version": v, "summary": self.manifest(v)["summary"]}
                for v in self._versions() if v <= cur]

    def changes_between(self, from_version: int,
                        to_version: int | None = None) -> DataFrame:
        """Net per-key changes between two retained snapshots — the
        incremental-consumption read (Iceberg's incremental scan /
        ``create_changelog_view`` in net-changes mode): everything a
        downstream consumer must apply to move a copy of this table from
        ``from_version`` to ``to_version`` (default: current).

        Versioned tables only (rows carry their applied position).  A
        row is a net change iff its ``(__commit_lsn, __intent_seq)``
        exceeds the from-snapshot's maximum applied position — one row
        per changed key: the winning upsert (``op='u'``) or a tombstone
        (``op='d'``, tombstones not yet vacuumed).  Contract (pinned in
        tests): ``read(from) + apply(changes) == read(to)``.

        Scale shape: one min/max-stat-friendly aggregate over the old
        snapshot (parquet row-group stats prune it) + one filtered scan
        of the new snapshot; no anti-join of two table-sized frames.

        A ``vacuum_tombstones`` run inside ``(from, to]`` physically
        removes delete events the changelog would need, silently
        breaking the contract — detected from the manifest summaries
        and raised (consume the changelog *before* vacuuming past it,
        exactly like binlog retention vs a lagging consumer).
        """
        m_to = self.manifest(to_version)
        if not m_to.get("versioned", False):
            raise ValueError("changes_between requires a versioned table "
                             "(rows must carry their applied position)")
        to_v = (to_version if to_version is not None
                else self.current_version())
        # an expired manifest's vacuum state is unknowable, but expiry
        # already means the window isn't replayable
        for v in [v for v in self._versions() if from_version < v <= to_v]:
            if self.manifest(v)["summary"].get("operation") == \
                    "vacuum-tombstones":
                raise ValueError(
                    f"changes_between({from_version}, {to_v}): a "
                    f"vacuum-tombstones commit at version {v} removed "
                    f"delete events inside the window — the changelog "
                    f"cannot reproduce read(to) from read(from); consume "
                    f"changes before vacuuming past them")
        base = self.read(version=from_version, raw=True)
        row = base.agg(
            F.max(F.struct(F.col("__commit_lsn"), F.col("__intent_seq")))
            .alias("p")).collect()[0]["p"]
        cur = self.read(version=to_version, raw=True)
        if row is not None:
            frontier = F.struct(
                F.lit(row["__commit_lsn"]).alias("__commit_lsn"),
                F.lit(row["__intent_seq"]).alias("__intent_seq"))
            cur = cur.where(
                F.struct(F.col("__commit_lsn"), F.col("__intent_seq"))
                > frontier)
        return cur.withColumn(
            "op",
            F.when(F.coalesce(F.col("__deleted"), F.lit(False)), "d")
            .otherwise("u"))

    def expire_snapshots(self, keep_last: int = 10) -> dict:
        """GC old versions: drop manifests older than the last
        ``keep_last`` and delete data files referenced *only* by them —
        Iceberg's ``expire_snapshots`` maintenance action.  A long-running
        micro-batch stream commits once per batch; without expiry the
        manifest dir and orphaned copy-on-write files grow forever.
        Time travel remains available for the retained window."""
        cur = self.current_version()
        cutoff = max(0, cur - keep_last + 1)
        keep_files: set[str] = set()
        for v in range(cutoff, cur + 1):
            for ents in self.manifest(v)["files"].values():
                keep_files.update(e["path"] for e in ents)
        removed_files = removed_manifests = 0
        for v in [v for v in self._versions() if v < cutoff]:
            for ents in self.manifest(v)["files"].values():
                for e in ents:
                    if e["path"] in keep_files:
                        continue
                    full = os.path.join(self.path, e["path"])
                    if os.path.exists(full):
                        os.remove(full)
                        removed_files += 1
            os.remove(os.path.join(self.path, _MANIFEST_DIR, f"v{v}.json"))
            removed_manifests += 1
        return {"removed_manifests": removed_manifests,
                "removed_files": removed_files,
                "oldest_retained": cutoff}

    def has_batch(self, batch_id: str) -> bool:
        return batch_id in self.manifest()["committed_batch_ids"]

    # -- schema -------------------------------------------------------------

    def schema_versions(self, manifest: dict | None = None) -> list[SchemaVersion]:
        m = manifest or self.manifest()
        return [SchemaVersion(s["version"], s["schema_json"], s["added"],
                              s["renamed"], s.get("altered", {}),
                              s.get("dropped", []))
                for s in m["schema_versions"]]

    def schema(self, manifest: dict | None = None) -> T.StructType:
        m = manifest or self.manifest()
        return self.schema_versions(m)[m["current_schema_version"]].struct

    def schema_history(self) -> DataFrame:
        """S12: the historized schema-change record as a queryable
        DataFrame — one row per schema version with its DDL deltas (the
        reference's schema-history topic, ``Db2DatabaseSchema.java:51-71``,
        recovered in version order)."""
        rows = [
            (sv.version,
             json.dumps(sv.added) if sv.added else None,
             json.dumps(sv.renamed) if sv.renamed else None,
             json.dumps(sv.altered) if sv.altered else None,
             json.dumps(sv.dropped) if sv.dropped else None,
             [f.name for f in sv.struct.fields])
            for sv in self.schema_versions()
        ]
        return self.spark.createDataFrame(
            rows, "version: int, added: string, renamed: string, "
                  "altered: string, dropped: string, "
                  "columns: array<string>")

    #: Spark type -> (JDBC type code, DB2-style type name) for the
    #: Connect-format history export (java.sql.Types constants; the
    #: public JDBC standard)
    _CONNECT_TYPES = {
        "string": (12, "VARCHAR"), "long": (-5, "BIGINT"),
        "integer": (4, "INTEGER"), "short": (5, "SMALLINT"),
        "double": (8, "DOUBLE"), "float": (7, "REAL"),
        "boolean": (16, "BOOLEAN"), "date": (91, "DATE"),
        "timestamp": (93, "TIMESTAMP"), "binary": (2004, "BLOB"),
    }

    def connect_schema_history(self, server: str = "cdc",
                               database: str = "TESTDB",
                               schema_name: str = "DB0") -> list[dict]:
        """The schema history rendered as Kafka-Connect-style
        schema-change records — one dict per schema version, in the
        documented shape of Debezium's schema-history/schema-change
        topic (``source``/``position``/``tableChanges`` with a
        ``TableChanges``-style table struct), so a consumer migrating
        off the reference's history topic
        (``Db2DatabaseSchema.java:51-71``) can replay this table's
        evolution without parsing the lake manifest.

        Faithful simplifications, documented rather than faked:
        ``ddl`` is ``null`` (the reference's DB2 connector registers no
        DDL parser — ``getDdlParser()`` returns null — so its records
        carry null DDL too), and ``position`` is the lake's own
        coordinate system (``schema_version``) rather than an LSN,
        exactly as each connector family defines its own position keys.
        Version 0 is the CREATE record; every subsequent version is an
        ALTER.
        """
        tid = f'"{database}"."{schema_name}"."{self.table_name()}"'
        m = self.manifest()
        pk = m.get("key_cols") or [m["bucket_by"]]
        records = []
        for sv in self.schema_versions(m):
            cols = []
            for i, f in enumerate(sv.struct.fields):
                tname = f.dataType.typeName()
                if tname.startswith("decimal"):
                    jdbc, dbt = 3, "DECIMAL"
                else:
                    jdbc, dbt = self._CONNECT_TYPES.get(
                        tname, (1111, tname.upper()))  # 1111 = OTHER
                cols.append({
                    "name": f.name,
                    "jdbcType": jdbc,
                    "typeName": dbt,
                    "typeExpression": dbt,
                    "charsetName": None,
                    "position": i + 1,
                    "optional": bool(f.nullable),
                    "autoIncremented": False,
                    "generated": False,
                })
            records.append({
                "source": {"server": server},
                "position": {"schema_version": sv.version,
                             "snapshot": sv.version == 0},
                "databaseName": database,
                "schemaName": schema_name,
                "ddl": None,
                "tableChanges": [{
                    "type": "CREATE" if sv.version == 0 else "ALTER",
                    "id": tid,
                    "table": {
                        "defaultCharsetName": None,
                        "primaryKeyColumnNames": list(pk),
                        "columns": cols,
                    },
                }],
            })
        return records

    def table_name(self) -> str:
        """Logical table identity: the path leaf (the repo keys capture
        tables by name throughout, SURVEY §2.8)."""
        return os.path.basename(os.path.normpath(self.path))

    def recover_schema_history(self) -> T.StructType:
        """Rebuild a lost/corrupted schema-version manifest from the data
        files' parquet footers — the lake half of the reference's
        ``recovery`` snapshot mode (``Db2ConnectorConfig.java:60-110``:
        rebuild schema history without re-snapshotting data; exercised by
        ``Db2ConnectorIT.java:912-1085``).

        The union of all data files' physical schemas (minus internal
        ``__``-columns) becomes schema version 0; every file is
        re-stamped at that version.  As in the reference, only the
        *current* shape is recoverable: rename lineage and column
        defaults from the lost history are gone (files written under an
        old column name surface that name as an extra all-null column).
        Commits as a normal manifest version, so the recovery itself is
        atomic and appears in ``history()``.
        """
        m = self.manifest()
        paths = [os.path.join(self.path, fe["path"])
                 for files in m["files"].values() for fe in files]
        if not paths:
            raise ValueError(
                "cannot recover schema history: table has no data files")
        phys = (self.spark.read.option("mergeSchema", "true")
                .parquet(*paths).schema)
        struct = T.StructType(
            [f for f in phys.fields if not f.name.startswith("__")])
        m2 = dict(m)
        m2["version"] = m["version"] + 1
        m2["parent"] = m["version"]
        m2["schema_versions"] = [{
            "version": 0, "schema_json": struct.jsonValue(),
            "added": {}, "renamed": {},
        }]
        m2["current_schema_version"] = 0
        m2["files"] = {
            b: [{**fe, "schema_version": 0} for fe in files]
            for b, files in m["files"].items()
        }
        m2["summary"] = {"operation": "schema-recovery"}
        self._write_manifest(m2)
        return struct

    def _commit_schema(self, m: dict, schema: T.StructType, summary: dict,
                       added: dict | None = None, renamed: dict | None = None,
                       **change) -> None:
        """Commit ``schema`` as the next schema version: the one step
        every metadata-only DDL ends with.  ``change`` carries the
        version's ``dropped`` / ``altered`` entry, if any."""
        ver = m["current_schema_version"] + 1
        m["schema_versions"].append(
            {"version": ver, "schema_json": schema.jsonValue(),
             "added": added or {}, "renamed": renamed or {}, **change})
        m["current_schema_version"] = ver
        self._commit_child(m, summary)

    def add_column(self, name: str, dtype: str, default: Any = None) -> None:
        """ADD COLUMN (metadata-only, like Iceberg).

        Existing rows observe ``default`` (the reference backfills parsed
        column defaults on schema-add, ``Db2DefaultValueConverter.java:96-229``);
        new data may still write NULL explicitly.

        Idempotent: re-adding an existing column is a no-op.  The engine
        replays DDL on restart when a crash lands between the DDL commit
        and the next checkpoint write (the checkpoint still points before
        the schema change's effective LSN); without this guard the replay
        would commit a duplicate column and poison every later read.

        ``default`` may be a typed literal or a Db2 special-register
        string (``CURRENT DATE`` / ``CURRENT TIME`` / ``CURRENT
        TIMESTAMP``) or quoted literal, parsed with the reference's rules
        (``Db2DefaultValueConverter.java:96-229``) via
        functions/defaults.py.
        """
        m = self.manifest()
        cur = self.schema(m)
        if any(f.name == name for f in cur.fields):
            return
        if isinstance(default, str):
            from debezium_connector_db2_spark.functions.defaults import (
                parse_default_value,
            )

            default = parse_default_value(dtype, default)
        new_schema = T.StructType(list(cur.fields) + [T.StructField(name, _parse_type(dtype), True)])
        self._commit_schema(m, new_schema,
                            {"operation": "add-column", "column": name},
                            added={name: default})

    def rename_column(self, old: str, new: str) -> None:
        """RENAME COLUMN (metadata-only).  Idempotent like ``add_column``:
        if ``old`` is gone and ``new`` exists, the rename already applied
        (DDL replay after a crash-before-checkpoint) and this is a no-op."""
        m = self.manifest()
        cur = self.schema(m)
        names = [f.name for f in cur.fields]
        if old not in names:
            if new in names:
                return
            raise ValueError(f"rename source column {old!r} does not exist")
        if new in names:
            raise ValueError(f"rename target column {new!r} already exists")
        new_schema = T.StructType(
            [T.StructField(new if f.name == old else f.name, f.dataType, f.nullable)
             for f in cur.fields]
        )
        # merge-on-read resolution identity follows the rename (old delta
        # files are upgraded to the new name on read before resolution)
        if m.get("key_cols") and old in m["key_cols"]:
            m["key_cols"] = [new if k == old else k for k in m["key_cols"]]
        self._commit_schema(m, new_schema,
                            {"operation": "rename-column", "from": old, "to": new},
                            renamed={old: new})

    def drop_column(self, name: str) -> None:
        """DROP COLUMN (metadata-only, like Iceberg): the column leaves
        the schema from this version on; files already materialized
        keep it physically and reads project it away — no rewrite.
        Debezium core's schema history tolerates removed capture-table
        columns (the Db2 connector records full table-structure
        snapshots per change, ``Db2DatabaseSchema.java:51-71``); this is
        the target-side application of that DDL family (K11's
        include/exclude lists cover projection at creation; this covers
        mid-life removal).

        The bucket key and MoR ``key_cols`` are protected (dropping the
        partitioning/resolution identity would orphan every row), same
        rule as ``filters.filtered_schema``.

        Idempotent: dropping a column absent from the current schema is
        a no-op — the engine replays DDL on restart when a crash lands
        between the DDL commit and the next checkpoint write, and the
        replay must not raise (same contract as ``add_column`` /
        ``alter_column``).  A column may be re-added after a drop; old
        files' physical values for it are NOT resurrected (the add's
        declared default applies — Db2 semantics, where the re-added
        column is a brand-new one).
        """
        m = self.manifest()
        cur = self.schema(m)
        if not any(f.name == name for f in cur.fields):
            return  # replayed DDL (or never existed) — no-op
        protected = {m["bucket_by"], *(m.get("key_cols") or [])}
        if name in protected:
            raise ValueError(
                f"cannot drop {name!r}: it is the bucket key or part of "
                f"the merge-on-read key_cols {sorted(protected)}")
        new_schema = T.StructType([f for f in cur.fields if f.name != name])
        self._commit_schema(m, new_schema,
                            {"operation": "drop-column", "column": name},
                            dropped=[name])

    _ALTER_UNSET = object()

    def alter_column(self, name: str, dtype: str | None = None,
                     default: Any = _ALTER_UNSET) -> None:
        """ALTER COLUMN: widen an existing column's type and/or change
        its declared default (metadata-only, like Iceberg type
        promotion).  Mirrors the reference's offline/online
        default-value evolution (``AbstractDb2DefaultValueIT.java:253-258``,
        ``Db2OfflineDefaultValueIT.java:33-51``,
        ``ZZZDb2OnlineDefaultValueIT.java:37-49``) and Db2's ALTER
        COLUMN SET DATA TYPE widening.

        Type changes must be *widenings* (int→bigint, float→double,
        decimal(p,s)→decimal(p',s') with no loss of integer digits or
        scale, any integer→decimal that fits): narrowing would make old
        files unreadable losslessly and is refused.  Old files are
        upgraded on read by a cast to the widened type — no rewrite.

        A default change affects the *declared* default from this
        version on — rows already materialized under the old default
        keep their value, exactly as in Db2 (the reference asserts the
        schema's default changes for records after the ALTER, not that
        history rewrites).  Pass ``default=None`` to drop the default.
        Db2 special-register / quoted-literal default strings are parsed
        with the reference's rules (``Db2DefaultValueConverter.java:96-229``).

        Idempotent: altering to the current type with no default change
        is a no-op (DDL replay after crash-before-checkpoint).
        """
        m = self.manifest()
        cur = self.schema(m)
        fld = next((f for f in cur.fields if f.name == name), None)
        if fld is None:
            raise ValueError(f"alter target column {name!r} does not exist")
        delta: dict = {}
        new_type = fld.dataType
        if dtype is not None:
            new_type = _parse_type(dtype)
            if new_type != fld.dataType:
                if not _is_widening(fld.dataType, new_type):
                    raise ValueError(
                        f"cannot alter {name!r} from "
                        f"{fld.dataType.simpleString()} to "
                        f"{new_type.simpleString()}: not a widening")
                delta["dtype"] = new_type.simpleString()
        if default is not LakeTable._ALTER_UNSET:
            raw = default if isinstance(default, str) else None
            if raw is not None and raw == self._column_default_raw(name, m):
                # Replayed DDL (crash before checkpoint re-applies the
                # ALTER): the same *source text* was already applied —
                # no-op, so CURRENT DATE/TIMESTAMP register defaults
                # stay pinned at first application instead of drifting
                # to a new clock value on every replay.
                default = LakeTable._ALTER_UNSET
            else:
                if isinstance(default, str):
                    from debezium_connector_db2_spark.functions.defaults import (
                        parse_default_value,
                    )

                    default = parse_default_value(
                        dtype or fld.dataType.simpleString(), default)
                if default == self.column_default(name, m):
                    default = LakeTable._ALTER_UNSET  # value unchanged
                else:
                    delta["default"] = default
                    if raw is not None:
                        delta["default_raw"] = raw
        if not delta:
            return  # no-op / replayed ALTER
        new_schema = T.StructType(
            [T.StructField(name, new_type, f.nullable) if f.name == name
             else f for f in cur.fields]
        )
        self._commit_schema(m, new_schema,
                            {"operation": "alter-column", "column": name,
                             **{k: str(v) for k, v in delta.items()}},
                            altered={name: delta})

    def column_default(self, name: str,
                       manifest: dict | None = None) -> Any:
        """The column's *currently declared* default: the latest
        ``altered`` delta that set one, else the ``added`` default, else
        None — what a new record that omits the column observes from
        this schema version on."""
        out = None
        for sv in self.schema_versions(manifest):
            if name in sv.added:
                out = sv.added[name]
            if name in sv.altered and "default" in sv.altered[name]:
                out = sv.altered[name]["default"]
        return out

    def _column_default_raw(self, name: str,
                            manifest: dict | None = None) -> str | None:
        """The *source text* of the column's latest default (when the
        ALTER supplied one), used to detect replayed DDL exactly even
        for CURRENT DATE/TIMESTAMP register defaults whose parsed value
        is clock-dependent."""
        out = None
        for sv in self.schema_versions(manifest):
            if name in sv.altered and "default" in sv.altered[name]:
                out = sv.altered[name].get("default_raw")
        return out

    #: Recent-batch-id window carried in each manifest.  A replayed batch
    #: can only re-present positions at or after the engine checkpoint, so
    #: ids older than the last N commits can never be offered again —
    #: keeping the full history would grow every child manifest linearly
    #: per commit (quadratic cumulative I/O over a long-running stream).
    MAX_BATCH_IDS = 512

    def _commit_child(self, mutated: dict, summary: dict, batch_id: str | None = None) -> None:
        mutated["parent"] = mutated["version"]
        mutated["version"] = mutated["version"] + 1
        mutated["summary"] = summary
        if batch_id is not None:
            ids = mutated["committed_batch_ids"] + [batch_id]
            mutated["committed_batch_ids"] = ids[-self.MAX_BATCH_IDS:]
        self._write_manifest(mutated)

    # -- read ---------------------------------------------------------------

    def read(self, version: int | None = None, buckets: Iterable[int] | None = None,
             raw: bool = False) -> DataFrame:
        """Read a snapshot (optionally only the given buckets).

        Files written under older schema versions are upgraded to the
        current schema: renames applied, added columns filled with their
        declared default — historized-schema reads as in
        ``Db2DatabaseSchema`` recovery.

        On a versioned table, ``raw=True`` keeps tombstone rows and the
        ``__commit_lsn/__intent_seq/__deleted`` metadata columns; the
        default filters tombstones and returns only user columns.
        """
        return self._read(self.manifest(version), buckets, raw)

    def _read(self, m: dict, buckets: Iterable[int] | None = None,
              raw: bool = False) -> DataFrame:
        """``read`` of the snapshot ``m`` a caller already holds."""
        svs = self.schema_versions(m)
        cur_ver = m["current_schema_version"]
        target = svs[cur_ver].struct
        cols = [f.name for f in target.fields]
        versioned = m.get("versioned", False)
        meta_fields = _VERSION_META_FIELDS if versioned else []
        out_cols = cols + (VERSION_META_COLS if versioned and raw else [])

        want = None if buckets is None else {int(b) for b in buckets}
        by_schema: dict[int, list[str]] = {}
        for b, files in m["files"].items():
            if want is not None and int(b) not in want:
                continue
            for fent in files:
                by_schema.setdefault(fent["schema_version"], []).append(
                    os.path.join(self.path, fent["path"])
                )

        if not by_schema:
            return self.spark.createDataFrame(
                [], T.StructType(list(target.fields) + (meta_fields if raw else []))
            )

        inner_cols = cols + (VERSION_META_COLS if versioned else [])
        parts = []
        for sv, paths in sorted(by_schema.items()):
            fschema = T.StructType(list(svs[sv].struct.fields) + meta_fields)
            df = self.spark.read.schema(fschema).parquet(*paths)
            # upgrade sv -> cur_ver
            for step in range(sv + 1, cur_ver + 1):
                for old, new in svs[step].renamed.items():
                    df = df.withColumnRenamed(old, new)
                for name, default in svs[step].added.items():
                    ftype = next(f.dataType for f in svs[step].struct.fields if f.name == name)
                    df = df.withColumn(name, F.lit(default).cast(ftype))
                for name, delta in svs[step].altered.items():
                    # type widening: lossless cast on read; a default
                    # change never rewrites materialized rows (Db2
                    # ALTER ... SET DEFAULT semantics)
                    if "dtype" in delta:
                        df = df.withColumn(
                            name, F.col(name).cast(delta["dtype"]))
                if svs[step].dropped:
                    # projection-on-read: old files keep the column
                    # physically; dropping here (before any later re-add
                    # step) means a re-added column observes its new
                    # declared default, never resurrected old values
                    df = df.drop(*svs[step].dropped)
            parts.append(df.select(inner_cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if versioned and m.get("merge_mode", "cow") == "mor":
            # merge-on-read resolution: base + delta rows collapse to the
            # per-key (__commit_lsn, __intent_seq) winner of the engine's
            # one last-writer kernel.  One shuffle on the key — the
            # read-side half of the MoR tradeoff (writes became
            # O(changes)); compact() folds deltas so steady-state reads
            # pay it over one file per bucket.
            out = latest_per_key(out, m["key_cols"],
                                 ("__commit_lsn", "__intent_seq"))
        if versioned and not raw:
            out = out.where(~F.coalesce(F.col("__deleted"), F.lit(False)))
        return out.select(out_cols)

    # -- write paths --------------------------------------------------------

    def _stored(self, df: DataFrame, m: dict,
                position: tuple[int, int] | None = None) -> DataFrame:
        """``df`` as stored under manifest ``m``: the current schema's
        columns, the version metadata on a versioned table (stamped with
        ``position`` when given, else taken from ``df``), and
        ``__bucket``."""
        meta = []
        if m.get("versioned", False):
            meta = VERSION_META_COLS if position is None else [
                F.lit(position[0]).cast("long").alias("__commit_lsn"),
                F.lit(position[1]).cast("long").alias("__intent_seq"),
                F.lit(False).alias("__deleted")]
        return df.select(*[f.name for f in self.schema(m).fields], *meta,
                         bucket_expr(m["bucket_by"], m["n_buckets"])
                         .alias("__bucket"))

    def _commit_rows(self, m: dict, rows: DataFrame,
                     summary: dict | Callable[[dict], dict],
                     batch_id: str | None = None,
                     replace: Sequence[int] | None = None) -> None:
        """The one data commit: write ``rows`` (from ``_stored``) as one
        parquet file per bucket, splice them into ``m``'s file map and
        commit ``m`` as its child.  The new files replace those of the
        buckets in ``replace`` (every bucket when None) and are appended
        to the others.  ``summary`` may be a function of the written
        ``{bucket: [file-entry]}`` map.

        ``repartition(n_buckets, "__bucket")`` gives each bucket exactly
        one output partition => one file per bucket per commit (bounded
        file counts; at cluster scale you'd raise files-per-bucket via a
        second split key).  The exchange is sized by the table's own
        bucket count instead of ``spark.sql.shuffle.partitions`` plus an
        AQE re-coalesce round (measured ~0.1 s per micro-batch commit at
        local scale; at cluster scale n_buckets IS the write parallelism
        a bucketed table wants).
        """
        staging_rel = os.path.join(_DATA_DIR, f"commit-{uuid.uuid4().hex[:12]}")
        staging = os.path.join(self.path, staging_rel)
        (
            rows.repartition(max(int(m["n_buckets"]), 1), "__bucket")
            .write.partitionBy("__bucket")
            .mode("overwrite")
            .parquet(staging)
        )
        written: dict[int, list[dict]] = {}
        for d in os.listdir(staging):
            if not d.startswith("__bucket="):
                continue
            for fn in os.listdir(os.path.join(staging, d)):
                if fn.endswith(".parquet"):
                    written.setdefault(int(d.split("=", 1)[1]), []).append(
                        {"path": os.path.join(staging_rel, d, fn),
                         "schema_version": m["current_schema_version"]})
        files = {} if replace is None else {
            b: ents for b, ents in m["files"].items() if int(b) not in replace}
        for b, ents in written.items():
            files[str(b)] = files.get(str(b), []) + ents
        m["files"] = files
        self._commit_child(m, summary(written) if callable(summary) else summary,
                           batch_id)

    def overwrite(self, df: DataFrame, batch_id: str | None = None,
                  summary: dict | None = None,
                  position: tuple[int, int] = (0, 0)) -> None:
        """Replace the table's contents (snapshot bulk load).

        On a versioned table, rows are stamped with ``position`` (the
        snapshot LSN) so later streamed changes compare correctly."""
        m = self.manifest()
        if batch_id is not None and batch_id in m["committed_batch_ids"]:
            return
        self._commit_rows(m, self._stored(df, m, position),
                          summary or {"operation": "overwrite"}, batch_id)

    def append(self, df: DataFrame, batch_id: str | None = None,
               summary: dict | None = None,
               position: tuple[int, int] = (0, 0)) -> None:
        m = self.manifest()
        if batch_id is not None and batch_id in m["committed_batch_ids"]:
            return
        self._commit_rows(m, self._stored(df, m, position),
                          summary or {"operation": "append"}, batch_id,
                          replace=())

    # -- MERGE (the J5 sink kernel) -----------------------------------------

    def merge_changes(
        self,
        changes: DataFrame,
        key_cols: Sequence[str],
        op_col: str = "op",
        delete_op: str = "d",
        batch_id: str | None = None,
        summary: dict | None = None,
    ) -> bool:
        """MERGE a deduplicated change set into the table.

        Semantics of Iceberg's::

            MERGE INTO t USING s ON <key>
            WHEN MATCHED AND s.op = 'd' THEN DELETE
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED AND s.op != 'd' THEN INSERT *

        (reference sink semantics: PK-keyed compacted topic with delete
        tombstones, ``Db2ConnectorIT.java:104-258``).

        ``changes`` must have ≤1 row per key (run the A4 last-writer-wins
        dedup first).  Copy-on-write at bucket granularity: only buckets
        containing changed keys are rewritten; every other data file is
        carried forward by reference.  Returns False if ``batch_id`` was
        already committed (idempotent replay).
        """
        m = self.manifest()
        if batch_id is not None and batch_id in m["committed_batch_ids"]:
            return False
        cols = [f.name for f in self.schema(m).fields]
        versioned = m.get("versioned", False)

        def versioned_rows(df):
            # change rows as versioned rows: their position, and deletes
            # as tombstones
            return df.select(
                *cols,
                F.col("commit_lsn").alias("__commit_lsn"),
                F.col("intent_seq").alias("__intent_seq"),
                (F.col(op_col) == delete_op).alias("__deleted"))

        if m.get("merge_mode", "cow") == "mor":
            if list(key_cols) != list(m["key_cols"]):
                # the read-side latest_per_key collapses under the
                # manifest identity; a delta written under different keys
                # would silently produce per-key results the caller never
                # asked for — fail loudly instead.
                raise ValueError(
                    f"merge_changes key_cols {list(key_cols)!r} != "
                    f"manifest key_cols {m['key_cols']!r} for a "
                    f"merge-on-read table")
            # Merge-on-read: append the (already per-key-deduped) change
            # rows as per-bucket delta files — ONE write job proportional
            # to the batch, no read of existing data, no rewrite, no
            # driver-side probes.  Resolution happens on read
            # (latest_per_key); compact() folds deltas into the base.
            self._commit_rows(
                m, self._stored(versioned_rows(changes), m),
                summary or (lambda written: {"operation": "merge-delta",
                                             "delta_buckets": len(written)}),
                batch_id, replace=())
            return True

        # Copy-on-write reads the change set twice (the bucket probe, then
        # the rewrite): cache it for the span of this MERGE only.
        changes = changes.persist()
        try:
            touched = self._buckets_of(changes, m)
            if not touched:
                self._commit_child(
                    dict(m), summary or {"operation": "merge", "empty": True},
                    batch_id)
                return True

            old = self._read(m, buckets=touched, raw=versioned)
            if versioned:
                # Order-insensitive path: the per-key latest_per_key
                # winner over (old rows ∪ changes) on (__commit_lsn,
                # __intent_seq); deletes become retained tombstone rows.
                # Safe under out-of-order batch delivery (e.g. a
                # file-stream source), at the cost of storing tombstones
                # until vacuum.
                new_rows = latest_per_key(
                    old.unionByName(versioned_rows(changes)), key_cols,
                    ("__commit_lsn", "__intent_seq"))
            else:
                # Survivors: target rows whose key does NOT appear in the
                # batch.  ``changes`` carries ≤1 row per key (A4 dedup ran
                # upstream), so no distinct is needed; AQE converts this
                # to a broadcast anti-join when the key set is small.
                survivors = old.join(changes.select(*key_cols),
                                     on=list(key_cols), how="left_anti")
                new_rows = survivors.unionByName(
                    changes.where(F.col(op_col) != delete_op).select(*cols))
            self._commit_rows(
                m, self._stored(new_rows, m),
                summary or {"operation": "merge",
                            "touched_buckets": len(touched)},
                batch_id, replace=touched)
        finally:
            changes.unpersist()
        return True

    @staticmethod
    def _buckets_of(df: DataFrame, m: dict) -> list[int]:
        """Manifest-level pruning: the buckets ``df``'s rows fall in under
        ``m``.  Bounded by n_buckets, so the collect is tiny."""
        return [r["__bucket"] for r in df.select(
            bucket_expr(m["bucket_by"], m["n_buckets"]).alias("__bucket")
        ).distinct().collect()]

    def compact(self, max_files_per_bucket: int = 1) -> int:
        """Rewrite buckets whose file count exceeds the threshold (appends
        accumulate one file per commit; MERGE self-compacts because it
        rewrites touched buckets).  Returns the number of buckets
        compacted.  At cluster scale this is the background-maintenance
        analogue of Iceberg's rewrite_data_files."""
        m = self.manifest()
        over = [int(b) for b, ents in m["files"].items()
                if len(ents) > max_files_per_bucket]
        if not over:
            return 0
        self._commit_rows(m, self._stored(self._read(m, over, raw=True), m),
                          {"operation": "compact", "buckets": len(over)},
                          replace=over)
        return len(over)

    def rebucket(self, n_buckets: int) -> None:
        """Change the hash-bucket count (full rewrite, one commit).

        Bucket count is the MERGE-parallelism / file-granularity knob: a
        table created small (64 buckets) that grows to lake scale wants
        more buckets so copy-on-write rewrites stay a bounded slice.
        Iceberg evolves `bucket(N, col)` partition specs the same way —
        new spec applies to rewritten data; here the single commit
        rewrites everything (run in a quiet window, like any repartition
        of a 100 TB table)."""
        m = self.manifest()
        if n_buckets == m["n_buckets"]:
            return
        rows = self._read(m, raw=True)
        m["n_buckets"] = n_buckets
        self._commit_rows(m, self._stored(rows, m),
                          {"operation": "rebucket", "n_buckets": n_buckets})

    def vacuum_tombstones(self, before_lsn: int) -> int:
        """Physically drop tombstone rows older than ``before_lsn`` (safe
        once no batch at an older position can still arrive — i.e. the
        engine's checkpoint has passed it).  Rewrites only the buckets
        holding such a tombstone and commits nothing when none does (an
        unversioned table holds none).  Returns the number of buckets
        rewritten."""
        m = self.manifest()
        if not m.get("versioned", False):
            return 0
        stale = F.coalesce(F.col("__deleted")
                           & (F.col("__commit_lsn") < before_lsn),
                           F.lit(False))
        buckets = self._buckets_of(self._read(m, raw=True).where(stale), m)
        if not buckets:
            return 0
        self._commit_rows(
            m, self._stored(self._read(m, buckets, raw=True).where(~stale), m),
            {"operation": "vacuum-tombstones", "before_lsn": before_lsn,
             "buckets": len(buckets)},
            replace=buckets)
        return len(buckets)


def _is_widening(old: T.DataType, new: T.DataType) -> bool:
    """True iff every value of ``old`` is exactly representable in
    ``new`` (lossless cast): integer up-casts, float→double,
    decimal(p,s)→decimal(p',s') keeping all integer digits and scale,
    integer→decimal with enough integer digits."""
    ints = [T.ShortType(), T.IntegerType(), T.LongType()]
    int_digits = {T.ShortType(): 5, T.IntegerType(): 10, T.LongType(): 19}
    if old in ints and new in ints:
        return ints.index(new) >= ints.index(old)
    if old == T.FloatType() and new == T.DoubleType():
        return True
    if isinstance(old, T.DecimalType) and isinstance(new, T.DecimalType):
        return (new.scale >= old.scale
                and new.precision - new.scale >= old.precision - old.scale)
    if old in ints and isinstance(new, T.DecimalType):
        return new.precision - new.scale >= int_digits[old]
    return False


def _parse_type(dtype: str) -> T.DataType:
    mapping = {
        "string": T.StringType(), "int": T.IntegerType(), "bigint": T.LongType(),
        "long": T.LongType(), "double": T.DoubleType(), "float": T.FloatType(),
        "boolean": T.BooleanType(), "timestamp": T.TimestampType(),
        "date": T.DateType(), "short": T.ShortType(), "binary": T.BinaryType(),
    }
    if dtype in mapping:
        return mapping[dtype]
    if dtype.lower().startswith("char("):
        return T.StringType()  # CHAR stored as padded string (C8 semantics)
    return T._parse_datatype_string(dtype)  # decimals etc.
