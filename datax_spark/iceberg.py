"""IcebergTable — the cluster deployment backend.

`SnapshotTable` (table.py) reproduces Iceberg-shaped semantics for this
jar-less sandbox; on a real cluster the same engine drives an actual
Iceberg catalog through this class, which exposes the identical
surface: merge / snapshot / evolve_schema / committed_batch_ids /
lineage. `CDCEngine` accepts either (duck-typed).

Exactly-once here rides on Iceberg's own transactional commit: the
batch-id ledger and lineage land in snapshot summary properties via
`snapshot-property.` write options, so a crash can never separate data
from its provenance — the same invariant SnapshotTable keeps by
embedding lineage in its commit record.

Requires `spark.sql.catalog.<cat>` configured with the
iceberg-spark-runtime jar (`available()` reports this). No jar ships
in this sandbox, so this module is exercised on clusters, not by the
local test suite; the shared engine tests run against SnapshotTable.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from .table import CommitInfo

BATCH_LEDGER_PROP = "datax.batch-ids"          # per-snapshot DELTA
BATCH_LEDGER_BASE_PROP = "datax.batch-ids-base"  # compacted base (table prop)
LINEAGE_PROP = "datax.lineage"


# ---------- SQL builders (pure, golden-tested without the runtime jar)


def create_table_sql(
    identifier: str, schema: T.StructType, bucket_col: str, num_buckets: int
) -> str:
    cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)
    return (
        f"CREATE TABLE {identifier} ({cols}, `_lsn` bigint, `_tombstone` boolean) "
        f"USING iceberg "
        f"PARTITIONED BY (bucket({num_buckets}, `{bucket_col}`)) "
        f"TBLPROPERTIES ('write.merge.mode'='merge-on-read', "
        f"'write.distribution-mode'='hash', 'format-version'='2')"
    )


def evolve_sql_statements(
    identifier: str, cur: dict[str, T.DataType], new: dict[str, T.DataType]
) -> list[str]:
    """Iceberg DDL deltas for add / retype / drop — all metadata-only
    in format v2, in deterministic (new-schema, then drop) order."""
    stmts = []
    for name, dt in new.items():
        if name not in cur:
            stmts.append(
                f"ALTER TABLE {identifier} ADD COLUMN `{name}` {dt.simpleString()}"
            )
        elif cur[name] != dt:
            stmts.append(
                f"ALTER TABLE {identifier} ALTER COLUMN `{name}` TYPE {dt.simpleString()}"
            )
    for name in cur:
        if name not in new:
            stmts.append(f"ALTER TABLE {identifier} DROP COLUMN `{name}`")
    return stmts


def tombstone_migration_sql(identifier: str) -> str:
    """Upgrade DDL for a table created before tombstoned deletes: the
    `_tombstone` column is metadata-only to add in Iceberg format v2,
    and a NULL value reads as not-deleted everywhere (every consumer
    coalesces it to false) — so the migration is safe on live data."""
    return f"ALTER TABLE {identifier} ADD COLUMN `_tombstone` boolean"


def _procedure_ns(identifier: str) -> str:
    """Namespace of an Iceberg stored procedure for a table: the
    table's own catalog for a 3-part `catalog.db.table`, the session
    catalog's bare `system` for a 2-part `db.table` (whose first part
    is a database, not a catalog)."""
    parts = identifier.split(".")
    return f"{parts[0]}.system" if len(parts) >= 3 else "system"


def compact_sql(identifier: str, target_file_size_bytes: int | None = None) -> str:
    """The cluster twin of SnapshotTable.compact_buckets: Iceberg's
    rewrite_data_files procedure bin-packs the merge-on-read delta
    files (this table is created with write.merge.mode=merge-on-read,
    see create_table_sql) back into full-size base files, bounding
    read amplification exactly as the sandbox backend's bucket
    compaction does. Run on the maintenance cadence, not per batch."""
    opts = f"table => '{identifier}'"
    if target_file_size_bytes is not None:
        opts += (
            ", options => map('target-file-size-bytes', "
            f"'{int(target_file_size_bytes)}')"
        )
    return f"CALL {_procedure_ns(identifier)}.rewrite_data_files({opts})"


def expire_snapshots_sql(identifier: str, older_than: str) -> str:
    """The raw expiry call — only ever issued via
    IcebergTable.expire_snapshots, which compacts the batch-id ledger
    first (per-snapshot summaries carry ledger DELTAS; expiring them
    un-compacted would break exactly-once)."""
    return (
        f"CALL {_procedure_ns(identifier)}.expire_snapshots("
        f"table => '{identifier}', older_than => TIMESTAMP '{older_than}')"
    )


def merge_sql(
    identifier: str,
    data_cols: list[str],
    key_cols: list[str],
    lsn_col: str = "lsn",
    op_col: str = "op",
    source_view: str = "_datax_merge_src",
) -> str:
    """The one MERGE INTO statement the engine issues per micro-batch:
    LSN-guarded LWW upsert + tombstoned delete, insert of unseen keys
    (deletes of unseen keys insert a MARKER row, not nothing). The
    `s.lsn > t._lsn` guard makes replays idempotent at the row level
    beyond the batch-id ledger, and — same contract as
    SnapshotTable.merge — deletes set `_tombstone` instead of DELETE,
    so a late out-of-order redelivery of an older update cannot
    resurrect the key (a physical DELETE leaves no lsn to compare
    against). Readers filter `_tombstone`; reclaim via a periodic
    `DELETE FROM t WHERE _tombstone AND _lsn < <replay low-watermark>`."""
    on = " AND ".join(f"t.`{k}` = s.`{k}`" for k in key_cols)
    payload = [c for c in data_cols if c not in key_cols]
    del_sets = ", ".join(f"t.`{c}` = NULL" for c in payload)
    del_sets = (del_sets + ", " if del_sets else "") + (
        f"t.`_lsn` = s.`{lsn_col}`, t.`_tombstone` = true"
    )
    set_cols = ", ".join(f"t.`{c}` = s.`{c}`" for c in payload)
    ins_cols = ", ".join(f"`{c}`" for c in data_cols + ["_lsn", "_tombstone"])
    ins_vals = ", ".join(f"s.`{c}`" for c in data_cols) + f", s.`{lsn_col}`, false"
    tomb_ins_vals = ", ".join(
        f"s.`{c}`" if c in key_cols else "NULL" for c in data_cols
    ) + f", s.`{lsn_col}`, true"
    return (
        f"""
            MERGE INTO {identifier} t USING {source_view} s ON {on}
            WHEN MATCHED AND s.`{lsn_col}` > t.`_lsn` AND s.`{op_col}` = 'D' THEN UPDATE SET {del_sets}
            WHEN MATCHED AND s.`{lsn_col}` > t.`_lsn` THEN UPDATE SET {set_cols}, t.`_lsn` = s.`{lsn_col}`, t.`_tombstone` = false
            WHEN NOT MATCHED AND s.`{op_col}` = 'D' THEN INSERT ({ins_cols}) VALUES ({tomb_ins_vals})
            WHEN NOT MATCHED THEN INSERT ({ins_cols}) VALUES ({ins_vals})
            """
    )


class IcebergTable:
    def __init__(self, spark: SparkSession, identifier: str, key_cols: list[str]):
        self.spark = spark
        self.identifier = identifier
        self.key_cols = list(key_cols)

    # ---------- availability ----------

    @staticmethod
    def available(spark: SparkSession, catalog: str = "spark_catalog") -> bool:
        try:
            impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
        except Exception:
            impl = None
        return impl is not None and "iceberg" in str(impl).lower()

    # ---------- lifecycle ----------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        identifier: str,
        schema: T.StructType,
        key_cols: list[str],
        num_buckets: int = 64,
    ) -> "IcebergTable":
        spark.sql(create_table_sql(identifier, schema, key_cols[-1], num_buckets))
        return cls(spark, identifier, key_cols)

    # ---------- reads / metadata ----------

    @property
    def schema(self) -> T.StructType:
        fields = [
            f for f in self.spark.table(self.identifier).schema.fields
            if f.name not in ("_lsn", "_tombstone")
        ]
        return T.StructType(fields)

    def _ensure_tombstone_column(self) -> None:
        """Tables created by a pre-tombstone create_table_sql lack
        `_tombstone`; the first merge/snapshot after upgrading would
        fail analysis. Detect and ALTER in (metadata-only in v2; NULL
        reads as not-deleted — see tombstone_migration_sql). The
        SnapshotTable backend handles the same upgrade via
        coalesce-on-read; Iceberg needs the physical column for
        MERGE's UPDATE SET."""
        cols = {f.name for f in self.spark.table(self.identifier).schema.fields}
        if "_tombstone" not in cols:
            self.spark.sql(tombstone_migration_sql(self.identifier))

    def snapshot(self, include_meta: bool = False) -> DataFrame:
        self._ensure_tombstone_column()
        df = self.spark.table(self.identifier)
        if include_meta:
            return df
        return (
            df.filter(~F.coalesce(F.col("_tombstone"), F.lit(False)))
            .drop("_lsn", "_tombstone")
        )

    def current(self) -> dict:
        row = (
            self.spark.sql(f"SELECT * FROM {self.identifier}.snapshots ORDER BY committed_at DESC LIMIT 1")
            .collect()
        )
        if not row:
            return {"version": 0, "snapshot_id": None, "batch_ids": [],
                    "key_cols": self.key_cols, "num_buckets": 0,
                    "schema": self.schema.jsonValue()}
        s = row[0]
        summary = dict(s["summary"] or {})
        return {
            "version": s["snapshot_id"],
            "snapshot_id": str(s["snapshot_id"]),
            "batch_ids": json.loads(summary.get(BATCH_LEDGER_PROP, "[]")),
            "key_cols": self.key_cols,
            "num_buckets": 0,
            "schema": self.schema.jsonValue(),
        }

    def committed_batch_ids(self) -> set[str]:
        """Compacted base (table property — survives snapshot expiry)
        ∪ per-snapshot DELTAS (summary properties). Mirrors
        SnapshotTable's r5 ledger shape: each commit carries only its
        own batch id, never the cumulative list (which would be
        O(batches²) summary metadata over a long-lived table)."""
        ids: set[str] = set()
        for r in self.spark.sql(f"SHOW TBLPROPERTIES {self.identifier}").collect():
            if r["key"] == BATCH_LEDGER_BASE_PROP:
                ids.update(json.loads(r["value"]))
        for s in self.spark.sql(f"SELECT summary FROM {self.identifier}.snapshots").collect():
            ids.update(json.loads(dict(s["summary"] or {}).get(BATCH_LEDGER_PROP, "[]")))
        return ids

    def compact_ledger(self) -> None:
        """Fold every snapshot's ledger delta into the table-property
        base — run BEFORE expire_snapshots so ids on expiring snapshots
        keep no-oping redeliveries (the property rides the table
        metadata, which expiry never drops)."""
        ledger = json.dumps(sorted(self.committed_batch_ids()))
        self.spark.sql(
            f"ALTER TABLE {self.identifier} SET TBLPROPERTIES "
            f"('{BATCH_LEDGER_BASE_PROP}'='{ledger}')"
        )

    def expire_snapshots(self, older_than: str) -> None:
        """Snapshot expiry THROUGH the ledger guard: compacts the
        batch-id ledger into the table-property base FIRST, then calls
        Iceberg's expire_snapshots procedure. This ordering is the
        exactly-once invariant — per-snapshot summaries carry only
        ledger DELTAS (see committed_batch_ids), so running the raw
        `CALL <catalog>.system.expire_snapshots(...)` procedure
        without compacting first silently drops the expired snapshots'
        batch ids and a redelivery re-applies. Operators must use this
        method (or run compact_ledger() themselves) instead of the raw
        procedure; same rule SnapshotTable.expire_snapshots enforces
        automatically."""
        self.compact_ledger()
        self.spark.sql(expire_snapshots_sql(self.identifier, older_than))

    def lineage(self) -> list[dict]:
        rows = []
        for s in self.spark.sql(
            f"SELECT snapshot_id, summary FROM {self.identifier}.snapshots ORDER BY committed_at"
        ).collect():
            for entry in json.loads(dict(s["summary"] or {}).get(LINEAGE_PROP, "[]")):
                rows.append({**entry, "snapshot_id": str(s["snapshot_id"])})
        return rows

    # ---------- schema evolution ----------

    def evolve_schema(self, new_schema: T.StructType, change: str = "") -> CommitInfo:
        """Iceberg DDL per delta vs the current schema (add / drop /
        retype are all metadata-only in format v2)."""
        cur = {f.name: f.dataType for f in self.schema.fields}
        new = {f.name: f.dataType for f in new_schema.fields}
        for stmt in evolve_sql_statements(self.identifier, cur, new):
            self.spark.sql(stmt)
        c = self.current()
        return CommitInfo(c["version"], c["snapshot_id"], None)

    # ---------- MERGE ----------

    def merge(
        self,
        batch_df: DataFrame,
        lsn_col: str = "lsn",
        op_col: str = "op",
        batch_id: str | None = None,
        lineage: list[dict] | None = None,
        metrics: dict | None = None,
        affected_buckets: list[int] | None = None,
    ) -> CommitInfo:
        """Same contract as SnapshotTable.merge, planned by Iceberg:
        in-batch LWW pre-dedup (map-side max_by) then one MERGE INTO
        with TOMBSTONED deletes (see merge_sql — delivery-order
        independence needs the marker's lsn) — Iceberg plans the
        equi-join against only the matching bucket partitions (its own
        form of our affected-bucket pruning)."""
        if batch_id is not None and batch_id in self.committed_batch_ids():
            c = self.current()
            return CommitInfo(c["version"], c["snapshot_id"], batch_id, skipped=True)

        self._ensure_tombstone_column()
        data_cols = [f.name for f in self.schema.fields]
        key_cols = self.key_cols
        payload = F.struct(*[F.col(c) for c in data_cols], F.col(lsn_col), F.col(op_col))
        winners = (
            batch_df.groupBy(*key_cols)
            .agg(F.max_by(payload, F.col(lsn_col)).alias("w"))
            .select(*[F.col(f"w.{c}").alias(c) for c in data_cols + [lsn_col, op_col]])
        )
        winners.createOrReplaceTempView("_datax_merge_src")

        # DELTA only — the cumulative set is reconstructed by
        # committed_batch_ids (base property ∪ snapshot deltas).
        ledger = json.dumps([batch_id] if batch_id else [])
        props = {
            BATCH_LEDGER_PROP: ledger,
            LINEAGE_PROP: json.dumps(lineage or []),
            "datax.metrics": json.dumps(metrics or {}),
        }
        for k, v in props.items():
            self.spark.conf.set(f"spark.wap.snapshot-property.{k}", v)
        self.spark.sql(merge_sql(self.identifier, data_cols, key_cols, lsn_col, op_col))
        c = self.current()
        return CommitInfo(c["version"], c["snapshot_id"], batch_id)
