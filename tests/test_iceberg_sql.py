"""Golden-string tests for the Iceberg backend's generated SQL.

The iceberg-spark-runtime jar is not in this sandbox, so IcebergTable
can't execute here — but every statement it would issue is built by a
pure function, and THOSE are pinned exactly. This catches drift in the
one module no execution test touches; the SnapshotTable twin covers
the shared engine contract."""

from __future__ import annotations

from pyspark.sql import types as T

from datax_spark.iceberg import (
    create_table_sql,
    evolve_sql_statements,
    merge_sql,
)

SCHEMA = T.StructType([
    T.StructField("repo", T.StringType()),
    T.StructField("path", T.StringType()),
    T.StructField("commit_id", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("content", T.StringType()),
])


def test_create_table_sql_golden():
    assert create_table_sql("cat.db.src", SCHEMA, "path", 64) == (
        "CREATE TABLE cat.db.src (`repo` string, `path` string, "
        "`commit_id` string, `lang` string, `content` string, "
        "`_lsn` bigint, `_tombstone` boolean) "
        "USING iceberg PARTITIONED BY (bucket(64, `path`)) "
        "TBLPROPERTIES ('write.merge.mode'='merge-on-read', "
        "'write.distribution-mode'='hash', 'format-version'='2')"
    )


def test_evolve_sql_statements_golden():
    cur = {"repo": T.StringType(), "stars": T.IntegerType(), "lang": T.StringType()}
    new = {"repo": T.StringType(), "stars": T.LongType(), "desc": T.StringType()}
    assert evolve_sql_statements("cat.db.src", cur, new) == [
        "ALTER TABLE cat.db.src ALTER COLUMN `stars` TYPE bigint",
        "ALTER TABLE cat.db.src ADD COLUMN `desc` string",
        "ALTER TABLE cat.db.src DROP COLUMN `lang`",
    ]
    assert evolve_sql_statements("t", cur, dict(cur)) == []


def test_merge_sql_golden():
    got = merge_sql(
        "cat.db.src",
        data_cols=["repo", "path", "content"],
        key_cols=["repo", "path"],
    )
    assert "MERGE INTO cat.db.src t USING _datax_merge_src s ON " in got
    assert "t.`repo` = s.`repo` AND t.`path` = s.`path`" in got
    # LSN guard on BOTH matched branches — row-level idempotence
    assert got.count("s.`lsn` > t.`_lsn`") == 2
    # deletes TOMBSTONE (same contract as SnapshotTable.merge): a
    # physical DELETE would leave no lsn for a late out-of-order
    # redelivery to compare against
    assert "THEN DELETE" not in got
    assert (
        "WHEN MATCHED AND s.`lsn` > t.`_lsn` AND s.`op` = 'D' THEN UPDATE SET "
        "t.`content` = NULL, t.`_lsn` = s.`lsn`, t.`_tombstone` = true" in got
    )
    # key columns never appear in the UPDATE SET list
    assert "t.`repo` = s.`repo`," not in got.split("UPDATE SET")[1]
    assert (
        "UPDATE SET t.`content` = s.`content`, t.`_lsn` = s.`lsn`, "
        "t.`_tombstone` = false" in got
    )
    # an unseen key's delete inserts a MARKER row (payload NULL)
    assert (
        "WHEN NOT MATCHED AND s.`op` = 'D' THEN INSERT "
        "(`repo`, `path`, `content`, `_lsn`, `_tombstone`) "
        "VALUES (s.`repo`, s.`path`, NULL, s.`lsn`, true)" in got
    )
    assert (
        "WHEN NOT MATCHED THEN INSERT "
        "(`repo`, `path`, `content`, `_lsn`, `_tombstone`) "
        "VALUES (s.`repo`, s.`path`, s.`content`, s.`lsn`, false)" in got
    )


def test_merge_sql_custom_lsn_op_cols():
    got = merge_sql("t", ["k", "v"], ["k"], lsn_col="seq", op_col="kind",
                    source_view="stage")
    assert "USING stage s ON t.`k` = s.`k`" in got
    assert got.count("s.`seq` > t.`_lsn`") == 2
    assert "s.`kind` = 'D'" in got
    assert "`_tombstone` = true" in got and "THEN DELETE" not in got


def test_tombstone_migration_sql_golden():
    """Pre-tombstone tables (created by the round-2 create_table_sql)
    lack `_tombstone`; merge/snapshot must be able to upgrade them
    with one metadata-only ALTER before first use (round-3 ADVICE)."""
    from datax_spark.iceberg import tombstone_migration_sql

    assert tombstone_migration_sql("cat.db.src") == (
        "ALTER TABLE cat.db.src ADD COLUMN `_tombstone` boolean"
    )


def test_merge_and_snapshot_issue_migration_for_legacy_table():
    """Duck-typed spark stub: a table whose schema lacks _tombstone
    must receive the ALTER (and one that has it must not) — pins that
    _ensure_tombstone_column is actually wired into both entry points
    without needing the runtime jar."""
    from datax_spark.iceberg import IcebergTable

    class FakeSchema:
        def __init__(self, names):
            self.fields = [type("F", (), {"name": n})() for n in names]

    class FakeDF:
        def __init__(self, names):
            self.schema = FakeSchema(names)

    class FakeSpark:
        def __init__(self, names):
            self.names = names
            self.issued = []

        def table(self, ident):
            return FakeDF(self.names)

        def sql(self, stmt):
            self.issued.append(stmt)
            raise _Stop()

    class _Stop(Exception):
        pass

    legacy = FakeSpark(["repo", "path", "content", "_lsn"])
    t = IcebergTable(legacy, "cat.db.legacy", ["repo", "path"])
    try:
        t._ensure_tombstone_column()
    except _Stop:
        pass
    assert legacy.issued == [
        "ALTER TABLE cat.db.legacy ADD COLUMN `_tombstone` boolean"
    ]

    modern = FakeSpark(["repo", "path", "content", "_lsn", "_tombstone"])
    IcebergTable(modern, "cat.db.modern", ["repo", "path"])._ensure_tombstone_column()
    assert modern.issued == []


def test_compact_sql_golden():
    """Cluster twin of compact_buckets (r5 MOR): rewrite_data_files
    bin-packs the merge-on-read deltas back into base files."""
    from datax_spark.iceberg import compact_sql

    assert compact_sql("cat.db.src") == (
        "CALL cat.system.rewrite_data_files(table => 'cat.db.src')"
    )
    assert compact_sql("cat.db.src", target_file_size_bytes=512 * 1024 * 1024) == (
        "CALL cat.system.rewrite_data_files(table => 'cat.db.src', "
        "options => map('target-file-size-bytes', '536870912'))"
    )


def test_procedure_sql_two_part_identifier_uses_session_catalog():
    """A 2-part `db.table` names no catalog: the procedure call must be
    the catalog-less `CALL system.<proc>` form, not `CALL db.system`.
    3-part identifiers keep their catalog prefix."""
    from datax_spark.iceberg import compact_sql, expire_snapshots_sql

    assert compact_sql("db.src") == (
        "CALL system.rewrite_data_files(table => 'db.src')"
    )
    assert compact_sql("db.src", target_file_size_bytes=1024) == (
        "CALL system.rewrite_data_files(table => 'db.src', "
        "options => map('target-file-size-bytes', '1024'))"
    )
    assert expire_snapshots_sql("db.src", "2026-01-01 00:00:00") == (
        "CALL system.expire_snapshots(table => 'db.src', "
        "older_than => TIMESTAMP '2026-01-01 00:00:00')"
    )
    assert compact_sql("cat.db.src").startswith("CALL cat.system.")
    assert expire_snapshots_sql("cat.db.src", "x").startswith("CALL cat.system.")


def test_expire_snapshots_sql_golden_and_ledger_guard():
    """Expiry must flow through the ledger guard: the SQL builder is
    golden-pinned, and IcebergTable.expire_snapshots compacts the
    ledger BEFORE issuing the call (per-snapshot summaries carry only
    ledger deltas — raw expiry would break exactly-once)."""
    from datax_spark.iceberg import IcebergTable, expire_snapshots_sql

    assert expire_snapshots_sql("cat.db.src", "2026-01-01 00:00:00") == (
        "CALL cat.system.expire_snapshots(table => 'cat.db.src', "
        "older_than => TIMESTAMP '2026-01-01 00:00:00')"
    )

    calls = []

    t = IcebergTable.__new__(IcebergTable)
    t.identifier = "cat.db.src"
    t.compact_ledger = lambda: calls.append("compact")

    class _Spark:
        def sql(self, q):
            calls.append(q)

    t.spark = _Spark()
    t.expire_snapshots("2026-01-01 00:00:00")
    assert calls[0] == "compact"
    assert "expire_snapshots" in calls[1]
