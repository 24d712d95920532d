"""CDCEngine — the WAL tail → MERGE apply loop.

This is the Spark-native reincarnation of the reference's job engine
(SURVEY.md §3: [UP core/.../core/job/JobContainer.java] lifecycle and
[UP core/.../core/taskgroup/TaskGroupContainer.java] reader→channel→
writer threads): the reader side becomes a Structured Streaming file
source tailing the WAL directory (its one CDC-ish ancestor being
[UP otsstreamreader/]), the channel + speed control become micro-batch
boundaries throttled by maxFilesPerTrigger, and the writer becomes an
idempotent MERGE into the transactional SnapshotTable.

Exactly-once = (streaming checkpoint replays a batch at-least-once)
× (batch-id ledger inside the table's atomic commit makes the replay a
no-op). Lineage (source file / partition → lsn range → snapshot id)
and rows/sec metrics ride in the same commit record.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from .schema_evolution import EpochRegistry
from .table import CommitInfo, SnapshotTable
from .transforms import ErrorLimit, TransformPipeline, quarantine


def _parquet_num_rows(path: str) -> int:
    """Exact row count from the parquet footer — metadata-only read."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def _checkpoint_tag(checkpoint_dir: str) -> str:
    """Stable short identity for a streaming checkpoint — goes into
    stream batch ids so ledgers distinguish different streams into the
    same table (per-checkpoint epoch ids restart at 0)."""
    import hashlib

    return hashlib.sha256(os.path.abspath(checkpoint_dir).encode()).hexdigest()[:8]


def _normalize_source_path(src: str) -> str:
    """Lineage records input_file_name() URIs (file:///…); retention
    compares against local paths — normalize both to absolute paths.
    A file: URI with a non-empty AUTHORITY (file://host/path — a
    remote-host reference) is passed through UNMODIFIED: stripping it
    into '/host/path' could credit a local WAL file with lineage rows
    read from a remote host of the same path shape, letting
    archive_wal delete an unapplied local segment."""
    if src.startswith("file:"):
        rest = src[5:]
        if rest.startswith("//") and not rest.startswith("///"):
            # file://authority/path — authority-bearing; only the empty
            # or 'localhost' authority is this machine.
            authority, _, path = rest[2:].partition("/")
            if authority not in ("", "localhost"):
                return src
            rest = "/" + path
        elif rest.startswith("///"):
            rest = rest[2:]
        src = rest
    return os.path.abspath(src) if src.startswith("/") else src


class CDCEngine:
    def __init__(
        self,
        spark: SparkSession,
        table: SnapshotTable,
        registry: EpochRegistry,
        transform: TransformPipeline | None = None,
        ok_condition: Column | None = None,
        error_limit: ErrorLimit | None = None,
        commit_retries: int = 0,
        merge_strategy: str = "cow",
        mor_compact_threshold: int = 8,
    ):
        """ok_condition: rows failing it (post-transform) are diverted
        to <table>/_quarantine instead of merged — the reference's
        collectDirtyRecord (SURVEY.md §2.8). error_limit aborts the
        batch BEFORE the merge commit when dirty counts exceed it, so
        an aborted batch replays cleanly (no partial state).

        commit_retries > 0 makes each merge survive losing the commit
        race to ANOTHER writer on the same table (an ad-hoc backfill
        next to the streaming tail) via table.merge_with_retry; the
        default 0 keeps the single-writer fail-loud behavior.

        merge_strategy='mor' switches apply_batch to merge-on-read
        deltas (table.merge strategy='mor'): each micro-batch writes
        O(batch) bytes with no target read — the right mode for a
        high-frequency tail whose batches are small relative to the
        buckets they touch. The engine then compacts inline whenever
        any bucket's delta count crosses `mor_compact_threshold`
        (compacting ONLY those buckets), so read amplification is
        bounded by the threshold while each bucket's rewrite cost is
        amortized over ~threshold batches instead of paid every batch
        as under 'cow'."""
        if merge_strategy not in ("cow", "mor"):
            raise ValueError(
                f"merge_strategy must be 'cow' or 'mor', got {merge_strategy!r}"
            )
        self.spark = spark
        self.table = table
        self.registry = registry
        self.transform = transform or TransformPipeline()
        self.ok_condition = ok_condition
        self.error_limit = error_limit or ErrorLimit()
        self.commit_retries = commit_retries
        self.merge_strategy = merge_strategy
        self.mor_compact_threshold = mor_compact_threshold
        self._applied_epoch = self._infer_table_epoch()

    def _infer_table_epoch(self) -> int:
        table_cols = {f.name for f in self.table.schema.fields}
        best = 0
        for e in self.registry.entries:
            want = set(self.registry.key_cols) | set(e["columns"])
            if want == table_cols:
                best = e["epoch"]
        return best

    # ------------------------------------------------------------ batch

    def apply_batch(self, batch_df: DataFrame, batch_id: str | None = None) -> CommitInfo:
        """Align → transform → (evolve schema if needed) → MERGE.

        Contract: the key columns must be present and final in the RAW
        batch (the WAL carries them); transforms may derive payload
        columns but not keys — affected-bucket discovery runs on the
        pre-transform batch."""
        if batch_id is not None and batch_id in self.table.committed_batch_ids():
            return CommitInfo(
                self.table.current()["version"],
                self.table.current()["snapshot_id"],
                batch_id,
                skipped=True,
            )
        t0 = time.monotonic()
        if "_source_file" not in batch_df.columns:
            batch_df = batch_df.withColumn("_source_file", F.input_file_name())

        # ONE small aggregation drives epoch detection, lineage,
        # metrics AND affected-bucket discovery together, on the RAW
        # batch (pre-transform — the expensive transform runs only in
        # the merge-write pass). Two total scans per micro-batch:
        # this stats pass + the merge write. No caching: both passes
        # re-read the (columnar, splittable) source, which is cheaper
        # than materializing the batch.
        cur = self.table.current()
        bucket = F.pmod(
            F.hash(*[F.col(c) for c in cur["key_cols"]]), F.lit(cur["num_buckets"])
        ).cast("int")
        stats = (
            batch_df.groupBy(
                F.col("_source_file").alias("source"), bucket.alias("_b")
            )
            .agg(
                F.min("lsn").alias("min_lsn"),
                F.max("lsn").alias("max_lsn"),
                F.count(F.lit(1)).alias("rows"),
                F.max(F.coalesce(F.col("schema_epoch"), F.lit(0))).alias("max_epoch")
                if "schema_epoch" in batch_df.columns
                else F.lit(0).alias("max_epoch"),
            )
            .collect()
        )
        if not stats:
            return CommitInfo(cur["version"], cur["snapshot_id"], batch_id, skipped=True)
        by_source: dict[str, dict] = {}
        for r in stats:
            s = by_source.setdefault(
                r["source"], {"source": r["source"], "min_lsn": r["min_lsn"],
                              "max_lsn": r["max_lsn"], "rows": 0}
            )
            s["min_lsn"] = min(s["min_lsn"], r["min_lsn"])
            s["max_lsn"] = max(s["max_lsn"], r["max_lsn"])
            s["rows"] += r["rows"]
        lineage = list(by_source.values())
        affected = sorted({r["_b"] for r in stats if r["_b"] is not None})
        batch_epoch = max(r["max_epoch"] for r in stats)
        n_rows = sum(r["rows"] for r in stats)
        batch_df = self.transform.apply(batch_df)

        n_dirty = 0
        if self.ok_condition is not None:
            batch_df, dirty = quarantine(batch_df, self.ok_condition)
            n_dirty = dirty.count()
            # abort BEFORE any write: an aborted batch leaves no
            # partial state at all (not even quarantine rows), so its
            # replay starts clean.
            self.error_limit.check(n_dirty, n_rows)
            if n_dirty:
                # idempotent per-batch subdir (overwrite): a committed
                # batch replayed after a crash between this write and
                # the commit rewrites the same rows instead of
                # appending duplicates. Without a batch_id there is no
                # replay identity — use a unique dir so successive
                # ad-hoc batches never clobber each other's quarantine.
                import re
                import uuid

                sub = batch_id if batch_id is not None else f"adhoc-{uuid.uuid4().hex[:8]}"
                # batch_id becomes a hive-style partition dir name:
                # path-special characters ('/', '=', ...) would corrupt
                # the layout and partition discovery — keep a safe
                # charset, replace the rest, and disambiguate mangled
                # ids with a short hash of the original.
                safe = re.sub(r"[^A-Za-z0-9._-]", "_", str(sub))
                if safe != str(sub):
                    import hashlib

                    safe = f"{safe}-{hashlib.sha256(str(sub).encode()).hexdigest()[:8]}"
                dirty.write.mode("overwrite").parquet(
                    os.path.join(self.table.location, "_quarantine", f"batch_id={safe}")
                )

        # Live column add/drop/retype: walk epochs up to the batch's max.
        while self._applied_epoch < min(batch_epoch, self.registry.max_epoch):
            nxt = self._applied_epoch + 1
            self.table.evolve_schema(
                self.registry.schema_for(nxt), change=self.registry.change_for(nxt)
            )
            self._applied_epoch = nxt

        merge = (
            self.table.merge
            if self.commit_retries == 0
            else lambda *a, **kw: self.table.merge_with_retry(
                *a, retries=self.commit_retries, **kw
            )
        )
        ci = merge(
            batch_df,
            lsn_col="lsn",
            op_col="op",
            batch_id=batch_id,
            lineage=lineage,
            metrics={"n_dirty": n_dirty} if n_dirty else {},
            affected_buckets=affected,
            strategy=self.merge_strategy,
        )
        if self.merge_strategy == "mor" and not ci.skipped:
            # Inline compaction (shared policy, table.compact_hot_
            # buckets): a separate commit with no batch id — exactly-
            # once state is untouched, and a crash between merge and
            # compaction just leaves the deltas for the next check.
            self.table.compact_hot_buckets(self.mor_compact_threshold)
        wall = time.monotonic() - t0
        # metrics were not known before merge; patching rows/sec into
        # the already-atomic commit is NOT allowed — instead we record
        # lineage atomically and expose throughput here.
        self._last_metrics = {"rows": n_rows, "wall_sec": wall, "rows_per_sec": n_rows / wall}
        return ci

    # -------------------------------------------------------- bootstrap

    def bootstrap(
        self,
        snapshot_df: DataFrame,
        snapshot_lsn: int,
        batch_id: str = "bootstrap",
        lsn_col: str | None = None,
    ) -> CommitInfo:
        """Initial full load (the reference's full-sync job) with a
        consistent LSN cutover into the WAL tail — the classic
        snapshot-then-binlog handoff every production CDC pipeline
        starts with.

        `snapshot_df` is the source state consistent AS OF
        `snapshot_lsn` (every change with lsn <= snapshot_lsn applied,
        none after). Each row is stamped op='I' and lsn=snapshot_lsn
        (or a per-row `lsn_col` when the dump carries one) and applied
        as a normal exactly-once batch — so bootstrap shares the merge
        path, the batch-id ledger (idempotent re-runs), schema
        evolution and lineage with every other batch.

        Cutover contract: the subsequent WAL replay must start at or
        before snapshot_lsn + 1 and be gap-free. OVERLAP is safe — the
        key-wise LWW fold discards replayed events older than the
        stamped snapshot rows, and a key deleted before the snapshot
        is re-tombstoned by the replayed delete itself (the overlap
        window that redelivers the old insert also redelivers the
        delete that beat it). Gaps are not safe: an event between
        snapshot_lsn and the replay start is lost — same rule as any
        checkpoint resume."""
        df = snapshot_df
        if lsn_col is None:
            df = df.withColumn("lsn", F.lit(int(snapshot_lsn)).cast("long"))
        elif lsn_col != "lsn":
            df = df.withColumn("lsn", F.col(lsn_col).cast("long")).drop(lsn_col)
        else:
            # cast even the already-named column: an int32/string lsn in
            # the dump must not flow uncast into LWW comparisons against
            # long tombstone lsns.
            df = df.withColumn("lsn", F.col("lsn").cast("long"))
        df = df.withColumn("op", F.lit("I")).withColumn(
            "_source_file", F.lit(f"snapshot:{batch_id}")
        )
        return self.apply_batch(df, batch_id=batch_id)

    # ----------------------------------------------------- WAL retention

    def applied_sources(self) -> dict[str, int]:
        """Per source file, the LARGEST row count any single committed
        batch consumed from it (lineage rows are counted on the raw
        pre-transform batch, so quarantine-diverted rows still count
        as consumed). snapshot:/quarantine:/derived: pseudo sources
        are excluded — they aren't WAL files.

        Reads the table's compacted ledger summary (one file + the
        short post-compaction commit tail), NOT a full history walk —
        and since expire_snapshots folds lineage into the summary
        before dropping commits, retention proofs survive history
        pruning (pre-r5 they silently vanished with expired commits)."""
        out: dict[str, int] = {}
        for src, rows in self.table.ledger_summary()["applied_sources"].items():
            if not src or src.startswith(("snapshot:", "quarantine:", "derived:")):
                continue
            p = _normalize_source_path(src)
            out[p] = max(out.get(p, 0), rows)
        return out

    def prunable_batch_ids(self) -> set[str]:
        """Batch ids past the replay low-watermark: every lineage
        source of the batch is a real local WAL file that NO LONGER
        EXISTS (retired by archive_wal / operator deletion), so the
        streaming source can never redeliver it and the exactly-once
        ledger need not remember it. Conservative by construction:
        batches with pseudo sources (snapshot:/quarantine:/derived: —
        re-runnable by an operator at any time) or whose per-batch
        lineage has already been expired from history are never listed.
        Run BEFORE expire_snapshots to catch the most ids."""
        by_batch: dict[str, list[str]] = {}
        for c in self.table.history():
            if c.get("batch_id") is None:
                continue
            by_batch.setdefault(c["batch_id"], []).extend(
                e.get("source") or "" for e in c.get("lineage", [])
            )
        out = set()
        for bid, sources in by_batch.items():
            if not sources:
                continue
            gone = []
            for src in sources:
                if not src or src.startswith(("snapshot:", "quarantine:", "derived:")):
                    gone.append(False)
                    continue
                p = _normalize_source_path(src)
                gone.append(os.path.isabs(p) and not os.path.exists(p))
            if all(gone):
                out.add(bid)
        return out

    def prune_ledger(self) -> int:
        """Compact the ledger dropping every prunable batch id (see
        prunable_batch_ids). Returns the number pruned (0 → no commit
        written). Part of the same maintenance cadence as archive_wal +
        expire_snapshots + vacuum: keeps the exactly-once ledger's size
        proportional to the LIVE replay window, not table lifetime."""
        # intersect with the live ledger: an id already pruned (but
        # whose lineage commit is still retained) must not trigger a
        # fresh compaction commit on every maintenance pass
        ids = self.prunable_batch_ids() & self.table.committed_batch_ids()
        if ids:
            self.table.compact_ledger(prune=ids)
        return len(ids)

    def _segment_row_counts(self, paths: list[str], wal_format: str) -> dict[str, int]:
        """Exact per-file row counts for non-parquet WAL segments, via
        the SAME reader config the replay uses (schema, multiline CSV,
        timestamp format — a different parse could over/under-count).
        ONE Spark job for all candidate files, grouped by
        input_file_name — O(candidates) data read, amortized across
        the whole retention pass, only ever run on files lineage
        already claims applied."""
        if not paths:
            return {}
        df = getattr(self._wal_reader(self.spark.read, wal_format), wal_format)(paths)
        rows = (
            df.select(F.input_file_name().alias("f"))
            .groupBy("f")
            .count()
            .collect()
        )
        return {_normalize_source_path(r["f"]): r["count"] for r in rows}

    def archivable_segments(self, wal_dir: str, wal_format: str = "parquet") -> list[str]:
        """WAL segment files under wal_dir that committed lineage
        proves FULLY applied — the retention candidates. At 10^10
        events the WAL outgrows any disk unless retired.

        'Fully' is enforced, not assumed: a batch built from a
        FILTERED read of a segment (the bootstrap-cutover shape) still
        records the file in lineage, so presence alone is not proof.
        A segment qualifies only when some single committed batch's
        lineage rows equal the file's TRUE row count (whole files
        through the streaming source always do) — from the parquet
        footer (metadata-only) for parquet WALs, or from one
        same-reader-config counting job over the candidates for
        json/csv WALs (r5; previously never listed)."""
        applied = self.applied_sources()
        candidates = []
        for name in sorted(os.listdir(wal_dir)):
            p = os.path.join(wal_dir, name)
            if not os.path.isfile(p) or not name.endswith(f".{wal_format}"):
                continue
            if applied.get(os.path.abspath(p)) is not None:
                candidates.append(p)
        if wal_format == "parquet":
            counts = {os.path.abspath(p): _parquet_num_rows(p) for p in candidates}
        else:
            counts = self._segment_row_counts(candidates, wal_format)
        out = []
        for p in candidates:
            true_rows = counts.get(os.path.abspath(p))
            if true_rows is not None and applied[os.path.abspath(p)] >= true_rows:
                out.append(p)
        return out

    def archive_wal(
        self,
        wal_dir: str,
        archive_dir: str | None = None,
        wal_format: str = "parquet",
    ) -> list[str]:
        """Retire fully-applied WAL segments: move them to archive_dir
        (cold storage) or delete when archive_dir is None. Safe with a
        live streaming tail — the file-source checkpoint remembers
        processed files and ignores their disappearance — and safe for
        replays: every retired segment's effect is already in the
        table, and a replay of the remaining WAL is a ledgered no-op
        for committed batches. Returns the retired paths."""
        import shutil

        retired = []
        for p in self.archivable_segments(wal_dir, wal_format=wal_format):
            if archive_dir is None:
                os.remove(p)
            else:
                os.makedirs(archive_dir, exist_ok=True)
                shutil.move(p, os.path.join(archive_dir, os.path.basename(p)))
            retired.append(p)
        return retired

    # ------------------------------------------------------- dead letter

    def quarantined(self) -> DataFrame | None:
        """All quarantined rows (every batch subdir), or None if the
        table has no quarantine yet.

        mergeSchema: batches quarantined under different schema epochs
        carry different columns; a plain read would take ONE file's
        footer schema and silently null out the other epochs' columns
        — replay would then re-ingest those rows with data lost."""
        qdir = os.path.join(self.table.location, "_quarantine")
        if not os.path.isdir(qdir):
            return None
        return (
            self.spark.read.option("basePath", qdir)
            .option("mergeSchema", "true")
            .parquet(qdir)
        )

    def replay_quarantine(self, batch_ids: list[str] | None = None) -> CommitInfo | None:
        """Re-ingest dead-lettered rows after the operator fixes the
        cause (relaxed ok_condition, corrected transform, upstream
        backfill) — the missing half of every quarantine story: dirty
        rows must have a road BACK into the table, not just out of it.

        Rows re-enter through the NORMAL apply path (transform →
        quarantine check → merge), so still-dirty rows simply
        re-quarantine under the replay batch id and the error limit
        applies; rows that now pass land exactly once (the replay
        batch id is ledgered like any other). Original quarantine
        subdirs are retained as the audit trail — the engine never
        deletes evidence; `table.vacuum()` policy owns that.

        Quarantine stores POST-transform rows (ok_condition judged the
        transformed row), so the replaying engine's transform applies
        ON TOP of the original one — fixes should be written as
        idempotent column corrections (coalesce/overwrite), not
        re-derivations of already-derived columns.

        batch_ids filters which quarantine batches to replay (default
        all). Returns the replay's CommitInfo, or None when there was
        nothing to replay."""
        q = self.quarantined()
        if q is None:
            return None
        if batch_ids is not None:
            q = q.filter(F.col("batch_id").isin([str(b) for b in batch_ids]))
        if not q.take(1):
            return None
        sources = sorted(
            r["batch_id"] for r in q.select("batch_id").distinct().collect()
        )
        # Fixed-length replay id: concatenating source batch ids grows
        # unboundedly (and compounds across repeated replays,
        # 'requeue-requeue-…'), overflowing the 255-byte hive-dir name
        # limit when this id itself gets quarantined. A sha of the
        # sorted source set keeps the id deterministic (same sources →
        # same id → exactly-once replay) at constant length; the source
        # batch ids stay auditable through lineage (_source_file below
        # carries each row's originating quarantine batch).
        import hashlib

        digest = hashlib.sha256("-".join(sources).encode()).hexdigest()[:12]
        replay_id = f"requeue-{digest}"
        return self.apply_batch(
            q.withColumn(
                "_source_file", F.concat(F.lit("quarantine:"), F.col("batch_id"))
            ).drop("batch_id"),
            batch_id=replay_id,
        )

    # --------------------------------------------------------- streaming

    def run_stream(
        self,
        wal_dir: str,
        checkpoint_dir: str,
        max_files_per_trigger: int = 1,
        available_now: bool = True,
        on_batch=None,
        wal_format: str = "parquet",
        max_bytes_per_trigger: int | None = None,
        accept_legacy_batch_ids: bool = False,
    ):
        """Tail the WAL directory. available_now=True drains everything
        currently present then stops (bounded replay); restart with the
        same checkpoint resumes exactly where it left off. The WAL may
        be parquet (default), json lines, or csv — binlog shippers
        commonly emit json (e.g. Debezium-style dumps).

        Rate control: max_files_per_trigger bounds batch size by file
        count; max_bytes_per_trigger (the reference's speed.byte
        analogue) bounds it by input bytes instead — Spark's file
        source takes whole files up to the cap, so it is a soft limit."""
        stream = self._wal_reader(self.spark.readStream, wal_format)
        if max_bytes_per_trigger is not None:
            stream = stream.option("maxBytesPerTrigger", str(max_bytes_per_trigger))
        else:
            stream = stream.option("maxFilesPerTrigger", str(max_files_per_trigger))
        stream = getattr(stream, wal_format)(wal_dir)

        # Batch ids carry the CHECKPOINT identity, not just the epoch:
        # epoch ids restart at 0 per checkpoint, so a later stream with
        # a fresh checkpoint into the same table would collide with the
        # first stream's ledger entries and silently no-op its opening
        # micro-batches. Same checkpoint → same ids → exactly-once
        # resume still holds.
        #
        # LEDGER-FORMAT NOTE (r3→r4 break): ids were 'stream-{epoch}'
        # before the checkpoint tag was added. Resuming a checkpoint
        # whose ledger was written under the old format would re-apply
        # the replayed epoch under the new id (CDC stays correct via
        # LWW, but quarantine subdirs would duplicate). Opt in to
        # accept_legacy_batch_ids=True for exactly one resume of such a
        # table; leave it off otherwise — the legacy id is ambiguous
        # across streams (that ambiguity is WHY the format changed).
        # The flag is additionally scoped to a RESUMED checkpoint,
        # decided ONCE here before the stream starts: with a fresh
        # checkpoint the epoch counter restarts at 0, so legacy ids
        # from some OLD stream would match the new stream's first
        # epochs and silently drop genuinely new data. A checkpoint is
        # resumed only when Structured Streaming has written its
        # offsets/ log there — a missing or bare pre-created directory
        # is fresh.
        ckpt_tag = _checkpoint_tag(checkpoint_dir)
        legacy_ok = accept_legacy_batch_ids and os.path.isdir(
            os.path.join(_normalize_source_path(checkpoint_dir), "offsets")
        )
        if accept_legacy_batch_ids and not legacy_ok:
            import warnings

            warnings.warn(
                "accept_legacy_batch_ids=True with a FRESH checkpoint is "
                "ignored (legacy ids only disambiguate a resumed pre-r4 "
                "checkpoint; against a new one they would skip new data)",
                stacklevel=2,
            )

        def _apply(df: DataFrame, epoch_id: int) -> None:
            if (
                legacy_ok
                and f"stream-{epoch_id}" in self.table.committed_batch_ids()
            ):
                cur = self.table.current()
                ci = CommitInfo(
                    cur["version"], cur["snapshot_id"],
                    f"stream-{epoch_id}", skipped=True,
                )
            else:
                ci = self.apply_batch(df, batch_id=f"stream-{ckpt_tag}-{epoch_id}")
            if on_batch is not None:
                on_batch(ci, epoch_id)

        writer = (
            stream.writeStream.foreachBatch(_apply)
            .option("checkpointLocation", checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        q = writer.start()
        return q

    def _wal_reader(self, reader, wal_format: str):
        """Shared reader config per WAL format: explicit schema always
        (schema inference on a stream is nondeterministic), timestamps
        parsed for text formats."""
        if wal_format not in ("parquet", "json", "csv"):
            raise ValueError(f"unsupported WAL format {wal_format!r}")
        reader = reader.schema(self.registry.wal_schema()).option(
            "pathGlobFilter", f"*.{wal_format}"
        )
        if wal_format == "csv":
            reader = (
                reader.option("header", "true")
                .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
                # source-code content embeds newlines → quoted multiline
                # fields (matches the Spark CSV writer's quoting)
                .option("multiLine", "true")
                .option("escape", "\\")
            )
        return reader

    def replay_batch(
        self, wal_dir: str, batch_id: str = "replay", wal_format: str = "parquet"
    ) -> CommitInfo:
        """Single-pass batch fold of the whole WAL — the reference
        semantics (one DataX job run) used by the equivalence test."""
        df = getattr(self._wal_reader(self.spark.read, wal_format), wal_format)(wal_dir)
        return self.apply_batch(df, batch_id=batch_id)


def replay_wal_as_table(
    spark: SparkSession,
    wal_dir: str,
    registry: EpochRegistry,
    location: str,
    num_buckets: int = 32,
    **engine_kw,
) -> SnapshotTable:
    """Convenience: fresh table at epoch-0 schema + full batch replay.
    engine_kw passes through to CDCEngine (e.g. merge_strategy='mor')."""
    table = SnapshotTable.create(
        spark, location, registry.schema_for(0), key_cols=registry.key_cols, num_buckets=num_buckets
    )
    engine = CDCEngine(spark, table, registry, **engine_kw)
    engine.replay_batch(wal_dir)
    return table


def wal_checkpoint_run(
    spark: SparkSession,
    wal_dir: str,
    registry: EpochRegistry,
    location: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    num_buckets: int = 32,
    stop_after_batches: int | None = None,
    **engine_kw,
) -> SnapshotTable:
    """Streaming replay; optionally kill the query mid-stream after N
    batches (restart/resume test). Re-invoking with the same location +
    checkpoint resumes and converges. engine_kw passes through to
    CDCEngine (e.g. merge_strategy='mor')."""
    if os.path.isdir(os.path.join(location, "_commits")):
        table = SnapshotTable.load(spark, location)
    else:
        table = SnapshotTable.create(
            spark,
            location,
            registry.schema_for(0),
            key_cols=registry.key_cols,
            num_buckets=num_buckets,
        )
    engine = CDCEngine(spark, table, registry, **engine_kw)
    seen = {"n": 0}

    def on_batch(ci: CommitInfo, epoch_id: int) -> None:
        seen["n"] += 1

    q = engine.run_stream(
        wal_dir, checkpoint_dir, max_files_per_trigger=max_files_per_trigger, on_batch=on_batch
    )
    try:
        while q.isActive:
            if stop_after_batches is not None and seen["n"] >= stop_after_batches:
                q.stop()  # simulated kill mid-stream
                break
            time.sleep(0.05)
        q.awaitTermination()
    finally:
        if q.isActive:
            q.stop()
    return table
