"""SnapshotTable — a transactional, bucketed lake-table backend.

On a real cluster this engine's sink is an Iceberg table driven by
`MERGE INTO` (the Spark-native generalization of the reference's
`writeMode` insert/replace/update trichotomy, SURVEY.md §2.2,
[UP plugin-rdbms-util/.../writer/CommonRdbmsWriter.java]). This
sandbox has no Iceberg jar and no network (SURVEY.md §7.3), so the
same semantics live behind this small backend:

  * data files: parquet, hash-bucketed by key → a micro-batch only
    rewrites the buckets it touches (copy-on-write, like Iceberg's
    bucket() partition transform). Unchanged buckets are carried
    forward by pointer, so MERGE cost scales with the batch, not the
    table — the property that makes this viable at 100 TB.
  * merge-on-read (strategy='mor', Iceberg's
    write.update.mode=merge-on-read analogue): a merge may instead
    append per-bucket DELTA file-sets — zero target read, write cost
    O(batch) even when the batch's keys spread across every bucket
    (the high-frequency CDC-tail shape where COW would rewrite most
    of the table each commit). Reads fold base+deltas with the same
    last-writer-wins rule; compact_buckets() periodically folds the
    deltas down so read amplification is bounded by the compaction
    cadence, not the batch count. COW and MOR interleave freely on
    one table with identical semantics.
  * commits: one JSON file per snapshot, created by atomic os.rename,
    recording parent, manifest (bucket → data dir), schema (versioned,
    evolvable), the batch-id ledger DELTA (exactly-once: replayed
    micro-batch → no-op), per-partition lineage, and metrics. Lineage
    lives INSIDE the commit record so a crash can never separate them
    (SURVEY.md §7.3).
  * ledger: the exactly-once batch-id set is NOT serialized
    cumulatively into every commit (that is O(batches²) metadata over
    a long-running table's life — at one micro-batch per second a
    year-old table would carry ~31M ids in every commit record).
    Instead each commit carries a short `ledger_tail` (ids since the
    last compaction) plus a pointer `ledger_base` to an immutable
    compacted summary file under _ledger/; when the tail exceeds
    `ledger_compact_threshold` the merge folds base+tail into a new
    summary and resets the tail — commit-record size stays O(threshold)
    forever. The summary also folds per-source applied-row maxima and
    the derived-sync watermark, so WAL retention (engine.applied_
    sources) and derived.last_synced_version read ONE file instead of
    walking full history, and expire_snapshots auto-compacts first so
    history pruning never weakens exactly-once, retention proofs, or
    the watermark. Batch ids whose WAL segments are retired are past
    the replay low-watermark and prunable via compact_ledger(prune=…).
  * reads: latest (or time-travel) snapshot. Dirs written under the
    commit's own schema version are read with that schema given (the
    commit schema + _lsn + _tombstone), so planning a read runs no
    Spark job; older-version dirs are inferred and aligned to it
    (add/drop/retype evolution without rewrite). A null _tombstone
    (a pre-tombstone file) reads as live. Point lookups hash their
    key to its bucket on the driver (driver_bucket).

MERGE itself is pure DataFrame code: group-by key with `max_by` over
(lsn, source-priority) — last-writer-wins with map-side partial
aggregation, ties resolved to the existing row so a re-delivered
event (same lsn) is a no-op. That is the late-data rule: an event
with lsn ≤ the applied lsn for its key cannot win (SURVEY.md §2.9).
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass
from typing import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

LSN_COL = "_lsn"
BUCKET_COL = "_bucket"
OP_COL = "op"
TOMBSTONE_COL = "_tombstone"


class ConcurrentCommitError(RuntimeError):
    pass


def align_to_schema(df: DataFrame, schema: T.StructType, keep: Iterable[str] = ()) -> DataFrame:
    """Project df onto `schema`: missing columns → NULL, extra columns
    dropped, types cast (add/drop/retype evolution in one place)."""
    cols = []
    have = {f.name for f in df.schema.fields}
    for field in schema.fields:
        if field.name in have:
            cols.append(F.col(field.name).cast(field.dataType).alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    for extra in keep:
        if extra in have:
            cols.append(F.col(extra))
    return df.select(*cols)


def bucket_expr(key_cols: list[str], num_buckets: int):
    """Stable hash bucket of the key. On real Iceberg this is the
    bucket(N, key) partition transform; here Spark's Murmur3 hash."""
    return F.pmod(F.hash(*[F.col(c) for c in key_cols]), F.lit(num_buckets)).cast("int")


# Driver-side twin of bucket_expr: a pure-Python port of Spark's
# Murmur3Hash (Murmur3_x86_32 as `hash()` runs it — seed 42, chained
# across columns, nulls skipped, strings hashed over their UTF-8 bytes
# with Spark's per-byte tail). Lets a point lookup pick its bucket
# without a one-row Spark job; pinned equal to bucket_expr by a
# hypothesis property.
_M32 = 0xFFFFFFFF


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def _mix_k1(k1: int) -> int:
    return (_rotl32((k1 * 0xCC9E2D51) & _M32, 15) * 0x1B873593) & _M32


def _mix_h1(h1: int, k1: int) -> int:
    return (_rotl32(h1 ^ k1, 13) * 5 + 0xE6546B64) & _M32


def _fmix(h1: int, length: int) -> int:
    h1 ^= length
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _M32
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _M32
    return h1 ^ (h1 >> 16)


_INT_BITS = {T.IntegerType(): 32, T.LongType(): 64}


def _murmur3(value, dtype: T.DataType, seed: int) -> int | None:
    """Spark's Murmur3 of one non-null value as an unsigned 32-bit int,
    or None when the port does not cover it."""
    if dtype == T.StringType() and isinstance(value, str):
        data = value.encode("utf-8")
        aligned = len(data) - len(data) % 4
        h1 = seed
        for i in range(0, aligned, 4):
            h1 = _mix_h1(h1, _mix_k1(int.from_bytes(data[i:i + 4], "little")))
        for b in data[aligned:]:  # tail bytes one at a time, sign-extended
            h1 = _mix_h1(h1, _mix_k1((b - 256 if b > 127 else b) & _M32))
        return _fmix(h1, len(data))
    bits = _INT_BITS.get(dtype)
    if bits is None or type(value) is not int or not -(1 << bits - 1) <= value < 1 << bits - 1:
        return None
    h1 = _mix_h1(seed, _mix_k1(value & _M32))
    if bits == 64:
        h1 = _mix_h1(h1, _mix_k1((value >> 32) & _M32))
    return _fmix(h1, bits // 8)


def driver_bucket(values: list, types: list[T.DataType], num_buckets: int) -> int | None:
    """bucket_expr evaluated on the driver for one key: `values` are the
    key's column values, `types` the table's column types. None when a
    value is outside the port (a type other than string/int/long, or a
    Python value Spark would first have to cast) — the caller then asks
    Spark."""
    h = 42
    for v, t in zip(values, types):
        if v is not None:
            h = _murmur3(v, t, h)
            if h is None:
                return None
    return (h - (1 << 32) if h & 0x80000000 else h) % num_buckets


@dataclass
class CommitInfo:
    version: int
    snapshot_id: str
    batch_id: str | None
    skipped: bool = False  # True → batch was already committed (exactly-once no-op)


class SnapshotTable:
    """Transactional upsert table keyed on `key_cols`, ordered by lsn."""

    # Tail length that triggers inline ledger compaction during merge.
    # Amortized cost: one O(ledger) summary rewrite every N commits,
    # O(threshold) commit-record metadata always.
    ledger_compact_threshold: int = 64

    def __init__(self, spark: SparkSession, location: str):
        self.spark = spark
        self.location = location
        self._commits_dir = os.path.join(location, "_commits")
        self._data_dir = os.path.join(location, "data")
        self._ledger_dir = os.path.join(location, "_ledger")
        # base summaries are immutable per path → cache by path
        self._ledger_cache: tuple[str | None, dict] | None = None

    # ---------- lifecycle ----------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        location: str,
        schema: T.StructType,
        key_cols: list[str],
        num_buckets: int = 32,
    ) -> "SnapshotTable":
        t = cls(spark, location)
        os.makedirs(t._commits_dir, exist_ok=True)
        os.makedirs(t._data_dir, exist_ok=True)
        if t._latest_version() is not None:
            raise ValueError(f"table already exists at {location}")
        t._write_commit(
            version=0,
            record={
                "snapshot_id": uuid.uuid4().hex[:16],
                "parent": None,
                "batch_id": None,
                "ledger_base": None,
                "ledger_tail": [],
                "schema": schema.jsonValue(),
                "schema_version": 0,
                "key_cols": list(key_cols),
                "num_buckets": num_buckets,
                "manifest": {},
                "lineage": [],
                "metrics": {},
            },
        )
        return t

    @classmethod
    def load(cls, spark: SparkSession, location: str) -> "SnapshotTable":
        t = cls(spark, location)
        if t._latest_version() is None:
            raise FileNotFoundError(f"no table at {location}")
        return t

    # ---------- commit log ----------

    def _latest_version(self) -> int | None:
        if not os.path.isdir(self._commits_dir):
            return None
        versions = [
            int(f[1:-5])
            for f in os.listdir(self._commits_dir)
            if f.startswith("v") and f.endswith(".json")
        ]
        return max(versions) if versions else None

    def _read_commit(self, version: int) -> dict:
        with open(os.path.join(self._commits_dir, f"v{version:012d}.json")) as f:
            return json.load(f)

    def _write_commit(self, version: int, record: dict) -> None:
        record["version"] = version
        if "ledger_tail" in record:  # drop the legacy cumulative field
            record.pop("batch_ids", None)
        tmp = os.path.join(self._commits_dir, f".tmp-{uuid.uuid4().hex}.json")
        final = os.path.join(self._commits_dir, f"v{version:012d}.json")
        with open(tmp, "w") as f:
            json.dump(record, f)
        # Optimistic concurrency: claim the version with os.link, which
        # atomically FAILS if the name exists — unlike exists()+rename
        # (TOCTOU: rename silently overwrites, so two racing writers
        # could both "win" and one commit would vanish). Exactly one
        # concurrent writer links v; every loser gets
        # ConcurrentCommitError and must re-read current() and retry on
        # the next version — the same protocol as an Iceberg/Delta
        # commit race.
        try:
            os.link(tmp, final)
        except FileExistsError:
            os.unlink(tmp)
            raise ConcurrentCommitError(f"commit v{version} already exists") from None
        os.unlink(tmp)

    def current(self) -> dict:
        v = self._latest_version()
        if v is None:
            raise FileNotFoundError(f"no table at {self.location}")
        return self._read_commit(v)

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(self.current()["schema"])

    @property
    def key_cols(self) -> list[str]:
        return self.current()["key_cols"]

    # ---------- ledger (exactly-once + retention summary) ----------

    @staticmethod
    def _ledger_tail_of(commit: dict) -> list[str]:
        """Tail ids of a commit record; legacy records (pre-r5 format,
        cumulative `batch_ids`) read as base=None + full-list tail, so
        old tables keep exactly-once semantics and migrate to the
        compacted format on their first new merge/compaction."""
        if "ledger_tail" in commit:
            return list(commit["ledger_tail"])
        return list(commit.get("batch_ids", []))

    def _load_ledger_base(self, commit: dict) -> dict:
        """The compacted summary a commit points at (empty when None).
        Summary files are immutable per path — cached per instance."""
        empty = {"as_of_version": -1, "batch_ids": [],
                 "applied_sources": {}, "max_src_version": None}
        rel = commit.get("ledger_base")
        if rel is None:
            return empty
        if self._ledger_cache is not None and self._ledger_cache[0] == rel:
            return self._ledger_cache[1]
        with open(os.path.join(self.location, rel)) as f:
            base = json.load(f)
        self._ledger_cache = (rel, base)
        return base

    def _committed_ids(self, commit: dict) -> set[str]:
        """Ledger membership as of one commit record (base ∪ tail) —
        the single definition of exactly-once identity, shared by the
        public reader and merge()'s pre-write duplicate check."""
        return set(self._load_ledger_base(commit)["batch_ids"]) | set(
            self._ledger_tail_of(commit)
        )

    def committed_batch_ids(self) -> set[str]:
        return self._committed_ids(self.current())

    def ledger_summary(self) -> dict:
        """Current ledger view folded up to the latest commit:
        {batch_ids: set, applied_sources: {source: max rows any single
        committed batch consumed}, max_src_version}. applied_sources
        and max_src_version fold the compacted base with the lineage/
        metrics of retained commits NEWER than the base — O(threshold)
        file reads between compactions, never a full-history walk."""
        cur = self.current()
        base = self._load_ledger_base(cur)
        out = {
            "batch_ids": set(base["batch_ids"]) | set(self._ledger_tail_of(cur)),
            "applied_sources": dict(base.get("applied_sources", {})),
            "max_src_version": base.get("max_src_version"),
        }
        for c in self._commits_since(base["as_of_version"], cur["version"]):
            self._fold_commit_into(out, c)
        return out

    @staticmethod
    def _fold_commit_into(summary: dict, commit: dict) -> None:
        for e in commit.get("lineage", []):
            src = e.get("source")
            rows = e.get("rows") or 0
            if src:
                cur = summary["applied_sources"].get(src, 0)
                summary["applied_sources"][src] = max(cur, rows)
        sv = (commit.get("metrics") or {}).get("src_version")
        if sv is not None:
            mv = summary["max_src_version"]
            summary["max_src_version"] = sv if mv is None else max(mv, sv)

    def _commits_since(self, after_version: int, up_to: int) -> Iterable[dict]:
        for i in range(max(0, after_version + 1), up_to + 1):
            if os.path.exists(os.path.join(self._commits_dir, f"v{i:012d}.json")):
                yield self._read_commit(i)

    def _write_ledger_base(
        self,
        cur: dict,
        extra_ids: list[str],
        prune: set[str] | None = None,
        extra_commit: dict | None = None,
    ) -> str:
        """Fold base ∪ retained-lineage-since-base ∪ tail ∪ extra_ids
        (plus `extra_commit`'s not-yet-written lineage/metrics when the
        caller is a merge compacting inline) into a NEW immutable
        summary file (crash before the commit that references it leaves
        a harmless orphan, reclaimed by vacuum). Returns the relative
        path; as_of_version is the version of the commit ABOUT to be
        written (cur.version + 1)."""
        summary = self.ledger_summary()
        if extra_commit is not None:
            self._fold_commit_into(summary, extra_commit)
        ids = summary["batch_ids"] | set(extra_ids)
        if prune:
            ids -= set(prune)
        os.makedirs(self._ledger_dir, exist_ok=True)
        rel = f"_ledger/L{cur['version'] + 1:012d}-{uuid.uuid4().hex[:8]}.json"
        with open(os.path.join(self.location, rel), "w") as f:
            json.dump(
                {
                    "as_of_version": cur["version"] + 1,
                    "batch_ids": sorted(ids),
                    "applied_sources": summary["applied_sources"],
                    "max_src_version": summary["max_src_version"],
                },
                f,
            )
        return rel

    def compact_ledger(self, prune: Iterable[str] | None = None) -> CommitInfo:
        """Metadata-only commit that folds the full ledger view into a
        fresh compacted summary (tail → []). `prune` drops batch ids
        that are past the replay low-watermark — ids whose source WAL
        segments were retired can never be redelivered by the stream,
        so the ledger need not remember them (engine.prune_ledger
        computes that set). Run by expire_snapshots automatically so
        history pruning never loses ledger/retention/watermark state."""
        cur = self.current()
        prune_set = set(prune or ())
        rel = self._write_ledger_base(cur, extra_ids=[], prune=prune_set)
        v = cur["version"] + 1
        rec = {
            **cur,
            "snapshot_id": uuid.uuid4().hex[:16],
            "parent": cur["snapshot_id"],
            "batch_id": None,
            "ledger_base": rel,
            "ledger_tail": [],
            "lineage": [],
            "metrics": {"ledger_compaction": True,
                        **({"pruned": len(prune_set)} if prune_set else {})},
        }
        self._write_commit(v, rec)
        return CommitInfo(v, rec["snapshot_id"], None)

    def history(self) -> list[dict]:
        """All RETAINED commit records, oldest first (expired snapshots
        are absent — see expire_snapshots)."""
        v = self._latest_version()
        if v is None:
            return []
        out = []
        for i in range(v + 1):
            if os.path.exists(os.path.join(self._commits_dir, f"v{i:012d}.json")):
                out.append(self._read_commit(i))
        return out

    def lineage(self) -> list[dict]:
        """Flattened per-partition lineage rows across all snapshots:
        source offset range → snapshot id (BASELINE.json north_star)."""
        rows = []
        for c in self.history():
            for entry in c.get("lineage", []):
                rows.append({**entry, "snapshot_id": c["snapshot_id"], "version": c["version"]})
        return rows

    # ---------- maintenance ----------

    def expire_snapshots(self, keep_last: int = 1) -> list[int]:
        """Drop commit records older than the newest `keep_last`. The
        ledger (exactly-once ids, per-source applied-row maxima for WAL
        retention, derived-sync watermark) is auto-compacted FIRST when
        any about-to-expire commit postdates the current compacted
        base, so history pruning never weakens exactly-once, retention
        proofs, or the watermark. Time travel to expired versions stops
        working — Iceberg's expire_snapshots contract."""
        v = self._latest_version()
        if v is None:
            return []
        cutoff = max(0, v - keep_last + 1)
        if cutoff > 0:
            cur = self.current()
            base_as_of = self._load_ledger_base(cur)["as_of_version"]
            if base_as_of < cutoff - 1:
                self.compact_ledger()  # one extra commit; recompute window
                v = self._latest_version()
                cutoff = max(0, v - keep_last + 1)
        expired = []
        for i in range(cutoff):
            p = os.path.join(self._commits_dir, f"v{i:012d}.json")
            if os.path.exists(p):
                os.unlink(p)
                expired.append(i)
        return expired

    def rebucket(self, new_num_buckets: int) -> CommitInfo:
        """Rewrite the table into a new bucket count (one transactional
        commit). Operational lever for growth: start small, rebucket
        when per-bucket size crosses the rewrite-cost sweet spot — at
        10^10 rows a 64-bucket layout would make every MERGE rewrite
        ~1/64th of the table, so production uses thousands of buckets;
        this migrates layout without downtime (readers keep resolving
        the last committed snapshot)."""
        cur = self.current()
        if new_num_buckets == cur["num_buckets"]:
            return CommitInfo(cur["version"], cur["snapshot_id"], None, skipped=True)
        df = self._read_manifest(cur)  # full table incl. LSN_COL
        key_cols = cur["key_cols"]
        v = cur["version"] + 1
        rel_dir = f"data/c{v:012d}-{uuid.uuid4().hex[:8]}"
        out_dir = os.path.join(self.location, rel_dir)
        (
            df.withColumn(BUCKET_COL, bucket_expr(key_cols, new_num_buckets))
            .repartition(new_num_buckets, F.col(BUCKET_COL))
            .write.mode("errorifexists")
            .partitionBy(BUCKET_COL)
            .parquet(out_dir)
        )
        manifest = {}
        for entry in os.listdir(out_dir):
            if entry.startswith(f"{BUCKET_COL}="):
                b = int(entry.split("=", 1)[1])
                manifest[str(b)] = [f"{rel_dir}/{entry}", cur["schema_version"]]
        rec = {
            **cur,
            "snapshot_id": uuid.uuid4().hex[:16],
            "parent": cur["snapshot_id"],
            "batch_id": None,
            "num_buckets": new_num_buckets,
            "manifest": manifest,
            "lineage": [],
            "metrics": {"rebucket": f"{cur['num_buckets']}->{new_num_buckets}"},
        }
        self._write_commit(v, rec)
        return CommitInfo(v, rec["snapshot_id"], None)

    def compact_hot_buckets(self, threshold: int) -> CommitInfo | None:
        """The shared inline-compaction policy (engine apply_batch,
        job-spec snapshotwriter, dedup indexes all call this): fold
        ONLY the buckets whose MOR delta count reached `threshold`.
        Returns the compaction's CommitInfo, or None when no bucket is
        hot or the compaction lost a commit race. Losing is harmless:
        compaction changes layout, not content, and the callers' merge
        has already committed — the deltas stay for the next check.
        One place to evolve the policy."""
        hot = [b for b, n in self.delta_counts().items() if n >= threshold]
        if not hot:
            return None
        try:
            return self.compact_buckets(buckets=hot)
        except ConcurrentCommitError:
            return None

    def delta_counts(self) -> dict[int, int]:
        """Bucket → live MOR delta-file-set count in the current
        snapshot (buckets with zero deltas omitted). Driver-side dict
        read from the commit record — no data scan. The compaction
        policy input: compact when any count crosses the read-
        amplification budget."""
        out: dict[int, int] = {}
        for b, entry in self.current()["manifest"].items():
            if isinstance(entry, dict) and entry["deltas"]:
                out[int(b)] = len(entry["deltas"])
        return out

    def compact_buckets(
        self, buckets: Iterable[int] | None = None, min_deltas: int = 1
    ) -> CommitInfo:
        """Fold merge-on-read deltas back into per-bucket base files in
        one transactional commit (no ledger entry — compaction changes
        LAYOUT, not content: snapshot equality before/after is pinned
        in tests, and time travel to pre-compaction versions still
        folds their own manifests). Targets `buckets`, default every
        bucket holding ≥ min_deltas delta sets.

        This is the amortization half of the MOR trade: a
        high-frequency CDC tail commits O(batch) delta bytes per
        micro-batch, and a periodic compactor pays each bucket's
        rewrite ONCE per cadence instead of once per batch (COW), while
        read amplification stays bounded by the cadence. Concurrent
        writers: runs under the same optimistic version claim as merge
        — a lost race raises ConcurrentCommitError and is safe to
        retry."""
        cur = self.current()
        counts = {
            int(b): len(entry["deltas"])
            for b, entry in cur["manifest"].items()
            if isinstance(entry, dict) and len(entry["deltas"]) >= min_deltas
        }
        picked = sorted(counts if buckets is None else set(buckets) & set(counts))
        if not picked:
            return CommitInfo(cur["version"], cur["snapshot_id"], None, skipped=True)
        folded = self._read_manifest(cur, buckets=picked).withColumn(
            BUCKET_COL, bucket_expr(cur["key_cols"], cur["num_buckets"])
        )
        v = cur["version"] + 1
        rel_dir = f"data/c{v:012d}-{uuid.uuid4().hex[:8]}"
        out_dir = os.path.join(self.location, rel_dir)
        (
            folded.repartition(max(1, len(picked)), F.col(BUCKET_COL))
            .sortWithinPartitions(*cur["key_cols"])
            .write.mode("errorifexists")
            .partitionBy(BUCKET_COL)
            .parquet(out_dir)
        )
        manifest = dict(cur["manifest"])
        written = set()
        for entry in os.listdir(out_dir):
            if entry.startswith(f"{BUCKET_COL}="):
                b = int(entry.split("=", 1)[1])
                manifest[str(b)] = [f"{rel_dir}/{entry}", cur["schema_version"]]
                written.add(b)
        for b in picked:  # delta-only bucket folded to zero rows
            if b not in written and str(b) in manifest:
                del manifest[str(b)]
        rec = {
            **cur,
            "snapshot_id": uuid.uuid4().hex[:16],
            "parent": cur["snapshot_id"],
            "batch_id": None,
            "manifest": manifest,
            "lineage": [],
            "metrics": {"compact_buckets": picked},
        }
        self._write_commit(v, rec)
        return CommitInfo(v, rec["snapshot_id"], None)

    def merge_with_retry(self, batch_df: DataFrame, retries: int = 3, **kw) -> CommitInfo:
        """Multi-writer merge: on a lost commit race
        (ConcurrentCommitError from the atomic version claim), re-read
        the new current state and redo the whole merge — the loser's
        orphaned data dir is reclaimed by vacuum. This is the standard
        optimistic-concurrency retry loop of a transactional lake
        commit; correctness needs no coordination because merge derives
        everything (schema, manifest, ledger) from current() at entry
        and the claim is atomic."""
        last: ConcurrentCommitError | None = None
        for _ in range(retries + 1):
            try:
                return self.merge(batch_df, **kw)
            except ConcurrentCommitError as e:
                last = e
        raise ConcurrentCommitError(
            f"merge lost the commit race {retries + 1} times: {last}"
        )

    def purge_tombstones(self, before_lsn: int | None = None) -> CommitInfo:
        """Drop delete markers (all of them, or only those with lsn <
        before_lsn) in one transactional rewrite. Safe once the
        source's replay low-watermark has passed the purged lsns — a
        redelivery older than the watermark can no longer arrive, so
        the marker has nothing left to defend against. The operational
        twin of vacuum: vacuum bounds dead FILES, this bounds dead
        ROWS.

        Rewrites ONLY the buckets that hold a qualifying marker (r5):
        the discovery pass collects distinct bucket ids of matching
        tombstone rows — ≤ num_buckets ints, never a data collect — so
        on a 10^10-row table a purge after a localized delete wave
        costs O(affected buckets), not a full-table rewrite. Untouched
        buckets are carried forward by pointer (any live MOR deltas
        they hold stay live); rewritten buckets fold their deltas as a
        side effect of going through the read path."""
        cur = self.current()
        key_cols = cur["key_cols"]
        nb = cur["num_buckets"]
        dead = F.coalesce(F.col(TOMBSTONE_COL), F.lit(False))
        if before_lsn is not None:
            dead = dead & (F.col(LSN_COL) < F.lit(before_lsn))
        affected = sorted(
            r["b"]
            for r in self._read_manifest(cur)
            .filter(dead)
            .select(bucket_expr(key_cols, nb).alias("b"))
            .distinct()
            .collect()
        )
        if not affected:
            return CommitInfo(cur["version"], cur["snapshot_id"], None, skipped=True)
        kept = self._read_manifest(cur, buckets=affected).filter(~dead)
        v = cur["version"] + 1
        rel_dir = f"data/c{v:012d}-{uuid.uuid4().hex[:8]}"
        out_dir = os.path.join(self.location, rel_dir)
        (
            kept.withColumn(BUCKET_COL, bucket_expr(key_cols, nb))
            .repartition(max(1, len(affected)), F.col(BUCKET_COL))
            .sortWithinPartitions(*key_cols)
            .write.mode("errorifexists")
            .partitionBy(BUCKET_COL)
            .parquet(out_dir)
        )
        manifest = dict(cur["manifest"])
        written = set()
        for entry in os.listdir(out_dir):
            if entry.startswith(f"{BUCKET_COL}="):
                b = int(entry.split("=", 1)[1])
                manifest[str(b)] = [f"{rel_dir}/{entry}", cur["schema_version"]]
                written.add(b)
        for b in affected:  # bucket held only purged markers → now empty
            if b not in written and str(b) in manifest:
                del manifest[str(b)]
        rec = {
            **cur,
            "snapshot_id": uuid.uuid4().hex[:16],
            "parent": cur["snapshot_id"],
            "batch_id": None,
            "manifest": manifest,
            "lineage": [],
            "metrics": {"purge_tombstones": before_lsn if before_lsn is not None else "all",
                        "purged_buckets": affected},
        }
        self._write_commit(v, rec)
        return CommitInfo(v, rec["snapshot_id"], None)

    def vacuum(self) -> list[str]:
        """Delete data dirs (and compacted-ledger summary files) no
        longer referenced by any retained snapshot. Copy-on-write
        bucket rewrites strand the superseded bucket dirs, and each
        ledger compaction strands the previous summary file; at
        10^10-event scale unreferenced data is unbounded growth, so
        vacuum (after expire_snapshots) is part of normal operation.
        Never touches referenced dirs/files."""
        import shutil

        live: set[str] = set()
        live_ledgers: set[str] = set()
        for c in self.history():
            for entry in c.get("manifest", {}).values():
                # manifest paths look like data/c<version>/<bucket>=N;
                # the unit of reclamation is the commit dir. MOR
                # entries reference several dirs (base + each delta) —
                # all stay live while any retained snapshot lists them.
                for d, _sv in self._manifest_parts(entry):
                    live.add(d.split("/")[1])
            if c.get("ledger_base"):
                live_ledgers.add(os.path.basename(c["ledger_base"]))
        removed = []
        if os.path.isdir(self._ledger_dir):
            for entry in sorted(os.listdir(self._ledger_dir)):
                if entry not in live_ledgers:
                    os.unlink(os.path.join(self._ledger_dir, entry))
                    removed.append(f"_ledger/{entry}")
        if not os.path.isdir(self._data_dir):
            return removed
        for entry in sorted(os.listdir(self._data_dir)):
            if entry not in live:
                shutil.rmtree(os.path.join(self._data_dir, entry))
                removed.append(entry)
        return removed

    # ---------- reads ----------

    @staticmethod
    def _manifest_parts(entry) -> list[tuple[str, int]]:
        """(rel_dir, schema_version) file-sets of one bucket's manifest
        entry, oldest-applied first. Three on-disk forms coexist:
        legacy plain string (pre-schema-versioning base), [dir, sv]
        (copy-on-write base), and {"base": [dir, sv] | None, "deltas":
        [[dir, sv], …]} (merge-on-read: base plus the delta files
        appended since the bucket's last compaction)."""
        if isinstance(entry, str):
            return [(entry, -1)]
        if isinstance(entry, list):
            return [(entry[0], entry[1])]
        parts = []
        if entry.get("base") is not None:
            parts.append((entry["base"][0], entry["base"][1]))
        parts.extend((d[0], d[1]) for d in entry["deltas"])
        return parts

    def _read_manifest(self, commit: dict, buckets: list[int] | None = None) -> DataFrame:
        schema = T.StructType.fromJson(commit["schema"])
        full = T.StructType(
            schema.fields
            + [T.StructField(LSN_COL, T.LongType()),
               T.StructField(TOMBSTONE_COL, T.BooleanType())]
        )
        manifest: dict = commit["manifest"]
        items = [
            (int(b), e)
            for b, e in manifest.items()
            if buckets is None or int(b) in set(buckets)
        ]
        if not items:
            # range(0)-backed empty relation, NOT createDataFrame([]):
            # the latter is an ExistingRDD scan that blocks AQE and
            # whole-stage codegen for every plan unioned with it.
            return self.spark.range(0).select(
                *[F.lit(None).cast(f.dataType).alias(f.name) for f in full.fields]
            )
        # ONE spark.read per schema version, not one per bucket: all
        # dirs written under the same schema version share a file
        # schema, so they batch into a single multi-path scan (a
        # 64-bucket table is 1 scan, not 64 unioned scans — the
        # difference between O(1) and O(buckets) planning per batch).
        # Dirs tagged with the commit's own schema version were written
        # with exactly `full` (every writer tags cur["schema_version"]),
        # so they are read with that schema given: no footer-inference
        # job, no projection — the read plans without running Spark.
        # A null _tombstone (a pre-tombstone file) reads as live: every
        # consumer coalesces it to false. Dirs written under older
        # schema versions (or legacy -1) are inferred and aligned on
        # read — schema evolution without rewriting files.
        by_ver: dict[int, list[str]] = {}
        needs_fold = False
        for _b, entry in items:
            psets = self._manifest_parts(entry)
            # >1 file-set for one bucket ⇒ merge-on-read deltas are
            # live for it ⇒ a key may have several row versions on
            # disk and the read must fold them.
            needs_fold = needs_fold or len(psets) > 1
            for d, sv in psets:
                by_ver.setdefault(sv, []).append(os.path.join(self.location, d))
        parts = []
        for sv, paths in sorted(by_ver.items()):
            if sv == commit.get("schema_version"):
                parts.append(self.spark.read.schema(full).parquet(*paths))
                continue
            raw = self.spark.read.parquet(*paths)
            aligned = align_to_schema(raw, schema, keep=[LSN_COL, TOMBSTONE_COL])
            if TOMBSTONE_COL not in aligned.columns:  # pre-tombstone files
                aligned = aligned.withColumn(TOMBSTONE_COL, F.lit(False))
            parts.append(aligned)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        if not needs_fold:
            # pure copy-on-write snapshot: exactly the pre-MOR plan —
            # no fold shuffle, no per-row file-name expression.
            return df
        # Merge-on-read fold: each key keeps its last-writer row across
        # base + deltas — max_by over (lsn, application order), the
        # same LWW rule merge() applies, so COW and MOR snapshots of
        # the same change stream are identical. Application order is
        # recovered from the data-dir name (data/c<version12>-<id>/…,
        # the commit version that wrote the file-set): ties on lsn
        # (an at-least-once redelivery under a NEW batch id) resolve to
        # the EARLIEST-applied row, matching merge()'s existing-row-
        # wins tie rule. Negated so one ascending max_by struct works.
        key_cols = commit["key_cols"]
        out_cols = [f.name for f in full.fields]
        ver = F.regexp_extract(F.input_file_name(), r"/c(\d{12})-", 1).cast("long")
        # Materialized BELOW the aggregate: input_file_name() must be
        # evaluated at the scan, not inside the agg's ordering expr.
        df = df.withColumn("_applied", -ver)
        payload = F.struct(*[F.col(c) for c in out_cols])
        return (
            df.groupBy(*key_cols)
            .agg(F.max_by(payload, F.struct(F.col(LSN_COL), F.col("_applied"))).alias("w"))
            .select(*[F.col(f"w.{c}").alias(c) for c in out_cols])
        )

    def snapshot(self, version: int | None = None, include_meta: bool = False) -> DataFrame:
        """Current (or time-travel) table state. Tombstone rows (delete
        markers retained so late out-of-order redeliveries of OLDER
        updates cannot resurrect a deleted key) are internal: filtered
        out here unless include_meta. With include_meta, a null
        _tombstone (a pre-tombstone file) means live."""
        commit = self.current() if version is None else self._read_commit(version)
        df = self._read_manifest(commit)
        if include_meta:
            return df
        return (
            df.filter(~F.coalesce(F.col(TOMBSTONE_COL), F.lit(False)))
            .drop(LSN_COL, TOMBSTONE_COL)
        )

    def diff(
        self, v_from: int, v_to: int | None = None, include_old: bool = False
    ) -> DataFrame:
        """Row-level change feed between two retained snapshots — the
        Iceberg-changelog analogue that lets downstream pipelines chain
        incrementally instead of re-reading the full table. Returns
        `_change ∈ {I,U,D}` + the row (v_to payload for I/U, v_from
        payload for D). One full-outer join on the key, keyed the same
        as the bucket layout.

        include_old=True additionally emits `_old_<col>` columns — the
        v_from image (NULL for I rows). Delta-maintained aggregates
        need BOTH images of an update: the incremental contribution of
        a U row is (+new, −old)."""
        cur = self.current()
        v_to = cur["version"] if v_to is None else v_to
        commit_to = self._read_commit(v_to)
        key_cols = cur["key_cols"]
        schema = T.StructType.fromJson(commit_to["schema"])
        data_cols = [f.name for f in schema.fields]
        def live(commit):
            m = self._read_manifest(commit)
            return m.filter(~F.coalesce(F.col(TOMBSTONE_COL), F.lit(False)))

        old = align_to_schema(live(self._read_commit(v_from)), schema, keep=[LSN_COL])
        new = align_to_schema(live(commit_to), schema, keep=[LSN_COL])
        o = old.select(*[F.col(c).alias(f"o_{c}") for c in data_cols],
                       F.col(LSN_COL).alias("o_lsn"))
        n = new.select(*[F.col(c).alias(f"n_{c}") for c in data_cols],
                       F.col(LSN_COL).alias("n_lsn"))
        cond = None
        for k in key_cols:
            c = F.col(f"o_{k}") == F.col(f"n_{k}")
            cond = c if cond is None else cond & c
        j = o.join(n, cond, "full_outer")
        k0 = key_cols[0]
        change = (
            F.when(F.col(f"o_{k0}").isNull(), F.lit("I"))
            .when(F.col(f"n_{k0}").isNull(), F.lit("D"))
            .when(F.col("o_lsn") != F.col("n_lsn"), F.lit("U"))
        )
        # Pick the payload side per ROW, not per column: a per-column
        # coalesce(n, o) would silently resurrect the OLD value for any
        # column the new image legitimately set to NULL. The row exists
        # on the new side iff its key is non-null there (I/U) — take
        # the n_ columns wholesale; only deletes fall back to o_.
        new_side = F.col(f"n_{k0}").isNotNull()
        picked = [
            F.when(new_side, F.col(f"n_{c}")).otherwise(F.col(f"o_{c}")).alias(c)
            for c in data_cols
        ]
        if include_old:
            picked += [F.col(f"o_{c}").alias(f"_old_{c}") for c in data_cols]
        return (
            j.withColumn("_change", change)
            .filter(F.col("_change").isNotNull())
            .select("_change", *picked)
        )

    def snapshot_for_keys(self, keys_df: DataFrame) -> DataFrame:
        """Live rows whose full key appears in `keys_df` — the
        DataFrame twin of lookup_many: only the bucket IDS are
        collected driver-side (≤ num_buckets ints), never the keys, so
        the key set may itself be big data. Scans only the buckets the
        keys hash to, then semi-joins — the state-fetch path of an
        incremental aggregate refresh (read O(changed groups), not
        O(table))."""
        cur = self.current()
        key_cols = cur["key_cols"]
        schema = T.StructType.fromJson(cur["schema"])
        kd = keys_df.select(
            *[F.col(c).cast(schema[c].dataType).alias(c) for c in key_cols]
        ).distinct()
        buckets = sorted(
            r["b"]
            for r in kd.select(
                bucket_expr(key_cols, cur["num_buckets"]).alias("b")
            ).distinct().collect()
        )
        df = (
            self._read_manifest(cur, buckets=buckets)
            .filter(~F.coalesce(F.col(TOMBSTONE_COL), F.lit(False)))
            .drop(LSN_COL, TOMBSTONE_COL)
        )
        return df.join(kd, on=key_cols, how="left_semi")

    def _key_buckets(
        self, cur: dict, keys: list[dict], key_df: Callable[[], DataFrame]
    ) -> list[int]:
        """Sorted distinct buckets of full-key dicts, hashed on the
        driver (driver_bucket) with no Spark job. When some key is
        outside the port, ONE Spark job evaluates bucket_expr over
        `key_df()` — the keys typed as the TABLE's columns (Murmur3
        hashes IntegerType and LongType differently, so an int literal
        against a long-keyed table would hash to the wrong bucket and
        silently return nothing)."""
        schema = T.StructType.fromJson(cur["schema"])
        types = [schema[c].dataType for c in cur["key_cols"]]
        buckets = {
            driver_bucket([k[c] for c in cur["key_cols"]], types, cur["num_buckets"])
            for k in keys
        }
        if None not in buckets:
            return sorted(buckets)
        return sorted(
            r["b"]
            for r in key_df().select(
                bucket_expr(cur["key_cols"], cur["num_buckets"]).alias("b")
            ).distinct().collect()
        )

    def lookup(self, key: dict) -> DataFrame:
        """Point lookup by full primary key: hashes the key to its
        bucket and scans ONLY that bucket's files — 1/num_buckets of
        the table regardless of size (rows inside are sorted by key,
        so parquet row-group min/max stats prune further). This is the
        read path the bucketed layout exists for."""
        cur = self.current()
        key_cols = cur["key_cols"]
        if set(key) != set(key_cols):
            raise ValueError(f"lookup needs the full key {key_cols}, got {sorted(key)}")
        schema = T.StructType.fromJson(cur["schema"])
        typed = {c: F.lit(key[c]).cast(schema[c].dataType) for c in key_cols}
        buckets = self._key_buckets(
            cur, [key], lambda: self.spark.range(1).select(*[typed[c].alias(c) for c in key_cols])
        )
        df = (
            self._read_manifest(cur, buckets=buckets)
            .filter(~F.coalesce(F.col(TOMBSTONE_COL), F.lit(False)))
            .drop(LSN_COL, TOMBSTONE_COL)
        )
        for c in key_cols:
            df = df.filter(F.col(c) == typed[c])
        return df

    def lookup_many(self, keys: list[dict]) -> DataFrame:
        """Batched point lookup: hash every key driver-side (a tiny
        list, not a data collect), scan ONLY the union of their
        buckets, then semi-join on the key set — k keys touch at most
        min(k, num_buckets) buckets regardless of table size, where a
        naive approach would either full-scan once or issue k separate
        single-bucket jobs. The multi-entity read path of a CDC
        serving layer (fetch current state for a batch of changed
        keys)."""
        cur = self.current()
        key_cols = cur["key_cols"]
        for key in keys:
            if set(key) != set(key_cols):
                raise ValueError(f"lookup needs the full key {key_cols}, got {sorted(key)}")
        schema = T.StructType.fromJson(cur["schema"])
        if not keys:
            return self.spark.range(0).select(
                *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
            )
        key_df = self.spark.createDataFrame(
            [tuple(k[c] for c in key_cols) for k in keys],
            T.StructType([schema[c] for c in key_cols]),
        )
        df = (
            self._read_manifest(cur, buckets=self._key_buckets(cur, keys, lambda: key_df))
            .filter(~F.coalesce(F.col(TOMBSTONE_COL), F.lit(False)))
            .drop(LSN_COL, TOMBSTONE_COL)
        )
        return df.join(F.broadcast(key_df), on=key_cols, how="left_semi")

    # ---------- schema evolution ----------

    def evolve_schema(self, new_schema: T.StructType, change: str = "") -> CommitInfo:
        """Metadata-only schema change (column add/drop/retype); no data
        rewrite — files are aligned on read."""
        cur = self.current()
        v = cur["version"] + 1
        rec = {
            **cur,
            "snapshot_id": uuid.uuid4().hex[:16],
            "parent": cur["snapshot_id"],
            "batch_id": None,
            "schema": new_schema.jsonValue(),
            "schema_version": cur["schema_version"] + 1,
            "lineage": [],
            "metrics": {"schema_change": change},
        }
        self._write_commit(v, rec)
        return CommitInfo(v, rec["snapshot_id"], None)

    # ---------- MERGE ----------

    def merge(
        self,
        batch_df: DataFrame,
        lsn_col: str = "lsn",
        op_col: str = OP_COL,
        batch_id: str | None = None,
        lineage: list[dict] | None = None,
        metrics: dict | None = None,
        affected_buckets: list[int] | None = None,
        strategy: str = "cow",
    ) -> CommitInfo:
        """Apply a change batch: op I/U upsert, op D delete (retained
        as a tombstone marker), last writer (highest lsn) wins,
        re-delivery (lsn ≤ applied) is a no-op — including a late
        OUT-OF-ORDER redelivery of an update older than a delete,
        which the tombstone's lsn rejects.

        strategy='cow' (default) rewrites every touched bucket —
        write cost O(touched-bucket bytes), reads stay a plain scan.
        strategy='mor' (merge-on-read, Iceberg's
        write.update.mode=merge-on-read analogue) writes ONLY the
        batch's winner rows as per-bucket DELTA files with no target
        read at all — write cost O(batch), the shape a
        small-batch/high-frequency CDC tail needs: at 10^10 events a
        spread-key micro-batch under COW rewrites most of the table
        every commit. Readers fold base+deltas by the same LWW rule
        (see _read_manifest) until compact_buckets() folds the deltas
        back into the base. Semantics are IDENTICAL between the two —
        any interleaving of cow/mor merges of the same change stream
        yields the same snapshot.

        Equivalent Iceberg SQL (cluster deployment — iceberg.merge_sql
        builds exactly this, golden-tested):
          MERGE INTO t USING b ON t.repo=b.repo AND t.path=b.path
          WHEN MATCHED AND b.lsn > t._lsn AND b.op='D'
            THEN UPDATE SET payload=NULL, _lsn=b.lsn, _tombstone=true
          WHEN MATCHED AND b.lsn > t._lsn
            THEN UPDATE SET *, _tombstone=false
          WHEN NOT MATCHED AND b.op='D' THEN INSERT (keys, _lsn, _tombstone=true)
          WHEN NOT MATCHED THEN INSERT (*, _tombstone=false)
        """
        cur = self.current()
        if batch_id is not None and batch_id in self._committed_ids(cur):
            return CommitInfo(cur["version"], cur["snapshot_id"], batch_id, skipped=True)

        schema = T.StructType.fromJson(cur["schema"])
        key_cols = cur["key_cols"]
        nb = cur["num_buckets"]

        if strategy not in ("cow", "mor"):
            raise ValueError(f"strategy must be 'cow' or 'mor', got {strategy!r}")
        updates = align_to_schema(batch_df, schema, keep=[lsn_col, op_col])
        updates = updates.withColumnRenamed(lsn_col, LSN_COL) if lsn_col != LSN_COL else updates
        updates = updates.withColumn(BUCKET_COL, bucket_expr(key_cols, nb))
        data_cols = [f.name for f in schema.fields]

        if strategy == "mor":
            # No target read: the batch folds against the table at READ
            # time (_read_manifest), not write time. Only batch-internal
            # LWW runs here so a delta holds ≤1 row per key; deletes
            # become tombstone rows exactly as in COW (the read-time
            # fold needs their lsn to reject late older redeliveries).
            payload = F.struct(
                *[F.col(c) for c in data_cols], F.col(LSN_COL), F.col(op_col), F.col(BUCKET_COL)
            )
            winners = (
                updates.groupBy(*key_cols)
                .agg(F.max_by(payload, F.col(LSN_COL)).alias("w"))
                .select(*[F.col(f"w.{c}").alias(c)
                          for c in data_cols + [LSN_COL, op_col, BUCKET_COL]])
            )
            is_del = F.coalesce(F.col(op_col) == F.lit("D"), F.lit(False))
            payload_cols = [c for c in data_cols if c not in key_cols]
            survivors = winners.select(
                *key_cols,
                *[
                    F.when(is_del, F.lit(None).cast(schema[c].dataType))
                    .otherwise(F.col(c)).alias(c)
                    for c in payload_cols
                ],
                LSN_COL,
                BUCKET_COL,
                is_del.alias(TOMBSTONE_COL),
            )
            v = cur["version"] + 1
            rel_dir = f"data/c{v:012d}-{uuid.uuid4().hex[:8]}"
            out_dir = os.path.join(self.location, rel_dir)
            # ONE scan of the batch, writes O(batch) bytes. Partition
            # count follows spark.sql.shuffle.partitions (the batch is
            # small by premise); partitionBy still yields exactly one
            # file set per touched bucket.
            (
                survivors.repartition(F.col(BUCKET_COL))
                .sortWithinPartitions(*key_cols)
                .write.mode("errorifexists")
                .partitionBy(BUCKET_COL)
                .parquet(out_dir)
            )
            manifest = dict(cur["manifest"])
            for entry in os.listdir(out_dir):
                if entry.startswith(f"{BUCKET_COL}="):
                    b = int(entry.split("=", 1)[1])
                    delta = [f"{rel_dir}/{entry}", cur["schema_version"]]
                    manifest[str(b)] = self._append_delta(manifest.get(str(b)), delta)
            return self._commit_merge(cur, v, manifest, batch_id, lineage, metrics)

        # Which buckets does this batch touch? Tiny driver-side list
        # (≤ num_buckets ints) — NOT a data collect. The engine passes
        # it in (piggybacked on its lineage-stats pass) so the batch is
        # scanned exactly twice total: stats + the merge write.
        # A caller-supplied set is VERIFIED, not trusted: a bucket it
        # misses would make the write replace that bucket's manifest
        # entry with only the batch's rows (silent loss) or silently
        # skip a delete. Detection is free: every winner — including
        # delete-winners, which persist as tombstone rows — already
        # materializes its bucket as a partition dir of the write. Any
        # stray dir then shows up in the post-write listdir, and the
        # merge fails BEFORE the commit rename (the orphan data dir is
        # reclaimed by vacuum) — a bad set can never corrupt the table.
        # (Not an observe() guard: Observation.get never resolves for
        # actions inside foreachBatch — the micro-batch runs on a
        # cloned SparkSession.)
        if affected_buckets is not None:
            affected = sorted(set(affected_buckets))
        else:
            affected = sorted(
                r[0] for r in updates.select(BUCKET_COL).distinct().collect() if r[0] is not None
            )
        target = self._read_manifest(cur, buckets=affected).withColumn(
            BUCKET_COL, bucket_expr(key_cols, nb)
        )

        # An existing TOMBSTONE row competes as a delete-winner (op 'D'):
        # if nothing in the batch outranks its lsn the key stays deleted
        # — this is what makes deletes safe under out-of-order delivery
        # (a late redelivery of an OLDER update must not resurrect the
        # key; without the marker the delete leaves no trace to compare
        # lsn against and the stale update re-inserts).
        t_op = F.when(
            F.coalesce(F.col(TOMBSTONE_COL), F.lit(False)), F.lit("D")
        ).otherwise(F.lit(None).cast("string"))
        t_side = target.select(
            *data_cols, LSN_COL, t_op.alias(op_col), BUCKET_COL,
            F.lit(1).alias("_pref"),  # ties (re-delivered lsn) → existing row wins
        )
        u_side = updates.select(
            *data_cols, LSN_COL, F.col(op_col), BUCKET_COL, F.lit(0).alias("_pref")
        )
        combined = t_side.unionByName(u_side)

        # Last-writer-wins via max_by over (lsn, pref): ONE shuffle with
        # map-side partial aggregation (beats a window, which sorts and
        # has no partial combine) — the 100 TB-friendly plan.
        payload = F.struct(
            *[F.col(c) for c in data_cols], F.col(LSN_COL), F.col(op_col), F.col(BUCKET_COL)
        )
        winners = (
            combined.groupBy(*key_cols)
            .agg(F.max_by(payload, F.struct(F.col(LSN_COL), F.col("_pref"))).alias("w"))
            .select(*[F.col(f"w.{c}").alias(c) for c in data_cols + [LSN_COL, op_col, BUCKET_COL]])
        )
        # Delete-winners become TOMBSTONE rows instead of disappearing:
        # the marker (with its lsn) is what future merges compare a
        # late, out-of-order redelivery against. Payload columns are
        # nulled — the marker carries identity + lsn only. Tombstones
        # are invisible through snapshot()/lookup()/diff() and
        # reclaimable via purge_tombstones once the source's replay
        # low-watermark has passed their lsn.
        # (Bucket-set guard note: every touched bucket — deletes
        # included — now materializes a partition dir in the write, so
        # a caller-claimed affected set that misses one is always
        # betrayed by the post-write listdir check below.)
        is_del = F.coalesce(F.col(op_col) == F.lit("D"), F.lit(False))
        payload_cols = [c for c in data_cols if c not in key_cols]
        survivors = winners.select(
            *key_cols,
            *[
                F.when(is_del, F.lit(None).cast(schema[c].dataType))
                .otherwise(F.col(c)).alias(c)
                for c in payload_cols
            ],
            LSN_COL,
            BUCKET_COL,
            is_del.alias(TOMBSTONE_COL),
        )

        # Rewrite only affected buckets. Partition count = bucket count
        # (not spark.sql.shuffle.partitions): each write task owns ~one
        # bucket dir, so file count is constant regardless of cluster
        # size — file-creation overhead must not grow with cores.
        # Dir name carries a unique attempt id: a crash after the data
        # write but before the commit rename leaves an orphan (reclaimed
        # by vacuum), and the RETRY must not collide with it.
        v = cur["version"] + 1
        rel_dir = f"data/c{v:012d}-{uuid.uuid4().hex[:8]}"
        out_dir = os.path.join(self.location, rel_dir)
        n_parts = max(1, len(affected))
        (
            survivors.repartition(n_parts, F.col(BUCKET_COL))
            .sortWithinPartitions(*key_cols)
            .write.mode("errorifexists")
            .partitionBy(BUCKET_COL)
            .parquet(out_dir)
        )
        manifest = dict(cur["manifest"])
        written = set()
        for entry in os.listdir(out_dir):
            if entry.startswith(f"{BUCKET_COL}="):
                b = int(entry.split("=", 1)[1])
                manifest[str(b)] = [f"{rel_dir}/{entry}", cur["schema_version"]]
                written.add(b)
        if affected_buckets is not None:
            stray = written - set(affected)
            if stray:
                raise ValueError(
                    f"affected_buckets {affected} misses buckets {sorted(stray)} that "
                    "the batch actually touches — caller computed the set on different "
                    "key values/types than the post-align batch (commit aborted; "
                    "orphan dir left for vacuum)"
                )
        for b in affected:  # bucket emptied entirely (all rows deleted)
            if b not in written and str(b) in manifest:
                del manifest[str(b)]
        return self._commit_merge(cur, v, manifest, batch_id, lineage, metrics)

    @staticmethod
    def _append_delta(entry, delta: list) -> dict:
        """A bucket's manifest entry with one more MOR delta appended,
        normalizing legacy str / [dir, sv] base forms to the dict form
        on first touch. entry=None → bucket born as delta-only."""
        if entry is None:
            return {"base": None, "deltas": [delta]}
        if isinstance(entry, str):
            return {"base": [entry, -1], "deltas": [delta]}
        if isinstance(entry, list):
            return {"base": entry, "deltas": [delta]}
        return {"base": entry["base"], "deltas": entry["deltas"] + [delta]}

    def _commit_merge(
        self,
        cur: dict,
        v: int,
        manifest: dict,
        batch_id: str | None,
        lineage: list[dict] | None,
        metrics: dict | None,
    ) -> CommitInfo:
        # Ledger delta: append to the tail; when the tail crosses the
        # compaction threshold fold everything (incl. THIS commit's id,
        # lineage and metrics) into a fresh immutable summary and reset
        # the tail — commit-record size stays O(threshold) regardless
        # of table age. Legacy (pre-r5 cumulative) records migrate here
        # for free: their full list reads as the tail and compacts.
        new_tail = self._ledger_tail_of(cur) + ([batch_id] if batch_id is not None else [])
        ledger_base = cur.get("ledger_base")
        if len(new_tail) > self.ledger_compact_threshold:
            ledger_base = self._write_ledger_base(
                cur,
                extra_ids=new_tail,
                extra_commit={"lineage": lineage or [], "metrics": metrics or {}},
            )
            new_tail = []
        rec = {
            **cur,
            "snapshot_id": uuid.uuid4().hex[:16],
            "parent": cur["snapshot_id"],
            "batch_id": batch_id,
            "ledger_base": ledger_base,
            "ledger_tail": new_tail,
            "manifest": manifest,
            "lineage": lineage or [],
            "metrics": metrics or {},
        }
        self._write_commit(v, rec)
        return CommitInfo(v, rec["snapshot_id"], batch_id)
