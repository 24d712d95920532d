"""Merge-on-read deltas + compaction (table.merge(strategy='mor')).

The scale motivation: at 10^10 change events a high-frequency CDC tail
with spread keys touches most buckets every micro-batch, so
copy-on-write rewrites ~the whole table per commit. MOR writes O(batch)
delta bytes with NO target read and folds at read time; compaction
amortizes the bucket rewrite over the cadence. These tests pin the
invariant that makes that safe: ANY interleaving of cow/mor merges and
compactions over the same change stream yields byte-identical table
state — snapshot, tombstones, diff, lookup, time travel, ledger.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F, types as T

from datax_spark.table import SnapshotTable

_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("content", T.StringType()),
    ]
)
_DDL = "lsn long, op string, repo string, path string, content string"


def _mk(spark, loc, num_buckets=4) -> SnapshotTable:
    return SnapshotTable.create(
        spark, loc, _SCHEMA, key_cols=["repo", "path"], num_buckets=num_buckets
    )


def _batch(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["lsn", "op", "repo", "path", "content"]),
        schema=_DDL,
    )


def _state(t: SnapshotTable, version=None):
    rows = t.snapshot(version).collect()
    return sorted((r["repo"], r["path"], r["content"]) for r in rows)


_STREAM = [
    # batch 1: inserts across keys
    [(1, "I", "r1", "a.py", "v1"), (2, "I", "r1", "b.py", "v2"),
     (3, "I", "r2", "a.py", "v3"), (4, "I", "r2", "c.py", "v4")],
    # batch 2: updates + a delete
    [(5, "U", "r1", "a.py", "v5"), (6, "D", "r1", "b.py", None),
     (7, "U", "r2", "c.py", "v7")],
    # batch 3: out-of-order redelivery (older lsn must lose), a
    # resurrect-attempt under a delete, and a fresh insert
    [(2, "U", "r1", "a.py", "stale"), (4, "U", "r1", "b.py", "zombie"),
     (8, "I", "r3", "z.py", "v8")],
    # batch 4: delete then same-batch newer re-insert of another key
    [(9, "D", "r2", "a.py", None), (10, "I", "r2", "a.py", "v10")],
]


def _apply(t, spark, strategies):
    for i, (rows, strat) in enumerate(zip(_STREAM, strategies)):
        t.merge(_batch(spark, rows), batch_id=f"b{i}", strategy=strat)


@pytest.mark.parametrize(
    "strategies",
    [
        ("mor", "mor", "mor", "mor"),
        ("cow", "mor", "cow", "mor"),
        ("mor", "cow", "mor", "cow"),
    ],
)
def test_mor_equals_cow_any_interleaving(spark, tmp_path, strategies):
    ref = _mk(spark, str(tmp_path / "cow"))
    _apply(ref, spark, ("cow",) * 4)
    t = _mk(spark, str(tmp_path / "t"))
    _apply(t, spark, strategies)
    assert _state(t) == _state(ref)
    # tombstone internals identical too (lsn defense against late
    # redeliveries must survive the strategy choice)
    meta_ref = sorted(
        (r["repo"], r["path"], r["_lsn"], bool(r["_tombstone"]))
        for r in ref.snapshot(include_meta=True).collect()
    )
    meta_t = sorted(
        (r["repo"], r["path"], r["_lsn"], bool(r["_tombstone"]))
        for r in t.snapshot(include_meta=True).collect()
    )
    assert meta_t == meta_ref


def test_mor_writes_no_target_and_only_batch_bytes(spark, tmp_path):
    """The point of MOR: a merge leaves every pre-existing data dir
    untouched (manifest base pointers unchanged) and adds only delta
    sets for the batch's buckets."""
    t = _mk(spark, str(tmp_path / "t"))
    t.merge(_batch(spark, _STREAM[0]), batch_id="b0")  # cow base
    base_before = {
        b: e for b, e in t.current()["manifest"].items()
    }
    t.merge(_batch(spark, _STREAM[1]), batch_id="b1", strategy="mor")
    man = t.current()["manifest"]
    for b, entry in man.items():
        if isinstance(entry, dict):
            assert entry["base"] == base_before[b]  # base carried by pointer
        else:
            assert entry == base_before[b]  # untouched bucket
    assert t.delta_counts()  # at least one bucket holds a delta


def test_mor_exactly_once_redelivery(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    t.merge(_batch(spark, _STREAM[0]), batch_id="b0", strategy="mor")
    before = _state(t)
    ci = t.merge(_batch(spark, _STREAM[0]), batch_id="b0", strategy="mor")
    assert ci.skipped
    assert _state(t) == before
    # the no-op added no second delta set to any bucket
    assert all(n == 1 for n in t.delta_counts().values())


def test_lsn_tie_across_batches_first_applied_wins(spark, tmp_path):
    """At-least-once redelivery under a NEW batch id: same (key, lsn),
    different payload. COW resolves ties to the existing row; the MOR
    read fold must match (earliest application order wins)."""
    for strat in ("cow", "mor"):
        t = _mk(spark, str(tmp_path / f"t_{strat}"))
        t.merge(_batch(spark, [(5, "U", "r", "p", "first")]), batch_id="a",
                strategy=strat)
        t.merge(_batch(spark, [(5, "U", "r", "p", "second")]), batch_id="b",
                strategy=strat)
        assert _state(t) == [("r", "p", "first")], strat


def test_compact_buckets_preserves_everything(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    _apply(t, spark, ("mor",) * 4)
    pre_state = _state(t)
    pre_version = t.current()["version"]
    assert t.delta_counts()
    ci = t.compact_buckets()
    assert not ci.skipped
    assert t.delta_counts() == {}  # all folded to base
    assert _state(t) == pre_state
    # manifest entries are all plain [dir, sv] bases again
    assert all(isinstance(e, list) for e in t.current()["manifest"].values())
    # time travel to the pre-compaction version still folds its deltas
    assert _state(t, version=pre_version) == pre_state
    # ledger untouched: every batch id still no-ops
    for i, rows in enumerate(_STREAM):
        assert t.merge(_batch(spark, rows), batch_id=f"b{i}").skipped
    # a second compaction is a clean no-op
    assert t.compact_buckets().skipped


def test_compact_threshold_and_bucket_selection(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"), num_buckets=2)
    _apply(t, spark, ("mor",) * 4)
    counts = t.delta_counts()
    hot = max(counts, key=counts.get)
    ci = t.compact_buckets(min_deltas=counts[hot])
    assert not ci.skipped
    assert hot not in t.delta_counts()


def test_vacuum_keeps_live_deltas_reclaims_expired(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    _apply(t, spark, ("mor",) * 4)
    state = _state(t)
    assert t.vacuum() == []  # every delta referenced by retained history
    assert _state(t) == state
    t.compact_buckets()
    t.expire_snapshots(keep_last=1)
    removed = t.vacuum()
    assert removed  # pre-compaction delta dirs reclaimed
    assert _state(t) == state
    data_dir = os.path.join(t.location, "data")
    live = {
        d.split("/")[1]
        for e in t.current()["manifest"].values()
        for d, _sv in SnapshotTable._manifest_parts(e)
    }
    assert set(os.listdir(data_dir)) == live


def test_mor_lookup_and_diff(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    _apply(t, spark, ("mor",) * 4)
    # point lookup folds the bucket's base+deltas
    got = t.lookup({"repo": "r1", "path": "a.py"}).collect()
    assert [(r["content"]) for r in got] == ["v5"]
    # deleted key invisible
    assert t.lookup({"repo": "r1", "path": "b.py"}).collect() == []
    # diff across mor versions equals the change the stream made
    hist = sorted(c["version"] for c in t.history())
    d = t.diff(hist[0], hist[-1])
    changes = {(r["_change"], r["repo"], r["path"]) for r in d.collect()}
    assert ("I", "r3", "z.py") in changes
    assert ("U", "r1", "a.py") in changes or ("I", "r1", "a.py") in changes


def test_purge_and_rebucket_collapse_deltas(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    _apply(t, spark, ("mor",) * 4)
    state = _state(t)
    t.rebucket(8)
    assert t.delta_counts() == {}
    assert _state(t) == state
    t.merge(_batch(spark, [(11, "D", "r3", "z.py", None)]), batch_id="b5",
            strategy="mor")
    t.purge_tombstones()
    assert t.delta_counts() == {}
    assert ("r3", "z.py") not in {(a, b) for a, b, _ in _state(t)}


def test_mor_under_schema_evolution(spark, tmp_path):
    """Deltas written under different schema versions align on read."""
    t = _mk(spark, str(tmp_path / "t"))
    t.merge(_batch(spark, _STREAM[0]), batch_id="b0", strategy="mor")
    t.evolve_schema(
        T.StructType(_SCHEMA.fields + [T.StructField("lang", T.StringType())]),
        change="add lang",
    )
    b = spark.createDataFrame(
        pd.DataFrame(
            [(20, "U", "r1", "a.py", "v20", "python")],
            columns=["lsn", "op", "repo", "path", "content", "lang"],
        ),
        schema=_DDL + ", lang string",
    )
    t.merge(b, batch_id="b1", strategy="mor")
    rows = {(r["repo"], r["path"]): (r["content"], r["lang"])
            for r in t.snapshot().collect()}
    assert rows[("r1", "a.py")] == ("v20", "python")
    assert rows[("r2", "a.py")] == ("v3", None)  # old delta aligned
    t.compact_buckets()
    rows2 = {(r["repo"], r["path"]): (r["content"], r["lang"])
             for r in t.snapshot().collect()}
    assert rows2 == rows


def test_engine_mor_replay_matches_cow_and_autocompacts(spark, wal_fixture, tmp_path):
    """Full WAL replay (schema evolution included) under the MOR
    engine: final table sha-equivalent to the COW engine's, and the
    inline compactor kept every bucket's delta count under threshold."""
    from pyspark.sql import functions as F

    from datax_spark.engine import replay_wal_as_table
    from datax_spark.schema_evolution import EpochRegistry

    def hashes(table):
        return sorted(
            (r["repo"], r["path"], r["h"])
            for r in table.snapshot()
            .withColumn("h", F.sha2("content", 256))
            .select("repo", "path", "h")
            .collect()
        )

    from datax_spark.engine import wal_checkpoint_run

    reg = EpochRegistry.from_json(wal_fixture.schema_epochs_path)
    cow = replay_wal_as_table(spark, wal_fixture.wal_dir, reg,
                              str(tmp_path / "cow"), num_buckets=8)
    thr = 2
    # streaming tail, one WAL segment per micro-batch — the
    # high-frequency shape MOR exists for
    mor = wal_checkpoint_run(
        spark, wal_fixture.wal_dir, reg, str(tmp_path / "mor"),
        str(tmp_path / "ckpt"), num_buckets=8,
        merge_strategy="mor", mor_compact_threshold=thr,
    )
    assert hashes(mor) == hashes(cow)
    assert all(n < thr for n in mor.delta_counts().values())
    # compaction commits actually happened (the WAL has >thr segments)
    assert any(
        c.get("metrics", {}).get("compact_buckets") for c in mor.history()
    )


def test_engine_mor_stream_kill_restart(spark, wal_fixture, tmp_path):
    """MOR under the checkpointed streaming tail with a mid-stream
    kill: resume converges to the batch COW fold, exactly-once held."""
    import pandas as pd

    from datax_spark.engine import replay_wal_as_table, wal_checkpoint_run
    from datax_spark.schema_evolution import EpochRegistry

    reg = EpochRegistry.from_json(wal_fixture.schema_epochs_path)
    loc, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    t = wal_checkpoint_run(
        spark, wal_fixture.wal_dir, reg, loc, ckpt, num_buckets=8,
        stop_after_batches=2, merge_strategy="mor", mor_compact_threshold=3,
    )
    t = wal_checkpoint_run(
        spark, wal_fixture.wal_dir, reg, loc, ckpt, num_buckets=8,
        merge_strategy="mor", mor_compact_threshold=3,
    )
    ref = replay_wal_as_table(spark, wal_fixture.wal_dir, reg,
                              str(tmp_path / "ref"), num_buckets=8)

    def hdf(table):
        from pyspark.sql import functions as F

        return (
            table.snapshot()
            .withColumn("content_sha256", F.sha2("content", 256))
            .select("repo", "path", "content_sha256")
            .toPandas()
            .sort_values(["repo", "path"])
            .reset_index(drop=True)
        )

    pd.testing.assert_frame_equal(hdf(t), hdf(ref))


def test_compaction_loses_race_to_concurrent_mor_writer(spark, tmp_path):
    """External-compactor deployment shape: a compactor racing the
    streaming tail must LOSE the atomic version claim (never clobber
    the tail's delta), and a plain retry then folds the complete
    state — the late delta included."""
    from datax_spark.table import ConcurrentCommitError

    loc = str(tmp_path / "t")
    t = _mk(spark, loc)
    _apply(t, spark, ("mor",) * 4)
    writer = SnapshotTable.load(spark, loc)

    orig = t._write_commit
    fired = {"n": 0}

    def racing_write(version, record):
        if fired["n"] == 0:
            fired["n"] += 1
            writer.merge(
                _batch(spark, [(20, "U", "r1", "a.py", "late")]),
                batch_id="late", strategy="mor",
            )
        return orig(version, record)

    t._write_commit = racing_write
    with pytest.raises(ConcurrentCommitError):
        t.compact_buckets()
    # retry from fresh state folds everything, late delta included
    t2 = SnapshotTable.load(spark, loc)
    assert not t2.compact_buckets().skipped
    assert t2.delta_counts() == {}
    assert ("r1", "a.py", "late") in _state(t2)
    # the loser's orphan dir is reclaimable
    assert any(d for d in t2.vacuum())


def test_inline_compaction_losing_race_keeps_merge(spark, wal_fixture, tmp_path):
    """Inline compaction is opportunistic: when a rival commit lands
    between the batch's merge and its compaction, apply_batch must
    still return the merge's commit (not raise after it committed),
    the batch id is in the ledger exactly once, and the next threshold
    check compacts."""
    from datax_spark.engine import CDCEngine
    from datax_spark.schema_evolution import EpochRegistry

    reg = EpochRegistry.from_json(wal_fixture.schema_epochs_path)
    loc = str(tmp_path / "t")
    t = SnapshotTable.create(spark, loc, reg.schema_for(0),
                             key_cols=reg.key_cols, num_buckets=1)
    thr = 2
    engine = CDCEngine(spark, t, reg, merge_strategy="mor", mor_compact_threshold=thr)
    segs = sorted(
        os.path.join(wal_fixture.wal_dir, f)
        for f in os.listdir(wal_fixture.wal_dir)
        if f.endswith(".parquet")
    )
    engine.apply_batch(spark.read.parquet(segs[0]), batch_id="s0")

    rival = SnapshotTable.load(spark, loc)
    orig = t._write_commit
    raced = []

    def racing_write(version, record):
        if "compact_buckets" in record["metrics"] and not raced:
            raced.append(rival.compact_ledger().version)
        return orig(version, record)

    t._write_commit = racing_write
    ci = engine.apply_batch(spark.read.parquet(segs[1]), batch_id="s1")
    t._write_commit = orig
    assert raced, "the compaction never reached its commit"
    assert not ci.skipped and ci.batch_id == "s1"
    assert t._read_commit(ci.version)["batch_id"] == "s1"
    assert ci.version < raced[0] == t.current()["version"]  # rival won
    assert t.delta_counts()[0] >= thr  # the lost compaction left its deltas
    assert [c["version"] for c in t.history() if c["batch_id"] == "s1"] == [ci.version]
    assert "s1" in t.committed_batch_ids()

    engine.apply_batch(spark.read.parquet(segs[2]), batch_id="s2")
    assert t.current()["metrics"].get("compact_buckets") == [0]
    assert t.delta_counts() == {}


from hypothesis import given, settings, strategies as st


@st.composite
def _op_stream(draw):
    """A random change stream over a small key space, pre-split into
    1–4 batches, with a per-batch strategy and a random set of
    compaction points — the full space of cow/mor/compact
    interleavings."""
    n_events = draw(st.integers(2, 18))
    events = []
    for lsn in range(1, n_events + 1):
        k = draw(st.integers(0, 5))
        op = draw(st.sampled_from(["U", "U", "I", "D"]))
        events.append((lsn, op, "r", f"p{k}",
                       None if op == "D" else f"v{lsn}"))
    n_batches = draw(st.integers(1, min(4, n_events)))
    cuts = sorted(draw(st.sets(st.integers(1, n_events - 1),
                               min_size=n_batches - 1, max_size=n_batches - 1)))
    bounds = [0] + cuts + [n_events]
    batches = [events[a:b] for a, b in zip(bounds, bounds[1:]) if b > a]
    strategies = [draw(st.sampled_from(["cow", "mor"])) for _ in batches]
    compact_after = [draw(st.booleans()) for _ in batches]
    return batches, strategies, compact_after


@given(_op_stream())
@settings(max_examples=12, deadline=None)
def test_property_any_interleaving_equals_cow(spark, tmp_path_factory, case):
    """Property over random op streams: ANY per-batch cow/mor choice
    with ANY compaction points folds to the pure-COW state — snapshot
    AND tombstone internals."""
    batches, strategies, compact_after = case
    root = tmp_path_factory.mktemp("morprop")
    ref = _mk(spark, str(root / "ref"))
    t = _mk(spark, str(root / "t"))
    for i, rows in enumerate(batches):
        ref.merge(_batch(spark, rows), batch_id=f"b{i}")
        t.merge(_batch(spark, rows), batch_id=f"b{i}", strategy=strategies[i])
        if compact_after[i]:
            t.compact_buckets()
    meta = lambda x: sorted(  # noqa: E731
        (r["repo"], r["path"], r["_lsn"], bool(r["_tombstone"]))
        for r in x.snapshot(include_meta=True).collect()
    )
    assert _state(t) == _state(ref)
    assert meta(t) == meta(ref)
