"""Seeded, vectorised CDC WAL generator for the benchmark.

Writes parquet WAL segments in the engine's WAL schema (see
`datax_spark.schema_evolution.EpochRegistry.wal_schema`) plus the
reference results every reader op and the final fold must match. All
randomness comes from one `numpy.random.Generator` seeded by the
caller, and nothing reads the clock, so one seed gives byte-identical
segments. The engine under test only ever sees the parquet files.

Ops are drawn without a per-event Python state machine: each event is
a delete candidate with probability `delete_frac`; it becomes a 'D'
only when the key's previous event was an upsert candidate (so a delete
always hits a live key), else it is an upsert ('I' after a delete or on
first sight, 'U' otherwise).
"""

from __future__ import annotations

import json
import os
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Epoch 0 is the base payload; epoch 1 adds `stars`. The WAL always
# carries `stars` (null before epoch 1), as EpochRegistry.wal_schema
# expects a union of all epochs' columns.
EPOCHS = [
    {"epoch": 0, "change": "base", "columns": {"commit": "string", "content": "string"}},
    {
        "epoch": 1,
        "change": "add stars:long",
        "columns": {"commit": "string", "content": "string", "stars": "long"},
    },
]
KEY_COLS = ["repo", "path"]
EPOCH_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z; event ts = this + lsn seconds

WAL_SCHEMA = pa.schema(
    [
        ("lsn", pa.int64()),
        ("op", pa.string()),
        ("repo", pa.string()),
        ("path", pa.string()),
        ("commit", pa.string()),
        ("content", pa.string()),
        ("stars", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("schema_epoch", pa.int32()),
    ]
)


def key_strings(n_keys: int) -> tuple[pa.Array, pa.Array]:
    """(repo, path) string arrays for key ids 0..n_keys-1."""
    ids = np.arange(n_keys, dtype=np.int64)
    repo = pc.binary_join_element_wise(
        "org", pc.cast(pa.array(ids % 13), pa.string()),
        "/repo", pc.cast(pa.array(ids % 101), pa.string()), "",
    )
    path = pc.binary_join_element_wise(
        "src/m", pc.cast(pa.array(ids // 1000), pa.string()),
        "/f", pc.cast(pa.array(ids), pa.string()), ".py", "",
    )
    return repo, path


def row_crc(repo: str, path: str, commit: str, content: str, stars) -> int:
    """Checksum of one live row. The Spark side computes the same value
    as crc32(concat_ws('|', repo, path, commit, content,
    coalesce(cast(stars as string), '')))."""
    s = "|".join([repo, path, commit, content, "" if stars is None else str(stars)])
    return zlib.crc32(s.encode())


def _prev_same_key(key: np.ndarray, values: np.ndarray, carried: np.ndarray) -> np.ndarray:
    """Per event, the value of the previous event of the same key in this
    block, or carried[key] for the key's first event here; then stores
    each key's last value back into `carried`."""
    n = len(key)
    order = np.argsort(key, kind="stable")
    ks, vs = key[order], values[order]
    first = np.ones(n, dtype=bool)
    first[1:] = ks[1:] != ks[:-1]
    prev = np.empty(n, dtype=values.dtype)
    prev[order[first]] = carried[ks[first]]
    prev[order[~first]] = vs[:-1][~first[1:]]
    last = np.ones(n, dtype=bool)
    last[:-1] = ks[1:] != ks[:-1]
    carried[ks[last]] = vs[last]
    return prev


@dataclass
class Events:
    """One block of WAL events, in lsn order."""

    lsn: np.ndarray
    key: np.ndarray
    is_del: np.ndarray
    epoch: np.ndarray


class WalWriter:
    """Accumulates events for one workload and keeps the reference fold
    (per-key last writer wins, deletes drop the key) up to date after
    every written file, so reader expectations are exact at each point."""

    def __init__(self, rng: np.random.Generator, n_keys: int, content_bytes: int):
        self.rng = rng
        self.n_keys = n_keys
        self.content_bytes = content_bytes
        self.repo, self.path = key_strings(n_keys)
        self._repo_py = self.repo.to_pylist()
        self._path_py = self.path.to_pylist()
        self.next_lsn = 0
        self.prev_cand_del = np.ones(n_keys, dtype=bool)  # no event yet ≙ 'dead'
        self.prev_op_del = np.ones(n_keys, dtype=bool)
        self.alive = np.zeros(n_keys, dtype=bool)
        self.crc = np.zeros(n_keys, dtype=np.int64)
        self.last_lsn = np.full(n_keys, -1, dtype=np.int64)
        self.row: list[dict | None] = [None] * n_keys  # live payload per key
        self.history: list[tuple[pa.Table, np.ndarray]] = []  # for late redelivery

    def draw(self, n: int, key_p: np.ndarray | None, delete_frac: float, epoch: int) -> Events:
        key = self.rng.choice(self.n_keys, size=n, p=key_p)
        cand_del = self.rng.random(n) < delete_frac
        lsn = np.arange(self.next_lsn, self.next_lsn + n, dtype=np.int64)
        self.next_lsn += n
        is_del = cand_del & ~_prev_same_key(key, cand_del, self.prev_cand_del)
        return Events(lsn, key, is_del, np.full(n, epoch, dtype=np.int32))

    def _op_labels(self, ev: Events) -> np.ndarray:
        """'D' / 'I' (first sight or after a delete) / 'U'."""
        prev_del = _prev_same_key(ev.key, ev.is_del, self.prev_op_del)
        return np.where(ev.is_del, "D", np.where(prev_del, "I", "U"))

    def table(self, ev: Events) -> pa.Table:
        n = len(ev.key)
        ops = self._op_labels(ev)
        keys = pa.array(ev.key)
        lsn_s = pc.cast(pa.array(ev.lsn), pa.string())
        filler = (
            self.rng.integers(97, 123, size=(n, self.content_bytes), dtype=np.uint8)
            .view(f"S{self.content_bytes}")
            .ravel()
        )
        live = pa.array(~ev.is_del)
        null_s = pa.nulls(n, pa.string())
        content = pc.binary_join_element_wise(
            "k", pc.cast(keys, pa.string()), "@", lsn_s, ":",
            pc.cast(pa.array(filler, type=pa.binary()), pa.string()), "",
        )
        stars = np.where(ev.epoch >= 1, (ev.lsn * 31 + ev.key) % 10_000, 0)
        stars_ok = pa.array((ev.epoch >= 1) & ~ev.is_del)
        return pa.table(
            {
                "lsn": pa.array(ev.lsn),
                "op": pa.array(ops),
                "repo": self.repo.take(keys),
                "path": self.path.take(keys),
                "commit": pc.if_else(live, pc.binary_join_element_wise("c", lsn_s, ""), null_s),
                "content": pc.if_else(live, content, null_s),
                "stars": pc.if_else(stars_ok, pa.array(stars), pa.nulls(n, pa.int64())),
                "ts": pc.cast(pa.array(EPOCH_US + ev.lsn * 1_000_000), pa.timestamp("us")),
                "schema_epoch": pa.array(ev.epoch),
            },
            schema=WAL_SCHEMA,
        )

    def fold(self, tbl: pa.Table, keys: np.ndarray) -> None:
        """Apply one written file to the reference state: per key the
        highest lsn wins, and an event whose lsn is not above the key's
        applied lsn (a late redelivery) changes nothing."""
        lsn = tbl.column("lsn").to_numpy()
        order = np.argsort(lsn, kind="stable")[::-1]
        k_desc = keys[order]
        _, first = np.unique(k_desc, return_index=True)
        win = order[first]
        win = win[lsn[win] > self.last_lsn[keys[win]]]
        k = keys[win]
        self.last_lsn[k] = lsn[win]
        is_del = tbl.column("op").to_numpy(zero_copy_only=False)[win] == "D"
        self.alive[k] = ~is_del
        self.crc[k[is_del]] = 0
        for i in k[is_del]:
            self.row[i] = None
        up = win[~is_del]
        sub = tbl.select(["commit", "content", "stars"]).take(pa.array(up)).to_pylist()
        for i, r in zip(keys[up], sub):
            self.crc[i] = row_crc(self._repo_py[i], self._path_py[i],
                                  r["commit"], r["content"], r["stars"])
            self.row[i] = r

    def write(self, tbl: pa.Table, keys: np.ndarray, path: str) -> dict:
        pq.write_table(tbl, path)
        self.history.append((tbl, keys))
        self.fold(tbl, keys)
        return {"file": os.path.basename(path), "events": tbl.num_rows,
                "bytes": os.path.getsize(path)}

    def late_redeliveries(self, n: int) -> tuple[pa.Table, np.ndarray]:
        """n events copied verbatim (same lsn) from earlier written files."""
        past = pa.concat_tables([t for t, _ in self.history])
        keys = np.concatenate([k for _, k in self.history])
        pick = np.sort(self.rng.choice(past.num_rows, size=min(n, past.num_rows), replace=False))
        return past.take(pa.array(pick)), keys[pick]

    def state(self) -> dict:
        return {"count": int(self.alive.sum()), "crc_sum": int(self.crc[self.alive].sum())}

    def expect_row(self, k: int) -> dict:
        return {"key": {"repo": self._repo_py[k], "path": self._path_py[k]}, "row": self.row[k]}


def zipf_p(rng: np.random.Generator, n_keys: int, a: float = 1.1) -> np.ndarray:
    """Zipf-hot key weights over a seeded permutation of the key ids."""
    w = 1.0 / np.power(np.arange(1, n_keys + 1), a)
    p = np.empty(n_keys)
    p[rng.permutation(n_keys)] = w / w.sum()
    return p


def _finish(out_dir: str, manifest: dict) -> dict:
    """Write the epoch registry and expected.json (paths in it are
    relative to out_dir, so the file is a function of the seed only)."""
    with open(os.path.join(out_dir, "schema_epochs.json"), "w") as f:
        json.dump(EPOCHS, f)
    manifest["registry"] = "schema_epochs.json"
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


def make_bulk(
    out_dir: str,
    seed: int,
    n_keys: int,
    n_segments: int,
    events_per_segment: int,
    delete_frac: float = 0.15,
    late_dup_frac: float = 0.01,
    content_bytes: int = 200,
    n_lookups: int = 8,
) -> dict:
    """Bulk catch-up WAL: Zipf-hot keys into an empty table, ~1% late
    same-lsn redeliveries in later segments, and the add-column epoch
    from the midpoint segment on. Expected: final state + lookups."""
    w = WalWriter(np.random.default_rng(seed), n_keys, content_bytes)
    wal = os.path.join(out_dir, "wal")
    os.makedirs(wal, exist_ok=True)
    p = zipf_p(w.rng, n_keys)
    segs = []
    for s in range(n_segments):
        ev = w.draw(events_per_segment, p, delete_frac, epoch=int(s >= n_segments // 2))
        tbl, keys = w.table(ev), ev.key
        if s >= 1 and late_dup_frac > 0:
            dups, dup_keys = w.late_redeliveries(int(events_per_segment * late_dup_frac))
            tbl, keys = pa.concat_tables([tbl, dups]), np.concatenate([keys, dup_keys])
        segs.append(w.write(tbl, keys, os.path.join(wal, f"segment_{s:04d}.parquet")))
    lookup_keys = w.rng.choice(n_keys, size=n_lookups, replace=False)
    return _finish(out_dir, {
        "wal_dir": "wal",
        "segments": segs,
        "final": w.state(),
        "lookups": [w.expect_row(int(k)) for k in lookup_keys],
    })


def make_tail(
    out_dir: str,
    seed: int,
    n_keys: int,
    n_base_segments: int,
    n_batches: int,
    batch_events: int,
    delete_frac: float = 0.15,
    content_bytes: int = 200,
) -> dict:
    """Tail WAL: a base of every key inserted once (epoch 0, drained by
    the streaming source during set-up), then `n_batches` small batch
    files over uniform keys at epoch 1. Expected: the state after every
    batch and, per batch, the row of one key that batch touched."""
    w = WalWriter(np.random.default_rng(seed), n_keys, content_bytes)
    base_dir = os.path.join(out_dir, "base")
    tail_dir = os.path.join(out_dir, "tail")
    os.makedirs(base_dir, exist_ok=True)
    os.makedirs(tail_dir, exist_ok=True)
    perm = w.rng.permutation(n_keys)
    base = []
    for s, part in enumerate(np.array_split(perm, n_base_segments)):
        ev = Events(
            lsn=np.arange(w.next_lsn, w.next_lsn + len(part), dtype=np.int64),
            key=part.astype(np.int64),
            is_del=np.zeros(len(part), dtype=bool),
            epoch=np.zeros(len(part), dtype=np.int32),
        )
        w.next_lsn += len(part)
        w.prev_cand_del[part] = False
        base.append(w.write(w.table(ev), ev.key, os.path.join(base_dir, f"base_{s:04d}.parquet")))
    base_state = w.state()
    batches = []
    for b in range(n_batches):
        ev = w.draw(batch_events, None, delete_frac, epoch=1)
        probe = int(ev.key[w.rng.integers(len(ev.key))])
        info = w.write(w.table(ev), ev.key, os.path.join(tail_dir, f"batch_{b:05d}.parquet"))
        info["after"] = w.state()
        info["lookup"] = w.expect_row(probe)
        batches.append(info)
    return _finish(out_dir, {
        "base_dir": "base",
        "base": base,
        "base_state": base_state,
        "tail_dir": "tail",
        "batches": batches,
    })
