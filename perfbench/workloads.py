"""The three CDC workloads, driven through `datax_spark`'s public API.

Closed loop, one client: the next batch is applied only after the
previous one committed, and reader ops run in the same thread between
commits. Every op is checked against the generator's reference; a
miss counts as failed (and makes the run incorrect) but the loop goes
on, so one bad op never hides the rest of the measurement.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import walgen

# --- box fit (4 cores, ~15 GB shared RAM). See perfbench/README.md. ---
CORES = 4
BUCKETS = 16
TAIL_KEYS = 10_000
TAIL_BATCH_EVENTS = 2_000
ROUND = 4  # commits per round; == MOR compaction threshold
ROUND_SECONDS = 5.0  # nominal round wall: --seconds buys seconds / this rounds
SCAN_EVERY = 2  # commits between snapshot scans
REDELIVER_EVERY = 8  # one tail batch id in 8 (the last of an even round) is applied twice
BULK_KEYS = 20_000
BULK_SEGMENTS = 4
BULK_SEGMENT_EVENTS = 10_000
BULK_LOOKUPS = 6
WARM_BATCHES = 4  # tail COW warm batches, before ROUND MOR ones
ONE_CORE_SHARE = 0.6  # of --seconds spent on bulk_cow's local[1] leg
TREND_BOUND = 0.25  # == the loosest end-to-end bound in BENCHMARK.json


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all CPUs (/proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def data_bytes(table_location: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(os.path.join(table_location, "data")):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def checksum_df(table):
    from pyspark.sql import functions as F

    snap = table.snapshot()
    stars = F.col("stars").cast("string") if "stars" in snap.columns else F.lit(None)
    row = F.concat_ws("|", "repo", "path", "commit", "content", F.coalesce(stars, F.lit("")))
    return snap.agg(
        F.count(F.lit(1)).alias("count"),
        F.coalesce(F.sum(F.crc32(row.cast("binary"))), F.lit(0)).alias("crc_sum"),
    )


class Ops:
    """Closed-loop op runner: times each op, checks it, counts it."""

    def __init__(self, bench):
        self.bench = bench

    def timed(self, kind: str, fn, check, span: str | None = None):
        b = self.bench
        b.attempted += 1
        sp = b.tracer.open(span) if span and b.tracer else None
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception as e:  # noqa: BLE001 — an op failure is a measured outcome
            b.fail(f"{kind} raised {type(e).__name__}: {e}")
            return None, None
        finally:
            if sp is not None:
                b.tracer.close(sp)
        dt = time.perf_counter() - t0
        problem = check(result)
        if problem:
            b.fail(f"{kind}: {problem}")
        return result, dt

    def scan(self, table, want: dict):
        def check(r):
            got = {"count": r["count"], "crc_sum": r["crc_sum"]}
            return None if got == want else f"snapshot {got} != reference {want}"

        _, dt = self.timed(
            "scan", lambda: checksum_df(table).collect()[0], check, "table.scan"
        )
        return dt

    def lookup(self, table, want: dict):
        def check(rows):
            if want["row"] is None:
                return None if not rows else f"deleted key {want['key']} returned {len(rows)} rows"
            if len(rows) != 1:
                return f"key {want['key']} returned {len(rows)} rows"
            got = {c: rows[0][c] for c in ("commit", "content", "stars")}
            return None if got == want["row"] else f"key {want['key']} row differs"

        _, dt = self.timed(
            "lookup", lambda: table.lookup(want["key"]).collect(), check, "table.lookup"
        )
        return dt

    def ledger(self, table, applied: list[str]) -> None:
        def check(_):
            ids = table.committed_batch_ids()
            seen: dict[str, int] = {}
            for c in table.history():
                if c.get("batch_id") is not None:
                    seen[c["batch_id"]] = seen.get(c["batch_id"], 0) + 1
            missing = [b for b in applied if b not in ids]
            doubled = [b for b, n in seen.items() if n != 1]
            if missing or doubled:
                return f"ledger missing {missing[:3]} doubled {doubled[:3]}"
            return None

        self.timed("ledger", lambda: None, check)


def _new_table(bench, location: str, registry):
    from datax_spark.table import SnapshotTable

    return SnapshotTable.create(
        bench.spark, location, registry.schema_for(0),
        key_cols=registry.key_cols, num_buckets=BUCKETS,
    )


def _engine(bench, table, registry, strategy: str):
    from datax_spark.engine import CDCEngine

    return CDCEngine(
        bench.spark, table, registry, merge_strategy=strategy, mor_compact_threshold=ROUND
    )


def _drain(bench, engine, wal_dir: str, ckpt: str, files_per_trigger: int) -> tuple[float, list]:
    """run_stream(available_now) to completion. Returns the drain wall
    and the CommitInfo of every micro-batch with its end time."""
    done = []
    span = bench.tracer.open("streaming.run_stream") if bench.tracer else None
    if span is not None:
        bench.tracer.root = span["id"]
    t0 = time.perf_counter()
    try:
        q = engine.run_stream(
            wal_dir, ckpt, max_files_per_trigger=files_per_trigger,
            on_batch=lambda ci, epoch: done.append((ci, time.perf_counter())),
        )
        q.awaitTermination()
    finally:
        if span is not None:
            bench.tracer.close(span)
            bench.tracer.root = None
    return time.perf_counter() - t0, [(ci, t - t0) for ci, t in done]


def _warm_up(bench, registry, shapes: list[tuple[str, str]]) -> None:
    """Run every plan shape on a throwaway table before any timed
    batch. `shapes` is a list of (strategy, WAL file) applied in order,
    each followed by a point lookup, every other one by a scan."""
    loc = os.path.join(bench.work, "warm")
    table = _new_table(bench, loc, registry)
    reader = bench.spark.read.schema(registry.wal_schema())
    walls = []
    for i, (strategy, path) in enumerate(shapes):
        t0 = time.perf_counter()
        engine = _engine(bench, table, registry, strategy)
        engine.apply_batch(reader.parquet(path), batch_id=f"warm-{i}")
        table.lookup({"repo": "org0/repo0", "path": "src/m0/f0.py"}).collect()
        if i % SCAN_EVERY == SCAN_EVERY - 1:
            checksum_df(table).collect()
        walls.append(time.perf_counter() - t0)
    shutil.rmtree(loc)
    bench.notes.append("warm-up batches (s): " + " ".join(f"{w:.2f}" for w in walls))


def _trend(bench, lat: list[float]) -> None:
    """First-half vs second-half median of the timed batches: a drift
    larger than the bound means the warm-up was too short."""
    h = len(lat) // 2
    if h < 2:
        return
    a, b = statistics.median(lat[:h]), statistics.median(lat[h:])
    bench.notes.append(
        f"trend: commit median first half {a:.3f}s, second half {b:.3f}s "
        f"({(b - a) / a:+.1%}; bound {TREND_BOUND:.0%})"
        + ("" if abs(b - a) <= TREND_BOUND * a else "  DRIFT")
    )


# ------------------------------------------------------------- tails


def run_tail(bench, strategy: str) -> None:
    # A fixed number of whole rounds per --seconds, so every run has the
    # same samples and the same commit/compaction mix; a slower engine
    # makes the run longer, not smaller.
    n_rounds = max(1, round(bench.seconds / ROUND_SECONDS))
    gen = os.path.join(bench.work, "wal")
    m = walgen.make_tail(
        gen, bench.seed, n_keys=TAIL_KEYS, n_base_segments=2,
        n_batches=max(n_rounds, 2) * ROUND, batch_events=TAIL_BATCH_EVENTS,
    )
    from datax_spark.schema_evolution import EpochRegistry

    t_setup = time.perf_counter()
    bench.start_spark(CORES)
    registry = EpochRegistry.from_json(
        os.path.join(gen, m["registry"]), key_cols=walgen.KEY_COLS
    )
    tail = [os.path.join(gen, m["tail_dir"], b["file"]) for b in m["batches"]]
    # COW merges (first into empty buckets, then with a target read),
    # then MOR deltas through one inline compaction.
    t_warm = time.perf_counter()
    _warm_up(bench, registry, [("cow", f) for f in tail[:WARM_BATCHES]]
             + [("mor", f) for f in tail[WARM_BATCHES : WARM_BATCHES + ROUND]])
    t_base = time.perf_counter()

    # Base table: every key inserted once, drained through the streaming
    # source as one COW catch-up, the way a tail starts after a bootstrap.
    loc = os.path.join(bench.work, "table")
    table = _new_table(bench, loc, registry)
    base_engine = _engine(bench, table, registry, "cow")
    bench.phase("setup")
    bench.instrument(table, base_engine)
    _drain(
        bench, base_engine, os.path.join(gen, m["base_dir"]), os.path.join(bench.work, "ckpt"), 8
    )
    ops = Ops(bench)
    ops.scan(table, m["base_state"])
    engine = _engine(bench, table, registry, strategy)
    bench.phase("timed")
    bench.instrument(engine=engine)
    reader = bench.spark.read.schema(registry.wal_schema())
    bytes0 = data_bytes(loc)
    steal0 = steal_s()
    bench.setup_s.append(time.perf_counter() - t_setup)
    bench.notes.append(
        f"setup: session {t_warm - t_setup:.2f}s, warm-up {t_base - t_warm:.2f}s, "
        f"base table {t_setup + bench.setup_s[-1] - t_base:.2f}s"
    )

    commit, lookup, scan, units = [], [], [], []
    applied, events, wal_bytes, write_wall = [], 0, 0, 0.0
    for i, (info, path) in enumerate(zip(m["batches"], tail[: n_rounds * ROUND])):
        if i % ROUND == 0:  # a traced run alternates per ROUND batches
            traced, t_unit = bench.begin_unit(i // ROUND), time.perf_counter()
        bid = f"tail-{i:05d}"
        df = reader.parquet(path)
        bench.tracer_batch(bid)
        _, dt = ops.timed(
            "apply", lambda: engine.apply_batch(df, batch_id=bid),
            lambda ci: "fresh batch reported skipped" if ci.skipped else None,
        )
        if dt is not None:
            commit.append(dt)
            write_wall += dt
            applied.append(bid)
            events += info["events"]
            wal_bytes += info["bytes"]
        if i % REDELIVER_EVERY == ROUND - 1:
            _, dt = ops.timed(
                "redeliver", lambda: engine.apply_batch(df, batch_id=bid),
                lambda ci: None if ci.skipped else "redelivered batch was re-applied",
            )
            write_wall += dt or 0.0
        dt = ops.lookup(table, info["lookup"])
        if dt is not None:
            lookup.append(dt)
        if i % SCAN_EVERY == SCAN_EVERY - 1:
            dt = ops.scan(table, info["after"])
            if dt is not None:
                scan.append(dt)
        bench.tracer_batch(None)
        if i % ROUND == ROUND - 1:
            units.append((traced, time.perf_counter() - t_unit))
    bench.notes.append(
        f"{len(applied)} batches of {TAIL_BATCH_EVENTS} events applied; "
        f"host CPU steal during them {steal_s() - steal0:.2f}s"
    )
    ops.ledger(table, applied)
    bench.record(
        events_per_s=events / write_wall if write_wall else None,
        commit=commit, lookup=lookup, scan=scan,
        write_amp=(data_bytes(loc) - bytes0) / wal_bytes if wal_bytes else None,
        units=units,
    )
    _trend(bench, commit)


# -------------------------------------------------------------- bulk


def _bulk_pass(bench, m: dict, wal_dir: str, registry, p: int, ops: Ops) -> dict:
    loc = os.path.join(bench.work, f"bulk-{p}")
    table = _new_table(bench, loc, registry)
    engine = _engine(bench, table, registry, "cow")
    bench.instrument(table, engine)
    bench.attempted += len(m["segments"])
    wall, done = _drain(bench, engine, wal_dir, os.path.join(bench.work, f"ckpt-{p}"), 1)
    if len(done) != len(m["segments"]) or any(ci.skipped for ci, _ in done):
        bench.fail(f"pass {p}: {len(done)} micro-batches for {len(m['segments'])} segments")
    ends = [t for _, t in done]
    lat = [b - a for a, b in zip([0.0] + ends[:-1], ends)]
    scan = ops.scan(table, m["final"])
    lookup = [ops.lookup(table, want) for want in m["lookups"]]
    ops.ledger(table, [ci.batch_id for ci, _ in done])
    wal_bytes = sum(s["bytes"] for s in m["segments"])
    out = {
        "wall": wall, "lat": lat, "scan": scan, "lookup": [x for x in lookup if x is not None],
        "events": sum(s["events"] for s in m["segments"]),
        "write_amp": data_bytes(loc) / wal_bytes,
    }
    shutil.rmtree(loc)
    return out


def run_bulk(bench) -> None:
    gen = os.path.join(bench.work, "wal")
    m = walgen.make_bulk(
        gen, bench.seed, n_keys=BULK_KEYS,
        n_segments=BULK_SEGMENTS, events_per_segment=BULK_SEGMENT_EVENTS,
        delete_frac=0.18, n_lookups=BULK_LOOKUPS,
    )
    from datax_spark.schema_evolution import EpochRegistry

    registry = EpochRegistry.from_json(
        os.path.join(gen, m["registry"]), key_cols=walgen.KEY_COLS
    )
    wal_dir = os.path.join(gen, m["wal_dir"])
    segs = [os.path.join(wal_dir, s["file"]) for s in m["segments"]]
    ops = Ops(bench)
    eps, passes = {}, 0
    for cores, share in ((1, ONE_CORE_SHARE), (CORES, 1 - ONE_CORE_SHARE)):
        t_setup = time.perf_counter()
        bench.start_spark(cores)
        # into empty buckets, then with a target read and the epoch-1
        # schema change
        _warm_up(bench, registry, [("cow", segs[0]), ("cow", segs[-1])])
        bench.setup_s.append(time.perf_counter() - t_setup)
        results = []
        t_leg = time.perf_counter()
        while not results or time.perf_counter() - t_leg < bench.seconds * share:
            traced = bench.begin_unit(len(results) if cores == CORES else None)
            r = _bulk_pass(bench, m, wal_dir, registry, passes, ops)
            passes += 1
            results.append((traced, r))
        eps[cores] = statistics.median(r["events"] / r["wall"] for _, r in results)
        bench.notes.append(
            f"local[{cores}]: {len(results)} passes of {results[0][1]['events']} events, "
            f"events/s median {eps[cores]:.0f}"
        )
    # the local[CORES] leg carries the reported figures
    last = [r for _, r in results]
    scaling = eps[CORES] / eps[1] / CORES
    bench.notes.append(f"scaling_eff {scaling:.3f} ratio (events_per_s@{CORES} / @1 / {CORES})")
    bench.record(
        events_per_s=eps[CORES],
        commit=[x for r in last for x in r["lat"]],
        lookup=[x for r in last for x in r["lookup"]],
        scan=[r["scan"] for r in last if r["scan"] is not None],
        write_amp=statistics.median(r["write_amp"] for r in last),
        units=[(t, r["wall"]) for t, r in results],
    )
    _trend(bench, [x for r in last for x in r["lat"][1:]])


WORKLOADS = {
    "bulk_cow": run_bulk,
    "tail_cow": lambda bench: run_tail(bench, "cow"),
    "tail_mor": lambda bench: run_tail(bench, "mor"),
}
