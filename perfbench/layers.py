"""Which public calls are traced, and the per-layer metrics derived
from their spans. Layers are named after the program's modules:
`session`, `streaming`, `engine`, `table` (plus `spark` for the job,
stage and task fan-out of each batch, and `tracing` for the cost of
the wrappers themselves).

Per-batch figures are means over the traced, timed, non-skipped
`apply_batch` calls; read figures are medians over traced reader ops.
`transforms` runs lazily inside `table.merge`'s write job and cannot be
separated from outside, so it has no metric of its own.
"""

from __future__ import annotations

import os
import statistics


def _written(table, version: int) -> dict:
    """Bytes, parquet files and bucket dirs of the data dir(s) that
    commit `version` wrote (data/c<version>-<id>/_bucket=<b>/...)."""
    data = os.path.join(table.location, "data")
    out = {"bytes": 0, "files": 0, "dirs": 0}
    for d in os.listdir(data):
        if not d.startswith(f"c{version:012d}-"):
            continue
        for dirpath, dirs, files in os.walk(os.path.join(data, d)):
            out["dirs"] += sum(1 for x in dirs if x.startswith("_bucket="))
            out["files"] += sum(1 for f in files if f.endswith(".parquet"))
            out["bytes"] += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return out


def instrument(tracer, table=None, engine=None) -> None:
    """Wrap the public calls of one table and/or engine instance."""
    if engine is not None:
        tracer.wrap(engine, "apply_batch", "engine.apply_batch",
                    after=lambda s, ci, a, kw: s.update(skipped=bool(ci.skipped)))
    if table is None:
        return

    def merged(span, ci, args, kwargs):
        if ci.skipped:
            return
        span.update(_written(table, ci.version))
        commit = os.path.join(table.location, "_commits", f"v{ci.version:012d}.json")
        span["record_bytes"] = os.path.getsize(commit)

    def compacted(span, ci, args, kwargs):
        span["compacted"] = ci is not None and not ci.skipped
        if span["compacted"]:
            span.update(_written(table, ci.version))

    def scanned(span, df, args, kwargs):
        span["files"] = len(df.inputFiles())
        span["delta_sets"] = sum(table.delta_counts().values())

    def looked_up(span, df, args, kwargs):
        span["files"] = len(df.inputFiles())

    tracer.wrap(table, "current", "table.current")
    tracer.wrap(table, "committed_batch_ids", "table.committed_batch_ids")
    tracer.wrap(table, "merge", "table.merge", after=merged)
    tracer.wrap(table, "compact_hot_buckets", "table.compact_hot_buckets", after=compacted)
    tracer.wrap(table, "evolve_schema", "table.evolve_schema")
    tracer.wrap(table, "snapshot", "table.snapshot", after=scanned)
    tracer.wrap(table, "lookup", "table.lookup_plan", after=looked_up)


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def metrics(bench) -> dict:
    t = bench.tracer
    t.resolve_spark_counts()
    dur = t.duration
    children: dict[int, list[dict]] = {}
    for s in t.spans:
        if s.get("parent") is not None and "end" in s:
            children.setdefault(s["parent"], []).append(s)

    def descendants(span, name):
        out, todo = [], list(children.get(span["id"], []))
        while todo:
            c = todo.pop()
            if c["name"] == name:
                out.append(c)
            todo.extend(children.get(c["id"], []))
        return out

    def timed(name):
        return [s for s in t.named(name) if s["phase"] == "timed"]

    applies = timed("engine.apply_batch")
    batches = [s for s in applies if not s.get("skipped")]
    merges = [s for s in timed("table.merge") if "bytes" in s]
    compacts = timed("table.compact_hot_buckets")
    compactions = [s for s in compacts if s.get("compacted")]
    streams = t.named("streaming.run_stream")
    per_batch = lambda f: _mean(f(s) for s in batches)  # noqa: E731

    traced = [w for on, w in bench.units if on]
    bare = [w for on, w in bench.units if not on]
    overhead = _median(traced) / _median(bare) - 1 if traced and bare else 0.0

    values = {
        "session.start_s": (sum(bench.session_s), "s"),
        "streaming.run_stream_s": (_mean(dur(s) for s in streams), "s"),
        "streaming.overhead_s": (_mean(dur(s) - t.children_time(s) for s in streams), "s"),
        "streaming.batches": (_mean(len(children.get(s["id"], [])) for s in streams), "count"),
        "engine.apply_batch_s": (per_batch(dur), "s"),
        "engine.self_s": (per_batch(lambda s: dur(s) - t.children_time(s)), "s"),
        "engine.dup_check_s": (
            per_batch(lambda s: sum(map(dur, descendants(s, "table.committed_batch_ids")))), "s"),
        "engine.batches": (len(batches), "count"),
        "engine.skipped": (len(applies) - len(batches), "count"),
        "engine.useful_ratio": (len(batches) / len(applies) if applies else 0.0, "ratio"),
        "table.current_calls": (per_batch(lambda s: len(descendants(s, "table.current"))), "count"),
        "table.current_s": (
            per_batch(lambda s: sum(map(dur, descendants(s, "table.current")))), "s"),
        "table.commit_record_bytes": (_mean(s["record_bytes"] for s in merges), "bytes"),
        "table.merge_s": (_mean(map(dur, merges)), "s"),
        "table.merge_bytes": (_mean(s["bytes"] for s in merges), "bytes"),
        "table.merge_files": (_mean(s["files"] for s in merges), "count"),
        "table.merge_dirs": (_mean(s["dirs"] for s in merges), "count"),
        "table.compact_calls": (len(compacts), "count"),
        "table.compactions": (len(compactions), "count"),
        "table.compact_share": (
            sum(map(dur, compacts)) / sum(map(dur, batches)) if batches else 0.0, "ratio"),
        "table.compact_bytes": (_mean(s["bytes"] for s in compactions), "bytes"),
        "table.evolve_s": (_mean(map(dur, timed("table.evolve_schema"))), "s"),
        "table.scan_s": (_median(map(dur, timed("table.scan"))), "s"),
        "table.scan_files": (_mean(s["files"] for s in timed("table.snapshot")), "count"),
        "table.delta_sets": (_mean(s["delta_sets"] for s in timed("table.snapshot")), "count"),
        "table.lookup_s": (_median(map(dur, timed("table.lookup"))), "s"),
        "table.lookup_files": (_mean(s["files"] for s in timed("table.lookup_plan")), "count"),
        "spark.jobs_per_batch": (per_batch(lambda s: s["jobs"]), "count"),
        "spark.stages_per_batch": (per_batch(lambda s: s["stages"]), "count"),
        "spark.tasks_per_batch": (per_batch(lambda s: s["tasks"]), "count"),
        "tracing.overhead": (overhead, "ratio"),
        "tracing.bookkeeping_share": (
            t.bookkeeping_s["timed"] / sum(traced) if traced else 0.0, "ratio"),
    }
    bench.notes.append(
        f"tracing overhead {overhead:+.1%}: median traced unit {_median(traced):.3f}s "
        f"(n={len(traced)}) vs untraced {_median(bare):.3f}s (n={len(bare)})"
    )
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}
