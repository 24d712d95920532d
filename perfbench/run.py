"""CDC benchmark for datax_spark: one seeded workload per invocation.

    python3 perfbench/run.py --workload tail_cow --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Everything the run writes (WAL,
tables, checkpoints, Spark scratch, the spans file) stays under
`.perfbench/` in the checkout. The last stdout line is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`; with `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones.
Exit code 0 only when every op was checked correct.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# JVM heap: the tables here are tens of MB. The heap is committed and
# touched up front (-Xms = -Xmx, AlwaysPreTouch) so peak RSS does not
# depend on when the collector chose to grow it.
DRIVER_MEM = "1g"

E2E_UNITS = {
    "setup_s": "s",
    "events_per_s": "events/s",
    "commit_p50_s": "s",
    "commit_p90_s": "s",
    "lookup_p50_s": "s",
    "lookup_p90_s": "s",
    "scan_p50_s": "s",
    "write_amp": "ratio",
    "peak_rss_mb": "MB",
}


def pct(xs: list[float], p: int) -> float:
    """Linear-interpolated percentile (p in 0..100)."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    k = (len(s) - 1) * p / 100
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def supported_pct(n: int) -> int | None:
    """Highest of p50/p75/p90/p95/p99 with at least ten samples beyond it."""
    ok = [p for p in (50, 75, 90, 95, 99) if n * (100 - p) / 100 >= 10]
    return ok[-1] if ok else None


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Bench:
    def __init__(self, args, work: str):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.notes: list[str] = []
        self.setup_s: list[float] = []
        self.session_s: list[float] = []
        self.units: list[tuple[bool, float]] = []
        self.result: dict = {}
        self.rss: float | None = None

    # ------------------------------------------------------- session

    def start_spark(self, cores: int) -> None:
        """(Re)start the session at local[cores]; the JVM stays up."""
        from datax_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        tmp = os.path.join(self.work, "tmp")
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            cores=cores,
            extra_conf={
                "spark.driver.memory": DRIVER_MEM,
                "spark.driver.extraJavaOptions": (
                    f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                ),
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.session_s.append(time.perf_counter() - t0)
        if self.trace:
            from spans import Tracer

            self.tracer = Tracer(self.spark)

    def stop(self) -> None:
        """Stop the session and the JVM it launched, and wait for it."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
            # the next session in this process launches a fresh JVM
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:  # never leave the JVM behind
                proc.kill()
                proc.wait()

    def peak_rss_mb(self) -> float:
        jvm = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return (vm_hwm_kb(jvm) + vm_hwm_kb("self")) / 1024

    # ------------------------------------------------------- tracing

    def instrument(self, table=None, engine=None) -> None:
        if self.tracer is None:
            return
        import layers

        layers.instrument(self.tracer, table, engine)

    def phase(self, name: str) -> None:
        if self.tracer is not None:
            self.tracer.phase = name
            self.tracer.enabled = True

    def begin_unit(self, index: int | None) -> bool:
        """In a traced run, trace every other unit of timed work (even
        index) and leave the rest bare, so the two can be compared."""
        if self.tracer is None:
            return False
        self.tracer.enabled = index is not None and index % 2 == 0
        return self.tracer.enabled

    def tracer_batch(self, batch_id: str | None) -> None:
        if self.tracer is not None:
            self.tracer.batch = batch_id

    # ------------------------------------------------------- results

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(msg.splitlines()[0][:300])

    def record(self, events_per_s, commit, lookup, scan, write_amp, units) -> None:
        self.units = units
        self.result = {
            "events_per_s": events_per_s,
            "commit": commit,
            "lookup": lookup,
            "scan": scan,
            "write_amp": write_amp,
        }

    def e2e(self) -> dict[str, float | None]:
        r = self.result
        p50 = lambda xs: statistics.median(xs) if xs else None  # noqa: E731
        p90 = lambda xs: pct(xs, 90) if xs else None  # noqa: E731
        return {
            "setup_s": sum(self.setup_s),
            "events_per_s": r["events_per_s"],
            "commit_p50_s": p50(r["commit"]),
            "commit_p90_s": p90(r["commit"]),
            "lookup_p50_s": p50(r["lookup"]),
            "lookup_p90_s": p90(r["lookup"]),
            "scan_p50_s": p50(r["scan"]),
            "write_amp": r["write_amp"],
            "peak_rss_mb": self.rss,
        }

    def report(self) -> list[str]:
        r = self.result
        lines = [f"perfbench {self.workload} seed={self.seed} seconds={self.seconds}"]
        for name in ("commit", "lookup", "scan"):
            xs = r.get(name) or []
            if not xs:
                continue
            p = supported_pct(len(xs))
            hi = f", p{p} {pct(xs, p):.4f} s" if p and p > 50 else ""
            lines.append(
                f"  {name}: n={len(xs)} median {statistics.median(xs):.4f} s{hi}"
                f" (highest percentile with >=10 samples beyond it: {f'p{p}' if p else 'none'})"
            )
        lines += [f"  {n}" for n in self.notes]
        error_rate = self.failed / self.attempted if self.attempted else 1.0
        lines.append(f"  error_rate {error_rate:.4f} ratio ({self.failed}/{self.attempted} ops)")
        lines += [f"  ERROR {e}" for e in self.errors]
        return lines


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import datax_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import datax_spark from {ROOT}: {e}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"run-{os.getpid()}")
    # Spark scratch, the JVM's and Python's temp files stay in the checkout.
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # spark-submit's short-lived launcher JVM: no perf-data file in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    bench = Bench(args, work)
    try:
        workloads.WORKLOADS[args.workload](bench)
        bench.rss = bench.peak_rss_mb()
        if bench.tracer is not None:
            import layers

            metrics = layers.metrics(bench)
            spans = os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl")
            bench.tracer.dump(spans)
            bench.notes.append(f"spans written to {os.path.relpath(spans, ROOT)}")
        else:
            metrics = {
                k: {"value": v, "unit": E2E_UNITS[k]} for k, v in bench.e2e().items()
            }
    finally:
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)

    for line in bench.report():
        print(line)
    correct = bench.failed == 0 and all(v["value"] is not None for v in metrics.values())
    print(json.dumps({
        "correct": correct,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
