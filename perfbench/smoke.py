"""Tiny-scale smoke test of the benchmark itself.

    python3 perfbench/smoke.py

Checks that the generator is deterministic (same seed → byte-identical
segments and reference, another seed → different ones) and that every
workload, shrunk to a few hundred keys, completes with every op
correct (error_rate 0) and prints the metric set its mode promises.
Runs in about two minutes; exits 0 on success.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
import walgen  # noqa: E402
import workloads  # noqa: E402

TINY = {
    "BUCKETS": 4,
    "TAIL_KEYS": 300,
    "TAIL_BATCH_EVENTS": 100,
    "WARM_BATCHES": 2,
    "BULK_KEYS": 300,
    "BULK_SEGMENTS": 4,
    "BULK_SEGMENT_EVENTS": 200,
    "BULK_LOOKUPS": 3,
}


def check(ok: bool, msg: str) -> None:
    if not ok:
        raise SystemExit(f"SMOKE FAILED: {msg}")


def digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def check_generator(tmp: str) -> None:
    def gen(name: str, seed: int) -> dict[str, str]:
        out = os.path.join(tmp, name)
        walgen.make_tail(os.path.join(out, "t"), seed, 300, 2, 6, 100)
        walgen.make_bulk(os.path.join(out, "b"), seed, 300, 4, 200)
        return digest(out)

    a, b, c = gen("a", 7), gen("b", 7), gen("c", 8)
    segs = sum(k.endswith(".parquet") for k in a)
    check(a == b and segs == 12, "same seed gave different segments or references")
    check(all(a[k] != c[k] for k in a if k.endswith(".parquet")),
          "different seeds gave identical segments")
    print("generator: deterministic per seed")


def check_workload(name: str, trace: int) -> None:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        code = run.main(["--workload", name, "--seed", "3", "--seconds", "1",
                         "--trace", str(trace)])
    lines = buf.getvalue().strip().splitlines()
    result = json.loads(lines[-1])
    want = set(run.E2E_UNITS) if not trace else None
    check(code == 0 and result["correct"] and result["failed"] == 0, "\n".join(lines))
    if want is not None:
        check(set(result["metrics"]) == want, f"metrics {sorted(result['metrics'])}")
    print(f"{name} trace={trace}: {result['attempted']} ops, error_rate 0")


def main() -> int:
    for k, v in TINY.items():
        setattr(workloads, k, v)
    with tempfile.TemporaryDirectory(dir=os.path.dirname(HERE)) as tmp:
        check_generator(tmp)
    for name in workloads.WORKLOADS:
        check_workload(name, trace=0)
    check_workload("tail_mor", trace=1)
    print("SMOKE OK")
    return 0


if __name__ == "__main__":
    sys.exit(main())
