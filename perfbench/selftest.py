#!/usr/bin/env python3
"""Self-test of the benchmark at tiny scale.

    python3 perfbench/selftest.py [workload ...]

Checks that every metric named in BENCHMARK.json is emitted, with its
unit, for every workload in both modes (``--trace 0``: end-to-end,
``--trace 1``: per-layer), and that a result with one row dropped is
counted as failed, driving the fail ratio above 0.  Exits 0 when all
checks pass.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"),
           "--workload", workload, "--seed", "11", "--seconds", "1",
           "--trace", str(trace), "--scale", "tiny", *extra]
    res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if res.returncode != 0:
        raise AssertionError(f"{cmd} exited {res.returncode}:\n{res.stderr[-2000:]}")
    return json.loads(res.stdout.strip().splitlines()[-1])


def check_metrics(out: dict, spec: list[dict], what: str) -> None:
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == want, f"{what}: metrics {sorted(got)} != {sorted(want)}"
    for k, v in out["metrics"].items():
        assert isinstance(v["value"], float), f"{what}: {k} is not a number"
    assert set(out) == {"correct", "attempted", "failed", "metrics"}, what
    assert out["attempted"] >= 1, what


def check_dropped_row_detected() -> None:
    import pandas as pd

    import oracle

    full = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0]})
    want = oracle.rows_of(full)
    assert oracle.mismatch(oracle.rows_of(full), want) is None
    assert oracle.mismatch(oracle.rows_of(full.iloc[1:]), want) is not None
    assert oracle.mismatch(oracle.rows_of(full.assign(v=[0.5, 1.25, 2.5])), want) is not None


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = sys.argv[1:] or [w["name"] for w in bench["workloads"]]
    check_dropped_row_detected()
    print("ok: comparator rejects a dropped row", flush=True)
    for w in workloads:
        out = run(w, 1)
        check_metrics(out, bench["per_layer"], f"{w} --trace 1")
        assert out["correct"] and out["failed"] == 0, f"{w}: {out['failed']} failed"
        print(f"ok: {w} per-layer metrics ({len(out['metrics'])})", flush=True)
        with open(os.path.join(HERE, "layers.json")) as f:
            first_row = json.load(f)["workloads"][w]["rows"][0]
        out = run(w, 0, "--drop-row", first_row)
        check_metrics(out, bench["end_to_end"], f"{w} --trace 0")
        ratio = out["failed"] / out["attempted"]
        assert ratio > 0 and not out["correct"], f"{w}: dropped row not detected"
        print(f"ok: {w} end-to-end metrics; dropped row -> fail ratio "
              f"{ratio:.3f}", flush=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
