#!/usr/bin/env python3
"""Tiny-scale self-test of the benchmark.

    python3 perfbench/selftest.py

Runs each workload once, traced, on tiny inputs (about a minute per
workload, almost all of it JVM and Spark start-up). Asserts that the
result line is well formed, that every end-to-end and per-layer metric
named in BENCHMARK.json is emitted, that every output check passed, and
that time inside an op not covered by any top-level span
(`unattributed_s`) stays below UNATTRIBUTED_MAX of the op's wall time.
Exits non-zero on the first failed assertion.
"""
import json
import os
import subprocess
import sys

UNATTRIBUTED_MAX = 0.10


def main():
    spec = json.load(open("BENCHMARK.json"))
    e2e = {m["name"] for m in spec["end_to_end"]}
    layer = {m["name"] for m in spec["per_layer"]}
    for w in (x["name"] for x in spec["workloads"]):
        cmd = spec["command"] + ["--workload", w, "--seed", "7", "--seconds",
                                 "1", "--trace", "1", "--scale", "tiny"]
        r = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        assert r.returncode == 0, f"{w}: exit {r.returncode}\n{r.stderr[-2000:]}"
        out = json.loads(r.stdout.strip().splitlines()[-1])
        assert set(out) == {"correct", "attempted", "failed", "metrics"}, out
        assert out["correct"] and out["failed"] == 0, f"{w}: {out}"
        assert set(out["metrics"]) == layer, \
            f"{w}: per-layer metrics differ: {set(out['metrics']) ^ layer}"
        art = json.load(open(os.path.join(
            ".bench_build", "artifacts", f"{w}-seed7-trace1-tiny.json")))
        assert set(art["end_to_end"]) == e2e, f"{w}: {art['end_to_end']}"
        assert all(v > 0 for v in art["end_to_end"].values()), art["end_to_end"]
        share = out["metrics"]["unattributed_s"]["value"] / \
            out["metrics"]["trace.op_s"]["value"]
        assert share < UNATTRIBUTED_MAX, f"{w}: unattributed share {share:.3f}"
        print(f"ok {w}: {len(out['metrics'])} per-layer metrics, "
              f"checks {art['checks']}, unattributed {share:.1%}")


if __name__ == "__main__":
    sys.exit(main())
