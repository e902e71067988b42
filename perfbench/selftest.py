"""Self-test of the benchmark on the sf0.001 tables.

Run from the repository root (takes a few minutes):

    python3 perfbench/selftest.py

For each workload it makes one untraced run and two traced runs, each a
cold pass plus the minimum number of warm passes, and asserts that

* the untraced run prints every end-to-end metric of BENCHMARK.json with
  its unit and fails no execution;
* each traced run prints every per-layer metric with its unit, and the
  job and streaming-batch counts repeat exactly across the two runs.

A further run against a deliberately corrupted pinned fingerprint must
report failed executions and ``correct: false``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXACT_COUNTS = ("spark.construct_jobs", "spark.action_jobs", "streaming.batches")


def run(workload: str, trace: int, fingerprints: str | None = None) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--data", "sf0.001",
    ]
    if fingerprints:
        cmd += ["--fingerprints", fingerprints]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, f"{cmd} exited {out.returncode}:\n{out.stderr[-3000:]}"
    return json.loads(out.stdout.strip().splitlines()[-1])


def check_metrics(result: dict, spec: list[dict]) -> None:
    metrics = result["metrics"]
    assert sorted(metrics) == sorted(m["name"] for m in spec), sorted(metrics)
    for m in spec:
        got = metrics[m["name"]]
        assert got["unit"] == m["unit"], (m["name"], got)
        assert isinstance(got["value"], (int, float)), (m["name"], got)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for w in (wl["name"] for wl in bench["workloads"]):
        plain = run(w, 0)
        check_metrics(plain, bench["end_to_end"])
        assert plain["correct"] and plain["failed"] == 0, plain
        traced = [run(w, 1) for _ in range(2)]
        for t in traced:
            check_metrics(t, bench["per_layer"])
            assert t["correct"] and t["failed"] == 0, t
        for name in EXACT_COUNTS:
            a, b = (t["metrics"][name]["value"] for t in traced)
            assert a == b, f"{w} {name}: {a} != {b} across traced runs"
        print(f"{w}: ok", {n: traced[0]["metrics"][n]["value"] for n in EXACT_COUNTS})

    with open(os.path.join(HERE, "fingerprints.json")) as fh:
        pinned = json.load(fh)
    w = bench["workloads"][0]["name"]
    first = sorted(pinned["sf0.001"][w])[0]
    pinned["sf0.001"][w][first][0] += 1
    corrupt = os.path.join(ROOT, ".perfbench", "corrupt-fingerprints.json")
    os.makedirs(os.path.dirname(corrupt), exist_ok=True)
    with open(corrupt, "w") as fh:
        json.dump(pinned, fh)
    try:
        bad = run(w, 0, corrupt)
    finally:
        os.remove(corrupt)
    assert bad["failed"] > 0 and not bad["correct"], bad
    print(f"{w}: corrupted fingerprint of {first} reported", bad["failed"], "failed of", bad["attempted"])
    print("SELFTEST PASS")
    return 0


if __name__ == "__main__":
    sys.exit(main())
