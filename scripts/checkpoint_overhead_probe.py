"""Reliable-checkpoint overhead probe (round 7, companion to the
state-store overhead note in BENCH_sf1.md).

``resilient_checkpoints`` (config.py) is the last durability knob whose
cost was asserted but never measured: iterative loops cut lineage with
executor-local ``localCheckpoint()`` by default (fast, loss-prone on a
real cluster) and reliable ``checkpoint()`` to a checkpoint dir when the
knob is ON (survives executor loss; the setting every real cluster run
should use). Results are parity-pinned identical both ways
(tests/test_config.py); this probe prices the durability.

Cells: the heaviest iter_checkpoint consumers at sf0.1 — the CC loop
(llm_dedup_clusters) and the Lloyd k-means trainer
(llm_embedding_kmeans) — each timed best-of-3
warm in a fresh subprocess with the env knob exported (import-time
config, like a production run). The checkpoint dir is a local tmpdir:
on a real cluster it is HDFS/S3, so treat the measured delta as the
serialization+write floor, not the network ceiling.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF01 = "/root/testdata/sf0.1"

_CELL = r"""
import json, sys, time
sys.path.insert(0, %(root)r)
from pipelinejobs_indexer_spark import registry
from pipelinejobs_indexer_spark.session import get_spark
from bench import force_full_eval

spark = get_spark("ckpt-cell")
registry.load_all()
q = registry.QUERIES[%(name)r]
best = None
for _ in range(3):
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    n = force_full_eval(q(spark, %(sf)r))
    dt = time.perf_counter() - t0
    best = dt if best is None else min(best, dt)
print("CELL " + json.dumps({"sec": round(best, 3), "rows": n}))
spark.stop()
"""

QUERIES = ["llm_dedup_clusters", "llm_embedding_kmeans"]


def _run_cell(name: str, resilient: bool) -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_RESILIENT_CHECKPOINTS="1" if resilient else "0",
    )
    out = subprocess.run(
        [sys.executable, "-c", _CELL % {"root": ROOT, "name": name, "sf": SF01}],
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
        cwd=ROOT,
    )
    for line in out.stdout.splitlines():
        if line.startswith("CELL "):
            return json.loads(line[5:])
    raise RuntimeError(
        f"cell {name} resilient={resilient} produced no result:\n"
        f"{out.stdout[-1000:]}\n{out.stderr[-2000:]}"
    )


def main() -> None:
    results = {}
    for name in QUERIES:
        local = _run_cell(name, resilient=False)
        reliable = _run_cell(name, resilient=True)
        assert local["rows"] == reliable["rows"], (name, local, reliable)
        row = {
            "local_sec": local["sec"],
            "reliable_sec": reliable["sec"],
            "overhead": round(reliable["sec"] / local["sec"], 3),
            "rows": local["rows"],
        }
        results[name] = row
        print(f"{name} {json.dumps(row)}", flush=True)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
