"""Wall-time benchmark of pipelinejobs_indexer_spark's workload queries.

Run from the repository root:

    python3 perfbench/run.py --workload index_catalog --seed 1 --seconds 45 --trace 0

One run is one Python process on ``local[nproc]``. It sets up the session
(imports, ``session.get_spark()``, ``registry.load_all()``, one trivial
action), then evaluates every workload query once in a fixed order (the
cold pass), then repeats the workload in a seed-permuted order (warm
passes, one per ``WARM_PASS_SECONDS`` of ``--seconds``; the first
``SETTLE_PASSES`` are not timed). Each
query is built through ``registry.QUERIES[name](spark, data_dir)`` and
fully evaluated by a hash over every output column; the (row count, hash)
pair is checked against ``fingerprints.json``. The DataFrame cache is
cleared before each query.

With ``--trace 0`` the last stdout line carries the end-to-end metrics
(``setup_s``, ``cold_pass_s``, ``pass_s``); with ``--trace 1`` it carries
the per-layer metrics of ``layers.py``. The line before it is the run
record: host stamp, seed, query orders and per-query times.

The inputs are the fixed tables under ``data/`` (TESTDATA, seed 42); the
seed only permutes the order of the queries within each warm pass.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

from layers import best_pass_s, descendants  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "pipelinejobs_indexer_spark"

WORKLOADS = {
    # The reference's own job: index job archives into the catalog, answer
    # catalog queries, write the catalog, and replay the job-event log
    # through the state machine and the streamed catalog upsert.
    "index_catalog": [
        "pipeline_index_job",
        "join_files_job_provenance",
        "sink_partitioned_catalog",
        "stream_fsm_final",
        "stream_incremental_upsert",
    ],
    # LLM-data curation: the single-task Python-worker PDF decode leg and
    # the minhash candidate-pair self-join.
    "llm_corpus": [
        "pipeline_document_ingest",
        "llm_dedup_minhash",
    ],
}

# The number of warm passes follows from --seconds alone, one pass per
# WARM_PASS_SECONDS[workload], never from how fast the passes ran: with a
# time-boxed count a momentarily fast host fits extra, more settled passes,
# which lowered pass_s further (3.5-6.0 s across ten runs of
# index_catalog). The values give 5 and 6 warm passes at --seconds 45,
# which on a quiet 4-core host fills about 50 s with set-up and the cold
# pass (warm passes take ~4.3 s and ~3.5 s). The first warm pass lets the
# session settle and is not timed.
WARM_PASS_SECONDS = {"index_catalog": 9, "llm_corpus": 7.5}
SETTLE_PASSES = 1
MIN_WARM_PASSES = SETTLE_PASSES + 2


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_times() -> list[int]:
    """Aggregate jiffies from /proc/stat: user nice system idle iowait irq
    softirq steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def host_stamp(cores: int, stat0: list[int], load1: float) -> dict:
    """Host state over the run; ``load1`` is taken before the run starts."""
    d = [b - a for a, b in zip(stat0, cpu_times())]
    return {
        "nproc": nproc(),
        "cores_used": cores,
        "steal_share": d[7] / (sum(d) or 1),
        "load1": load1,
    }


def prepare_env(run_dir: str, cores: int) -> None:
    """Pin every setting that could move the numbers between hosts or
    runs, and point the scratch and temp dirs of Spark, the JVM and Python
    into ``run_dir``."""
    for key in list(os.environ):
        if key.startswith("SPARK_GRAFT_") or key == "SPARK_DRIVER_MEM":
            del os.environ[key]
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            f"--driver-java-options -Djava.io.tmpdir={tmp}",
            "pyspark-shell",
        ]
    )
    import tempfile

    tempfile.tempdir = tmp


def fingerprint(df) -> list:
    """[row count, bit_xor of xxhash64 over every output column]. Hashing
    every column keeps the optimizer from pruning any projection."""
    from pyspark.sql import functions as F

    row = (
        df.select(F.xxhash64(*[F.col(f"`{c}`") for c in df.columns]).alias("h"))
        .agg(F.count("*").alias("n"), F.bit_xor("h").alias("x"))
        .first()
    )
    return [int(row["n"]), None if row["x"] is None else int(row["x"])]


def stop_processes(spark) -> None:
    """Stop the session, shut the JVM down and wait until it and the
    Python workers it started have exited."""
    import signal

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    kids = descendants(os.getpid())
    try:
        spark.stop()
    finally:
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                try:
                    proc.stdin.close()
                except OSError:
                    pass
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        deadline = time.monotonic() + 15
        while kids and time.monotonic() < deadline:
            kids = [p for p in kids if os.path.exists(f"/proc/{p}")]
            if kids:
                time.sleep(0.1)
        for pid in kids:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default="sf0.01", help="table set under data/")
    ap.add_argument(
        "--fingerprints",
        default=os.path.join(HERE, "fingerprints.json"),
        help="pinned fingerprints to check against",
    )
    ap.add_argument(
        "--record",
        action="store_true",
        help="pin this run's fingerprints into --fingerprints instead of checking",
    )
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found in {ROOT}", file=sys.stderr)
        return 2
    data_dir = os.path.join(HERE, "data", args.data)
    if not os.path.isdir(data_dir):
        print(f"no table set {data_dir}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    with open(args.fingerprints) as fh:
        pinned_all = json.load(fh)
    pinned = pinned_all.get(args.data, {}).get(args.workload, {})
    names = WORKLOADS[args.workload]
    missing = [n for n in names if n not in pinned]
    if missing and not args.record:
        print(f"no pinned fingerprint for {missing}", file=sys.stderr)
        return 2

    cores = nproc()
    stat0 = cpu_times()
    load1 = os.getloadavg()[0]
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    prepare_env(run_dir, cores)
    sys.path.insert(0, ROOT)

    tracer = None
    if args.trace:
        from layers import Tracer

        tracer = Tracer(cores, run_dir, SETTLE_PASSES)
        tracer.install()

    spark = None
    try:
        from pipelinejobs_indexer_spark import registry, session

        spark = session.get_spark("perfbench")
        registry.load_all()
        spark.range(1).count()
        setup_s = time.perf_counter() - T0
        if tracer is not None:
            tracer.attach(spark)

        attempted = failed = 0
        seen: dict[str, list] = {}
        passes: list[dict] = []

        def run_pass(order: list[str], traced: bool) -> dict:
            nonlocal attempted, failed
            if tracer is not None:
                tracer.begin_pass(len(passes), traced)
            times = {}
            for name in order:
                spark.catalog.clearCache()
                attempted += 1
                t0 = time.perf_counter()
                try:
                    if tracer is not None:
                        tracer.begin_query(name)
                    df = registry.QUERIES[name](spark, data_dir)
                    t1 = time.perf_counter()
                    if tracer is not None:
                        tracer.end_construct()
                    fp = fingerprint(df)
                    t2 = time.perf_counter()
                    if tracer is not None:
                        tracer.end_query()
                except Exception as exc:  # counted as a failed execution
                    t1 = t2 = time.perf_counter()
                    fp = None
                    if tracer is not None:
                        tracer.abort_query()
                    print(f"{name}: {type(exc).__name__}: {str(exc)[:300]}", file=sys.stderr)
                ok = fp is not None and (
                    args.record or fp == pinned.get(name)
                )
                if fp is not None:
                    seen.setdefault(name, fp)
                    ok = ok and fp == seen[name]
                if not ok:
                    failed += 1
                    if fp is not None:
                        print(
                            f"{name}: fingerprint {fp} != pinned {pinned.get(name)}",
                            file=sys.stderr,
                        )
                times[name] = [t1 - t0, t2 - t1]
            rec = {
                "order": order,
                "traced": traced,
                "wall_s": sum(a + b for a, b in times.values()),
                "query_s": times,
            }
            if tracer is not None:
                tracer.end_pass(rec)
            passes.append(rec)
            return rec

        cold = run_pass(list(names), traced=tracer is not None)
        rng = random.Random(args.seed)
        warm: list[dict] = []
        n_warm = max(
            MIN_WARM_PASSES, round(args.seconds / WARM_PASS_SECONDS[args.workload])
        )
        while len(warm) < n_warm:
            order = list(names)
            rng.shuffle(order)
            # A traced run alternates untraced and traced warm passes after
            # the settling passes, so that the tracing overhead is the
            # difference of their medians.
            timed = len(warm) - SETTLE_PASSES
            traced = tracer is not None and timed >= 0 and timed % 2 == 1
            warm.append(run_pass(order, traced=traced))
    finally:
        if tracer is not None:
            tracer.stop()
        if spark is not None:
            stop_processes(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass

    if args.record:
        pinned_all.setdefault(args.data, {})[args.workload] = {
            n: seen[n] for n in names if n in seen
        }
        with open(args.fingerprints, "w") as fh:
            json.dump(pinned_all, fh, indent=1, sort_keys=True)
            fh.write("\n")

    pass_s = best_pass_s(warm[SETTLE_PASSES:])
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "data": args.data,
        "host": host_stamp(cores, stat0, load1),
        "setup_s": setup_s,
        "query_best_s": {
            n: min(sum(p["query_s"][n]) for p in warm[SETTLE_PASSES:]) for n in names
        },
        "passes": passes,
    }
    if tracer is None:
        values = {"setup_s": setup_s, "cold_pass_s": cold["wall_s"], "pass_s": pass_s}
        metrics = {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in bench["end_to_end"]
        }
    else:
        metrics = tracer.metrics(bench["per_layer"])
        record["trace_file"] = tracer.write_spans(ROOT, args.workload)
    print(json.dumps({"record": record}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
