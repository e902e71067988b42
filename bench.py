"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query runs N_RUNS times with the DataFrame cache cleared between
runs; "queries"/"value" report the best (steady-state) run — the number
that projects to sustained 100 TB throughput — while "cold_queries"/
"cold_value" report the first run, which additionally pays one-time
query planning, whole-stage-codegen compilation, and (for pandas stages)
Python-worker spin-up. Clearing the cache between runs means steady-state
still re-executes the full plan (scans, shuffles, hashing); only the
JIT/codegen caches stay warm, exactly as they would mid-job on a cluster.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from pipelinejobs_indexer_spark import registry
from pipelinejobs_indexer_spark.session import default_sf_dir, get_spark

# Headline set: one-plus per operator family (SURVEY.md §2) — scans,
# filters, joins, aggs, windows, top-k, the composed indexing pipeline,
# streaming replay, and the LLM-pipeline extensions.
HEADLINE = [
    "scan_parquet",
    "scan_json_messages",
    "filter_regex",
    "validate_schema",
    "join_job_pipeline",
    "join_files_job_provenance",
    "join_asof_state",
    "join_range_events_in_run",
    "agg_state_rollup",
    "agg_storage_stats",
    "udaf_history_fold",
    "win_latest_history",
    "topk_recent_jobs",
    "pipeline_index_job",
    "stream_tumbling_counts",
    "llm_dedup_minhash",
    "llm_dedup_clusters",
    "llm_dedup_incremental_minhash",
    "llm_corpus_curate_full",
    "llm_similarity_topk",
    "llm_similarity_ann",
    "llm_text_stats",
    "llm_corpus_curate",
    "llm_multimodal_features",
]

# Every query runs 4 times (VERDICT r5 item 2: n=2 produced phantom
# >1.2x round-over-round swings on the heavy queries three rounds
# running). The HEADLINE numbers ("queries"/"value") are computed over
# the FIRST TWO runs only — the exact cold+warm protocol BENCH_BASE.json
# was pinned with — so the baseline delta carries no min-over-more-runs
# one-sided bias (ADVICE r5); min and median over all runs are reported
# alongside as the jitter-resistant supplementary stats.
N_RUNS = 4
N_HEADLINE_RUNS = 2


def force_full_eval(df) -> int:
    """Run the query so EVERY output expression executes.

    A bare ``df.count()`` lets Catalyst prune unused projections — for
    projection-only queries the per-row work (md5, folds, sniffing) would
    never run and the measured time would be a lie. Hashing every output
    column into one xxhash64 and aggregating it makes each projection
    expression load-bearing while still returning a single row to the
    driver (no collect of the result set)."""
    row = (
        df.select(F.xxhash64(*[F.col(c) for c in df.columns]).alias("h"))
        .agg(F.count("h").alias("n"), F.bit_xor("h"))
        .collect()[0]
    )
    return row["n"]


#: a harness that records only a ~2000-char tail of stdout must still
#: find the summary line whole
SUMMARY_MAX_CHARS = 1500


def fit_summary_line(summary: dict) -> str:
    """Serialise the summary for the last stdout line. A line over
    SUMMARY_MAX_CHARS drops the per-attempt provenance
    (``prior_attempts``; the full record printed before it keeps every
    attempt), so the last line stays one parsable JSON object."""
    line = json.dumps(summary, separators=(",", ":"))
    if len(line) > SUMMARY_MAX_CHARS and "prior_attempts" in summary:
        slim = {k: v for k, v in summary.items() if k != "prior_attempts"}
        line = json.dumps(slim, separators=(",", ":"))
    return line


def main() -> None:
    sf_dir = default_sf_dir()
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark("pipelinejobs-indexer-bench")
    registry.load_all()
    names = [n for n in HEADLINE if n in registry.QUERIES]

    # Warm the JVM + parquet footer caches with a trivial action.
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()

    # Machine-noise provenance (VERDICT r11 item 5): three rounds
    # running, the official artifact's movers dissolved on an idle
    # re-run. Record 1-min load average and process count at start and
    # end (no methodology change — measurement context only), so a
    # noisy reading is self-explaining instead of costing an audit
    # cycle.
    def _machine_state() -> dict:
        try:
            load1 = round(os.getloadavg()[0], 2)
        except OSError:
            load1 = None
        try:
            nproc = len([p for p in os.listdir("/proc") if p.isdigit()])
        except OSError:
            nproc = None
        # Hypervisor steal + total jiffies (r14): this sandbox is a VM
        # whose host intermittently starves the guest — bursts showed
        # whole sweeps 2-4x slow while guest load1 read ~0. Guest-side
        # load can never see that; /proc/stat's steal column can.
        steal = total = None
        try:
            with open("/proc/stat") as fh:
                parts = fh.readline().split()
            # user..steal only (8 fields): guest/guest_nice are already
            # accounted inside user, so summing them double-counts guest
            # jiffies and understates the steal fraction (r14 ADVICE —
            # zero effect on this guest-only sandbox, wrong on a host
            # running VMs).
            vals = [int(x) for x in parts[1:9]]
            steal = vals[7] if len(vals) > 7 else None
            total = sum(vals)
        except (OSError, ValueError, IndexError):
            pass
        return {"load1": load1, "nproc": nproc, "steal": steal, "cpu_total": total}

    machine = {"start": _machine_state()}
    # Noise gate (VERDICT r12 item 4): the official artifact was
    # noise-dominated three rounds running before the provenance fields
    # made it visible. A loaded machine can't produce a comparable
    # number — warn loudly and stamp the record so the round's close
    # block can apply the convention "official number = lowest-load run
    # of the round" (no change to the frozen measurement methodology).
    start_load = machine["start"].get("load1")
    if start_load is not None and start_load > 2.0:
        print(
            f"WARNING: start load1 {start_load} > 2 — this reading will be "
            "noise-dominated; re-run on an idle machine for the round's "
            "official number",
            file=sys.stderr,
        )

    def _noisy() -> bool:
        # Two independent gates (r14 — replaces the r13-ADVICE max(start,
        # end) load gate, which was self-defeating: the sweep's own
        # 32-core execution always drives end load1 above 2, so every
        # run stamped itself noisy=true and the "official number =
        # lowest-load run" convention lost its signal):
        #   1. start load1 > 2 — other processes on this guest were
        #      already running when the sweep began. End load1 is still
        #      RECORDED for provenance but no longer gated on, because
        #      it measures our own work, not contention.
        #   2. hypervisor steal > 3% of the run's cpu-jiffy budget —
        #      this sandbox is a VM with bursty host-side contention
        #      (measured: whole sweeps 2-4x slow at guest load1 ~0);
        #      steal is the only guest-visible trace of it.
        start_load = machine["start"].get("load1")
        if start_load is not None and start_load > 2.0:
            return True
        s0, s1 = machine["start"], machine["end"]
        if None not in (
            s0.get("steal"), s1.get("steal"), s0.get("cpu_total"), s1.get("cpu_total")
        ):
            dsteal = s1["steal"] - s0["steal"]
            dtotal = s1["cpu_total"] - s0["cpu_total"]
            if dtotal > 0 and dsteal / dtotal > 0.03:
                return True
        return False

    headline: dict[str, float] = {}
    best: dict[str, float] = {}
    cold: dict[str, float] = {}
    med: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    cv: dict[str, float] = {}
    for name in names:
        times = []
        for _ in range(N_RUNS):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df = registry.QUERIES[name](spark, sf_dir)
            force_full_eval(df)
            times.append(round(time.perf_counter() - t0, 4))
        cold[name] = times[0]
        # unbiased 1:1 comparator vs BENCH_BASE's best-of-2 protocol
        headline[name] = min(times[:N_HEADLINE_RUNS])
        best[name] = min(times)
        runs[name] = times
        med[name] = round(statistics.median(times[1:] or times), 4)
        # host-noise floor (VERDICT r6 item 7): coefficient of variation
        # over the WARM runs only (run 0 additionally pays codegen/JIT).
        # A round-over-round delta inside ~2 CVs is jitter, not a
        # regression — the mechanical separator for future verdicts.
        warm = times[1:] or times  # n=1 degenerates to the single run
        mean = sum(warm) / len(warm)
        cv[name] = round(statistics.pstdev(warm) / mean, 4) if mean else 0.0

    machine["end"] = _machine_state()
    noisy = _noisy()
    full_record = json.dumps(
            {
                "attempt": int(os.environ.get("SPARK_GRAFT_BENCH_ATTEMPT", "1")),
                "metric": "headline_queries_total_runtime",
                "machine": machine,
                "noisy": noisy,
                "value": round(sum(headline.values()), 4),
                "unit": "sec",
                "queries": headline,
                "sf": sf,
                "timing": (
                    f"{N_RUNS} runs per query, cache cleared between runs "
                    "(steady-state execution; codegen/JIT warm). "
                    f"'queries'/'value' = best of the FIRST {N_HEADLINE_RUNS} "
                    "runs — the exact protocol BENCH_BASE.json was pinned "
                    "with, so the baseline delta is unbiased; "
                    "'best_queries'/'best_value' = min over all runs, the "
                    "jitter-resistant round-over-round comparator"
                ),
                "best_value": round(sum(best.values()), 4),
                "best_queries": best,
                "cold_value": round(sum(cold.values()), 4),
                "cold_queries": cold,
                "median_warm_queries": med,
                "run_times": runs,
                "warm_cv_queries": cv,
                "warm_cv_median": round(
                    statistics.median(cv.values()), 4
                ) if cv else 0.0,
                "notes": (
                    "measurement methodology frozen as of round 3 "
                    "(full-output-hash via xxhash64+bit_xor, cache cleared "
                    "between runs). Round 6: EVERY query runs 4x (VERDICT "
                    "r5 item 2 — n=2 caused phantom heavy-query swings "
                    "three rounds running); the headline stays min-of-"
                    "first-2 so it compares 1:1 and bias-free against the "
                    "pinned BENCH_BASE.json best-of-2 (ADVICE r5); compare "
                    "best_queries across BENCH_r{N} files for "
                    "round-over-round noise-free deltas. Not comparable to "
                    "BENCH_r01, whose df.count() let Catalyst prune "
                    "projection work."
                ),
            }
    )
    # Compact machine-parsable summary as the LAST line: the full record
    # above outgrew a ~2000-char stdout tail (BENCH_r{N}.json "parsed":
    # null). This line fits SUMMARY_MAX_CHARS — headline value (the
    # frozen min-of-first-2 protocol, 1:1 vs BENCH_BASE), the ratio
    # vs the pinned baseline, per-query BEST times (the jitter-resistant
    # round-over-round comparator), and the warm-cv noise floor — so the
    # tail always contains one complete parsable JSON line.
    base_total = None
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "BENCH_BASE.json")
        ) as fh:
            base_total = float(json.load(fh)["value"])
    except (OSError, ValueError, KeyError):
        pass
    headline_total = round(sum(headline.values()), 4)
    summary = {
        "metric": "headline_queries_total_runtime",
        "value": headline_total,
        "unit": "sec",
        "sf": sf,
        "vs_base": (
            round(headline_total / base_total, 3) if base_total else None
        ),
        "best_value": round(sum(best.values()), 3),
        "cv_median": (
            round(statistics.median(cv.values()), 3) if cv else 0.0
        ),
        "machine": machine,
        "noisy": noisy,
        "queries": {n: round(t, 3) for n, t in best.items()},
    }
    spark.stop()

    # Print THIS attempt's record immediately (crash-safe): if a retry
    # chain below is killed mid-run by an external timeout, stdout's tail
    # is still a complete, parsable (noisy-flagged) record instead of
    # nothing.
    print(full_record)
    print(fit_summary_line(summary), flush=True)

    # Steal-proof official reading (r15, VERDICT r14 item 2): a sweep that
    # trips the noise gate (start-load or hypervisor-steal share) cannot
    # produce a comparable official number — r14 closed without a clean
    # 32-core artifact because of exactly one such burst. On a tripped
    # gate, re-run the WHOLE sweep in a fresh process (fresh JVM, so every
    # attempt pays identical cold-start — the per-sweep timing methodology
    # is byte-identical) up to SPARK_GRAFT_BENCH_MAX_ATTEMPTS (default 3)
    # times, re-emit each attempt's output verbatim, and print the
    # CLEANEST attempt's record (with every attempt's machine block in
    # "prior_attempts") as the final lines — the official reading is
    # always the LAST JSON line. Selection is by the machine-noise gates
    # only — never by the measured times — so it introduces no one-sided
    # timing bias.
    attempt = int(os.environ.get("SPARK_GRAFT_BENCH_ATTEMPT", "1"))
    max_attempts = int(os.environ.get("SPARK_GRAFT_BENCH_MAX_ATTEMPTS", "3"))
    if noisy and attempt < max_attempts:
        import subprocess

        print(
            f"WARNING: sweep attempt {attempt} tripped the noise gate "
            f"(machine={json.dumps(machine)}); re-running (max "
            f"{max_attempts} attempts) for a clean official line",
            file=sys.stderr,
        )
        # Let load1 decay before retrying: it is a 1-min EMA, so the
        # just-finished attempt's own CPU keeps the start-load gate
        # tripped for ~a minute after the machine is actually idle
        # (observed: three back-to-back attempts all started at load >4
        # while nproc showed nothing running). 60 s halves a
        # self-inflicted load1 of 5 to below the gate.
        time.sleep(int(os.environ.get("SPARK_GRAFT_BENCH_RETRY_COOLDOWN", "60")))
        env = dict(os.environ, SPARK_GRAFT_BENCH_ATTEMPT=str(attempt + 1))
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            env=env,
            capture_output=True,
            text=True,
        )
        sys.stderr.write(proc.stderr)
        if proc.stdout:
            sys.stdout.write(proc.stdout)  # attempt provenance, verbatim
            sys.stdout.flush()
        child_lines = [
            ln for ln in proc.stdout.splitlines() if ln.startswith("{")
        ]
        if proc.returncode == 0 and len(child_lines) >= 2:
            # the child's CHOSEN record is always its last two JSON lines
            # (it applies this same protocol recursively)
            child_full = json.loads(child_lines[-2])
            child_summary = json.loads(child_lines[-1])

            def _steal_share(m: dict) -> float:
                try:
                    ds = m["end"]["steal"] - m["start"]["steal"]
                    dt = m["end"]["cpu_total"] - m["start"]["cpu_total"]
                    return ds / dt if dt > 0 else 1.0
                except (KeyError, TypeError):
                    return 1.0

            def _slim(m: dict, n: bool, v) -> dict:
                # compact per-attempt provenance for the summary line
                # (dropped by fit_summary_line when it would not fit);
                # the full record keeps whole machine blocks
                return {
                    "noisy": n,
                    "steal_pct": round(100 * _steal_share(m), 2),
                    "load1": (m.get("start") or {}).get("load1"),
                    "value": v,
                }

            # The child (which may itself have retried) is the official
            # line unless it is ALSO noisy — then keep whichever attempt
            # has the lower steal share (both are flagged noisy either
            # way, so the round's close block still knows).
            take_child = True
            if child_summary.get("noisy", True):
                take_child = _steal_share(
                    child_summary.get("machine", {})
                ) < _steal_share(machine)
            if take_child:
                mine_full = {
                    "machine": machine, "noisy": noisy, "value": headline_total
                }
                child_full.setdefault("prior_attempts", []).insert(0, mine_full)
                child_summary.setdefault("prior_attempts", []).insert(
                    0, _slim(machine, noisy, headline_total)
                )
                chosen_full, chosen_summary = child_full, child_summary
            else:
                theirs_full = {
                    "machine": child_summary.get("machine"),
                    "noisy": child_summary.get("noisy"),
                    "value": child_summary.get("value"),
                }
                chosen_full = json.loads(full_record)
                chosen_full.setdefault("prior_attempts", []).append(theirs_full)
                chosen_summary = dict(summary)
                chosen_summary.setdefault("prior_attempts", []).append(
                    _slim(
                        child_summary.get("machine", {}),
                        child_summary.get("noisy", True),
                        child_summary.get("value"),
                    )
                )
            print(json.dumps(chosen_full))
            print(fit_summary_line(chosen_summary))


if __name__ == "__main__":
    main()


