"""Per-layer tracing for the benchmark, taken from outside the program.

Nothing in ``pipelinejobs_indexer_spark`` is changed. The tracer

* wraps the public entry points of each layer (``session.get_spark``,
  ``registry.load_all``, ``tables.load_table`` and the fixture builders)
  and times them as spans;
* counts the jobs the DAG scheduler submits while a query is built and
  while it is evaluated, and reads each stage those jobs ran from Spark's
  status store (task time, shuffle bytes, spill);
* listens to streaming progress events;
* reads the JVM's GC beans and ``/proc`` for the CPU time and memory of
  the driver, the JVM and the Python worker daemon's tree;
* counts the Python workers started, from the log that
  ``worker_daemon.py`` writes.

Spans stay in memory and are written once, when the run ends. The run
alternates untraced and traced warm passes; the difference of their
``pass_s`` is reported as ``trace.overhead_s``.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time

TICK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")
MB = 1 << 20

FIXTURE_BUILDERS = ("jobs", "archive_files", "messages", "job_events", "pipelines")
# The daemon module a traced run gives Spark; see worker_daemon.py.
DAEMON_MODULE = "perfbench.worker_daemon"


def _proc_stats() -> dict[int, tuple]:
    """pid -> (ppid, comm, cpu ticks, reaped-children ticks, rss bytes)."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                raw = fh.read()
        except OSError:
            continue
        close = raw.rfind(b")")
        comm = raw[raw.find(b"(") + 1 : close].decode(errors="replace")
        f = raw[close + 2 :].split()
        out[int(entry)] = (
            int(f[1]),
            comm,
            int(f[11]) + int(f[12]),
            int(f[13]) + int(f[14]),
            int(f[21]) * PAGE,
        )
    return out


def descendants(root: int, stats: dict | None = None) -> list[int]:
    stats = _proc_stats() if stats is None else stats
    children: dict[int, list[int]] = {}
    for pid, row in stats.items():
        children.setdefault(row[0], []).append(pid)
    out, todo = [], [root]
    while todo:
        for kid in children.get(todo.pop(), []):
            out.append(kid)
            todo.append(kid)
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


class ProcView:
    """The run's process tree split into driver, JVM and Python workers."""

    def __init__(self) -> None:
        self.me = os.getpid()
        self.daemons: set[int] = set()
        self.peak_rss = 0
        self._lock = threading.Lock()

    def sample(self) -> dict:
        stats = _proc_stats()
        tree = descendants(self.me, stats)
        jvm = [p for p in tree if stats[p][1] == "java"]
        own = os.times()
        with self._lock:
            for p in tree:
                if p not in self.daemons and stats[p][0] in jvm:
                    if DAEMON_MODULE in _cmdline(p):
                        self.daemons.add(p)
            daemons = [p for p in self.daemons if p in stats]
            workers = [p for p in tree if stats[p][0] in self.daemons]
            rss = sum(stats[p][4] for p in tree) + stats[self.me][4]
            self.peak_rss = max(self.peak_rss, rss)
        return {
            "driver": own.user + own.system,
            "jvm": sum(stats[p][2] for p in jvm) / TICK,
            "worker": sum(stats[p][2] + stats[p][3] for p in daemons) / TICK
            + sum(stats[p][2] for p in workers) / TICK,
        }


class Tracer:
    def __init__(self, cores: int, run_dir: str, settle_passes: int) -> None:
        self.cores = cores
        self.settle_passes = settle_passes
        self.tmp = os.path.join(run_dir, "tmp")
        self.worker_log = os.path.join(run_dir, "workers.log")
        self.recording = True  # setup is traced
        self.spans: list[dict] = []
        self._open: list[int] = []
        self._tables_depth = 0
        self.procs = ProcView()
        self.events: list = []
        self.pass_idx: int | None = None
        self.pass_stats: list[dict] = []
        self._sampler: threading.Thread | None = None
        self._sampling = threading.Event()
        self._stop = threading.Event()

    # -- spans -----------------------------------------------------------
    def _begin(self, name: str, **tags) -> None:
        self.spans.append(
            {
                "name": name,
                "start": time.perf_counter(),
                "end": None,
                "parent": self._open[-1] if self._open else None,
                "pass": self.pass_idx,
                **tags,
            }
        )
        self._open.append(len(self.spans) - 1)

    def _end(self) -> None:
        self.spans[self._open.pop()]["end"] = time.perf_counter()

    def _wrap(self, fn, name: str, outermost_only: bool = False):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.recording or (outermost_only and self._tables_depth):
                return fn(*args, **kwargs)
            if outermost_only:
                self._tables_depth += 1
            self._begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self._end()
                if outermost_only:
                    self._tables_depth -= 1

        return wrapper

    def install(self) -> None:
        """Wrap the layer entry points. Runs before ``registry.load_all``
        imports the operator modules, so their ``from ..tables import``
        bindings pick up the wrapped builders."""
        from pipelinejobs_indexer_spark import registry, session, tables

        # Read when the JVM starts, so this precedes session.get_spark.
        os.environ["PERFBENCH_WORKER_LOG"] = self.worker_log
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--conf spark.python.daemon.module={DAEMON_MODULE} "
            + os.environ["PYSPARK_SUBMIT_ARGS"]
        )
        session.get_spark = self._wrap(session.get_spark, "session.get_spark")
        registry.load_all = self._wrap(registry.load_all, "registry.load_all")
        for attr in ("load_table", *FIXTURE_BUILDERS):
            setattr(tables, attr, self._wrap(getattr(tables, attr), "tables.build", True))
        self._sampler = threading.Thread(target=self._sample_loop, daemon=True)
        self._sampler.start()
        self._sampling.set()

    def _sample_loop(self) -> None:
        while not self._stop.wait(0.2):
            if self._sampling.is_set():
                self.procs.sample()

    # -- JVM handles -----------------------------------------------------
    def attach(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        self._jsc = spark.sparkContext._jsc.sc()
        self._jvm = spark.sparkContext._jvm
        self._store = self._jsc.statusStore()
        events = self.events

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                events.append(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Progress()
        self.spark.streams.addListener(self.listener)

    def _jobs(self) -> int:
        return self._jsc.dagScheduler().numTotalJobs()

    def _next_stage(self) -> int:
        nxt = self._jsc.dagScheduler().nextStageId()
        return nxt if isinstance(nxt, int) else nxt.get()

    def _gc_s(self) -> float:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000

    # -- passes and queries ----------------------------------------------
    def begin_pass(self, idx: int, traced: bool) -> None:
        self.pass_idx = idx
        self.recording = traced
        if traced:
            self._sampling.set()
        else:
            self._sampling.clear()
        self._pass = {
            "idx": idx,
            "traced": traced,
            "cpu0": self.procs.sample(),
            "gc0": self._gc_s() if traced else 0.0,
            "events0": len(self.events),
            "queries": {},
        }

    def begin_query(self, name: str) -> None:
        if not self.recording:
            return
        self._q = {"name": name, "wall0": time.time(), "stage0": self._next_stage()}
        self._q["jobs0"] = self._jobs()
        self._begin("query.construct", query=name)

    def end_construct(self) -> None:
        if not self.recording:
            return
        self._end()
        self._q["jobs1"] = self._jobs()
        self._begin("query.action", query=self._q["name"])

    def end_query(self) -> None:
        if not self.recording:
            return
        self._end()
        q = self._q
        q["jobs2"] = self._jobs()
        q["stage2"] = self._next_stage()
        self._jsc.listenerBus().waitUntilEmpty()
        q.update(self._stage_totals(q["stage0"], q["stage2"]))
        if q["name"].startswith("sink_"):
            q["files"], q["bytes"] = _written_since(self.tmp, q["wall0"])
        self._pass["queries"][q["name"]] = q
        self.procs.sample()

    def abort_query(self) -> None:
        while self._open:
            self._end()

    def _stage_totals(self, s0: int, s1: int) -> dict:
        from py4j.protocol import Py4JJavaError

        out = {"stages": 0, "tasks": 0, "task_ms": 0, "sw": 0, "sr": 0, "spill": 0}
        for sid in range(s0, s1):
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue
            if st.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["task_ms"] += st.executorRunTime()
            out["sw"] += st.shuffleWriteBytes()
            out["sr"] += st.shuffleReadBytes()
            out["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    def end_pass(self, rec: dict) -> None:
        p = self._pass
        p["wall_s"] = rec["wall_s"]
        p["query_s"] = rec["query_s"]
        if p["traced"]:
            self._jsc.listenerBus().waitUntilEmpty()
            p["gc_s"] = self._gc_s() - p["gc0"]
            p["progress"] = self.events[p["events0"] :]
        cpu1 = self.procs.sample()
        p["cpu"] = {k: cpu1[k] - p["cpu0"][k] for k in cpu1}
        self.pass_stats.append(p)
        self.recording = False

    def stop(self) -> None:
        """Called after the last pass, before the run dir is deleted."""
        self.worker_starts = _line_count(self.worker_log)
        self._stop.set()
        if self._sampler is not None:
            self._sampler.join()
        if getattr(self, "listener", None) is not None:
            self.spark.streams.removeListener(self.listener)

    # -- results -----------------------------------------------------------
    def metrics(self, spec: list[dict]) -> dict:
        """Every metric of ``spec`` (BENCHMARK.json's ``per_layer``) by
        name, with its unit."""

        def span_sum(name: str, pass_idx) -> float:
            return sum(
                s["end"] - s["start"]
                for s in self.spans
                if s["name"] == name and s["pass"] == pass_idx and s["end"] is not None
            )

        # pass_stats[0] is the cold pass, then come the untraced settling
        # passes.
        timed = self.pass_stats[1 + self.settle_passes :]
        traced = [p for p in timed if p["traced"]]
        untraced = [p for p in timed if not p["traced"]]
        per_pass = []
        for p in traced:
            qs = p["queries"].values()
            wall = p["wall_s"]
            task_s = sum(q["task_ms"] for q in qs) / 1000
            prog = p["progress"]
            per_pass.append(
                {
                    "query.construct_s": sum(v[0] for v in p["query_s"].values()),
                    "query.action_s": sum(v[1] for v in p["query_s"].values()),
                    "spark.construct_jobs": sum(q["jobs1"] - q["jobs0"] for q in qs),
                    "spark.action_jobs": sum(q["jobs2"] - q["jobs1"] for q in qs),
                    "spark.stages": sum(q["stages"] for q in qs),
                    "spark.tasks": sum(q["tasks"] for q in qs),
                    "spark.task_s": task_s,
                    "spark.core_util": task_s / (wall * self.cores),
                    "spark.shuffle_write_mb": sum(q["sw"] for q in qs) / MB,
                    "spark.shuffle_read_mb": sum(q["sr"] for q in qs) / MB,
                    "spark.spill_mb": sum(q["spill"] for q in qs) / MB,
                    "spark.gc_s": p["gc_s"],
                    "streaming.batches": len(prog),
                    "streaming.planning_s": _duration(prog, "queryPlanning"),
                    "streaming.add_batch_s": _duration(prog, "addBatch"),
                    "streaming.commit_s": _duration(prog, "commitOffsets")
                    + _duration(prog, "walCommit"),
                    "streaming.state_rows": sum(
                        op.numRowsTotal for pr in prog for op in pr.stateOperators
                    ),
                    "python.worker_cpu_s": p["cpu"]["worker"],
                    "cpu.jvm_s": p["cpu"]["jvm"],
                    "cpu.driver_s": p["cpu"]["driver"],
                    "plans.sink_s": sum(
                        sum(v) for n, v in p["query_s"].items() if n.startswith("sink_")
                    ),
                    "plans.files_written": sum(q.get("files", 0) for q in qs),
                    "plans.bytes_written": sum(q.get("bytes", 0) for q in qs),
                }
            )
        out = {
            "session.get_spark_s": span_sum("session.get_spark", None),
            "registry.load_all_s": span_sum("registry.load_all", None),
            "tables.build_s": span_sum("tables.build", 0),
            "proc.peak_rss_mb": self.procs.peak_rss / MB,
            "python.worker_starts": self.worker_starts,
            "trace.overhead_s": best_pass_s(traced) - best_pass_s(untraced),
        }
        for key in per_pass[0]:
            out[key] = statistics.median(pp[key] for pp in per_pass)
        return {m["name"]: {"value": out[m["name"]], "unit": m["unit"]} for m in spec}

    def write_spans(self, root: str, workload: str) -> str:
        path = os.path.join(root, ".perfbench", f"trace-{workload}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
        return os.path.relpath(path, root)


def best_pass_s(passes: list[dict]) -> float:
    """Warm-pass time as the sum over queries of each query's fastest time.
    Co-tenant load and stolen CPU only ever add time, so the fastest of
    several executions moves least with the host: over ten runs of
    llm_corpus on a shared 4-core host, the per-run spread (IQR/median)
    was 16% with it against 23% with each query's median."""
    names = passes[0]["query_s"]
    return sum(min(sum(p["query_s"][n]) for p in passes) for n in names)


def _line_count(path: str) -> int:
    try:
        with open(path, "rb") as fh:
            return fh.read().count(b"\n")
    except FileNotFoundError:
        return 0


def _duration(progress: list, key: str) -> float:
    return sum((pr.durationMs or {}).get(key, 0) for pr in progress) / 1000


def _written_since(top: str, since: float) -> tuple[int, int]:
    files = size = 0
    for d, _, fs in os.walk(top):
        for f in fs:
            try:
                st = os.stat(os.path.join(d, f))
            except OSError:
                continue
            if st.st_mtime >= since:
                files += 1
                size += st.st_size
    return files, size
