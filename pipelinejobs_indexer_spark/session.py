"""SparkSession factory and runtime tuning.

Two entry paths:
  * ``get_spark()`` — build our own local session (tests, bench).
  * ``tune(spark)`` — apply the runtime-settable subset of our config to a
    session we did NOT create (the correctness driver hands us its own
    ``SparkSession``). Every query entry point calls this first.

Scale notes (100 TB design point): the static configs below are local-mode
only; on a real cluster the same code runs unchanged — AQE handles skew-join
splitting and partition coalescing, shuffle partitions should be set to
~2-3x total cores, and all small-dimension joins in this package are
explicitly ``broadcast()`` hinted so they never shuffle the fact side.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    """Cores to plan for: ``SPARK_GRAFT_CPUS``, else this host's count."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


# Runtime-settable (SQLConf) knobs — safe to apply to a foreign session.
_RUNTIME_CONFS = {
    # The driver's bare session defaults to 200 shuffle partitions — at the
    # test scale that is 200 near-empty tasks per exchange (pure scheduler
    # overhead), and on a real cluster the knob should track cores anyway
    # (~2-3x total cores). AQE coalescing then trims the remainder.
    "spark.sql.shuffle.partitions": str(default_parallelism()),
    # The driver-generated events.parquet stores TIMESTAMP(NANOS) which the
    # vectorized parquet reader rejects; read as long and convert (tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Pin UTC so timestamp values hash identically to DuckDB's naive ts.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime re-planning, partition coalescing, skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE (incl. partition coalescing) apply to .cache() materialization
    # too (default false): the dedup cached legs otherwise pin the
    # static shuffle-partition count — e.g. llm_dedup_incremental_minhash's
    # cached signature index materialized as 32 near-empty partitions and
    # was then written as 32 tiny parquet files (guide §6 small-files);
    # with AQE the cached leg coalesces to the advisory size at ANY scale.
    # No result depends on cached partitioning (no spark_partition_id /
    # monotonically_increasing_id over cached frames), and the
    # one partition-derived operator (sort_history) is data-bucketed by
    # design.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Arrow for every pandas-UDF / toPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def _heap_bytes(size: str) -> int:
    """Parse a JVM size string ('1g', '512m', '8192k', plain bytes)."""
    s = size.strip().lower()
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}.get(s[-1:], None)
    try:
        return int(float(s[:-1]) * mult) if mult else int(float(s))
    except ValueError:
        return 0


# Confs that query results depend on: tune() raises if either fails to
# apply, instead of letting timestamps hash in the wrong zone or
# events.parquet fail to read.
_PARITY_CONFS = ("spark.sql.legacy.parquet.nanosAsLong", "spark.sql.session.timeZone")

# Sessions already tuned: tune() runs on EVERY load_table / stream
# construction, and each _RUNTIME_CONFS application is ~10 py4j round
# trips of pure driver latency (guide §7.3) re-setting values that are
# already set — session confs persist, and the operators that scope a
# conf (CC loop, streaming replays) restore it themselves in `finally`.
# Keyed on the session object, not its applicationId: a newSession()
# clone shares the application but has its own SQLConf. A hit costs no
# py4j round trip, and one decision per session keeps later explicit
# overrides (e.g. a test forcing SMJ) from being clobbered.
_tuned: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to any session (ours or the driver's)."""
    if spark in _tuned:
        return spark
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as e:
            if k in _PARITY_CONFS:
                raise RuntimeError(f"parity-critical conf {k}={v} did not apply") from e
            # non-settable on this build — keep going
    # Prefer shuffled-hash over sort-merge when the planner's size
    # conditions hold (guide §3.1/§9) — skips the per-side sorts; r14
    # interleaved A/B at sf0.1: join_files_job_provenance 1.33 -> 1.11 s,
    # join_outer_diff 0.95 -> 0.77 s, others neutral. GATED on execution
    # heap: an SHJ build map is unspillable, and on the correctness
    # driver's bare ~1 GiB-heap session the sf0.1 sweep MEASURABLY died
    # in UnsafeHashedRelation ("Could not allocate memory to grow
    # BytesToBytesMap") once AQE-coalesced partitions concentrated builds
    # — exactly the r7 forced-SHUFFLE_HASH failure mode. Sort-merge
    # spills and always completes, so small-heap sessions keep Spark's
    # default. In local mode the executor heap IS the driver heap; on a
    # real cluster set spark.executor.memory >= 4g (any production
    # profile) and the preference engages.
    try:
        master = spark.conf.get("spark.master", "local")
        key = (
            "spark.driver.memory"  # local mode: the driver heap IS the executor
            if master.startswith("local")
            else "spark.executor.memory"  # cluster: builds happen on executors
        )
        heap = _heap_bytes(spark.conf.get(key, "1g"))
        spark.conf.set(
            "spark.sql.join.preferSortMergeJoin",
            "false" if heap >= (4 << 30) else "true",
        )
    except Exception:
        pass
    _tuned.add(spark)
    return spark


def get_spark(app_name: str = "pipelinejobs-indexer-spark") -> SparkSession:
    cpus = default_parallelism()
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # PySpark 4 wraps EVERY DataFrame API call with error-context
        # capture: a Python stack inspection plus two extra py4j round
        # trips (a conf.get and a PySparkCurrentOrigin.set) per call —
        # pure driver-side plan-construction overhead, worth 25-45% of
        # construct time on the expression-heavy DAGs (measured:
        # pipeline_index_job construct 0.53 -> 0.30 s, minhash
        # 0.55 -> 0.41 s). Error messages lose only the user call-site
        # line; results and plans are identical. Static conf, so it must
        # be set at build time — a cluster spark-submit should pass the
        # same flag.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # reap superseded reliable-checkpoint files (iter_checkpoint's
        # resilient mode) when their RDDs are GC'd; context-creation conf,
        # so a cluster spark-submit must set it too
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)


def default_sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


_checkpoint_dir_appids: set[str] = set()


def iter_checkpoint(df, lazy: bool = False):
    """Materialize an iterative-loop intermediate and cut its lineage.

    ``lazy=True`` defers the localCheckpoint's materialization to
    the caller's NEXT action — for call sites that immediately count the
    checkpointed frame (the CC loop's convergence counts, its pair-DAG
    setup), eager+count was two jobs per round doing one job's work; a
    lazy checkpoint materialized BY the count is one. Only honored on
    the localCheckpoint path: the resilient path's persist->checkpoint->
    unpersist dance needs the eager materialization it was built around,
    and correctness is identical either way (the flag trades job count,
    not results).

    The CC loop (llm/dedup.py) and BPE trainer (llm/text.py) re-derive a
    frame from itself each round; without a checkpoint the lazy plan
    grows linearly (quadratic total work) and the driver's plan-compile
    time explodes. Two lineage-cut strategies, selected by
    ``CONFIG.resilient_checkpoints`` (env SPARK_GRAFT_RESILIENT_CHECKPOINTS):

    * off (default) — ``localCheckpoint()``: blocks live on executors,
      no filesystem round-trip. Fastest, and in local mode (one JVM)
      loss-free. NON-resilient on a cluster: losing any executor loses
      blocks with no lineage to rebuild them, killing the job mid-loop.
    * on — reliable ``checkpoint()``: blocks persist to the checkpoint
      directory (``SPARK_GRAFT_CHECKPOINT_DIR``; defaults to a
      session-scoped temp dir — point it at HDFS/S3 on a real cluster),
      surviving executor loss. The extra filesystem write per round is
      the price of restartability on a 100 TB run.

    Both forms are eager, so the caller's count()-after-checkpoint
    convergence probes see materialized data either way.

    The resilient path persists the frame before checkpointing:
    ``Dataset.checkpoint`` materializes with one job and then writes
    checkpoint files in a SECOND job that would otherwise re-execute
    the whole unpersisted lineage — i.e. every loop round would pay
    ~2x its plan cost, on exactly the cluster runs the flag exists
    for. Persist -> checkpoint -> unpersist makes the write job read
    cached blocks instead.

    Checkpoint-file lifecycle: superseded rounds' files are reaped
    only when ``spark.cleaner.referenceTracking.cleanCheckpoints`` is
    true (a context-creation conf; get_spark sets it, and a cluster
    submit should too) — otherwise a long iterative job accumulates
    rounds x O(data) under the checkpoint dir.
    """
    from . import config as _config

    if not _config.CONFIG.resilient_checkpoints:
        return df.localCheckpoint(eager=not lazy)
    from pyspark import StorageLevel

    spark = df.sparkSession
    app = spark.sparkContext.applicationId
    if app not in _checkpoint_dir_appids:
        import logging

        log = logging.getLogger(__name__)
        ckdir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR", "").strip()
        if not ckdir:
            ckdir = scratch_path(spark, "checkpoints")
            # The temp-dir fallback demonstrates the mechanics but is
            # host-local: on a real cluster, checkpoint files written
            # there are invisible to other executors and die with the
            # host — exactly the loss the flag exists to prevent. Say so
            # ONCE, loudly, at selection time.
            log.warning(
                "resilient_checkpoints is ON but SPARK_GRAFT_CHECKPOINT_DIR "
                "is unset — falling back to host-local temp dir %s, which "
                "gives NO durability on a multi-host cluster; point it at "
                "HDFS/S3 for real runs",
                ckdir,
            )
        else:
            log.info("checkpoint dir for app %s: %s (pinned for app lifetime; "
                     "later env changes are ignored)", app, ckdir)
        spark.sparkContext.setCheckpointDir(ckdir)
        _checkpoint_dir_appids.add(app)
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        return df.checkpoint()
    finally:
        df.unpersist()


_scratch_cleanup_appids: set[str] = set()


def scratch_path(spark: SparkSession, name: str) -> str:
    """Session-scoped scratch location for sink/index/export artifacts:
    keyed by applicationId so concurrent sessions on one host never
    collide (and re-runs within a session reuse/overwrite their own
    copy), and registered for removal at interpreter exit so repeated
    bench/sweep sessions do not accumulate unbounded data under the
    temp dir. One cleanup hook per applicationId: a stop/restart cycle
    within one interpreter gets a fresh appId, which needs its own hook
    or its scratch dirs would outlive the process."""
    import atexit
    import glob
    import shutil
    import tempfile

    app = spark.sparkContext.applicationId
    if app not in _scratch_cleanup_appids:
        prefix = os.path.join(tempfile.gettempdir(), f"spark_graft_{app}_")

        def _cleanup(prefix: str = prefix) -> None:
            for p in glob.glob(prefix + "*"):
                shutil.rmtree(p, ignore_errors=True)

        atexit.register(_cleanup)
        _scratch_cleanup_appids.add(app)
    return os.path.join(tempfile.gettempdir(), f"spark_graft_{app}_{name}")
