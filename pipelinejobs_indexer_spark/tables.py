"""Parquet table loaders + reference-shaped fixture views.

Base tables are the driver-generated TPC-H-ish parquet files
(``TESTDATA.md``). Fixture views re-shape them into the reference's
entities (shape citations: /root/reference/tests/data/init-job.json,
/root/reference/schemas/index.jsonschema, /root/reference/reactor.py:162-167)
so the [R]/[D] operators run on catalog-shaped data:

    jobs           <- orders      (PipelineJob documents, init-job.json:1-143)
    archive_files  <- lineitem    (indexed file records, reactor.py:162-167)
    messages       <- events      (index/indexed commands, index.jsonschema:7-29)
    job_events     <- events      (exploded history, init-job.json:37-141)

Every derivation here has a byte-identical DuckDB mirror in ``oracle.py``;
keep the two in lockstep. Derivations intentionally use only functions with
exact cross-engine parity: sha256 hex, integer %, CASE, string concat,
round-then-cast. No engine-specific hash(), no float truncation casts.

Scale notes: all views are narrow projections + per-row expressions — they
stay inside whole-stage codegen, add no shuffle, and inherit parquet
column pruning (only the referenced base columns are read).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, LongType, StructType

from .session import tune

BASE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Deterministic petname word lists (reference analog: petname dep,
# requirements-dev.txt:10; exemplar "fond-bug" init-job.json:32).
# Mirrored verbatim in oracle.py.
PET_ADJ = ["fond", "quick", "brave", "calm", "eager", "gentle", "happy", "jolly"]
PET_NOUN = ["bug", "fox", "owl", "crab", "newt", "lark", "moth"]


# Planning-metadata caches, keyed by (applicationId, path) so a fresh
# session re-probes and distinct sf_dirs never collide. These memoize
# METADATA the session could cache itself (parquet footer schema, scan
# split width) — never data or results; every action still recomputes
# from the parquet inputs. Measured reason: a bare
# ``spark.read.parquet(path)`` runs a driver-side schema-inference job
# per call (~130 ms); with an explicit schema the reader builds in
# ~25 ms. A bench sweep constructs each query fresh per run at ~2
# ``load_table`` calls per query, so per-query-run construction was
# paying 0.1-0.3 s of repeated footer reads — and at 100 TB, schema
# inference over a large file listing is a classic driver stall
# (optimization guide §7.3); production reads there should pass an
# explicit/catalog schema exactly like this.
_SCHEMA_CACHE: dict[tuple[str, str], object] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one base table; normalizes the events nano-timestamp."""
    tune(spark)
    path = f"{sf_dir}/{name}.parquet"
    key = (spark.sparkContext.applicationId, path)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    if name == "events":
        # Normalize ts to TIMESTAMP_NTZ micros (== DuckDB's ts::TIMESTAMP)
        # across testdata generations: TIMESTAMP(NANOS) parquet arrives as
        # long via nanosAsLong (see session._RUNTIME_CONFS) and needs the
        # floor-division truncation; TIMESTAMP(MICROS) parquet arrives as a
        # timestamp already and only needs the NTZ pin (UTC session tz makes
        # the cast value-preserving either way).
        ts_type = df.schema["ts"].dataType.simpleString()
        if ts_type == "bigint":
            df = df.withColumn(
                "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
            )
        elif ts_type != "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    # Scan-identity marker (set AFTER any events normalization so the
    # returned frame carries it): lets spread() consult the width cache
    # instead of re-running the ~50 ms plan->RDD probe per construction.
    # Brittleness note: a private attribute on a
    # DataFrame works on classic PySpark but would be silently dropped
    # by a Spark Connect DataFrame (different proxy object) — the
    # failure mode is a harmless re-probe per construction, never a
    # wrong result, because spread() treats a missing marker as
    # "probe as before".
    df._graft_scan_key = key
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in BASE_TABLES}


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to core count when the scan yields fewer
    partitions than cores.

    The test parquet files are single-row-group, so Spark cannot split the
    scan: every per-row expression downstream of the scan runs in ONE task.
    For CPU-bound derivations (minhash md5, shingling, cosine math) that
    serializes the whole machine behind one core; a cheap exchange of the
    narrow input spreads it. Guarded so it is a no-op at real scale, where
    a 100 TB table already scans as thousands of row-group splits. Only
    worth it when per-row compute dominates — joins/aggs that shuffle
    anyway gain nothing and pay the extra exchange.

    The width probe (``df.rdd.getNumPartitions()`` — forces plan->RDD
    conversion, ~50 ms of driver time) is cached per (applicationId,
    path) when the frame carries load_table's scan-identity marker:
    scan width is fixed for a given path within a session, and every
    query construction was re-paying the probe (measured).
    Frames without the marker (derived/test frames) probe as before.
    """
    from .session import default_parallelism

    n = default_parallelism()
    key = getattr(df, "_graft_scan_key", None)
    width = _SCAN_WIDTH_CACHE.get(key) if key is not None else None
    if width is None:
        width = df.rdd.getNumPartitions()
        if key is not None:
            _SCAN_WIDTH_CACHE[key] = width
    if width < n:
        df = df.repartition(n)
    return df


def doc_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table's ``doc_id`` column, spread across cores: the
    input of every per-doc decode leg. spread() runs on the loaded scan,
    before the projection, so it still sees load_table's scan marker and
    memoizes the width probe."""
    return spread(load_table(spark, sf_dir, "documents")).select("doc_id")


def map_rows(df: DataFrame, per_row, schema) -> DataFrame:
    """Run ``per_row`` over every row of ``df`` in one ``mapInPandas``
    stage. ``per_row(*row)`` takes the row's columns in ``df`` order and
    yields zero or more output tuples in ``schema`` field order; see
    map_row_batches for how each batch's frame is typed. ``schema`` is a
    StructType or a DDL string."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)

    def batches_fn(batches):
        return map_row_batches(batches, per_row, schema)

    return df.mapInPandas(batches_fn, schema=schema)


_PANDAS_DTYPES = {LongType: "int64", BooleanType: "bool"}


def map_row_batches(batches, per_row, schema: StructType):
    """map_rows' batch generator: one output frame per input batch, built
    column-wise from the tuples ``per_row`` yields. Each column takes its
    field's dtype (bigint -> int64, boolean -> bool, anything else
    object), so a batch whose rows all yield nothing still carries the
    schema's columns and dtypes."""
    import pandas as pd

    names = schema.fieldNames()
    dtypes = [_PANDAS_DTYPES.get(type(f.dataType), object) for f in schema.fields]
    for pdf in batches:
        rows = zip(*(pdf[c].tolist() for c in pdf.columns))
        out = [t for row in rows for t in per_row(*row)]
        cols = list(zip(*out)) if out else [()] * len(names)
        yield pd.DataFrame(
            {n: pd.Series(c, dtype=t) for n, c, t in zip(names, cols, dtypes)}
        )


# Scan-width memo. Two key shapes share it (no collision): spread()'s
# (applicationId, path) from load_table's marker, and _spread_keyed's
# (applicationId, sf_dir, table).
_SCAN_WIDTH_CACHE: dict[tuple, int] = {}


# Fixture-builder LOGICAL-PLAN memo, keyed (applicationId, builder,
# bound arguments): a fixture view's unresolved plan is identical for
# every construction within a session, yet each build re-runs ~100
# Column-algebra py4j round trips (cProfile: jobs ~0.15 s,
# archive_files ~0.12 s, messages ~0.10 s of pure driver time per
# call). Memoizing the DataFrame HANDLE is the plan-level
# analog of the schema cache above — the semantic equivalent of
# registering the fixture views once per session (CREATE TEMP VIEW) and
# referencing them by name: a DataFrame is an immutable plan
# description, not data — every action on a derived frame still
# executes the full scan + projection from the parquet inputs; nothing
# about results or partitioning is retained. Only the current
# application's entries are kept: a new applicationId evicts the rest.
_PLAN_CACHE: dict[tuple, DataFrame] = {}


def _plan_memoized(build):
    """Memoize a fixture builder's DataFrame per (applicationId, name,
    arguments). Arguments are bound against the builder's signature with
    defaults applied, so an omitted default and the same value passed
    explicitly share one entry."""
    import functools
    import inspect

    sig = inspect.signature(build)

    @functools.wraps(build)
    def wrapper(*args, **kw):
        bound = sig.bind(*args, **kw)
        bound.apply_defaults()
        app = bound.arguments["spark"].sparkContext.applicationId
        key = (
            app,
            build.__name__,
            *((k, v) for k, v in bound.arguments.items() if k != "spark"),
        )
        df = _PLAN_CACHE.get(key)
        if df is None:
            for stale in [k for k in _PLAN_CACHE if k[0] != app]:
                del _PLAN_CACHE[stale]
            df = _PLAN_CACHE[key] = build(*bound.args, **bound.kwargs)
        return df

    return wrapper


def _spread_keyed(df: DataFrame, key: str, cache_key: tuple[str, str]) -> DataFrame:
    """Hash-repartition an underpartitioned base scan on its entity key
    BEFORE the uuid derivations run.

    The test parquet is single-row-group (TESTDATA.md), so the scan is one
    task and every sha2/concat in the fixture projection would serialize
    behind one core; exchanging the narrow source columns first runs the
    derivation at full parallelism (join_files_job_provenance: 2.1s -> 1.3s
    at sf0.1 — and even shuffle-bound consumers net out ahead, e.g. the
    storage-stats agg 1.4s -> 1.0s, because the sha2 work dominates the
    narrow-row exchange). Keyed (not round-robin) so the exchange skips the
    sort-before-repartition pass and rows of one entity co-locate. Guarded
    to a no-op at real scale, where the scan already splits into thousands
    of row-group tasks wider than a single executor; the probe
    (``df.rdd.getNumPartitions()`` forces plan conversion, ~0.17s) is
    cached per (sf_dir, table) since scan width is fixed for a given path.
    Applied to the orders/lineitem builders only: their projections run 3
    sha2 per row, so parallelizing beats the exchange; the events-derived
    views (1 sha2/row) measured net-negative with it and load directly.
    Cheap consumer filters on source columns still push below the
    repartition into the scan (tests/test_plans.py::
    test_filter_pushes_through_explode pins this); expensive predicates are
    already bound to narrow columns (P2) so nothing heavy lands back in the
    serial scan stage.
    """
    from .session import default_parallelism

    n = default_parallelism()
    cache_key = (df.sparkSession.sparkContext.applicationId, *cache_key)
    width = _SCAN_WIDTH_CACHE.get(cache_key)
    if width is None:
        width = df.rdd.getNumPartitions()
        _SCAN_WIDTH_CACHE[cache_key] = width
    if width < n:
        df = df.repartition(n, F.col(key))
    return df


def _typed_uuid(prefix: str, col):
    """Deterministic typed uuid: 3-digit type prefix + sha256 hex.

    Reference analog: typed deterministic uuids where the prefix encodes the
    entity type (107=job, 106=pipeline, 102=reference, 117=process, 105=file);
    see init-job.json:3,26,29 and README.rst:34.
    """
    return F.concat(F.lit(prefix), F.sha2(col.cast("string"), 256))


@_plan_memoized
def jobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PipelineJob documents derived from orders (FIXTURES.md B1)."""
    o = _spread_keyed(load_table(spark, sf_dir, "orders"), "o_orderkey", (sf_dir, "orders"))
    pipeline_uuid = F.concat(F.lit("106"), F.sha2(F.col("o_orderpriority"), 256))
    uuid = _typed_uuid("107", F.col("o_orderkey"))
    state = (
        F.when(F.col("o_orderstatus") == "F", "FINISHED")
        .when(F.col("o_orderstatus") == "O", "CREATED")
        .otherwise("INDEXING")
    )
    last_event = (
        F.when(F.col("o_orderstatus") == "F", "finish")
        .when(F.col("o_orderstatus") == "O", "create")
        .otherwise("run")
    )
    session_name = F.concat_ws(
        "-",
        F.element_at(F.array(*[F.lit(a) for a in PET_ADJ]), (F.col("o_orderkey") % 8 + 1).cast("int")),
        F.element_at(F.array(*[F.lit(n) for n in PET_NOUN]), (F.col("o_orderkey") % 7 + 1).cast("int")),
    )
    return o.select(
        F.col("o_orderkey").alias("job_key"),
        uuid.alias("uuid"),
        pipeline_uuid.alias("pipeline_uuid"),
        state.alias("state"),
        last_event.alias("last_event"),
        F.lit("data-products-storage").alias("archive_system"),
        F.concat(F.lit("/products/v2/"), uuid).alias("archive_path"),
        F.col("o_orderdate").alias("updated"),
        session_name.alias("session"),
        F.array(_typed_uuid("102", F.col("o_custkey"))).alias("derived_from"),
        F.array(_typed_uuid("117", F.col("o_orderkey"))).alias("generated_by"),
        F.array(pipeline_uuid).alias("child_of"),
        F.col("o_custkey").alias("owner_key"),
        F.col("o_totalprice").alias("totalprice"),
    )


@_plan_memoized
def pipelines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline definition dim derived from distinct order priorities.

    Reference analog: pipeline documents upserted via PipelineStore
    (tests/install_pipeline.py:22-23, config.yml:23-32). Tiny by
    construction (5 rows) — always broadcast in joins.
    """
    o = load_table(spark, sf_dir, "orders")
    # distinct FIRST (5 priority classes), then derive uuid/slug on 5 rows —
    # Catalyst does not reorder distinct through projections, and doing the
    # sha2+regex per source row costs ~150k hashes per scan at sf0.1.
    return o.select("o_orderpriority").distinct().select(
        F.concat(F.lit("106"), F.sha2(F.col("o_orderpriority"), 256)).alias("pipeline_uuid"),
        F.col("o_orderpriority").alias("pipeline_name"),
        F.lower(F.regexp_replace(F.col("o_orderpriority"), "[^a-zA-Z0-9]+", "-")).alias(
            "pipeline_slug"
        ),
    )


@_plan_memoized
def archive_files(
    spark: SparkSession, sf_dir: str, *, spread: bool = True
) -> DataFrame:
    """Indexed file records derived from lineitem (FIXTURES.md B2).

    ``spread=False`` skips the keyed pre-repartition for consumers
    whose plans prune every sha2-derived column (e.g. the storage aggs:
    ext/level/length only): there the projection left in the scan stage
    is a few CASE/round expressions, partial aggregation collapses it
    map-side anyway, and the exchange was pure overhead — measured 0.53
    -> 0.35 s at sf0.1 for agg_storage_stats. Default stays True: uuid/
    path-producing consumers still amortize 3 sha2/row across cores."""
    loaded = load_table(spark, sf_dir, "lineitem")
    li = (
        _spread_keyed(loaded, "l_orderkey", (sf_dir, "lineitem"))
        if spread
        else loaded
    )
    job_uuid = _typed_uuid("107", F.col("l_orderkey"))
    ext = (
        F.when(F.col("l_partkey") % 4 == 0, "bam")
        .when(F.col("l_partkey") % 4 == 1, "sam")
        .when(F.col("l_partkey") % 4 == 2, "txt")
        .otherwise("tsv")
    )
    mime = (
        F.when(ext == "bam", "application/octet-stream")
        .when(ext == "tsv", "text/tab-separated-values")
        .otherwise("text/plain")
    )
    file_uuid = F.concat(
        F.lit("105"),
        F.sha2(
            F.concat_ws(":", F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string")),
            256,
        ),
    )
    return li.select(
        file_uuid.alias("file_uuid"),
        job_uuid.alias("job_uuid"),
        F.concat(
            F.lit("/products/v2/"),
            job_uuid,
            F.lit("/"),
            F.col("l_linenumber").cast("string"),
            F.lit("."),
            ext,
        ).alias("path"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("length"),
        ext.alias("ext"),
        mime.alias("mime"),
        ((F.col("l_suppkey") % 3) + 1).cast("string").alias("level"),
        F.col("l_shipdate").alias("modified"),
        F.array(_typed_uuid("117", F.col("l_orderkey"))).alias("generated_by"),
        F.col("l_orderkey").alias("job_key"),
        F.col("l_linenumber").alias("file_seq"),
    )


@_plan_memoized
def messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """index/indexed command stream derived from events (FIXTURES.md B3).

    event_type 'error' maps to an invalid action name so schema-dispatch
    (P6, reactor.py:66-84) has a reject path to exercise.
    """
    ev = load_table(spark, sf_dir, "events")
    name = (
        F.when(F.col("event_type").isin("signup", "click"), "index")
        .when(F.col("event_type").isin("view", "purchase"), "indexed")
        .otherwise("bogus")
    )
    patterns = F.when(
        F.col("event_id") % 2 == 0,
        F.array(F.lit(r"\.bam$"), F.lit(r"\.sam$")),
    ).otherwise(F.array(F.lit(r"\.txt$"), F.lit(r"\.tsv$")))
    return ev.select(
        F.col("event_id").alias("msg_id"),
        _typed_uuid("107", F.col("user_id")).alias("uuid"),
        name.alias("name"),
        ((F.col("event_id") % 3) + 1).cast("string").alias("level"),
        F.substring(F.sha2(F.col("event_id").cast("string"), 256), 1, 16).alias("token"),
        F.col("ts"),
        patterns.alias("patterns"),
        F.col("user_id").alias("job_key"),
    )


@_plan_memoized
def job_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded per-job history time-series (FIXTURES.md B4)."""
    ev = load_table(spark, sf_dir, "events")
    name = (
        F.when(F.col("event_id") % 3 == 0, "create")
        .when(F.col("event_id") % 3 == 1, "run")
        .otherwise("finish")
    )
    return ev.select(
        F.col("event_id").alias("event_seq"),
        _typed_uuid("107", F.col("user_id")).alias("job_uuid"),
        F.col("ts").alias("date"),
        name.alias("name"),
        F.col("props").alias("data"),
        F.col("value"),
        F.col("user_id").alias("job_key"),
    )
