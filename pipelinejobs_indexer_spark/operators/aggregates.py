"""Aggregation operators (SURVEY.md §2.4).

A1 agg_count_indexed    — files per job (reactor.py:180-183 success metric)
A2 agg_last_event       — latest event per job (reactor.py:127,176)
A3 agg_state_rollup     — jobs per (pipeline, state) (init-job.json:25)
A4 agg_grouping_sets    — multi-granularity rollup (README.rst:37 levels)
A5 agg_distinct_entities — exact catalog cardinalities
A6 agg_dedup_exact      — at-most-one-doc-per-uuid upsert semantics
                          (install_pipeline.py:23)
A7 agg_storage_stats    — bytes/counts per extension+level (uploads tree)
agg_approx_distinct     — HLL cardinalities for the 100 TB path
                          (self-certifying within-rsd-band oracle)

Scale notes: every groupBy here is a partial (map-side) + final hash
aggregate — one shuffle of the already-reduced partials. A2 uses max_by on
a monotone sequence key instead of a sort. approx_count_distinct replaces
exact distinct at 100 TB: HLL sketches merge associatively, so cardinality
costs one narrow shuffle of fixed-size sketches instead of a full
re-shuffle of the key space.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..oracle import with_fixtures
from ..registry import register
from ..tables import archive_files, job_events, jobs, load_table, messages


@register(
    "agg_count_indexed",
    sql=with_fixtures(
        """SELECT job_uuid, count(*) AS files_indexed,
                  CAST(sum(length) AS BIGINT) AS bytes_indexed
           FROM archive_files GROUP BY job_uuid""",
        "archive_files",
    ),
)
def agg_count_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: files indexed per job — the reactor's own success metric
    ("Indexed {} files to PipelineJob {}", reactor.py:180-183)."""
    return (
        archive_files(spark, sf_dir)
        .groupBy("job_uuid")
        .agg(
            F.count("*").alias("files_indexed"),
            F.sum("length").alias("bytes_indexed"),
        )
    )


@register(
    "agg_last_event",
    sql=with_fixtures(
        """SELECT job_uuid, arg_max(name, event_seq) AS last_event,
                  max(event_seq) AS last_seq
           FROM job_events GROUP BY job_uuid""",
        "job_events",
    ),
)
def agg_last_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: latest event per job (store.last_event, reactor.py:127,176).

    max_by over the monotone sequence key — deterministic argmax without a
    sort or window, one hash aggregate.
    """
    return (
        job_events(spark, sf_dir)
        .groupBy("job_uuid")
        .agg(
            F.max_by("name", "event_seq").alias("last_event"),
            F.max("event_seq").alias("last_seq"),
        )
    )


@register(
    "agg_state_rollup",
    sql=with_fixtures(
        """SELECT pipeline_uuid, state, count(*) AS n_jobs
           FROM jobs GROUP BY pipeline_uuid, state""",
        "jobs",
    ),
)
def agg_state_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: jobs per (pipeline, state) — monitoring / batch re-index
    selection (states init-job.json:25; ensemble mode config.yml:5-8).

    Scale rewrite (result-identical to the oracle SQL): group on
    the narrow source columns and derive pipeline_uuid AFTER the
    aggregation — sha256 on one row per group instead of per job row
    (pipeline_uuid = '106'||sha256(o_orderpriority) is injective, so
    grouping by the priority groups exactly as grouping by the uuid),
    and the per-row projection left in the scan stage is one CASE, which
    partial aggregation collapses map-side with no pre-repartition."""
    from ..tables import load_table

    o = load_table(spark, sf_dir, "orders")
    state = (
        F.when(F.col("o_orderstatus") == "F", "FINISHED")
        .when(F.col("o_orderstatus") == "O", "CREATED")
        .otherwise("INDEXING")
    )
    return (
        o.groupBy(F.col("o_orderpriority").alias("prio"), state.alias("state"))
        .agg(F.count("*").alias("n_jobs"))
        .select(
            F.concat(F.lit("106"), F.sha2(F.col("prio"), 256)).alias(
                "pipeline_uuid"
            ),
            "state",
            "n_jobs",
        )
    )


@register(
    "agg_grouping_sets",
    sql=with_fixtures(
        """SELECT pipeline_uuid, state, count(*) AS n_jobs
           FROM jobs GROUP BY ROLLUP (pipeline_uuid, state)""",
        "jobs",
    ),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: the same rollup at every granularity — (pipeline, state),
    (pipeline), () — in one pass (catalog dashboard shape)."""
    return (
        jobs(spark, sf_dir)
        .rollup("pipeline_uuid", "state")
        .agg(F.count("*").alias("n_jobs"))
    )


@register(
    "agg_distinct_entities",
    sql=with_fixtures(
        """SELECT count(DISTINCT job_uuid) AS n_jobs,
                  count(DISTINCT ext) AS n_exts,
                  count(DISTINCT level) AS n_levels,
                  count(*) AS n_files
           FROM archive_files""",
        "archive_files",
    ),
)
def agg_distinct_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: exact catalog cardinalities (distinct uuid keyspace,
    init-job.json:26-36). See agg_approx_distinct for the sketch-based
    100 TB variant."""
    return archive_files(spark, sf_dir).agg(
        F.countDistinct("job_uuid").alias("n_jobs"),
        F.countDistinct("ext").alias("n_exts"),
        F.countDistinct("level").alias("n_levels"),
        F.count("*").alias("n_files"),
    )


@register(
    "agg_approx_distinct",
    sql=with_fixtures(
        """SELECT count(DISTINCT job_uuid) AS n_jobs,
                  count(DISTINCT file_uuid) AS n_files,
                  count(DISTINCT path) AS n_paths,
                  TRUE AS hll_jobs_ok, TRUE AS hll_files_ok, TRUE AS hll_paths_ok
           FROM archive_files""",
        "archive_files",
    ),
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5b [X]: HyperLogLog++ cardinalities — the scale path. Sketches are
    fixed-size and merge associatively: one narrow shuffle regardless of
    key cardinality.

    Oracle shape: an HLL estimate has no exact SQL twin, so the query
    certifies itself — it emits the exact cardinalities plus booleans
    asserting each HLL estimate (rsd=0.01) lands within a 5x-rsd band of
    the exact count. The oracle recomputes the exact counts and expects
    every boolean TRUE; a sketch drifting out of band breaks the hash.
    The exact columns are certification harness only — at 100 TB a user
    runs the HLL projection alone (see agg_distinct_entities for exact).

    Plan shape: exact and approx run as SEPARATE single-row aggregates
    joined at the end — putting countDistinct and approx_count_distinct in
    one agg would Expand the input 7x (one branch per distinct column),
    which spills at scale; split, the exact side Expands 3x (same as
    agg_distinct_entities) and the sketch side is a plain combiner agg."""
    src = archive_files(spark, sf_dir)
    exact = src.agg(
        F.countDistinct("job_uuid").alias("n_jobs"),
        F.countDistinct("file_uuid").alias("n_files"),
        F.countDistinct("path").alias("n_paths"),
    )
    approx = src.agg(
        F.approx_count_distinct("job_uuid", 0.01).alias("a_jobs"),
        F.approx_count_distinct("file_uuid", 0.01).alias("a_files"),
        F.approx_count_distinct("path", 0.01).alias("a_paths"),
    )
    est = exact.crossJoin(approx)  # two 1-row aggregates

    def ok(approx: str, exact: str) -> F.Column:
        return (
            F.abs(F.col(approx) - F.col(exact)) <= F.col(exact) * 0.05
        )

    return est.select(
        "n_jobs",
        "n_files",
        "n_paths",
        ok("a_jobs", "n_jobs").alias("hll_jobs_ok"),
        ok("a_files", "n_files").alias("hll_files_ok"),
        ok("a_paths", "n_paths").alias("hll_paths_ok"),
    )


@register(
    "agg_dedup_exact",
    sql=with_fixtures(
        """SELECT uuid, name, min(msg_id) AS first_msg_id, count(*) AS n_deliveries
           FROM messages GROUP BY uuid, name""",
        "messages",
    ),
)
def agg_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: at-most-one record per (uuid, action) — the idempotent-upsert
    invariant under at-least-once delivery (retryMaxAttempts=10,
    reactor.py:208; add_update_document, install_pipeline.py:23).
    Deterministic keep-first via min, with the duplicate count exposed."""
    return (
        messages(spark, sf_dir)
        .groupBy("uuid", "name")
        .agg(
            F.min("msg_id").alias("first_msg_id"),
            F.count("*").alias("n_deliveries"),
        )
    )


@register(
    "agg_storage_percentiles",
    sql=with_fixtures(
        """SELECT ext,
                  round(quantile_cont(length, 0.50), 6) AS p50,
                  round(quantile_cont(length, 0.90), 6) AS p90,
                  round(quantile_cont(length, 0.99), 6) AS p99
           FROM archive_files GROUP BY ext""",
        "archive_files",
    ),
)
def agg_storage_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: exact interpolated file-size percentiles per extension — the
    storage-skew triage view (which file types carry the tail?).

    Spark's ``percentile`` and DuckDB's ``quantile_cont`` share the same
    definition (linear interpolation at rank p*(n-1)), so the oracle
    matches bit-for-bit after rounding. Exact percentile aggregates a
    per-group value->count map, fine for bounded-cardinality keys like
    byte sizes; for unbounded doubles at 100 TB swap in
    ``approx_percentile`` (t-digest sketch, mergeable map-side) — the
    plan shape is unchanged."""
    pct = F.expr("percentile(length, array(0.50D, 0.90D, 0.99D))")
    # spread=False: the plan prunes every sha2-derived column (ext/length
    # only survive), so the keyed pre-repartition was pure overhead —
    # partial aggregation collapses the scan stage map-side.
    return (
        archive_files(spark, sf_dir, spread=False)
        .groupBy("ext")
        .agg(pct.alias("p"))
        .select(
            "ext",
            F.round(F.col("p")[0], 6).alias("p50"),
            F.round(F.col("p")[1], 6).alias("p90"),
            F.round(F.col("p")[2], 6).alias("p99"),
        )
    )


@register(
    "agg_storage_stats",
    sql=with_fixtures(
        """SELECT ext, level, count(*) AS n_files,
                  CAST(sum(length) AS BIGINT) AS total_bytes,
                  round(avg(length), 2) AS avg_bytes
           FROM archive_files GROUP BY ext, level""",
        "archive_files",
    ),
)
def agg_storage_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: storage metadata rollup per extension and processing level
    (fixture-tree byte accounting, tests/store/uploads/).

    spread=False: the plan prunes every sha2-derived column (ext/level/
    length only), so the keyed pre-repartition was pure overhead — the
    projection left in the scan stage is a few CASE/round expressions
    and partial aggregation collapses it map-side (measured A/B at
    sf0.1: 0.53 -> 0.35 s)."""
    return (
        archive_files(spark, sf_dir, spread=False)
        .groupBy("ext", "level")
        .agg(
            F.count("*").alias("n_files"),
            F.sum("length").alias("total_bytes"),
            F.round(F.avg("length"), 2).alias("avg_bytes"),
        )
    )


JOB_STATES = ["CREATED", "INDEXING", "FINISHED"]


@register(
    "agg_state_pivot",
    sql=with_fixtures(
        """SELECT pipeline_uuid,
                  count(*) FILTER (WHERE state = 'CREATED') AS created,
                  count(*) FILTER (WHERE state = 'INDEXING') AS indexing,
                  count(*) FILTER (WHERE state = 'FINISHED') AS finished
           FROM jobs GROUP BY pipeline_uuid""",
        "jobs",
    ),
)
def agg_state_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: the pipeline×state dashboard matrix — states pivoted to
    columns (the README.rst:76-79 triage table shape). Uses pivot() with
    the state list EXPLICIT: with known pivot values Spark compiles this
    to one pass of conditional aggregates (same plan as the oracle's
    FILTER clauses) instead of a values-discovery job plus a second
    aggregation — at 100 TB the discovery pass alone would be a full
    scan, which is why unbounded pivots are a smell."""
    return (
        jobs(spark, sf_dir)
        .groupBy("pipeline_uuid")
        .pivot("state", JOB_STATES)
        .count()
        .na.fill(0, [s for s in JOB_STATES])
        .select(
            "pipeline_uuid",
            F.col("CREATED").alias("created"),
            F.col("INDEXING").alias("indexing"),
            F.col("FINISHED").alias("finished"),
        )
    )


# --------------------------------------------- A11 ordered funnel analysis
@register(
    "agg_event_funnel",
    sql="""WITH e AS (
             SELECT user_id, ts::TIMESTAMP AS ts, event_type FROM events
           ),
           s1 AS (
             SELECT user_id, min(ts) AS t_signup FROM e
             WHERE event_type = 'signup' GROUP BY user_id
           ),
           s2 AS (
             SELECT e.user_id, min(e.ts) AS t_click
             FROM e JOIN s1 ON s1.user_id = e.user_id
             WHERE e.event_type = 'click' AND e.ts > s1.t_signup
             GROUP BY e.user_id
           ),
           s3 AS (
             SELECT e.user_id, min(e.ts) AS t_purchase
             FROM e JOIN s2 ON s2.user_id = e.user_id
             WHERE e.event_type = 'purchase' AND e.ts > s2.t_click
             GROUP BY e.user_id
           )
           SELECT s1.user_id, s1.t_signup, s2.t_click, s3.t_purchase,
                  1 + CASE WHEN s2.user_id IS NULL THEN 0 ELSE 1 END
                    + CASE WHEN s3.user_id IS NULL THEN 0 ELSE 1 END
                    AS stages_reached
           FROM s1
           LEFT JOIN s2 ON s2.user_id = s1.user_id
           LEFT JOIN s3 ON s3.user_id = s1.user_id""",
)
def agg_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: strictly-ordered funnel — signup → click → purchase, each
    stage's timestamp the EARLIEST event that happens AFTER the previous
    stage (the product-analytics conversion query; on the reference's
    side this is the create → run → finish lifecycle of reactor.py:127's
    job FSM read as a funnel). One row per user who entered the funnel,
    with per-stage first-hit timestamps and how deep they got.

    Plan shape: each stage is filter → map-side-combined groupBy min over
    the SAME user_id key; the stage frames are per-user aggregates (tiny
    vs the event log) so the chaining joins are AQE-broadcast at fixture
    scale and stay co-partitioned equi-joins at 100 TB (every shuffle in
    the plan is keyed by user_id — one clustering reused end to end). A
    window formulation would drag full event rows through the sort; the
    conditional-min chain moves only (user, ts) pairs."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    return event_funnel(ev)


def event_funnel(ev: DataFrame) -> DataFrame:
    """A11's core over any (user_id, ts, event_type) frame; split out so
    the strict-ordering semantics (a purchase BEFORE the first qualifying
    click must not count) are unit-testable on planted frames."""
    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            "user_id",
            "t_signup",
            "t_click",
            "t_purchase",
            (
                F.lit(1)
                + F.when(F.col("t_click").isNull(), 0).otherwise(1)
                + F.when(F.col("t_purchase").isNull(), 0).otherwise(1)
            ).alias("stages_reached"),
        )
    )


# --------------------------------------------- A12 weekly retention cohorts
@register(
    "agg_retention_cohorts",
    sql="""WITH e AS (
             SELECT user_id,
                    CAST(date_trunc('week', ts::TIMESTAMP) AS TIMESTAMP) AS wk
             FROM events
           ),
           firsts AS (
             SELECT user_id, min(wk) AS cohort_week FROM e GROUP BY user_id
           ),
           sizes AS (
             SELECT cohort_week, count(*) AS cohort_size
             FROM firsts GROUP BY cohort_week
           ),
           cells AS (
             SELECT DISTINCT e.user_id, f.cohort_week,
                    epoch_us(e.wk - f.cohort_week) // 604800000000 AS week_offset
             FROM e JOIN firsts f ON f.user_id = e.user_id
           ),
           counts AS (
             SELECT cohort_week, week_offset, count(*) AS n_active
             FROM cells GROUP BY cohort_week, week_offset
           )
           SELECT c.cohort_week, c.week_offset, c.n_active, s.cohort_size,
                  round(CAST(c.n_active AS DOUBLE) / s.cohort_size, 6)
                    AS retained_frac
           FROM counts c JOIN sizes s ON s.cohort_week = c.cohort_week""",
)
def agg_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: weekly cohort retention — users grouped by the week of their
    first event; each cell counts how many of that cohort were active N
    weeks later (the engagement matrix every corpus/product dashboard
    draws; the reference analog is re-index batch recurrence,
    config.yml:5-8). Offsets are exact integer week counts: both engines
    truncate to the same Monday midnight, so the microsecond delta is an
    exact multiple of 7 days and integer division is lossless.

    Plan shape: first-seen is a map-side-combined min keyed by user_id;
    the activity join re-uses that key (per-user aggregate vs per-user-week
    distinct rows — both sides cluster on user_id); cohort sizes are a
    ~weeks-sized aggregate entering via broadcast. The distinct collapses
    (user, week) dupes BEFORE the cell count, so the final groupBy sees at
    most users × active-weeks rows. At 100 TB: one user_id exchange + one
    (cohort, offset) exchange over already-distinct rows — the matrix
    itself is O(weeks²) and trivially driver-safe."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    return retention_cohorts(ev)


def retention_cohorts(ev: DataFrame) -> DataFrame:
    """A12's core over any (user_id, ts) frame; split out so the
    offset-is-exact-weeks arithmetic is unit-testable on planted frames."""
    ev = ev.select("user_id", F.date_trunc("week", "ts").alias("wk"))
    firsts = ev.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    sizes = firsts.groupBy("cohort_week").agg(F.count("*").alias("cohort_size"))
    cells = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            F.expr(
                "(unix_micros(cast(wk as timestamp))"
                " - unix_micros(cast(cohort_week as timestamp)))"
                " div 604800000000"
            ).alias("week_offset"),
        )
        .distinct()
    )
    counts = cells.groupBy("cohort_week", "week_offset").agg(
        F.count("*").alias("n_active")
    )
    return counts.join(F.broadcast(sizes), "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_active",
        "cohort_size",
        F.round(F.col("n_active").cast("double") / F.col("cohort_size"), 6).alias(
            "retained_frac"
        ),
    )
