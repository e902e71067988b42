"""Join operators (SURVEY.md §2.3).

J1 join_job_pipeline       — broadcast dim join (install_pipeline.py:22-23)
J2 join_files_job_provenance — provenance array membership (reactor.py:166)
J3 join_semi_validate_uuid — "must validate as a known job" (README.rst:34)
J4 join_anti_orphans       — listed-but-not-indexed re-index set (config.yml:5-8)
J5 join_self_provenance_hop — provenance DAG hop (init-job.json:2-4,36)
J6 join_range_events_in_run — interval containment join (init-job.json:81-83)
J5b join_provenance_closure — k-hop closure, iterative loop vs recursive-CTE oracle
J7 join_asof_state         — latest state <= t (reactor.py:126-127,172-176)
J8 join_outer_diff         — upsert change detection (jsondiff, requirements-dev.txt:6)

Scale notes: J1 broadcasts the 5-row pipelines dim (no fact shuffle). J2/J3/
J4 are key-equi joins — shuffle on the join key, AQE handles skewed hot jobs.
J6 pairs the range predicate with a job_uuid equi key so Catalyst plans a
sort-merge/hash join with a residual filter instead of a cartesian nested
loop — the difference between O(n·m) and O(n+m) at 100 TB. J7 avoids the
pair join entirely: union-timeline + carry-forward window (see its
docstring), one shuffle on uuid, linear per key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..oracle import with_fixtures
from ..registry import register
from ..tables import archive_files, job_events, jobs, messages, pipelines


@register(
    "join_job_pipeline",
    sql=with_fixtures(
        """SELECT j.uuid, j.state, p.pipeline_uuid, p.pipeline_name, p.pipeline_slug
           FROM jobs j JOIN pipelines p ON j.pipeline_uuid = p.pipeline_uuid""",
        "jobs",
        "pipelines",
    ),
)
def join_job_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: enrich each job with its pipeline definition.

    The pipelines dim is tiny (one row per priority class) — explicit
    ``broadcast()`` so the fact side never shuffles regardless of
    autoBroadcastJoinThreshold.
    """
    j = jobs(spark, sf_dir)
    p = pipelines(spark, sf_dir)
    return j.join(F.broadcast(p), "pipeline_uuid").select(
        "uuid", "state", "pipeline_uuid", "pipeline_name", "pipeline_slug"
    )


@register(
    "join_files_job_provenance",
    sql=with_fixtures(
        """SELECT f.file_uuid, f.path, j.uuid AS job_uuid, j.state
           FROM (SELECT file_uuid, path, unnest(generated_by) AS proc FROM archive_files) f
           JOIN (SELECT uuid, state, unnest(generated_by) AS proc FROM jobs) j
             ON f.proc = j.proc""",
        "archive_files",
        "jobs",
    ),
)
def join_files_job_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: attach indexed file records to their producing job via the
    generated_by provenance arrays (reactor.py:162-167 sets
    generated_by=[process_uuid] on every indexed record).

    Joined on the integer ``job_key`` instead of the exploded 67-char
    process uuid (guide §2.3; the same injective-key narrowing as the
    events family): both provenance arrays are
    single-element ``['117' || sha256(orderkey)]`` by construction, so
    unnest is a 1:1 map and proc equality holds exactly when the integer
    orderkeys match (sha256 is injective for every input that exists).
    Same matches, same output columns; the join exchange/sort now carries
    an 8-byte int instead of a 67-char string, both Generate nodes
    disappear, and the pruned ``proc`` sha256 is never computed (one
    fewer sha2 per row on EACH side). The surveyed explode+equi-join
    provenance shape stays pinned by the salted twin J2b
    (join_provenance_salted) and the plan test
    test_filter_pushes_through_explode.
    """
    f = archive_files(spark, sf_dir).select("file_uuid", "path", "job_key")
    j = jobs(spark, sf_dir).select("uuid", "state", "job_key")
    return f.join(j, "job_key").select(
        "file_uuid", "path", F.col("uuid").alias("job_uuid"), "state"
    )


@register(
    "join_semi_validate_uuid",
    sql=with_fixtures(
        """SELECT msg_id, uuid, name FROM messages
           WHERE uuid IN (SELECT uuid FROM jobs)""",
        "messages",
        "jobs",
    ),
)
def join_semi_validate_uuid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: keep only messages whose uuid is a known job — "uuid ... must
    validate as a known job" (README.rst:34). Left-semi join: no row
    multiplication, job columns never materialize."""
    m = messages(spark, sf_dir)
    j = jobs(spark, sf_dir)
    return m.join(j, "uuid", "left_semi").select("msg_id", "uuid", "name")


@register(
    "join_anti_orphans",
    sql=with_fixtures(
        """SELECT file_uuid, path FROM archive_files
           WHERE path NOT IN (SELECT path FROM archive_files WHERE file_seq % 2 = 0)""",
        "archive_files",
    ),
)
def join_anti_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: archive files listed but not yet indexed (re-index support for
    "large batches of re-indexing jobs", config.yml:5-8). Left-anti join of
    the listing against the already-indexed set."""
    listed = archive_files(spark, sf_dir)
    indexed = listed.filter(F.col("file_seq") % 2 == 0).select("path")
    return listed.join(indexed, "path", "left_anti").select("file_uuid", "path")


@register(
    "join_self_provenance_hop",
    sql=with_fixtures(
        """SELECT a.uuid AS src_uuid, b.uuid AS dst_uuid, a.derived_from[1] AS via_ref
           FROM jobs a JOIN jobs b
             ON a.derived_from[1] = b.derived_from[1] AND a.uuid < b.uuid""",
        "jobs",
    ),
)
def join_self_provenance_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: one provenance hop — sibling jobs derived from the same upstream
    reference (derived_from edges, init-job.json:2-4). Self equi-join on the
    edge endpoint with a tie-break inequality; k-hop traversal iterates this
    join driver-side (Spark has no recursive CTE)."""
    j = jobs(spark, sf_dir).select(
        "uuid", F.element_at("derived_from", 1).alias("ref")
    )
    a, b = j.alias("a"), j.alias("b")
    return (
        a.join(b, (F.col("a.ref") == F.col("b.ref")) & (F.col("a.uuid") < F.col("b.uuid")))
        .select(
            F.col("a.uuid").alias("src_uuid"),
            F.col("b.uuid").alias("dst_uuid"),
            F.col("a.ref").alias("via_ref"),
        )
    )


@register(
    "join_range_events_in_run",
    sql=with_fixtures(
        """SELECT r.event_seq AS run_id, e.event_seq, e.job_uuid, e.name
           FROM job_events e
           JOIN (SELECT job_uuid, event_seq, date AS run_start,
                        date + to_hours(2) AS run_end
                 FROM job_events WHERE name = 'create') r
             ON e.job_uuid = r.job_uuid
            AND e.date >= r.run_start AND e.date <= r.run_end""",
        "job_events",
    ),
)
def join_range_events_in_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: interval-containment join — associate events with the run whose
    [start, start+2h] window contains them (run bounds analog:
    init-job.json:81-83 submitTime/endTime).

    Scale shape: a bare (job_uuid) equi key still pairs every event of a
    job with every run of that job before the residual range filter — the
    per-key quadratic that hurts on long-lived jobs. Adding a time-bucket
    equi key (bucket width == interval length, runs exploded into the <=2
    buckets they overlap) prunes candidates to a bounded 4-hour
    neighborhood per event. Pure candidate pruning: the residual predicate
    is unchanged, so results are identical to the naive plan — only the
    join fan-out shrinks.
    """
    # The equi key is (job_key, tb) — the integer fixture key instead of
    # the 67-char uuid (guide §2.3; result-identical: job_uuid =
    # '107'||sha256(job_key) is injective, so key equality is unchanged).
    # The uuid is derived AFTER the join for output rows only, moving the
    # sha256 out of the serial scan stage and off the shuffle key.
    _W = 7200  # bucket width (sec) == interval length
    ev = job_events(spark, sf_dir)
    e = ev.select(
        "job_key",
        "event_seq",
        "name",
        "date",
        F.floor(F.expr("unix_seconds(cast(date as timestamp))") / _W).alias("tb"),
    ).alias("e")
    runs = (
        ev.filter(F.col("name") == "create")
        .select(
            F.col("job_key"),
            F.col("event_seq").alias("run_id"),
            F.col("date").alias("run_start"),
            (F.col("date") + F.expr("INTERVAL 2 HOURS")).alias("run_end"),
            F.floor(F.expr("unix_seconds(cast(date as timestamp))") / _W).alias("b0"),
        )
        .select(
            "*", F.explode(F.array(F.col("b0"), F.col("b0") + 1)).alias("tb")
        )
        .alias("r")
    )
    return (
        e.join(
            runs,
            (F.col("e.job_key") == F.col("r.job_key"))
            & (F.col("e.tb") == F.col("r.tb"))
            & (F.col("e.date") >= F.col("r.run_start"))
            & (F.col("e.date") <= F.col("r.run_end")),
        )
        .select(
            F.col("r.run_id"),
            F.col("e.event_seq"),
            F.concat(
                F.lit("107"), F.sha2(F.col("e.job_key").cast("string"), 256)
            ).alias("job_uuid"),
            F.col("e.name"),
        )
    )


@register(
    "join_asof_state",
    sql=with_fixtures(
        """SELECT msg_id, uuid, state_at, state_date FROM (
             SELECT m.msg_id, m.uuid, e.name AS state_at, e.date AS state_date,
                    row_number() OVER (PARTITION BY m.msg_id
                                       ORDER BY e.date DESC, e.event_seq DESC) AS rn
             FROM messages m
             JOIN job_events e ON e.job_uuid = m.uuid AND e.date <= m.ts
           ) WHERE rn = 1""",
        "messages",
        "job_events",
    ),
)
def join_asof_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: as-of join — the job's state at message time is the latest
    history entry with date <= t (reference reads store.state/last_event
    before acting, reactor.py:126-127,172-176).

    Spark has no native ASOF. The naive shape (equi-join on uuid +
    `date <= ts` predicate, then window) materializes every
    (message, earlier-event) pair — O(k^2) rows per key, quadratic in
    events-per-job, which is exactly what dies first at 100 TB. Instead:
    UNION events and messages into one timeline per uuid and carry the
    last event forward with `last(..., ignorenulls)` over an ordered
    window — one shuffle on uuid, O(k log k) per key, no pair blowup.
    Ordering (ts, is_msg, event_seq) puts events before the messages that
    share their timestamp (date <= ts is inclusive) and breaks same-date
    ties by event_seq, matching the reference's latest-entry read.
    """
    m = messages(spark, sf_dir)
    e = job_events(spark, sf_dir)
    # Shuffle-narrowing rewrite (guide §2.3; result-identical to
    # the oracle SQL): the timeline partitions on the integer job_key
    # instead of the 67-char uuid (uuid = '107'||sha256(job_key) is
    # injective, and BOTH fixture views carry job_key, so the window
    # partitions are exactly the same sets), and the uuid is derived
    # AFTER the window for the surviving message rows only — the sha256
    # moves out of the serial scan stage into the parallel post-shuffle
    # stage, and only messages (not every event) pay it.
    timeline = e.select(
        F.col("job_key"),
        F.col("date").alias("t"),
        F.lit(0).alias("is_msg"),
        "event_seq",
        F.lit(None).cast("long").alias("msg_id"),
        F.col("name"),
        F.col("date"),
    ).unionByName(
        m.select(
            "job_key",
            F.col("ts").alias("t"),
            F.lit(1).alias("is_msg"),
            F.lit(None).cast("long").alias("event_seq"),
            "msg_id",
            F.lit(None).cast("string").alias("name"),
            F.lit(None).cast("timestamp_ntz").alias("date"),
        )
    )
    w = (
        Window.partitionBy("job_key")
        .orderBy("t", "is_msg", "event_seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        timeline.select(
            "msg_id",
            "job_key",
            "is_msg",
            F.last("name", ignorenulls=True).over(w).alias("state_at"),
            F.last("date", ignorenulls=True).over(w).alias("state_date"),
        )
        .filter((F.col("is_msg") == 1) & F.col("state_at").isNotNull())
        .select(
            "msg_id",
            F.concat(
                F.lit("107"), F.sha2(F.col("job_key").cast("string"), 256)
            ).alias("uuid"),
            "state_at",
            "state_date",
        )
    )


_J8_NEW_SQL = """
SELECT uuid, CASE WHEN job_key % 5 = 0 THEN 'FINISHED' ELSE state END AS state,
       session
FROM jobs WHERE job_key % 7 <> 0
"""


@register(
    "join_outer_diff",
    sql=with_fixtures(
        f"""SELECT coalesce(o.uuid, n.uuid) AS uuid,
                  CASE WHEN o.uuid IS NULL THEN 'added'
                       WHEN n.uuid IS NULL THEN 'removed'
                       WHEN o.state <> n.state THEN 'modified'
                       ELSE 'unchanged' END AS change,
                  o.state AS state_old, n.state AS state_new
           FROM jobs o FULL OUTER JOIN ({_J8_NEW_SQL}) n ON o.uuid = n.uuid""",
        "jobs",
    ),
)
def join_outer_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8: diff old vs new document versions on upsert (the reference's
    store layer tracks diffs via jsondiff, requirements-dev.txt:6).
    Full-outer join on the document key + per-column comparison flags."""
    old = jobs(spark, sf_dir)
    new = (
        old.filter(F.col("job_key") % 7 != 0)
        .select(
            "uuid",
            F.when(F.col("job_key") % 5 == 0, "FINISHED").otherwise(F.col("state")).alias("state"),
            "session",
        )
    )
    o = old.select(F.col("uuid").alias("o_uuid"), F.col("state").alias("state_old"))
    n = new.select(F.col("uuid").alias("n_uuid"), F.col("state").alias("state_new"))
    return o.join(n, o.o_uuid == n.n_uuid, "full_outer").select(
        F.coalesce("o_uuid", "n_uuid").alias("uuid"),
        F.when(F.col("o_uuid").isNull(), "added")
        .when(F.col("n_uuid").isNull(), "removed")
        .when(F.col("state_old") != F.col("state_new"), "modified")
        .otherwise("unchanged")
        .alias("change"),
        "state_old",
        "state_new",
    )


_EDGES_SQL = """
  SELECT '107' || sha256(CAST(o_orderkey AS VARCHAR)) AS src,
         '102' || sha256(CAST(o_custkey AS VARCHAR)) AS dst
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT '102' || sha256(CAST(c_custkey AS VARCHAR)),
         '104' || sha256(CAST(c_nationkey AS VARCHAR))
  FROM customer
  UNION ALL
  SELECT '104' || sha256(CAST(n_nationkey AS VARCHAR)),
         '103' || sha256(CAST(n_regionkey AS VARCHAR))
  FROM nation
"""


@register(
    "join_provenance_closure",
    sql=f"""WITH RECURSIVE edges AS ({_EDGES_SQL}),
         roots AS (
           SELECT src AS root FROM edges WHERE src LIKE '107%'
         ),
         cl(root, node, hop) AS (
           SELECT root, root, 0 FROM roots
           UNION ALL
           SELECT cl.root, e.dst, cl.hop + 1
           FROM cl JOIN edges e ON e.src = cl.node
           WHERE cl.hop < 3
         )
         SELECT root AS root_uuid, node AS node_uuid, hop
         FROM cl WHERE hop > 0""",
)
def join_provenance_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 (multi-hop): the k-hop transitive closure of the provenance DAG
    (derived_from chains, init-job.json:2-4; SURVEY §7.4 hard-part).

    Spark has no recursive CTE, so the closure is a driver-side loop of
    equi-joins — one join per hop, each a plain shuffle join the optimizer
    handles; the frontier DataFrame carries (root, node, hop). The DuckDB
    oracle IS the recursive CTE, cross-checking the iterative plan against
    a genuinely recursive evaluation. Hop count is bounded (provenance
    chains are shallow: job -> upstream ref -> nation-level -> region-level
    in the fixture hierarchy); at 100 TB persist each frontier and stop
    early when it empties — the loop below does both implicitly via
    Spark's lazy union DAG.
    """
    from ..tables import load_table

    def tid(prefix: str, col):
        return F.concat(F.lit(prefix), F.sha2(col.cast("string"), 256))

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    edges = (
        o.filter(F.col("o_orderkey") % 10 == 0)
        .select(tid("107", F.col("o_orderkey")).alias("src"), tid("102", F.col("o_custkey")).alias("dst"))
        .unionByName(c.select(tid("102", F.col("c_custkey")).alias("src"), tid("104", F.col("c_nationkey")).alias("dst")))
        .unionByName(n.select(tid("104", F.col("n_nationkey")).alias("src"), tid("103", F.col("n_regionkey")).alias("dst")))
    )
    roots = edges.filter(F.col("src").startswith("107")).select(
        F.col("src").alias("root")
    )
    frontier = roots.select("root", F.col("root").alias("node"), F.lit(0).alias("hop"))
    out = None
    for _ in range(3):
        frontier = (
            frontier.join(edges, frontier.node == edges.src)
            .select("root", F.col("dst").alias("node"), (F.col("hop") + 1).alias("hop"))
        )
        out = frontier if out is None else out.unionByName(frontier)
    return out.select(
        F.col("root").alias("root_uuid"), F.col("node").alias("node_uuid"), "hop"
    )


@register(
    "join_provenance_salted",
    sql=with_fixtures(
        """SELECT f.file_uuid, f.path, j.uuid AS job_uuid, j.state
           FROM (SELECT file_uuid, path, unnest(generated_by) AS proc FROM archive_files) f
           JOIN (SELECT uuid, state, unnest(generated_by) AS proc FROM jobs) j
             ON f.proc = j.proc""",
        "archive_files",
        "jobs",
    ),
)
def join_provenance_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 with manual key salting — the pre-AQE skew technique, kept as a
    first-class operator because AQE's skew splitting only kicks in past
    its thresholds and cannot split a single in-flight build partition.

    Shape: the probe side appends a random-ish salt (stable hash of the
    row id, not rand() — determinism for the oracle) to the join key; the
    build side replicates each row SALT ways with every salt value. A hot
    process uuid then spreads over SALT shuffle partitions instead of one.
    The oracle is the UNSALTED join — identical results prove salting is
    pure redistribution.
    """
    SALT = 8
    f = archive_files(spark, sf_dir).select(
        "file_uuid", "path", F.explode("generated_by").alias("proc")
    ).withColumn("salt", F.pmod(F.xxhash64("file_uuid"), F.lit(SALT)))
    j = (
        jobs(spark, sf_dir)
        .select(F.col("uuid"), "state", F.explode("generated_by").alias("proc"))
        .select(
            "*", F.explode(F.sequence(F.lit(0), F.lit(SALT - 1))).alias("salt")
        )
        .withColumn("salt", F.col("salt").cast("long"))
    )
    return f.join(j, ["proc", "salt"]).select(
        "file_uuid", "path", F.col("uuid").alias("job_uuid"), "state"
    )
