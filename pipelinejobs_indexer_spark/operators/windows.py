"""Window-function operators (SURVEY.md §2.5).

W1 win_latest_history   — rank history per job, pick latest (reactor.py:127)
W2 win_transition_pairs — event→predecessor pairing, per-state durations
                          (create→run→finish, init-job.json:59,99,139)
W3 win_running_counts   — cumulative activity per job over time

Scale notes: all three windows partition by the integer job_key (one
shuffle on the same key; since r14 the job_uuid output column — an
injective sha256 of job_key — is derived AFTER the window, so the
shuffle key is 8 bytes instead of 67 chars and the hashing runs in the
parallel post-shuffle stage), and Catalyst collapses adjacent windows
with identical partitioning/ordering into a single sort+window pass. No
global windows here (sorts.py O1 documents that tradeoff).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..oracle import with_fixtures
from ..registry import register
from ..tables import job_events, load_table

_W_ORDER = "ORDER BY date, event_seq"


@register(
    "win_latest_history",
    sql=with_fixtures(
        """SELECT job_uuid, date, name FROM (
             SELECT job_uuid, date, name,
                    row_number() OVER (PARTITION BY job_uuid
                                       ORDER BY date DESC, event_seq DESC) AS rn
             FROM job_events) WHERE rn = 1""",
        "job_events",
    ),
)
def win_latest_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: latest history entry per job via ranking (the history array is
    consumed latest-first, init-job.json:37-141; store.last_event
    reactor.py:127). Deterministic tie-break on event_seq.

    Shuffle-narrowing rewrite (guide §2.3; result-identical): the
    window partitions on the integer job_key (job_uuid =
    '107'||sha256(job_key) is injective, so the partitions are the same
    sets) and the uuid is derived for the ONE surviving row per job
    after the rank filter — one sha256 per job instead of per event,
    computed post-shuffle instead of inside the serial scan stage."""
    w = Window.partitionBy("job_key").orderBy(F.desc("date"), F.desc("event_seq"))
    return (
        job_events(spark, sf_dir)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.concat(
                F.lit("107"), F.sha2(F.col("job_key").cast("string"), 256)
            ).alias("job_uuid"),
            "date",
            "name",
        )
    )


@register(
    "win_transition_pairs",
    sql=with_fixtures(
        f"""SELECT job_uuid, event_seq, name,
                  lag(name) OVER (PARTITION BY job_uuid {_W_ORDER}) AS prev_name,
                  round(CAST(epoch_us(date - lag(date) OVER (PARTITION BY job_uuid {_W_ORDER}))
                        AS DOUBLE) / 1000000.0, 6) AS gap_sec
           FROM job_events""",
        "job_events",
    ),
)
def win_transition_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: pair each event with its predecessor — transition edges and
    per-state dwell time (the create→run→finish sequence,
    init-job.json:59,99,139)."""
    # Window keyed on the integer job_key; job_uuid derived post-window
    # (guide §2.3; result-identical: the uuid is an injective
    # function of job_key, so partitions match; the per-row sha256 moves
    # from the serial scan stage to the parallel post-shuffle stage and
    # the shuffle key narrows from 67 chars to 8 bytes).
    w = Window.partitionBy("job_key").orderBy("date", "event_seq")
    prev_date = F.lag("date").over(w)
    return job_events(spark, sf_dir).select(
        "job_key",
        "event_seq",
        "name",
        F.lag("name").over(w).alias("prev_name"),
        F.round(
            (
                F.unix_micros(F.col("date").cast("timestamp"))
                - F.unix_micros(prev_date.cast("timestamp"))
            )
            / 1000000.0,
            6,
        ).alias("gap_sec"),
    ).select(
        F.concat(
            F.lit("107"), F.sha2(F.col("job_key").cast("string"), 256)
        ).alias("job_uuid"),
        "event_seq",
        "name",
        "prev_name",
        "gap_sec",
    )


@register(
    "win_running_counts",
    sql=with_fixtures(
        f"""SELECT job_uuid, event_seq,
                  count(*) OVER (PARTITION BY job_uuid {_W_ORDER}
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n,
                  round(sum(value) OVER (PARTITION BY job_uuid {_W_ORDER}
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value
           FROM job_events""",
        "job_events",
    ),
)
def win_running_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: cumulative events and value per job over time (incremental
    indexing / re-index batch accounting, config.yml:5-8). Explicit
    rows-frame so the accumulation order is pinned on both engines."""
    # Same job_key-keyed window + post-window uuid derivation as W2
    # (guide §2.3; result-identical, injective key mapping).
    w = (
        Window.partitionBy("job_key")
        .orderBy("date", "event_seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return job_events(spark, sf_dir).select(
        "job_key",
        "event_seq",
        F.count("*").over(w).alias("running_n"),
        F.round(F.sum("value").over(w), 2).alias("running_value"),
    ).select(
        F.concat(
            F.lit("107"), F.sha2(F.col("job_key").cast("string"), 256)
        ).alias("job_uuid"),
        "event_seq",
        "running_n",
        "running_value",
    )


@register(
    "win_gapfill_states",
    sql=with_fixtures(
        """WITH bounds AS (
             SELECT job_uuid,
                    date_trunc('day', min(date)) AS lo,
                    date_trunc('day', max(date)) AS hi
             FROM job_events GROUP BY job_uuid
           ),
           grid AS (
             SELECT job_uuid, unnest(generate_series(lo, hi, INTERVAL '1 day')) AS day
             FROM bounds
           ),
           timeline AS (
             SELECT job_uuid, date AS ts_sort, 1 AS kind, event_seq AS seq,
                    name, NULL::TIMESTAMP AS day
             FROM job_events
             UNION ALL
             SELECT job_uuid, day + INTERVAL '1 day', 0, 9223372036854775807,
                    NULL, day
             FROM grid
           ),
           filled AS (
             SELECT job_uuid, day, kind,
                    last_value(name IGNORE NULLS)
                      OVER (PARTITION BY job_uuid
                            ORDER BY ts_sort, kind, seq
                            ROWS UNBOUNDED PRECEDING) AS state
             FROM timeline
           )
           SELECT job_uuid, day, state FROM filled WHERE kind = 0""",
        "job_events",
    ),
)
def win_gapfill_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: time-series gap fill — materialize a regular 1-day grid per job
    and carry the last event name forward into every slot (the hypertable
    resample/locf view: "what state was every job in at the end of each
    day?", even on days with no events).

    Same linear shape as the as-of join (J7): grid rows and event rows
    union into ONE timeline, a single window pass per job carries the
    last non-null name forward — never a grid×events pair join. Grid rows
    sort at day-end (day + 1d) with kind=0 BEFORE any event tied at the
    same instant, so the slot covers [day, day+1d) exclusively: every
    event strictly inside the closing day precedes its slot, and an
    event exactly at the next midnight counts toward the NEXT day (the
    same bucket date_trunc assigns it). One shuffle on
    job_uuid; grid density is the only scale knob (day grid ≈ 30 rows per
    job-month; at 100 TB pick the interval to bound output, the plan is
    unchanged)."""
    return gapfill_daily(job_events(spark, sf_dir))


def gapfill_daily(je: DataFrame) -> DataFrame:
    """The W4 pipeline over any (job_uuid, date, event_seq, name) frame;
    split out so the midnight tie-break is unit-testable."""
    bounds = je.groupBy("job_uuid").agg(
        F.date_trunc("day", F.min("date")).alias("lo"),
        F.date_trunc("day", F.max("date")).alias("hi"),
    )
    grid = bounds.select(
        "job_uuid",
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day"),
    )
    events_t = je.select(
        "job_uuid",
        F.col("date").alias("ts_sort"),
        F.lit(1).alias("kind"),
        F.col("event_seq").alias("seq"),
        "name",
        F.lit(None).cast("timestamp_ntz").alias("day"),
    )
    grid_t = grid.select(
        "job_uuid",
        (F.col("day") + F.expr("interval 1 day")).alias("ts_sort"),
        F.lit(0).alias("kind"),
        F.lit(9223372036854775807).alias("seq"),
        F.lit(None).cast("string").alias("name"),
        "day",
    )
    w = (
        Window.partitionBy("job_uuid")
        .orderBy("ts_sort", "kind", "seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = events_t.unionByName(grid_t).withColumn(
        "state", F.last("name", ignorenulls=True).over(w)
    )
    return filled.filter(F.col("kind") == 0).select("job_uuid", "day", "state")


# ------------------------------------------------- W5 batch sessionization
#: New session after this much idle time between a user's events. The
#: synthetic events table's median per-user gap is ~7 h, so 4 h splits a
#: user's month into many multi-event sessions at every fixture scale.
SESSION_GAP_SEC = 4 * 3600


@register(
    "win_sessionize_events",
    sql=f"""WITH e AS (
             SELECT user_id, event_id, ts::TIMESTAMP AS ts, value FROM events
           ),
           g AS (
             SELECT user_id, event_id, ts, value,
                    CASE WHEN lag(ts) OVER w IS NULL
                              OR epoch_us(ts - lag(ts) OVER w)
                                 > {SESSION_GAP_SEC * 1_000_000}
                         THEN 1 ELSE 0 END AS is_new
             FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
           ),
           s AS (
             SELECT user_id, ts, value,
                    CAST(sum(is_new) OVER (
                      PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                    ) AS BIGINT) AS session_idx
             FROM g
           )
           SELECT user_id, session_idx,
                  min(ts) AS session_start, max(ts) AS session_end,
                  count(*) AS n_events,
                  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                       AS BIGINT) / 100.0 AS total_value
           FROM s GROUP BY user_id, session_idx""",
)
def win_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5: batch gap-based sessionization over the raw event stream — the
    relational twin of T4's streaming session windows (the reference's
    per-actor execution bursts, reactor.py:40-42 message-driven runs,
    rendered as sessions). A session breaks when a user is idle longer
    than SESSION_GAP_SEC; output is one row per (user, session) with its
    bounds, event count, and value total.

    Plan shape: ONE shuffle on user_id serves both window passes (lag for
    the break flag, running sum for the session index — identical
    partitioning/ordering, so Catalyst collapses them into a single
    sort+window) and the map-side-combined final groupBy re-uses the same
    clustering (user_id is a prefix of the group key), so no second
    exchange. At 100 TB this is exactly the sessionization plan you want:
    one exchange keyed by the entity id, everything else codegen. The gap
    arithmetic is integer microseconds — no float in any grouping key."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    return sessionize(ev)


def sessionize(ev: DataFrame, gap_sec: int = SESSION_GAP_SEC) -> DataFrame:
    """W5's core over any (user_id, event_id, ts, value) frame; split out
    so the gap boundary (exactly-gap stays, gap+ε breaks) is
    unit-testable on planted frames."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        F.lag(F.col("ts").cast("timestamp")).over(w)
    )
    is_new = F.when(gap_us.isNull() | (gap_us > gap_sec * 1_000_000), 1).otherwise(0)
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    s = ev.withColumn("is_new", is_new).withColumn(
        "session_idx", F.sum("is_new").over(w_run)
    )
    # Sum value on an integer cents grid: round(sum(double))
    # exposes per-session float summation ORDER, which differs between
    # Spark and DuckDB — a sum landing near a half-cent boundary could
    # round differently. Snapping each value to cents first (the repo's
    # micro-grid discipline) makes the sum exact-integer in both engines;
    # /100.0 is an exact bigint→double display conversion (< 2^53).
    cents = F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    return s.groupBy("user_id", "session_idx").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        (F.sum(cents) / 100.0).alias("total_value"),
    )
