"""Streaming operators T1-T7 (SURVEY.md §2.9), replayed deterministically
for the driver contract (availableNow → memory sink → batch DataFrame).

T1 stream_ingest_dedupe  — at-least-once delivery dedupe (reactor.py:40-42,208)
T2 stream_tumbling_counts — events per state per fixed window
T3 stream_sliding_rates  — moving throughput windows (reactor.py:182-183)
T4 stream_session_windows — session grouping (init-job.json:32)
T5 stream_fsm_state      — the job state machine (fsm.py)
T5b stream_fsm_final     — final FSM snapshot, hash-level SQL oracle
T5c stream_fsm_alt_store — T5b on the non-default state-store backend
T6 stream_late_data      — watermark semantics: late windows held back
T7 stream_event_forward  — foreachBatch outbox (config.yml:2-3 gates)
T8 stream_incremental_upsert — delta-append catalog materialization
T9 stream_enrich_static  — stream x static catalog join (reactor.py:126-127)
T10 stream_stream_pair_join — watermarked interval join (request->ack)

Where the replay is deterministic the query still carries a DuckDB oracle
(T1-T4, T7-T10) — streaming and batch must agree on the same input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..oracle import with_fixtures
from ..registry import register
from .core import drain, events_stream, run_to_batch
from .fsm import fsm_apply

# Streaming views mirror the batch fixture derivations (tables.messages /
# tables.job_events) so the DuckDB CTEs oracle them unchanged.


def _messages_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir)
    name = (
        F.when(F.col("event_type").isin("signup", "click"), "index")
        .when(F.col("event_type").isin("view", "purchase"), "indexed")
        .otherwise("bogus")
    )
    return ev.select(
        F.col("event_id").alias("msg_id"),
        F.concat(F.lit("107"), F.sha2(F.col("user_id").cast("string"), 256)).alias("uuid"),
        name.alias("name"),
        F.col("ts"),
        F.col("user_id").alias("job_key"),
    )


def _job_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir)
    name = (
        F.when(F.col("event_id") % 3 == 0, "create")
        .when(F.col("event_id") % 3 == 1, "run")
        .otherwise("finish")
    )
    return ev.select(
        F.col("event_id").alias("event_seq"),
        F.concat(F.lit("107"), F.sha2(F.col("user_id").cast("string"), 256)).alias("job_uuid"),
        F.col("ts").alias("date"),
        name.alias("name"),
        F.col("user_id").alias("job_key"),
    )


@register(
    "stream_ingest_dedupe",
    sql=with_fixtures(
        """SELECT DISTINCT uuid, name FROM messages""",
        "messages",
    ),
)
def stream_ingest_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: at-least-once delivery means redelivered messages must collapse
    — watermarked dropDuplicates on the (uuid, action) identity
    (retryMaxAttempts=10, reactor.py:40-42,208). Output restricted to the
    key so the surviving-row choice can't differ between engines."""
    m = _messages_stream(spark, sf_dir)
    deduped = (
        m.withWatermark("ts", "10 minutes")
        .dropDuplicates(["uuid", "name"])
        .select("uuid", "name")
    )
    return run_to_batch(deduped, "append", sf_dir)


@register(
    "stream_tumbling_counts",
    sql=with_fixtures(
        """SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
                  name, count(*) AS n
           FROM messages GROUP BY 1, 2""",
        "messages",
    ),
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2: messages per action per 5-minute tumbling window (ops monitoring
    over the event stream, config.yml:2-3). Complete mode: every window
    emits, so the streaming result equals the batch group-by."""
    m = _messages_stream(spark, sf_dir)
    agg = m.groupBy(F.window("ts", "5 minutes"), "name").agg(F.count("*").alias("n"))
    out = run_to_batch(agg, "complete", sf_dir)
    return out.select(
        F.col("window.start").cast("timestamp_ntz").alias("window_start"), "name", "n"
    )


@register(
    "stream_sliding_rates",
    sql=with_fixtures(
        """SELECT time_bucket(INTERVAL '1 minute', ts)
                    - to_minutes(CAST(k AS INT)) AS window_start,
                  count(*) AS n
           FROM messages, unnest(generate_series(0, 9)) AS t(k)
           GROUP BY 1""",
        "messages",
    ),
)
def stream_sliding_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3: moving indexing-throughput rate — 10-minute windows sliding by
    1 minute (the reference logs per-run elapsed usec, reactor.py:182-183;
    this is its fleet-level aggregate). Each event lands in 10 windows."""
    m = _messages_stream(spark, sf_dir)
    agg = m.groupBy(F.window("ts", "10 minutes", "1 minute")).agg(
        F.count("*").alias("n")
    )
    out = run_to_batch(agg, "complete", sf_dir)
    return out.select(
        F.col("window.start").cast("timestamp_ntz").alias("window_start"), "n"
    )


@register(
    "stream_session_windows",
    sql=with_fixtures(
        """WITH flagged AS (
             SELECT job_key, ts,
                    CASE WHEN ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                         OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
             FROM messages WINDOW w AS (PARTITION BY job_key ORDER BY ts, msg_id)
           ),
           numbered AS (
             SELECT job_key, ts,
                    sum(new_s) OVER (PARTITION BY job_key ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS sid
             FROM flagged
           )
           SELECT job_key, min(ts) AS session_start,
                  max(ts) + INTERVAL '30 minutes' AS session_end,
                  count(*) AS n_events
           FROM numbered GROUP BY job_key, sid""",
        "messages",
    ),
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4: session windows — activity bursts per job separated by >=30 min
    gaps (jobs carry petname session tags, init-job.json:32). Native
    session_window; the oracle is the classic gaps-and-islands SQL. The
    oracle's gap test is ``>=`` to match Spark's half-open [t, t+gap)
    windows: an event landing exactly at the previous window's end starts
    a new session."""
    m = _messages_stream(spark, sf_dir)
    agg = m.groupBy(F.session_window("ts", "30 minutes"), "job_key").agg(
        F.count("*").alias("n_events")
    )
    out = run_to_batch(agg, "complete", sf_dir)
    return out.select(
        "job_key",
        F.col("session_window.start").cast("timestamp_ntz").alias("session_start"),
        F.col("session_window.end").cast("timestamp_ntz").alias("session_end"),
        "n_events",
    )


# The SQL replay of the FSM's final per-job snapshot (see
# stream_fsm_final's docstring for the derivation). Shared by T5 and T5b:
# under the driver's availableNow replay of the single events.parquet file
# the update-mode stream runs exactly ONE micro-batch, so every key emits
# exactly one row — the final snapshot — and the same oracle applies to
# the raw emissions (T5) and the explicitly folded snapshot (T5b).
_FSM_FINAL_SQL = """WITH ev AS (
             SELECT job_uuid, name, event_seq AS seq,
                    row_number() OVER (PARTITION BY job_uuid
                                       ORDER BY date, event_seq) AS rn
             FROM job_events
           ),
           c AS (
             SELECT job_uuid, min(rn) AS c_rn
             FROM ev WHERE name = 'create' GROUP BY job_uuid
           ),
           cs AS (
             SELECT ev.job_uuid, c.c_rn, ev.seq AS c_seq
             FROM c JOIN ev ON ev.job_uuid = c.job_uuid AND ev.rn = c.c_rn
           ),
           t2 AS (
             SELECT ev.job_uuid, min(ev.rn) AS t2_rn
             FROM ev JOIN cs ON ev.job_uuid = cs.job_uuid
             WHERE ev.rn > cs.c_rn AND ev.seq > cs.c_seq
                   AND ev.name IN ('run', 'finish')
             GROUP BY ev.job_uuid
           ),
           t2s AS (
             SELECT ev.job_uuid, t2.t2_rn, ev.name AS t2_name, ev.seq AS t2_seq
             FROM t2 JOIN ev ON ev.job_uuid = t2.job_uuid AND ev.rn = t2.t2_rn
           ),
           t3s AS (
             SELECT ev.job_uuid, arg_min(ev.seq, ev.rn) AS t3_seq
             FROM ev JOIN t2s ON ev.job_uuid = t2s.job_uuid
             WHERE t2s.t2_name = 'run' AND ev.rn > t2s.t2_rn
                   AND ev.seq > t2s.t2_seq AND ev.name = 'finish'
             GROUP BY ev.job_uuid
           ),
           tot AS (SELECT job_uuid, count(*) AS n_events FROM ev GROUP BY job_uuid)
           SELECT tot.job_uuid,
                  CASE WHEN cs.job_uuid IS NULL THEN 'INIT'
                       WHEN t2s.job_uuid IS NULL THEN 'CREATED'
                       WHEN t2s.t2_name = 'finish'
                            OR t3s.job_uuid IS NOT NULL THEN 'FINISHED'
                       ELSE 'RUNNING' END AS state,
                  tot.n_events,
                  tot.n_events
                    - (CASE WHEN cs.job_uuid IS NULL THEN 0 ELSE 1 END)
                    - (CASE WHEN t2s.job_uuid IS NULL THEN 0 ELSE 1 END)
                    - (CASE WHEN t3s.job_uuid IS NULL THEN 0 ELSE 1 END)
                    AS n_rejected,
                  coalesce(t3s.t3_seq, t2s.t2_seq, cs.c_seq,
                           CAST(-1 AS BIGINT)) AS last_seq
           FROM tot
           LEFT JOIN cs  ON cs.job_uuid = tot.job_uuid
           LEFT JOIN t2s ON t2s.job_uuid = tot.job_uuid
           LEFT JOIN t3s ON t3s.job_uuid = tot.job_uuid"""


@register("stream_fsm_state", sql=with_fixtures(_FSM_FINAL_SQL, "job_events"))
def stream_fsm_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5: the job FSM via applyInPandasWithState (see fsm.py). Unit-level
    semantics (late/duplicate/illegal transitions, multi-batch state
    carry) are pinned by tests/test_streaming.py with crafted replays.

    Oracle: the driver replays ONE parquet file with availableNow, which
    the file source delivers as a single micro-batch, so update mode
    emits exactly one snapshot per job — the final state — and the T5b
    SQL replay applies verbatim. (Under multi-batch splits a key emits
    once per batch it appears in; that path is pytest-covered, and
    stream_fsm_final folds it explicitly.)"""
    je = _job_events_stream(spark, sf_dir)
    return run_to_batch(fsm_apply(je), "update", sf_dir)


def _fsm_final_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the FSM and fold update-mode emissions to the final
    snapshot per job (shared by T5b and its state-store twin T5c)."""
    je = _job_events_stream(spark, sf_dir)
    out = run_to_batch(fsm_apply(je), "update", sf_dir)
    return out.groupBy("job_uuid").agg(
        F.expr("max_by(state, n_events)").alias("state"),
        F.max("n_events").alias("n_events"),
        F.expr("max_by(n_rejected, n_events)").alias("n_rejected"),
        F.expr("max_by(last_seq, n_events)").alias("last_seq"),
    )


@register("stream_fsm_final", sql=with_fixtures(_FSM_FINAL_SQL, "job_events"))
def stream_fsm_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5b: FINAL FSM snapshot per job with a hash-level oracle — the
    driver-checkable twin of stream_fsm_state (whose per-batch update
    emissions are rows-only by design).

    Determinism: the availableNow replay of the single events.parquet file
    is one micro-batch, and the FSM sorts rows by (date, event_seq) within
    a batch (fsm.py), so the accepted-transition sequence is a pure
    function of the data. The oracle replays the same machine in SQL: the
    accepted chain is at most create -> run/finish -> finish, each step
    being the FIRST event (in (date, event_seq) order) that is legal from
    the current state AND passes the seq > last_seq redelivery guard, so
    three nested arg-min CTEs reproduce state, n_rejected, and last_seq
    exactly. The groupBy below folds update-mode emissions to the final
    snapshot (max n_events per key is the last batch) — a no-op for the
    single-batch replay but correct under any batch split whose order
    respects the source file order."""
    return _fsm_final_snapshot(spark, sf_dir)


@register(
    "stream_fsm_alt_store", sql=with_fixtures(_FSM_FINAL_SQL, "job_events")
)
def stream_fsm_alt_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5c: stream_fsm_final replayed on the state-store backend the
    active config does NOT select — RocksDB under the default in-heap
    HDFSBackedStateStore, HDFS under SPARK_GRAFT_STATE_STORE=rocksdb —
    so the backend-choice-never-changes-results contract of the
    state_store knob (core.py state_store_conf; sizing note in
    config.py) is driver-hash-verified every round against the same
    SQL oracle as the primary, not only pinned by the pytest parity
    test. The twin always carries evidence for the backend the primary
    does not run: the backend decides where keyed state lives and
    whether it survives executor loss, so both stay in service.

    The config swap is scoped to the synchronous replay (run_to_batch
    returns only after the availableNow query terminates; the
    snapshot fold below is batch-side) and restored unconditionally,
    so a failed replay cannot leak the alternate backend into later
    queries of the same sweep."""
    import dataclasses as _dc

    from .. import config as _cfgmod

    alt = "hdfs" if _cfgmod.CONFIG.state_store == "rocksdb" else "rocksdb"
    saved = _cfgmod.CONFIG
    _cfgmod.CONFIG = _dc.replace(saved, state_store=alt)
    try:
        return _fsm_final_snapshot(spark, sf_dir)
    finally:
        _cfgmod.CONFIG = saved


@register(
    "stream_late_data",
    sql=with_fixtures(
        """WITH hi AS (SELECT max(ts) AS mx FROM messages)
           SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
                  name, count(*) AS n
           FROM messages, hi
           GROUP BY 1, 2, hi.mx
           HAVING window_start + INTERVAL '5 minutes'
                    <= mx - INTERVAL '10 minutes'""",
        "messages",
    ),
)
def stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6: append-mode watermarked aggregation — only windows the
    watermark has passed emit; the tail stays in the state store. NOTE
    the engine does NOT promise to drop below-watermark arrivals (they
    can store-then-evict and emit at once — pinned by
    tests/test_streaming.py), so production routes rows below the
    watermark through the explicit dead-letter filter (T6b,
    stream_dead_letter).

    Oracle: the held-back tail IS the semantics, and under the driver's
    single-file availableNow replay it is a pure function of the data —
    the one data batch sees watermark 0 (nothing dropped), then the final
    watermark advances to max(ts) - delay and availableNow's closing
    no-data batch emits exactly the windows with window.end <= that
    watermark (boundary pinned <=, not <, by an exact-edge replay in
    tests/test_streaming.py). The SQL replays that rule with a
    max(ts)-derived HAVING."""
    m = _messages_stream(spark, sf_dir)
    agg = (
        m.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"), "name")
        .agg(F.count("*").alias("n"))
    )
    out = run_to_batch(agg, "append", sf_dir)
    return out.select(
        F.col("window.start").cast("timestamp_ntz").alias("window_start"), "name", "n"
    )


_DEAD_LETTER_DELAY_US = 600_000_000  # 10 minutes, matching T6's watermark


def _dead_letter_fn(key, pdfs, state):
    """Per-job running watermark: a row is dead-lettered when it arrives
    (msg_id order) more than the allowed delay below the highest event
    time already seen for its job. State = that high-water mark (micros),
    carried across micro-batches."""
    import pandas as pd

    high = state.get[0] if state.exists else None
    out_msg, out_uuid, out_name, out_late = [], [], [], []
    # Arrow delivers the batch as MULTIPLE chunks with no cross-chunk
    # order guarantee; sorting per chunk would evaluate a later chunk's
    # earlier msg_ids against a mark that already saw later rows.
    # Materialize the whole per-key batch, sort ONCE globally.
    chunks = [p for p in pdfs if len(p)]
    batch = (
        pd.concat(chunks, ignore_index=True) if chunks else pd.DataFrame()
    )
    if len(batch):
        batch = batch.sort_values("msg_id")
        for msg_id, uuid_, name, ts in zip(
            batch["msg_id"], batch["uuid"], batch["name"], batch["ts"]
        ):
            ts_us = ts.value // 1000
            if high is not None and ts_us < high - _DEAD_LETTER_DELAY_US:
                out_msg.append(int(msg_id))
                out_uuid.append(uuid_)
                out_name.append(name)
                out_late.append(high - ts_us - _DEAD_LETTER_DELAY_US)
            if high is None or ts_us > high:
                high = ts_us
    state.update((high,))
    yield pd.DataFrame(
        {
            "msg_id": pd.Series(out_msg, dtype="int64"),
            "uuid": pd.Series(out_uuid, dtype="object"),
            "name": pd.Series(out_name, dtype="object"),
            "lateness_us": pd.Series(out_late, dtype="int64"),
        }
    )


@register(
    "stream_dead_letter",
    sql=with_fixtures(
        """WITH w AS (
             SELECT msg_id, uuid, name, ts,
                    max(ts) OVER (PARTITION BY job_key ORDER BY msg_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND 1 PRECEDING) AS high
             FROM messages
           )
           SELECT msg_id, uuid, name,
                  CAST(epoch_us(high) - epoch_us(ts) - 600000000 AS BIGINT)
                    AS lateness_us
           FROM w
           WHERE high IS NOT NULL
             AND epoch_us(high) - epoch_us(ts) > 600000000""",
        "messages",
    ),
)
def stream_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6b: the dead-letter route for late data — the production pattern
    T6's docstring prescribes, made deterministic and hash-checkable.

    The engine's global watermark does not PROMISE to drop
    below-watermark arrivals (T6), so a pipeline that must account for
    every record routes late rows explicitly. This operator keeps a
    per-job high-water mark (the highest event time seen so far in
    arrival order — arrival = msg_id, the ingest sequence) in the state
    store via applyInPandasWithState and emits exactly the rows that
    arrive more than the allowed delay below it, tagged with their
    lateness. Per-key watermarks are deterministic under ANY batch split
    that respects arrival order (state carries across batches — pinned by
    a forced multi-batch replay in tests/test_streaming.py), unlike the
    engine-global watermark whose drop set is batch-dependent.

    Scale: state is one timestamp per live key, hash-partitioned by
    job_key across state stores — no global choke point; the emitted
    dead-letter stream is a tiny fraction of input and lands in its own
    sink for replay/audit. Oracle: a running-max window over arrival
    order replays the exact per-key mark; lateness compares in integer
    microseconds, so both engines agree bit-for-bit."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    m = _messages_stream(spark, sf_dir)
    dead = m.groupBy("job_key").applyInPandasWithState(
        _dead_letter_fn,
        outputStructType="msg_id bigint, uuid string, name string, lateness_us bigint",
        stateStructType="high bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_batch(dead, "update", sf_dir)


@register(
    "stream_event_forward",
    sql=with_fixtures(
        """SELECT job_uuid AS uuid, 'FINISHED' AS state,
                  substr(sha256('emit:' || job_uuid || ':' || CAST(event_seq AS VARCHAR)), 1, 16)
                    AS token
           FROM job_events WHERE name = 'finish'""",
        "job_events",
    ),
)
def stream_event_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7: conditional exit-event propagation via foreachBatch — the
    reference forwards an event when a job exits a state (state_exit: true,
    config.yml:2-3; forward_event reactor.py:28-49). Each micro-batch
    appends its outbox rows exactly-once-per-epoch to a parquet outbox
    table (the durable-sink contract); the outbox table is read back and
    returned. No driver-side row accumulation: each executor writes its
    partitions straight to the sink."""
    je = _job_events_stream(spark, sf_dir)
    exits = je.filter(F.col("name") == "finish").select(
        F.col("job_uuid").alias("uuid"),
        F.lit("FINISHED").alias("state"),
        F.substring(
            F.sha2(
                F.concat(
                    F.lit("emit:"),
                    F.col("job_uuid"),
                    F.lit(":"),
                    F.col("event_seq").cast("string"),
                ),
                256,
            ),
            1,
            16,
        ).alias("token"),
    )

    import os
    import uuid

    from ..session import scratch_path

    # fresh per invocation (appends must never land in a prior run's
    # outbox), but under the session scratch prefix so it is removed at
    # interpreter exit instead of accumulating in the temp dir
    outbox = scratch_path(spark, f"outbox_{uuid.uuid4().hex}")
    os.makedirs(outbox)

    def emit(batch_df: DataFrame, epoch_id: int) -> None:
        # idempotent per epoch: one append per micro-batch, distributed write
        batch_df.write.mode("append").parquet(outbox)

    writer = exits.writeStream.foreachBatch(emit).trigger(availableNow=True)
    drain(spark, writer, "stream_event_forward")
    return spark.read.schema("uuid string, state string, token string").parquet(outbox)


@register(
    "stream_incremental_upsert",
    sql=with_fixtures(
        """SELECT job_uuid AS uuid,
                  arg_max(name, event_seq) AS last_name,
                  max(event_seq) AS last_seq,
                  count(*) AS n_events
           FROM job_events GROUP BY job_uuid""",
        "job_events",
    ),
)
def stream_incremental_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8: incremental catalog materialization — the streaming twin of S4:
    every micro-batch upserts its per-job aggregate into a catalog, and
    the final catalog must equal the batch answer over all events (the
    oracle). This is the reference's whole lifecycle (one message → one
    catalog update, reactor.py:162-183) as an incremental materialized
    view.

    Plain parquet has no MERGE, so the foreachBatch appends per-batch
    per-key DELTAS (a distributed write, no driver-side rows) and reads
    resolve latest-wins — exactly the delta-log + compaction pattern;
    plans/layout.py's compaction is the maintenance half. The per-key
    aggregates are mergeable (max_by/max/sum of counts), which is what
    makes the incremental view equal the batch answer for ANY batch
    split — pinned across a forced 3-batch replay in
    tests/test_streaming.py."""
    return incremental_upsert(_job_events_stream(spark, sf_dir))


def incremental_upsert(je: DataFrame) -> DataFrame:
    """Drive a job_events-shaped stream through the delta-append upsert
    and return the compacted catalog (see stream_incremental_upsert)."""
    import os
    import uuid

    from ..session import scratch_path

    spark = je.sparkSession
    outbox = scratch_path(spark, f"upsert_delta_{uuid.uuid4().hex}")
    os.makedirs(outbox)

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        delta = batch_df.groupBy("job_uuid").agg(
            F.max_by("name", "event_seq").alias("last_name"),
            F.max("event_seq").alias("last_seq"),
            F.count("*").alias("n_batch"),
        )
        delta.write.mode("append").parquet(outbox)

    writer = je.writeStream.foreachBatch(merge_batch).trigger(availableNow=True)
    drain(spark, writer, "incremental_upsert")
    deltas = spark.read.schema(
        "job_uuid string, last_name string, last_seq bigint, n_batch bigint"
    ).parquet(outbox)
    return deltas.groupBy("job_uuid").agg(
        F.max_by("last_name", "last_seq").alias("last_name"),
        F.max("last_seq").alias("last_seq"),
        F.sum("n_batch").alias("n_events"),
    ).select(
        F.col("job_uuid").alias("uuid"), "last_name", "last_seq", "n_events"
    )


@register(
    "stream_enrich_static",
    sql=with_fixtures(
        """SELECT m.msg_id, m.uuid, m.name, j.state, j.session
           FROM messages m JOIN jobs j ON m.uuid = j.uuid""",
        "messages",
        "jobs",
    ),
)
def stream_enrich_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T9: stream-static join — every incoming message enriched with the
    CURRENT catalog row for its job (the reference loads the job document
    per message, reactor.py:126-127; relationally that's a stream⋈static
    join, re-evaluated against the static side's latest snapshot each
    micro-batch).

    The static side is a plain batch DataFrame: Spark broadcasts or
    shuffles it per micro-batch with no state store involvement — the
    scale knob is simply the static side's size (dim-sized catalogs
    broadcast; else pre-bucket the catalog on uuid, S6). Append mode:
    inner stream-static joins emit rows as they arrive, no watermark
    needed."""
    from ..tables import jobs as jobs_table

    m = _messages_stream(spark, sf_dir).select("msg_id", "uuid", "name")
    j = jobs_table(spark, sf_dir).select("uuid", "state", "session")
    joined = m.join(j, "uuid").select("msg_id", "uuid", "name", "state", "session")
    return run_to_batch(joined, "append", sf_dir)


@register(
    "stream_stream_pair_join",
    sql=with_fixtures(
        """SELECT a.msg_id AS index_msg, b.msg_id AS indexed_msg,
                  a.uuid, b.ts AS indexed_ts
           FROM messages a JOIN messages b
             ON a.uuid = b.uuid AND a.name = 'index' AND b.name = 'indexed'
            AND b.ts >= a.ts AND b.ts < a.ts + INTERVAL '30 minutes'""",
        "messages",
    ),
)
def stream_stream_pair_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T10: stream-stream interval join — pair each 'index' command with
    the 'indexed' completions that follow it within 30 minutes on the
    same job (request→ack correlation over the reference's two message
    kinds, config.yml:23-32). Both sides are watermarked and the join
    carries an explicit event-time bound, so the state store can evict
    rows once the other side's watermark passes the interval — bounded
    state at any input rate, the requirement for running this join
    forever at 100 TB/day.

    Deterministic under availableNow replay (nothing is late w.r.t. the
    final watermark), so the batch interval join is the exact oracle."""
    m = _messages_stream(spark, sf_dir)
    a = (
        m.filter(F.col("name") == "index")
        .select(F.col("msg_id").alias("index_msg"), "uuid", F.col("ts").alias("a_ts"))
        .withWatermark("a_ts", "1 hour")
    )
    b = (
        m.filter(F.col("name") == "indexed")
        .select(F.col("msg_id").alias("indexed_msg"), F.col("uuid").alias("b_uuid"),
                F.col("ts").alias("indexed_ts"))
        .withWatermark("indexed_ts", "1 hour")
    )
    joined = a.join(
        b,
        (F.col("uuid") == F.col("b_uuid"))
        & (F.col("indexed_ts") >= F.col("a_ts"))
        & (F.col("indexed_ts") < F.col("a_ts") + F.expr("interval 30 minutes")),
    ).select("index_msg", "indexed_msg", "uuid", "indexed_ts")
    return run_to_batch(joined, "append", sf_dir)


def _bloom_ingest_sql() -> str:
    from ..config import CONFIG
    from ..llm.dedup import INCREMENTAL_MOD, _bloom_bit_sql

    m, k = CONFIG.bloom_bits, CONFIG.bloom_hashes
    snap_bits = ", ".join(_bloom_bit_sql("h", j, m) for j in range(k))
    probe_bits = ", ".join(_bloom_bit_sql("h", j, m) for j in range(k))
    return f"""WITH batch AS (
           SELECT doc_id, md5(text) AS h
           FROM documents WHERE doc_id % {INCREMENTAL_MOD} = 0
         ),
         snap AS (
           SELECT DISTINCT md5(text) AS h
           FROM documents WHERE doc_id % {INCREMENTAL_MOD} != 0
         ),
         sb AS (
           SELECT DISTINCT unnest([{snap_bits}]) AS bit FROM snap
         ),
         probes AS (
           SELECT doc_id, unnest([{probe_bits}]) AS bit FROM batch
         ),
         hits AS (
           SELECT doc_id, count(*) AS n
           FROM probes JOIN sb USING (bit) GROUP BY doc_id
         )
         SELECT b.doc_id, coalesce(h.n, 0) = {k} AS dropped
         FROM batch b LEFT JOIN hits h ON h.doc_id = b.doc_id"""


@register("stream_bloom_ingest", sql=lambda: _bloom_ingest_sql())
def stream_bloom_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T11: bloom-gated streaming ingest — L1c's epoch sketch applied
    where it is actually designed to live: on the live document feed.
    The corpus snapshot is pre-digested ONCE into the m-bit sketch,
    collapsed to a single array row and broadcast; each streamed doc is
    judged by a pure codegen probe (k md5-derived bits, forall
    array_contains) — STATELESS append mode: no watermark, no state
    store, no stream-side shuffle, which is what lets the gate run at
    any input rate forever (the stateful alternatives — stream
    dropDuplicates or a keyed agg — hold per-key state that only a
    watermark can evict; a membership sketch holds none). False
    positives (new docs wrongly dropped) are the documented price; L1c
    is the batch audit that measures that rate and sizes m/k.

    Cross-engine: the availableNow replay is deterministic and the gate
    is stateless, so the batch formulation of the same sketch decision
    is the exact DuckDB oracle (per-doc `dropped`, no in-batch
    collapse — a stream judges each arrival independently).

    At 100 TB: the sketch build is the once-per-epoch batch job (ONE
    corpus-scale distinct); the stream pays O(1) per record against the
    broadcast array. Past broadcastable m, swap the array for Spark's
    packed bloom_filter_agg blob in the same join shape."""
    from ..config import CONFIG
    from ..llm.dedup import INCREMENTAL_MOD, _bloom_bit_spark
    from ..tables import load_table
    from .core import documents_stream

    m, k = CONFIG.bloom_bits, CONFIG.bloom_hashes
    snap = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % INCREMENTAL_MOD != 0)
        .select(F.md5("text").alias("h"))
        .distinct()
    )
    sketch = (
        snap.select(
            F.explode(
                F.expr(
                    "array("
                    + ", ".join(_bloom_bit_spark("h", j, m) for j in range(k))
                    + ")"
                )
            ).alias("bit")
        )
        .agg(F.collect_set("bit").alias("sbits"))
        .withColumn("j", F.lit(1))
    )
    probed = (
        documents_stream(spark, sf_dir)
        .filter(F.col("doc_id") % INCREMENTAL_MOD == 0)
        .select(
            "doc_id",
            F.expr(
                "array("
                + ", ".join(
                    _bloom_bit_spark("md5(text)", j, m) for j in range(k)
                )
                + ")"
            ).alias("probes"),
        )
        .withColumn("j", F.lit(1))
    )
    out = (
        probed.join(F.broadcast(sketch), "j", "left")
        .select(
            "doc_id",
            F.expr("forall(probes, p -> array_contains(sbits, p))").alias(
                "dropped"
            ),
        )
    )
    return run_to_batch(out, "append", sf_dir, table="documents")
