"""FSM semantics pinned by deterministic micro-batch replays — mirrors the
reference's stuck-job / duplicate-'indexed' tolerance (README.rst:74-86)."""

from __future__ import annotations

import os
import sys
from datetime import datetime, timedelta

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pipelinejobs_indexer_spark.streaming.core import run_to_batch  # noqa: E402
from pipelinejobs_indexer_spark.streaming.fsm import fsm_apply  # noqa: E402

T0 = datetime(2024, 1, 1)


def _replay(spark, rows, tmp_path, name):
    src = tmp_path / name
    df = spark.createDataFrame(
        rows, "job_uuid string, date timestamp, name string, event_seq long"
    )
    df.write.mode("overwrite").parquet(str(src))
    stream = (
        spark.readStream.schema(df.schema).format("parquet").load(str(src))
    )
    out = run_to_batch(fsm_apply(stream), "update")
    return {r.job_uuid: r for r in out.collect()}


def test_fsm_happy_path_and_duplicates(spark, tmp_path):
    rows = [
        # happy path
        ("jobA", T0, "create", 0),
        ("jobA", T0 + timedelta(minutes=1), "run", 1),
        ("jobA", T0 + timedelta(minutes=2), "finish", 2),
        # duplicate redelivery of finish (same seq) → rejected, no regress
        ("jobA", T0 + timedelta(minutes=2), "finish", 2),
        # late out-of-order event (older seq) → rejected
        ("jobA", T0 + timedelta(minutes=3), "run", 1),
        # stuck-job recovery: create then manual finish skips run
        ("jobB", T0, "create", 10),
        ("jobB", T0 + timedelta(hours=1), "finish", 11),
        # illegal: run before create → rejected, stays INIT
        ("jobC", T0, "run", 20),
    ]
    got = _replay(spark, rows, tmp_path, "fsm1")
    a, b, c = got["jobA"], got["jobB"], got["jobC"]
    assert (a.state, a.n_events, a.n_rejected) == ("FINISHED", 5, 2)
    assert (b.state, b.n_rejected) == ("FINISHED", 0)
    assert (c.state, c.n_rejected) == ("INIT", 1)


def test_fsm_never_regresses(spark, tmp_path):
    rows = [
        ("jobD", T0, "create", 0),
        ("jobD", T0 + timedelta(minutes=1), "run", 1),
        ("jobD", T0 + timedelta(minutes=2), "finish", 2),
        # a fresh 'create' after FINISHED must not reset the machine
        ("jobD", T0 + timedelta(minutes=9), "create", 3),
    ]
    got = _replay(spark, rows, tmp_path, "fsm2")
    d = got["jobD"]
    assert d.state == "FINISHED"
    assert d.n_rejected == 1


def test_watermark_append_mode_semantics_across_batches(spark, tmp_path):
    """T6: what the watermark actually guarantees in append mode, pinned
    over three single-file micro-batches (maxFilesPerTrigger=1, mtime
    order):

      b0: jobX @ 2:00      → watermark becomes 1:50 for the next batch
      b1: jobY @ 0:00 late → its window end (0:05) is already below the
          watermark: Spark stores-then-immediately-evicts, so the row
          EMITS AT ARRIVAL instead of waiting — late data is NOT silently
          dropped here (the docs only promise drops for state evicted in
          earlier batches). A production pipeline must dead-letter rows
          below the watermark explicitly; relying on the engine is wrong.
      b2: jobZ @ 4:00      → advances the watermark to 3:50, which
          finalizes jobX's window; jobZ's own window stays held in state
          (the append-mode tail).
    """
    import time
    from datetime import datetime, timedelta

    import pyspark.sql.functions as F

    t0 = datetime(2024, 1, 1)
    schema = "uuid string, name string, ts timestamp"
    src = tmp_path / "late_src"
    rows = [
        [("jobX", "index", t0 + timedelta(hours=2))],
        [("jobY", "index", t0)],
        [("jobZ", "index", t0 + timedelta(hours=4))],
    ]
    for i, batch in enumerate(rows):
        spark.createDataFrame(batch, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src / f"f{i}"))
        time.sleep(1.1)  # distinct mtimes fix the micro-batch order

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"), "uuid")
        .count()
    )
    out = {r.uuid for r in run_to_batch(agg, "append").collect()}
    assert "jobX" in out, "watermark advance must finalize jobX's window"
    assert "jobZ" not in out, "unfinalized tail window must be held back"
    assert "jobY" in out, (
        "below-watermark arrival emitted at once — if this changes, the "
        "dead-letter guidance in streaming/queries.py needs revisiting"
    )


def test_incremental_upsert_equals_batch_across_batches(spark, tmp_path):
    """The delta-append upsert must equal the batch aggregate for ANY
    micro-batch split: replay the same rows as three single-file batches
    (mtime-ordered) and compare with the one-shot groupBy."""
    import time

    from pyspark.sql import functions as F

    from pipelinejobs_indexer_spark.streaming.queries import incremental_upsert

    schema = "event_seq long, job_uuid string, date timestamp, name string, job_key long"
    t0 = datetime(2024, 1, 1)
    batches = [
        [(1, "jobA", t0, "create", 1), (2, "jobB", t0, "create", 2)],
        [(3, "jobA", t0 + timedelta(minutes=5), "run", 1)],
        [(4, "jobA", t0 + timedelta(minutes=9), "finish", 1),
         (5, "jobB", t0 + timedelta(minutes=2), "run", 2)],
    ]
    src = tmp_path / "upsert_src"
    src.mkdir()
    all_rows = []
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
            str(src / f"b{i}")
        )
        all_rows.extend(rows)
        time.sleep(1.1)  # distinct mtimes fix the micro-batch order
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    got = {
        r.uuid: (r.last_name, r.last_seq, r.n_events)
        for r in incremental_upsert(stream).collect()
    }
    expect = {
        r.job_uuid: (r.last_name, r.last_seq, r.n_events)
        for r in spark.createDataFrame(all_rows, schema)
        .groupBy("job_uuid")
        .agg(
            F.max_by("name", "event_seq").alias("last_name"),
            F.max("event_seq").alias("last_seq"),
            F.count("*").alias("n_events"),
        )
        .collect()
    }
    assert got == expect == {
        "jobA": ("finish", 4, 3),
        "jobB": ("run", 5, 2),
    }


def test_append_emission_boundary_is_inclusive(spark, tmp_path):
    """T6's oracle encodes 'emit when window.end <= final watermark'.
    Pin the <= (not <) with a replay where max(ts) - delay lands EXACTLY
    on a window end: events at 0:00/0:04/0:07/0:20 with a 10-minute
    delay put the final watermark at 0:10 — the [0:05,0:10) window must
    emit, the [0:20,0:25) tail must hold."""
    from pyspark.sql import functions as F

    schema = "ts timestamp"
    rows = [
        (T0,),
        (T0 + timedelta(minutes=4),),
        (T0 + timedelta(minutes=7),),
        (T0 + timedelta(minutes=20),),
    ]
    src = tmp_path / "edge_src"
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
        str(src)
    )
    stream = spark.readStream.schema(schema).parquet(str(src))
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"))
        .count()
    )
    got = {
        (r.start.minute, r["count"])
        for r in run_to_batch(agg, "append").select("window.start", "count").collect()
    }
    assert got == {(0, 2), (5, 1)}


def test_dead_letter_state_carries_across_batches(spark, tmp_path):
    """T6b: the per-key high-water mark must persist in the state store —
    a row arriving in a LATER batch below an earlier batch's mark is
    dead-lettered; keys never cross-contaminate."""
    import time

    from pyspark.sql.streaming.state import GroupStateTimeout

    from pipelinejobs_indexer_spark.streaming.queries import _dead_letter_fn

    schema = "msg_id long, uuid string, name string, ts timestamp, job_key long"
    batches = [
        # b0: jobs 1 and 2 establish marks at 2:00 and 0:00
        [(1, "u1", "index", T0 + timedelta(hours=2), 1),
         (2, "u2", "index", T0, 2)],
        # b1: msg 3 is 2h below job 1's mark -> dead-lettered with
        # lateness = 2h - 10min; msg 4 (same ts, job 2) is ON TIME for
        # job 2's 0:00 mark -> per-key isolation
        [(3, "u1", "index", T0, 1),
         (4, "u2", "indexed", T0, 2)],
        # b2: job 1 on-time advance; then a within-tolerance row (9 min
        # below the new 3:00 mark) must NOT dead-letter
        [(5, "u1", "index", T0 + timedelta(hours=3), 1),
         (6, "u1", "index", T0 + timedelta(hours=3) - timedelta(minutes=9), 1)],
    ]
    src = tmp_path / "dl_src"
    src.mkdir()
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
            str(src / f"b{i}")
        )
        time.sleep(1.1)  # distinct mtimes fix the micro-batch order
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    dead = stream.groupBy("job_key").applyInPandasWithState(
        _dead_letter_fn,
        outputStructType="msg_id bigint, uuid string, name string, lateness_us bigint",
        stateStructType="high bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    got = {r.msg_id: r.lateness_us for r in run_to_batch(dead, "update").collect()}
    assert got == {3: (2 * 3600 - 600) * 1_000_000}


def test_fsm_alt_store_twin_matches_primary_and_restores_config(spark, sf_dir):
    """T5c contract: the alternate-state-store twin returns exactly the
    primary's final FSM snapshot (backend choice never changes results)
    and its scoped CONFIG swap is restored afterwards — including when
    the replay raises (a leaked alternate backend would silently flip
    every later stateful query in the same sweep)."""
    from pipelinejobs_indexer_spark import config as cfg
    from pipelinejobs_indexer_spark.streaming.queries import (
        stream_fsm_alt_store,
        stream_fsm_final,
    )

    before = cfg.CONFIG
    primary = sorted(map(tuple, stream_fsm_final(spark, sf_dir).collect()))
    twin = sorted(map(tuple, stream_fsm_alt_store(spark, sf_dir).collect()))
    assert twin == primary and len(twin) > 0
    assert cfg.CONFIG is before
    # failure path: a bad sf_dir raises inside the swapped scope
    import pytest as _pytest

    with _pytest.raises(Exception):
        stream_fsm_alt_store(spark, "/nonexistent-sf-dir").collect()
    assert cfg.CONFIG is before


def test_bloom_ingest_stream_matches_batch_audit(spark, sf_dir):
    """T11's per-doc stream decision must equal L1c's batch audit for the
    same content: dropped(doc) == maybe_seen(its content hash). One
    sketch semantics, two surfaces — if they ever diverge, either the
    broadcast-array probe or the relational bit-set is wrong."""
    from pipelinejobs_indexer_spark import registry
    from pipelinejobs_indexer_spark.llm.dedup import INCREMENTAL_MOD
    from pipelinejobs_indexer_spark.tables import load_table

    import pyspark.sql.functions as F

    registry.load_all()
    stream = {
        r.doc_id: r.dropped
        for r in registry.QUERIES["stream_bloom_ingest"](spark, sf_dir).collect()
    }
    batch_audit = {
        r.content_hash: r.maybe_seen
        for r in registry.QUERIES["llm_dedup_bloom"](spark, sf_dir).collect()
    }
    hashes = {
        r.doc_id: r.h
        for r in load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % INCREMENTAL_MOD == 0)
        .select("doc_id", F.md5("text").alias("h"))
        .collect()
    }
    assert set(stream) == set(hashes)
    for doc_id, dropped in stream.items():
        assert dropped == batch_audit[hashes[doc_id]], doc_id


def _write_single_parquet(spark, rows, dest):
    """Write rows as ONE parquet file at ``dest`` (a file path, not a
    directory), so a file-source dir can receive discrete 'drops'."""
    import glob
    import shutil

    df = spark.createDataFrame(
        rows, "job_uuid string, date timestamp, name string, event_seq long"
    )
    staging = str(dest) + ".staging"
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    part = glob.glob(os.path.join(staging, "part-*.parquet"))[0]
    shutil.copy(part, str(dest))
    shutil.rmtree(staging)


def _run_fsm_checkpointed(spark, src, ckpt, name):
    """availableNow replay into a foreachBatch sink (the memory sink
    does not support checkpoint recovery; foreachBatch does)."""
    from pipelinejobs_indexer_spark.streaming.core import state_store_conf

    stream = (
        spark.readStream.schema(
            "job_uuid string, date timestamp, name string, event_seq long"
        )
        .format("parquet")
        .load(str(src))
    )
    rows = []
    with state_store_conf(spark):
        q = (
            fsm_apply(stream)
            .writeStream.outputMode("update")
            .foreachBatch(lambda df, _bid: rows.extend(df.collect()))
            .queryName(name)
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300), "checkpointed replay timed out"
    return {r.job_uuid: r for r in rows}


import pytest  # noqa: E402


@pytest.mark.parametrize("backend", ["hdfs", "rocksdb"])
def test_fsm_checkpoint_kill_and_resume(spark, tmp_path, backend):
    """The resilient_checkpoints durability contract, exercised for
    real: stop a stream after batch 1, restart from the SAME
    checkpoint, and the restarted query must (a) NOT re-read the
    already-committed file (source offsets live in the checkpoint) and
    (b) resume keyed FSM state (the state store lives there too), so
    the final snapshot equals a single-pass replay — on both
    state-store backends."""
    import dataclasses as _dc

    from pipelinejobs_indexer_spark import config as cfg

    rows1 = [
        ("jobA", T0, "create", 0),
        ("jobA", T0 + timedelta(minutes=1), "run", 1),
        ("jobB", T0, "create", 10),
    ]
    rows2 = [
        ("jobA", T0 + timedelta(minutes=2), "finish", 2),
        ("jobB", T0 + timedelta(minutes=1), "run", 11),
        ("jobB", T0 + timedelta(minutes=2), "finish", 12),
    ]
    saved = cfg.CONFIG
    cfg.CONFIG = _dc.replace(saved, state_store=backend)
    try:
        src = tmp_path / f"fsm_src_{backend}"
        ckpt = tmp_path / f"fsm_ckpt_{backend}"
        src.mkdir()
        _write_single_parquet(spark, rows1, src / "drop1.parquet")
        got1 = _run_fsm_checkpointed(
            spark, src, ckpt, f"fsm_resume1_{backend}"
        )
        # batch 1: the query terminated (availableNow) = the "kill"
        assert got1["jobA"].state == "RUNNING"
        assert got1["jobA"].n_events == 2

        _write_single_parquet(spark, rows2, src / "drop2.parquet")
        got2 = _run_fsm_checkpointed(
            spark, src, ckpt, f"fsm_resume2_{backend}"
        )
        # n_events == 3 is the double proof: 5 would mean drop1 was
        # re-read; 1-per-key would mean the FSM state was lost (a
        # 'finish' from INIT is illegal and would be rejected)
        a, b = got2["jobA"], got2["jobB"]
        assert (a.state, a.n_events, a.n_rejected, a.last_seq) == (
            "FINISHED", 3, 0, 2,
        )
        assert (b.state, b.n_events, b.n_rejected, b.last_seq) == (
            "FINISHED", 3, 0, 12,
        )
        # ... and the resumed snapshot equals a fresh single-pass replay
        fresh = _run_fsm_checkpointed(
            spark, src, tmp_path / f"fsm_ckpt_fresh_{backend}",
            f"fsm_fresh_{backend}",
        )
        for k in ("jobA", "jobB"):
            assert tuple(got2[k]) == tuple(fresh[k])
    finally:
        cfg.CONFIG = saved


def _write_single_parquet_schema(spark, rows, schema, dest):
    """Schema-parametrized twin of _write_single_parquet."""
    import glob
    import shutil

    df = spark.createDataFrame(rows, schema)
    staging = str(dest) + ".staging"
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    part = glob.glob(os.path.join(staging, "part-*.parquet"))[0]
    shutil.copy(part, str(dest))


def _run_dead_letter_checkpointed(spark, src, ckpt, name):
    """availableNow replay of the T6b dead-letter route into a
    foreachBatch sink with a durable checkpoint (the memory sink does
    not support recovery)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from pipelinejobs_indexer_spark.streaming.core import state_store_conf
    from pipelinejobs_indexer_spark.streaming.queries import _dead_letter_fn

    schema = "msg_id long, uuid string, name string, ts timestamp, job_key long"
    stream = (
        spark.readStream.schema(schema).format("parquet").load(str(src))
    )
    rows = []
    with state_store_conf(spark):
        q = (
            stream.groupBy("job_key")
            .applyInPandasWithState(
                _dead_letter_fn,
                outputStructType=(
                    "msg_id bigint, uuid string, name string, "
                    "lateness_us bigint"
                ),
                stateStructType="high bigint",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
            .writeStream.outputMode("update")
            .foreachBatch(lambda df, _bid: rows.extend(df.collect()))
            .queryName(name)
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300), "checkpointed replay timed out"
    return {r.msg_id: r.lateness_us for r in rows}


@pytest.mark.parametrize("backend", ["hdfs", "rocksdb"])
def test_dead_letter_checkpoint_kill_and_resume(spark, tmp_path, backend):
    """T6b durability: stop the dead-letter stream
    after batch 1, restart from the SAME checkpoint, and the restarted
    query must (a) NOT re-emit batch 1's dead letters (source offsets
    committed) and (b) still hold every per-job high-water mark (the
    state store lives in the checkpoint), so a second-batch row below a
    FIRST-batch mark dead-letters with the exact same lateness a fresh
    single-pass replay computes — on both state-store backends."""
    import dataclasses as _dc

    from pipelinejobs_indexer_spark import config as cfg

    schema = "msg_id long, uuid string, name string, ts timestamp, job_key long"
    drop1 = [
        (1, "u1", "index", T0 + timedelta(hours=2), 1),  # job1 mark 2:00
        (2, "u2", "index", T0, 2),                        # job2 mark 0:00
        (3, "u1", "index", T0, 1),  # 2h below job1's mark -> dead (run 1)
    ]
    drop2 = [
        # 1h55m below job1's CHECKPOINTED mark: dead-letters iff the
        # high-water state survived the restart
        (4, "u1", "index", T0 + timedelta(minutes=5), 1),
        (5, "u2", "index", T0 + timedelta(hours=1), 2),   # job2 advances
        (6, "u2", "index", T0, 2),  # 1h below job2's new mark -> dead
    ]
    lateness = {
        3: (2 * 3600 - 600) * 1_000_000,
        4: (2 * 3600 - 5 * 60 - 600) * 1_000_000,
        6: (3600 - 600) * 1_000_000,
    }
    saved = cfg.CONFIG
    cfg.CONFIG = _dc.replace(saved, state_store=backend)
    try:
        src = tmp_path / f"dl_src_{backend}"
        ckpt = tmp_path / f"dl_ckpt_{backend}"
        src.mkdir()
        _write_single_parquet_schema(spark, drop1, schema, src / "d1.parquet")
        got1 = _run_dead_letter_checkpointed(
            spark, src, ckpt, f"dl_resume1_{backend}"
        )
        assert got1 == {3: lateness[3]}

        _write_single_parquet_schema(spark, drop2, schema, src / "d2.parquet")
        got2 = _run_dead_letter_checkpointed(
            spark, src, ckpt, f"dl_resume2_{backend}"
        )
        # msg 3 absent = drop1 not re-read; msg 4 present with the
        # drop1-derived lateness = the mark survived the restart
        assert got2 == {4: lateness[4], 6: lateness[6]}

        fresh = _run_dead_letter_checkpointed(
            spark, src, tmp_path / f"dl_ckpt_fresh_{backend}",
            f"dl_fresh_{backend}",
        )
        assert {**got1, **got2} == fresh == lateness
    finally:
        cfg.CONFIG = saved


def test_drain_stops_and_raises_on_timeout(spark):
    """A replay still running at the timeout must not hand back its
    half-filled sink: drain() starts the writer under the configured
    state-store provider, stops the query when awaitTermination returns
    False, raises TimeoutError, and restores the session's provider."""
    from pipelinejobs_indexer_spark import config
    from pipelinejobs_indexer_spark.streaming.core import (
        _STATE_STORE_PROVIDERS,
        drain,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    active = _STATE_STORE_PROVIDERS[config.CONFIG.state_store]
    other = next(v for v in _STATE_STORE_PROVIDERS.values() if v != active)
    saved = spark.conf.get(key, None)
    seen = []

    class _Query:
        def awaitTermination(self, timeout):
            seen.append(("await", timeout))
            return False

        def stop(self):
            seen.append(("stop",))

    class _Writer:
        def start(self):
            seen.append(("start", spark.conf.get(key)))
            return _Query()

    spark.conf.set(key, other)
    try:
        with pytest.raises(TimeoutError, match="fake replay exceeded 600s"):
            drain(spark, _Writer(), "fake")
        assert seen == [("start", active), ("await", 600), ("stop",)]
        assert spark.conf.get(key) == other
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)
