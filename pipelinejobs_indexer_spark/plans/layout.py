"""Storage-layout plans: compaction, sorted (data-skipping) layout, and
key-skew profiling (SURVEY.md §2 rows S7/S8/A9).

At 100 TB the physical layout of the catalog IS the performance model:

- Small files kill scan throughput (per-file open/footer cost, starved
  vectorized readers) and driver memory (file-status tracking). The
  reference's per-message indexing writes one record batch per reactor
  execution (reactor.py:162-183) — exactly the workload that fragments
  storage and needs periodic compaction.
- Unsorted layout defeats parquet row-group min/max pruning: a time-range
  query over a time-random layout reads everything; over a range-
  partitioned + sorted-within-partitions layout it reads only the
  overlapping row groups.
- Skewed keys turn one shuffle partition into the straggler. Profiling
  heavy hitters BEFORE the join is how you decide between broadcast,
  salting (join_provenance_salted), and AQE skew splitting.
"""

from __future__ import annotations

import datetime
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..oracle import with_fixtures
from ..registry import register
from ..tables import load_table

# Compaction targets. Real deployments size these from HDFS/S3 block size
# (128-512 MB); the fixture-scale numbers keep the test observable.
FRAGMENT_FILES = 64
COMPACT_TARGET_BYTES = 4 * 1024 * 1024
SORTED_RANGES = 8
SKEW_TOP_K = 20


def _scratch(spark: SparkSession, name: str) -> str:
    from ..session import scratch_path

    return scratch_path(spark, f"layout_{name}")


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def compact_to_target(df: DataFrame, src_bytes: int, path: str, target_bytes: int) -> int:
    """Write *df* compacted to ~target_bytes files: derive the file count
    from the source's on-disk size and write exactly that many files.
    Returns the file count chosen.

    At scale src_bytes comes from the table's size-in-bytes statistic
    (free from the file index / parquet footers, surfaced as
    `DESCRIBE EXTENDED`'s statistics); `maxRecordsPerFile` guards the
    tail."""
    n_files = max(1, min(-(-src_bytes // target_bytes), 10_000))
    df.repartition(n_files).write.mode("overwrite").parquet(path)
    return n_files


@register(
    "sink_compact_small_files",
    sql="""SELECT event_id, event_type, value FROM events""",
)
def sink_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: small-file compaction — the maintenance pass behind every
    record-at-a-time ingest (the reference writes one catalog record per
    reactor message, reactor.py:162-183; a day of that is thousands of
    tiny files). The query first materializes a deliberately fragmented
    copy of `events` (64 files), then compacts it to ~4 MB target files
    and returns the compacted table — the oracle proves compaction is
    content-preserving, tests/test_layout.py pins the file-count drop.

    Both steps are plain distributed writes: fragmentation is a
    round-robin repartition, compaction one more. No driver-side row
    handling; at 100 TB the same two-line plan runs per partition of the
    catalog, with the file count derived from scan statistics."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    frag_path = _scratch(spark, "fragmented")
    ev.repartition(FRAGMENT_FILES).write.mode("overwrite").parquet(frag_path)
    frag = spark.read.parquet(frag_path)
    compact_path = _scratch(spark, "compacted")
    compact_to_target(frag, _dir_bytes(frag_path), compact_path, COMPACT_TARGET_BYTES)
    return spark.read.parquet(compact_path)


def _footer_min_ts(path: str, col: str):
    """Global minimum of *col* from the parquet row-group statistics under
    *path* — footers only, zero data pages. None when any row group lacks
    min/max stats (caller falls back to a scalar agg). Local-path glob;
    on a DFS deployment the same footers come through the filesystem
    client equally metadata-only."""
    import glob as _glob
    import os as _os

    import pyarrow.parquet as pq

    files = _glob.glob(_os.path.join(path, "part-*.parquet"))
    if not files:
        return None
    lo = None
    for f in files:
        md = pq.read_metadata(f)
        idx = md.schema.names.index(col)
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                return None
            v = st.min
            if lo is None or v < lo:
                lo = v
    return lo


@register(
    "sink_sorted_layout",
    sql="""SELECT event_id, ts::TIMESTAMP AS ts, event_type FROM events
           WHERE ts::TIMESTAMP >= (SELECT min(ts::TIMESTAMP) FROM events)
             AND ts::TIMESTAMP < (SELECT min(ts::TIMESTAMP) FROM events)
                                   + INTERVAL '1 hour'""",
)
def sink_sorted_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8: time-sorted layout for data skipping — write events
    range-partitioned AND sorted within partitions by `ts`, then answer a
    time-range query from the sorted copy. Because every file covers a
    disjoint time range (pinned via parquet row-group min/max stats in
    tests/test_layout.py), the range scan prunes all but the overlapping
    files — at 100 TB this is the difference between reading one file
    and reading all of them. The oracle runs the same range query on the
    raw table: sorting must not change the answer."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    path = _scratch(spark, "sorted")
    (
        ev.repartitionByRange(SORTED_RANGES, "ts")
        .sortWithinPartitions("ts")
        .write.mode("overwrite")
        .parquet(path)
    )
    sorted_ev = spark.read.parquet(path)
    # Anchor the range from the sorted copy's parquet FOOTERS — a
    # metadata-only read of O(files) statistics, not a second scan of ev
    # (Spark's own parquet aggregate pushdown would be the native route,
    # but it excludes timestamp MIN/MAX, verified on this build). Falls
    # back to a 1-row scalar agg if any footer lacks stats. Inlined as
    # ntz literals so the pushed-down filter prunes files/row groups.
    lo = _footer_min_ts(path, "ts")
    if lo is None:
        lo = ev.agg(F.min("ts")).collect()[0][0]
    hi = lo + datetime.timedelta(hours=1)
    fmt = "%Y-%m-%d %H:%M:%S.%f"
    lo_c = F.to_timestamp_ntz(F.lit(lo.strftime(fmt)))
    hi_c = F.to_timestamp_ntz(F.lit(hi.strftime(fmt)))
    return sorted_ev.filter((F.col("ts") >= lo_c) & (F.col("ts") < hi_c))


# --- S14: Z-order (2-dim data-skipping) layout ---------------------------
Z_BITS = 11  # 2048 rank buckets per dimension after domain normalization
Z_RANGES = 32  # range partitions of the z-curve == written files


def _z_terms(div: str) -> str:
    """Bit-interleave ub (even bits) and tb (odd bits) using pure integer
    arithmetic — identical in Spark SQL (`div`) and DuckDB (`//`)."""
    terms = []
    for i in range(Z_BITS):
        terms.append(f"((ub {div} {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"((tb {div} {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


def _events_bounds(spark: SparkSession, sf_dir: str):
    """(umin, umax, tmin_us, tmax_us) for events — parquet footers only
    (the _footer_min_ts pattern: metadata, zero data pages), falling back
    to a 1-row scalar agg if any row group lacks stats. Z-order needs
    each dimension's domain to normalize its rank buckets; at real scale
    these come from the table's column statistics for free."""
    import pyarrow.parquet as pq

    def _us(v):  # nanos-int (legacy reader) or datetime -> epoch micros
        if isinstance(v, int):
            return v // 1000
        return int(v.timestamp() * 1_000_000) if v.tzinfo else int(
            (v - datetime.datetime(1970, 1, 1)).total_seconds() * 1_000_000
        )

    try:
        md = pq.read_metadata(os.path.join(sf_dir, "events.parquet"))
        ui = md.schema.names.index("user_id")
        ti = md.schema.names.index("ts")
        umin = umax = tmin = tmax = None
        for rg in range(md.num_row_groups):
            us_ = md.row_group(rg).column(ui).statistics
            ts_ = md.row_group(rg).column(ti).statistics
            if not (us_ and us_.has_min_max and ts_ and ts_.has_min_max):
                raise ValueError("missing stats")
            umin = us_.min if umin is None else min(umin, us_.min)
            umax = us_.max if umax is None else max(umax, us_.max)
            tmin = _us(ts_.min) if tmin is None else min(tmin, _us(ts_.min))
            tmax = _us(ts_.max) if tmax is None else max(tmax, _us(ts_.max))
        return umin, umax, tmin, tmax
    except Exception:
        ev = load_table(spark, sf_dir, "events")
        r = ev.agg(
            F.min("user_id"),
            F.max("user_id"),
            F.expr("min(unix_micros(cast(ts as timestamp)))"),
            F.expr("max(unix_micros(cast(ts as timestamp)))"),
        ).collect()[0]
        return r[0], r[1], r[2], r[3]


@register(
    "sink_zorder_layout",
    sql="""WITH b AS (SELECT min(user_id) AS umin, max(user_id) AS umax,
                  min(epoch_us(ts::TIMESTAMP)) AS tmin,
                  max(epoch_us(ts::TIMESTAMP)) AS tmax FROM events)
           SELECT event_id, user_id, ts::TIMESTAMP AS ts, event_type
           FROM events, b
           WHERE user_id <= b.umin + (b.umax - b.umin) // 4
             AND epoch_us(ts::TIMESTAMP) < b.tmin + (b.tmax - b.tmin) // 4""",
)
def sink_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14: Z-ORDER layout — multi-dimensional data skipping, the lakehouse
    companion to S8's single-dimension sorted layout. Each dimension is
    first normalized onto 2^{Z_BITS} rank buckets over its OWN domain
    (footer-derived min/max — without normalization a narrow dimension's
    bits sink to low z positions and never drive file splits), then the
    bucket bits interleave into the z-value; the layout is written
    range-partitioned + sorted by z. Rows close in EITHER dimension
    co-locate, per-file parquet min/max stats on BOTH raw columns become
    tight, and a 2-dim box query (bottom quarter of each domain here)
    prunes files through both pushed-down literal predicates — a
    ts-sorted layout can only ever prune on time. Two-dimensional
    skipping is pinned from the real footers in tests/test_layout.py.

    The z-value is pure integer arithmetic (rank-bucket + (x div 2^i)%2
    folded to even/odd bit positions) — codegen-friendly, shuffle-free.
    The oracle is the box query on the raw table (re-layout must never
    change answers), with the same quarter-domain box derived in SQL.
    One repartitionByRange exchange writes the layout, same cost shape
    as S8 at any scale."""
    umin, umax, tmin, tmax = _events_bounds(spark, sf_dir)
    uspan = umax - umin + 1
    tspan = tmax - tmin + 1
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    z = (
        ev.withColumn(
            "ub", F.expr(f"((user_id - {umin}) * {1 << Z_BITS}) div {uspan}")
        )
        .withColumn(
            "tb",
            F.expr(
                f"((unix_micros(cast(ts as timestamp)) - {tmin})"
                f" * {1 << Z_BITS}) div {tspan}"
            ),
        )
        .withColumn("zvalue", F.expr(_z_terms("div")))
        .drop("ub", "tb")
    )
    path = _scratch(spark, "zorder")
    (
        z.repartitionByRange(Z_RANGES, "zvalue")
        .sortWithinPartitions("zvalue")
        .write.mode("overwrite")
        .parquet(path)
    )
    zev = spark.read.parquet(path)
    user_hi = umin + (umax - umin) // 4
    t_hi_us = tmin + (tmax - tmin) // 4
    t_hi = datetime.datetime(1970, 1, 1) + datetime.timedelta(
        microseconds=t_hi_us
    )
    fmt = "%Y-%m-%d %H:%M:%S.%f"
    return zev.filter(
        (F.col("user_id") <= F.lit(user_hi))
        & (F.col("ts") < F.to_timestamp_ntz(F.lit(t_hi.strftime(fmt))))
    ).select("event_id", "user_id", "ts", "event_type")


@register(
    "agg_key_skew_profile",
    sql=with_fixtures(
        f"""WITH counts AS (
             SELECT uuid, count(*) AS n FROM messages GROUP BY uuid
           ),
           tot AS (SELECT sum(n) AS t, count(*) AS n_keys FROM counts)
           SELECT uuid, n,
                  round(n / t, 6) AS share,
                  round(n * n_keys / t, 6) AS x_mean
           FROM counts, tot
           ORDER BY n DESC, uuid LIMIT {SKEW_TOP_K}""",
        "messages",
    ),
)
def agg_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: join-key heavy-hitter profile — the pre-join audit that decides
    the join strategy: keys with x_mean >> 1 (count far above the mean)
    are salting/AQE-skew candidates; a tiny key count means broadcast.

    One combiner-friendly groupBy + a broadcast single-row total + a
    TakeOrderedAndProject top-k: shuffle volume is O(distinct keys), and
    no global sort materializes. Run it on the 100 TB fact table for the
    cost of one aggregation — far cheaper than discovering the skew as a
    straggler task in the real join."""
    from ..tables import messages

    counts = messages(spark, sf_dir).groupBy("uuid").agg(F.count("*").alias("n"))
    tot = counts.agg(
        F.sum("n").alias("t"), F.count("*").alias("n_keys")
    )
    return (
        counts.join(F.broadcast(tot))
        .select(
            "uuid",
            "n",
            F.round(F.col("n") / F.col("t"), 6).alias("share"),
            F.round(F.col("n") * F.col("n_keys") / F.col("t"), 6).alias("x_mean"),
        )
        .orderBy(F.desc("n"), F.asc("uuid"))
        .limit(SKEW_TOP_K)
    )


@register(
    "sink_partitioned_catalog",
    sql="""SELECT event_id, event_type, value FROM events
           WHERE event_type = 'purchase'""",
)
def sink_partitioned_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10: hive-style partitioned layout — write events partitioned by
    event_type, then answer a single-type query from the partitioned
    copy. The filter becomes a PARTITION filter (pinned in
    tests/test_layout.py via the plan's PartitionFilters and the scan's
    file count): Spark never opens the other partitions' files at all —
    directory-level pruning, one level coarser (and cheaper) than the
    footer-stats skipping of S8.

    The partition column must be low-cardinality and query-aligned
    (event_type: 5 values, every ops query filters on it); partitioning
    by a high-cardinality key produces the small-file problem S7
    compacts. At 100 TB this layout decision is the single biggest lever
    on scan cost."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    path = _scratch(spark, "partitioned")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    part = spark.read.parquet(path)
    return part.filter(F.col("event_type") == "purchase").select(
        "event_id", "event_type", "value"
    )


def _training_shards_sql() -> str:
    # shares the sample predicate, shuffle seed, and shard count with
    # llm_corpus_sample / llm_corpus_shuffle_shard so a constant change
    # can never leave this oracle stale
    from ..llm.text import N_SHARDS, SHUFFLE_SEED, _sample_pred_sql

    return f"""WITH kept AS (
           SELECT doc_id, lang,
                  ('0x' || substr(md5('shuffle:{SHUFFLE_SEED}:' || doc_id::VARCHAR),
                                  1, 15))::BIGINT AS shuffle_key
           FROM documents
           WHERE {_sample_pred_sql()}
         )
         SELECT doc_id, lang, shuffle_key % {N_SHARDS} AS shard,
                row_number() OVER (PARTITION BY shuffle_key % {N_SHARDS}
                                   ORDER BY shuffle_key, doc_id) AS pos
         FROM kept"""


@register("sink_training_shards", sql=_training_shards_sql())
def sink_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11: the training-corpus materialization capstone — gate the corpus
    with the deterministic stratified sample (L6a's predicate), assign
    every kept document a seeded shuffle position and shard (L6g), and
    WRITE the result as hive-partitioned training shards
    (shard=K/part-*.parquet, rows sorted by shuffle position within each
    shard), then answer from the materialized copy. This is the layout a
    data loader consumes directly: open shard K, read sequentially, get
    the reproducible shuffled order; re-sharding for a different worker
    count is a seed/modulus bump away.

    One pass, three plan stages: codegen sample filter riding the scan ->
    hash exchange on shard -> per-shard local sort
    (sortWithinPartitions). No global sort, no skew (md5 keys), file
    count == shard count by construction (repartition(shard) before
    partitionBy aligns task and directory partitioning, so S7's
    small-file pathology can't arise). The oracle recomputes the
    sample+shuffle+rank logically: materialization must not change the
    answer."""
    from pyspark.sql.window import Window

    from ..llm.text import N_SHARDS, sample_bucket_col, sample_rate_col

    docs = load_table(spark, sf_dir, "documents").filter(
        sample_bucket_col() < sample_rate_col()
    )
    from ..llm.text import SHUFFLE_SEED

    keyed = docs.select(
        "doc_id",
        "lang",
        F.expr(
            f"cast(conv(substr(md5(concat('shuffle:{SHUFFLE_SEED}:',"
            " cast(doc_id as string))), 1, 15), 16, 10) as bigint)"
        ).alias("shuffle_key"),
    ).withColumn("shard", F.col("shuffle_key") % N_SHARDS)
    path = _scratch(spark, "training_shards")
    (
        keyed.repartition(N_SHARDS, "shard")
        # shard leads the sort so the dynamic-partition writer's required
        # ordering is already satisfied and it injects NO extra sort that
        # would scramble the shuffle order inside each directory
        .sortWithinPartitions("shard", "shuffle_key", "doc_id")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    shards = spark.read.parquet(path)
    # pos re-derives from the persisted shuffle_key — a loader reading a
    # shard's files sequentially sees exactly this rank
    w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    return shards.select(
        "doc_id",
        "lang",
        F.col("shard").cast("bigint").alias("shard"),
        F.row_number().over(w).alias("pos"),
    )


# ------------------------------------------------- S18 WebDataset sink
WDS_SHARDS = 8


@register(
    "sink_webdataset",
    sql=f"""SELECT CAST(('0x' || substr(md5('wds:' || doc_id::VARCHAR), 1, 15))
                        ::BIGINT % {WDS_SHARDS} AS BIGINT) AS shard,
                  CAST(count(*) AS BIGINT) AS n_samples,
                  CAST(SUM(length(text) + 26 + length(lang)
                           + length(source)) AS BIGINT)
                    AS sum_payload_chars,
                  TRUE AS roundtrip_ok
           FROM documents
           GROUP BY 1""",
)
def sink_webdataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S18: WRITE WebDataset shards — the inverse of S17's scan, and
    the materialization a training loader consumes: documents hash
    into {WDS_SHARDS} shards (the md5 idiom, no skew), and each shard
    group builds one REAL tar (stdlib tarfile, ustar, zeroed
    mtimes/uids so bytes are reproducible) holding per-sample
    ``{{doc_id}}.txt`` + ``{{doc_id}}.json`` members in deterministic
    doc_id order, writes it to scratch, RE-READS the written file and
    re-parses it (scan_tar_members' walker) to verify sample count and
    member sizes — the read-back discipline every sink here follows.
    Only per-shard stats leave the worker: (n_samples,
    sum_payload_chars, roundtrip_ok). The oracle recomputes counts and
    payload-char sums from the raw table and expects roundtrip_ok
    TRUE; a wrong member layout, a dropped sample, or a tar the
    scanner cannot re-read flips a column. Scale: one task per shard
    writing sequentially (tar has no random access — append order IS
    doc order); real deployments pick the shard count so each tar
    lands ~1 GB (the WebDataset convention), which is exactly the
    shard-count knob this query parameterizes."""
    import pandas as pd

    out_dir = _scratch(spark, "webdataset")
    os.makedirs(out_dir, exist_ok=True)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source",
        F.expr(
            "cast(conv(substr(md5(concat('wds:', cast(doc_id as string))),"
            f" 1, 15), 16, 10) as bigint) % {WDS_SHARDS}"
        ).alias("shard"),
    )

    def build(key, pdf):
        import io
        import tarfile

        from ..operators.scans import _tar_member_rows

        shard = int(key[0])
        pdf = pdf.sort_values("doc_id")
        buf = io.BytesIO()
        n_chars = 0
        with tarfile.open(fileobj=buf, mode="w",
                          format=tarfile.USTAR_FORMAT) as tf:
            for row in pdf.itertuples(index=False):
                txt = str(row.text)
                meta = (
                    '{"lang": "' + str(row.lang) + '", "source": "'
                    + str(row.source) + '"}'
                )
                n_chars += len(txt) + len(meta)
                for ext, body in (("txt", txt), ("json", meta)):
                    data = body.encode("utf-8")
                    info = tarfile.TarInfo(f"{int(row.doc_id):012d}.{ext}")
                    info.size = len(data)
                    info.mtime = 0
                    tf.addfile(info, io.BytesIO(data))
        path = os.path.join(out_dir, f"shard-{shard:06d}.tar")
        with open(path, "wb") as f:
            f.write(buf.getvalue())
        # read-back verification: the WRITTEN file re-parses and the
        # member census matches what was put in
        with open(path, "rb") as f:
            members = list(_tar_member_rows(os.path.basename(path), f.read()))
        ok = (
            len(members) == 2 * len(pdf)
            and all(m[2] >= 0 and m[5] for m in members)
        )
        return pd.DataFrame(
            {
                "shard": pd.Series([shard], dtype="int64"),
                "n_samples": pd.Series([len(pdf)], dtype="int64"),
                "sum_payload_chars": pd.Series([n_chars], dtype="int64"),
                "roundtrip_ok": pd.Series([ok], dtype="bool"),
            }
        )

    return docs.groupBy("shard").applyInPandas(
        build,
        "shard bigint, n_samples bigint, sum_payload_chars bigint,"
        " roundtrip_ok boolean",
    )
