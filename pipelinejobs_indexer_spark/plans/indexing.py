"""The batch indexing pipeline — the reference's main path (§3.1) as one
declarative DataFrame DAG.

Reference flow (reactor.py:52-220): message arrives → schema dispatch →
param cascade → uuid must be a known job → list archive_path → regex +
level filters → metadata-enriched records upserted with provenance →
per-job counts logged → 'indexed' event emitted. One message = one
container there; here the whole message batch is ONE Spark job:

    messages → P6 validate → J3 semi-join jobs → J2 join files
             → P2/P3 filter → A1/A7 summarize

Scale notes: the only shuffles are the semi-join on uuid and the final
per-job aggregate — both on the same key, so Catalyst reuses the
partitioning. Filters sit directly on scan columns (pushed to parquet).
At 100 TB: bucket archive_files by job_uuid to co-locate the join, and the
whole pipeline stays a two-stage job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..oracle import with_fixtures
from ..registry import register
from ..tables import archive_files, jobs, messages


@register(
    "pipeline_index_job",
    sql=with_fixtures(
        r"""WITH valid_msgs AS (
             SELECT DISTINCT uuid FROM messages
             WHERE name = 'index' AND regexp_matches(token, '^[0-9a-f]{16}$')
           ),
           target_jobs AS (
             SELECT uuid, state FROM jobs WHERE uuid IN (SELECT uuid FROM valid_msgs)
           ),
           selected AS (
             SELECT f.job_uuid, f.length, f.ext, j.state
             FROM archive_files f JOIN target_jobs j ON f.job_uuid = j.uuid
             WHERE (regexp_matches(f.path, '\.bam$') OR regexp_matches(f.path, '\.sam$'))
               AND f.level IN ('1', '2')
           )
           SELECT job_uuid, state,
                  count(*) AS files_indexed,
                  CAST(sum(length) AS BIGINT) AS bytes_indexed,
                  count(DISTINCT ext) AS n_exts
           FROM selected GROUP BY job_uuid, state""",
        "messages",
        "jobs",
        "archive_files",
    ),
)
def pipeline_index_job(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed index path: validated 'index' messages select the jobs
    to (re-)index; their archive files are filtered by the message's regex
    patterns and processing level, and the indexed-record summary per job
    is produced — the relational rendering of reactor.py:90-183."""
    m = messages(spark, sf_dir)
    j = jobs(spark, sf_dir)
    f = archive_files(spark, sf_dir)

    # Scale rewrite (result-identical to the oracle SQL):
    #  * join + shuffle on the narrow integer job_key instead of the
    #    67-char uuid (uuid = '107'||sha256(key) is injective, so key
    #    equality <=> uuid equality) — 8-byte shuffle keys, and column
    #    pruning then drops every sha2-derived fixture column from the
    #    scans;
    #  * the suffix-anchored patterns ('\.bam$') bind to the basename
    #    (file_seq || '.' || ext — exactly how the path is built), so the
    #    full path string is never materialized for filtered-out rows;
    #  * the uuid is derived AFTER the aggregation: sha256 on one row per
    #    group, not per file.
    from ..functions.udfs import regex_any_filter

    valid_msgs = (
        m.filter((F.col("name") == "index") & F.col("token").rlike("^[0-9a-f]{16}$"))
        .select("job_key")
        .distinct()
    )
    target_jobs = j.join(valid_msgs, "job_key", "left_semi").select("job_key", "state")
    basename = F.concat(F.col("file_seq").cast("string"), F.lit("."), F.col("ext"))
    selected = (
        f.filter(
            # literal-suffix patterns lower to endswith compares (the P2
            # classifier) — no regex engine in the serial scan stage;
            # newline_free: basename derives from an int and a 3-char ext
            regex_any_filter(basename, [r"\.bam$", r"\.sam$"], newline_free=True)
            & F.col("level").isin("1", "2")
        )
        .select("job_key", "length", "ext")
        .join(target_jobs, "job_key")
    )
    return selected.groupBy("job_key", "state").agg(
        F.count("*").alias("files_indexed"),
        F.sum("length").alias("bytes_indexed"),
        F.countDistinct("ext").alias("n_exts"),
    ).select(
        F.concat(F.lit("107"), F.sha2(F.col("job_key").cast("string"), 256)).alias(
            "job_uuid"
        ),
        "state",
        "files_indexed",
        "bytes_indexed",
        "n_exts",
    )


@register(
    "pipeline_reindex_batch",
    sql=with_fixtures(
        """WITH indexed AS (
             SELECT job_uuid, count(*) AS n FROM archive_files
             WHERE file_seq % 2 = 0 GROUP BY job_uuid
           ),
           listed AS (
             SELECT job_uuid, count(*) AS n FROM archive_files GROUP BY job_uuid
           )
           SELECT l.job_uuid,
                  l.n AS files_listed,
                  coalesce(i.n, 0) AS files_indexed,
                  l.n - coalesce(i.n, 0) AS files_missing
           FROM listed l LEFT JOIN indexed i ON l.job_uuid = i.job_uuid
           WHERE l.n - coalesce(i.n, 0) > 0""",
        "archive_files",
    ),
)
def pipeline_reindex_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standalone re-index selector ("large batches of re-indexing
    jobs", config.yml:5-8): per job, compare the live listing against the
    already-indexed set and keep jobs with missing files — the work queue
    for a batch re-index run."""
    f = archive_files(spark, sf_dir)
    listed = f.groupBy("job_uuid").agg(F.count("*").alias("files_listed"))
    indexed = (
        f.filter(F.col("file_seq") % 2 == 0)
        .groupBy("job_uuid")
        .agg(F.count("*").alias("n_indexed"))
    )
    return (
        listed.join(indexed, "job_uuid", "left")
        .select(
            "job_uuid",
            "files_listed",
            F.coalesce("n_indexed", F.lit(0)).alias("files_indexed"),
            (F.col("files_listed") - F.coalesce("n_indexed", F.lit(0))).alias(
                "files_missing"
            ),
        )
        .filter(F.col("files_missing") > 0)
    )


# -------------------------------------- composed document-ingest pipeline
@register(
    "pipeline_document_ingest",
    sql="""SELECT d.doc_id % 8 AS shard,
                  CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(SUM((1 + d.doc_id % 3) * (4 * 5 + 4 - 1)
                           + d.doc_id % 3) AS BIGINT) AS sum_chars,
                  CAST(SUM(ds.digit_sum) AS BIGINT) AS sum_digits
           FROM (SELECT doc_id FROM documents) d
           JOIN (
             SELECT d2.doc_id,
                    SUM((d2.doc_id * 5 + p.p * 11 + j.j) % 10
                        + (d2.doc_id + 3 * j.j + p.p) % 10) AS digit_sum
             FROM (SELECT doc_id FROM documents) d2,
                  generate_series(0, 2) AS p(p),
                  generate_series(0, 3) AS j(j)
             WHERE p.p < 1 + d2.doc_id % 3
             GROUP BY d2.doc_id
           ) ds USING (doc_id)
           GROUP BY 1""",
)
def pipeline_document_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed document-ingest pipeline — the end-to-end shape a PDF
    corpus crawl runs, in three plan stages that deliberately cross
    the Python/JVM boundary exactly once:

      1. DECODE (mapInPandas): per doc, a real PDF is synthesized with
         the full L5l knob cycle (fonts, ciphers, 1.5 layouts) and its
         text layer extracted — only (doc_id, text) leaves the worker;
      2. FEATURES (WholeStageCodegen): char counts and the token digit
         sum computed by CATALYST expressions over the extracted text
         (length, aggregate(regexp_extract_all(...)) lambda) — the
         decode output composing straight into codegen, no second UDF;
      3. ROLLUP (one exchange): groupBy shard with partial aggregation.

    The oracle recomputes everything from doc_id arithmetic (the L5l
    closed forms, aggregated by shard) — so the extractor, the
    Catalyst feature expressions, AND the rollup must all agree with
    the closed form for the hash to match. Scale: stage 1 is
    embarrassingly parallel and runs on every core — spread() puts a
    round-robin exchange of the one bigint doc_id column in front of
    the decode when the scan yields fewer splits than cores (the
    fixture's single row group), and is a no-op at real scale; stage
    2 rides the same tasks (no boundary); stage 3 is the only
    shuffle, 8 groups with map-side combine."""
    from ..tables import doc_ids, map_rows

    def extract(d):
        from ..llm.multimodal import synth_text_pdf
        from ..llm.pdf import extract_pdf_text

        yield d, extract_pdf_text(synth_text_pdf(d))

    extracted = map_rows(doc_ids(spark, sf_dir), extract, "doc_id bigint, text string")
    feats = extracted.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.expr(
            "aggregate(regexp_extract_all(text, 'w([0-9])', 1),"
            " 0L, (a, x) -> a + cast(x as bigint))"
        ).alias("digit_sum"),
    )
    return feats.groupBy((F.col("doc_id") % 8).alias("shard")).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum("digit_sum").alias("sum_digits"),
    )
