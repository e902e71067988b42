"""Scalar function library (SURVEY.md §2.8) — one composite query per
function family, all JVM-side built-ins (no Python in the hot path).

F1  fn_timestamp_parse — ISO8601 with mixed offsets (init-job.json:31,75)
F2  fn_path_parts      — dirname/basename/extension (uploads tree)
F3  fn_slugify         — name→slug normalization (python-slugify dep)
F4  fn_typed_uuid      — typed deterministic uuids, prefix decode
                         (init-job.json:3,26,29; README.rst:34)
F5  fn_token_hash      — 16-hex update tokens (hashids dep; index01.json:12)
F6  fn_session_name    — deterministic petname sessions (init-job.json:32)
F7  fn_json_extract    — free-form JSON payload fields (message.jsonschema)
F8  fn_array_ops       — provenance array membership/size/union
F9  fn_map_ops         — parameter map enumeration (secrets_to_docker_envs.py)
F10 fn_string_format   — log-line formatting (reactor.py:46-47,182)
F11 fn_math_elapsed    — elapsed-time arithmetic (rx.elapsed, reactor.py:183)
F12 fn_filetype_sniff  — magic-byte MIME sniffing (filetype dep) [udfs.py]
F13 fn_storage_uri_map — agave:// storage URI → POSIX root (config.yml:11-13)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..oracle import with_fixtures
from ..registry import register
from ..tables import job_events, jobs, messages, archive_files


@register(
    "fn_timestamp_parse",
    sql=with_fixtures(
        """SELECT uuid,
                  strptime(strftime(updated, '%Y-%m-%dT%H:%M:%S.%g') ||
                           CASE WHEN job_key % 2 = 0 THEN '+0000' ELSE '-06:00' END,
                           '%Y-%m-%dT%H:%M:%S.%g%z')::TIMESTAMP AS parsed_utc
           FROM jobs""",
        "jobs",
    ),
)
def fn_timestamp_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: parse ISO8601 timestamps with mixed offset spellings — the
    reference's data carries both '+0000' and '-06:00' in one document
    (init-job.json:31 vs :75; parsed by the arrow dep). Round-trips the
    job's own timestamp through both encodings, then parses with a
    two-format try cascade."""
    j = jobs(spark, sf_dir)
    encoded = F.concat(
        F.date_format(F.col("updated"), "yyyy-MM-dd'T'HH:mm:ss.SSS"),
        F.when(F.col("job_key") % 2 == 0, "+0000").otherwise("-06:00"),
    )
    parsed = F.coalesce(
        F.try_to_timestamp(encoded, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSZ")),
        F.try_to_timestamp(encoded, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSXXX")),
    )
    return j.select("uuid", parsed.cast("timestamp_ntz").alias("parsed_utc"))


@register(
    "fn_path_parts",
    sql=with_fixtures(
        r"""SELECT file_uuid,
                  regexp_extract(path, '^(.*)/', 1) AS dirname,
                  regexp_extract(path, '([^/]+)$', 1) AS basename,
                  regexp_extract(path, '\.([^.]+)$', 1) AS extension
           FROM archive_files""",
        "archive_files",
    ),
)
def fn_path_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: decompose archive paths (nested fixture tree
    tests/store/uploads/emerald/201808/protein.png)."""
    af = archive_files(spark, sf_dir)
    return af.select(
        "file_uuid",
        F.regexp_extract("path", r"^(.*)/", 1).alias("dirname"),
        F.regexp_extract("path", r"([^/]+)$", 1).alias("basename"),
        F.regexp_extract("path", r"\.([^.]+)$", 1).alias("extension"),
    )


@register(
    "fn_slugify",
    sql=with_fixtures(
        """SELECT uuid,
                  trim(lower(regexp_replace(session || ' ' || state,
                       '[^a-zA-Z0-9]+', '-', 'g')), '-') AS slug
           FROM jobs""",
        "jobs",
    ),
)
def fn_slugify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: slug normalization (python-slugify dep, requirements-dev.txt:5)
    as a pure expression: collapse non-alphanumerics, lowercase, trim."""
    j = jobs(spark, sf_dir)
    slug = F.expr(
        "trim(BOTH '-' FROM lower(regexp_replace(concat_ws(' ', session, state),"
        " '[^a-zA-Z0-9]+', '-')))"
    )
    return j.select("uuid", slug.alias("slug"))


@register(
    "fn_typed_uuid",
    sql=with_fixtures(
        """SELECT entity_uuid,
                  CASE substr(entity_uuid, 1, 3)
                       WHEN '107' THEN 'pipelinejob'
                       WHEN '106' THEN 'pipeline'
                       WHEN '102' THEN 'reference'
                       WHEN '117' THEN 'process'
                       ELSE 'unknown' END AS entity_type
           FROM (
             SELECT uuid AS entity_uuid FROM jobs
             UNION ALL SELECT unnest(derived_from) FROM jobs
             UNION ALL SELECT unnest(generated_by) FROM jobs
             UNION ALL SELECT unnest(child_of) FROM jobs
           )""",
        "jobs",
    ),
)
def fn_typed_uuid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: typed deterministic uuids — same input ⇒ same uuid, and the
    3-char prefix decodes the entity type (107=job 106=pipeline
    102=reference 117=process; init-job.json:3,26,29, config.yml:32).
    The prefix doubles as a cheap partition/discriminator column at scale."""
    j = jobs(spark, sf_dir)
    all_uuids = (
        j.select(F.col("uuid").alias("entity_uuid"))
        .unionAll(j.select(F.explode("derived_from").alias("entity_uuid")))
        .unionAll(j.select(F.explode("generated_by").alias("entity_uuid")))
        .unionAll(j.select(F.explode("child_of").alias("entity_uuid")))
    )
    prefix = F.substring("entity_uuid", 1, 3)
    return all_uuids.select(
        "entity_uuid",
        F.when(prefix == "107", "pipelinejob")
        .when(prefix == "106", "pipeline")
        .when(prefix == "102", "reference")
        .when(prefix == "117", "process")
        .otherwise("unknown")
        .alias("entity_type"),
    )


@register(
    "fn_token_hash",
    sql=with_fixtures(
        """SELECT msg_id, token,
                  token = substr(sha256(CAST(msg_id AS VARCHAR)), 1, 16) AS token_valid,
                  substr(sha256('admin-key:' || uuid), 1, 16) AS session_token
           FROM messages""",
        "messages",
    ),
)
def fn_token_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: generate + validate short hex update tokens (16-hex exemplars:
    index01.json:12, Makefile:12; admin key + TTL: Dockerfile:12-13).
    UDF-free approximation of the hashids scheme: truncated keyed sha256.
    For EXACT hashids interop see fn_token_hashid (udfs.py) — the
    Arrow-batched slow path implementing the published algorithm."""
    m = messages(spark, sf_dir)
    return m.select(
        "msg_id",
        "token",
        (
            F.col("token")
            == F.substring(F.sha2(F.col("msg_id").cast("string"), 256), 1, 16)
        ).alias("token_valid"),
        F.substring(
            F.sha2(F.concat(F.lit("admin-key:"), F.col("uuid")), 256), 1, 16
        ).alias("session_token"),
    )


@register(
    "fn_session_name",
    sql=with_fixtures(
        """SELECT session, count(*) AS n_jobs FROM jobs GROUP BY session""",
        "jobs",
    ),
)
def fn_session_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6: deterministic petname session tags ("fond-bug",
    init-job.json:32; petname dep) — hash-indexed word-array pick, here
    aggregated to show the distribution over the 8x7 name space.

    Vocabulary note: the reference draws from the petname package's
    published adjective/animal word lists; this engine uses a committed
    8x7 subset (oracle.py PET_ADJ_SQL/PET_NOUN_SQL, including the
    exemplar's own words) because the package is absent from the build
    environment and its exact lists cannot be verified offline —
    substituting recalled-from-memory lists would risk silently wrong
    vocabulary. The pick rule (hash mod adjectives, hash mod nouns,
    hyphen-joined) matches petname's generation shape; swapping in the
    full lists is a two-constant change in oracle.py/tables.py."""
    return jobs(spark, sf_dir).groupBy("session").agg(F.count("*").alias("n_jobs"))


@register(
    "fn_json_extract",
    sql=with_fixtures(
        r"""SELECT event_seq,
                  CAST(regexp_extract(data, '"k":\s*(\d+)', 1) AS BIGINT) AS k,
                  CAST(NULL AS VARCHAR) AS missing_field
           FROM job_events""",
        "job_events",
    ),
)
def fn_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: pull fields out of free-form JSON payloads (open `data` objects,
    message.jsonschema:1-4) — typed extraction plus a missing-path probe
    that must yield NULL, not an error."""
    je = job_events(spark, sf_dir)
    return je.select(
        "event_seq",
        F.get_json_object("data", "$.k").cast("bigint").alias("k"),
        F.get_json_object("data", "$.nope.deep").alias("missing_field"),
    )


@register(
    "fn_array_ops",
    sql=with_fixtures(
        """SELECT uuid,
                  len(derived_from) AS n_derived,
                  list_contains(child_of, pipeline_uuid) AS child_of_pipeline,
                  len(list_distinct(derived_from || generated_by)) AS n_lineage
           FROM jobs""",
        "jobs",
    ),
)
def fn_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8: membership/size/union over the provenance arrays
    (derived_from/generated_by/child_of, init-job.json:2-4,33-36)."""
    j = jobs(spark, sf_dir)
    return j.select(
        "uuid",
        F.size("derived_from").alias("n_derived"),
        F.array_contains("child_of", F.col("pipeline_uuid")).alias("child_of_pipeline"),
        F.size(F.array_union("derived_from", "generated_by")).alias("n_lineage"),
    )


@register(
    "fn_map_ops",
    sql=with_fixtures(
        """SELECT msg_id, 'level' AS param_key, level AS param_value FROM messages
           UNION ALL
           SELECT msg_id, 'action', name FROM messages""",
        "messages",
    ),
)
def fn_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9: enumerate parameter maps as (key, value) rows — the reference
    iterates settings dicts the same way (secrets_to_docker_envs.py:12-17)."""
    m = messages(spark, sf_dir)
    params = F.create_map(
        F.lit("level"), F.col("level"), F.lit("action"), F.col("name")
    )
    exploded = m.select("msg_id", F.explode(params).alias("param_key", "param_value"))
    return exploded


@register(
    "fn_string_format",
    sql=with_fixtures(
        """SELECT job_uuid,
                  printf('Indexed %d files to PipelineJob %s',
                         CAST(n AS INT), upper(substr(job_uuid, 1, 8))) AS log_line
           FROM (SELECT job_uuid, count(*) AS n FROM archive_files GROUP BY job_uuid)""",
        "archive_files",
    ),
)
def fn_string_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10: log-line formatting ("Indexed {} files to PipelineJob {}",
    reactor.py:182) — format_string/concat/case ops."""
    af = archive_files(spark, sf_dir)
    counts = af.groupBy("job_uuid").agg(F.count("*").alias("n"))
    return counts.select(
        "job_uuid",
        F.format_string(
            "Indexed %d files to PipelineJob %s",
            F.col("n").cast("int"),
            F.upper(F.substring("job_uuid", 1, 8)),
        ).alias("log_line"),
    )


@register(
    "fn_math_elapsed",
    sql=with_fixtures(
        """SELECT job_uuid,
                  round(CAST(epoch_us(max(date) - min(date)) AS DOUBLE) / 1000000.0, 6)
                    AS elapsed_sec,
                  count(*) AS n_events
           FROM job_events GROUP BY job_uuid""",
        "job_events",
    ),
)
def fn_math_elapsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11: elapsed-time arithmetic (the reactor logs elapsed usec,
    reactor.py:183; durations derive from timestamp pairs,
    init-job.json:81-83)."""
    je = job_events(spark, sf_dir)
    return je.groupBy("job_uuid").agg(
        F.round(
            (
                F.unix_micros(F.max("date").cast("timestamp"))
                - F.unix_micros(F.min("date").cast("timestamp"))
            )
            / 1000000.0,
            6,
        ).alias("elapsed_sec"),
        F.count("*").alias("n_events"),
    )


#: Storage-system → POSIX-root mapping (reference parity:
#: /root/reference/config.yml:11-13 declares
#: data-sd2e-community: posix_path /work/projects/SD2E-Community/prod/data,
#: consumed by the store.index call at reactor.py:162-167 — every
#: listing resolves its logical agave:// URI to a POSIX path through
#: this table before touching disk). Two extra fixture systems exercise
#: the multi-system branch the reference's YAML map supports.
STORAGE_SYSTEMS = {
    "data-sd2e-community": "/work/projects/SD2E-Community/prod/data",
    "data-sd2e-projects-users": "/work/projects/SD2E-Community/prod/users",
    "data-tacc-work": "/work/userdata",
}


def _storage_system_expr():
    """Per-row storage system, derived deterministically from job_key
    (reference-shaped catalogs carry one system per upload batch)."""
    keys = sorted(STORAGE_SYSTEMS)
    expr = F.when(F.col("job_key") % 4 == 0, keys[0])
    for i, k in enumerate(keys[1:], 1):
        expr = expr.when(F.col("job_key") % 4 == i, k)
    return expr.otherwise("data-unknown-system")


@register(
    "fn_storage_uri_map",
    sql=with_fixtures(
        f"""SELECT file_uuid,
                  'agave://' || sys || path AS uri,
                  CASE sys
                       {' '.join(f"WHEN '{k}' THEN '{v}' || path"
                                 for k, v in sorted(STORAGE_SYSTEMS.items()))}
                       ELSE NULL END AS posix_path,
                  CASE WHEN sys IN ({', '.join(repr(k) for k in sorted(STORAGE_SYSTEMS))})
                       THEN TRUE ELSE FALSE END AS resolvable
           FROM (SELECT file_uuid, path,
                        CASE job_key % 4
                             {' '.join(f"WHEN {i} THEN '{k}'"
                                       for i, k in enumerate(sorted(STORAGE_SYSTEMS)))}
                             ELSE 'data-unknown-system' END AS sys
                 FROM archive_files) t
           ORDER BY file_uuid""",
        "archive_files",
    ),
)
def fn_storage_uri_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13: logical storage-URI → POSIX-path resolution — the last
    reference behavior that had no registered op. The
    reference maps ``agave://<storage-system>/<path>`` through its
    config's storagesystems table (config.yml:11-13) before listing
    (reactor.py:162-167); a user re-pointing this engine at
    reference-shaped catalogs hits the rewrite on every listing. Pure
    Catalyst: the system table is a literal CASE (config-sized, never a
    join), unknown systems resolve to NULL with ``resolvable`` FALSE —
    loud, filterable, never a silent wrong path. At 100 TB this is a
    zero-shuffle projection over the listing scan."""
    af = archive_files(spark, sf_dir)
    sys_col = _storage_system_expr()
    posix = F.lit(None).cast("string")
    for k in sorted(STORAGE_SYSTEMS, reverse=True):
        posix = F.when(
            F.col("sys") == k, F.concat(F.lit(STORAGE_SYSTEMS[k]), F.col("path"))
        ).otherwise(posix)
    return (
        af.select("file_uuid", "path", sys_col.alias("sys"))
        .select(
            "file_uuid",
            F.concat(F.lit("agave://"), F.col("sys"), F.col("path")).alias("uri"),
            posix.alias("posix_path"),
            F.col("sys").isin(*sorted(STORAGE_SYSTEMS)).alias("resolvable"),
        )
        .orderBy("file_uuid")
    )
