"""DuckDB SQL mirrors of the fixture views in ``tables.py``.

The correctness driver registers the raw parquet tables as DuckDB views
(region nation customer supplier part orders lineitem events documents
embeddings) and runs each ``oracle_sql()`` string against them. Queries over
fixture views prepend these CTEs so both engines compute from identical
derivations. KEEP IN LOCKSTEP WITH tables.py.

DuckDB parity notes:
  * sha256(varchar) -> lowercase hex  == Spark sha2(col, 256)
  * events.ts is TIMESTAMP_NS in DuckDB; ``ts::TIMESTAMP`` truncates to
    micros exactly like Spark's ``timestamp_micros(ts div 1000)``.
  * CAST(round(x) AS BIGINT): round-half-away == Spark round for positives.
    (A bare double->int cast would round in DuckDB but truncate in Spark.)
"""

from __future__ import annotations

import hashlib
import os

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))

PET_ADJ_SQL = "['fond','quick','brave','calm','eager','gentle','happy','jolly']"
PET_NOUN_SQL = "['bug','fox','owl','crab','newt','lark','moth']"

_EXT = "CASE l_partkey % 4 WHEN 0 THEN 'bam' WHEN 1 THEN 'sam' WHEN 2 THEN 'txt' ELSE 'tsv' END"

JOBS_SQL = f"""
SELECT
  o_orderkey AS job_key,
  '107' || sha256(CAST(o_orderkey AS VARCHAR)) AS uuid,
  '106' || sha256(o_orderpriority) AS pipeline_uuid,
  CASE o_orderstatus WHEN 'F' THEN 'FINISHED' WHEN 'O' THEN 'CREATED' ELSE 'INDEXING' END AS state,
  CASE o_orderstatus WHEN 'F' THEN 'finish' WHEN 'O' THEN 'create' ELSE 'run' END AS last_event,
  'data-products-storage' AS archive_system,
  '/products/v2/107' || sha256(CAST(o_orderkey AS VARCHAR)) AS archive_path,
  o_orderdate AS updated,
  ({PET_ADJ_SQL})[CAST(o_orderkey % 8 AS INT) + 1] || '-' ||
    ({PET_NOUN_SQL})[CAST(o_orderkey % 7 AS INT) + 1] AS session,
  ['102' || sha256(CAST(o_custkey AS VARCHAR))] AS derived_from,
  ['117' || sha256(CAST(o_orderkey AS VARCHAR))] AS generated_by,
  ['106' || sha256(o_orderpriority)] AS child_of,
  o_custkey AS owner_key,
  o_totalprice AS totalprice
FROM orders
"""

ARCHIVE_FILES_SQL = f"""
SELECT
  '105' || sha256(CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)) AS file_uuid,
  '107' || sha256(CAST(l_orderkey AS VARCHAR)) AS job_uuid,
  '/products/v2/107' || sha256(CAST(l_orderkey AS VARCHAR)) || '/' ||
    CAST(l_linenumber AS VARCHAR) || '.' || {_EXT} AS path,
  CAST(round(l_extendedprice * 100) AS BIGINT) AS length,
  {_EXT} AS ext,
  CASE WHEN l_partkey % 4 = 0 THEN 'application/octet-stream'
       WHEN l_partkey % 4 = 3 THEN 'text/tab-separated-values'
       ELSE 'text/plain' END AS mime,
  CAST((l_suppkey % 3) + 1 AS VARCHAR) AS level,
  l_shipdate AS modified,
  ['117' || sha256(CAST(l_orderkey AS VARCHAR))] AS generated_by,
  l_orderkey AS job_key,
  l_linenumber AS file_seq
FROM lineitem
"""

PIPELINES_SQL = """
SELECT
  '106' || sha256(o_orderpriority) AS pipeline_uuid,
  o_orderpriority AS pipeline_name,
  lower(regexp_replace(o_orderpriority, '[^a-zA-Z0-9]+', '-', 'g')) AS pipeline_slug
FROM (SELECT DISTINCT o_orderpriority FROM orders)
"""

MESSAGES_SQL = r"""
SELECT
  event_id AS msg_id,
  '107' || sha256(CAST(user_id AS VARCHAR)) AS uuid,
  CASE WHEN event_type IN ('signup','click') THEN 'index'
       WHEN event_type IN ('view','purchase') THEN 'indexed'
       ELSE 'bogus' END AS name,
  CAST((event_id % 3) + 1 AS VARCHAR) AS level,
  substr(sha256(CAST(event_id AS VARCHAR)), 1, 16) AS token,
  ts::TIMESTAMP AS ts,
  CASE WHEN event_id % 2 = 0 THEN ['\.bam$','\.sam$'] ELSE ['\.txt$','\.tsv$'] END AS patterns,
  user_id AS job_key
FROM events
"""

JOB_EVENTS_SQL = """
SELECT
  event_id AS event_seq,
  '107' || sha256(CAST(user_id AS VARCHAR)) AS job_uuid,
  ts::TIMESTAMP AS date,
  CASE event_id % 3 WHEN 0 THEN 'create' WHEN 1 THEN 'run' ELSE 'finish' END AS name,
  props AS data,
  value,
  user_id AS job_key
FROM events
"""

FIXTURE_CTES = {
    "jobs": JOBS_SQL,
    "archive_files": ARCHIVE_FILES_SQL,
    "messages": MESSAGES_SQL,
    "job_events": JOB_EVENTS_SQL,
    "pipelines": PIPELINES_SQL,
}


def with_fixtures(sql: str, *views: str) -> str:
    """Wrap *sql* in a WITH clause defining the named fixture views.

    If *sql* already starts with its own WITH clause, the CTE lists are
    merged (SQL allows only one WITH per query level).
    """
    ctes = ", ".join(f"{v} AS ({FIXTURE_CTES[v]})" for v in views)
    stripped = sql.lstrip()
    if stripped.upper().startswith("WITH"):
        return f"WITH {ctes}, {stripped[4:].lstrip()}"
    return f"WITH {ctes} {sql}"


def fingerprint(sql: str) -> str:
    """md5 of an oracle's SQL with this package's absolute directory
    replaced by ``<pkg>``: an oracle that reads a package fixture by path
    (``scan_archive_listing``'s ``fixtures/uploads``) fingerprints the
    same in every checkout. ``ORACLE_FP.json`` holds one per query."""
    return hashlib.md5(sql.replace(_PKG_DIR, "<pkg>").encode()).hexdigest()
