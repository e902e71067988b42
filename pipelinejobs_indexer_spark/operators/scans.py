"""Scan / source operators (SURVEY.md §2.1).

S1 scan_parquet         — typed parquet scan with column pruning.
S2 scan_json_messages   — free-form JSON payload parsing into typed columns
                          (reference: reactor.py:54-63 json.loads fallback).
S3 scan_archive_listing — recursive nested-tree file listing as a
                          DataFrame with magic-byte MIME sniffing
                          (reference: store.index scan, reactor.py:162-167,
                          over a tree shaped like tests/store/uploads/).
S13 scan_archive_members — zip archive expansion: 1 archive row -> N
                          member rows (name/size/crc32/method) via
                          stdlib zipfile over binaryFile content.

Scale notes: S1/S2 are pure scans — Catalyst pushes filters and prunes
columns down to the parquet reader (verify via .explain: PushedFilters /
ReadSchema). S3 uses Spark's binaryFile source which distributes the
listing across executors; at 100 TB the file-metadata-only projection
(path, length, modificationTime) never loads file contents.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..oracle import with_fixtures
from ..registry import register
from ..tables import load_table, map_rows

# Nested binary fixture tree (scripts/make_fixture_tree.py): mirrors the
# shape of the reference's archive tree /root/reference/tests/store/uploads/
# — zip + pdf at the root, a png two levels deep, a yaml in between.
_UPLOADS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "fixtures",
    "uploads",
)

# Single source of truth for magic prefixes and the printable-ASCII head
# class: llm.multimodal. Re-encoded to uppercase hex here because this
# operator (and its DuckDB oracle) compares on hex(content).
from ..llm.multimodal import PRINTABLE_HEX_RE as _PRINTABLE_HEX  # noqa: E402
from ..llm.multimodal import _MAGIC  # noqa: E402

_MAGIC_HEX = [(magic.hex().upper(), mime) for magic, mime in _MAGIC]


def _listing_sql() -> str:
    cases = "\n                ".join(
        f"WHEN substr(hex(content), 1, {len(h)}) = '{h}' THEN '{m}'"
        for h, m in _MAGIC_HEX
    )
    return f"""SELECT regexp_replace(filename, '^.*/uploads/', '') AS rel_path,
           size AS length,
           CASE {cases}
                WHEN regexp_matches(substr(hex(content), 1, 32),
                                    '{_PRINTABLE_HEX}') THEN 'text/plain'
                ELSE 'application/octet-stream' END AS mime_sniffed
    FROM read_blob('{_UPLOADS}/**')"""


@register(
    "scan_parquet",
    sql="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: plain columnar scan; Catalyst prunes to the selected columns."""
    return load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )


@register(
    "scan_json_messages",
    sql=r"""
SELECT
  event_id,
  event_type,
  CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS k
FROM events
""",
)
def scan_json_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: parse the free-form JSON payload column into typed fields.

    Reference analog: the reactor accepts a pre-parsed dict or falls back to
    json.loads(raw) (reactor.py:54-63); here the permissive path is
    get_json_object over a JSON string column — stays JVM-side (no UDF).
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )


@register("scan_archive_listing", sql=_listing_sql())
def scan_archive_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: recursive listing of a nested archive tree as a DataFrame, with
    content-type sniffed from real magic bytes.

    Reference analog: store.index lists a job's archive_path on a storage
    system (reactor.py:162-167, config.yml:11-13); the fixture tree mirrors
    /root/reference/tests/store/uploads/ (zip + pdf + nested png). Spark's
    binaryFile source distributes listing + metadata extraction across
    executors; the MIME sniff is a pure Column expression over the leading
    bytes (no Python), and at 100 TB the non-sniffing variant projects
    metadata only so contents are never read.
    """
    df = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(_UPLOADS)
    )
    head_hex = F.hex(F.substring(F.col("content"), 1, 16))
    mime = None
    for h, m in _MAGIC_HEX:
        cond = F.substring(head_hex, 1, len(h)) == h
        mime = F.when(cond, m) if mime is None else mime.when(cond, m)
    mime = mime.otherwise(
        F.when(F.substring(head_hex, 1, 32).rlike(_PRINTABLE_HEX), "text/plain")
        .otherwise("application/octet-stream")
    )
    return df.select(
        F.regexp_replace("path", "^.*/uploads/", "").alias("rel_path"),
        F.col("length"),
        mime.alias("mime_sniffed"),
    ).orderBy("rel_path")


ARCHIVE_MEMBER_SCHEMA = (
    "archive string, member string, size_bytes bigint, compress_size bigint,"
    " crc32 bigint, method string, is_dir boolean"
)

_ZIP_METHODS = {0: "stored", 8: "deflated"}


def _zip_member_rows(archive_rel: str, content: bytes):
    """Central-directory listing of one zip's bytes via stdlib zipfile.
    Shared by the distributed parser and the import-time oracle builder,
    applied to DIFFERENT byte sources (Spark's binaryFile content vs a
    direct filesystem read) so the check exercises the full plumbing."""
    import io
    import zipfile

    with zipfile.ZipFile(io.BytesIO(content)) as zf:
        for info in zf.infolist():
            yield (
                archive_rel,
                info.filename,
                info.file_size,
                info.compress_size,
                info.CRC,
                _ZIP_METHODS.get(info.compress_type, str(info.compress_type)),
                info.is_dir(),
            )


def _sql_str(s: str) -> str:
    """Render s as a SQL string literal, doubling embedded single quotes
    so a fixture member named e.g. it's.txt can't break the VALUES SQL."""
    return "'" + str(s).replace("'", "''") + "'"


def _members_oracle_sql() -> str:
    """Ground-truth member table, read straight off the committed fixture
    files (not through Spark), rendered as VALUES. Cost: two sub-KB zips
    at import."""
    rows = []
    for dirpath, _, files in sorted(os.walk(_UPLOADS)):
        for fn in sorted(files):
            if not fn.endswith(".zip"):
                continue
            p = os.path.join(dirpath, fn)
            rel = os.path.relpath(p, _UPLOADS)
            with open(p, "rb") as f:
                for r in _zip_member_rows(rel, f.read()):
                    rows.append(
                        f"({_sql_str(r[0])}, {_sql_str(r[1])}, {r[2]},"
                        f" {r[3]}, {r[4]}, {_sql_str(r[5])},"
                        f" {str(r[6]).lower()})"
                    )
    values = ",\n           ".join(rows)
    return f"""SELECT archive, member,
           CAST(size_bytes AS BIGINT) AS size_bytes,
           CAST(compress_size AS BIGINT) AS compress_size,
           CAST(crc32 AS BIGINT) AS crc32,
           method, is_dir
    FROM (VALUES {values})
         t(archive, member, size_bytes, compress_size, crc32, method, is_dir)"""


@register("scan_archive_members", sql=_members_oracle_sql())
def scan_archive_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13: expand every zip archive in the uploads tree into one row per
    member (name, sizes, crc32, compression method, dir flag) — the
    reference's indexing flow lists AND types archives
    (/root/reference/reactor.py:162-167; fixture potato.zip), and member
    expansion is the step that lets downstream filters/joins treat
    archive contents as first-class files.

    Plan shape: binaryFile distributes the archives across executors
    (pathGlobFilter prunes non-zips at the listing, so only archive bytes
    are ever read); each zip's central directory is parsed where its
    bytes land via an Arrow-batched mapInPandas (stdlib zipfile over a
    BytesIO — UDTF-shaped 1 row -> N member rows). Nothing is extracted:
    zipfile reads the central directory only, so cost scales with member
    COUNT, not archive bytes. At 100 TB-of-archives scale, binaryFile's
    whole-file rows cap at the 2 GB column limit — multi-GB archives
    instead get a footer-range reader (central directory sits at EOF) on
    the same plan shape; member-content extraction is a separate operator
    feeding the multimodal decode path (llm/multimodal.py).
    """
    def expand(path, content):
        return _zip_member_rows(path.split("/uploads/", 1)[-1], bytes(content))

    df = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.zip")
        .load(_UPLOADS)
        .select("path", "content")
    )
    return map_rows(df, expand, ARCHIVE_MEMBER_SCHEMA)


MEMBER_CONTENT_MAX_BYTES = 1 << 20  # skip members larger than 1 MB


def _zip_content_rows(archive_rel: str, content: bytes):
    """(archive, member, n_bytes, sha256, sniffed mime) per extracted
    (size-capped, non-directory) member of one zip's bytes. Like
    _zip_member_rows, shared by the distributed extractor and the
    oracle builder over different byte sources."""
    import hashlib
    import io
    import zipfile

    from ..llm.multimodal import sniff_mime

    with zipfile.ZipFile(io.BytesIO(content)) as zf:
        for info in zf.infolist():
            if info.is_dir() or info.file_size > MEMBER_CONTENT_MAX_BYTES:
                continue
            data = zf.read(info)
            yield (
                archive_rel, info.filename, len(data),
                hashlib.sha256(data).hexdigest(), sniff_mime(data[:16]),
            )


def _member_content_oracle_sql() -> str:
    """Ground-truth extraction table off the committed fixtures (direct
    filesystem reads, not Spark): sha256 + sniffed mime per extracted
    member. Lazily rendered (registry resolves at load_all)."""
    rows = []
    for dirpath, _, files in sorted(os.walk(_UPLOADS)):
        for fn in sorted(files):
            if not fn.endswith(".zip"):
                continue
            p = os.path.join(dirpath, fn)
            rel = os.path.relpath(p, _UPLOADS)
            with open(p, "rb") as f:
                for r in _zip_content_rows(rel, f.read()):
                    rows.append(
                        f"({_sql_str(r[0])}, {_sql_str(r[1])}, {r[2]},"
                        f" '{r[3]}', '{r[4]}')"
                    )
    values = ",\n           ".join(rows)
    return f"""SELECT archive, member, CAST(n_bytes AS BIGINT) AS n_bytes,
           sha256, mime_sniffed
    FROM (VALUES {values})
         t(archive, member, n_bytes, sha256, mime_sniffed)"""


@register("scan_archive_member_content", sql=_member_content_oracle_sql)
def scan_archive_member_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S15: member EXTRACTION — the step after S13's expansion: decompress
    each (size-capped, non-directory) zip member where its archive's
    bytes land and emit content-derived columns (sha256, sniffed mime),
    completing the reference's archive indexing flow (list → type →
    index, reactor.py:162-167) and feeding the multimodal decode path
    (llm/multimodal.py) with member-level rows.

    Plan shape: same distributed binaryFile + Arrow mapInPandas as S13,
    but this one DOES inflate member bytes — cost scales with archive
    content volume, so the size cap (MEMBER_CONTENT_MAX_BYTES) bounds
    per-row memory and giant members route to a dedicated large-object
    path instead of a 2 GB-limited column. Only scalar digests leave the
    executor: content is hashed/sniffed in place and dropped, so shuffle
    and result volume stay O(members), not O(bytes). The oracle is the
    same extraction off the committed fixtures via direct file reads —
    proving the distributed path byte-identical with ground truth."""

    def extract(path, content):
        return _zip_content_rows(path.split("/uploads/", 1)[-1], bytes(content))

    df = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.zip")
        .load(_UPLOADS)
        .select("path", "content")
    )
    return map_rows(
        df,
        extract,
        "archive string, member string, n_bytes bigint, sha256 string,"
        " mime_sniffed string",
    )


@register(
    "scan_csv_export",
    sql=with_fixtures(
        """SELECT msg_id, uuid, name, level FROM messages
           WHERE name IN ('index', 'indexed')""",
        "messages",
    ),
)
def scan_csv_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9: the CSV interchange path — export a message slice to CSV
    (header, explicit quoting) and read it back with an EXPLICIT schema
    and FAILFAST mode; the oracle derives the same slice straight from
    the fixture, so the check proves round-trip fidelity of the CSV
    writer/parser pair (types, quoting, header handling).

    Scale notes: CSV is the interchange format, not the storage format —
    schema-on-read with no pushdown, no column pruning, no stats. The
    explicit StructType + FAILFAST keeps ingestion errors loud; at 100 TB
    the first job is always csv -> typed parquet, and everything
    downstream reads parquet (S1)."""
    from ..session import scratch_path
    from ..tables import messages

    m = (
        messages(spark, sf_dir)
        .filter(F.col("name").isin("index", "indexed"))
        .select("msg_id", "uuid", "name", "level")
    )
    path = scratch_path(spark, "csv_export")
    m.write.mode("overwrite").option("header", True).csv(path)
    schema = "msg_id bigint, uuid string, name string, level string"
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("mode", "FAILFAST")
        .csv(path)
    )


@register(
    "scan_jsonl_export",
    sql="""SELECT doc_id, lang, source, text FROM documents
           WHERE source IN ('src0', 'src1')""",
)
def scan_jsonl_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12: the JSONL interchange path — export a document slice as
    line-delimited JSON (the de-facto training-corpus interchange format:
    one document object per line) and read it back with an EXPLICIT
    schema and FAILFAST mode; the oracle derives the same slice straight
    from the parquet fixture, so the check proves round-trip fidelity of
    the JSON writer/parser pair including text-field escaping.

    Scale notes: like CSV (S9), JSONL is interchange, not storage — no
    pushdown, no pruning, every byte parsed. But it is what corpus
    providers ship and what tokenizer/training tooling consumes, so the
    engine must round-trip it losslessly. The explicit StructType skips
    Spark's whole-file schema-inference pass (a full extra scan at
    100 TB) and FAILFAST keeps malformed lines loud instead of silently
    null; first job in production is always jsonl -> typed parquet."""
    from ..session import scratch_path

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("source").isin("src0", "src1"))
        .select("doc_id", "lang", "source", "text")
    )
    path = scratch_path(spark, "jsonl_export")
    docs.write.mode("overwrite").json(path)
    schema = "doc_id bigint, lang string, source string, text string"
    return (
        spark.read.schema(schema)
        .option("mode", "FAILFAST")
        .json(path)
        .select("doc_id", "lang", "source", "text")
    )


# --------------------------------------------------- S16/S17 tar sources
TAR_MEMBER_SCHEMA = (
    "archive string, member string, size_bytes bigint, mtime bigint,"
    " is_dir boolean, sha16 string"
)


def _tar_member_rows(archive_rel: str, content: bytes):
    """One row per tar member via stdlib tarfile; mode 'r:*' sniffs
    gzip/bz2/xz transports, all stdlib. Regular files carry a sha256
    prefix of their extracted bytes so content (not just headers) is
    evidence."""
    import hashlib
    import io
    import tarfile

    try:
        tf = tarfile.open(fileobj=io.BytesIO(content), mode="r:*")
    except tarfile.TarError as exc:
        raise ValueError(f"corrupt tar archive {archive_rel}: {exc}") from exc
    with tf:
        for info in tf:
            if info.isreg():
                body = tf.extractfile(info).read()
                digest = hashlib.sha256(body).hexdigest()[:16]
            else:
                digest = ""
            yield (
                archive_rel,
                info.name,
                int(info.size),
                int(info.mtime),
                info.isdir(),
                digest,
            )


def _tar_fixture_paths():
    for dirpath, _, files in sorted(os.walk(_UPLOADS)):
        for fn in sorted(files):
            if fn.endswith((".tar", ".tar.gz")):
                yield os.path.join(dirpath, fn)


def _tar_members_oracle_sql() -> str:
    rows = []
    for p in _tar_fixture_paths():
        rel = os.path.relpath(p, _UPLOADS)
        with open(p, "rb") as f:
            for r in _tar_member_rows(rel, f.read()):
                rows.append(
                    f"({_sql_str(r[0])}, {_sql_str(r[1])}, {r[2]}, {r[3]},"
                    f" {str(r[4]).lower()}, {_sql_str(r[5])})"
                )
    values = ",\n           ".join(rows)
    return f"""SELECT archive, member,
           CAST(size_bytes AS BIGINT) AS size_bytes,
           CAST(mtime AS BIGINT) AS mtime, is_dir, sha16
    FROM (VALUES {values})
         t(archive, member, size_bytes, mtime, is_dir, sha16)"""


@register("scan_tar_members", sql=_tar_members_oracle_sql)
def scan_tar_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S16: expand every tar archive (plain or gz-compressed transport)
    in the uploads tree into one row per member — the tar counterpart
    of S13's zip expansion, and the container format training-data
    shards actually ship in. binaryFile + pathGlobFilter prunes
    non-tars at the listing; each archive's members are walked where
    its bytes land (stdlib tarfile, 'r:*' transport sniffing) in an
    Arrow mapInPandas stage, with regular-file members hashed so
    extraction itself carries evidence. Scale shape: one task per
    archive, no shuffle of archive bytes; at 100 TB the listing
    partitions across executors and each shard is touched exactly
    once (tar is sequential — there is no central directory, so the
    walk IS the minimal read)."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.tar*")
        .option("recursiveFileLookup", "true")
        .load(_UPLOADS)
        .select("path", "content")
    )

    def expand(path, content):
        rel = os.path.relpath(path.replace("file:", ""), _UPLOADS)
        return _tar_member_rows(rel, bytes(content))

    return map_rows(df, expand, TAR_MEMBER_SCHEMA)


WEBDATASET_PARTS_SCHEMA = "shard string, key string, ext string, payload string"


def _webdataset_oracle_sql() -> str:
    """Ground truth: regroup the shard tars' members by sample key
    driver-side and render VALUES; n_tokens is recomputed IN SQL from
    the txt payload so the tokenization stays engine-side on both."""
    import io
    import tarfile

    samples: dict[tuple[str, str], dict] = {}
    for p in _tar_fixture_paths():
        fn = os.path.basename(p)
        if not (fn.startswith("shard-") and fn.endswith(".tar")):
            continue
        rel = os.path.relpath(p, _UPLOADS)
        with open(p, "rb") as f:
            with tarfile.open(fileobj=io.BytesIO(f.read()), mode="r:*") as tf:
                for info in tf:
                    if not info.isreg():
                        continue
                    key, _, ext = info.name.rpartition(".")
                    s = samples.setdefault((rel, key), {"n": 0})
                    s["n"] += 1
                    s[ext] = tf.extractfile(info).read().decode("utf-8")
    rows = []
    for (rel, key), s in sorted(samples.items()):
        rows.append(
            f"({_sql_str(rel)}, {_sql_str(key)}, {_sql_str(s.get('txt', ''))},"
            f" {int(s.get('cls', -1))}, {s['n']})"
        )
    values = ",\n           ".join(rows)
    return f"""SELECT shard, key, txt, CAST(cls AS BIGINT) AS cls,
           CAST(n_parts AS BIGINT) AS n_parts,
           CAST(len(string_split(txt, ' ')) AS BIGINT) AS n_tokens
    FROM (VALUES {values}) t(shard, key, txt, cls, n_parts)"""


@register("scan_webdataset", sql=_webdataset_oracle_sql)
def scan_webdataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S17: WebDataset sample assembly — the tar-of-samples layout LLM
    training shards ship in: members grouped by key (basename minus
    extension), extensions pivoted into typed columns (txt payload,
    cls label), plus an engine-side token count — the decode stage
    composing straight into relational ops. Worker-side, each shard
    tar is walked once (sequential read, the format's whole point:
    shard-local sample assembly with NO shuffle — the groupBy key is
    shard-local by construction, and Catalyst's partial aggregation
    keeps it map-side). At 100 TB: one task per shard, samples never
    leave their executor until reduced."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "shard-*.tar")
        .option("recursiveFileLookup", "true")
        .load(_UPLOADS)
        .select("path", "content")
    )

    def parts(path, content):
        import io
        import tarfile

        rel = os.path.relpath(path.replace("file:", ""), _UPLOADS)
        with tarfile.open(fileobj=io.BytesIO(bytes(content)), mode="r:*") as tf:
            for info in tf:
                if info.isreg():
                    key, _, ext = info.name.rpartition(".")
                    yield rel, key, ext, tf.extractfile(info).read().decode("utf-8")

    p = map_rows(df, parts, WEBDATASET_PARTS_SCHEMA)
    return p.groupBy("shard", "key").agg(
        F.coalesce(
            F.max(F.when(F.col("ext") == "txt", F.col("payload"))), F.lit("")
        ).alias("txt"),
        F.coalesce(
            F.max(
                F.when(F.col("ext") == "cls", F.col("payload"))
            ).cast("bigint"),
            F.lit(-1),
        ).alias("cls"),
        F.count("*").alias("n_parts"),
    ).withColumn(
        "n_tokens",
        F.size(F.split(F.col("txt"), " ")).cast("bigint"),
    )
