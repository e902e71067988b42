"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over :mod:`pipelinejobs_indexer_spark` — the registry collects
every implemented query (SURVEY.md §2) together with its DuckDB oracle SQL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from pipelinejobs_indexer_spark import registry
from pipelinejobs_indexer_spark.session import tune


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The reference's signature semantics — "index a job's outputs" — rendered
    relationally (SURVEY.md §7.1): archive-file listing → regex filter (P2)
    → provenance join to jobs (J2-shape) → per-job/state counts (A1) →
    top-k (O2).
    """
    from pyspark.sql import functions as F

    from pipelinejobs_indexer_spark.tables import archive_files, jobs

    tune(spark)
    sf_dir = "/root/testdata/sf0.001"
    af = archive_files(spark, sf_dir)
    j = jobs(spark, sf_dir)
    return (
        af.filter(F.col("path").rlike(r"\.(bam|sam)$"))
        .join(j.select("uuid", "state"), af.job_uuid == F.col("uuid"))
        .groupBy("state")
        .agg(
            F.count("*").alias("files_indexed"),
            F.sum("length").alias("bytes_indexed"),
        )
        .orderBy(F.desc("files_indexed"))
    )


def _isolated(fn: Callable[[SparkSession, str], DataFrame]):
    """Per-query cache isolation for long-lived sweep sessions: several
    dedup queries .cache() an expensive decode or aggregate leg that
    stays lazy in the returned frame, so a sweep of every registered
    query in ONE session would otherwise accumulate executor storage
    until LRU eviction — and a cached subtree from query A can splice
    itself into query B's physical plan via the shared CacheManager
    (canonicalized-plan match), changing B's measured shape. Dropping
    the cache at query ENTRY keeps each query's footprint and plan
    self-contained; results are unaffected either way.

    CONTRACT: this assumes the driver runs queries
    SEQUENTIALLY — build, collect, move on — which is what the sweep
    protocol does. A driver that interleaved building one query's frame
    with collecting another's would have query B's entry unpersist the
    caches query A's still-uncollected frame depends on: correct
    results (Spark recomputes evicted subtrees) but A's measured
    shape/runtime silently changes. If interleaving ever becomes a
    driver mode, scope this to unpersisting only the previous query's
    own caches instead of the session-wide clear."""

    import functools

    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        spark.catalog.clearCache()
        return fn(spark, sf_dir)

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    registry.load_all()
    return {n: _isolated(fn) for n, fn in registry.QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    registry.load_all()
    return dict(registry.ORACLE)
