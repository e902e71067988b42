"""Physical-plan regression tests — the scale claims, pinned.

SURVEY.md §4.3.6 contemplated a custom Catalyst rule to push level/state
filters through the provenance explode; these tests document that stock
Catalyst already does it (so no rule exists to maintain), and pin the
other plan properties the engine's 100 TB story depends on: dimension
joins broadcast, scans prune columns.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from pipelinejobs_indexer_spark import registry  # noqa: E402
from pipelinejobs_indexer_spark.tables import archive_files, jobs  # noqa: E402

registry.load_all()


def _formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushes_through_explode(spark, sf_dir):
    """A filter on a pre-explode column (level) must reach the scan-side
    Filter BELOW the Generate — deeper nodes have lower ids in the
    formatted plan. This is why no custom Catalyst rule ships."""
    af = archive_files(spark, sf_dir)
    j = jobs(spark, sf_dir)
    exploded = af.select(
        F.explode("generated_by").alias("g"), "file_uuid", "path", "level"
    )
    out = (
        exploded.join(
            j.select(F.explode("generated_by").alias("g"), "uuid", "state"), "g"
        ).filter(F.col("level") == "1")
    )
    plan = _formatted_plan(out)
    gen_ids = [int(m.group(1)) for m in re.finditer(r"\((\d+)\) Generate", plan)]
    assert gen_ids, "expected an explode (Generate) in the plan"
    # the level derivation reads l_suppkey; find the Filter that carries it
    level_filter_ids = [
        int(m.group(1))
        for m in re.finditer(
            r"\((\d+)\) Filter\nInput[^\n]*\nCondition[^\n]*l_suppkey", plan
        )
    ]
    assert level_filter_ids, "level filter vanished from the plan"
    assert min(level_filter_ids) < min(gen_ids), (
        "level filter did not push below the explode — revisit SURVEY §4.3.6"
    )


def test_dim_join_broadcasts(spark, sf_dir):
    plan = _formatted_plan(registry.QUERIES["join_job_pipeline"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_scan_prunes_columns(spark, sf_dir):
    plan = _formatted_plan(registry.QUERIES["filter_regex"](spark, sf_dir))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    # path needs orderkey+linenumber+partkey (ext), length needs extendedprice
    assert cols == {"l_orderkey", "l_partkey", "l_linenumber", "l_extendedprice"}, cols


def test_sort_history_has_no_single_partition_funnel(spark, sf_dir):
    """O1's global row numbering must never funnel the data through one
    task: the only allowed SinglePartition exchange is over the tiny
    partition-count frame (one row per shuffle partition), which shows up
    under a HashAggregate, never over the event rows themselves."""
    df = registry.QUERIES["sort_history"](spark, sf_dir)
    plan = _formatted_plan(df)
    # the data path is bucket-partitioned windows over the data-derived
    # day bucket (deterministic across executions, unlike
    # spark_partition_id over sampled range boundaries)
    assert "hashpartitioning(bucket" in plan, plan
    # any SinglePartition exchange must sit on the aggregated counts side
    # (input columns pid/cnt), not on the event rows (job_uuid/date)
    for m in re.finditer(
        r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]\nArguments: SinglePartition",
        plan,
    ):
        cols = m.group(1)
        assert "job_uuid" not in cols and "date" not in cols, (
            "event rows flow through a SinglePartition exchange:\n" + plan
        )


def test_asof_join_has_no_pair_join(spark, sf_dir):
    """The as-of rewrite must stay a single-shuffle window plan — no join
    operator at all (the union-timeline shape)."""
    plan = _formatted_plan(registry.QUERIES["join_asof_state"](spark, sf_dir))
    assert "Window" in plan
    assert "Join" not in plan, "as-of regressed to a pair join"


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """The co-located catalog join (join_bucketed_colocated) must read
    both bucketed tables and join + aggregate with ZERO exchanges of any
    kind: broadcast disabled, so only the bucket layout can satisfy the
    join's distribution — the plan is Scan -> SortMergeJoin ->
    HashAggregate with no Exchange node anywhere."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = registry.QUERIES["join_bucketed_colocated"](spark, sf_dir)
        plan = _formatted_plan(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, plan
    assert plan.count("Bucketed: true") == 2, plan


def test_curate_full_shuffle_budget(spark, sf_dir):
    """The composed curation DAG must stay within its documented shuffle
    budget and never degrade to a nested-loop join: <=9 shuffle
    Exchanges in the static plan (dedup window + contamination's pair
    agg, eval-side window, and the r6 hot-shingle df groupBy feeding
    the broadcast boilerplate prune + one spread repartition per scan
    branch — identical spread exchanges dedupe to ReusedExchange at
    runtime), contamination verdict entering via broadcast. Cache
    cleared first: cached subtrees left by earlier tests substitute
    InMemoryRelations whose stored plans print their own Exchange
    nodes, inflating the census non-deterministically."""
    spark.catalog.clearCache()
    df = registry.QUERIES["llm_corpus_curate_full"](spark, sf_dir)
    plan = _formatted_plan(df)
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges <= 9, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastExchange" in plan  # the anti-join side broadcasts


def test_runtime_bloom_filter_semi_join_reduction(spark, sf_dir):
    """At 100 TB the fact-side scan of a selective join should be pruned
    by a runtime bloom filter built from the dim side (Spark's
    InjectRuntimeFilter). The rule only fires when the build side is NOT
    broadcastable, so at test scale we scope autoBroadcastJoinThreshold
    off and shrink the application-side threshold; this pins that the
    engine's join shapes are compatible with the rule (no derived-key or
    exchange placement blocking it) and that filtered results are
    identical."""
    import re

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    out = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_linenumber", "o_orderdate"
    )
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        plan = _formatted_plan(out)
        assert re.search("bloom_filter_agg", plan), "no bloom build side:\n" + plan
        assert re.search("might_contain", plan), "no bloom probe side:\n" + plan
        cnt_bloom = out.count()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert cnt_bloom == out.count()  # pruning is transparent


def test_gapfill_midnight_event_belongs_to_next_day(spark):
    """An event at exactly midnight must NOT alter the previous day's
    end-of-day state (the slot covers [day, day+1d) exclusively)."""
    from datetime import datetime

    from pipelinejobs_indexer_spark.operators.windows import gapfill_daily

    je = spark.createDataFrame(
        [
            ("j1", datetime(2024, 1, 1, 8, 0), 1, "create"),
            ("j1", datetime(2024, 1, 2, 0, 0), 2, "finish"),  # exactly midnight
        ],
        "job_uuid string, date timestamp_ntz, event_seq long, name string",
    )
    rows = {r.day.day: r.state for r in gapfill_daily(je).collect()}
    assert rows[1] == "create"  # midnight 'finish' counts toward Jan 2
    assert rows[2] == "finish"


def test_round2_ops_plan_shapes(spark, sf_dir):
    """Scale-shape pins for the round-2 operators: no nested-loop or
    cartesian joins anywhere, no global (single-range) Sort outside a
    window's per-partition sort, and the shuffle-shard plan exchanges on
    the shard id rather than range-partitioning."""
    checks = {
        "llm_text_repetition": lambda p: "Join" not in p,
        "llm_corpus_shuffle_shard": lambda p: (
            "hashpartitioning(shard" in p and "rangepartitioning" not in p
        ),
        "llm_dedup_incremental": lambda p: "LeftAnti" in p,
        "llm_dedup_incremental_minhash": lambda p: "LeftAnti" in p,
        "llm_quality_calibrate": lambda p: "Join" not in p,
    }
    for name, ok in checks.items():
        df = registry.QUERIES[name](spark, sf_dir)
        plan = _formatted_plan(df)
        assert "BroadcastNestedLoopJoin" not in plan, name + "\n" + plan
        assert "CartesianProduct" not in plan, name + "\n" + plan
        assert ok(plan), name + " plan shape regressed:\n" + plan


def test_filter_regex_lowers_to_endswith(spark, sf_dir):
    """The suffix-literal classifier must remove the regex engine from
    filter_regex's scan stage entirely: the plan's Filter carries EndsWith
    compares and no RLIKE."""
    plan = _formatted_plan(registry.QUERIES["filter_regex"](spark, sf_dir))
    assert "EndsWith" in plan, plan
    assert "RLIKE" not in plan and "rlike" not in plan, plan


def test_approx_distinct_splits_exact_and_sketch(spark, sf_dir):
    """agg_approx_distinct must keep the 3-way-Expand exact branch and the
    expand-free HLL branch in SEPARATE aggregates (a merged agg is a 7-way
    Expand that OOMs a 1 GB driver heap): exactly one Expand node, and it
    must not feed the approx aggregation."""
    plan = _formatted_plan(registry.QUERIES["agg_approx_distinct"](spark, sf_dir))
    expands = re.findall(r"\(\d+\) Expand", plan)
    assert len(expands) == 1, plan
    # the sketch side appears as its own aggregate with approx fns
    assert "approx_count_distinct" in plan


_BROADCAST_ANTI = re.compile(
    r"\(\d+\) BroadcastHashJoin\n[^\n]*\n[^\n]*\n[^\n]*Join type: LeftAnti"
)


@pytest.mark.parametrize(
    "name",
    [
        "llm_dedup_containment",
        "llm_dedup_substring",
        "llm_dedup_videohash",
        "llm_video_containment",
        "llm_dedup_winnow",
    ],
)
def test_capped_dedup_plan_is_bounded_equi_joins(spark, sf_dir, name):
    """Every df-capped dedup query must stay equi-joins + combiner
    aggregations — no pair scan: a nested-loop or cartesian anywhere
    means the cap regressed. drop_hot_keys' shape must be in the plan:
    a map-side partial_count for the per-key df (a count-over-key
    window has none, so a hot key's occurrences would all shuffle into
    one task) and the over-cap prune as a BROADCAST left-anti join (the
    occurrence rows are never shuffled for the prune)."""
    plan = _formatted_plan(registry.QUERIES[name](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "partial_count" in plan, plan
    assert _BROADCAST_ANTI.search(plan), plan
    if name == "llm_dedup_containment":
        # df groupBy + pair-count agg + two size joins + the spread
        # under each unmaterialized cache replica: generous static cap
        # — at runtime AQE dedupes the cached subtree to one
        # materialization (ReusedExchange)
        n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
        assert n_exchanges <= 10, plan


def test_multi_table_lsh_plan_stays_equi_join(spark, sf_dir):
    """Round 7: the AND-OR amplified embedding dedup (lsh_tables > 1)
    must keep the single-table plan's shape — namespaced probe keys feed
    ONE spanning equi-join, never a per-table join stack or a pair scan.
    A nested-loop/cartesian here means the prefixed-key join degenerated
    to a theta join; exchange growth means the table fan-out stopped
    being a row-local explode."""
    from pipelinejobs_indexer_spark.llm import dedup

    single = _formatted_plan(
        dedup.llm_dedup_embedding_lsh(spark, sf_dir, n_planes=6, n_tables=1)
    )
    multi = _formatted_plan(
        dedup.llm_dedup_embedding_lsh(spark, sf_dir, n_planes=6, n_tables=4)
    )
    for plan in (single, multi):
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan
    # the table count must not add joins or exchanges — it only widens
    # the probe/own explodes (Generate nodes), which are row-local
    count = lambda pat, plan: len(re.findall(pat, plan))  # noqa: E731
    assert count(r"\(\d+\) \w*Join", multi) == count(r"\(\d+\) \w*Join", single)
    assert count(r"\(\d+\) Exchange", multi) == count(
        r"\(\d+\) Exchange", single
    ), multi


def test_zorder_box_query_pushes_both_predicates(spark, sf_dir):
    """S14's box query must reach the z-layout scan as pushed-down
    literal filters on BOTH raw columns — that is the mechanism by which
    tight per-file stats become file skipping."""
    df = registry.QUERIES["sink_zorder_layout"](spark, sf_dir)
    plan = _formatted_plan(df)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m, plan
    pushed = m.group(1)
    assert "user_id" in pushed and "ts" in pushed, pushed
    assert "Join" not in plan, plan


def test_archive_scans_list_only_zip_files(spark, sf_dir):
    """S13/S15's pathGlobFilter must prune non-archives at the LISTING:
    the scan's file set contains only .zip paths, so pdf/png/yaml bytes
    are never read by the archive operators."""
    for name in ("scan_archive_members", "scan_archive_member_content"):
        files = registry.QUERIES[name](spark, sf_dir).inputFiles()
        assert files and all(f.endswith(".zip") for f in files), (name, files)


def test_doc_chunk_is_shuffle_free(spark, sf_dir):
    """L4h's claim: the chunk explode is pure codegen — zero Exchange
    nodes anywhere in the plan (the spread repartition is excluded by
    checking the post-scan operators only... it IS an Exchange, so the
    budget is exactly the one spread exchange and nothing else)."""
    df = registry.QUERIES["llm_doc_chunk"](spark, sf_dir)
    plan = _formatted_plan(df)
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges <= 1, plan  # only the test-scale spread repartition
    assert "Generate" in plan  # the sequence explode
    assert "Join" not in plan and "Window" not in plan, plan


def test_scale_probe_census_strips_initial_plans_and_dedupes():
    """The scale probe's exchange census underpins the BENCH_sf1 plan
    claims; pin its two failure modes on a synthetic finalized-AQE
    string: (a) `== Initial Plan ==` subtrees (including one nested
    inside a cached relation, printed under the consumer) must not be
    counted — their nodes carry their own plan_ids, so without
    stripping, each logical exchange counts up to 2x(1+consumers);
    (b) a reprinted cached subtree reuses plan_ids, so the census must
    dedupe by id, not occurrences."""
    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    )
    from scripts.scale_probe import _strip_initial_plans

    plan = "\n".join(
        [
            "AdaptiveSparkPlan isFinalPlan=true",
            "+- == Final Plan ==",
            "   ResultQueryStage 3",
            "   +- HashAggregate(keys=[k])",
            "      +- ShuffleQueryStage 2",
            "         +- Exchange hashpartitioning(k, 32), [plan_id=50]",
            "            +- Project [k]",
            "               +- TableCacheQueryStage 0",
            "                  +- InMemoryTableScan [k]",
            "                        +- InMemoryRelation [k]",
            "                              +- AdaptiveSparkPlan isFinalPlan=true",
            "                              +- == Final Plan ==",
            "                                 ResultQueryStage 1",
            "                                 +- ShuffleQueryStage 0",
            "                                    +- Exchange hashpartitioning(j, 32), [plan_id=10]",
            "                                       +- Scan parquet",
            "                              +- == Initial Plan ==",
            "                                 Sort [j]",
            "                                 +- Exchange hashpartitioning(j, 32), [plan_id=4]",
            "                                    +- Scan parquet",
            "+- == Initial Plan ==",
            "   HashAggregate(keys=[k])",
            "   +- Exchange hashpartitioning(k, 32), [plan_id=22]",
            "      +- Project [k]",
            "         +- InMemoryTableScan [k]",
            "               +- InMemoryRelation [k]",
            "                     +- AdaptiveSparkPlan isFinalPlan=true",
            "                     +- == Final Plan ==",
            "                        ShuffleQueryStage 0",
            "                        +- Exchange hashpartitioning(j, 32), [plan_id=10]",
            "                     +- == Initial Plan ==",
            "                        Exchange hashpartitioning(j, 32), [plan_id=4]",
        ]
    )
    stripped = _strip_initial_plans(plan)
    assert "Initial Plan" not in stripped
    # outer final plan survives in full; initial-only plan_ids are gone
    ids = re.findall(r"\[plan_id=(\d+)\]", stripped)
    assert sorted(set(ids)) == ["10", "50"], ids
    # the raw string counts 6 Exchange lines; the census must see 2
    assert plan.count("Exchange hashpartitioning") == 6
    assert len(set(ids)) == 2


def test_trainer_final_passes_are_exchange_free(spark, sf_dir):
    """L3e/L3f/L3i's plan claim (PLANS.md): the returned final pass is a
    broadcast-literal codegen projection over the checkpointed quantized
    frame — model state rides the plan, so there is NO Join, NO Window,
    and NO Exchange of any kind (the training iterations' only exchanges
    are the posexplode->combiner groupBys, executed during construction,
    and the lineage cut means not even the spread repartition survives
    into the returned frame's plan)."""
    for name in ("llm_embedding_kmeans", "llm_classifier_logreg", "llm_embedding_pq"):
        df = registry.QUERIES[name](spark, sf_dir)
        plan = _formatted_plan(df)
        assert "Exchange" not in plan, (name, plan)
        assert "Join" not in plan and "Window" not in plan, (name, plan)
        assert "Scan ExistingRDD" in plan, (name, plan)  # the checkpoint


def test_tfidf_single_scan_and_window_df(spark, sf_dir):
    """L4k's scale shape: ONE corpus scan (the df-via-groupBy-self-join
    formulation re-scans and re-explodes the corpus — this pins the
    window formulation that doesn't), ≤4 shuffles (spread, tf combiner
    groupBy, term window, doc window), no join nodes at all, and the
    per-doc top-k lowered to WindowGroupLimit so only k rows per
    partition survive to the final sort."""
    # a cache entry left by an earlier query could splice an
    # InMemoryTableScan into THIS plan via the shared CacheManager
    spark.catalog.clearCache()
    plan = _formatted_plan(registry.QUERIES["llm_text_tfidf_keywords"](spark, sf_dir))
    scan_ids = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scan_ids) == 1, plan
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges <= 4, plan
    assert "Join" not in plan, plan
    assert "WindowGroupLimit" in plan, plan


def test_corpus_split_is_scan_speed_projection(spark, sf_dir):
    """L6k must stay a pure projection: no shuffle beyond the fixture
    spread (a no-op at real scale), no join, no aggregate, and the scan
    pruned to exactly the three emitted source columns."""
    plan = _formatted_plan(registry.QUERIES["llm_corpus_split"](spark, sf_dir))
    exchanges = re.findall(r"\(\d+\) Exchange\n[^\n]*\nArguments: ([^,\n]*)", plan)
    assert all(a.startswith("RoundRobinPartitioning") for a in exchanges), exchanges
    assert len(exchanges) <= 1, plan
    assert "Join" not in plan and "HashAggregate" not in plan, plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"doc_id", "lang", "source"}, cols


def test_canonical_broadcasts_labels_into_one_doc_pass(spark, sf_dir):
    """L9c's incremental cost over L9 must be: one more documents scan
    (the score projection), the labels side entering via broadcast (the
    duplicate population is orders of magnitude smaller than the
    corpus), and one combiner argmax + join-back (r13: was one window) —
    no new corpus-scale shuffle, no sort-merge join of corpus against
    labels."""
    plan = _formatted_plan(registry.QUERIES["llm_dedup_canonical"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    base = _formatted_plan(registry.QUERIES["llm_dedup_clusters"](spark, sf_dir))
    def shuffles(p):
        return len(re.findall(r"\(\d+\) Exchange", p))
    # +1 spread of the fresh documents scan, +1 window exchange; the
    # broadcast itself is not a shuffle Exchange node
    assert shuffles(plan) <= shuffles(base) + 2, (shuffles(plan), shuffles(base))


def test_dim_stats_is_one_combiner_groupby(spark, sf_dir):
    """L3g's scale shape: posexplode feeding ONE combiner groupBy on the
    dimension key — a partial HashAggregate must sit below the dim hash
    exchange so the shuffle carries O(tasks × dims) rows, and nothing
    else (no join, no window, no extra shuffle beyond the fixture
    spread)."""
    plan = _formatted_plan(registry.QUERIES["llm_embedding_dim_stats"](spark, sf_dir))
    exchanges = re.findall(r"\(\d+\) Exchange\n[^\n]*\nArguments: ([^,\n]*)", plan)
    hash_ex = [a for a in exchanges if a.startswith("hashpartitioning")]
    assert len(hash_ex) == 1 and "dim" in hash_ex[0], exchanges
    assert len(exchanges) <= 2, exchanges
    assert "Join" not in plan and "Window" not in plan, plan
    # partial (map-side) aggregation below the exchange
    agg_ids = [int(m.group(1)) for m in re.finditer(r"\((\d+)\) HashAggregate", plan)]
    ex_ids = [
        int(m.group(1))
        for m in re.finditer(r"\((\d+)\) Exchange\n[^\n]*\nArguments: hashpartitioning", plan)
    ]
    assert min(agg_ids) < min(ex_ids), plan


def test_sessionize_gap_boundary_and_single_exchange(spark):
    """A gap of exactly SESSION_GAP_SEC continues the session (the break
    predicate is strict >); gap+1s starts a new one. And the whole
    operator — two window passes + the session groupBy — must run off ONE
    user_id exchange (identical partitioning reused end to end)."""
    from datetime import datetime, timedelta

    from pipelinejobs_indexer_spark.operators.windows import sessionize

    t0 = datetime(2024, 1, 1, 0, 0, 0)
    gap = timedelta(hours=4)
    ev = spark.createDataFrame(
        [
            (1, 10, t0, 1.0),
            (1, 11, t0 + gap, 1.0),  # exactly the gap: same session
            (1, 12, t0 + gap + gap + timedelta(seconds=1), 1.0),  # breaks
            (2, 20, t0, 5.0),
        ],
        "user_id long, event_id long, ts timestamp_ntz, value double",
    )
    out = sessionize(ev)
    plan = _formatted_plan(out)  # pre-execution: the single static plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "hashpartitioning(user_id" in plan, plan
    rows = {(r.user_id, r.session_idx): r for r in out.collect()}
    assert rows[(1, 1)].n_events == 2
    assert rows[(1, 2)].n_events == 1
    assert rows[(2, 1)].n_events == 1


def test_funnel_strict_stage_ordering(spark):
    """A purchase BEFORE the first post-signup click must not convert the
    user; events before signup never count; min-after-prev-stage picks
    the earliest qualifying timestamp."""
    from datetime import datetime

    from pipelinejobs_indexer_spark.operators.aggregates import event_funnel

    d = lambda h: datetime(2024, 1, 1, h)
    ev = spark.createDataFrame(
        [
            # u1: full funnel, with decoys before each stage
            (1, d(1), "click"),  # pre-signup click: ignored
            (1, d(2), "signup"),
            (1, d(3), "purchase"),  # pre-click purchase: ignored
            (1, d(4), "click"),
            (1, d(5), "purchase"),
            # u2: signup then purchase but never clicks → depth 1
            (2, d(1), "signup"),
            (2, d(2), "purchase"),
            # u3: never signs up → not in the funnel at all
            (3, d(1), "click"),
        ],
        "user_id long, ts timestamp_ntz, event_type string",
    )
    rows = {r.user_id: r for r in event_funnel(ev).collect()}
    assert set(rows) == {1, 2}
    assert rows[1].stages_reached == 3
    assert rows[1].t_click.hour == 4 and rows[1].t_purchase.hour == 5
    assert rows[2].stages_reached == 1
    assert rows[2].t_click is None and rows[2].t_purchase is None


def test_retention_offsets_are_exact_weeks(spark):
    """Cohort = Monday-truncated first-seen week; offsets count whole
    weeks; retained_frac divides by the cohort's size, not the cell's."""
    from datetime import datetime

    from pipelinejobs_indexer_spark.operators.aggregates import retention_cohorts

    ev = spark.createDataFrame(
        [
            # cohort of Mon Jan 1: users 1, 2
            (1, datetime(2024, 1, 3)),  # week 0
            (1, datetime(2024, 1, 10)),  # week 1
            (1, datetime(2024, 1, 11)),  # week 1 again (distinct-collapsed)
            (2, datetime(2024, 1, 7)),  # Sunday still week 0
            # cohort of Mon Jan 8: user 3
            (3, datetime(2024, 1, 8)),
            (3, datetime(2024, 1, 22)),  # week 2
        ],
        "user_id long, ts timestamp_ntz",
    )
    out = {
        (r.cohort_week.day, r.week_offset): (r.n_active, r.cohort_size, r.retained_frac)
        for r in retention_cohorts(ev).collect()
    }
    assert out[(1, 0)] == (2, 2, 1.0)
    assert out[(1, 1)] == (1, 2, 0.5)
    assert out[(8, 0)] == (1, 1, 1.0)
    assert out[(8, 2)] == (1, 1, 1.0)
    assert (1, 2) not in out


def test_cluster_sizes_join_back_not_window(spark, sf_dir):
    """L9's n_members must be a combiner groupBy + join-back, not
    count() over a cluster_id window (VERDICT r12 item 2): a planted
    10k-member mega-cluster — boilerplate dedup's normal output — must
    not funnel into one WindowExec task after the CC loop was made
    skew-proof. Pins (a) no window spec anywhere in the helper's plan,
    (b) a map-side partial count keyed on cluster_id, and (c) exact
    sizes on the planted frame (mega-cluster + singletons)."""
    from pipelinejobs_indexer_spark.llm.dedup import _attach_cluster_sizes

    labels = spark.range(10_000).select(
        F.col("id").alias("doc_id"), F.lit(0).alias("cluster_id")
    ).unionByName(
        spark.range(10_000, 10_100).select(
            F.col("id").alias("doc_id"), F.col("id").alias("cluster_id")
        )
    )
    out = _attach_cluster_sizes(labels)
    plan = _formatted_plan(out)
    assert "windowspecdefinition" not in plan, plan
    assert "partial_count" in plan, plan
    sizes = {r.doc_id: r.n_members for r in out.collect()}
    assert len(sizes) == 10_100
    assert sizes[0] == 10_000 and sizes[42] == 10_000
    assert sizes[10_050] == 1
    # and the REGISTERED query's final stage carries no window either
    # (the CC loop's windows sit behind checkpoints, outside this plan)
    qplan = _formatted_plan(registry.QUERIES["llm_dedup_clusters"](spark, sf_dir))
    assert not re.search(r"windowspecdefinition\(cluster_id", qplan), qplan


def test_canonical_argmax_join_back_not_window(spark, sf_dir):
    """L9c's canonical selection must be a combiner-groupBy argmax +
    join-back, not first_value over a cluster_id window (VERDICT r13
    item 1 — the sibling of the n_members fix above): the same planted
    mega-cluster must not funnel into one WindowExec task to pick one
    winner. Pins (a) no window spec anywhere in the helper's plan, (b)
    a map-side partial max_by keyed on cluster_id, and (c) exact
    winners on the planted frame: highest score wins, lowest doc_id
    breaks ties, singletons are their own canonical."""
    from pipelinejobs_indexer_spark.llm.dedup import _attach_canonical

    scored = spark.range(10_000).select(
        F.col("id").alias("doc_id"),
        F.lit(0).alias("cluster_id"),
        # two docs tie at the top score 0.9 (ids 7 and 13): lowest id wins
        F.when(F.col("id").isin(7, 13), F.lit(0.9))
        .otherwise(F.lit(0.5))
        .alias("score"),
    ).unionByName(
        spark.range(10_000, 10_100).select(
            F.col("id").alias("doc_id"),
            F.col("id").alias("cluster_id"),
            F.lit(0.3).alias("score"),
        )
    )
    out = _attach_canonical(scored)
    plan = _formatted_plan(out)
    assert "windowspecdefinition" not in plan, plan
    assert "partial_max_by" in plan, plan
    rows = {r.doc_id: r for r in out.collect()}
    assert len(rows) == 10_100
    assert rows[0].canonical_id == 7 and not rows[0].is_canonical
    assert rows[7].canonical_id == 7 and rows[7].is_canonical
    assert rows[13].canonical_id == 7 and not rows[13].is_canonical
    assert rows[10_050].canonical_id == 10_050 and rows[10_050].is_canonical
    # and the REGISTERED L9c plan carries no cluster_id window either
    qplan = _formatted_plan(registry.QUERIES["llm_dedup_canonical"](spark, sf_dir))
    assert not re.search(r"windowspecdefinition\(cluster_id", qplan), qplan


def test_winnow_df_is_combiner_groupby_not_window(spark, sf_dir):
    """L2p's df stage must not be a count-over-fp WINDOW: the only window
    spec in the plan is the per-doc sliding min. The combiner count and
    broadcast prune are pinned by
    test_capped_dedup_plan_is_bounded_equi_joins[llm_dedup_winnow]."""
    plan = _formatted_plan(registry.QUERIES["llm_dedup_winnow"](spark, sf_dir))
    specs = re.findall(r"windowspecdefinition\((\w+)", plan)
    assert specs and set(specs) == {"doc_id"}, specs


# the '117' || sha256(orderkey) process-uuid expression as Spark prints it
_PROC_HASH = re.compile(r"concat\('?117'?, sha2\(")


def test_provenance_join_is_int_keyed_no_explode(spark, sf_dir):
    """J2 (r15): the provenance join runs on the integer job_key — the
    injective '117'||sha256(orderkey) makes proc equality equivalent to
    key equality — so the plan must carry NO Generate (explode) node,
    join on the long key, and never compute the pruned proc sha256."""
    plan = _formatted_plan(
        registry.QUERIES["join_files_job_provenance"](spark, sf_dir)
    )
    assert "Generate" not in plan, plan
    assert re.search(r"Join cond.*job_key|\[job_key", plan) or "job_key" in plan, plan
    # exactly the two output uuid sha2s remain (file_uuid + job uuid);
    # the per-row '117' proc hash is gone from both sides. Anchored to
    # the hash expression: a bare "117" also matches expression ids
    # such as #1175L.
    assert not _PROC_HASH.search(plan), plan
    # positive control: the salted twin still explodes the proc hash,
    # so the pattern is known to match a plan that computes it
    salted = _formatted_plan(
        registry.QUERIES["join_provenance_salted"](spark, sf_dir)
    )
    assert _PROC_HASH.search(salted), salted


def test_provenance_arrays_are_single_element(spark, sf_dir):
    """The int-keyed join_files_job_provenance equals the unnest +
    proc equi-join its oracle states only while every generated_by
    array in both fixtures holds exactly one element."""
    for build in (archive_files, jobs):
        rows, bad = build(spark, sf_dir).agg(
            F.count("*"), F.count(F.when(F.size("generated_by") != 1, 1))
        ).first()
        assert rows > 0 and bad == 0, (build.__name__, rows, bad)


def test_fixture_builders_are_plan_memoized(spark, sf_dir):
    """The fixture builders must return the SAME DataFrame handle within
    one session (the construct-time plan memo, r15) — and distinct
    variants must not collide."""
    from pipelinejobs_indexer_spark.tables import archive_files, jobs

    assert jobs(spark, sf_dir) is jobs(spark, sf_dir)
    assert archive_files(spark, sf_dir) is archive_files(spark, sf_dir)
    assert archive_files(spark, sf_dir) is not archive_files(
        spark, sf_dir, spread=False
    )
    # defaults are bound before keying: omitted and explicit spread=True
    # are one entry, as are positional and keyword sf_dir
    assert archive_files(spark, sf_dir) is archive_files(
        spark, sf_dir, spread=True
    )
    assert jobs(spark, sf_dir) is jobs(spark, sf_dir=sf_dir)
    with pytest.raises(TypeError):
        archive_files(spark, sf_dir, True)


def test_plan_memo_evicts_other_applications(spark, sf_dir):
    """A miss under a new applicationId drops every other application's
    fixture plans, so the memo never pins dead sessions' DataFrames."""
    from pipelinejobs_indexer_spark import tables

    stale = ("app-that-ended", "jobs", ("sf_dir", sf_dir))
    tables._PLAN_CACHE[stale] = None
    app = spark.sparkContext.applicationId
    for k in [k for k in tables._PLAN_CACHE if k[1] == "messages"]:
        del tables._PLAN_CACHE[k]
    tables.messages(spark, sf_dir)
    assert stale not in tables._PLAN_CACHE
    assert {k[0] for k in tables._PLAN_CACHE} == {app}


@pytest.mark.parametrize(
    "name",
    ["pipeline_document_ingest", "llm_multimodal_pdf", "llm_dedup_videohash"],
)
def test_decode_leg_spread_keeps_scan_width_memo(spark, sf_dir, name):
    """The decode legs project doc_id AFTER spread(), so spread() sees
    load_table's scan marker and memoizes the width probe; projecting
    first would drop the marker and re-probe on every construction. The
    round-robin exchange still sits under the decode."""
    from pipelinejobs_indexer_spark import tables

    tables._SCAN_WIDTH_CACHE.clear()
    df = registry.QUERIES[name](spark, sf_dir)
    key = (spark.sparkContext.applicationId, f"{sf_dir}/documents.parquet")
    assert key in tables._SCAN_WIDTH_CACHE
    assert "RoundRobinPartitioning" in _formatted_plan(df)


def test_map_row_batches_types_columns_from_schema():
    """map_rows' batch generator, driven directly with pandas (no Spark
    session): per_row gets each input row's columns positionally and
    may yield 0, 1 or 3 rows; the output columns follow the schema's
    order with bigint -> int64, boolean -> bool and anything else
    object, and a batch whose rows all yield nothing still carries
    those columns and dtypes."""
    import pandas as pd
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from pipelinejobs_indexer_spark.tables import map_row_batches

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("tag", StringType()),
            StructField("odd", BooleanType()),
        ]
    )

    def per_row(doc_id, n):
        for i in range(n):
            yield doc_id, f"t{i}", i % 2 == 1

    batches = [
        pd.DataFrame({"doc_id": [10, 11, 12], "n": [0, 1, 3]}),
        pd.DataFrame({"doc_id": [13, 14], "n": [0, 0]}),
    ]
    full, empty = map_row_batches(batches, per_row, schema)
    for out in (full, empty):
        assert list(out.columns) == ["doc_id", "tag", "odd"]
        assert [str(t) for t in out.dtypes] == ["int64", "object", "bool"]
    assert full.values.tolist() == [
        [11, "t0", False],
        [12, "t0", False],
        [12, "t1", True],
        [12, "t2", False],
    ]
    assert len(empty) == 0
