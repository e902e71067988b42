"""Heavy-tail sf1 scale probe (run after scripts/make_scale_probe.py).

Runs the four most expensive operators at sf0.1 (the bench scale) and at
the generated sf1 probe (10x documents/embeddings), and reports per-query
wall-clock, the scaling ratio, and the physical-plan Exchange count at
both scales. Pass criteria (recorded in BENCH_sf1.md):

  * no super-linear blowup — sf1 time < 10x sf0.1 time per query;
  * no new Exchange appears in any plan at the larger scale.

Tables the probe queries do not stress (everything except documents /
embeddings) are symlinked from sf0.1 so loaders resolve.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

SF01 = "/root/testdata/sf0.1"
QUERIES = [
    "llm_dedup_minhash",
    "llm_dedup_clusters",
    "llm_corpus_curate_v3",
    "llm_similarity_ann",
    # round-4 additions with corpus-shaped cost profiles
    "llm_dedup_substring",
    "llm_dedup_containment",
    "llm_bpe_train",
    # round-5 additions
    "llm_dedup_cdc",
    "llm_ngram_novelty",
]
# second-decade mode (`scale_probe.py sf10`): sf1 -> sf10 on the curation
# family only — the group whose sf1 ratio warranted a trend check
CURATION = [
    "llm_corpus_curate_full",
    "llm_corpus_curate_v2",
    "llm_corpus_curate_v3",
    "llm_corpus_curate_v4",
    # round 13: the cross-modality capstone joins the family
    "llm_corpus_curate_v5",
]
# second-decade mode for the dedup heavy family (`scale_probe.py dedup10`,
# VERDICT r6 item 4): the 100 TB workhorses had only sf1 evidence
DEDUP_HEAVY = [
    "llm_dedup_minhash",
    "llm_dedup_clusters",
    "llm_dedup_incremental_minhash",
    "llm_dedup_substring",
    "llm_dedup_containment",
]
# trainer mode (`scale_probe.py train10`, round 7): the iterative
# trainers at the sf1 probe's 20k vectors vs emb10's 200k. The census
# covers the RETURNED final pass only (the per-iteration gradient /
# centroid jobs execute inside the timed construction, each its own
# query); linear time growth is the claim under test — every iteration
# is a scan + combiner groupBy whose reduce side is O(k x dim) rows.
TRAINERS = [
    "llm_embedding_kmeans",
    "llm_classifier_logreg",
]
# embedding-index mode (`scale_probe.py embed10`, round 7): the three
# embedding-family index/dedup operators that had no beyond-bench probe
# evidence, at sf0.1's 2k vectors vs the sf1 probe's 20k (10x). The IVF
# centroid count tracks ~n/stride, so the broadcast fold's literal grows
# with scale by design — the claim under test is that the corpus-side
# plan shape (zero-shuffle assignment, bucket equi-joins) is unchanged.
# Outcome (BENCH_sf1.md round-7 addendum): IVF/semantic scale cleanly;
# the LSH dedup tripped the superlinear flag at the FIXED fixture knob
# (quadratic candidate growth, not a plan change) — the follow-up knob
# matrix lives in scripts/lsh_sizing_probe.py.
EMBED = [
    "llm_similarity_ivf",
    "llm_dedup_semantic",
    "llm_dedup_embedding_lsh",
]
# PQ-family mode (`scale_probe.py pq10`, round 7 continuation): the PQ
# trainer/encoder, the full ADC scan, and the IVFPQ composition at
# sf0.1's 2k vectors vs the sf1 probe's 20k (10x). Claims under test:
# training cost is iters linear scans with O(m x k x subdim) exchanges
# (scale-free reduce side), the ADC scan is one probe x corpus pass,
# and the IVFPQ search adds NO corpus-scale exchange at either scale.
PQ_FAMILY = [
    "llm_embedding_pq",
    "llm_similarity_pq",
    "llm_similarity_ivfpq",
]
# text-heavy mode (`scale_probe.py text10`, round 8, VERDICT r7 item 4):
# the last heavy family with no second-decade row — these share the
# token-explode shape (doc -> words/ngrams explode -> combiner groupBy)
# whose map-side-combine effectiveness under a Zipf vocabulary is the
# claim under test: the reduce side is O(distinct terms), not O(tokens),
# so 10x the docs must cost ~linear time with an UNCHANGED exchange
# census (the explode itself is zero-shuffle codegen).
# perceptual-dedup mode (`scale_probe.py phash10`, round 11): the
# widened 256-bit DCT phash (VERDICT r10 item 2) at sf0.1's 5k docs vs
# the sf1 probe's 50k. Claims under test: unchanged exchange census
# (band equi-join + distinct + sort, no pair join) AND — the r10
# failure — near-linear PAIR OUTPUT growth: the 56-bit dHash emitted
# 11,823 -> 793,525 pairs over the same decade (67x for 10x docs)
# because 8-bit bands over-populate and 56 bits under-discriminate.
PHASH = [
    "llm_dedup_phash",
    # round 11: the FLAC-round-tripped acoustic twin shares the plan;
    # probed for its own decode-leg cost and pair-output linearity
    "llm_dedup_audiohash",
]
# video fingerprint mode (`scale_probe.py video10`, round 11; round 12
# re-probe after the hot-frame df cap landed — the cap adds one
# combiner groupBy + broadcast anti-join per query and must keep the
# decade linear)
VIDEO = [
    "llm_dedup_videohash",
    "llm_video_containment",
]
TEXT_HEAVY = [
    "llm_text_bm25",
    "llm_text_tfidf_keywords",
    "llm_vocab_coverage",
    "llm_bpe_train",
    "llm_bpe_encode",
    "llm_text_logprob",
]


def _link_missing_tables(probe: str) -> None:
    # The PROBE tables (documents/embeddings) must come from
    # make_scale_probe.py — if they are missing, symlinking sf0.1's
    # copies here would silently run both scales on IDENTICAL data and
    # fabricate a perfect ~1.0x "linear scaling" result. Only the
    # non-probe tables (loaders' region/nation/... lookups) get links.
    for t in ("documents", "embeddings"):
        if not os.path.exists(os.path.join(probe, f"{t}.parquet")):
            raise SystemExit(
                f"{probe}/{t}.parquet missing — run "
                f"`python scripts/make_scale_probe.py {os.path.basename(probe)}` first"
            )
    for f in os.listdir(SF01):
        dst = os.path.join(probe, f)
        if f.endswith(".parquet") and not os.path.exists(dst):
            os.symlink(os.path.join(SF01, f), dst)


def _strip_initial_plans(plan: str) -> str:
    """Drop every `== Initial Plan ==` subtree from an executed
    AdaptiveSparkPlan's string. A finalized AQE plan prints BOTH the
    final plan and the pre-execution initial plan — and cached
    InMemoryRelations embed their own finalized AdaptiveSparkPlan
    (with its own initial section) under every consumer — so a raw
    census over the whole string counts each logical exchange up to
    2x(1 + consumers) times, with distinct plan_ids in each section.
    A subtree's lines are exactly those whose tree connector (`+- ` /
    `:- `) sits strictly deeper than the marker's own connector."""
    out, skip_col = [], None
    for line in plan.splitlines():
        m = re.search(r"[+:]\- ", line)
        col = m.start() if m else -1
        if skip_col is not None:
            if col > skip_col or col < 0:
                continue
            skip_col = None
        if "== Initial Plan ==" in line:
            skip_col = col
            continue
        out.append(line)
    return "\n".join(out)


def _plan_stats(df) -> dict:
    """Exchange census of the EXECUTED final adaptive plan. Broadcast
    and shuffle exchanges are split: a join whose build side outgrows
    autoBroadcastJoinThreshold at the larger scale flips BHJ -> SMJ,
    converting one BroadcastExchange into up to two shuffle Exchanges —
    correct adaptive planning, not a plan regression, so the pass
    criterion charges shuffle-exchange growth against observed
    broadcast-exchange disappearances.

    Census rules (round-7 refinement, in order of discovery):
      * initial-plan sections stripped (see _strip_initial_plans);
      * exchanges deduped by plan_id — a cached subtree's stored plan
        prints under every consumer, but its exchanges run once and
        keep one plan_id across printed copies (the raw token census
        flagged a phantom '+7 shuffles' on llm_dedup_substring this
        way); AQE stage reuse likewise reprints the same plan_id,
        never a ReusedExchange node;
      * join nodes carry NO plan_id annotation, so bhj/smj are raw
        token counts over the final-plan text (informational only —
        flip attribution in main() uses the deduped broadcast counts,
        which a duplicated cached-subtree print cannot inflate)."""
    plan = _strip_initial_plans(
        df._jdf.queryExecution().executedPlan().toString()
    )
    seen: set[str] = set()
    keys = []  # normalized (kind, partitioning) per unique exchange
    for kind, detail, pid in re.findall(
        r"\b(BroadcastExchange|Exchange)\b(.*?)\[plan_id=(\d+)\]", plan
    ):
        if pid in seen:
            continue
        seen.add(pid)
        # strip expression ids so the same logical exchange compares
        # equal across scales (attribution diff in main())
        keys.append(f"{kind} {re.sub(r'#[0-9]+L?', '', detail)[:90].strip()}")
    bcast = sum(1 for k in keys if k.startswith("BroadcastExchange"))
    return {
        "exchanges": len(keys),
        "broadcast": bcast,
        "shuffle": len(keys) - bcast,
        "bhj": len(re.findall(r"\bBroadcastHashJoin\b", plan)),
        "smj": len(re.findall(r"\bSortMergeJoin\b", plan)),
        "keys": keys,
    }


def main() -> None:
    from pipelinejobs_indexer_spark import registry
    from pipelinejobs_indexer_spark.session import get_spark

    from bench import force_full_eval

    mode = sys.argv[1] if len(sys.argv) > 1 else ""
    probe_lo = os.path.join(ROOT, ".scale_probe", "sf1")
    _link_missing_tables(probe_lo)
    # second-decade modes (sf1 -> sf10): video20/fingerprint20 are the
    # round-12 df-cap / DCT families joining the dedup10-style evidence
    SECOND_DECADE = {
        "sf10": CURATION,
        "dedup10": DEDUP_HEAVY,
        "text10": TEXT_HEAVY,
        "video20": VIDEO,
        "fingerprint20": PHASH,
    }
    if mode in SECOND_DECADE:
        probe_hi = os.path.join(ROOT, ".scale_probe", "sf10")
        _link_missing_tables(probe_hi)
        scales = (("sf1", probe_lo), ("sf10", probe_hi))
        queries = SECOND_DECADE[mode]
    elif mode == "train10":
        probe_hi = os.path.join(ROOT, ".scale_probe", "emb10")
        _link_missing_tables(probe_hi)
        scales = (("emb1", probe_lo), ("emb10", probe_hi))
        queries = TRAINERS
    elif mode == "embed10":
        scales = (("sf0.1", SF01), ("sf1", probe_lo))
        queries = EMBED
    elif mode == "pq10":
        scales = (("sf0.1", SF01), ("sf1", probe_lo))
        queries = PQ_FAMILY
    elif mode == "phash10":
        scales = (("sf0.1", SF01), ("sf1", probe_lo))
        queries = PHASH
    elif mode == "video10":
        scales = (("sf0.1", SF01), ("sf1", probe_lo))
        queries = VIDEO
    elif mode == "winnow10":
        # round 12: first decade for the winnowing fingerprints after
        # the combiner-df shape fix (the third weak-flagged query)
        scales = (("sf0.1", SF01), ("sf1", probe_lo))
        queries = ["llm_dedup_winnow"]
    elif mode == "curate5":
        # round 13: first decade for the cross-modality capstone alone
        # (sf10's videohash leg is minutes — probe v5's own composition
        # overhead at sf1 first)
        scales = (("sf0.1", SF01), ("sf1", probe_lo))
        queries = ["llm_corpus_curate_v4", "llm_corpus_curate_v5"]
    elif mode == "dfcap12":
        # round 12: the combiner-df shape replaced the count-over-key
        # window in containment + substring anchors — re-probe the two
        # for unchanged linearity and no exchange regression
        scales = (("sf0.1", SF01), ("sf1", probe_lo))
        queries = ["llm_dedup_containment", "llm_dedup_substring"]
    else:
        scales = (("sf0.1", SF01), ("sf1", probe_lo))
        queries = QUERIES
    lo, hi = scales[0][0], scales[1][0]
    print(f"PROBE mode={mode or 'default'} scales={lo}->{hi} "
          f"queries={list(queries)}", flush=True)
    spark = get_spark("scale-probe")
    registry.load_all()
    spark.read.parquet(f"{SF01}/nation.parquet").count()

    results: dict[str, dict] = {}
    for name in queries:
        row: dict = {}
        stats: dict[str, dict] = {}
        for label, sf_dir in scales:
            best = None
            for _ in range(2):  # best-of-2 warm, matching bench.py
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                df = registry.QUERIES[name](spark, sf_dir)
                n = force_full_eval(df)
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            # census an EXECUTED plan (round-7 refinement): the
            # pre-execution string duplicates cached subtrees under every
            # consumer and predates AQE's exchange reuse — e.g.
            # llm_dedup_substring's flipped anchor self-join printed the
            # anchor-side window/distinct pipeline once per side
            # pre-exec (+7 shuffles for 3 flips), while the executed
            # plan is size-invariant. force_full_eval runs a DERIVED
            # frame (its hash-agg wrapper gets its own AdaptiveSparkPlan),
            # so finalize THIS df's own adaptive plan with a collect()
            # before reading it — df.collect() drives df's own
            # QueryExecution, the plan the census is about.
            spark.catalog.clearCache()
            df = registry.QUERIES[name](spark, sf_dir)
            df.collect()
            stats[label] = _plan_stats(df)
            row[f"{label}_exchanges"] = stats[label]["exchanges"]
            row[f"{label}_shuffle_exchanges"] = stats[label]["shuffle"]
            row[f"{label}_sec"] = round(best, 3)
            row[f"{label}_rows"] = n
        row["ratio"] = round(row[f"{hi}_sec"] / row[f"{lo}_sec"], 2)
        row["superlinear"] = row["ratio"] >= 10
        # broadcast->SMJ flips at the larger scale each add up to 2 shuffle
        # exchanges; only growth beyond that is an actual plan regression.
        # Counted as broadcast-EXCHANGE disappearances (plan_id-deduped),
        # not join-node deltas: join nodes have no plan_id, so a cached
        # subtree printed under N consumers would inflate a join census
        flips = max(0, stats[lo]["broadcast"] - stats[hi]["broadcast"])
        row["broadcast_flips"] = flips
        row["new_exchanges"] = (
            stats[hi]["shuffle"] - stats[lo]["shuffle"] > 2 * flips
        )
        if row["new_exchanges"]:
            # above-allowance growth demands attribution, not a silent
            # flag: emit the per-exchange diff (normalized keys) so the
            # reader can tell flip CASCADE — a flipped SMJ stops
            # propagating the streamed side's partitioning, forcing
            # downstream windows/aggs to re-shuffle — from a genuinely
            # new plan stage (the only kind that is a regression)
            from collections import Counter

            c_lo = Counter(stats[lo]["keys"])
            c_hi = Counter(stats[hi]["keys"])
            row["exchange_diff"] = {
                k: [c_lo[k], c_hi[k]]
                for k in sorted(set(c_lo) | set(c_hi))
                if c_lo[k] != c_hi[k]
            }
        for s in stats.values():
            s.pop("keys", None)
        results[name] = row
        print(name, json.dumps(row))
    print(json.dumps({"probe": results}))
    spark.stop()


if __name__ == "__main__":
    main()
