"""Regenerate PLANS.md: formatted physical plans for the headline queries.

Run from the repo root: python scripts/dump_plans.py
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pipelinejobs_indexer_spark import registry
from pipelinejobs_indexer_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.01"

# query -> what to look for in its plan (rendered as commentary)
SHOWCASE = {
    "filter_regex": "single WholeStageCodegen span; ReadSchema pruned to 4 columns",
    "join_job_pipeline": "BroadcastHashJoin — dim side broadcast, fact never shuffles",
    "join_files_job_provenance": "int-keyed provenance join (r15): no Generate, 8-byte join key, proc sha256 pruned on both sides",
    "join_asof_state": "no Join operator at all: union timeline + Window carry-forward",
    "join_range_events_in_run": "equi join on (uuid, time-bucket) with range residual",
    "agg_state_rollup": "partial (map-side) + final HashAggregate, one exchange",
    "topk_recent_jobs": "TakeOrderedAndProject — no global sort",
    "llm_dedup_minhash": "banding equi-joins; no cross join anywhere",
    "llm_similarity_topk": "BroadcastNestedLoop only against the 5-row query set",
    "llm_text_stats": "pure projection — scan-speed pass, zero exchanges",
    "pipeline_index_job": "the composed reference path as one multi-join DAG",
    "sort_history": "range partition + local rank + broadcast offsets — no single-partition Window funnel",
    "llm_dedup_embedding_lsh": "bucket equi-join + hamming-1 probes; no nested-loop pair scan",
    "llm_dedup_ngram_jaccard": "prefix-filtered candidate equi-join (AllPairs); no cross join",
    "join_bucketed_colocated": "two bucketed scans, no shuffle Exchange anywhere (broadcast at this scale; the bucketed SortMergeJoin variant is pinned in tests/test_plans.py)",
    "llm_corpus_sample": "pure codegen hash-threshold filter, zero shuffle",
    "llm_substring_recall_eval": "shipped + exhaustive span pipelines joined into a single-row scorecard; every join candidate-bounded",
    "llm_multimodal_jpeg_dsp": "pure mapInPandas — JPEG synthesis + float-IDCT decode worker-side, five fixed-width columns out",
    "llm_multimodal_pdf_images": "zero-exchange mapInPandas — PDF object graph, raster filters (DCT/LZW/RLE/Flate), and decryption all worker-side; only pixel-sum rows leave",
    "llm_multimodal_audio_codecs": "zero-exchange mapInPandas — G.711 expansion + IMA step-table walk worker-side, exact-integer feature rows out",
    "llm_multimodal_pdf_fax": "zero-exchange mapInPandas — CCITTFaxDecode (T.4/T.6) + ImageMask/Decode handling worker-side inside the cipher/container cycle, six-int rows out",
    "llm_multimodal_tiff_tiled": "zero-exchange mapInPandas — tile-grid assembly, per-tile codec/predictor resets, sub-8 depths, multi-page IFD chains all worker-side, five-int rows out",
    "llm_dsir_select": "two-pass DSIR: doc×bucket combine → broadcast 512-row model join → TakeOrderedAndProject; the model itself is collected driver state",
    "scan_webdataset": "one sequential read per shard tar; sample assembly is a shard-local groupBy with map-side partial aggregation",
    "sink_webdataset": "one applyInPandas task per shard writing a real tar sequentially; only 4-column stats rows leave workers",
    "pipeline_document_ingest": "decode (mapInPandas) → Catalyst feature expressions (WholeStageCodegen, no second UDF) → one 8-group rollup exchange",
    "llm_embedding_quantize": "pure projection over the embeddings scan",
    "llm_token_ngram_topk": "explode → partial/final HashAggregate → TakeOrderedAndProject",
    "agg_key_skew_profile": "combiner groupBy + broadcast single-row total + top-k heap",
    "llm_corpus_curate_full": "full curation DAG: combiner min_by dedup groupBy (r14; was a window) + df-capped contamination (hot-shingle broadcast prune) + broadcast anti-join + codegen gates, <=9 static exchanges (spreads dedupe to ReusedExchange at runtime)",
    "llm_contamination_check": "df-capped decontamination: combiner df groupBy streamed against BROADCAST eval occurrences (df <= cap filter) -> broadcast eval join; fan-out <= cap by construction, every broadcast eval-sized",
    "win_gapfill_states": "union timeline + one last(ignorenulls) window — no grid×events pair join",
    "llm_similarity_ivf": "inverted-file build is a broadcast centroid-array fold — corpus never shuffles; only candidates reach the top-k window",
    "llm_sequence_pack": "one shard-key exchange + per-shard running-sum Window, all integer",
    "llm_text_repetition": "array metrics ride the scan; two combiner HashAggregates, no join-back",
    "llm_corpus_shuffle_shard": "hash exchange on shard + per-shard local sort — no global sort",
    "llm_dedup_incremental": "map-side batch collapse → anti equi-join (runtime-bloom-prunable snapshot side)",
    "llm_dedup_incremental_minhash": "batch hashing + band equi-join into the read-back parquet signature index; candidate-only verify, anti-join admit",
    "llm_quality_calibrate": "codegen score projection + one combiner groupBy (exact interpolated percentiles)",
    "llm_embedding_knn_eval": "broadcast probe set × one corpus scan; vote/accuracy aggs on probe-sized data",
    "llm_corpus_curate_v2": "v1 DAG + repetition groupBys + broadcast 5-row calibrated threshold; zero pair joins",
    "fn_token_hashid": "one ArrowEvalPython stage over a pruned scan — the exact-hashids slow path, batched",
    "llm_multimodal_thumbnail_png": "MapInPandas over a single pruned column (doc_id) — decode fan-out, content never shuffled",
    "udf_validate_json_ref": "JVM to_json projection feeding one ArrowEvalPython validation stage",
    "agg_approx_distinct": "exact Expand(3x) agg and sketch-side plain agg as separate single-row branches, cross-joined",
    "llm_dedup_semantic": "broadcast-centroid assignment fold + within-cell pair check — one hash exchange on cell, no global pair join",
    "llm_dedup_containment": "df-capped inverted-index equi-join over the cached discriminative-shingle table; pair-count + size joins, no pair scan",
    "sink_zorder_layout": "box query over the z-ordered copy: both literal predicates pushed to the scan (2-dim file skipping), no join",
    "scan_archive_members": "binaryFile zip-only listing feeding one MapInPandas central-directory parse",
    "stream_dead_letter": "per-key high-water mark via FlatMapGroupsInPandasWithState — one hash exchange on job_key",
    "llm_doc_chunk": "pure codegen chunking: split → sequence explode → slice/concat, zero shuffles",
    "llm_text_bm25": "term filter rides the token explode; df/stats broadcast; TakeOrderedAndProject top-k",
    "llm_multimodal_jpeg": "one MapInPandas decode stage over the pruned doc_id scan — bytes never shuffle",
    "llm_dedup_substring": "anchor-sample candidates + cached positional table + diagonal-run combiner groupBys; no per-pair alignment",
    "llm_corpus_curate_v4": "v3 stack + broadcast LEFT ANTI span gate — still zero corpus pair joins",
    "llm_corpus_curate_v5": "v4 stack + ONE broadcast LEFT ANTI over the union of the three multimodal pair sets (phash/audiohash/videohash doc_b) — the cross-modality keep/drop plan, zero new corpus-scale shuffles",
    "llm_bpe_train": "the K driver-collected rules as one small createDataFrame scan (Scan ExistingRDD) — the loop ran one small argmax action per step (pair explode → combiner groupBy → 1-row TakeOrdered over the cached vocab-sized word table), each winning pair bound as literals into the next codegen replace",
    "llm_multimodal_video_frames": "one MapInPandas stage over the pruned doc_id scan — AVI walk + per-frame JPEG decode in place, only 9-int rows shuffle",
    "llm_multimodal_gif": "real GIF decode via mapInPandas: ArrowEvalPython over the doc_id projection only — O(rows) leaves the worker, no media bytes shuffle",
    "llm_multimodal_webp": "real lossless-WebP (VP8L) decode via mapInPandas over the pruned doc_id scan — prefix codes + LZ77 + transforms run in place, only 3-int rows shuffle",
    "llm_multimodal_flac": "real FLAC decode via mapInPandas over the pruned doc_id scan — rice/LPC/CRC/MD5 verification in place, only 4-int rows shuffle",
    "llm_dedup_cdc":"per-doc array-expression chunking (no position explode) → one combiner groupBy on the chunk hash",
    "llm_ngram_novelty": "cached shingle table feeds both sides: first-occurrence groupBy + equi-join back + per-doc agg, no pair joins",
    "llm_dedup_source_matrix": "minhash pair DAG + two source-lookup joins where the pruned (doc_id, source) corpus scans STREAM against broadcast pair-sized builds; one |sources|^2-key groupBy is the only new exchange",
    "llm_embedding_kmeans": "final Lloyd assignment: broadcast-literal argmin fold in one codegen projection over the checkpointed quantized scan — no join, no exchange (each training iteration added only a posexplode→combiner groupBy collecting k×dim rows)",
    "llm_classifier_logreg": "final scoring pass: trained weights ride the plan as a literal array inside one codegen sigmoid projection — zero exchanges (each gradient sweep was a posexplode→combiner groupBy of dim+1 exact-integer rows)",
    "llm_text_tfidf_keywords": "ONE corpus scan: explode → combiner groupBy (doc,term), df via count window over the same frame (no self-join re-scan), per-doc top-k lowered to WindowGroupLimit",
    "llm_dedup_clusters": "large-star/small-star CC behind checkpoints; n_members via combiner groupBy + join-back (no cluster_id window — a mega-cluster never funnels into one task)",
    "llm_corpus_split": "deterministic 90/5/5 holdout: pure codegen hash-bucket projection, zero shuffle beyond the fixture spread",
    "llm_dedup_canonical": "component labels broadcast into one cached scored-documents pass + combiner max_by argmax join-back (r14; was a first_value window) — no corpus-scale shuffle beyond L9's own",
    "llm_embedding_dim_stats": "posexplode → one combiner groupBy on the dimension key: partial agg below the single hash exchange, shuffle O(tasks×dims), all moments on the exact integer grid",
    "llm_dedup_bloom": "snapshot pre-digested to a ≤m-row relational bit-set (one combiner distinct) that BROADCASTS into the k-probe join; batch collapses map-side; the only corpus-scale exchange is the once-per-epoch snapshot distinct",
    "llm_corpus_mix_sample": "distributed prefix sum: range-bucket on the priority key's top bits → combiner groupBy to a sources×16 frame (offsets + budget via tiny windows) → broadcast equi-join back → window WITHIN (source,bucket), 16× the naive per-source parallelism; 2 corpus scans, no nested-loop join",
    "llm_vocab_coverage": "one corpus-scale (source,token) combiner exchange; top-V cut is TakeOrderedAndProject over the types frame; vocab rejoins as a ≤V-row broadcast",
    "llm_embedding_outliers": "codegen per-vector squared-norm fold → 1-row stat aggregate broadcast back → codegen exact-decimal z-flag; no vector-payload shuffle, no corpus window",
    "llm_split_leakage": "L2a's banded pair DAG + pure md5 split labels computed ON the pair frame (zero extra corpus scans/joins) → groupBy over the leak set only",
    "llm_corpus_report": "score/hash/split codegen riding ONE scan into ONE groupBy(source); the two exact distincts Expand 3x inside that exchange; token share via a global window over the tiny per-source frame",
    "llm_corpus_curriculum": "codegen score → 1-row exact-percentile broadcast → one (stage, shard) hash exchange + per-shard local sorts — no global difficulty sort",
    "llm_embedding_pq": "final encoding: per-subspace broadcast-literal argmin folds in one codegen projection — zero exchanges (each training iteration added one combiner groupBy of m*k*subdim rows)",
    "stream_bloom_ingest": "stateless stream gate: 1-row set-bit array broadcast into the feed, forall/array_contains codegen decision — no watermark, no state store, no stream-side shuffle",
    "llm_similarity_pq": "ADC scan: per-probe m*k integer distance tables as broadcast literals, m element_at lookups per vector in codegen; only exchange is the per-probe top-k window",
    "llm_similarity_ivfpq": "IVF cell + PQ codes off ONE corpus pass (independent codegen folds); broadcast probe-cell map -> map-side candidate join -> candidate frame broadcast onto codes; zero corpus-scale exchanges in the search",
    "llm_dedup_winnow": "per-doc sliding window-min (the ONLY Window, doc-partitioned) -> combiner df groupBy + BROADCAST over-cap anti-prune -> fp equi-join; hot fingerprints never concentrate in one task",
    "llm_dedup_audiohash": "one mapInPandas FLAC round-trip leg (spread) -> 16x16-bit band equi-join -> XOR popcount verify on candidates only; pigeonhole-exact at radius 12",
    "llm_dedup_videohash": "AVI walk + T.81 frame decode leg (spread) -> combiner per-key df + broadcast anti-prune -> (frame_idx, fhash, n_frames) band join -> kept-count verify; hot-frame fan-out <= cap by construction",
    "llm_video_containment": "frame decode leg -> per-fhash df broadcast prune -> fhash equi-join -> offset-histogram alignment; no pair scan, per-key fan-out <= cap",
    "fn_storage_uri_map": "literal CASE projection over the config-sized system table — zero shuffle, never a join",
}


def main() -> None:
    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    registry.load_all()
    out = [
        "# PLANS — formatted physical plans of every registered query",
        "",
        "Regenerate with `python scripts/dump_plans.py` (sf0.01 inputs; plan",
        "shapes are scale-invariant, only statistics change). Every registry",
        "name gets a section (tests/test_parity.py pins the coverage, VERDICT",
        "r11 item 3); the annotated entries are the headline shapes reviewed",
        "against the claims in the operator docstrings — this file is the",
        "`.explain(\"formatted\")` evidence trail. Streaming queries execute",
        "synchronously and return a batch result frame, so their dumped plan",
        "is the materialized sink read — the streaming shape claims live in",
        "their docstrings and tests.",
        "",
    ]
    # SHOWCASE (annotated) entries first, then every remaining registry
    # name sorted by name — full coverage, no silent omissions, and a
    # section order that keeps diffs small when a query is added,
    # renamed or moved between modules
    names = list(SHOWCASE) + sorted(n for n in registry.QUERIES if n not in SHOWCASE)
    for name in names:
        note = SHOWCASE.get(
            name,
            "plan dumped for coverage — shape claims in the operator docstring",
        )
        # per-query cache isolation (r13 review): a cached subtree from
        # an earlier query (e.g. the tfidf join twin's tf.cache()) would
        # otherwise splice an InMemoryTableScan into a later dumped plan
        # via the shared CacheManager — PLANS.md must show each query's
        # OWN shape, same discipline as bench.py and the driver surface
        spark.catalog.clearCache()
        df = registry.QUERIES[name](spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        tree = plan.split("\n\n")[0]
        schemas = re.findall(r"ReadSchema: [^\n]*", plan)
        out += [f"## {name}", "", f"*{note}*", "", "```", tree.rstrip(), "```", ""]
        if schemas:
            out += ["Scans:", ""]
            out += [f"- `{s[:160]}`" for s in dict.fromkeys(schemas)]
            out += [""]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
