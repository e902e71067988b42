"""LLM-pipeline operator semantics beyond the DuckDB parity gate:
LSH recall against exact answers, simhash banding exactness, and the
multimodal Arrow plumbing + stub contracts."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pipelinejobs_indexer_spark.llm import multimodal  # noqa: E402
from pipelinejobs_indexer_spark.llm.dedup import (  # noqa: E402
    llm_dedup_embedding,
    llm_dedup_embedding_lsh,
    llm_dedup_minhash,
    llm_dedup_ngram_jaccard,
)
from pipelinejobs_indexer_spark.llm.similarity import (  # noqa: E402
    llm_similarity_ann,
    llm_similarity_ivf,
    llm_similarity_topk,
)

SF = "/root/testdata/sf0.001"


def test_minhash_recall_vs_exact(spark):
    """LSH banding (4x4 over 16 sigs) must recover essentially all
    >=0.8-jaccard pairs: P(candidate | s=0.8) = 1-(1-0.8^4)^4 ~ 0.87 per
    independent hash family, but the planted pairs sit at ~0.98 where
    P ~ 0.9996 — on this corpus recall should be total."""
    exact = {
        (r.doc_a, r.doc_b) for r in llm_dedup_ngram_jaccard(spark, SF).collect()
    }
    lsh = {(r.doc_a, r.doc_b) for r in llm_dedup_minhash(spark, SF).collect()}
    assert lsh <= exact  # LSH verifies candidates with exact jaccard: no FPs
    assert len(lsh) >= 0.9 * len(exact)
    assert exact, "corpus should contain planted near-dup pairs"


def test_embedding_lsh_is_subset_with_decent_recall(spark):
    """The bucketed embedding dedup must be a strict subset of the exact
    pair scan (candidates are exact-cosine verified, so no false
    positives), with the cosines bit-identical on shared pairs and
    non-collapsed recall (hamming-1 multi-probe over 4 planes)."""
    exact = {(r.vec_a, r.vec_b): r.cosine for r in llm_dedup_embedding(spark, SF).collect()}
    lsh = {(r.vec_a, r.vec_b): r.cosine for r in llm_dedup_embedding_lsh(spark, SF).collect()}
    assert exact, "corpus should contain >=threshold cosine pairs"
    assert set(lsh) <= set(exact), "LSH produced a pair the exact scan lacks"
    for pair, cos in lsh.items():
        assert abs(exact[pair] - cos) < 1e-9
    recall = len(lsh) / len(exact)
    assert recall >= 0.2, f"bucketed recall collapsed: {recall}"


def test_ann_is_subset_with_decent_recall(spark):
    """Every ANN hit must appear in the brute-force ranking, and bucketed
    recall@10 should be nontrivial (same-bucket probability for cos~0.5
    neighbors under 4 hyperplanes is ~ (1 - theta/pi)^4)."""
    exact = llm_similarity_topk(spark, SF).collect()
    ann = llm_similarity_ann(spark, SF).collect()
    exact_pairs = {(r.qid, r.vec_id) for r in exact}
    ann_pairs = {(r.qid, r.vec_id) for r in ann}
    exact_cos = {(r.qid, r.vec_id): r.cosine for r in exact}
    for r in ann:
        if (r.qid, r.vec_id) in exact_cos:
            assert abs(exact_cos[(r.qid, r.vec_id)] - r.cosine) < 1e-9
    assert ann_pairs, "ANN returned nothing — buckets degenerate"
    recall = len(ann_pairs & exact_pairs) / len(exact_pairs)
    assert recall >= 0.2, f"bucketed recall collapsed: {recall}"


def test_ivf_is_subset_with_decent_recall(spark):
    """IVF hits must carry brute-force-identical cosines, and nprobe=2
    over ~n/61 cells should recover a nontrivial share of the true
    top-10 (0.48 measured at sf0.01)."""
    exact = llm_similarity_topk(spark, SF).collect()
    ivf = llm_similarity_ivf(spark, SF).collect()
    exact_cos = {(r.qid, r.vec_id): r.cosine for r in exact}
    for r in ivf:
        if (r.qid, r.vec_id) in exact_cos:
            assert abs(exact_cos[(r.qid, r.vec_id)] - r.cosine) < 1e-9
    assert ivf, "IVF returned nothing — cells degenerate"
    exact_pairs = {(r.qid, r.vec_id) for r in exact}
    ivf_pairs = {(r.qid, r.vec_id) for r in ivf}
    recall = len(ivf_pairs & exact_pairs) / len(exact_pairs)
    assert recall >= 0.2, f"IVF recall collapsed: {recall}"


def test_ivf_corpus_assignment_does_not_shuffle(spark):
    """The inverted-file build must stay a broadcast-fold projection:
    the corpus side reaches its cell id with no Exchange between the
    embeddings scan and the cell projection (only the tiny centroid agg
    and the query-side window may exchange)."""
    df = llm_similarity_ivf(spark, SF)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    import re
    # corpus rows flow through BroadcastHashJoin/BroadcastNestedLoopJoin
    # only; any hash-partitioned Exchange over full-width corpus rows
    # (vec_id + 64-double v) would mean the assignment shuffled.
    for m in re.finditer(
        r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]\nArguments: hashpartitioning\(vec_id",
        plan,
    ):
        raise AssertionError("corpus assignment shuffled:\n" + plan)


def test_sequence_pack_matches_greedy_simulation(spark):
    """Differential: the windowed packing assignment must equal a
    sequential concat-then-chunk simulation per shard."""
    from pipelinejobs_indexer_spark.llm.text import (
        PACK_MAX_TOKENS as M,
        PACK_SHARDS as S,
        llm_sequence_pack,
    )
    from pipelinejobs_indexer_spark.tables import load_table

    docs = sorted(
        (r.doc_id, len(r.text.split(" ")))
        for r in load_table(spark, SF, "documents").select("doc_id", "text").collect()
    )
    cum = {s: 0 for s in range(S)}
    sim = {}
    for did, tk in docs:
        s = did % S
        sim[did] = (s, cum[s] // M, cum[s] % M, (cum[s] % M + tk - 1) // M + 1)
        cum[s] += tk
    out = llm_sequence_pack(spark, SF).collect()
    assert len(out) == len(docs)
    for r in out:
        assert sim[r.doc_id] == (r.shard, r.seq_id, r.seq_offset, r.spans), r


def test_multimodal_features_match_content(spark):
    import hashlib

    media = multimodal.media_table(spark, SF)
    feats = {r.doc_id: r for r in multimodal.llm_multimodal_features(spark, SF).collect()}
    arrow = {
        r.doc_id: r
        for r in multimodal.llm_multimodal_features_arrow(spark, SF).collect()
    }
    assert {k: tuple(v) for k, v in feats.items()} == {
        k: tuple(v) for k, v in arrow.items()
    }, "JVM-side features diverge from the Arrow/mapInPandas path"
    sample = media.limit(5).collect()
    assert sample
    for row in sample:
        f = feats[row.doc_id]
        assert f.n_bytes == len(row.content)
        assert f.content_md5 == hashlib.md5(row.content).hexdigest()
        assert f.head_hex == row.content[:8].hex()
        assert f.mime_sniffed == "text/plain"
        assert row.meta.declared_mime == "text/plain"
        assert row.meta.declared_size == row.asDict()["meta"].declared_size


def test_multimodal_magic_sniff():
    assert multimodal.sniff_mime(b"\x89PNG\r\n\x1a\n....") == "image/png"
    assert multimodal.sniff_mime(b"%PDF-1.4 ....") == "application/pdf"
    assert multimodal.sniff_mime(b"PK\x03\x04zipzip") == "application/zip"
    assert multimodal.sniff_mime(b"plain ascii words") == "text/plain"
    assert multimodal.sniff_mime(b"\x00\x01\x02binary") == "application/octet-stream"


def test_multimodal_decode_stubs_raise():
    # PNG decode is real now (png.py); a truncated payload is a data error,
    # not a missing-codec error.
    with pytest.raises(ValueError):
        multimodal.decode_image(b"\x89PNG", "image/png")
    # JPEG decode is real now (jpeg.py); a truncated payload is a data
    # error, while formats with no stdlib path keep the codec contract
    with pytest.raises(ValueError):
        multimodal.decode_image(b"\xff\xd8\xffjpeg", "image/jpeg")
    import struct

    # WebP decode is real now for VP8L (webp.py); a truncated container
    # is a data error, while lossy VP8 (float DSP) keeps the codec
    # contract.
    with pytest.raises(ValueError):
        multimodal.decode_image(b"RIFF....WEBPVP8 ", "image/webp")
    lossy = (
        b"RIFF" + struct.pack("<I", 16) + b"WEBP"
        + b"VP8 " + struct.pack("<I", 4) + b"\x00\x00\x00\x00"
    )
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(lossy, "image/webp")
    # WAV decode is real now (stdlib wave); a truncated RIFF is a data
    # error (stdlib parser errors normalize to ValueError), while
    # compressed formats keep the missing-codec contract.
    with pytest.raises(ValueError):
        multimodal.decode_audio(b"RIFF", "audio/wav")
    with pytest.raises(NotImplementedError):
        multimodal.decode_audio(b"\xff\xfbmp3-frame", "audio/mpeg")
    with pytest.raises(NotImplementedError):
        multimodal.sample_frames(b"\x00", "video/mp4")
    with pytest.raises(ValueError):  # JPEG is decodable; payload truncated
        multimodal.resize_image(b"\xff\xd8\xffjpeg", "image/jpeg", 32, 32)
    with pytest.raises(ValueError):  # WebP is decodable; container truncated
        multimodal.resize_image(b"RIFF....WEBPVP8 ", "image/webp", 32, 32)
    with pytest.raises(NotImplementedError):  # lossy VP8 keeps the stub
        multimodal.resize_image(lossy, "image/webp", 32, 32)


def test_multimodal_frame_fanout_shape(spark):
    """One media row fans out to ceil(n/64) frames sampled every 3rd —
    the UDTF shape of the mapInPandas stage, checked against content."""
    media = multimodal.media_table(spark, SF)
    row = media.limit(1).collect()[0]
    frames = [
        r
        for r in multimodal.llm_multimodal_frames(spark, SF).collect()
        if r.doc_id == row.doc_id
    ]
    n = len(row.content)
    n_frames = (n + 63) // 64
    assert all(r.n_frames == n_frames for r in frames)
    assert sorted(r.frame_idx for r in frames) == list(range(0, n_frames, 3))


def test_corpus_curate_dedups_and_gates(spark):
    """The composed curation pass must keep exactly one doc per distinct
    text (the lowest doc_id), and every survivor must clear the 0.3
    score gate — the two invariants the chained DAG exists to enforce."""
    from pipelinejobs_indexer_spark.llm.text import llm_corpus_curate
    from pipelinejobs_indexer_spark.tables import load_table

    out = llm_corpus_curate(spark, SF).collect()
    assert out, "curation gate dropped the whole corpus"
    assert all(r.score >= 0.3 for r in out)

    docs = load_table(spark, SF, "documents").select("doc_id", "text").collect()
    by_text: dict[str, list[int]] = {}
    for r in docs:
        by_text.setdefault(r.text, []).append(r.doc_id)
    keepers = {min(ids) for ids in by_text.values()}
    out_ids = {r.doc_id for r in out}
    assert out_ids <= keepers, "a non-canonical duplicate survived curation"
    dup_losers = {i for ids in by_text.values() for i in ids} - keepers
    assert not (out_ids & dup_losers)


def test_corpus_sample_stratified_and_deterministic(spark):
    """Sampling must be a deterministic per-language Bernoulli: reruns
    identical, per-language keep rates within binomial noise of the
    configured per-mille rates, and hash-threshold monotone (a tighter
    rate yields a subset)."""
    from pipelinejobs_indexer_spark.llm.text import SAMPLE_RATES, llm_corpus_sample
    from pipelinejobs_indexer_spark.tables import load_table

    a = {r.doc_id for r in llm_corpus_sample(spark, SF).collect()}
    b = {r.doc_id for r in llm_corpus_sample(spark, SF).collect()}
    assert a == b, "sampling not deterministic"
    docs = load_table(spark, SF, "documents")
    totals = {r.lang: r.n for r in docs.groupBy("lang").count().withColumnRenamed("count", "n").collect()}
    kept = {
        r.lang: r.n
        for r in llm_corpus_sample(spark, SF)
        .groupBy("lang")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    for lang, total in totals.items():
        rate = SAMPLE_RATES.get(lang, 200) / 1000
        got = kept.get(lang, 0) / total
        # 4-sigma binomial tolerance at the per-language stratum size
        tol = 4 * (rate * (1 - rate) / total) ** 0.5
        assert abs(got - rate) <= tol, (lang, got, rate, total)


def test_pii_scrub_redacts_everything(spark):
    """Every enriched row carries exactly one email, one phone, and one
    IP; after the scrub no raw PII shape may survive."""
    from pipelinejobs_indexer_spark.llm.text import llm_text_pii_scrub

    out = llm_text_pii_scrub(spark, SF)
    rows = out.collect()
    assert rows
    for r in rows:
        assert r.n_redactions == 3, r
        assert "@example.com" not in r.clean
        assert "<EMAIL>" in r.clean and "<PHONE>" in r.clean and "<IP>" in r.clean


def test_normalized_dedup_at_least_as_coarse_as_exact(spark):
    """Normalization can only merge hash groups, never split them: the
    normalized dedup has <= as many groups as exact dedup and covers the
    same total document count."""
    from pipelinejobs_indexer_spark.llm.dedup import llm_dedup_exact, llm_dedup_normalized

    exact = llm_dedup_exact(spark, SF).collect()
    norm = llm_dedup_normalized(spark, SF).collect()
    assert len(norm) <= len(exact)
    assert sum(r.n_copies for r in norm) == sum(r.n_copies for r in exact)


def test_embedding_quantize_roundtrip_error_bound(spark):
    """Symmetric int8 quantization invariants: every q in [-127, 127] and
    dequantized |q*scale - x| <= scale/2 element-wise."""
    from pipelinejobs_indexer_spark.llm.text import llm_embedding_quantize
    from pipelinejobs_indexer_spark.tables import load_table

    orig = {
        r.vec_id: r.v
        for r in load_table(spark, SF, "embeddings")
        .selectExpr("vec_id", "cast(embedding as array<double>) as v")
        .collect()
    }
    for r in llm_embedding_quantize(spark, SF).collect():
        qs = [int(x) for x in r.q8.split("|")]
        assert all(-127 <= q <= 127 for q in qs)
        # r.scale is rounded to 6dp for the oracle; recompute the true scale
        scale = max(abs(x) for x in orig[r.vec_id]) / 127.0
        for q, x in zip(qs, orig[r.vec_id]):
            assert abs(q * scale - x) <= scale / 2 + 1e-12


def test_ngram_topk_ordering(spark):
    """Top-k bigrams arrive count-descending with the bigram tiebreak, and
    every count must be >= the count of anything outside the top-k."""
    from pipelinejobs_indexer_spark.llm.text import NGRAM_TOP_K, llm_token_ngram_topk

    rows = llm_token_ngram_topk(spark, SF).collect()
    assert 0 < len(rows) <= NGRAM_TOP_K
    keys = [(-r.n, r.bigram) for r in rows]
    assert keys == sorted(keys)


def test_contamination_flags_planted_near_dups(spark):
    """The planted near-dup corpus guarantees some train docs share most
    shingles with eval-split docs; every flagged pair must be train x
    eval with overlap in (0, 1]."""
    from pipelinejobs_indexer_spark.llm.dedup import (
        EVAL_MODULUS,
        llm_contamination_check,
    )

    rows = llm_contamination_check(spark, SF).collect()
    for r in rows:
        assert r.doc_id % EVAL_MODULUS != 0
        assert r.eval_doc_id % EVAL_MODULUS == 0
        assert 0.5 <= r.overlap <= 1.0


def test_mix_weights_rebalance(spark):
    """Shares sum to 1 and weight * share is constant (the uniform
    target) across sources, modulo rounding."""
    from pipelinejobs_indexer_spark.llm.text import llm_corpus_mix_weights

    rows = llm_corpus_mix_weights(spark, SF).collect()
    assert rows
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-3
    products = [r.uniform_weight * r.tokens for r in rows]
    assert max(products) - min(products) < max(products) * 0.01


def test_quantize_zero_vector_edge(spark):
    """An all-zero vector has scale 0 — the projection must emit q=0
    everywhere instead of dividing by zero, and extremes hit ±127."""
    from pipelinejobs_indexer_spark.llm.text import quantize_projection

    df = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0]), (1, [1.0, -1.0, 0.5])],
        "vec_id long, v array<double>",
    )
    rows = {r.vec_id: r for r in quantize_projection(df).collect()}
    assert rows[0].scale == 0.0
    assert rows[0].q8 == "0|0|0"
    assert rows[1].q8 == "127|-127|64"


def test_dedup_clusters_consistent_with_pairs(spark):
    """Connected-components invariants: both ends of every pair share a
    cluster, cluster_id is the minimum member, and n_members counts the
    cluster's rows."""
    from collections import Counter

    from pipelinejobs_indexer_spark.llm.dedup import (
        llm_dedup_clusters,
        llm_dedup_minhash,
    )

    pairs = [(r.doc_a, r.doc_b) for r in llm_dedup_minhash(spark, SF).collect()]
    rows = llm_dedup_clusters(spark, SF).collect()
    cluster = {r.doc_id: r.cluster_id for r in rows}
    assert pairs and rows
    for a, b in pairs:
        assert cluster[a] == cluster[b], (a, b)
    members = Counter(cluster.values())
    for r in rows:
        assert r.cluster_id == min(
            d for d, c in cluster.items() if c == r.cluster_id
        )
        assert r.n_members == members[r.cluster_id]


def test_curate_full_composition_semantics(spark):
    """The composed pipeline must be consistent with its stages run
    independently: output ⊆ sampled ∩ quality-gated ∩ dedup-kept, and no
    contaminated or duplicate-shadowed doc survives."""
    from pipelinejobs_indexer_spark.llm.dedup import (
        llm_contamination_check,
        llm_dedup_normalized,
    )
    from pipelinejobs_indexer_spark.llm.text import (
        llm_corpus_curate_full,
        llm_corpus_sample,
    )

    out = {r.doc_id for r in llm_corpus_curate_full(spark, SF).collect()}
    assert out
    sampled = {r.doc_id for r in llm_corpus_sample(spark, SF).collect()}
    keepers = {r.keep_doc_id for r in llm_dedup_normalized(spark, SF).collect()}
    contaminated = {r.doc_id for r in llm_contamination_check(spark, SF).collect()}
    assert out <= sampled
    assert out <= keepers
    assert not (out & contaminated)


def _union_find(n_edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in n_edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def test_connected_components_deep_chain(spark):
    """A 40-vertex path graph (diameter 39) — plain min-label would need
    39 rounds; large-star/small-star must converge inside the 20-round
    bound and still produce one component rooted at 0."""
    from pipelinejobs_indexer_spark.llm.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(39)], "doc_a long, doc_b long"
    )
    rows = connected_components(pairs).collect()
    assert len(rows) == 40
    assert {r.cluster_id for r in rows} == {0}


def test_connected_components_random_graphs_vs_union_find(spark):
    """Seeded random graphs: the distributed components must equal a
    pure-Python union-find, and plain min-label propagation must agree."""
    import random

    from pipelinejobs_indexer_spark.llm.dedup import (
        _cc_min_label,
        connected_components,
    )

    rng = random.Random(20260813)
    for trial in range(3):
        n = 60
        edges = sorted(
            {
                tuple(sorted(rng.sample(range(n), 2)))
                for _ in range(rng.randint(20, 80))
            }
        )
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {r.doc_id: r.cluster_id for r in connected_components(pairs).collect()}
        expect = _union_find(edges)
        assert got == expect, f"trial {trial}: mismatch vs union-find"
        ml = {r.doc_id: r.cluster_id for r in _cc_min_label(pairs, 64).collect()}
        assert got == ml, f"trial {trial}: mismatch vs min-label"


def test_repetition_matches_python_recompute(spark):
    """llm_text_repetition's per-doc metrics must equal a direct Python
    recomputation over the raw text (independent of both SQL engines).
    Overlapping occurrences mean top_bigram_frac can exceed 1.0 on a
    degenerate 'a a a a' run — that IS the filter signal, so the check
    recomputes it exactly rather than clamping."""
    from collections import Counter

    from pipelinejobs_indexer_spark.llm.text import llm_text_repetition

    got = {r.doc_id: r for r in llm_text_repetition(spark, SF).collect()}
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    checked = 0
    for d in docs:
        w = d.text.split(" ")
        if len(w) < 2:
            assert d.doc_id not in got
            continue
        r = got[d.doc_id]
        assert r.n_words == len(w)
        assert abs(r.dup_word_frac - round(1 - len(set(w)) / len(w), 6)) < 1e-9
        assert r.n_adjacent_repeats == sum(
            1 for a, b in zip(w, w[1:]) if a == b
        )
        counts = Counter(f"{a} {b}" for a, b in zip(w, w[1:]))
        best_n = max(counts.values())
        best = max(b for b, n in counts.items() if n == best_n)
        assert r.top_bigram == best
        assert abs(r.top_bigram_frac - round(2.0 * best_n / len(w), 6)) < 1e-9
        checked += 1
    assert checked == len(got)


def test_shuffle_shard_deterministic_partition(spark):
    """Seeded shuffle+shard must be a permutation invariant: every doc
    appears exactly once, per-shard positions are contiguous from 1, the
    assignment is identical across reruns, and the md5 key spreads docs
    over every shard without gross skew."""
    from collections import defaultdict

    from pipelinejobs_indexer_spark.llm.text import (
        N_SHARDS,
        llm_corpus_shuffle_shard,
    )

    a = llm_corpus_shuffle_shard(spark, SF).collect()
    b = llm_corpus_shuffle_shard(spark, SF).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert len({r.doc_id for r in a}) == len(a) == n_docs
    by_shard = defaultdict(list)
    for r in a:
        assert 0 <= r.shard < N_SHARDS
        by_shard[r.shard].append(r)
    assert len(by_shard) == N_SHARDS  # every shard populated at 60+ docs
    for shard, rows in by_shard.items():
        rows.sort(key=lambda r: r.pos)
        assert [r.pos for r in rows] == list(range(1, len(rows) + 1))
        # pos order must follow the shuffle key order (the shard's sort)
        keys = [r.shuffle_key for r in rows]
        assert keys == sorted(keys)
    sizes = sorted(len(v) for v in by_shard.values())
    assert sizes[0] >= 1 and sizes[-1] <= 4 * max(1, n_docs // N_SHARDS)


def test_incremental_dedup_admits_only_new_content(spark):
    """Batch-vs-snapshot semantics cross-checked in pure Python: a batch
    hash is admitted iff no snapshot doc carries the same md5(text), and
    the kept doc_id/copy-count summarize the batch group exactly."""
    import hashlib
    from collections import defaultdict

    from pipelinejobs_indexer_spark.llm.dedup import (
        INCREMENTAL_MOD,
        llm_dedup_incremental,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    snap = {md5(d.text) for d in docs if d.doc_id % INCREMENTAL_MOD != 0}
    batch = defaultdict(list)
    for d in docs:
        if d.doc_id % INCREMENTAL_MOD == 0:
            batch[md5(d.text)].append(d.doc_id)
    expect = {
        h: (min(ids), len(ids)) for h, ids in batch.items() if h not in snap
    }
    got = {
        r.content_hash: (r.keep_doc_id, r.n_in_batch)
        for r in llm_dedup_incremental(spark, SF).collect()
    }
    assert got == expect
    assert expect, "fixture should admit at least one new hash"


def test_incremental_minhash_rejections_are_true_near_dups(spark):
    """Every batch doc the incremental near-dup ingest REJECTS must have a
    genuine >=0.8-jaccard partner in the snapshot (LSH verifies candidates
    exactly, so no false rejections), and nothing with a true snapshot
    near-dup may be admitted unless LSH banding missed it — cross-checked
    against the exact prefix-filtered pair scan."""
    from pipelinejobs_indexer_spark.llm.dedup import (
        INCREMENTAL_MOD,
        llm_dedup_incremental_minhash,
        llm_dedup_ngram_jaccard,
    )

    admitted = {
        r.doc_id for r in llm_dedup_incremental_minhash(spark, SF).collect()
    }
    exact_pairs = {
        (r.doc_a, r.doc_b) for r in llm_dedup_ngram_jaccard(spark, SF).collect()
    }
    cross = set()
    for a, b in exact_pairs:
        for batch, snap in ((a, b), (b, a)):
            if batch % INCREMENTAL_MOD == 0 and snap % INCREMENTAL_MOD != 0:
                cross.add(batch)
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    batch_ids = {
        d.doc_id
        for d in docs
        if d.doc_id % INCREMENTAL_MOD == 0 and len(d.text.split(" ")) >= 3
    }
    rejected = batch_ids - admitted
    assert rejected <= cross, "a rejection lacks a true snapshot near-dup"
    # the planted near-dups sit at ~0.98 jaccard where banding recall is
    # ~total; allow at most one miss before calling it a regression
    assert len(cross - rejected) <= max(1, len(cross) // 10)


def test_curate_v2_gates_consistent_with_operators(spark):
    """Every v2 survivor must independently satisfy each gate as computed
    by the standalone operators: dedup keeper, not contaminated, repetition
    bound, calibrated per-language median score, sample hash."""
    import hashlib
    import statistics

    from pipelinejobs_indexer_spark.llm.dedup import llm_contamination_check
    from pipelinejobs_indexer_spark.llm.text import (
        REP_MAX_BIGRAM_FRAC,
        SAMPLE_RATES,
        _SAMPLE_DEFAULT,
        llm_corpus_curate_v2,
        llm_text_quality,
        llm_text_repetition,
    )

    kept = {r.doc_id: r for r in llm_corpus_curate_v2(spark, SF).collect()}
    assert kept, "v2 should keep documents"
    rep = {r.doc_id: r for r in llm_text_repetition(spark, SF).collect()}
    quality = {r.doc_id: r for r in llm_text_quality(spark, SF).collect()}
    contaminated = {
        r.doc_id for r in llm_contamination_check(spark, SF).collect()
    }
    docs = {r.doc_id: r for r in spark.read.parquet(f"{SF}/documents.parquet").collect()}
    med = {}
    for lang in {d.lang for d in docs.values()}:
        med[lang] = round(
            statistics.median(
                quality[i].score for i in docs if docs[i].lang == lang
            ),
            6,
        )
    for doc_id, r in kept.items():
        assert doc_id not in contaminated
        assert rep[doc_id].top_bigram_frac <= REP_MAX_BIGRAM_FRAC
        assert r.score >= med[r.lang], (doc_id, r.score, med[r.lang])
        bucket = (
            int(hashlib.md5(f"sample:{doc_id}".encode()).hexdigest()[:15], 16) % 1000
        )
        assert bucket < SAMPLE_RATES.get(r.lang, _SAMPLE_DEFAULT)


# --- L5d: real PNG decode ------------------------------------------------


def test_png_round_trip_every_filter():
    import numpy as np

    from pipelinejobs_indexer_spark.llm.png import decode_png, encode_png_gray

    rng = np.random.default_rng(42)
    for h, w in [(16, 16), (7, 13), (1, 1), (33, 5)]:
        img = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        for filters in [(0,), (1,), (2,), (3,), (4,), (0, 1, 2, 3, 4)]:
            dec = decode_png(encode_png_gray(img, filters))
            assert dec.shape == (h, w, 1)
            assert np.array_equal(dec[:, :, 0], img)


# Read at module import (collection time), not inside the test body:
# the VERDICT r4 audit saw this fixture test skip in a full-suite run
# while passing standalone — capturing the bytes eagerly makes the
# skip decision deterministic and immune to any test-order / sandbox
# filesystem interaction later in the session.
_EXTERNAL_PNG_PATH = "/root/reference/tests/store/uploads/emerald/201808/protein.png"
try:
    with open(_EXTERNAL_PNG_PATH, "rb") as _f:
        _EXTERNAL_PNG_BYTES = _f.read()
except OSError:
    _EXTERNAL_PNG_BYTES = None


@pytest.mark.skipif(
    _EXTERNAL_PNG_BYTES is None, reason="reference fixture tree not mounted"
)
def test_png_decodes_external_fixture():
    """Parse a PNG this codec did NOT produce (the reference repo's test
    fixture) — guards against a self-consistent encoder+decoder pair that
    deviates from the actual spec. Skipped (at collection, from an
    import-time read) only when the fixture tree is not mounted."""
    from pipelinejobs_indexer_spark.llm.png import decode_png

    img = decode_png(_EXTERNAL_PNG_BYTES)
    assert img.ndim == 3 and img.shape[2] in (1, 2, 3, 4)
    assert img.shape[0] > 0 and img.shape[1] > 0


def test_decode_image_and_resize_real_for_png():
    import numpy as np

    from pipelinejobs_indexer_spark.llm.multimodal import decode_image, resize_image
    from pipelinejobs_indexer_spark.llm.png import encode_png_gray

    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    png = encode_png_gray(img, row_filters=(4,))
    assert np.array_equal(decode_image(png, "image/png")[:, :, 0], img)
    thumb = resize_image(png, "image/png", 2, 2)
    assert thumb.shape == (2, 2, 1)
    # area means of the 4x4 quadrants of arange(64) reshaped 8x8
    expect = img.reshape(2, 4, 2, 4).transpose(0, 2, 1, 3).reshape(2, 2, -1).mean(2)
    assert np.array_equal(thumb[:, :, 0], expect.astype(np.uint8))

    import pytest

    # JPEG decode is real now (jpeg.py): a corrupt payload is a data
    # error; only formats with no stdlib decoder keep the codec contract
    with pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xffnot-really-jpeg", "image/jpeg")
    # WebP decode is real now too (webp.py): a truncated container is a
    # data error; a wellformed LOSSY container keeps the codec contract
    with pytest.raises(ValueError):
        decode_image(b"RIFF....WEBPVP8 ", "image/webp")
    import struct as _struct

    lossy = (
        b"RIFF" + _struct.pack("<I", 16) + b"WEBP"
        + b"VP8 " + _struct.pack("<I", 4) + b"\x00\x00\x00\x00"
    )
    with pytest.raises(NotImplementedError):
        decode_image(lossy, "image/webp")


# --- L5i: real GIF decode (gif.py) ---------------------------------------


def test_gif_round_trip_interlace_palette_and_lzw_reset():
    """Encode→decode round trips across interlace on/off, odd dimensions,
    non-power-of-2 palettes, and an image large enough that the LZW
    dictionary overflows 4096 entries — exercising code-width growth to
    12 bits, the mid-stream clear/reset, and the de-interlace reorder."""
    import numpy as np

    from pipelinejobs_indexer_spark.llm.gif import decode_gif, encode_gif

    rng = np.random.RandomState(11)
    for interlace in (False, True):
        for (h, w, ncol) in ((16, 16, 64), (33, 17, 5), (1, 1, 2), (90, 90, 200)):
            idx = rng.randint(0, ncol, size=(h, w)).astype(np.uint8)
            pal = np.stack(
                [(np.arange(ncol) * 3) % 256,
                 (np.arange(ncol) * 5) % 256,
                 (np.arange(ncol) * 7) % 256],
                axis=1,
            ).astype(np.uint8)
            out = decode_gif(encode_gif(idx, pal, interlace=interlace))
            assert out.shape == (h, w, 3)
            assert (out == pal[idx]).all(), (interlace, h, w, ncol)
    # KwKwK stress: constant image is all repeated runs
    flat = np.zeros((40, 40), dtype=np.uint8)
    pal2 = np.array([[0, 0, 0], [255, 255, 255]], dtype=np.uint8)
    assert (decode_gif(encode_gif(flat, pal2)) == 0).all()


def test_gif_round_trip_hypothesis_sweep():
    """Hypothesis sweep over dimensions, palette sizes, pixel content
    style, and interlace — the AVI/JPEG evidence pattern: random shapes
    hit LZW code-width boundaries and interlace pass splits a crafted
    grid cannot enumerate."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pipelinejobs_indexer_spark.llm.gif import decode_gif, encode_gif

    @settings(max_examples=40, deadline=None)
    @given(
        h=st.integers(1, 40),
        w=st.integers(1, 40),
        ncol=st.integers(2, 256),
        interlace=st.booleans(),
        style=st.sampled_from(["random", "runs", "gradient"]),
        seed=st.integers(0, 2**31 - 1),
    )
    def check(h, w, ncol, interlace, style, seed):
        rng = np.random.RandomState(seed)
        if style == "random":
            idx = rng.randint(0, ncol, size=(h, w))
        elif style == "runs":  # long runs stress KwKwK / chained entries
            idx = np.repeat(rng.randint(0, ncol, size=(h, 1)), w, axis=1)
        else:  # gradient: every code value in sequence
            idx = (np.arange(h * w).reshape(h, w)) % ncol
        idx = idx.astype(np.uint8)
        pal = rng.randint(0, 256, size=(ncol, 3)).astype(np.uint8)
        out = decode_gif(encode_gif(idx, pal, interlace=interlace))
        assert out.shape == (h, w, 3)
        assert (out == pal[idx]).all()

    check()


def test_gif_lzw_end_code_boundary_scan():
    """Every stream length 1..200 at four code sizes: sweeps each
    alignment of the final data code against the power-of-2 table-size
    boundaries, the exact spot of the END-code-width bug the hypothesis
    sweep caught (the decoder's phantom append after the final code can
    widen the read width before END)."""
    import numpy as np

    from pipelinejobs_indexer_spark.llm.gif import _lzw_decode, _lzw_encode

    for mcs in (2, 3, 4, 8):
        for n in range(1, 201):
            rng = np.random.RandomState(n * 7 + mcs)
            d = rng.randint(0, 1 << mcs, size=n).astype(np.uint8).tobytes()
            assert bytes(_lzw_decode(_lzw_encode(d, mcs), mcs)) == d, (mcs, n)


def test_gif_decodes_deferred_clear_stream():
    """Spec allowance the in-house encoder never produces (it resets at
    4096): a 'deferred clear' encoder lets the dictionary fill and keeps
    emitting existing 12-bit codes with NO reset. Decoders must stop
    growing their table in sync or they desync one code after fill —
    build such a stream with an independent inline encoder and pin the
    decode."""
    import numpy as np

    from pipelinejobs_indexer_spark.llm.gif import _lzw_decode

    rng = np.random.RandomState(3)
    # enough 2-bit-alphabet noise to fill 4096 entries several times over
    data = rng.randint(0, 4, size=60000).astype(np.uint8).tobytes()
    mcs = 2
    clear, end = 1 << mcs, (1 << mcs) + 1

    out_codes: list[tuple[int, int]] = []  # (code, width at emission)
    width = mcs + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    out_codes.append((clear, width))
    run = b""
    for b in data:
        cand = run + bytes([b])
        if cand in table:
            run = cand
            continue
        out_codes.append((table[run], width))
        if next_code < 4096:  # deferred clear: just STOP adding when full
            table[cand] = next_code
            next_code += 1
            if next_code - 1 == (1 << width) and width < 12:
                width += 1
        run = bytes([b])
    if run:
        out_codes.append((table[run], width))
    out_codes.append((end, width))
    assert next_code == 4096, "stream too short to exercise deferred clear"

    buf = bytearray()
    acc = nbits = 0
    for code, wd in out_codes:
        acc |= code << nbits
        nbits += wd
        while nbits >= 8:
            buf.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        buf.append(acc & 0xFF)
    assert bytes(_lzw_decode(bytes(buf), mcs)) == data


def test_gif_corrupt_and_routing_contract():
    """Truncated/malformed GIFs are DATA errors (ValueError), never the
    missing-codec contract; decode_image routes GIF magic to gif.py."""
    import numpy as np
    import pytest

    from pipelinejobs_indexer_spark.llm.gif import decode_gif, encode_gif
    from pipelinejobs_indexer_spark.llm.multimodal import decode_image

    idx = (np.arange(256, dtype=np.uint8).reshape(16, 16)) % 64
    pal = np.stack(
        [(np.arange(64) * 3) % 256, (np.arange(64) * 5) % 256,
         (np.arange(64) * 7) % 256],
        axis=1,
    ).astype(np.uint8)
    g = encode_gif(idx, pal, interlace=True)
    assert np.array_equal(decode_image(g, "image/gif"), pal[idx])
    for bad in (
        b"GIF89a",                      # no screen descriptor
        b"NOTGIF" + b"\x00" * 32,       # wrong magic
        b"GIF89a" + b"\x00" * 7,        # trailer-less, tableless, imageless
        g[: len(g) // 2],               # truncated mid image data
    ):
        with pytest.raises(ValueError):
            decode_gif(bad)


def test_gif_hostile_stream_bounded_and_zero_size_frame():
    """ADVICE r6: (a) a hostile GIF declaring a tiny image descriptor but
    carrying a huge LZW body must not amplify memory — decode stops at
    w*h indices (and the LZW table append is capped at the 12-bit
    ceiling); (b) a zero-width/height frame raises the explicit
    ValueError, not numpy's zero-size-reduction message."""
    import struct

    import numpy as np
    import pytest

    from pipelinejobs_indexer_spark.llm.gif import (
        _lzw_decode,
        _lzw_encode,
        decode_gif,
        encode_gif,
    )

    # (a) LZW body encodes 200k indices; descriptor says 2x2. Splice the
    # big stream into a tiny-descriptor GIF and decode: must return the
    # first 4 pixels without expanding the whole stream.
    rng = np.random.RandomState(5)
    big = rng.randint(0, 4, size=200_000).astype(np.uint8).tobytes()
    lzw = _lzw_encode(big, 2)
    # direct check: max_out stops the expansion near the bound
    out = _lzw_decode(lzw, 2, max_out=4)
    assert 4 <= len(out) < 4 + 4096  # at most one trailing entry overshoot
    assert bytes(out[:4]) == big[:4]
    pal = np.stack([np.arange(4) * 60] * 3, axis=1).astype(np.uint8)
    tiny = encode_gif(
        np.frombuffer(big[:4], dtype=np.uint8).reshape(2, 2), pal
    )
    # rebuild tiny's image data section with the huge stream
    header_end = tiny.index(b"\x2c")
    spliced = (
        tiny[: header_end + 10]
        + bytes([2])
        + b"".join(
            bytes([len(lzw[i : i + 255])]) + lzw[i : i + 255]
            for i in range(0, len(lzw), 255)
        )
        + b"\x00\x3b"
    )
    rgb = decode_gif(spliced)
    assert rgb.shape == (2, 2, 3)
    assert (rgb == pal[np.frombuffer(big[:4], dtype=np.uint8).reshape(2, 2)]).all()

    # (b) zero-size frame descriptor
    zero = (
        tiny[: header_end + 1]
        + struct.pack("<HHHHB", 0, 0, 0, 2, 0)
        + tiny[header_end + 10 :]
    )
    with pytest.raises(ValueError, match="zero width/height"):
        decode_gif(zero)


def test_sample_frames_riff_contract():
    """ADVICE r5: a truncated or non-AVI RIFF payload is corrupt INPUT
    (ValueError), not a codec gap — NotImplementedError is reserved for
    genuinely non-RIFF inter-frame codecs."""
    import pytest

    from pipelinejobs_indexer_spark.llm import multimodal

    with pytest.raises(ValueError):
        multimodal.sample_frames(b"RIFF", "video/x-msvideo")
    with pytest.raises(ValueError):
        multimodal.sample_frames(b"RIFF\x10\x00\x00\x00WAVE", "video/x-msvideo")
    with pytest.raises(NotImplementedError):
        multimodal.sample_frames(b"\x00\x00\x01\xba mpeg-ps", "video/mpeg")


# --- L13 CDC / L14 novelty semantics ------------------------------------


def test_cdc_realigns_after_insertion_where_fixed_width_cannot(spark):
    """The CDC property: doc B = injected prefix + doc A. Content-defined
    boundaries realign after the insertion, so A and B share most of A's
    chunks; fixed-width chunking at the same granularity shares NONE
    (every window shifts by the prefix length) — computed inline as the
    control. Unrelated docs share nothing. The gear polynomial must
    preserve the realignment property, not just oracle parity."""
    import hashlib

    from pipelinejobs_indexer_spark.llm.dedup import (
        CDC_DIVISOR,
        CDC_WINDOW,
        cdc_duplicate_chunks,
    )

    a = " ".join(f"w{i * 37 % 101}x{i}" for i in range(60))
    b = "INJECTED HEADER " + a
    unrelated = " ".join(f"z{i}q{i * 13 % 7}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, a), (2, b), (3, unrelated)], "doc_id long, text string"
    )
    rows = cdc_duplicate_chunks(docs).collect()
    shared_chars = sum(r.chunk_chars for r in rows if r.n_docs >= 2)
    assert rows, "prefix-shifted duplicate produced no shared CDC chunks"
    # realignment must recover a substantial fraction of A verbatim
    assert shared_chars >= len(a) // 2, (shared_chars, len(a))

    # control: fixed-width chunks at the same ~granularity share nothing
    width = CDC_DIVISOR
    fixed = lambda t: {  # noqa: E731
        hashlib.md5(t[i : i + width].encode()).hexdigest()
        for i in range(0, len(t), width)
    }
    assert not (fixed(a) & fixed(b)), "control broken: fixed-width realigned?"

    # CDC boundary rule sanity: every reported chunk is genuinely shared
    assert all(r.n_docs == 2 for r in rows), rows  # never doc 3


def test_cdc_chunks_partition_each_document(spark):
    """Chunks must tile each doc exactly: per-doc chunk_chars sums to the
    doc length (no gaps, no overlaps) — checked via the core's per-chunk
    explode recomputed with n_docs threshold dropped."""
    from pyspark.sql import functions as F

    from pipelinejobs_indexer_spark.llm.dedup import cdc_duplicate_chunks

    docs = spark.createDataFrame(
        [(i, " ".join(f"t{i}w{j * 17 % 29}" for j in range(5 + i * 7))) for i in range(8)],
        "doc_id long, text string",
    )
    import pipelinejobs_indexer_spark.llm.dedup as dd

    saved = dd.CDC_MIN_DOCS
    try:
        dd.CDC_MIN_DOCS = 1  # report every chunk
        per_doc_chunks = cdc_duplicate_chunks(docs)
        # every doc's chunks exist and total length is conserved corpus-wide
        total_chunk_chars = (
            per_doc_chunks.select(
                F.sum(F.col("chunk_chars") * F.col("n_copies")).alias("t")
            ).collect()[0].t
        )
    finally:
        dd.CDC_MIN_DOCS = saved
    total_text_chars = sum(len(r.text) for r in docs.collect())
    assert total_chunk_chars == total_text_chars, (
        total_chunk_chars, total_text_chars,
    )


def test_ngram_novelty_matches_independent_python(spark):
    """Differential check vs a pure-Python first-occurrence computation
    (independent of both Spark and the DuckDB oracle)."""
    from pipelinejobs_indexer_spark.llm.text import llm_ngram_novelty

    sf = SF
    got = {r.doc_id: r for r in llm_ngram_novelty(spark, sf).collect()}

    import duckdb

    rows = duckdb.connect().execute(
        f"SELECT doc_id, text FROM read_parquet('{sf}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    first: dict[str, int] = {}
    expect: dict[int, tuple] = {}
    for doc_id, text in rows:
        w = text.split(" ")
        sh = {" ".join(w[i : i + 3]) for i in range(len(w) - 2)} if len(w) >= 3 else set()
        for s in sh:
            if s not in first or doc_id < first[s]:
                first[s] = doc_id
    for doc_id, text in rows:
        w = text.split(" ")
        sh = {" ".join(w[i : i + 3]) for i in range(len(w) - 2)} if len(w) >= 3 else set()
        if sh:
            novel = sum(1 for s in sh if first[s] == doc_id)
            expect[doc_id] = (len(sh), novel)
    assert set(got) == set(expect)
    for doc_id, (n_sh, n_novel) in expect.items():
        r = got[doc_id]
        assert (r.n_shingles, r.n_novel) == (n_sh, n_novel), doc_id
        assert abs(r.novelty - round(n_novel / n_sh, 6)) < 1e-9


# --- adversarial skew: df-capped candidate joins (VERDICT r4 item 8) ----


def _keys_over(occ, key, cap):
    """{key tuple: df} for every key held by more than ``cap`` rows."""
    from pyspark.sql import functions as F

    return {
        tuple(r[k] for k in key): r.df
        for r in occ.groupBy(*key).agg(F.count("*").alias("df"))
        .where(F.col("df") > cap).collect()
    }


def _assert_hot_keys_dropped(occ, kept, key, hot, cap):
    """``kept`` is ``occ`` minus exactly the rows of the ``hot`` keys, and
    no kept key is held by more than ``cap`` rows."""
    from pyspark.sql import functions as F

    kept_keys = {tuple(r) for r in kept.select(*key).distinct().collect()}
    assert not kept_keys & set(hot), "a hot key survived the prune"
    kept_max = kept.groupBy(*key).count().agg(F.max("count")).first()[0]
    assert kept_max <= cap, kept_max
    assert kept.columns == occ.columns
    assert kept.count() == occ.count() - sum(hot.values())


def test_containment_hot_shingle_fanout_bounded(spark):
    """Planted hot shingle (one boilerplate sentence in 300 docs): without
    the df cap the candidate join would fan out ~C(300,2) pairs from that
    shingle alone. Pins that (a) drop_hot_keys removes the hot shingles
    BEFORE the join and keeps every other row — max per-shingle df in
    the kept table <= CONTAIN_DF_CAP, the per-task fan-out bound; (b)
    the adversarial pressure is real (the hot shingle's raw df is 300);
    (c) the answer is exactly the planted true-containment pair, not
    boilerplate noise."""
    from pyspark.sql import functions as F

    from pipelinejobs_indexer_spark.llm.dedup import (
        CONTAIN_DF_CAP,
        containment_pairs,
        drop_hot_keys,
        hashed_shingles,
    )

    n_hot = 300
    boiler = "this content is provided under the standard license terms"
    rows = [
        (d, f"u{d}a u{d}b u{d}c u{d}d u{d}e u{d}f u{d}g {boiler}")
        for d in range(n_hot)
    ]
    x_words = " ".join(f"x{k}" for k in range(20))
    rows.append((9000, x_words))                      # the contained doc
    rows.append((9001, x_words + " y0 y1 y2 y3 y4"))  # its superset
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    hsh = hashed_shingles(docs).select("doc_id", "hf")
    # (b) adversarial pressure: the boilerplate shingles really are hot
    hot = _keys_over(hsh, ["hf"], CONTAIN_DF_CAP)
    assert hot and max(hot.values()) == n_hot
    # (a) the fan-out bound the join actually sees
    _assert_hot_keys_dropped(
        hsh, drop_hot_keys(hsh, "hf", CONTAIN_DF_CAP), ["hf"], hot,
        CONTAIN_DF_CAP,
    )
    # (c) exact answer: only the planted containment pair
    got = {(r.doc_a, r.doc_b): r.containment for r in containment_pairs(docs).collect()}
    assert set(got) == {(9000, 9001)}
    assert got[(9000, 9001)] == 1.0


def test_contamination_hot_shingle_fanout_bounded(spark):
    """Planted boilerplate sentence shared by an eval doc and 300 train
    docs (VERDICT r5 item 1): uncapped, every boilerplate shingle joins
    all 300 train docs against the eval doc — the 103× join-row growth
    the sf10 probe measured. Pins that (a) the cap removes the hot
    shingles BEFORE the join — max per-shingle df in the capped universe
    <= CONTAM_DF_CAP, the per-task fan-out bound; (b) the adversarial
    pressure is real (the boilerplate shingles' raw df is 301); (c) the
    answer is exactly the planted true-contamination pair — the 300
    boilerplate-only train docs are NOT flagged (capped semantics:
    boilerplate overlap is not a contamination signal); (d) the DuckDB
    oracle replays the identical capped universe at a NON-DEFAULT cap."""
    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from parity import assert_frames_match
    from pipelinejobs_indexer_spark.llm.dedup import (
        CONTAM_DF_CAP,
        _contamination_sql,
        contamination_pairs,
        shingles,
    )

    boiler = "this content is provided under the standard license terms ok"
    uniq = " ".join(f"e{k}" for k in range(10))
    rows = [(9700, f"{boiler} {uniq}")]  # eval doc: 9700 % 97 == 0
    train_ids = [d for d in range(10000, 10400) if d % 97 != 0][:300]
    rows += [(d, f"u{d}a u{d}b u{d}c u{d}d u{d}e {boiler}") for d in train_ids]
    # the truly-contaminated train doc: carries the eval doc's unique tail
    rows.append((5001, f"q1 q2 q3 {uniq}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    sh = shingles(docs)
    df_per_shingle = sh.withColumn("df", F.count("*").over(Window.partitionBy("s")))
    # (b) adversarial pressure: the boilerplate shingles really are hot
    assert df_per_shingle.agg(F.max("df")).collect()[0][0] == 301
    # (a) the fan-out bound the join actually sees
    capped_max = (
        df_per_shingle.filter(F.col("df") <= CONTAM_DF_CAP)
        .agg(F.max("df"))
        .collect()[0][0]
    )
    assert capped_max <= CONTAM_DF_CAP
    # (c) exact answer: the planted pair only, 8 of the eval doc's 10
    # discriminative shingles shared (the 8 pure-tail ones; the 2
    # boiler→tail cross-boundary shingles are unique to the eval doc)
    got = {
        (r.doc_id, r.eval_doc_id): r.overlap
        for r in contamination_pairs(docs).collect()
    }
    assert set(got) == {(5001, 9700)}
    assert got[(5001, 9700)] == 0.8
    # (d) plan and oracle move together on a non-default cap
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    con = duckdb.connect()
    con.register("documents", pdf)
    want = con.execute(_contamination_sql(df_cap=8)).df()
    con.close()
    assert_frames_match(
        contamination_pairs(docs, df_cap=8).toPandas(),
        want,
        "llm_contamination_check[cap=8]",
    )


def test_substring_hot_boilerplate_fanout_bounded(spark):
    """Planted hot 20-word block in 300 docs: its anchors' df is 300, so
    without the cap the anchor self-join alone yields ~C(300,2) = 44850
    candidate pairs to positionally verify. Pins that drop_hot_keys
    removes the hot anchors and bounds per-anchor df in the kept table
    (per-task candidate bound), that the block really is hot, and that
    the answer is exactly the planted unique-run pair (hot-block pairs
    route to the L8 span-audit/blocklist path — the documented recall
    tradeoff of the cap)."""
    import hashlib

    from pyspark.sql import functions as F

    from pipelinejobs_indexer_spark.llm.dedup import (
        ANCHOR_DF_CAP,
        ANCHOR_MOD,
        SHINGLE_K,
        drop_hot_keys,
        substring_span_pairs,
    )

    def hf(words, i):  # mirrors the positioned-shingle hash expression
        s = " ".join(words[i : i + SHINGLE_K])
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    # find a deterministic 18-word run whose shingles include >=1 anchor
    seed = 0
    while True:
        run = [f"r{seed}w{k}" for k in range(18)]
        if any(hf(run, i) % ANCHOR_MOD == 0 for i in range(len(run) - SHINGLE_K + 1)):
            break
        seed += 1
    block = [f"boiler{seed}w{k}" for k in range(20)]
    assert any(  # the hot block must itself carry an anchor to be a threat
        hf(block, i) % ANCHOR_MOD == 0 for i in range(len(block) - SHINGLE_K + 1)
    ), "pick a block that anchors (bump seed)"

    n_hot = 300
    rows = [
        (
            d,
            " ".join(
                [f"p{d}x{k}" for k in range(8)]
                + block
                + [f"s{d}x{k}" for k in range(8)]
            ),
        )
        for d in range(n_hot)
    ]
    rows.append((9000, " ".join([f"pa{k}" for k in range(5)] + run)))
    rows.append((9001, " ".join(run + [f"sb{k}" for k in range(5)])))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # per-anchor df bound the candidate join actually sees
    w = docs.select("doc_id", F.split("text", " ").alias("w"))
    parts = ", ' ', ".join(f"w[i{j - 1:+d}]" for j in range(SHINGLE_K))
    anch = (
        w.select(
            "doc_id",
            F.explode(F.expr(f"sequence(1, size(w)-{SHINGLE_K - 1})")).alias("i"),
            "w",
        )
        .select(
            "doc_id",
            F.expr(
                f"cast(conv(substr(md5(concat({parts})), 1, 15), 16, 10) as bigint)"
            ).alias("hf"),
        )
        .filter(F.col("hf") % ANCHOR_MOD == 0)
        .distinct()
    )
    hot = _keys_over(anch, ["hf"], ANCHOR_DF_CAP)
    assert hot and max(hot.values()) == n_hot  # pressure is real
    _assert_hot_keys_dropped(
        anch, drop_hot_keys(anch, "hf", ANCHOR_DF_CAP), ["hf"], hot,
        ANCHOR_DF_CAP,
    )
    got = {(r.doc_a, r.doc_b): r.span_words for r in substring_span_pairs(docs).collect()}
    assert set(got) == {(9000, 9001)}
    assert got[(9000, 9001)] == 18


# --- L5h: MJPEG-in-AVI frame-pixel decode -------------------------------


def test_avi_walk_and_frame_decode_closed_form():
    """Writer and walker share only the published RIFF/AVI spec; every
    sampled frame's corner pixels must land the closed-form DC values."""
    from pipelinejobs_indexer_spark.llm.multimodal import (
        _avi_frame_dcs,
        _avi_n_frames,
        avi_mjpeg_frames,
        sample_frames,
        synth_avi_mjpeg,
    )

    for doc_id in (0, 3, 11, 58):
        avi = synth_avi_mjpeg(doc_id)
        meta = avi_mjpeg_frames(avi)
        assert meta["n_frames"] == _avi_n_frames(doc_id)
        assert (meta["width"], meta["height"]) == (16, 16)
        # every_n=1: ALL frames decode; every_n=3 subsamples
        all_frames = sample_frames(avi, "video/x-msvideo", 1)
        assert [i for i, _ in all_frames] == list(range(meta["n_frames"]))
        sub = sample_frames(avi, "video/x-msvideo", 3)
        assert [i for i, _ in sub] == list(range(0, meta["n_frames"], 3))
        for idx, px in all_frames:
            tl, tr, bl, br = _avi_frame_dcs(doc_id, idx)
            assert px[0][0] == 128 + 2 * tl
            assert px[0][15] == 128 + 2 * tr
            assert px[15][0] == 128 + 2 * bl
            assert px[15][15] == 128 + 2 * br


def test_avi_roundtrip_property():
    """Property sweep over doc ids: every synthesized AVI must walk and
    fully decode with frame count, dimensions, and all four corner
    pixels on their closed forms — JPEG payload lengths vary with the
    DC magnitudes, so odd-length chunks exercise RIFF word-alignment
    padding across the sweep."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pipelinejobs_indexer_spark.llm.multimodal import (
        _avi_frame_dcs,
        _avi_n_frames,
        sample_frames,
        synth_avi_mjpeg,
    )

    @settings(max_examples=25, deadline=None)
    @given(doc_id=st.integers(min_value=0, max_value=100_000))
    def check(doc_id):
        frames = sample_frames(synth_avi_mjpeg(doc_id), "video/x-msvideo", 1)
        assert len(frames) == _avi_n_frames(doc_id)
        for idx, px in frames:
            tl, tr, bl, br = _avi_frame_dcs(doc_id, idx)
            assert (px[0][0], px[0][15], px[15][0], px[15][15]) == (
                128 + 2 * tl, 128 + 2 * tr, 128 + 2 * bl, 128 + 2 * br,
            )

    check()


def test_avi_rec_grouped_frames_decode():
    """AVI-RIFF interleave grouping: frame chunks may nest one level
    inside 'LIST rec ' groups (standard for A/V-interleaved files) —
    the walker must find them there too."""
    import struct

    from pipelinejobs_indexer_spark.llm.multimodal import (
        avi_mjpeg_frames,
        synth_avi_mjpeg,
    )

    flat = synth_avi_mjpeg(7)
    meta = avi_mjpeg_frames(flat)

    def chunk(fcc, payload):
        data = fcc + struct.pack("<I", len(payload)) + payload
        return data + (b"\x00" if len(payload) % 2 else b"")

    # rebuild: same header, movi rebuilt with each 00dc inside LIST rec
    movi_at = flat.index(b"LIST", 12)
    while flat[movi_at + 8 : movi_at + 12] != b"movi":
        movi_at = flat.index(b"LIST", movi_at + 4)
    head = flat[12:movi_at]
    rec_movi = chunk(
        b"LIST",
        b"movi"
        + b"".join(
            chunk(b"LIST", b"rec " + chunk(b"00dc", f)) for f in meta["frames"]
        ),
    )
    body = b"AVI " + head + rec_movi
    regrouped = b"RIFF" + struct.pack("<I", len(body)) + body
    meta2 = avi_mjpeg_frames(regrouped)
    assert meta2["n_frames"] == meta["n_frames"]
    assert meta2["frames"] == meta["frames"]


def test_avi_corrupt_container_classes_raise():
    """Malformed AVI containers must surface as ValueError (loud errors,
    not wrong frames), and non-AVI video keeps the ffmpeg stub contract."""
    import struct

    from pipelinejobs_indexer_spark.llm.multimodal import (
        avi_mjpeg_frames,
        sample_frames,
        synth_avi_mjpeg,
        synth_mp4,
    )

    with pytest.raises(ValueError, match="not a RIFF AVI"):
        avi_mjpeg_frames(b"RIFF\x04\x00\x00\x00WAVE")
    base = synth_avi_mjpeg(5)
    # truncation mid-chunk
    with pytest.raises(ValueError, match="truncated"):
        avi_mjpeg_frames(base[:-7])
    # avih frame count disagreeing with the movi chunk count
    at = base.index(b"avih") + 8 + 16  # dwTotalFrames (5th DWORD of avih)
    lied = base[:at] + struct.pack("<I", 99) + base[at + 4 :]
    with pytest.raises(ValueError, match="declares 99 frames"):
        avi_mjpeg_frames(lied)
    # headerless: movi only
    no_hdrl = base.replace(b"hdrl", b"xxxx", 1)
    with pytest.raises(ValueError, match="no avih"):
        avi_mjpeg_frames(no_hdrl)
    # inter-frame codecs still need ffmpeg: stub contract preserved
    with pytest.raises(NotImplementedError, match="ffmpeg"):
        sample_frames(synth_mp4(1), "video/mp4", 2)


def test_connected_components_planted_star_skew(spark):
    """Adversarial skew (VERDICT r2 item 5): one hub vertex appears in
    EVERY edge, so the window-over-u inside the CC loop concentrates the
    entire symmetric neighborhood of the hub in ONE task — the worst case
    the loop's AQE-off windows get no runtime help with. The design holds
    because the skewed work is a single linear min-scan per round and the
    star converges immediately (it already IS the terminal star forest);
    this pins correctness plus a generous wall-clock bound so a regression
    to quadratic or non-converging behavior fails loudly. At cluster
    scale the same shape costs one task a linear pass over the hub's
    edges; salt the window key only if profiles show that scan dominating
    a round."""
    import time

    from pyspark.sql import functions as F

    from pipelinejobs_indexer_spark.llm.dedup import connected_components

    n = 200_000
    pairs = spark.range(1, n + 1).select(
        F.lit(0).cast("long").alias("doc_a"), F.col("id").alias("doc_b")
    )
    t0 = time.time()
    rows = connected_components(pairs).collect()
    elapsed = time.time() - t0
    assert len(rows) == n + 1
    assert {r.cluster_id for r in rows} == {0}
    # Timing is a soft check by default — wall-clock on a loaded CI host
    # can flake independently of any code regression. Opt into the hard
    # bound (SPARK_GRAFT_STRICT_TIMING=1) when profiling CC changes.
    if elapsed >= 60:
        import os
        import warnings

        msg = f"star-skew CC took {elapsed:.1f}s (soft bound 60s)"
        if os.environ.get("SPARK_GRAFT_STRICT_TIMING"):
            raise AssertionError(msg)
        warnings.warn(msg, stacklevel=1)


def test_connected_components_two_hub_barbell(spark):
    """Two planted stars bridged by one edge: the hubs' neighborhoods are
    both maximally skewed AND the components must merge across the bridge
    — exercises skewed windows in a case that actually needs iteration."""
    from pyspark.sql import functions as F

    from pipelinejobs_indexer_spark.llm.dedup import connected_components

    n = 50_000
    star0 = spark.range(1, n + 1).select(
        F.lit(0).cast("long").alias("doc_a"), F.col("id").alias("doc_b")
    )
    hub2 = 10_000_000
    star1 = spark.range(1, n + 1).select(
        F.lit(hub2).cast("long").alias("doc_a"),
        (F.col("id") + hub2).alias("doc_b"),
    )
    bridge = spark.createDataFrame([(n, hub2 + n)], "doc_a long, doc_b long")
    rows = connected_components(star0.union(star1).union(bridge)).collect()
    assert len(rows) == 2 * n + 2
    assert {r.cluster_id for r in rows} == {0}


def test_semantic_dedup_drops_exactly_the_planted_clones(spark):
    """Every planted clone must be dropped (its source shares a cell and
    scores cosine 1.0), every original kept (natural within-cell cosines
    in this fixture stay far below the 0.95 threshold)."""
    from pipelinejobs_indexer_spark.llm.similarity import (
        SEM_CLONE_OFFSET,
        llm_dedup_semantic,
    )

    rows = llm_dedup_semantic(spark, SF).collect()
    clones = [r for r in rows if r.vec_id >= SEM_CLONE_OFFSET]
    originals = [r for r in rows if r.vec_id < SEM_CLONE_OFFSET]
    assert clones and all(not r.keep for r in clones)
    assert originals and all(r.keep for r in originals)


def test_png_truncated_chunk_raises_value_error():
    import struct

    import pytest

    from pipelinejobs_indexer_spark.llm.png import SIGNATURE, decode_png

    junk = SIGNATURE + struct.pack(">I", 1000) + b"IHDR" + b"\x00" * 10
    with pytest.raises(ValueError):
        decode_png(junk)


def test_logprob_matches_python_unigram_lm(spark):
    """Recompute the add-one-smoothed unigram log-likelihood for a few
    docs in plain Python and pin the distributed result to it exactly
    (the per-token micro-rounding makes the sums integer-exact)."""
    import math
    from collections import Counter

    from pipelinejobs_indexer_spark.llm.text import llm_text_logprob
    from pipelinejobs_indexer_spark.tables import load_table

    docs = {r.doc_id: r.text for r in load_table(spark, SF, "documents").collect()}
    vocab = Counter()
    for text in docs.values():
        vocab.update(text.split(" "))
    big_n, big_v = sum(vocab.values()), len(vocab)
    got = {r.doc_id: r for r in llm_text_logprob(spark, SF).collect()}
    for doc_id in list(docs)[:25]:
        toks = docs[doc_id].split(" ")
        expect = sum(
            round(math.log((vocab[w] + 1) / (big_n + big_v)) * 1_000_000)
            for w in toks
        )
        assert got[doc_id].n_tokens == len(toks)
        assert got[doc_id].logprob_micro == expect, doc_id


def test_curate_v3_is_v2_minus_logprob_tail(spark):
    """v3 must be exactly v2's survivors whose per-token corpus
    log-likelihood clears the corpus-wide 10th-percentile threshold."""
    from pipelinejobs_indexer_spark.llm.text import (
        LOGPROB_DROP_Q,
        llm_corpus_curate_v2,
        llm_corpus_curate_v3,
        llm_text_logprob,
    )

    v2 = {r.doc_id for r in llm_corpus_curate_v2(spark, SF).collect()}
    v3 = {r.doc_id for r in llm_corpus_curate_v3(spark, SF).collect()}
    lp = {
        r.doc_id: r.logprob_micro / r.n_tokens
        for r in llm_text_logprob(spark, SF).collect()
    }
    import math

    vals = sorted(lp.values())
    # exact interpolated percentile (the A8 pattern both engines use)
    idx = LOGPROB_DROP_Q * (len(vals) - 1)
    lo, hi = int(math.floor(idx)), int(math.ceil(idx))
    thr = vals[lo] + (idx - lo) * (vals[hi] - vals[lo])
    expect = {d for d in v2 if round(lp[d], 6) >= round(thr, 6)}
    assert v3 == expect
    assert v3 <= v2


def test_curate_v5_is_v4_minus_multimodal_dups(spark):
    """L10e stage consistency (the round-13 capstone's contract): v5's
    keep set must equal v4's minus EXACTLY the union of the three
    independent registered multimodal near-dup operators' doc_b sets
    (image DCT-phash L2k, acoustic L2m, video shot-hash L2n) — the
    composed DAG may not re-derive, weaken, or over-apply any verdict."""
    from pipelinejobs_indexer_spark.llm.dedup import (
        llm_dedup_audiohash,
        llm_dedup_phash,
        llm_dedup_videohash,
    )
    from pipelinejobs_indexer_spark.llm.text import (
        llm_corpus_curate_v4,
        llm_corpus_curate_v5,
    )

    v4 = {r.doc_id: r for r in llm_corpus_curate_v4(spark, SF).collect()}
    v5 = {r.doc_id: r for r in llm_corpus_curate_v5(spark, SF).collect()}
    drops = set()
    for op in (llm_dedup_phash, llm_dedup_audiohash, llm_dedup_videohash):
        drops |= {r.doc_b for r in op(spark, SF).collect()}
    assert set(v5) == set(v4) - drops
    assert drops, "fixture must plant multimodal near-dups"
    for d, row in v5.items():  # surviving rows pass through unchanged
        assert tuple(row) == tuple(v4[d])


def test_containment_catches_doc_contains_doc_that_jaccard_misses(spark, tmp_path):
    """A small doc fully contained in a much larger one: jaccard stays far
    below the 0.8 dedup threshold (union dominated by the big doc) but
    containment = 1.0 — the asymmetric case L2g exists for."""
    from pipelinejobs_indexer_spark.llm.dedup import (
        JACCARD_THRESHOLD,
        llm_dedup_containment,
        llm_dedup_ngram_jaccard,
    )

    words = [f"w{i}" for i in range(60)]
    big = " ".join(words)
    small = " ".join(words[10:22])  # contiguous slice -> shingle subset
    other = " ".join(f"x{i}" for i in range(40))
    rows = [(0, big, "en", "src0", len(big)),
            (1, small, "en", "src0", len(small)),
            (2, other, "en", "src0", len(other))]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    got = {(r.doc_a, r.doc_b): r.containment
           for r in llm_dedup_containment(spark, str(tmp_path)).collect()}
    assert got == {(0, 1): 1.0}
    # the symmetric-jaccard operator must NOT pair them (that's the gap)
    jac = llm_dedup_ngram_jaccard(spark, str(tmp_path)).collect()
    assert jac == [], f"jaccard unexpectedly >= {JACCARD_THRESHOLD}: {jac}"


def test_doc_chunk_covers_every_word_exactly(spark):
    """Chunk windows must tile each document: stride-aligned starts,
    full coverage of the word stream, the advertised overlap between
    consecutive chunks, and no chunk wholly contained in its
    predecessor."""
    from pyspark.sql import functions as F

    from pipelinejobs_indexer_spark.llm.text import (
        CHUNK_OVERLAP,
        CHUNK_STRIDE,
        CHUNK_WORDS,
        llm_doc_chunk,
    )
    from pipelinejobs_indexer_spark.tables import load_table

    texts = {
        r.doc_id: r.text.split(" ")
        for r in load_table(spark, SF, "documents").limit(50).collect()
    }
    chunks = [
        r
        for r in llm_doc_chunk(spark, SF).collect()
        if r.doc_id in texts
    ]
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(texts)
    for did, rows in by_doc.items():
        words = texts[did]
        rows.sort(key=lambda r: r.chunk_id)
        for i, r in enumerate(rows):
            assert r.chunk_id == i and r.start_word == i * CHUNK_STRIDE
            expect = words[r.start_word : r.start_word + CHUNK_WORDS]
            assert r.chunk_text.split(" ") == expect
            assert r.n_chunk_words == len(expect)
        # coverage: last chunk reaches the end; no start beyond n-overlap
        last = rows[-1]
        assert last.start_word + last.n_chunk_words == len(words)
        if len(rows) > 1:
            assert last.start_word < len(words) - CHUNK_OVERLAP


def test_bm25_matches_python_reference(spark):
    """Recompute BM25 in plain Python over the full corpus and pin the
    distributed top-k exactly (micro-int scores make it bit-stable)."""
    import math
    from collections import Counter

    from pipelinejobs_indexer_spark.llm.text import (
        BM25_B,
        BM25_K1,
        BM25_QUERY,
        BM25_TOP_K,
        llm_text_bm25,
    )
    from pipelinejobs_indexer_spark.tables import load_table

    docs = {
        r.doc_id: r.text.split(" ")
        for r in load_table(spark, SF, "documents").collect()
    }
    n_docs = len(docs)
    avgdl = sum(len(w) for w in docs.values()) / n_docs
    df = Counter(
        t for w in docs.values() for t in set(w) if t in BM25_QUERY
    )
    scores = {}
    for did, words in docs.items():
        tf = Counter(t for t in words if t in BM25_QUERY)
        s = 0
        for t, k in tf.items():
            idf = math.log((n_docs - df[t] + 0.5) / (df[t] + 0.5) + 1)
            term = idf * (k * (BM25_K1 + 1)) / (
                k + BM25_K1 * (1 - BM25_B + BM25_B * len(words) / avgdl)
            )
            s += int(round(term * 1_000_000))
        if s:
            scores[did] = s
    expect = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:BM25_TOP_K]
    got = [
        (r.doc_id, r.bm25_micro)
        for r in sorted(llm_text_bm25(spark, SF).collect(), key=lambda r: r.rank)
    ]
    assert got == expect


def test_decode_audio_parses_wave_writer_output_exactly():
    """Cross-check: a WAV produced by the stdlib wave WRITER (independent
    of synth_wav's hand-assembled RIFF) must decode to the exact sample
    values, for both 16-bit and 8-bit PCM."""
    import io
    import struct
    import wave as wave_mod

    samples16 = [0, 1000, -1000, 32767, -32768, 7]
    buf = io.BytesIO()
    with wave_mod.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(44100)
        w.writeframes(b"".join(struct.pack("<h", v) for v in samples16))
    audio = multimodal.decode_audio(buf.getvalue(), "audio/wav")
    assert audio["rate"] == 44100 and audio["channels"] == 1
    assert audio["frames"] == len(samples16)
    assert list(audio["samples"]) == samples16

    buf8 = io.BytesIO()
    with wave_mod.open(buf8, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(8000)
        w.writeframes(bytes([0, 128, 255]))  # unsigned 8-bit
    audio8 = multimodal.decode_audio(buf8.getvalue(), "audio/wav")
    assert list(audio8["samples"]) == [-128, 0, 127]


def test_synth_wav_is_valid_riff_for_stdlib_parser():
    """The hand-assembled RIFF container must satisfy CPython's wave
    parser header-for-header, and the square wave's RMS must equal its
    amplitude exactly (the closed-form oracle's premise)."""
    import math

    from pipelinejobs_indexer_spark.llm.multimodal import (
        AUDIO_RATE,
        _audio_amp,
        _audio_frames,
        synth_wav,
    )

    for doc_id in (0, 7, 49, 96, 12345):
        audio = multimodal.decode_audio(synth_wav(doc_id), "audio/wav")
        assert audio["rate"] == AUDIO_RATE and audio["channels"] == 1
        assert audio["frames"] == _audio_frames(doc_id)
        s = audio["samples"]
        # round 10: the sample width cycles 16/24/32-bit per doc with
        # the amplitude scaled to the width
        amp = _audio_amp(doc_id) * (1 << (8 * ([2, 3, 4][doc_id % 3] - 2)))
        assert max(abs(v) for v in s) == amp
        assert round(math.sqrt(sum(v * v for v in s) / len(s))) == amp


def test_probe_video_box_walker_and_errors():
    """probe_video must recover both mvhd layouts from the hand-built
    trees and reject malformed/non-MP4 payloads loudly."""
    from pipelinejobs_indexer_spark.llm.multimodal import (
        VIDEO_TIMESCALE,
        _video_duration,
        _video_tracks,
        probe_video,
        synth_mp4,
    )

    for doc_id in (0, 1, 2, 113, 226):  # even=v0 mvhd, odd=v1 mvhd
        meta = probe_video(synth_mp4(doc_id))
        assert meta["brand"] == "isom"
        assert meta["timescale"] == VIDEO_TIMESCALE
        assert meta["duration"] == _video_duration(doc_id)
        assert meta["n_tracks"] == _video_tracks(doc_id)
    with pytest.raises(ValueError):
        probe_video(b"\x00" * 16)  # no ftyp
    with pytest.raises(ValueError):
        # ftyp present but a box claims to run past the payload end
        probe_video(b"\x00\x00\x00\x10ftypisom\x00\x00\x02\x00"
                    b"\xff\xff\xff\xffmoov")


def test_bpe_train_matches_python_reference(spark, tmp_path):
    """Pin the distributed BPE loop against a plain-Python reference with
    identical replace semantics, on a crafted corpus that exercises
    frequency-weighted argmax, lexicographic tie-breaks, and merges that
    build on earlier merges ('l'+'o' then 'lo'+'w')."""
    from collections import Counter

    from pipelinejobs_indexer_spark.llm.text import llm_bpe_train

    words = (["low"] * 5) + (["lower"] * 2) + (["newest"] * 6) + (["widest"] * 3)
    rows = [(i, " ".join(words), "en", "src0", 1) for i in range(2)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    def py_bpe(word_counts, k):
        ws = {" " + " ".join(w) + " </w> ": c for w, c in word_counts.items()}
        out = []
        for step in range(k):
            pc = Counter()
            for s, c in ws.items():
                sym = s.strip().split(" ")
                for a, b in zip(sym, sym[1:]):
                    pc[(a, b)] += c
            (left, right), support = min(
                pc.items(), key=lambda kv: (-kv[1], kv[0])
            )
            out.append((step, left, right, left + right, support))
            ws = {
                s.replace(f" {left} {right} ", f" {left}{right} "): c
                for s, c in ws.items()
            }
        return out

    expect = py_bpe(Counter(words * 2), 5)
    got = [
        (r.step, r.l, r.r, r.merged, r.support)
        for r in sorted(llm_bpe_train(spark, str(tmp_path)).collect(),
                        key=lambda r: r.step)
    ]
    assert got == expect
    # the crafted corpus must force a chained merge (a merged symbol
    # participating in a later rule) so the loop is proven iterative
    merged_syms = {m for _, _, _, m, _ in expect}
    assert any(l in merged_syms or r in merged_syms for _, l, r, _, _ in expect)


def test_substring_dedup_catches_shared_span_jaccard_misses(spark, tmp_path):
    """Two long documents sharing one verbatim 20-word block in otherwise
    disjoint text: whole-document jaccard is tiny (must NOT pair), the
    span detector must report exactly that block's length."""
    import random

    from pipelinejobs_indexer_spark.llm.dedup import (
        llm_dedup_ngram_jaccard,
        llm_dedup_substring,
    )

    rng = random.Random(3)
    # 'c'-prefixed block: verified to contain an anchor shingle
    # (hf % ANCHOR_MOD == 0) so the deterministic 1/8 sample finds it —
    # the probabilistic-recall caveat the operator docstring states
    block = [f"c{i}" for i in range(20)]
    docA = [f"a{i}" for i in range(60)]
    docB = [f"x{i}" for i in range(60)]
    # insert the block mid-document in both
    ta = " ".join(docA[:30] + block + docA[30:])
    tb = " ".join(docB[:12] + block + docB[12:])
    tc = " ".join(f"d{i}" for i in range(80))  # unrelated control
    rows = [(0, ta, "en", "src0", len(ta)),
            (1, tb, "en", "src0", len(tb)),
            (2, tc, "en", "src0", len(tc))]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    got = {(r.doc_a, r.doc_b): r.span_words
           for r in llm_dedup_substring(spark, str(tmp_path)).collect()}
    assert got == {(0, 1): 20}
    assert llm_dedup_ngram_jaccard(spark, str(tmp_path)).collect() == []


def test_bpe_deep_merge_loop_with_checkpoint_matches_oracle(spark, ddb, sf_dir):
    """k=10 merges crosses the BPE_CHECKPOINT_EVERY=8 lineage truncation:
    the checkpointed loop must still match the 10-step unrolled DuckDB
    CTE chain exactly (checkpointing is a physical-plan change only)."""
    import sys as _sys

    from pipelinejobs_indexer_spark.llm.text import (
        BPE_CHECKPOINT_EVERY,
        _bpe_sql,
        llm_bpe_train,
    )

    _sys.path.insert(0, os.path.join(os.path.dirname(__file__)))
    from parity import assert_frames_match

    assert BPE_CHECKPOINT_EVERY < 10 <= 2 * BPE_CHECKPOINT_EVERY
    got = llm_bpe_train(spark, sf_dir, k_merges=10).toPandas()
    expect = ddb.execute(_bpe_sql(10)).df()
    assert_frames_match(got, expect, "llm_bpe_train[k=10]")


def test_probe_video_largesize_and_corrupt_headers():
    """64-bit largesize boxes carry a 16-byte header — fields must be
    read past it; size==0 means to-end-of-enclosure; zero timescale is a
    ValueError data error, not ZeroDivisionError."""
    import struct

    from pipelinejobs_indexer_spark.llm.multimodal import probe_video

    def box(btype, payload):
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    mvhd = box(
        b"mvhd", bytes([0, 0, 0, 0]) + struct.pack(">IIII", 0, 0, 1000, 4000)
    )
    trak = box(b"trak", b"\x00" * 8)
    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512))
    inner = mvhd + trak
    # moov as a 64-bit largesize box: size field = 1, 8-byte largesize
    moov_large = (
        struct.pack(">I", 1) + b"moov" + struct.pack(">Q", 16 + len(inner)) + inner
    )
    meta = probe_video(ftyp + moov_large)
    assert (meta["timescale"], meta["duration"], meta["n_tracks"]) == (1000, 4000, 1)
    # size==0: moov extends to end of payload
    moov_zero = struct.pack(">I", 0) + b"moov" + inner
    meta = probe_video(ftyp + moov_zero)
    assert meta["duration_ms"] == 4000
    # timescale 0 -> ValueError, not ZeroDivisionError
    bad_mvhd = box(
        b"mvhd", bytes([0, 0, 0, 0]) + struct.pack(">IIII", 0, 0, 0, 4000)
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="timescale"):
        probe_video(ftyp + box(b"moov", bad_mvhd))


def test_dead_letter_fn_sorts_across_arrow_chunks():
    """Rows of one key arriving as multiple Arrow chunks out of msg_id
    order must still be evaluated in global arrival order — the
    high-water mark may not see a later chunk's earlier rows late."""
    import pandas as pd

    from pipelinejobs_indexer_spark.streaming.queries import (
        _DEAD_LETTER_DELAY_US,
        _dead_letter_fn,
    )

    class FakeState:
        exists = False

        def update(self, v):
            self.value = v

    t_high = pd.Timestamp("2024-01-01 02:00:00")
    t_low = pd.Timestamp("2024-01-01 00:00:00")
    # chunk boundaries deliver msg 2 (late) BEFORE msg 1 (the mark)
    chunk_a = pd.DataFrame({"msg_id": [2], "uuid": ["u"], "name": ["x"], "ts": [t_low]})
    chunk_b = pd.DataFrame({"msg_id": [1], "uuid": ["u"], "name": ["x"], "ts": [t_high]})
    out = pd.concat(list(_dead_letter_fn((1,), iter([chunk_a, chunk_b]), FakeState())))
    assert list(out["msg_id"]) == [2]
    assert list(out["lateness_us"]) == [
        (t_high.value - t_low.value) // 1000 - _DEAD_LETTER_DELAY_US
    ]


def test_bpe_survives_fully_merged_and_empty_words(spark, tmp_path):
    """A corpus whose words fully merge before K steps (1-symbol word
    strings) and a text with a double space (empty word) must not crash
    the pair explode — Spark's sequence(1,0) descends where DuckDB's is
    empty. Steps past the full merge emit no rule in EITHER engine."""
    import duckdb as _duckdb

    from pipelinejobs_indexer_spark.llm.text import _bpe_sql, llm_bpe_train

    _sql_dir = str(tmp_path)
    rows = [(0, "low low  lower", "en", "src0", 14),
            (1, "lo lo lo", "en", "src1", 8)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    got = llm_bpe_train(spark, _sql_dir, k_merges=8).toPandas()
    con = _duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{_sql_dir}/documents.parquet/*.parquet')"
    )
    expect = con.execute(_bpe_sql(8)).df()
    import sys as _sys

    _sys.path.insert(0, os.path.dirname(__file__))
    from parity import assert_frames_match

    assert_frames_match(got, expect, "llm_bpe_train[degenerate]")
    assert len(got) < 8, "full merge should exhaust the rule stream early"


def test_corpus_drift_single_slice_corpus_yields_null_not_crash(spark, tmp_path):
    """All documents in one slice: drift is undefined, so delta_micro is
    NULL — never an Infinity cast crash."""
    from pipelinejobs_indexer_spark.llm.text import llm_corpus_drift

    rows = [(0, "alpha beta", "en", "src0", 10),
            (1, "beta gamma", "en", "src3", 10)]  # both in the ref slice
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = llm_corpus_drift(spark, str(tmp_path)).collect()
    assert {r.word for r in out} == {"alpha", "beta", "gamma"}
    assert all(r.delta_micro is None for r in out)
    assert all(r.n_cand == 0 for r in out)


def test_source_matrix_partitions_the_minhash_pairs(spark):
    """L2h invariants beyond the hash oracle: the matrix is a PARTITION
    of L2a's pair set (every near-dup pair lands in exactly one
    canonically-ordered source cell), so counts must sum to the pair
    count, ordering must be canonical, and per-cell jaccard stats must
    respect the global threshold/bounds."""
    from pipelinejobs_indexer_spark.llm.dedup import (
        JACCARD_THRESHOLD,
        llm_dedup_source_matrix,
    )

    n_pairs = llm_dedup_minhash(spark, SF).count()
    cells = llm_dedup_source_matrix(spark, SF).collect()
    assert sum(c.n_pairs for c in cells) == n_pairs > 0
    for c in cells:
        assert c.source_a <= c.source_b
        assert JACCARD_THRESHOLD <= c.avg_jaccard <= 1.0
        assert c.avg_jaccard <= c.max_jaccard <= 1.0


def test_corpus_split_matches_independent_hash_and_covers(spark):
    """L6k ground truth: every document appears exactly once, the bucket
    matches an INDEPENDENT Python md5 recomputation for every row, the
    split labels follow the 900/950 thresholds, and all three splits are
    populated at roughly 90/5/5."""
    import hashlib

    from pipelinejobs_indexer_spark.llm.text import (
        SPLIT_TRAIN_PM,
        SPLIT_VALID_PM,
        llm_corpus_split,
    )
    from pipelinejobs_indexer_spark.tables import load_table

    rows = llm_corpus_split(spark, SF).collect()
    n_docs = load_table(spark, SF, "documents").count()
    assert len(rows) == n_docs
    assert len({r.doc_id for r in rows}) == n_docs
    counts = {"train": 0, "valid": 0, "test": 0}
    for r in rows:
        want = int(hashlib.md5(f"split:{r.doc_id}".encode()).hexdigest()[:15], 16) % 1000
        assert r.bucket == want, (r.doc_id, r.bucket, want)
        expected = (
            "train"
            if r.bucket < SPLIT_TRAIN_PM
            else ("valid" if r.bucket < SPLIT_VALID_PM else "test")
        )
        assert r.split == expected
        counts[r.split] += 1
    assert counts["train"] > counts["valid"] > 0
    assert counts["test"] > 0
    # 4-sigma binomial tolerance on the train fraction
    p = SPLIT_TRAIN_PM / 1000
    tol = 4 * (p * (1 - p) / n_docs) ** 0.5
    assert abs(counts["train"] / n_docs - p) <= tol, counts


def test_tfidf_keywords_match_python_recompute(spark):
    """L4k ground truth: recompute tf, df, and the (tf DESC, df ASC,
    term ASC) top-k per document in plain Python from the raw text and
    demand the full result set matches."""
    from collections import Counter

    from pipelinejobs_indexer_spark.llm.text import TFIDF_TOP_K, llm_text_tfidf_keywords
    from pipelinejobs_indexer_spark.tables import load_table

    docs = load_table(spark, SF, "documents").select("doc_id", "text").collect()
    tf: dict[int, Counter] = {r.doc_id: Counter(r.text.split(" ")) for r in docs}
    df: Counter = Counter()
    for c in tf.values():
        df.update(c.keys())
    want = set()
    for doc_id, c in tf.items():
        ranked = sorted(c.items(), key=lambda kv: (-kv[1], df[kv[0]], kv[0]))
        for rank, (term, n) in enumerate(ranked[:TFIDF_TOP_K], start=1):
            want.add((doc_id, term, n, df[term], rank))
    got = {
        (r.doc_id, r.term, r.tf, r.df, r.rank)
        for r in llm_text_tfidf_keywords(spark, SF).collect()
    }
    assert got == want


def test_dedup_canonical_picks_best_scored_member(spark):
    """L9c ground truth: membership equals L9's clusters, every cluster
    elects exactly one canonical, and the electee is the (score DESC,
    doc_id ASC) argmax of its cluster under L4c scores taken from the
    quality query itself."""
    from pipelinejobs_indexer_spark.llm.dedup import (
        llm_dedup_canonical,
        llm_dedup_clusters,
    )
    from pipelinejobs_indexer_spark.llm.text import llm_text_quality

    scores = {r.doc_id: r.score for r in llm_text_quality(spark, SF).collect()}
    clusters: dict[int, set[int]] = {}
    for r in llm_dedup_clusters(spark, SF).collect():
        clusters.setdefault(r.cluster_id, set()).add(r.doc_id)
    assert clusters, "fixture corpus must contain near-dup clusters"

    rows = llm_dedup_canonical(spark, SF).collect()
    got_members: dict[int, set[int]] = {}
    for r in rows:
        got_members.setdefault(r.cluster_id, set()).add(r.doc_id)
        assert r.score == scores[r.doc_id]
    assert got_members == clusters
    for cid, members in clusters.items():
        want_canon = min(members, key=lambda d: (-scores[d], d))
        crows = [r for r in rows if r.cluster_id == cid]
        canons = {r.doc_id for r in crows if r.is_canonical}
        assert canons == {want_canon}, (cid, canons, want_canon)
        assert all(r.canonical_id == want_canon for r in crows)


def test_embedding_dim_stats_match_numpy_moments(spark):
    """L3g ground truth: quantize the embedding matrix in numpy on the
    same micro grid and compare every per-dimension moment exactly; the
    shipped mean_micro must be the truncated integer quotient."""
    import numpy as np
    from pyspark.sql import functions as F

    from pipelinejobs_indexer_spark.llm.similarity import (
        DIM_MICRO,
        llm_embedding_dim_stats,
    )
    from pipelinejobs_indexer_spark.tables import load_table

    vecs = (
        load_table(spark, SF, "embeddings")
        .select(F.col("embedding").cast("array<double>").alias("v"))
        .collect()
    )
    m = np.array([r.v for r in vecs], dtype=np.float64)
    q = np.floor(m * DIM_MICRO + 0.5).astype(np.int64)
    rows = {r.dim: r for r in llm_embedding_dim_stats(spark, SF).collect()}
    assert set(rows) == set(range(m.shape[1]))
    for d in range(m.shape[1]):
        col, r = q[:, d], rows[d]
        assert r.n == len(col)
        assert r.sum_micro == int(col.sum())
        assert r.sumsq_micro2 == int((col.astype(object) ** 2).sum())
        assert r.min_micro == int(col.min()) and r.max_micro == int(col.max())
        # truncation toward zero, both engines
        assert r.mean_micro == int(int(col.sum()) / len(col))


def test_bloom_membership_no_false_negatives_and_forced_fps(spark):
    """The Bloom guarantee, pinned: exact membership ALWAYS implies a
    sketch hit (zero false negatives at any m/k), and a saturated sketch
    (m=4, k=4 — verified offline to saturate on these texts) must flag
    unseen content as maybe_seen with the false_positive
    audit column calling it out. Python recompute of every bit cross-checks
    the md5 bit derivation."""
    import hashlib

    from pipelinejobs_indexer_spark.llm.dedup import bloom_membership

    # doc_id % 4 == 0 → batch, else snapshot. d0's text matches s1's
    # (cross-split duplicate); d4 is brand new.
    rows = [
        (0, "shared duplicate content"),
        (1, "shared duplicate content"),
        (2, "snapshot only text two"),
        (3, "snapshot only text three"),
        (4, "genuinely new batch text"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def bits(text: str, m: int, k: int) -> set[int]:
        h = hashlib.md5(text.encode()).hexdigest()
        return {
            int(hashlib.md5(f"{h}#{j}".encode()).hexdigest()[:15], 16) % m
            for j in range(k)
        }

    for m, k in [(8, 4), (16384, 4), (64, 2)]:
        out = {r.keep_doc_id: r for r in bloom_membership(docs, m, k).collect()}
        assert set(out) == {0, 4}
        assert out[0].exact_seen and out[0].maybe_seen  # never a false negative
        assert not out[0].false_positive
        assert not out[4].exact_seen
        # recompute the sketch decision independently
        snap_bits = bits("shared duplicate content", m, k) | bits(
            "snapshot only text two", m, k
        ) | bits("snapshot only text three", m, k)
        want_maybe = bits("genuinely new batch text", m, k) <= snap_bits
        assert out[4].maybe_seen == want_maybe, (m, k)
        assert out[4].false_positive == want_maybe
    # the saturated sketch must actually produce the false positive
    sat = {r.keep_doc_id: r for r in bloom_membership(docs, 4, 4).collect()}
    assert sat[4].false_positive


def test_bloom_sketch_join_broadcasts(spark, sf_dir):
    """The sketch side of the probe join is bounded at m rows by
    construction and must enter as a broadcast — never an all-corpus
    shuffle."""
    from pipelinejobs_indexer_spark import registry

    df = registry.QUERIES["llm_dedup_bloom"](spark, sf_dir)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan


def test_mix_sample_matches_python_recompute_and_order_invariance(spark):
    """The mixture selection replayed independently in Python: per source,
    docs sorted by (md5 priority key, doc_id), selected while the tokens
    BEFORE the doc are under the uniform budget (so the crossing doc is
    kept and an under-budget source is taken whole). The two-phase
    distributed prefix sum must reproduce it exactly, and must not depend
    on input row order."""
    import hashlib

    from pipelinejobs_indexer_spark.llm.text import MIX_SEED, mix_sample

    texts = {
        "a": [("w " * n).strip() for n in (5, 50, 200, 7, 30)],
        "b": [("w " * n).strip() for n in (300, 300)],
        "c": [("w " * n).strip() for n in (1, 2, 3)],  # under budget: all kept
    }
    rows, did = [], 0
    for src, ts in texts.items():
        for t in ts:
            rows.append((did, src, t))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")

    def key(doc_id: int) -> int:
        return int(
            hashlib.md5(f"mix:{MIX_SEED}:{doc_id}".encode()).hexdigest()[:15], 16
        )

    toks = {d: len(t.split(" ")) for d, _, t in rows}
    target = sum(toks.values()) // len(texts)
    want = {}
    for src in texts:
        cum = 0
        for d in sorted(
            (d for d, s, _ in rows if s == src), key=lambda d: (key(d), d)
        ):
            prev, cum = cum, cum + toks[d]
            if prev < target:
                want[d] = cum
    got = {r.doc_id: r for r in mix_sample(docs).collect()}
    assert set(got) == set(want)
    for d, r in got.items():
        assert r.cum_tokens == want[d] and r.n_tokens == toks[d]
    # every source is represented, and selection is budget-tight: dropping
    # the last-priority selected doc of a cut source leaves it under target
    assert {r.source for r in got.values()} == set(texts)
    # input-row-order invariance
    rev = spark.createDataFrame(
        list(reversed(rows)), "doc_id long, source string, text string"
    )
    got2 = {(r.doc_id, r.cum_tokens) for r in mix_sample(rev).collect()}
    assert got2 == {(d, c) for d, c in want.items()}


def test_mix_sample_plan_is_bucket_parallel(spark, sf_dir):
    """The corpus-scale window must partition by (source, bucket) — the
    whole point of the two-phase prefix sum is escaping the one-task-per-
    source naive window — the offsets frame must enter as a broadcast
    equi-join, and the budget must NOT arrive via a nested-loop join."""
    import contextlib
    import io
    import re

    from pipelinejobs_indexer_spark import registry

    df = registry.QUERIES["llm_corpus_mix_sample"](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert re.search(r"hashpartitioning\(source#\d+, bucket#\d+", plan), plan


def test_vocab_coverage_matches_python_recompute_with_boundary_tie(spark):
    """Vocabulary cut + coverage replayed independently in Python, with a
    planted frequency TIE straddling the V boundary: 'bb' and 'cc' both
    appear 3 times, V=2 keeps {top-frequency 'aa', then 'bb' by the
    lexicographic tie-break} — 'cc' must land out-of-vocab in every
    engine or the cut is nondeterministic."""
    from pipelinejobs_indexer_spark.llm.text import vocab_coverage

    rows = [
        (0, "s1", "aa aa aa aa bb bb cc"),
        (1, "s1", "bb cc dd"),
        (2, "s2", "aa cc ee ee"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    # counts: aa=5, bb=3, cc=3, ee=2, dd=1 → V=2 vocab = {aa, bb}
    out = {r.source: r for r in vocab_coverage(docs, top_v=2).collect()}
    # s1: tokens aa×4,bb×3,cc×2,dd×1 = 10; covered aa+bb = 7; oov types {cc,dd}
    assert out["s1"].n_tokens == 10
    assert out["s1"].covered_tokens == 7
    assert out["s1"].oov_types == 2
    assert out["s1"].oov_rate == round(1 - 7 / 10, 6)
    # s2: tokens aa×1,cc×1,ee×2 = 4; covered aa = 1; oov types {cc,ee}
    assert out["s2"].n_tokens == 4
    assert out["s2"].covered_tokens == 1
    assert out["s2"].oov_types == 2
    assert out["s2"].oov_rate == round(1 - 1 / 4, 6)
    # full-vocab V covers everything: zero OOV anywhere
    full = {r.source: r for r in vocab_coverage(docs, top_v=5).collect()}
    assert all(r.oov_types == 0 and r.oov_rate == 0.0 for r in full.values())


def test_vocab_coverage_plan_broadcasts_vocab(spark, sf_dir):
    """The vocab side is bounded at V rows and must broadcast; the top-V
    cut must be a TakeOrderedAndProject over the types frame, never a
    global corpus sort."""
    import contextlib
    import io

    from pipelinejobs_indexer_spark import registry

    df = registry.QUERIES["llm_vocab_coverage"](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan


def test_embedding_outliers_planted_and_exact_ztest_recompute(spark):
    """The exact-integer z-test replayed in Python ints over a planted
    corpus (30 ordinary vectors, one dead near-zero, one 100x exploded):
    every flag and side must match the recompute, the exploded vector
    must flag 'high', and an all-identical-norms corpus (variance 0)
    must keep everything 'in' via the strict inequality."""
    from pipelinejobs_indexer_spark.llm.similarity import (
        DIM_MICRO,
        embedding_outliers,
    )

    def q(x: float) -> int:
        import math

        return int(math.floor(x * DIM_MICRO + 0.5))

    vecs = {i: [0.5 + 0.01 * (i % 5)] * 4 for i in range(30)}
    vecs[30] = [1e-9] * 4  # dead
    vecs[31] = [50.0] * 4  # exploded
    rows = [(i, [float(x) for x in v]) for i, v in vecs.items()]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    # NB: Spark stores float32; quantization happens on the float32-rounded
    # value, so recompute from the same float32 values.
    import numpy as np

    s = {
        i: sum(q(float(np.float32(x))) ** 2 for x in v) for i, v in vecs.items()
    }
    n, sum_s = len(s), sum(s.values())
    sumsq_s = sum(v * v for v in s.values())
    want = {}
    for i, si in s.items():
        dev2 = (si * n - sum_s) ** 2
        bound = 9 * (n * sumsq_s - sum_s * sum_s)
        flag = dev2 > bound
        side = "in" if not flag else ("low" if si * n < sum_s else "high")
        want[i] = (si, flag, side)
    got = {
        r.vec_id: (r.norm2_micro2, r.is_outlier, r.side)
        for r in embedding_outliers(emb).collect()
    }
    assert got == want
    assert got[31][2] == "high"
    # variance-zero corpus: nothing flags
    same = spark.createDataFrame(
        [(i, [0.25] * 4) for i in range(5)], "vec_id long, embedding array<float>"
    )
    out = embedding_outliers(same).collect()
    assert all(not r.is_outlier and r.side == "in" for r in out)


def test_split_leakage_planted_cross_split_dups(spark):
    """Planted leakage at hand-picked split buckets (md5 per-mille: ids
    0,1,2 are train; 33 valid; 53 test; 37 valid; 59 test): an identical
    text on {0, 1, 33, 53} must surface ONLY the eval docs 33 and 53,
    each with exactly the 2 train dups — the train-train pair (0,1) and
    the eval-eval pairs (33,53) and (37,59) must NOT appear, and a
    unique train doc contributes nothing."""
    from pipelinejobs_indexer_spark.llm.text import split_leakage

    dup = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    evaldup = (
        "one two three four five six seven eight nine ten eleven "
        "twelve thirteen fourteen fifteen sixteen seventeen"
    )
    uniq = (
        "granite basalt quartz feldspar mica schist gneiss marble "
        "slate obsidian pumice tuff andesite rhyolite dacite"
    )
    rows = [
        (0, dup),
        (1, dup),
        (33, dup),
        (53, dup),
        (37, evaldup),
        (59, evaldup),
        (2, uniq),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in split_leakage(docs).collect()}
    assert set(got) == {33, 53}
    assert got[33].split == "valid" and got[53].split == "test"
    assert got[33].n_train_dups == 2 and got[53].n_train_dups == 2
    assert got[33].max_jaccard == 1.0 and got[53].max_jaccard == 1.0


def test_corpus_report_matches_python_recompute(spark):
    """Every dataset-card column replayed independently in Python over a
    planted frame: an exact dup pair, two languages per source, known
    split buckets (ids 0,1,2 train; 33 valid; 53 test), and scores
    recomputed on the same round-6/micro grid."""
    import hashlib
    import math

    from pipelinejobs_indexer_spark.llm.score import STOPWORDS
    from pipelinejobs_indexer_spark.llm.text import corpus_report

    rows = [
        (0, "the cat sat", "en", "s1"),
        (1, "the cat sat", "en", "s1"),  # exact dup of 0
        (33, "dog runs fast", "de", "s1"),  # valid → eval
        (53, "a of and is", "en", "s2"),  # test → eval
        (2, "unique words here indeed", "fr", "s2"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )

    def micro(text: str) -> int:
        w = text.split(" ")
        stop = sum(1 for x in w if x in STOPWORDS) / len(w)
        punct = sum(1 for c in text if not (c.islower() or c.isdigit() or c == " "))
        raw = 0.2 + len(w) / 1000.0 + stop - 0.05 * punct
        raw = min(1.0, max(0.0, raw))
        return int(math.floor(raw * 1_000_000 + 0.5))

    def is_eval(doc_id: int) -> int:
        b = int(hashlib.md5(f"split:{doc_id}".encode()).hexdigest()[:15], 16) % 1000
        return 1 if b >= 900 else 0

    want = {}
    for src in ("s1", "s2"):
        mine = [r for r in rows if r[3] == src]
        toks = sum(len(r[1].split(" ")) for r in mine)
        want[src] = dict(
            n_docs=len(mine),
            n_tokens=toks,
            n_dup_docs=len(mine) - len({r[1] for r in mine}),
            n_langs=len({r[2] for r in mine}),
            mean_score_micro=sum(micro(r[1]) for r in mine) // len(mine),
            n_eval_docs=sum(is_eval(r[0]) for r in mine),
        )
    total = sum(w["n_tokens"] for w in want.values())
    got = {r.source: r for r in corpus_report(docs).collect()}
    assert set(got) == set(want)
    for src, w in want.items():
        g = got[src]
        for k, v in w.items():
            assert getattr(g, k) == v, (src, k, getattr(g, k), v)
        assert g.token_share == round(w["n_tokens"] / total, 6)
    assert got["s1"].n_dup_docs == 1 and got["s1"].n_eval_docs == 1


def test_curriculum_stages_monotone_and_pos_contiguous(spark, sf_dir):
    """Stage quartiles must partition the score axis (every stage-i score
    strictly below every stage-i+1 score — threshold ties sink into the
    lower stage), and within each (stage, shard) the pos ranks must be
    the contiguous sequence 1..n."""
    from collections import defaultdict

    from pipelinejobs_indexer_spark import registry

    registry.load_all()
    rows = registry.QUERIES["llm_corpus_curriculum"](spark, sf_dir).collect()
    assert rows
    by_stage = defaultdict(list)
    shards = defaultdict(list)
    for r in rows:
        by_stage[r.stage].append(r.score)
        shards[(r.stage, r.shard)].append(r.pos)
    stages = sorted(by_stage)
    assert stages == list(range(len(stages)))  # no empty middle stage
    for lo, hi in zip(stages, stages[1:]):
        assert max(by_stage[lo]) < min(by_stage[hi]), (lo, hi)
    for key, poss in shards.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), key


def test_substring_recall_eval_ground_truth_is_exhaustive(spark):
    """L12b mechanism: anchor_mod=1 must catch a shared span whose
    shingles ALL hash off the 1/ANCHOR_MOD residue (the exact miss case
    the ~(7/8)^(L-2) derivation prices), while the shipped sampling
    misses exactly that pair — so recall_pct measures something real."""
    import hashlib

    from pipelinejobs_indexer_spark.llm.dedup import (
        ANCHOR_MOD,
        SHINGLE_K,
        substring_span_pairs,
    )

    def hf(words, i):
        s = " ".join(words[i : i + SHINGLE_K])
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def find_run(prefix, want_anchor):
        seed = 0
        while True:
            run = [f"{prefix}{seed}w{k}" for k in range(16)]
            has = any(
                hf(run, i) % ANCHOR_MOD == 0
                for i in range(len(run) - SHINGLE_K + 1)
            )
            if has == want_anchor:
                return run
            seed += 1

    blind = find_run("m", want_anchor=False)  # invisible to the sample
    seen = find_run("a", want_anchor=True)
    rows = [
        (1, " ".join([f"p1x{k}" for k in range(5)] + blind)),
        (2, " ".join(blind + [f"p2x{k}" for k in range(5)])),
        (3, " ".join([f"p3x{k}" for k in range(5)] + seen)),
        (4, " ".join(seen + [f"p4x{k}" for k in range(5)])),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {
        (r.doc_a, r.doc_b): r.span_words
        for r in substring_span_pairs(
            docs, anchor_df_cap=1 << 40, anchor_mod=1
        ).collect()
    }
    approx = {
        (r.doc_a, r.doc_b): r.span_words
        for r in substring_span_pairs(docs).collect()
    }
    assert set(exact) == {(1, 2), (3, 4)}
    assert set(approx) == {(3, 4)}  # the blind pair is the measured miss
    assert exact[(3, 4)] == approx[(3, 4)] == 16  # verified spans agree
    assert exact[(1, 2)] == 16


def test_dim_stats_decimal_accumulator_swap_is_real(spark):
    """L3g's documented past-~1e7-vectors escape hatch, run for real.
    (a) On in-range data the DECIMAL(38,0) path agrees value-for-value
    with the shipped bigint path. (b) On values sized so sum(v*v)
    exceeds bigint's 9.2e18, the bigint twin fails hard (ANSI long
    overflow — it cannot produce the number at all) while the DECIMAL
    path returns the Python-exact moment — the swap is a correctness
    hatch, not a style choice."""
    from pipelinejobs_indexer_spark.llm.similarity import (
        embedding_dim_stats,
    )

    # (a) value parity on in-range micro-grid vectors
    rows = [([(d * 7 + i * 13) % 1000 - 500 for d in range(8)],)
            for i in range(50)]
    emb = spark.createDataFrame(rows, "qv array<bigint>")
    exact = {r.dim: tuple(r)[1:] for r in embedding_dim_stats(emb).collect()}
    dec = {
        r.dim: tuple(int(x) for x in tuple(r)[1:])
        for r in embedding_dim_stats(emb, accumulator="decimal").collect()
    }
    assert dec == {k: tuple(int(x) for x in v) for k, v in exact.items()}

    # (b) genuine overflow: v = 3.05e9 -> v*v ~ 9.3e18 > 2^63-1 per row
    big = 3_050_000_000
    over = spark.createDataFrame([([big],), ([big],)], "qv array<bigint>")
    truth = 2 * big * big
    assert truth > (1 << 63) - 1  # the case really overflows bigint
    import pytest as _pytest

    with _pytest.raises(Exception, match="ARITHMETIC_OVERFLOW|overflow"):
        embedding_dim_stats(over).collect()  # bigint twin CANNOT answer
    widened = int(
        embedding_dim_stats(over, accumulator="decimal")
        .collect()[0]
        .sumsq_micro2
    )
    assert widened == truth  # ... the DECIMAL hatch answers exactly

    with _pytest.raises(ValueError, match="accumulator"):
        embedding_dim_stats(emb, accumulator="float")


def test_corpus_report_approx_distinct_swap_within_bands(spark, sf_dir):
    """L6m's documented past-~1e10-docs escape hatch, run for real: the
    approx_count_distinct twin must agree with the exact report on
    every non-sketched column and keep the sketched counts inside the
    HLL rsd bands (4 sigma at rsd=0.02 — the agg_approx_distinct
    self-certification pattern)."""
    from pipelinejobs_indexer_spark.llm.text import corpus_report
    from pipelinejobs_indexer_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    exact = {r.source: r.asDict() for r in corpus_report(docs).collect()}
    approx = {
        r.source: r.asDict()
        for r in corpus_report(docs, distinct_mode="approx").collect()
    }
    assert set(exact) == set(approx) and exact
    for src, e in exact.items():
        a = approx[src]
        for col in ("n_docs", "n_tokens", "mean_score_micro",
                    "n_eval_docs", "token_share"):
            assert a[col] == e[col], (src, col)
        # sketched columns: |approx - exact| <= 4 * rsd * exact (+1 slack
        # for the tiny-cardinality regime where HLL is near-exact)
        exact_distinct_h = e["n_docs"] - e["n_dup_docs"]
        approx_distinct_h = a["n_docs"] - a["n_dup_docs"]
        assert abs(approx_distinct_h - exact_distinct_h) <= max(
            1, int(4 * 0.02 * exact_distinct_h)
        ), src
        assert abs(a["n_langs"] - e["n_langs"]) <= max(
            1, int(4 * 0.02 * e["n_langs"])
        ), src

    import pytest as _pytest

    with _pytest.raises(ValueError, match="distinct_mode"):
        corpus_report(docs, distinct_mode="sketchy")


def test_minhash_recall_eval_measures_banding_misses(spark):
    """L2i mechanism: with 200 planted pairs at jaccard ~0.85, the exact
    prefix-filter pass must catch ALL of them while the 4x4 LSH banding
    deterministically misses a nonzero subset (S-curve ~0.9 here; the
    chance of zero misses is ~1e-9) — and every pair minhash DOES emit
    carries the byte-identical exact jaccard."""
    from pipelinejobs_indexer_spark.llm.dedup import (
        minhash_pairs,
        ngram_jaccard_pairs,
    )

    rows = []
    for p in range(200):
        words = [f"p{p}w{k}" for k in range(40)]
        a = " ".join(words)
        # two adjacent edits kill exactly 4 of 38 shingles: jaccard
        # 34/42 ~ 0.810, just over the 0.8 gate, where the 4x4 S-curve
        # sits at ~0.89 — the regime the eval exists to measure
        bw = list(words)
        bw[19] = f"p{p}x"
        bw[20] = f"p{p}y"
        b = " ".join(bw)
        rows.append((2 * p, a))
        rows.append((2 * p + 1, b))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs).collect()
    }
    approx = {
        (r.doc_a, r.doc_b): r.jaccard for r in minhash_pairs(docs).collect()
    }
    assert set(exact) == {(2 * p, 2 * p + 1) for p in range(200)}
    missed = set(exact) - set(approx)
    assert 0 < len(missed) < 100  # the S-curve tail, not a broken join
    assert set(approx) <= set(exact)  # candidates are exact-verified
    for k, v in approx.items():
        assert v == exact[k], k  # same verify arithmetic on both sides


def test_dsir_selection_enriches_target(spark, sf_dir):
    """llm_dsir_select must actually DO importance selection: the
    top-K it keeps should be enriched in the target stratum (lang='en')
    relative to the raw corpus — the semantic claim of Xie et al.'s
    method, beyond hash parity."""
    from pipelinejobs_indexer_spark import registry

    registry.load_all()
    sel = registry.QUERIES["llm_dsir_select"](spark, sf_dir).toPandas()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").toPandas()
    merged = sel.merge(docs[["doc_id", "lang"]], on="doc_id")
    frac_sel = (merged["lang"] == "en").mean()
    frac_all = (docs["lang"] == "en").mean()
    assert frac_sel > frac_all + 0.2, (frac_sel, frac_all)
    # scores must be strictly ranked with the doc_id tiebreak
    s = list(zip(-sel["score"], sel["doc_id"]))
    assert s == sorted(s)


def test_ogg_mp3_probes():
    """Ogg page-walk and MP3 frame-walk triage: CRC parameters pinned
    by direct-algorithm identities (init 0 / no xorout / non-reflected
    0x04C11DB7 — crc(0x01) == poly and xor-linearity distinguish them
    from the reflected/inverted CRC-32 families), lacing-spanning
    packets, EOS flags, bitrate/padding frame arithmetic, and the
    corruption classes."""
    import pytest as _pytest

    from pipelinejobs_indexer_spark.llm.bits import crc_msb
    from pipelinejobs_indexer_spark.llm.multimodal import (
        _OGG_CRC_POLY,
        probe_mp3,
        probe_ogg,
        synth_mp3_frames,
        synth_ogg,
    )

    assert crc_msb(b"\x00" * 9, _OGG_CRC_POLY, 32) == 0
    assert crc_msb(b"\x01", _OGG_CRC_POLY, 32) == 0x04C11DB7
    a, b = b"hello wor", b"ogg pages"
    ab = bytes(x ^ y for x, y in zip(a, b))
    assert crc_msb(a, _OGG_CRC_POLY, 32) ^ crc_msb(b, _OGG_CRC_POLY, 32) == (
        crc_msb(ab, _OGG_CRC_POLY, 32)
    )
    for d in (0, 1, 7, 13, 38):
        og = probe_ogg(synth_ogg(d))
        assert og["n_pages"] == 2 + d % 4 == og["n_packets"]
        assert og["final_granule"] == (2 + d % 4) * (100 + d % 50)
        assert og["eos"]
        mp = probe_mp3(synth_mp3_frames(d))
        assert mp["n_frames"] == 5 + d % 20
        assert mp["duration_ms"] == (5 + d % 20) * 1152 * 1000 // mp["sample_rate"]
        assert not mp["vbr"]
    # a flipped payload bit fails the page CRC
    data = bytearray(synth_ogg(3))
    data[40] ^= 1
    with _pytest.raises(ValueError, match="CRC"):
        probe_ogg(bytes(data))
    # truncated final frame is a data error
    with _pytest.raises(ValueError):
        probe_mp3(synth_mp3_frames(2)[:-3])
    # MPEG-2 / other layers are honest refusals, not wrong numbers
    frames = bytearray(synth_mp3_frames(4))
    frames[1] = 0xF3  # version bits 10 (MPEG-2), layer III
    with _pytest.raises(NotImplementedError, match="MPEG-1"):
        probe_mp3(bytes(frames))
    # free-form bitrate index is a data error
    frames = bytearray(synth_mp3_frames(4))
    frames[2] &= 0x0F
    with _pytest.raises(ValueError, match="bitrate"):
        probe_mp3(bytes(frames))


def test_webm_probe():
    """EBML/WebM probe: vint widths, parent bounds, track-type counts,
    exact integer-grid float Duration, corruption classes, fuzz."""
    import random

    import pytest as _pytest

    from pipelinejobs_indexer_spark.llm.multimodal import (
        _ebml_vint,
        probe_webm,
        synth_webm,
    )

    # vint grammar: 1-byte and 2-byte forms, marker kept for IDs only
    assert _ebml_vint(b"\x81", 0, keep_marker=False) == (1, 1)
    assert _ebml_vint(b"\x81", 0, keep_marker=True) == (0x81, 1)
    assert _ebml_vint(b"\x40\x7f", 0, keep_marker=False) == (0x7F, 2)
    with _pytest.raises(ValueError, match="wider"):
        _ebml_vint(b"\x00\x01", 0, keep_marker=False)
    with _pytest.raises(ValueError, match="truncated"):
        _ebml_vint(b"\x40", 0, keep_marker=False)
    for d in (0, 1, 5, 112, 113):
        m = probe_webm(synth_webm(d))
        assert m["doctype"] == "webm"
        assert m["duration_ms"] == 2000 + (d % 113) * 40
        assert m["n_video"] == 1 + d % 2 and m["n_audio"] == d % 3
    # a child whose declared size overruns its parent is corruption
    bad = bytearray(synth_webm(2))
    # the EBML header payload is _ebml_el(0x4282, b"webm"): grow the
    # DocType's declared size past the header's end
    at = bytes(bad).index(b"\x42\x82") + 2
    bad[at] = 0xBF  # size 63 > remaining header bytes
    with _pytest.raises(ValueError, match="overruns"):
        probe_webm(bytes(bad))
    with _pytest.raises(ValueError, match="EBML"):
        probe_webm(b"not an ebml stream")
    # bit-flip fuzz: parse or ValueError, never crash
    rng = random.Random(31)
    clean = synth_webm(9)
    for trial in range(300):
        data = bytearray(clean)
        for _ in range(1 + trial % 5):
            data[rng.randrange(len(data))] ^= 1 << rng.randrange(8)
        try:
            probe_webm(bytes(data))
        except ValueError:
            pass


def test_png_adam7_interlace():
    """Adam7 (PNG §8.2): seven independently filtered passes scattered
    on the pass grid — round trips across sizes that leave passes
    empty, every filter type, and pixel-exact equality with the
    sequential layout; half-written pass data is loud."""
    import numpy as np
    import pytest as _pytest

    from pipelinejobs_indexer_spark.llm.png import (
        decode_png,
        encode_png_gray,
    )

    rng = np.random.RandomState(7)
    for h, w in [(1, 1), (2, 3), (7, 5), (8, 8), (9, 17), (33, 31)]:
        img = rng.randint(0, 256, (h, w)).astype(np.uint8)
        for filters in [(0,), (0, 1, 2, 3, 4), (4,)]:
            inter = decode_png(
                encode_png_gray(img, row_filters=filters, interlace=True)
            )
            seq = decode_png(encode_png_gray(img, row_filters=filters))
            assert (inter == seq).all() and (inter[:, :, 0] == img).all()
    # truncated pass data is a data error, not wrong pixels
    import struct
    import zlib as _zlib

    data = bytearray(encode_png_gray(img, interlace=True))
    # shrink the IDAT payload by re-deflating a truncated raw stream
    from pipelinejobs_indexer_spark.llm.png import SIGNATURE, _chunk

    raw = _zlib.decompress(
        bytes(data[data.index(b"IDAT") + 4 : data.rindex(b"IEND") - 8])
    )
    ihdr = struct.pack(">IIBBBBB", 31, 33, 8, 0, 0, 0, 1)
    bad = (
        SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", _zlib.compress(raw[:-40]))
        + _chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="Adam7|IDAT"):
        decode_png(bad)


def test_png_depth_variants():
    """Round-10 PNG depths: 16-bit returns uint16 (big-endian pairs
    recombined after BYTE-oriented defiltering), sub-8 gray unpacks
    bit groups with the exact-integer linear scaling, and unsupported
    combinations stay refusals. External pins live in
    test_conformance.py (JDK-written gray16/gray4/gray2/gray1/pal_png)."""
    import struct
    import zlib

    import numpy as np
    import pytest

    from pipelinejobs_indexer_spark.llm.png import SIGNATURE, _chunk, decode_png

    def build(w, h, depth, color_type, rows_bytes, plte=None):
        ihdr = struct.pack(">IIBBBBB", w, h, depth, color_type, 0, 0, 0)
        idat = zlib.compress(
            b"".join(b"\x00" + r for r in rows_bytes)
        )
        chunks = [_chunk(b"IHDR", ihdr)]
        if plte is not None:
            chunks.append(_chunk(b"PLTE", plte))
        chunks += [_chunk(b"IDAT", idat), _chunk(b"IEND", b"")]
        return SIGNATURE + b"".join(chunks)

    # 4-bit gray, 5 px wide: nibbles 1,2,3,4,5 -> x17 scaling
    png = build(5, 1, 4, 0, [bytes([0x12, 0x34, 0x50])])
    img = decode_png(png)
    assert img[:, :, 0].tolist() == [[17, 34, 51, 68, 85]]
    # 16-bit gray: big-endian pairs, uint16 out
    png = build(2, 1, 16, 0, [bytes([0x12, 0x34, 0xAB, 0xCD])])
    img = decode_png(png)
    assert img.dtype == np.uint16
    assert img[:, :, 0].tolist() == [[0x1234, 0xABCD]]
    # 2-bit palette: raw indices into PLTE
    plte = bytes([10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120])
    png = build(4, 1, 2, 3, [bytes([0b00011011])], plte=plte)
    img = decode_png(png)
    assert img[0].tolist() == [[10, 20, 30], [40, 50, 60],
                               [70, 80, 90], [100, 110, 120]]
    # out-of-range palette index is corruption
    png = build(4, 1, 2, 3, [bytes([0b00011011])], plte=plte[:6])
    with pytest.raises(ValueError, match="beyond the PLTE"):
        decode_png(png)
    # 16-bit palette is not a legal PNG combination
    png = build(2, 1, 16, 3, [bytes([0, 0, 0, 1])], plte=plte)
    with pytest.raises(NotImplementedError):
        decode_png(png)
    # sub-8 RGB is not a legal PNG combination
    png = build(2, 1, 4, 2, [bytes([0x12, 0x34, 0x56])])
    with pytest.raises(NotImplementedError):
        decode_png(png)


def test_wav_24_32_bit_pcm():
    """24/32-bit PCM WAV (round 10): 3-byte two's-complement sign
    extension is cross-checked against audioop.lin2lin (independent C
    implementation), 32-bit against struct; odd widths stay refusals."""
    import struct

    import pytest

    from pipelinejobs_indexer_spark.llm.multimodal import (
        decode_audio,
        synth_wav,
    )

    # synth cycle: doc_id % 3 == 1 -> 24-bit, == 2 -> 32-bit
    a24 = decode_audio(synth_wav(1), "audio/wav")
    assert max(a24["samples"]) == (1000 + 1 * 64) * 256
    assert min(a24["samples"]) == -(1000 + 1 * 64) * 256
    a32 = decode_audio(synth_wav(2), "audio/wav")
    assert max(a32["samples"]) == (1000 + 2 * 64) * 65536
    # audioop cross-check of the 24-bit sign extension
    try:
        import audioop
    except ImportError:
        audioop = None
    if audioop is not None:
        vals = [-8388608, -1, 0, 1, 300000, 8388607]
        raw = b"".join(v.to_bytes(3, "little", signed=True) for v in vals)
        wav = (
            b"RIFF" + struct.pack("<I", 36 + len(raw)) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 16000,
                                    48000, 3, 24)
            + b"data" + struct.pack("<I", len(raw)) + raw
        )
        got = decode_audio(wav, "audio/wav")["samples"]
        via_audioop = struct.unpack(
            f"<{len(vals)}i", audioop.lin2lin(raw, 3, 4)
        )
        assert list(got) == [v >> 8 for v in via_audioop] or list(
            got
        ) == [v // 256 for v in via_audioop]
        assert list(got) == vals
    # unsupported width stays a refusal
    raw = bytes(10)
    wav = (
        b"RIFF" + struct.pack("<I", 36 + len(raw)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 16000,
                                80000, 5, 40)
        + b"data" + struct.pack("<I", len(raw))
    )
    with pytest.raises((NotImplementedError, ValueError)):
        decode_audio(wav, "audio/wav")


def test_gif_animation_frames():
    """Round-10 animated GIF: per-frame rects, GCE delay/disposal/
    transparency metadata, local palettes, per-frame interlace; a GCE
    governs exactly one frame. External pin: the JDK writeToSequence
    fixture (anim.gif) in test_conformance.py."""
    import numpy as np
    import pytest

    from pipelinejobs_indexer_spark.llm.gif import (
        decode_gif,
        decode_gif_frames,
        encode_gif_frames,
    )

    pal = np.array([[i * 17 % 256, (200 - i * 9) % 256, i * 23 % 256]
                    for i in range(16)], dtype=np.uint8)
    frames = [
        {"indices": np.arange(48, dtype=np.uint8).reshape(6, 8) % 16,
         "delay_cs": 10, "disposal": 1},
        {"indices": (np.arange(20, dtype=np.uint8).reshape(4, 5) * 3) % 16,
         "x": 2, "y": 1, "delay_cs": 5, "disposal": 2, "interlace": True},
        {"indices": np.ones((6, 8), dtype=np.uint8) * 7},
    ]
    g = encode_gif_frames(frames, pal)
    assert b"NETSCAPE2.0" in g
    out = decode_gif_frames(g)
    assert len(out) == 3
    for f, o in zip(frames, out):
        assert (o["pixels"] == pal[f["indices"]]).all()
        assert o["delay_cs"] == f.get("delay_cs", 0)
        assert o["disposal"] == f.get("disposal", 0)
        assert (o["x"], o["y"]) == (f.get("x", 0), f.get("y", 0))
    # frame 3 had no GCE: metadata defaults, not frame 2's values
    assert out[2]["delay_cs"] == 0 and out[2]["transparent"] is None
    # the single-frame surface still reads frame 0
    assert (decode_gif(g) == pal[frames[0]["indices"]]).all()
    # frame-count bound is a loud error
    with pytest.raises(ValueError, match="frames"):
        decode_gif_frames(g, max_frames=2)
    # truncation mid-animation stays loud
    with pytest.raises(ValueError):
        decode_gif_frames(g[: len(g) - 10] )


def test_phash_dct_banded_exactness_and_separation():
    """The 256-bit DCT phash (round 11): the 16-band LSH plan must be
    result-identical to brute-force Hamming at radius 12 (pigeonhole:
    radius < band count), the fixture's within-radius pairs must all be
    in-group, and cross-base pairs must sit far outside the radius —
    the over-clustering failure the 56-bit dHash showed at the r10 sf1
    probe (VERDICT r10 item 2)."""
    import pandas as pd

    from pipelinejobs_indexer_spark.llm import dedup as D
    from pipelinejobs_indexer_spark.tables import map_row_batches

    assert D.PHASH_DCT_MAX_DIST < D.PHASH_DCT_BANDS  # exactness precondition

    out = pd.concat(list(map_row_batches(
        [pd.DataFrame({"doc_id": range(120)})], D._phash_dct_rows, D.BANDS_SCHEMA
    )))
    assert len(out) == 120 and all(len(b) == D.PHASH_DCT_BANDS for b in out.bands)
    assert all(0 <= v < (1 << 16) for b in out.bands for v in b)
    h = dict(zip(out.doc_id, out.bands))

    def ham(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(a, b))

    ids = sorted(h)
    brute = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if ham(h[a], h[b]) <= D.PHASH_DCT_MAX_DIST
    }
    cand = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if any(x == y for x, y in zip(h[a], h[b]))
    }
    assert brute <= cand  # every within-radius pair collides in >=1 band
    banded = {p for p in cand if ham(h[p[0]], h[p[1]]) <= D.PHASH_DCT_MAX_DIST}
    assert banded == brute  # verify step restores exactness

    assert brute, "fixture must produce near-dup pairs"
    assert all(a // 3 == b // 3 for a, b in brute)  # no cross-base captures
    cross_min = min(
        ham(h[a], h[b])
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if a // 3 != b // 3
    )
    assert cross_min > 2 * D.PHASH_DCT_MAX_DIST  # wide separation margin

    # band-entropy floor: a near-constant band value makes the band
    # equi-join quadratic (the build-time failure: 2x2-block input
    # zeroed the u=8 DCT row, band 8 went constant, and the sf1 probe
    # ground through ~1.25G candidate pairs). Every band must spread
    # docs across many buckets.
    for b in range(D.PHASH_DCT_BANDS):
        vals = {h[i][b] for i in ids}
        assert len(vals) > len(ids) // 4, (
            f"band {b} has only {len(vals)} distinct values over "
            f"{len(ids)} docs — candidate join degenerates"
        )


def test_audiohash_banded_exactness_and_separation():
    """L2m (round 11): same invariants as the image DCT phash, over
    FLAC-round-tripped samples — banded plan result-identical to brute
    force at radius 12, within-radius pairs all in-group, cross-base
    pairs far outside, and no low-entropy band (the degenerate-band
    failure mode)."""
    import pandas as pd

    from pipelinejobs_indexer_spark.llm import dedup as D
    from pipelinejobs_indexer_spark.tables import map_row_batches

    assert D.AUDIOHASH_MAX_DIST < D.PHASH_DCT_BANDS

    out = pd.concat(list(map_row_batches(
        [pd.DataFrame({"doc_id": range(120)})], D._audiohash_rows, D.BANDS_SCHEMA
    )))
    h = dict(zip(out.doc_id, out.bands))

    def ham(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(a, b))

    ids = sorted(h)
    brute = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if ham(h[a], h[b]) <= D.AUDIOHASH_MAX_DIST
    }
    cand = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if any(x == y for x, y in zip(h[a], h[b]))
    }
    assert brute <= cand
    assert {p for p in cand
            if ham(h[p[0]], h[p[1]]) <= D.AUDIOHASH_MAX_DIST} == brute
    assert brute and all(a // 3 == b // 3 for a, b in brute)
    for b in range(D.PHASH_DCT_BANDS):
        assert len({h[i][b] for i in ids}) > len(ids) // 4, f"band {b}"


def test_audiohash_flac_round_trip_is_load_bearing():
    """The hash must come from DECODED samples: the three per-doc
    encoder knobs (auto predictor / fixed order 1 / fixed order 2)
    produce distinct streams that decode back to the closed form —
    verify the subframe types actually differ so a decoder branch
    regression cannot hide behind a single code path."""
    from pipelinejobs_indexer_spark.llm import dedup as D
    from pipelinejobs_indexer_spark.llm.flac import decode_flac, encode_flac

    n = D.PHASH_SIDE
    streams = set()
    for d in (0, 1, 2):
        b = d // 3
        clip = [
            ((b % 251 + (t % n) * 23 + (t // n) * 19)
             * (b % 241 + (t % n) * 5 + (t // n) * 11 + 1)) % 251
            for t in range(n * n)
        ]
        if d % 3 != 0:
            t = ((d // n) % n) * n + d % n
            clip[t] += 2 * (d % 3)
        enc = encode_flac(clip, rate=8000, bits=16, order=(None, 1, 2)[d % 3])
        streams.add(enc)
        dec = decode_flac(enc)
        assert list(dec["samples"]) == clip  # lossless round trip
        mat = D._audiohash_samples(d)
        assert [int(v) for row in mat for v in row] == clip
    assert len(streams) == 3  # knobs really vary the encoded form


def test_videohash_match_semantics_and_decode_is_load_bearing():
    """L2n (round 11): the frame-hash rule — pairs at equal length
    sharing >= n_frames - 2 same-position frames — must hold exactly
    on the group fixture (in-group pairs qualify: the bump touches one
    frame of one doc; cross-group pairs never do), and the hashes must
    come from genuinely walked + decoded bytes (closed-form check)."""
    import pandas as pd

    from pipelinejobs_indexer_spark.llm import dedup as D
    from pipelinejobs_indexer_spark.tables import map_row_batches

    out = pd.concat(list(map_row_batches(
        [pd.DataFrame({"doc_id": range(90)})], D._videohash_rows, D.FRAME_HASH_SCHEMA
    )))
    # decoded frame hashes equal the closed form (2*dc + 128 corners)
    for _, r in out.iterrows():
        d, f = int(r.doc_id), int(r.frame_idx)
        tl, tr, bl, br = [128 + 2 * dc for dc in D._videohash_dcs(d, f)]
        assert int(r.fhash) == ((tl * 256 + tr) * 256 + bl) * 256 + br

    by_doc = {
        d: g.sort_values("frame_idx").fhash.tolist()
        for d, g in out.groupby("doc_id")
    }
    pairs = set()
    ids = sorted(by_doc)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            ha, hb = by_doc[a], by_doc[b]
            if len(ha) != len(hb):
                continue
            matched = sum(x == y for x, y in zip(ha, hb))
            if matched >= max(len(ha) - D.VIDEOHASH_SLACK, 1):
                pairs.add((a, b))
    assert pairs
    assert all(a // 3 == b // 3 for a, b in pairs)  # no cross-group
    # base-vs-bumped pairs always qualify (exactly one differing frame
    # -> matched = n_frames - 1 >= the rule's floor); bumped-vs-bumped
    # pairs differ in up to two frames, so they qualify iff the clip is
    # long enough (n_frames >= 3) or both bumps hit the same frame
    for k in range(30):
        assert (3 * k, 3 * k + 1) in pairs
        assert (3 * k, 3 * k + 2) in pairs
        nf = len(by_doc[3 * k])
        d1, d2 = 3 * k + 1, 3 * k + 2
        expect = nf >= 3 or (d1 % nf) == (d2 % nf)
        assert ((d1, d2) in pairs) == expect, (k, nf)


def test_video_containment_offset_semantics():
    """L2n2 (round 11): the fixture's sub-clip structure must resolve
    exactly — each non-base doc's full frame sequence embeds in its
    base clip at the documented offset (1 for the head-trimmed
    sub-clip, 0 for the tail-trimmed), equal-length sibling sub-clips
    do NOT contain each other, and hashes come from decoded bytes."""
    import pandas as pd

    from pipelinejobs_indexer_spark.llm import dedup as D
    from pipelinejobs_indexer_spark.tables import map_row_batches

    out = pd.concat(list(map_row_batches(
        [pd.DataFrame({"doc_id": range(90)})], D._vcontain_rows, D.FRAME_HASH_SCHEMA
    )))
    by_doc = {
        d: g.sort_values("frame_idx").fhash.tolist()
        for d, g in out.groupby("doc_id")
    }

    def contained(a, c):
        ha, hc = by_doc[a], by_doc[c]
        return [
            off for off in range(len(hc) - len(ha) + 1)
            if all(x == hc[off + i] for i, x in enumerate(ha))
        ]

    for k in range(30):
        base, head, tail = 3 * k, 3 * k + 1, 3 * k + 2
        assert contained(head, base) == [1]
        assert contained(tail, base) == [0]
        assert contained(head, tail) == [] and contained(tail, head) == []
        # sub-clips really are shifted base content, decoded
        nb = D._vcontain_n_base(base)
        assert len(by_doc[base]) == nb
        assert by_doc[head] == by_doc[base][1:]
        assert by_doc[tail] == by_doc[base][:-1]


def test_winnow_guarantee_and_density():
    """L2p (round 11): the winnowing GUARANTEE — any two texts sharing
    a run of >= w + k - 1 words share at least one selected
    fingerprint value — checked over randomized word sequences with a
    pure-Python reimplementation (same md5-to-bigint hash the Spark
    and DuckDB sides use), plus the ~2/(w+1) density bound."""
    import hashlib
    import random

    from pipelinejobs_indexer_spark.llm import dedup as D

    K, W = D.WINNOW_K, D.WINNOW_W

    def fps(words):
        hs = [
            int(hashlib.md5(" ".join(words[i:i + K]).encode())
                .hexdigest()[:15], 16)
            for i in range(len(words) - K + 1)
        ]
        return {min(hs[p - W + 1:p + 1]) for p in range(W - 1, len(hs))}

    rnd = random.Random(11)
    vocab = [f"w{i}" for i in range(40)]
    for trial in range(200):
        run = [rnd.choice(vocab) for _ in range(W + K - 1 + rnd.randint(0, 4))]
        def pad(n):
            return [rnd.choice(vocab) for _ in range(n)]
        a = pad(rnd.randint(0, 15)) + run + pad(rnd.randint(0, 15))
        b = pad(rnd.randint(0, 15)) + run + pad(rnd.randint(0, 15))
        assert fps(a) & fps(b), trial  # the guarantee
    # density: selected fingerprints ~2/(w+1) of k-gram positions
    words = [rnd.choice(vocab) for _ in range(4000)]
    n_pos = len(words) - K + 1
    density = len(fps(words)) / n_pos
    assert 0.5 / (W + 1) < density < 4 / (W + 1), density


def test_videohash_hot_frame_fanout_bounded(spark):
    """Planted hot frame (one black frame at the same position of 300
    same-length clips — the station-logo/title-card shape): without the
    df cap that one (frame_idx, fhash, n_frames) key alone would fan
    out ~C(300,2) candidate pairs. Pins that (a) drop_hot_keys removes
    it BEFORE the join — max per-key df in the kept table <=
    VIDEOHASH_DF_CAP; (b) the adversarial pressure is real (the hot
    key's raw df is 300); (c) the answer is exactly the planted twin
    pair, and its match is counted over discriminative frames only."""
    from pipelinejobs_indexer_spark.llm.dedup import (
        VIDEOHASH_DF_CAP,
        drop_hot_keys,
        videohash_pairs,
    )

    n_hot = 300
    black = 0x80808080
    rows = []
    for d in range(n_hot):
        # frame 0: the shared black frame; frames 1-2 unique per doc
        rows += [(d, 3, 0, black), (d, 3, 1, 10_000 + 7 * d),
                 (d, 3, 2, 20_000 + 7 * d)]
    # the planted twin pair: all three frames equal, none hot
    for d in (9000, 9001):
        rows += [(d, 3, 0, 91), (d, 3, 1, 92), (d, 3, 2, 93)]
    frames = spark.createDataFrame(
        rows, "doc_id long, n_frames long, frame_idx long, fhash long"
    )
    key = ["frame_idx", "fhash", "n_frames"]
    # (b) adversarial pressure: the black frame really is hot
    hot = _keys_over(frames, key, VIDEOHASH_DF_CAP)
    assert hot == {(0, black, 3): n_hot}
    # (a) the fan-out bound the join actually sees
    _assert_hot_keys_dropped(
        frames, drop_hot_keys(frames, key, VIDEOHASH_DF_CAP), key, hot,
        VIDEOHASH_DF_CAP,
    )
    # (c) exact answer: only the twin pair; matched over kept frames
    got = {(r.doc_a, r.doc_b): (r.n_frames, r.matched)
           for r in videohash_pairs(frames).collect()}
    assert set(got) == {(9000, 9001)}
    assert got[(9000, 9001)] == (3, 3)


def test_video_containment_hot_frame_fanout_bounded(spark):
    """Planted hot frame shared by 300 clips: uncapped, the fhash-only
    containment join would generate ~300*299 rows from that frame
    before any offset histogram runs. Pins that (a) drop_hot_keys
    removes it and bounds per-fhash fan-out in the kept table; (b) the
    pressure is real; (c) the answer is exactly the planted sub-clip
    pair at its true offset, with the qualification counted over the
    contained doc's kept frames."""
    from pipelinejobs_indexer_spark.llm.dedup import (
        VIDEOHASH_DF_CAP,
        drop_hot_keys,
        video_containment_pairs,
    )

    n_hot = 300
    black = 0x80808080
    rows = []
    for d in range(n_hot):
        rows += [(d, 3, 0, black), (d, 3, 1, 10_000 + 7 * d),
                 (d, 3, 2, 20_000 + 7 * d)]
    # contained clip 9000 = frames (u1, u2); container 9001 carries them
    # contiguously at offset 1 inside 4 frames
    rows += [(9000, 2, 0, 51), (9000, 2, 1, 52)]
    rows += [(9001, 4, 0, 40), (9001, 4, 1, 51), (9001, 4, 2, 52),
             (9001, 4, 3, 43)]
    frames = spark.createDataFrame(
        rows, "doc_id long, n_frames long, frame_idx long, fhash long"
    )
    # (b) adversarial pressure: the black frame really is hot
    hot = _keys_over(frames, ["fhash"], VIDEOHASH_DF_CAP)
    assert hot == {(black,): n_hot}
    # (a) the fan-out bound the join actually sees
    _assert_hot_keys_dropped(
        frames, drop_hot_keys(frames, "fhash", VIDEOHASH_DF_CAP), ["fhash"],
        hot, VIDEOHASH_DF_CAP,
    )
    # (c) exact answer: the planted sub-clip at offset 1, nothing else
    got = [tuple(r) for r in video_containment_pairs(frames).collect()]
    assert got == [(9000, 9001, 1, 2)]
