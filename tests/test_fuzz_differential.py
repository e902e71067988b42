"""Cross-engine differential fuzz: random SMALL corpora through the
dedup cores vs the SAME registered oracle SQL executed by DuckDB over
the identical frame.

The per-round driver gate runs each oracle against the fixed testdata
corpus only — one data point per operator. These tests register
hypothesis-generated corpora as the DuckDB `documents` view and replay
the module-level oracle SQL against them, so the Spark plan and the SQL
are compared across many adversarially-shaped inputs: exact duplicate
docs, prefix/containment relationships, docs shorter than the shingle
width, single-word docs, heavy word-collision alphabets (a 6-word
vocabulary forces shared shingles everywhere).

Spark-side cost bounds the example count: each example is a handful of
local jobs (~1s), so max_examples stays small but each example carries
many edge classes at once.
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pipelinejobs_indexer_spark.llm import dedup  # noqa: E402

from parity import assert_frames_match  # noqa: E402

VOCAB = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]

# one doc: 0..20 words off a tiny vocabulary (max shingle collisions);
# the corpus strategy then plants exact dups and prefix containments
_doc = st.lists(st.sampled_from(VOCAB), min_size=0, max_size=20).map(" ".join)


@st.composite
def corpora(draw):
    base = draw(st.lists(_doc, min_size=2, max_size=8))
    docs: list[str] = list(base)
    if draw(st.booleans()):  # plant an exact duplicate
        docs.append(docs[draw(st.integers(0, len(docs) - 1))])
    if draw(st.booleans()):  # plant a containment / shifted duplicate
        victim = docs[draw(st.integers(0, len(docs) - 1))]
        docs.append(("zeta header " + victim).strip())
    return [(i, t) for i, t in enumerate(docs) if t]  # empty docs excluded


def _run(spark, ddb_mod, rows, core_fn, oracle_sql, name):
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    got = core_fn(sdf).toPandas()
    con = ddb_mod.connect()
    con.register(
        "documents", pd.DataFrame(rows, columns=["doc_id", "text"])
    )
    want = con.execute(oracle_sql).df()
    con.close()
    assert_frames_match(got, want, name)


@pytest.mark.parametrize(
    "core_attr,registered",
    [
        ("containment_pairs", "llm_dedup_containment"),
        ("contamination_pairs", "llm_contamination_check"),
        ("substring_span_pairs", "llm_dedup_substring"),
        ("cdc_duplicate_chunks", "llm_dedup_cdc"),
        ("minhash_pairs", "llm_dedup_minhash"),
        ("simhash_pairs", "llm_dedup_simhash"),
        ("ngram_jaccard_pairs", "llm_dedup_ngram_jaccard"),
        ("winnow_pairs", "llm_dedup_winnow"),
        ("text:ngram_novelty", "llm_ngram_novelty"),
    ],
)
def test_dedup_cores_match_oracle_on_random_corpora(
    spark, core_attr, registered
):
    import duckdb

    from pipelinejobs_indexer_spark import registry
    from pipelinejobs_indexer_spark.llm import text as llm_text

    registry.load_all()
    oracle = registry.ORACLE[registered]
    mod, _, attr = core_attr.rpartition(":")
    core = getattr(llm_text if mod == "text" else dedup, attr)

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(rows=corpora())
    def check(rows):
        if not rows:
            return
        _run(spark, duckdb, rows, core, oracle, registered)

    check()


def test_curate_full_matches_oracle_on_random_corpora(spark):
    """End-to-end fuzz of the capstone curation DAG (normalize-dedup →
    decontaminate → quality gate → stratified sample) vs its registered
    oracle: random (text, lang) corpora with doc_id 0 present, so the
    eval split (doc_id % 97 == 0) is non-empty and the decontamination
    stage actually fires."""
    import duckdb

    from pipelinejobs_indexer_spark import registry
    from pipelinejobs_indexer_spark.llm.text import curate_full

    registry.load_all()
    oracle = registry.ORACLE["llm_corpus_curate_full"]
    langs = st.sampled_from(["en", "de", "xx"])

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(rows=corpora(), langs_drawn=st.data())
    def check(rows, langs_drawn):
        if not rows:
            return
        full = [
            (i, t, langs_drawn.draw(langs, label=f"lang{i}"))
            for i, t in rows
        ]
        sdf = spark.createDataFrame(full, "doc_id long, text string, lang string")
        got = curate_full(sdf).toPandas()
        con = duckdb.connect()
        con.register(
            "documents",
            pd.DataFrame(full, columns=["doc_id", "text", "lang"]),
        )
        want = con.execute(oracle).df()
        con.close()
        assert_frames_match(got, want, "llm_corpus_curate_full")

    check()


@pytest.mark.parametrize(
    "core_attr,registered",
    [
        ("curate_v2", "llm_corpus_curate_v2"),
        ("curate_v3", "llm_corpus_curate_v3"),
        ("curate_v4", "llm_corpus_curate_v4"),
    ],
)
def test_curate_variants_match_oracle_on_random_corpora(
    spark, core_attr, registered
):
    """The v2-v4 curation DAGs carry exactly the gate
    classes where float/tie discipline breaks on adversarial corpora —
    per-language MEDIAN thresholds (v2), a corpus logprob percentile
    tail (v3), and the substring-span drop (v4). Same corpus generator
    as curate_full, replayed against each variant's registered oracle."""
    import duckdb

    from pipelinejobs_indexer_spark import registry
    from pipelinejobs_indexer_spark.llm import text as llm_text

    registry.load_all()
    oracle = registry.ORACLE[registered]
    core = getattr(llm_text, core_attr)
    langs = st.sampled_from(["en", "de", "xx"])

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(rows=corpora(), langs_drawn=st.data())
    def check(rows, langs_drawn):
        if not rows:
            return
        full = [
            (i, t, langs_drawn.draw(langs, label=f"lang{i}"))
            for i, t in rows
        ]
        sdf = spark.createDataFrame(full, "doc_id long, text string, lang string")
        got = core(sdf).toPandas()
        con = duckdb.connect()
        con.register(
            "documents",
            pd.DataFrame(full, columns=["doc_id", "text", "lang"]),
        )
        want = con.execute(oracle).df()
        con.close()
        assert_frames_match(got, want, registered)

    check()


def test_fsm_final_state_invariant_under_batch_splits(spark, tmp_path):
    """Random legal/illegal/redelivered event logs for two jobs, split at
    random points into mtime-ordered micro-batches: the FSM's final
    per-job snapshot must equal the single-batch replay for every
    order-respecting split (the streaming determinism contract). Random
    logs cover accept/reject interleavings the crafted tests do not."""
    import time
    from datetime import datetime, timedelta

    from hypothesis import assume

    from pipelinejobs_indexer_spark.streaming.core import run_to_batch
    from pipelinejobs_indexer_spark.streaming.fsm import fsm_apply

    T0 = datetime(2024, 1, 1)
    SCHEMA = "job_uuid string, date timestamp, name string, event_seq long"

    def replay(rows, root, splits=()):
        cuts = [0, *splits, len(rows)]
        chunks = [rows[a:b] for a, b in zip(cuts, cuts[1:]) if rows[a:b]]
        for i, chunk in enumerate(chunks):
            spark.createDataFrame(chunk, SCHEMA).coalesce(1).write.mode(
                "overwrite"
            ).parquet(os.path.join(root, f"b{i}"))
            if i + 1 < len(chunks):
                time.sleep(1.1)  # distinct mtimes fix micro-batch order
        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(root)
        )
        out = run_to_batch(fsm_apply(stream), "update").collect()
        # update mode re-emits per batch; the final snapshot has max
        # n_events (events only accumulate)
        final = {}
        for r in out:
            if r.job_uuid not in final or r.n_events > final[r.job_uuid].n_events:
                final[r.job_uuid] = r
        return {
            k: (v.state, v.n_events, v.n_rejected, v.last_seq)
            for k, v in final.items()
        }

    names = st.sampled_from(["create", "run", "finish"])

    @st.composite
    def logs(draw):
        rows = []
        for job in ("jobA", "jobB"):
            n = draw(st.integers(1, 6))
            for i in range(n):
                rows.append(
                    (job, T0 + timedelta(minutes=i), draw(names), i)
                )
        # interleave by date so arrival order == (date, seq) order per job
        rows.sort(key=lambda r: (r[1], r[0]))
        if draw(st.booleans()):  # exact redelivery of an earlier row
            rows.append(rows[draw(st.integers(0, len(rows) - 1))])
        # at most len(rows)-1 distinct split points exist; k must not
        # exceed that or the unique=True list strategy is unsatisfiable
        k = draw(st.integers(1, min(2, max(1, len(rows) - 1))))
        splits = sorted(
            draw(
                st.lists(
                    st.integers(1, max(1, len(rows) - 1)),
                    min_size=k, max_size=k, unique=True,
                )
            )
        )
        return rows, splits

    seen = [0]

    @settings(
        max_examples=5, deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(case=logs())
    def check(case):
        rows, splits = case
        assume(splits and splits[-1] < len(rows))
        seen[0] += 1
        tag = f"fsm_fuzz_{seen[0]}"
        single = replay(rows, str(tmp_path / f"{tag}_single"))
        split = replay(rows, str(tmp_path / f"{tag}_split"), splits)
        assert split == single, (rows, splits)

    check()


# BPE-friendly vocabulary: short words over a 4-letter alphabet so merges
# chain (a merged symbol feeds later rules) and ties are common
_BPE_WORDS = ["low", "lower", "lowest", "wow", "owl", "wool", "loll", "we"]


def test_bpe_train_matches_python_reference_on_random_corpora(
    spark, tmp_path
):
    """Hypothesis differential for the distributed BPE trainer: random
    word-multiset corpora vs the plain-Python reference (identical
    frequency-weighted argmax, lexicographic tie-break, and left-to-right
    non-overlapping replace semantics). Random multisets hit tie and
    chained-merge interactions a crafted corpus cannot enumerate."""
    from collections import Counter

    from pipelinejobs_indexer_spark.llm.text import llm_bpe_train

    def py_bpe(word_counts, k):
        ws = {" " + " ".join(w) + " </w> ": c for w, c in word_counts.items()}
        out = []
        for step in range(k):
            pc = Counter()
            for s, c in ws.items():
                sym = s.strip().split(" ")
                for a, b in zip(sym, sym[1:]):
                    pc[(a, b)] += c
            if not pc:
                break  # fully merged: later steps emit no rule
            (left, right), support = min(
                pc.items(), key=lambda kv: (-kv[1], kv[0])
            )
            out.append((step, left, right, left + right, support))
            ws = {
                s.replace(f" {left} {right} ", f" {left}{right} "): c
                for s, c in ws.items()
            }
        return out

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        words=st.lists(st.sampled_from(_BPE_WORDS), min_size=4, max_size=30),
        k=st.integers(min_value=1, max_value=10),
    )
    def check(words, k):
        expect = py_bpe(Counter(words), k)
        sf = str(tmp_path / f"bpe_{abs(hash((tuple(words), k))) % 10**9}")
        rows = [(0, " ".join(words), "en", "src0", 1)]
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(sf, "documents.parquet")
        )
        got = [
            (r.step, r.l, r.r, r.merged, r.support)
            for r in sorted(
                llm_bpe_train(spark, sf, k_merges=k).collect(),
                key=lambda r: r.step,
            )
        ]
        assert got == expect, (words, k)

    check()


# ----------------------------------------------------- iterative trainers


@st.composite
def embedding_frames(draw):
    """Small embeddings-shaped frames with dense vec_ids: shared dim,
    float32-exact values (so Spark's float->double cast and the pandas
    registration agree bit-for-bit), planted exact-duplicate vectors to
    force distance ties, and a chance of a constant corpus (all rows one
    point — the empty-cluster / index-tiebreak worst case)."""
    dim = draw(st.integers(2, 4))
    n = draw(st.integers(4, 9))
    coord = st.floats(
        min_value=-8, max_value=8, width=32, allow_nan=False, allow_infinity=False
    )
    if draw(st.booleans()):
        vecs = [draw(st.lists(coord, min_size=dim, max_size=dim)) for _ in range(n)]
        dup_src = draw(st.integers(0, n - 1))
        dup_dst = draw(st.integers(0, n - 1))
        vecs[dup_dst] = list(vecs[dup_src])  # planted duplicate
    else:
        point = draw(st.lists(coord, min_size=dim, max_size=dim))
        vecs = [list(point) for _ in range(n)]  # constant corpus
    labels = [draw(st.integers(0, 9)) for _ in range(n)]
    return [(i, labels[i], vecs[i]) for i in range(n)]


def _run_embeddings(spark, ddb_mod, rows, plan_fn, oracle_sql, name):
    sdf = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    got = plan_fn(sdf).toPandas()
    con = ddb_mod.connect()
    con.register(
        "embeddings", pd.DataFrame(rows, columns=["vec_id", "label", "embedding"])
    )
    want = con.execute(oracle_sql).df()
    con.close()
    assert_frames_match(got, want, name)


def test_kmeans_matches_oracle_on_random_embeddings(spark):
    """Lloyd k-means through adversarial tiny frames vs the unrolled-CTE
    oracle: duplicate vectors (assignment ties -> index tiebreak),
    constant corpora (all clusters but 0 empty every round — the
    centroid carry-over/COALESCE arm), negative coordinates (the
    floor-vs-truncate division trap)."""
    import duckdb

    from pipelinejobs_indexer_spark.llm import train

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(rows=embedding_frames())
    def check(rows):
        _run_embeddings(
            spark,
            duckdb,
            rows,
            train.kmeans_plan,
            train._kmeans_sql(),
            "llm_embedding_kmeans",
        )

    check()


def test_logreg_matches_oracle_on_random_embeddings(spark):
    """Full-batch logreg through the same adversarial frames vs the
    unrolled-CTE oracle: single-class corpora (gradient all one sign),
    duplicate rows, negative coordinates, and every sigmoid re-quantized
    to the shared 1e6 grid."""
    import duckdb

    from pipelinejobs_indexer_spark.llm import train

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(rows=embedding_frames())
    def check(rows):
        _run_embeddings(
            spark,
            duckdb,
            rows,
            train.logreg_plan,
            train._logreg_sql(),
            "llm_classifier_logreg",
        )

    check()


def test_pq_training_matches_python_on_random_corpora(spark):
    """PQ differential fuzz (the dedup-core pattern): random embedding
    frames → full Spark training vs the independent Python recompute,
    three seeds × two knob shapes. Coordinates are drawn off the 0.0005
    grid midpoints so HALF_UP and banker's rounding agree."""
    import random

    from pipelinejobs_indexer_spark.llm.train import pq_plan
    from test_train import _SCHEMA, _pq_python

    for seed in (11, 23, 47):
        rng = random.Random(seed)
        n = rng.randrange(10, 25)
        dim = rng.choice((4, 8))
        rows = [
            (
                i,
                0,
                [rng.randrange(-600, 600) / 1000.0 for _ in range(dim)],
            )
            for i in range(n)
        ]
        df = spark.createDataFrame(rows, _SCHEMA)
        for m_sub, k in ((2, 3), (4, 2)):
            want, _, _, _ = _pq_python(rows, m_sub, k, 2)
            got = {
                r["vec_id"]: (r["pq_code"], r["err"])
                for r in pq_plan(df, m=m_sub, k=k, iters=2).collect()
            }
            assert got == want, (seed, m_sub, k)
