"""Unit tests for the iterative trainers (llm/train.py): k-means and the
full-batch logreg classifier — degenerate-input contracts, the
empty-cluster carry-over branch, sign-correct learning on a separable
toy, and config validation for the new knobs."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pipelinejobs_indexer_spark.config import EngineConfig  # noqa: E402
from pipelinejobs_indexer_spark.llm.train import (  # noqa: E402
    kmeans_plan,
    logreg_plan,
)

_SCHEMA = "vec_id long, label int, embedding array<float>"


def test_kmeans_rejects_fewer_rows_than_k(spark):
    df = spark.createDataFrame([(0, 1, [0.1, 0.2])], _SCHEMA)
    with pytest.raises(ValueError, match="at least k"):
        kmeans_plan(df)


def test_kmeans_rejects_sparse_vec_ids(spark):
    # 4 rows but ids 0,1,2,9: max != n-1, caught by the density agg
    rows = [(i, 0, [float(i), 0.0]) for i in (0, 1, 2, 9)]
    with pytest.raises(ValueError, match="dense vec_ids"):
        kmeans_plan(spark.createDataFrame(rows, _SCHEMA))


def test_kmeans_rejects_duplicate_vec_ids(spark):
    # ids 0,1,1,3 pass the (count, min, max) density agg but leave seed
    # position 2 unoccupied — the seed-fetch guard must still fire
    rows = [(i, 0, [float(j), 0.0]) for j, i in enumerate((0, 1, 1, 3))]
    with pytest.raises(ValueError, match="dense vec_ids"):
        kmeans_plan(spark.createDataFrame(rows, _SCHEMA))


def test_kmeans_identical_vectors_collapse_to_cluster_zero(spark):
    """All-identical corpus: every seed centroid is the same point, all
    distances tie, the index tiebreak sends every row to cluster 0, and
    clusters 1..k-1 go empty — exercising the carry-over branch (the
    COALESCE arm of the oracle) without diverging from it."""
    rows = [(i, 1, [0.25, -0.5]) for i in range(6)]
    out = kmeans_plan(spark.createDataFrame(rows, _SCHEMA)).collect()
    assert len(out) == 6
    assert {r["cluster"] for r in out} == {0}
    assert all(r["dist"] == 0 for r in out)


def test_kmeans_separates_two_obvious_blobs(spark):
    """Two tight blobs far apart must not share a cluster after Lloyd
    iterations, whatever the seed assignment looked like."""
    lo = [(i, 0, [0.0, float(i % 2) / 100.0]) for i in range(4)]
    hi = [(4 + i, 1, [8.0, float(i % 2) / 100.0]) for i in range(4)]
    out = kmeans_plan(spark.createDataFrame(lo + hi, _SCHEMA)).collect()
    lo_clusters = {r["cluster"] for r in out if r["vec_id"] < 4}
    hi_clusters = {r["cluster"] for r in out if r["vec_id"] >= 4}
    assert lo_clusters.isdisjoint(hi_clusters)


def test_logreg_rejects_empty_corpus(spark):
    df = spark.createDataFrame([], _SCHEMA)
    with pytest.raises(ValueError, match="non-empty"):
        logreg_plan(df)


def test_logreg_learns_sign_on_separable_toy(spark):
    """1-feature separable data (positive coordinate <=> positive class):
    after the default sweeps the score must sit on the correct side of
    the 0.5 grid point for every row."""
    rows = [
        (0, 9, [0.5]),
        (1, 8, [0.4]),
        (2, 0, [-0.5]),
        (3, 1, [-0.4]),
    ]
    out = logreg_plan(spark.createDataFrame(rows, _SCHEMA)).collect()
    by_id = {r["vec_id"]: r for r in out}
    assert by_id[0]["pred"] == 1 and by_id[1]["pred"] == 1
    assert by_id[2]["pred"] == 0 and by_id[3]["pred"] == 0
    assert all(r["y"] == (1 if r["label"] >= 5 else 0) for r in out)


def test_config_rejects_bad_trainer_knobs():
    with pytest.raises(ValueError, match="kmeans_k"):
        EngineConfig(kmeans_k=1)
    with pytest.raises(ValueError, match="kmeans_k"):
        EngineConfig(kmeans_k=65)
    with pytest.raises(ValueError, match="kmeans_iters"):
        EngineConfig(kmeans_iters=51)
    with pytest.raises(ValueError, match="kmeans_iters"):
        EngineConfig(kmeans_iters=0)
    with pytest.raises(ValueError, match="logreg_iters"):
        EngineConfig(logreg_iters=51)
    with pytest.raises(ValueError, match="logreg_iters"):
        EngineConfig(logreg_iters=0)
    # in-range values construct fine
    EngineConfig(kmeans_k=64, kmeans_iters=50, logreg_iters=50)


def test_pq_rejects_indivisible_subspaces(spark):
    from pipelinejobs_indexer_spark.llm.train import pq_plan

    # dim 3 vs pq_m=16 (n >= pq_k so the divisibility check is reached)
    rows = [(i, 0, [0.1, 0.2, 0.3]) for i in range(20)]
    with pytest.raises(ValueError, match="must divide"):
        pq_plan(spark.createDataFrame(rows, _SCHEMA))


def test_pq_identical_vectors_code_zero_err_zero(spark):
    """All-identical corpus: every subspace's seeds coincide, the index
    tiebreak sends every code to 0, reconstruction is exact — the
    carry-over branch exercised in every subspace at once."""
    from pipelinejobs_indexer_spark.llm.train import pq_plan

    rows = [(i, 1, [0.25, -0.5, 0.75, 0.1]) for i in range(8)]
    out = pq_plan(
        spark.createDataFrame(rows, _SCHEMA), m=4, k=4, iters=2
    ).collect()
    assert len(out) == 8
    assert all(r["pq_code"] == "0|0|0|0" and r["err"] == 0 for r in out)


def test_pq_encode_projection_makes_fewer_py4j_calls_than_m_times_k(spark, monkeypatch):
    """The final encode renders each subspace's argmin as ONE SQL string:
    at m = k = 16 it must cost fewer py4j round trips than the m*k = 256
    per-centroid Column structs it replaces would (those cost several
    calls each). Only calls made after the fit returns are counted."""
    from pipelinejobs_indexer_spark.llm import train

    m = k = 16
    rows = [(i, 0, [((i * 7 + d) % 11) / 10.0 for d in range(32)]) for i in range(20)]
    df = spark.createDataFrame(rows, _SCHEMA)
    client = spark.sparkContext._gateway._gateway_client
    send, calls = client.send_command, [0]

    def counted(*a, **kw):
        calls[0] += 1
        return send(*a, **kw)

    fit = train._pq_fit

    def fit_then_reset(*a, **kw):
        out = fit(*a, **kw)
        calls[0] = 0
        return out

    monkeypatch.setattr(client, "send_command", counted)
    monkeypatch.setattr(train, "_pq_fit", fit_then_reset)
    out = train.pq_plan(df, m=m, k=k, iters=1)
    assert calls[0] < m * k, calls[0]
    monkeypatch.undo()
    assert out.count() == 20


def _pq_python(rows, m_sub, k, iters, qscale=1000):
    """Independent full PQ recompute: quantize → strided seeds →
    Lloyd per subspace (argmin ties to smaller code, floor-div updates,
    empty-cell carry-over) → final codes + exact err."""
    n = len(rows)
    xq = {
        i: [round(x * qscale) for x in v] for i, _, v in rows
    }  # python round is banker's — callers must pick off-boundary values
    dim = len(next(iter(xq.values())))
    sub = dim // m_sub
    stride = n // k
    seeds = [xq[j * stride] for j in range(k)]
    cents = [[s[m * sub : (m + 1) * sub] for s in seeds] for m in range(m_sub)]

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    for _ in range(iters):
        sums = {}
        for i, v in xq.items():
            for m in range(m_sub):
                sv = v[m * sub : (m + 1) * sub]
                code = min(
                    range(k), key=lambda j: (d2(sv, cents[m][j]), j)
                )
                s, cnt = sums.get((m, code), ([0] * sub, 0))
                sums[(m, code)] = ([a + b for a, b in zip(s, sv)], cnt + 1)
        for m in range(m_sub):
            for j in range(k):
                if (m, j) in sums:
                    s, cnt = sums[(m, j)]
                    cents[m][j] = [x // cnt for x in s]
    out = {}
    for i, v in xq.items():
        codes, err = [], 0
        for m in range(m_sub):
            sv = v[m * sub : (m + 1) * sub]
            code = min(range(k), key=lambda j: (d2(sv, cents[m][j]), j))
            codes.append(str(code))
            err += d2(sv, cents[m][code])
        out[i] = ("|".join(codes), err)
    return out, cents, xq, sub


def test_pq_matches_python_recompute(spark):
    """The full distributed training replayed independently in Python
    (deterministic non-trivial frame, off-grid-boundary coordinates so
    HALF_UP and banker's rounding agree): every code string and exact
    reconstruction error must match, at the default knobs AND a
    non-default (m=2, k=3, iters=3) combination."""
    from pipelinejobs_indexer_spark.llm.train import pq_plan

    rows = [
        (i, 0, [((i * 7 + d * 3) % 13) / 10.0 - 0.6 for d in range(4)])
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, _SCHEMA)
    for m_sub, k, iters in [(4, 4, 2), (2, 3, 3)]:
        want, _, _, _ = _pq_python(rows, m_sub, k, iters)
        got = {
            r["vec_id"]: (r["pq_code"], r["err"])
            for r in pq_plan(df, m=m_sub, k=k, iters=iters).collect()
        }
        assert got == want, (m_sub, k, iters)


def test_pq_nondefault_knobs_match_oracle(spark, ddb, sf_dir):
    """m=2 subspaces / k=3 codes / 1 iteration instead of 4/4/2: plan and
    regenerated oracle must still agree bit-for-bit."""
    from pipelinejobs_indexer_spark.config import CONFIG
    from pipelinejobs_indexer_spark.llm.train import _pq_sql, pq_plan
    from pipelinejobs_indexer_spark.tables import load_table

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from parity import assert_frames_match

    assert (CONFIG.pq_m, CONFIG.pq_k, CONFIG.pq_iters) != (2, 3, 1)
    sdf = pq_plan(load_table(spark, sf_dir, "embeddings"), m=2, k=3, iters=1)
    duck = ddb.execute(_pq_sql(m=2, k=3, iters=1)).df()
    assert_frames_match(sdf.toPandas(), duck, "llm_embedding_pq[2/3/1]")


def test_config_rejects_bad_pq_knobs():
    with pytest.raises(ValueError, match="pq_m"):
        EngineConfig(pq_m=0)
    with pytest.raises(ValueError, match="pq_m"):
        EngineConfig(pq_m=65)
    with pytest.raises(ValueError, match="pq_k"):
        EngineConfig(pq_k=1)
    with pytest.raises(ValueError, match="pq_iters"):
        EngineConfig(pq_iters=0)


def test_pq_search_matches_python_adc_recompute(spark):
    """The full ADC search replayed in Python ints: codebooks from the
    same recompute as the encoding test, per-probe distance tables, sum
    of table lookups, (adc, vec_id) ranking with self excluded — every
    (qid, vec_id, adc, rank) row must match."""
    from pipelinejobs_indexer_spark.llm.train import (
        PQ_SEARCH_QUERIES,
        PQ_SEARCH_TOP_K,
        pq_search_plan,
    )

    rows = [
        (i, 0, [((i * 7 + d * 3) % 13) / 10.0 - 0.6 for d in range(4)])
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, _SCHEMA)
    m_sub, k, iters = 2, 3, 2
    codes, cents, xq, sub = _pq_python(rows, m_sub, k, iters)

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    want = set()
    for qid in range(PQ_SEARCH_QUERIES):
        pv = xq[qid]
        tables = [
            [d2(pv[m * sub : (m + 1) * sub], cents[m][j]) for j in range(k)]
            for m in range(m_sub)
        ]
        scored = []
        for i in xq:
            if i == qid:
                continue
            cs = [int(c) for c in codes[i][0].split("|")]
            scored.append((sum(tables[m][cs[m]] for m in range(m_sub)), i))
        scored.sort()
        for rank, (adc, i) in enumerate(scored[:PQ_SEARCH_TOP_K], start=1):
            want.add((qid, i, adc, rank))
    got = {
        (r["qid"], r["vec_id"], r["adc"], r["rank"])
        for r in pq_search_plan(df, m=m_sub, k=k, iters=iters).collect()
    }
    assert got == want


def test_ivfpq_consistent_with_pq_and_ivf(spark, sf_dir):
    """The composition must not invent anything: every IVFPQ hit's adc
    equals the full-scan ADC for that (probe, vector) pair (same fit,
    same tables — only the candidate set differs), every hit lies in one
    of its probe's nprobe cells, no self-matches, and per-probe ranks
    are contiguous from 1."""
    from collections import defaultdict

    from pipelinejobs_indexer_spark import registry
    from pipelinejobs_indexer_spark.llm.similarity import (
        _centroid_array,
        _ivf_cells,
        _ivf_probe_cells,
    )
    from pipelinejobs_indexer_spark.tables import load_table, spread

    import pyspark.sql.functions as F

    registry.load_all()
    ivfpq = registry.QUERIES["llm_similarity_ivfpq"](spark, sf_dir).collect()
    assert ivfpq
    full = {
        (r.qid, r.vec_id): r.adc
        for r in registry.QUERIES["llm_similarity_pq"](spark, sf_dir).collect()
    }
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    carr = _centroid_array(e)
    cells = {r.vec_id: r.cell for r in _ivf_cells(e, carr).collect()}
    probed = defaultdict(set)
    for r in _ivf_probe_cells(e, carr).collect():
        probed[r.qid].add(r.cell)
    ranks = defaultdict(list)
    for r in ivfpq:
        assert r.vec_id != r.qid
        assert cells[r.vec_id] in probed[r.qid], (r.qid, r.vec_id)
        if (r.qid, r.vec_id) in full:
            assert r.adc == full[(r.qid, r.vec_id)], (r.qid, r.vec_id)
        ranks[r.qid].append(r.rank)
    for qid, rs in ranks.items():
        assert sorted(rs) == list(range(1, len(rs) + 1)), qid


def test_pq_recall_improves_with_richer_codebook(spark, sf_dir):
    """The audit must move in the direction that justifies its existence:
    the shipping 16/16 default (the measured knee of the
    pq_sizing_probe.py surface) must not lose recall vs the deliberately
    tiny 4x4 codebook it replaced, and every recall value must
    be a consistent n_hits/k fraction in [0, 1]."""
    from pipelinejobs_indexer_spark.llm.train import (
        PQ_SEARCH_TOP_K,
        pq_recall,
    )
    from pipelinejobs_indexer_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    base = {
        r["qid"]: r["n_hits"]
        for r in pq_recall(emb, m=4, k=4, iters=2).collect()
    }
    rich = {r["qid"]: r["n_hits"] for r in pq_recall(emb).collect()}
    assert set(base) == set(rich)
    assert sum(rich.values()) >= sum(base.values()), (base, rich)
    for r in pq_recall(emb).collect():
        assert 0 <= r["n_hits"] <= PQ_SEARCH_TOP_K
        assert r[f"recall_at_{PQ_SEARCH_TOP_K}"] == round(
            r["n_hits"] / PQ_SEARCH_TOP_K, 6
        )
