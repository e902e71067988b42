"""Engine tuning parameters — config, not constants (SURVEY.md §7.4).

The sketch/index families (hyperplane-LSH, IVF-Flat, MinHash banding) have
recall/cost knobs that MUST scale with the corpus: 2^planes LSH buckets at
16 is fine for a 500-row fixture and a scale-killer at 100 TB (bucket
population ~n/2^planes makes the within-bucket candidate join effectively
quadratic). A cluster job sets these through environment variables
(`spark-submit --conf spark.yarn.appMasterEnv.*` / driver env) without
editing source; defaults reproduce the pinned differential-oracle output.

Both the Spark plan builders AND the DuckDB oracle-SQL generators read the
same :data:`CONFIG`, captured once at import, so a knob change keeps the
differential oracle in lock-step automatically — there is no way to tune
the Spark side out from under its correctness gate.

Sizing guidance (docstring-level, enforced nowhere — the right value is
data-dependent):

* ``lsh_planes`` — target mean bucket occupancy; buckets ~ 2^planes, so
  planes ~ log2(n / desired_bucket_size). 500 rows / 4 planes ~ 31/bucket;
  1e9 vectors want ~24 planes for the same occupancy. Measured
  (scripts/lsh_sizing_probe.py, BENCH_sf1.md): the rule bounds candidates
  as written (10x data at fixed planes -> 100x candidates; +log2(10)
  planes restores ~linear), BUT recall on a single hamming-1 table
  decays ~p^planes (0.57 -> 0.18 measured going 4 -> 8 planes at cosine
  0.45) — so on real corpora raise ``lsh_tables`` alongside ``lsh_planes``
  (AND-OR amplification, recall 1-(1-p_r)^b), not planes alone.
* ``ivf_cent_stride`` — centroids ~ n/stride; SemDeDup-style sqrt(n)
  centroids means stride ~ sqrt(n). Measured
  (scripts/ivf_sizing_probe.py, BENCH_sf1.md): cost is
  assignment-dominated and linear in the centroid count (100/328/1000
  cells -> 3.2/8.7/23.7 s at 20k vectors) while flat in ``ivf_nprobe``
  — so stride sets the bill and nprobe is a ~free recall lever until
  the scanned fraction reaches percent level; stride ~ sqrt(n) balances
  the assignment and scan terms.
* ``minhash_hashes`` / ``minhash_bands`` — the S-curve knob:
  P(candidate | jaccard s) = 1-(1-s^r)^b with r = hashes/bands.
  Measured (scripts/minhash_scurve_probe.py, BENCH_sf1.md):
  per-jaccard-bucket recall vs the exact AllPairs ground truth matches
  the closed form within ~1-3pp at every bucket (overall 0.983 at the
  default 16/4), so the formula is trustworthy for re-sizing r/b at a
  different threshold.
"""

from __future__ import annotations

import os
from dataclasses import dataclass


def _env_bool(name: str, default: bool) -> bool:
    raw = os.environ.get(name, "").strip().lower()
    if not raw:
        return default
    if raw in ("1", "true", "yes", "on"):
        return True
    if raw in ("0", "false", "no", "off"):
        return False
    raise ValueError(f"{name} must be a boolean (0/1/true/false), got {raw!r}")


def _env_choice(name: str, default: str, allowed: tuple[str, ...]) -> str:
    raw = os.environ.get(name, "").strip().lower()
    if not raw:
        return default
    if raw not in allowed:
        raise ValueError(f"{name} must be one of {allowed}, got {raw!r}")
    return raw


def _env_int(name: str, default: int) -> int:
    raw = os.environ.get(name, "").strip()
    if not raw:
        return default
    try:
        v = int(raw)
    except ValueError as exc:
        raise ValueError(f"{name} must be an integer, got {raw!r}") from exc
    if v <= 0:
        raise ValueError(f"{name} must be positive, got {v}")
    return v


@dataclass(frozen=True)
class EngineConfig:
    """Scale knobs for the sketch/index operators.

    ``bloom_bits`` / ``bloom_hashes`` — the explicit Bloom-filter
    membership sketch for ingest dedup (L1c, ``llm_dedup_bloom``): m bits
    and k md5-derived probes per content hash. The bit-set materializes
    RELATIONALLY (one row per distinct set bit, ≤ m rows, broadcast) so
    the sketch's every decision is oracle-replayable; expected false-hit
    rate is (1-exp(-k·n/m))^k — the registered query AUDITS the realized
    rate against exact membership. Size m ~ 1.44·n·log2(1/fp) and k ~
    0.69·m/n; past broadcast-able m (say 2^26) switch to Spark's packed
    ``bloom_filter_agg``/``might_contain`` blob — same semantics, opaque
    bits (that variant can't be hash-oracled, which is why the relational
    form is the registered one).
    ``lsh_planes``      — hyperplane count for sign-LSH (L2e, L3b): 2^p buckets.
    ``lsh_tables``      — independent sign-LSH tables for the embedding
    dedup primary (L2e): AND-OR amplification. Each table hashes with its
    own ``lsh_planes`` disjoint hyperplanes (table t uses plane indexes
    [t*planes, (t+1)*planes)); a pair is a candidate if it collides
    (hamming<=1 multiprobe) in ANY table, so recall = 1-(1-p_r)^tables
    while candidates grow only linearly in tables. The default 1 is the
    fixture-scale single-table construction (and table 0's planes are
    exactly the single-table planes, so tables=1 is result-identical to
    the pre-knob behavior). Measured at a 20k-vector probe
    (BENCH_sf1.md): deepening ONE table to hold bucket occupancy
    collapses recall 0.57 -> 0.18, while (planes=10, tables=8) holds
    recall 0.54 at 3.2x fewer candidates and 2.3x less time than the
    occupancy-blown (planes=4, tables=1) point — and the gap widens
    with n, since planes grow ~log2(n) while the table count is fixed
    by the recall target alone.
    ``ivf_cent_stride`` — IVF centroid seed stride (L3c, L2f): ~n/stride cells.
    ``ivf_nprobe``      — IVF cells probed per query (L3c).
    ``minhash_hashes``  — minhash family size (L2a, L11b).
    ``minhash_bands``   — LSH band count; must divide ``minhash_hashes``.
    ``cdc_window``      — CDC rolling content window, chars (L13); at
    most 24, so the unrolled gear window polynomial stays inside
    signed-64 arithmetic.
    ``cdc_divisor``     — CDC boundary divisor: expected chunk size ~
    ``cdc_divisor`` chars (L13); tune toward KB-scale chunks on real
    corpora (the 32-char default matches the tiny fixture docs).
    ``contam_df_cap``   — decontamination (L7) drops shingles present in
    more than this many documents from BOTH sides of the train↔eval
    overlap join (numerator AND denominator): boilerplate shingles
    (license headers, navigation chrome — real eval sets contain them)
    are not a contamination signal, and uncapped they fan the join out
    by their full document frequency (the sf10 probe measured 103×
    join-row growth for 10× input before the cap existed). Cap = the
    per-shingle join fan-out bound; raise it with corpus size only if
    boilerplate overlap is genuinely wanted as signal.
    ``exact_pairs_max_rows`` — input-row ceiling for the exact
    all-pairs embedding baseline (L2d, ``llm_dedup_embedding``). That
    query's plan is an O(n²) theta join kept ONLY as the correctness
    oracle baseline for the LSH primary (L2e); pointed at a real
    corpus it is a cartesian time bomb, so it refuses loudly
    (ValueError naming the LSH primary) above this many vectors. The
    default (50k vectors ≈ 1.25G pairs) is generous for any
    fixture/probe scale while catching an accidental production run by
    orders of magnitude.
    ``state_store`` — streaming state-store backend for the stateful
    operators (T1/T5/T5b/T6b and every windowed/dedup stream):
    ``hdfs`` (default — Spark's in-heap HDFSBackedStateStoreProvider,
    right for replay-scale state in one JVM) or ``rocksdb``
    (RocksDBStateStoreProvider, bundled with Spark — per-key state
    lives off-heap/on-disk with incremental checkpointing). Sizing
    note for the 100 TB design point: the HDFS-backed store keeps
    EVERY key's state in executor heap (state volume / store count
    must fit in memory per partition — a 1e9-key FSM at ~100 B/key is
    ~100 GB of heap across stores), so any corpus-scale keyed state
    (per-job FSMs, dedup watermarks over billions of ids) should run
    ``rocksdb``, where the working set spills and checkpoints
    incrementally. The knob changes durability/placement only, never
    results (parity-tested both ways, and the stream_fsm_alt_store twin
    value-verifies the non-default backend every driver sweep); measured
    overhead at replay scale is ~6% (stream_fsm_final at sf0.1: 5.59 s
    in-heap vs 5.92 s rocksdb best-of-3 — the serialization tax you pay
    until state outgrows the heap, BENCH_sf1.md).
    ``kmeans_k`` / ``kmeans_iters`` — Lloyd-iteration count and cluster
    count for the distributed k-means trainer (L3e,
    ``llm_embedding_kmeans``). ``kmeans_k`` is capped at 64 because the
    assignment step bakes the centroid set into ONE codegen'd projection
    expression (a broadcast-literal argmin fold — zero-shuffle corpus
    assignment); beyond that the centroid set belongs in a broadcast
    TABLE joined IVF-style (see llm_similarity_ivf), not in the
    expression tree. Centroid count at real scale wants ~sqrt(n) — use
    the IVF operators for that regime; this trainer exists to train
    THEIR centroids off a sampled/quantized slice.
    ``pq_m`` / ``pq_k`` / ``pq_iters`` — product-quantization codebook
    training (L3i, ``llm_embedding_pq``): the vector splits into ``pq_m``
    contiguous subspaces (must divide the embedding dim — checked at
    runtime where the dim is known), each trained with its own
    ``pq_k``-centroid / ``pq_iters``-iteration Lloyd loop under the same
    exact-integer discipline as L3e. Memory story the knobs encode: a
    PQ code is m×log2(k) bits per vector (m=16,k=16: 8 bytes) vs
    dim×4 bytes raw; recall wants m·k sized so k^m cells ≫ corpus
    clusters. The 16/16 default is the MEASURED knee of the m∈{4,8,16} ×
    k∈{4,16,64} recall/cost surface at the sf1 probe's 20k vectors
    (scripts/pq_sizing_probe.py, BENCH_sf1.md):
    recall@10 0.34 — equal to m16/k64 at 3.3× less search time — with
    32× compression; at fixed code bits more subspaces beat more
    centroids (m16/k16 0.34 vs m8/k64 0.22 at 64 vs 48 bits). Same ≤64
    centroid-expression cap per subspace as ``kmeans_k``, same
    one-scan-per-iteration cost (ALL subspaces' updates ride a single
    exchange of m×k×subdim rows per task).
    ``logreg_iters`` — full-batch gradient-descent sweeps for the linear
    quality-classifier trainer (L3f, ``llm_classifier_logreg``). Each
    sweep is one corpus scan + one map-side-combined gradient aggregate
    (dim+1 rows to the driver), so iterations scale linearly in scans
    and the driver state stays O(dim).
    ``resilient_checkpoints`` — iterative loops (CC, BPE) cut lineage via
    reliable ``checkpoint()`` to a checkpoint directory instead of
    executor-local ``localCheckpoint()``. Off by default (local mode:
    localCheckpoint is faster and loss-free in one JVM); turn ON for any
    real cluster run — executor loss mid-loop otherwise kills the job,
    because localCheckpoint blocks die with their executor. Measured
    price at replay scale (scripts/checkpoint_overhead_probe.py,
    BENCH_sf1.md): tracks checkpointed VOLUME, not
    count — +19% on the CC loop (corpus-shaped edge frames each round),
    ~0 on BPE (vocab-sized tables), +4% on the k-means trainer (one
    quantized-frame checkpoint). The
    checkpoint dir comes from SPARK_GRAFT_CHECKPOINT_DIR (point it at
    HDFS/S3 on a cluster; defaults to a session-scoped local temp dir,
    which demonstrates the mechanics but not cross-host durability).
    """

    bloom_bits: int = 16_384
    bloom_hashes: int = 4
    lsh_planes: int = 4
    lsh_tables: int = 1
    ivf_cent_stride: int = 61
    ivf_nprobe: int = 2
    minhash_hashes: int = 16
    minhash_bands: int = 4
    cdc_window: int = 8
    cdc_divisor: int = 32
    contam_df_cap: int = 64
    exact_pairs_max_rows: int = 50_000
    state_store: str = "hdfs"
    resilient_checkpoints: bool = False
    kmeans_k: int = 4
    kmeans_iters: int = 3
    pq_m: int = 16
    pq_k: int = 16
    pq_iters: int = 2
    logreg_iters: int = 3

    def __post_init__(self) -> None:
        if not 64 <= self.bloom_bits <= 1 << 26:
            raise ValueError(
                f"bloom_bits must be in [64, 2^26] (the relational bit-set is "
                f"one row per set bit, broadcast to the batch side — size it "
                f"~1.44 * n * log2(1/fp) and move to bloom_filter_agg's packed "
                f"blob beyond that), got {self.bloom_bits}"
            )
        if not 1 <= self.bloom_hashes <= 16:
            raise ValueError(
                f"bloom_hashes must be in [1, 16] (each hash adds one probe "
                f"row per batch doc; k ~ 0.69 * bits/n is optimal), got "
                f"{self.bloom_hashes}"
            )
        if not 1 <= self.lsh_tables <= 64:
            raise ValueError(
                f"lsh_tables must be in [1, 64] (each table adds lsh_planes "
                f"more sign projections per row to one codegen'd expression, "
                f"and candidate volume grows linearly in tables), got "
                f"{self.lsh_tables}"
            )
        if not 2 <= self.kmeans_k <= 64:
            raise ValueError(
                f"kmeans_k must be in [2, 64] (the centroid set is baked "
                f"into one codegen'd assignment expression — use the IVF "
                f"operators for larger centroid counts), got {self.kmeans_k}"
            )
        if not 1 <= self.kmeans_iters <= 50:
            raise ValueError(
                f"kmeans_iters must be in [1, 50] (each iteration is a full "
                f"corpus scan), got {self.kmeans_iters}"
            )
        if not 1 <= self.pq_m <= 64:
            raise ValueError(
                f"pq_m must be in [1, 64] (subspaces beyond the embedding "
                f"dim are impossible; divisibility is checked against the "
                f"actual dim at training time), got {self.pq_m}"
            )
        if not 2 <= self.pq_k <= 64:
            raise ValueError(
                f"pq_k must be in [2, 64] (same codegen argmin-expression "
                f"cap as kmeans_k, per subspace), got {self.pq_k}"
            )
        if not 1 <= self.pq_iters <= 50:
            raise ValueError(
                f"pq_iters must be in [1, 50] (each iteration is a full "
                f"corpus scan), got {self.pq_iters}"
            )
        if not 1 <= self.logreg_iters <= 50:
            raise ValueError(
                f"logreg_iters must be in [1, 50] (each sweep is a full "
                f"corpus scan), got {self.logreg_iters}"
            )
        if self.minhash_hashes % self.minhash_bands != 0:
            raise ValueError(
                f"minhash_bands ({self.minhash_bands}) must divide "
                f"minhash_hashes ({self.minhash_hashes})"
            )
        if self.state_store not in ("hdfs", "rocksdb"):
            raise ValueError(
                f"state_store must be 'hdfs' or 'rocksdb', got {self.state_store!r}"
            )
        if self.cdc_window > 24:
            raise ValueError(
                f"cdc_window must be <= 24 (the gear window polynomial must "
                f"stay inside signed-64 arithmetic), got {self.cdc_window}"
            )

#: Env vars of algorithm choices that now have one plan each. A deployment
#: that still sets one would silently get a different chunking, hash or
#: plan than it asked for, so ``from_env`` refuses them.
_RETIRED_ENV = (
    "SPARK_GRAFT_CDC_HASH",
    "SPARK_GRAFT_CC_MIN_STRATEGY",
    "SPARK_GRAFT_TFIDF_DF",
    "SPARK_GRAFT_PHASH_MODE",
)


def from_env() -> EngineConfig:
    """Build an :class:`EngineConfig` from ``SPARK_GRAFT_*`` env vars,
    falling back to the fixture-scale defaults."""
    for name in _RETIRED_ENV:
        if name in os.environ:
            raise ValueError(
                f"{name} is no longer supported: the engine runs one plan "
                f"for this choice; unset it"
            )
    d = EngineConfig()
    return EngineConfig(
        bloom_bits=_env_int("SPARK_GRAFT_BLOOM_BITS", d.bloom_bits),
        bloom_hashes=_env_int("SPARK_GRAFT_BLOOM_HASHES", d.bloom_hashes),
        lsh_planes=_env_int("SPARK_GRAFT_LSH_PLANES", d.lsh_planes),
        lsh_tables=_env_int("SPARK_GRAFT_LSH_TABLES", d.lsh_tables),
        ivf_cent_stride=_env_int("SPARK_GRAFT_IVF_CENT_STRIDE", d.ivf_cent_stride),
        ivf_nprobe=_env_int("SPARK_GRAFT_IVF_NPROBE", d.ivf_nprobe),
        minhash_hashes=_env_int("SPARK_GRAFT_MINHASH_HASHES", d.minhash_hashes),
        minhash_bands=_env_int("SPARK_GRAFT_MINHASH_BANDS", d.minhash_bands),
        cdc_window=_env_int("SPARK_GRAFT_CDC_WINDOW", d.cdc_window),
        cdc_divisor=_env_int("SPARK_GRAFT_CDC_DIVISOR", d.cdc_divisor),
        contam_df_cap=_env_int("SPARK_GRAFT_CONTAM_DF_CAP", d.contam_df_cap),
        exact_pairs_max_rows=_env_int(
            "SPARK_GRAFT_EXACT_PAIRS_MAX_ROWS", d.exact_pairs_max_rows
        ),
        state_store=_env_choice(
            "SPARK_GRAFT_STATE_STORE", d.state_store, ("hdfs", "rocksdb")
        ),
        resilient_checkpoints=_env_bool(
            "SPARK_GRAFT_RESILIENT_CHECKPOINTS", d.resilient_checkpoints
        ),
        kmeans_k=_env_int("SPARK_GRAFT_KMEANS_K", d.kmeans_k),
        kmeans_iters=_env_int("SPARK_GRAFT_KMEANS_ITERS", d.kmeans_iters),
        pq_m=_env_int("SPARK_GRAFT_PQ_M", d.pq_m),
        pq_k=_env_int("SPARK_GRAFT_PQ_K", d.pq_k),
        pq_iters=_env_int("SPARK_GRAFT_PQ_ITERS", d.pq_iters),
        logreg_iters=_env_int("SPARK_GRAFT_LOGREG_ITERS", d.logreg_iters),
    )


#: Process-wide configuration, captured once at import. Operator modules
#: bake these values into both their Spark plans and their registered
#: oracle SQL, so a differential sweep always tests the active config.
CONFIG = from_env()
