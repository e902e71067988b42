"""Engine config (SURVEY §7.4: parameters are config, not constants).

The sketch/index knobs (LSH planes, IVF stride/nprobe, minhash
hashes/bands) come from ``config.CONFIG`` (env-overridable) and the
operator builders accept explicit overrides. These tests pin that a
NON-default knob value still verifies against its replayed DuckDB oracle
— i.e. tuning for scale cannot silently break the differential gate."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pipelinejobs_indexer_spark import config as cfg  # noqa: E402
from pipelinejobs_indexer_spark.llm import dedup, similarity  # noqa: E402

from parity import assert_frames_match  # noqa: E402


def test_from_env_reads_overrides(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_LSH_PLANES", "8")
    monkeypatch.setenv("SPARK_GRAFT_IVF_CENT_STRIDE", "101")
    monkeypatch.setenv("SPARK_GRAFT_IVF_NPROBE", "3")
    monkeypatch.setenv("SPARK_GRAFT_MINHASH_HASHES", "32")
    monkeypatch.setenv("SPARK_GRAFT_MINHASH_BANDS", "8")
    c = cfg.from_env()
    assert (c.lsh_planes, c.ivf_cent_stride, c.ivf_nprobe) == (8, 101, 3)
    assert (c.minhash_hashes, c.minhash_bands) == (32, 8)


def test_from_env_defaults(monkeypatch):
    for v in (
        "SPARK_GRAFT_LSH_PLANES",
        "SPARK_GRAFT_IVF_CENT_STRIDE",
        "SPARK_GRAFT_IVF_NPROBE",
        "SPARK_GRAFT_MINHASH_HASHES",
        "SPARK_GRAFT_MINHASH_BANDS",
    ):
        monkeypatch.delenv(v, raising=False)
    assert cfg.from_env() == cfg.EngineConfig()


def test_invalid_config_rejected(monkeypatch):
    with pytest.raises(ValueError):
        cfg.EngineConfig(minhash_hashes=16, minhash_bands=5)
    monkeypatch.setenv("SPARK_GRAFT_LSH_PLANES", "zero")
    with pytest.raises(ValueError):
        cfg.from_env()
    monkeypatch.setenv("SPARK_GRAFT_LSH_PLANES", "-2")
    with pytest.raises(ValueError):
        cfg.from_env()


def test_ann_nondefault_planes_matches_oracle(spark, ddb, sf_dir):
    """6 hyperplanes (64 buckets) instead of the default 4: the Spark plan
    and the regenerated oracle SQL must still agree bit-for-bit."""
    assert similarity.N_PLANES != 6, "pick a non-default plane count"
    sdf = similarity.llm_similarity_ann(spark, sf_dir, n_planes=6)
    duck = ddb.execute(similarity.ann_oracle_sql(n_planes=6)).df()
    assert_frames_match(sdf.toPandas(), duck, "llm_similarity_ann[planes=6]")


def test_embedding_lsh_nondefault_planes_matches_oracle(spark, ddb, sf_dir):
    assert similarity.N_PLANES != 5
    sdf = dedup.llm_dedup_embedding_lsh(spark, sf_dir, n_planes=5)
    duck = ddb.execute(dedup._embedding_lsh_sql(n_planes=5)).df()
    assert_frames_match(sdf.toPandas(), duck, "llm_dedup_embedding_lsh[planes=5]")


def test_embedding_lsh_multi_table_matches_oracle(spark, ddb, sf_dir):
    """Round 7: the AND-OR amplified construction (lsh_tables > 1) —
    disjoint plane families per table, namespaced probe keys, one
    spanning equi-join — must agree with the regenerated oracle
    bit-for-bit, just like every other knob override."""
    from pipelinejobs_indexer_spark.config import CONFIG

    assert (CONFIG.lsh_planes, CONFIG.lsh_tables) != (5, 3)
    sdf = dedup.llm_dedup_embedding_lsh(spark, sf_dir, n_planes=5, n_tables=3)
    duck = ddb.execute(dedup._embedding_lsh_sql(n_planes=5, n_tables=3)).df()
    assert_frames_match(
        sdf.toPandas(), duck, "llm_dedup_embedding_lsh[planes=5,tables=3]"
    )


def test_embedding_lsh_tables_only_add_candidates(spark, sf_dir):
    """Table 0 IS the single-table construction, and extra tables union
    in candidates, so the pair set at tables=T must contain the pair set
    at tables=1 (same planes) — the recall-monotonicity the AND-OR
    amplification exists for. Also pins default-config identity: the
    registered query (CONFIG tables=1) equals an explicit tables=1 run."""
    one = {
        (r.vec_a, r.vec_b)
        for r in dedup.llm_dedup_embedding_lsh(
            spark, sf_dir, n_planes=5, n_tables=1
        ).collect()
    }
    three = {
        (r.vec_a, r.vec_b)
        for r in dedup.llm_dedup_embedding_lsh(
            spark, sf_dir, n_planes=5, n_tables=3
        ).collect()
    }
    assert one <= three
    default = {
        (r.vec_a, r.vec_b)
        for r in dedup.llm_dedup_embedding_lsh(spark, sf_dir).collect()
    }
    explicit = {
        (r.vec_a, r.vec_b)
        for r in dedup.llm_dedup_embedding_lsh(spark, sf_dir, n_tables=1).collect()
    }
    assert default == explicit


def test_lsh_tables_knob_validation(monkeypatch):
    """lsh_tables parses from SPARK_GRAFT_LSH_TABLES and rejects values
    outside [1, 64]."""
    monkeypatch.setenv("SPARK_GRAFT_LSH_TABLES", "8")
    assert cfg.from_env().lsh_tables == 8
    for bad in ("0", "65"):
        monkeypatch.setenv("SPARK_GRAFT_LSH_TABLES", bad)
        with pytest.raises(ValueError, match="(?i)lsh_tables"):
            cfg.from_env()


@pytest.mark.parametrize("window, divisor", [(16, 16), (12, 16)])
def test_cdc_nondefault_knobs_match_oracle(spark, ddb, sf_dir, window, divisor):
    """A non-default window / divisor instead of 8/32: different
    boundary set and chunk sizes, same differential-parity
    requirement."""
    from pipelinejobs_indexer_spark.tables import load_table

    assert (dedup.CDC_WINDOW, dedup.CDC_DIVISOR) != (window, divisor)
    docs = load_table(spark, sf_dir, "documents")
    sdf = dedup.cdc_duplicate_chunks(docs, window=window, divisor=divisor)
    duck = ddb.execute(dedup._cdc_sql(window=window, divisor=divisor)).df()
    assert_frames_match(sdf.toPandas(), duck, f"llm_dedup_cdc[{window}/{divisor}]")


def test_cdc_gear_unicode_codepoint_parity(spark):
    """The gear table is indexed by codepoint % 256: Spark ascii() and
    DuckDB ord() must agree on NON-ASCII text too (both return the full
    Unicode codepoint; char-based substr/length on both sides). Planted
    multibyte docs — accented latin, CJK, emoji — through both engines
    at a small divisor so boundaries actually fire inside the unicode
    runs."""
    import duckdb
    import pandas as pd

    from pipelinejobs_indexer_spark.llm import dedup

    rows = [
        (1, "héllo wörld çafé niño déjà vu déjà vu héllo wörld çafé"),
        (2, "日本語のテキスト処理 日本語のテキスト処理 データ重複排除"),
        (3, "mixed ascii und ümlaut text 😀😀 mixed ascii und ümlaut text"),
        (4, "héllo wörld çafé niño PREFIX déjà vu déjà vu héllo wörld çafé"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    try:
        got = dedup.cdc_duplicate_chunks(docs, window=4, divisor=8)
        want = con.execute(dedup._cdc_sql(4, 8)).df()
        assert_frames_match(got.toPandas(), want, "llm_dedup_cdc[gear unicode]")
    finally:
        con.close()


def test_cdc_invalid_overrides_error_loudly():
    """An explicit invalid knob (0 window/divisor, window beyond gear's
    signed-64 bound) ERRORS instead of silently using the default (the
    old `x or DEFAULT` pattern swallowed 0)."""
    for kwargs in ({"window": 0}, {"divisor": 0}, {"window": -3}, {"window": 25}):
        with pytest.raises(ValueError):
            dedup._cdc_params(kwargs.get("window"), kwargs.get("divisor"))
    with pytest.raises(ValueError, match="cdc_window"):
        cfg.EngineConfig(cdc_window=25)


def test_cdc_hash_and_contam_cap_env_parsing(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CONTAM_DF_CAP", "128")
    assert cfg.from_env().contam_df_cap == 128
    monkeypatch.setenv("SPARK_GRAFT_CONTAM_DF_CAP", "0")
    with pytest.raises(ValueError):
        cfg.from_env()


def test_exact_embedding_baseline_row_cap(spark, sf_dir, monkeypatch):
    """VERDICT r6 item 6: the exact all-pairs embedding baseline is a
    registered O(n²) theta join — fine as the LSH primary's ground
    truth at fixture scale, a cartesian time bomb on a real corpus. It
    must refuse loudly above the configured row ceiling (naming the LSH
    primary and the escape knob) and keep working below it."""
    import dataclasses

    from pipelinejobs_indexer_spark.llm.dedup import llm_dedup_embedding

    monkeypatch.setattr(
        cfg, "CONFIG", dataclasses.replace(cfg.CONFIG, exact_pairs_max_rows=10)
    )
    with pytest.raises(ValueError, match="llm_dedup_embedding_lsh"):
        llm_dedup_embedding(spark, sf_dir)
    monkeypatch.setattr(
        cfg, "CONFIG", dataclasses.replace(cfg.CONFIG, exact_pairs_max_rows=50_000)
    )
    assert llm_dedup_embedding(spark, sf_dir).count() > 0
    # env knob parses like every other positive-int knob
    monkeypatch.setenv("SPARK_GRAFT_EXACT_PAIRS_MAX_ROWS", "123")
    assert cfg.from_env().exact_pairs_max_rows == 123
    monkeypatch.setenv("SPARK_GRAFT_EXACT_PAIRS_MAX_ROWS", "0")
    with pytest.raises(ValueError):
        cfg.from_env()


@pytest.mark.parametrize(
    "name, old_default",
    [
        ("SPARK_GRAFT_CDC_HASH", "gear"),
        ("SPARK_GRAFT_CC_MIN_STRATEGY", "window"),
        ("SPARK_GRAFT_TFIDF_DF", "window"),
        ("SPARK_GRAFT_PHASH_MODE", "dct256"),
    ],
)
def test_retired_algorithm_env_vars_are_refused(monkeypatch, name, old_default):
    """Each of these once chose between two plans for one operator; the
    engine now runs one. A deployment still setting one (even to the
    old default) must fail at config time, naming the variable, rather
    than silently get a chunking, hash or plan it did not ask for."""
    monkeypatch.setenv(name, old_default)
    with pytest.raises(ValueError, match=name):
        cfg.from_env()


def test_minhash_nondefault_bands_matches_oracle(spark, ddb, sf_dir):
    """8 hashes x 2 bands (r=4 rows/band) instead of 16x4: a different
    S-curve, same differential-parity requirement."""
    assert (dedup.N_MINHASH, dedup.N_BANDS) != (8, 2)
    sdf = dedup.llm_dedup_minhash(spark, sf_dir, n_minhash=8, n_bands=2)
    duck = ddb.execute(dedup._minhash_pairs_sql(n_minhash=8, n_bands=2)).df()
    assert_frames_match(sdf.toPandas(), duck, "llm_dedup_minhash[8x2]")


def test_resilient_checkpoint_env_parsing(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_RESILIENT_CHECKPOINTS", "1")
    assert cfg.from_env().resilient_checkpoints is True
    monkeypatch.setenv("SPARK_GRAFT_RESILIENT_CHECKPOINTS", "false")
    assert cfg.from_env().resilient_checkpoints is False
    monkeypatch.delenv("SPARK_GRAFT_RESILIENT_CHECKPOINTS")
    assert cfg.from_env().resilient_checkpoints is False
    monkeypatch.setenv("SPARK_GRAFT_RESILIENT_CHECKPOINTS", "maybe")
    with pytest.raises(ValueError):
        cfg.from_env()


def test_resilient_checkpoints_identical_results(spark, sf_dir, monkeypatch):
    """VERDICT r4 item 2: the CC loop and BPE trainer must produce
    IDENTICAL output whether lineage cuts are executor-local
    (localCheckpoint, the local-mode default) or reliable checkpoint()s
    to a checkpoint dir (the cluster/resilience path) — the flag changes
    durability, never semantics."""
    import dataclasses

    from pipelinejobs_indexer_spark.llm.dedup import llm_dedup_clusters
    from pipelinejobs_indexer_spark.llm.text import llm_bpe_train

    def run_both(fn):
        monkeypatch.setattr(
            cfg, "CONFIG", dataclasses.replace(cfg.CONFIG, resilient_checkpoints=False)
        )
        base = sorted(map(tuple, fn(spark, sf_dir).collect()))
        monkeypatch.setattr(
            cfg, "CONFIG", dataclasses.replace(cfg.CONFIG, resilient_checkpoints=True)
        )
        resilient = sorted(map(tuple, fn(spark, sf_dir).collect()))
        return base, resilient

    cc_base, cc_res = run_both(llm_dedup_clusters)
    assert cc_base == cc_res and len(cc_base) > 0
    bpe_base, bpe_res = run_both(llm_bpe_train)
    assert bpe_base == bpe_res and len(bpe_base) > 0
    # the resilient path must actually have set a checkpoint dir
    assert spark.sparkContext.getCheckpointDir() is not None


def test_state_store_env_parsing(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_STATE_STORE", "rocksdb")
    assert cfg.from_env().state_store == "rocksdb"
    monkeypatch.delenv("SPARK_GRAFT_STATE_STORE")
    assert cfg.from_env().state_store == "hdfs"
    monkeypatch.setenv("SPARK_GRAFT_STATE_STORE", "leveldb")
    with pytest.raises(ValueError):
        cfg.from_env()
    with pytest.raises(ValueError):
        cfg.EngineConfig(state_store="leveldb")


def test_state_store_backend_identical_results(spark, sf_dir, monkeypatch):
    """VERDICT r6 item 5: the stateful streaming operators must produce
    IDENTICAL results on the in-heap HDFS-backed store (local default)
    and on RocksDB (SPARK_GRAFT_STATE_STORE=rocksdb — the 100 TB
    setting, where per-key state spills off-heap/on-disk with
    incremental checkpoints). The knob changes state placement and
    durability, never semantics — the resilient_checkpoints pattern.
    Covers the applyInPandasWithState FSM + dead-letter paths and the
    dropDuplicates state path."""
    import dataclasses

    from pipelinejobs_indexer_spark.streaming.queries import (
        stream_dead_letter,
        stream_fsm_state,
        stream_ingest_dedupe,
    )

    def run_both(fn):
        monkeypatch.setattr(
            cfg, "CONFIG", dataclasses.replace(cfg.CONFIG, state_store="hdfs")
        )
        base = sorted(map(tuple, fn(spark, sf_dir).collect()))
        monkeypatch.setattr(
            cfg, "CONFIG", dataclasses.replace(cfg.CONFIG, state_store="rocksdb")
        )
        rocks = sorted(map(tuple, fn(spark, sf_dir).collect()))
        return base, rocks

    fsm_base, fsm_rocks = run_both(stream_fsm_state)
    assert fsm_base == fsm_rocks and len(fsm_base) > 0
    dd_base, dd_rocks = run_both(stream_ingest_dedupe)
    assert dd_base == dd_rocks and len(dd_base) > 0
    dl_base, dl_rocks = run_both(stream_dead_letter)
    assert dl_base == dl_rocks
    # the replay must restore the session's provider conf afterwards
    key = "spark.sql.streaming.stateStore.providerClass"
    assert "RocksDB" not in spark.conf.get(key, "HDFSBacked")


def test_module_constants_track_the_active_config():
    """similarity/dedup capture CONFIG at import; if someone edits a
    default in one place only, the captured constants and the config
    must not silently diverge."""
    from pipelinejobs_indexer_spark.config import CONFIG
    from pipelinejobs_indexer_spark.llm import dedup, similarity

    assert similarity.N_PLANES == CONFIG.lsh_planes
    assert similarity.CENT_STRIDE == CONFIG.ivf_cent_stride
    assert similarity.N_PROBE == CONFIG.ivf_nprobe
    assert dedup.N_MINHASH == CONFIG.minhash_hashes
    assert dedup.N_BANDS == CONFIG.minhash_bands
    assert dedup.CDC_WINDOW == CONFIG.cdc_window
    assert dedup.CDC_DIVISOR == CONFIG.cdc_divisor
    assert dedup.CONTAM_DF_CAP == CONFIG.contam_df_cap


def test_registry_loads_under_extreme_trainer_knobs():
    """The trainer oracles are config-derived SQL generated at
    registry.load_all() (the r6 twin lesson: every lazily-rendered
    oracle must resolve under EVERY valid config, not just the default).
    At the knob ceilings (k=64, 50 unrolled iterations each) the
    generators emit their largest SQL — the registry must still load,
    and the rendered oracles must carry the expected iteration count."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ,
        SPARK_GRAFT_KMEANS_K="64",
        SPARK_GRAFT_KMEANS_ITERS="50",
        SPARK_GRAFT_LOGREG_ITERS="50",
        SPARK_GRAFT_PQ_M="8",
        SPARK_GRAFT_PQ_K="64",
        SPARK_GRAFT_PQ_ITERS="50",
    )
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "from pipelinejobs_indexer_spark import registry;"
            "registry.load_all();"
            "assert len(registry.QUERIES) == len(registry.ORACLE) >= 150;"
            "km = registry.ORACLE['llm_embedding_kmeans'];"
            "lg = registry.ORACLE['llm_classifier_logreg'];"
            "assert 'c50' in km and 'c51' not in km;"
            "assert 'w50' in lg and 'w51' not in lg;"
            "pq = registry.ORACLE['llm_embedding_pq'];"
            "assert 'c50x7' in pq and 'c51x7' not in pq and 'em8' not in pq;"
            "print('LOADED', len(registry.QUERIES))",
        ],
        env=env,
        cwd=repo,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "LOADED" in out.stdout


def test_registry_loads_under_lsh_tables_ceiling():
    """Same lazily-rendered-oracle lesson for the round-7 lsh_tables
    knob: at the ceiling (64 tables x the default 4 planes = 256 bucket
    sign-projections, each over 64 literal weights) the embedding-LSH
    oracle is its largest — the registry must still load and the
    rendered SQL must carry exactly the configured table count."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_LSH_TABLES="64")
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "from pipelinejobs_indexer_spark import registry;"
            "registry.load_all();"
            "assert len(registry.QUERIES) == len(registry.ORACLE) >= 150;"
            "sql = registry.ORACLE['llm_dedup_embedding_lsh'];"
            "assert ' AS b63' in sql and ' AS b64' not in sql;"
            "print('LOADED', len(registry.QUERIES))",
        ],
        env=env,
        cwd=repo,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "LOADED" in out.stdout


class _FakeConf:
    """SparkSession.conf stand-in that rejects one key."""

    def __init__(self, reject: str):
        self.reject = reject
        self.applied: dict[str, str] = {}

    def set(self, k, v):
        if k == self.reject:
            raise ValueError(f"cannot set {k}")
        self.applied[k] = v

    def get(self, k, default=None):
        return self.applied.get(k, default)


class _FakeSession:
    def __init__(self, reject: str):
        self.conf = _FakeConf(reject)


@pytest.mark.parametrize(
    "key", ["spark.sql.session.timeZone", "spark.sql.legacy.parquet.nanosAsLong"]
)
def test_tune_fails_loudly_on_parity_conf(key):
    from pipelinejobs_indexer_spark import session

    s = _FakeSession(reject=key)
    with pytest.raises(RuntimeError, match=key):
        session.tune(s)
    assert s not in session._tuned


def test_tune_skips_noncritical_conf_and_memo_hit_is_free():
    from pipelinejobs_indexer_spark import session

    s = _FakeSession(reject="spark.sql.adaptive.enabled")
    session.tune(s)
    assert s.conf.applied["spark.sql.session.timeZone"] == "UTC"
    assert s.conf.applied["spark.sql.legacy.parquet.nanosAsLong"] == "true"
    # a memo hit must not touch the session at all (each conf call is a
    # py4j round trip on a real one)
    s.conf = None
    assert session.tune(s) is s


def test_tune_pins_parity_confs_on_new_session(spark):
    """A newSession() clone shares the applicationId but has its own
    SQLConf, so it must be tuned in its own right."""
    from pipelinejobs_indexer_spark.session import tune

    clone = spark.newSession()
    assert clone.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false"
    tune(clone)
    assert clone.conf.get("spark.sql.session.timeZone") == "UTC"
    assert clone.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"


def test_default_parallelism_follows_host(monkeypatch):
    from pipelinejobs_indexer_spark.session import default_parallelism

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_parallelism() == os.cpu_count()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_parallelism() == 3
