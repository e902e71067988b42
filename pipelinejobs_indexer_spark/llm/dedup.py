"""L1/L2 + mandated dedup family: exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup (BASELINE.json:6 mandate; pattern refs
PAPERS.md:8-9 — compressed-index string similarity / top-k similarity).

Reference analog: the catalog's idempotent upsert (at most one document per
uuid, /root/reference/tests/install_pipeline.py:23) is exact dedup; the
near-dup family is the [X] extension for LLM training-data pipelines.

Cross-engine determinism: every hash used here derives from md5-hex
(identical in Spark, DuckDB, and Python's hashlib); minhash converts the
hex halves to BIGINT with exact-parity conversions (Spark conv(,16,10) ==
DuckDB ('0x'||h)::BIGINT) and simhash min/ordering stays over hex strings
(plain ASCII ordering) — so the DuckDB oracle reproduces the Spark LSH
banding decisions *exactly*, not just the final filtered answer.

Scale design (the 100 TB story, per operator):
  * exact      — one shuffle on a 64-hex key; map-side partial dedupe via
                 partial aggregation; no data skew (sha2 is uniform).
  * minhash    — signatures are a narrow groupBy over exploded shingles
                 (shuffle keyed by doc, combiner-friendly `min`s); LSH
                 banding turns the quadratic pair search into an equi-join
                 on (band_id, band_hash) — only co-bucketed docs meet.
                 Shingle self-join for verification runs on *candidates
                 only*, never all pairs. At 100 TB add a stop-shingle
                 frequency cutoff before the verify join (hot shingles are
                 the skew source), or salt the shingle key.
  * simhash    — 4 bands x 8 bits with hamming<=3 is EXACT by pigeonhole
                 (3 differing bits cannot touch all 4 bands), so the
                 banded plan returns the same pairs as brute force at any
                 scale, with only equi-join shuffles.
  * embedding  — exact cosine is a nested-loop pair join: correct at test
                 scale, quadratic at 100 TB — kept as the correctness
                 baseline. The PRIMARY plan is llm_dedup_embedding_lsh:
                 hyperplane-LSH buckets + hamming-1 multi-probe (planes
                 shared with similarity.py), candidates via bucket
                 equi-join, exact cosine on candidates only.
  * ngram      — prefix filtering (AllPairs/PPJoin): candidates join only
                 each doc's (n - ceil(t*n) + 1)-shingle prefix under a
                 df-ascending global order, so hot shingles sort out of
                 every prefix; exact jaccard verified on candidates.
                 Result-identical to the naive inverted-index join.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from ..oracle import with_fixtures  # noqa: F401  (kept for symmetry with peers)
from ..registry import register
from ..session import iter_checkpoint
from ..tables import doc_ids, load_table, map_rows, spread

from ..config import CONFIG

# Minhash family size and LSH band count (defaults: 16 hashes x 4 bands;
# P(candidate | jaccard s) = 1-(1-s^r)^b with r = hashes/bands). Scale
# knobs via SPARK_GRAFT_MINHASH_HASHES / SPARK_GRAFT_MINHASH_BANDS — see
# config.py for the S-curve sizing rule.
N_MINHASH = CONFIG.minhash_hashes
N_BANDS = CONFIG.minhash_bands
SHINGLE_K = 3
# Mersenne prime modulus for Kirsch-Mitzenmacher double hashing: the i-th
# minhash family is g_i(s) = (h1(s) + i*h2(s)) mod P, with h1/h2 the two
# 60-bit halves of ONE md5 per shingle. 16 independent-enough permutations
# for the price of a single hash; i*h2 < 16*2^31 so the arithmetic never
# overflows bigint (safe under Spark ANSI mode) and replays exactly in
# DuckDB ('0x'||hex)::BIGINT == Spark conv(hex,16,10).
MINHASH_P = 2_147_483_647
JACCARD_THRESHOLD = 0.8
HAMMING_MAX = 3
COSINE_DUP_THRESHOLD = 0.45  # driver data has no planted >0.95 pairs; keep non-trivial

_HEX = "0123456789abcdef"


# ------------------------------------------------- candidate-pair core
# Every banded / capped inverted-index builder below is one join shape
# with a different key: occurrence rows (doc_id, *key, ...) are
# optionally df-capped, then self equi-joined on the key. The callers
# keep their own key extractor, pair dedupe or count, score and
# threshold; these two helpers are the shared shape.
def _keys(key) -> list[str]:
    return [key] if isinstance(key, str) else list(key)


def drop_hot_keys(occ: DataFrame, key, cap: int) -> DataFrame:
    """``occ`` without the rows of any key held by more than ``cap`` rows.

    Guarantee: after the prune the pair join sees at most ``cap`` rows
    per key (one row per doc and key in every caller, so df is the
    number of docs holding the key), so a hot key costs at most
    C(cap, 2) candidate rows instead of C(df, 2). A key that hot is
    boilerplate (license text, a station logo, a title card) and is
    dropped from BOTH sides before the join, which also removes it from
    the measure: overlap on boilerplate is not duplication evidence.

    Shape: df is a combiner ``groupBy`` count, so a hot key collapses
    map-side and its exchange carries O(distinct keys) rows; the
    over-cap key list (at most rows / cap entries) is broadcast, and a
    ``left_anti`` join drops those keys without shuffling the
    occurrence rows at all. A count-over-key window would have no
    map-side partial aggregation and would funnel every occurrence of a
    hot key into one task before the cap dropped it. ``occ`` is read
    twice (the df count and the prune), so callers cache it."""
    keys = _keys(key)
    hot = (
        occ.groupBy(*keys)
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > cap)
        .select(*keys)
    )
    return occ.join(F.broadcast(hot), keys, "left_anti").select(*occ.columns)


def key_pairs(occ: DataFrame, key, carry=()) -> DataFrame:
    """Self equi-join of occurrence rows on ``key`` with ``doc_id``
    ordered (each unordered pair once, no self pairs): one row per
    shared key occurrence, columns ``doc_a``, ``doc_b`` and ``<c>_a``,
    ``<c>_b`` for each carried column ``c``. Callers ``.distinct()``
    for a candidate set or ``groupBy(...).count()`` for a shared-key
    count. The side aliases ``_kp_l``/``_kp_r`` are picked so they
    cannot shadow a key or carried column (band tables have a ``b``)."""
    l, r = occ.alias("_kp_l"), occ.alias("_kp_r")
    on = [F.col(f"_kp_l.{k}") == F.col(f"_kp_r.{k}") for k in _keys(key)]
    on.append(F.col("_kp_l.doc_id") < F.col("_kp_r.doc_id"))
    return l.join(r, reduce(operator.and_, on)).select(
        F.col("_kp_l.doc_id").alias("doc_a"),
        F.col("_kp_r.doc_id").alias("doc_b"),
        *[
            F.col(f"_kp_{s}.{c}").alias(f"{c}_{side}")
            for c in carry
            for s, side in (("l", "a"), ("r", "b"))
        ],
    )


# ---------------------------------------------------------------- shingles
def shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, s): distinct k-word shingles per document.

    Declarative (transform over sequence) so it stays in codegen; the
    explode is the only row-expansion. Shuffle-free. Direct element
    subscripts instead of slice() — same strings, no per-shingle array
    allocation, ~2x faster at sf0.1 (Spark subscripts are 0-based; the
    sequence index i is the 1-based shingle start, matching the oracle).
    """
    w = docs.select("doc_id", F.split("text", " ").alias("w")).filter(
        F.size("w") >= SHINGLE_K
    )
    parts = ", ' ', ".join(f"w[i{j - 1:+d}]" for j in range(SHINGLE_K))
    return w.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, size(w)-{SHINGLE_K - 1}),"
                    f" i -> concat({parts}))"
                )
            )
        ).alias("s"),
    )


_SHINGLES_SQL = f"""
  SELECT doc_id,
         unnest(list_distinct([array_to_string(w[i:i+{SHINGLE_K - 1}], ' ')
                               for i in generate_series(1, len(w)-{SHINGLE_K - 1})])) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
  WHERE len(w) >= {SHINGLE_K}
"""


# ---------------------------------------------------------------- L1 exact
@register(
    "llm_dedup_exact",
    sql="""SELECT md5(text) AS content_hash,
                  min(doc_id) AS keep_doc_id,
                  count(*) AS n_copies
           FROM documents
           GROUP BY md5(text)""",
)
def llm_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1: exact dedup by content hash — keep the lowest doc_id per hash.

    One hash-partitioned shuffle; partial aggregation collapses copies
    map-side, so shuffle volume is O(distinct docs) not O(rows).
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    return docs.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count("*").alias("n_copies"),
    )


# ------------------------------------------------- L1b normalized exact
# The C4-style normalization, shared (Spark + SQL) with the composed
# curation DAG in llm/text.py: lowercase -> strip non-alnum to space ->
# collapse whitespace runs -> trim.
NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text),"
    " '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
)


def norm_expr():
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "), " +", " "
        )
    )


@register(
    "llm_dedup_normalized",
    sql=f"""WITH n AS (
             SELECT doc_id, {NORM_SQL} AS norm
             FROM documents
           )
           SELECT md5(norm) AS norm_hash,
                  min(doc_id) AS keep_doc_id,
                  count(*) AS n_copies
           FROM n GROUP BY md5(norm)""",
)
def llm_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1b: normalize-then-exact dedup — the C4/RefinedWeb-style
    "fuzzy-exact" step: lowercase, strip every non-alphanumeric to a
    space, collapse whitespace runs, trim, THEN hash. Collapses documents
    that differ only in case, punctuation, or spacing, which pure L1
    misses, while staying a single hash-partitioned shuffle with map-side
    partial aggregation — the normalization is a codegen projection, so
    at 100 TB this costs the same as L1.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    return (
        docs.select("doc_id", norm_expr().alias("norm"))
        .groupBy(F.md5("norm").alias("norm_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


# ------------------------------------------------------------- L2 MinHash
def _minhash_sig(
    sh: DataFrame, with_sets: bool = False, n_minhash: int | None = None
) -> DataFrame:
    """16 minhash signatures + shingle count per doc from hashed_shingles,
    one aggregation (combiner-friendly integer mins; the count rides along
    so set sizes need no second pass over the shingle table). With
    ``with_sets`` the hashed shingle set itself rides along too (``hfs``),
    so candidate verification becomes an array_intersect against this one
    doc-level table instead of a second pass over the shingle table.

    One md5 per shingle, split into two 60-bit halves; family i is
    (hf mod P + i*h2) mod MINHASH_P (Kirsch-Mitzenmacher double hashing).
    vs the naive md5(i||':'||s) per family this is 16x fewer hashes and
    integer (not 64-char string) combiner state. md5 is kept (not
    xxhash64) for exact DuckDB-oracle parity; in production swap it —
    plan shape unchanged.
    """
    # hfp = hf % P computed ONCE per shingle row: the family expressions
    # each repeated the mod ((hf % P + i*h2) % P), i.e. 16 integer
    # divisions per row where one suffices — and family 0 reduces to
    # min(hfp) outright since hfp < P already (same arithmetic,
    # bit-identical results). Each agg is ONE F.expr instead of ~8
    # chained Column ops: the Column-algebra listcomp alone was ~0.24 s
    # of py4j round trips per query construction (cProfile).
    aggs = [
        F.expr(
            f"min((hfp + {i} * h2) % {MINHASH_P})" if i else "min(hfp)"
        ).alias(f"h{i}")
        for i in range(n_minhash or N_MINHASH)
    ] + [F.count("*").alias("n")]
    if with_sets:
        aggs.append(F.collect_set("hf").alias("hfs"))
    return (
        sh.withColumn("hfp", F.col("hf") % MINHASH_P).groupBy("doc_id").agg(*aggs)
    )


def hashed_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, hf, h2): per-shingle 60-bit hash + second double-hash half.

    Downstream (signatures AND the candidate-verify join) only ever needs
    the hash, so the shingle string dies at this projection: the verify
    self-join shuffles 8-byte ints instead of shingle text. hf collisions
    between distinct shingles are ~2^-60 — and because the oracle applies
    the identical hash, any collision replays identically there.
    """
    # md5 computed ONCE per shingle through an intermediate projection:
    # the two halves each referenced md5(s) and codegen's
    # common-subexpression elimination was not collapsing them across the
    # conv/substr trees — interleaved A/B at sf0.1 shows the one-md5 form
    # ~8% faster through the signature aggregation. Same bytes, same
    # halves, bit-identical results.
    return shingles(docs).select("doc_id", F.md5("s").alias("m")).select(
        "doc_id",
        F.expr("cast(conv(substr(m, 1, 15), 16, 10) as bigint)").alias("hf"),
        F.expr(
            f"cast(conv(substr(m, 17, 15), 16, 10) as bigint) % {MINHASH_P}"
        ).alias("h2"),
    )


def _bands_inline(n_minhash: int | None = None, n_bands: int | None = None):
    """The per-band LSH keys exploded straight to (b, v) columns, as ONE
    ``inline(array(named_struct...))`` F.expr: the per-band
    struct/md5/concat_ws Column algebra was ~0.12 s of py4j round trips
    per query construction, and explode + a flattening
    projection was two plan nodes where inline is one generator.
    Expression-identical band values — concat_ws applies the same
    implicit bigint->string casts the Column form did."""
    n_minhash, n_bands = n_minhash or N_MINHASH, n_bands or N_BANDS
    rows = n_minhash // n_bands
    structs = []
    for b in range(n_bands):
        cat = ", ".join(f"h{b * rows + r}" for r in range(rows))
        structs.append(f"named_struct('b', {b}, 'v', md5(concat_ws('|', {cat})))")
    return F.expr(f"inline(array({', '.join(structs)}))")


_HASHED_SHINGLES_SQL = f"""
  SELECT doc_id,
         ('0x' || substr(md5(s), 1, 15))::BIGINT AS hf,
         ('0x' || substr(md5(s), 17, 15))::BIGINT % {MINHASH_P} AS h2
  FROM sh
"""


def _minhash_sig_sql(n_minhash: int | None = None) -> str:
    mins = ",\n         ".join(
        f"min((hf % {MINHASH_P} + {i} * h2) % {MINHASH_P}) AS h{i}"
        for i in range(n_minhash or N_MINHASH)
    )
    return (
        f"SELECT doc_id,\n         {mins},\n         count(*) AS n"
        "\n  FROM hsh GROUP BY doc_id"
    )


def _bands_sql(n_minhash: int | None = None, n_bands: int | None = None) -> str:
    n_minhash, n_bands = n_minhash or N_MINHASH, n_bands or N_BANDS
    rows = n_minhash // n_bands
    selects = []
    for b in range(n_bands):
        cat = " || '|' || ".join(f"h{b * rows + r}::VARCHAR" for r in range(rows))
        selects.append(f"SELECT doc_id, {b} AS b, md5({cat}) AS v FROM sig")
    return "\n  UNION ALL ".join(selects)


def _minhash_pairs_sql(
    n_minhash: int | None = None, n_bands: int | None = None
) -> str:
    """The full minhash-LSH pair query (shared by the pair registration
    and the cluster oracle, which wraps it in a recursive CTE)."""
    return f"""WITH sh AS ({_SHINGLES_SQL}),
         hsh AS ({_HASHED_SHINGLES_SQL}),
         sig AS ({_minhash_sig_sql(n_minhash)}),
         bands AS ({_bands_sql(n_minhash, n_bands)}),
         cand AS (
           SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
           FROM bands a JOIN bands b2
             ON a.b = b2.b AND a.v = b2.v AND a.doc_id < b2.doc_id
         ),
         sizes AS (SELECT doc_id, n FROM sig),
         common AS (
           SELECT c.doc_a, c.doc_b, count(*) AS c
           FROM cand c
           JOIN hsh sa ON sa.doc_id = c.doc_a
           JOIN hsh sb ON sb.doc_id = c.doc_b AND sb.hf = sa.hf
           GROUP BY c.doc_a, c.doc_b
         )
         SELECT doc_a, doc_b,
                round(c / (na.n + nb.n - c), 6) AS jaccard
         FROM common
         JOIN sizes na ON na.doc_id = doc_a
         JOIN sizes nb ON nb.doc_id = doc_b
         WHERE c / (na.n + nb.n - c) >= {JACCARD_THRESHOLD}"""


@register("llm_dedup_minhash", sql=_minhash_pairs_sql())
def llm_dedup_minhash(
    spark: SparkSession,
    sf_dir: str,
    n_minhash: int | None = None,
    n_bands: int | None = None,
) -> DataFrame:
    """L2: near-dup pairs via MinHash signatures + LSH banding, verified
    with exact Jaccard on the candidate set only (never all pairs).

    Verification is an array_intersect over per-doc hashed-shingle sets
    carried out of the ONE signature aggregation (8-byte ints, never
    shingle text): candidates join the doc-level sig table twice and the
    intersection computes in-row — no second pass over the shingle table,
    ~30% fewer wall-clock stages than the shingle-join verify. For
    pathologically large documents (shingle sets too big for a row),
    switch the verify back to the equi-join over hashed_shingles — same
    answer, more shuffles; web-scale docs (~1k shingles ≈ 8 KB/row) fit
    comfortably.

    Non-None ``n_minhash``/``n_bands`` overrides are TEST-ONLY: the
    registered oracle stays pinned at CONFIG, so overrides bypass the
    driver gate — pair them with ``_minhash_pairs_sql(n_minhash,
    n_bands)`` (tests/test_config.py); production tuning goes through
    SPARK_GRAFT_MINHASH_* env knobs, which move both sides."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return minhash_pairs(docs, n_minhash=n_minhash, n_bands=n_bands)


def minhash_pairs(
    docs: DataFrame,
    n_minhash: int | None = None,
    n_bands: int | None = None,
) -> DataFrame:
    """llm_dedup_minhash's core over any (doc_id, text) frame (fuzz
    differential in tests/test_fuzz_differential.py)."""
    sig = _minhash_sig(hashed_shingles(docs), with_sets=True, n_minhash=n_minhash).cache()
    bands = sig.select("doc_id", _bands_inline(n_minhash, n_bands))
    cand = key_pairs(bands, ["b", "v"]).distinct()
    na = sig.select(
        F.col("doc_id").alias("doc_a"), F.col("hfs").alias("ha"), F.col("n").alias("n_a")
    )
    nb = sig.select(
        F.col("doc_id").alias("doc_b"), F.col("hfs").alias("hb"), F.col("n").alias("n_b")
    )
    c = F.size(F.array_intersect("ha", "hb"))
    jac = c / (F.col("n_a") + F.col("n_b") - c)
    return (
        cand.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# ---------------------------------------------- L2h cross-source matrix
@register(
    "llm_dedup_source_matrix",
    sql=lambda: f"""WITH pairs AS ({_minhash_pairs_sql()}),
         m AS (
           SELECT least(da.source, db.source) AS source_a,
                  greatest(da.source, db.source) AS source_b,
                  p.jaccard
           FROM pairs p
           JOIN documents da ON da.doc_id = p.doc_a
           JOIN documents db ON db.doc_id = p.doc_b
         )
         SELECT source_a, source_b,
                count(*) AS n_pairs,
                round(avg(jaccard), 6) AS avg_jaccard,
                max(jaccard) AS max_jaccard
         FROM m GROUP BY source_a, source_b""",
)
def llm_dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2h: cross-source duplication matrix — the MinHash near-dup pairs
    (L2a's DAG, same banding bound) rolled up to canonically-ordered
    source pairs with pair counts and jaccard stats. The corpus-audit
    view every mixture designer needs before setting source weights:
    heavy off-diagonal cells mean two sources republish each other (the
    mixture double-counts whatever they share, and per-source dedup
    under-reports the corpus duplication rate), heavy diagonal cells
    mean a source self-duplicates (mirrors, boilerplate farms).

    Scale shape: inherits L2a's banded candidate generation (never
    all-pairs); the pair set is LSH-bounded and BROADCAST against a
    column-pruned (doc_id, source) scan — ReadSchema carries two
    columns, text is never re-read — and the final groupBy keys on
    source pairs (cardinality = |sources|^2, trivially small at any
    corpus scale). No new corpus-scale exchange beyond the inherited
    pair DAG."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    pairs = minhash_pairs(docs)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    sa = src.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
        "source", "src_a"
    )
    sb = src.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
        "source", "src_b"
    )
    # both joins stream the pruned corpus scan against a BROADCAST
    # pair-sized frame (pairs, then pairs+src_a) — the corpus-sized
    # source lookup is never the build side
    m = sb.join(F.broadcast(sa.join(F.broadcast(pairs), "doc_a")), "doc_b")
    return (
        m.select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
            "jaccard",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )


# ------------------------------------------------------------- SimHash
@register(
    "llm_dedup_simhash",
    sql=f"""WITH wm AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
         ),
         bits AS (
           SELECT doc_id, j,
                  CASE WHEN sum(CASE WHEN strpos('{_HEX}', substr(md5(word), j+1, 1)) % 2 = 1
                                     THEN 1 ELSE -1 END) > 0
                       THEN '1' ELSE '0' END AS bit
           FROM wm, generate_series(0, 31) AS t(j)
           GROUP BY doc_id, j
         ),
         sig AS (
           SELECT doc_id, string_agg(bit, '' ORDER BY j) AS sim FROM bits GROUP BY doc_id
         ),
         bands AS (
           SELECT doc_id, b, substr(sim, b*8+1, 8) AS v, sim
           FROM sig, generate_series(0, 3) AS t(b)
         ),
         cand AS (
           SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
                  a.sim AS sa, b2.sim AS sb
           FROM bands a JOIN bands b2
             ON a.b = b2.b AND a.v = b2.v AND a.doc_id < b2.doc_id
         )
         SELECT doc_a, doc_b, hamming FROM (
           SELECT doc_a, doc_b,
                  CAST(list_sum([CASE WHEN substr(sa, i, 1) = substr(sb, i, 1)
                                      THEN 0 ELSE 1 END
                                 for i in generate_series(1, 32)]) AS BIGINT) AS hamming
           FROM cand
         ) WHERE hamming <= {HAMMING_MAX}""",
)
def llm_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 32-bit signature (bit j = sign of the sum of
    +/-1 votes from md5-hex-char parity of each word), banded 4x8.

    hamming<=3 with 4 bands is exact (pigeonhole: one band must match), so
    this banded equi-join plan equals brute force at every scale.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    return simhash_pairs(docs)


def simhash_pairs(docs: DataFrame) -> DataFrame:
    """llm_dedup_simhash's core over any (doc_id, text) frame (fuzz
    differential in tests/test_fuzz_differential.py)."""
    wm = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    votes = wm.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("j"),
        F.col("word"),
    ).select(
        "doc_id",
        "j",
        F.when(
            F.expr(f"locate(substring(md5(word), j+1, 1), '{_HEX}') % 2") == 1, 1
        )
        .otherwise(-1)
        .alias("vote"),
    )
    bits = votes.groupBy("doc_id", "j").agg(
        F.when(F.sum("vote") > 0, "1").otherwise("0").alias("bit")
    )
    sig = bits.groupBy("doc_id").agg(
        F.expr(
            "concat_ws('', transform(array_sort(collect_list(struct(j, bit))),"
            " x -> x.bit))"
        ).alias("sim")
    )
    bands = sig.select(
        "doc_id",
        "sim",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("b"),
    ).select("doc_id", "sim", "b", F.expr("substring(sim, b*8+1, 8)").alias("v"))
    cand = key_pairs(bands, ["b", "v"], carry=["sim"]).distinct()
    hamming = F.expr(
        "aggregate(sequence(1, 32), 0L, (acc, i) ->"
        " acc + if(substring(sim_a, i, 1) = substring(sim_b, i, 1), 0L, 1L))"
    )
    return (
        cand.select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= HAMMING_MAX)
    )


# ---------------------------------------------------- n-gram Jaccard exact
# shared by the L2c registration and the L2i recall eval, which nests it
# as the exact ground truth against the minhash candidate generation
_NGRAM_JACCARD_SQL = f"""WITH sh AS ({_SHINGLES_SQL}),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         common AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2
         )
         SELECT doc_a, doc_b,
                round(c / (na.n + nb.n - c), 6) AS jaccard
         FROM common
         JOIN sizes na ON na.doc_id = doc_a
         JOIN sizes nb ON nb.doc_id = doc_b
         WHERE c / (na.n + nb.n - c) >= {JACCARD_THRESHOLD}"""


@register("llm_dedup_ngram_jaccard", sql=_NGRAM_JACCARD_SQL)
def llm_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs via PREFIX FILTERING (AllPairs/PPJoin
    family): result-identical to the naive inverted-index join, with the
    hot-shingle fan-out provably bounded.

    Theorem (prefix filter): under any global total order on shingles, two
    sets with jaccard(A,B) >= t must share an element among the first
    |X| - ceil(t*|X|) + 1 shingles of each set X. So candidate generation
    only joins those prefixes; ordering shingles by ascending document
    frequency puts every hot shingle LAST, where it is almost never inside
    a prefix — df no longer drives the join fan-out. Exact jaccard is then
    verified on candidates only, over hashed shingles (8-byte ints).

    Same answer as the unchanged oracle at every scale; the scale hazard
    the naive plan had (one hot shingle joins all docs containing it) is
    structurally gone.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    return ngram_jaccard_pairs(docs)


def ngram_jaccard_pairs(docs: DataFrame) -> DataFrame:
    """llm_dedup_ngram_jaccard's core over any (doc_id, text) frame
    (fuzz differential in tests/test_fuzz_differential.py)."""
    from pyspark.sql.window import Window

    sh = hashed_shingles(docs).select("doc_id", "hf").cache()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    df_counts = sh.groupBy("hf").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "hf")
    prefix_len = (F.col("n") - F.ceil(F.lit(JACCARD_THRESHOLD) * F.col("n")) + 1)
    pref = (
        sh.join(df_counts, "hf")
        .select("doc_id", "hf", F.row_number().over(w).alias("rn"))
        .join(sizes, "doc_id")
        .filter(F.col("rn") <= prefix_len)
        .select("doc_id", "hf")
    )
    cand = key_pairs(pref, "hf").distinct()
    sa, sb = sh.alias("sa"), sh.alias("sb")
    common = (
        cand.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(
            sb,
            (F.col("doc_b") == F.col("sb.doc_id"))
            & (F.col("sa.hf") == F.col("sb.hf")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("c"))
    )
    jac = F.col("c") / (F.col("na.n") + F.col("nb.n") - F.col("c"))
    return (
        common.join(sizes.alias("na"), F.col("doc_a") == F.col("na.doc_id"))
        .join(sizes.alias("nb"), F.col("doc_b") == F.col("nb.doc_id"))
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


@register(
    "llm_minhash_recall_eval",
    sql=lambda: f"""WITH exact AS ({_NGRAM_JACCARD_SQL}),
         approx AS ({_minhash_pairs_sql()}),
         j AS (
           SELECT e.jaccard AS je, a.jaccard AS ja
           FROM exact e LEFT JOIN approx a
             ON a.doc_a = e.doc_a AND a.doc_b = e.doc_b
         )
         SELECT CAST(count(*) AS BIGINT) AS n_exact,
                CAST((SELECT count(*) FROM approx) AS BIGINT) AS n_approx,
                CAST(count(ja) AS BIGINT) AS n_hit,
                CAST(coalesce(sum(CASE WHEN ja IS NOT NULL AND ja <> je
                                       THEN 1 ELSE 0 END), 0) AS BIGINT)
                  AS n_jaccard_mismatch,
                CAST(CASE WHEN count(*) = 0 THEN 100
                     ELSE (100 * count(ja)) // count(*) END AS BIGINT)
                  AS recall_pct
         FROM j""",
)
def llm_minhash_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2i: measured recall of L2a's MinHash-LSH candidate generation
    against L2c's EXACT prefix-filtered jaccard pairs — completing the
    measured-evidence triangle (PQ: L3l, substring anchors: L12b,
    minhash bands: here). Both queries derive from the SAME shingle
    set and JACCARD_THRESHOLD and both exact-verify their candidates,
    so the minhash result is a strict subset of the exact one: n_hit
    must equal n_approx and a recalled pair's jaccard must be
    byte-identical (n_jaccard_mismatch stays 0 or the verify paths
    diverged — a bug, not an approximation). What recall_pct measures
    is therefore PURELY the LSH banding S-curve: with r rows x b bands
    a true pair at jaccard j becomes a candidate with probability
    1-(1-j^r)^b (~0.88 at j=0.8 under the shipped 4x4), and the
    shipped band geometry now carries that number as driver-hash
    evidence instead of a formula in a sizing note (the
    minhash_scurve_probe script measured the same curve offline).

    Scale: both sides are the shipped, scale-safe plans (prefix-filter
    bounds L2c's hot-shingle fan-out; banding bounds L2a) — unlike
    L12b there is no quadratic ground-truth pass to sample, so this
    eval runs corpus-wide at ANY scale."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    exact = ngram_jaccard_pairs(docs)
    approx = minhash_pairs(docs).withColumnRenamed("jaccard", "ja")
    j = exact.hint("merge").join(approx, ["doc_a", "doc_b"], "left")
    stats = j.agg(
        F.count("*").cast("bigint").alias("n_exact"),
        F.count("ja").cast("bigint").alias("n_hit"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("ja").isNotNull()
                    & (F.col("ja") != F.col("jaccard")),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        ).cast("bigint").alias("n_jaccard_mismatch"),
    )
    n_approx = approx.agg(F.count("*").cast("bigint").alias("n_approx"))
    return stats.crossJoin(n_approx).select(
        "n_exact",
        "n_approx",
        "n_hit",
        "n_jaccard_mismatch",
        F.expr(
            "cast(case when n_exact = 0 then 100 "
            "else (100 * n_hit) div n_exact end as bigint)"
        ).alias("recall_pct"),
    )


# ----------------------------------------------- L2g shingle containment
CONTAIN_THRESHOLD = 0.9  # |A∩B| / min(|A|,|B|) at/above this = contained
CONTAIN_DF_CAP = 64  # shingles in more docs than this are boilerplate
CONTAIN_MIN_SHINGLES = 5  # ignore docs too short to judge


@register(
    "llm_dedup_containment",
    sql=f"""WITH sh AS ({_SHINGLES_SQL}),
         hsh AS ({_HASHED_SHINGLES_SQL}),
         disc AS (
           SELECT doc_id, hf FROM (
             SELECT doc_id, hf, count(*) OVER (PARTITION BY hf) AS df FROM hsh
           ) WHERE df <= {CONTAIN_DF_CAP}
         ),
         sizes AS (SELECT doc_id, count(*) AS n FROM disc GROUP BY doc_id),
         common AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
           FROM disc a JOIN disc b ON a.hf = b.hf AND a.doc_id < b.doc_id
           GROUP BY 1, 2
         )
         SELECT doc_a, doc_b,
                round(c / least(na.n, nb.n), 6) AS containment
         FROM common
         JOIN sizes na ON na.doc_id = doc_a
         JOIN sizes nb ON nb.doc_id = doc_b
         WHERE least(na.n, nb.n) >= {CONTAIN_MIN_SHINGLES}
           AND c / least(na.n, nb.n) >= {CONTAIN_THRESHOLD}""",
)
def llm_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2g: ASYMMETRIC containment dedup — pairs where the smaller doc's
    discriminative shingles are almost all inside the other doc
    (|A∩B| / min(|A|,|B|) >= {0.9}). Catches doc-contains-doc relations
    that symmetric Jaccard structurally misses: a quote-heavy article, a
    concatenation, or a superset re-crawl can contain a document verbatim
    while jaccard = |A∩B|/|A∪B| stays far below any dedup threshold
    because the union is dominated by the larger doc.

    Scale discipline: candidate generation is the inverted-index
    equi-join (key_pairs) over DISCRIMINATIVE shingles only — shingles
    in more than CONTAIN_DF_CAP documents are boilerplate (headers,
    license blocks) and drop_hot_keys removes them before the join (the
    hazard L2c's prefix filter addresses; here the cap also changes the
    MEASURE, which is the semantics wanted). The pair count and size
    join are combiner aggregations / equi-joins on 8-byte shingle
    hashes. Oracle replays the identical df-capped universe."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return containment_pairs(docs)


def containment_pairs(docs: DataFrame, df_cap: int = CONTAIN_DF_CAP) -> DataFrame:
    """llm_dedup_containment's core over any (doc_id, text) frame —
    separated so adversarial tests can plant hot-shingle corpora."""
    # cached: the shingle explode + md5 scan feeds both drop_hot_keys
    # reads; caching only the pruned table would run the corpus scan
    # twice. Int rows, cheap.
    hsh = hashed_shingles(docs).select("doc_id", "hf").cache()
    # disc feeds three consumers (both join sides + the size agg);
    # rebuilding it is a cheap broadcast join over the cached rows
    disc = drop_hot_keys(hsh, "hf", df_cap)
    sizes = disc.groupBy("doc_id").agg(F.count("*").alias("n"))
    common = key_pairs(disc, "hf").groupBy("doc_a", "doc_b").agg(
        F.count("*").alias("c")
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    containment = F.col("c") / F.least("n_a", "n_b")
    return (
        common.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(F.least("n_a", "n_b") >= CONTAIN_MIN_SHINGLES)
        .filter(containment >= CONTAIN_THRESHOLD)
        .select("doc_a", "doc_b", F.round(containment, 6).alias("containment"))
    )


# ------------------------------------------------- embedding cosine dedup
@register(
    "llm_dedup_embedding",
    sql=f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         pairs AS (
           SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                  list_sum([a.v[i] * b.v[i] for i in generate_series(1, len(a.v))]) AS dot,
                  sqrt(list_sum([x * x for x in a.v])) AS na,
                  sqrt(list_sum([x * x for x in b.v])) AS nb
           FROM e a JOIN e b ON a.vec_id < b.vec_id
         )
         SELECT vec_a, vec_b, round(dot / (na * nb), 6) AS cosine
         FROM pairs WHERE dot / (na * nb) >= {COSINE_DUP_THRESHOLD}""",
)
def llm_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (threshold {0.45}) — exact pair
    scan. ORACLE-BASELINE ONLY: the plan is an O(n²) theta join, kept
    registered so the LSH primary (llm_dedup_embedding_lsh) has an
    exact ground truth under the driver's hash gate. It REFUSES inputs
    larger than CONFIG.exact_pairs_max_rows (a cartesian time bomb
    if pointed at a real corpus; the count() that
    enforces this is one cheap column-pruned scan, nothing at fixture
    scale and exactly the circuit breaker you want before an accidental
    1e12-pair join). Raise SPARK_GRAFT_EXACT_PAIRS_MAX_ROWS only for a
    deliberate oversized ground-truth run; production dedup goes
    through the LSH primary.
    """
    from .. import config as _cfgmod

    emb = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cap = _cfgmod.CONFIG.exact_pairs_max_rows
    n = emb.count()
    if n > cap:
        raise ValueError(
            f"llm_dedup_embedding is the exact all-pairs ORACLE BASELINE: "
            f"{n} input vectors exceed exact_pairs_max_rows={cap} "
            f"(~{n * (n - 1) // 2:.2e} pairs). Use llm_dedup_embedding_lsh "
            f"(the bucketed primary) for real corpora, or raise "
            f"SPARK_GRAFT_EXACT_PAIRS_MAX_ROWS for a deliberate "
            f"ground-truth run."
        )
    from .similarity import _cos

    a, b = emb.alias("a"), emb.alias("b")
    cos = _cos("a.v", "b.v")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .filter(cos >= COSINE_DUP_THRESHOLD)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cos, 6).alias("cosine"),
        )
    )


# --------------------------------------- embedding dedup, LSH-bucketed
def _embedding_lsh_sql(
    n_planes: int | None = None, n_tables: int | None = None
) -> str:
    from .similarity import N_PLANES, _bucket_expr_sql, probes_sql

    r = n_planes or N_PLANES
    t_count = n_tables or CONFIG.lsh_tables
    buckets = ", ".join(
        f"{_bucket_expr_sql('v', r, plane_offset=t * r)} AS b{t}"
        for t in range(t_count)
    )
    probe_lists = " || ".join(
        probes_sql(r, col=f"b{t}", prefix=f"{t}:") for t in range(t_count)
    )
    own_keys = " || ".join(f"['{t}:' || b{t}]" for t in range(t_count))
    return f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         hashed AS (SELECT vec_id, v, {buckets} FROM e),
         probes AS (
           SELECT vec_id, pb FROM (
             SELECT vec_id, {probe_lists} AS ps FROM hashed
           ), unnest(ps) AS t(pb)
         ),
         own AS (
           SELECT vec_id, ob FROM (
             SELECT vec_id, {own_keys} AS os FROM hashed
           ), unnest(os) AS t(ob)
         ),
         cand AS (
           SELECT DISTINCT p.vec_id AS vec_a, h.vec_id AS vec_b
           FROM probes p JOIN own h
             ON h.ob = p.pb AND p.vec_id < h.vec_id
         ),
         pairs AS (
           SELECT c.vec_a, c.vec_b,
                  list_sum([a.v[i] * b.v[i] for i in generate_series(1, len(a.v))]) AS dot,
                  sqrt(list_sum([x * x for x in a.v])) AS na,
                  sqrt(list_sum([x * x for x in b.v])) AS nb
           FROM cand c
           JOIN e a ON a.vec_id = c.vec_a
           JOIN e b ON b.vec_id = c.vec_b
         )
         SELECT vec_a, vec_b, round(dot / (na * nb), 6) AS cosine
         FROM pairs WHERE dot / (na * nb) >= {COSINE_DUP_THRESHOLD}"""


@register("llm_dedup_embedding_lsh", sql=_embedding_lsh_sql())
def llm_dedup_embedding_lsh(
    spark: SparkSession,
    sf_dir: str,
    n_planes: int | None = None,
    n_tables: int | None = None,
) -> DataFrame:
    """Embedding near-dup, LSH-bucketed — the PRIMARY (100 TB) plan; the
    exact pair scan above is its correctness baseline.

    Hyperplane-LSH sign-buckets every vector (deterministic md5-derived
    planes shared with llm_similarity_ann); each vector multi-probes its
    own bucket plus every hamming-1 neighbor; candidates = probe-bucket
    equi-join matches only, then exact cosine on candidates. Every join is
    an equi-join — no nested-loop pair scan anywhere — so the plan scales
    with bucket occupancy, not n². With ``lsh_tables`` > 1 the AND-OR
    amplified construction runs: each table t hashes with its own
    disjoint plane family (indexes [t*planes, (t+1)*planes)), probe keys
    are namespaced ``t:bits``, and ONE equi-join spans all tables — a
    pair is a candidate if it collides in any table, recall
    1-(1-p_r)^tables for linear-in-tables cost. Table 0 is exactly the
    single-table construction, so ``lsh_tables=1`` (the fixture default)
    is result-identical to the pre-knob plan. Sizing is MEASURED
    (scripts/lsh_sizing_probe.py, BENCH_sf1.md): grow planes ~
    log2(n) to bound occupancy, hold recall with tables. Recall vs the
    exact baseline is pinned in tests/test_llm.py; the DuckDB oracle
    replays the identical bucketing, so the gate checks exact plan
    parity, not just the (approximate) answer.

    Non-None ``n_planes``/``n_tables`` overrides are TEST-ONLY: the
    registered oracle stays pinned at CONFIG, so overrides bypass the
    driver gate — pair them with ``_embedding_lsh_sql(n_planes,
    n_tables)`` (tests/test_config.py); production tuning goes through
    SPARK_GRAFT_LSH_PLANES / SPARK_GRAFT_LSH_TABLES, moving both.
    """
    from .similarity import N_PLANES, _bucket_expr_spark, _cos, probes_spark

    r = n_planes or N_PLANES
    t_count = n_tables or CONFIG.lsh_tables
    emb = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    hashed = emb
    for t in range(t_count):
        hashed = hashed.withColumn(
            f"b{t}", _bucket_expr_spark("v", r, plane_offset=t * r)
        )
    probe_list = ", ".join(
        probes_spark(r, col=f"b{t}", prefix=f"{t}:") for t in range(t_count)
    )
    if t_count > 1:
        probe_list = f"concat({probe_list})"
    probes = hashed.select(
        "vec_id", F.explode(F.expr(probe_list)).alias("pb")
    )
    own_keys = ", ".join(f"concat('{t}:', b{t})" for t in range(t_count))
    right = hashed.select(
        F.col("vec_id").alias("vid_b"),
        F.explode(F.expr(f"array({own_keys})")).alias("hb"),
    )
    cand = (
        probes.join(
            right, (F.col("pb") == F.col("hb")) & (F.col("vec_id") < F.col("vid_b"))
        )
        .select(F.col("vec_id").alias("vec_a"), F.col("vid_b").alias("vec_b"))
        .distinct()
    )
    ea = emb.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    eb = emb.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    cos = _cos("va", "vb")
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .filter(cos >= COSINE_DUP_THRESHOLD)
        .select("vec_a", "vec_b", F.round(cos, 6).alias("cosine"))
    )


# --------------------------------------------- L7 eval-set contamination
EVAL_MODULUS = 97  # deterministic eval-split stand-in: doc_id % 97 == 0
CONTAMINATION_THRESHOLD = 0.5  # fraction of the eval doc's shingles present
# Boilerplate bound (config, not constant — SPARK_GRAFT_CONTAM_DF_CAP):
# shingles in more documents than this are excluded from BOTH sides of the
# train↔eval join, numerator and denominator alike. See config.py.
CONTAM_DF_CAP = CONFIG.contam_df_cap


def _contamination_sql(df_cap: int | None = None) -> str:
    """The full contamination query (shared with the composed curation
    oracles in llm/text.py) for any df cap — the registered oracle is
    this at the active CONFIG; tests pass non-default caps to both
    sides."""
    cap = CONTAM_DF_CAP if df_cap is None else df_cap
    return f"""WITH sh AS ({_SHINGLES_SQL}),
         hot AS (
           SELECT s FROM sh GROUP BY s HAVING count(*) > {cap}
         ),
         eval_sh AS (
           SELECT doc_id AS eval_doc_id, s, count(*) OVER (PARTITION BY doc_id) AS n_eval
           FROM sh WHERE doc_id % {EVAL_MODULUS} = 0
             AND s NOT IN (SELECT s FROM hot)
         ),
         train_sh AS (
           SELECT doc_id, s FROM sh WHERE doc_id % {EVAL_MODULUS} <> 0
         ),
         overlap AS (
           SELECT t.doc_id, e.eval_doc_id,
                  count(*) AS n_common, any_value(e.n_eval) AS n_eval
           FROM train_sh t JOIN eval_sh e ON t.s = e.s
           GROUP BY t.doc_id, e.eval_doc_id
         )
         SELECT doc_id, eval_doc_id,
                round(CAST(n_common AS DOUBLE) / n_eval, 6) AS overlap
         FROM overlap
         WHERE CAST(n_common AS DOUBLE) / n_eval >= {CONTAMINATION_THRESHOLD}"""


@register("llm_contamination_check", sql=_contamination_sql())
def llm_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L7: benchmark-contamination scan — flag training documents whose
    DISCRIMINATIVE shingle sets cover >=50% of any eval document's
    discriminative shingles (the decontamination pass every serious
    training-data pipeline runs; the eval split here is the deterministic
    doc_id % 97 == 0 stand-in for a real benchmark table). Shingles
    present in more than CONTAM_DF_CAP documents are boilerplate (license
    headers, nav text — real eval sets do contain them) and are excluded
    from numerator AND denominator consistently: the standard rare-n-gram
    decontamination measure, and the structural fan-out bound.

    Scale shape: only the EVAL side is df-pruned — sufficient for both
    the measure and the bound, because a train-side hot shingle cannot
    match an eval side it was pruned from. The prune streams the
    (possibly huge) df table against the BROADCAST eval occurrences, so
    nothing distinct-shingle-sized is ever collected or broadcast —
    every broadcast in the plan is eval-sized by construction (an
    anti-join against a materialized over-cap hot list would need that
    list driver-side, and adversarially the hot list is
    corpus_shingles/cap entries: corpus-scale). The training corpus
    never shuffles: its one scan feeds the broadcast join directly, and
    the only full-corpus exchange is the combiner-friendly df groupBy
    on the shingle key (distinct-shingle sized, the
    llm_span_dedup_audit shape — the honest one-extra-scan price of
    rare-n-gram decontamination). Per-shingle join fan-out is then
    ≤ cap BY CONSTRUCTION: the 103× join-row blowup the uncapped plan
    showed on the sf10 closed-vocabulary probe cannot occur at any
    scale."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return contamination_pairs(docs)


def contamination_pairs(docs: DataFrame, df_cap: int | None = None) -> DataFrame:
    """llm_contamination_check's core over any (doc_id, text) frame (fuzz
    differential in tests/test_fuzz_differential.py; also the curation
    DAGs' decontamination stage). Non-None ``df_cap`` overrides are
    TEST-ONLY (pair them with ``_contamination_sql(df_cap)``); production
    tuning goes through SPARK_GRAFT_CONTAM_DF_CAP, which moves plan and
    oracle together."""
    from pyspark.sql.window import Window

    cap = CONTAM_DF_CAP if df_cap is None else df_cap
    sh = shingles(docs)
    is_eval = F.col("doc_id") % EVAL_MODULUS == 0
    # Prune the EVAL side only — sufficient for measure and bound, since
    # a train-side hot shingle cannot match an eval side it was pruned
    # from. Orientation matters at scale: the corpus df scan streams
    # against BROADCAST eval-side shingles (inner joins keep the flow
    # eval-bounded), so no distinct-shingle-sized frame is ever
    # collected — an anti-join against a materialized over-cap hot list
    # would need that list driver-side, and adversarially it is
    # corpus-sized.
    eval_occ = sh.filter(is_eval).withColumnRenamed("doc_id", "eval_doc_id")
    # Global per-shingle df: one combiner groupBy — shuffle O(distinct
    # shingles), one extra corpus scan, the honest fixed price of
    # rare-n-gram decontamination (uncached: the bench clears caches per
    # run, and a string-row cache materialization measured slower than
    # the rescan). An A/B measured the tempting alternative —
    # semi-join the corpus scan against the broadcast eval shingle set
    # BEFORE counting df, shrinking the wide exchange to O(eval
    # shingles) — 1.2x SLOWER end-to-end at sf0.1 (1.71 s vs 2.09 s
    # best-of-6 interleaved): the extra broadcast build + hash join
    # costs more than the already-combiner-collapsed exchange saves at
    # this scale. Past ~1e9 distinct shingles the tradeoff flips; the
    # swap is three lines (BENCH_sf1.md) and changes no result.
    dfs = sh.groupBy("s").agg(F.count("*").alias("df"))
    eval_sh = (
        dfs.join(F.broadcast(eval_occ), "s")
        .filter(F.col("df") <= cap)
        .select("eval_doc_id", "s")
        .withColumn("n_eval", F.count("*").over(Window.partitionBy("eval_doc_id")))
    )
    train_sh = sh.filter(~is_eval)
    overlap = (
        train_sh.join(F.broadcast(eval_sh), "s")
        .groupBy("doc_id", "eval_doc_id")
        .agg(F.count("*").alias("n_common"), F.any_value("n_eval").alias("n_eval"))
    )
    frac = F.col("n_common").cast("double") / F.col("n_eval")
    return overlap.filter(frac >= CONTAMINATION_THRESHOLD).select(
        "doc_id", "eval_doc_id", F.round(frac, 6).alias("overlap")
    )


# ------------------------------------------------ L8 repeated-span audit
SPAN_MIN_DOCS = 3  # a shingle appearing in >= this many docs is boilerplate


@register(
    "llm_span_dedup_audit",
    sql=f"""WITH sh AS ({_SHINGLES_SQL})
         SELECT s AS span, count(*) AS n_docs
         FROM sh GROUP BY s
         HAVING count(*) >= {SPAN_MIN_DOCS}
         ORDER BY n_docs DESC, span LIMIT 100""",
)
def llm_span_dedup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L8: repeated-span (boilerplate) audit — the shingle-level duplicate
    check (Gopher/RefinedWeb's repeated-substring filters): spans shared
    by >= SPAN_MIN_DOCS documents are boilerplate candidates (headers,
    license blocks, navigation chrome) that inflate near-dup scores and
    leak across train/eval splits. Output feeds a span blocklist the
    scrubbing pass can subtract.

    Since shingles() emits DISTINCT shingles per doc, count(*) IS the
    document frequency. One combiner groupBy over the exploded shingles +
    TakeOrderedAndProject: shuffle volume = distinct spans, the 100 TB
    shape (this is also exactly the df computation the ngram prefix
    filter orders by)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return (
        shingles(docs)
        .groupBy(F.col("s").alias("span"))
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= SPAN_MIN_DOCS)
        .orderBy(F.desc("n_docs"), F.asc("span"))
        .limit(100)
    )


# --------------------------------------------- L9 duplicate clusters
MAX_CC_ITERS = 20  # large-star/small-star: O(log n) rounds, so 20 >> any real graph


def _canon(e: DataFrame) -> DataFrame:
    """Canonical undirected edge list: (u, v) with u > v, deduped."""
    return (
        e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    max_rounds: int = MAX_CC_ITERS,
    pairs_canonical: bool = False,
) -> DataFrame:
    """(doc_id, cluster_id) for every vertex of the pair graph, cluster_id
    = min member — via alternating large-star/small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14), which
    converges in O(log n) rounds even on pathological chains (plain
    min-label propagation needs diameter rounds).

    Every round is two single-shuffle window passes over the edge list
    (min-over-neighborhood as a window aggregate on the vertex key — one
    exchange per phase instead of a groupBy + join-back pair) plus one
    dedup exchange, all equi-shuffles on vertex keys, localCheckpoint'ed
    so the driver loop stays constant-cost. A hub vertex lands its whole
    neighborhood in one WindowExec task, in a spillable sort buffer:
    measured on a planted star plus 4M background edges at local[32]
    (BENCH_sf1.md), the window min beat a combiner groupBy + join-back
    at every hub degree from 50k to 4M spokes, its time growing only
    1.4x for an 80x hub. The large-star output feeds
    the small-star window RAW (no intermediate distinct): min-over-window
    is duplicate-insensitive and the round's terminal canon dedups anyway,
    so each round runs three exchanges, not five. Convergence is detected
    from the checkpointed edge count (near-free) with a left-anti probe
    only when counts match (|A|=|B| and A∖B=∅ ⇔ A=B for deduped sets) —
    no per-round exceptAll shuffles. Terminal state is a star forest:
    each vertex points at its component's minimum."""
    from pyspark.sql.window import Window

    from ..session import default_parallelism

    # Scale-aware task sizing for the iterate-over-edges loop: the edge
    # list shrinks toward a star forest, and each round is several jobs,
    # so per-task scheduling overhead dominates once edges/task is small.
    # Clamp partitions to ~EDGES_PER_TASK edges each (floor 1, cap the
    # session's parallelism): a few-hundred-edge graph runs 1-task rounds
    # while a billion-edge graph keeps every core busy — the same
    # runtime re-sizing AQE applies to one-shot shuffles, applied here
    # across checkpoint boundaries AQE cannot see through. The scoped
    # shuffle.partitions conf is re-pointed every round as the edge list
    # shrinks, which sizes the round's exchanges directly — no explicit
    # repartition() pass (that was a fourth exchange per round).
    EDGES_PER_TASK = 2_000_000

    def _parts(cnt: int) -> int:
        return max(1, min(default_parallelism(), 1 + cnt // EDGES_PER_TASK))

    # One materialization of the (potentially expensive) candidate-pair
    # DAG: everything below — vertex set, canonical edges, counts — derives
    # from this checkpoint, never from a re-run of the LSH plan.
    pairs = iter_checkpoint(pairs, lazy=True)  # materialized by the count
    n_pairs = pairs.count()
    # verts stays LAZY: it is consumed exactly once, by the final
    # star-forest join after the loop, so checkpointing it bought no
    # reuse and cost a full materialization pass (an extra job + an
    # extra corpus-pairs-scale distinct execution) per clusters query.
    # It derives from the pairs checkpoint, never from the LSH plan.
    verts = (
        pairs.select(F.col("doc_a").alias("v"))
        .unionByName(pairs.select(F.col("doc_b").alias("v")))
        .distinct()
    )
    w_u = Window.partitionBy("u")
    # The intra-round window/distinct exchanges deserve edge-sized task
    # counts; scope shuffle.partitions to the loop (restored after) so
    # AQE's coalescing floor doesn't pay 32-task scheduling on a
    # hundred-edge residual graph. Queries run serially per session, so
    # the scoped conf cannot leak into a concurrent plan.
    spark = pairs.sparkSession
    saved_sp = spark.conf.get("spark.sql.shuffle.partitions")
    saved_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(_parts(n_pairs)))
        # AQE off for the loop: its coalescing duplicates the explicit
        # edge-count sizing above, window stages get no skew help from it,
        # and its per-stage re-planning is measurable overhead across many
        # tiny iteration jobs.
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        if pairs_canonical:
            # The caller guarantees pairs are already a canonical edge
            # list (distinct, doc_a < doc_b strictly — what minhash_pairs
            # emits by construction: key_pairs orders doc_a < doc_b and
            # the candidate set ends in .distinct()). _canon would
            # then be a pure no-op: greatest/least only flips orientation,
            # which the first CC iteration's symmetrization erases, the u != v filter
            # can't fire on a strict inequality, and distinct re-dedups a
            # distinct set. Skipping it removes one full edge-list
            # exchange + checkpoint materialization + count per clusters
            # query (~0.4 s of bench time at sf0.1, and at 100 TB a
            # corpus-pairs-scale shuffle).
            # Orientation u > v (doc_b as u): the loop's
            # canonical form from _canon is u > v, so the first-iteration
            # convergence probe (count + left-anti vs e) can recognize an
            # already-converged graph; fed u < v it could never match and
            # a converged input paid one guaranteed extra CC round.
            # Results identical either way: the first iteration's symmetrization erases
            # edge orientation.
            e = pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
            e_cnt = n_pairs
        else:
            e = iter_checkpoint(
                _canon(
                    pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
                ),
                lazy=True,  # materialized by the count
            )
            e_cnt = e.count()
        e, prev_cnt = _cc_rounds(e, e_cnt, w_u, _parts, max_rounds, spark)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved_sp)
        spark.conf.set("spark.sql.adaptive.enabled", saved_aqe)
    # star forest: non-roots appear as u exactly once, pointing at the root
    return verts.join(e, verts.v == e.u, "left").select(
        verts.v.alias("doc_id"),
        F.coalesce(e.v, verts.v).alias("cluster_id"),
    )


def _cc_rounds(e, prev_cnt, w_u, _parts, max_rounds, spark):
    """The large-star/small-star iteration of connected_components; edge
    list in, converged star forest out. Split out so the shuffle-partition
    scope in the caller wraps every lazy plan AND its execution."""
    for _ in range(max_rounds):
        spark.conf.set("spark.sql.shuffle.partitions", str(_parts(prev_cnt)))
        # large-star: every neighbor v > u links to min(N(u) + {u})
        sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        withm = sym.withColumn("nbmin", F.min("v").over(w_u)).withColumn(
            "m", F.least(F.col("nbmin"), F.col("u"))
        )
        # Raw large-star edges (u > v by construction: v > u ≥ m before the
        # rename). Duplicates are left in: the small-star window min below
        # is duplicate-insensitive, and skipping the intermediate
        # distinct's (u,v)-exchange saves a full shuffle per round.
        ls = withm.filter(F.col("v") > F.col("u")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        # small-star: neighbors <= u (and u itself) link to the minimum
        withm2 = ls.withColumn("mn", F.min("v").over(w_u))
        ss = iter_checkpoint(
            _canon(
                withm2.select(F.col("v").alias("u"), F.col("mn").alias("v")).unionByName(
                    withm2.select("u", F.col("mn").alias("v"))
                )
            ),
            lazy=True,  # materialized by the convergence count
        )
        cnt = ss.count()
        changed = cnt != prev_cnt or ss.join(e, ["u", "v"], "left_anti").limit(
            1
        ).count() > 0
        e, prev_cnt = ss, cnt
        if not changed:
            break
    else:
        raise RuntimeError(
            f"connected_components: not converged in {max_rounds} rounds"
        )
    return e, prev_cnt


def _clusters_sql() -> str:
    """The recursive-CTE components oracle of llm_dedup_clusters, reused
    by every query built on its components."""
    return f"""WITH RECURSIVE pairs AS ({_minhash_pairs_sql()}),
         edges AS (
           SELECT doc_a AS a, doc_b AS b FROM pairs
           UNION ALL
           SELECT doc_b, doc_a FROM pairs
         ),
         verts AS (SELECT DISTINCT a AS v FROM edges),
         reach(v, r) AS (
           SELECT v, v FROM verts
           UNION
           SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.v
         )
         SELECT v AS doc_id,
                min(r) AS cluster_id,
                count(*) OVER (PARTITION BY min(r)) AS n_members
         FROM reach GROUP BY v"""


def _attach_cluster_sizes(labels: DataFrame) -> DataFrame:
    """Attach ``n_members`` per cluster via a combiner groupBy +
    planner-chosen join-back, NOT ``count(*) OVER (PARTITION BY
    cluster_id)``: the labels frame is
    duplicate-population-sized, and a mega-cluster — boilerplate
    identical documents, precisely what dedup exists to find — would
    funnel its entire membership into ONE window task right after the
    CC loop was carefully made skew-proof; windows get no AQE
    skew-splitting. The groupBy collapses map-side (shuffle volume =
    distinct clusters, one partial row per task per hot key), and the
    join-back is an equi-join the planner broadcasts when the cluster
    census is small and AQE skew-splits when a key is hot."""
    sizes = labels.groupBy("cluster_id").agg(F.count("*").alias("n_members"))
    return labels.join(sizes, "cluster_id").select(
        "doc_id", "cluster_id", "n_members"
    )


def _attach_canonical(scored: DataFrame) -> DataFrame:
    """Attach ``canonical_id``/``is_canonical`` per cluster via a
    combiner-groupBy argmax + planner-chosen join-back, NOT
    ``first_value(doc_id) OVER (PARTITION BY cluster_id ...)`` (the
    same mega-cluster argument as _attach_cluster_sizes above, applied
    to the argmax): max_by over a (score, -doc_id)
    ordering struct collapses map-side, so a 10M-member boilerplate
    cluster ships one partial winner per task instead of funneling its
    whole membership into one WindowExec task; the ordering key is
    unique per row (doc_id is unique), so the winner is deterministic —
    highest score, lowest doc_id on ties."""
    winners = scored.groupBy("cluster_id").agg(
        F.max_by(
            "doc_id",
            F.struct(F.col("score"), (-F.col("doc_id")).alias("neg_doc_id")),
        ).alias("canonical_id")
    )
    return scored.join(winners, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "score",
        "canonical_id",
        (F.col("doc_id") == F.col("canonical_id")).alias("is_canonical"),
    )


@register("llm_dedup_clusters", sql=_clusters_sql())
def llm_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L9: duplicate CLUSTERS from near-dup pairs — pair lists aren't
    actionable until they become connected components with one keeper per
    component (near-duplication is transitive in effect: A~B, B~C must
    collapse to ONE representative, not two independent pair decisions).
    cluster_id = min doc_id in the component, the keeper.

    Spark-first iteration (no GraphFrames dependency): alternating
    large-star/small-star over the pair edge list (connected_components
    above) — O(log n) rounds regardless of component diameter, every
    round two equi-shuffles on 8-byte vertex keys. The DuckDB oracle
    computes the same components with a genuinely recursive CTE,
    cross-checking the iterative plan against recursive evaluation;
    tests additionally pin it against plain min-label propagation
    (_cc_min_label) and a pure-Python union-find on random graphs."""
    # connected_components checkpoints the pair list once itself; the
    # minhash DAG is never re-run under the component loop
    pairs = llm_dedup_minhash(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(pairs, pairs_canonical=True).cache()
    # _attach_cluster_sizes consumes labels twice (the census groupBy and
    # the join-back): cache so the star-forest assembly materializes once
    # instead of once per consumer (the frame is duplicate-
    # population-sized, so the cache is bounded by the pair DAG; .cache()
    # rather than a checkpoint keeps the full plan visible for the shape
    # pins/PLANS.md, and the driver surface clears caches per query).
    return _attach_cluster_sizes(labels)


def _canonical_sql() -> str:
    from .score import quality_score_sql

    return f"""WITH comp AS ({_clusters_sql()}),
         q AS ({quality_score_sql()}),
         j AS (
           SELECT comp.doc_id, comp.cluster_id, q.score
           FROM comp JOIN q USING (doc_id)
         )
         SELECT doc_id, cluster_id, score,
                first_value(doc_id) OVER (
                  PARTITION BY cluster_id
                  ORDER BY score DESC, doc_id ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
                ) AS canonical_id,
                doc_id = first_value(doc_id) OVER (
                  PARTITION BY cluster_id
                  ORDER BY score DESC, doc_id ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
                ) AS is_canonical
         FROM j"""


@register("llm_dedup_canonical", sql=_canonical_sql())
def llm_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L9c: quality-aware canonical selection — the decision L9 leaves
    open. Connected components give WHICH documents collapse together;
    a production dedup keeps the BEST member of each cluster, not the
    numerically smallest doc_id (lowest-id-wins silently discards the
    cleanest copy whenever a truncated or boilerplate-padded duplicate
    happens to sort first). Representative = argmax L4c quality score,
    doc_id ascending as the deterministic tiebreak; output maps every
    clustered doc to its keeper with an is_canonical flag — exactly the
    keep/drop verdict a curation DAG consumes.

    Plan: the component labels (already bounded by the LSH pair DAG,
    duplicate-population-sized — orders of magnitude smaller than the
    corpus) are broadcast into a single pass over the documents scan
    that computes the score projection in codegen; the per-cluster
    argmax is _attach_canonical's combiner groupBy + planner-chosen
    join-back — the same mega-cluster-proof shape as
    _attach_cluster_sizes, see its docstring. No corpus-scale shuffle
    beyond what L9 itself already did."""
    from .score import quality_score_frame

    pairs = llm_dedup_minhash(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(pairs, pairs_canonical=True)
    docs = spread(load_table(spark, sf_dir, "documents"))
    scored = quality_score_frame(docs).join(F.broadcast(labels), "doc_id")
    # _attach_canonical consumes scored twice (winners argmax and the
    # join-back): cache so the corpus scan + quality-score projection
    # run ONCE, not once per consumer. scored is duplicate-
    # population-sized (inner join against the cluster labels), so the
    # cache is bounded by the pair DAG; .cache() keeps the full plan
    # visible for the shape pins/PLANS.md.
    scored = scored.cache()
    return _attach_canonical(scored)


def _cc_min_label(pairs: DataFrame, max_rounds: int = MAX_CC_ITERS) -> DataFrame:
    """Reference implementation: plain min-label propagation (converges in
    component-diameter rounds). Kept for differential testing against
    connected_components."""
    edges = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b")).unionByName(
        pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b"))
    )
    labels = iter_checkpoint(
        edges.select(F.col("a").alias("v"))
        .distinct()
        .withColumn("label", F.col("v"))
    )
    for _ in range(max_rounds):
        nbr = (
            edges.join(labels, edges.b == labels.v)
            .groupBy("a")
            .agg(F.min("label").alias("nbr_min"))
        )
        new_labels = iter_checkpoint(
            labels.join(nbr, labels.v == nbr.a, "left")
            .select(
                "v",
                F.least(F.col("label"), F.coalesce("nbr_min", "label")).alias("label"),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "v")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(f"_cc_min_label: not converged in {max_rounds} rounds")
    return labels.select(
        F.col("v").alias("doc_id"), F.col("label").alias("cluster_id")
    )


# --------------------------------------- L11 incremental (batch-vs-snapshot)
INCREMENTAL_MOD = 4  # doc_id % 4 == 0 plays the incoming batch; rest = snapshot


@register(
    "llm_dedup_incremental",
    sql=f"""WITH inc AS (
           SELECT md5(text) AS content_hash, min(doc_id) AS keep_doc_id,
                  count(*) AS n_in_batch
           FROM documents WHERE doc_id % {INCREMENTAL_MOD} = 0
           GROUP BY md5(text)
         )
         SELECT content_hash, keep_doc_id, n_in_batch
         FROM inc
         WHERE NOT EXISTS (
           SELECT 1 FROM documents s
           WHERE s.doc_id % {INCREMENTAL_MOD} != 0
             AND md5(s.text) = inc.content_hash
         )""",
)
def llm_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L11: incremental dedup — admit only genuinely-new content from an
    incoming batch, judged against the already-indexed corpus snapshot.
    This is the steady-state mode of a production pipeline (the reference
    catalog's idempotent upsert is the same contract, one document per
    key across ALL of time, not per batch:
    /root/reference/tests/install_pipeline.py:23): full-corpus dedup runs
    once; every later ingest dedupes (a) within the batch (keep lowest
    doc_id per hash) and (b) against the snapshot (anti join).

    Fixture split: doc_id % 4 == 0 plays the incoming batch, the rest the
    snapshot, so the query is self-contained on the documents table.

    Scale shape: the batch-side groupBy collapses in-batch copies
    map-side BEFORE the anti join, so the join's left side is O(distinct
    new hashes), typically tiny vs the snapshot. The anti join is an
    equi-shuffle on the uniform 32-hex key (no skew); Spark's runtime
    bloom-filter semi-join reduction (InjectRuntimeFilter, on by default
    in Spark 4; compatibility pinned by
    tests/test_plans.py::test_runtime_bloom_filter_semi_join_reduction)
    builds a bloom filter from the small batch side and pushes it into
    the snapshot scan, so at 100 TB the snapshot is filtered to
    candidate rows at the scan instead of shuffling whole — the
    incremental cost tracks the BATCH size, not the corpus size."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    batch = (
        docs.filter(F.col("doc_id") % INCREMENTAL_MOD == 0)
        .groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_in_batch"),
        )
    )
    snapshot_hashes = docs.filter(F.col("doc_id") % INCREMENTAL_MOD != 0).select(
        F.md5("text").alias("content_hash")
    )
    return batch.join(snapshot_hashes, "content_hash", "left_anti")


# ----------------------------- L1c Bloom-filter ingest membership + FP audit
def _bloom_bit_spark(h: str, j: int, m: int) -> str:
    """Bit j for content hash column *h*: md5 of (hash, probe-index) taken
    as a 60-bit positive int mod m. Exact DuckDB twin below."""
    return (
        f"cast(conv(substr(md5(concat({h}, '#{j}')), 1, 15), 16, 10) as bigint)"
        f" % {m}"
    )


def _bloom_bit_sql(h: str, j: int, m: int) -> str:
    return f"('0x' || substr(md5({h} || '#{j}'), 1, 15))::BIGINT % {m}"


def _bloom_sql() -> str:
    m, k = CONFIG.bloom_bits, CONFIG.bloom_hashes
    snap_bits = ", ".join(_bloom_bit_sql("h", j, m) for j in range(k))
    probe_bits = ", ".join(_bloom_bit_sql("content_hash", j, m) for j in range(k))
    return f"""WITH batch AS (
           SELECT md5(text) AS content_hash, min(doc_id) AS keep_doc_id,
                  count(*) AS n_in_batch
           FROM documents WHERE doc_id % {INCREMENTAL_MOD} = 0
           GROUP BY md5(text)
         ),
         snap AS (
           SELECT DISTINCT md5(text) AS h
           FROM documents WHERE doc_id % {INCREMENTAL_MOD} != 0
         ),
         snap_bits AS (
           SELECT DISTINCT unnest([{snap_bits}]) AS bit FROM snap
         ),
         probes AS (
           SELECT content_hash, unnest([{probe_bits}]) AS bit FROM batch
         ),
         hits AS (
           SELECT content_hash, count(*) AS n_hits
           FROM probes JOIN snap_bits USING (bit)
           GROUP BY content_hash
         )
         SELECT b.content_hash, b.keep_doc_id, b.n_in_batch,
                coalesce(h.n_hits, 0) = {k} AS maybe_seen,
                s.h IS NOT NULL AS exact_seen,
                (coalesce(h.n_hits, 0) = {k} AND s.h IS NULL) AS false_positive
         FROM batch b
         LEFT JOIN hits h ON h.content_hash = b.content_hash
         LEFT JOIN snap s ON s.h = b.content_hash"""


@register("llm_dedup_bloom", sql=lambda: _bloom_sql())
def llm_dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1c: EXPLICIT Bloom-filter ingest dedup — the summary-structure
    variant of L11. L11 anti-joins the batch against the full snapshot
    (Spark's runtime bloom prunes the snapshot SCAN, but every ingest
    still touches snapshot data); here the snapshot is pre-digested into
    an m-bit Bloom sketch (k md5-derived bit positions per content hash),
    and an incoming batch is judged by probing ONLY the sketch — the
    production pattern when history is petabytes and batches arrive every
    minute: the sketch is built once per epoch, broadcast everywhere, and
    ingest cost becomes O(batch), zero snapshot I/O. The price is false
    positives (new docs wrongly dropped); this query AUDITS that price by
    also computing exact membership and flagging every false hit, the
    measurement that sizes m/k for a target loss rate (defaults
    m=16384/k=4: ~0 realized FP at the 375-hash sf0.01 snapshot, ~13%
    at sf0.1's ~3.7k — deliberately underprovisioned for the bench
    scale so the audit column carries signal there; CONFIG.bloom_bits
    docstring has the sizing rule and the bloom_filter_agg
    packed-blob path past broadcastable m).

    Plan shape: snapshot scan → k codegen bit projections → ONE combiner
    distinct bounded at m rows (the sketch — never bigger than the knob,
    whatever the corpus); batch side collapses in-batch copies map-side
    (L11's shape), probes explode to k rows/doc, and the sketch join is a
    BROADCAST hash join by construction (≤ m rows). The only
    corpus-scale exchange is the snapshot distinct; at 100 TB that runs
    once per epoch, not per ingest. The exact-membership audit join is
    fixture-side truth — a production run drops it (that's the point).
    Cross-engine: bit positions are md5-hex → 60-bit int → mod, exact in
    both engines (Spark conv(,16,10) == DuckDB ('0x'||h)::BIGINT)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return bloom_membership(docs)


def bloom_membership(
    docs: DataFrame,
    bits: int | None = None,
    hashes: int | None = None,
) -> DataFrame:
    """llm_dedup_bloom's core over any (doc_id, text) frame, with m/k
    overridable so tests can force saturation (tiny m → deterministic
    false positives) and verify the no-false-negative guarantee."""
    m = CONFIG.bloom_bits if bits is None else bits
    k = CONFIG.bloom_hashes if hashes is None else hashes
    batch = (
        docs.filter(F.col("doc_id") % INCREMENTAL_MOD == 0)
        .groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_in_batch"),
        )
    )
    snap = (
        docs.filter(F.col("doc_id") % INCREMENTAL_MOD != 0)
        .select(F.md5("text").alias("h"))
        .distinct()
    )
    snap_bits = snap.select(
        F.explode(
            F.expr(
                "array("
                + ", ".join(_bloom_bit_spark("h", j, m) for j in range(k))
                + ")"
            )
        ).alias("bit")
    ).distinct()
    probes = batch.select(
        "content_hash",
        F.explode(
            F.expr(
                "array("
                + ", ".join(_bloom_bit_spark("content_hash", j, m) for j in range(k))
                + ")"
            )
        ).alias("bit"),
    )
    hits = (
        probes.join(F.broadcast(snap_bits), "bit")
        .groupBy("content_hash")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        batch.join(hits, "content_hash", "left")
        .join(snap.withColumn("seen", F.lit(True)), batch.content_hash == snap.h, "left")
        .select(
            "content_hash",
            "keep_doc_id",
            "n_in_batch",
            (F.coalesce("n_hits", F.lit(0)) == k).alias("maybe_seen"),
            F.coalesce("seen", F.lit(False)).alias("exact_seen"),
            (
                (F.coalesce("n_hits", F.lit(0)) == k)
                & F.col("seen").isNull()
            ).alias("false_positive"),
        )
    )


# ------------------------- L11b incremental near-dup (signature index)
def _incremental_minhash_sql() -> str:
    """Oracle: recompute everything logically over the documents table —
    the persisted index is a physical artifact that must not change the
    answer."""
    return f"""WITH sh AS ({_SHINGLES_SQL}),
         hsh AS ({_HASHED_SHINGLES_SQL}),
         sig AS ({_minhash_sig_sql()}),
         bands AS ({_bands_sql()}),
         cand AS (
           SELECT DISTINCT b.doc_id AS doc_b, s.doc_id AS doc_s
           FROM bands b JOIN bands s ON b.b = s.b AND b.v = s.v
           WHERE b.doc_id % {INCREMENTAL_MOD} = 0
             AND s.doc_id % {INCREMENTAL_MOD} != 0
         ),
         common AS (
           SELECT c.doc_b, c.doc_s, count(*) AS c
           FROM cand c
           JOIN hsh ha ON ha.doc_id = c.doc_b
           JOIN hsh hb ON hb.doc_id = c.doc_s AND hb.hf = ha.hf
           GROUP BY c.doc_b, c.doc_s
         ),
         dup AS (
           SELECT DISTINCT doc_b FROM common
           JOIN sig na ON na.doc_id = doc_b
           JOIN sig nb ON nb.doc_id = doc_s
           WHERE c / (na.n + nb.n - c) >= {JACCARD_THRESHOLD}
         )
         SELECT doc_id, n AS n_shingles FROM sig
         WHERE doc_id % {INCREMENTAL_MOD} = 0
           AND doc_id NOT IN (SELECT doc_b FROM dup)"""


@register("llm_dedup_incremental_minhash", sql=_incremental_minhash_sql())
def llm_dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L11b: incremental NEAR-dup dedup against a persisted signature
    index — L11's anti-join admits content only when byte-identical text
    is unseen; this admits a batch document only when the snapshot holds
    no >=0.8-jaccard near-duplicate of it. The snapshot's minhash
    signatures (+ hashed shingle sets) are computed once, WRITTEN as a
    parquet signature index, and the batch LSH-joins against the
    read-back index: steady-state cost is hashing the BATCH plus an
    equi-join into the index — the snapshot corpus text is never
    re-shingled per ingest (the index append is the ingest's byproduct).

    Scale shape: identical to llm_dedup_minhash (banding equi-join +
    candidate-only verify), except one join side is an O(docs)-row
    signature table instead of recomputed signatures; band buckets are
    uniform md5 halves, so no skew. The oracle recomputes everything
    logically — persistence must not change the answer."""
    from ..session import scratch_path

    docs = spread(load_table(spark, sf_dir, "documents"))
    # ONE shingle+hash pass builds both sides (the query is self-contained
    # so the index build is part of it; a steady-state ingest reads the
    # index and hashes only its batch): signatures for all docs, split by
    # the snapshot/batch modulus afterwards.
    sig_all = _minhash_sig(hashed_shingles(docs), with_sets=True).cache()
    snap_sig = sig_all.filter(F.col("doc_id") % INCREMENTAL_MOD != 0)
    idx_path = scratch_path(spark, "minhash_index")
    snap_sig.write.mode("overwrite").parquet(idx_path)
    snap = spark.read.parquet(idx_path)

    batch = sig_all.filter(F.col("doc_id") % INCREMENTAL_MOD == 0)
    bands_b = batch.select(F.col("doc_id").alias("doc_b"), _bands_inline())
    bands_s = snap.select(F.col("doc_id").alias("doc_s"), _bands_inline())
    cand = bands_b.join(bands_s, ["b", "v"]).select("doc_b", "doc_s").distinct()
    ha = batch.select(
        F.col("doc_id").alias("doc_b"), F.col("hfs").alias("ha"), F.col("n").alias("n_b")
    )
    hb = snap.select(
        F.col("doc_id").alias("doc_s"), F.col("hfs").alias("hb"), F.col("n").alias("n_s")
    )
    c = F.size(F.array_intersect("ha", "hb"))
    jac = c / (F.col("n_b") + F.col("n_s") - c)
    dup = (
        cand.join(ha, "doc_b")
        .join(hb, "doc_s")
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc_b")
        .distinct()
    )
    return (
        batch.join(dup, batch.doc_id == dup.doc_b, "left_anti")
        .select("doc_id", F.col("n").alias("n_shingles"))
    )


# ---------------------------------------- L12 exact substring-span dedup
ANCHOR_MOD = 8  # shingle is an anchor when hf % 8 == 0 (~1/8 sampled)
ANCHOR_DF_CAP = 64  # anchors in more docs than this are boilerplate
MIN_SPAN_WORDS = 15  # report pairs sharing a verbatim run at least this long

_POS_SHINGLES_SQL = f"""
  SELECT doc_id, i,
         ('0x' || substr(md5(array_to_string(w[i:i+{SHINGLE_K - 1}], ' ')), 1, 15))::BIGINT AS hf
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       unnest(generate_series(1, len(w)-{SHINGLE_K - 1})) AS t(i)
  WHERE len(w) >= {SHINGLE_K}
"""


def _substring_sql(
    anchor_mod: int = ANCHOR_MOD, df_cap: int = ANCHOR_DF_CAP
) -> str:
    """The full substring-span pair query (shared by the registration,
    the v4 curation oracle — which nests it as a subquery — and the L12b
    recall eval, which instantiates it twice: shipped defaults vs the
    exhaustive anchor_mod=1 ground truth)."""
    return f"""WITH ps AS ({_POS_SHINGLES_SQL}),
         anch AS (
           SELECT doc_id, hf FROM (
             SELECT DISTINCT doc_id, hf FROM ps WHERE hf % {anchor_mod} = 0
           )
           QUALIFY count(*) OVER (PARTITION BY hf) <= {df_cap}
         ),
         cand AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM anch a JOIN anch b
             ON a.hf = b.hf AND a.doc_id < b.doc_id
         ),
         m AS (
           SELECT c.doc_a, c.doc_b, pb.i - pa.i AS diag, pa.i
           FROM cand c
           JOIN ps pa ON pa.doc_id = c.doc_a
           JOIN ps pb ON pb.doc_id = c.doc_b AND pb.hf = pa.hf
         ),
         runs AS (
           SELECT doc_a, doc_b,
                  i - row_number() OVER (PARTITION BY doc_a, doc_b, diag
                                         ORDER BY i) AS grp,
                  diag
           FROM (SELECT DISTINCT doc_a, doc_b, diag, i FROM m)
         ),
         spans AS (
           SELECT doc_a, doc_b,
                  CAST(max(run_len) + {SHINGLE_K - 1} AS BIGINT) AS span_words
           FROM (
             SELECT doc_a, doc_b, count(*) AS run_len
             FROM runs GROUP BY doc_a, doc_b, diag, grp
           ) GROUP BY doc_a, doc_b
         )
         SELECT doc_a, doc_b, span_words
         FROM spans WHERE span_words >= {MIN_SPAN_WORDS}"""


@register("llm_dedup_substring", sql=_substring_sql())
def llm_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L12: EXACT substring-span dedup (Lee et al. 2107.06499: verbatim
    repeated passages matter even when whole-document similarity is low
    — a 50-token boilerplate block inside two otherwise-unrelated pages
    is invisible to jaccard/minhash, whose unions drown it). Reports
    pairs sharing a verbatim word run of at least MIN_SPAN_WORDS, with
    the longest shared span length.

    Plan (never all-pairs): candidates come from ANCHOR shingles — the
    deterministic 1/ANCHOR_MOD hash-sample of positioned shingles,
    df-capped like L2g so hot boilerplate anchors cannot quadratically
    fan out; only candidate pairs reach the verify. The verify is the
    suffix-array-free diagonal trick: positioned matches grouped by
    diagonal (j - i), where a verbatim run of length L is exactly a
    consecutive i-run on one diagonal — two window-free combiner
    groupBys after the positional equi-join, no per-pair alignment
    loops. Recall: a span of L >= MIN_SPAN_WORDS contains L-k+1 shingle
    starts, missing the anchor sample only if ALL of them hash off the
    1/8 residue (~(7/8)^(L-2): <17% at L=15, vanishing for real
    boilerplate blocks); the VERIFIED spans are exact. At 100 TB the
    anchor table is 1/8 of shingle volume, 8-byte hashes."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return substring_span_pairs(docs)


def substring_span_pairs(
    docs: DataFrame,
    anchor_df_cap: int = ANCHOR_DF_CAP,
    anchor_mod: int = ANCHOR_MOD,
    cache_shingles: bool = True,
) -> DataFrame:
    """llm_dedup_substring's core over any (doc_id, text) frame —
    separated so adversarial tests can plant hot-boilerplate corpora.
    ``anchor_mod=1`` turns EVERY shingle into an anchor — the
    exhaustive ground truth the L12b recall eval measures the shipped
    1/ANCHOR_MOD sample against — and an ``anchor_df_cap`` of None
    disables the cap (skipping the corpus-wide df count entirely, not
    just filtering by infinity).
    ``cache_shingles=False`` trades the shingle-scan recomputes for
    zero cache-storage pressure — the right call when TWO pipelines
    run in one query (the L12b eval) inside a small-heap session."""
    from pyspark.sql.window import Window

    w = docs.select("doc_id", F.split("text", " ").alias("w")).filter(
        F.size("w") >= SHINGLE_K
    )
    parts = ", ' ', ".join(f"w[i{j - 1:+d}]" for j in range(SHINGLE_K))
    # cached (by default): the positioned-shingle table feeds FOUR
    # consumers (both anchor self-join sides via cand, plus the pa/pb
    # positional joins) — one materialization of the corpus shingle
    # scan, not four recomputes (the L2g disc-table pattern)
    ps = w.select(
        "doc_id",
        F.explode(F.expr(f"sequence(1, size(w)-{SHINGLE_K - 1})")).alias("i"),
        "w",
    ).select(
        "doc_id",
        "i",
        F.expr(
            f"cast(conv(substr(md5(concat({parts})), 1, 15), 16, 10) as bigint)"
        ).alias("hf"),
    )
    if cache_shingles:
        ps = ps.cache()
    # cached: the sampled-anchor distinct feeds both drop_hot_keys reads
    # and both candidate-join sides; uncached it reruns once per consumer
    anch = ps.filter(F.col("hf") % anchor_mod == 0).select(
        "doc_id", "hf"
    ).distinct().cache()
    if anchor_df_cap is not None:
        anch = drop_hot_keys(anch, "hf", anchor_df_cap)
    # In the exhaustive (anchor_mod=1) eval mode, anch and cand are
    # corpus-sized, and Catalyst's size misestimate after the
    # distinct+window chain tries to BROADCAST them (driver OOM at the
    # sf1 probe) — and even shuffle-hash cannot hold a per-partition
    # hash relation of an all-pairs cand side. Pin spill-safe
    # sort-merge joins there; the shipped sampled+capped path keeps
    # its (correct) broadcast freedom.
    exhaustive = anchor_mod == 1
    if exhaustive:
        anch = anch.hint("merge")
    cand = key_pairs(anch, "hf").distinct()
    if exhaustive:
        cand = cand.hint("merge")
    # The positional sides are corpus-sized BY CONSTRUCTION (every
    # shingle of every doc), yet Catalyst's estimate after the Generate
    # chain reads small and it happily picks them as WHOLE-TABLE
    # BroadcastHashJoin build sides — an sf1 probe OOM'd exactly
    # there, and at 100 TB a pb broadcast is a cluster-killer. Pin
    # shuffle_hash in BOTH modes: the per-partition build is
    # |side|/shuffle-partitions (scales with the cluster, unlike a
    # broadcast copy per executor), and it avoids the per-task sort
    # buffers that made full sort-merge OOM the 1 GB bare session at
    # sf0.1. The genuinely small side (the sampled, df-capped anchor
    # table) keeps its broadcast freedom in the shipped path.
    pa = ps.select(
        F.col("doc_id").alias("doc_a"), F.col("i").alias("ia"), "hf"
    ).hint("shuffle_hash")
    pb = ps.select(
        F.col("doc_id").alias("db"), F.col("i").alias("ib"),
        F.col("hf").alias("hfb"),
    ).hint("shuffle_hash")
    m = (
        cand.join(pa, "doc_a")
        .join(pb, (F.col("doc_b") == F.col("db")) & (F.col("hf") == F.col("hfb")))
        .select(
            "doc_a", "doc_b", (F.col("ib") - F.col("ia")).alias("diag"),
            F.col("ia").alias("i"),
        )
        .distinct()
    )
    runs = m.withColumn(
        "grp",
        F.col("i")
        - F.row_number().over(
            Window.partitionBy("doc_a", "doc_b", "diag").orderBy("i")
        ),
    )
    spans = (
        runs.groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(F.count("*").alias("run_len"))
        .groupBy("doc_a", "doc_b")
        .agg(
            (F.max("run_len") + (SHINGLE_K - 1)).cast("bigint").alias("span_words")
        )
    )
    return spans.filter(F.col("span_words") >= MIN_SPAN_WORDS)


_EXHAUSTIVE_DF_CAP = 1 << 40  # "uncapped" for the eval's ground-truth pass


@register(
    "llm_substring_recall_eval",
    sql=f"""WITH exact AS ({_substring_sql(anchor_mod=1,
                                           df_cap=_EXHAUSTIVE_DF_CAP)}),
         approx AS ({_substring_sql()}),
         j AS (
           SELECT e.span_words AS se, a.span_words AS sa
           FROM exact e LEFT JOIN approx a
             ON a.doc_a = e.doc_a AND a.doc_b = e.doc_b
         )
         SELECT CAST(count(*) AS BIGINT) AS n_exact,
                CAST((SELECT count(*) FROM approx) AS BIGINT) AS n_approx,
                CAST(count(sa) AS BIGINT) AS n_hit,
                CAST(coalesce(sum(CASE WHEN sa IS NOT NULL AND sa <> se
                                       THEN 1 ELSE 0 END), 0) AS BIGINT)
                  AS n_span_mismatch,
                CAST(CASE WHEN count(*) = 0 THEN 100
                     ELSE (100 * count(sa)) // count(*) END AS BIGINT)
                  AS recall_pct
         FROM j""",
)
def llm_substring_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L12b: measured recall of L12's anchor-shingle sampling vs the
    exhaustive ground truth (the L3l llm_pq_recall_eval pattern: every
    approximation knob carries evidence, not just a derivation). The
    ground-truth pass reruns the identical span pipeline with
    anchor_mod=1 (EVERY positioned shingle is a candidate anchor) and
    the df cap effectively off — Lee et al.'s exact suffix-array answer
    for this shingle size — and the shipped 1/ANCHOR_MOD pass is scored
    against it: recall_pct = floor(100 * hits / exact pairs) (100 when
    the corpus has no qualifying pairs), plus n_span_mismatch pinning
    that a recalled pair's VERIFIED span length is byte-identical in
    both passes (the positional verify join runs over all shingles
    either way, so any nonzero value is a bug, not an approximation).

    Scale: the exhaustive pass is quadratic in hot-shingle document
    frequency (that is exactly what the df cap exists to bound), so at
    100 TB this eval runs on a bounded doc_id-mod sample of the corpus
    — pass a sampled frame to substring_span_pairs — while the test
    SFs run it corpus-wide (max shingle df ~6 in the fixture data).
    The derivation it certifies: a span of L >= {MIN_SPAN_WORDS} words
    holds L-{SHINGLE_K}+1 shingle starts and misses the 1/{ANCHOR_MOD}
    residue with probability ~({ANCHOR_MOD - 1}/{ANCHOR_MOD})^(L-2),
    <17% at L=15 — recall_pct is that bound, measured."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    # cap=None skips the corpus-wide df count (not just filters by
    # infinity), and neither pass caches its shingle table: two cached
    # corpus-shingle copies alongside the sort buffers OOM'd the 1 GB
    # bare driver session at sf0.1 — recomputing the explode is
    # the cheaper currency here
    exact = substring_span_pairs(
        docs, anchor_df_cap=None, anchor_mod=1, cache_shingles=False
    )
    approx = substring_span_pairs(docs, cache_shingles=False).withColumnRenamed(
        "span_words", "sa"
    )
    # both sides are span-pair-sized (small in practice) but their size
    # ESTIMATES are garbage after the deep window/aggregate chains —
    # Catalyst tried to broadcast one at the sf1 probe; sort-merge is
    # free at this cardinality and never OOMs the driver
    j = exact.hint("merge").join(approx, ["doc_a", "doc_b"], "left")
    stats = j.agg(
        F.count("*").cast("bigint").alias("n_exact"),
        F.count("sa").cast("bigint").alias("n_hit"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("sa").isNotNull()
                    & (F.col("sa") != F.col("span_words")),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        ).cast("bigint").alias("n_span_mismatch"),
    )
    n_approx = approx.agg(F.count("*").cast("bigint").alias("n_approx"))
    return stats.crossJoin(n_approx).select(
        "n_exact",
        "n_approx",
        "n_hit",
        "n_span_mismatch",
        F.expr(
            "cast(case when n_exact = 0 then 100 "
            "else (100 * n_hit) div n_exact end as bigint)"
        ).alias("recall_pct"),
    )


# ------------------------------------------- L13 content-defined chunking
# window/divisor are config, not constants (SURVEY §7.4): the divisor
# IS the expected chunk size, a corpus-dependent knob; env overrides move
# the plan AND the registered oracle together (capture-at-import).
CDC_WINDOW = CONFIG.cdc_window
CDC_DIVISOR = CONFIG.cdc_divisor
CDC_MIN_DOCS = 2  # report chunks appearing in at least this many docs

# Gear byte table for the FastCDC-style window hash (the boundary rule):
# 256 values derived from md5 of the byte value itself — deterministic,
# engine-independent, and rebuilt identically here and in the oracle SQL
# from this one tuple. 32-bit entries keep the unrolled window polynomial
# sum_{j<w} G[c_{i-j}] * 2^j inside signed-64 for any w <= 24 (config
# enforces the bound): max sum < w * 2^32 * 2^(w-1).
import hashlib as _hashlib

GEAR_TABLE = tuple(
    int(_hashlib.md5(bytes([v])).hexdigest()[:8], 16) for v in range(256)
)

_CDC_START = "CASE WHEN k = 1 THEN 1 ELSE bl[k-1] + 1 END"


def _cdc_params(window: int | None, divisor: int | None) -> tuple[int, int]:
    """Resolve (window, divisor) overrides against CONFIG, loudly: an
    explicit invalid value (0, negative, window past gear's signed-64
    ceiling) ERRORS instead of silently falling back to the default
    (the _env_int discipline)."""
    w = CDC_WINDOW if window is None else window
    d = CDC_DIVISOR if divisor is None else divisor
    if w <= 0 or d <= 0:
        raise ValueError(f"CDC window/divisor must be positive, got ({w}, {d})")
    if w > 24:
        raise ValueError(f"CDC gear hash needs window <= 24, got {w}")
    return w, d


def _gear_boundary_spark(w: int, d: int) -> str:
    """Spark SQL predicate body: position i is a gear boundary. Unrolled
    window polynomial over the per-doc codepoint array `cs` — pure
    integer multiply-adds, no per-position digest/hex/string allocation
    (the production FastCDC shape; w is compile-time, so the unroll
    stays in one codegen-friendly expression)."""
    terms = " + ".join(
        f"element_at(garr, element_at(cs, i - {j}) + 1) * {1 << j}L"
        for j in range(w)
    )
    return f"({terms}) % {d} = 0"


def _gear_boundary_duck(w: int, d: int) -> str:
    """DuckDB replay of the identical gear boundary predicate (garr is
    the same 256-entry literal, 1-indexed in both engines)."""
    terms = " + ".join(
        f"garr[(ord(substr(text, i - {j}, 1)) % 256) + 1] * {1 << j}"
        for j in range(w)
    )
    return f"({terms}) % {d} = 0"


def _cdc_sql(window: int | None = None, divisor: int | None = None) -> str:
    """DuckDB replay of the CDC boundary rule + chunk aggregation for any
    (window, divisor) — the registered oracle is this at the active
    CONFIG; tests pass non-default knobs to both sides."""
    w, d = _cdc_params(window, divisor)
    garr = "[" + ", ".join(str(g) for g in GEAR_TABLE) + "]"
    boundary = (
        f"SELECT doc_id, text,\n"
        f"       list_append(\n"
        f"         [i for i in generate_series({w}, n)\n"
        f"          if {_gear_boundary_duck(w, d)} and i < n],\n"
        f"         n) AS bl\n"
        f"  FROM (SELECT *, {garr} AS garr FROM d)"
    )
    return f"""WITH d AS (
           SELECT doc_id, text, length(text) AS n FROM documents
           WHERE length(text) >= 1
         ),
         b AS (
           {boundary}
         ),
         c AS (
           SELECT doc_id,
                  unnest([md5(substr(text, {_CDC_START},
                                     bl[k] - ({_CDC_START}) + 1))
                          for k in generate_series(1, len(bl))]) AS h,
                  unnest([bl[k] - ({_CDC_START}) + 1
                          for k in generate_series(1, len(bl))]) AS clen
           FROM b
         )
         SELECT h AS chunk_md5,
                CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                CAST(count(*) AS BIGINT) AS n_copies,
                CAST(max(clen) AS BIGINT) AS chunk_chars
         FROM c GROUP BY h
         HAVING count(DISTINCT doc_id) >= {CDC_MIN_DOCS}"""


@register("llm_dedup_cdc", sql=_cdc_sql())
def llm_dedup_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L13: content-defined chunking (CDC) dedup — chunk boundaries are
    picked by CONTENT (positions whose trailing CDC_WINDOW-char window
    hashes to 0 mod CDC_DIVISOR), so an insertion near the top of a
    document shifts only the chunk it lands in and every later chunk
    REALIGNS — the storage-dedup property fixed-width chunking (L4h2)
    structurally lacks, where one inserted word shifts every subsequent
    window (the planted-prefix test pins exactly this gap). Reports
    chunks shared across >= CDC_MIN_DOCS documents with copy counts —
    the chunk-store dedup ratio audit of an FastCDC/rsync-style system,
    here over text corpora (LLM training decks carry near-identical
    documents differing by headers/injected prefixes).

    Plan shape (100 TB story): boundary selection and chunk hashing are
    PURE per-doc array expressions — filter(sequence) + an indexed
    transform, whole-stage codegen, no explode of per-position rows, so
    nothing position-sized ever shuffles. The only exchange is the
    combiner groupBy on the 32-hex chunk hash (shuffle O(chunks), ~n/32
    of corpus chars). The window-hash-per-position projection is the
    honest cost of CDC (every byte examined); the boundary rule is the
    gear hash — a FastCDC-style gear polynomial over a byte table, pure
    integer multiply-adds, no digest/hex/string allocation per
    position, about a quarter of a per-position md5's cost per scanned
    char at sf0.01 in the same plan shape. Its signed-64 ceiling bounds
    the window to <= 24 chars. The oracle replays the identical
    boundary rule, so the gate checks the full chunking decision, not
    just the aggregate."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return cdc_duplicate_chunks(docs)


def cdc_duplicate_chunks(
    docs: DataFrame, window: int | None = None, divisor: int | None = None
) -> DataFrame:
    """llm_dedup_cdc's core over any (doc_id, text) frame — separated so
    tests can plant insertion-shifted duplicates and verify realignment.
    Non-None window/divisor overrides are TEST-ONLY (pair them with
    ``_cdc_sql(window, divisor)``); production tuning goes through the
    SPARK_GRAFT_CDC_* env knobs, which move plan and oracle together."""
    w, d = _cdc_params(window, divisor)
    start = "IF(k = 1, 1, element_at(bl, k - 1) + 1)"
    garr = "array(" + ", ".join(f"{g}L" for g in GEAR_TABLE) + ")"
    b = (
        docs.filter(F.length("text") >= 1)
        .select(
            "doc_id",
            "text",
            # per-doc codepoint array: one pass over the chars; the
            # window polynomial then reads it by index instead of
            # re-slicing/hashing the string at every position
            F.expr(
                "transform(sequence(1, length(text)),"
                " p -> ascii(substring(text, p, 1)) % 256)"
            ).alias("cs"),
            F.expr(garr).alias("garr"),
        )
        .select(
            "doc_id",
            "text",
            # sequence(1, n) + a leading i >= w guard, NOT
            # sequence(w, n): Spark's sequence(w, n) is DESCENDING
            # when n < w (DuckDB's generate_series is empty), and the
            # out-of-range positions would index past cs before the
            # i < n term runs. AND short-circuits left-to-right, so
            # the bounds guards protect the element_at lookups.
            F.expr(
                f"""concat(
                  filter(sequence(1, length(text)),
                         i -> i >= {w} AND i < length(text)
                              AND ({_gear_boundary_spark(w, d)})),
                  array(length(text)))"""
            ).alias("bl"),
        )
    )
    chunks = b.select(
        "doc_id",
        F.explode(
            F.expr(
                f"""transform(sequence(1, size(bl)), k -> struct(
                      md5(substring(text, {start},
                          element_at(bl, k) - ({start}) + 1)) AS h,
                      element_at(bl, k) - ({start}) + 1 AS clen))"""
            )
        ).alias("c"),
    ).select("doc_id", F.col("c.h").alias("h"), F.col("c.clen").alias("clen"))
    return (
        chunks.groupBy(F.col("h").alias("chunk_md5"))
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_copies"),
            F.max("clen").cast("bigint").alias("chunk_chars"),
        )
        .filter(F.col("n_docs") >= CDC_MIN_DOCS)
    )


# ------------------------------------------ L2k perceptual image dedup
#: Perceptual hash: a 256-bit fixed-point DCT-II over a FULL-DETAIL
#: 16x16 decoded gray image. Full detail (per-pixel variation, not
#: constant 2x2 blocks) because a 256-bit hash needs 256 independent
#: pixel degrees of freedom — a 2x-upsampled input makes the u=8 DCT
#: basis row cancel exactly (C[8][2k] = -C[8][2k+1]) and mirrors
#: u <-> 16-u, leaving ~31 near-constant bits whose band collects into
#: a low-cardinality bucket and a QUADRATIC candidate join — measured:
#: band 8 constant over 3000 docs; full-detail input: every band >=
#: 1006 distinct / 3000 docs. Integer cosine table C[u][x] =
#: round(cos(pi*(2x+1)*u/32) * 2^14), coefficients D = C @ P^T @ C^T
#: (|D| <= 255*16^2*2^28 ~ 1.75e13, exact in int64), bit(u,v) =
#: D[u][v] > median(D) (the median of 256 int64s interpolates two mid
#: values whose sum < 2^53, so float64 and DuckDB DOUBLE agree
#: exactly), banded 16 x 16-bit with band u = bit row u, radius 12
#: (< 16 bands -> pigeonhole-exact). The cosine table is embedded
#: LITERALLY in the oracle SQL, so Spark (numpy int64) and DuckDB
#: compute bit-identical hashes — no float-threshold ambiguity
#: anywhere in the pipeline.
PHASH_SIDE = 16
#: De-wrap term: the two-prime quadratic
#: mix repeats with base period lcm(251, 241) = 60,491, so a probe
#: corpus past ~180k docs (60,491 bases x 3 docs/group) wrapped bases
#: into genuinely larger dup groups and the sf10 fingerprint probe read
#: the FIXTURE's C(group, 2) pair growth, not the plan. A third prime
#: keyed on the WRAPPED digit — (b // 60,491) % 239 — lifts the
#: effective base period to 60,491 x 239 ≈ 14.5M bases (~43M docs)
#: while leaving every committed testdata scale bit-identical (the
#: digit is 0 below 60,491 bases, so the term vanishes there and the
#: fixture's measured band entropy/separation statistics stand).
PHASH_WRAP = 60_491  # lcm(251, 241)
PHASH_WRAP_PRIME = 239
PHASH_DCT_SCALE = 1 << 14
PHASH_DCT_BANDS = 16
#: Radius 12: the fixture's in-group perturbations flip <= 4 DCT bits
#: (p99 = 2) while cross-base pairs sit >= 70 bits apart (measured over
#: 3000 docs at build time); 12 captures the in-group mass with a wide
#: margin below the cross-base floor and stays under the 16-band
#: pigeonhole bound, so the banded plan is EXACT at any corpus size.
PHASH_DCT_MAX_DIST = 12


def _phash_dct_cos() -> list[list[int]]:
    """Fixed-point DCT-II cosine table, C[u][x] for u, x in 0..15.
    Rounded from float64 ONCE here and inlined verbatim into the oracle
    SQL — both engines consume identical integers by construction."""
    import math

    n = PHASH_SIDE
    return [
        [
            round(math.cos(math.pi * (2 * x + 1) * u / (2 * n)) * PHASH_DCT_SCALE)
            for x in range(n)
        ]
        for u in range(n)
    ]


_PHASH_DCT_COS = _phash_dct_cos()


def _phash_decoded_image_full(d: int):
    """Per-doc full-detail 16x16 gray image as GENUINELY DECODED pixels
    for the 256-bit DCT hash: a two-prime quadratic mix evaluated PER
    PIXEL (x, y in 0..15) so all 256 degrees of freedom carry entropy
    (see the hash comment above — 2x2-block input degenerates the u=8
    DCT band into a quadratic candidate join), a bounded one-pixel bump
    for non-base docs, then a round trip through the real PNG codec
    (filter cycle + Adam7 on odd docs) — a decode bug shifts hash bits
    and the driver hash, composing the codec layer with the dedup
    engine. Two prime moduli (251, 241) vary adjacent-pixel
    differences per pixel (affine grids give constant-step wrap
    patterns); the third-prime wrap digit (PHASH_WRAP comment) keeps
    base equivalence classes from forming past 60,491 bases. Bumps of
    2/4 never overflow."""
    import numpy as np

    from .png import decode_png, encode_png_gray

    n = PHASH_SIDE
    b = d // 3
    e = (b // PHASH_WRAP) % PHASH_WRAP_PRIME
    grid = [
        [((b % 251 + x * 17 + y * 29)
          * (b % 241 + x * 3 + y * 7 + 1)
          + e * (x * 13 + y * 31 + 1)) % 251
         for x in range(n)]
        for y in range(n)
    ]
    if d % 3 != 0:
        grid[(d // n) % n][d % n] += 2 * (d % 3)
    img = np.array(grid, dtype=np.uint8)
    return decode_png(
        encode_png_gray(img, row_filters=(0, 1, 2, 3, 4),
                        interlace=d % 2 == 1)
    )[:, :, 0].astype(np.int64)


def _dct256_bands(mat) -> list[int]:
    """16x16 int matrix -> the 256-bit fixed-point DCT hash as its 16
    x 16-bit band values (band u = bit row u, bit v = coefficient
    D[u][v] > median): all-integer except the median, whose float64
    interpolation is exact (mid-value sums < 2^53) and matched
    bit-for-bit by the oracle's DuckDB DOUBLE median. Shared by the
    image phash (L2k) and the audio fingerprint (L2m) — same hash,
    different decoded input."""
    import numpy as np

    cos = np.array(_PHASH_DCT_COS, dtype=np.int64)
    shifts = np.int64(1) << np.arange(PHASH_SIDE, dtype=np.int64)
    coeff = cos @ np.asarray(mat, dtype=np.int64).T @ cos.T
    bits = coeff > np.median(coeff)
    return [int(v) for v in (bits * shifts).sum(axis=1)]


def _phash_dct_rows(d: int):
    """doc_id -> DCT-hash bands over the PNG-round-tripped pixels."""
    yield d, _dct256_bands(_phash_decoded_image_full(d))


#: Output of the DCT-hash decode legs: 16 x 16-bit band values per doc.
BANDS_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("bands", ArrayType(LongType()))]
)


def _phash_grid16_sql() -> str:
    """The full-detail 16x16 pixel value as SQL (the DCT input): the
    two-prime mix per pixel plus the one-pixel bump for non-base docs."""
    n = PHASH_SIDE
    return (
        "(((d.doc_id // 3) % 251 + x.x * 17 + y.y * 29)"
        " * ((d.doc_id // 3) % 241 + x.x * 3 + y.y * 7 + 1)"
        f" + (((d.doc_id // 3) // {PHASH_WRAP}) % {PHASH_WRAP_PRIME})"
        " * (x.x * 13 + y.y * 31 + 1)) % 251"
        " + CASE WHEN d.doc_id % 3 != 0"
        f"       AND x.x = d.doc_id % {n}"
        f"       AND y.y = (d.doc_id // {n}) % {n}"
        "  THEN 2 * (d.doc_id % 3) ELSE 0 END"
    )


def _dct_banded_sql(grid: str, max_dist: int) -> str:
    """Closed-form DuckDB replay of a 256-bit DCT banded-LSH query
    over ``grid`` (the per-(doc, x, y) input value as SQL): the SAME
    integer cosine table the Spark side uses is inlined as a VALUES
    CTE, and the two separable DCT passes are two join+group
    aggregations (16 x 16 x 16 terms each — all-integer, so the only
    float is the exactly-matching median interpolation). Shared by the
    image phash (lossless PNG: decoded pixels == formula) and the
    audio fingerprint (lossless FLAC: decoded samples == formula)."""
    n = PHASH_SIDE
    costab = ", ".join(
        f"({u}, {i}, {_PHASH_DCT_COS[u][i]})"
        for u in range(n)
        for i in range(n)
    )
    return f"""WITH pix AS (
             SELECT d.doc_id, x.x AS px, y.y AS py,
                    CAST({grid} AS BIGINT) AS p
             FROM (SELECT doc_id FROM documents) d,
                  generate_series(0, {n - 1}) AS x(x),
                  generate_series(0, {n - 1}) AS y(y)),
           costab(u, i, c) AS (VALUES {costab}),
           rowp AS (
             SELECT pix.doc_id, cu.u AS u, pix.py AS py,
                    SUM(pix.p * cu.c) AS r
             FROM pix JOIN costab cu ON cu.i = pix.px
             GROUP BY pix.doc_id, cu.u, pix.py),
           colp AS (
             SELECT rowp.doc_id, rowp.u AS u, cv.u AS v,
                    SUM(rowp.r * cv.c) AS coeff
             FROM rowp JOIN costab cv ON cv.i = rowp.py
             GROUP BY rowp.doc_id, rowp.u, cv.u),
           med AS (
             SELECT doc_id, median(coeff) AS m
             FROM colp GROUP BY doc_id),
           bands AS (
             SELECT colp.doc_id, colp.u AS band,
                    CAST(SUM(CASE WHEN colp.coeff > med.m
                             THEN (1::BIGINT << colp.v)
                             ELSE 0 END) AS BIGINT) AS bval
             FROM colp JOIN med ON colp.doc_id = med.doc_id
             GROUP BY colp.doc_id, colp.u),
           cand AS (
             SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.bval = b.bval
              AND a.doc_id < b.doc_id),
           ham AS (
             SELECT c.doc_a, c.doc_b,
                    SUM(bit_count(xor(xa.bval, xb.bval))) AS hamming
             FROM cand c
             JOIN bands xa ON xa.doc_id = c.doc_a
             JOIN bands xb ON xb.doc_id = c.doc_b
                          AND xb.band = xa.band
             GROUP BY c.doc_a, c.doc_b)
           SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
           FROM ham
           WHERE hamming <= {max_dist}
           ORDER BY doc_a, doc_b"""


def _phash_sql() -> str:
    return _dct_banded_sql(_phash_grid16_sql(), PHASH_DCT_MAX_DIST)


def _dct_banded_pairs(
    spark: SparkSession, sf_dir: str, per_doc, max_dist: int
) -> DataFrame:
    """The 256-bit DCT banded plan, shared by L2k (image) and L2m
    (audio): the decode leg emits 16 x 16-bit band values (an array
    column), posexplode -> band equi-join -> per-band bit_count(XOR)
    folded with zip_with/aggregate on candidates only. max_dist < 16
    bands, so the banded plan is pigeonhole-EXACT. spread() feeds the
    CPU-bound decode leg all cores — a video scale probe measured the
    un-spread leg serializing on the fixture's single parquet split
    (wall ratio 10.2x for 10x docs: one core doing 10x the work)."""
    # cached: the codec round-trip is the dominant cost and the band
    # table feeds BOTH self-join sides — one decode, not two;
    # O(docs x 16) int rows, trivial memory
    hashes = map_rows(doc_ids(spark, sf_dir), per_doc, BANDS_SCHEMA).cache()
    bexp = hashes.select(
        "doc_id", "bands", F.posexplode("bands").alias("band", "bval")
    )
    cand = key_pairs(bexp, ["band", "bval"], carry=["bands"]).distinct()
    hamming = F.aggregate(
        F.zip_with(
            "bands_a", "bands_b",
            lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        cand.withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_dist)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


@register("llm_dedup_phash", sql=_phash_sql)
def llm_dedup_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2k: PERCEPTUAL image near-dup — the image-side mate of the text
    near-dup family and the query that composes the codec layer with
    the dedup engine. Per doc a 16x16 gray image (groups of three docs
    share a base; the non-base docs carry a one-pixel brightness bump)
    round-trips through the REAL PNG codec (filter cycle + Adam7 on
    odd docs) inside mapInPandas; the perceptual hash then goes
    through the standard banded-LSH shape ENTIRELY in Catalyst: band
    explode -> band equi-join -> bit_count(XOR) Hamming verify on
    candidates only — zero corpus-pair joins, shuffle O(docs x bands),
    embarrassingly-parallel decode leg.

    The hash is a 256-bit fixed-point DCT (16 x 16-bit bands, radius
    12): a 56-bit dHash (7 x 8-bit bands, radius 6) measured at sf1
    over-clustered superlinearly (793,525 pairs / 50k docs) from
    8-bit-band over-population. The banded plan is pigeonhole-EXACT
    (radius < band count): same pairs as brute force at any scale,
    with only equi-join shuffles (the simhash guarantee, restated for
    images).

    Reference parity: the reference (SD2E/pipelinejobs-indexer,
    reactor.py:16-213) catalogs image uploads opaquely; perceptual
    dedup is the multimodal curation surface a training pipeline adds."""
    return _dct_banded_pairs(spark, sf_dir, _phash_dct_rows, PHASH_DCT_MAX_DIST)


# ------------------------------------- L2m acoustic fingerprint dedup
#: The audio-side mate of L2k: per doc a 256-sample int16 clip (groups
#: of three share a base waveform; non-base docs bump one sample)
#: round-trips through the REAL FLAC codec (rice/fixed predictors —
#: the encode knob varies per doc to keep several decoder branches
#: hot), the decoded samples reshape to 16x16 time-frame rows, and the
#: SAME 256-bit fixed-point DCT hash + 16-band plan as the image phash
#: applies (a crude but honest time-frequency fingerprint — frame-DCT
#: bits are the shape acoustic fingerprints like Chromaprint quantize).
#: FLAC is LOSSLESS, so the oracle states the sample formula directly
#: and any codec bug shifts hash bits under the driver gate (the PNG/
#: phash discipline, restated for audio). Fixture measured like the
#: image one: every band >= 987 distinct / 3000 docs, in-group
#: Hamming <= 4, cross-base floor 52 (> 2x the radius).
AUDIOHASH_MAX_DIST = 12


def _audiohash_grid_sql() -> str:
    """The 256-sample clip as a per-(doc, x, y) SQL value (t = y*16+x):
    same two-prime quadratic mix discipline as the image fixtures,
    different linear coefficients so the corpora stay distinct."""
    n = PHASH_SIDE
    return (
        "(((d.doc_id // 3) % 251 + x.x * 23 + y.y * 19)"
        " * ((d.doc_id // 3) % 241 + x.x * 5 + y.y * 11 + 1)"
        f" + (((d.doc_id // 3) // {PHASH_WRAP}) % {PHASH_WRAP_PRIME})"
        " * (x.x * 7 + y.y * 29 + 1)) % 251"
        " + CASE WHEN d.doc_id % 3 != 0"
        f"       AND x.x = d.doc_id % {n}"
        f"       AND y.y = (d.doc_id // {n}) % {n}"
        "  THEN 2 * (d.doc_id % 3) ELSE 0 END"
    )


def _audiohash_samples(d: int):
    """Per-doc 256-sample clip as a 16x16 int64 matrix of GENUINELY
    DECODED samples: the closed-form waveform round-trips through the
    real FLAC codec (encoder knob varies per doc: auto predictor /
    fixed order 1 / fixed order 2) before hashing."""
    import numpy as np

    from .flac import decode_flac, encode_flac

    n = PHASH_SIDE
    b = d // 3
    e = (b // PHASH_WRAP) % PHASH_WRAP_PRIME
    clip = [
        ((b % 251 + (t % n) * 23 + (t // n) * 19)
         * (b % 241 + (t % n) * 5 + (t // n) * 11 + 1)
         + e * ((t % n) * 7 + (t // n) * 29 + 1)) % 251
        for t in range(n * n)
    ]
    if d % 3 != 0:
        t = ((d // n) % n) * n + d % n
        clip[t] += 2 * (d % 3)
    enc = encode_flac(clip, rate=8000, bits=16,
                      order=(None, 1, 2)[d % 3])
    out = decode_flac(enc)
    assert out["channels"] == 1 and out["frames"] == n * n
    return np.array(out["samples"], dtype=np.int64).reshape(n, n)


def _audiohash_rows(d: int):
    """doc_id -> DCT-hash bands over the FLAC-round-tripped samples."""
    yield d, _dct256_bands(_audiohash_samples(d))


@register(
    "llm_dedup_audiohash",
    sql=lambda: _dct_banded_sql(_audiohash_grid_sql(), AUDIOHASH_MAX_DIST),
)
def llm_dedup_audiohash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2m: ACOUSTIC fingerprint near-dup — the audio-side mate of the
    image phash (L2k), closing the multimodal near-dup triad (text
    minhash/simhash, image DCT-phash, audio frame-DCT). Per doc a
    256-sample clip round-trips through the REAL FLAC codec inside
    mapInPandas (lossless — decoded samples equal the closed form, so
    a rice/predictor/CRC bug shifts hash bits and the driver hash);
    the 16x16 frame matrix then takes the identical 256-bit
    fixed-point DCT hash and banded-LSH plan as L2k (band equi-join ->
    bit_count(XOR) verify on candidates only, radius 12 < 16 bands ->
    pigeonhole-EXACT at any corpus size; zero corpus-pair joins,
    shuffle O(docs x 16), embarrassingly-parallel decode leg).

    Reference parity: the reference (SD2E/pipelinejobs-indexer,
    reactor.py:16-213) catalogs audio uploads opaquely; acoustic
    near-dup is the curation surface a multimodal training pipeline
    adds on top."""
    return _dct_banded_pairs(spark, sf_dir, _audiohash_rows, AUDIOHASH_MAX_DIST)


# --------------------------------- L2n video frame-hash fingerprint
#: The video-side member of the multimodal near-dup family: per doc a
#: group-structured MJPEG-in-AVI clip (groups of three share base
#: frames AND length; non-base docs bump one DC block of one frame)
#: is WALKED by the real RIFF parser and every frame DECODED by the
#: real T.81 decoder; the per-frame hash (the four block-corner
#: pixels packed into one int — each 16x16 frame is four 8x8 DC
#: blocks, so the corners capture the full frame content) then goes
#: through a banded equi-join on (frame_idx, frame_hash) with a
#: match-count verify: near-dups share >= n_frames - VIDEOHASH_SLACK
#: same-position frames at equal length. EXACT by construction —
#: every qualifying pair shares >= 1 frame, hence collides in >= 1
#: band; no pigeonhole argument even needed. This is shot-hash
#: matching, the shape real video dedup (frame-fingerprint indexes)
#: uses, with the same zero-corpus-pair-join scale story as L2k/L2m.
VIDEOHASH_SLACK = 2
#: Per-join-key occurrence cap (drop_hot_keys): real video corpora are
#: full of hot frames (black frames, station logos, title cards). The
#: match thresholds are restated over each doc's KEPT (discriminative)
#: frames so boilerplate-heavy docs fail honestly instead of via
#: silent under-count.
VIDEOHASH_DF_CAP = 64


def _videohash_n_frames(d: int) -> int:
    return 2 + (d // 3) % 5


def _videohash_dcs(d: int, f: int) -> list[int]:
    """Quantized DC per 8x8 block (TL, TR, BL, BR) of frame f — the
    L5h formulas over the GROUP id (d // 3), plus the one-block bump on
    frame d % n_frames for non-base docs."""
    from .multimodal import _avi_frame_dcs

    dcs = _avi_frame_dcs(d // 3, f)
    if d % 3 != 0 and f == d % _videohash_n_frames(d):
        dcs[d % 4] += d % 3
    return dcs


#: Output of the video frame-hash decode legs: one row per frame.
FRAME_HASH_SCHEMA = StructType(
    [StructField(c, LongType()) for c in ("doc_id", "n_frames", "frame_idx", "fhash")]
)


def _frame_hash_rows(d: int, frame_dcs: list[list[int]]):
    """One FRAME_HASH_SCHEMA row per frame of doc d's clip, from
    GENUINELY WALKED + DECODED bytes: one DC-only JPEG per DC list ->
    assemble_avi_mjpeg -> avi_mjpeg_frames RIFF walk -> decode_jpeg per
    frame -> the four block-corner pixels packed into one int. A
    container-walk or JPEG bug shifts frame hashes and the driver
    hash."""
    from .jpeg import decode_jpeg, synth_dc_jpeg
    from .multimodal import AVI_SIDE, JPEG_Q, assemble_avi_mjpeg, avi_mjpeg_frames

    avi = assemble_avi_mjpeg(
        [synth_dc_jpeg([dcs], AVI_SIDE, AVI_SIDE, q=JPEG_Q) for dcs in frame_dcs]
    )
    s = AVI_SIDE - 1
    for idx, frame in enumerate(avi_mjpeg_frames(avi)["frames"]):
        px = decode_jpeg(frame)[3]
        fhash = ((px[0][0] * 256 + px[0][s]) * 256 + px[s][0]) * 256 + px[s][s]
        yield d, len(frame_dcs), idx, fhash


def _videohash_rows(d: int):
    nf = _videohash_n_frames(d)
    return _frame_hash_rows(d, [_videohash_dcs(d, f) for f in range(nf)])


def _videohash_sql() -> str:
    def bump(block: int) -> str:
        return (
            f" + CASE WHEN doc_id % 3 != 0 AND frame_idx = doc_id % nf"
            f" AND doc_id % 4 = {block} THEN 2 * (doc_id % 3)"
            f" ELSE 0 END"
        )

    return f"""WITH fr AS (
             SELECT d.doc_id, d.doc_id // 3 AS b,
                    2 + (d.doc_id // 3) % 5 AS nf, f.f AS frame_idx
             FROM documents d, generate_series(0, 6) AS f(f)
             WHERE f.f < 2 + (d.doc_id // 3) % 5),
           px AS (
             SELECT doc_id, nf, frame_idx,
                    128 + 2 * ((b + 11 * frame_idx) % 41 - 20){bump(0)} AS tl,
                    128 + 2 * ((b // 5 + 13 * frame_idx) % 53 - 26){bump(1)} AS tr,
                    128 - 2 * ((b + 7 * frame_idx) % 31){bump(2)} AS bl,
                    128 + 2 * ((b + 3 * frame_idx) % 23){bump(3)} AS br
             FROM fr),
           fh AS (
             SELECT doc_id, nf, frame_idx,
                    ((tl * 256 + tr) * 256 + bl) * 256 + br AS fhash
             FROM px),
           dfs AS (
             SELECT frame_idx, fhash, nf, count(*) AS df
             FROM fh GROUP BY 1, 2, 3),
           disc AS (
             SELECT fh.* FROM fh
             JOIN dfs USING (frame_idx, fhash, nf)
             WHERE dfs.df <= {VIDEOHASH_DF_CAP}),
           sizes AS (
             SELECT doc_id, count(*) AS nk FROM disc GROUP BY 1),
           m AS (
             SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    a.nf AS n_frames, COUNT(*) AS matched
             FROM disc a JOIN disc b
               ON a.frame_idx = b.frame_idx AND a.fhash = b.fhash
              AND a.nf = b.nf AND a.doc_id < b.doc_id
             GROUP BY a.doc_id, b.doc_id, a.nf)
           SELECT doc_a, doc_b, CAST(n_frames AS BIGINT) AS n_frames,
                  CAST(matched AS BIGINT) AS matched
           FROM m
           JOIN sizes na ON na.doc_id = m.doc_a
           JOIN sizes nb ON nb.doc_id = m.doc_b
           WHERE matched >= GREATEST(GREATEST(na.nk, nb.nk)
                                     - {VIDEOHASH_SLACK}, 1)
           ORDER BY doc_a, doc_b"""


@register("llm_dedup_videohash", sql=lambda: _videohash_sql())
def llm_dedup_videohash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2n: VIDEO frame-hash near-dup — completes the multimodal
    near-dup family (text minhash/simhash, image DCT-phash L2k, audio
    frame-DCT L2m, video shot-hash L2n). Per doc a group-structured
    MJPEG-in-AVI clip round-trips through the REAL container walk +
    T.81 frame decode inside mapInPandas; the per-frame corner-pixel
    hash then joins on (frame_idx, fhash) — the banded-LSH shape with
    the frame index as the band — and a match-count verify keeps
    pairs whose matched frame count covers all but VIDEOHASH_SLACK of
    either side's DISCRIMINATIVE frames at equal length. Zero
    corpus-pair joins: shuffle is O(docs x frames) hash rows;
    candidates only where frames genuinely collide.

    Hot-frame bound: (frame_idx, fhash, n_frames) bounds fan-out by
    position+length, but a same-length corpus sharing an intro frame
    is still C(f,2) at one key, so drop_hot_keys caps each key at
    VIDEOHASH_DF_CAP docs before the pair join. The thresholds restate
    over each doc's kept-frame count, so with no hot frames the rule
    reduces exactly to the original n_frames - slack. At 100 TB,
    frames per doc grow but the plan is unchanged — real deployments
    swap the corner hash for the L2k DCT phash per frame (same row
    shape, wider hash); clip-in-clip containment is L2n2.

    Reference parity: the reference (SD2E/pipelinejobs-indexer,
    reactor.py:16-213) catalogs video uploads opaquely; frame-level
    near-dup is the curation surface a multimodal pipeline adds."""
    frames = map_rows(doc_ids(spark, sf_dir), _videohash_rows, FRAME_HASH_SCHEMA)
    return videohash_pairs(frames)


def videohash_pairs(
    frames: DataFrame, df_cap: int = VIDEOHASH_DF_CAP
) -> DataFrame:
    """llm_dedup_videohash's core over any (doc_id, n_frames, frame_idx,
    fhash) frame — separated so adversarial tests can plant hot-frame
    corpora."""
    key = ["frame_idx", "fhash", "n_frames"]
    # cached: the mapInPandas decode leg is the dominant cost and feeds
    # both drop_hot_keys reads — one decode, not two
    frames = frames.cache()
    # disc feeds three consumers (both join sides + the kept-size agg);
    # rebuilding it is a cheap broadcast join over the cached int rows
    disc = drop_hot_keys(frames, key, df_cap)
    sizes = disc.groupBy("doc_id").agg(F.count("*").alias("nk"))
    matched = (
        key_pairs(disc, key, carry=["n_frames"])
        .groupBy("doc_a", "doc_b", F.col("n_frames_a").alias("n_frames"))
        .agg(F.count("*").alias("matched"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("nk").alias("nk_a"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("nk").alias("nk_b"))
    return (
        matched.join(na, "doc_a")
        .join(nb, "doc_b")
        .where(
            F.col("matched")
            >= F.greatest(
                F.greatest("nk_a", "nk_b") - VIDEOHASH_SLACK, F.lit(1)
            )
        )
        .select("doc_a", "doc_b", "n_frames", "matched")
        .orderBy("doc_a", "doc_b")
    )


# --------------------------- L2n2 video clip-in-clip containment
#: The containment mate of L2n (the L2g/L12 substring shape restated
#: on frame sequences): clip A is contained in clip B when A's FULL
#: frame-hash sequence appears contiguously in B's at some offset.
#: Fixture: base docs (d % 3 == 0) carry 3-6 frames; d % 3 == 1 is the
#: base clip minus its first frame (contained at offset 1), d % 3 == 2
#: the base minus its last (offset 0) — real sub-clip structure, not
#: merely perturbed twins.


def _vcontain_n_base(d: int) -> int:
    return 3 + (d // 3) % 4


def _vcontain_frames(d: int) -> list[int]:
    """The doc's frame list as (base frame index) ints: sub-clips are
    index SHIFTS of the shared base clip."""
    nb = _vcontain_n_base(d)
    if d % 3 == 0:
        return list(range(nb))
    if d % 3 == 1:
        return list(range(1, nb))
    return list(range(nb - 1))


def _vcontain_rows(d: int):
    """The L2n frame-hash machinery over the containment fixture: the
    doc's frames are the base frames _vcontain_frames(d) of its group's
    clip."""
    from .multimodal import _avi_frame_dcs

    return _frame_hash_rows(
        d, [_avi_frame_dcs(d // 3, bf) for bf in _vcontain_frames(d)]
    )


def _vcontain_sql() -> str:
    return f"""WITH fr AS (
             SELECT d.doc_id, d.doc_id // 3 AS b,
                    3 + (d.doc_id // 3) % 4 AS nb,
                    f.f AS frame_idx
             FROM documents d, generate_series(0, 5) AS f(f)
             WHERE f.f < 3 + (d.doc_id // 3) % 4
                       - CASE WHEN d.doc_id % 3 = 0 THEN 0 ELSE 1 END),
           fh AS (
             SELECT doc_id, frame_idx,
                    nb - CASE WHEN doc_id % 3 = 0 THEN 0 ELSE 1 END
                      AS n_frames,
                    (((128 + 2 * ((b + 11 * bf) % 41 - 20)) * 256
                      + 128 + 2 * ((b // 5 + 13 * bf) % 53 - 26)) * 256
                      + 128 - 2 * ((b + 7 * bf) % 31)) * 256
                      + 128 + 2 * ((b + 3 * bf) % 23) AS fhash
             FROM (SELECT *,
                          frame_idx
                          + CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 0 END
                            AS bf
                   FROM fr) t),
           dfs AS (SELECT fhash, count(*) AS df FROM fh GROUP BY 1),
           disc AS (
             SELECT fh.* FROM fh JOIN dfs USING (fhash)
             WHERE dfs.df <= {VIDEOHASH_DF_CAP}),
           sizes AS (
             SELECT doc_id, count(*) AS nk FROM disc GROUP BY 1),
           m AS (
             SELECT a.doc_id AS doc_contained, c.doc_id AS doc_container,
                    c.frame_idx - a.frame_idx AS at_offset,
                    a.n_frames AS n_frames, c.n_frames AS n_container,
                    COUNT(*) AS matched
             FROM disc a JOIN disc c
               ON a.fhash = c.fhash AND a.doc_id != c.doc_id
              AND a.n_frames <= c.n_frames
             GROUP BY a.doc_id, c.doc_id, c.frame_idx - a.frame_idx,
                      a.n_frames, c.n_frames)
           SELECT doc_contained, doc_container,
                  CAST(at_offset AS BIGINT) AS at_offset,
                  CAST(n_frames AS BIGINT) AS n_frames
           FROM m JOIN sizes s ON s.doc_id = m.doc_contained
           WHERE matched = s.nk AND at_offset >= 0
             AND at_offset <= n_container - n_frames
           ORDER BY doc_contained, doc_container, at_offset"""


@register("llm_video_containment", sql=lambda: _vcontain_sql())
def llm_video_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2n2: VIDEO clip-in-clip CONTAINMENT — near-dup (L2n) finds
    same-length twins; this finds clips EMBEDDED in longer ones (the
    blind spot L2g containment covers for text, restated on frame
    sequences — re-encoded excerpts, intros clipped off, trailing
    frames dropped). Frames decode through the real RIFF walk + T.81
    path; the join is on frame hash alone, the per-pair OFFSET
    histogram (container_idx - contained_idx) does the alignment, and
    a pair qualifies when ONE offset accounts for every DISCRIMINATIVE
    contained frame (matched == kept-frame count, offset in
    [0, n_container - n_contained]).

    Hot-frame bound: the join key is the frame hash alone, so a frame
    shared by f clips (black frames, station logos, freeze frames)
    would cost C(f,2) join rows; drop_hot_keys caps each fhash at
    VIDEOHASH_DF_CAP occurrences before the pair join. The
    qualification rule restates over the contained doc's KEPT frames
    (with no hot frames it reduces exactly to the original matched ==
    n_frames). The pair join itself is not key_pairs: it matches
    ordered pairs (doc_id !=, n_frames <=) and groups by offset.

    Reference parity: reactor.py:16-213 catalogs uploads opaquely;
    containment audit is pipeline-added curation surface."""
    frames = map_rows(doc_ids(spark, sf_dir), _vcontain_rows, FRAME_HASH_SCHEMA)
    return video_containment_pairs(frames)


def video_containment_pairs(
    frames: DataFrame, df_cap: int = VIDEOHASH_DF_CAP
) -> DataFrame:
    """llm_video_containment's core over any (doc_id, n_frames,
    frame_idx, fhash) frame — separated so adversarial tests can plant
    hot-frame corpora."""
    # cached: one decode-leg materialization feeds both drop_hot_keys
    # reads, both join sides, and the kept-size agg; caching only the
    # pruned table would run the decode twice
    frames = frames.cache()
    disc = drop_hot_keys(frames, "fhash", df_cap)
    sizes = disc.groupBy("doc_id").agg(F.count("*").alias("nk"))
    a = disc.alias("a")
    c = disc.alias("c")
    m = (
        a.join(
            c,
            (F.col("a.fhash") == F.col("c.fhash"))
            & (F.col("a.doc_id") != F.col("c.doc_id"))
            & (F.col("a.n_frames") <= F.col("c.n_frames")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_contained"),
            F.col("c.doc_id").alias("doc_container"),
            (F.col("c.frame_idx") - F.col("a.frame_idx")).alias("at_offset"),
            F.col("a.n_frames").alias("n_frames"),
            F.col("c.n_frames").alias("n_container"),
        )
        .agg(F.count("*").alias("matched"))
    )
    nk = sizes.select(
        F.col("doc_id").alias("doc_contained"), F.col("nk").alias("nk")
    )
    return (
        m.join(nk, "doc_contained")
        .where(
            (F.col("matched") == F.col("nk"))
            & (F.col("at_offset") >= 0)
            & (F.col("at_offset") <= F.col("n_container") - F.col("n_frames"))
        )
        .select("doc_contained", "doc_container", "at_offset", "n_frames")
        .orderBy("doc_contained", "doc_container", "at_offset")
    )


# ----------------------------------------- L2p winnowing fingerprints
#: Winnowing (Schleimer/Wilkerson/Aiken, the MOSS fingerprinting
#: scheme): hash every positional k-gram, slide a w-position window,
#: keep each window's MINIMUM hash. Guarantee (the reason to prefer it
#: over uniform sampling): any substring match of length >= w + k - 1
#: words shares at least one selected fingerprint VALUE — detection is
#: certain, not probabilistic (contrast minhash's S-curve). Density is
#: ~2/(w+1) of all k-grams, so the inverted index is a tunable
#: fraction of the corpus. Pairs then form by fingerprint equi-join
#: with a shared-count threshold; fingerprints seen in more than
#: WINNOW_DF_CAP docs are boilerplate and drop_hot_keys removes them
#: from BOTH sides. Fixture-measured
#: at sf0.01: random-vocabulary collisions share 1-2 fingerprints,
#: planted near-dups >= 3 (mostly >= 8) — MIN_SHARED 3 splits them.
WINNOW_K = 3
WINNOW_W = 4
WINNOW_MIN_SHARED = 3
WINNOW_DF_CAP = 64


def _winnow_sql() -> str:
    return f"""WITH pos AS (
             SELECT doc_id, i,
                    ('0x' || substr(md5(array_to_string(
                        w[i:i+{WINNOW_K - 1}], ' ')), 1, 15))::BIGINT AS h
             FROM (SELECT doc_id, string_split(text, ' ') AS w
                   FROM documents),
                  LATERAL unnest(generate_series(1, len(w) - {WINNOW_K - 1}))
                    AS g(i)),
           fp AS (
             SELECT DISTINCT doc_id, fp FROM (
               SELECT doc_id, i,
                      min(h) OVER (PARTITION BY doc_id ORDER BY i
                                   ROWS BETWEEN {WINNOW_W - 1} PRECEDING
                                   AND CURRENT ROW) AS fp
               FROM pos) t
             WHERE i >= {WINNOW_W}),
           kept AS (
             SELECT doc_id, fp FROM (
               SELECT doc_id, fp,
                      count(*) OVER (PARTITION BY fp) AS df
               FROM fp) t
             WHERE df <= {WINNOW_DF_CAP}),
           pairs AS (
             SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    COUNT(*) AS shared_fps
             FROM kept a JOIN kept b
               ON a.fp = b.fp AND a.doc_id < b.doc_id
             GROUP BY a.doc_id, b.doc_id)
           SELECT doc_a, doc_b, CAST(shared_fps AS BIGINT) AS shared_fps
           FROM pairs
           WHERE shared_fps >= {WINNOW_MIN_SHARED}
           ORDER BY doc_a, doc_b"""


@register("llm_dedup_winnow", sql=lambda: _winnow_sql())
def llm_dedup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2p: WINNOWING document fingerprints — the MOSS selection rule,
    the guarantee-based member of the text near-dup family: minhash
    (L2a) detects near-dups probabilistically (S-curve), winnowing's
    SELECTION rule guarantees any shared run of >= w + k - 1 words
    shares at least ONE selected fingerprint value while indexing only
    ~2/(w+1) of the k-grams (the registered query then thresholds and
    df-caps on top of that guarantee — see the caveat below). Entirely in Catalyst:
    positional k-gram hashes (one md5, conv-to-bigint — the exact
    DuckDB-parity conversion the minhash family uses), a w-row sliding
    window-min per doc (spillable sort window, the CC loop's
    neighborhood-min shape), distinct fingerprint values, then drop_hot_keys
    dropping boilerplate fingerprints from both sides, then the
    inverted-index equi-join (key_pairs) with a shared-count threshold.

    Shuffles: one by doc (window-min), one distinct-fp-sized (the df
    count), one by fp (pair join) — all equi-key, no corpus-pair join
    anywhere. The guarantee caveat: the selection scheme promises >= 1
    shared fingerprint for any match of >= w + k - 1 words;
    WINNOW_MIN_SHARED = 3 and the df cap deliberately trade that
    certainty for precision against single-collision noise and
    boilerplate (MOSS does the same).

    Reference parity: reactor.py:16-213 catalogs text opaquely;
    fingerprint-certain overlap detection (code/doc plagiarism shape)
    is pipeline-added curation surface."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return winnow_pairs(docs)


def winnow_pairs(docs: DataFrame) -> DataFrame:
    """llm_dedup_winnow's core over any (doc_id, text) frame (fuzz
    differential in tests/test_fuzz_differential.py)."""
    from pyspark.sql import Window

    w = docs.select("doc_id", F.split("text", " ").alias("w")).filter(
        F.size("w") >= WINNOW_K + WINNOW_W - 1
    )
    parts = ", ' ', ".join(f"w[i{j - 1:+d}]" for j in range(WINNOW_K))
    pos = w.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(w)-{WINNOW_K - 1}),"
                f" i -> named_struct('i', i, 'h',"
                f" cast(conv(substr(md5(concat({parts})), 1, 15), 16, 10)"
                f" as bigint)))"
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.i").alias("i"), F.col("p.h").alias("h"))
    win = (
        Window.partitionBy("doc_id").orderBy("i")
        .rowsBetween(-(WINNOW_W - 1), 0)
    )
    # cached: the fingerprint table feeds both drop_hot_keys reads —
    # one materialization of the window-min pass
    fp = (
        pos.withColumn("fp", F.min("h").over(win))
        .where(F.col("i") >= WINNOW_W)
        .select("doc_id", "fp")
        .distinct()
        .cache()
    )
    return (
        key_pairs(drop_hot_keys(fp, "fp", WINNOW_DF_CAP), "fp")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared_fps"))
        .where(F.col("shared_fps") >= WINNOW_MIN_SHARED)
        .orderBy("doc_a", "doc_b")
    )
