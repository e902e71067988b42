"""L3: similarity search over the embeddings table (BASELINE.json:6
mandate; pattern ref PAPERS.md:9 — top-k similarity search, EDBT 2020).

Two plans for the same question ("k nearest neighbors by cosine"):

  * llm_similarity_topk — brute force: broadcast the (small) query set,
    score every (query, vector) pair, window top-k. Exact; linear in the
    corpus, so it IS the right plan even at 100 TB when the query set is
    small: one broadcast + one narrow scan + a top-k per query
    (partial top-k map-side via TakeOrderedAndProject semantics).

  * llm_similarity_ann — hyperplane-LSH bucketed: N_PLANES deterministic
    pseudo-random hyperplanes (weights derived from md5, identical in
    Spark/DuckDB/Python) sign-quantize every vector to an 8-bit bucket;
    candidates = same-bucket vectors only, then exact cosine + top-k
    within the bucket. The pair join becomes an equi-join on the bucket
    key — at 100 TB this is a shuffle on a low-cardinality key, so use
    multi-probe (flip low-margin bits) or more planes (2^p buckets) to
    keep buckets balanced; planes/bands are config, not constants.

Cross-engine determinism: hyperplane weight w[p][d] =
strpos(hexdigits, first-hex-char(md5(f"{p}:{d}"))) - 8.5, so the oracle
reproduces the bucket assignment exactly. Products (half-integer weight x
float32-valued coordinate) are exact in double; both engines fold
sequentially, so signs agree bit-for-bit.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..config import CONFIG
from ..registry import register
from ..tables import load_table, spread

TOP_K = 10
N_QUERIES = 5  # query set: vec_id < 5
# 2^planes buckets ~ 31 vectors/bucket at the 500-row fixture scale with
# the default 4; a cluster job raises it via SPARK_GRAFT_LSH_PLANES
# (see config.py for the occupancy sizing rule).
N_PLANES = CONFIG.lsh_planes

_HEX = "0123456789abcdef"


def _plane_weight(p: int, d: int) -> float:
    """Deterministic hyperplane weight in [-7.5, 7.5], mean 0."""
    ch = hashlib.md5(f"{p}:{d}".encode()).hexdigest()[0]
    return _HEX.index(ch) + 1 - 8.5


def _cos_sql(a: str, b: str) -> str:
    """Cosine of two array<double> expressions as one Spark SQL string —
    dot / (sqrt(a·a) * sqrt(b·b)), each sum a sequential fold — the one
    spelling of every Spark-side cosine; callers round(..., 6) it, as
    the oracles' _COS_LIST_SQL does."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (a, x) -> a + x) /"
        f" (sqrt(aggregate({a}, 0D, (a, x) -> a + x * x)) *"
        f"  sqrt(aggregate({b}, 0D, (a, x) -> a + x * x)))"
    )


def _cos(va: str, vb: str):
    return F.expr(_cos_sql(va, vb))


@register(
    "llm_similarity_topk",
    sql=f"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
         scored AS (
           SELECT q.qid, e.vec_id, e.label,
                  round(
                    list_sum([q.qv[i] * e.v[i] for i in generate_series(1, len(q.qv))]) /
                    (sqrt(list_sum([x * x for x in q.qv])) *
                     sqrt(list_sum([x * x for x in e.v]))), 6) AS cosine
           FROM q CROSS JOIN e
           WHERE e.vec_id <> q.qid
         )
         SELECT qid, vec_id, label, cosine, rank FROM (
           SELECT *, row_number() OVER (PARTITION BY qid
                                        ORDER BY cosine DESC, vec_id) AS rank
           FROM scored
         ) WHERE rank <= {TOP_K}""",
)
def llm_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k for a broadcast query set.

    Rank on the *rounded* cosine with vec_id tiebreak so the ordering is
    engine-independent.
    """
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    scored = (
        F.broadcast(q)
        .join(e, F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            "label",
            F.round(_cos("qv", "v"), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("qid", "vec_id", "label", "cosine", "rank")
    )


def _bucket_expr_spark(
    vcol: str, n_planes: int | None = None, plane_offset: int = 0
):
    """n_planes-char '0'/'1' bucket string from hyperplane projection signs.

    ``plane_offset`` selects a disjoint plane family — multi-table LSH
    (llm_dedup_embedding_lsh with lsh_tables > 1) hashes table t with
    planes [t*n_planes, (t+1)*n_planes), so table 0 is exactly the
    single-table construction."""
    n_planes = n_planes or N_PLANES
    bits = []
    for p in range(plane_offset, plane_offset + n_planes):
        w = ", ".join("%.1fD" % _plane_weight(p, d) for d in range(64))
        proj = (
            f"aggregate(zip_with({vcol}, array({w}), (x, y) -> x * y),"
            " 0D, (acc, x) -> acc + x)"
        )
        bits.append(f"if({proj} > 0D, '1', '0')")
    return F.expr("concat(" + ", ".join(bits) + ")")


def _bucket_expr_sql(
    valias: str, n_planes: int | None = None, plane_offset: int = 0
) -> str:
    n_planes = n_planes or N_PLANES
    bits = []
    for p in range(plane_offset, plane_offset + n_planes):
        proj = (
            f"list_sum([(strpos('{_HEX}', substr(md5('{p}:' || (i-1)), 1, 1)) - 8.5)"
            f" * {valias}[i] for i in generate_series(1, 64)])"
        )
        bits.append(f"CASE WHEN {proj} > 0 THEN '1' ELSE '0' END")
    return " || ".join(bits)


def probes_sql(
    n_planes: int | None = None, col: str = "bucket", prefix: str = ""
) -> str:
    """DuckDB list expr: own bucket + every hamming-1 neighbor bucket.

    ``col``/``prefix`` support multi-table LSH: each table's probe keys
    are namespaced ``'<t>:' || bits`` so one equi-join spans all tables.
    Defaults emit the original single-table expression verbatim."""
    p = n_planes or N_PLANES
    pfx = f"'{prefix}' || " if prefix else ""
    return f"""[{pfx}{col}] || [{pfx}substr({col}, 1, i-1)
       || (CASE WHEN substr({col}, i, 1) = '1' THEN '0' ELSE '1' END)
       || substr({col}, i+1, {p}-i)
       for i in generate_series(1, {p})]"""


def probes_spark(
    n_planes: int | None = None, col: str = "bucket", prefix: str = ""
) -> str:
    p = n_planes or N_PLANES
    own = f"concat('{prefix}', {col})" if prefix else col
    flip = (
        f"concat(substring({col}, 1, i-1),"
        f" if(substring({col}, i, 1) = '1', '0', '1'),"
        f" substring({col}, i+1, {p}-i))"
    )
    if prefix:
        flip = f"concat('{prefix}', {flip})"
    return f"concat(array({own}), transform(sequence(1, {p}), i -> {flip}))"


def ann_oracle_sql(n_planes: int | None = None) -> str:
    """DuckDB replay of the multi-probe LSH plan for any plane count —
    the registered oracle is this at the active CONFIG."""
    return f"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         hashed AS (SELECT vec_id, label, v, {_bucket_expr_sql('v', n_planes)} AS bucket FROM e),
         q AS (
           SELECT qid, qv, unnest(probes) AS pb FROM (
             SELECT vec_id AS qid, v AS qv, {probes_sql(n_planes)} AS probes
             FROM hashed WHERE vec_id < {N_QUERIES}
           )
         ),
         scored AS (
           SELECT q.qid, h.vec_id,
                  round(
                    list_sum([q.qv[i] * h.v[i] for i in generate_series(1, len(q.qv))]) /
                    (sqrt(list_sum([x * x for x in q.qv])) *
                     sqrt(list_sum([x * x for x in h.v]))), 6) AS cosine
           FROM q JOIN hashed h ON h.bucket = q.pb AND h.vec_id <> q.qid
         )
         SELECT qid, vec_id, cosine, rank FROM (
           SELECT *, row_number() OVER (PARTITION BY qid
                                        ORDER BY cosine DESC, vec_id) AS rank
           FROM scored
         ) WHERE rank <= {TOP_K}"""


@register("llm_similarity_ann", sql=ann_oracle_sql())
def llm_similarity_ann(
    spark: SparkSession, sf_dir: str, n_planes: int | None = None
) -> DataFrame:
    """Approximate top-k: multi-probe hyperplane-LSH. Each query probes
    its own bucket plus every hamming-1 neighbor bucket (the standard
    multi-probe recall lever — more probes, not more replicas), then
    exact-cosine re-ranks the candidates. Recall vs brute force is pinned
    by tests/test_llm.py; the bucket equi-join replaces the cross join —
    the scale win that makes this the 100 TB plan. ``n_planes`` defaults
    to CONFIG.lsh_planes (env SPARK_GRAFT_LSH_PLANES). Deliberately NOT
    multi-table (unlike llm_dedup_embedding_lsh's ``lsh_tables``): the
    ANN scale path at high plane counts is llm_similarity_ivf (probe
    more cells, not more tables), and a corpus vector occupies one
    bucket per table, so tables here would force a (qid, vec_id) dedup
    exchange the single-table plan provably never needs.

    A non-None ``n_planes`` override is TEST-ONLY: the registered oracle
    stays pinned at the CONFIG value, so an override bypasses the driver
    differential gate. Callers passing an override must compare against
    ``ann_oracle_sql(n_planes)`` themselves (tests/test_config.py does);
    production tuning goes through the env knob, which moves BOTH sides.
    """
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    hashed = e.withColumn("bucket", _bucket_expr_spark("v", n_planes))
    q = (
        hashed.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("v").alias("qv"),
            F.explode(F.expr(probes_spark(n_planes))).alias("pb"),
        )
    )
    scored = (
        F.broadcast(q)
        .join(
            hashed.select("vec_id", "v", F.col("bucket").alias("hb")),
            (F.col("hb") == F.col("pb")) & (F.col("vec_id") != F.col("qid")),
        )
        .select("qid", "vec_id", F.round(_cos("qv", "v"), 6).alias("cosine"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("qid", "vec_id", "cosine", "rank")
    )


# ------------------------------------------------------------- L3c IVF-Flat
# Centroid seed rule vec_id % stride == 3 (~n/stride cells) and cells
# searched per query — the IVF recall/cost knobs, set via
# SPARK_GRAFT_IVF_CENT_STRIDE / SPARK_GRAFT_IVF_NPROBE (config.py).
CENT_STRIDE = CONFIG.ivf_cent_stride
N_PROBE = CONFIG.ivf_nprobe

_COS_LIST_SQL = (
    "round(list_sum([{a}[i] * {b}[i] for i in generate_series(1, len({a}))]) /"
    " (sqrt(list_sum([x * x for x in {a}])) *"
    "  sqrt(list_sum([x * x for x in {b}]))), 6)"
)


def _centroid_array(seed: DataFrame) -> DataFrame:
    """1-row frame holding the sorted centroid array (cid, cv) drawn from
    the strided seed rule vec_id % CENT_STRIDE == 3 — deterministic, so
    the oracle replays the 'training'."""
    return seed.filter(F.pmod("vec_id", F.lit(CENT_STRIDE)) == 3).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("vec_id").alias("cid"), F.col("v").alias("cv")))
        ).alias("cents")
    )


def _ivf_cells(corpus: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, v, cell): nearest-centroid assignment as a PURE PROJECTION —
    the centroid array is broadcast and the argmax folds per row inside
    codegen, so building the inverted file never shuffles the corpus.
    Ties keep the lowest cid (fold scans cid-ascending, strict >)."""
    scored_cents = (
        "transform(cents, c -> named_struct('cid', c.cid,"
        f" 'c', round({_cos_sql('v', 'c.cv')}, 6)))"
    )
    best = (
        f"aggregate({scored_cents},"
        " named_struct('cid', cast(-1 as bigint), 'c', cast(-2 as double)),"
        " (acc, s) -> if(s.c > acc.c, s, acc)).cid"
    )
    return corpus.crossJoin(F.broadcast(cents)).select(
        "vec_id", "v", F.expr(best).alias("cell")
    )


@register(
    "llm_similarity_ivf",
    sql=f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         c AS (SELECT vec_id AS cid, v AS cv FROM e
               WHERE vec_id % {CENT_STRIDE} = 3),
         ass AS (
           SELECT e.vec_id, e.v, c.cid,
                  row_number() OVER (
                    PARTITION BY e.vec_id
                    ORDER BY {_COS_LIST_SQL.format(a='e.v', b='c.cv')} DESC, c.cid
                  ) AS r
           FROM e CROSS JOIN c
         ),
         cells AS (SELECT vec_id, v, cid AS cell FROM ass WHERE r = 1),
         probes AS (SELECT vec_id AS qid, v AS qv, cid AS cell
                    FROM ass WHERE vec_id < {N_QUERIES} AND r <= {N_PROBE}),
         scored AS (
           SELECT p.qid, cells.vec_id,
                  {_COS_LIST_SQL.format(a='p.qv', b='cells.v')} AS cosine
           FROM probes p JOIN cells
             ON cells.cell = p.cell AND cells.vec_id <> p.qid
         )
         SELECT qid, vec_id, cosine, rank FROM (
           SELECT *, row_number() OVER (PARTITION BY qid
                                        ORDER BY cosine DESC, vec_id) AS rank
           FROM scored
         ) WHERE rank <= {TOP_K}""",
)
def llm_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3c: IVF-Flat approximate top-k — the other classic ANN scale path
    next to hyperplane LSH (llm_similarity_ann).

    Index: every vector is assigned to its nearest of ~n/61 centroids
    (strided-sample "training" stand-in for k-means — a random-subset
    init, deterministic here so the oracle replays it). Search: each
    query probes its N_PROBE nearest cells and exact-cosine re-ranks only
    those cells' members.

    Plan shape (the 100 TB story): the corpus-side assignment is a PURE
    PROJECTION — centroids are collected into one broadcast array column
    and the argmax folds per row inside codegen, so building the inverted
    file is a zero-shuffle linear scan (vs the cross-join + window an
    engine without array folds would need). The probe set is tiny and
    broadcast, so candidate selection is a map-side hash join on the cell
    id; only the candidates themselves reach the per-query top-k window.
    Nothing corpus-sized ever shuffles. At real scale the centroid count
    grows ~sqrt(n) and stays broadcastable (a 65k x 64d float table is
    ~16 MB).

    Ties: centroid argmax keeps the LOWEST cid among equal rounded
    cosines (fold scans cid-ascending, strict >), matching the oracle's
    `ORDER BY cos DESC, cid` row_number. Reference scope: BASELINE.json:6
    similarity-search mandate; same contract as L3a/L3b.
    """
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents = _centroid_array(e)
    cells = _ivf_cells(e, cents)
    probes = _ivf_probe_cells(e, cents)
    scored = (
        F.broadcast(probes)
        .join(cells, "cell")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", F.round(_cos("qv", "v"), 6).alias("cosine"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("qid", "vec_id", "cosine", "rank")
    )


def _ivf_probe_cells(e: DataFrame, cents: DataFrame) -> DataFrame:
    """(qid, qv, cell) — each query's N_PROBE nearest cells by rounded
    cosine (cell tiebreak ascending); N_QUERIES rows in, the cross-join +
    window shape is fine. Shared by L3c and the L3k IVFPQ composition."""
    probes = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .crossJoin(F.broadcast(cents))
        .select(
            F.col("vec_id").alias("qid"),
            F.col("v").alias("qv"),
            F.explode("cents").alias("c"),
        )
        .select(
            "qid",
            "qv",
            F.col("c.cid").alias("cell"),
            F.round(_cos("qv", "c.cv"), 6).alias("ccos"),
        )
        .withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(F.desc("ccos"), F.asc("cell"))
            ),
        )
        .filter(F.col("r") <= N_PROBE)
        .select("qid", "qv", "cell")
    )
    return probes


# ---------------------------------------- L3d embedding-quality kNN eval
KNN_EVAL_K = 5
KNN_PROBE_MOD = 25  # vec_id % 25 == 0 -> 4% of vectors serve as probes


@register(
    "llm_embedding_knn_eval",
    sql=f"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv FROM e
               WHERE vec_id % {KNN_PROBE_MOD} = 0),
         scored AS (
           SELECT q.qid, q.qlabel, e.vec_id, e.label,
                  round(
                    list_sum([q.qv[i] * e.v[i] for i in generate_series(1, len(q.qv))]) /
                    (sqrt(list_sum([x * x for x in q.qv])) *
                     sqrt(list_sum([x * x for x in e.v]))), 6) AS cosine
           FROM q CROSS JOIN e
           WHERE e.vec_id <> q.qid
         ),
         nn AS (
           SELECT qid, qlabel, label FROM (
             SELECT *, row_number() OVER (PARTITION BY qid
                                          ORDER BY cosine DESC, vec_id) AS rank
             FROM scored
           ) WHERE rank <= {KNN_EVAL_K}
         ),
         votes AS (
           SELECT qid, qlabel, label, count(*) AS cnt
           FROM nn GROUP BY qid, qlabel, label
         ),
         pred AS (
           SELECT qid, qlabel, label AS plabel FROM (
             SELECT *, row_number() OVER (PARTITION BY qid
                                          ORDER BY cnt DESC, label) AS r
             FROM votes
           ) WHERE r = 1
         )
         SELECT qlabel AS label,
                count(*) AS n_probes,
                CAST(count(*) FILTER (WHERE plabel = qlabel) AS BIGINT) AS n_correct,
                round(CAST(count(*) FILTER (WHERE plabel = qlabel) AS DOUBLE)
                      / count(*), 6) AS accuracy
         FROM pred GROUP BY qlabel""",
)
def llm_embedding_knn_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3d: embedding-quality audit via kNN label consistency — before an
    embedding column is trusted for ANN dedup or retrieval, sample probe
    vectors and check that their {KNN_EVAL_K} nearest neighbors (exact
    cosine) vote the probe's own label; per-label accuracy localizes
    which classes' embeddings are degenerate. Majority vote breaks ties
    deterministically (highest count, then lowest label).

    Plan: the probe sample (a pure hash-mod filter, ~4% of vectors) is
    BROADCAST against the corpus scan — the corpus itself never
    shuffles or pair-joins, so the cost is one linear scan times the
    (small) probe count: the llm_similarity_topk shape with an
    evaluation head. The window/vote aggregations run on probe-sized
    data only. At 100 TB tune probe rate by modulus; the scan stays
    single-pass."""
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.filter(F.col("vec_id") % KNN_PROBE_MOD == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("v").alias("qv"),
    )
    scored = (
        F.broadcast(q)
        .join(e, F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "qlabel", "vec_id", "label",
            F.round(_cos("qv", "v"), 6).alias("cosine"),
        )
    )
    w_rank = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    nn = (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= KNN_EVAL_K)
        .select("qid", "qlabel", "label")
    )
    votes = nn.groupBy("qid", "qlabel", "label").agg(F.count("*").alias("cnt"))
    w_vote = Window.partitionBy("qid").orderBy(F.desc("cnt"), F.asc("label"))
    pred = (
        votes.withColumn("r", F.row_number().over(w_vote))
        .filter(F.col("r") == 1)
        .select("qid", "qlabel", F.col("label").alias("plabel"))
    )
    correct = F.sum((F.col("plabel") == F.col("qlabel")).cast("bigint"))
    return (
        pred.groupBy(F.col("qlabel").alias("label"))
        .agg(
            F.count("*").alias("n_probes"),
            correct.alias("n_correct"),
            F.round(correct.cast("double") / F.count("*"), 6).alias("accuracy"),
        )
    )


# ------------------------------------------- L2f semantic dedup (SemDeDup)
SEM_THRESH = 0.95       # within-cell cosine at/above this = semantic dup
SEM_CLONE_MOD = 50      # planted duplicates: every 50th vector cloned...
SEM_CLONE_OFFSET = 1_000_000  # ...at vec_id + offset (ids stay disjoint)

_SEM_CELLS_SQL = f"""e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         e AS (SELECT vec_id, v FROM e0
               UNION ALL
               SELECT vec_id + {SEM_CLONE_OFFSET}, v FROM e0
               WHERE vec_id % {SEM_CLONE_MOD} = 0),
         c AS (SELECT vec_id AS cid, v AS cv FROM e0
               WHERE vec_id % {CENT_STRIDE} = 3),
         ass AS (
           SELECT e.vec_id, e.v, c.cid,
                  row_number() OVER (
                    PARTITION BY e.vec_id
                    ORDER BY {_COS_LIST_SQL.format(a='e.v', b='c.cv')} DESC, c.cid
                  ) AS r
           FROM e CROSS JOIN c
         ),
         cells AS (SELECT vec_id, v, cid AS cell FROM ass WHERE r = 1)"""


@register(
    "llm_dedup_semantic",
    sql=f"""WITH {_SEM_CELLS_SQL},
         dup AS (
           SELECT DISTINCT a.vec_id
           FROM cells a JOIN cells b
             ON a.cell = b.cell AND b.vec_id < a.vec_id
           WHERE {_COS_LIST_SQL.format(a='a.v', b='b.v')} >= {SEM_THRESH}
         )
         SELECT cells.vec_id, cells.cell,
                (dup.vec_id IS NULL) AS keep
         FROM cells LEFT JOIN dup ON dup.vec_id = cells.vec_id""",
)
def llm_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2f: SEMANTIC dedup a la SemDeDup (Abbas et al., arXiv:2303.09540):
    cluster the embedding space, then drop any item whose cluster holds a
    higher-priority member within cosine >= SEM_THRESH — near-duplicate
    MEANING (re-encodes, paraphrases, exact re-uploads) that text-level
    shingling cannot see. Keep rule: lowest vec_id in each dup group.

    The corpus is the embeddings table plus planted clones (every
    SEM_CLONE_MOD-th vector re-inserted under a disjoint id) so the
    operator demonstrably fires: natural within-cell cosines in this
    fixture top out ~0.51, each clone scores 1.0 against its source.

    Plan shape (100 TB): cluster assignment is the zero-shuffle broadcast
    centroid fold shared with llm_similarity_ivf (_ivf_cells); the only
    corpus-scale movement is ONE hash exchange on the cell id, and the
    pairwise check runs within cells only — cost is sum of |cell|^2,
    bounded by growing the centroid count ~sqrt(n) exactly as SemDeDup
    prescribes (k-means with large k keeps cells small). The corpus never
    pair-joins itself globally, mirroring llm_contamination_check's
    broadcast discipline."""
    e0 = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    clones = e0.filter(F.pmod("vec_id", F.lit(SEM_CLONE_MOD)) == 0).select(
        (F.col("vec_id") + SEM_CLONE_OFFSET).alias("vec_id"), "v"
    )
    corpus = e0.unionByName(clones)
    cells = _ivf_cells(corpus, _centroid_array(e0))
    a = cells.select(
        F.col("vec_id").alias("a_id"), F.col("v").alias("a_v"), "cell"
    )
    b = cells.select(
        F.col("vec_id").alias("b_id"), F.col("v").alias("b_v"), "cell"
    )
    dup = (
        a.join(b, "cell")
        .filter(F.col("b_id") < F.col("a_id"))
        .filter(F.round(_cos("a_v", "b_v"), 6) >= F.lit(SEM_THRESH))
        .select(F.col("a_id").alias("vec_id"))
        .distinct()
    )
    # left join + null-check mirrors the oracle's `dup.vec_id IS NULL`
    return cells.join(
        dup.select("vec_id", F.lit(True).alias("is_dup")), "vec_id", "left"
    ).select("vec_id", "cell", F.col("is_dup").isNull().alias("keep"))


# ------------------------------------------ L3g per-dimension moments
DIM_MICRO = 1_000_000  # the shared exact-integer grid (L4g/L6d discipline)


@register(
    "llm_embedding_dim_stats",
    sql=f"""WITH q AS (
           SELECT [CAST(floor(x * {DIM_MICRO} + 0.5) AS BIGINT)
                   for x in embedding::DOUBLE[]] AS qv
           FROM embeddings
         ),
         flat AS (
           SELECT i - 1 AS dim, qv[i] AS v
           FROM q, unnest(generate_series(1, len(qv))) AS g(i)
         )
         SELECT dim,
                count(*) AS n,
                CAST(sum(v) AS BIGINT) AS sum_micro,
                CAST(sum(v * v) AS BIGINT) AS sumsq_micro2,
                min(v) AS min_micro,
                max(v) AS max_micro,
                CAST(sum(v) AS BIGINT) // count(*) AS mean_micro
         FROM flat GROUP BY dim""",
)
def llm_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3g: per-dimension moment statistics over the embedding corpus —
    the normalization/whitening audit run before ANN indexing, k-means
    (L3e), or quantization (L6d): a dimension whose mean is far off zero
    or whose spread dwarfs the others distorts every cosine and every
    centroid update, and the fix (center/rescale) needs exactly these
    moments. Values are first snapped to the shared exact-integer micro
    grid (floor(x*1e6 + 0.5), the L4g/L6d discipline), so the sums —
    and therefore the oracle hash — are bit-reproducible with no
    float-summation-order hazard; consumers derive mean/variance from
    the raw integer moments (mean_micro ships precomputed via exact
    integer division).

    Plan (100 TB): posexplode → ONE combiner groupBy keyed by dimension —
    map-side partial aggregation collapses each task to dim-count rows,
    so the exchange carries O(tasks × dims), never O(vectors × dims);
    output is dims rows total. sum(v*v) of micro-grid values fits bigint
    through ~1e7 vectors per task at |x|<=1 (5e5² × 1e7 ≈ 2.5e18 <
    9.2e18); past that, widen the accumulator to DECIMAL(38,0) — the
    plan shape is unchanged, and the hatch is a REAL code path
    (embedding_dim_stats(accumulator='decimal')) whose forced-path test
    overflows the bigint twin and pins the DECIMAL answer exact."""
    emb = spread(load_table(spark, sf_dir, "embeddings")).select(
        F.expr(
            f"transform(cast(embedding as array<double>),"
            f" x -> cast(floor(x * {DIM_MICRO} + 0.5) as bigint))"
        ).alias("qv")
    )
    return embedding_dim_stats(emb)


def embedding_dim_stats(emb: DataFrame, accumulator: str = "bigint"):
    """llm_embedding_dim_stats' core over any (qv: array<bigint>) frame.
    ``accumulator='decimal'`` is the DOCUMENTED past-~1e7-vectors-per-
    task escape hatch run for real: the v*v sum accumulates (and is
    returned) in DECIMAL(38,0) — headroom ~1e38 vs bigint's 9.2e18 —
    and every other column and the plan shape are unchanged; the
    forced-path test overflows the bigint twin and pins that only this
    path stays exact, and that both paths agree value-for-value on
    in-range data."""
    if accumulator not in ("bigint", "decimal"):
        raise ValueError(f"bad dim-stats accumulator {accumulator!r}")
    sumsq = (
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("v"))
        if accumulator == "decimal"
        else F.sum(F.col("v") * F.col("v"))
    )
    flat = emb.select(F.posexplode("qv").alias("dim", "v"))
    return flat.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum("v").alias("sum_micro"),
        sumsq.alias("sumsq_micro2"),
        F.min("v").alias("min_micro"),
        F.max("v").alias("max_micro"),
        F.expr("div(sum(v), count(*))").alias("mean_micro"),
    )


# ------------------------------------ L3h embedding norm outlier scrub
@register(
    "llm_embedding_outliers",
    sql=f"""WITH q AS (
           SELECT vec_id,
                  [CAST(floor(x * {DIM_MICRO} + 0.5) AS BIGINT)
                   for x in embedding::DOUBLE[]] AS qv
           FROM embeddings
         ),
         s AS (
           SELECT vec_id,
                  list_sum([y::HUGEINT * y for y in qv]) AS s
           FROM q
         ),
         stats AS (
           SELECT count(*)::HUGEINT AS n,
                  sum(s) AS sum_s,
                  sum(s * s) AS sumsq_s
           FROM s
         )
         SELECT vec_id,
                CAST(s AS BIGINT) AS norm2_micro2,
                (s * n - sum_s) * (s * n - sum_s)
                  > 9 * (n * sumsq_s - sum_s * sum_s) AS is_outlier,
                CASE WHEN (s * n - sum_s) * (s * n - sum_s)
                          <= 9 * (n * sumsq_s - sum_s * sum_s) THEN 'in'
                     WHEN s * n < sum_s THEN 'low' ELSE 'high' END AS side
         FROM s, stats""",
)
def llm_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3h: embedding norm-outlier scrub — the sanity gate run before a
    vector corpus feeds ANN/k-means/quantization: dead embeddings
    (near-zero norm, an encoder that failed silently) and exploded ones
    (norm far above the population) poison centroids and distance
    rankings, and the standard fix is dropping |z| > 3 norms. The z-test
    runs on the SQUARED L2 norm snapped to the shared micro grid
    (L3g/L4g/L6d discipline), so there is no sqrt and no float anywhere:
    a vector is an outlier iff (s·n − Σs)² > 9·(n·Σs² − (Σs)²) — the
    |s − mean| > 3σ test cleared of division — evaluated in exact
    decimal(38)/int128 arithmetic identically in both engines; `side`
    says which tail ('low' = dead, 'high' = exploded).

    Plan (100 TB): one scan → codegen per-vector squared norm (the only
    O(dim) work) → 1-row global stat aggregate broadcast back over the
    per-vector frame — no shuffle of vector payloads, no window over the
    corpus; the flag is a codegen projection. Magnitude ceiling — the
    deviation term, not Σs², binds: s ≤ dims·1e12 (~6.4e13 at 64 dims),
    so Σs² ~ 4e27·n fits decimal(38,0) to ~2e10 vectors, but the WORST-CASE
    deviation term (s·n − Σs)² ~ (6.4e13·n)² overflows decimal(38,0)
    already around n ~ 2e5 — it stays in range at larger n only while
    deviations remain far below s·n (the normal regime: for |z|-style
    deviations the term is ~(3σ·n)², fine to ~1e8 even at σ ~ 1e12).
    Because Spark non-ANSI decimal overflow yields NULL silently (DuckDB
    HUGEINT would raise), the projection guards every flag: a NULL
    dev²/bound from non-NULL inputs raises via raise_error instead of
    quietly nulling is_outlier. Past the ceiling, pre-scale the grid
    down (the test is scale-invariant) rather than widening types.
    Vectors-with-no-corpus edge: n·Σs² − (Σs)² = 0
    for a single vector (or identical norms), the strict > keeps
    everything 'in' — no divide-by-zero class."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    return embedding_outliers(emb)


def embedding_outliers(emb: DataFrame) -> DataFrame:
    """llm_embedding_outliers' core over any (vec_id, embedding) frame so
    tests can plant dead/exploded vectors and replay the exact z-test in
    Python ints."""
    s = emb.select(
        "vec_id",
        F.expr(
            f"aggregate(transform(cast(embedding as array<double>),"
            f" x -> cast(floor(x * {DIM_MICRO} + 0.5) as bigint)),"
            " cast(0 as decimal(38,0)),"
            " (a, y) -> a + cast(y as decimal(19,0)) * cast(y as decimal(19,0)))"
        ).alias("s"),
    )
    stats = s.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("s").alias("sum_s"),
        F.sum(F.col("s") * F.col("s")).alias("sumsq_s"),
    )
    dev2 = (F.col("s") * F.col("n") - F.col("sum_s")) * (
        F.col("s") * F.col("n") - F.col("sum_s")
    )
    bound = 9 * (
        F.col("n") * F.col("sumsq_s") - F.col("sum_s") * F.col("sum_s")
    )
    # Decimal overflow in non-ANSI Spark yields NULL silently; NULL
    # dev²/bound from a non-NULL norm means the (s·n − Σs)² headroom ran
    # out (see docstring) — fail loudly instead of nulling the flags.
    overflow = (
        F.col("s").isNotNull()
        & F.col("n").isNotNull()
        & (dev2.isNull() | bound.isNull())
    )
    guard = F.when(
        overflow,
        F.raise_error(
            F.lit(
                "embedding_outliers: decimal(38,0) overflow in the z-test"
                " — pre-scale the micro grid down (test is scale-"
                "invariant) before re-running"
            )
        ).cast("boolean"),
    )
    return (
        s.join(F.broadcast(stats))
        .select(
            "vec_id",
            F.col("s").cast("bigint").alias("norm2_micro2"),
            guard.otherwise(dev2 > bound).alias("is_outlier"),
            F.when(guard.otherwise(F.lit(False)), F.lit("boom"))
            .when(dev2 <= bound, "in")
            .when(F.col("s") * F.col("n") < F.col("sum_s"), "low")
            .otherwise("high")
            .alias("side"),
        )
    )
