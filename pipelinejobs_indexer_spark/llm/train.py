"""L3e/L3f: distributed trainers over the embeddings table — Lloyd
k-means (the centroid trainer the IVF family's docstrings point at) and a
full-batch logistic-regression quality classifier (the "train a linear
filter on labeled corpus slices, score everything" step of an LLM data
pipeline, per the BASELINE.json:6 mandate; the reference itself ships no
ML — these are the mandated beyond-reference extensions, same scope class
as llm/similarity.py).

Both are ITERATIVE algorithms, which Spark expresses as a driver loop of
declarative jobs — the same shape MLlib uses:

  * model state (k centroids / a weight vector) lives on the DRIVER and
    is baked into the next iteration's plan as a broadcast literal, so
    per-row scoring is a pure codegen projection — ZERO corpus shuffle;
  * the only aggregation is a map-side-combinable groupBy whose output
    is O(k x dim) / O(dim) rows per task AFTER partial aggregation —
    at 100 TB each iteration is one scan plus a few-KB exchange, and the
    driver never holds anything corpus-sized.

Cross-engine determinism (the DuckDB oracle unrolls the same iterations
as CTEs): ALL model arithmetic is exact integer arithmetic on a
quantized grid, so there is no float-summation-order hazard for the
iterations to amplify:

  * embeddings quantize to bigint at 1e3 (round(x*1000) — Spark's
    HALF_UP and DuckDB's half-away-from-zero agree on every double);
  * k-means distances are integer L2^2 (max |coord diff| ~1100 over 64
    dims -> < 2^53 by orders of magnitude) and centroid updates are
    floor-divisions of exact integer sums (Python ``//`` == DuckDB
    ``floor(a/b)`` — note DuckDB's ``//`` TRUNCATES toward zero and must
    not be used);
  * logreg weights live on a 1e6 grid; the one transcendental (the
    sigmoid) is immediately re-quantized to the 1e6 grid, so a last-ulp
    exp() difference between engines only matters if a sigmoid lands
    within ~1e-10 of a grid midpoint (~2e-10 probability per evaluation).

Gradient products are summed as decimal(20,0)->decimal(30,0) on the
Spark side (DuckDB's sum(bigint) is already int128): per-term magnitude
is <= 1e9, so a bigint accumulator would only overflow past ~9e9 rows —
exactly the 100 TB regime this engine targets — while the decimal
accumulator is exact to 1e30 and costs nothing measurable next to the
explode it sits behind.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..config import CONFIG
from ..registry import register
from ..session import iter_checkpoint
from ..tables import load_table, spread

#: quantization grid for embedding coordinates (see module docstring)
QSCALE = 1000
#: quantization grid for sigmoid outputs and logreg weights
PSCALE = 1_000_000
#: logreg learning rate = 1/LR_DEN (kept integral so the weight update is
#: an exact floor-division, never a float multiply)
LR_DEN = 2
#: labels >= this are the positive class for the quality classifier
POS_LABEL = 5

_QUANT = f"transform(cast(embedding as array<double>), x -> cast(round(x * {QSCALE}) as bigint))"
_QUANT_SQL = f"[CAST(round(x * {QSCALE}) AS BIGINT) for x in embedding::DOUBLE[]]"


# ------------------------------------------------- the one Lloyd fit


def _l2_sql(col: str, cent: list[int]) -> str:
    """Exact integer squared-L2 distance from the array expression
    ``col`` to one centroid, folded inside codegen (no UDF, no shuffle)."""
    arr = "array(" + ",".join(f"{int(v)}L" for v in cent) + ")"
    return (
        f"aggregate(zip_with({col}, {arr}, (x, y) -> (x - y) * (x - y)), "
        f"0L, (a, x) -> a + x)"
    )


def _argmin_sql(col: str, cents: list[list[int]]) -> str:
    """Nearest-centroid assignment of ``col`` as ONE SQL expression:
    array_min over (distance, index) structs — lexicographic struct
    ordering gives the min distance with ties broken toward the smallest
    index, matching the oracles' ``ORDER BY d, j`` row_number. One
    string is one py4j call for all k structs, and ``struct(... AS d,
    j AS j)`` resolves to the same tree the Column-API struct builds."""
    structs = ", ".join(
        f"struct({_l2_sql(col, c)} AS d, {j} AS j)" for j, c in enumerate(cents)
    )
    return f"array_min(array({structs}))"


def _quantized(e: DataFrame, *keep: str) -> DataFrame:
    """(vec_id, *keep, xq) on the 1e3 grid. The fit scans it iters+1
    times, so it is checkpointed; the fit's stats action materializes it."""
    q = e.select("vec_id", *keep, F.expr(_QUANT).alias("xq"))
    return iter_checkpoint(spread(q), lazy=True)


def _lloyd(
    q: DataFrame, m: int, k: int, iters: int, who: str
) -> tuple[list[list[list[int]]], list[str]]:
    """Lloyd k-means over ``m`` contiguous equal subspaces of ``q.xq``
    (m=1 is plain k-means on the whole vector; m>1 is PQ codebook
    training). Returns (cents[m][j][pos], per-subspace slice exprs).

    Init is the deterministic vec_id stride sample (rank j*floor(n/k) —
    the same "strided seed" family llm_similarity_ivf uses, so the fit
    refines exactly the kind of seed set the IVF index starts from).
    Empty clusters keep their previous centroid. Requires dense vec_ids
    0..n-1 (the testdata contract) and a fixed dimension that m divides;
    violations raise loudly.

    One scan per iteration trains ALL subspaces: each row explodes to m
    (subspace, code, sub-vector) structs and one combiner
    groupBy(m, code, pos) carries at most m×k×subdim rows per task; the
    codebooks live on the driver between iterations and ride the next
    plan as broadcast literals."""
    stats = q.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("vec_id").alias("lo"),
        F.max("vec_id").alias("hi"),
        F.max(F.size("xq")).alias("dim"),
        F.min(F.size("xq")).alias("dim_lo"),
    ).first()
    n, dim = stats["n"], stats["dim"]
    if n < k:
        raise ValueError(f"{who} needs at least k={k} vectors, got {n}")
    if stats["lo"] != 0 or stats["hi"] != n - 1:
        raise ValueError(
            f"{who} strided init expects dense vec_ids 0..n-1, got range "
            f"[{stats['lo']}, {stats['hi']}] over {n} rows"
        )
    if dim != stats["dim_lo"]:
        raise ValueError(f"{who} requires a fixed embedding dimension")
    if dim % m != 0:
        raise ValueError(
            f"{who}: m={m} subspaces must divide the embedding dim {dim} "
            f"(contiguous equal subspaces)"
        )
    sub = dim // m
    stride = n // k
    seed_ids = [j * stride for j in range(k)]
    seeds = {
        r["vec_id"]: list(r["xq"])
        for r in q.filter(F.col("vec_id").isin(seed_ids)).collect()
    }
    missing = [i for i in seed_ids if i not in seeds]
    if missing:
        raise ValueError(
            f"{who} strided init expects dense vec_ids 0..n-1; missing {missing}"
        )
    cents = [
        [seeds[i][mm * sub : (mm + 1) * sub] for i in seed_ids] for mm in range(m)
    ]
    slices = (
        ["xq"] if m == 1 else [f"slice(xq, {mm * sub + 1}, {sub})" for mm in range(m)]
    )
    for _ in range(iters):
        structs = ", ".join(
            f"struct({mm} AS m, {_argmin_sql(s, c)}.j AS code, {s} AS sv)"
            for mm, (s, c) in enumerate(zip(slices, cents))
        )
        rows = (
            q.select(F.expr(f"explode(array({structs}))").alias("t"))
            .select("t.m", "t.code", F.posexplode("t.sv").alias("pos", "val"))
            .groupBy("m", "code", "pos")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("cnt"))
            .collect()
        )
        sums: dict[tuple[int, int], dict[int, tuple[int, int]]] = {}
        for r in rows:
            sums.setdefault((r["m"], r["code"]), {})[r["pos"]] = (r["s"], r["cnt"])
        cents = [
            [
                [sums[(mm, j)][p][0] // sums[(mm, j)][p][1] for p in range(sub)]
                if (mm, j) in sums
                else cents[mm][j]  # empty cluster: centroid carries over
                for j in range(k)
            ]
            for mm in range(m)
        ]
    return cents, slices


# --------------------------------------------------------------- k-means


def kmeans_plan(e: DataFrame) -> DataFrame:
    """Lloyd k-means over an embeddings-shaped frame (vec_id, label,
    embedding); returns the final assignment (vec_id, label, cluster,
    dist) after ``CONFIG.kmeans_iters`` exact-integer iterations of the
    one-subspace ``_lloyd`` fit."""
    q = _quantized(e, "label")
    (cents,), (col,) = _lloyd(q, 1, CONFIG.kmeans_k, CONFIG.kmeans_iters, "kmeans")
    return q.withColumn("a", F.expr(_argmin_sql(col, cents))).select(
        "vec_id",
        "label",
        F.col("a.j").alias("cluster"),
        F.col("a.d").alias("dist"),
    )


def _kmeans_sql() -> str:
    """DuckDB oracle: the identical iterations unrolled as CTEs over the
    identical integer grid (floor(s/cnt) == Python ``//`` on these
    magnitudes — quotients can only sit 1/cnt >= 1/n away from an
    integer, far outside double rounding error)."""
    k, iters = CONFIG.kmeans_k, CONFIG.kmeans_iters
    dist = (
        "list_sum([(e.xq[i] - c.xq[i]) * (e.xq[i] - c.xq[i]) "
        "for i in generate_series(1, len(e.xq))])"
    )
    ctes = [
        f"e AS MATERIALIZED (SELECT vec_id, label, {_QUANT_SQL} AS xq FROM embeddings)",
        f"init AS MATERIALIZED (SELECT CAST(floor(count(*) / {k}) AS BIGINT) AS stride FROM e)",
        f"""c0 AS MATERIALIZED (SELECT CAST(floor(e.vec_id / init.stride) AS INTEGER) AS j, e.xq
       FROM e, init
       WHERE e.vec_id % init.stride = 0 AND e.vec_id < {k} * init.stride)""",
    ]
    for t in range(1, iters + 2):
        last = t == iters + 1
        ctes.append(
            f"""a{t} AS MATERIALIZED (SELECT e.vec_id, e.label, e.xq, c.j, {dist} AS d,
       row_number() OVER (PARTITION BY e.vec_id ORDER BY {dist} ASC, c.j ASC) AS r
       FROM e CROSS JOIN c{t - 1} c)"""
        )
        if last:
            break
        ctes.append(
            f"""s{t} AS MATERIALIZED (SELECT j, pos, sum(val) AS s, count(*) AS cnt FROM (
         SELECT j, unnest(range(1, len(xq) + 1)) AS pos, unnest(xq) AS val
         FROM a{t} WHERE r = 1) GROUP BY j, pos)"""
        )
        ctes.append(
            f"""u{t} AS MATERIALIZED (SELECT j, list(CAST(floor(s / cnt) AS BIGINT) ORDER BY pos) AS xq
       FROM s{t} GROUP BY j)"""
        )
        ctes.append(
            f"""c{t} AS MATERIALIZED (SELECT c.j, COALESCE(u.xq, c.xq) AS xq
       FROM c{t - 1} c LEFT JOIN u{t} u USING (j))"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT vec_id, label, j AS cluster, CAST(d AS BIGINT) AS dist"
        f"\nFROM a{iters + 1} WHERE r = 1"
    )


@register("llm_embedding_kmeans", sql=_kmeans_sql)
def llm_embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3e: distributed Lloyd k-means — the trainer for the centroid sets
    the IVF operators (llm_similarity_ivf, llm_dedup_semantic) consume;
    their strided seed is this trainer's INIT state, so running it is the
    "train the coarse quantizer" step of the ANN/SemDeDup stack.

    Plan shape per iteration (the 100 TB story): assignment is a
    broadcast-literal argmin fold inside whole-stage codegen (no join, no
    shuffle — the centroid set rides the plan); the update is
    posexplode -> groupBy(m, code, pos) (m = 0: the one-subspace case of
    the PQ fit) with map-side partial
    aggregation, so the exchange carries at most k x dim rows PER MAP
    TASK and the driver collects exactly k x dim totals. Total cost =
    iters scans of a (vec_id, xq) projection; nothing corpus-sized ever
    shuffles or reaches the driver. Reference scope: BASELINE.json:6
    (similarity-search mandate); k/iters are config (SPARK_GRAFT_KMEANS_K
    / _ITERS), not constants, per SURVEY.md §7.4.
    """
    return kmeans_plan(load_table(spark, sf_dir, "embeddings"))


# ------------------------------------------------- logistic regression


def _score(q: DataFrame, w: list[int]) -> DataFrame:
    """Sigmoid scores at weights ``w`` (1e6 grid) as one codegen
    projection; re-quantized to the 1e6 grid immediately (module
    docstring: the only transcendental in the pipeline)."""
    arr = "array(" + ",".join(f"{int(v)}L" for v in w) + ")"
    dot = f"aggregate(zip_with(xa, {arr}, (x, y) -> x * y), 0L, (a, x) -> a + x)"
    return q.withColumn(
        "p",
        F.expr(
            f"cast(round({PSCALE}.0D / (1.0D + exp(-(({dot}) / "
            f"{QSCALE * PSCALE}.0D)))) as bigint)"
        ),
    )


def logreg_plan(e: DataFrame) -> DataFrame:
    """Full-batch logistic regression over an embeddings-shaped frame:
    y = (label >= POS_LABEL), features = quantized embedding with a bias
    slot (a constant 1.0 feature, quantized like the rest, so the bias
    update rides the same per-dimension gradient aggregate). Returns
    per-vector (vec_id, label, y, score, pred) at the final weights.
    """
    iters = CONFIG.logreg_iters
    q = e.select(
        "vec_id",
        "label",
        F.when(F.col("label") >= POS_LABEL, F.lit(1)).otherwise(F.lit(0)).alias("y"),
        F.expr(f"concat(array({QSCALE}L), {_QUANT})").alias("xa"),
    )
    q = iter_checkpoint(spread(q), lazy=True)  # materialized by the stats/count action
    n = q.count()
    if n == 0:
        raise ValueError("logreg needs a non-empty corpus")
    dim = q.select(F.size("xa").alias("s")).first()["s"]
    w = [0] * dim
    for _ in range(iters):
        grads = (
            _score(q, w)
            .select((F.col("p") - F.col("y") * F.lit(PSCALE)).alias("r"), "xa")
            .select("r", F.posexplode("xa").alias("pos", "val"))
            .groupBy("pos")
            .agg(
                F.sum((F.col("r") * F.col("val")).cast("decimal(20,0)")).alias("g")
            )
            .collect()
        )
        gmap = {r["pos"]: int(r["g"]) for r in grads}
        w = [w[i] - (gmap[i] // (LR_DEN * n * QSCALE)) for i in range(dim)]
    return _score(q, w).select(
        "vec_id",
        "label",
        "y",
        F.col("p").alias("score"),
        F.when(F.col("p") >= PSCALE // 2, F.lit(1)).otherwise(F.lit(0)).alias("pred"),
    )


def _logreg_sql() -> str:
    """DuckDB oracle: the identical gradient sweeps unrolled as CTEs.
    DuckDB's sum(bigint) is int128 (exact); the weight update divisor
    2*n*1000 keeps floor(g/d) == Python ``//`` because quotients sit
    >= 1/d from any integer they don't equal — valid while |g| stays
    inside double's 2^53 exact range, i.e. to n ~ 4.5M rows (g grows as
    ~n*1e9; past that the hugeint->double conversion error can exceed
    the 1/d gap). The oracle runs at fixture/probe scale by design; a
    larger differential harness would need the division done in exact
    decimal on the DuckDB side too."""
    iters = CONFIG.logreg_iters
    dot = "list_sum([e.xa[i] * w.w[i] for i in generate_series(1, len(e.xa))])"
    sig = (
        f"CAST(round({PSCALE}.0 / (1.0 + exp(-(({dot}) / "
        f"{QSCALE * PSCALE}.0)))) AS BIGINT)"
    )
    ctes = [
        f"""e AS MATERIALIZED (SELECT vec_id, label,
       CASE WHEN label >= {POS_LABEL} THEN 1 ELSE 0 END AS y,
       list_prepend({QSCALE}::BIGINT, {_QUANT_SQL}) AS xa
       FROM embeddings)""",
        "n AS MATERIALIZED (SELECT count(*) AS n FROM e)",
        "w0 AS MATERIALIZED (SELECT [CAST(0 AS BIGINT) for x in xa] AS w FROM e ORDER BY vec_id LIMIT 1)",
    ]
    for t in range(1, iters + 2):
        ctes.append(
            f"""p{t} AS MATERIALIZED (SELECT e.vec_id, e.label, e.y, e.xa, {sig} AS p
       FROM e CROSS JOIN w{t - 1} w)"""
        )
        if t == iters + 1:
            break
        ctes.append(
            f"""g{t} AS MATERIALIZED (SELECT pos, sum((p - y * {PSCALE}) * val) AS g FROM (
         SELECT p, y, unnest(range(1, len(xa) + 1)) AS pos, unnest(xa) AS val
         FROM p{t}) GROUP BY pos)"""
        )
        ctes.append(
            f"""w{t} AS MATERIALIZED (SELECT list(CAST(w.w[g.pos] - floor(g.g / ({LR_DEN} * n.n * {QSCALE})) AS BIGINT)
            ORDER BY g.pos) AS w
       FROM g{t} g, w{t - 1} w, n)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT vec_id, label, y, p AS score,
       CASE WHEN p >= {PSCALE // 2} THEN 1 ELSE 0 END AS pred
FROM p{iters + 1}"""
    )


@register("llm_classifier_logreg", sql=_logreg_sql)
def llm_classifier_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3f: train a linear quality classifier by distributed full-batch
    gradient descent and score every vector — the "learn a filter from
    labeled slices, apply it corpus-wide" step of LLM data curation
    (the trained-classifier sibling of the hand-rule llm_text_quality /
    llm_quality_calibrate gates).

    Plan shape per sweep (the 100 TB story): scoring is one codegen
    projection (weights ride the plan as a broadcast literal); the
    gradient is posexplode -> groupBy(pos) with map-side combine — the
    exchange carries dim+1 rows per map task and the driver collects
    dim+1 exact-integer totals, so driver state is O(dim) and the sweep
    cost is one scan. Gradient terms accumulate in decimal(30,0) (exact
    past the ~9e9-row bigint ceiling — see module docstring). Reference
    scope: BASELINE.json:6 text-analysis mandate; iteration count is
    config (SPARK_GRAFT_LOGREG_ITERS).
    """
    return logreg_plan(load_table(spark, sf_dir, "embeddings"))


# ------------------------------------------- L3i product quantization


def _pq_knobs(
    m: int | None = None, k: int | None = None, iters: int | None = None
) -> tuple[int, int, int]:
    """(pq_m, pq_k, pq_iters) with CONFIG filling every None."""
    return (
        CONFIG.pq_m if m is None else m,
        CONFIG.pq_k if k is None else k,
        CONFIG.pq_iters if iters is None else iters,
    )


def _pq_fit(
    e: DataFrame,
    m: int | None = None,
    k: int | None = None,
    iters: int | None = None,
) -> tuple[DataFrame, list[list[list[int]]], list[str]]:
    """The m-subspace ``_lloyd`` fit: (checkpointed quantized frame,
    cents[m][j][pos], per-subspace slice exprs) — the one fit the
    encoder, the ADC searches and the recall audit run off."""
    m, k, iters = _pq_knobs(m, k, iters)
    q = _quantized(e)
    return (q, *_lloyd(q, m, k, iters, "pq"))


def pq_plan(
    e: DataFrame,
    m: int | None = None,
    k: int | None = None,
    iters: int | None = None,
) -> DataFrame:
    """Product-quantization codebook training + encoding over an
    embeddings-shaped frame: the vector splits into CONFIG.pq_m
    contiguous subspaces, all trained by one ``_lloyd`` fit (pq_k
    centroids each, pq_iters iterations, same exact-integer grid, strided
    seed and empty-cluster carry-over as kmeans_plan), then every vector
    is encoded as its per-subspace nearest-centroid codes plus the exact
    integer reconstruction error."""
    q, cents, slices = _pq_fit(e, m, k, iters)
    ms = range(len(cents))
    code = ", ".join(f"cast(a{mm}.j as string)" for mm in ms)
    err = " + ".join(f"a{mm}.d" for mm in ms)
    return q.select(
        "vec_id",
        *[F.expr(_argmin_sql(slices[mm], cents[mm])).alias(f"a{mm}") for mm in ms],
    ).select(
        "vec_id",
        F.expr(f"concat_ws('|', {code})").alias("pq_code"),
        F.expr(err).alias("err"),
    )


def _pq_ctes(m_sub: int, k: int, iters: int) -> list[str]:
    """The shared CTE chain for the PQ oracles: quantize → per-subspace
    slices → unrolled Lloyd loops → f{m} (final code per vector) with
    c{iters}x{m} as the final codebooks."""
    dist = (
        "list_sum([(a.sq[i] - c.sq[i]) * (a.sq[i] - c.sq[i]) "
        "for i in generate_series(1, len(a.sq))])"
    )
    ctes = [
        f"e AS MATERIALIZED (SELECT vec_id, {_QUANT_SQL} AS xq FROM embeddings)",
        f"init AS MATERIALIZED (SELECT CAST(floor(count(*) / {k}) AS BIGINT)"
        " AS stride FROM e)",
    ]
    for m in range(m_sub):
        lo = f"{m} * (len(xq) // {m_sub}) + 1"
        hi = f"{m + 1} * (len(xq) // {m_sub})"
        ctes.append(
            f"em{m} AS MATERIALIZED (SELECT vec_id, xq[{lo}:{hi}] AS sq FROM e)"
        )
        ctes.append(
            f"""c0x{m} AS MATERIALIZED (SELECT CAST(floor(a.vec_id / init.stride) AS INTEGER) AS j, a.sq
       FROM em{m} a, init
       WHERE a.vec_id % init.stride = 0 AND a.vec_id < {k} * init.stride)"""
        )
        for t in range(1, iters + 2):
            last = t == iters + 1
            ctes.append(
                f"""a{t}x{m} AS MATERIALIZED (SELECT a.vec_id, c.j, {dist} AS d,
       row_number() OVER (PARTITION BY a.vec_id ORDER BY {dist} ASC, c.j ASC) AS r
       FROM em{m} a CROSS JOIN c{t - 1}x{m} c)"""
            )
            if last:
                break
            ctes.append(
                f"""s{t}x{m} AS MATERIALIZED (SELECT j, pos, sum(val) AS s, count(*) AS cnt FROM (
         SELECT a.j, unnest(range(1, len(e.sq) + 1)) AS pos, unnest(e.sq) AS val
         FROM a{t}x{m} a JOIN em{m} e USING (vec_id) WHERE a.r = 1) GROUP BY j, pos)"""
            )
            ctes.append(
                f"""u{t}x{m} AS MATERIALIZED (SELECT j, list(CAST(floor(s / cnt) AS BIGINT) ORDER BY pos) AS sq
       FROM s{t}x{m} GROUP BY j)"""
            )
            ctes.append(
                f"""c{t}x{m} AS MATERIALIZED (SELECT c.j, COALESCE(u.sq, c.sq) AS sq
       FROM c{t - 1}x{m} c LEFT JOIN u{t}x{m} u USING (j))"""
            )
        ctes.append(
            f"f{m} AS MATERIALIZED (SELECT vec_id, j, d FROM a{iters + 1}x{m} "
            "WHERE r = 1)"
        )
    return ctes


def _pq_sql(
    m: int | None = None, k: int | None = None, iters: int | None = None
) -> str:
    """DuckDB oracle: the per-subspace Lloyd loops unrolled as CTEs over
    the identical integer grid (the _kmeans_sql pattern, once per
    subspace; sub-vector bounds derive from len(xq) so the SQL needs no
    dimension literal)."""
    m_sub, k, iters = _pq_knobs(m, k, iters)
    ctes = _pq_ctes(m_sub, k, iters)
    code = " || '|' || ".join(f"CAST(f{m}.j AS VARCHAR)" for m in range(m_sub))
    err = " + ".join(f"f{m}.d" for m in range(m_sub))
    joins = "f0" + "".join(
        f" JOIN f{m} USING (vec_id)" for m in range(1, m_sub)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT vec_id, {code} AS pq_code, CAST({err} AS BIGINT) AS err"
        + f"\nFROM {joins}"
    )


@register("llm_embedding_pq", sql=_pq_sql)
def llm_embedding_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3i: product-quantization codebooks + codes — the memory side of
    the ANN stack (L6d's scalar quantize shrinks per-coordinate width;
    PQ shrinks per-VECTOR width: pq_m codes of log2(pq_k) bits each, 8
    bytes per vector at the measured-knee 16×16 default vs 256 bytes raw
    float32 — 32× — the compression that lets a 100 TB embedding corpus
    serve distance queries from RAM via asymmetric code-to-centroid
    lookup tables; the 16×16 default is the recall/fidelity knee that
    scripts/pq_sizing_probe.py measures, tabled in BENCH_sf1.md).
    Trains per-subspace Lloyd codebooks under the L3e exact-integer
    discipline and emits each vector's code string plus its exact
    integer reconstruction error — the fidelity audit that sizes
    pq_m/pq_k (knobs SPARK_GRAFT_PQ_M/_K/_ITERS, config.py).

    Plan shape (100 TB): per iteration ONE corpus scan — every subspace's
    assignment is a broadcast-literal argmin fold, and all subspaces'
    centroid updates ride ONE combiner groupBy(m, code, pos) whose
    exchange carries m×k×subdim rows per task; the driver holds the
    m×k×subdim codebook and nothing else. Final encoding is a pure
    codegen projection, zero exchanges. Oracle: the identical iterations
    unrolled per subspace as MATERIALIZED CTEs (the L3e pattern)."""
    return pq_plan(load_table(spark, sf_dir, "embeddings"))


# ----------------------------------------- L3j PQ asymmetric-distance search
# Query set: vec_id < N (the L3a convention). PQ_SEARCH_QUERIES aliases
# similarity.N_QUERIES so the IVF probe cells (similarity._ivf_probe_cells
# filters on N_QUERIES) and the PQ probe set and oracles cannot diverge.
from .similarity import N_QUERIES as PQ_SEARCH_QUERIES
PQ_SEARCH_TOP_K = 10


def _pq_codes(
    q: DataFrame, cents: list[list[list[int]]], slices: list[str]
) -> DataFrame:
    """(vec_id, c0..c{m-1}): every vector's per-subspace code."""
    return q.select(
        "vec_id",
        *[
            F.expr(f"{_argmin_sql(s, c)}.j").alias(f"c{mm}")
            for mm, (s, c) in enumerate(zip(slices, cents))
        ],
    )


def _adc_sql(
    q: DataFrame, cents: list[list[list[int]]], who: str
) -> list[tuple[int, str]]:
    """(probe vec_id, ADC SQL) for every probe (vec_id < PQ_SEARCH_QUERIES),
    ascending: each probe's exact integer d² to every centroid of every
    subspace becomes a k-entry literal table on the DRIVER (m×k×n_probes
    ints, model-sized state), and its ADC is the sum of m ``element_at``
    lookups by the codes c0..c{m-1} — one SQL string per probe."""
    probes = sorted(
        q.filter(F.col("vec_id") < PQ_SEARCH_QUERIES).collect(),
        key=lambda r: r["vec_id"],
    )
    if not probes:
        # n >= k passes the fit while the probe set can still be empty;
        # an empty probe array would only fail later, at analysis, with
        # an opaque error
        raise ValueError(
            f"{who}: empty probe set — no rows with vec_id < "
            f"{PQ_SEARCH_QUERIES} in the embeddings frame"
        )
    sub = len(cents[0][0])
    out = []
    for p in probes:
        pv = list(p["xq"])
        terms = []
        for mm, cm in enumerate(cents):
            pm = pv[mm * sub : (mm + 1) * sub]
            table = ",".join(
                f"{sum((x - y) * (x - y) for x, y in zip(pm, c))}L" for c in cm
            )
            terms.append(f"element_at(array({table}), c{mm} + 1)")
        out.append((int(p["vec_id"]), " + ".join(terms)))
    return out


def _adc_top_k(scored: DataFrame) -> DataFrame:
    """Per-probe top-k by (adc, vec_id) — exact integers, so the order is
    engine-independent."""
    w = Window.partitionBy("qid").orderBy("adc", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= PQ_SEARCH_TOP_K)
        .select("qid", "vec_id", "adc", "rank")
    )


def pq_search_plan(
    e: DataFrame,
    m: int | None = None,
    k: int | None = None,
    iters: int | None = None,
) -> DataFrame:
    """ADC top-k over the PQ fit: every corpus vector is reduced to its
    per-subspace codes, every probe's distance tables ride the plan as
    literals (``_adc_sql``), and the scan scores each vector as the sum
    of m table lookups — the asymmetric distance computation that makes
    PQ indexes servable from RAM. Self-matches excluded; rank by
    (adc, vec_id)."""
    q, cents, slices = _pq_fit(e, m, k, iters)
    structs = ", ".join(
        f"struct({qid} AS qid, {adc} AS adc)"
        for qid, adc in _adc_sql(q, cents, "pq_search_plan")
    )
    scored = (
        _pq_codes(q, cents, slices)
        .select("vec_id", F.expr(f"explode(array({structs}))").alias("t"))
        .select(F.col("t.qid").alias("qid"), "vec_id", F.col("t.adc").alias("adc"))
        .filter(F.col("vec_id") != F.col("qid"))
    )
    return _adc_top_k(scored)


def _pq_adc_ctes(m_sub: int, k: int, iters: int) -> list[str]:
    """``_pq_ctes`` plus dt{m}: every probe's exact d² to each final
    centroid of subspace m — the oracles' ADC distance tables."""
    dist = (
        "list_sum([(p.sq[i] - c.sq[i]) * (p.sq[i] - c.sq[i]) "
        "for i in generate_series(1, len(p.sq))])"
    )
    return _pq_ctes(m_sub, k, iters) + [
        f"""dt{mm} AS MATERIALIZED (SELECT p.vec_id AS qid, c.j, {dist} AS d
       FROM em{mm} p CROSS JOIN c{iters}x{mm} c
       WHERE p.vec_id < {PQ_SEARCH_QUERIES})"""
        for mm in range(m_sub)
    ]


def _pq_adc_join(m_sub: int) -> str:
    """FROM clause scoring every vector (a0.vec_id) against every probe
    (d0.qid): its final codes f{m} looked up in the probe's tables dt{m}."""
    joins = ["f0 a0"]
    for mm in range(1, m_sub):
        joins.append(f"JOIN f{mm} a{mm} ON a{mm}.vec_id = a0.vec_id")
    joins.append("JOIN dt0 d0 ON d0.j = a0.j")
    for mm in range(1, m_sub):
        joins.append(
            f"JOIN dt{mm} d{mm} ON d{mm}.j = a{mm}.j AND d{mm}.qid = d0.qid"
        )
    return " ".join(joins)


def _adc_sum_sql(m_sub: int) -> str:
    return " + ".join(f"d{mm}.d" for mm in range(m_sub))


_ADC_TOP_K_SQL = f"""\nSELECT qid, vec_id, adc, rank FROM (
         SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rank
         FROM scored
       ) WHERE rank <= {PQ_SEARCH_TOP_K}"""


def _pq_search_sql(
    m: int | None = None, k: int | None = None, iters: int | None = None
) -> str:
    """Oracle: the shared PQ CTE chain + per-probe distance tables off
    the final codebooks (c{iters}x{m}) + the same ADC sum and ranking."""
    m_sub, k, iters = _pq_knobs(m, k, iters)
    ctes = _pq_adc_ctes(m_sub, k, iters)
    ctes.append(
        f"""scored AS (SELECT d0.qid, a0.vec_id, CAST({_adc_sum_sql(m_sub)} AS BIGINT) AS adc
       FROM {_pq_adc_join(m_sub)}
       WHERE a0.vec_id <> d0.qid)"""
    )
    return "WITH " + ",\n".join(ctes) + _ADC_TOP_K_SQL


@register("llm_similarity_pq", sql=_pq_search_sql)
def llm_similarity_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3j: PQ asymmetric-distance top-k search — the consumer that makes
    L3i's codes an INDEX rather than a compression stunt, and the third
    leg of the ANN family (L3a exact brute force = the recall ceiling,
    L3b/L3c prune the candidate set, this one shrinks the per-candidate
    cost: m integer table lookups instead of a dim-length float dot
    product, with the whole corpus representation small enough to pin in
    RAM at 100 TB raw).

    Plan shape: training (L3i's one-scan-per-iteration loop) + ONE
    scoring scan where each probe's m×k distance table rides the plan as
    a broadcast literal and each vector costs m element_at lookups in
    codegen; the only search-side exchange is the per-probe top-k window
    over (probes × corpus) rows — at scale, cap that with an LSH/IVF
    pre-filter (L3b/L3c) feeding this scorer, the standard IVFPQ
    composition. Exact integer end-to-end: the ADC sum, ranking, and
    oracle hash carry no float anywhere."""
    return pq_search_plan(load_table(spark, sf_dir, "embeddings"))


# ------------------------------------------- L3k IVFPQ composed search
def _ivfpq_sql() -> str:
    from .similarity import _COS_LIST_SQL, CENT_STRIDE, N_PROBE

    m_sub, k, iters = _pq_knobs()
    ctes = _pq_adc_ctes(m_sub, k, iters)
    ctes.append(
        "ed AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"
    )
    ctes.append(
        f"cc AS MATERIALIZED (SELECT vec_id AS cid, v AS cv FROM ed "
        f"WHERE vec_id % {CENT_STRIDE} = 3)"
    )
    ctes.append(
        f"""ass AS MATERIALIZED (SELECT ed.vec_id, cc.cid,
       row_number() OVER (
         PARTITION BY ed.vec_id
         ORDER BY {_COS_LIST_SQL.format(a='ed.v', b='cc.cv')} DESC, cc.cid
       ) AS r
       FROM ed CROSS JOIN cc)"""
    )
    ctes.append("cells AS (SELECT vec_id, cid AS cell FROM ass WHERE r = 1)")
    ctes.append(
        f"qcells AS (SELECT vec_id AS qid, cid AS cell FROM ass "
        f"WHERE vec_id < {PQ_SEARCH_QUERIES} AND r <= {N_PROBE})"
    )
    ctes.append(
        """cand AS (SELECT p.qid, cells.vec_id
       FROM qcells p JOIN cells ON cells.cell = p.cell
       WHERE cells.vec_id <> p.qid)"""
    )
    joins = ["cand"]
    for mm in range(m_sub):
        joins.append(f"JOIN f{mm} a{mm} ON a{mm}.vec_id = cand.vec_id")
    for mm in range(m_sub):
        joins.append(
            f"JOIN dt{mm} d{mm} ON d{mm}.j = a{mm}.j AND d{mm}.qid = cand.qid"
        )
    ctes.append(
        f"""scored AS (SELECT cand.qid, cand.vec_id, CAST({_adc_sum_sql(m_sub)} AS BIGINT) AS adc
       FROM {' '.join(joins)})"""
    )
    return "WITH " + ",\n".join(ctes) + _ADC_TOP_K_SQL


@register("llm_similarity_ivfpq", sql=lambda: _ivfpq_sql())
def llm_similarity_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3k: IVFPQ — the standard production ANN composition, assembled
    from this repo's own parts: L3c's inverted file prunes WHICH vectors
    each query touches (nprobe nearest cells), L3j's PQ codes shrink
    WHAT each touch costs (m integer table lookups). Separately each
    half is an approximation with a measured knob (nprobe for recall —
    ivf_sizing_probe.py; pq_m/pq_k for fidelity — L3i's reconstruction
    audit); composed, a 100 TB corpus serves top-k from a RAM-resident
    code table while scanning only nprobe/n_cells of it.

    Plan shape: ONE corpus pass builds cell + codes together (the IVF
    argmax fold and the PQ argmin folds are independent codegen
    projections over the same scan); the probe→cell map is tiny and
    broadcast, so candidate selection is a map-side join; the
    candidate-sized frame broadcasts back onto the codes for ADC
    scoring; the per-probe top-k window sees only candidates. The only
    corpus-scale exchange in the whole search is... none — training's
    combiner groupBys are the sole exchanges, exactly the property that
    makes IVFPQ the shape that survives scale. Exact integer ADC, same
    conventions as L3a/L3c/L3j so the four legs compare directly."""
    from .similarity import _centroid_array, _ivf_cells, _ivf_probe_cells

    emb = load_table(spark, sf_dir, "embeddings")
    q, cents, slices = _pq_fit(emb)
    e = spread(emb).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    carr = _centroid_array(e)
    cells = _ivf_cells(e, carr).select("vec_id", "cell")
    qcells = _ivf_probe_cells(e, carr).select("qid", "cell")
    cand = (
        qcells.join(cells, "cell")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id")
    )
    adc = " ".join(
        f"WHEN qid = {qid} THEN {t}"
        for qid, t in _adc_sql(q, cents, "llm_similarity_ivfpq")
    )
    scored = _pq_codes(q, cents, slices).join(F.broadcast(cand), "vec_id").select(
        "qid", "vec_id", F.expr(f"CASE {adc} END").alias("adc")
    )
    return _adc_top_k(scored)


# ------------------------------------- L3l PQ recall evaluation
def _pq_recall_sql() -> str:
    from .similarity import _COS_LIST_SQL

    m_sub, k, iters = _pq_knobs()
    ctes = _pq_adc_ctes(m_sub, k, iters)
    ctes.append(
        f"""pq_hits AS (SELECT qid, vec_id FROM (
       SELECT d0.qid, a0.vec_id,
              row_number() OVER (PARTITION BY d0.qid
                                 ORDER BY {_adc_sum_sql(m_sub)}, a0.vec_id) AS rank
       FROM {_pq_adc_join(m_sub)}
       WHERE a0.vec_id <> d0.qid
     ) WHERE rank <= {PQ_SEARCH_TOP_K})"""
    )
    ctes.append(
        "ed AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"
    )
    ctes.append(
        f"""exact_hits AS (SELECT qid, vec_id FROM (
       SELECT q.vec_id AS qid, ed.vec_id,
              row_number() OVER (
                PARTITION BY q.vec_id
                ORDER BY {_COS_LIST_SQL.format(a='q.v', b='ed.v')} DESC, ed.vec_id
              ) AS rank
       FROM ed q CROSS JOIN ed
       WHERE q.vec_id < {PQ_SEARCH_QUERIES} AND ed.vec_id <> q.vec_id
     ) WHERE rank <= {PQ_SEARCH_TOP_K})"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""\nSELECT e.qid,
              CAST(count(p.vec_id) AS BIGINT) AS n_hits,
              round(count(p.vec_id) / CAST({PQ_SEARCH_TOP_K} AS DOUBLE), 6)
                AS recall_at_{PQ_SEARCH_TOP_K}
       FROM exact_hits e
       LEFT JOIN pq_hits p ON p.qid = e.qid AND p.vec_id = e.vec_id
       GROUP BY e.qid"""
    )


@register("llm_pq_recall_eval", sql=lambda: _pq_recall_sql())
def llm_pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3l: PQ recall@k against the exact answer — the number that
    actually licenses deploying L3j/L3k: per probe, how much of the
    exact cosine top-k (L3a's definition: rounded cosine DESC, vec_id
    tiebreak, self excluded) survives in the ADC top-k. This is the
    fidelity counterpart of L3i's reconstruction-error audit — error
    says how lossy the codes are geometrically, recall says whether the
    loss changes the ANSWERS; together they size pq_m/pq_k the way the
    minhash S-curve probe sizes bands. Measured, not asserted, and
    hash-oracled like every other query.

    Plan shape: the ADC leg is L3j's (tables as broadcast literals, one
    top-k window); the exact leg is L3a's (broadcast probe set, one
    scan, one top-k window); the comparison joins two k×n_probes-row
    frames — nothing corpus-scale beyond the two scans. Exact-leg cost
    at 100 TB is the point of comparison, not the deployment path (it
    IS the brute force PQ replaces — run the eval on a sampled slice
    there, same plan)."""
    return pq_recall(load_table(spark, sf_dir, "embeddings"))


def pq_recall(
    emb: DataFrame,
    m: int | None = None,
    k: int | None = None,
    iters: int | None = None,
) -> DataFrame:
    """llm_pq_recall_eval's core with the knobs overridable, so tests
    can pin that a richer codebook buys recall."""
    from .similarity import _cos

    e = spread(emb).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    pq_hits = pq_search_plan(emb, m=m, k=k, iters=iters).select(
        "qid", "vec_id"
    )
    q = e.filter(F.col("vec_id") < PQ_SEARCH_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    exact = (
        F.broadcast(q)
        .join(e, F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", F.round(_cos("qv", "v"), 6).alias("cosine"))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(
                    F.desc("cosine"), F.asc("vec_id")
                )
            ),
        )
        .filter(F.col("rank") <= PQ_SEARCH_TOP_K)
        .select("qid", "vec_id")
    )
    hit = pq_hits.withColumn("hit", F.lit(1))
    return (
        exact.join(hit, ["qid", "vec_id"], "left")
        .groupBy("qid")
        .agg(
            F.count("hit").alias("n_hits"),
            F.round(
                F.count("hit") / F.lit(float(PQ_SEARCH_TOP_K)), 6
            ).alias(f"recall_at_{PQ_SEARCH_TOP_K}"),
        )
    )
