"""L4: text analysis over the documents table (BASELINE.json:6 mandate).

Operators: descriptive stats, n-gram/stopword language ID, quality
scoring, token counting (whitespace + BPE-ish regex), and document
fingerprinting (normalization hash + min-shingle winnow).

All five are pure column expressions — no UDFs, no shuffle except the
final (tiny) aggregations; they scan `documents` once with column pruning
down to (doc_id, text[, lang]). At 100 TB each is a single
embarrassingly-parallel pass inside whole-stage codegen, which is the
entire scale story: throughput == parquet scan speed.

Cross-engine parity notes: only md5, ascii/strpos, regexp with explicit
's'-free patterns, and arithmetic — all bit-identical between Spark and
DuckDB. Quality score is pure arithmetic (no exp/log) so no libm
last-ulp divergence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from ..tables import load_table, spread

# alphabetical language order fixes the argmax tiebreak in both engines
LANG_MARKERS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist", "nicht"],
    "en": ["the", "a", "of", "and", "is", "to"],
    "es": ["el", "los", "las", "y", "es", "que"],
    "fr": ["le", "les", "et", "est", "que", "une"],
    "zh": ["de", "shi", "zai", "le_zh", "he", "bu"],  # romanized markers
}

_BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"

# The stopword list and quality-score policy live in score.py (shared with
# dedup.py's canonical selection, import-cycle-free); re-exported here for
# the existing call sites.
from .score import (  # noqa: E402
    STOPWORDS,
    _sw_array_spark,
    _sw_array_sql,
    quality_score_col,
    quality_score_frame,
    quality_score_sql,
)


@register(
    "llm_text_stats",
    sql="""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
         SELECT doc_id,
                length(text) AS n_chars,
                len(w) AS n_words,
                len(list_distinct(w)) AS n_distinct_words,
                round(CAST(list_sum([length(x) for x in w]) AS DOUBLE) / len(w), 6)
                  AS avg_word_len,
                length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS n_punct
         FROM t""",
)
def llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Descriptive text statistics: char/word/distinct-word counts, mean
    word length, punctuation count. One codegen'd projection."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    t = docs.select("doc_id", "text", F.split("text", " ").alias("w"))
    return t.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size("w").alias("n_words"),
        F.size(F.array_distinct("w")).alias("n_distinct_words"),
        F.round(
            F.expr("aggregate(w, 0L, (acc, x) -> acc + length(x))").cast("double")
            / F.size("w"),
            6,
        ).alias("avg_word_len"),
        F.length(F.regexp_replace("text", "[a-z0-9 ]", "")).alias("n_punct"),
    )


def _marker_hits_spark(lang: str) -> str:
    arr = "array(" + ", ".join(f"'{m}'" for m in LANG_MARKERS[lang]) + ")"
    return f"size(filter(w, x -> array_contains({arr}, x)))"


def _marker_hits_sql(lang: str) -> str:
    arr = "[" + ", ".join(f"'{m}'" for m in LANG_MARKERS[lang]) + "]"
    return f"len(list_filter(w, x -> list_contains({arr}, x)))"


@register(
    "llm_text_langid",
    sql=f"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
         scored AS (
           SELECT doc_id, lang,
                  {_marker_hits_sql('de')} AS s_de,
                  {_marker_hits_sql('en')} AS s_en,
                  {_marker_hits_sql('es')} AS s_es,
                  {_marker_hits_sql('fr')} AS s_fr,
                  {_marker_hits_sql('zh')} AS s_zh
           FROM t
         )
         SELECT doc_id, lang,
                CASE WHEN s_de = m THEN 'de' WHEN s_en = m THEN 'en'
                     WHEN s_es = m THEN 'es' WHEN s_fr = m THEN 'fr'
                     ELSE 'zh' END AS pred_lang,
                m AS n_hits,
                (CASE WHEN s_de = m THEN 'de' WHEN s_en = m THEN 'en'
                      WHEN s_es = m THEN 'es' WHEN s_fr = m THEN 'fr'
                      ELSE 'zh' END) = lang AS is_match
         FROM (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_zh) AS m FROM scored)""",
)
def llm_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword/marker-list language ID: count marker-word hits per
    language, argmax with alphabetical tiebreak. (The synthetic corpus is
    one shared vocabulary, so predictions skew 'en' — the check is that
    both engines agree on the heuristic, which is the honest claim a
    heuristic can make.) A real n-gram model drops in as larger marker
    tables; the plan shape is unchanged.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    t = docs.select("doc_id", "lang", F.split("text", " ").alias("w"))
    scored = t.select(
        "doc_id",
        "lang",
        *[F.expr(_marker_hits_spark(lang)).alias(f"s_{lang}") for lang in LANG_MARKERS],
    ).withColumn("m", F.greatest(*[F.col(f"s_{lang}") for lang in LANG_MARKERS]))
    pred = (
        F.when(F.col("s_de") == F.col("m"), "de")
        .when(F.col("s_en") == F.col("m"), "en")
        .when(F.col("s_es") == F.col("m"), "es")
        .when(F.col("s_fr") == F.col("m"), "fr")
        .otherwise("zh")
    )
    return scored.select(
        "doc_id",
        "lang",
        pred.alias("pred_lang"),
        F.col("m").alias("n_hits"),
        (pred == F.col("lang")).alias("is_match"),
    )


@register(
    "llm_text_quality",
    sql=f"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
         feat AS (
           SELECT doc_id,
                  len(w) AS n_words,
                  CAST(len(list_filter(w, x -> list_contains({_sw_array_sql()}, x)))
                       AS DOUBLE) / len(w) AS stop_ratio,
                  length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS n_punct
           FROM t
         )
         SELECT doc_id, n_words, round(stop_ratio, 6) AS stop_ratio, n_punct,
                score,
                CASE WHEN score >= 0.5 THEN 'high'
                     WHEN score >= 0.3 THEN 'medium'
                     ELSE 'low' END AS quality
         FROM (
           SELECT *,
                  round(least(1.0, greatest(0.0,
                        0.2 + n_words / 1000.0 + stop_ratio - 0.05 * n_punct)), 6)
                    AS score
           FROM feat
         )""",
)
def llm_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: linear blend of length, stopword ratio, and
    punctuation density, clamped to [0,1] and bucketed. Deliberately
    arithmetic-only (no exp) so both engines agree to the last bit before
    rounding. The blend weights are the tunable policy, not the plan.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    t = docs.select("doc_id", "text", F.split("text", " ").alias("w"))
    feat = t.select(
        "doc_id",
        F.size("w").alias("n_words"),
        (
            F.expr(f"size(filter(w, x -> array_contains({_sw_array_spark()}, x)))").cast(
                "double"
            )
            / F.size("w")
        ).alias("stop_ratio"),
        F.length(F.regexp_replace("text", "[a-z0-9 ]", "")).alias("n_punct"),
    )
    score = F.round(
        F.least(
            F.lit(1.0),
            F.greatest(
                F.lit(0.0),
                F.lit(0.2)
                + F.col("n_words") / 1000.0
                + F.col("stop_ratio")
                - 0.05 * F.col("n_punct"),
            ),
        ),
        6,
    )
    return feat.select(
        "doc_id",
        "n_words",
        F.round("stop_ratio", 6).alias("stop_ratio"),
        "n_punct",
        score.alias("score"),
        F.when(score >= 0.5, "high")
        .when(score >= 0.3, "medium")
        .otherwise("low")
        .alias("quality"),
    )


@register(
    "llm_text_tokens",
    sql=f"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
         SELECT doc_id,
                len(w) AS ws_tokens,
                len(regexp_extract_all(text, '{_BPE_RE}')) AS re_tokens,
                CAST(list_sum([CAST(ceil(length(x) / 4.0) AS BIGINT) for x in w])
                     AS BIGINT) AS est_subwords
         FROM t""",
)
def llm_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace split, a BPE-ish regex
    lexer (letter runs | digit runs | single symbols), and a subword
    estimate (ceil(len/4) per word ~ bytes-per-token heuristic)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    t = docs.select("doc_id", "text", F.split("text", " ").alias("w"))
    return t.select(
        "doc_id",
        F.size("w").alias("ws_tokens"),
        F.size(F.expr(f"regexp_extract_all(text, '{_BPE_RE}', 0)")).alias("re_tokens"),
        F.expr(
            "aggregate(w, 0L, (acc, x) -> acc + cast(ceil(length(x) / 4.0) as bigint))"
        ).alias("est_subwords"),
    )


# ------------------------------ L4l tokenizer vocabulary coverage audit
VOCAB_TOP_V = 16  # fixture-scale vocab cap (corpus vocab is 31 types)

_VOCAB_COVERAGE_SQL = f"""WITH st AS (
       SELECT source, token, count(*) AS cnt
       FROM (SELECT source, unnest(string_split(text, ' ')) AS token
             FROM documents)
       GROUP BY source, token),
     vocab AS (
       SELECT token FROM (
         SELECT token, sum(cnt) AS c FROM st GROUP BY token
         ORDER BY c DESC, token ASC LIMIT {VOCAB_TOP_V}))
     SELECT st.source,
            CAST(sum(st.cnt) AS BIGINT) AS n_tokens,
            CAST(sum(CASE WHEN v.token IS NOT NULL THEN st.cnt ELSE 0 END)
                 AS BIGINT) AS covered_tokens,
            CAST(count(CASE WHEN v.token IS NULL THEN 1 END) AS BIGINT)
              AS oov_types,
            round(1.0 - sum(CASE WHEN v.token IS NOT NULL THEN st.cnt ELSE 0 END)
                        / CAST(sum(st.cnt) AS DOUBLE), 6) AS oov_rate
     FROM st LEFT JOIN vocab v ON v.token = st.token
     GROUP BY st.source"""


@register("llm_vocab_coverage", sql=_VOCAB_COVERAGE_SQL)
def llm_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4l: tokenizer vocabulary coverage audit — the check run before
    committing to a fixed vocab: build the top-V token vocabulary by
    corpus frequency (ties broken lexicographically so the cut is
    deterministic in both engines), then measure per source how much of
    its token mass the vocab covers — total tokens, covered tokens,
    distinct out-of-vocab types, and the OOV rate a real tokenizer would
    pay as <unk>/byte-fallback on that source. V deliberately sits at
    half the fixture vocab so the rates carry signal.

    Scale shape: the ONLY corpus-scale exchange is the (source, token)
    combiner groupBy — hot tokens are absorbed map-side, and everything
    downstream operates on the types frame (|sources|×|vocab| rows, a
    different universe from corpus size). The top-V cut is a
    TakeOrderedAndProject over per-token sums of that frame (never a
    global corpus sort), and coverage joins the vocab back as a
    broadcast bounded at V rows by construction. The types frame is
    consumed twice (vocab cut + coverage roll-up = 2 corpus scans
    declaratively); a production pipeline persists it — it IS the
    tokenizer-training artifact."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return vocab_coverage(docs)


def vocab_coverage(docs: DataFrame, top_v: int | None = None) -> DataFrame:
    """llm_vocab_coverage's core over any (source, text) frame, with V
    overridable so tests can plant a frequency tie exactly at the vocab
    boundary and pin the lexicographic cut."""
    v = VOCAB_TOP_V if top_v is None else top_v
    st = (
        docs.select("source", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count("*").alias("cnt"))
    )
    vocab = (
        st.groupBy("token")
        .agg(F.sum("cnt").alias("c"))
        .orderBy(F.col("c").desc(), F.col("token").asc())
        .limit(v)
        .select("token", F.lit(True).alias("in_vocab"))
    )
    return (
        st.join(F.broadcast(vocab), "token", "left")
        .groupBy("source")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.sum(
                F.when(F.col("in_vocab"), F.col("cnt")).otherwise(F.lit(0))
            ).alias("covered_tokens"),
            F.count(F.when(F.col("in_vocab").isNull(), F.lit(1))).alias(
                "oov_types"
            ),
        )
        .select(
            "source",
            "n_tokens",
            "covered_tokens",
            "oov_types",
            F.round(
                1.0 - F.col("covered_tokens") / F.col("n_tokens"), 6
            ).alias("oov_rate"),
        )
    )


@register(
    "llm_text_fingerprint",
    sql="""WITH t AS (
           SELECT doc_id,
                  trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
           FROM documents
         ),
         sh AS (
           SELECT doc_id,
                  unnest(list_distinct([array_to_string(w[i:i+2], ' ')
                                        for i in generate_series(1, len(w)-2)])) AS s
           FROM (SELECT doc_id, string_split(norm, ' ') AS w FROM t)
           WHERE len(w) >= 3
         )
         SELECT t.doc_id,
                md5(t.norm) AS fp_full,
                list_reduce([CAST(0 AS BIGINT)] ||
                            [CAST(ascii(x) + length(x) AS BIGINT)
                             for x in string_split(t.norm, ' ')],
                            (a, b) -> (a * 31 + b) % 2147483647) AS fp_rolling,
                m.fp_min,
                m.n_shingles
         FROM t JOIN (
           SELECT doc_id, min(md5(s)) AS fp_min, count(*) AS n_shingles
           FROM sh GROUP BY doc_id
         ) m ON m.doc_id = t.doc_id""",
)
def llm_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 of the normalized text (whole-doc
    identity under case/punctuation noise), a Karp-Rabin rolling hash over
    the word stream (order-sensitive 31-base polynomial fold mod 2^31-1),
    and the min-shingle-hash winnow (robust near-dup fingerprint — the
    1-hash corner of MinHash). Normalization makes this the
    content-defined identity the catalog's deterministic uuids (F4) want
    for text payloads.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    t = docs.select(
        "doc_id",
        F.trim(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")
        ).alias("norm"),
    )
    w = t.select("doc_id", "norm", F.split("norm", " ").alias("w")).filter(
        F.size("w") >= 3
    )
    sh = w.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, size(w)-2),"
                    " i -> concat(w[i-1], ' ', w[i], ' ', w[i+1]))"
                )
            )
        ).alias("s"),
    )
    m = sh.groupBy("doc_id").agg(
        F.min(F.md5("s")).alias("fp_min"), F.count("*").alias("n_shingles")
    )
    rolling = F.expr(
        "aggregate(transform(split(norm, ' '), x -> cast(ascii(x) + length(x) as bigint)),"
        " 0L, (a, b) -> (a * 31 + b) % 2147483647L)"
    )
    return t.join(m, "doc_id").select(
        "doc_id",
        F.md5("norm").alias("fp_full"),
        rolling.alias("fp_rolling"),
        "fp_min",
        "n_shingles",
    )


# ------------------------------------------------------- L4f sequence packing
PACK_MAX_TOKENS = 512  # training sequence length (the packing chunk size)
PACK_SHARDS = 8  # independent packing streams; the parallelism knob


@register(
    "llm_sequence_pack",
    sql=f"""WITH t AS (
           SELECT doc_id,
                  doc_id % {PACK_SHARDS} AS shard,
                  len(string_split(text, ' ')) AS tokens
           FROM documents
         ),
         c AS (
           SELECT doc_id, shard, tokens,
                  coalesce(sum(tokens) OVER (
                    PARTITION BY shard ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ), 0) AS cum_before
           FROM t
         )
         SELECT doc_id, shard, tokens,
                CAST(cum_before // {PACK_MAX_TOKENS} AS BIGINT) AS seq_id,
                CAST(cum_before % {PACK_MAX_TOKENS} AS BIGINT) AS seq_offset,
                CAST((cum_before % {PACK_MAX_TOKENS} + tokens - 1)
                  // {PACK_MAX_TOKENS} + 1 AS BIGINT) AS spans
         FROM c""",
)
def llm_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4f: sequence packing — assign every document a (shard, seq_id,
    offset) slot in fixed-length training sequences, concat-then-chunk
    style: docs in a shard are concatenated in doc_id order and cut every
    PACK_MAX_TOKENS tokens, with boundary docs spanning into the next
    sequence (`spans` counts how many sequences a doc touches). This is
    the standard pretraining batch-prep step after curation.

    Plan: one shuffle on the shard key, then a per-shard running sum —
    all integer arithmetic, so parity with the oracle is exact. At 100 TB
    the shard count (not a constant — config) is sized to thousands so
    every packing stream is small and independent; the in-shard window is
    a single linear pass. Token counts use the whitespace tokenizer
    (llm_text_tokens.ws_tokens) so the two operators agree.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    t = docs.select(
        "doc_id",
        F.pmod("doc_id", F.lit(PACK_SHARDS)).alias("shard"),
        F.size(F.split("text", " ")).cast("long").alias("tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = t.withColumn(
        "cum_before", F.coalesce(F.sum("tokens").over(w), F.lit(0).cast("long"))
    )
    m = PACK_MAX_TOKENS
    return c.select(
        "doc_id",
        "shard",
        "tokens",
        F.expr(f"cum_before div {m}").alias("seq_id"),
        (F.col("cum_before") % m).alias("seq_offset"),
        F.expr(f"(cum_before % {m} + tokens - 1) div {m} + 1").alias("spans"),
    )


# alphabetical lang order again fixes the argmax tiebreak; ASCII-only
# trigrams (the corpus is ASCII; accents would need NFC normalization
# first at real scale)
TRIGRAM_PROFILES: dict[str, list[str]] = {
    "de": ["der", "die", "und", "sch", "ein", "ich"],
    "en": ["the", "ing", "and", "ion", "ed ", " th"],
    "es": ["que", "los", "de ", "ent", "ar ", "cion"],
    "fr": ["les", "ent", "eur", "ais", "de ", "une"],
    "zh": ["shi", "ang", "eng", "ong", "de ", "zh "],
}


def _tri_hits_spark(lang: str) -> str:
    arr = "array(" + ", ".join(f"'{g}'" for g in TRIGRAM_PROFILES[lang]) + ")"
    return f"size(filter(tg, g -> array_contains({arr}, g)))"


def _tri_hits_sql(lang: str) -> str:
    arr = "[" + ", ".join(f"'{g}'" for g in TRIGRAM_PROFILES[lang]) + "]"
    return f"len(list_filter(tg, g -> list_contains({arr}, g)))"


@register(
    "llm_text_langid_ngram",
    sql=f"""WITH t AS (
           SELECT doc_id, lang,
                  [substr(lower(text), i, 3)
                   for i in generate_series(1, length(text)-2)] AS tg
           FROM documents WHERE length(text) >= 3
         ),
         scored AS (
           SELECT doc_id, lang,
                  {_tri_hits_sql('de')} AS s_de,
                  {_tri_hits_sql('en')} AS s_en,
                  {_tri_hits_sql('es')} AS s_es,
                  {_tri_hits_sql('fr')} AS s_fr,
                  {_tri_hits_sql('zh')} AS s_zh
           FROM t
         )
         SELECT doc_id, lang,
                CASE WHEN s_de = m THEN 'de' WHEN s_en = m THEN 'en'
                     WHEN s_es = m THEN 'es' WHEN s_fr = m THEN 'fr'
                     ELSE 'zh' END AS pred_lang,
                m AS n_hits
         FROM (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_zh) AS m FROM scored)""",
)
def llm_text_langid_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram language ID: slide a 3-char window over the
    lowercased text and count hits against per-language trigram profiles;
    argmax with alphabetical tiebreak. The trigram scan is a pure
    projection (transform over sequence — no explode, no shuffle): at
    100 TB this runs at parquet-scan speed. Real profiles are larger
    lookup tables; the plan shape is identical.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    t = docs.filter(F.length("text") >= 3).select(
        "doc_id",
        "lang",
        F.expr(
            "transform(sequence(1, length(text)-2), i -> substring(lower(text), i, 3))"
        ).alias("tg"),
    )
    scored = t.select(
        "doc_id",
        "lang",
        *[
            F.expr(_tri_hits_spark(lang)).alias(f"s_{lang}")
            for lang in TRIGRAM_PROFILES
        ],
    ).withColumn("m", F.greatest(*[F.col(f"s_{lang}") for lang in TRIGRAM_PROFILES]))
    pred = (
        F.when(F.col("s_de") == F.col("m"), "de")
        .when(F.col("s_en") == F.col("m"), "en")
        .when(F.col("s_es") == F.col("m"), "es")
        .when(F.col("s_fr") == F.col("m"), "fr")
        .otherwise("zh")
    )
    return scored.select(
        "doc_id", "lang", pred.alias("pred_lang"), F.col("m").alias("n_hits")
    )


@register(
    "llm_corpus_curate",
    sql=f"""WITH hashed AS (
           SELECT doc_id, text, lang, md5(text) AS h,
                  row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
           FROM documents
         ),
         kept AS (SELECT doc_id, text, lang FROM hashed WHERE rn = 1),
         feat AS (
           SELECT doc_id, lang,
                  len(string_split(text, ' ')) AS n_words,
                  CAST(len(list_filter(string_split(text, ' '),
                                       x -> list_contains({_sw_array_sql()}, x)))
                       AS DOUBLE) / len(string_split(text, ' ')) AS stop_ratio,
                  length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS n_punct
           FROM kept
         )
         SELECT doc_id, n_words, score
         FROM (
           SELECT doc_id, n_words,
                  round(least(1.0, greatest(0.0,
                        0.2 + n_words / 1000.0 + stop_ratio - 0.05 * n_punct)), 6)
                    AS score
           FROM feat
         ) WHERE score >= 0.3""",
)
def llm_corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation pass a training-data pipeline runs end to
    end: exact dedup (keep lowest doc_id per content hash) -> quality
    score -> threshold gate. One DataFrame DAG: a window for the dedup
    (one shuffle on the content hash) and a pure projection for the rest
    — at 100 TB this is the whole corpus-prep job, and its only shuffle
    is the dedup key. Near-dup (minhash) and language gates chain in as
    additional filters without changing the shape.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    # keep-lowest-doc_id per content hash as a combiner min_by groupBy
    # (guide §2.5; result-identical to the oracle's row_number()=1:
    # doc_id is unique, so the argmin is the same row): partial
    # aggregation collapses duplicate classes map-side with no sort, and
    # a mega-duplicate-class can never funnel into one window task (the
    # same hot-key argument as the L9 n_members join-back).
    kept = (
        docs.groupBy(F.md5("text").alias("h"))
        .agg(F.min_by(F.struct("doc_id", "text"), F.col("doc_id")).alias("r"))
        .select(F.col("r.doc_id").alias("doc_id"), F.col("r.text").alias("text"))
    )
    t = kept.select("doc_id", "text", F.split("text", " ").alias("w"))
    feat = t.select(
        "doc_id",
        F.size("w").alias("n_words"),
        (
            F.expr(f"size(filter(w, x -> array_contains({_sw_array_spark()}, x)))").cast(
                "double"
            )
            / F.size("w")
        ).alias("stop_ratio"),
        F.length(F.regexp_replace("text", "[a-z0-9 ]", "")).alias("n_punct"),
    )
    score = F.round(
        F.least(
            F.lit(1.0),
            F.greatest(
                F.lit(0.0),
                F.lit(0.2)
                + F.col("n_words") / 1000.0
                + F.col("stop_ratio")
                - 0.05 * F.col("n_punct"),
            ),
        ),
        6,
    )
    return (
        feat.select("doc_id", "n_words", score.alias("score"))
        .filter(F.col("score") >= 0.3)
    )


# -------------------------------------------------- L6 sampling & scrubbing

# Per-mille keep rates per language for the stratified sample: English
# corpora are usually over-represented, so the strata downsample the rest
# harder. Deterministic: keep iff hash("sample:" || doc_id) mod 1000 < rate.
SAMPLE_RATES: dict[str, int] = {"en": 800, "de": 400, "es": 400, "fr": 400, "zh": 400}
_SAMPLE_DEFAULT = 200


def _sample_rate_sql(q: str = "") -> str:
    cases = " ".join(
        f"WHEN {q}lang = '{k}' THEN {v}" for k, v in sorted(SAMPLE_RATES.items())
    )
    return f"CASE {cases} ELSE {_SAMPLE_DEFAULT} END"


def _sample_pred_sql(q: str = "") -> str:
    """The deterministic keep-predicate, shared with the curation DAGs
    and the training-shard sink. ``q`` qualifies column references
    (e.g. "s.") for use inside joins — parameterized rather than
    post-hoc string surgery so predicate edits can't silently corrupt a
    qualified call site."""
    return (
        f"('0x' || substr(md5('sample:' || {q}doc_id::VARCHAR), 1, 15))::BIGINT"
        f" % 1000 < {_sample_rate_sql(q)}"
    )


def sample_rate_col():
    rate = F.lit(_SAMPLE_DEFAULT)
    for k, v in sorted(SAMPLE_RATES.items(), reverse=True):
        rate = F.when(F.col("lang") == k, v).otherwise(rate)
    return rate


def sample_bucket_col():
    return F.expr(
        "cast(conv(substr(md5(concat('sample:', cast(doc_id as string))), 1, 15),"
        " 16, 10) as bigint) % 1000"
    )


@register(
    "llm_corpus_sample",
    sql=f"""SELECT doc_id, lang, source
         FROM documents
         WHERE {_sample_pred_sql()}""",
)
def llm_corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6a: deterministic stratified corpus sampling — keep a per-language
    fraction of documents, reproducibly, with no RNG state: a document is
    kept iff md5("sample:" || doc_id) mod 1000 falls under its language's
    per-mille rate. This is how a 100 TB pipeline subsamples: a pure
    codegen filter (no shuffle, no sort, no driver coordination), stable
    across reruns and cluster sizes, and composable — tightening a rate
    always yields a subset of the looser sample (hash threshold
    monotonicity). Rates are per-language strata (SAMPLE_RATES)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return docs.filter(sample_bucket_col() < sample_rate_col()).select(
        "doc_id", "lang", "source"
    )


# PII patterns: explicit character classes only (no \d, no lookarounds) so
# Java regex (Spark) and RE2 (DuckDB) agree byte-for-byte.
PII_EMAIL = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]+"
PII_PHONE = "[+][0-9]{1,2}-[0-9]{3}-[0-9]{4}"
PII_IPV4 = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"


@register(
    "llm_text_pii_scrub",
    sql=f"""WITH enriched AS (
           SELECT doc_id,
                  text || ' contact user' || doc_id::VARCHAR
                       || '@example.com or +1-555-'
                       || lpad((doc_id % 9000 + 1000)::VARCHAR, 4, '0')
                       || ' from 10.0.' || (doc_id % 256)::VARCHAR || '.'
                       || ((doc_id * 7) % 256)::VARCHAR AS raw
           FROM documents
         ),
         scrubbed AS (
           SELECT doc_id, raw,
                  regexp_replace(regexp_replace(regexp_replace(raw,
                      '{PII_EMAIL}', '<EMAIL>', 'g'),
                      '{PII_PHONE}', '<PHONE>', 'g'),
                      '{PII_IPV4}', '<IP>', 'g') AS clean
           FROM enriched
         )
         SELECT doc_id, clean,
                len(regexp_extract_all(clean, '<EMAIL>|<PHONE>|<IP>'))
                  AS n_redactions
         FROM scrubbed""",
)
def llm_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6b: PII redaction — emails, phone numbers, IPv4 addresses replaced
    by typed placeholder tokens, with a per-document redaction count.

    The fixture corpus carries no PII, so the query first derives a
    deterministic PII-bearing column from (text, doc_id) — the same
    fixture-derivation pattern tables.py uses — then scrubs it; the
    oracle replays both steps. Patterns use explicit character classes
    only, the Java-regex/RE2 common subset, so both engines match the
    same spans. Pure chained regexp_replace projections: codegen,
    no shuffle, scan-speed at 100 TB."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 9000 + 1000).cast("string"), 4, "0"),
        F.lit(" from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit("."),
        ((F.col("doc_id") * 7) % 256).cast("string"),
    )
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(raw, PII_EMAIL, "<EMAIL>"),
            PII_PHONE,
            "<PHONE>",
        ),
        PII_IPV4,
        "<IP>",
    )
    return docs.select("doc_id", clean.alias("clean")).select(
        "doc_id",
        "clean",
        F.size(F.expr("regexp_extract_all(clean, '<EMAIL>|<PHONE>|<IP>', 0)")).alias(
            "n_redactions"
        ),
    )


NGRAM_TOP_K = 50


@register(
    "llm_token_ngram_topk",
    sql=f"""WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
         b AS (
           SELECT w[i] || ' ' || w[i + 1] AS bigram
           FROM t, unnest(generate_series(1, len(w) - 1)) AS g(i)
           WHERE len(w) >= 2
         )
         SELECT bigram, count(*) AS n
         FROM b GROUP BY bigram
         ORDER BY n DESC, bigram LIMIT {NGRAM_TOP_K}""",
)
def llm_token_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6c: corpus-wide top-k word bigrams — the vocabulary/contamination
    audit a training-data pipeline runs before tokenizer training.

    Bigrams come from a codegen array transform (no UDF); the count is a
    hash-partitioned groupBy with map-side partial aggregation (shuffle
    volume = distinct bigrams, not corpus size), and the top-k compiles
    to TakeOrderedAndProject — per-partition size-k heaps merged on the
    driver, no global sort. The (n DESC, bigram) tiebreak makes the
    boundary deterministic in both engines."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    w = docs.select(F.split("text", " ").alias("w")).filter(F.size("w") >= 2)
    bigrams = w.select(
        F.explode(
            F.expr("transform(sequence(1, size(w) - 1), i -> concat(w[i-1], ' ', w[i]))")
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(NGRAM_TOP_K)
    )


TFIDF_TOP_K = 5


def _tfidf_sql() -> str:
    """The L4k oracle of llm_text_tfidf_keywords."""
    return f"""WITH words AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS term
           FROM documents
         ),
         tf AS (
           SELECT doc_id, term, count(*) AS tf
           FROM words GROUP BY doc_id, term
         ),
         tfdf AS (
           SELECT doc_id, term, tf,
                  count(*) OVER (PARTITION BY term) AS df
           FROM tf
         ),
         ranked AS (
           SELECT doc_id, term, tf, df,
                  row_number() OVER (
                    PARTITION BY doc_id
                    ORDER BY tf DESC, df ASC, term ASC) AS rank
           FROM tfdf
         )
         SELECT doc_id, term, tf, df, rank
         FROM ranked WHERE rank <= {TFIDF_TOP_K}"""


@register("llm_text_tfidf_keywords", sql=_tfidf_sql())
def llm_text_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4k: per-document distinctive-keyword extraction — the tf-idf
    ranking every corpus indexer/labeler runs, kept on an EXACT integer
    ordering (tf DESC, df ASC, term ASC) instead of tf*ln(N/df) floats:
    the induced order is identical for any monotone idf weighting of a
    fixed corpus, and integer keys are bit-reproducible across engines
    (the L4g integer-grid discipline), so the DuckDB oracle hash-matches
    with no libm hazard.

    Plan: ONE corpus scan — the explode feeds a combiner groupBy on
    (doc_id, term), so shuffle volume past that point is distinct
    doc-term pairs, not token occurrences; document frequency is a count
    window over that same aggregated frame partitioned by term; the
    per-doc top-k rank then rides a second window keyed by doc_id,
    where Spark 4's WindowGroupLimit keeps only k rows per partition
    ahead of the final sort. Nothing occurrence-sized ever reaches the
    driver.

    Hot terms: unlike the winnow/L2g df caps, this window's per-term
    partition is the AGGREGATED (doc, term) frame — one row per
    document containing the term — and df rides every output row, so
    hot terms cannot be pruned away; the only choice is WHERE the
    per-term count happens. The term-keyed window was measured against
    a cached-tf combiner groupBy + join-back (BENCH_sf1.md): 27% faster
    at sf0.1 (1.49 vs 1.89 s) and 17% faster at sf10 (6.37 vs 7.67 s,
    500k docs, every term of a closed 31-word vocabulary maximally
    hot) — the cache materialization plus the extra exchange cost more
    than the window saves until a single term's doc list outgrows a
    task's spill-sort tolerance (~256 MB, billions of docs)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    tf = words.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    tfdf = tf.withColumn("df", F.count("*").over(Window.partitionBy("term")))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term")
    )
    return (
        tfdf.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "df", "rank")
    )


# Split thresholds in per-mille of the hash space: [0, 900) train,
# [900, 950) validation, [950, 1000) test. One namespaced hash per doc —
# disjoint from the "sample:" namespace so subsampling and splitting
# never correlate.
SPLIT_TRAIN_PM = 900
SPLIT_VALID_PM = 950


def _split_bucket_sql(q: str = "") -> str:
    return (
        f"('0x' || substr(md5('split:' || {q}doc_id::VARCHAR), 1, 15))::BIGINT"
        " % 1000"
    )


def split_bucket_col():
    return F.expr(
        "cast(conv(substr(md5(concat('split:', cast(doc_id as string))), 1, 15),"
        " 16, 10) as bigint) % 1000"
    )


@register(
    "llm_corpus_split",
    sql=f"""SELECT doc_id, lang, source,
                {_split_bucket_sql()} AS bucket,
                CASE WHEN {_split_bucket_sql()} < {SPLIT_TRAIN_PM} THEN 'train'
                     WHEN {_split_bucket_sql()} < {SPLIT_VALID_PM} THEN 'valid'
                     ELSE 'test' END AS split
         FROM documents""",
)
def llm_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6k: deterministic train/valid/test assignment — the holdout split
    every training run needs, as a pure hash projection rather than an
    RNG shuffle: doc d lands in the split its md5("split:"||doc_id)
    per-mille bucket selects (90/5/5). Properties a 100 TB pipeline
    leans on: (a) reproducible across reruns, cluster sizes, and
    partitionings — no RNG state, no ordering dependence; (b) stable
    under corpus growth — adding documents never reassigns existing
    ones (the property an epoch-over-epoch run needs so eval never
    trains); (c) independent of the "sample:" namespace used by L6a, so
    sampled subcorpora keep the same 90/5/5 composition in expectation.
    Zero shuffle: a codegen projection at scan speed; the downstream
    sink partitions by the split column (S11's layout)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    b = split_bucket_col()
    return docs.select(
        "doc_id",
        "lang",
        "source",
        b.alias("bucket"),
        F.when(b < SPLIT_TRAIN_PM, "train")
        .when(b < SPLIT_VALID_PM, "valid")
        .otherwise("test")
        .alias("split"),
    )


# ------------------------------------ L6k2 holdout leakage audit
def _split_case_spark(col: str) -> str:
    b = (
        f"cast(conv(substr(md5(concat('split:', cast({col} as string))),"
        " 1, 15), 16, 10) as bigint) % 1000"
    )
    return (
        f"case when {b} < {SPLIT_TRAIN_PM} then 'train'"
        f" when {b} < {SPLIT_VALID_PM} then 'valid' else 'test' end"
    )


def _split_case_sql(col: str) -> str:
    b = f"('0x' || substr(md5('split:' || {col}::VARCHAR), 1, 15))::BIGINT % 1000"
    return (
        f"CASE WHEN {b} < {SPLIT_TRAIN_PM} THEN 'train'"
        f" WHEN {b} < {SPLIT_VALID_PM} THEN 'valid' ELSE 'test' END"
    )


def _split_leakage_sql() -> str:
    from .dedup import _minhash_pairs_sql

    return f"""WITH pairs AS ({_minhash_pairs_sql()}),
         lab AS (
           SELECT doc_a, doc_b, jaccard,
                  {_split_case_sql("doc_a")} AS split_a,
                  {_split_case_sql("doc_b")} AS split_b
           FROM pairs
         ),
         leak AS (
           SELECT CASE WHEN split_a = 'train' THEN doc_b ELSE doc_a END
                    AS doc_id,
                  CASE WHEN split_a = 'train' THEN split_b ELSE split_a END
                    AS split,
                  jaccard
           FROM lab
           WHERE (split_a = 'train') != (split_b = 'train')
         )
         SELECT doc_id, split,
                count(*) AS n_train_dups,
                max(jaccard) AS max_jaccard
         FROM leak GROUP BY doc_id, split"""


@register("llm_split_leakage", sql=lambda: _split_leakage_sql())
def llm_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6k2: holdout leakage audit — the check that the L6k split's
    eval sets actually measure generalization: a valid/test document
    with a >=0.8-jaccard near-duplicate in train is contaminated (the
    model will have effectively seen it), and the honest responses are
    to drop it from eval or purge its train twins. Reports, per leaked
    eval doc, how many train near-dups it has and the worst jaccard —
    the artifact an eval-set release note cites. L7 decontaminates
    against an EXTERNAL benchmark table; this audits the corpus's OWN
    split, the hygiene step C4/Pile-style releases run after assigning
    holdouts.

    Scale shape: inherits L2a's LSH-banded candidate bound (never
    all-pairs); split labels are pure md5 functions of the doc ids
    already ON the pair frame, so labeling is a codegen projection —
    zero additional corpus scans or joins beyond the inherited pair DAG
    — and the final groupBy is keyed by eval doc over the LSH-bounded
    leak set (≤10% of pairs in expectation at a 90/10 split).
    Cross-engine: the per-mille bucket arithmetic is the exact L6k
    expression on both sides, so the leak verdicts replay bit-for-bit."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return split_leakage(docs)


def split_leakage(docs: DataFrame) -> DataFrame:
    """llm_split_leakage's core over any (doc_id, text) frame so tests
    can plant cross-split near-dups at hand-picked bucket ids."""
    from .dedup import minhash_pairs

    pairs = minhash_pairs(docs)
    lab = pairs.withColumn(
        "split_a", F.expr(_split_case_spark("doc_a"))
    ).withColumn("split_b", F.expr(_split_case_spark("doc_b")))
    leak = lab.filter(
        (F.col("split_a") == "train") != (F.col("split_b") == "train")
    ).select(
        F.when(F.col("split_a") == "train", F.col("doc_b"))
        .otherwise(F.col("doc_a"))
        .alias("doc_id"),
        F.when(F.col("split_a") == "train", F.col("split_b"))
        .otherwise(F.col("split_a"))
        .alias("split"),
        "jaccard",
    )
    return leak.groupBy("doc_id", "split").agg(
        F.count("*").alias("n_train_dups"),
        F.max("jaccard").alias("max_jaccard"),
    )


@register(
    "llm_embedding_quantize",
    sql="""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         s AS (
           SELECT vec_id, v,
                  coalesce(list_max([abs(x) for x in v]), 0) / 127.0 AS scale
           FROM e
         )
         SELECT vec_id,
                round(scale, 6) AS scale,
                CASE WHEN scale = 0
                     THEN array_to_string([0 for x in v], '|')
                     ELSE array_to_string(
                            [CAST(floor(x / scale + 0.5) AS INT) for x in v], '|')
                END AS q8
         FROM s""",
)
def llm_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6d: symmetric int8 embedding quantization — per-vector scale =
    max|x|/127, q_i = floor(x_i/scale + 0.5) in [-127, 127]. The standard
    4x storage/bandwidth shrink before ANN indexing at 100 TB scale.

    Pure projection (zero shuffle, codegen). floor(x + 0.5) instead of
    round() because both engines define floor identically on doubles,
    while round-half behavior differs across engines/types. The int8
    vector is emitted '|'-joined (driver canonicalization can't hash
    array columns); scale rides along so a dequantizer is
    q * scale."""
    emb = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    return quantize_projection(emb)


def quantize_projection(emb: DataFrame) -> DataFrame:
    """The L6d projection over any (vec_id, v: array<double>) frame; the
    scale==0 branch keeps all-zero vectors well-defined (q=0)."""
    s = emb.withColumn(
        "scale", F.expr("aggregate(v, 0D, (a, x) -> greatest(a, abs(x)))") / 127.0
    )
    q8 = F.when(
        F.col("scale") == 0,
        F.expr("array_join(transform(v, x -> 0), '|')"),
    ).otherwise(
        F.expr("array_join(transform(v, x -> cast(floor(x / scale + 0.5) as int)), '|')")
    )
    return s.select("vec_id", F.round("scale", 6).alias("scale"), q8.alias("q8"))


@register(
    "llm_corpus_mix_weights",
    sql="""WITH per_source AS (
           SELECT source, count(*) AS n_docs,
                  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
           FROM documents GROUP BY source
         ),
         tot AS (SELECT sum(tokens) AS t, count(*) AS n_sources FROM per_source)
         SELECT source, n_docs, tokens,
                round(tokens / t, 6) AS share,
                round((t / n_sources) / tokens, 6) AS uniform_weight
         FROM per_source, tot""",
)
def llm_corpus_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6e: corpus mixture audit — per-source document/token counts, the
    token share, and the resampling weight that would equalize the
    mixture (weight = target_share / actual_share with a uniform target;
    a real pipeline substitutes its tuned target vector — the plan is
    identical). Feeding these weights into llm_corpus_sample's per-stratum
    rates closes the loop: audit -> weights -> deterministic resample.

    One combiner groupBy over the corpus + a broadcast single-row total:
    at 100 TB the cost is one scan, shuffle volume = #sources."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    per_source = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("tokens"),
    )
    tot = per_source.agg(
        F.sum("tokens").alias("t"), F.count("*").alias("n_sources")
    )
    return per_source.join(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "tokens",
        F.round(F.col("tokens") / F.col("t"), 6).alias("share"),
        F.round((F.col("t") / F.col("n_sources")) / F.col("tokens"), 6).alias(
            "uniform_weight"
        ),
    )


# ------------------------------------ L6m per-source corpus report
def _corpus_report_sql() -> str:
    return f"""WITH scored AS ({quality_score_sql()}),
         d AS (
           SELECT d.source, d.lang, md5(d.text) AS h,
                  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
                  CAST(floor(s.score * 1000000 + 0.5) AS BIGINT) AS score_micro,
                  CASE WHEN {_split_bucket_sql("d.")} >= {SPLIT_TRAIN_PM}
                       THEN 1 ELSE 0 END AS is_eval
           FROM documents d JOIN scored s ON s.doc_id = d.doc_id
         ),
         per_source AS (
           SELECT source,
                  count(*) AS n_docs,
                  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
                  count(*) - count(DISTINCT h) AS n_dup_docs,
                  count(DISTINCT lang) AS n_langs,
                  CAST(sum(score_micro) AS BIGINT) // count(*)
                    AS mean_score_micro,
                  CAST(sum(is_eval) AS BIGINT) AS n_eval_docs
           FROM d GROUP BY source
         )
         SELECT *,
                round(n_tokens / CAST(sum(n_tokens) OVER () AS DOUBLE), 6)
                  AS token_share
         FROM per_source"""


@register("llm_corpus_report", sql=lambda: _corpus_report_sql())
def llm_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6m: the dataset-card audit — one frame per source carrying the
    numbers a corpus release note publishes and a mixture designer reads
    first: doc/token counts and token share, exact-duplicate docs (docs
    minus distinct content hashes — the within-source redundancy L1
    would remove), language diversity, mean L4c quality on the exact
    micro grid (integer sum + integer division, no float-summation-order
    hazard in the hash), and how many docs the L6k split holds out of
    training. Composes the shared scoring policy (score.py — one
    definition with L4c/L9c/the curation DAGs) and the L6k split hash;
    the heavier audits stay their own queries (near-dup rate L2h,
    leakage L6k2, drift L6i) — this is the one-scan summary those
    deep-dives hang off.

    Plan (100 TB): score/hash/split are codegen projections riding ONE
    corpus scan into ONE groupBy(source) — the two distinct aggregates
    (content hash, lang) Expand the input 3x inside the same exchange,
    the documented cost of exact dup/diversity counts (swap to
    approx_count_distinct past ~1e10 docs/source if 3x is real money —
    a REAL code path, corpus_report(distinct_mode='approx'), whose
    forced-path test pins the HLL rsd bands against the exact twin);
    token share joins in from a global window over the tiny per-source
    frame, the L6l pattern, no second corpus scan."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return corpus_report(docs)


def corpus_report(
    docs: DataFrame, distinct_mode: str = "exact", rsd: float = 0.02
) -> DataFrame:
    """llm_corpus_report's core over any (doc_id, text, lang, source)
    frame so tests can replay every column against a Python recompute.

    ``distinct_mode='approx'`` is the DOCUMENTED past-~1e10-docs-per-
    source escape hatch run for real: the two exact distinct aggregates
    (content hash, lang) become approx_count_distinct sketches at
    ``rsd``, removing the 3x Expand from the exchange; the forced-path
    test runs it against the exact twin and asserts the HLL error bands
    the L6m plan note prices (the agg_approx_distinct self-certification
    pattern)."""
    if distinct_mode not in ("exact", "approx"):
        raise ValueError(f"bad corpus-report distinct_mode {distinct_mode!r}")
    if distinct_mode == "approx":
        n_dup = F.count("*") - F.approx_count_distinct("h", rsd)
        n_langs = F.approx_count_distinct("lang", rsd)
    else:
        n_dup = F.count("*") - F.countDistinct("h")
        n_langs = F.countDistinct("lang")
    per_doc = docs.select(
        "source",
        "lang",
        F.md5("text").alias("h"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        F.floor(quality_score_col() * 1_000_000 + F.lit(0.5))
        .cast("bigint")
        .alias("score_micro"),
        (split_bucket_col() >= SPLIT_TRAIN_PM).cast("bigint").alias("is_eval"),
    )
    per_source = per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        n_dup.alias("n_dup_docs"),
        n_langs.alias("n_langs"),
        F.expr("div(sum(score_micro), count(*))").alias("mean_score_micro"),
        F.sum("is_eval").alias("n_eval_docs"),
    )
    wg = Window.partitionBy()
    return per_source.withColumn(
        "token_share",
        F.round(F.col("n_tokens") / F.sum("n_tokens").over(wg), 6),
    )


# ------------------------------------ L6l mixture materialization
MIX_SEED = 7
MIX_BUCKETS = 16  # top-4-bit ranges of the 60-bit priority key
_MIX_BUCKET_DIV = 1 << 56  # 60-bit key div 2^56 -> 16 range buckets


def _mix_key_spark() -> str:
    return (
        f"cast(conv(substr(md5(concat('mix:{MIX_SEED}:', "
        "cast(doc_id as string))), 1, 15), 16, 10) as bigint)"
    )


_MIX_SAMPLE_SQL = f"""WITH tok AS (
       SELECT doc_id, source,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
              ('0x' || substr(md5('mix:{MIX_SEED}:' || CAST(doc_id AS VARCHAR)),
                              1, 15))::BIGINT AS k
       FROM documents),
     tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
                    count(DISTINCT source) AS ns FROM tok),
     cum AS (
       SELECT doc_id, source, n_tokens,
              CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY k, doc_id)
                   AS BIGINT) AS cum_tokens
       FROM tok)
     SELECT doc_id, source, n_tokens, cum_tokens
     FROM cum, tot
     WHERE cum_tokens - n_tokens < total // ns"""


@register("llm_corpus_mix_sample", sql=_MIX_SAMPLE_SQL)
def llm_corpus_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6l: mixture MATERIALIZATION — the executor for the per-source
    token budgets that llm_corpus_mix_weights only audits. Each source
    contributes docs in deterministic hash-priority order (priority =
    md5-derived 60-bit key of the doc id, seed-bumpable like L6g's
    shuffle) until its cumulative token count reaches the target budget
    (uniform total/n_sources here; a tuned target vector joins in the
    same shape), including the budget-crossing doc so every non-empty
    source is represented. Selection depends only on data values — the
    sampled mixture is reproducible across reruns, cluster sizes, and
    partition counts.

    The naive plan is a window cumsum partitioned by source — ONE task
    per source, a straggler factory when a 100 TB corpus has 20 sources.
    This runs the classic DISTRIBUTED PREFIX SUM instead: (1) bucket each
    doc by the top 4 bits of its priority key (range buckets, so bucket
    order == priority order), (2) one combiner groupBy to per-
    (source, bucket) token sums — a sources×16 frame, (3) a tiny window
    cumsum over that frame yields each bucket's starting offset, (4)
    broadcast the offsets back and window-cumsum WITHIN (source, bucket)
    partitions — 16× the parallelism of the naive plan, raise
    MIX_BUCKETS for more. MEASURED (scripts/mix_strategy_probe.py,
    BENCH_sf1.md): 4.2–4.6× faster than the naive window on 90/10-skew
    frames at 1M–8M rows with bit-identical selections; the naive plan
    wins below ~100k rows (extra-stage overhead), so the two-phase
    shape is a deliberate scale choice. The per-doc running total is
    offset + local cumsum, identical to the oracle's single global
    window by construction (the oracle deliberately keeps the naive
    formulation so the two plans cross-check). All arithmetic is exact
    bigint — no float-summation-order hazard in the budget
    comparison."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return mix_sample(docs)


def mix_sample(docs: DataFrame) -> DataFrame:
    """llm_corpus_mix_sample's core over any (doc_id, source, text) frame
    so tests can replay the selection against an independent Python
    recompute and prove input-row-order invariance."""
    tok = docs.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        F.expr(_mix_key_spark()).alias("k"),
    )
    return mix_select(tok)


def mix_select(tok: DataFrame) -> DataFrame:
    """The two-phase prefix-sum selection over a prepared
    (doc_id, source, n_tokens, k) frame — split out so the strategy
    probe (scripts/mix_strategy_probe.py) can feed synthetic token
    frames of arbitrary size/skew without materializing text."""
    tok = tok.withColumn("bucket", F.expr(f"k div {_MIX_BUCKET_DIV}"))
    per_bucket = tok.groupBy("source", "bucket").agg(
        F.sum("n_tokens").alias("b_tokens")
    )
    # The budget (total div ns) rides along in the SAME tiny frame as the
    # bucket offsets — global unbounded windows over sources×16 rows (the
    # single-partition move Spark warns about is exactly that many rows)
    # — so the corpus lineage is consumed once here, not re-scanned for a
    # separate 1-row total, and the budget enters the probe side through
    # the one broadcast equi-join instead of a nested-loop join.
    wb = Window.partitionBy("source").orderBy("bucket")
    wg = Window.partitionBy()
    offsets = (
        per_bucket.withColumn(
            "b_off", F.sum("b_tokens").over(wb) - F.col("b_tokens")
        )
        .withColumn(
            "is_first", (F.row_number().over(wb) == 1).cast("bigint")
        )
        .withColumn("total", F.sum("b_tokens").over(wg))
        .withColumn("ns", F.sum("is_first").over(wg))
        .select(
            "source", "bucket", "b_off", F.expr("total div ns").alias("t_target")
        )
    )
    wd = Window.partitionBy("source", "bucket").orderBy("k", "doc_id")
    return (
        tok.join(F.broadcast(offsets), ["source", "bucket"])
        .withColumn("cum_tokens", F.col("b_off") + F.sum("n_tokens").over(wd))
        .filter(F.col("cum_tokens") - F.col("n_tokens") < F.col("t_target"))
        .select("doc_id", "source", "n_tokens", "cum_tokens")
    )


def _curate_full_sql() -> str:
    from .dedup import _contamination_sql

    from .dedup import NORM_SQL

    return f"""WITH norm_docs AS (
           SELECT doc_id, text, lang, {NORM_SQL} AS norm
           FROM documents
         ),
         kept AS (
           SELECT doc_id, text, lang FROM (
             SELECT *, row_number() OVER (PARTITION BY md5(norm) ORDER BY doc_id) AS rn
             FROM norm_docs
           ) WHERE rn = 1
         ),
         contaminated AS (
           SELECT DISTINCT doc_id FROM ({_contamination_sql()})
         ),
         clean AS (
           SELECT k.* FROM kept k
           WHERE k.doc_id NOT IN (SELECT doc_id FROM contaminated)
         ),
         feat AS (
           SELECT doc_id, lang,
                  len(string_split(text, ' ')) AS n_words,
                  CAST(len(list_filter(string_split(text, ' '),
                                       x -> list_contains({_sw_array_sql()}, x)))
                       AS DOUBLE) / len(string_split(text, ' ')) AS stop_ratio,
                  length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS n_punct
           FROM clean
         ),
         scored AS (
           SELECT doc_id, lang, n_words,
                  round(least(1.0, greatest(0.0,
                        0.2 + n_words / 1000.0 + stop_ratio - 0.05 * n_punct)), 6)
                    AS score
           FROM feat
         )
         SELECT doc_id, lang, n_words, score
         FROM scored
         WHERE score >= 0.3
           AND {_sample_pred_sql()}"""


@register("llm_corpus_curate_full", sql=_curate_full_sql())
def llm_corpus_curate_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE training-data curation pass as one DAG — what a 100 TB
    corpus job actually runs end to end:

        normalize-dedup (L1b, keep lowest doc_id per normalized hash)
        -> decontaminate (L7, drop docs covering >=50% of an eval doc)
        -> quality gate (L4c arithmetic score >= 0.3)
        -> stratified sample (L6a per-language hash-threshold rates)

    Shuffle budget (pinned ≤7 in tests/test_plans.py, no nested-loop
    joins anywhere): one wide shuffle for the dedup window, the
    contamination sub-DAG's aggregates (all bounded by the small
    eval-derived side; its verdict enters via a broadcast anti-join),
    and the two spread() repartitions of the narrow doc scan. The
    quality and sample gates are free codegen projections riding the
    dedup stage — curation costs barely more than dedup plus the (tiny)
    contamination audit, which is the point of one declarative DAG over
    sequential materialized passes."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return curate_full(docs)


def curate_full(docs: DataFrame) -> DataFrame:
    """llm_corpus_curate_full's core over any (doc_id, text, lang) frame
    (fuzz differential in tests/test_fuzz_differential.py)."""
    from .dedup import contamination_pairs, norm_expr

    # normalize-dedup as a combiner min_by groupBy — same r14 rewrite and
    # result-identity argument as llm_corpus_curate's kept stage.
    kept = (
        docs.select("doc_id", "text", "lang", norm_expr().alias("norm"))
        .groupBy(F.md5("norm").alias("h"))
        .agg(
            F.min_by(F.struct("doc_id", "text", "lang"), F.col("doc_id")).alias("r")
        )
        .select(
            F.col("r.doc_id").alias("doc_id"),
            F.col("r.text").alias("text"),
            F.col("r.lang").alias("lang"),
        )
    )
    contaminated = contamination_pairs(docs).select("doc_id").distinct()
    clean = kept.join(F.broadcast(contaminated), "doc_id", "left_anti")
    t = clean.select("doc_id", "lang", "text", F.split("text", " ").alias("w"))
    feat = t.select(
        "doc_id",
        "lang",
        F.size("w").alias("n_words"),
        (
            F.expr(f"size(filter(w, x -> array_contains({_sw_array_spark()}, x)))").cast(
                "double"
            )
            / F.size("w")
        ).alias("stop_ratio"),
        F.length(F.regexp_replace("text", "[a-z0-9 ]", "")).alias("n_punct"),
    )
    score = F.round(
        F.least(
            F.lit(1.0),
            F.greatest(
                F.lit(0.0),
                F.lit(0.2)
                + F.col("n_words") / 1000.0
                + F.col("stop_ratio")
                - 0.05 * F.col("n_punct"),
            ),
        ),
        6,
    )
    return (
        feat.select("doc_id", "lang", "n_words", score.alias("score"))
        .filter((F.col("score") >= 0.3) & (sample_bucket_col() < sample_rate_col()))
    )


# ------------------------------------------- L6f within-doc repetition
@register(
    "llm_text_repetition",
    sql="""WITH t AS (
           SELECT doc_id, string_split(text, ' ') AS w FROM documents
         ),
         base AS (
           SELECT doc_id, w, len(w) AS n_words,
                  round(1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6)
                    AS dup_word_frac,
                  len(list_filter(generate_series(2, len(w)),
                                  i -> w[i] = w[i - 1])) AS n_adjacent_repeats
           FROM t WHERE len(w) >= 2
         ),
         b AS (
           SELECT doc_id, n_words, dup_word_frac, n_adjacent_repeats,
                  w[i] || ' ' || w[i + 1] AS bigram
           FROM base, unnest(generate_series(1, len(w) - 1)) AS g(i)
         ),
         counts AS (
           SELECT doc_id, n_words, dup_word_frac, n_adjacent_repeats,
                  bigram, count(*) AS n
           FROM b GROUP BY ALL
         )
         SELECT doc_id, n_words, dup_word_frac, n_adjacent_repeats,
                max_by(bigram, lpad(n::VARCHAR, 12, '0') || ' ' || bigram)
                  AS top_bigram,
                round(2.0 * max(n) / n_words, 6) AS top_bigram_frac
         FROM counts
         GROUP BY doc_id, n_words, dup_word_frac, n_adjacent_repeats""",
)
def llm_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6f: within-document repetition metrics — the Gopher/MassiveText
    repetition filters (duplicate-word fraction, most-frequent-bigram
    occupancy, adjacent-word stutter count) that catch boilerplate and
    degenerate generations BEFORE they poison dedup scores or training.
    Distinct from llm_span_dedup_audit, which finds spans repeated
    ACROSS documents; this finds repetition INSIDE one document.

    Shape: duplicate-word fraction and adjacent-repeat count are pure
    array expressions riding the scan (codegen, shuffle-free). The
    most-frequent bigram needs per-(doc, bigram) counting: explode ->
    groupBy(doc_id, bigram) -> groupBy(doc_id) with max(struct(n,
    bigram)) — two hash shuffles keyed by doc_id(+bigram), both with
    map-side partial aggregation, no join back because the per-doc scalar
    metrics travel as (constant) grouping keys. At 100 TB this is the
    same bounded-fan-out shape as llm_token_ngram_topk: shuffle volume =
    distinct (doc, bigram) pairs, never corpus bytes. The (n, bigram)
    struct max makes the tie-break deterministic in both engines
    (largest count, then lexicographically largest bigram).
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    base = (
        docs.select("doc_id", F.split("text", " ").alias("w"))
        .filter(F.size("w") >= 2)
        .select(
            "doc_id",
            "w",
            F.size("w").alias("n_words"),
            F.round(
                1.0 - F.size(F.array_distinct("w")).cast("double") / F.size("w"), 6
            ).alias("dup_word_frac"),
            F.expr(
                "size(filter(sequence(1, size(w) - 1), i -> w[i] = w[i - 1]))"
            ).alias("n_adjacent_repeats"),
        )
    )
    counts = (
        base.select(
            "doc_id",
            "n_words",
            "dup_word_frac",
            "n_adjacent_repeats",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1), i -> concat(w[i-1], ' ', w[i]))"
                )
            ).alias("bigram"),
        )
        .groupBy("doc_id", "n_words", "dup_word_frac", "n_adjacent_repeats", "bigram")
        .agg(F.count("*").alias("n"))
    )
    top = counts.groupBy(
        "doc_id", "n_words", "dup_word_frac", "n_adjacent_repeats"
    ).agg(F.max(F.struct("n", "bigram")).alias("t"))
    return top.select(
        "doc_id",
        "n_words",
        "dup_word_frac",
        "n_adjacent_repeats",
        F.col("t.bigram").alias("top_bigram"),
        F.round(2.0 * F.col("t.n") / F.col("n_words"), 6).alias("top_bigram_frac"),
    )


# --------------------------------------- L6g deterministic shuffle+shard
N_SHARDS = 8
SHUFFLE_SEED = 42


@register(
    "llm_corpus_shuffle_shard",
    sql=f"""WITH keyed AS (
           SELECT doc_id,
                  ('0x' || substr(md5('shuffle:{SHUFFLE_SEED}:' || doc_id::VARCHAR),
                                  1, 15))::BIGINT AS shuffle_key
           FROM documents
         )
         SELECT doc_id, shuffle_key,
                shuffle_key % {N_SHARDS} AS shard,
                row_number() OVER (PARTITION BY shuffle_key % {N_SHARDS}
                                   ORDER BY shuffle_key, doc_id) AS pos
         FROM keyed""",
)
def llm_corpus_shuffle_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6g: deterministic corpus shuffle + shard assignment — the global
    example-order randomization every training run needs, with no RNG
    state: shuffle_key = md5("shuffle:<seed>:" || doc_id), shard =
    key mod N_SHARDS, pos = rank within the shard by key. Reshuffling is
    a seed bump; the order is reproducible across reruns, cluster sizes,
    and partition counts (nothing depends on input row order).

    Scale shape: NO global sort — the plan is one hash exchange on the
    shard id followed by an independent per-shard local sort, exactly how
    a 100 TB corpus is written as N training shards (in practice N is
    thousands, so each local sort fits an executor; the md5 key makes
    shard sizes uniform, no skew). Within-shard order + uniform random
    shard membership together give the stochastic global order SGD
    wants without ever total-ordering the corpus."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    keyed = docs.select(
        "doc_id",
        F.expr(
            f"cast(conv(substr(md5(concat('shuffle:{SHUFFLE_SEED}:',"
            " cast(doc_id as string))), 1, 15), 16, 10) as bigint)"
        ).alias("shuffle_key"),
    )
    w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    return (
        keyed.withColumn("shard", F.col("shuffle_key") % N_SHARDS)
        .withColumn("pos", F.row_number().over(w))
        .select("doc_id", "shuffle_key", "shard", "pos")
    )


# ---------------------------------------- L6h quality-gate calibration
KEEP_RATES = (0.9, 0.5, 0.1)  # keep-rate targets -> score quantiles 1-q


@register(
    "llm_quality_calibrate",
    sql=f"""WITH t AS (SELECT doc_id, lang, text, string_split(text, ' ') AS w
                     FROM documents),
         feat AS (
           SELECT doc_id, lang,
                  len(w) AS n_words,
                  CAST(len(list_filter(w, x -> list_contains({_sw_array_sql()}, x)))
                       AS DOUBLE) / len(w) AS stop_ratio,
                  length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS n_punct
           FROM t
         ),
         scored AS (
           SELECT lang,
                  round(least(1.0, greatest(0.0,
                        0.2 + n_words / 1000.0 + stop_ratio - 0.05 * n_punct)), 6)
                    AS score
           FROM feat
         )
         SELECT lang, count(*) AS n_docs,
                round(quantile_cont(score, 0.1), 6) AS thr_keep90,
                round(quantile_cont(score, 0.5), 6) AS thr_keep50,
                round(quantile_cont(score, 0.9), 6) AS thr_keep10
         FROM scored GROUP BY lang""",
)
def llm_quality_calibrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6h: quality-gate calibration — the per-language score thresholds
    that would keep 90% / 50% / 10% of documents. A production curation
    run doesn't hardcode 0.3 (the L4c gate); it picks the cut from the
    score DISTRIBUTION to hit a token budget, per stratum so one
    language's verbose docs don't starve another. Gate with
    score >= thr_keepQ to keep the top Q fraction.

    One codegen score projection riding the scan + one combiner groupBy:
    threshold selection costs one aggregation over score values, nothing
    else. Exact interpolated percentiles match DuckDB's quantile_cont
    definition bit-for-bit (same pattern as agg_storage_percentiles); at
    100 TB swap approx_percentile's mergeable t-digest — plan shape
    unchanged."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    t = docs.select("doc_id", "lang", "text", F.split("text", " ").alias("w"))
    feat = t.select(
        "lang",
        F.size("w").alias("n_words"),
        (
            F.expr(f"size(filter(w, x -> array_contains({_sw_array_spark()}, x)))").cast(
                "double"
            )
            / F.size("w")
        ).alias("stop_ratio"),
        F.length(F.regexp_replace("text", "[a-z0-9 ]", "")).alias("n_punct"),
    )
    score = F.round(
        F.least(
            F.lit(1.0),
            F.greatest(
                F.lit(0.0),
                F.lit(0.2)
                + F.col("n_words") / 1000.0
                + F.col("stop_ratio")
                - 0.05 * F.col("n_punct"),
            ),
        ),
        6,
    )
    pct = F.expr("percentile(score, array(0.1D, 0.5D, 0.9D))")
    return (
        feat.select("lang", score.alias("score"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"), pct.alias("p"))
        .select(
            "lang",
            "n_docs",
            F.round(F.col("p")[0], 6).alias("thr_keep90"),
            F.round(F.col("p")[1], 6).alias("thr_keep50"),
            F.round(F.col("p")[2], 6).alias("thr_keep10"),
        )
    )


# ------------------------------------------ L10b curation DAG v2
REP_MAX_BIGRAM_FRAC = 0.5  # drop docs whose top bigram occupies > half the words


def _curate_v2_sql() -> str:
    from .dedup import NORM_SQL, _contamination_sql

    return f"""WITH norm_docs AS (
           SELECT doc_id, text, lang, {NORM_SQL} AS norm FROM documents
         ),
         kept AS (
           SELECT doc_id, text, lang FROM (
             SELECT *, row_number() OVER (PARTITION BY md5(norm) ORDER BY doc_id) AS rn
             FROM norm_docs
           ) WHERE rn = 1
         ),
         contaminated AS (
           SELECT DISTINCT doc_id FROM ({_contamination_sql()})
         ),
         clean AS (
           SELECT k.* FROM kept k
           WHERE k.doc_id NOT IN (SELECT doc_id FROM contaminated)
         ),
         feat AS (
           SELECT doc_id, lang,
                  len(string_split(text, ' ')) AS n_words,
                  CAST(len(list_filter(string_split(text, ' '),
                                       x -> list_contains({_sw_array_sql()}, x)))
                       AS DOUBLE) / len(string_split(text, ' ')) AS stop_ratio,
                  length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS n_punct
           FROM clean
         ),
         scored AS (
           SELECT doc_id, lang, n_words,
                  round(least(1.0, greatest(0.0,
                        0.2 + n_words / 1000.0 + stop_ratio - 0.05 * n_punct)), 6)
                    AS score
           FROM feat
         ),
         rep AS (
           SELECT doc_id, max(cnt) AS top_cnt FROM (
             SELECT doc_id, w[i] || ' ' || w[i + 1] AS bigram, count(*) AS cnt
             FROM (SELECT doc_id, string_split(text, ' ') AS w FROM clean
                   WHERE len(string_split(text, ' ')) >= 2),
                  unnest(generate_series(1, len(w) - 1)) AS g(i)
             GROUP BY doc_id, bigram
           ) GROUP BY doc_id
         ),
         corpus_scored AS (
           SELECT lang,
                  round(least(1.0, greatest(0.0,
                        0.2 + len(string_split(text, ' ')) / 1000.0
                        + CAST(len(list_filter(string_split(text, ' '),
                                   x -> list_contains({_sw_array_sql()}, x)))
                               AS DOUBLE) / len(string_split(text, ' '))
                        - 0.05 * length(regexp_replace(text, '[a-z0-9 ]', '', 'g')))), 6)
                    AS score
           FROM documents
         ),
         thr AS (
           SELECT lang, round(quantile_cont(score, 0.5), 6) AS thr
           FROM corpus_scored GROUP BY lang
         )
         SELECT s.doc_id, s.lang, s.n_words, s.score
         FROM scored s
         JOIN rep r ON r.doc_id = s.doc_id
         JOIN thr t ON t.lang = s.lang
         WHERE 2.0 * r.top_cnt / s.n_words <= {REP_MAX_BIGRAM_FRAC}
           AND s.score >= t.thr
           AND {_sample_pred_sql("s.")}"""


@register("llm_corpus_curate_v2", sql=_curate_v2_sql())
def llm_corpus_curate_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L10b: curation DAG v2 — v1 (normalize-dedup -> decontaminate ->
    quality gate -> sample) upgraded with this round's operators: the
    Gopher repetition gate (drop docs whose top bigram occupies more
    than half the words; degenerate <2-word docs drop via the inner
    join) and a CALIBRATED quality threshold — the per-language median
    score of the FULL corpus (L6h's keep-50 cut) instead of a hardcoded
    0.3, so the gate adapts to the corpus distribution.

    Plan additions over v1: the repetition sub-DAG's two combiner
    groupBys keyed by doc_id(+bigram) joined back on doc_id, and the
    threshold table — a per-language aggregate (5 rows) entering via
    BROADCAST join. Still zero pair joins; the corpus text is scanned
    twice (curation chain + threshold calibration), each pass
    embarrassingly parallel. At 100 TB calibrate on a hash sample or a
    prior epoch's distribution to get back to one pass."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return curate_v2(docs)


def curate_v2(docs: DataFrame) -> DataFrame:
    """llm_corpus_curate_v2's core over any (doc_id, text, lang) frame
    (fuzz differential in tests/test_fuzz_differential.py)."""
    from .dedup import contamination_pairs, norm_expr

    w_d = Window.partitionBy(F.md5("norm")).orderBy("doc_id")
    kept = (
        docs.select("doc_id", "text", "lang", norm_expr().alias("norm"))
        .withColumn("rn", F.row_number().over(w_d))
        .filter(F.col("rn") == 1)
        .select("doc_id", "text", "lang")
    )
    contaminated = contamination_pairs(docs).select("doc_id").distinct()
    clean = kept.join(F.broadcast(contaminated), "doc_id", "left_anti")

    def score_over(df):
        t = df.select("doc_id", "lang", "text", F.split("text", " ").alias("w"))
        feat = t.select(
            "doc_id",
            "lang",
            F.size("w").alias("n_words"),
            (
                F.expr(
                    f"size(filter(w, x -> array_contains({_sw_array_spark()}, x)))"
                ).cast("double")
                / F.size("w")
            ).alias("stop_ratio"),
            F.length(F.regexp_replace("text", "[a-z0-9 ]", "")).alias("n_punct"),
        )
        return feat.select(
            "doc_id",
            "lang",
            "n_words",
            F.round(
                F.least(
                    F.lit(1.0),
                    F.greatest(
                        F.lit(0.0),
                        F.lit(0.2)
                        + F.col("n_words") / 1000.0
                        + F.col("stop_ratio")
                        - 0.05 * F.col("n_punct"),
                    ),
                ),
                6,
            ).alias("score"),
        )

    scored = score_over(clean)
    rep = (
        clean.select("doc_id", F.split("text", " ").alias("w"))
        .filter(F.size("w") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1), i -> concat(w[i-1], ' ', w[i]))"
                )
            ).alias("bigram"),
        )
        .groupBy("doc_id", "bigram")
        .agg(F.count("*").alias("cnt"))
        .groupBy("doc_id")
        .agg(F.max("cnt").alias("top_cnt"))
    )
    thr = (
        score_over(docs)
        .groupBy("lang")
        .agg(F.round(F.expr("percentile(score, 0.5D)"), 6).alias("thr"))
    )
    return (
        scored.join(rep, "doc_id")
        .join(F.broadcast(thr), "lang")
        .filter(
            (2.0 * F.col("top_cnt") / F.col("n_words") <= REP_MAX_BIGRAM_FRAC)
            & (F.col("score") >= F.col("thr"))
            & (sample_bucket_col() < sample_rate_col())
        )
        .select("doc_id", "lang", "n_words", "score")
    )


# ------------------------------------------ L4g unigram-LM logprob score
# The count-based cousin of KenLM-perplexity quality filters (CCNet /
# Gopher keep docs whose LM score is unsurprising): score every doc by
# its add-one-smoothed corpus unigram log-likelihood.


def _logprob_sql() -> str:
    return """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                      FROM documents),
         tc AS (SELECT doc_id, w, count(*) AS k FROM t GROUP BY doc_id, w),
         vocab AS (SELECT w, CAST(sum(k) AS BIGINT) AS n FROM tc GROUP BY w),
         tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
                        count(*) AS vv FROM vocab)
         SELECT tc.doc_id,
                CAST(sum(tc.k) AS BIGINT) AS n_tokens,
                CAST(sum(tc.k * CAST(round(
                       ln(CAST(vocab.n + 1 AS DOUBLE)
                          / CAST(tot.nn + tot.vv AS DOUBLE)) * 1000000)
                     AS BIGINT)) AS BIGINT) AS logprob_micro
         FROM tc JOIN vocab USING (w), tot
         GROUP BY tc.doc_id"""


@register("llm_text_logprob", sql=_logprob_sql())
def llm_text_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4g: unigram-LM log-likelihood per doc — the count-based form of
    the perplexity quality gate (CCNet-style: docs whose token
    distribution is far from the corpus LM are noise or boilerplate
    candidates). Add-one smoothing: p(w) = (n_w + 1) / (N + V).

    Cross-engine float discipline: the ONLY floating-point step is the
    per-token ln(), whose argument is an exactly-representable double
    ratio of integers — each token's logprob is immediately rounded to
    integer MICRO-units (BIGINT), so the per-doc aggregate is an exact,
    summation-order-independent integer sum. No avg-of-doubles whose
    distributed reduction order could flip a rounded digit.

    Plan shape (100 TB): explode → one combiner groupBy to (doc, word)
    counts (shuffle volume = distinct pairs, not corpus bytes) → one
    combiner groupBy to the vocabulary → equi-join back on the word (AQE
    broadcasts it when the vocab is small; stays a hash join when web
    noise makes it huge) + a broadcast 1-row total → final per-doc
    combiner groupBy. Everything JVM-side codegen; counts are the LM."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return logprob_over(docs)


def logprob_over(docs: DataFrame) -> DataFrame:
    """llm_text_logprob's core over any (doc_id, text) frame — also the
    LM gate feeding the v3/v4 curation cores."""
    t = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    tc = t.groupBy("doc_id", "w").agg(F.count("*").alias("k"))
    vocab = tc.groupBy("w").agg(F.sum("k").alias("n"))
    tot = vocab.agg(
        F.sum("n").alias("nn"), F.count("*").alias("vv")
    )
    t_micro = F.round(
        F.log((F.col("n") + 1).cast("double") / (F.col("nn") + F.col("vv")).cast("double"))
        * 1000000
    ).cast("bigint")
    return (
        tc.join(vocab, "w")
        .join(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_tokens"),
            F.sum(F.col("k") * t_micro).alias("logprob_micro"),
        )
    )


# ----------------------------------------- L10c curation DAG v3 (+LM gate)
LOGPROB_DROP_Q = 0.1  # drop the lowest-likelihood 10% of the corpus


def _curate_v3_sql() -> str:
    return f"""WITH v2 AS ({_curate_v2_sql()}),
         lp AS (
           SELECT doc_id,
                  round(logprob_micro / CAST(n_tokens AS DOUBLE), 6) AS avg_lp
           FROM ({_logprob_sql()})
         ),
         thr AS (
           SELECT round(quantile_cont(avg_lp, {LOGPROB_DROP_Q}), 6) AS lp_thr
           FROM lp
         )
         SELECT v2.doc_id, v2.lang, v2.n_words, v2.score, lp.avg_lp
         FROM v2 JOIN lp ON lp.doc_id = v2.doc_id, thr
         WHERE lp.avg_lp >= thr.lp_thr"""


@register("llm_corpus_curate_v3", sql=_curate_v3_sql())
def llm_corpus_curate_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L10c: curation DAG v3 — v2 (normalized dedup + decontamination +
    calibrated per-language quality gates + repetition gate) plus the
    unigram-LM likelihood gate: docs in the lowest LOGPROB_DROP_Q tail of
    per-token corpus log-likelihood (llm_text_logprob) are dropped, the
    CCNet-style 'too surprising to be clean text' filter.

    The LM threshold is an exact interpolated percentile over the WHOLE
    corpus (same A8 pattern as llm_quality_calibrate — at 100 TB swap in
    approx_percentile's t-digest), broadcast as one row. Adds to v2: the
    logprob sub-DAG's two combiner groupBys + word equi-join, one
    doc_id equi-join, and a 1-row broadcast — still zero pair joins
    anywhere in the composed plan."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return curate_v3(docs)


def curate_v3(docs: DataFrame) -> DataFrame:
    """llm_corpus_curate_v3's core over any (doc_id, text, lang) frame
    (fuzz differential in tests/test_fuzz_differential.py)."""
    v2 = curate_v2(docs)
    lp = logprob_over(docs).select(
        "doc_id",
        F.round(
            F.col("logprob_micro") / F.col("n_tokens").cast("double"), 6
        ).alias("avg_lp"),
    )
    thr = lp.agg(
        F.round(F.expr(f"percentile(avg_lp, {LOGPROB_DROP_Q}D)"), 6).alias("lp_thr")
    )
    return (
        v2.join(lp, "doc_id")
        .join(F.broadcast(thr))
        .filter(F.col("avg_lp") >= F.col("lp_thr"))
        .select("doc_id", "lang", "n_words", "score", "avg_lp")
    )


# --------------------------------------------- L4h RAG document chunking
CHUNK_WORDS = 64  # words per chunk (the retrieval context unit)
CHUNK_OVERLAP = 16  # words shared between consecutive chunks
CHUNK_STRIDE = CHUNK_WORDS - CHUNK_OVERLAP


def _chunk_windows_sql() -> str:
    """The ONE chunk-window derivation — the llm_doc_chunk oracle and the
    llm_chunk_dedup oracle both derive from this builder, so the window
    arithmetic cannot silently drift between them."""
    return f"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         n AS (SELECT doc_id, w, len(w) AS nw,
                      greatest(1, CAST(ceil((len(w) - {CHUNK_OVERLAP})
                                            / {CHUNK_STRIDE}.0) AS BIGINT)) AS nc
               FROM t)
         SELECT doc_id,
                k AS chunk_id,
                k * {CHUNK_STRIDE} AS start_word,
                least({CHUNK_WORDS}, nw - k * {CHUNK_STRIDE}) AS n_chunk_words,
                array_to_string(w[k * {CHUNK_STRIDE} + 1 :
                                  k * {CHUNK_STRIDE} + {CHUNK_WORDS}], ' ')
                  AS chunk_text
         FROM n, unnest(generate_series(0, nc - 1)) AS u(k)"""


@register("llm_doc_chunk", sql=_chunk_windows_sql())
def llm_doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4h: RAG-style document chunking — explode each document into
    fixed-width overlapping word windows (CHUNK_WORDS words, stride
    CHUNK_STRIDE) with byte-free bookkeeping (doc_id, chunk_id,
    start_word) so chunks join back to their source exactly. The chunk
    count is ceil((n - overlap) / stride) (min 1): the final window may
    run short, and no window starting past n - overlap is emitted (it
    would be wholly contained in its predecessor).

    This is the indexing-side prerequisite for chunk-level embedding /
    ANN retrieval (L3*) and chunk-level dedup: every downstream operator
    keys on (doc_id, chunk_id). Pure codegen — split, sequence explode,
    slice, concat — zero shuffles, zero UDFs; at 100 TB it runs at scan
    speed with output rows ~ tokens/stride."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    t = docs.select("doc_id", F.split("text", " ").alias("w")).select(
        "doc_id",
        "w",
        F.size("w").alias("nw"),
        F.greatest(
            F.lit(1),
            F.expr(
                f"cast(ceil((size(w) - {CHUNK_OVERLAP}) / {CHUNK_STRIDE}.0)"
                " as bigint)"
            ),
        ).alias("nc"),
    )
    return t.select(
        "doc_id",
        "nw",
        "w",
        F.explode(F.expr("sequence(0, nc - 1)")).alias("k"),
    ).select(
        "doc_id",
        F.col("k").alias("chunk_id"),
        (F.col("k") * CHUNK_STRIDE).alias("start_word"),
        F.least(
            F.lit(CHUNK_WORDS), F.col("nw") - F.col("k") * CHUNK_STRIDE
        ).alias("n_chunk_words"),
        F.expr(
            f"array_join(slice(w, k * {CHUNK_STRIDE} + 1, {CHUNK_WORDS}), ' ')"
        ).alias("chunk_text"),
    )


# ----------------------------------------------- L4i BM25 keyword scoring
BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("spark", "sort", "query")  # fixture-vocabulary query terms
BM25_TOP_K = 15


def _bm25_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_QUERY)
    return f"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                      FROM documents),
         dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
         stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
         tf AS (SELECT doc_id, w, count(*) AS tf FROM t
                WHERE w IN ({terms}) GROUP BY doc_id, w),
         df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
         scored AS (
           SELECT tf.doc_id,
                  CAST(round(
                    ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
                    * (tf.tf * ({BM25_K1} + 1))
                    / (tf.tf + {BM25_K1} * (1 - {BM25_B}
                         + {BM25_B} * dl.dl / stats.avgdl))
                    * 1000000) AS BIGINT) AS term_micro
           FROM tf
           JOIN df USING (w)
           JOIN dl USING (doc_id), stats
         )
         SELECT doc_id, bm25_micro, rank FROM (
           SELECT doc_id,
                  CAST(sum(term_micro) AS BIGINT) AS bm25_micro,
                  row_number() OVER (ORDER BY sum(term_micro) DESC, doc_id)
                    AS rank
           FROM scored GROUP BY doc_id
         ) WHERE rank <= {BM25_TOP_K}"""


@register("llm_text_bm25", sql=_bm25_sql())
def llm_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4i: BM25 keyword retrieval over the corpus — the lexical
    complement to embedding ANN (L3*): idf(t) * tf*(k1+1) /
    (tf + k1*(1-b+b*dl/avgdl)) summed over the query terms, top-k docs.

    Cross-engine float discipline (the llm_text_logprob pattern): the
    only transcendental is one ln() per (doc, term), immediately rounded
    to integer MICRO units; sums, ranking, and output are then exact
    64-bit integer arithmetic, so both engines agree bit-for-bit.

    Plan shape: term filter rides the token explode (only query-term
    rows survive into the tf aggregate — O(matches), not O(tokens)); dl
    is one combiner groupBy over the corpus; df and the corpus stats are
    term-count-sized and broadcast. Nothing corpus-sized joins or sorts:
    the final top-k is a TakeOrderedAndProject over matching docs only.
    At 100 TB this is one scan + one combiner agg + broadcast joins."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    t = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    dl = t.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        t.filter(F.col("w").isin(*BM25_QUERY))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"))
    )
    df_t = tf.groupBy("w").agg(F.count("*").alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    term = (
        idf
        * (F.col("tf") * (BM25_K1 + 1))
        / (
            F.col("tf")
            + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    scored = (
        tf.join(F.broadcast(df_t), "w")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(term * 1_000_000).cast("bigint").alias("term_micro"),
        )
    )
    from pyspark.sql.window import Window

    agg = scored.groupBy("doc_id").agg(
        F.sum("term_micro").cast("bigint").alias("bm25_micro")
    )
    w = Window.orderBy(F.desc("bm25_micro"), F.asc("doc_id"))
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BM25_TOP_K)
        .select("doc_id", "bm25_micro", "rank")
    )


@register(
    "llm_chunk_dedup",
    sql=f"""WITH c AS ({_chunk_windows_sql()})
         SELECT md5(chunk_text) AS chunk_hash,
                count(*) AS n_copies,
                count(DISTINCT doc_id) AS n_docs,
                min(doc_id) AS keep_doc_id
         FROM c
         GROUP BY md5(chunk_text)
         HAVING count(*) >= 2""",
)
def llm_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4h2: CHUNK-level exact dedup — L4h's windows fed through L1's
    hash-groupBy: chunk windows repeated across (or within) documents
    are boilerplate/template material that document-level dedup cannot
    see when the surrounding text differs (the inverse blind spot of
    L2g's containment, which needs most of a doc to repeat). Emits each
    duplicated window's hash with its copy/document counts and the
    keeper — the audit a curation pass consumes to strip repeated
    passages without dropping whole documents.

    Plan: the chunk explode is pure codegen (zero shuffles, pinned in
    tests/test_plans.py), so the ONLY exchange is the hash-partitioned
    groupBy on the chunk hash with map-side partial aggregation —
    shuffle volume is O(distinct duplicated windows), not O(tokens).
    Same single-shuffle scaling as llm_dedup_exact."""
    chunks = llm_doc_chunk(spark, sf_dir)
    return (
        chunks.groupBy(F.md5("chunk_text").alias("chunk_hash"))
        .agg(
            F.count("*").alias("n_copies"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .filter(F.col("n_copies") >= 2)
    )


# ------------------------------------------------ L4j BPE merge training
BPE_MERGES = 5  # merge rules to learn (the tokenizer-training step count)
# Truncate the word table's lineage every N steps: without it step k's
# argmax job re-applies all k replace projections (total work quadratic
# in K) — the same localCheckpoint discipline as the CC loop
# (dedup.connected_components).
BPE_CHECKPOINT_EVERY = 8


def _bpe_cte_parts(k_merges: int, through: int | None = None) -> list[str]:
    """Shared CTE prefix for the BPE queries: wc (word counts), w0..wK
    (symbol strings after each merge, word column carried), p*/b* (pair
    supports and per-step best pair). ``through`` caps how many w CTEs
    to emit (encode needs w{K}, train stops at w{K-1})."""
    last_w = k_merges - 1 if through is None else through
    parts = [
        """wc AS (
  SELECT w AS word, count(*) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY w
),
w0 AS (
  SELECT word,
         ' ' || array_to_string(string_split_regex(word, ''), ' ')
         || ' </w> ' AS s, cnt
  FROM wc
)"""
    ]
    for k in range(k_merges):
        parts.append(
            f"""p{k} AS (
  SELECT sym[i] AS l, sym[i+1] AS r, CAST(sum(cnt) AS BIGINT) AS support
  FROM (SELECT string_split(trim(s), ' ') AS sym, cnt FROM w{k}),
       unnest(generate_series(1, len(sym)-1)) AS t(i)
  GROUP BY 1, 2
),
b{k} AS (SELECT {k} AS step, l, r, l || r AS merged, support
         FROM p{k} ORDER BY support DESC, l, r LIMIT 1)"""
        )
        if k + 1 <= last_w:
            parts.append(
                f"""w{k + 1} AS (
  SELECT word, replace(s, ' ' || b.l || ' ' || b.r || ' ',
                          ' ' || b.l || b.r || ' ') AS s, cnt
  FROM w{k}, b{k} b
)"""
            )
    return parts


def _bpe_sql(k_merges: int = BPE_MERGES) -> str:
    """K unrolled merge steps as chained CTEs. Words are padded
    single-space-delimited symbol strings (' s p a r k </w> '); applying
    a merge is a plain left-to-right non-overlapping string replace —
    identical semantics in DuckDB and Spark, so parity is exact."""
    union = "\n         UNION ALL ".join(
        f"SELECT * FROM b{k}" for k in range(k_merges)
    )
    return "WITH " + ",\n".join(_bpe_cte_parts(k_merges)) + f"\n         {union}"


@register("llm_bpe_train", sql=_bpe_sql())
def llm_bpe_train(
    spark: SparkSession, sf_dir: str, k_merges: int = BPE_MERGES
) -> DataFrame:
    """L4j: BPE merge-rule training (Sennrich et al. 2016) over the
    corpus — the tokenizer-construction step of a training-data
    pipeline, distributed: per step, count adjacent symbol pairs
    (weighted by word frequency), take the argmax (ties broken
    lexicographically), and apply the merge to every word; K steps emit
    K (step, left, right, merged, support) rules.

    Merge application is a left-to-right non-overlapping string replace
    over space-delimited symbol strings — when repeated adjacent
    occurrences share a delimiter ('e r e r'), the second merges on a
    later step rather than the same pass (a documented variant of
    canonical BPE; both engines implement the identical replace
    semantics, so the differential oracle checks the full loop
    bit-for-bit).

    Plan shape (the 100 TB story): the CORPUS is touched exactly once —
    the initial word-frequency groupBy (combiner-friendly; shuffle
    O(distinct words)), cached. Every merge step then runs one tiny
    argmax action over the distinct-word table: a pair explode + combiner
    groupBy + a 1-row TakeOrdered collected to the driver, whose pair
    rides the next replace projection as two literals. K steps = K small
    actions over vocab-sized data (about two jobs each under AQE), so the
    job count is linear in K. At web scale the word table is millions of
    rows (still thousands of times smaller than the corpus); its lineage
    is cut every BPE_CHECKPOINT_EVERY steps to bound the replace depth.
    The K rules come back as one small driver-built frame
    (createDataFrame)."""
    rules, _ = _bpe_learn(spark, sf_dir, k_merges)
    return spark.createDataFrame(
        rules,
        "step int not null, l string not null, r string not null,"
        " merged string not null, support bigint",
    )


def _bpe_learn(spark: SparkSession, sf_dir: str, k_merges: int):
    """Run the merge loop; returns ([(step, l, r, merged, support)
    rules], word->symbol-string table AFTER all merges applied).

    Each step collects its winning pair with one action and binds it as
    literals into the replace — never formatted into SQL, since symbols
    may hold quotes. A step with no pair left ends the loop with an
    empty word table, as the oracle's w{k+1} = w{k} x (empty b{k})."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    wc = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .cache()
    )
    w = wc.select(
        "word",
        F.concat(
            F.lit(" "),
            F.expr("array_join(filter(split(word, ''), x -> x <> ''), ' ')"),
            F.lit(" </w> "),
        ).alias("s"),
        "cnt",
    )
    rules = []
    for k in range(k_merges):
        sym = F.expr("split(trim(s), ' ')")
        best = (
            w.select(sym.alias("sym"), "cnt")
            # fully-merged / single-symbol words contribute no pairs.
            # The filter is REQUIRED, not cosmetic: Spark's
            # sequence(1, 0) DESCENDS to [1, 0] (DuckDB's
            # generate_series(1, 0) is empty), so without it a
            # 1-symbol word indexes sym[0] out of range — an ANSI
            # crash / silent-null divergence from the oracle.
            .filter(F.expr("size(sym) >= 2"))
            .select(
                F.explode(F.expr("sequence(1, size(sym) - 1)")).alias("i"),
                "sym",
                "cnt",
            )
            .select(
                F.expr("sym[i-1]").alias("l"),
                F.expr("sym[i]").alias("r"),
                "cnt",
            )
            .groupBy("l", "r")
            .agg(F.sum("cnt").cast("bigint").alias("support"))
            .orderBy(F.desc("support"), F.asc("l"), F.asc("r"))
            .first()
        )
        if best is None:
            w = w.limit(0)
            break
        left, right = best["l"], best["r"]
        rules.append((k, left, right, left + right, best["support"]))
        w = w.select(
            "word",
            F.replace(
                "s", F.lit(f" {left} {right} "), F.lit(f" {left}{right} ")
            ).alias("s"),
            "cnt",
        )
        if (k + 1) % BPE_CHECKPOINT_EVERY == 0 and k + 1 < k_merges:
            from ..session import iter_checkpoint

            w = iter_checkpoint(w)
    return rules, w


def _bpe_tokens(spark: SparkSession, sf_dir: str, k_merges: int, key: str):
    """The corpus as (word, ``key``, n_sub) tokens: every word joined to
    its subword count after the K learned merges, through the broadcast
    vocab-sized word table."""
    _, w = _bpe_learn(spark, sf_dir, k_merges)
    seg = w.select(
        "word",
        F.expr("size(split(trim(s), ' '))").cast("long").alias("n_sub"),
    )
    docs = spread(load_table(spark, sf_dir, "documents"))
    return docs.select(key, F.explode(F.split("text", " ")).alias("word")).join(
        F.broadcast(seg), "word"
    )


def _bpe_encode_sql(k_merges: int = BPE_MERGES) -> str:
    return (
        "WITH "
        + ",\n".join(_bpe_cte_parts(k_merges, through=k_merges))
        + f"""
         SELECT t.doc_id,
                CAST(count(*) AS BIGINT) AS n_words,
                CAST(sum(len(string_split(trim(w.s), ' '))) AS BIGINT)
                  AS n_tokens
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
               FROM documents) t
         JOIN w{k_merges} w USING (word)
         GROUP BY t.doc_id"""
    )


@register("llm_bpe_encode", sql=_bpe_encode_sql())
def llm_bpe_encode(
    spark: SparkSession, sf_dir: str, k_merges: int = BPE_MERGES
) -> DataFrame:
    """L4j2: apply the learned BPE merges — tokenize every document with
    the K rules llm_bpe_train produced (train ∘ encode is the full
    tokenizer lifecycle) and emit per-doc word and BPE-token counts
    (token count includes the fused end-of-word marker). This is the
    REAL subword count the sequence packer (L4f) and context budgeting
    want, replacing L4d's ceil(len/4) estimate.

    Plan: encoding is a corpus token explode equi-joined to the final
    word->segmentation table (vocab-sized: broadcastable here, an
    equi-join on word at web scale) + one combiner groupBy per doc —
    the merge loop itself runs once on vocab-sized data (see
    llm_bpe_train). Oracle: the same K-step CTE chain extended with the
    join+count head."""
    return (
        _bpe_tokens(spark, sf_dir, k_merges, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.sum("n_sub").cast("bigint").alias("n_tokens"),
        )
    )


# ------------------------------------- L10d curation DAG v4 (+span gate)
def _curate_v4_sql() -> str:
    from .dedup import _substring_sql

    return f"""WITH v3 AS ({_curate_v3_sql()}),
         span_drop AS (
           SELECT DISTINCT doc_b AS doc_id FROM ({_substring_sql()})
         )
         SELECT v3.doc_id, v3.lang, v3.n_words, v3.score, v3.avg_lp
         FROM v3 LEFT JOIN span_drop d ON d.doc_id = v3.doc_id
         WHERE d.doc_id IS NULL"""


@register("llm_corpus_curate_v4", sql=_curate_v4_sql())
def llm_corpus_curate_v4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L10d: curation DAG v4 — v3 (normalized dedup + decontamination +
    calibrated quality + repetition + LM-likelihood gates) plus the
    SUBSTRING-SPAN gate: the later document of every verbatim
    shared-span pair (llm_dedup_substring, Lee et al. 2107.06499) is
    dropped — repeated-passage contamination the document-level dedup
    stages structurally miss.

    Plan shape: the span pair set is tiny (pairs, not documents), so it
    enters as a broadcast LEFT ANTI join on the keep side — same
    discipline as v1's contamination anti-join; no new corpus-scale
    shuffle. The full capstone remains free of pair joins over the
    corpus: every candidate generation inside (minhash bands, anchor
    shingles) is an equi-join on a bounded-fan-out key."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return curate_v4(docs)


def curate_v4(docs: DataFrame) -> DataFrame:
    """llm_corpus_curate_v4's core over any (doc_id, text, lang) frame
    (fuzz differential in tests/test_fuzz_differential.py)."""
    from .dedup import substring_span_pairs

    v3 = curate_v3(docs)
    drop = substring_span_pairs(docs).select(
        F.col("doc_b").alias("doc_id")
    ).distinct()
    return v3.join(F.broadcast(drop), "doc_id", "left_anti").select(
        "doc_id", "lang", "n_words", "score", "avg_lp"
    )


# -------------------------- L10e curation DAG v5 (+multimodal dedup gates)
def _curate_v5_sql() -> str:
    from .dedup import (
        AUDIOHASH_MAX_DIST,
        _audiohash_grid_sql,
        _dct_banded_sql,
        _phash_sql,
        _videohash_sql,
    )

    return f"""WITH v4 AS ({_curate_v4_sql()}),
         ph AS ({_phash_sql()}),
         au AS ({_dct_banded_sql(_audiohash_grid_sql(), AUDIOHASH_MAX_DIST)}),
         vi AS ({_videohash_sql()}),
         mm_drop AS (
           SELECT doc_b AS doc_id FROM ph
           UNION SELECT doc_b FROM au
           UNION SELECT doc_b FROM vi
         )
         SELECT v4.doc_id, v4.lang, v4.n_words, v4.score, v4.avg_lp
         FROM v4 LEFT JOIN mm_drop m ON m.doc_id = v4.doc_id
         WHERE m.doc_id IS NULL"""


@register("llm_corpus_curate_v5", sql=lambda: _curate_v5_sql())
def llm_corpus_curate_v5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L10e: curation DAG v5 (the curation capstone) — v4 (normalized dedup
    + decontamination + calibrated quality + repetition + LM-likelihood
    + substring-span gates) composed with the MULTIMODAL near-dup
    verdicts: the later document of every image DCT-phash pair (L2k),
    acoustic fingerprint pair (L2m), and video shot-hash pair (L2n) is
    dropped, yielding ONE declarative keep/drop plan per document
    across text, image, audio, and video. This is the cross-modality
    curation decision a production multimodal corpus needs: a doc that
    survives every text gate but carries a near-duplicate image/clip is
    still redundant training signal.

    Plan shape: each modality's pair set is pairs-not-documents-sized —
    all three enter as ONE broadcast LEFT ANTI join on the keep side
    (union + distinct of their doc_b columns), the v1/v4 anti-join
    discipline; no new corpus-scale shuffle on top of the constituent
    DAGs, which remain banded/df-capped with zero corpus-pair joins.
    Stage consistency is pinned in tests: v5's keep set equals v4's
    minus exactly the union of the three INDEPENDENT registered
    operators' doc_b sets."""
    from .dedup import (
        llm_dedup_audiohash,
        llm_dedup_phash,
        llm_dedup_videohash,
    )

    docs = spread(load_table(spark, sf_dir, "documents"))
    v4 = curate_v4(docs)
    drop = (
        llm_dedup_phash(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .unionByName(
            llm_dedup_audiohash(spark, sf_dir).select(
                F.col("doc_b").alias("doc_id")
            )
        )
        .unionByName(
            llm_dedup_videohash(spark, sf_dir).select(
                F.col("doc_b").alias("doc_id")
            )
        )
        .distinct()
    )
    return v4.join(F.broadcast(drop), "doc_id", "left_anti").select(
        "doc_id", "lang", "n_words", "score", "avg_lp"
    )


# ------------------------------------------- L6i corpus distribution drift
DRIFT_REF_SOURCES = tuple(f"src{i}" for i in range(10))  # reference slice


@register(
    "llm_corpus_drift",
    sql=f"""WITH t AS (
           SELECT CASE WHEN source IN {DRIFT_REF_SOURCES} THEN 'ref'
                       ELSE 'cand' END AS slice,
                  unnest(string_split(text, ' ')) AS w
           FROM documents
         ),
         c AS (
           SELECT w,
                  CAST(count(*) FILTER (WHERE slice = 'ref') AS BIGINT) AS n_ref,
                  CAST(count(*) FILTER (WHERE slice = 'cand') AS BIGINT) AS n_cand
           FROM t GROUP BY w
         ),
         tot AS (SELECT CAST(sum(n_ref) AS BIGINT) AS nr,
                        CAST(sum(n_cand) AS BIGINT) AS nc FROM c)
         SELECT w AS word, n_ref, n_cand,
                CAST(round(abs(n_ref / CAST(nullif(nr, 0) AS DOUBLE)
                               - n_cand / CAST(nullif(nc, 0) AS DOUBLE))
                           * 1000000)
                     AS BIGINT) AS delta_micro
         FROM c, tot""",
)
def llm_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6i: corpus distribution drift — per-word probability deltas
    between a reference slice (sources src0..src9, the 'yesterday'
    stand-in) and the candidate slice (the rest): the data-quality
    monitor a continuously-ingesting pipeline runs before admitting a
    new batch, localizing WHICH tokens shifted (L1 contribution in
    integer micro units) rather than just flagging that something did.

    Cross-engine float discipline: the only float step is two IEEE
    divisions + one subtraction on exact integers (all correctly
    rounded, hence engine-identical), immediately micro-rounded —
    no transcendentals.

    Plan: one token explode + one combiner groupBy with conditional
    counts + a 1-row broadcast total — the llm_text_logprob shape;
    shuffle is O(vocabulary). At 100 TB this runs per ingest batch at
    the cost of one word count."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    t = docs.select(
        F.when(F.col("source").isin(*DRIFT_REF_SOURCES), "ref")
        .otherwise("cand")
        .alias("slice"),
        F.explode(F.split("text", " ")).alias("w"),
    )
    c = t.groupBy("w").agg(
        F.count(F.when(F.col("slice") == "ref", 1)).cast("bigint").alias("n_ref"),
        F.count(F.when(F.col("slice") == "cand", 1)).cast("bigint").alias("n_cand"),
    )
    tot = c.agg(
        F.sum("n_ref").cast("bigint").alias("nr"),
        F.sum("n_cand").cast("bigint").alias("nc"),
    )
    # nullif guards the degenerate one-slice corpus: a zero total makes
    # delta_micro NULL (undefined drift) in BOTH engines instead of an
    # Infinity cast crash
    delta = F.round(
        F.abs(
            F.col("n_ref") / F.expr("cast(nullif(nr, 0) as double)")
            - F.col("n_cand") / F.expr("cast(nullif(nc, 0) as double)")
        )
        * 1_000_000
    ).cast("bigint")
    return (
        c.join(F.broadcast(tot))
        .select(
            F.col("w").alias("word"), "n_ref", "n_cand",
            delta.alias("delta_micro"),
        )
    )


# ---------------------------------------------- L14 n-gram novelty audit
from .dedup import _SHINGLES_SQL as _NOVELTY_SHINGLES_SQL  # noqa: E402


@register(
    "llm_ngram_novelty",
    sql=f"""WITH sh AS ({_NOVELTY_SHINGLES_SQL}),
         fo AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s)
         SELECT sh.doc_id,
                CAST(count(*) AS BIGINT) AS n_shingles,
                CAST(sum(CASE WHEN fo.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_novel,
                round(sum(CASE WHEN fo.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                      ::DOUBLE / count(*), 6) AS novelty
         FROM sh JOIN fo USING (s)
         GROUP BY sh.doc_id""",
)
def llm_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L14: per-document n-gram novelty — the fraction of a doc's
    distinct 3-word shingles whose FIRST corpus occurrence (minimum
    doc_id) is the doc itself. The dataset-diversity audit a curation
    pipeline runs alongside dedup: a long low-novelty tail means the
    corpus is recombining existing phrasing (template farms, spun
    content) even where no pairwise dedup threshold fires, and the
    aggregate novelty-vs-position curve is the standard check that a
    crawl's later additions still contribute new text (data-age /
    memorization studies track exactly this statistic).

    Plan shape (100 TB story): one combiner groupBy over the exploded
    distinct-shingle table keyed by shingle (min(doc_id) — the same
    df-aggregation shape as L8's span audit) + one equi-join back on
    the shingle key + one per-doc combiner agg. No pair joins, no
    windows; shuffle is O(distinct shingles). The shingle table is
    cached — it feeds both join sides, one materialization of the
    corpus shingle scan instead of two (the minhash sig / containment
    disc pattern). Float discipline: novelty is one IEEE division of
    exact ints, rounded to 6 — engine-identical."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return ngram_novelty(docs)


def ngram_novelty(docs: DataFrame) -> DataFrame:
    """llm_ngram_novelty's core over any (doc_id, text) frame (fuzz
    differential in tests/test_fuzz_differential.py)."""
    from .dedup import shingles

    sh = shingles(docs).cache()
    fo = sh.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    ).cast("bigint")
    return (
        sh.join(fo, "s")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            novel.alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_shingles"), 6).alias("novelty"),
        )
    )


# ------------------------------------ L6n curriculum-ordered shards
CURRICULUM_SHARDS = 4  # shards per stage at fixture scale


def _curriculum_sql() -> str:
    return f"""WITH scored AS ({quality_score_sql()}),
         thr AS (
           SELECT round(quantile_cont(score, 0.25), 6) AS t25,
                  round(quantile_cont(score, 0.50), 6) AS t50,
                  round(quantile_cont(score, 0.75), 6) AS t75
           FROM scored
         ),
         lab AS (
           SELECT doc_id, score,
                  ('0x' || substr(md5('curr:' || doc_id::VARCHAR), 1, 15))::BIGINT
                    AS k,
                  CASE WHEN score <= t25 THEN 0
                       WHEN score <= t50 THEN 1
                       WHEN score <= t75 THEN 2 ELSE 3 END AS stage
           FROM scored, thr
         )
         SELECT doc_id, score, stage,
                k % {CURRICULUM_SHARDS} AS shard,
                row_number() OVER (PARTITION BY stage, k % {CURRICULUM_SHARDS}
                                   ORDER BY k, doc_id) AS pos
         FROM lab"""


@register("llm_corpus_curriculum", sql=lambda: _curriculum_sql())
def llm_corpus_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6n: curriculum-ordered training shards — easy-to-hard data
    scheduling without a global sort: docs are staged by quality
    quartile (exact interpolated percentiles of the shared L4c score —
    the cut adapts to the corpus, never hardcoded), then seeded-shuffled
    WITHIN each stage into shards with a deterministic rank (the L6g
    discipline, distinct 'curr:' hash namespace so curriculum order
    never correlates with the global shuffle, the sample gate, or the
    holdout split). A trainer consumes stages in order and streams each
    stage's shards in pos order: difficulty is monotone ACROSS stages,
    unbiased WITHIN them — reproducible across reruns, cluster sizes,
    and partitionings.

    Plan (100 TB): score is a codegen projection; the quartile cut is
    ONE 1-row exact-percentile aggregate broadcast back (swap
    approx_percentile's mergeable t-digest past memory, same shape);
    stage/shard/key are codegen; the only structural exchange is the
    hash partition on (stage, shard) feeding per-shard local sorts —
    stages×shards × more parallelism than a global difficulty sort, no
    single-partition funnel anywhere. Quartile ties resolve by the
    round-6 score grid identically in both engines (calibrate/A8
    precedent)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    scored = docs.select("doc_id", quality_score_col().alias("score"))
    thr = scored.agg(
        F.round(F.expr("percentile(score, 0.25D)"), 6).alias("t25"),
        F.round(F.expr("percentile(score, 0.50D)"), 6).alias("t50"),
        F.round(F.expr("percentile(score, 0.75D)"), 6).alias("t75"),
    )
    lab = scored.join(F.broadcast(thr)).select(
        "doc_id",
        "score",
        F.expr(
            "cast(conv(substr(md5(concat('curr:', cast(doc_id as string))),"
            " 1, 15), 16, 10) as bigint)"
        ).alias("k"),
        F.when(F.col("score") <= F.col("t25"), 0)
        .when(F.col("score") <= F.col("t50"), 1)
        .when(F.col("score") <= F.col("t75"), 2)
        .otherwise(3)
        .alias("stage"),
    )
    w = Window.partitionBy("stage", "shard").orderBy("k", "doc_id")
    return (
        lab.withColumn("shard", F.col("k") % CURRICULUM_SHARDS)
        .withColumn("pos", F.row_number().over(w))
        .select("doc_id", "score", "stage", "shard", "pos")
    )


# ------------------------------------------- L6p DSIR importance selection
DSIR_BUCKETS = 512  # hashed-bigram feature dimension
DSIR_TOP_K = 100    # selected corpus size


def _dsir_bucket_sql(expr: str) -> str:
    """Cross-engine hashed-feature bucket: md5 hex prefix → bigint →
    mod DSIR_BUCKETS (the llm_corpus_sample idiom, Spark spelling)."""
    return (
        f"cast(conv(substr(md5(concat('dsir:', {expr})), 1, 15), 16, 10) "
        f"as bigint) % {DSIR_BUCKETS}"
    )


@register(
    "llm_dsir_select",
    sql=f"""WITH db AS (
             SELECT d.doc_id, d.lang,
                    ('0x' || substr(md5('dsir:' || g.g), 1, 15))::BIGINT
                      % {DSIR_BUCKETS} AS bucket,
                    count(*) AS cnt
             FROM (SELECT doc_id, lang,
                          string_split(text, ' ') AS w
                   FROM documents) d,
                  LATERAL unnest(list_transform(
                      range(1, len(d.w)),
                      i -> d.w[i] || ' ' || d.w[i + 1])) AS g(g)
             GROUP BY d.doc_id, d.lang, bucket),
           bs AS (
             SELECT bucket,
                    CAST(SUM(cnt) AS BIGINT) AS n_r,
                    CAST(SUM(CASE WHEN lang = 'en' THEN cnt ELSE 0 END)
                         AS BIGINT) AS n_t
             FROM db GROUP BY bucket),
           tot AS (
             SELECT CAST(SUM(n_r) AS BIGINT) AS d_r,
                    CAST(SUM(n_t) AS BIGINT) AS d_t
             FROM bs)
           SELECT db.doc_id,
                  CAST(SUM(db.cnt * (bs.n_t * tot.d_r - bs.n_r * tot.d_t))
                       AS BIGINT) AS score,
                  CAST(SUM(db.cnt) AS BIGINT) AS n_bigrams
           FROM db JOIN bs USING (bucket) CROSS JOIN tot
           GROUP BY db.doc_id
           ORDER BY score DESC, db.doc_id
           LIMIT {DSIR_TOP_K}""",
)
def llm_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6p: DSIR — Data Selection via Importance Resampling (Xie et
    al., NeurIPS 2023): select raw-corpus documents whose hashed-bigram
    feature distribution looks like a target corpus (here lang='en',
    the dominant stratum standing in for "formal text"). The published
    method scores log p_target/p_raw under bag-of-hashed-ngram models;
    this implementation uses the LINEAR probability difference
    score_i = Σ_g (N_t[b(g)]·D_r − N_r[b(g)]·D_t) — the same ranking
    signal family cross-multiplied into exact integers so the driver
    hash is grid-stable (the repo-wide exact-integer oracle
    discipline; a log-ratio twin would rank near-identically but
    float-hash-flake). Top-K by (score desc, doc_id) is a total order,
    so both engines cut the same set.

    Scale shape (the 100 TB lens): DSIR is inherently TWO corpus
    passes — train the importance model, then score — and exactly two
    is what runs: pass 1 aggregates bucket→(n_raw, n_target) counts
    ({DSIR_BUCKETS} rows) and is COLLECTED — model-sized driver state,
    the train.py k-means/PQ-codebook pattern — so the model and its
    totals become literals instead of a re-computed lineage (the
    naive broadcast-join formulation re-tokenizes the corpus once per
    derived frame); pass 2 scores doc×bucket counts (map-side combine
    on doc_id) against the broadcast model, and the final top-K is a
    TakeOrderedAndProject — no global sort, no corpus shuffle beyond
    the doc_id combine. The feature hash is the md5-prefix idiom
    shared with llm_corpus_sample, so bucketing agrees with DuckDB
    bit-for-bit."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    grams = docs.select(
        "doc_id",
        "lang",
        F.expr(
            "explode(zip_with(slice(split(text, ' '), 1,"
            " size(split(text, ' ')) - 1),"
            " slice(split(text, ' '), 2, size(split(text, ' ')) - 1),"
            " (a, b) -> concat(a, ' ', b)))"
        ).alias("g"),
    )
    doc_bucket = grams.groupBy(
        "doc_id", "lang", F.expr(_dsir_bucket_sql("g")).alias("bucket")
    ).agg(F.count("*").alias("cnt"))
    # pass 1: the hashed-bigram model — DSIR_BUCKETS rows of driver
    # state (model-sized, like a PQ codebook), never the corpus
    model = (
        doc_bucket.groupBy("bucket")
        .agg(
            F.sum("cnt").alias("n_r"),
            F.sum(
                F.when(F.col("lang") == "en", F.col("cnt")).otherwise(0)
            ).alias("n_t"),
        )
        .collect()
    )
    d_r = sum(r["n_r"] for r in model)
    d_t = sum(r["n_t"] for r in model)
    model_df = spark.createDataFrame(
        [(int(r["bucket"]), int(r["n_t"]) * d_r - int(r["n_r"]) * d_t)
         for r in model],
        "bucket bigint, w bigint",
    )
    # pass 2: score against the broadcast model
    scored = (
        doc_bucket.join(F.broadcast(model_df), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("cnt") * F.col("w")).alias("score"),
            F.sum("cnt").alias("n_bigrams"),
        )
    )
    return scored.orderBy(F.desc("score"), "doc_id").limit(DSIR_TOP_K)


# ------------------------------------ L4m tokenizer fertility by stratum
def _fertility_sql(k_merges: int = BPE_MERGES) -> str:
    return (
        "WITH "
        + ",\n".join(_bpe_cte_parts(k_merges, through=k_merges))
        + f"""
         SELECT t.lang,
                CAST(count(*) AS BIGINT) AS n_words,
                CAST(sum(len(string_split(trim(w.s), ' '))) AS BIGINT)
                  AS n_tokens,
                CAST(sum(length(t.word)) AS BIGINT) AS n_chars,
                CAST(sum(len(string_split(trim(w.s), ' '))) * 1000
                     // count(*) AS BIGINT) AS fertility_milli
         FROM (SELECT lang, unnest(string_split(text, ' ')) AS word
               FROM documents) t
         JOIN w{k_merges} w USING (word)
         GROUP BY t.lang"""
    )


@register("llm_tokenizer_fertility", sql=_fertility_sql())
def llm_tokenizer_fertility(
    spark: SparkSession, sf_dir: str, k_merges: int = BPE_MERGES
) -> DataFrame:
    """L4m: tokenizer fertility audit — BPE tokens per word by language
    stratum, THE metric a tokenizer review reads first (a lang whose
    fertility is 2x another's pays 2x the context budget for the same
    text, the classic multilingual-tokenizer equity problem). Composes
    the learned tokenizer (L4j) over the corpus exactly like L4j2 but
    aggregates per LANG: words, subword tokens, characters, and
    fertility in exact milli-units (integer floor division — the
    repo's exact-integer oracle discipline; the true ratio is
    n_tokens/n_words to any precision downstream).

    Plan: the merge loop runs once on vocab-sized data (_bpe_learn),
    the corpus is exploded once and equi-joined to the broadcast
    word→segmentation table, and the rollup is a tiny per-lang
    combiner aggregate — at 100 TB the join is the only corpus-sized
    stage and it carries no shuffle (broadcast dimension)."""
    return (
        _bpe_tokens(spark, sf_dir, k_merges, "lang")
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.sum("n_sub").cast("bigint").alias("n_tokens"),
            F.sum(F.length("word")).cast("bigint").alias("n_chars"),
            # integer DIV, not float /: a double that lands a hair
            # under the exact ratio would truncate one off the oracle
            F.expr("sum(n_sub) * 1000L div count(*)")
            .cast("bigint")
            .alias("fertility_milli"),
        )
    )
