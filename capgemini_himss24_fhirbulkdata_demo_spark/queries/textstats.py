"""Text-analysis operators over ``documents`` (training-data pipeline
extensions; BASELINE.json north-star, SURVEY §2B last row).

Everything is built-in string/array functions (codegen'd, no UDFs):
language-ID by stopword-hit heuristic, quality scoring, token
counting (whitespace + regex), document fingerprinting.

Scale notes: all queries are embarrassingly parallel scans (narrow,
zero shuffle except the final per-source aggregates) — they pipeline
with whatever dedup/similarity stage follows at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.hof import bound
from .registry import register

# Tiny per-language stopword lists for the n-gram-free heuristic.
_STOP = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "und", "das", "ein"),
    "fr": ("le", "la", "et", "les", "un"),
    "es": ("el", "la", "y", "los", "una"),
}
_EN_STOP = _STOP["en"]


def _sql_list(words) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def _tok():
    return F.split(F.col("text"), " ")


@register(
    "x20_text_quality",
    oracle=f"""
    SELECT doc_id, lang, source,
           LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
           LENGTH(text) AS n_chars_m,
           LENGTH(REPLACE(text, ' ', '')) AS n_nonspace,
           CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                 t -> LIST_CONTAINS({_sql_list(_EN_STOP)}, t))) AS BIGINT)
             AS n_stopwords,
           ROUND(CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
                 / LEN(STRING_SPLIT(text, ' ')), 4) AS avg_token_len,
           ROUND(CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                 t -> LIST_CONTAINS({_sql_list(_EN_STOP)}, t))) AS DOUBLE)
                 / LEN(STRING_SPLIT(text, ' ')), 4) AS stopword_ratio,
           CASE WHEN LEN(STRING_SPLIT(text, ' ')) BETWEEN 5 AND 1000
                 AND LENGTH(REPLACE(text, ' ', ''))
                     >= 3 * LEN(STRING_SPLIT(text, ' '))
                THEN 1 ELSE 0 END AS quality_pass
    FROM documents
    ORDER BY doc_id
    """,
)
def x20_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: token/char counts, stopword ratio, length gate.

    The ratios divide two exact ints in one double op, so they are
    bit-stable. ``n_chars_m`` is measured (vs the table's n_chars).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = _tok()
    n_tokens = F.size(toks).cast("bigint")
    n_nonspace = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    stop_arr = F.array(*[F.lit(w) for w in _EN_STOP])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))).cast("bigint")
    return docs.select(
        "doc_id",
        "lang",
        "source",
        n_tokens.alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars_m"),
        n_nonspace.cast("bigint").alias("n_nonspace"),
        n_stop.alias("n_stopwords"),
        F.round(n_nonspace.cast("double") / n_tokens, 4).alias("avg_token_len"),
        F.round(n_stop.cast("double") / n_tokens, 4).alias("stopword_ratio"),
        F.when(
            n_tokens.between(5, 1000) & (n_nonspace >= 3 * n_tokens), 1
        )
        .otherwise(0)
        .alias("quality_pass"),
    ).orderBy("doc_id")


def _lang_hit_sql(lang: str) -> str:
    return (
        f"CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), "
        f"t -> LIST_CONTAINS({_sql_list(_STOP[lang])}, t))) AS BIGINT)"
    )


@register(
    "x21_lang_id",
    oracle=f"""
    WITH hits AS (
      SELECT doc_id, lang,
             {_lang_hit_sql('en')} AS en_hits,
             {_lang_hit_sql('de')} AS de_hits,
             {_lang_hit_sql('fr')} AS fr_hits,
             {_lang_hit_sql('es')} AS es_hits
      FROM documents)
    SELECT doc_id, lang AS lang_label,
           en_hits, de_hits, fr_hits, es_hits,
           CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits
                     AND en_hits >= es_hits AND en_hits > 0 THEN 'en'
                WHEN de_hits >= fr_hits AND de_hits >= es_hits
                     AND de_hits > 0 THEN 'de'
                WHEN fr_hits >= es_hits AND fr_hits > 0 THEN 'fr'
                WHEN es_hits > 0 THEN 'es'
                ELSE 'und' END AS lang_pred
    FROM hits
    ORDER BY doc_id
    """,
)
def x21_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: per-language stopword hit counts with a
    deterministic argmax (fixed tie order en>de>fr>es, 'und' when no
    evidence). A real deployment swaps the word lists for n-gram
    profiles; the operator shape (scan + HOF counts + CASE) is the
    same and stays fully JVM-side."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tok()

    def hits(lang: str):
        arr = F.array(*[F.lit(w) for w in _STOP[lang]])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t))).cast("bigint")

    en, de, fr, es = (hits(lang) for lang in ("en", "de", "fr", "es"))
    pred = (
        F.when((en >= de) & (en >= fr) & (en >= es) & (en > 0), "en")
        .when((de >= fr) & (de >= es) & (de > 0), "de")
        .when((fr >= es) & (fr > 0), "fr")
        .when(es > 0, "es")
        .otherwise("und")
    )
    return docs.select(
        "doc_id",
        F.col("lang").alias("lang_label"),
        en.alias("en_hits"),
        de.alias("de_hits"),
        fr.alias("fr_hits"),
        es.alias("es_hits"),
        pred.alias("lang_pred"),
    ).orderBy("doc_id")


@register(
    "x22_token_count",
    oracle="""
    SELECT doc_id,
           LEN(STRING_SPLIT(text, ' ')) AS ws_tokens,
           LEN(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(text, '[^a-zA-Z0-9]+'),
                           t -> t <> '')) AS word_tokens,
           CAST(CEIL(LENGTH(text) / 4.0) AS BIGINT) AS approx_bpe_tokens
    FROM documents
    ORDER BY doc_id
    """,
)
def x22_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace split, regex word split
    (BPE-ish pre-tokenizer), and the chars/4 BPE budget heuristic."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("ws_tokens"),
        F.size(
            F.filter(F.split("text", "[^a-zA-Z0-9]+"), lambda t: t != "")
        ).cast("bigint").alias("word_tokens"),
        F.ceil(F.length("text") / 4.0).cast("bigint").alias("approx_bpe_tokens"),
    ).orderBy("doc_id")


@register(
    "x23_fingerprint",
    oracle="""
    SELECT doc_id,
           MD5(LOWER(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))) AS fp_full,
           MD5(SUBSTRING(LOWER(REGEXP_REPLACE(text, '\\s+', ' ', 'g')), 1, 64))
             AS fp_prefix64
    FROM documents
    ORDER BY doc_id
    """,
)
def x23_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: canonicalize (lower + collapse
    whitespace) then md5 over full text and a 64-char prefix — the
    cheap pre-filter for exact/near dedup at scale."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.regexp_replace("text", r"\s+", " "))
    return docs.select(
        "doc_id",
        F.md5(norm.cast("binary")).alias("fp_full"),
        F.md5(F.substring(norm, 1, 64).cast("binary")).alias("fp_prefix64"),
    ).orderBy("doc_id")


def _x40_sql() -> str:
    """Declarative twin of prepare_corpus: every stage chained as a
    CTE built from the SAME dialect pieces the dedup/similarity
    queries export (one source of truth for hash family, slicing,
    banding, and gates — a default change there flows here)."""
    from .dedup import _AGREE_MIN, _N_BANDS, _N_HASHES, _sql_digests, _sql_minhash, _sql_shingles
    from .similarity import _SQL_BUCKET, _sql_dot

    # minhash pairs over the exact-dedup survivors (s3): shared
    # digest/minhash/band expressions; jaccard threshold is x40's own
    # parameter (0.6, the prepare_corpus call site)
    hashes = ", ".join(f"{_sql_minhash(i)} AS h{i}" for i in range(_N_HASHES))
    band_union = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, h{2 * b} || h{2 * b + 1} AS band_val "
        "FROM n_sigs"
        for b in range(_N_BANDS)
    )
    agree = " + ".join(
        f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)" for i in range(_N_HASHES)
    )
    return f"""
    WITH s1 AS (
      SELECT * FROM documents
      WHERE LEN(STRING_SPLIT(text, ' ')) BETWEEN 5 AND 100000
        AND LEN(REPLACE(text, ' ', '')) >= 2.0 * LEN(STRING_SPLIT(text, ' '))),
    s2 AS (SELECT * FROM s1 WHERE lang IN ('en', 'de')),
    fp AS (
      SELECT *, MD5(LOWER(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))) AS __fp
      FROM s2),
    s3 AS (
      SELECT * EXCLUDE (__fp) FROM
        (SELECT *, ROW_NUMBER() OVER (PARTITION BY __fp ORDER BY doc_id) AS __rn
         FROM fp)
      WHERE __rn = 1),
    n_sh AS (SELECT doc_id, {_sql_shingles()} AS sh FROM s3),
    n_dg AS (SELECT doc_id, sh, {_sql_digests()} FROM n_sh),
    n_sigs AS (SELECT doc_id, {hashes} FROM n_dg),
    n_bands AS ({band_union}),
    n_cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM n_bands a JOIN n_bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id),
    n_gated AS (
      SELECT id_a, id_b FROM n_cand
        JOIN n_sigs sa ON sa.doc_id = id_a
        JOIN n_sigs sb ON sb.doc_id = id_b
      WHERE {agree} >= {_AGREE_MIN}),
    n_losers AS (
      SELECT DISTINCT id_b AS doc_id
      FROM n_gated JOIN n_sh sha ON sha.doc_id = id_a
                   JOIN n_sh shb ON shb.doc_id = id_b
      WHERE ROUND(CAST(LEN(LIST_INTERSECT(sha.sh, shb.sh)) AS DOUBLE)
                  / (LEN(sha.sh) + LEN(shb.sh)
                     - LEN(LIST_INTERSECT(sha.sh, shb.sh))), 4) >= 0.6),
    s4 AS (SELECT * FROM s3 WHERE doc_id NOT IN (SELECT doc_id FROM n_losers)),
    e_b AS (
      SELECT e.vec_id AS __id, e.embedding AS __v,
             CAST({_SQL_BUCKET.replace('embedding', 'e.embedding')} AS BIGINT) AS __b,
             SQRT({_sql_dot('e.embedding', 'e.embedding')}) AS __n
      FROM embeddings e WHERE e.vec_id IN (SELECT doc_id FROM s4)),
    e_losers AS (
      SELECT DISTINCT b.__id AS doc_id
      FROM e_b a JOIN e_b b ON a.__b = b.__b AND a.__id < b.__id
      WHERE {_sql_dot('a.__v', 'b.__v')} / (a.__n * b.__n) >= 0.9),
    s5 AS (SELECT * FROM s4 WHERE doc_id NOT IN (SELECT doc_id FROM e_losers)),
    s6 AS (
      SELECT * FROM
        (SELECT *, SUM(CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT))
                     OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS __cum
         FROM s5)
      WHERE __cum <= 20000)
    SELECT * FROM (
      SELECT 0 AS stage_idx, 'input' AS stage,
             (SELECT COUNT(*) FROM documents) AS n_docs
      UNION ALL SELECT 1, 'quality', (SELECT COUNT(*) FROM s1)
      UNION ALL SELECT 2, 'language', (SELECT COUNT(*) FROM s2)
      UNION ALL SELECT 3, 'exact_dedup', (SELECT COUNT(*) FROM s3)
      UNION ALL SELECT 4, 'near_dedup', (SELECT COUNT(*) FROM s4)
      UNION ALL SELECT 5, 'embedding_dedup', (SELECT COUNT(*) FROM s5)
      UNION ALL SELECT 6, 'token_budget', (SELECT COUNT(*) FROM s6))
    ORDER BY stage_idx
    """


@register("x40_prepare_corpus", oracle=_x40_sql())
def x40_prepare_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data prep (dataprep.prepare_corpus):
    quality gate -> language filter -> exact dedup -> MinHash near-dup
    removal -> embedding near-dup removal -> token budget. Returns the
    deterministic per-stage count table (the pipeline's contract) —
    differentially verified against a declarative DuckDB twin that
    chains every stage as a CTE with the same hash family, banding,
    gates, and window semantics.
    """
    from ..catalog import load_table as _lt
    from ..dataprep import prepare_corpus

    docs = _lt(spark, sf_dir, "documents")
    emb = _lt(spark, sf_dir, "embeddings")
    from .similarity import _DIM

    _clean, stats = prepare_corpus(
        docs,
        embeddings=emb,
        langs=("en", "de"),
        min_jaccard=0.6,
        min_cosine=0.9,
        budget_tokens=20_000,
        dim=_DIM,  # schema metadata — skips the driver-side dim probe
    )
    return spark.createDataFrame(
        [(i, name, n) for i, (name, n) in enumerate(stats.stages)],
        "stage_idx INT, stage STRING, n_docs BIGINT",
    )


# ---- x52: grouped-map applyInPandas surfaced on the driver gate ----

# Cross-engine float determinism: every aggregate is an exact integer
# (sum, sum-of-squares over BIGINT n_chars), converted to double once
# and combined in an expression tree mirrored token-for-token in the
# oracle — identical IEEE op order => identical bits => stable hash.

# lang IS NOT NULL on BOTH sides: Spark's groupBy would emit a NULL
# group that the oracle's equi-join silently drops — pin the
# semantics instead of depending on the fixtures having no NULLs
_X52_SQL = """
    WITH g AS (
      SELECT lang,
             COUNT(*) AS n,
             CAST(SUM(n_chars) AS BIGINT) AS s,
             CAST(SUM(n_chars * n_chars) AS BIGINT) AS ss
      FROM documents WHERE lang IS NOT NULL GROUP BY lang)
    SELECT d.doc_id, d.lang,
           ROUND(CASE WHEN g.n > 1 AND g.n * g.ss > g.s * g.s
                 THEN CAST(d.n_chars * g.n - g.s AS DOUBLE)
                      / (CAST(g.n AS DOUBLE)
                         * SQRT(CAST(g.n * g.ss - g.s * g.s AS DOUBLE)
                                / CAST(g.n * (g.n - 1) AS DOUBLE)))
                 ELSE 0.0 END, 6) AS len_zscore
    FROM documents d JOIN g ON d.lang = g.lang
    WHERE d.lang IS NOT NULL
    ORDER BY d.doc_id
    """


@register("x52_udf_zscore", oracle=_X52_SQL)
def x52_udf_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language z-score of document length via grouped-map
    ``applyInPandas`` — the UDF surface driver-checked, not
    pytest-only.

    The group aggregates are exact Python ints inside the UDF; the
    double expression tree matches the oracle's token-for-token, so
    the scores hash-match despite crossing a Python boundary.

    Scale: one shuffle on lang; each group materializes as one pandas
    frame (the applyInPandas contract — for unbounded groups use the
    two-pass groupBy-stats + broadcast-join form instead).
    """
    import math

    import pandas as pd

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars")
        .filter(F.col("lang").isNotNull())
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        xs = [int(v) for v in pdf["n_chars"]]
        n, s = len(xs), sum(xs)
        ss = sum(x * x for x in xs)
        if n > 1 and n * ss > s * s:
            sd = math.sqrt(float(n * ss - s * s) / float(n * (n - 1)))
            z = [float(x * n - s) / (float(n) * sd) for x in xs]
        else:
            z = [0.0] * n
        return pd.DataFrame(
            {"doc_id": pdf["doc_id"], "lang": pdf["lang"], "len_zscore": z}
        )

    out = docs.groupBy("lang").applyInPandas(
        fn, "doc_id BIGINT, lang STRING, len_zscore DOUBLE"
    )
    return out.select(
        "doc_id", "lang", F.round("len_zscore", 6).alias("len_zscore")
    ).orderBy("doc_id")


# ---- x24: deterministic hash-gated sampling ----

_X24_SQL = """
    SELECT doc_id, lang,
           SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 1) AS bucket
    FROM documents
    WHERE SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
       OR (lang = 'en'
           AND SUBSTR(MD5('en#' || CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2','3'))
    ORDER BY doc_id
    """


@register("x24_hash_sample", oracle=_X24_SQL)
def x24_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sampling: an md5 gate on the row key gives a
    reproducible ~12.5% global sample (first hex digit in {0,1}) plus
    a stratified ~25% boost for one language (salted key) — the
    production alternative to engine-RNG ``sample()``, which is not
    reproducible across engines, retries, or partition layouts.

    Scale: a narrow filter — no shuffle, no RNG state, pushes past
    any partitioning; the same gate expression selects the same rows
    on any engine (the property RNG sampling can't give you).
    """
    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(F.col("doc_id").cast("string"))
    salted = F.md5(F.concat(F.lit("en#"), F.col("doc_id").cast("string")))
    gate = F.substring(key, 1, 1).isin("0", "1") | (
        (F.col("lang") == "en")
        & F.substring(salted, 1, 1).isin("0", "1", "2", "3")
    )
    return (
        docs.filter(gate)
        .select("doc_id", "lang", F.substring(key, 1, 1).alias("bucket"))
        .orderBy("doc_id")
    )


# ---- x25: TF-IDF term scoring ----

# idf is the *linear* reciprocal-df form (N/df, one exact-integer
# division) rather than ln(N/df): libm log differs across engines in
# the last ulp, which the hash gate would surface; the ranking is
# identical for any monotone idf.

_X25_TOP = 3

_X25_SQL = f"""
    WITH toks AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS term
      FROM documents),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM toks WHERE term <> '' GROUP BY doc_id, term),
    df AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks
      WHERE term <> '' GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             ROUND(CAST(tf.tf * n.n_docs AS DOUBLE) / df.df, 6) AS score
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN n),
    ranked AS (
      SELECT doc_id, term, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, term) AS rnk
      FROM scored)
    SELECT doc_id, term, score, rnk
    FROM ranked WHERE rnk <= {_X25_TOP}
    ORDER BY doc_id, rnk
    """


@register("x25_tfidf", oracle=_X25_SQL)
def x25_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 (_X25_TOP) TF-IDF terms per document: explode to tokens,
    per-(doc,term) counts, document frequency, linear idf, window
    top-k.

    r11 (guide §1.2/§2.4): the old shape tokenized the corpus TWICE
    (tf and df each re-derived the explode) and shuffled the raw
    token stream twice. df over the tf relation is exactly
    COUNT(DISTINCT doc_id) — tf already holds one row per (doc,
    term) — so df becomes a count-over-term window on tf and the
    tf⋈df join disappears. One tokenize, one token-stream shuffle;
    the two remaining exchanges carry the (doc,term)-distinct
    stream only.

    Scale: shuffles (doc,term) then (term) then (doc) — all uniform
    keys over the distinct stream; the corpus-size scalar joins in as
    a broadcast literal, and the final top-k is a WindowGroupLimit,
    never a global sort of the scored stream.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.withColumn("df", F.count("*").over(Window.partitionBy("term")))
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df"), 6
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _X25_TOP)
        .orderBy("doc_id", "rnk")
    )


# ---- x26/x27: corpus vocabulary statistics ----


@register(
    "x26_vocabulary",
    oracle="""
    WITH toks AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term
      FROM documents),
    vocab AS (
      SELECT term,
             COUNT(DISTINCT doc_id) AS df,
             COUNT(*) AS cf
      FROM toks WHERE term <> '' GROUP BY term)
    SELECT term, df, cf
    FROM vocab
    ORDER BY df DESC, term
    LIMIT 50
    """,
)
def x26_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary building: document frequency + collection frequency
    per term, top-50 by df (term-asc tiebreak keeps the LIMIT set
    stable). The df/cf table is the substrate for tokenizer vocab
    selection and stopword induction over a training corpus.

    Scale: one explode (narrow) + one shuffle on term — term keys are
    Zipf-skewed, which is exactly what partial (map-side) aggregation
    absorbs: each task emits one row per distinct term, so the shuffle
    carries vocab-sized data, not token-sized. The top-50 is a
    TakeOrderedAndProject, never a global sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    return (
        toks.groupBy("term")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.count("*").alias("cf"),
        )
        .orderBy(F.desc("df"), "term")
        .limit(50)
    )


@register(
    "x27_bigrams",
    oracle="""
    WITH toks AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
    grams AS (
      SELECT doc_id,
             UNNEST(LIST_TRANSFORM(RANGE(1, LEN(t)),
                                   i -> t[i] || ' ' || t[i + 1])) AS bigram
      FROM toks)
    SELECT bigram,
           COUNT(*) AS n_occurrences,
           COUNT(DISTINCT doc_id) AS n_docs
    FROM grams
    GROUP BY bigram
    ORDER BY n_occurrences DESC, bigram
    LIMIT 30
    """,
)
def x27_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram extraction + frequency: adjacent token pairs via an
    index-sequence transform (no self-join), top-30 by occurrence.
    N-gram tables feed contamination checks and phrase-vocab builds.

    Determinism guard: ``sequence(1, n-1)`` COUNTS DOWN when n < 2
    (Spark yields ``[1, 0]``), so the index array is gated behind a
    ``when(n >= 2, ...)`` — single-token docs contribute no bigrams,
    matching DuckDB's end-exclusive ``RANGE(1, 1) = []``.

    Scale: same shape as x26 — narrow gram generation, one Zipf-keyed
    shuffle tamed by partial aggregation, top-k via ordered take.
    """
    docs = load_table(spark, sf_dir, "documents")
    # token array lambda-bound (functions.hof.bound): a captured split
    # re-tokenizes per bigram position in the interpreted HOF
    grams = docs.select(
        "doc_id",
        F.explode(
            bound(
                F.split(F.col("text"), " "),
                lambda t: F.transform(
                    F.when(
                        F.size(t) >= 2, F.sequence(F.lit(1), F.size(t) - 1)
                    ).otherwise(F.array().cast("array<int>")),
                    lambda i: F.concat_ws(
                        " ", F.element_at(t, i), F.element_at(t, i + 1)
                    ),
                ),
            )
        ).alias("bigram"),
    )
    return (
        grams.groupBy("bigram")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), "bigram")
        .limit(30)
    )


# ---- x28: table profiling ----


@register(
    "x28_doc_profile",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT lang) AS n_langs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 4) AS avg_chars,
           CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_en,
           ROUND(CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 4) AS en_share
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def x28_doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profiling per source: row/distinct counts, min/max/avg
    length, language share — the ANALYZE-style summary a pipeline
    emits before/after each prep stage (and the stats AQE-style
    planning feeds on). Ratios are exact-int sums with one final
    double division.

    Scale: single partial-aggregated shuffle on the (low-cardinality)
    source key; no row ever leaves the executors un-aggregated.
    """
    docs = load_table(spark, sf_dir, "documents")
    en = F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0))
    return (
        docs.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
            F.round(
                F.sum("n_chars").cast("double") / F.count("*"), 4
            ).alias("avg_chars"),
            F.sum(en).cast("bigint").alias("n_en"),
            F.round(F.sum(en).cast("double") / F.count("*"), 4).alias(
                "en_share"
            ),
        )
        .orderBy("source")
    )


# ---- x41 companion: stratified train/val/test split ----


@register(
    "x41_train_split",
    oracle="""
    WITH assigned AS (
      SELECT lang, n_chars,
             CASE WHEN SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 1)
                       IN ('c', 'd') THEN 'val'
                  WHEN SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 1)
                       IN ('e', 'f') THEN 'test'
                  ELSE 'train' END AS split
      FROM documents)
    SELECT lang, split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM assigned
    GROUP BY lang, split
    ORDER BY lang, split
    """,
)
def x41_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (75/12.5/12.5 by the first
    md5 hex digit of the row key) summarized per language — the
    reproducible alternative to ``randomSplit``, whose assignment
    changes with partition layout and seed handling. The same gate
    expression lands every doc in the same split on any engine, any
    retry, any repartitioning.

    Scale: narrow assignment (no shuffle), then one tiny aggregate;
    writing the actual splits is ``partitionBy(split)`` on the same
    expression — still shuffle-free.
    """
    docs = load_table(spark, sf_dir, "documents")
    digit = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    split = (
        F.when(digit.isin("c", "d"), F.lit("val"))
        .when(digit.isin("e", "f"), F.lit("test"))
        .otherwise(F.lit("train"))
    )
    return (
        docs.select("lang", "n_chars", split.alias("split"))
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .orderBy("lang", "split")
    )


# ---- x29: repetition signals (Gopher-style quality filters) ----


@register(
    "x29_repetition",
    oracle="""
    WITH toks AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
    tok AS (SELECT doc_id, UNNEST(t) AS term FROM toks),
    tc AS (
      SELECT doc_id, term, COUNT(*) AS c
      FROM tok GROUP BY doc_id, term),
    tstats AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_distinct,
             CAST(MAX(c) AS BIGINT) AS top_token_n
      FROM tc GROUP BY doc_id),
    grams AS (
      SELECT doc_id,
             UNNEST(LIST_TRANSFORM(RANGE(1, LEN(t)),
                                   i -> t[i] || ' ' || t[i + 1])) AS bigram
      FROM toks),
    bc AS (
      SELECT doc_id, bigram, COUNT(*) AS c
      FROM grams GROUP BY doc_id, bigram),
    bstats AS (
      SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_bigram_n
      FROM bc GROUP BY doc_id)
    SELECT ts.doc_id, n_tokens, n_distinct, top_token_n,
           COALESCE(top_bigram_n, CAST(0 AS BIGINT)) AS top_bigram_n,
           FLOOR(n_distinct * 10000.0 / n_tokens) / 10000
             AS distinct_ratio,
           FLOOR(top_token_n * 10000.0 / n_tokens) / 10000
             AS top_token_share,
           CASE WHEN n_tokens >= 2
                THEN FLOOR(COALESCE(top_bigram_n, 0) * 10000.0
                           / (n_tokens - 1)) / 10000
                ELSE 0.0 END AS top_bigram_share,
           CASE WHEN FLOOR(n_distinct * 10000.0 / n_tokens) / 10000 < 0.3
                  OR (n_tokens >= 2 AND
                      FLOOR(COALESCE(top_bigram_n, 0) * 10000.0
                            / (n_tokens - 1)) / 10000 > 0.2)
                THEN 1 ELSE 0 END AS repetitive
    FROM tstats ts LEFT JOIN bstats bs ON ts.doc_id = bs.doc_id
    ORDER BY ts.doc_id
    """,
)
def x29_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition signals per document — the Gopher-rules family of
    quality filters (distinct-token ratio, most-frequent-token share,
    most-frequent-bigram share) plus the resulting gate flag.

    Determinism: every share is exact-integer ``count * 10000 / n``
    in one double division, then FLOOR-truncated (tie-free across
    engines, unlike ROUND at half-ulp .5s); the flag compares the
    already-truncated values so both engines gate identically.

    Scale: token and bigram counts partial-aggregate on (doc_id, term)
    before the shuffle, the per-doc rollups shuffle on doc_id only,
    and the final join is doc_id-to-doc_id (co-partitioned after the
    rollups). Nothing is corpus-global — the whole plan is linear in
    tokens and embarrassingly parallel across documents.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")

    tok = docs.select("doc_id", F.explode(t).alias("term"))
    tc = tok.groupBy("doc_id", "term").agg(F.count("*").alias("c"))
    tstats = tc.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_distinct"),
        F.max("c").cast("bigint").alias("top_token_n"),
    )

    # token array lambda-bound (functions.hof.bound): a captured split
    # re-tokenizes per bigram position in the interpreted HOF
    grams = docs.select(
        "doc_id",
        F.explode(
            bound(
                t,
                lambda tk: F.transform(
                    F.when(
                        F.size(tk) >= 2, F.sequence(F.lit(1), F.size(tk) - 1)
                    ).otherwise(F.array().cast("array<int>")),
                    lambda i: F.concat_ws(
                        " ", F.element_at(tk, i), F.element_at(tk, i + 1)
                    ),
                ),
            )
        ).alias("bigram"),
    )
    bc = grams.groupBy("doc_id", "bigram").agg(F.count("*").alias("c"))
    bstats = bc.groupBy("doc_id").agg(
        F.max("c").cast("bigint").alias("top_bigram_n")
    )

    joined = tstats.join(bstats, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        "top_token_n",
        F.coalesce("top_bigram_n", F.lit(0).cast("bigint")).alias(
            "top_bigram_n"
        ),
    )
    distinct_ratio = (
        F.floor(F.col("n_distinct") * 10000.0 / F.col("n_tokens")) / 10000
    )
    top_token_share = (
        F.floor(F.col("top_token_n") * 10000.0 / F.col("n_tokens")) / 10000
    )
    top_bigram_share = F.when(
        F.col("n_tokens") >= 2,
        F.floor(
            F.col("top_bigram_n") * 10000.0 / (F.col("n_tokens") - 1)
        )
        / 10000,
    ).otherwise(F.lit(0.0))
    return joined.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        "top_token_n",
        "top_bigram_n",
        distinct_ratio.alias("distinct_ratio"),
        top_token_share.alias("top_token_share"),
        top_bigram_share.alias("top_bigram_share"),
        F.when(
            (distinct_ratio < 0.3) | (top_bigram_share > 0.2), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("repetitive"),
    ).orderBy("doc_id")


# ---- x42: train/eval decontamination (8-gram collision scan) ----

_X42_NGRAM = 8


def _x42_sql() -> str:
    g = _X42_NGRAM
    return f"""
    WITH toks AS (
      SELECT doc_id,
             SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 1) AS d,
             STRING_SPLIT(text, ' ') AS t
      FROM documents),
    grams AS (
      SELECT doc_id, d,
             UNNEST(LIST_TRANSFORM(
               RANGE(1, GREATEST(LEN(t) - {g - 1}, 0) + 1),
               i -> ARRAY_TO_STRING(t[i:i + {g - 1}], ' '))) AS gram
      FROM toks),
    tg AS (
      SELECT DISTINCT doc_id, gram FROM grams WHERE d NOT IN ('e', 'f')),
    eg AS (SELECT DISTINCT gram FROM grams WHERE d IN ('e', 'f')),
    tot AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
      FROM tg GROUP BY doc_id),
    hit AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit
      FROM tg WHERE gram IN (SELECT gram FROM eg) GROUP BY doc_id)
    SELECT tot.doc_id, n_grams,
           COALESCE(n_hit, CAST(0 AS BIGINT)) AS n_hit,
           FLOOR(COALESCE(n_hit, 0) * 10000.0 / n_grams) / 10000
             AS hit_share,
           CASE WHEN COALESCE(n_hit, 0) > 0 THEN 1 ELSE 0 END
             AS contaminated
    FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id
    ORDER BY tot.doc_id
    """


@register("x42_decontamination", oracle=_x42_sql())
def x42_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: flag training documents sharing any
    8-token n-gram with the held-out split (the x41 'test' hash gate,
    md5 first hex digit in {e, f}) — the standard pre-training scan
    that keeps benchmark text out of the training corpus.

    Per train doc: distinct 8-gram count, how many collide with the
    eval side, the FLOOR-truncated collision share, and the 0/1 flag.

    Scale: n-grams are generated narrowly (index-sequence transform,
    no self-join), de-duplicated per doc with a partial-aggregated
    shuffle on (doc_id, gram), and the collision test is a left-semi
    join on the gram key — Zipf-skewed but bounded by the *eval*
    side's distinct grams, which is the small side by construction
    (hash gate keeps ~12.5%) and broadcastable under AQE. No stage is
    quadratic in corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    g = _X42_NGRAM
    digit = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    # token array lambda-bound (functions.hof.bound): a captured split
    # re-tokenizes per gram position in the interpreted HOF
    grams = docs.select(
        "doc_id",
        digit.alias("d"),
        F.explode(
            bound(
                F.split(F.col("text"), " "),
                lambda t: F.transform(
                    F.when(
                        F.size(t) >= g,
                        F.sequence(F.lit(1), F.size(t) - (g - 1)),
                    ).otherwise(F.array().cast("array<int>")),
                    lambda i: F.array_join(F.slice(t, i, g), " "),
                ),
            )
        ).alias("gram"),
    )
    # r11 (guide §2.4): one gram-keyed repartition feeds BOTH the
    # (gram, doc)-dedup aggregate and the gram-grain eval-presence
    # window — HashPartitioning(gram) satisfies the aggregate's
    # clustering (gram ⊆ {gram, doc_id, d}) and the window's, so the
    # gram stream crosses exactly ONE exchange. The old shape ran the
    # train distinct, the per-doc totals, the tg-by-gram semi-join
    # re-key, the separate eval-side distinct and the tot⟕hit join —
    # three full-stream exchanges plus two join branches. The
    # semi-join becomes max(is_eval) over the gram partition; a train
    # doc with no collisions sums the 0s to n_hit = 0, which is the
    # old COALESCE.
    is_eval = F.col("d").isin("e", "f")
    dedup = (
        grams.repartition("gram")
        .groupBy("gram", "doc_id", "d")
        .agg(F.count("*").alias("__dup"))
    )
    flagged = dedup.withColumn(
        "has_eval",
        F.max(F.when(is_eval, 1).otherwise(0)).over(
            Window.partitionBy("gram")
        ),
    )
    n_hit = F.sum("has_eval").cast("bigint")
    out = (
        flagged.filter(~is_eval)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            n_hit.alias("n_hit"),
            (F.floor(n_hit * 10000.0 / F.count("*")) / 10000).alias(
                "hit_share"
            ),
            F.when(n_hit > 0, F.lit(1)).otherwise(F.lit(0)).alias(
                "contaminated"
            ),
        )
        .orderBy("doc_id")
    )
    return out


# ---- x45: sequence packing into fixed token-budget bins ----

_X45_BUDGET = 512


@register(
    "x45_pack_sequences",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, source,
             CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents),
    packed AS (
      SELECT source, doc_id, n_tokens,
             CAST(FLOOR(
               (SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) - n_tokens)
               / {_X45_BUDGET}.0) AS BIGINT) AS bin_id
      FROM sized)
    SELECT source, bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM packed
    GROUP BY source, bin_id
    ORDER BY source, bin_id
    """,
)
def x45_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents to fixed token-budget bins
    (``_X45_BUDGET`` = 512 tokens) per source — the batch form of training
    sample packing, where short documents are concatenated up to the
    model context length. Bin id = cumulative tokens before the doc,
    integer-divided by the budget (deterministic streaming first-fit
    in doc_id order); output is per-bin occupancy stats.

    Scale: ONE shuffle on the source key for the running-sum window,
    then a partial-aggregated rollup on (source, bin_id). The window
    is per-source, not global — packing parallelizes across sources
    (at 100 TB you'd sub-shard the partition key, e.g. by
    (source, doc_id div N), accepting one straddling bin per shard
    boundary; the per-source form here is the exact contract).
    """
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = sized.select(
        "source",
        "doc_id",
        "n_tokens",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens")) / float(_X45_BUDGET)
        )
        .cast("bigint")
        .alias("bin_id"),
    )
    return (
        packed.groupBy("source", "bin_id")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("bin_tokens"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
            F.max("doc_id").cast("bigint").alias("last_doc"),
        )
        .orderBy("source", "bin_id")
    )


# ---- x43: corpus mix rebalancing (per-source sampling weights) ----


@register(
    "x43_mix_rebalance",
    oracle="""
    WITH counts AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    target AS (
      SELECT source, n_docs, n_tokens,
             CAST(1 + (ASCII(SUBSTRING(MD5(source), 1, 1)) % 4) AS BIGINT)
               AS target_parts
      FROM counts),
    tot AS (
      SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens,
             CAST(SUM(target_parts) AS BIGINT) AS tot_parts
      FROM target)
    SELECT source, n_docs, n_tokens,
           FLOOR(n_tokens * 10000.0 / tot_tokens) / 10000 AS actual_share,
           FLOOR(target_parts * 10000.0 / tot_parts) / 10000
             AS target_share,
           FLOOR((target_parts * 10000.0 / tot_parts)
                 / (CAST(n_tokens AS DOUBLE) / tot_tokens) * 10000.0)
             / 10000 AS sampling_weight
    FROM target CROSS JOIN tot
    ORDER BY source
    """,
)
def x43_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mix rebalancing: per-source token counts vs a target
    mix, emitting the sampling weight (target share / actual share)
    each source needs to hit the recipe — the knob LLM data recipes
    (web/books/code ratios) turn before sampling. Target parts are
    hash-derived from the source name (deterministic stand-in for a
    config table; in production this CTE is the recipe file).

    Determinism: shares and weights are exact-int ratios through one
    or two double divisions in identical order, FLOOR-truncated.

    Scale: one partial-aggregated shuffle on the low-cardinality
    source key; the totals row is a broadcast scalar. The follow-on
    sampler is x24's hash gate with these weights as thresholds —
    still shuffle-free.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).cast("bigint").alias("n_tokens"),
    )
    target_parts = (
        1 + F.ascii(F.substring(F.md5(F.col("source")), 1, 1)) % 4
    ).cast("bigint")
    target = counts.select("source", "n_docs", "n_tokens", target_parts.alias("target_parts"))
    tot = target.agg(
        F.sum("n_tokens").cast("bigint").alias("tot_tokens"),
        F.sum("target_parts").cast("bigint").alias("tot_parts"),
    )
    joined = target.crossJoin(F.broadcast(tot))
    actual_share = F.floor(F.col("n_tokens") * 10000.0 / F.col("tot_tokens")) / 10000
    target_share = F.floor(F.col("target_parts") * 10000.0 / F.col("tot_parts")) / 10000
    weight = (
        F.floor(
            (F.col("target_parts") * 10000.0 / F.col("tot_parts"))
            / (F.col("n_tokens").cast("double") / F.col("tot_tokens"))
            * 10000.0
        )
        / 10000
    )
    return joined.select(
        "source",
        "n_docs",
        "n_tokens",
        actual_share.alias("actual_share"),
        target_share.alias("target_share"),
        weight.alias("sampling_weight"),
    ).orderBy("source")


# ---- x44: PII redaction (email/IP/phone scrub + audit counts) ----

# The fixture corpus is PII-free word soup, so the query splices a
# deterministic synthetic contact string onto each document (varied by
# doc_id so counts differ per row) and then runs the real scrub —
# exercising the redaction regexes on realistic surrounding text while
# staying fully oracle-checkable.
_X44_AUG_SQL = """
    text || CASE
      WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
                               || '@example.com now'
      WHEN doc_id % 3 = 1 THEN ' call 555-'
                               || LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                               || ' today'
      ELSE ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.'
           || CAST((doc_id * 7) % 256 AS VARCHAR)
    END
"""


def _x44_sql() -> str:
    from ..operators.pii import PII_PATTERNS

    (_, email, email_tag), (_, ip, ip_tag), (_, phone, phone_tag) = PII_PATTERNS
    return f"""
    WITH aug AS (
      SELECT doc_id, {_X44_AUG_SQL} AS t0 FROM documents),
    s1 AS (SELECT doc_id, t0,
                  REGEXP_REPLACE(t0, '{email}', '{email_tag}', 'g') AS t1
           FROM aug),
    s2 AS (SELECT doc_id, t0, t1,
                  REGEXP_REPLACE(t1, '{ip}', '{ip_tag}', 'g') AS t2
           FROM s1)
    SELECT doc_id,
           CAST(LEN(REGEXP_EXTRACT_ALL(t0, '{email}')) AS BIGINT) AS n_email,
           CAST(LEN(REGEXP_EXTRACT_ALL(t1, '{ip}')) AS BIGINT) AS n_ip,
           CAST(LEN(REGEXP_EXTRACT_ALL(t2, '{phone}')) AS BIGINT) AS n_phone,
           MD5(REGEXP_REPLACE(t2, '{phone}', '{phone_tag}', 'g')) AS redacted_md5
    FROM s2
    ORDER BY doc_id
    """


@register("x44_pii_redaction", oracle=_x44_sql())
def x44_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (C4/CCNet-style): redact emails, IPv4s, and phone
    numbers with ``regexp_replace`` built-ins, auditing per-kind match
    counts. Patterns stay in the RE2-compatible subset so Spark (Java
    regex) and DuckDB (RE2) agree byte-for-byte; the scrubbed text is
    surfaced as an md5 so the oracle hashes a scalar.

    Scale: narrow per-row map, zero shuffle — pipelines with the
    quality gate in ``prepare_corpus`` at 100 TB. Operator:
    ``operators/pii.py`` (``redact_pii``/``pii_counts``).
    """
    from ..operators.pii import pii_counts, redact_pii

    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    id_s = did.cast("string")
    aug = F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(F.lit(" contact user"), id_s, F.lit("@example.com now")),
        )
        .when(
            did % 3 == 1,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
                F.lit(" today"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit(" from 10."),
                (did % 256).cast("string"),
                F.lit(".0."),
                ((did * 7) % 256).cast("string"),
            )
        ),
    )
    return docs.select(
        "doc_id",
        *pii_counts(aug),
        F.md5(redact_pii(aug)).alias("redacted_md5"),
    ).orderBy("doc_id")


# ---- x47: BM25 search scoring (fixed query, rational idf) ----

_BM25_TERMS = ("spark", "window", "join")
_BM25_K1 = "1.2"
_BM25_B = "0.75"


def _x47_sql() -> str:
    tf_cols = ", ".join(
        f"CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t = '{t}')) AS DOUBLE)"
        f" AS tf_{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ", ".join(
        f"CAST(SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_{i}"
        for i in range(len(_BM25_TERMS))
    )
    term_score = " + ".join(
        f"((n_docs - df_{i} + 0.5) / (df_{i} + 0.5))"
        f" * (tf_{i} * ({_BM25_K1} + 1.0))"
        f" / (tf_{i} + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl / avgdl))"
        for i in range(len(_BM25_TERMS))
    )
    return f"""
    WITH tf AS (
      SELECT doc_id, {tf_cols},
             CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE) AS dl
      FROM documents),
    stats AS (
      SELECT {df_cols}, CAST(COUNT(*) AS DOUBLE) AS n_docs,
             SUM(dl) / COUNT(*) AS avgdl
      FROM tf),
    scored AS (
      SELECT doc_id, {term_score} AS score
      FROM tf CROSS JOIN stats)
    SELECT doc_id, ROUND(score, 6) AS bm25
    FROM (SELECT doc_id, score,
                 ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rnk
          FROM scored)
    WHERE rnk <= 20
    ORDER BY bm25 DESC, doc_id
    """


@register("x47_bm25_search", oracle=_x47_sql())
def x47_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 for a fixed conjunctive query ({terms}) — the
    classic search-ranking composition over the same tf/df/doclen
    statistics x25's TF-IDF uses. The idf factor is the *rational*
    Robertson form (N-df+0.5)/(df+0.5) WITHOUT the log: ln() is the
    one primitive whose last-ulp behavior differs across libm
    implementations, and the log is monotone, so dropping it preserves
    the ranking while keeping every arithmetic step bit-identical
    across engines. Term scores are summed in fixed expression order
    (no fp-order-sensitive aggregate).

    Scale: tf/dl is a narrow per-row pass; the corpus stats are a
    one-row global aggregate broadcast back (same shape as q84's
    scalar HAVING); scoring is narrow; top-20 is
    TakeOrderedAndProject. One shuffle total (the global stats).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    k1, b = float(_BM25_K1), float(_BM25_B)
    def tf_expr(term: str):
        # NB: a `lambda x, t=term:` default would flip pyspark into the
        # two-argument (element, index) HOF form — bind via closure
        return F.size(F.filter(toks, lambda x: x == F.lit(term))).cast("double")

    tf = docs.select(
        "doc_id",
        *[tf_expr(t).alias(f"tf_{i}") for i, t in enumerate(_BM25_TERMS)],
        F.size(toks).cast("double").alias("dl"),
    )
    stats = tf.agg(
        *[
            F.sum(F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0))
            .cast("double")
            .alias(f"df_{i}")
            for i in range(len(_BM25_TERMS))
        ],
        F.count("*").cast("double").alias("n_docs"),
        (F.sum("dl") / F.count("*")).alias("avgdl"),
    )
    score = None
    for i in range(len(_BM25_TERMS)):
        idf = (F.col("n_docs") - F.col(f"df_{i}") + F.lit(0.5)) / (
            F.col(f"df_{i}") + F.lit(0.5)
        )
        term = (
            idf
            * (F.col(f"tf_{i}") * F.lit(k1 + 1.0))
            / (
                F.col(f"tf_{i}")
                + F.lit(k1)
                * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            )
        )
        score = term if score is None else score + term
    w = Window.orderBy(F.desc("score"), "doc_id")
    return (
        tf.crossJoin(F.broadcast(stats))
        .select("doc_id", score.alias("score"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 20)
        .select("doc_id", F.round("score", 6).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
    )


x47_bm25_search.__doc__ = x47_bm25_search.__doc__.format(terms=", ".join(_BM25_TERMS))


# ---- x46: corpus bigram LM quality score (CCNet-style) ----

# CCNet (Wenzek et al. 2020) filters corpus documents by language-model
# perplexity. Without shipping a trained LM, the engine-native analog
# is an add-one-smoothed token-bigram model ESTIMATED FROM THE CORPUS
# ITSELF and scored back over every document — the classic
# self-perplexity quality signal (low avg log-prob = atypical text).
#
# Determinism note: each bigram's log-prob is ln of one exact-integer
# ratio, computed identically in both engines (libm ln differs by at
# most ~1 ulp); the per-doc AVG accumulates ≤1e-13 of reorder error on
# values of magnitude ~1e1, five orders below the ROUND(6) grain.

_X46_CTES = """toks AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
    uni AS (
      SELECT u.tok AS tok, COUNT(*) AS c
      FROM toks, UNNEST(t) AS u(tok) GROUP BY u.tok),
    vocab AS (SELECT COUNT(*) AS v FROM uni),
    dbg AS (
      SELECT doc_id, t[r.i] AS a, t[r.i + 1] AS b
      FROM toks, UNNEST(RANGE(1, LEN(t))) AS r(i)),
    bgc AS (SELECT a, b, COUNT(*) AS cab FROM dbg GROUP BY a, b),
    scored AS (
      SELECT d.doc_id,
             LN(CAST(g.cab + 1 AS DOUBLE) / CAST(u.c + vocab.v AS DOUBLE)) AS lp
      FROM dbg d
      JOIN bgc g ON d.a = g.a AND d.b = g.b
      JOIN uni u ON u.tok = d.a
      CROSS JOIN vocab),
    lm AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             ROUND(AVG(lp), 6) AS avg_logp
      FROM scored GROUP BY doc_id)"""

_X46_SQL = f"""
    WITH {_X46_CTES}
    SELECT doc_id, n_bigrams, avg_logp
    FROM lm ORDER BY doc_id
    """


@register("x46_lm_score", oracle=_X46_SQL)
def x46_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-self bigram LM scoring: add-one-smoothed token-bigram
    probabilities estimated over the whole corpus, each document
    scored by its average bigram log-prob (the CCNet perplexity-filter
    shape with the LM built in-engine).

    Scale: bigram generation is a narrow map; the model build is one
    uniform-key partial-agg shuffle on (a, b). r11 (guide §1.2/§3.3):
    the unigram counts attach to the MODEL side (distinct-bigram
    grain, orders smaller than the instance stream) instead of
    re-keying every scored instance by `a` as the old shape did —
    the instance stream now crosses one (a, b) exchange instead of
    two. (A shared repartition("a","b") feeding both the count
    aggregate and the join was tried and rejected: column pruning
    makes the two consumers' subtrees differ — one carries doc_id —
    so ReuseExchange cannot fire, and the extra exchange also loses
    the count's map-side partial aggregation.) Stopword-pair skew is
    AQE skew-join territory, the same class as x42's gram join.
    Vocabulary size is a 1-row broadcast. Nothing is per-row Python.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split(F.col("text"), " ").alias("t"))
    uni = (
        toks.select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    vocab = uni.agg(F.count("*").alias("v"))
    # sequence(1, 0) counts DOWN to [1, 0] and element_at(t, 0) throws
    # INVALID_INDEX_OF_ZERO, so 1-token docs must be gated to an empty
    # array before the transform (same hazard class as x27/x36/x42).
    dbg = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(t) >= 2 THEN "
                "transform(sequence(1, size(t) - 1), "
                "i -> struct(element_at(t, i) AS a, element_at(t, i + 1) AS b)) "
                "ELSE array() END"
            )
        ).alias("g"),
    ).select("doc_id", F.col("g.a").alias("a"), F.col("g.b").alias("b"))
    bgc = dbg.groupBy("a", "b").agg(F.count("*").alias("cab"))
    model = (
        bgc.join(uni.withColumnRenamed("tok", "a"), ["a"])
        .crossJoin(F.broadcast(vocab))
        .select(
            "a",
            "b",
            F.log(
                (F.col("cab") + F.lit(1)).cast("double")
                / (F.col("c") + F.col("v")).cast("double")
            ).alias("lp"),
        )
    )
    scored = dbg.join(model, ["a", "b"]).select("doc_id", "lp")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.round(F.avg("lp"), 6).alias("avg_logp"),
        )
        .orderBy("doc_id")
    )


# ---- x53: Arrow-native batch transform (mapInArrow) ----

_X53_SQL = """
    SELECT doc_id,
           CAST(LENGTH(text) AS BIGINT) AS n_chars,
           CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
           ROUND(CAST(LENGTH(text) - (LEN(STRING_SPLIT(text, ' ')) - 1)
                      AS DOUBLE) / LEN(STRING_SPLIT(text, ' ')), 4)
             AS avg_token_chars
    FROM documents
    ORDER BY doc_id
    """


@register("x53_arrow_stats", oracle=_X53_SQL)
def x53_arrow_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token stats computed ENTIRELY in pyarrow compute
    kernels via ``mapInArrow`` — the Arrow-native UDF surface
    (RecordBatch in/out, no pandas materialization; the zero-copy
    complement to x52's applyInPandas and x50's mapInPandas).

    Arithmetic is exact ints plus one rounded double division, so the
    batch boundary cannot perturb values. Scale: embarrassingly
    parallel batch map; Arrow batch size bounds executor memory via
    ``spark.sql.execution.arrow.maxRecordsPerBatch``.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def fn(batches):
        for batch in batches:
            text = batch.column(1)
            n_chars = pc.cast(pc.utf8_length(text), pa.int64())
            n_tokens = pc.cast(
                pc.list_value_length(pc.split_pattern(text, " ")), pa.int64()
            )
            # round_mode: pyarrow defaults to half-to-even; Spark and
            # DuckDB ROUND are half-away-from-zero. half_towards_infinity
            # matches them on this column (values are always positive;
            # pyarrow has no half_away_from_zero mode)
            avg = pc.round(
                pc.divide(
                    pc.cast(
                        pc.subtract(n_chars, pc.subtract(n_tokens, 1)), pa.float64()
                    ),
                    pc.cast(n_tokens, pa.float64()),
                ),
                ndigits=4,
                round_mode="half_towards_infinity",
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), n_chars, n_tokens, avg],
                ["doc_id", "n_chars", "n_tokens", "avg_token_chars"],
            )

    return docs.mapInArrow(
        fn,
        "doc_id BIGINT, n_chars BIGINT, n_tokens BIGINT, avg_token_chars DOUBLE",
    ).orderBy("doc_id")


# ---- x55: blocklist (badword) filter audit ----

# C4 removed any page containing a word from a blocklist. The engine
# form: word-boundary regex match per document, per-source removal
# counts + retention share — the audit a prep pipeline runs before
# enabling the gate. The fixture corpus is synthetic word soup, so
# the "blocklist" is a deterministic set of ordinary tokens; the
# operator shape (anchored rlike over the scan, one partial-agg
# rollup) is what matters.

_X55_BLOCKLIST = ("merge", "spill", "panic")
_X55_RE = "|".join(_X55_BLOCKLIST)


@register(
    "x55_blocklist_filter",
    oracle=f"""
    WITH flagged AS (
      SELECT source,
             CASE WHEN REGEXP_MATCHES(text, '(^| )({_X55_RE})( |$)')
                  THEN 1 ELSE 0 END AS hit
      FROM documents)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(hit) AS BIGINT) AS n_blocked,
           ROUND(CAST(COUNT(*) - SUM(hit) AS DOUBLE) / COUNT(*), 4)
             AS retention
    FROM flagged
    GROUP BY source
    ORDER BY source
    """,
)
def x55_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist gate audit (the C4 badwords rule): documents
    containing any blocklisted token (word-boundary anchored) are
    flagged; per-source blocked counts and retention share.

    Scale: narrow anchored-regex scan (RE2-safe alternation — no
    backtracking class) + one partial-agg rollup on source. The
    enforcement form is ``docs.filter(~hit)`` fused into the same
    scan.
    """
    docs = load_table(spark, sf_dir, "documents")
    hit = F.when(
        F.col("text").rlike(f"(^| )({_X55_RE})( |$)"), 1
    ).otherwise(0)
    return (
        docs.select("source", hit.alias("hit"))
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("hit").cast("bigint").alias("n_blocked"),
            F.round(
                (F.count("*") - F.sum("hit")).cast("double") / F.count("*"), 4
            ).alias("retention"),
        )
        .orderBy("source")
    )


# ---- x09: per-source dedup rate (corpus-health by provenance) ----

_X09_SQL = """
    WITH fp AS (
      SELECT source,
             MD5(LOWER(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))) AS fp
      FROM documents)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique,
           ROUND(1.0 - CAST(COUNT(DISTINCT fp) AS DOUBLE) / COUNT(*), 4)
             AS dup_rate
    FROM fp GROUP BY source ORDER BY source
    """


@register("x09_source_dedup_rate", oracle=_X09_SQL)
def x09_source_dedup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate rate per source: the provenance-level corpus
    health number a prep pipeline watches to decide which feeds need
    upstream fixing (x01 lists the dup groups; this rolls the damage
    up by origin, x28's profiling shape applied to dedup).

    Scale: one narrow fingerprint map + a (source, fp) count-distinct
    — Spark plans it as two partial-agg shuffles keyed (source, fp)
    then (source); both keys are uniform (md5) or low-cardinality.
    """
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(
        F.lower(F.regexp_replace("text", r"\s+", " ")).cast("binary")
    )
    return (
        docs.select("source", fp.alias("fp"))
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.countDistinct("fp").cast("bigint").alias("n_unique"),
            F.round(
                F.lit(1.0)
                - F.countDistinct("fp").cast("double") / F.count("*"),
                4,
            ).alias("dup_rate"),
        )
        .orderBy("source")
    )


# ---- x61: sequence-length histogram (packing pre-flight) ----

_X61_BUCKET = 50

_X61_SQL = f"""
    WITH lens AS (
      SELECT (LEN(STRING_SPLIT(text, ' ')) // {_X61_BUCKET}) * {_X61_BUCKET}
               AS bucket_lo,
             LEN(STRING_SPLIT(text, ' ')) AS n_tokens
      FROM documents)
    SELECT bucket_lo,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM lens GROUP BY bucket_lo ORDER BY bucket_lo
    """


@register("x61_length_histogram", oracle=_X61_SQL)
def x61_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length histogram ({n}-token buckets, doc + token mass
    per bucket): the pre-flight x45's packer needs — bucket mass
    tells you the bin size that minimizes padding waste and which
    tail to truncate. Integer bucket arithmetic (n - n % {n})
    matches DuckDB's // exactly; no float binning.

    Scale: narrow per-row token count + one low-cardinality
    partial-agg shuffle on the bucket key. Nothing else moves.
    """
    docs = load_table(spark, sf_dir, "documents")
    n = F.size(F.split("text", " "))
    bucket = (n - n % _X61_BUCKET).cast("bigint")
    return (
        docs.select(bucket.alias("bucket_lo"), n.alias("n_tokens"))
        .groupBy("bucket_lo")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
        .orderBy("bucket_lo")
    )


x61_length_histogram.__doc__ = x61_length_histogram.__doc__.format(n=_X61_BUCKET)


# ---- x62: grouped-agg pandas UDAF (decile-trimmed mean) ----

_X62_SQL = """
    WITH ranked AS (
      SELECT source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM documents)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 4)
             AS trimmed_mean_chars
    FROM ranked
    WHERE rn > n // 10 AND rn <= n - n // 10
    GROUP BY source ORDER BY source
    """


@register("x62_trimmed_mean_udaf", oracle=_X62_SQL)
def x62_trimmed_mean_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier-robust per-source length profile via a GROUPED_AGG
    ``pandas_udf`` — the UDAF member of the UDF surface (scalar /
    grouped-map / cogrouped / mapInPandas / mapInArrow are covered by
    x50–x53, x14; this is the aggregating form): each
    source's decile-trimmed mean of n_chars, kernel-side sort + trim,
    engine-side grouping. The trim bound (n//10 off each end) is
    integer arithmetic, so the DuckDB twin reproduces the exact kept
    set and the single rounded division matches bit-for-bit.

    Scale: grouped-agg pandas UDFs aggregate per group on the
    executor (Arrow batch in, scalar out) after one shuffle on the
    group key — group size bounds kernel memory (sources are
    few-and-large here; a high-cardinality key would bound it the
    other way). n_kept is declarative count arithmetic on the same
    shuffle, no second pass.
    """
    from ..operators.pandas_udfs import trimmed_mean_udf

    docs = load_table(spark, sf_dir, "documents")
    # Spark rejects GROUPED_AGG pandas UDFs mixed with plain
    # aggregates in one agg() (INVALID_PANDAS_UDF_PLACEMENT) — two
    # aggregations over the same key; the grouping exchange is reused
    tm = docs.groupBy("source").agg(
        trimmed_mean_udf()(F.col("n_chars")).alias("trimmed_mean_chars")
    )
    n = F.count("*")
    cnt = docs.groupBy("source").agg(
        (n - 2 * F.floor(n / 10)).cast("bigint").alias("n_kept")
    )
    return (
        cnt.join(tm, "source")
        .select("source", "n_kept", "trimmed_mean_chars")
        .orderBy("source")
    )


# ---- x78: CCNet head/middle/tail quality partition ----

_X78_SQL = f"""
    WITH {_X46_CTES},
    j AS (
      SELECT d.source, lm.doc_id, lm.avg_logp
      FROM lm JOIN documents d ON d.doc_id = lm.doc_id),
    nt AS (
      SELECT source, doc_id, avg_logp,
             NTILE(3) OVER (PARTITION BY source
                            ORDER BY avg_logp DESC, doc_id) AS tercile
      FROM j)
    SELECT source,
           CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS bucket,
           COUNT(*) AS n_docs,
           ROUND(MIN(avg_logp), 6) AS min_score,
           ROUND(MAX(avg_logp), 6) AS max_score
    FROM nt
    GROUP BY source, bucket
    ORDER BY source, bucket
    """


@register("x78_ccnet_partition", oracle=_X78_SQL)
def x78_ccnet_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's final step: partition each source's documents into
    head/middle/tail terciles by LM quality score (x46's corpus
    bigram log-prob standing in for the wiki-LM perplexity), with
    per-bucket counts and score ranges — head goes to training,
    middle is kept-if-needed, tail is dropped. Tercile assignment
    orders by the ROUNDED score with a doc_id tiebreak, so the
    cut-points are cross-engine deterministic.

    Scale: everything up to the per-doc score inherits x46's budget;
    the tercile is one window over (source), and the rollup reuses
    the same key — two skinny shuffles beyond the scoring join.
    """
    docs = load_table(spark, sf_dir, "documents")
    lm = x46_lm_score(spark, sf_dir)
    j = lm.join(docs.select("doc_id", "source"), "doc_id")
    nt = j.select(
        "source",
        "avg_logp",
        F.ntile(3)
        .over(Window.partitionBy("source").orderBy(F.desc("avg_logp"), "doc_id"))
        .alias("tercile"),
    )
    return (
        nt.groupBy(
            "source",
            F.when(F.col("tercile") == 1, "head")
            .when(F.col("tercile") == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.min("avg_logp"), 6).alias("min_score"),
            F.round(F.max("avg_logp"), 6).alias("max_score"),
        )
        .orderBy("source", "bucket")
    )


# ---- x106: normalization audit ----

# The canonicalization pass every pipeline runs before fingerprinting
# (prepare_corpus already lowercases + collapses whitespace inside
# its exact-dedup key — this op audits the full normalize as its own
# stage): lowercase, strip non-alphanumeric-non-space characters,
# collapse whitespace runs, trim. RE2-safe patterns only (the x44
# rule), so the same regex semantics hold on any executor.

_X106_SQL = """
    WITH norm AS (
      SELECT source, text,
             TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text),
                    '[^a-z0-9 ]', '', 'g'),
                    ' +', ' ', 'g')) AS clean
      FROM documents)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN clean <> text THEN 1 ELSE 0 END) AS BIGINT)
             AS n_changed,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS chars_before,
           CAST(SUM(LENGTH(clean)) AS BIGINT) AS chars_after,
           ROUND(CAST(SUM(LENGTH(clean)) AS DOUBLE)
                 / SUM(LENGTH(text)), 6) AS keep_ratio
    FROM norm
    GROUP BY source
    ORDER BY source
    """


@register("x106_normalize_audit", oracle=_X106_SQL)
def x106_normalize_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-normalization audit: lowercase → strip non-[a-z0-9 ] →
    collapse space runs → trim, reported per source as changed-doc
    counts and the byte keep-ratio (integer char sums, one final
    division). The canonical form is what fingerprint/dedup keys
    should hash — the audit quantifies how much raw text the
    canonicalizer rewrites, per source (a spike flags a source whose
    formatting would defeat naive exact dedup).

    Scale: entirely narrow (three regexp_replace built-ins inside one
    codegen stage) + a single per-source agg; no UDF, no shuffle
    beyond the S-row rollup.
    """
    docs = load_table(spark, sf_dir, "documents")
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    norm = docs.select("source", "text", clean.alias("clean"))
    return (
        norm.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("clean") != F.col("text"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_changed"),
            F.sum(F.length("text")).cast("bigint").alias("chars_before"),
            F.sum(F.length("clean")).cast("bigint").alias("chars_after"),
            F.round(
                F.sum(F.length("clean")).cast("double")
                / F.sum(F.length("text")),
                6,
            ).alias("keep_ratio"),
        )
        .orderBy("source")
    )


# ---- x107: curriculum staging by hashed quality score ----

# Curriculum construction (easy→hard ordering for training): rank
# every document by a quality score and cut the corpus into equal
# stages with NTILE. The score here is x98's hashed linear logit —
# integer token-weight sums, so the rank order (score, doc_id) is a
# total integer order and NTILE is cross-engine deterministic.
_X107_STAGES = 4

_X107_SQL = f"""
    WITH tok AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS t FROM documents),
    scored AS (
      SELECT doc_id,
             SUM(CAST(('0x' || SUBSTR(MD5('w:' || t), 1, 15)) AS BIGINT)
                 % 1001 - 500) AS wsum,
             COUNT(*) AS n_tokens
      FROM tok GROUP BY doc_id),
    staged AS (
      SELECT doc_id, wsum, n_tokens,
             NTILE({_X107_STAGES}) OVER (ORDER BY wsum, doc_id) AS stage
      FROM scored)
    SELECT stage,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(wsum) AS BIGINT) AS min_score,
           CAST(MAX(wsum) AS BIGINT) AS max_score,
           CAST(SUM(n_tokens) AS BIGINT) AS stage_tokens
    FROM staged
    GROUP BY stage
    ORDER BY stage
    """


@register("x107_curriculum_stages", oracle=_X107_SQL)
def x107_curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum staging: every document scored by the x98 hashed
    linear logit (exact integer), ranked on the total order (score,
    doc_id), and cut into {n} equal NTILE stages — the easy→hard
    schedule a curriculum loader consumes, reported as per-stage doc
    counts, score ranges, and token mass.

    Scale: one doc-keyed partial agg for scores; the NTILE is the one
    global-order operation (single-partition window — the honest cost
    of a GLOBAL curriculum; a per-source curriculum would partition
    the window and scale out, same plan shape as x28). Stage stats
    are a {n}-row rollup.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    weight = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("w:"), F.col("t")).cast("binary")), 1, 15
            ),
            16,
            10,
        ).cast("bigint")
        % 1001
        - 500
    )
    scored = (
        tok.select("doc_id", weight.alias("w"))
        .groupBy("doc_id")
        .agg(F.sum("w").alias("wsum"), F.count("*").alias("n_tokens"))
    )
    staged = scored.withColumn(
        "stage",
        F.ntile(_X107_STAGES).over(Window.orderBy("wsum", "doc_id")),
    )
    return (
        staged.groupBy("stage")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("wsum").cast("bigint").alias("min_score"),
            F.max("wsum").cast("bigint").alias("max_score"),
            F.sum("n_tokens").cast("bigint").alias("stage_tokens"),
        )
        .orderBy("stage")
    )


x107_curriculum_stages.__doc__ = x107_curriculum_stages.__doc__.format(
    n=_X107_STAGES
)


# ---- x108: language-ID confusion matrix ----

_X108_PRED_SQL = f"""
    hits AS (
      SELECT doc_id, lang,
             {_lang_hit_sql('en')} AS en_hits,
             {_lang_hit_sql('de')} AS de_hits,
             {_lang_hit_sql('fr')} AS fr_hits,
             {_lang_hit_sql('es')} AS es_hits
      FROM documents),
    pred AS (
      SELECT doc_id, lang AS lang_label,
             CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits
                       AND en_hits >= es_hits AND en_hits > 0 THEN 'en'
                  WHEN de_hits >= fr_hits AND de_hits >= es_hits
                       AND de_hits > 0 THEN 'de'
                  WHEN fr_hits >= es_hits AND fr_hits > 0 THEN 'fr'
                  WHEN es_hits > 0 THEN 'es'
                  ELSE 'und' END AS lang_pred
      FROM hits)"""


_X108_SQL = f"""
    WITH {_X108_PRED_SQL},
    cells AS (
      SELECT lang_label, lang_pred, COUNT(*) AS n
      FROM pred GROUP BY lang_label, lang_pred),
    totals AS (
      SELECT lang_label, SUM(n) AS label_total FROM cells
      GROUP BY lang_label)
    SELECT c.lang_label, c.lang_pred,
           CAST(c.n AS BIGINT) AS n,
           CAST(t.label_total AS BIGINT) AS label_total,
           ROUND(CAST(c.n AS DOUBLE) / t.label_total, 6) AS share
    FROM cells c JOIN totals t ON c.lang_label = t.lang_label
    ORDER BY c.lang_label, c.lang_pred
    """


@register("x108_langid_confusion", oracle=_X108_SQL)
def x108_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-eval surface: the confusion matrix of x21's
    language-ID heuristic against the labeled ``lang`` column —
    (label, prediction) cell counts with per-label shares (the
    diagonal share is per-class recall). The eval every heuristic
    gate in the pipeline owes its users; composes x21's predictions
    verbatim (same fold, same tie order), so the matrix IS the
    deployed classifier's, not a re-implementation's.

    Scale: x21's narrow scan + one skinny (label, pred) agg — the
    matrix is |langs|² rows; the per-label totals join is an S-row
    broadcast.
    """
    pred = x21_lang_id(spark, sf_dir).select("lang_label", "lang_pred")
    cells = pred.groupBy("lang_label", "lang_pred").agg(
        F.count("*").alias("n")
    )
    totals = cells.groupBy("lang_label").agg(
        F.sum("n").alias("label_total")
    )
    return (
        cells.join(F.broadcast(totals), "lang_label")
        .select(
            "lang_label",
            "lang_pred",
            F.col("n").cast("bigint").alias("n"),
            F.col("label_total").cast("bigint").alias("label_total"),
            F.round(
                F.col("n").cast("double") / F.col("label_total"), 6
            ).alias("share"),
        )
        .orderBy("lang_label", "lang_pred")
    )


# ---- x128: readability scoring (Flesch-style, corpus-level) ----


@register(
    "x128_readability",
    oracle="""
    WITH counts AS (
      SELECT source,
             CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS words,
             CAST(LEN(LIST_FILTER(
               REGEXP_SPLIT_TO_ARRAY(LOWER(text), '[^aeiou]+'),
               x -> x <> '')) AS BIGINT) AS syl
      FROM documents),
    per_src AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(words) AS BIGINT) AS total_words,
             CAST(SUM(syl) AS BIGINT) AS total_syllables
      FROM counts GROUP BY source)
    SELECT source, n_docs, total_words, total_syllables,
           ROUND(206.835
                 - 1.015 * (CAST(total_words AS DOUBLE) / n_docs)
                 - 84.6 * (CAST(total_syllables AS DOUBLE) / total_words),
                 4) AS flesch
    FROM per_src
    ORDER BY source
    """,
)
def x128_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease scoring per source, computed from CORPUS
    totals (not averaged per-doc scores — ratio-of-sums is the
    fold-order-free formulation): words via whitespace split,
    syllables via the vowel-run proxy, and documents standing in for
    sentences (the fixture text is unpunctuated token soup — a real
    corpus would split on terminators; the plan is identical). Two
    integer ratios into one fixed float sequence, ROUND(4).

    Scale: narrow per-doc counting (split + HOF filter, no explode),
    one S-row rollup; the formula runs on S rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = F.size(F.split("text", " ")).cast("bigint")
    syl = F.size(
        F.filter(
            F.split(F.lower(F.col("text")), "[^aeiou]+"),
            lambda x: x != "",
        )
    ).cast("bigint")
    per_src = (
        docs.select("source", words.alias("words"), syl.alias("syl"))
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("words").cast("bigint").alias("total_words"),
            F.sum("syl").cast("bigint").alias("total_syllables"),
        )
    )
    return per_src.select(
        "source",
        "n_docs",
        "total_words",
        "total_syllables",
        F.round(
            F.lit(206.835)
            - 1.015 * (F.col("total_words").cast("double") / F.col("n_docs"))
            - 84.6
            * (
                F.col("total_syllables").cast("double")
                / F.col("total_words")
            ),
            4,
        ).alias("flesch"),
    ).orderBy("source")


# ---- x135: decile lift chart for the hashed scorer ----


_X135_SQL = """
    WITH tok AS (
      SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS t
      FROM documents),
    scored AS (
      SELECT doc_id, MAX(lang) AS lang,
             SUM(CAST(('0x' || SUBSTR(MD5('w:' || t), 1, 15)) AS BIGINT)
                 % 1001 - 500) AS wsum
      FROM tok GROUP BY doc_id),
    deciled AS (
      SELECT wsum, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
             NTILE(10) OVER (ORDER BY wsum DESC, doc_id) AS decile
      FROM scored),
    base AS (
      SELECT SUM(pos) AS p_all, COUNT(*) AS n_all FROM deciled)
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(pos) AS BIGINT) AS n_pos,
           ROUND(CAST(SUM(pos) AS DOUBLE) / COUNT(*), 6) AS pos_rate,
           ROUND((CAST(SUM(pos) AS DOUBLE) / COUNT(*))
                 / (CAST((SELECT p_all FROM base) AS DOUBLE)
                    / (SELECT n_all FROM base)), 6) AS lift
    FROM deciled
    GROUP BY decile
    ORDER BY decile
    """


@register("x135_decile_lift", oracle=_X135_SQL)
def x135_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift chart — the last leg of the model-eval set (x108
    confusion matrix, x109 PR curve, x112 KS): documents ranked by
    the x98 hashed logit, cut into score deciles, each decile's
    positive rate (label: lang = 'en') against the base rate. Lift ≈
    1 everywhere is itself the finding for a hash-random scorer — the
    chart is the instrument that would EXPOSE a real signal, and a
    trained weight table slots into the same plan. Integer counts;
    two fixed divisions per row.

    Scale: one doc-keyed score agg, a global NTILE over the doc table
    (x107's honest global-order cost), a 10-row rollup + 1-row base
    broadcast.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("t")
    )
    weight = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("w:"), F.col("t")).cast("binary")), 1, 15
            ),
            16,
            10,
        ).cast("bigint")
        % 1001
        - 500
    )
    scored = (
        tok.select("doc_id", "lang", weight.alias("w"))
        .groupBy("doc_id")
        .agg(F.max("lang").alias("lang"), F.sum("w").alias("wsum"))
    )
    deciled = scored.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
        F.ntile(10)
        .over(Window.orderBy(F.desc("wsum"), "doc_id"))
        .alias("decile"),
    )
    base = deciled.agg(
        F.sum("pos").alias("p_all"), F.count("*").alias("n_all")
    )
    return (
        deciled.groupBy("decile")
        .agg(F.count("*").alias("n_docs"), F.sum("pos").alias("n_pos"))
        .crossJoin(F.broadcast(base))
        .select(
            "decile",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_pos").cast("bigint").alias("n_pos"),
            F.round(
                F.col("n_pos").cast("double") / F.col("n_docs"), 6
            ).alias("pos_rate"),
            F.round(
                (F.col("n_pos").cast("double") / F.col("n_docs"))
                / (F.col("p_all").cast("double") / F.col("n_all")),
                6,
            ).alias("lift"),
        )
        .orderBy("decile")
    )


# ---- x145: LM generalization gap across the hash split ----


_X145_SQL = """
    WITH toks AS (
      SELECT doc_id,
             CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 2 AS fold,
             STRING_SPLIT(text, ' ') AS t
      FROM documents),
    uni AS (
      SELECT u.tok AS tok, COUNT(*) AS c
      FROM toks, UNNEST(t) AS u(tok) WHERE fold = 0 GROUP BY u.tok),
    vocab AS (SELECT COUNT(*) AS v FROM uni),
    dbg AS (
      SELECT doc_id, fold, t[r.i] AS a, t[r.i + 1] AS b
      FROM toks, UNNEST(RANGE(1, LEN(t))) AS r(i)),
    bgc AS (
      SELECT a, b, COUNT(*) AS cab FROM dbg WHERE fold = 0 GROUP BY a, b),
    scored AS (
      SELECT d.doc_id, d.fold,
             CASE WHEN g.cab IS NULL THEN 1 ELSE 0 END AS oov,
             LN(CAST(COALESCE(g.cab, 0) + 1 AS DOUBLE)
                / CAST(COALESCE(u.c, 0) + vocab.v AS DOUBLE)) AS lp
      FROM dbg d
      LEFT JOIN bgc g ON d.a = g.a AND d.b = g.b
      LEFT JOIN uni u ON u.tok = d.a
      CROSS JOIN vocab),
    per_doc AS (
      SELECT fold, doc_id, AVG(lp) AS doc_lp, SUM(oov) AS n_oov
      FROM scored GROUP BY fold, doc_id)
    SELECT fold,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(doc_lp), 6) AS avg_doc_logp,
           CAST(SUM(n_oov) AS BIGINT) AS oov_bigrams
    FROM per_doc
    GROUP BY fold
    ORDER BY fold
    """


@register("x145_lm_generalization", oracle=_X145_SQL)
def x145_lm_generalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM generalization gap: x46's add-one bigram model trained ONLY
    on the md5-split train fold, then scored on BOTH folds — the
    train-vs-holdout average log-prob difference is the overfitting
    gauge (a memorizing model scores its own fold far higher), and
    the held-out OOV-bigram count shows how much novel structure the
    model never saw. Unseen bigrams take the smoothed floor via LEFT
    joins (COALESCE to zero counts) — exactly what add-one smoothing
    exists for, and what x46's in-corpus INNER join never needed.

    Scale: x46's shuffles with a fold filter on the model side; the
    per-fold rollup is 2 rows. Float discipline follows the x46
    precedent (ln of exact integer ratios, reorder noise orders
    below the ROUND(6) grain).
    """
    docs = load_table(spark, sf_dir, "documents")
    fold = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
        ).cast("bigint")
        % 2
    )
    toks = docs.select(
        "doc_id", fold.alias("fold"), F.split(F.col("text"), " ").alias("t")
    )
    uni = (
        toks.filter(F.col("fold") == 0)
        .select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    vocab = uni.agg(F.count("*").alias("v"))
    dbg = toks.select(
        "doc_id",
        "fold",
        F.explode(
            F.expr(
                "CASE WHEN size(t) >= 2 THEN "
                "transform(sequence(1, size(t) - 1), "
                "i -> struct(element_at(t, i) AS a, element_at(t, i + 1) AS b)) "
                "ELSE array() END"
            )
        ).alias("g"),
    ).select("doc_id", "fold", F.col("g.a").alias("a"), F.col("g.b").alias("b"))
    bgc = (
        dbg.filter(F.col("fold") == 0)
        .groupBy("a", "b")
        .agg(F.count("*").alias("cab"))
    )
    scored = (
        dbg.join(bgc, ["a", "b"], "left")
        .join(uni.withColumnRenamed("tok", "a"), ["a"], "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "fold",
            F.when(F.col("cab").isNull(), 1).otherwise(0).alias("oov"),
            F.log(
                (F.coalesce(F.col("cab"), F.lit(0)) + 1).cast("double")
                / (F.coalesce(F.col("c"), F.lit(0)) + F.col("v")).cast(
                    "double"
                )
            ).alias("lp"),
        )
    )
    per_doc = scored.groupBy("fold", "doc_id").agg(
        F.avg("lp").alias("doc_lp"), F.sum("oov").alias("n_oov")
    )
    return (
        per_doc.groupBy("fold")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.round(F.avg("doc_lp"), 6).alias("avg_doc_logp"),
            F.sum("n_oov").cast("bigint").alias("oov_bigrams"),
        )
        .orderBy("fold")
    )


# ---- x146: tokenizer fertility comparison per source ----


@register(
    "x146_tokenizer_fertility",
    oracle="""
    WITH c AS (
      SELECT source,
             CAST(LENGTH(text) AS BIGINT) AS chars,
             CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS ws,
             CAST(LEN(LIST_FILTER(
               REGEXP_SPLIT_TO_ARRAY(text, '[^a-zA-Z0-9]+'),
               x -> x <> '')) AS BIGINT) AS wordish,
             CAST(CEIL(LENGTH(text) / 4.0) AS BIGINT) AS bpe4
      FROM documents)
    SELECT source,
           CAST(SUM(chars) AS BIGINT) AS total_chars,
           ROUND(CAST(SUM(chars) AS DOUBLE) / SUM(ws), 4)
             AS chars_per_ws_token,
           ROUND(CAST(SUM(chars) AS DOUBLE) / SUM(wordish), 4)
             AS chars_per_word_token,
           ROUND(CAST(SUM(chars) AS DOUBLE) / SUM(bpe4), 4)
             AS chars_per_bpe4_token
    FROM c
    GROUP BY source
    ORDER BY source
    """,
)
def x146_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility (chars per token) per source under three
    tokenizers — whitespace, regex word split, and the chars/4 BPE
    budget heuristic (x22's trio, aggregated where it matters: a
    source whose fertility deviates pays a different share of any
    fixed token budget, which silently reweights the x43 mix).
    Ratio-of-sums per source (fold-order-free); one division per
    cell.

    Scale: narrow per-doc counting, one S-row rollup.
    """
    docs = load_table(spark, sf_dir, "documents")
    c = docs.select(
        "source",
        F.length("text").cast("bigint").alias("chars"),
        F.size(F.split("text", " ")).cast("bigint").alias("ws"),
        F.size(
            F.filter(
                F.split("text", "[^a-zA-Z0-9]+"), lambda x: x != ""
            )
        )
        .cast("bigint")
        .alias("wordish"),
        F.ceil(F.length("text") / 4.0).cast("bigint").alias("bpe4"),
    )
    return (
        c.groupBy("source")
        .agg(
            F.sum("chars").cast("bigint").alias("total_chars"),
            F.round(
                F.sum("chars").cast("double") / F.sum("ws"), 4
            ).alias("chars_per_ws_token"),
            F.round(
                F.sum("chars").cast("double") / F.sum("wordish"), 4
            ).alias("chars_per_word_token"),
            F.round(
                F.sum("chars").cast("double") / F.sum("bpe4"), 4
            ).alias("chars_per_bpe4_token"),
        )
        .orderBy("source")
    )


# ---- x352: cross-source quantile calibration table ----

_X352_SQL = """
WITH src AS (
  SELECT source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM documents),
corp AS (
  SELECT n_chars,
         ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rn,
         COUNT(*) OVER () AS n
  FROM documents),
d AS (SELECT UNNEST([1,2,3,4,5,6,7,8,9]) AS decile),
sq AS (
  SELECT s.source, d.decile, s.n_chars AS src_len
  FROM src s JOIN d ON s.rn = CAST(CEIL(s.n * d.decile / 10.0) AS BIGINT)),
cq AS (
  SELECT d.decile, c.n_chars AS corpus_len
  FROM corp c JOIN d ON c.rn = CAST(CEIL(c.n * d.decile / 10.0) AS BIGINT))
SELECT sq.source, sq.decile, sq.src_len, cq.corpus_len,
       ROUND(CAST(sq.src_len AS DOUBLE) / cq.corpus_len, 6) AS len_ratio
FROM sq JOIN cq ON sq.decile = cq.decile
ORDER BY sq.source, sq.decile
"""


@register("x352_quantile_calibration", oracle=_X352_SQL)
def x352_quantile_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile calibration table — the quantile-
    normalization mapping used to make per-domain scores and length
    gates comparable across heterogeneous crawl sources: for each
    source and decile d, the source's EXACT d-th decile document
    length (PERCENTILE_DISC rank statistic, doc_id tie-break)
    against the corpus-wide decile, plus their ratio. A source whose
    ratio curve departs from 1 needs its thresholds remapped through
    this table, not reused verbatim.

    Exact integer rank selection both sides; one final division.

    Scale: one (source) exchange serves the per-source ranking; the
    corpus leg is a single total-order rank ONLY because exact
    PERCENTILE_DISC demands it — the production swap-in is the
    mergeable-histogram quantile (x104) with bucket-width error,
    same output shape. Decile grid is a 9-row broadcast.
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    deciles = spark.range(1, 10).select(
        F.col("id").cast("int").alias("decile")
    )
    src = docs.select(
        "source", "n_chars",
        F.row_number()
        .over(Window.partitionBy("source").orderBy("n_chars", "doc_id"))
        .alias("rn"),
        F.count("*").over(Window.partitionBy("source")).alias("n"),
    )
    corp = docs.select(
        "n_chars",
        F.row_number().over(Window.orderBy("n_chars", "doc_id")).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    sq = src.join(
        F.broadcast(deciles),
        src["rn"]
        == F.ceil(src["n"] * F.col("decile") / 10.0).cast("bigint"),
    ).select("source", "decile", F.col("n_chars").alias("src_len"))
    cq = corp.join(
        F.broadcast(deciles),
        corp["rn"]
        == F.ceil(corp["n"] * F.col("decile") / 10.0).cast("bigint"),
    ).select("decile", F.col("n_chars").alias("corpus_len"))
    return (
        sq.join(F.broadcast(cq), "decile")
        .select(
            "source", "decile", "src_len", "corpus_len",
            F.round(
                F.col("src_len").cast("double") / F.col("corpus_len"), 6
            ).alias("len_ratio"),
        )
        .orderBy("source", "decile")
    )
