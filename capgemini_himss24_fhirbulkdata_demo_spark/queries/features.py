"""Feature-engineering queries over ``documents`` (SURVEY brief:
training-data pipeline ops) — the hashing-trick family.

The hashing trick (Weinberger et al., ICML'09) maps an unbounded
token vocabulary into a fixed number of feature buckets via a hash,
so downstream models take fixed-width input without a vocabulary
build. Cross-engine determinism comes from the repo's portable
md5-hex→BIGINT bridge (Spark ``conv(substr(md5, 1, 15), 16, 10)`` ↔
DuckDB ``CAST('0x' || SUBSTR(MD5, 1, 15) AS BIGINT)``), already used
by the simhash/sampling family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from .registry import register

_N_BUCKETS = 64

_SQL_BUCKET = f"CAST(('0x' || SUBSTR(MD5(t), 1, 15)) AS BIGINT) % {_N_BUCKETS}"

_X65_SQL = f"""
    WITH tok AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS t FROM documents),
    b AS (
      SELECT doc_id, {_SQL_BUCKET} AS bucket FROM tok),
    c AS (
      SELECT doc_id, bucket, COUNT(*) AS cnt FROM b GROUP BY doc_id, bucket),
    r AS (
      SELECT doc_id, bucket, cnt,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY cnt DESC, bucket) AS rn,
             SUM(cnt) OVER (PARTITION BY doc_id) AS n_tokens,
             COUNT(*) OVER (PARTITION BY doc_id) AS n_buckets
      FROM c)
    SELECT doc_id, bucket AS top_bucket, CAST(cnt AS BIGINT) AS top_count,
           CAST(n_buckets AS BIGINT) AS n_buckets,
           CAST(n_tokens AS BIGINT) AS n_tokens
    FROM r WHERE rn = 1
    ORDER BY doc_id
    """


@register("x65_hashed_features", oracle=_X65_SQL)
def x65_hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick bag-of-tokens: every token maps to one of
    {n} feature buckets via the portable md5 bridge; per document the
    query reports the dominant bucket (ties → lowest bucket id), how
    many distinct buckets fired, and total token mass — the summary a
    fixed-width featurizer would emit per example.

    Scale: explode(tokens) stays narrow; the only shuffles are one
    uniform-key partial-agg on (doc_id, bucket) — map-side combine
    collapses each document's tokens to ≤{n} rows before the exchange
    — and the per-doc window, which reuses the same doc_id
    partitioning. Bucket count is a constant, so shuffle width is
    bounded per document regardless of document length.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    bucket = (
        F.conv(F.substring(F.md5(F.col("t").cast("binary")), 1, 15), 16, 10)
        .cast("bigint")
        % _N_BUCKETS
    )
    counts = tok.select("doc_id", bucket.alias("bucket")).groupBy(
        "doc_id", "bucket"
    ).agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("doc_id")
    ranked = counts.select(
        "doc_id",
        "bucket",
        "cnt",
        F.row_number()
        .over(w.orderBy(F.desc("cnt"), F.asc("bucket")))
        .alias("rn"),
        F.sum("cnt").over(w).alias("n_tokens"),
        F.count("*").over(w).alias("n_buckets"),
    )
    return (
        ranked.filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("bucket").alias("top_bucket"),
            F.col("cnt").alias("top_count"),
            F.col("n_buckets").cast("bigint").alias("n_buckets"),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
        )
        .orderBy("doc_id")
    )


x65_hashed_features.__doc__ = x65_hashed_features.__doc__.format(n=_N_BUCKETS)


_X68_QUOTA = 20

_X68_SQL = f"""
    WITH r AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents)
    SELECT lang, doc_id, rn
    FROM r WHERE rn <= {_X68_QUOTA}
    ORDER BY lang, rn
    """


@register("x68_balanced_sample", oracle=_X68_SQL)
def x68_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced deterministic downsampling: exactly {quota}
    documents per language, chosen by md5 rank on the doc key — the
    eval-set construction rule (equal per-class quotas, reproducible
    across engines/retries/partition layouts, unlike RNG sampling).
    Complements x24 (rate-based gate) and x41 (hash split): this one
    guarantees exact per-class COUNTS.

    Scale: one (lang)-keyed window; per-class top-k via rank means
    Spark can use the WindowGroupLimit pushdown shape (as q31), so
    each partition keeps only k rows before the final sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    rn = F.row_number().over(
        Window.partitionBy("lang").orderBy(
            F.md5(F.col("doc_id").cast("string")), "doc_id"
        )
    )
    return (
        docs.select("lang", "doc_id", rn.alias("rn"))
        .filter(F.col("rn") <= _X68_QUOTA)
        .orderBy("lang", "rn")
    )


x68_balanced_sample.__doc__ = x68_balanced_sample.__doc__.format(quota=_X68_QUOTA)


_X75_K = 5

_X75_SQL = f"""
    WITH g AS (
      SELECT c_nationkey, c_mktsegment, COUNT(*) AS group_size
      FROM customer GROUP BY c_nationkey, c_mktsegment)
    SELECT c_nationkey, c_mktsegment, CAST(group_size AS BIGINT) AS group_size,
           CASE WHEN group_size < {_X75_K} THEN 1 ELSE 0 END AS below_k
    FROM g
    ORDER BY c_nationkey, c_mktsegment
    """


@register("x75_k_anonymity", oracle=_X75_SQL)
def x75_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifier columns (nation ×
    market segment, k={k}): every equivalence class with its size and
    a below-k flag — the privacy gate run before releasing or
    training on user-adjacent data (classes below k need suppression
    or generalization; x44's PII scrub is the column-level
    complement, this is the row-group-level one).

    Scale: one uniform-key partial-agg shuffle over the
    quasi-identifier tuple; output is bounded by the QI-space
    cardinality, not the corpus.
    """
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count("*").cast("bigint").alias("group_size"))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "group_size",
            F.when(F.col("group_size") < _X75_K, 1).otherwise(0).alias("below_k"),
        )
        .orderBy("c_nationkey", "c_mktsegment")
    )


x75_k_anonymity.__doc__ = x75_k_anonymity.__doc__.format(k=_X75_K)


_X77_SQL = """
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM documents
    GROUP BY source
    ORDER BY source
    """


@register("x77_arrow_grouped_stats", oracle=_X77_SQL)
def x77_arrow_grouped_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map Arrow UDF (`applyInArrow`, Spark 4): per-source
    stats computed entirely in pyarrow compute kernels on the
    zero-copy group Table — no pandas materialization, the lowest-
    overhead Python-boundary form for columnar group work. Completes
    the Arrow surface next to x53 (`mapInArrow`) and the pandas
    grouped forms (x52 applyInPandas, x62 grouped-agg). Exact-integer
    outputs, so the DuckDB twin is a plain aggregate.

    Scale: one uniform-key (source) shuffle; each group crosses the
    boundary once as Arrow record batches. Per-group memory is the
    group's columnar footprint — for skewed group sizes, prefer
    mapInArrow + two-level agg (x53's shape) or pre-salt (x60).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )

    # NOTE: no type annotations on fn — PySpark's group-arrow eval-
    # type inference raises UnboundLocalError on unresolvable string
    # hints (group_ops.py:936); unannotated functions take the
    # documented default path.
    def fn(key, table):
        src = key[0].as_py() if hasattr(key[0], "as_py") else key[0]
        nc = table.column("n_chars")
        return pa.table(
            {
                "source": [src],
                "n_docs": [table.num_rows],
                "sum_chars": [pc.sum(nc).as_py()],
                "min_chars": [pc.min(nc).as_py()],
                "max_chars": [pc.max(nc).as_py()],
                "first_doc": [pc.min(table.column("doc_id")).as_py()],
            }
        )

    schema = (
        "source STRING, n_docs BIGINT, sum_chars BIGINT, "
        "min_chars BIGINT, max_chars BIGINT, first_doc BIGINT"
    )
    return docs.groupBy("source").applyInArrow(fn, schema).orderBy("source")


_X79_SQL = """
    WITH fp AS (
      SELECT MD5(text) AS f, COUNT(*) AS c FROM documents GROUP BY f)
    SELECT
      (SELECT COUNT(*) FROM documents) AS n_docs,
      (SELECT COUNT(DISTINCT source) FROM documents) AS n_sources,
      (SELECT COUNT(DISTINCT lang) FROM documents) AS n_langs,
      (SELECT CAST(SUM(n_chars) AS BIGINT) FROM documents) AS total_chars,
      (SELECT CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT)
       FROM documents) AS total_tokens,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM fp) AS n_unique_texts,
      (SELECT CAST(SUM(c - 1) AS BIGINT) FROM fp) AS n_exact_dups,
      (SELECT ROUND(CAST(SUM(c - 1) AS DOUBLE)
                    / (SELECT COUNT(*) FROM documents), 4)
       FROM fp) AS dup_rate
    """


@register("x79_dataset_card", oracle=_X79_SQL)
def x79_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset-card summary row: corpus size (docs / sources /
    languages / chars / whitespace tokens), unique-text count, exact
    duplicates and dup rate — the numbers a release README publishes
    and the sanity check run before and after every prep pipeline
    (x40's PrepStats is the per-stage view; this is the one-row
    corpus view).

    Scale: each statistic is a full-scan aggregate with map-side
    partials — Catalyst collapses the scalar subqueries over the same
    table into shared scans where possible, and the fingerprint
    distinct is the only real shuffle (uniform md5 key). Output is
    one row.
    """
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.groupBy(F.md5(F.col("text").cast("binary")).alias("f")).agg(
        F.count("*").alias("c")
    )
    card = docs.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("total_tokens"),
    )
    dup = fp.agg(
        F.count("*").cast("bigint").alias("n_unique_texts"),
        F.sum(F.col("c") - 1).cast("bigint").alias("n_exact_dups"),
    )
    return card.crossJoin(F.broadcast(dup)).select(
        "n_docs",
        "n_sources",
        "n_langs",
        "total_chars",
        "total_tokens",
        "n_unique_texts",
        "n_exact_dups",
        F.round(
            F.col("n_exact_dups").cast("double") / F.col("n_docs"), 4
        ).alias("dup_rate"),
    )


# ---- x80: BPE merge application (subword segmentation) ----

# Fixed 8-rule merge table (rank order), the apply step of a trained
# BPE tokenizer: char-split each token, then greedily merge each
# pair rule left-to-right (single pass per rule, standard REPLACE
# non-overlapping semantics — identical in Spark and DuckDB).
_BPE_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
    ("e", "r"), ("o", "n"), ("r", "e"), ("a", "t"),
]


def _bpe_expr(tok: str, duck: bool) -> str:
    flag = ", 'g'" if duck else ""
    rep = "\\1 " if duck else "$1 "
    e = f"concat(' ', trim(regexp_replace({tok}, '(.)', '{rep}'{flag})), ' ')"
    for a, b in _BPE_MERGES:
        e = f"replace({e}, ' {a} {b} ', ' {a}{b} ')"
    return e


_X80_SQL = f"""
    WITH seg AS (
      SELECT doc_id,
             list_transform(STRING_SPLIT(text, ' '),
               tok -> LEN(STRING_SPLIT(TRIM({_bpe_expr('tok', True)}), ' ')))
               AS pieces
      FROM documents)
    SELECT doc_id,
           CAST(LEN(pieces) AS BIGINT) AS n_tokens,
           CAST(list_sum(pieces) AS BIGINT) AS n_pieces,
           ROUND(CAST(list_sum(pieces) AS DOUBLE) / LEN(pieces), 4)
             AS pieces_per_token
    FROM seg
    ORDER BY doc_id
    """


@register("x80_bpe_segment", oracle=_X80_SQL)
def x80_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword segmentation (the apply step of a trained BPE
    tokenizer, {n} merge rules in rank order): per document, token
    count, BPE piece count, and pieces/token — the fertility number
    that decides real token budgets (x22's whitespace counts are the
    upper bound; packing (x45) and budget cuts should use subword
    counts). Merge application is nested non-overlapping REPLACE over
    the char-split token — bit-identical across engines.

    Scale: entirely narrow — a higher-order transform per row, no
    explode, no shuffle except the final sort; the merge table is a
    compile-time constant folded into the expression tree (a real
    vocab's thousands of merges would move to a broadcast map +
    pandas UDF, trading codegen for table lookup).
    """
    # The per-token char-split regex + 8 nested replaces dominate this
    # query's compute and the fixture is one small file (a handful of
    # scan splits), so spread the scan across cores before the heavy
    # narrow map — the measured compute≫bytes trade x02's signature
    # pass makes, cheap at any scale for the same reason (r12, guide
    # §2.5/§6.2).
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism * 2
    )
    pieces = F.expr(
        "transform(split(text, ' '), tok -> "
        f"size(split(trim({_bpe_expr('tok', False)}), ' ')))"
    )
    seg = docs.select("doc_id", pieces.alias("pieces"))
    # n_pieces folded ONCE (r12): the old select wrote the aggregate
    # twice (n_pieces + inside pieces_per_token) and interpreted HOFs
    # get no subexpression elimination, so the whole BPE fold ran
    # twice per row.
    counted = seg.select(
        "doc_id",
        F.size("pieces").cast("bigint").alias("n_tokens"),
        F.aggregate("pieces", F.lit(0).cast("bigint"), lambda a, x: a + x).alias(
            "n_pieces"
        ),
    )
    return counted.select(
        "doc_id",
        "n_tokens",
        "n_pieces",
        F.round(
            F.col("n_pieces").cast("double") / F.col("n_tokens"), 4
        ).alias("pieces_per_token"),
    ).orderBy("doc_id")


x80_bpe_segment.__doc__ = x80_bpe_segment.__doc__.format(n=len(_BPE_MERGES))


# ---- x81: RAG chunking (fixed token windows with overlap) ----

_CHUNK_W = 10   # tokens per chunk
_CHUNK_STRIDE = 5  # 50% overlap

_X81_SQL = f"""
    WITH t AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents),
    w AS (
      SELECT doc_id, CAST(r.i AS INT) AS chunk_idx,
             array_to_string(
               toks[r.i * {_CHUNK_STRIDE} + 1 :
                    r.i * {_CHUNK_STRIDE} + {_CHUNK_W}], ' ') AS chunk,
             LEN(toks[r.i * {_CHUNK_STRIDE} + 1 :
                      r.i * {_CHUNK_STRIDE} + {_CHUNK_W}]) AS n_tokens
      FROM t, UNNEST(RANGE(0, CAST(CEIL(LEN(toks) / {_CHUNK_STRIDE}.0)
                                   AS BIGINT))) AS r(i))
    SELECT doc_id, chunk_idx, MD5(chunk) AS chunk_digest,
           CAST(n_tokens AS BIGINT) AS n_tokens
    FROM w
    ORDER BY doc_id, chunk_idx
    """


@register("x81_rag_chunks", oracle=_X81_SQL)
def x81_rag_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval (RAG) chunking: {w}-token windows at stride
    {s} (50% overlap) — the standard embedding-prep segmentation,
    where overlap keeps sentence context that hard boundaries (x18's
    disjoint chunks) lose. Emits the skinny (doc, idx, digest,
    length) stream an embedding stage consumes.

    Scale: chunk generation is a narrow slice/join per row (no
    per-token explode — same trick as x18); output is ~2× input
    tokens due to overlap, which is the knob to watch: stride =
    window kills the duplication at the cost of boundary context.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.split("text", " ").alias("toks"))
    w = t.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(toks) / {_CHUNK_STRIDE}.0) "
                f"as int) - 1), i -> struct(i AS idx, "
                f"slice(toks, i * {_CHUNK_STRIDE} + 1, {_CHUNK_W}) AS win))"
            )
        ).alias("c"),
    ).select(
        "doc_id",
        F.col("c.idx").alias("chunk_idx"),
        F.array_join("c.win", " ").alias("chunk"),
        F.size("c.win").cast("bigint").alias("n_tokens"),
    )
    return w.select(
        "doc_id",
        "chunk_idx",
        F.md5(F.col("chunk").cast("binary")).alias("chunk_digest"),
        "n_tokens",
    ).orderBy("doc_id", "chunk_idx")


x81_rag_chunks.__doc__ = x81_rag_chunks.__doc__.format(w=_CHUNK_W, s=_CHUNK_STRIDE)


# ---- x82: vocabulary coverage / OOV rate ----

_X82_VOCAB_K = 500  # top-K corpus tokens = the "tokenizer vocab"

_X82_SQL = f"""
    WITH tok AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS t FROM documents),
    freq AS (
      SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
    vocab AS (
      SELECT t FROM freq
      ORDER BY c DESC, t
      LIMIT {_X82_VOCAB_K}),
    flagged AS (
      SELECT tok.doc_id,
             CASE WHEN v.t IS NULL THEN 1 ELSE 0 END AS oov
      FROM tok LEFT JOIN vocab v ON tok.t = v.t)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(oov) AS BIGINT) AS n_oov,
           ROUND(CAST(SUM(oov) AS DOUBLE) / COUNT(*), 4) AS oov_rate
    FROM flagged
    GROUP BY doc_id
    ORDER BY doc_id
    """


@register("x82_oov_rate", oracle=_X82_SQL)
def x82_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage: build the top-{k} corpus token vocab
    (count desc, token tiebreak — deterministic cut) and report each
    document's out-of-vocabulary token share — the coverage check run
    before committing to a tokenizer vocab (high OOV → fertility
    blow-up in x80's terms).

    Scale: one uniform-key token-frequency shuffle builds the vocab;
    the top-K cut is a TakeOrdered over the type space (small); the
    membership join broadcasts the K-row vocab into the token stream
    — the corpus-side cost is one explode + one doc_id rollup.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    vocab = (
        tok.groupBy("t")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "t")
        .limit(_X82_VOCAB_K)
        .select("t", F.lit(1).alias("__in_vocab"))
    )
    flagged = tok.join(F.broadcast(vocab), "t", "left")
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov").cast("double") / F.col("n_tokens"), 4).alias(
                "oov_rate"
            ),
        )
        .orderBy("doc_id")
    )


x82_oov_rate.__doc__ = x82_oov_rate.__doc__.format(k=_X82_VOCAB_K)


# ---- x83: temperature-smoothed source mixing weights ----

_MIX_ALPHA = 0.3  # the multilingual-sampling exponent (0<alpha<1
# upsamples small sources; alpha=1 is proportional sampling)

# Determinism: share = one int/int division; w = one POWER call (libm
# pow may differ by ~1 ulp across engines — five orders below the
# ROUND(6) grain, same acceptance as x46's LN); the weight-sum folds
# an ORDER BY source list so accumulation order is identical.
_X83_SQL = f"""
    WITH tok AS (
      SELECT source,
             CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM tok),
    w AS (
      SELECT source, n_tokens,
             POWER(CAST(n_tokens AS DOUBLE) / total, {_MIX_ALPHA}) AS pw
      FROM tok CROSS JOIN tot),
    s AS (
      SELECT list_reduce(LIST(pw ORDER BY source), (a, b) -> a + b) AS wsum
      FROM w)
    SELECT w.source, w.n_tokens,
           ROUND(CAST(w.n_tokens AS DOUBLE)
                 / (SELECT total FROM tot), 6) AS share,
           ROUND(w.pw / s.wsum, 6) AS mix_weight
    FROM w CROSS JOIN s
    ORDER BY w.source
    """


@register("x83_mix_temperature", oracle=_X83_SQL)
def x83_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed source sampling weights (the multilingual
    alpha-sampling rule, alpha={a}): each source's mix weight is its
    token share raised to alpha, renormalized — upsampling small
    sources so they aren't drowned by the head. This produces the
    recipe x43's rebalancer consumes; x57's centroid drift says which
    sources deserve the boost.

    Scale: one uniform-key token-count shuffle (map-side combined),
    then all arithmetic happens on the ≤|sources|-row summary —
    driver-safe by construction; the weight sum folds an ordered
    list so float accumulation order is engine-invariant.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tokens")
    )
    tot = tok.agg(F.sum("n_tokens").cast("bigint").alias("total"))
    w = tok.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        "total",
        F.pow(F.col("n_tokens").cast("double") / F.col("total"), _MIX_ALPHA).alias(
            "pw"
        ),
    )
    s = w.agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("source", "pw"))),
                lambda x: x["pw"],
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        ).alias("wsum")
    )
    return (
        w.crossJoin(F.broadcast(s))
        .select(
            "source",
            "n_tokens",
            F.round(F.col("n_tokens").cast("double") / F.col("total"), 6).alias(
                "share"
            ),
            F.round(F.col("pw") / F.col("wsum"), 6).alias("mix_weight"),
        )
        .orderBy("source")
    )


x83_mix_temperature.__doc__ = x83_mix_temperature.__doc__.format(a=_MIX_ALPHA)


# ---- x84: lexicon sentiment scoring ----

# Lexicon-based scoring (the EDBT'16 "Large Scale Sentiment Analysis
# on Twitter with Spark" method class): fixed positive/negative word
# lists, score = (pos - neg) / tokens. Lists drawn from the fixture
# vocabulary so the signal is non-trivial.
_POS_WORDS = ("fast", "small", "value")
_NEG_WORDS = ("slow", "filter", "error")


def _sql_in(words) -> str:
    return ", ".join(f"'{w}'" for w in words)


_X84_SQL = f"""
    WITH t AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents),
    s AS (
      SELECT doc_id,
             LEN(toks) AS n_tokens,
             LEN(LIST_FILTER(toks, x -> x IN ({_sql_in(_POS_WORDS)}))) AS n_pos,
             LEN(LIST_FILTER(toks, x -> x IN ({_sql_in(_NEG_WORDS)}))) AS n_neg
      FROM t)
    SELECT doc_id,
           CAST(n_pos AS BIGINT) AS n_pos,
           CAST(n_neg AS BIGINT) AS n_neg,
           ROUND(CAST(n_pos - n_neg AS DOUBLE) / n_tokens, 4) AS polarity,
           CASE WHEN n_pos > n_neg THEN 'positive'
                WHEN n_neg > n_pos THEN 'negative'
                ELSE 'neutral' END AS label
    FROM s
    ORDER BY doc_id
    """


@register("x84_sentiment", oracle=_X84_SQL)
def x84_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based sentiment scoring (the Spark sentiment-at-scale
    recipe of EDBT'16): positive/negative hit counts via higher-order
    LIST filters, polarity = (pos − neg)/tokens, three-way label.
    With a real lexicon (thousands of terms) the IN-list becomes a
    broadcast join against the exploded token stream (x82's shape);
    the HOF form shown here keeps small lexicons entirely narrow.

    Scale: zero shuffles except the final sort — per-row HOF filters
    inside whole-stage codegen.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    pos_set = ", ".join(f"'{w}'" for w in _POS_WORDS)
    neg_set = ", ".join(f"'{w}'" for w in _NEG_WORDS)
    s = docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.expr(f"filter(split(text, ' '), x -> x IN ({pos_set}))")).alias(
            "n_pos"
        ),
        F.size(F.expr(f"filter(split(text, ' '), x -> x IN ({neg_set}))")).alias(
            "n_neg"
        ),
    )
    return s.select(
        "doc_id",
        F.col("n_pos").cast("bigint").alias("n_pos"),
        F.col("n_neg").cast("bigint").alias("n_neg"),
        F.round(
            (F.col("n_pos") - F.col("n_neg")).cast("double") / F.col("n_tokens"), 4
        ).alias("polarity"),
        F.when(F.col("n_pos") > F.col("n_neg"), "positive")
        .when(F.col("n_neg") > F.col("n_pos"), "negative")
        .otherwise("neutral")
        .alias("label"),
    ).orderBy("doc_id")


# ---- x85: edit-distance similarity join (length-blocked) ----

_EDIT_MAX = 2  # levenshtein threshold

_X85_SQL = f"""
    WITH vocab AS (
      SELECT DISTINCT UNNEST(STRING_SPLIT(text, ' ')) AS t FROM documents),
    buckets AS (
      SELECT t, LEN(t) + b.o AS bucket
      FROM vocab, (SELECT UNNEST([-1, 0, 1]) AS o) b),
    cand AS (
      SELECT DISTINCT a.t AS tok_a, c.t AS tok_b
      FROM buckets a JOIN buckets c
        ON a.bucket = c.bucket AND a.t < c.t)
    SELECT tok_a, tok_b,
           CAST(levenshtein(tok_a, tok_b) AS INT) AS dist
    FROM cand
    WHERE levenshtein(tok_a, tok_b) <= {_EDIT_MAX}
    ORDER BY tok_a, tok_b
    """


@register("x85_typo_pairs", oracle=_X85_SQL)
def x85_typo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity join over the corpus vocabulary
    (PassJoin / Ed-Join segment-signature family, VLDB'12): token
    pairs within levenshtein {d} via POSITIONAL SEGMENT BLOCKING.
    Each token is partitioned into d+1={n} even segments; by
    pigeonhole, any token within edit distance d of it must contain
    at least one of those segments VERBATIM, displaced by at most d
    positions (an edit can shift later characters by at most one
    each). So the index side posts (len, seg_idx, segment) for its
    {n} segments, the probe side posts substrings of itself at the
    aligned positions ±d for every candidate indexed length in
    [len-d, len] (partition-the-shorter convention; equal lengths
    probe both ways and dedup), and candidates share the FULL
    (len, seg_idx, segment) key — an EXACT filter, not approximate.
    Exact levenshtein then verifies survivors. The spell-variant
    miner used to normalize vocab before counting (x26) or vocab
    cuts (x82).

    Scale: the old length-only blocking was near-quadratic per
    length bucket (natural-language vocab concentrates in lengths
    4–9, so 10^7-type web vocab ⇒ millions of candidates per
    bucket). The segment key adds the actual characters to the join
    key, so bucket population is driven by string content, not the
    length histogram: signature volume is a constant ≤ {n} index +
    ~(d+1)²·(2d+1) probe rows per type, the join is one skinny
    shuffle on (len, seg_idx, segment), and levenshtein runs only
    on survivors — the same block-then-verify discipline as
    x02/x04, now with a high-selectivity key.
    """
    d, nseg = _EDIT_MAX, _EDIT_MAX + 1
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(
            F.explode(F.array_distinct(F.split("text", " "))).alias("t")
        )
        .distinct()
        .select("t", F.length("t").alias("l"))
    )
    seg_idx = F.explode(F.array(*[F.lit(i) for i in range(nseg)])).alias("i")

    def _bounds(length_col):
        """Even-partition boundaries of a string of `length_col` chars
        into nseg segments: first (l % nseg) segments get the extra
        char. Returns (start0, seg_len) column pair for segment `i`."""
        base = F.floor(length_col / nseg).cast("int")
        rem = (length_col % nseg).cast("int")
        seg_len = base + F.when(F.col("i") < rem, 1).otherwise(0)
        start0 = F.col("i") * base + F.least(F.col("i"), rem)
        return start0, seg_len

    # Index side: each token's own nseg segments, keyed by its length.
    s0, sl = _bounds(F.col("pl"))
    idx = vocab.select(
        F.col("t").alias("t_i"),
        F.col("l").alias("pl"),
        seg_idx,
    ).select(
        "t_i",
        "pl",
        "i",
        F.col("t_i").substr(s0 + 1, sl).alias("seg"),
    )

    # Probe side: substrings of each token at the partition boundaries
    # of every candidate indexed length pl in [m-d, m], shifted ±d.
    probes = (
        vocab.select(F.col("t").alias("t_p"), F.col("l").alias("m"))
        .select(
            "t_p",
            "m",
            F.explode(
                F.array(*[F.lit(-k) for k in range(d + 1)])
            ).alias("dl"),
        )
        .select("t_p", "m", (F.col("m") + F.col("dl")).alias("pl"))
        .filter(F.col("pl") >= 1)
        .select("t_p", "m", "pl", seg_idx)
    )
    p0, plen = _bounds(F.col("pl"))
    probes = (
        probes.select(
            "t_p",
            "m",
            "pl",
            "i",
            p0.alias("start0"),
            plen.alias("seg_len"),
            F.explode(
                F.array(*[F.lit(k) for k in range(-d, d + 1)])
            ).alias("shift"),
        )
        .select(
            "t_p",
            "pl",
            "i",
            "seg_len",
            (F.col("start0") + F.col("shift")).alias("p"),
            F.col("m"),
        )
        .filter(
            (F.col("p") >= 0) & (F.col("p") + F.col("seg_len") <= F.col("m"))
        )
        .select(
            "t_p",
            "pl",
            "i",
            F.col("t_p").substr(F.col("p") + 1, F.col("seg_len")).alias("sub"),
        )
        .distinct()
    )

    cand = (
        idx.join(
            probes,
            (idx.pl == probes.pl)
            & (idx.i == probes.i)
            & (idx.seg == probes.sub)
            & (idx.t_i != probes.t_p),
        )
        .select(
            F.least("t_i", "t_p").alias("tok_a"),
            F.greatest("t_i", "t_p").alias("tok_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("dist", F.levenshtein("tok_a", "tok_b").cast("int"))
        .filter(F.col("dist") <= _EDIT_MAX)
        .orderBy("tok_a", "tok_b")
    )


x85_typo_pairs.__doc__ = x85_typo_pairs.__doc__.format(
    d=_EDIT_MAX, n=_EDIT_MAX + 1
)


# ---- x86: parquet storage audit (per-column compression stats) ----


@register("x86_parquet_storage_audit")  # rows-only: needs file paths,
# which the driver's pre-registered DATA views cannot express; the
# DuckDB cross-check (parquet_metadata over the same files) runs in
# tests/test_operators.py instead.
def x86_parquet_storage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-layer audit: per column of the lineitem table, chunk
    count, compressed/uncompressed byte totals and compression ratio,
    read from parquet FOOTERS only (never data pages) — the
    compression-awareness check (cf. MorphStore's thesis that
    encoding choice drives scan cost) run before tuning encodings,
    row-group sizing, or column ordering.

    Scale: the file list becomes a DataFrame and each executor reads
    only its files' footers via pyarrow inside mapInPandas —
    O(files) metadata reads distributed across the cluster, the same
    discipline as write_training_shards' manifest; the rollup
    shuffles one skinny row per (file, column).
    """
    import glob as _glob
    import os as _os

    from collections.abc import Iterator as _Iter

    import pandas as _pd

    base = _os.path.join(sf_dir, "lineitem.parquet")
    files = sorted(_glob.glob(_os.path.join(base, "*.parquet"))) or [base]
    fdf = spark.createDataFrame([(p,) for p in files], "path STRING")

    def fn(batches: "_Iter[_pd.DataFrame]") -> "_Iter[_pd.DataFrame]":
        import pyarrow.parquet as _pq

        for pdf in batches:
            out = []
            for p in pdf["path"]:
                md = _pq.ParquetFile(p).metadata
                for rg in range(md.num_row_groups):
                    for ci in range(md.num_columns):
                        c = md.row_group(rg).column(ci)
                        out.append(
                            (
                                c.path_in_schema,
                                c.total_compressed_size,
                                c.total_uncompressed_size,
                            )
                        )
            yield _pd.DataFrame(
                out, columns=["column", "compressed", "uncompressed"]
            )

    schema = "column STRING, compressed BIGINT, uncompressed BIGINT"
    return (
        fdf.mapInPandas(fn, schema)
        .groupBy("column")
        .agg(
            F.count("*").cast("bigint").alias("n_chunks"),
            F.sum("compressed").cast("bigint").alias("compressed_bytes"),
            F.sum("uncompressed").cast("bigint").alias("uncompressed_bytes"),
        )
        .select(
            "column",
            "n_chunks",
            "compressed_bytes",
            "uncompressed_bytes",
            F.round(
                F.col("uncompressed_bytes").cast("double")
                / F.col("compressed_bytes"),
                4,
            ).alias("ratio"),
        )
        .orderBy("column")
    )


# ---- x97: Count-Min sketch heavy hitters ----

# CMS (Cormode & Muthukrishnan, J.Alg'05): D independent hash rows of
# W counters; every token occurrence increments one counter per row;
# a point estimate is the MIN over its D counters — always an
# OVERestimate (collisions only add). The mergeable fixed-width
# frequency sketch under streaming heavy-hitter pipelines (x74's HLL
# is the cardinality sibling). Hashes are the portable md5 bridge
# salted by the row id, so both engines build bit-identical sketches.
_CMS_D = 4  # hash rows
_CMS_W = 128  # counters per row
_CMS_TOP = 20


def _cms_sql_bucket(d: int) -> str:
    return (
        f"CAST(('0x' || SUBSTR(MD5('{d}:' || t), 1, 15)) AS BIGINT) "
        f"% {_CMS_W}"
    )


_X97_SQL = f"""
    WITH tok AS (
      SELECT UNNEST(STRING_SPLIT(text, ' ')) AS t FROM documents),
    tf AS (
      SELECT t, COUNT(*) AS true_cnt FROM tok GROUP BY t),
    hashed AS (
      SELECT t, true_cnt, d.d AS d,
             CASE d.d
               {" ".join(f"WHEN {d} THEN {_cms_sql_bucket(d)}"
                         for d in range(_CMS_D))}
             END AS bucket
      FROM tf, (SELECT UNNEST(RANGE(0, {_CMS_D})) AS d) d),
    sketch AS (
      SELECT d, bucket, SUM(true_cnt) AS cnt
      FROM hashed GROUP BY d, bucket),
    est AS (
      SELECT h.t, h.true_cnt, MIN(s.cnt) AS cms_est
      FROM hashed h JOIN sketch s ON h.d = s.d AND h.bucket = s.bucket
      GROUP BY h.t, h.true_cnt),
    top AS (
      SELECT t, true_cnt, cms_est,
             ROW_NUMBER() OVER (ORDER BY true_cnt DESC, t) AS rnk
      FROM est)
    SELECT rnk, t AS token, CAST(true_cnt AS BIGINT) AS true_cnt,
           CAST(cms_est AS BIGINT) AS cms_est,
           CAST(cms_est - true_cnt AS BIGINT) AS overcount
    FROM top WHERE rnk <= {_CMS_TOP}
    ORDER BY rnk
    """


def cms_bucket_col(d: int, token_col: str = "t"):
    """Row-``d``'s bucket for a token column — the salted portable
    md5 bridge (mirrored by ``_cms_sql_bucket`` on the oracle side)."""
    return (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit(f"{d}:"), F.col(token_col)).cast("binary")
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % _CMS_W
    )


@register("x97_cms_heavy_hitters", oracle=_X97_SQL)
def x97_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan, J.Alg'05) heavy
    hitters: a {d}×{w} counter sketch over the corpus token stream,
    then the top-{k} tokens by TRUE frequency with their CMS point
    estimates (min over {d} salted-md5 rows) and the overcount the
    collisions cost — the accuracy audit x08 runs for MinHash, here
    for the frequency sketch. All-integer arithmetic: bit-identical
    sketches on both engines.

    Scale: the token-frequency pass is one Zipf-skewed partial agg
    (map-side combine collapses per-partition duplicates before the
    exchange); the sketch itself is built from the DISTINCT-token
    table — {d} rows per type, reduced to a constant {d}·{w}-row
    sketch that broadcasts anywhere. Estimation joins the skinny type
    table against the broadcast sketch; per-stream mergeability (sum
    sketches counter-wise) is what makes this the streaming/
    foreachBatch frequency primitive at 100 TB.
    """
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(F.split("text", " ")).alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("true_cnt"))
    )

    hashed = tf.select(
        "t",
        "true_cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        cms_bucket_col(d, "t").alias("bucket"),
                    )
                    for d in range(_CMS_D)
                ]
            )
        ).alias("h"),
    ).select("t", "true_cnt", "h.d", "h.bucket")
    sketch = hashed.groupBy("d", "bucket").agg(
        F.sum("true_cnt").alias("cnt")
    )
    est = (
        hashed.join(F.broadcast(sketch), ["d", "bucket"])
        .groupBy("t", "true_cnt")
        .agg(F.min("cnt").alias("cms_est"))
    )
    w = Window.orderBy(F.desc("true_cnt"), F.asc("t"))
    return (
        est.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _CMS_TOP)
        .select(
            "rnk",
            F.col("t").alias("token"),
            F.col("true_cnt").cast("bigint").alias("true_cnt"),
            F.col("cms_est").cast("bigint").alias("cms_est"),
            (F.col("cms_est") - F.col("true_cnt"))
            .cast("bigint")
            .alias("overcount"),
        )
        .orderBy("rnk")
    )


x97_cms_heavy_hitters.__doc__ = x97_cms_heavy_hitters.__doc__.format(
    d=_CMS_D, w=_CMS_W, k=_CMS_TOP
)


# ---- x98: hashed linear quality score (fastText-style) ----

# A fastText/VW-style hashed linear model scored in-engine: every
# token looks up a weight from a FIXED hashed weight table (no
# vocabulary build — the hashing trick again), and the document score
# is the mean weight. Weights are integers in [-500, 500] derived
# from the md5 bridge, so the per-doc accumulation is EXACT integer
# math; the only float op is one final division (repo determinism
# policy: single final float op). This is the quality-classifier
# scoring pass (CCNet/DCLM-style) without the (offline) training.
_X98_WSPAN = 1001  # weights in [-500, 500]


_X98_SQL = f"""
    WITH tok AS (
      SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS t
      FROM documents),
    wtok AS (
      SELECT doc_id, lang,
             CAST(('0x' || SUBSTR(MD5('w:' || t), 1, 15)) AS BIGINT)
               % {_X98_WSPAN} - 500 AS w
      FROM tok),
    scored AS (
      SELECT doc_id, lang, SUM(w) AS wsum, COUNT(*) AS n_tokens
      FROM wtok GROUP BY doc_id, lang)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN wsum > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_positive,
           ROUND(CAST(SUM(wsum) AS DOUBLE) / (500 * SUM(n_tokens)), 6)
             AS mean_score
    FROM scored
    GROUP BY lang
    ORDER BY lang
    """


@register("x98_hashed_linear_score", oracle=_X98_SQL)
def x98_hashed_linear_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed linear classifier scoring (the fastText/Vowpal-Wabbit
    serving pass): each token indexes a fixed hashed weight table
    (integer weights in [-500, 500] via the salted md5 bridge), a
    document's logit is its token-weight sum, and the per-language
    report gives doc counts, positive-class counts (logit > 0) and
    the corpus mean score in [-1, 1]. Integer accumulation end to
    end; ONE final float division — bit-identical across engines.

    Scale: token explode is narrow; the per-doc weight sum is one
    uniform doc_id-keyed partial agg (map-side combine sums weights
    before the exchange); the language rollup is a second skinny agg.
    A trained weight vector would broadcast exactly like the hash
    weights compute here — the pass stays fully map-side + two aggs
    at any corpus size.
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
        % _X98_WSPAN
        - 500
    )
    scored = (
        tok.select("doc_id", "lang", weight.alias("w"))
        .groupBy("doc_id", "lang")
        .agg(F.sum("w").alias("wsum"), F.count("*").alias("n_tokens"))
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("wsum") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_positive"),
            F.round(
                F.sum("wsum").cast("double")
                / (500 * F.sum("n_tokens")),
                6,
            ).alias("mean_score"),
        )
        .orderBy("lang")
    )


# ---- x103: Bloom-filter membership decontamination ----

# Bloom (CACM'70): k salted hash bits over an m-bit array; "all k
# bits set" ⇒ probably-member (false positives possible, false
# negatives impossible). The constant-size membership sketch that
# lets an ingest pipeline probe "have we seen this document?" without
# shipping the fingerprint set — completing the sketch triad (x74
# HLL = cardinality, x97 CMS = frequency, x103 Bloom = membership).
# The audit measures its false-positive rate against the EXACT
# fingerprint join (x42's ground-truth style) per source.
def bloom_bit(j: int, f_col):
    """Bit position of hash row ``j`` for a fingerprint column — the
    md5→BIGINT bridge mod the filter width, shared by the x103 batch
    audit and its SQL twin (``_bloom_bit_sql``)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{j}:"), f_col).cast("binary")),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % _BLOOM_M
    )


_BLOOM_M = 65536  # bits (sized so sf0.1's ~2.5k-doc train half
# stays far from saturation: k·n/m ≈ 0.11 → FPR ≈ 0.1%³)
_BLOOM_K = 3  # hash rows


def _bloom_bit_sql(j_expr: str, fp: str) -> str:
    # j_expr is a SQL expression (column or literal) — cast into the
    # salt so 'j.j' the COLUMN, not the string, varies the hash row
    return (
        f"CAST(('0x' || SUBSTR(MD5(CAST({j_expr} AS VARCHAR) || ':' "
        f"|| {fp}), 1, 15)) AS BIGINT) % {_BLOOM_M}"
    )


_X103_SQL = f"""
    WITH fp AS (
      SELECT doc_id, source, MD5(text) AS f,
             CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 2 AS fold
      FROM documents),
    train AS (SELECT * FROM fp WHERE fold = 0),
    eval_ AS (SELECT * FROM fp WHERE fold = 1),
    bits AS (
      SELECT DISTINCT b FROM train,
        (SELECT UNNEST(RANGE(0, {_BLOOM_K})) AS j) j,
        LATERAL (SELECT {_bloom_bit_sql('j.j', 'f')} AS b) x),
    probe AS (
      SELECT e.doc_id, e.source, e.f, j.j,
             {_bloom_bit_sql('j.j', 'e.f')} AS b
      FROM eval_ e, (SELECT UNNEST(RANGE(0, {_BLOOM_K})) AS j) j),
    hits AS (
      SELECT p.doc_id, p.source, p.f,
             COUNT(bits.b) AS matched
      FROM probe p LEFT JOIN bits ON p.b = bits.b
      GROUP BY p.doc_id, p.source, p.f),
    truth AS (
      SELECT DISTINCT f FROM train),
    flagged AS (
      SELECT h.source,
             CASE WHEN h.matched = {_BLOOM_K} THEN 1 ELSE 0 END AS flag,
             CASE WHEN t.f IS NOT NULL THEN 1 ELSE 0 END AS dup
      FROM hits h LEFT JOIN truth t ON h.f = t.f)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_eval,
           CAST(SUM(flag) AS BIGINT) AS n_flagged,
           CAST(SUM(dup) AS BIGINT) AS n_true_dup,
           CAST(SUM(CASE WHEN flag = 1 AND dup = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_pos,
           ROUND(CAST(SUM(CASE WHEN flag = 1 AND dup = 0 THEN 1 ELSE 0 END)
                      AS DOUBLE)
                 / COUNT(*), 6) AS fp_rate
    FROM flagged
    GROUP BY source
    ORDER BY source
    """


@register("x103_bloom_decontamination", oracle=_X103_SQL)
def x103_bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership audit (Bloom, CACM'70): a {m}-bit /
    {k}-hash filter built over the hash-split train half's document
    fingerprints, probed by the eval half — per source, how many eval
    docs the filter flags, how many are TRUE duplicates (exact
    fingerprint join — the filter can never miss these), and the
    false-positive rate the {m}-bit budget costs. The membership leg
    of the sketch triad (x74 HLL counts, x97 CMS weighs, this one
    remembers).

    Scale: the filter is a ≤{m}-row distinct bit set — broadcast
    anywhere, mergeable by union (bit-OR), exactly like the streaming
    CMS; probes join k constant rows per doc against it map-side.
    The exact-truth join is the audit's own cost, not the filter's —
    production probes ONLY touch the broadcast bits. All-integer
    arithmetic; one final rate division.
    """
    docs = load_table(spark, sf_dir, "documents")
    fold = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
        ).cast("bigint")
        % 2
    )
    fp = docs.select(
        "doc_id",
        "source",
        F.md5(F.col("text")).alias("f"),
        fold.alias("fold"),
    )

    bit = bloom_bit

    train = fp.filter(F.col("fold") == 0)
    ev = fp.filter(F.col("fold") == 1)
    bits = (
        train.select(
            F.explode(
                F.array(*[bit(j, F.col("f")) for j in range(_BLOOM_K)])
            ).alias("b")
        )
        .distinct()
    )
    probe = ev.select(
        "doc_id",
        "source",
        "f",
        F.posexplode(
            F.array(*[bit(j, F.col("f")) for j in range(_BLOOM_K)])
        ).alias("j", "b"),
    )
    hits = (
        probe.join(F.broadcast(bits.withColumnRenamed("b", "bb")),
                   probe["b"] == F.col("bb"), "left")
        .groupBy("doc_id", "source", "f")
        .agg(F.count("bb").alias("matched"))
    )
    truth = train.select("f").distinct().withColumnRenamed("f", "tf")
    flagged = (
        hits.join(F.broadcast(truth), hits["f"] == F.col("tf"), "left")
        .select(
            "source",
            F.when(F.col("matched") == _BLOOM_K, 1).otherwise(0).alias("flag"),
            F.when(F.col("tf").isNotNull(), 1).otherwise(0).alias("dup"),
        )
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_eval"),
            F.sum("flag").cast("bigint").alias("n_flagged"),
            F.sum("dup").cast("bigint").alias("n_true_dup"),
            F.sum(
                F.when((F.col("flag") == 1) & (F.col("dup") == 0), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_false_pos"),
            F.round(
                F.sum(
                    F.when(
                        (F.col("flag") == 1) & (F.col("dup") == 0), 1
                    ).otherwise(0)
                ).cast("double")
                / F.count("*"),
                6,
            ).alias("fp_rate"),
        )
        .orderBy("source")
    )


x103_bloom_decontamination.__doc__ = x103_bloom_decontamination.__doc__.format(
    m=_BLOOM_M, k=_BLOOM_K
)


# ---- x104: mergeable histogram quantiles ----

# The fixed-grid histogram is the simplest mergeable quantile sketch
# (bucket counts sum across partitions/streams — same linearity as
# x97/x103): estimate = linear interpolation inside the bucket
# holding the target rank. q29 computes EXACT percentiles (full sort
# per group — fine until the group no longer fits a sort); this is
# the constant-memory path, audited here against the exact
# rank-statistic so the bucket-width error is measured, not assumed.
_X104_W = 64  # bucket width over documents.n_chars
_X104_QS = (50, 90, 99)  # percentiles, as integers (rational math)


_X104_SQL = f"""
    WITH hist AS (
      SELECT n_chars // {_X104_W} AS bucket, COUNT(*) AS cnt
      FROM documents GROUP BY bucket),
    cum AS (
      SELECT bucket, cnt,
             SUM(cnt) OVER (ORDER BY bucket) AS cum
      FROM hist),
    n AS (SELECT COUNT(*) AS n FROM documents),
    targets AS (
      SELECT q, CAST((q * (SELECT n FROM n) + 99) // 100 AS BIGINT) AS r
      FROM (SELECT UNNEST(ARRAY{list(_X104_QS)}) AS q)),
    est AS (
      SELECT t.q, t.r, c.bucket, c.cnt, c.cum
      FROM targets t JOIN cum c
        ON c.cum >= t.r AND c.cum - c.cnt < t.r),
    exact AS (
      SELECT t.q AS q, d.n_chars AS exact_value
      FROM targets t JOIN (
        SELECT n_chars,
               ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rn
        FROM documents) d ON d.rn = t.r)
    SELECT e.q,
           e.r AS target_rank,
           ROUND(e.bucket * {_X104_W}
                 + CAST({_X104_W} * (e.r - (e.cum - e.cnt)) AS DOUBLE)
                   / e.cnt, 6) AS est_value,
           CAST(x.exact_value AS BIGINT) AS exact_value
    FROM est e JOIN exact x ON e.q = x.q
    ORDER BY e.q
    """


@register("x104_histogram_quantiles", oracle=_X104_SQL)
def x104_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable fixed-grid quantile estimation: a width-{w} bucket
    histogram over document lengths (bucket counts SUM across
    partitions and streams — the same mergeability as x97/x103),
    p50/p90/p99 estimated by interpolating inside the rank-holding
    bucket, audited against the exact rank statistic. Rank targets
    are ceiling-rational integers; the interpolation is ONE final
    float division.

    Scale: the histogram is one constant-width agg (bucket count ≈
    range/{w}, independent of corpus size); the cumulative pass runs
    over that constant-size table. The EXACT audit column is the only
    full-sort stage — production drops it and keeps the sketch, which
    is the point: q29's exact sort cannot scale past executor memory,
    this can.
    """
    docs = load_table(spark, sf_dir, "documents")
    hist = (
        docs.select((F.col("n_chars") / _X104_W).cast("bigint").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("cnt"))
    )
    cum = hist.withColumn(
        "cum", F.sum("cnt").over(Window.orderBy("bucket"))
    )
    n_row = docs.agg(F.count("*").alias("n"))
    targets = (
        spark.createDataFrame([(q,) for q in _X104_QS], "q INT")
        .crossJoin(F.broadcast(n_row))
        .select(
            "q",
            F.expr("CAST((q * n + 99) DIV 100 AS BIGINT)").alias("r"),
        )
    )
    est = F.broadcast(targets).join(
        cum,
        (F.col("cum") >= F.col("r"))
        & ((F.col("cum") - F.col("cnt")) < F.col("r")),
    )
    ranked = docs.select(
        "n_chars",
        F.row_number()
        .over(Window.orderBy("n_chars", "doc_id"))
        .alias("rn"),
    )
    exact = F.broadcast(
        targets.select(F.col("q").alias("xq"), F.col("r").alias("xr"))
    ).join(ranked, F.col("rn") == F.col("xr")).select(
        "xq", F.col("n_chars").alias("exact_value")
    )
    return (
        est.join(F.broadcast(exact), est["q"] == F.col("xq"))
        .select(
            "q",
            F.col("r").alias("target_rank"),
            F.round(
                F.col("bucket") * _X104_W
                + (
                    _X104_W * (F.col("r") - (F.col("cum") - F.col("cnt")))
                ).cast("double")
                / F.col("cnt"),
                6,
            ).alias("est_value"),
            F.col("exact_value").cast("bigint").alias("exact_value"),
        )
        .orderBy("q")
    )


x104_histogram_quantiles.__doc__ = x104_histogram_quantiles.__doc__.format(
    w=_X104_W
)


# ---- x344: inverted-index posting lists (top-df terms) ----

_X344_TOP = 20

_X344_SQL = f"""
WITH toks AS (
  SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS t FROM documents),
posting AS (
  SELECT doc_id,
         UNNEST(t) AS tok,
         UNNEST(RANGE(1, LEN(t) + 1)) AS pos
  FROM toks),
top AS (
  SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM posting GROUP BY tok
  ORDER BY df DESC, tok LIMIT {_X344_TOP})
SELECT p.tok AS term, t.df,
       CAST(COUNT(*) AS BIGINT) AS n_postings,
       MD5(STRING_AGG(p.doc_id || ':' || p.pos, ','
                      ORDER BY p.doc_id, p.pos)) AS postings_digest
FROM posting p JOIN top t ON p.tok = t.tok
GROUP BY p.tok, t.df
ORDER BY term
"""


@register("x344_inverted_index", oracle=_X344_SQL)
def x344_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build (the search-engine core structure): full
    positional posting lists for the top-{top} document-frequency
    terms — per term, df, posting count, and an md5 over the
    canonical ordered (doc_id:pos) chain, which pins the exact
    posting order a query-time skip-list would walk. The digest makes
    the whole index content hash-checkable, not just its sizes.

    Determinism: the top-{top} cut orders by (df DESC, term) — a
    total order, so boundary ties resolve identically cross-engine;
    postings serialize in (doc_id, pos) order.

    Scale: posting construction is one narrow posexplode; the df
    table shuffles on term (uniform hash key); the top cut is
    dim-sized and broadcast back, so the posting re-scan joins
    without shuffling the big side on anything but term. Real
    deployments shard postings by term range — the (term → ordered
    postings) shape here is exactly that layout's build stage.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.lower("text"), " ")).alias("pos0", "tok"),
        )
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    )
    top = (
        tok.groupBy("tok")
        .agg(F.countDistinct("doc_id").cast("bigint").alias("df"))
        .orderBy(F.col("df").desc(), "tok")
        .limit(_X344_TOP)
    )
    return (
        tok.join(F.broadcast(top), "tok")
        .groupBy(F.col("tok").alias("term"), "df")
        .agg(
            F.count("*").cast("bigint").alias("n_postings"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("doc_id", "pos"))
                        ),
                        lambda s: F.concat_ws(
                            ":", s["doc_id"], s["pos"]
                        ),
                    ),
                    ",",
                )
            ).alias("postings_digest"),
        )
        .orderBy("term")
    )


x344_inverted_index.__doc__ = x344_inverted_index.__doc__.format(
    top=_X344_TOP
)


# ---- x349: exact ROC-AUC via tie-corrected rank sums ----

_X349_SQL = f"""
    WITH tok AS (
      SELECT doc_id, source, lang, UNNEST(STRING_SPLIT(text, ' ')) AS t
      FROM documents),
    scored AS (
      SELECT doc_id, source, lang,
             SUM(CAST(('0x' || SUBSTR(MD5('w:' || t), 1, 15)) AS BIGINT)
                 % {_X98_WSPAN} - 500) AS wsum
      FROM tok GROUP BY doc_id, source, lang),
    ranked AS (
      SELECT source,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_pos,
             2 * RANK() OVER (PARTITION BY source ORDER BY wsum)
               + COUNT(*) OVER (PARTITION BY source, wsum) - 1 AS dbl_rank
      FROM scored),
    agg AS (
      SELECT source,
             CAST(SUM(is_pos) AS BIGINT) AS n_pos,
             CAST(SUM(1 - is_pos) AS BIGINT) AS n_neg,
             SUM(CASE WHEN is_pos = 1 THEN dbl_rank ELSE 0 END) AS s2
      FROM ranked GROUP BY source)
    SELECT source, n_pos, n_neg,
           ROUND(CAST(s2 - n_pos * (n_pos + 1) AS DOUBLE)
                 / (2 * n_pos * n_neg), 6) AS auc
    FROM agg
    WHERE n_pos > 0 AND n_neg > 0
    ORDER BY source
    """


@register("x349_roc_auc", oracle=_X349_SQL)
def x349_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the x98 hashed linear scorer at the task
    "is this document English", per source — the quality-classifier
    eval every filtered-corpus pipeline reports next to its PR curve
    (x104 family). AUC is computed as the tie-corrected Mann-Whitney
    rank statistic: with average ranks r̄ᵢ for the positives,
    AUC = (Σr̄ᵢ − n₊(n₊+1)/2) / (n₊n₋). Staying integer: doubled
    average rank = 2·RANK + |ties| − 1, so the numerator
    S2 − n₊(n₊+1) is exact and ONE final rounded division produces
    the score — no sort-order or float-accumulation dependence.

    Scale: token explode is narrow; per-doc logits are one uniform
    doc_id-keyed partial agg; ranking shuffles once on source (the
    AUC groups), and ties resolve by value not position — the whole
    statistic is an O(n log n) sort per group, the same cost as the
    PR-curve sweep, with no pairwise n₊×n₋ expansion.
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "source", "lang",
        F.explode(F.split("text", " ")).alias("t"),
    )
    weight = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("w:"), F.col("t")).cast("binary")), 1, 15
            ),
            16,
            10,
        ).cast("bigint")
        % _X98_WSPAN
        - 500
    )
    scored = (
        tok.select("doc_id", "source", "lang", weight.alias("w"))
        .groupBy("doc_id", "source", "lang")
        .agg(F.sum("w").alias("wsum"))
    )
    ranked = scored.select(
        "source",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("is_pos"),
        (
            2 * F.rank().over(Window.partitionBy("source").orderBy("wsum"))
            + F.count("*").over(Window.partitionBy("source", "wsum"))
            - 1
        ).alias("dbl_rank"),
    )
    agg = ranked.groupBy("source").agg(
        F.sum("is_pos").cast("bigint").alias("n_pos"),
        F.sum(1 - F.col("is_pos")).cast("bigint").alias("n_neg"),
        F.sum(
            F.when(F.col("is_pos") == 1, F.col("dbl_rank")).otherwise(0)
        ).alias("s2"),
    )
    return (
        agg.where((F.col("n_pos") > 0) & (F.col("n_neg") > 0))
        .select(
            "source", "n_pos", "n_neg",
            F.round(
                (F.col("s2") - F.col("n_pos") * (F.col("n_pos") + 1)).cast(
                    "double"
                )
                / (2 * F.col("n_pos") * F.col("n_neg")),
                6,
            ).alias("auc"),
        )
        .orderBy("source")
    )


# ---- x351: in-batch negative contamination audit ----

_X351_BATCH = 32

_X351_SQL = f"""
    WITH ordered AS (
      SELECT doc_id, lang, source,
             (ROW_NUMBER() OVER (
                PARTITION BY source
                ORDER BY MD5('b:' || CAST(doc_id AS VARCHAR)), doc_id) - 1)
               // {_X351_BATCH} AS batch_id
      FROM documents),
    pairs AS (
      SELECT a.lang AS lang_a, b.lang AS lang_b
      FROM ordered a
      JOIN ordered b
        ON a.source = b.source AND a.batch_id = b.batch_id
       AND a.doc_id < b.doc_id),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM pairs)
    SELECT lang_a AS lang,
           CAST(COUNT(*) AS BIGINT) AS n_fn_pairs,
           ROUND(CAST(COUNT(*) AS DOUBLE) / (SELECT n_pairs FROM tot), 6)
             AS fn_share
    FROM pairs
    WHERE lang_a = lang_b
    GROUP BY lang_a
    ORDER BY lang
    """


@register("x351_inbatch_negatives", oracle=_X351_SQL)
def x351_inbatch_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-batch negative contamination audit for contrastive
    training (CLIP/DPR-style): documents are packed into
    deterministic batches of {b} (salted-md5 order within each
    source — the per-shard batching a streaming loader actually
    does), and every same-batch pair sharing a label (lang, the
    stand-in for semantic equivalence) is a FALSE negative — the
    pairs that push matching representations apart and quietly cap
    contrastive accuracy. Output: false-negative pair count per
    language and its share of ALL in-batch pairs.

    Exact integer pair counts; one final division against the exact
    global pair total.

    Scale: the self-join key is (source, batch_id), so the join
    fan-out is hard-bounded at C({b},2) pairs per batch regardless
    of corpus size — candidate volume is linear in documents. The
    batching row_number partitions by source (shard-local), never a
    global total order.
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    ordered = docs.select(
        "doc_id", "lang", "source",
        (
            (
                F.row_number().over(
                    Window.partitionBy("source").orderBy(
                        F.md5(
                            F.concat(
                                F.lit("b:"), F.col("doc_id").cast("string")
                            ).cast("binary")
                        ),
                        "doc_id",
                    )
                )
                - 1
            )
            / _X351_BATCH
        ).cast("bigint").alias("batch_id"),
    )
    a = ordered.alias("a")
    b = ordered.alias("b")
    pairs = a.join(
        b,
        (F.col("a.source") == F.col("b.source"))
        & (F.col("a.batch_id") == F.col("b.batch_id"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.lang").alias("lang_a"), F.col("b.lang").alias("lang_b")
    )
    total = pairs.agg(F.count("*").cast("bigint").alias("n_pairs"))
    return (
        pairs.where(F.col("lang_a") == F.col("lang_b"))
        .groupBy(F.col("lang_a").alias("lang"))
        .agg(F.count("*").cast("bigint").alias("n_fn_pairs"))
        .crossJoin(F.broadcast(total))
        .select(
            "lang", "n_fn_pairs",
            F.round(
                F.col("n_fn_pairs").cast("double") / F.col("n_pairs"), 6
            ).alias("fn_share"),
        )
        .orderBy("lang")
    )


x351_inbatch_negatives.__doc__ = x351_inbatch_negatives.__doc__.format(
    b=_X351_BATCH
)


# ---- x353: split-conformal coverage audit ----

_X353_SQL = f"""
    WITH tok AS (
      SELECT doc_id, source, lang, UNNEST(STRING_SPLIT(text, ' ')) AS t
      FROM documents WHERE lang = 'en'),
    scored AS (
      SELECT doc_id, source,
             CAST(('0x' || SUBSTR(MD5('s:' || CAST(doc_id AS VARCHAR)), 1, 15))
               AS BIGINT) % 2 AS fold,
             SUM(CAST(('0x' || SUBSTR(MD5('w:' || t), 1, 15)) AS BIGINT)
                 % {_X98_WSPAN} - 500) AS wsum
      FROM tok GROUP BY doc_id, source),
    cal AS (
      SELECT source, wsum,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY wsum, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS n_cal
      FROM scored WHERE fold = 0),
    tau AS (
      SELECT source, n_cal, wsum AS tau
      FROM cal WHERE rn = (n_cal + 10) // 10),
    ev AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_eval,
             SUM(CASE WHEN wsum IS NOT NULL THEN 1 ELSE 0 END) AS chk
      FROM scored WHERE fold = 1 GROUP BY source)
    SELECT t.source, CAST(t.n_cal AS BIGINT) AS n_cal, e.n_eval,
           CAST(t.tau AS BIGINT) AS tau,
           ROUND(CAST((SELECT COUNT(*) FROM scored s
                       WHERE s.fold = 1 AND s.source = t.source
                         AND s.wsum >= t.tau) AS DOUBLE) / e.n_eval, 6)
             AS coverage
    FROM tau t JOIN ev e ON t.source = e.source
    ORDER BY t.source
    """


@register("x353_conformal_coverage", oracle=_X353_SQL)
def x353_conformal_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal coverage audit of the x98 scorer on the
    English class — the distribution-free guarantee check a
    filtering pipeline runs before trusting a classifier threshold:
    English docs split into calibration/eval folds by the md5 hash
    split (x41's idiom); per source, the threshold tau is the exact
    k-th-smallest calibration logit with k = ceil((n_cal+1)/10)
    (alpha = 0.1), and the eval fold's share of logits >= tau is the
    realized coverage, which exchangeability pins near 0.9. A source
    whose coverage craters flags distribution shift between folds —
    the conformal form of x112's KS drift gate.

    Exact integer logits and rank selection; one final division.

    Scale: per-doc logits are one uniform doc_id-keyed agg; the
    calibration rank and the eval probe share one (source) exchange;
    tau is a per-source scalar joined back broadcast-style. No
    stage exceeds the token-explode width.
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("lang") == "en"
    )
    tok = docs.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("t")
    )
    weight = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("w:"), F.col("t")).cast("binary")), 1, 15
            ),
            16, 10,
        ).cast("bigint")
        % _X98_WSPAN
        - 500
    )
    fold = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("s:"), F.col("doc_id").cast("string")
                    ).cast("binary")
                ),
                1, 15,
            ),
            16, 10,
        ).cast("bigint")
        % 2
    )
    scored = (
        tok.select("doc_id", "source", weight.alias("w"))
        .groupBy("doc_id", "source")
        .agg(F.sum("w").alias("wsum"))
        .select("doc_id", "source", "wsum", fold.alias("fold"))
    )
    cal = scored.where(F.col("fold") == 0).select(
        "source", "wsum",
        F.row_number()
        .over(Window.partitionBy("source").orderBy("wsum", "doc_id"))
        .alias("rn"),
        F.count("*").over(Window.partitionBy("source")).alias("n_cal"),
    )
    tau = cal.where(
        F.col("rn") == F.expr("div(n_cal + 10, 10)")
    ).select(
        "source",
        F.col("n_cal").cast("bigint").alias("n_cal"),
        F.col("wsum").cast("bigint").alias("tau"),
    )
    ev = scored.where(F.col("fold") == 1)
    return (
        ev.join(F.broadcast(tau), "source")
        .groupBy("source", "n_cal", "tau")
        .agg(
            F.count("*").cast("bigint").alias("n_eval"),
            F.sum(
                F.when(F.col("wsum") >= F.col("tau"), 1).otherwise(0)
            ).alias("n_cov"),
        )
        .select(
            "source", "n_cal", "n_eval", "tau",
            F.round(
                F.col("n_cov").cast("double") / F.col("n_eval"), 6
            ).alias("coverage"),
        )
        .orderBy("source")
    )


# ---- x355: expected calibration error of the rank-normalized scorer ----

_X355_SQL = f"""
    WITH tok AS (
      SELECT doc_id, source, lang, UNNEST(STRING_SPLIT(text, ' ')) AS t
      FROM documents),
    scored AS (
      SELECT doc_id, source, lang,
             SUM(CAST(('0x' || SUBSTR(MD5('w:' || t), 1, 15)) AS BIGINT)
                 % {_X98_WSPAN} - 500) AS wsum
      FROM tok GROUP BY doc_id, source, lang),
    binned AS (
      SELECT source,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_pos,
             ((ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY wsum, doc_id) - 1) * 10)
               // COUNT(*) OVER (PARTITION BY source) AS bin
      FROM scored),
    perbin AS (
      SELECT source, bin,
             CAST(COUNT(*) AS BIGINT) AS n_b,
             CAST(SUM(is_pos) AS BIGINT) AS pos_b
      FROM binned GROUP BY source, bin)
    SELECT source,
           CAST(SUM(n_b) AS BIGINT) AS n_docs,
           ROUND(CAST(SUM(ABS(20 * pos_b - n_b * (2 * bin + 1))) AS DOUBLE)
                 / (20 * SUM(n_b)), 6) AS ece
    FROM perbin
    GROUP BY source
    ORDER BY source
    """


@register("x355_calibration_error", oracle=_X355_SQL)
def x355_calibration_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected calibration error (ECE, Naeini AAAI'15) of the
    rank-normalized x98 scorer at the is-English task, per source —
    the audit that decides whether a filter score can be READ AS A
    PROBABILITY (for soft-weighting documents) or only as a ranking
    (x349's AUC). Docs are binned into 10 equal-count rank bins; a
    bin's implied confidence is its midpoint (2b+1)/20, its accuracy
    the positive share, and ECE = sum_b (n_b/N)|acc_b - conf_b|.
    The per-bin n_b cancels, so the whole statistic collapses to
    the INTEGER sum of |20*pos_b - n_b(2b+1)| over one final
    division by 20N — no float accumulates.

    Scale: one doc_id-keyed logit agg, one (source) exchange shared
    by the rank window and the bin rollup; 10 bins per source make
    the final agg skinny. Rank-equal-count binning is the
    production-standard reliability-diagram layout.
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "source", "lang",
        F.explode(F.split("text", " ")).alias("t"),
    )
    weight = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("w:"), F.col("t")).cast("binary")), 1, 15
            ),
            16, 10,
        ).cast("bigint")
        % _X98_WSPAN
        - 500
    )
    scored = (
        tok.select("doc_id", "source", "lang", weight.alias("w"))
        .groupBy("doc_id", "source", "lang")
        .agg(F.sum("w").alias("wsum"))
    )
    ws = Window.partitionBy("source")
    binned = scored.select(
        "source",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("is_pos"),
        (
            (
                F.row_number().over(ws.orderBy("wsum", "doc_id")) - 1
            ) * 10
        ).alias("rn10"),
        F.count("*").over(ws).alias("n_src"),
    ).select(
        "source", "is_pos", F.expr("div(rn10, n_src)").alias("bin")
    )
    perbin = binned.groupBy("source", "bin").agg(
        F.count("*").cast("bigint").alias("n_b"),
        F.sum("is_pos").cast("bigint").alias("pos_b"),
    )
    return (
        perbin.groupBy("source")
        .agg(
            F.sum("n_b").cast("bigint").alias("n_docs"),
            F.sum(
                F.abs(20 * F.col("pos_b") - F.col("n_b") * (2 * F.col("bin") + 1))
            ).alias("num"),
        )
        .select(
            "source", "n_docs",
            F.round(
                F.col("num").cast("double") / (20 * F.col("n_docs")), 6
            ).alias("ece"),
        )
        .orderBy("source")
    )
