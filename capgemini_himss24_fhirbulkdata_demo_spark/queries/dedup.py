"""Deduplication operators over ``documents`` (training-data pipeline
extensions; BASELINE.json north-star "dedup").

- exact dedup: hash-groupBy on a canonical fingerprint
- near-dup: MinHash + LSH banding (shingle → minhash → band →
  bucket-join → Jaccard verify)
- SimHash signatures (md5-derived bit votes)
- n-gram Jaccard within blocking buckets

All hashes derive from md5 so Spark and DuckDB compute identical
values (both engines' md5 of identical bytes agree); minhash is the
lexicographic MIN over hex digests — a valid uniform hash family
h_i(s) = md5(s + '#' + i).

Scale design: shingling/minhashing is a narrow per-row pass; the only
shuffles are the LSH band-bucket join (keyed by band hash — uniform
by construction, no skew) and the final pair dedup. This is the
standard 100 TB near-dup architecture (one pass to signatures, one
banded self-join); brute-force all-pairs appears only inside buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register

_N_HASHES = 8
_BAND_SIZE = 2
_N_BANDS = _N_HASHES // _BAND_SIZE
_JACCARD_MIN = 0.3
# Estimate gate: candidates must agree on >= this many of the 8
# minhashes (banding alone guarantees 2) before the exact-Jaccard
# join. E[agreement | banded] = 2 + 6*jaccard, so 4 targets j >~ 1/3;
# it prunes ~97% of band collisions on the fixtures at zero observed
# recall loss (all true pairs there agree on >= 5). The standard
# LSH estimate-then-verify dial, mirrored identically in the oracle.
_AGREE_MIN = 4


# ---------------------------------------------------------------- exact

@register(
    "x01_dedup_exact",
    oracle="""
    WITH fp AS (
      SELECT doc_id, source,
             MD5(LOWER(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))) AS fp_full,
             MD5(ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[1:8], ' ')) AS fp_head8
      FROM documents)
    SELECT fp_head8,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS canonical_doc,
           ARRAY_TO_STRING(LIST_SORT(LIST(doc_id)), ',') AS member_docs
    FROM fp
    GROUP BY fp_head8
    HAVING COUNT(*) > 1
    ORDER BY fp_head8
    """,
)
def x01_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash-groupBy: fingerprint the canonicalized
    text (and a head-8-token prefix, which does collide in the
    fixtures) and emit duplicate groups with a deterministic
    canonical representative (min doc_id).

    Scale: one shuffle on the 16-byte fingerprint; group sizes are
    bounded (dup cardinality), no skew concern.
    """
    docs = load_table(spark, sf_dir, "documents")
    head8 = F.array_join(F.slice(F.split("text", " "), 1, 8), " ")
    return (
        docs.select("doc_id", F.md5(head8.cast("binary")).alias("fp_head8"))
        .groupBy("fp_head8")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("canonical_doc"),
            # arrays surface as ','-joined strings: the driver harness
            # hashes cells through pandas, which can't hash list cells
            F.array_join(
                F.sort_array(F.collect_list("doc_id")).cast("array<string>"), ","
            ).alias("member_docs"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy("fp_head8")
    )


# ------------------------------------------------------------- minhash

def _sql_shingles() -> str:
    """DuckDB: distinct word-2-gram shingles of ``text``."""
    return (
        "LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(STRING_SPLIT(text, ' '))), "
        "i -> STRING_SPLIT(text, ' ')[i] || ' ' || STRING_SPLIT(text, ' ')[i+1]))"
    )


def _spark_shingles():
    # single-token docs shingle to [] (sequence(1,0) would count DOWN);
    # token array lambda-bound so the interpreted HOF doesn't
    # re-tokenize per shingle position (functions.hof.bound)
    from ..functions.hof import bound

    return bound(
        F.split("text", " "),
        lambda toks: F.when(
            F.size(toks) >= 2,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - 1),
                    lambda i: F.concat_ws(
                        " ", F.element_at(toks, i), F.element_at(toks, i + 1)
                    ),
                )
            ),
        ).otherwise(F.array().cast("array<string>")),
    )


# Hash family: two md5 digests per shingle (d1 = md5(s), d2 =
# md5('#'+s)), each sliced into four 8-hex-char (32-bit) hashes →
# h0..h7. One quarter the digest work of 8 independent md5s with the
# same uniformity; both engines slice identical hex strings.


def _sql_digests() -> str:
    return (
        "LIST_TRANSFORM(sh, s -> MD5(s)) AS d1, "
        "LIST_TRANSFORM(sh, s -> MD5('#' || s)) AS d2"
    )


def _sql_minhash(i: int) -> str:
    src = "d1" if i < 4 else "d2"
    off = 1 + 8 * (i % 4)
    return f"LIST_MIN(LIST_TRANSFORM({src}, x -> SUBSTR(x, {off}, 8)))"


def _spark_digests():
    return [
        F.transform(F.col("sh"), lambda s: F.md5(s.cast("binary"))).alias("d1"),
        F.transform(
            F.col("sh"), lambda s: F.md5(F.concat(F.lit("#"), s).cast("binary"))
        ).alias("d2"),
    ]


def _spark_minhash(i: int):
    src = "d1" if i < 4 else "d2"
    off = 1 + 8 * (i % 4)
    return F.array_min(
        F.transform(F.col(src), lambda x: F.substring(x, off, 8))
    )


_SQL_BANDS = ", ".join(
    f"h{2 * b} || h{2 * b + 1} AS band{b}" for b in range(_N_BANDS)
)
_SQL_HASHES = ", ".join(f"{_sql_minhash(i)} AS h{i}" for i in range(_N_HASHES))
_SQL_BAND_UNION = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_idx, band{b} AS band_val FROM banded"
    for b in range(_N_BANDS)
)

# CTE chain shared by x02 (pairs) and x07 (components over pairs)
_X02_CTES = f"""sh AS (
      SELECT doc_id, {_sql_shingles()} AS sh FROM documents),
    dg AS (
      SELECT doc_id, sh, {_sql_digests()} FROM sh),
    sigs AS (
      SELECT doc_id, {_SQL_HASHES} FROM dg),
    banded AS (
      SELECT doc_id, {_SQL_BANDS} FROM sigs),
    bands AS ({_SQL_BAND_UNION}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id),
    gated AS (
      SELECT doc_a, doc_b
      FROM cand JOIN sigs sa2 ON sa2.doc_id = doc_a
                JOIN sigs sb2 ON sb2.doc_id = doc_b
      WHERE (CASE WHEN sa2.h0 = sb2.h0 THEN 1 ELSE 0 END) + (CASE WHEN sa2.h1 = sb2.h1 THEN 1 ELSE 0 END) + (CASE WHEN sa2.h2 = sb2.h2 THEN 1 ELSE 0 END) + (CASE WHEN sa2.h3 = sb2.h3 THEN 1 ELSE 0 END) + (CASE WHEN sa2.h4 = sb2.h4 THEN 1 ELSE 0 END) + (CASE WHEN sa2.h5 = sb2.h5 THEN 1 ELSE 0 END) + (CASE WHEN sa2.h6 = sb2.h6 THEN 1 ELSE 0 END) + (CASE WHEN sa2.h7 = sb2.h7 THEN 1 ELSE 0 END) >= {_AGREE_MIN}),
    scored AS (
      SELECT doc_a, doc_b,
             ROUND(CAST(LEN(LIST_INTERSECT(sa.sh, sb.sh)) AS DOUBLE)
                   / (LEN(sa.sh) + LEN(sb.sh)
                      - LEN(LIST_INTERSECT(sa.sh, sb.sh))), 4) AS jaccard
      FROM gated JOIN sh sa ON sa.doc_id = doc_a
                 JOIN sh sb ON sb.doc_id = doc_b),
    pairs AS (
      SELECT doc_a, doc_b, jaccard FROM scored
      WHERE jaccard >= {_JACCARD_MIN})"""

_X02_SQL = f"""
    WITH {_X02_CTES}
    SELECT doc_a, doc_b, jaccard
    FROM pairs
    ORDER BY doc_a, doc_b
    """


@register("x02_dedup_minhash", oracle=_X02_SQL)
def x02_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection: MinHash ({_N_HASHES} hashes) + LSH banding
    ({_N_BANDS} bands × {_BAND_SIZE}) + exact-Jaccard verification.

    Pipeline: shingle (word 2-grams, distinct) → minhash signature →
    band keys → self-join on band buckets → candidate pairs →
    Jaccard(shingles) ≥ threshold.

    Scale (r11 shape, guide §1.2/§2.3): ONE persisted narrow relation
    carries (doc_id, shingles, signature); candidates come from a
    single groupBy on the uniformly-distributed band keys with
    intra-bucket pair emission (one skinny exchange — the old
    two-sided self-join shuffled the band stream twice and recomputed
    the explode lineage per side), and the gate + verify read the
    persisted relation once per pair side (2 joins, was 4). The
    agree gate (>= _AGREE_MIN of _N_HASHES minhashes agreeing) sits
    FIRST in the fused filter so the exact-Jaccard intersect only
    evaluates on gate-passing rows, exactly as the old two-stage
    pipeline did. No broadcast hints anywhere: AQE broadcasts only a
    genuinely-small side, and at corpus scale these are ordinary
    shuffled hash joins keyed on doc_id. Bucket pair emission
    streams (posexplode + slice-explode) — per-row transient memory
    is one bucket's id array, never the s² pair set; the collect_set
    bucket buffer is the same s-bounded budget x92's gram fold
    already carries.

    Local-mode specifics: the documents fixture is one small parquet
    file (one input split), so the md5-heavy signature expansion is
    repartitioned across cores first — compute here is large relative
    to input bytes, the same reason this repartition is cheap at any
    scale. At 100 TB a real pipeline materializes the shingle and
    signature tables columnar between stages instead of persisting
    them in executor memory.
    """
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism * 2
    )
    d = (
        docs.select("doc_id", _spark_shingles().alias("sh"))
        .select("doc_id", "sh", *_spark_digests())
        .select(
            "doc_id",
            "sh",
            *[_spark_minhash(i).alias(f"h{i}") for i in range(_N_HASHES)],
        )
        .persist()
    )
    bands = d.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.concat(
                            F.col(f"h{2 * b}"), F.col(f"h{2 * b + 1}")
                        ).alias("band_val"),
                    )
                    for b in range(_N_BANDS)
                ]
            )
        ).alias("bv"),
    ).select("doc_id", "bv.band_idx", "bv.band_val")
    cand = (
        bands.groupBy("band_idx", "band_val")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
        .select("ids", F.posexplode("ids").alias("i", "doc_a"))
        .select(
            "doc_a",
            F.explode(
                F.slice("ids", F.col("i") + 2, F.size("ids"))
            ).alias("doc_b"),
        )
        .distinct()
    )
    da = d.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh").alias("sh_a"),
        *[F.col(f"h{i}").alias(f"ha{i}") for i in range(_N_HASHES)],
    )
    db = d.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh").alias("sh_b"),
        *[F.col(f"h{i}").alias(f"hb{i}") for i in range(_N_HASHES)],
    )
    agree = None
    for i in range(_N_HASHES):
        t = F.when(F.col(f"ha{i}") == F.col(f"hb{i}"), 1).otherwise(0)
        agree = t if agree is None else agree + t
    # |A∪B| = |A|+|B|−|A∩B|: one intersect per pair, no union alloc.
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    out = (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .filter(agree >= _AGREE_MIN)
        .select(
            "doc_a",
            "doc_b",
            F.round(
                inter.cast("double") / (F.size("sh_a") + F.size("sh_b") - inter),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= _JACCARD_MIN)
        .orderBy("doc_a", "doc_b")
    )
    # releasable by composing queries (x07) via release_cached_deps
    out._cached_deps = [d]
    return out



_SQL_AGREE = " + ".join(
    f"(CASE WHEN sa2.h{i} = sb2.h{i} THEN 1 ELSE 0 END)" for i in range(_N_HASHES)
)

_X08_SQL = f"""
    WITH {_X02_CTES},
    est AS (
      SELECT doc_a, doc_b,
             ROUND(CAST({_SQL_AGREE} AS DOUBLE) / {_N_HASHES}, 4) AS est_jaccard
      FROM cand JOIN sigs sa2 ON sa2.doc_id = doc_a
                JOIN sigs sb2 ON sb2.doc_id = doc_b),
    exct AS (
      SELECT doc_a, doc_b,
             ROUND(CAST(LEN(LIST_INTERSECT(sa.sh, sb.sh)) AS DOUBLE)
                   / (LEN(sa.sh) + LEN(sb.sh)
                      - LEN(LIST_INTERSECT(sa.sh, sb.sh))), 4) AS exact_jaccard
      FROM cand JOIN sh sa ON sa.doc_id = doc_a
                JOIN sh sb ON sb.doc_id = doc_b)
    SELECT e.doc_a, e.doc_b, e.est_jaccard, x.exact_jaccard,
           ROUND(ABS(e.est_jaccard - x.exact_jaccard), 4) AS abs_err
    FROM est e JOIN exct x ON e.doc_a = x.doc_a AND e.doc_b = x.doc_b
    ORDER BY e.doc_a, e.doc_b
    """


@register("x08_sketch_accuracy", oracle=_X08_SQL)
def x08_sketch_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality eval for the MinHash pipeline (the dedup-family
    twin of x13's ANN recall eval): for every UNGATED banded-LSH
    candidate pair, the signature-agreement Jaccard estimate
    (agreeing minhashes / {n}) next to the exact shingle Jaccard and
    the absolute error — the number that justifies the x02 gate
    threshold empirically.

    Determinism: the estimate is an exact small-int ratio (division
    by {n} is a power of two); the exact Jaccard is x02's
    intersection arithmetic; the error subtracts two already-ROUNDed
    doubles. Scale: identical shuffle shape to x02 minus the gate —
    band self-join on uniform keys, pair joins keyed on doc_id.
    """
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism * 2
    )
    sh = docs.select("doc_id", _spark_shingles().alias("sh")).persist()
    dg = sh.select("doc_id", "sh", *_spark_digests())
    sigs = dg.select(
        "doc_id", *[_spark_minhash(i).alias(f"h{i}") for i in range(_N_HASHES)]
    ).persist()
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.concat(
                            F.col(f"h{2 * b}"), F.col(f"h{2 * b + 1}")
                        ).alias("band_val"),
                    )
                    for b in range(_N_BANDS)
                ]
            )
        ).alias("bv"),
    ).select("doc_id", "bv.band_idx", "bv.band_val")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    g1 = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{i}").alias(f"ha{i}") for i in range(_N_HASHES)],
    )
    g2 = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{i}").alias(f"hb{i}") for i in range(_N_HASHES)],
    )
    agree = None
    for i in range(_N_HASHES):
        t = F.when(F.col(f"ha{i}") == F.col(f"hb{i}"), 1).otherwise(0)
        agree = t if agree is None else agree + t
    est = (
        cand.join(g1, "doc_a")
        .join(g2, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(agree.cast("double") / _N_HASHES, 4).alias("est_jaccard"),
        )
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    exact = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                inter.cast("double") / (F.size("sh_a") + F.size("sh_b") - inter), 4
            ).alias("exact_jaccard"),
        )
    )
    out = (
        est.join(exact, ["doc_a", "doc_b"])
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            "exact_jaccard",
            F.round(
                F.abs(F.col("est_jaccard") - F.col("exact_jaccard")), 4
            ).alias("abs_err"),
        )
        .orderBy("doc_a", "doc_b")
    )
    out._cached_deps = [sh, sigs]
    return out


x08_sketch_accuracy.__doc__ = x08_sketch_accuracy.__doc__.format(n=_N_HASHES)


# ------------------------------------------------------------- simhash

_SIM_BITS = 16


def _sql_tok_hash() -> str:
    # 15 hex chars → positive BIGINT (60 bits), enough for 16 vote bits.
    return "CAST(('0x' || SUBSTR(MD5(t), 1, 15)) AS BIGINT)"


_SQL_VOTES = ", ".join(
    f"CAST(SUM(((h >> {j}) & 1) * 2 - 1) AS BIGINT) AS v{j}" for j in range(_SIM_BITS)
)
_SQL_SIMHASH = " + ".join(
    f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(_SIM_BITS)
)

_X03_CORE = f"""tok AS (
      SELECT doc_id, UNNEST(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS t
      FROM documents),
    th AS (
      SELECT doc_id, {_sql_tok_hash()} AS h FROM tok),
    votes AS (
      SELECT doc_id, {_SQL_VOTES} FROM th GROUP BY doc_id),
    sims AS (
      SELECT doc_id, CAST({_SQL_SIMHASH} AS BIGINT) AS simhash FROM votes)"""

_X03_SQL = f"""
    WITH {_X03_CORE}
    SELECT doc_id, simhash FROM sims
    ORDER BY doc_id
    """


@register("x03_simhash", oracle=_X03_SQL)
def x03_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures ({_SIM_BITS}-bit): per distinct token an
    md5-derived integer votes ±1 on each bit position; the signature
    sets bits with positive vote sums. Near-dup pairs are then found
    by Hamming distance (bit_count(xor)) over banded prefixes — the
    signature computation is the oracle-checked part.

    Scale: explode(tokens) → one shuffle keyed by doc_id for the vote
    aggregate; partial aggregation (map-side combine over the 16 vote
    sums) keeps the shuffle tiny regardless of document length.
    """
    return _spark_simhash_df(spark, sf_dir).orderBy("doc_id")


def _spark_simhash_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash) — shared by x03 (signatures) and x05 (pairs)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("t")
    )
    h = F.conv(F.substring(F.md5(F.col("t").cast("binary")), 1, 15), 16, 10).cast(
        "bigint"
    )
    th = tok.select("doc_id", h.alias("h"))
    votes = th.groupBy("doc_id").agg(
        *[
            F.sum((F.shiftright("h", j).bitwiseAND(F.lit(1))) * 2 - 1)
            .cast("bigint")
            .alias(f"v{j}")
            for j in range(_SIM_BITS)
        ]
    )
    simhash = None
    for j in range(_SIM_BITS):
        term = F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    return votes.select("doc_id", simhash.cast("bigint").alias("simhash"))


# ------------------------------------------------------- ngram jaccard

_X04_SQL = """
    WITH g AS (
      SELECT doc_id, source, n_chars // 100 AS len_bucket,
             LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LENGTH(text) - 1),
                           i -> SUBSTRING(text, i, 3))) AS grams
      FROM documents),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             ROUND(CAST(LEN(LIST_INTERSECT(a.grams, b.grams)) AS DOUBLE)
                   / (LEN(a.grams) + LEN(b.grams)
                      - LEN(LIST_INTERSECT(a.grams, b.grams))), 4) AS jaccard3
      FROM g a JOIN g b
        ON a.source = b.source AND a.len_bucket = b.len_bucket
       AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, jaccard3
    FROM pairs
    WHERE jaccard3 >= 0.5
    ORDER BY doc_a, doc_b
    """


@register("x04_ngram_jaccard", oracle=_X04_SQL)
def x04_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-3-gram Jaccard near-dup within blocking buckets
    (source × length-bucket) — the classic blocked pairwise fallback
    when candidate sets are small enough to enumerate.

    Scale: blocking bounds the quadratic term to bucket sizes; the
    join shuffles on (source, len_bucket). For unbounded corpora the
    MinHash path (x02) replaces enumeration.
    """
    docs = load_table(spark, sf_dir, "documents")
    # short-text guard: sequence(1, len-2) counts DOWN for len < 3
    grams = F.when(
        F.length("text") >= 3,
        F.array_distinct(
            F.expr("transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))")
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = docs.select(
        "doc_id",
        "source",
        (F.col("n_chars") / F.lit(100)).cast("bigint").alias("len_bucket"),
        grams.alias("grams"),
    )
    a = g.select(
        F.col("doc_id").alias("doc_a"),
        F.col("source").alias("src_a"),
        F.col("len_bucket").alias("lb_a"),
        F.col("grams").alias("grams_a"),
    )
    b = g.select(
        F.col("doc_id").alias("doc_b"),
        F.col("source").alias("src_b"),
        F.col("len_bucket").alias("lb_b"),
        F.col("grams").alias("grams_b"),
    )
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    pairs = a.join(
        b,
        (F.col("src_a") == F.col("src_b"))
        & (F.col("lb_a") == F.col("lb_b"))
        & (F.col("doc_a") < F.col("doc_b")),
    ).select(
        "doc_a",
        "doc_b",
        F.round(
            inter.cast("double") / (F.size("grams_a") + F.size("grams_b") - inter),
            4,
        ).alias("jaccard3"),
    )
    return pairs.filter(F.col("jaccard3") >= 0.5).orderBy("doc_a", "doc_b")


# ------------------------------------------------------ simhash pairs

_HAMMING_MAX = 3
_SIM_BANDS = 4  # 4 nibbles of the 16-bit signature; pigeonhole: any
#                 pair within hamming distance 3 shares >= 1 nibble

_X05_SQL = f"""
    WITH {_X03_CORE},
    bands AS (
      SELECT doc_id, simhash, UNNEST(RANGE(4)) AS band_idx,
             UNNEST([(simhash >> 0) & 15, (simhash >> 4) & 15,
                     (simhash >> 8) & 15, (simhash >> 12) & 15]) AS nibble
      FROM sims),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.nibble = b.nibble
       AND a.doc_id < b.doc_id),
    verified AS (
      SELECT doc_a, doc_b,
             CAST(BIT_COUNT(XOR(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
      FROM cand JOIN sims sa ON sa.doc_id = doc_a
                JOIN sims sb ON sb.doc_id = doc_b)
    SELECT doc_a, doc_b, hamming
    FROM verified
    WHERE hamming <= {_HAMMING_MAX}
    ORDER BY doc_a, doc_b
    """


@register("x05_simhash_pairs", oracle=_X05_SQL)
def x05_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: nibble-banded candidates + exact
    Hamming verification (bit_count(xor) <= 3).

    Banding is exact by pigeonhole: 4 bands over a 16-bit signature
    guarantee every pair within distance 3 collides on >= 1 band —
    no recall loss, unlike probabilistic MinHash banding. The self-
    join shuffles on (band_idx, nibble).

    Scale boundary (measured, r9): 16 bits is the oracle-checkable
    DEMONSTRATOR, not the corpus form — random 16-bit signatures sit
    within Hamming 3 of each other with probability ~1.06%, so the
    pair OUTPUT itself is quadratic in corpus size regardless of
    implementation (a synthetic 4x-sf0.1 corpus, ~240k docs,
    exhausts an 8 GB / 4-core session). A corpus-scale form needs
    64-bit signatures (4 bands x 16 bits, collision probability
    ~2.3e-15): SCALE.md §"SimHash width boundary (r9)".
    """
    sims = _spark_simhash_df(spark, sf_dir).persist()
    bands = sims.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", 4 * b).bitwiseAND(F.lit(15))
                    for b in range(_SIM_BANDS)
                ]
            )
        ).alias("band_idx", "nibble"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.nibble") == F.col("b.nibble"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sims.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"))
    sb = sims.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"))
    out = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("bigint").alias(
                "hamming"
            ),
        )
        .filter(F.col("hamming") <= _HAMMING_MAX)
        .orderBy("doc_a", "doc_b")
    )
    out._cached_deps = [sims]
    return out


# ---------------------------------------------- components over pairs

_X07_SQL = f"""
    WITH RECURSIVE {_X02_CTES},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
    SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
    FROM reach GROUP BY a
    ORDER BY doc_id
    """


@register("x07_dedup_components", oracle=_X07_SQL)
def x07_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the x02 near-dup pair graph — the
    cluster-representative step real dedup runs after pair generation
    (keep MIN(doc_id) per component, drop the rest; one-pass pair
    dropping over-removes on transitive chains, see
    dataprep.remove_near_dups).

    Spark side: iterative min-label propagation
    (operators.dedup.connected_components) — one shuffle per round,
    lineage truncated via localCheckpoint, converges in
    graph-diameter rounds. Oracle side: DuckDB recursive-CTE
    transitive closure. An iterative distributed algorithm
    hash-matched against declarative recursion.
    """
    from ..operators.dedup import connected_components, release_cached_deps

    pairs = x02_dedup_minhash(spark, sf_dir)
    out = (
        connected_components(pairs, "doc_a", "doc_b")
        .select(F.col("v").alias("doc_id"), "component")
        .orderBy("doc_id")
    )
    release_cached_deps(pairs)
    return out


# ------------------------------------------- paragraph-level dedup

# Sub-document dedup (the C4 three-sentence / Dolma paragraph rule):
# chunk every document into fixed token windows, find chunks whose
# normalized text occurs in MORE THAN ONE document corpus-wide, and
# report each document's duplicated-chunk share — the per-doc gate a
# prep pipeline uses to drop boilerplate-heavy pages. Fixture text is
# whitespace-tokenized, so the window is a 10-token chunk.

_CHUNK_TOKENS = 10

_X18_SQL = f"""
    WITH toks AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
    chunks AS (
      SELECT doc_id, (r.i - 1) // {_CHUNK_TOKENS} AS chunk_idx,
             STRING_AGG(t[r.i], ' ' ORDER BY r.i) AS chunk
      FROM toks, UNNEST(RANGE(1, LEN(t) + 1)) AS r(i)
      GROUP BY doc_id, (r.i - 1) // {_CHUNK_TOKENS}),
    freq AS (
      SELECT chunk, COUNT(DISTINCT doc_id) AS n_docs
      FROM chunks GROUP BY chunk),
    flagged AS (
      SELECT c.doc_id, c.chunk_idx,
             CASE WHEN f.n_docs > 1 THEN 1 ELSE 0 END AS dup
      FROM chunks c JOIN freq f ON c.chunk = f.chunk)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(dup) AS BIGINT) AS n_dup_chunks,
           ROUND(CAST(SUM(dup) AS DOUBLE) / COUNT(*), 4) AS dup_share
    FROM flagged
    GROUP BY doc_id
    ORDER BY doc_id
    """


@register("x18_paragraph_dedup", oracle=_X18_SQL)
def x18_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (paragraph-level) dedup audit: {n}-token chunks,
    a chunk is duplicated when its text occurs in >1 document, each
    doc reports its duplicated-chunk share.

    Scale: chunking is a narrow map (slice + concat_ws — no
    per-token explode). r11 (guide §2.4): "occurs in >1 distinct
    doc" is exactly ``min(doc_id) ≠ max(doc_id)`` over a chunk
    window, so the old countDistinct aggregate + chunk-keyed flag
    join (which re-derived the chunk explode for each side and
    re-keyed the full stream) collapse into ONE window over a single
    chunk-keyed exchange — the x94/x19 pattern. The actual REMOVAL
    pipeline is this plus a filter on chunk dup flags before
    reassembly — the audit is the oracle-checkable core.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    n_chunks_expr = (F.size("t") + F.lit(_CHUNK_TOKENS - 1)) / F.lit(_CHUNK_TOKENS)
    chunks = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_chunks_expr.cast("int") - 1),
                lambda i: F.concat_ws(
                    " ", F.slice(F.col("t"), i * _CHUNK_TOKENS + 1, _CHUNK_TOKENS)
                ),
            )
        ).alias("chunk"),
    )
    w = Window.partitionBy("chunk")
    flagged = chunks.select(
        "doc_id",
        F.when(
            F.min("doc_id").over(w) != F.max("doc_id").over(w), 1
        ).otherwise(0).alias("dup"),
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_chunks"),
            F.sum("dup").cast("bigint").alias("n_dup_chunks"),
            F.round(
                F.sum("dup").cast("double") / F.count("*"), 4
            ).alias("dup_share"),
        )
        .orderBy("doc_id")
    )


x18_paragraph_dedup.__doc__ = x18_paragraph_dedup.__doc__.format(n=_CHUNK_TOKENS)


_X19_SQL = f"""
    WITH toks AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
    chunks AS (
      SELECT doc_id, (r.i - 1) // {_CHUNK_TOKENS} AS chunk_idx,
             STRING_AGG(t[r.i], ' ' ORDER BY r.i) AS chunk
      FROM toks, UNNEST(RANGE(1, LEN(t) + 1)) AS r(i)
      GROUP BY doc_id, (r.i - 1) // {_CHUNK_TOKENS}),
    freq AS (
      SELECT chunk, COUNT(DISTINCT doc_id) AS nd, MIN(doc_id) AS first_doc
      FROM chunks GROUP BY chunk),
    kept AS (
      SELECT c.doc_id, c.chunk_idx, c.chunk
      FROM chunks c JOIN freq f ON c.chunk = f.chunk
      WHERE f.nd < 2 OR c.doc_id = f.first_doc),
    rebuilt AS (
      SELECT doc_id, STRING_AGG(chunk, ' ' ORDER BY chunk_idx) AS clean
      FROM kept GROUP BY doc_id)
    SELECT doc_id,
           CAST(LENGTH(clean) AS BIGINT) AS clean_chars,
           CAST(LEN(STRING_SPLIT(clean, ' ')) AS BIGINT) AS clean_tokens,
           MD5(clean) AS clean_md5
    FROM rebuilt ORDER BY doc_id
    """


@register("x19_paragraph_removal", oracle=_X19_SQL)
def x19_paragraph_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document duplicate REMOVAL (x18 is the audit; this is the
    act): dataprep.remove_dup_paragraphs drops every cross-doc
    duplicated {n}-token chunk except its first-doc occurrence and
    reassembles documents from kept chunks in order. The query
    fingerprints each surviving doc (length, token count, md5 of the
    rebuilt text) so reassembly order and keep-first semantics are
    hash-checked against the declarative DuckDB twin.

    Scale: see remove_dup_paragraphs — chunk-keyed shuffles bounded
    by input size, one per-doc regroup for reassembly.
    """
    from ..dataprep import remove_dup_paragraphs

    docs = load_table(spark, sf_dir, "documents")
    clean = remove_dup_paragraphs(docs, "doc_id", "text", _CHUNK_TOKENS)
    return clean.select(
        "doc_id",
        F.length("text").cast("bigint").alias("clean_chars"),
        F.size(F.split("text", " ")).cast("bigint").alias("clean_tokens"),
        F.md5(F.col("text").cast("binary")).alias("clean_md5"),
    ).orderBy("doc_id")


x19_paragraph_removal.__doc__ = x19_paragraph_removal.__doc__.format(
    n=_CHUNK_TOKENS
)


_X17_SQL = f"""
    WITH toks AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
    chunks AS (
      SELECT doc_id, (r.i - 1) // {_CHUNK_TOKENS} AS chunk_idx,
             STRING_AGG(t[r.i], ' ' ORDER BY r.i) AS chunk
      FROM toks, UNNEST(RANGE(1, LEN(t) + 1)) AS r(i)
      GROUP BY doc_id, (r.i - 1) // {_CHUNK_TOKENS}),
    kept AS (
      SELECT doc_id, chunk, MIN(chunk_idx) AS chunk_idx
      FROM chunks GROUP BY doc_id, chunk),
    rebuilt AS (
      SELECT doc_id, STRING_AGG(chunk, ' ' ORDER BY chunk_idx) AS clean,
             COUNT(*) AS n_after
      FROM kept GROUP BY doc_id),
    before AS (
      SELECT doc_id, COUNT(*) AS n_before FROM chunks GROUP BY doc_id)
    SELECT b.doc_id,
           CAST(b.n_before AS BIGINT) AS n_chunks,
           CAST(r.n_after AS BIGINT) AS n_kept_chunks,
           MD5(r.clean) AS clean_md5
    FROM before b JOIN rebuilt r ON b.doc_id = r.doc_id
    ORDER BY b.doc_id
    """


@register("x17_repetition_removal", oracle=_X17_SQL)
def x17_repetition_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document repetition removal (the Gopher/C4 repeated-
    paragraph trim; x29 audits repetition, this removes it): a {n}-
    token chunk repeated inside the same document keeps only its
    first occurrence, and the doc reassembles from kept chunks in
    original order. Complements x19, which removes CROSS-document
    duplicates. Every doc retains >=1 chunk, so none drop out.

    Scale (r11, guide §2.4): the whole operation is WITHIN-document,
    so it needs no shuffle at all — the old shape exploded chunks
    twice and ran two chunk-grain exchanges plus a join, but
    keep-first-occurrence dedup over a doc's chunk array is exactly
    ``array_distinct`` (documented to preserve first-occurrence
    order), and reassembly is an ``array_join`` of that result. One
    narrow map; the corpus never crosses an exchange (only the
    doc-grain output sort does). Per-row transient memory is the
    token + chunk arrays — the same budget every chunking op here
    already carries.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    n_chunks_expr = (F.size("t") + F.lit(_CHUNK_TOKENS - 1)) / F.lit(_CHUNK_TOKENS)
    chunks = toks.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(0), n_chunks_expr.cast("int") - 1),
            lambda i: F.concat_ws(
                " ", F.slice(F.col("t"), i * _CHUNK_TOKENS + 1, _CHUNK_TOKENS)
            ),
        ).alias("chunks"),
    )
    kept = F.array_distinct("chunks")
    return (
        chunks.select(
            "doc_id",
            F.size("chunks").cast("bigint").alias("n_chunks"),
            F.size(kept).cast("bigint").alias("n_kept_chunks"),
            F.md5(F.array_join(kept, " ").cast("binary")).alias("clean_md5"),
        )
        .orderBy("doc_id")
    )


x17_repetition_removal.__doc__ = x17_repetition_removal.__doc__.format(
    n=_CHUNK_TOKENS
)


_X56_SQL = f"""
    WITH RECURSIVE {_X02_CTES},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
    comp AS (
      SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
      FROM reach GROUP BY a),
    sizes AS (SELECT component, COUNT(*) AS csize FROM comp GROUP BY component),
    prof AS (SELECT csize, COUNT(*) AS n_clusters FROM sizes GROUP BY csize),
    singles AS (
      SELECT 1 AS csize,
             (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM comp)
               AS n_clusters)
    SELECT csize AS cluster_size,
           CAST(SUM(n_clusters) AS BIGINT) AS n_clusters,
           CAST(SUM(csize * n_clusters) AS BIGINT) AS n_docs
    FROM (SELECT * FROM prof UNION ALL SELECT * FROM singles)
    GROUP BY csize ORDER BY csize
    """


@register("x56_dup_cluster_profile", oracle=_X56_SQL)
def x56_dup_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size distribution: connected components over
    the x02 pair graph, bucketed by component size, with docs in no
    pair counted as size-1 clusters — the dedup-health diagnostic a
    prep pipeline watches (a fat tail of giant clusters means
    boilerplate or template spam; the expected removal rate is
    sum(csize - 1 clusters) / corpus).

    Scale: the component step inherits x02/x07's bounded shapes; the
    profile itself is two skinny aggregates over (component) then
    (csize) — rows bounded by cluster count — plus two 1-row counts
    combined via a broadcast-size cross join.
    """
    from ..operators.dedup import connected_components, release_cached_deps

    docs = load_table(spark, sf_dir, "documents")
    pairs = x02_dedup_minhash(spark, sf_dir)
    comp = connected_components(pairs, "doc_a", "doc_b")
    sizes = comp.groupBy("component").agg(F.count("*").alias("csize"))
    prof = sizes.groupBy("csize").agg(F.count("*").alias("n_clusters"))
    singles = (
        docs.agg(F.count("*").alias("__total"))
        .crossJoin(comp.agg(F.count("*").alias("__in_comp")))
        .select(
            F.lit(1).alias("csize"),
            (F.col("__total") - F.col("__in_comp")).alias("n_clusters"),
        )
    )
    out = (
        prof.unionByName(singles)
        .groupBy("csize")
        .agg(
            F.sum("n_clusters").cast("bigint").alias("n_clusters"),
            F.sum(F.col("csize") * F.col("n_clusters")).cast("bigint").alias("n_docs"),
        )
        .select(F.col("csize").alias("cluster_size"), "n_clusters", "n_docs")
        .orderBy("cluster_size")
    )
    release_cached_deps(pairs)
    return out


_X58_SQL = f"""
    WITH {_X02_CTES},
    contain AS (
      SELECT doc_a, doc_b,
             LEN(LIST_INTERSECT(sa.sh, sb.sh)) AS n_inter,
             ROUND(CAST(LEN(LIST_INTERSECT(sa.sh, sb.sh)) AS DOUBLE)
                   / LEAST(LEN(sa.sh), LEN(sb.sh)), 4) AS containment
      FROM cand JOIN sh sa ON sa.doc_id = doc_a
                JOIN sh sb ON sb.doc_id = doc_b
      WHERE LEAST(LEN(sa.sh), LEN(sb.sh)) > 0)
    SELECT doc_a, doc_b,
           CAST(n_inter AS BIGINT) AS n_shared_shingles,
           containment
    FROM contain
    WHERE containment >= 0.5
    ORDER BY doc_a, doc_b
    """


@register("x58_containment_pairs", oracle=_X58_SQL)
def x58_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-CONTAINMENT pairs: |A∩B| / min(|A|, |B|) over the
    banded-LSH candidates — catches the asymmetric near-dups Jaccard
    misses (a short doc embedded verbatim in a much longer one scores
    low Jaccard but containment ~1; the quote-inclusion / page-
    boilerplate case). Candidate recall is the minhash banding's
    (Jaccard-biased — a true containment index bands the smaller
    side's hashes); containment re-scores those candidates.

    Scale: identical shuffle shape to x02/x08 — skinny band self-join
    on uniform keys, shingle joins keyed on doc_id; the min in the
    denominator is per-row arithmetic. Nothing new shuffles.
    """
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism * 2
    )
    sh = docs.select("doc_id", _spark_shingles().alias("sh")).persist()
    dg = sh.select("doc_id", "sh", *_spark_digests())
    sigs = dg.select(
        "doc_id", *[_spark_minhash(i).alias(f"h{i}") for i in range(_N_HASHES)]
    )
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.concat(
                            F.col(f"h{2 * b}"), F.col(f"h{2 * b + 1}")
                        ).alias("band_val"),
                    )
                    for b in range(_N_BANDS)
                ]
            )
        ).alias("bv"),
    ).select("doc_id", "bv.band_idx", "bv.band_val")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    nmin = F.least(F.size("sh_a"), F.size("sh_b"))
    out = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(nmin > 0)
        .select(
            "doc_a",
            "doc_b",
            inter.cast("bigint").alias("n_shared_shingles"),
            F.round(inter.cast("double") / nmin, 4).alias("containment"),
        )
        .filter(F.col("containment") >= 0.5)
        .orderBy("doc_a", "doc_b")
    )
    out._cached_deps = [sh]
    return out


# ---- x66: incremental batch-vs-corpus dedup (the ingest-time form) ----

# Deterministic ~75/25 split: first md5 hex digit of the doc key in
# 0..b = already-ingested corpus, c..f = the arriving batch. Same
# portable gate family as x24's sampling.
_X66_GATE = "SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 1) BETWEEN 'c' AND 'f'"

_X66_SQL = f"""
    WITH corpus AS (
      SELECT DISTINCT MD5(text) AS fp FROM documents
      WHERE NOT ({_X66_GATE})),
    batch AS (
      SELECT doc_id, MD5(text) AS fp FROM documents
      WHERE {_X66_GATE}),
    flagged AS (
      SELECT b.doc_id, b.fp,
             CASE WHEN c.fp IS NOT NULL THEN 1 ELSE 0 END AS in_corpus,
             CASE WHEN b.doc_id = MIN(b.doc_id) OVER (PARTITION BY b.fp)
                  THEN 1 ELSE 0 END AS first_in_batch
      FROM batch b LEFT JOIN corpus c ON b.fp = c.fp)
    SELECT doc_id, in_corpus, first_in_batch,
           CASE WHEN in_corpus = 0 AND first_in_batch = 1
                THEN 'keep' ELSE 'drop' END AS verdict
    FROM flagged
    ORDER BY doc_id
    """


@register("x66_incremental_dedup", oracle=_X66_SQL)
def x66_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (ingest-time) exact dedup: an arriving batch is
    checked against the already-ingested corpus' fingerprint set AND
    against itself (keep-first within the batch) — the production
    shape for continuous corpus growth, where re-running x01 over the
    full corpus per ingest would be quadratic over time. The 75/25
    corpus/batch split is a deterministic md5 gate on the doc key.

    Scale: one uniform-key (fingerprint) left join bounded by batch
    size — the corpus side prunes to its fingerprint column (skinny
    scan) and at 100 TB lives as a bucketed/Z-ordered fingerprint
    table so the join co-locates without reshuffling the corpus; the
    within-batch keep-first window shuffles only the batch. Nothing
    ever touches corpus text.
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    gate = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).between(
        "c", "f"
    )
    fp = F.md5(F.col("text").cast("binary")).alias("fp")
    corpus = docs.filter(~gate).select(fp).distinct()
    batch = docs.filter(gate).select("doc_id", fp)
    flagged = (
        batch.join(
            corpus.withColumn("__hit", F.lit(1)), "fp", "left"
        )
        .select(
            "doc_id",
            "fp",
            F.when(F.col("__hit").isNotNull(), 1).otherwise(0).alias("in_corpus"),
            F.when(
                F.col("doc_id")
                == F.min("doc_id").over(Window.partitionBy("fp")),
                1,
            )
            .otherwise(0)
            .alias("first_in_batch"),
        )
    )
    return (
        flagged.select(
            "doc_id",
            "in_corpus",
            "first_in_batch",
            F.when(
                (F.col("in_corpus") == 0) & (F.col("first_in_batch") == 1),
                "keep",
            )
            .otherwise("drop")
            .alias("verdict"),
        )
        .orderBy("doc_id")
    )


# ---- x70: cross-source duplicate-overlap matrix ----

_X70_SQL = """
    WITH fp AS (
      SELECT DISTINCT source, MD5(text) AS fp FROM documents)
    SELECT a.source AS source_a, b.source AS source_b,
           COUNT(*) AS n_shared
    FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
    GROUP BY source_a, source_b
    ORDER BY source_a, source_b
    """


@register("x70_source_overlap", oracle=_X70_SQL)
def x70_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplicate-overlap matrix: for every source pair,
    how many distinct fingerprints both carry — the provenance
    diagnostic behind dedup-priority and mixing decisions (e.g. a
    web-scrape source that is 40% contained in another is mostly
    re-crawl, and x43's recipe should know).

    Scale: fingerprints dedup per source first (one uniform-key
    partial-agg shuffle), then self-join on the fingerprint key —
    candidate sets are per-fingerprint (sources sharing that text),
    so the join emits O(shared-pairs), never sources² × corpus. The
    output matrix is at most |sources|² rows — driver-safe.
    """
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "source", F.md5(F.col("text").cast("binary")).alias("fp")
    ).distinct()
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("n_shared"))
        .orderBy("source_a", "source_b")
    )


# ---- x72: end-to-end near-dup removal retention (pairs → CC → keep-min) ----

_X72_SQL = f"""
    WITH RECURSIVE {_X02_CTES},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
    comp AS (
      SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
      FROM reach GROUP BY a),
    removed AS (
      SELECT doc_id FROM comp WHERE doc_id <> component)
    SELECT d.source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_removed,
           CAST(COUNT(*) - SUM(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           ROUND(CAST(COUNT(*) - SUM(CASE WHEN r.doc_id IS NOT NULL
                                          THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 4) AS retention
    FROM documents d LEFT JOIN removed r ON d.doc_id = r.doc_id
    GROUP BY d.source
    ORDER BY d.source
    """


@register("x72_dedup_retention", oracle=_X72_SQL)
def x72_dedup_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full near-dup pipeline end to end, as one driver-checked
    number per source: MinHash-LSH pairs (x02) → connected components
    (x07's iterative min-label propagation) → keep MIN(doc_id) per
    component → per-source removal counts and retention rate. This is
    the report a corpus-prep run actually publishes — and the whole
    chain (banding, gating, exact-Jaccard verify, transitive closure,
    keep-min, per-source rollup) is hash-matched against a single
    declarative recursive-CTE DuckDB twin.

    Scale: every stage inherits its own budget (x02's skinny band
    shuffle, x07's per-round label shuffle with localCheckpoint); the
    removed set joins back as a (doc_id)-keyed anti-side bounded by
    the duplicate count, and the rollup is one partial-agg shuffle on
    source.
    """
    from ..operators.dedup import connected_components, release_cached_deps

    docs = load_table(spark, sf_dir, "documents")
    pairs = x02_dedup_minhash(spark, sf_dir)
    comps = connected_components(pairs, "doc_a", "doc_b")
    removed = comps.filter(F.col("v") != F.col("component")).select(
        F.col("v").alias("doc_id"), F.lit(1).alias("__rm")
    )
    out = (
        docs.join(removed, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.coalesce(F.col("__rm"), F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
        )
        .select(
            "source",
            "n_docs",
            "n_removed",
            (F.col("n_docs") - F.col("n_removed")).cast("bigint").alias("n_kept"),
            F.round(
                (F.col("n_docs") - F.col("n_removed")).cast("double")
                / F.col("n_docs"),
                4,
            ).alias("retention"),
        )
        .orderBy("source")
    )
    release_cached_deps(pairs)
    return out


# ---- x76: fuzzy (near-dup) train/eval decontamination ----

# Same deterministic 75/25 split gate as x66: md5 first hex digit
# c..f = eval, else train.
_X76_SQL = f"""
    WITH {_X02_CTES},
    split AS (
      SELECT doc_id, source,
             CASE WHEN SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 1)
                       BETWEEN 'c' AND 'f'
                  THEN 'eval' ELSE 'train' END AS part
      FROM documents),
    cross_hits AS (
      SELECT DISTINCT CASE WHEN sa.part = 'eval' THEN p.doc_a
                           ELSE p.doc_b END AS eval_doc
      FROM pairs p
        JOIN split sa ON sa.doc_id = p.doc_a
        JOIN split sb ON sb.doc_id = p.doc_b
      WHERE sa.part <> sb.part)
    SELECT s.source,
           COUNT(*) AS n_eval,
           CAST(SUM(CASE WHEN c.eval_doc IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contaminated,
           ROUND(CAST(SUM(CASE WHEN c.eval_doc IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 4) AS contamination_rate
    FROM split s LEFT JOIN cross_hits c ON s.doc_id = c.eval_doc
    WHERE s.part = 'eval'
    GROUP BY s.source
    ORDER BY s.source
    """


@register("x76_fuzzy_decontamination", oracle=_X76_SQL)
def x76_fuzzy_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy train/eval decontamination: an eval document is
    contaminated when it has a MinHash-LSH near-dup (x02's full
    pipeline: banding + agree gate + exact-Jaccard verify) on the
    *other* side of the split — the near-dup complement of x42's
    exact 8-gram scan, which is what leaderboard decontamination
    actually requires (benchmark text rarely survives scraping
    byte-identical). Reported per source as eval counts and
    contamination rate.

    Scale: inherits x02's budget (skinny band shuffle, candidate-
    bounded verify); the split classification is a narrow map joined
    onto the pair list by doc_id, and the rollup shuffles only eval
    rows on source.
    """
    docs = load_table(spark, sf_dir, "documents")
    split = docs.select(
        "doc_id",
        "source",
        F.when(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).between(
                "c", "f"
            ),
            "eval",
        )
        .otherwise("train")
        .alias("part"),
    )
    pairs = x02_dedup_minhash(spark, sf_dir)
    sa = split.select(F.col("doc_id").alias("doc_a"), F.col("part").alias("pa"))
    sb = split.select(F.col("doc_id").alias("doc_b"), F.col("part").alias("pb"))
    cross_hits = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("pa") != F.col("pb"))
        .select(
            F.when(F.col("pa") == "eval", F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("eval_doc")
        )
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    out = (
        split.filter(F.col("part") == "eval")
        .join(cross_hits, split.doc_id == cross_hits.eval_doc, "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_eval"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_contaminated"),
        )
        .select(
            "source",
            "n_eval",
            "n_contaminated",
            F.round(
                F.col("n_contaminated").cast("double") / F.col("n_eval"), 4
            ).alias("contamination_rate"),
        )
        .orderBy("source")
    )
    out._cached_deps = getattr(pairs, "_cached_deps", [])
    return out


# ---- x109: dedup-classifier PR curve (threshold sweep over x08) ----

_X109_TRUTH = 0.5  # exact-Jaccard truth cut for "is a near-dup"
_X109_THRESHOLDS = (0.3, 0.5, 0.7, 0.9)

_X109_SQL = f"""
    WITH thr(t) AS (VALUES {", ".join(f"({t})" for t in _X109_THRESHOLDS)}),
    base AS ({_X08_SQL}),
    cells AS (
      SELECT thr.t,
             SUM(CASE WHEN b.est_jaccard >= thr.t
                       AND b.exact_jaccard >= {_X109_TRUTH}
                      THEN 1 ELSE 0 END) AS tp,
             SUM(CASE WHEN b.est_jaccard >= thr.t
                       AND b.exact_jaccard < {_X109_TRUTH}
                      THEN 1 ELSE 0 END) AS fp,
             SUM(CASE WHEN b.est_jaccard < thr.t
                       AND b.exact_jaccard >= {_X109_TRUTH}
                      THEN 1 ELSE 0 END) AS fn
      FROM base b CROSS JOIN thr
      GROUP BY thr.t)
    SELECT t AS threshold,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn,
           ROUND(CASE WHEN tp + fp > 0
                      THEN CAST(tp AS DOUBLE) / (tp + fp) END, 6)
             AS precision_,
           ROUND(CASE WHEN tp + fn > 0
                      THEN CAST(tp AS DOUBLE) / (tp + fn) END, 6)
             AS recall_
    FROM cells
    ORDER BY threshold
    """


@register("x109_dedup_pr_curve", oracle=_X109_SQL)
def x109_dedup_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating-point sweep for the MinHash dedup classifier: over
    x08's candidate pairs (estimate vs exact Jaccard, composed
    verbatim), precision and recall of "est ≥ t" against the exact
    truth cut ({tr}) at each candidate threshold — the curve that
    picks x02's production gate. Recall is within-candidate recall
    (pairs the bands never surface are x02's separate, pigeonhole-
    bounded loss — x13/x59 measure that axis for ANN).

    Determinism: counts are integers; both ratios are single guarded
    divisions (NULL when undefined). Scale: x08's shuffles + one
    |thresholds|-row broadcast sweep and a constant-size rollup.
    """
    pairs = x08_sketch_accuracy(spark, sf_dir).select(
        "est_jaccard", "exact_jaccard"
    )
    thr = spark.createDataFrame(
        [(t,) for t in _X109_THRESHOLDS], "t DOUBLE"
    )
    cells = (
        pairs.crossJoin(F.broadcast(thr))
        .groupBy("t")
        .agg(
            F.sum(
                F.when(
                    (F.col("est_jaccard") >= F.col("t"))
                    & (F.col("exact_jaccard") >= _X109_TRUTH),
                    1,
                ).otherwise(0)
            ).alias("tp"),
            F.sum(
                F.when(
                    (F.col("est_jaccard") >= F.col("t"))
                    & (F.col("exact_jaccard") < _X109_TRUTH),
                    1,
                ).otherwise(0)
            ).alias("fp"),
            F.sum(
                F.when(
                    (F.col("est_jaccard") < F.col("t"))
                    & (F.col("exact_jaccard") >= _X109_TRUTH),
                    1,
                ).otherwise(0)
            ).alias("fn"),
        )
    )
    out = cells.select(
        F.col("t").alias("threshold"),
        F.col("tp").cast("bigint").alias("tp"),
        F.col("fp").cast("bigint").alias("fp"),
        F.col("fn").cast("bigint").alias("fn"),
        F.round(
            F.when(
                (F.col("tp") + F.col("fp")) > 0,
                F.col("tp").cast("double") / (F.col("tp") + F.col("fp")),
            ),
            6,
        ).alias("precision_"),
        F.round(
            F.when(
                (F.col("tp") + F.col("fn")) > 0,
                F.col("tp").cast("double") / (F.col("tp") + F.col("fn")),
            ),
            6,
        ).alias("recall_"),
    ).orderBy("threshold")
    out._cached_deps = getattr(pairs, "_cached_deps", [])
    return out


x109_dedup_pr_curve.__doc__ = x109_dedup_pr_curve.__doc__.format(
    tr=_X109_TRUTH
)


# ---- x115: sparse TF-IDF cosine pairs (rare-term blocked) ----

# The sparse-vector similarity join (Bayardo et al., WWW'07 family):
# candidate pairs come from an inverted-index join on SHARED TERMS,
# not from dense-vector buckets (x06/x11 are the dense siblings).
# The scale lever is the DF cap: Zipf-head terms contribute least to
# cosine but dominate join cost quadratically, so the index keeps
# only discriminative terms (2 <= df <= cap) and the cosine is taken
# in that pruned term space — the standard prefix/df-filter trade.
_X115_DF_CAP = 20
_X115_TOP = 20

# rational Robertson idf (x47's log-free trick): (N - df + 0.5) /
# (df + 0.5) — exact integer halves, ONE division per term.
# terms are 3-token shingles: the fixture unigram vocab is only 31
# types (min df 25 — nothing is rare), while the shingle space is
# ~20k types with a natural rare tail; real corpora would use
# unigrams or shingles interchangeably here, the plan is identical.
_X115_G = 3

_X115_SQL = f"""
    WITH toks AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS arr FROM documents),
    tok AS (
      SELECT doc_id,
             UNNEST(LIST_TRANSFORM(
               RANGE(1, GREATEST(LEN(arr) - {_X115_G - 1}, 0) + 1),
               i -> ARRAY_TO_STRING(arr[i:i + {_X115_G - 1}], ' ')))
               AS t
      FROM toks),
    tf AS (
      SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY doc_id, t),
    df AS (
      SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
    nn AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
    w AS (
      SELECT tf.doc_id, tf.t,
             tf.tf * (CAST(2 * (SELECT n FROM nn) - 2 * df.df + 1 AS DOUBLE)
                      / (2 * df.df + 1)) AS w
      FROM tf JOIN df ON tf.t = df.t
      WHERE df.df BETWEEN 2 AND {_X115_DF_CAP}),
    norms AS (
      SELECT doc_id,
             SQRT(LIST_REDUCE(LIST(w * w ORDER BY t), (x, y) -> x + y))
               AS norm
      FROM w GROUP BY doc_id),
    pair_num AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             LIST_REDUCE(LIST(a.w * b.w ORDER BY a.t), (x, y) -> x + y)
               AS num
      FROM w a JOIN w b ON a.t = b.t AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    scored AS (
      SELECT p.doc_a, p.doc_b,
             p.num / (na.norm * nb.norm) AS cos_raw
      FROM pair_num p
      JOIN norms na ON p.doc_a = na.doc_id
      JOIN norms nb ON p.doc_b = nb.doc_id),
    ranked AS (
      SELECT doc_a, doc_b, cos_raw,
             ROW_NUMBER() OVER (ORDER BY cos_raw DESC, doc_a, doc_b)
               AS rnk
      FROM scored)
    SELECT rnk, doc_a, doc_b, ROUND(cos_raw, 6) AS cosine
    FROM ranked WHERE rnk <= {_X115_TOP}
    ORDER BY rnk
    """


@register("x115_sparse_cosine_pairs", oracle=_X115_SQL)
def x115_sparse_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine similarity join (the inverted-index
    sibling of x06's dense-embedding pairs): documents become sparse
    TF·IDF vectors over DISCRIMINATIVE {g}-token shingle terms only
    (2 ≤ df ≤ {cap} —
    the Zipf head is pruned because frequent terms add join cost
    quadratically while contributing least to cosine), candidate
    pairs come from the term-keyed inverted-index join, and cosines
    are exact in the pruned term space. Top-{k} pairs surfaced.

    Determinism: idf is x47's rational Robertson form (integer
    halves, one division); every per-pair and per-doc sum folds in
    term order (collect → sort → sequential reduce) so the IEEE
    sequence matches the oracle's LIST_REDUCE exactly.

    Scale: tf and df are uniform-key partial aggs; the pair join is
    keyed on the term with per-term fan-out capped at df ≤ {cap} —
    candidate volume is Σ df² ≤ cap·Σ df, i.e. LINEAR in corpus
    tokens with a constant cap factor, never |docs|². The df cap is
    the knob that trades recall for cost at 100 TB.
    """
    from ..functions.hof import bound

    docs = load_table(spark, sf_dir, "documents")
    g = _X115_G
    # token array lambda-bound (functions.hof.bound): a captured split
    # re-tokenizes per gram position in the interpreted HOF
    tok = docs.select(
        "doc_id",
        F.explode(
            bound(
                F.split(F.col("text"), " "),
                lambda arr: F.transform(
                    F.when(
                        F.size(arr) >= g,
                        F.sequence(F.lit(1), F.size(arr) - (g - 1)),
                    ).otherwise(F.array().cast("array<int>")),
                    lambda i: F.concat_ws(" ", F.slice(arr, i, g)),
                ),
            )
        ).alias("t"),
    )
    tf = tok.groupBy("doc_id", "t").agg(F.count("*").alias("tf"))
    df = tf.groupBy("t").agg(F.count("*").alias("df"))
    n_docs = docs.select("doc_id").distinct().count()
    w = (
        tf.join(
            df.filter(
                (F.col("df") >= 2) & (F.col("df") <= _X115_DF_CAP)
            ),
            "t",
        )
        .select(
            "doc_id",
            "t",
            (
                F.col("tf")
                * (
                    (2 * n_docs - 2 * F.col("df") + 1).cast("double")
                    / (2 * F.col("df") + 1)
                )
            ).alias("w"),
        )
    )

    def _fold_sorted(pair_col):
        return F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(pair_col)),
                lambda s: s["v"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    norms = w.groupBy("doc_id").agg(
        F.sqrt(
            _fold_sorted(
                F.struct(F.col("t").alias("t"), (F.col("w") * F.col("w")).alias("v"))
            )
        ).alias("norm")
    )
    a = w.select(
        F.col("doc_id").alias("doc_a"), "t", F.col("w").alias("wa")
    )
    b = w.select(
        F.col("doc_id").alias("doc_b"), "t", F.col("w").alias("wb")
    )
    pair_num = (
        a.join(b, "t")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            _fold_sorted(
                F.struct(
                    F.col("t").alias("t"),
                    (F.col("wa") * F.col("wb")).alias("v"),
                )
            ).alias("num")
        )
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("norm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("norm").alias("nb"))
    scored = (
        pair_num.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("num") / (F.col("na") * F.col("nb"))).alias("cos_raw"),
        )
    )
    from pyspark.sql.window import Window

    wr = Window.orderBy(F.desc("cos_raw"), "doc_a", "doc_b")
    return (
        scored.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= _X115_TOP)
        .select("rnk", "doc_a", "doc_b", F.round("cos_raw", 6).alias("cosine"))
        .orderBy("rnk")
    )


x115_sparse_cosine_pairs.__doc__ = x115_sparse_cosine_pairs.__doc__.format(
    cap=_X115_DF_CAP, k=_X115_TOP, g=_X115_G
)


# ---- x117: duplicate-cluster size distribution ----

_X117_SQL = f"""
    WITH RECURSIVE {_X02_CTES},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
    comp AS (
      SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
      FROM reach GROUP BY a),
    sizes AS (
      SELECT component, COUNT(*) AS sz FROM comp GROUP BY component),
    tot AS (SELECT COUNT(*) AS n_clustered FROM comp)
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(COUNT(*) * sz AS BIGINT) AS n_docs,
           ROUND(CAST(COUNT(*) * sz AS DOUBLE)
                 / (SELECT n_clustered FROM tot), 6) AS doc_share
    FROM sizes
    GROUP BY sz
    ORDER BY cluster_size
    """


@register("x117_cluster_size_histogram", oracle=_X117_SQL)
def x117_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-family size distribution: x07's connected components
    (composed verbatim — iterative min-label propagation), rolled up
    to how many clusters exist at each size and what share of
    clustered documents they hold. The diagnostic that distinguishes
    a corpus of PAIRWISE near-dups (all size 2 — MinHash noise) from
    template farms (a few giant components — one keep-first delete
    per family recovers a big slice of the budget). Single final
    share division.

    Scale: everything after x07 is two skinny aggs (component → size
    → histogram); the histogram is bounded by the largest family, not
    the corpus.
    """
    comp = x07_dedup_components(spark, sf_dir)
    sizes = comp.groupBy("component").agg(F.count("*").alias("sz"))
    tot = sizes.agg(F.sum("sz").alias("n_clustered"))
    return (
        sizes.groupBy("sz")
        .agg(F.count("*").alias("n_clusters"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("sz").cast("bigint").alias("cluster_size"),
            F.col("n_clusters").cast("bigint").alias("n_clusters"),
            (F.col("n_clusters") * F.col("sz"))
            .cast("bigint")
            .alias("n_docs"),
            F.round(
                (F.col("n_clusters") * F.col("sz")).cast("double")
                / F.col("n_clustered"),
                6,
            ).alias("doc_share"),
        )
        .orderBy("cluster_size")
    )


# ---- x118: dedup-debt trend over ingestion order ----

_X118_BUCKET = 50  # docs per ingestion bucket


_X118_SQL = f"""
    WITH fp AS (
      SELECT doc_id, doc_id // {_X118_BUCKET} AS bucket, MD5(text) AS f
      FROM documents),
    first_seen AS (
      SELECT f, MIN(doc_id) AS first_id FROM fp GROUP BY f),
    flags AS (
      SELECT fp.bucket,
             CASE WHEN fp.doc_id > fs.first_id THEN 1 ELSE 0 END AS is_dup
      FROM fp JOIN first_seen fs ON fp.f = fs.f)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(is_dup) AS BIGINT) AS n_dups,
           ROUND(CAST(SUM(is_dup) AS DOUBLE) / COUNT(*), 6) AS dup_rate,
           ROUND(CAST(SUM(SUM(is_dup)) OVER (ORDER BY bucket) AS DOUBLE)
                 / SUM(COUNT(*)) OVER (ORDER BY bucket), 6)
             AS cum_dup_rate
    FROM flags
    GROUP BY bucket
    ORDER BY bucket
    """


@register("x118_dup_rate_trend", oracle=_X118_SQL)
def x118_dup_rate_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-debt trend: documents bucketed by ingestion order
    (doc_id DIV {b}), each doc flagged a duplicate when its exact
    text fingerprint was already seen at a smaller id — per-bucket
    and cumulative dup rates. A rising curve tells the pipeline its
    crawl frontier is collapsing into content it already has (time
    to re-seed) BEFORE a full dedup pass runs; x09 gives the
    per-source cut of the same debt, this gives the time axis.

    Scale: one fingerprint min-agg (uniform md5 key) + a same-key
    flag join + a bucket rollup; the cumulative window runs over the
    bucket-level table (corpus/{b} rows), not the corpus. Two final
    single-division rates per row.
    """
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        (F.col("doc_id") / _X118_BUCKET).cast("bigint").alias("bucket"),
        F.md5(F.col("text")).alias("f"),
    )
    first_seen = fp.groupBy("f").agg(F.min("doc_id").alias("first_id"))
    flags = fp.join(first_seen, "f").select(
        "bucket",
        F.when(F.col("doc_id") > F.col("first_id"), 1)
        .otherwise(0)
        .alias("is_dup"),
    )
    from pyspark.sql.window import Window

    per_bucket = flags.groupBy("bucket").agg(
        F.count("*").alias("n_docs"), F.sum("is_dup").alias("n_dups")
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_bucket.select(
        F.col("bucket").cast("bigint").alias("bucket"),
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_dups").cast("bigint").alias("n_dups"),
        F.round(
            F.col("n_dups").cast("double") / F.col("n_docs"), 6
        ).alias("dup_rate"),
        F.round(
            F.sum("n_dups").over(w).cast("double") / F.sum("n_docs").over(w),
            6,
        ).alias("cum_dup_rate"),
    ).orderBy("bucket")
