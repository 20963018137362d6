"""Training-data preparation pipeline (north-star composition).

Chains the extension operators into the standard LLM-corpus prep
flow, one narrow/bounded-shuffle stage each:

  quality gate → language filter → exact dedup → MinHash near-dup
  removal → (optional) embedding near-dup removal → (optional) token
  budget cut

Every stage is deterministic (first-wins keeps the smallest doc id)
and reports row counts via a single ``observe``-free count per stage
boundary (stats are part of the contract, as in any production prep
job).

The corpus columns are ``doc_id`` and ``text`` (``ID_COL``,
``TEXT_COL``), with ``lang`` for the language filter; embeddings are
``vec_id`` and ``embedding``.

Scale notes: stages 1–3 are scans + one fingerprint shuffle; stage 4
is the LSH banded self-join (operators/dedup.py); stage 5 is the
hyperplane-bucket join (operators/similarity.py); stage 6 is a
running-sum window over a deliberate single ordering key — the only
intentionally-global step, applied last when the corpus is already
reduced (budget cuts are inherently sequential; at 100 TB this runs
per-shard with budget split across shards).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .operators.dedup import dedup_first_wins, near_dup_pairs, release_cached_deps
from .operators.similarity import (
    cosine_dot,
    hyperplanes,
    lsh_bucket,
    probe_dim,
    vector_norm,
)

ID_COL = "doc_id"
TEXT_COL = "text"
# quality gate: whitespace-token count bounds and the least mean
# non-space characters per token
MIN_TOKENS = 5
MAX_TOKENS = 100_000
MIN_AVG_TOKEN_LEN = 2.0
# sign hyperplanes of the embedding-dedup LSH buckets (2^6 buckets)
EMBEDDING_LSH_PLANES = 6
SHARD_COMPRESSION = "zstd"


@dataclass
class PrepStats:
    stages: list[tuple[str, int]] = field(default_factory=list)
    _cached: list[DataFrame] = field(default_factory=list)

    def record(self, name: str, df: DataFrame) -> DataFrame:
        # persist at the stage boundary: the count action AND the next
        # stage both read this frame — without it every stage recomputes
        # the whole upstream chain (the LSH self-join several times over)
        out = df.persist()
        self.stages.append((name, out.count()))
        # the count() just materialized the stage, so the PREVIOUS
        # stage's cache and any operator intermediates riding this
        # frame (e.g. near_dup_pairs' shingles) are no longer read —
        # release them instead of pinning executor storage
        if self._cached:
            self._cached.pop().unpersist()
        release_cached_deps(df)
        self._cached.append(out)
        return out

    def release(self) -> None:
        """Unpersist the final stage frame (counts are already taken)."""
        while self._cached:
            self._cached.pop().unpersist()


def quality_gate(docs: DataFrame) -> DataFrame:
    """Keep docs of ``MIN_TOKENS``..``MAX_TOKENS`` whitespace tokens
    averaging at least ``MIN_AVG_TOKEN_LEN`` non-space characters."""
    toks = F.split(F.col(TEXT_COL), " ")
    n_tokens = F.size(toks)
    n_nonspace = F.length(F.replace(F.col(TEXT_COL), F.lit(" "), F.lit("")))
    return docs.filter(
        n_tokens.between(MIN_TOKENS, MAX_TOKENS)
        & (n_nonspace >= MIN_AVG_TOKEN_LEN * n_tokens)
    )


def language_filter(docs: DataFrame, langs: tuple[str, ...]) -> DataFrame:
    """Filter by the ``lang`` label."""
    return docs.filter(F.col("lang").isin(*langs))


def remove_near_dups(docs: DataFrame, min_jaccard: float = 0.8) -> DataFrame:
    """Drop near-duplicates, keeping one representative per group.

    One-pass keep-min: the larger id of every pair is dropped. Never
    under-removes, but can over-remove on transitive chains A~B~C
    with A!~C (C goes even though its only near-dup B is also gone) —
    the standard one-pass production tradeoff.

    The loser set is data-dependent and unbounded, so the anti-join is
    left to the planner (AQE broadcasts it when it is actually small).
    """
    pairs = near_dup_pairs(docs, ID_COL, TEXT_COL, min_jaccard=min_jaccard)
    losers = pairs.select(F.col("id_b").alias(ID_COL)).distinct()
    out = docs.join(losers, ID_COL, "left_anti")
    # thread the operator's persisted intermediates to the stage
    # boundary (PrepStats.record releases them after materializing)
    out._cached_deps = getattr(pairs, "_cached_deps", [])
    return out


def remove_embedding_dups(
    docs: DataFrame,
    embeddings: DataFrame,
    min_cosine: float = 0.95,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup removal via LSH sign buckets: pairs in
    the same bucket with cosine ≥ threshold lose their larger id.

    Only embeddings of *currently surviving* docs participate — a doc
    must not lose to a twin that upstream stages already removed (that
    would delete both copies of the content).
    """
    surviving = embeddings.join(
        docs.select(F.col(ID_COL).alias("vec_id")), "vec_id", "left_semi"
    )
    dim = dim if dim is not None else probe_dim(embeddings, "embedding")
    planes = hyperplanes(EMBEDDING_LSH_PLANES, dim)
    b = surviving.select(
        F.col("vec_id").alias("__id"),
        F.col("embedding").alias("__v"),
        lsh_bucket(F.col("embedding"), planes).alias("__b"),
        vector_norm(F.col("embedding")).alias("__n"),
    )
    a, c = b.alias("a"), b.alias("b")
    cos = cosine_dot(F.col("a.__v"), F.col("b.__v")) / (
        F.col("a.__n") * F.col("b.__n")
    )
    losers = (
        a.join(
            c,
            (F.col("a.__b") == F.col("b.__b"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .filter(cos >= min_cosine)
        .select(F.col("b.__id").alias(ID_COL))
        .distinct()
    )
    return docs.join(losers, ID_COL, "left_anti")


def remove_dup_paragraphs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 10,
) -> DataFrame:
    """Sub-document duplicate REMOVAL (the C4 three-sentence / Dolma
    paragraph rule; x18_paragraph_dedup is the audit twin of this
    operator): chunk each doc into ``chunk_tokens``-token windows,
    drop every occurrence of a chunk that appears in two or more
    documents EXCEPT the one in the smallest doc id (keep-first, so
    the content survives exactly once), and reassemble each doc from
    its kept chunks in order. Docs whose every chunk is removed drop
    out entirely.

    Scale: chunking is a narrow slice+concat_ws map (no per-token
    explode); reassembly is one groupBy(doc) with an in-group sort —
    all bounded by input + chunk count, never corpus². r11 (guide
    §2.3/§2.4), mirroring remove_dup_spans: "occurs in ≥2 distinct
    docs" is exactly ``min(id) ≠ max(id)``, so the frequency
    aggregate — whose mixed COUNT(DISTINCT)+MIN planned a 4-stage
    aggregate keyed on (chunk, doc) that carried every buffer per
    distinct pair through the exchange (Spark Expands only for ≥2
    distinct groups; mechanism corrected r12) — and the chunk-keyed
    keep-join collapse into ONE window over a single chunk-keyed
    exchange. Skew note (ADVICE r11): windows get no map-side partial
    aggregation and no AQE skew split, so a Zipf-hot chunk key lands
    on one partition at cluster scale where an aggregate would
    partial-reduce it map-side — if chunk-frequency skew is expected,
    salt the key; the window's win is measured at the fixtures'
    near-uniform chunk distribution.
    """
    toks = docs.select(F.col(id_col), F.split(F.col(text_col), " ").alias("__t"))
    n_chunks = (F.size("__t") + F.lit(chunk_tokens - 1)) / F.lit(chunk_tokens)
    chunks = toks.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_chunks.cast("int") - 1),
                lambda i: F.struct(
                    i.alias("chunk_idx"),
                    F.concat_ws(
                        " ", F.slice(F.col("__t"), i * chunk_tokens + 1, chunk_tokens)
                    ).alias("chunk"),
                ),
            )
        ).alias("c"),
    ).select(id_col, "c.chunk_idx", "c.chunk")
    w = Window.partitionBy("chunk")
    kept = (
        chunks.withColumn("__first", F.min(id_col).over(w))
        .withColumn("__last", F.max(id_col).over(w))
        .filter(
            (F.col("__first") == F.col("__last"))
            | (F.col(id_col) == F.col("__first"))
        )
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk"))),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("__clean")
    )
    return (
        docs.join(rebuilt, id_col)
        .withColumn(text_col, F.col("__clean"))
        .drop("__clean")
    )


def remove_dup_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 8,
) -> DataFrame:
    """ExactSubstr-style duplicate-span REMOVAL (Lee et al., ACL'22;
    x88_dup_spans is the audit twin): every ``span_tokens``-token
    SLIDING window (stride 1 — unlike remove_dup_paragraphs' disjoint
    chunks) whose text occurs in two or more distinct documents is
    removed from every document EXCEPT the smallest-id one carrying
    it (keep-first, content survives once); a token is dropped when
    ANY removed span occurrence covers it, and each document is
    reassembled from its surviving tokens in order. Docs losing every
    token drop out entirely.

    Scale: spans and their coverage explode by the constant factor
    ``span_tokens``; the frequency pass is one uniform-key partial
    agg on the span text (Zipf-skewed → AQE skew split); removal is
    per-doc set-subtraction on token POSITIONS (an array filter over
    each doc's removed-position set — never a token-grain shuffle);
    reassembly is in-place array_join. Every stage is ∝ corpus
    tokens × k, never corpus².

    r11 shape (guide §1.2/§2.4, before/after plans in plans/r11):
    the first cut exploded every token to a (doc, pos, tok) row,
    anti-joined against the coverage set and regrouped per doc — a
    token-grain shuffle of the corpus THREE times (tok build, anti
    join, regroup) on top of TWO span-generation passes (the
    frequency aggregate and the span⟷freq join each re-derived the
    span stream; no exchange reuse fires across those shapes —
    verified on the executed plan). Now (a) spans shuffle ONCE, as
    128-bit md5 fingerprints rather than gram text (~3× fewer
    shuffle bytes; the same collision budget x88/x02 already spend,
    ≈G²/2¹²⁹); (b) "occurs in ≥2 distinct docs" is exactly
    min(id)≠max(id) over a gram window — the self-join and its second
    span pass disappear (skew note, ADVICE r11: the window gets no
    map-side partials and no AQE skew split, so a Zipf-hot span
    fingerprint becomes one straggler partition at cluster scale —
    when gram-frequency skew is expected, salt the key); (c)
    coverage rows
    collapse straight to one removed-position set per doc
    (collect_set dedups — no separate distinct exchange); (d) tokens
    never leave their document: the rebuild is an order-preserving
    array filter of split(text) against the position set. Remaining
    data-sized shuffles: the fingerprint stream (×1) and the
    docs⟷sets join.
    """
    k = span_tokens
    toks = docs.select(F.col(id_col), F.split(F.col(text_col), " ").alias("__t"))
    n = F.size("__t")
    starts = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
        F.array().cast("array<int>")
    )
    spans = toks.select(
        id_col,
        F.explode(
            F.transform(
                starts,
                lambda i: F.struct(
                    i.alias("start"),
                    F.md5(
                        F.concat_ws(" ", F.slice(F.col("__t"), i, k)).cast(
                            "binary"
                        )
                    ).alias("gram"),
                ),
            )
        ).alias("s"),
    ).select(id_col, "s.start", "s.gram")
    wg = Window.partitionBy("gram")
    rm_rows = (
        spans.select(
            id_col,
            "start",
            F.min(id_col).over(wg).alias("__first"),
            F.max(id_col).over(wg).alias("__last"),
        )
        .filter(
            (F.col("__last") != F.col("__first"))
            & (F.col(id_col) != F.col("__first"))
        )
    )
    rmsets = (
        rm_rows.select(
            id_col,
            F.explode(
                F.sequence(F.col("start"), F.col("start") + (k - 1))
            ).alias("__pos"),
        )
        .groupBy(id_col)
        .agg(F.collect_set("__pos").alias("__rm"))
    )
    # left join + empty-set coalesce: docs with no removed span keep
    # every token (the old anti-join shape kept them implicitly);
    # docs losing every token drop out, as before
    rm = F.coalesce(F.col("__rm"), F.array().cast("array<int>"))
    kept = F.filter(
        F.split(F.col(text_col), " "),
        lambda tok, i: ~F.array_contains(rm, i + F.lit(1)),
    )
    return (
        docs.join(rmsets, id_col, "left")
        .withColumn("__kept", kept)
        .filter(F.size("__kept") > 0)
        .withColumn(text_col, F.array_join("__kept", " "))
        .drop("__rm", "__kept")
    )


def token_budget_cut(docs: DataFrame, budget_tokens: int) -> DataFrame:
    """Keep documents in id order until the whitespace-token budget is
    exhausted (the document crossing the budget is excluded).

    API contract (r8 advice): with a NUMERIC ``doc_id`` the scalable
    two-pass form below runs an EAGER quantile-boundary probe (one
    small Spark job) at call time, not at first action — callers
    building expensive lazy pipelines should call this last or on a
    checkpointed input. With a non-numeric ``doc_id`` (e.g. string doc
    ids, which ``percentile_approx`` cannot probe) the function falls
    back to the exact single-window form: correct at any size but
    corpus-grain single-partition at the window — at 100 TB scale map
    string ids to a numeric sort key first (``conv(substr(md5(..)))``
    changes the order; a monotonic ingest sequence does not).

    Scalable exact form (r8): the naive expression — one running-sum
    window with no partition — moves the ENTIRE corpus through a
    single-partition WindowExec, the one shape in this op that cannot
    survive 100 TB. Instead, the classic two-pass offset pattern with
    boundaries fixed up front:

    1. probe approx id quantiles ONCE (a bounded setup collect:
       n_ranges − 1 boundary values, the sanctioned probe pattern
       from the SCALE.md conventions) and embed them as literals, so
       the range id ``__pid`` is a pure deterministic FUNCTION OF THE
       ROW — identical in every pass by construction. (The tempting
       alternative, ``repartitionByRange`` + ``spark_partition_id``,
       is NOT safe here: the offsets branch re-executes the exchange
       — Spark does not reuse DataFrame-API exchange subtrees — and
       each execution samples its own boundaries, so the two passes
       could disagree on pid and misalign the offset join.)
    2. cumulative token sum WITHIN each id range (window partitioned
       by ``__pid`` — fully parallel), plus a prefix-sum over the
       per-range totals (one row per range — a bounded frame, so ITS
       unpartitioned window is harmless) broadcast-joined back.

    within-range cum + range offset == the global running sum,
    exactly, and independently of where the approximate boundaries
    fall (skewed boundaries cost balance, never correctness).
    """
    from pyspark.sql.types import NumericType

    n_tokens = F.size(F.split(F.col(TEXT_COL), " ")).cast("bigint")
    if not isinstance(docs.schema[ID_COL].dataType, NumericType):
        # Exact fallback for non-probe-able id types (r8 advice): the
        # single running-sum window. Same semantics, no eager job,
        # but single-partition at the window — see docstring.
        w_all = Window.orderBy(ID_COL).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        return (
            docs.withColumn("__cum", F.sum(n_tokens).over(w_all))
            .filter(F.col("__cum") <= budget_tokens)
            .drop("__cum")
        )
    sess = docs.sparkSession
    n_ranges = int(sess.conf.get("spark.sql.shuffle.partitions"))
    qs = [i / n_ranges for i in range(1, n_ranges)]
    bounds = (
        docs.agg(
            F.percentile_approx(F.col(ID_COL), qs, 10_000).alias("b")
        ).first()["b"]
        if qs
        else None
    )
    if not bounds:  # empty corpus or a single range
        bounds = []
    pid = F.size(
        F.filter(
            F.array(*[F.lit(b) for b in bounds]), lambda b: b < F.col(ID_COL)
        )
    ) if bounds else F.lit(0)
    ranged = docs.withColumn("__pid", pid).withColumn("__n", n_tokens)
    w_in = Window.partitionBy("__pid").orderBy(ID_COL).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = ranged.withColumn("__cum_in", F.sum("__n").over(w_in))
    w_off = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        ranged.groupBy("__pid")
        .agg(F.sum("__n").alias("__tot"))
        .withColumn(
            "__off",
            F.coalesce(F.sum("__tot").over(w_off), F.lit(0).cast("bigint")),
        )
        .select("__pid", "__off")
    )
    return (
        cum.join(F.broadcast(offsets), "__pid")
        .filter((F.col("__cum_in") + F.col("__off")) <= budget_tokens)
        .drop("__pid", "__n", "__cum_in", "__off")
    )


def prepare_corpus(
    docs: DataFrame,
    embeddings: DataFrame | None = None,
    langs: tuple[str, ...] = ("en",),
    min_jaccard: float = 0.8,
    min_cosine: float = 0.95,
    budget_tokens: int | None = None,
    dim: int | None = None,
) -> tuple[DataFrame, PrepStats]:
    """The full prep chain; returns (clean corpus, per-stage counts).

    Stage frames are persisted only while the next stage materializes
    and released on exit — nothing stays cached after return (pinning
    executor storage for the job's lifetime is the 100 TB failure
    mode). Counts in ``stats`` are final; consuming the returned frame
    (normally one write) recomputes the chain once — callers wanting a
    hot copy persist or write it themselves.
    """
    stats = PrepStats()
    # finally-guarded: a mid-chain failure (analysis error, empty-table
    # probe) must not leave the last stage frame or operator deps
    # pinned for the session lifetime
    try:
        stats.record("input", docs)
        cur = stats.record("quality", quality_gate(docs))
        cur = stats.record("language", language_filter(cur, langs))
        cur = stats.record(
            "exact_dedup",
            dedup_first_wins(
                cur.withColumn(
                    "__fp",
                    F.md5(
                        F.lower(F.regexp_replace(TEXT_COL, r"\s+", " ")).cast("binary")
                    ),
                ),
                ["__fp"],
                [ID_COL],
            ).drop("__fp"),
        )
        cur = stats.record("near_dedup", remove_near_dups(cur, min_jaccard))
        if embeddings is not None:
            cur = stats.record(
                "embedding_dedup",
                remove_embedding_dups(cur, embeddings, min_cosine=min_cosine, dim=dim),
            )
        if budget_tokens is not None:
            cur = stats.record("token_budget", token_budget_cut(cur, budget_tokens))
    finally:
        stats.release()
    return cur, stats


def write_training_shards(
    df: DataFrame,
    path: str,
    shard_key: str,
    n_shards: int,
) -> dict:
    """Export a prepared corpus as size-balanced, deterministic
    ``SHARD_COMPRESSION``-compressed parquet shards plus a JSON
    manifest — the hand-off format a training loader consumes (shard
    list + row counts + total).

    Scale/determinism: ``repartitionByRange(n_shards, shard_key)``
    range-partitions on the key (one shuffle; sampled range bounds
    are deterministic for a fixed input), keeping each shard a
    contiguous key range — so shard N's contents are reproducible
    and a loader can map shard → key range. Rows are sorted by the
    key within each shard (``sortWithinPartitions``, no extra
    shuffle) for stable on-disk order. The manifest's per-shard row
    counts are read directly from each file's parquet footer
    (``pyarrow.parquet.ParquetFile(...).metadata.num_rows``) — no
    data pages are scanned to build the manifest, so its cost is
    O(n_shards) footer reads regardless of corpus size.
    """
    import glob as _glob
    import json as _json

    import pyarrow.parquet as _pq

    (
        df.repartitionByRange(n_shards, F.col(shard_key))
        .sortWithinPartitions(shard_key)
        .write.mode("overwrite")
        .option("compression", SHARD_COMPRESSION)
        .parquet(path)
    )
    per_file = {
        os.path.basename(p): _pq.ParquetFile(p).metadata.num_rows
        for p in _glob.glob(os.path.join(path, "*.parquet"))
    }
    manifest = {
        "format": "parquet",
        "compression": SHARD_COMPRESSION,
        "shard_key": shard_key,
        "n_shards": len(per_file),
        "total_rows": int(sum(per_file.values())),
        "shards": [
            {"file": name, "rows": int(per_file[name])}
            for name in sorted(per_file)
        ],
    }
    with open(os.path.join(path, "_training_manifest.json"), "w") as f:
        _json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest
