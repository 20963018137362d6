"""Dedup operators: deterministic exact dedup + MinHash/LSH near-dup
(SURVEY §2B Dedup row + north-star extensions).

The near-dup pipeline (shingle → minhash → band → bucket-join →
Jaccard verify) is the standard 100 TB architecture: one narrow pass
to signatures, one shuffle keyed by uniformly-distributed band
hashes, exact verification only on candidates. Hash family:
``h_i(s) = md5(s + '#' + i)`` with lexicographic MIN over hex digests
— engine-portable (any engine's md5 agrees) and uniform.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dedup_first_wins(
    df: DataFrame, keys: list[str], order_by: list[Column | str]
) -> DataFrame:
    """Deterministic dropDuplicates: first row per key under an
    explicit total order (SURVEY §7.c — never rely on plain
    dropDuplicates for reproducible results)."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def shingle(text_col: Column, n: int = 2) -> Column:
    """Distinct word n-gram shingles of a text column.

    Documents with fewer than ``n`` tokens shingle to an empty array —
    Spark's ``sequence(1, 0)`` counts DOWN ([1, 0]), so the short-doc
    case must be guarded explicitly, not ranged.

    The token array is lambda-bound (``functions.hof.bound``): HOF
    lambdas are interpreted per element with no loop-invariant
    motion, so a captured ``split`` would re-tokenize the document
    for every shingle position — O(L^2) per doc.
    """
    from ..functions.hof import bound

    def shingles_of(toks: Column) -> Column:
        idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
        return F.when(
            F.size(toks) >= n,
            F.array_distinct(
                F.transform(
                    idx,
                    lambda i: F.concat_ws(
                        " ", *[F.element_at(toks, i + j) for j in range(n)]
                    ),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))

    return bound(F.split(text_col, " "), shingles_of)


def minhash_signatures(
    df: DataFrame, id_col: str, shingles_col: str, n_hashes: int = 8
) -> DataFrame:
    """(id, h0..h{n-1}) minhash signature table.

    Hash family: ceil(n/4) md5 digests per shingle (seeded by '#'*k
    prefixes), each sliced into four 8-hex-char (32-bit) hashes — 4×
    less digest work than n independent md5s, same uniformity.
    """
    n_digests = (n_hashes + 3) // 4

    # closure factories: a default-arg lambda would read as a 2-arg
    # (element, index) HOF lambda to F.transform
    def digest_fn(k: int):
        return lambda s: F.md5(F.concat(F.lit("#" * k), s).cast("binary"))

    def slice_fn(i: int):
        return lambda x: F.substring(x, 1 + 8 * (i % 4), 8)

    dg = df.select(
        F.col(id_col),
        *[
            F.transform(F.col(shingles_col), digest_fn(k)).alias(f"__d{k}")
            for k in range(n_digests)
        ],
    )
    sig_cols = [
        F.array_min(F.transform(F.col(f"__d{i // 4}"), slice_fn(i))).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    return dg.select(F.col(id_col), *sig_cols)


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str,
    n_hashes: int = 8,
    band_size: int = 2,
    min_agree: int | None = None,
) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing at least one LSH band.

    Bands are concatenations of ``band_size`` adjacent minhashes; the
    self-join shuffles on the band value (uniform, skew-free).

    ``min_agree`` (optional) is the estimate-then-verify gate: banded
    candidate pairs must agree on that many of the full signature's
    minhashes. The gate joins the (distinct, already LSH-pruned)
    candidate pairs back to the signature table with PLAIN joins — no
    broadcast hints: AQE broadcasts the build side only when it is
    actually small, and at corpus scale they are ordinary shuffled
    hash joins keyed on id (never an O(corpus) forced broadcast).
    Carrying h0..h7 through the band explode instead was measured 2×
    slower — it multiplies the band shuffle's bytes by the signature
    width on both self-join sides.
    """
    if n_hashes % band_size != 0:
        raise ValueError(
            f"n_hashes={n_hashes} must be divisible by band_size={band_size} "
            "(trailing minhashes would be silently unused)"
        )
    if min_agree is not None and min_agree > n_hashes:
        raise ValueError(
            f"min_agree={min_agree} can never hold with n_hashes={n_hashes}"
        )
    n_bands = n_hashes // band_size
    banded = sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.concat(
                            *[F.col(f"h{b * band_size + j}") for j in range(band_size)]
                        ).alias("band_val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bv"),
    ).select(id_col, "bv.band_idx", "bv.band_val")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    # banding alone already guarantees band_size agreements
    if min_agree is not None and min_agree > band_size:
        g1 = sigs.select(
            F.col(id_col).alias("id_a"),
            *[F.col(f"h{i}").alias(f"__ha{i}") for i in range(n_hashes)],
        )
        g2 = sigs.select(
            F.col(id_col).alias("id_b"),
            *[F.col(f"h{i}").alias(f"__hb{i}") for i in range(n_hashes)],
        )
        agree = None
        for i in range(n_hashes):
            t = F.when(F.col(f"__ha{i}") == F.col(f"__hb{i}"), 1).otherwise(0)
            agree = t if agree is None else agree + t
        cand = (
            cand.join(g1, "id_a")
            .join(g2, "id_b")
            .filter(agree >= min_agree)
            .select("id_a", "id_b")
        )
    return cand


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two (distinct-element) array columns, rounded
    to 4 decimals.

    Uses |A∪B| = |A|+|B|−|A∩B| — one intersect, no union allocation.
    """
    inter = F.size(F.array_intersect(a, b))
    return F.round(inter.cast("double") / (F.size(a) + F.size(b) - inter), 4)


def release_cached_deps(df: DataFrame) -> None:
    """Unpersist intermediates an operator attached to ``df``
    (``_cached_deps``). Call once the result is materialized (written
    / counted / cached downstream) so nothing stays pinned."""
    for dep in getattr(df, "_cached_deps", []):
        dep.unpersist()


def _release_local_checkpoint(df: DataFrame) -> None:
    """Drop the blocks behind ``df = x.localCheckpoint()``. Only once
    nothing will read ``df`` again: a local checkpoint has no lineage
    to recompute lost blocks from."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


# near_dup_pairs: word-bigram shingles, 8 minhashes in bands of 2,
# and candidates must agree on 4 minhashes before the exact verify
NEAR_DUP_SHINGLE_N = 2
NEAR_DUP_HASHES = 8
NEAR_DUP_BAND_SIZE = 2
NEAR_DUP_MIN_AGREE = 4


def near_dup_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_jaccard: float = 0.3,
) -> DataFrame:
    """Full near-dup pipeline → (id_a, id_b, jaccard) above threshold.

    ``NEAR_DUP_MIN_AGREE`` is the estimate-then-verify gate: banded
    candidates must agree on that many of the ``NEAR_DUP_HASHES``
    minhashes (banding alone guarantees ``NEAR_DUP_BAND_SIZE``) before
    the exact-Jaccard join — E[agreement | banded] = band_size +
    (n-band_size)·jaccard. Prunes the band-collision tail cheaply.
    The gate is computed by UNhinted joins of the distinct candidates
    back to the signature table (see ``lsh_candidate_pairs`` for why
    that beats carrying signatures through the band explode).

    Three plan branches read the shingle arrays (signature build +
    both verify-join sides) and three read the signatures (band
    explode + both gate-join sides): recomputing them tripled wall
    time at 50k docs, so both persist, attached to the result as
    ``_cached_deps`` — callers release them via
    ``release_cached_deps(result)`` once the result is materialized
    (``dataprep.PrepStats`` does this at stage boundaries).

    Measured scaling on local[32]: 5k docs / 256 true pairs → ~4.6 s;
    50k docs (10× input, 250,600 true pairs = ~1000× output) → ~19 s,
    of which ~6 s is the Jaccard verify join over those 250k pairs —
    cost tracks input + emitted-pair volume, never corpus² (the
    100 TB contract: every stage is a narrow pass, a uniform-key
    shuffle, or output-proportional).
    """
    sh = docs.select(
        F.col(id_col), shingle(F.col(text_col), NEAR_DUP_SHINGLE_N).alias("sh")
    ).persist()
    sigs = minhash_signatures(sh, id_col, "sh", NEAR_DUP_HASHES).persist()
    cand = lsh_candidate_pairs(
        sigs, id_col, NEAR_DUP_HASHES, NEAR_DUP_BAND_SIZE, min_agree=NEAR_DUP_MIN_AGREE
    )
    sa = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    sb = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    out = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"))
        .filter(F.col("jaccard") >= min_jaccard)
    )
    out._cached_deps = [sh, sigs]
    return out


# ~32 MB of (src, dst) bigint edges per shuffle partition for the
# label-propagation rounds; the actual width is derived per call from
# the materialized edge count (scale-adaptive, never a local constant)
_CC_EDGES_PER_PARTITION = 2_000_000
# Broadcast the per-round label relation instead of shuffle-joining it
# when the measured edge count says labels are trivially broadcastable
# (vertices <= 2·edges, 2 bigints each: 2M edges -> <= 4M label rows,
# ~64 MB built - well inside guide §3.1's comfortable range). Past the
# gate the loop keeps the shuffled join, which is what a corpus-scale
# pair graph needs.
_CC_BROADCAST_EDGES = 2_000_000


# Label-propagation rounds before connected_components gives up.
_CC_MAX_ITER = 20


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Connected components over an undirected pair graph →
    (vertex, component) with component = min vertex id reachable.

    Min-label propagation (the Pregel/GraphFrames pattern expressed in
    plain DataFrames): every vertex starts labeled with itself; each
    round takes the min of its own label and its neighbors' labels;
    converges in graph-diameter rounds. Near-dup graphs are unions of
    small cliques (diameter 1-2), so 2-3 rounds in practice.

    Scale notes: each round is one exchange (the min-aggregate over
    msgs ∪ labels) plus the edges⟷labels join; ``localCheckpoint``
    truncates the lineage per round (an iterative loop's plan
    otherwise doubles every round). The aggregate's width is derived
    from the materialized edge count via an explicit
    ``repartition(parts, "v")`` (r12 — the r11 form flipped the
    session-global ``spark.sql.shuffle.partitions`` for the loop,
    which silently resized any concurrent query on the same session;
    ADVICE r11 medium): the pair graph is output-proportional —
    orders smaller than the corpus — so label rounds at corpus
    shuffle width are pure scheduling overhead locally and oversized
    exchanges on a cluster. When the measured edge count is small
    (``_CC_BROADCAST_EDGES``) the per-round label relation is
    broadcast into the join (guide §3.1: broadcast the side that
    fits — vertex labels are 16 B/row and bounded by 2·edges), so a
    round's only exchange is the min-aggregate; past the gate the
    join stays a shuffled join at the derived width. Convergence is
    detected by the strictly-decreasing label sum — one tiny
    aggregate action per round, not a row-wise diff; the LAZY
    checkpoints mean that action also materializes the round's
    checkpoint in the same job (guide §1.5), after which the previous
    round's checkpoint is released; the edge checkpoints are released
    on return, so only the result's blocks stay. This is the
    cluster-representative step real dedup needs after pair
    generation (drop all but MIN(doc) per component).

    Raises ``RuntimeError`` if the labels have not converged after
    ``_CC_MAX_ITER`` rounds (graph diameter > 20) — an unconverged
    result silently splits components, which downstream dedup would
    read as "keep several representatives of one duplicate cluster".
    """
    # Symmetrize with ONE reference to the pair plan (r12): the old
    # fwd.unionAll(bwd) embedded the caller's whole pair pipeline in
    # BOTH union branches, executing everything its persisted
    # intermediates don't cover twice (x56's committed before-plan
    # shows two full sort+range-exchange subtrees under the union).
    # One explode of a 2-struct array emits the same multiset of
    # directed edges from a single pass.
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col(a_col).alias("src"), F.col(b_col).alias("dst")
                ),
                F.struct(
                    F.col(b_col).alias("src"), F.col(a_col).alias("dst")
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst").distinct().localCheckpoint(eager=False)
    checkpoints = [edges]
    # r11 (guide §2.2/§2.5): the iteration's width derives from the
    # MEASURED edge count, not the session constant. The count is the
    # action that materializes the lazy checkpoint (one job, r12 —
    # the eager checkpoint + count was two); rows/partition targets
    # ~32 MB of (src, dst) longs.
    n_edges = edges.count()
    parts = max(1, min(
        edges.rdd.getNumPartitions(),
        -(-n_edges // _CC_EDGES_PER_PARTITION),
    ))
    if parts < edges.rdd.getNumPartitions():
        edges = edges.coalesce(parts).localCheckpoint(eager=False)
        checkpoints.append(edges)
    broadcast_labels = n_edges <= _CC_BROADCAST_EDGES
    # LAZY localCheckpoint (r11, guide §1.5/§2.2): the round's
    # convergence-sum action materializes the checkpoint AND computes
    # the sum in ONE job. Width control is per-plan (repartition),
    # never session conf (r12, ADVICE r11).
    # r12: round 1 needs no join — label₀ is the identity, so
    # label₁(v) = min(v, min over v's neighbors), computable straight
    # from the symmetrized edge list in the same aggregate that used
    # to build the identity labels. One full propagation round
    # (join + union + aggregate + sum action) gone; the loop below
    # runs the remaining _CC_MAX_ITER - 1 rounds, so the documented
    # "_CC_MAX_ITER rounds" contract is unchanged.
    labels = (
        edges.select(F.col("src").alias("v"), F.col("dst"))
        .repartition(parts, "v")
        .groupBy("v")
        .agg(F.least(F.col("v"), F.min("dst")).alias("label"))
        .localCheckpoint(eager=False)
    )
    prev_sum = labels.agg(F.sum("label")).first()[0]
    converged = prev_sum is None  # empty graph is trivially converged
    for _ in range(_CC_MAX_ITER - 1):
        # one join + one aggregate per round: neighbor labels and
        # each vertex's own label meet in a single min-aggregate
        # (the old msgs-then-left-join form ran a second join and
        # an extra exchange per round for the same result)
        lab = F.broadcast(labels) if broadcast_labels else labels
        msgs = edges.join(lab, edges.dst == lab.v).select(
            F.col("src").alias("v"), "label"
        )
        prev_labels, labels = labels, (
            msgs.unionAll(labels)
            .repartition(parts, "v")
            .groupBy("v")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=False)
        )
        cur_sum = labels.agg(F.sum("label")).first()[0]
        # the sum materialised the new round; nothing reads the old one
        _release_local_checkpoint(prev_labels)
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    for cp in checkpoints:
        _release_local_checkpoint(cp)
    if not converged:
        _release_local_checkpoint(labels)
        raise RuntimeError(
            f"connected_components did not converge in {_CC_MAX_ITER} "
            "rounds (graph diameter exceeds it)"
        )
    return labels.select(F.col("v"), F.col("label").alias("component"))

