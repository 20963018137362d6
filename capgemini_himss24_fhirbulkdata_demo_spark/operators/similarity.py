"""Vector similarity operators (north-star extension).

``cosine_dot`` is a sequential left fold over IEEE doubles — the
deterministic-by-construction dot product (see queries/similarity.py
for the cross-engine rationale). ``lsh_bucket`` derives ±1 hyperplane
coefficients from md5 (no RNG state), giving reproducible sign
buckets for ANN candidate pruning.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hof import bound


def cosine_dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two array<float|double> columns.

    Measured note (round 3): unrolling the fold into a flat
    left-associated element_at chain (same IEEE op order, codegen-able)
    is 2.6× SLOWER warmed — 64 element_at navigations beat the single
    aggregate loop's cost. The fold stays.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def vector_norm(v: Column) -> Column:
    return F.sqrt(cosine_dot(v, v))


def hyperplanes(n_planes: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 plane coefficients from md5(p:i)."""
    return [
        [1 if hashlib.md5(f"{p}:{i}".encode()).digest()[0] & 1 else -1 for i in range(dim)]
        for p in range(n_planes)
    ]


def lsh_bucket(vec: Column, planes: list[list[int]]) -> Column:
    """Sign-bit bucket id from hyperplane projections."""
    bucket = None
    for p, coeffs in enumerate(planes):
        carr = F.array(*[F.lit(c) for c in coeffs])
        proj = F.aggregate(
            F.zip_with(carr, vec, lambda c, x: c.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        term = F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = term if bucket is None else bucket + term
    return bucket.cast("bigint")


def cosine_topk(
    queries: DataFrame,
    candidates: DataFrame,
    query_id: str,
    cand_id: str,
    query_vec: str,
    cand_vec: str,
    k: int = 10,
    bucket_col: str | None = None,
    broadcast_queries: bool = False,
) -> DataFrame:
    """Top-k candidates per query by cosine → (query_id, neighbor_id,
    cosine, rank) with fixed output names (inputs may share a name).

    Brute-force when ``bucket_col`` is None (every query scores every
    candidate — the reranker shape); bucketed equi-join when both
    sides carry a ``bucket_col`` (the ANN scale path).

    ``broadcast_queries`` is OPT-IN: the API does not bound the size
    of ``queries``, so a hint here would force an O(|queries|)
    broadcast on whatever frame the caller passes (the same
    hint-on-unbounded-frame class as round 1's x02 near-dup bug). Left
    off, Catalyst/AQE pick the strategy from statistics — a genuinely
    small query side still broadcasts, a large one shuffles. Set it
    only when the caller KNOWS the query frame is bounded (e.g. a
    fixed rerank batch).
    """
    q = queries.select(
        F.col(query_id).alias("__qid"),
        F.col(query_vec).alias("__qv"),
        vector_norm(F.col(query_vec)).alias("__qn"),
        *([F.col(bucket_col).alias("__qb")] if bucket_col else []),
    )
    if broadcast_queries:
        q = F.broadcast(q)
    c = candidates.select(
        F.col(cand_id).alias("__cid"),
        F.col(cand_vec).alias("__cv"),
        vector_norm(F.col(cand_vec)).alias("__cn"),
        *([F.col(bucket_col).alias("__cb")] if bucket_col else []),
    )
    cond = F.col("__qid") != F.col("__cid")
    if bucket_col:
        joined = q.join(c, (F.col("__qb") == F.col("__cb")) & cond)
    else:
        joined = q.join(c, cond)
    scored = joined.select(
        F.col("__qid").alias("query_id"),
        F.col("__cid").alias("neighbor_id"),
        (cosine_dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn"))).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def probe_dim(vectors: DataFrame, vec_col: str) -> int:
    """Read the embedding dimension from one row (guarded driver probe).

    Prefer passing ``dim`` explicitly from schema metadata — this probe
    is a driver-side action and belongs at pipeline setup, never inside
    plan construction.
    """
    row = vectors.select(F.size(vec_col).alias("__d")).limit(1).collect()
    if not row:
        raise ValueError(
            f"cannot infer embedding dim from empty table (column {vec_col!r}); "
            "pass dim= explicitly"
        )
    return row[0]["__d"]


def ivf_assign(
    vectors: DataFrame,
    vec_col: str,
    n_lists: int | None = None,
    dim: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: deterministic centroid build + assignment.

    Training an exact k-means is overkill for the contract; the engine
    seeds centroids from hyperplane-LSH buckets (deterministic, data-
    dependent) and computes each bucket's centroid with exact decimal
    sums (order-insensitive) — so the index build is reproducible
    bit-for-bit. ``n_lists`` rounds UP to the next power of two (the
    bucket space is 2^planes). Returns (assigned, centroid table),
    each carrying the list id as ``ivf_list``.

    ``dim`` comes from the caller (schema metadata); omitted, it is
    probed from one row with a clear empty-table error.

    Scale: the centroid build is posexplode → groupBy(bucket, pos) →
    sum → reassemble — two shuffles of skinny (bucket, pos, sum) rows
    and a plan whose width is O(1) in ``dim`` (a per-dimension
    aggregate column would blow up codegen at dim 768+). Assignment is
    a narrow projection; queries then search only their probe list(s).
    Centroids are built on the full table.
    """
    if dim is None:
        dim = probe_dim(vectors, vec_col)
    # lists are sign-bucket cells: 2^n_planes of them; round the
    # request UP to the next power of two (documented behavior)
    n_planes = max(2, ((n_lists or 8) - 1).bit_length())
    planes = hyperplanes(n_planes, dim)
    bucketed = vectors.withColumn("__b", lsh_bucket(F.col(vec_col), planes))

    # exact-decimal per-(bucket, dimension) mean -> deterministic
    # centroids, constant plan width in dim
    cent = (
        bucketed.select(
            "__b", F.posexplode(F.col(vec_col)).alias("__pos", "__val")
        )
        .groupBy("__b", "__pos")
        .agg(
            (
                F.sum(F.col("__val").cast("double").cast("decimal(28,12)")).cast(
                    "double"
                )
                / F.count("*")
            ).alias("__m")
        )
        .groupBy("__b")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("__pos"), F.col("__m")))
            ).alias("__pm")
        )
        .select(
            F.col("__b").alias("ivf_list"),
            F.transform(F.col("__pm"), lambda s: s["__m"]).alias("centroid"),
        )
    )
    return bucketed.withColumnRenamed("__b", "ivf_list"), cent


def assign_nearest_centroid(
    vectors: DataFrame,
    centroids: DataFrame,
    vec_col: str,
) -> DataFrame:
    """Assign every vector to its nearest centroid by cosine — the
    k-means-style assignment SemDeDup-shaped cluster-scoped dedup
    needs (``ivf_assign`` buckets by the *seeding* sign cell; this
    re-buckets by actual centroid proximity, so clusters follow the
    data even where sign cells are ragged). The centroid table
    carries ``ivf_list`` and ``centroid``; the output adds the
    nearest list id as ``cluster``.

    Scale: the k centroids collapse to ONE broadcast row carrying a
    list-id-sorted array of (id, centroid, norm) structs; the argmax
    is a per-row fold over that array — zero shuffle and zero row
    amplification. (The previous form exploded n·k scored copies
    through a ``row_number`` window, i.e. a shuffle carrying every
    vector AND centroid payload k times — a k× amplification of the
    corpus through the wire that the fold avoids entirely; it also
    recomputed each centroid's norm n times, now once.) The fold
    keeps the FIRST strictly-greater score, and the array is sorted
    ascending by list id, so ties break toward the lowest list id —
    the same deterministic rule as before.
    """
    cents = centroids.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("ivf_list").cast("bigint").alias("l"),
                    F.col("centroid").alias("c"),
                    vector_norm(F.col("centroid")).alias("cn"),
                )
            )
        ).alias("__cents")
    )
    v = vectors.withColumn("__vn", vector_norm(F.col(vec_col)))
    best = F.aggregate(
        F.col("__cents"),
        F.struct(
            F.lit(float("-inf")).alias("csim"),
            F.lit(None).cast("bigint").alias("l"),
        ),
        lambda acc, cc: bound(
            cosine_dot(F.col(vec_col), cc["c"]) / (F.col("__vn") * cc["cn"]),
            lambda s: F.when(
                s > acc["csim"],
                F.struct(s.alias("csim"), cc["l"].alias("l")),
            ).otherwise(acc),
        ),
    )
    return (
        v.crossJoin(F.broadcast(cents))
        .select(*vectors.columns, best["l"].alias("cluster"))
        .filter(F.col("cluster").isNotNull())
    )


def semdedup(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_lists: int,
    dim: int | None = None,
    persist_assigned: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """SemDeDup (Abbas et al. 2023): cluster embeddings, compare pairs
    only within a cluster, report above-threshold duplicate pairs.
    Returns ``(assigned, dup_pairs)`` — ``assigned`` is the input plus
    ``cluster`` and ``norm``; ``dup_pairs`` is (cluster, id_a, id_b)
    with id_a < id_b. Keep-min collapse / audits compose on top.

    ``n_lists`` is the cluster count; ``ivf_assign`` rounds it up to a
    power of two. The pair join shuffles on the cluster id; ragged clusters are the expected skew shape, handled by
    AQE skew-join splitting (session policy ``adaptive.skewJoin``) —
    the join must stay a shuffled hash/sort-merge join, asserted in
    tests/test_plans.py.
    """
    _, cent = ivf_assign(vectors, vec_col, n_lists=n_lists, dim=dim)
    assigned = assign_nearest_centroid(
        vectors.withColumn("norm", vector_norm(F.col(vec_col))),
        cent, vec_col,
    )
    if persist_assigned:
        # the assignment subtree (broadcast-centroid scoring + argmax
        # shuffle) feeds both pair-join sides and any caller-side
        # audit — persist so it computes once; the caller releases
        # (at 100 TB, materialize columnar between stages instead)
        assigned = assigned.persist()
    a, c = assigned.alias("a"), assigned.alias("c")
    dup = (
        a.join(
            c,
            (F.col("a.cluster") == F.col("c.cluster"))
            & (F.col(f"a.{id_col}") < F.col(f"c.{id_col}")),
        )
        .filter(
            cosine_dot(F.col(f"a.{vec_col}"), F.col(f"c.{vec_col}"))
            / (F.col("a.norm") * F.col("c.norm"))
            >= threshold
        )
        .select(
            F.col("a.cluster").alias("cluster"),
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"c.{id_col}").alias("id_b"),
        )
    )
    return assigned, dup


def ivf_topk(
    queries: DataFrame,
    assigned: DataFrame,
    centroids: DataFrame,
    query_id: str,
    cand_id: str,
    query_vec: str,
    cand_vec: str,
    k: int = 10,
    n_probe: int = 1,
    query_norm: str | None = None,
    cand_norm: str | None = None,
) -> DataFrame:
    """IVF search: route each query to its ``n_probe`` nearest
    centroid lists (``ivf_assign``'s ``ivf_list``), exact cosine only
    within those lists.

    Probe selection and scoring both use the deterministic fold dot
    product. Output: (query_id, neighbor_id, cosine, rank).

    ``query_norm`` / ``cand_norm`` name columns that already carry
    ``vector_norm`` of the respective vector (r12): callers that
    persist a normed base relation (x59 shares one across its exact
    and IVF branches) skip re-folding the norm per branch. Values are
    identical by construction — the column must be the same
    deterministic fold.
    """
    q = queries.select(
        F.col(query_id).alias("__qid"),
        F.col(query_vec).alias("__qv"),
        (
            F.col(query_norm) if query_norm else vector_norm(F.col(query_vec))
        ).alias("__qn"),
    )
    probes = (
        F.broadcast(q)
        .crossJoin(F.broadcast(centroids))
        .select(
            "__qid",
            "__qv",
            "__qn",
            F.col("ivf_list"),
            (
                cosine_dot(F.col("__qv"), F.col("centroid"))
                / (F.col("__qn") * vector_norm(F.col("centroid")))
            ).alias("__csim"),
        )
    )
    w = Window.partitionBy("__qid").orderBy(F.desc("__csim"), "ivf_list")
    probes = (
        probes.withColumn("__pr", F.row_number().over(w))
        .filter(F.col("__pr") <= n_probe)
        .select("__qid", "__qv", "__qn", "ivf_list")
    )
    c = assigned.select(
        F.col(cand_id).alias("__cid"),
        F.col(cand_vec).alias("__cv"),
        (
            F.col(cand_norm) if cand_norm else vector_norm(F.col(cand_vec))
        ).alias("__cn"),
        F.col("ivf_list"),
    )
    scored = (
        F.broadcast(probes)
        .join(c, ["ivf_list"])
        .filter(F.col("__qid") != F.col("__cid"))
        .select(
            F.col("__qid").alias("query_id"),
            F.col("__cid").alias("neighbor_id"),
            (cosine_dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn"))).alias(
                "cosine"
            ),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return scored.withColumn("rank", F.row_number().over(w2)).filter(F.col("rank") <= k)
