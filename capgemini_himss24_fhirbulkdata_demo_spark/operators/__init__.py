"""Composed operators the engine adds on top of built-in Spark
(SURVEY §2B Joins/Dedup/North-star rows).

Each operator is a pure ``DataFrame -> DataFrame`` combinator built
from built-in primitives (SURVEY §7.e: nothing here needs a custom
Catalyst rule). The oracle-checked queries in ``queries/`` are thin
wrappers over these.
"""

from .asof import asof_join  # noqa: F401
from .dedup import (  # noqa: F401
    connected_components,
    dedup_first_wins,
    lsh_candidate_pairs,
    minhash_signatures,
    near_dup_pairs,
    release_cached_deps,
    shingle,
)
from .similarity import (  # noqa: F401
    assign_nearest_centroid,
    cosine_dot,
    cosine_topk,
    ivf_assign,
    ivf_topk,
    lsh_bucket,
    probe_dim,
    semdedup,
)
from .skew import salted_join  # noqa: F401
from .topk import top_k_per_group  # noqa: F401
