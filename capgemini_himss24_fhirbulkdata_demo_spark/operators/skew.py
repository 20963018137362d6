"""Skew mitigation: salted broadcast-side replication (SURVEY brief
"salting for skew").

AQE's skew-join handling covers sort-merge joins at runtime; salting
is the *plan-level* tool for shuffled joins where one key dominates:
replicate the small side per salt. A pure DataFrame rewrite — results
are identical to the unsalted plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    on: list[tuple[str, str]],
    n_salts: int = 8,
) -> DataFrame:
    """Shuffled inner join with the skewed side salted and the small
    side replicated ``n_salts`` times.

    The skewed side gets a uniform random-ish salt (row-id derived,
    deterministic within a run); the small side explodes one row per
    salt value; the join key becomes (key, salt) so a hot key spreads
    over ``n_salts`` partitions. Row multiplicity is preserved
    exactly: each skewed row matches exactly its own salt replica.
    """
    s = skewed.withColumn(
        "__salt", (F.monotonically_increasing_id() % n_salts).cast("int")
    )
    r = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<int>"))
    )
    cond = F.col("__l.__salt") == F.col("__r.__salt")
    for lk, rk in on:
        cond = cond & (F.col(f"__l.{lk}") == F.col(f"__r.{rk}"))
    out = s.alias("__l").join(r.alias("__r"), cond)
    return out.drop("__salt")
