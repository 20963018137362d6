"""As-of join (SURVEY §2B Joins row; §7.d).

Spark has no native ASOF JOIN; the engine's documented pattern is an
equi-join on the entity key + a range conjunct on the ordinal, then
``row_number() = 1`` over the candidates ordered toward the as-of
point. DuckDB's ASOF JOIN and pandas ``merge_asof`` have the same
semantics ("latest right row at-or-before the left ordinal").

Scale: candidates are keyed by the equi columns, so the shuffle is on
the entity key (AQE handles skew); for time-series at 100 TB both
sides would additionally be bucketed by (key, coarse time bucket) so
the range conjunct prunes candidates before the window sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[tuple[str, str]],
    ordinal: tuple[str, str],
    how: str = "left",
) -> DataFrame:
    """For each left row, attach the single right row with the largest
    ordinal at or before the left row's.

    ``on`` = [(left_key, right_key)], ``ordinal`` = (left_ord, right_ord).
    Right columns keep their names; the left ordinal breaks no ties —
    callers needing full determinism pass a unique right ordinal.
    """
    l_ord, r_ord = ordinal
    # A surrogate row id keeps exactly one output per *left row* even
    # when several left rows share (keys, ordinal); its value never
    # surfaces (partition key only), so its nondeterminism is benign.
    left = left.withColumn("__asof_lid", F.monotonically_increasing_id())
    cond = None
    for lk, rk in on:
        c = left[lk] == right[rk]
        cond = c if cond is None else cond & c
    joined = left.join(right, cond & (right[r_ord] <= left[l_ord]), how)
    w = Window.partitionBy("__asof_lid").orderBy(F.desc_nulls_last(right[r_ord]))
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__asof_lid")
    )
