"""Arrow-vectorized pandas UDFs (SURVEY §2B UDF row).

The registered queries use built-ins wherever they can express the
semantics; ``trimmed_mean_udf`` is the grouped-agg escape hatch x62
runs. Never row-at-a-time Python UDFs (SURVEY §4.3.3).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql.functions import pandas_udf


def trimmed_mean_udf():
    """Grouped-agg pandas_udf (UDAF surface): decile-trimmed mean —
    sort the group, drop the bottom and top n//10 values, one final
    rounded double division. Integer sums stay exact in int64, so the
    result is bit-stable across engines and partitionings (Spark
    feeds each group to the kernel whole, order-independent after the
    sort)."""

    @pandas_udf("double")
    def _tmean(v: pd.Series) -> float:
        s = v.sort_values().reset_index(drop=True)
        lo = len(s) // 10
        kept = s.iloc[lo : len(s) - lo]
        return float(round(int(kept.sum()) / len(kept), 4))

    return _tmean
