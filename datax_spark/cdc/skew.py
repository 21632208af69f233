"""Explicit hot-key (skew) diagnostics.

The reference handles source-side skew by quantile-sampled range splits
(SingleTableSplitUtil.genSplitSqlForOracle:317-412) and otherwise relies on
the channel's pull model to balance. Our skew point is different: at
10^10-change-event scale a handful of conversations receive 10^3-10^4x the
median event count (Zipf fan-out, FIXTURES.md §2). The MERGE runs as one
Arrow task per storage bucket, so a hot ``conv_id`` is a hot bucket task;
key salting in Catalyst cannot split it (every event of a key must meet the
key's bucket files), and the bucket kernel's LPT placement
(lake.table._assign_buckets_lpt) is what keeps a hot bucket from sharing a
task with other large ones.

``detect_hot_keys`` is one aggregation pass (map-side combined, so the scan
cost is O(input) with tiny shuffle) that returns keys whose event count
exceeds a threshold; the engine logs them into the epoch manifest so lineage
shows *where* the skew was (EngineConfig.hot_key_min_count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datax_spark.cdc.schema import KEY_COLS


def detect_hot_keys(
    df: DataFrame,
    key_cols: list[str] | None = None,
    min_count: int = 10_000,
    top_n: int = 100,
) -> list[dict]:
    """Keys with >= min_count rows in ``df`` (descending, capped at top_n).

    One shuffle of pre-combined partials; safe to run per epoch.
    """
    key_cols = key_cols or KEY_COLS[:1]
    rows = (
        df.groupBy(*key_cols)
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_count)
        .orderBy(F.col("n").desc(), *key_cols)
        .limit(top_n)
        .collect()
    )
    return [r.asDict() for r in rows]
