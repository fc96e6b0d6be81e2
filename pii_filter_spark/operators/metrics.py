"""Lineage/metrics sidecar (FIXTURES.md B2 schema).

The reference streams per-stage SSE log events per request
(/root/reference/src/api/proxy.py:97-190); at table scale the analogue is
a per-partition metrics rollup written next to each snapshot. Computed as
ONE distributed aggregation over the written output (groupBy part_id, one
exchange, no join), not driver-side iteration. Drop reasons are counted
inside that aggregation with one `count_if(array_contains(...))` per
core.quality.RULE_ORDER code — each code appears at most once per row —
and folded into a map that keeps only the codes that occurred.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.quality import RULE_ORDER


def partition_metrics(df: DataFrame, part_col: str = "part_id") -> DataFrame:
    """Per-partition rollup: (part_id, rows_in, rows_kept, rows_dropped,
    scrub_count, drop_reason_counts map<string,long>)."""
    keep = F.col("keep")
    reasons = F.map_from_arrays(
        F.array(*[F.lit(code) for code in RULE_ORDER]),
        F.array(*[
            F.count_if(F.array_contains("drop_reasons", code))
            for code in RULE_ORDER
        ]),
    )
    return df.groupBy(part_col).agg(
        F.count(F.lit(1)).alias("rows_in"),
        F.count_if(keep).alias("rows_kept"),
        F.count_if(~keep).alias("rows_dropped"),
        F.sum(F.col("scrub_count").cast("long")).alias("scrub_count"),
        F.map_filter(reasons, lambda _, n: n > 0).alias("drop_reason_counts"),
    )
