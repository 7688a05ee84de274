"""Bucketed tables for shuffle-free joins on stable keys.

At 10^12 docs the dedup/resume probe (jobs ⋈ committed results on
content_hash) is a recurring join against an ever-growing table — the
committed side should never be re-shuffled. Writing the results table
bucketed by content_hash makes Spark read it pre-partitioned: only the
(small) probe side exchanges, the bucketed side scans in place.

The one bucketed writer is ``table_io.CheckpointedTable(bucket_key=...)``
(bucket metadata in the session catalog; on a real deployment the
Iceberg table's bucket(content_hash, N) partition transform). This
module keeps the plan diagnostic the bucketing tests assert with.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def n_shuffle_exchanges(df: DataFrame) -> int:
    """Count Exchange operators in the physical plan (test/diagnostic:
    a bucketed-side join should add none for that side)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange ")
