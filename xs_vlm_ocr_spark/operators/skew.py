"""Skew mitigation for long-document workloads (north rule).

Doc cost is dominated by byte length, which is log-uniform over ~4
orders of magnitude with a 1% hot tail — random hash partitioning mixes
giants with dwarves and produces straggler tasks. Mitigations:

  * ``repartition_by_doc_length``: split the batch at the sampled hot
    quantile of byte_len. The cold stream round-robins over P
    partitions, sized by the estimated data volume
    (``max(cores, est_bytes / maxPartitionBytes)``, see
    job.ExtractionJob.plan), so the scheduler balances many uniform
    tasks. The hot stream round-robins over its own
    ``k = min(P, ceil(est_rows * (1 - hot_quantile + 0.02)))``
    partitions — about one giant doc per task within the sketch's rank
    error, and no empty Python tasks (each costs a fixed worker setup
    whatever its row count).
  * AQE skew-join splitting is enabled session-wide
    (spark.sql.adaptive.skewJoin.enabled, see session.py).

Lineage rows per partition (operators.extraction) make the effect
measurable: tests assert the max/median partition wall_ms ratio drops
vs. naive partitioning on the skewed corpus.
"""

from __future__ import annotations

import math
import os
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_byte_len(docs: DataFrame) -> DataFrame:
    """Doc cost proxy: total span text+ref bytes — computed JVM-side."""
    return docs.withColumn(
        "byte_len",
        F.aggregate(
            "spans",
            F.lit(0).cast("long"),
            lambda acc, s: acc + F.octet_length(s["text"]) + F.octet_length(s["media_ref"]),
        ),
    )


class DocLengthStats(NamedTuple):
    """Sampled byte-length statistics; ``rows`` and ``bytes`` are
    estimates for the whole input (sample totals / sample_fraction)."""
    median: float
    hot: float
    rows: int
    bytes: int


# relative rank error of the quantile sketch (percentile_approx
# accuracy = 1 / error); the hot stream's size allows for the same slack
_RANK_ERROR = 0.02


def doc_length_stats(docs: DataFrame, sample_fraction: float = 0.05,
                     hot_quantile: float = 0.99, seed: int = 42) -> DocLengthStats:
    """(median, hot-quantile) byte length plus the estimated row count
    and byte total, from ONE aggregate over a seeded sample — one cheap
    pass over a fraction of the data instead of a full scan. Returns
    all zeros on an (effectively) empty input."""
    sample = with_byte_len(docs.sample(fraction=sample_fraction, seed=seed))
    r = sample.agg(
        F.percentile_approx("byte_len", [0.5, hot_quantile],
                            round(1 / _RANK_ERROR)).alias("q"),
        F.count(F.lit(1)).alias("n"),
        F.sum("byte_len").alias("b"),
    ).first()
    if r["q"] is None:
        return DocLengthStats(0.0, 0.0, 0, 0)
    return DocLengthStats(float(r["q"][0]), float(r["q"][1]),
                          round(r["n"] / sample_fraction),
                          round(r["b"] / sample_fraction))


def repartition_by_doc_length(docs: DataFrame, num_partitions: int,
                              hot_quantile: float = 0.99,
                              skew_ratio_threshold: float = 10.0,
                              sample_fraction: float = 0.05,
                              stats: DocLengthStats | None = None,
                              min_partitions: int | None = None) -> DataFrame:
    """Cost-aware, *adaptive* partitioning for the extraction map stage.

    Shuffling 100 TB of document bytes just to balance cost is itself a
    cost — so first decide from sampled stats whether the input is
    skewed at all (p99/median byte length >= skew_ratio_threshold). If
    not, return the input untouched: zero shuffle, source partitioning
    wins. If skewed:

      * naive range-partitioning on byte_len would pack ALL giants into
        the top partition (range balances row counts, not cost) —
        measurably worse than round-robin (see tests/test_skew.py);
      * instead, split at the sampled hot quantile: the cold stream
        round-robins over ``num_partitions`` (P, uniform cost), the hot
        stream round-robins separately over
        ``k = min(P, ceil(est_rows * (1 - hot_quantile + 0.02)))``
        partitions, then unionByName (narrow). The hot stream holds
        about ``est_rows * (1 - hot_quantile)`` rows, and the 0.02
        covers the sketch's rank error, so k leaves ~one giant per
        task (the irreducible minimum task size) without scheduling
        empty Python tasks — each pays a fixed worker setup cost
        whatever its row count.

    Giant-task wall time collapses to a single doc's cost instead of a
    random number of colliding giants.

    ``stats``: precomputed ``DocLengthStats`` — pass it when the input
    DataFrame has expensive upstream stages (the stats pass is an
    action and would recompute them; callers compute stats on the
    cheap raw scan instead, see job.ExtractionJob.plan).

    ``min_partitions``: small-input parallelism floor. When the caller
    knows the source scan has too few splits for the per-row-expensive
    stage above (job.ExtractionJob.plan's AQE-coalescing guard), the
    floor is honoured by ONE shuffle: the skew path's own repartitions
    already satisfy it, and only the no-skew early-return pays a plain
    ``repartition(min_partitions)``. Previously the guard repartition
    ran *before* this function and the skew path then re-shuffled —
    two full shuffles of the batch where one serves both purposes."""
    st = stats if stats is not None else doc_length_stats(
        docs, sample_fraction, hot_quantile
    )
    thr = st.hot
    if thr <= 0 or st.median <= 0 or thr / st.median < skew_ratio_threshold:
        if min_partitions is not None:
            # explicit numPartitions => shuffle origin REPARTITION_BY_NUM,
            # exempt from AQE byte-based coalescing (the guard's point)
            return docs.repartition(min_partitions)
        return docs  # no material skew: don't pay a shuffle for nothing
    # round() first: 1 - 0.99 + 0.02 is 0.03 plus float noise, and
    # ceil would turn 100 rows * 0.03 into 4 partitions
    n_hot = min(num_partitions, math.ceil(
        round(st.rows * (1 - hot_quantile + _RANK_ERROR), 9)))
    df = with_byte_len(docs)
    cold = df.filter(F.col("byte_len") < thr).repartition(num_partitions)
    hot = df.filter(F.col("byte_len") >= thr).repartition(n_hot)
    return cold.unionByName(hot).drop("byte_len")


def fan_out_small_input(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Small-scan guard for per-row-expensive stages (shingling, MinHash
    signatures, SimHash): a tiny parquet is one row group and scans as a
    SINGLE partition, serializing all downstream per-row compute on one
    core. Repartition up to the session's default parallelism ONLY when
    the source has fewer files than that — at production scale inputs
    arrive with thousands of splits and this returns the input untouched
    (no shuffle added).

    The probe is PLANNING-FREE: ``inputFiles()`` walks the analyzed
    plan's file relations — an RDD-conversion partition probe would
    force physical planning of the whole upstream plan on the driver
    (latency trap on wide plans; same bound job.ExtractionJob.plan
    uses, and ci_gate greps the package for regressions). A non-file source (an
    in-memory test frame) reports 0 files and counts as "small"; a
    single huge splittable file under-counts its scan splits and pays
    one bounded extra shuffle — acceptable for a guard whose point is
    tiny inputs. The explicit numPartitions makes the shuffle origin
    REPARTITION_BY_NUM, exempt from AQE's byte-based coalescing (which
    is the one-task trap this guard exists to break).

    When the listing shows MANY files, their packed scan-partition
    count is estimated with FilePartition's own bin-packing arithmetic
    (each file charged max(size, openCostInBytes), packed into
    maxPartitionBytes bins): a run dir of hundreds of tiny part files
    used to pass a raw file-count check while the scan coalesced them
    into a handful of splits, serializing the per-row-expensive stage
    (r7 advice, low). The stat loop stops as soon as the charged bytes
    reach ``target * maxPartitionBytes`` (enough for ``target`` splits),
    so at most ``ceil(target * maxPartitionBytes / openCostInBytes)``
    files are stat'ed however long the listing is."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    files = df.inputFiles()
    if len(files) < target:
        return df.repartition(target)
    # many files != many scan partitions: estimate the packed count
    # SQLConf's typed accessors: the string conf renders sizes with a
    # unit suffix ("134217728b", "64m"), which int() cannot parse
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    max_split = conf.filesMaxPartitionBytes()
    open_cost = conf.filesOpenCostInBytes()
    total = 0
    for f in files:
        p = f[5:] if f.startswith("file:") else f  # file:///p and file:/p both -> /p
        try:
            sz = os.path.getsize(p)
        except OSError:
            return df  # non-local / unstatable source: trust the count
        total += max(sz, open_cost)
        if total >= target * max_split:
            return df  # packs into >= target splits whatever the rest is
    packed = max(1, -(-total // max_split))  # ceil
    if packed < target:
        return df.repartition(target)
    return df
