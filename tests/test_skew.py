"""Skew machinery: on the deliberately skewed corpus (1% of docs ~40x
cost), byte-length range partitioning must cut the straggler ratio
(max/median partition wall_ms) vs naive round-robin partitioning."""

import math
import re
from collections import Counter

import pyspark.sql.functions as F
import pytest

from xs_vlm_ocr_spark.corpus import gen_docs_df
from xs_vlm_ocr_spark.operators.extraction import extract_spans, split_extraction_output
from xs_vlm_ocr_spark.operators.skew import (
    doc_length_stats,
    repartition_by_doc_length,
    with_byte_len,
)

N_DOCS = 400
N_PARTS = 8


def _straggler_ratio(lineage_rows):
    # span_count is the deterministic per-partition cost proxy (wall_ms
    # is the real thing but too noisy for a CI assertion on a shared VM)
    loads = sorted(r["span_count"] for r in lineage_rows if r["docs_in"] > 0)
    med = loads[len(loads) // 2] or 1
    return loads[-1] / med, loads


@pytest.fixture(scope="module")
def skewed_docs(spark):
    return gen_docs_df(spark, N_DOCS, skewed=True).cache()


def test_range_partition_reduces_stragglers(spark, skewed_docs):
    naive = skewed_docs.repartition(N_PARTS)  # hash/round-robin baseline
    _, lin_naive = split_extraction_output(extract_spans(naive))
    ratio_naive, walls_naive = _straggler_ratio(
        [r.asDict() for r in lin_naive.collect()]
    )

    # tiny corpus -> full-pass stats (the 0.05 default is for at-scale runs)
    balanced = repartition_by_doc_length(skewed_docs, N_PARTS, sample_fraction=1.0)
    _, lin_bal = split_extraction_output(extract_spans(balanced))
    ratio_bal, walls_bal = _straggler_ratio(
        [r.asDict() for r in lin_bal.collect()]
    )

    # stage wall-clock = the slowest task: hot/cold split must cut the
    # max task cost (the max/median ratio alone is misleading — the
    # split also shrinks the median by packing smalls densely)
    assert max(walls_bal) < max(walls_naive), (walls_naive, walls_bal)
    assert ratio_naive > 1.5  # the naive plan really did straggle


def test_byte_len_is_true_cost_proxy(spark, skewed_docs):
    rows = with_byte_len(skewed_docs).select("doc_id", "byte_len").collect()
    lens = {r["doc_id"]: r["byte_len"] for r in rows}
    hot = [v for k, v in lens.items() if int(k.split("_")[1]) % 100 == 0]
    cold = [v for k, v in lens.items() if int(k.split("_")[1]) % 100 != 0]
    assert min(hot) > 5 * (sum(cold) / len(cold))


def test_no_skew_means_no_shuffle(spark):
    """On a non-skewed corpus the adaptive partitioner must return the
    input plan untouched (zero shuffle added)."""
    docs = gen_docs_df(spark, 200)
    out = repartition_by_doc_length(docs, N_PARTS, sample_fraction=1.0)
    assert out is docs


def test_min_partitions_floor_single_shuffle(spark, skewed_docs):
    """The small-input parallelism floor costs at most ONE shuffle:
    no-skew inputs pay exactly one repartition to the floor; skewed
    inputs are already fanned out by the hot/cold split's own
    repartitions (exactly two round-robin exchanges — a third would be
    the old dead guard shuffle running before the split)."""
    flat = gen_docs_df(spark, 200)
    out = repartition_by_doc_length(flat, N_PARTS, sample_fraction=1.0,
                                    min_partitions=N_PARTS)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Repartition") == 1, plan
    assert out.rdd.getNumPartitions() == N_PARTS

    skewed = repartition_by_doc_length(skewed_docs, N_PARTS,
                                       sample_fraction=1.0,
                                       min_partitions=N_PARTS)
    plan = skewed._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("RoundRobinPartitioning") == 2, plan


def test_doc_length_stats_exact_at_full_sample(spark, skewed_docs):
    """At sample_fraction=1.0 the row count and byte total are exact."""
    st = doc_length_stats(skewed_docs, sample_fraction=1.0)
    total = with_byte_len(skewed_docs).agg(F.sum("byte_len")).first()[0]
    assert (st.rows, st.bytes) == (N_DOCS, total)
    assert 0 < st.median < st.hot


def test_hot_stream_sized_by_estimated_rows(spark, skewed_docs):
    """The cold stream round-robins over P partitions and the hot stream
    over k = min(P, ceil(rows * (1 - 0.99 + 0.02))): exactly two
    round-robin exchanges, and no partition holds two hot docs."""
    st = doc_length_stats(skewed_docs, sample_fraction=1.0)
    p = 2 * N_PARTS
    k = min(p, math.ceil(N_DOCS * 3 / 100))
    assert k < p  # the hot stream really is sized apart from P
    out = repartition_by_doc_length(skewed_docs, p, stats=st)
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    parts = re.findall(r"RoundRobinPartitioning\((\d+)\)", plan)
    assert sorted(map(int, parts)) == sorted([p, k]), plan

    rows = with_byte_len(out).select(
        F.spark_partition_id().alias("pid"), "byte_len"
    ).collect()
    assert len(rows) == N_DOCS
    hot = Counter(r["pid"] for r in rows if r["byte_len"] >= st.hot)
    assert hot and max(hot.values()) == 1, hot


def test_fan_out_estimates_packed_partitions(spark, tmp_path_factory):
    """A run dir of many tiny part files passes a raw file-count check
    but FilePartition bin-packing coalesces the scan into far fewer
    splits — the guard must see through that and still fan out (r7
    advice). A genuinely large multi-file input stays untouched."""
    from xs_vlm_ocr_spark.operators.skew import fan_out_small_input

    target = spark.sparkContext.defaultParallelism
    d = str(tmp_path_factory.mktemp("tinyfiles") / "p")
    # 2x target tiny files; each far below openCostInBytes, so the scan
    # packs them into ~1 split
    spark.range(0, 64 * target).repartition(2 * target).write.parquet(d)
    df = spark.read.parquet(d)
    assert len(df.inputFiles()) >= target  # raw count would skip the guard
    out = fan_out_small_input(df)
    assert out.rdd.getNumPartitions() == target  # repartition applied


def test_fan_out_stat_loop_is_bounded(spark, monkeypatch):
    """A huge listing is stat'ed only until the charged bytes reach
    target * maxPartitionBytes; the decision equals the full count's."""
    import os

    from xs_vlm_ocr_spark.operators.skew import fan_out_small_input

    target = spark.sparkContext.defaultParallelism
    conf = spark._jsparkSession.sessionState().conf()
    max_split = conf.filesMaxPartitionBytes()
    open_cost = conf.filesOpenCostInBytes()
    n_files = 100_000
    listing = [f"file:/synthetic/part-{i:06d}.parquet" for i in range(n_files)]
    for size in (1024, 64 * 1024 * 1024):  # below / above openCostInBytes
        charged = max(size, open_cost)
        calls = []

        def fake_getsize(path, _size=size, _calls=calls):
            _calls.append(path)
            return _size

        df = spark.range(10)
        monkeypatch.setattr(df, "inputFiles", lambda: listing)
        monkeypatch.setattr(os.path, "getsize", fake_getsize)
        out = fan_out_small_input(df)
        monkeypatch.undo()
        assert len(calls) == -(-target * max_split // charged), size
        # the full listing packs into >= target splits: left untouched
        assert -(-n_files * charged // max_split) >= target
        assert out is df
