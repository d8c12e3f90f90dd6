"""The counter collector reads what Spark already recorded: it must not
add a single Spark job to the work it measures."""

from __future__ import annotations

import time

import pytest

import gen
from counters import Collector
from spans import Tracer
from workloads import tail

SMALL = {
    "topic": {"messages": 5_000, "files": 4, "backlog_messages": 3_000, "backlog_files": 3},
    "corpus_dedup": {"docs": 120, "vectors": 300},
}


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    root = tmp_path_factory.mktemp("inputs")
    saved = gen.SIZES
    gen.SIZES = SMALL
    try:
        for w in SMALL:
            gen.generate(w, 1, str(root / w))
    finally:
        gen.SIZES = saved
    return root


def _next_job(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _topic_pass(spark, inputs):
    from kafka_topic_analyzer_spark.operators.alive_keys import alive_key_count
    from kafka_topic_analyzer_spark.operators.report import full_report

    path = str(inputs / "topic" / "main")
    full_report(spark.read.parquet(path)).collect()
    alive_key_count(spark.read.parquet(path)).collect()


def _semantic_pass(spark, inputs):
    from kafka_topic_analyzer_spark.operators.dedup import embedding_near_dups_lsh

    emb = spark.read.parquet(str(inputs / "corpus_dedup" / "main" / "embeddings.parquet"))
    embedding_near_dups_lsh(emb, bits=8).collect()


@pytest.mark.parametrize("one_pass", [_topic_pass, _semantic_pass])
def test_collector_adds_zero_jobs(spark, inputs, one_pass):
    one_pass(spark, inputs)  # warm: first runs may plan differently
    j0 = _next_job(spark)
    one_pass(spark, inputs)
    plain = _next_job(spark) - j0

    collector = Collector(spark)
    tr = Tracer(collector)
    try:
        j0 = _next_job(spark)
        with tr.span("pass", pass_id=0):
            with tr.span("inner"):
                one_pass(spark, inputs)
        traced = _next_job(spark) - j0
    finally:
        collector.close()

    assert plain > 0
    assert traced == plain
    outer, inner = tr.spans
    assert outer["counters"]["jobs"] == inner["counters"]["jobs"] == plain
    assert outer["counters"]["tasks"] >= outer["counters"]["stages"] > 0


def test_python_boundary_counters(spark, inputs):
    """The report path never crosses into Python; embedding LSH does."""
    collector = Collector(spark)
    tr = Tracer(collector)
    try:
        with tr.span("topic"):
            _topic_pass(spark, inputs)
        with tr.span("semantic"):
            _semantic_pass(spark, inputs)
    finally:
        collector.close()
    topic, semantic = (s["counters"] for s in tr.spans)
    assert topic["python_bytes_sent"] == topic["python_rows_sent"] == 0
    assert topic["input_records"] == 2 * 5_000  # report and alive keys each scan the log
    assert semantic["python_bytes_sent"] > 0 and semantic["python_rows_sent"] >= 300


def test_self_time_subtracts_children():
    tr = Tracer()
    with tr.span("outer", pass_id=0):
        with tr.span("a"):
            time.sleep(0.05)
        with tr.span("b"):
            time.sleep(0.05)
    outer = tr.spans[0]
    assert tr.spans[1]["parent"] == tr.spans[2]["parent"] == outer["id"]
    assert tr.spans[1]["pass_id"] == 0
    dur = outer["end"] - outer["start"]
    assert 0 <= tr.self_time(outer) < dur - 0.09


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 41)]
    pct, value, n = tail(xs)
    assert n == 40 and pct == 75.0
    assert sum(1 for x in xs if x > value) == 10
    assert tail(xs[:10])[1] != tail(xs[:10])[1]  # NaN: too few samples
