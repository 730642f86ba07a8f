"""Tests for the status-store profiler.

Run from the repository root:  python -m pytest perfbench/ -q
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from sqlprofile import (  # noqa: E402
    executions_after,
    last_execution_id,
    node_kinds,
    parse_metric,
    profile_execution,
    summarize,
)

# No board query has all four operator kinds, so two known queries pin
# them: the sentence pipeline runs a Python UDF over a parquet scan, and
# LSH candidate pairs aggregate through a shuffle.
EXPECTED_KINDS = {
    "sentence_pipeline": {"Scan", "PythonEval"},
    "lsh_candidate_pairs": {"Scan", "HashAggregate", "Exchange"},
}


def test_parse_metric_single_and_per_task_forms():
    assert parse_metric("1,584") == (1584.0, None, None)
    assert parse_metric("948 ms") == (pytest.approx(0.948), None, None)
    total, med, mx = parse_metric(
        "total (min, med, max (stageId: taskId))\n"
        "1486.0 B (743.0 B, 743.0 B, 1.5 KiB (stage 21.0: task 12))"
    )
    assert (total, med, mx) == (1486.0, 743.0, 1536.0)
    total, med, mx = parse_metric(
        "total (min, med, max (stageId: taskId))\n"
        "2.3 s (10 ms, 200 ms, 1.8 s (stage 3.0: task 7))"
    )
    assert total == pytest.approx(2.3) and med == pytest.approx(0.2)
    assert mx == pytest.approx(1.8)
    # average metrics print no total
    assert parse_metric(
        "(min, med, max (stageId: taskId))\n(1, 2, 5 (stage 49.0: task 80))"
    ) == (2.0, 2.0, 5.0)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-tests")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _profile(spark, query, data_dir):
    from privacy_crawler_parser_tokenizer_spark.queries import QUERIES

    before = last_execution_id(spark)
    QUERIES[query](spark, data_dir).write.format("noop").mode("overwrite").save()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return [op for eid in executions_after(spark, before)
            for op in profile_execution(spark, eid)]


def test_board_query_profiles_have_expected_operators(spark, tmp_path):
    from boarddata import write_tables

    write_tables(str(tmp_path), seed=3,
                 sizes={"documents": 60, "embeddings": 20, "events": 100})
    profiles = {q: _profile(spark, q, str(tmp_path)) for q in EXPECTED_KINDS}
    for query, kinds in EXPECTED_KINDS.items():
        assert kinds <= node_kinds(profiles[query]), (query, sorted(node_kinds(profiles[query])))

    python = summarize(profiles["sentence_pipeline"])
    assert python["udf.bytes_to_python"] > 0 and python["udf.python_s"] > 0
    shuffle = summarize(profiles["lsh_candidate_pairs"])
    assert shuffle["spark.shuffle_records"] > 0 and shuffle["spark.shuffle_bytes"] > 0
    assert shuffle["spark.task_skew"] >= 1.0
