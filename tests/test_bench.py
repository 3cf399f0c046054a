"""bench.py end to end on the smallest tier: the one-JSON-line contract
and the per-query counters read from Spark's status store."""

from __future__ import annotations

import json
import os

import pytest

import bench
from dtle_spark.session import get_spark
from tests.conftest import SF_DIR


def test_get_spark_leaves_a_running_session_untouched(spark):
    """The builder's configs apply only to a session get_spark creates:
    a second call returns the running session with its configs as set."""
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "5")
    try:
        assert get_spark("another_caller") is spark
        assert spark.conf.get("spark.sql.shuffle.partitions") == "5"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", partitions)


def test_bench_main_prints_contract_line_with_spark_counters(spark, monkeypatch, capsys):
    names = ["where_filter", "column_map"]
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SF_DIR)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_ONLY", ",".join(names))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_RUNS", "1")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_NO_FULL", "1")
    records = [os.path.join(bench.REPO, f) for f in ("bench_full.json", "bench_last.json")]
    mtimes = [os.path.getmtime(p) if os.path.exists(p) else None for p in records]
    bench.main()
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert {"metric", "value", "unit", "queries", "sf", "parallelism", "spark"} <= set(line)
    assert "errors" not in line
    assert (line["metric"], line["unit"], line["sf"]) == ("registry_total_wall", "sec", 0.001)
    assert list(line["queries"]) == names
    assert line["value"] == pytest.approx(sum(line["queries"].values()), abs=1e-3)
    for name in names:
        assert line["spark"][name]["jobs"] >= 1
        assert line["spark"][name]["task_cpu_s"] >= 0
    assert [os.path.getmtime(p) if os.path.exists(p) else None for p in records] == mtimes
