"""The oracle gate: every declared query, collected at sf0.001, matches
its DuckDB oracle through the one shared check (tools/check_oracle.py
``check_query``), and a slice of float-aggregating queries still matches
when every parquet scan is split into 7 partitions."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql.readwriter import DataFrameReader

import __spark_entry__ as entry

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(HERE, "tools"))

from check_oracle import _duck_connect, check_query  # noqa: E402

QUERIES, ORACLES = entry._registry()

# Queries whose float results come out of aggregations (sums, means,
# stddevs, medians, windowed metrics) over a plain parquet scan: the
# class whose values can move with the partition count, as
# profile_diff's constant-column stddev did at 4 partitions
# (doc_profile_drift aggregates its profiles eagerly, at construction).
# Scans behind read_fanned's hash fan-out are not listed: Catalyst
# collapses the extra repartition into the fan-out's own.
FLOAT_AGGREGATING = [
    "auc_two_level", "cardiac_summary_rollup", "doc_mixture_sample",
    "doc_profile_drift", "doc_temperature_mixture",
    "doc_token_budget_rate", "eda_quality_segments",
    "eda_rolling_features", "eda_summary_rollup",
    "embedding_label_centroids", "kernel_acc_auc", "pricing_summary",
    "seconds_hr_context", "sqa_missing_segments", "sqa_rolling_metrics",
    "top_revenue_nations",
]


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_runs(spark, sf_dir, name):
    status, detail = check_query(spark, sf_dir, name, QUERIES[name],
                                 ORACLES[name])
    assert status in ("ok", "stale"), f"{name}: {detail}"


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parses(sf_dir, name):
    con = _duck_connect(sf_dir)
    try:
        con.execute(f"EXPLAIN {ORACLES[name]}")
    finally:
        con.close()


def test_every_oracle_has_a_query():
    assert set(ORACLES) == set(QUERIES)


def test_entry_returns_flagship(spark):
    df = entry.entry(spark)
    assert df.count() > 0


@pytest.mark.parametrize("name", FLOAT_AGGREGATING)
def test_partition_count_invariance(spark, sf_dir, name, monkeypatch):
    parquet = DataFrameReader.parquet
    monkeypatch.setattr(
        DataFrameReader, "parquet",
        lambda self, *paths, **kw: parquet(self, *paths, **kw).repartition(7))
    status, detail = check_query(spark, sf_dir, name, QUERIES[name],
                                 ORACLES[name])
    assert status in ("ok", "stale"), f"{name} at 7 scan partitions: {detail}"
