"""End-to-end star-schema pipeline test: mock extract → dims → fact →
aggs → quality suites, run twice (idempotency — the reference's MERGE
invariant) plus a second date (accumulation)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from nasdaq_equity_airflow_ecs_pipeline_spark.plans.pipeline import run_pipeline


def _file_stamps(root):
    return {
        os.path.relpath(os.path.join(d, f), root): os.path.getmtime(os.path.join(d, f))
        for d, _, files in os.walk(root) for f in files
    }


def test_pipeline_end_to_end_and_idempotent(spark, tmp_path):
    wh = str(tmp_path / "warehouse")
    static = ("dim_date", "dim_exchange")

    paths = run_pipeline(spark, wh, "2024-01-02")
    fact = spark.read.parquet(paths["fact_stock_daily_price"])
    n1 = fact.count()
    assert n1 == 5  # one row per symbol after latest-wins dedup
    assert fact.filter(F.col("daily_volatility").isNull()).count() == 0
    dims1 = {t: _file_stamps(paths[t]) for t in static}
    assert len([f for f in dims1["dim_exchange"] if f.endswith(".parquet")]) == 1

    # rerun same date -> counts unchanged (MERGE idempotency, J4)
    run_pipeline(spark, wh, "2024-01-02")
    assert spark.read.parquet(paths["fact_stock_daily_price"]).count() == n1

    # second date accumulates
    run_pipeline(spark, wh, "2024-01-03")
    fact2 = spark.read.parquet(paths["fact_stock_daily_price"])
    assert fact2.count() == 2 * n1
    # the static dims are landed once: same files, same mtimes
    assert {t: _file_stamps(paths[t]) for t in static} == dims1

    dim = spark.read.parquet(paths["dim_stock"])
    assert dim.count() == 5
    # first_seen_date preserved across upserts (dim_stock MERGE, J3)
    assert dim.filter(F.col("first_seen_date") == "2024-01-02").count() == 5
    assert dim.filter(F.col("last_seen_date") == "2024-01-03").count() == 5

    weekly = spark.read.parquet(paths["agg_stock_weekly_metrics"])
    assert weekly.count() == 5  # both dates in the same ISO week
    wk = weekly.collect()[0]
    assert wk.week_high >= wk.week_low

    # a third date in the NEXT ISO week: weekly rollup splits (2 weeks x 5
    # symbols), monthly stays merged (same month). The codegen cache holds
    # a landed day's working set, so this warm day compiles only the
    # classes that inline its date literals (16 measured with the
    # 1000-entry cache, ~170 with Spark's 100-entry default). dim_exchange
    # loses its _SUCCESS marker first, so it is written again.
    os.remove(os.path.join(paths["dim_exchange"], "_SUCCESS"))
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    before = compiles.METRIC_COMPILATION_TIME().getCount()
    run_pipeline(spark, wh, "2024-01-08")
    assert compiles.METRIC_COMPILATION_TIME().getCount() - before <= 40
    dims3 = {t: _file_stamps(paths[t]) for t in static}
    assert dims3["dim_date"] == dims1["dim_date"]
    assert set(dims3["dim_exchange"]) != set(dims1["dim_exchange"])
    assert "_SUCCESS" in dims3["dim_exchange"]
    assert len([f for f in dims3["dim_exchange"] if f.endswith(".parquet")]) == 1
    assert spark.read.parquet(paths["dim_exchange"]).count() == 3
    weekly2 = spark.read.parquet(paths["agg_stock_weekly_metrics"])
    assert weekly2.count() == 10
    assert {r.week for r in weekly2.select("week").distinct().collect()} == {1, 2}
    monthly = spark.read.parquet(paths["agg_stock_monthly_metrics"])
    assert monthly.count() == 5
    assert spark.read.parquet(paths["fact_stock_daily_price"]).count() == 3 * n1

    dim_date = spark.read.parquet(paths["dim_date"])
    assert dim_date.count() == 2557


def test_dag_local_runner(spark, tmp_path):
    """Task-graph executor: dependency order honored, validations green."""
    import pytest

    from nasdaq_equity_airflow_ecs_pipeline_spark.plans.dag import (
        build_airflow_dag,
        run_local,
    )

    order = run_local(lambda: spark, str(tmp_path / "wh"), "2024-01-02")
    assert order[0] == "extract_and_build"
    assert order.index("validate_dimensions_quality") < order.index(
        "validate_facts_quality"
    )
    assert len(order) == 5

    with pytest.raises(ImportError):  # airflow not in this image
        build_airflow_dag(str(tmp_path / "wh"))


def test_dim_date_values(spark):
    from nasdaq_equity_airflow_ecs_pipeline_spark.sources.inline import (
        build_dim_date_frame,
    )

    row = (
        build_dim_date_frame(spark, "2024-02-29", "2024-02-29").collect()[0]
    )
    assert row.date_key == 20240229
    assert row.year == 2024 and row.quarter == 1 and row.month == 2
    assert row.week == 9  # ISO week of 2024-02-29
    assert row.day_of_week == "Thursday"
    assert row.is_trading_day is True


def test_pipeline_quotefeed_ingest(spark, tmp_path):
    """raw_root='quotefeed' ingests through the custom Python DataSource
    and lands the same raw layout; the full pipeline (dims, fact, aggs,
    quality gates) runs green on it."""
    from nasdaq_equity_airflow_ecs_pipeline_spark.plans.pipeline import run_pipeline

    wh = str(tmp_path / "wh")
    paths = run_pipeline(
        spark, wh, processing_date="2024-03-05", raw_root="quotefeed"
    )
    fact = spark.read.parquet(paths["fact_stock_daily_price"])
    assert fact.count() == fact.select("stock_symbol").distinct().count() > 0
    raw = spark.read.json(f"{wh}/raw/date=2024-03-05")
    assert raw.count() > 0 and "symbol" in raw.columns


def test_read_quotes_one_day_and_missing_day(spark, tmp_path):
    """A one-day read sees that day only, with ``date`` typed as on a
    read of all days; a day never landed reads as an empty frame."""
    from nasdaq_equity_airflow_ecs_pipeline_spark.sources.jsonl import (
        read_quotes_jsonl,
        write_quotes_jsonl,
    )
    from nasdaq_equity_airflow_ecs_pipeline_spark.sources.mock import (
        generate_mock_quotes,
    )

    root = str(tmp_path / "raw")
    for day in ("2024-01-02", "2024-01-03"):
        write_quotes_jsonl(generate_mock_quotes(spark, day), root)
    every = read_quotes_jsonl(spark, root)
    one = read_quotes_jsonl(spark, root, "2024-01-03")
    assert one.schema == every.schema
    assert {str(r.date) for r in one.select("date").distinct().collect()} == {"2024-01-03"}
    assert one.count() == every.filter(F.col("date") == "2024-01-03").count() > 0

    missing = read_quotes_jsonl(spark, root, "2024-01-09")
    assert missing.schema == every.schema
    assert missing.count() == 0
