"""End-to-end pipeline orchestration (reference: the Airflow DAG
docker/dags/nasdaq_stock_pipeline_with_gx.py, 9 sequential tasks).

One explicit ``processing_date`` threads through every stage — fixing by
construction the reference's XCom key mismatch where the non-GX DAG reads
``processing_date`` but Lambda returns ``trading_date``
(docker/dags/nasdaq_stock_pipeline.py:57,82 vs
lambda/stock_extractor/lambda_function.py:252-254) and the GX DAG
recomputes T-1 from the wall clock in every task.

Stages (same order as the DAG):
  extract (mock/jsonl source) -> dimensions -> fact -> aggregations ->
  quality validation (in-process, replacing Athena round-trips).

Each table lands via idempotent keyed upsert (operators.upsert), so
re-running a date is a no-op on row counts — the reference's MERGE
invariant (J3-J7).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..operators.upsert import upsert_parquet, upsert_parquet_cow
from ..quality.expectations import assert_suite, reference_suites
from ..sources.inline import build_dim_date_frame, build_dim_exchange_frame
from ..sources.jsonl import read_quotes_jsonl, write_quotes_jsonl
from ..sources.mock import generate_mock_quotes
from .aggregations import (
    build_monthly_metrics,
    build_sector_performance,
    build_weekly_metrics,
)
from .dimensions import build_dim_stock
from .fact import build_fact_daily_price


def run_pipeline(
    spark: SparkSession,
    warehouse: str,
    processing_date: str,
    raw_root: str | None = None,
    validate: bool = True,
    catalog=None,
    database: str = "nasdaq_warehouse",
) -> dict[str, str]:
    """Run the full daily pipeline for one date into ``warehouse``.

    ``raw_root``: dir of Hive-partitioned raw JSONL; None -> mock extract
    (writes the mock feed to <warehouse>/raw first, like the Lambda K1);
    ``"quotefeed"`` -> ingest through the registered custom Python
    DataSource (sources/quotefeed.py) instead of driver-side mock gen —
    the executor-parallel extract path, landed to the same raw layout so
    everything downstream (and re-runs over raw) is identical.

    ``catalog``: a ``sources.catalog.NameCatalog`` — when given, every
    table is addressed by its 3-level name ``catalog.database.table`` and
    the path comes from the catalog resolver, mirroring the reference's
    ``glue_catalog.nasdaq_airflow_warehouse_dev.<table>`` addressing
    (build_stock_fact_table.py:84, terraform/modules/glue/main.tf:79).
    The keyed upserts below keep their existence-probe-driven CREATE vs
    MERGE branch (reference K7) — only name resolution changes.
    Returns {table: path}.
    """
    os.makedirs(warehouse, exist_ok=True)
    tables = (
        "fact_stock_daily_price",
        "dim_stock",
        "dim_date",
        "dim_exchange",
        "agg_stock_weekly_metrics",
        "agg_stock_monthly_metrics",
        "agg_sector_performance",
    )
    if catalog is not None:
        paths = {t: catalog.resolve(f"{database}.{t}") for t in tables}
        for p in paths.values():
            os.makedirs(os.path.dirname(p), exist_ok=True)
    else:
        paths = {t: os.path.join(warehouse, t) for t in tables}

    # -- extract (Lambda parity: fetch or mock, land JSONL in date= dirs)
    if raw_root == "quotefeed":
        from ..sources.quotefeed import QuoteFeedDataSource

        spark.dataSource.register(QuoteFeedDataSource)
        raw_root = os.path.join(warehouse, "raw")
        feed = (
            spark.read.format("quotefeed")
            .option("date", processing_date)
            .load()
            .withColumn("date", F.lit(processing_date))
        )
        write_quotes_jsonl(feed, raw_root)
    elif raw_root is None:
        raw_root = os.path.join(warehouse, "raw")
        mock = generate_mock_quotes(spark, processing_date)
        write_quotes_jsonl(mock, raw_root)
    quotes = read_quotes_jsonl(spark, raw_root, processing_date).drop("date")
    land_quotes(spark, quotes, processing_date, paths, validate=validate)
    return paths


def land_quotes(
    spark: SparkSession,
    quotes,
    processing_date: str,
    paths: dict[str, str],
    validate: bool = True,
) -> None:
    """Transform + land one day's normalized quotes into the star schema:
    dims upsert, fact cow-MERGE, scoped aggregate maintenance, GX gate.

    This is the shared per-day body of the DAG — ``run_pipeline`` calls
    it after a batch extract, and the streaming form
    (streaming/pipeline.py) calls it from ``foreachBatch`` per day in
    each micro-batch, so both paths produce identical tables by
    construction."""
    # -- dimensions (Glue job 1): dim_stock upsert preserves first_seen_date
    dim_stock = build_dim_stock(quotes, processing_date)
    upsert_parquet(
        spark, dim_stock, paths["dim_stock"], keys=["symbol"],
        preserve_cols=["stock_key", "first_seen_date"],
    )
    # dim_date (2020-2026 calendar) and dim_exchange are static: land
    # them once per warehouse. A table without its _SUCCESS marker (never
    # written, or a write that died) is written again from scratch.
    for table, build in (
        ("dim_date", build_dim_date_frame),
        ("dim_exchange", build_dim_exchange_frame),
    ):
        if not os.path.exists(os.path.join(paths[table], "_SUCCESS")):
            build(spark).coalesce(1).write.mode("overwrite").parquet(paths[table])

    # -- fact (Glue job 2): MERGE on (stock_symbol, trade_date).
    # Copy-on-write: a daily batch rewrites only its trade_date partitions,
    # never the historical fact — the 100 TB-safe MERGE shape.
    fact = build_fact_daily_price(quotes, processing_date)
    upsert_parquet_cow(
        spark, fact, paths["fact_stock_daily_price"],
        keys=["stock_symbol", "trade_date"], partition_by=["trade_date"],
    )

    # -- aggregations (Glue job 3) with empty-input guard (A5).
    # Incremental view maintenance: a run for date D only rebuilds the
    # aggregate GROUPS D falls into (its calendar week / month / day) —
    # the period filters use the SAME calendar functions as the dim_date
    # join keys, so the recomputed groups are exactly the affected ones,
    # and the filters prune the date-partitioned fact down to days of
    # that period instead of scanning full history. The reference
    # recomputes all three rollups over the whole fact every night
    # (build_stock_aggregations.py:45-55) — fine at 5 rows/day, not at
    # 100 TB.
    fact_all = spark.read.parquet(paths["fact_stock_daily_price"])
    if fact_all.isEmpty():
        return
    dim_date = spark.read.parquet(paths["dim_date"])
    dim_stock_all = spark.read.parquet(paths["dim_stock"])
    pd_date = F.to_date(F.lit(processing_date))
    same_year = F.year("trade_date") == F.year(pd_date)

    week_scope = fact_all.filter(
        same_year & (F.weekofyear("trade_date") == F.weekofyear(pd_date))
    )
    weekly = build_weekly_metrics(week_scope, dim_date, dim_stock_all)
    upsert_parquet_cow(
        spark, weekly, paths["agg_stock_weekly_metrics"],
        keys=["year", "week", "symbol"], partition_by=["year"],
    )
    month_scope = fact_all.filter(
        same_year & (F.month("trade_date") == F.month(pd_date))
    )
    monthly = build_monthly_metrics(month_scope, dim_date, dim_stock_all)
    upsert_parquet_cow(
        spark, monthly, paths["agg_stock_monthly_metrics"],
        keys=["year", "month", "symbol"], partition_by=["year"],
    )
    day_scope = fact_all.filter(F.col("trade_date") == pd_date)
    sector = build_sector_performance(day_scope, dim_stock_all)
    upsert_parquet_cow(
        spark, sector, paths["agg_sector_performance"],
        keys=["date", "sector"], partition_by=["date"],
    )

    # -- validation (GX checkpoint parity, in-process). Partitioned parquet
    # surfaces partition columns last on read; validate against the
    # canonical column order.
    if validate:
        from .. import schemas

        order = {
            "fact_stock_daily_price": schemas.FACT_COLUMNS,
            "dim_stock": schemas.DIM_STOCK_COLUMNS,
            "agg_stock_weekly_metrics": schemas.AGG_WEEKLY_COLUMNS,
            "agg_stock_monthly_metrics": schemas.AGG_MONTHLY_COLUMNS,
        }
        suites = reference_suites()
        for table, cols in order.items():
            assert_suite(spark.read.parquet(paths[table]).select(*cols), suites[table])
