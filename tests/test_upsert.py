from __future__ import annotations

from pyspark.sql import functions as F

import glob
import os

import pytest

from nasdaq_equity_airflow_ecs_pipeline_spark.operators.upsert import (
    merge_upsert,
    upsert_parquet,
    upsert_parquet_cow,
)


def test_merge_semantics(spark):
    target = spark.createDataFrame(
        [(1, "old", "2024-01-01"), (2, "keep", "2024-01-01")],
        ["k", "v", "first_seen"],
    )
    source = spark.createDataFrame(
        [(1, "new", "2024-01-02"), (3, "ins", "2024-01-02")],
        ["k", "v", "first_seen"],
    )
    out = merge_upsert(target, source, ["k"], preserve_cols=["first_seen"])
    rows = {r.k: (r.v, r.first_seen) for r in out.collect()}
    assert rows == {
        1: ("new", "2024-01-01"),   # matched: updated, first_seen preserved
        2: ("keep", "2024-01-01"),  # untouched survivor
        3: ("ins", "2024-01-02"),   # inserted
    }


def test_merge_delete_clause(spark, tmp_path):
    # Iceberg `WHEN MATCHED AND op='D' THEN DELETE`: tombstones delete
    # matched rows, never insert, and the op rider column stays out
    target = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "v"])
    source = spark.createDataFrame(
        [(2, "B", "U"), (3, None, "D"), (4, "d", "U"), (5, None, "D")],
        ["k", "v", "op"],
    )
    out = merge_upsert(target, source, ["k"], delete_condition="op = 'D'")
    assert out.columns == ["k", "v"]
    rows = {r.k: r.v for r in out.collect()}
    # 1 untouched, 2 updated, 3 deleted, 4 inserted, 5 tombstone-no-match
    assert rows == {1: "a", 2: "B", 4: "d"}

    # first run (CREATE): tombstones simply never land
    created = merge_upsert(None, source, ["k"], delete_condition="op = 'D'")
    assert {r.k for r in created.collect()} == {2, 4}

    # NULL predicate rows follow Iceberg WHEN MATCHED AND cond THEN
    # DELETE semantics: NULL is NOT a delete — the row falls through to
    # UPDATE/INSERT. (A naive cond / ~cond split loses them from BOTH
    # arms: k=2 would neither update nor delete, k=6 would never insert.)
    src_null = spark.createDataFrame(
        [(2, "B2", None), (3, None, "D"), (6, "f", None)],
        "k int, v string, op string",
    )
    out_null = merge_upsert(target, src_null, ["k"], delete_condition="op = 'D'")
    assert {r.k: r.v for r in out_null.collect()} == {1: "a", 2: "B2", 6: "f"}

    # versioned table round-trip: delete produces a new snapshot, old
    # snapshot still shows the row (snapshot isolation)
    import pyspark.sql.functions as _F
    from nasdaq_equity_airflow_ecs_pipeline_spark.operators.versioned import (
        VersionedTable,
    )

    t = VersionedTable(spark, str(tmp_path / "del_test"))
    t.upsert(target, ["k"])
    t.upsert(source, ["k"], delete_condition=_F.col("op") == "D")
    assert {r.k: r.v for r in t.read().collect()} == {1: "a", 2: "B", 4: "d"}
    assert {r.k for r in t.read(version=0).collect()} == {1, 2, 3}


def test_upsert_parquet_idempotent(spark, tmp_path):
    path = str(tmp_path / "t")
    src = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    upsert_parquet(spark, src, path, keys=["k"])
    upsert_parquet(spark, src, path, keys=["k"])  # rerun: no dup rows
    assert spark.read.parquet(path).count() == 2
    upsert_parquet(
        spark, spark.createDataFrame([(2, "B"), (3, "c")], ["k", "v"]), path, ["k"]
    )
    got = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}


def test_upsert_cow_touches_only_affected_partitions(spark, tmp_path):
    path = str(tmp_path / "fact")
    day1 = spark.createDataFrame(
        [("AAPL", "2024-01-01", 1.0), ("MSFT", "2024-01-01", 2.0)],
        ["sym", "d", "v"],
    )
    day2 = spark.createDataFrame(
        [("AAPL", "2024-01-02", 3.0)], ["sym", "d", "v"]
    )
    upsert_parquet_cow(spark, day1, path, keys=["sym", "d"], partition_by=["d"])
    upsert_parquet_cow(spark, day2, path, keys=["sym", "d"], partition_by=["d"])

    day1_files = sorted(glob.glob(os.path.join(path, "d=2024-01-01", "*.parquet")))
    stamps = {f: os.path.getmtime(f) for f in day1_files}
    assert day1_files

    # re-merge day2 with a changed value: idempotent count, day1 untouched
    day2b = spark.createDataFrame(
        [("AAPL", "2024-01-02", 9.0), ("GOOG", "2024-01-02", 4.0)],
        ["sym", "d", "v"],
    )
    upsert_parquet_cow(spark, day2b, path, keys=["sym", "d"], partition_by=["d"])
    got = {(r.sym, str(r.d)): r.v for r in spark.read.parquet(path).collect()}
    assert got == {
        ("AAPL", "2024-01-01"): 1.0, ("MSFT", "2024-01-01"): 2.0,
        ("AAPL", "2024-01-02"): 9.0, ("GOOG", "2024-01-02"): 4.0,
    }
    # the untouched partition's files were not rewritten
    assert sorted(glob.glob(os.path.join(path, "d=2024-01-01", "*.parquet"))) == day1_files
    assert all(os.path.getmtime(f) == stamps[f] for f in day1_files)

    # run-twice invariant on the cow path
    upsert_parquet_cow(spark, day2b, path, keys=["sym", "d"], partition_by=["d"])
    assert spark.read.parquet(path).count() == 4
    assert all(len(files) == 1 for files in _data_files(path).values())
    assert _staging_dirs(str(tmp_path)) == []


def _data_files(root):
    """{partition dir relative to root: [parquet file names]}."""
    out = {}
    for d, _, files in os.walk(root):
        names = sorted(f for f in files if f.endswith(".parquet"))
        if names:
            out[os.path.relpath(d, root)] = names
    return out


def _staging_dirs(root):
    return [d for d, _, _ in os.walk(root) if "__cow_" in d]


def test_upsert_cow_nested_partitions_one_file_each(spark, tmp_path):
    """Two partition columns (nested dirs): each touched partition is
    committed as exactly one data file, untouched ones keep theirs, and
    no staging dir is left behind."""
    path = str(tmp_path / "agg")
    cols = ["year", "region", "sym", "v"]
    base = spark.createDataFrame(
        [(2023, "eu", "A", 1.0), (2023, "us", "A", 2.0), (2024, "eu", "A", 3.0),
         (2024, "eu", "B", 4.0), (2024, "us", "B", 5.0)],
        cols,
    ).repartition(4)
    keys = ["year", "region", "sym"]
    upsert_parquet_cow(spark, base, path, keys=keys, partition_by=["year", "region"])
    before = _data_files(path)
    assert sorted(before) == [
        "year=2023/region=eu", "year=2023/region=us",
        "year=2024/region=eu", "year=2024/region=us",
    ]
    assert all(len(files) == 1 for files in before.values())

    batch = spark.createDataFrame(
        [(2024, "eu", "A", 30.0), (2024, "eu", "C", 6.0), (2025, "us", "A", 7.0)],
        cols,
    ).repartition(3).cache()
    upsert_parquet_cow(spark, batch, path, keys=keys, partition_by=["year", "region"])
    # a source the caller cached stays cached
    assert batch.storageLevel.useMemory
    batch.unpersist()
    after = _data_files(path)
    assert sorted(after) == sorted([*before, "year=2025/region=us"])
    assert all(len(files) == 1 for files in after.values())
    for untouched in ("year=2023/region=eu", "year=2023/region=us", "year=2024/region=us"):
        assert after[untouched] == before[untouched]
    assert after["year=2024/region=eu"] != before["year=2024/region=eu"]
    got = {(r.year, r.region, r.sym): r.v for r in spark.read.parquet(path).collect()}
    assert got == {
        (2023, "eu", "A"): 1.0, (2023, "us", "A"): 2.0,
        (2024, "eu", "A"): 30.0, (2024, "eu", "B"): 4.0, (2024, "eu", "C"): 6.0,
        (2024, "us", "B"): 5.0, (2025, "us", "A"): 7.0,
    }
    assert _staging_dirs(str(tmp_path)) == []


def test_upsert_cow_failed_staged_write_leaves_table(spark, tmp_path, monkeypatch):
    """An exception inside the staged write leaves the live table exactly
    as it was (same files, same mtimes, same rows) and removes the
    staging dir."""
    from nasdaq_equity_airflow_ecs_pipeline_spark.operators import upsert

    path = str(tmp_path / "fact")
    day1 = spark.createDataFrame(
        [("AAPL", "2024-01-01", 1.0), ("MSFT", "2024-01-02", 2.0)],
        ["sym", "d", "v"],
    )
    upsert_parquet_cow(spark, day1, path, keys=["sym", "d"], partition_by=["d"])
    stamps = {
        os.path.join(d, f): os.path.getmtime(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    }

    write = upsert._write_partitioned
    levels = []

    def write_then_fail(df, partition_by, out):
        levels.append(batch.storageLevel)
        write(df, partition_by, out)
        raise RuntimeError("injected failure after staging")

    monkeypatch.setattr(upsert, "_write_partitioned", write_then_fail)
    batch = spark.createDataFrame(
        [("AAPL", "2024-01-01", 9.0), ("GOOG", "2024-01-03", 3.0)],
        ["sym", "d", "v"],
    )
    with pytest.raises(RuntimeError, match="injected failure"):
        upsert_parquet_cow(spark, batch, path, keys=["sym", "d"], partition_by=["d"])
    assert _staging_dirs(str(tmp_path)) == []
    assert {
        os.path.join(d, f): os.path.getmtime(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    } == stamps
    got = {(r.sym, str(r.d)): r.v for r in spark.read.parquet(path).collect()}
    assert got == {("AAPL", "2024-01-01"): 1.0, ("MSFT", "2024-01-02"): 2.0}
    # the call persisted the source for the staged write, then released it
    assert levels[0].useMemory
    assert not batch.storageLevel.useMemory


def test_merge_schema_evolution(spark):
    target = spark.createDataFrame([(1, "a")], ["k", "v"])
    source = spark.createDataFrame([(1, "A", 9.5), (2, "b", 1.0)], ["k", "v", "score"])
    # default: strict — evolving source must be explicit
    with pytest.raises(Exception):
        merge_upsert(target, source, ["k"]).collect()
    out = {r.k: (r.v, r.score) for r in
           merge_upsert(target, source, ["k"], evolve_schema=True).collect()}
    assert out == {1: ("A", 9.5), 2: ("b", 1.0)}

    # narrowing source: missing column carries NULL for inserted rows
    src2 = spark.createDataFrame([(3, "c")], ["k", "v"])
    full = merge_upsert(
        merge_upsert(target, source, ["k"], evolve_schema=True),
        src2, ["k"], evolve_schema=True,
    )
    got = {r.k: (r.v, r.score) for r in full.collect()}
    assert got == {1: ("A", 9.5), 2: ("b", 1.0), 3: ("c", None)}


def test_upsert_cow_rejects_migrating_keys(spark, tmp_path):
    df = spark.createDataFrame([(1, "2024-01-01", 1.0)], ["k", "d", "v"])
    with pytest.raises(ValueError, match="must be part of the merge key"):
        upsert_parquet_cow(
            spark, df, str(tmp_path / "x"), keys=["k"], partition_by=["d"]
        )


def test_merge_into_sql_front(spark):
    """The reference's verbatim MERGE INTO statement shape
    (build_stock_fact_table.py:104-111) executes through the SQL front
    with Iceberg MERGE semantics."""
    from nasdaq_equity_airflow_ecs_pipeline_spark.operators.merge_sql import (
        merge_into,
        parse_merge,
    )

    spark.createDataFrame(
        [("AAPL", "2024-01-02", 100.0), ("MSFT", "2024-01-02", 200.0)],
        ["stock_symbol", "trade_date", "close"],
    ).createOrReplaceTempView("fact_target")
    spark.createDataFrame(
        [("AAPL", "2024-01-02", 101.0), ("NVDA", "2024-01-02", 300.0)],
        ["stock_symbol", "trade_date", "close"],
    ).createOrReplaceTempView("new_fact_data")

    merged = merge_into(spark, """
        MERGE INTO fact_target t
        USING new_fact_data s
        ON t.stock_symbol = s.stock_symbol AND t.trade_date = s.trade_date
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
    """)
    rows = {r.stock_symbol: r.close for r in merged.collect()}
    assert rows == {"AAPL": 101.0, "MSFT": 200.0, "NVDA": 300.0}
    # the target view now sees the merged state (CoW table semantics)
    assert spark.table("fact_target").count() == 3

    # idempotent: re-running the same MERGE changes nothing
    again = merge_into(spark, """
        MERGE INTO fact_target t USING new_fact_data s
        ON t.stock_symbol = s.stock_symbol AND t.trade_date = s.trade_date
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
    """)
    assert {r.stock_symbol: r.close for r in again.collect()} == rows

    # out-of-subset statements refuse loudly instead of diverging
    with pytest.raises(ValueError):
        parse_merge("MERGE INTO a t USING b s ON t.k = s.k "
                    "WHEN MATCHED THEN DELETE")
    with pytest.raises(ValueError):
        parse_merge("MERGE INTO a t USING b s ON t.k > s.k "
                    "WHEN MATCHED THEN UPDATE SET * "
                    "WHEN NOT MATCHED THEN INSERT *")
