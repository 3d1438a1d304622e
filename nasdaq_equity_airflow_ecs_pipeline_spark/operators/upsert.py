"""Keyed upsert (reference K5: Iceberg ``MERGE INTO``,
glue/jobs/build_stock_fact_table.py:104-111; key sets J3-J7).

The local image has no Iceberg/Delta jars, so the engine ships a pure-Spark
MERGE equivalent with the same semantics: matched target rows are replaced
by source rows (``UPDATE SET *``), unmatched source rows are inserted
(``INSERT *``), and the operation is idempotent on the key.

Plan shape: a left_anti join (target rows whose key is absent from the
source) unioned with the source. Both sides shuffle on the key — the same
join MERGE compiles to internally. ``upsert_parquet`` rewrites the whole
parquet dir and swaps it; ``upsert_parquet_cow`` pairs the merge with a
partitioned layout so only affected partitions rewrite (copy-on-write),
each swapped in by directory rename.

``preserve_cols`` reproduces the dim_stock MERGE that keeps
``first_seen_date``/``stock_key`` from the matched target row
(build_stock_dimensions.py:93-100).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def merge_upsert(
    target: DataFrame | None,
    source: DataFrame,
    keys: list[str],
    preserve_cols: list[str] | None = None,
    evolve_schema: bool = False,
    delete_condition: Column | str | None = None,
) -> DataFrame:
    """Return target MERGE source on keys (WHEN MATCHED UPDATE SET *,
    WHEN NOT MATCHED INSERT *). ``target=None`` = first run (CREATE).

    ``evolve_schema=True`` = Iceberg/Delta mergeSchema semantics: columns
    new in the source are added (NULL for historical rows), columns
    missing from the source carry NULL for inserted rows. Off by default
    — silent widening hides producer bugs; at scale schema changes should
    be deliberate.

    ``delete_condition``: Iceberg's ``WHEN MATCHED AND <cond> THEN
    DELETE`` — a predicate over SOURCE rows (e.g. a CDC tombstone flag).
    Matched target rows whose source row satisfies it are deleted, and
    such source rows are never inserted. The same anti-join shape: one
    extra filter, no extra shuffle."""
    if delete_condition is not None:
        cond = (
            F.expr(delete_condition)
            if isinstance(delete_condition, str)
            else delete_condition
        )
        # Iceberg NULL semantics for WHEN MATCHED AND cond THEN DELETE:
        # a NULL predicate is NOT a delete and falls through to UPDATE/
        # INSERT.  A naive filter(cond)/filter(~cond) split excludes
        # NULL rows from BOTH arms — the row silently vanishes.
        cond_true = F.coalesce(cond, F.lit(False))
        dead_keys = source.filter(cond_true).select(*keys)
        source = source.filter(~cond_true)
        if target is None:
            return source
        target = target.join(dead_keys, keys, "left_anti")
        if not evolve_schema:
            # CDC sources ride an op/tombstone column the table doesn't
            # have; UPDATE SET * / INSERT * only carry target columns, so
            # drop source-only riders (evolve_schema=True keeps them and
            # widens the table instead).
            riders = [c for c in source.columns if c not in target.columns]
            if riders:
                source = source.drop(*riders)
    if target is None:
        return source
    if evolve_schema:
        for c in source.columns:
            if c not in target.columns:
                target = target.withColumn(
                    c, F.lit(None).cast(source.schema[c].dataType)
                )
        for c in target.columns:
            if c not in source.columns:
                source = source.withColumn(
                    c, F.lit(None).cast(target.schema[c].dataType)
                )
    if preserve_cols:
        # matched rows keep `preserve_cols` from the target
        tgt_keep = target.select(
            *[F.col(k).alias(f"_k_{k}") for k in keys],
            *[F.col(c).alias(f"_p_{c}") for c in preserve_cols],
        )
        cond = [source[k] == tgt_keep[f"_k_{k}"] for k in keys]
        merged_src = source.join(tgt_keep, cond, "left")
        out_cols = []
        for c in source.columns:
            if c in preserve_cols:
                out_cols.append(
                    F.coalesce(F.col(f"_p_{c}"), F.col(c)).alias(c)
                )
            else:
                out_cols.append(F.col(c))
        source = merged_src.select(*out_cols)
    survivors = target.join(source.select(*keys), keys, "left_anti")
    return survivors.unionByName(source)


def upsert_parquet(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    keys: list[str],
    partition_by: list[str] | None = None,
    preserve_cols: list[str] | None = None,
) -> None:
    """Idempotent upsert into a parquet dir (local stand-in for an Iceberg
    table): read-modify-write with an atomic directory swap."""
    target = spark.read.parquet(path) if os.path.exists(path) else None
    merged = merge_upsert(target, source, keys, preserve_cols=preserve_cols)
    tmp = f"{path}.__tmp_{uuid.uuid4().hex[:8]}"
    writer = merged.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp)
    if os.path.exists(path):
        shutil.rmtree(path)
    os.rename(tmp, path)


def upsert_parquet_cow(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    keys: list[str],
    partition_by: list[str],
    preserve_cols: list[str] | None = None,
) -> None:
    """Copy-on-write keyed upsert that rewrites ONLY the partitions the
    source batch touches — the scale form of ``upsert_parquet`` (which
    rewrites the whole table: fine for dims, fatal for a 100 TB fact).

    Shape of Iceberg's copy-on-write MERGE: (1) collect the source's
    distinct partition values (bounded by partitions touched, e.g. a few
    dates — driver-safe); (2) read the target pruned to those partitions
    (Catalyst PartitionFilters — untouched history is never scanned);
    (3) anti-join + union merge, staged as one file per touched
    partition; (4) swap the staged partition dirs into the table by
    rename. Untouched partitions keep their files.

    The source is persisted for the call (unless the caller already
    cached it), so the partition probe and the merge evaluate it once.

    Requires ``partition_by ⊆ keys`` so a key can never migrate between
    partitions (else rows outside the scanned slice could duplicate).
    """
    missing = [c for c in partition_by if c not in keys]
    if missing:
        raise ValueError(
            f"partition columns {missing} must be part of the merge key; "
            "a key that moves partitions breaks partition-scoped MERGE"
        )
    if not os.path.exists(path):
        _write_partitioned(source, partition_by, path)
        return

    owned = source.storageLevel == StorageLevel.NONE
    if owned:
        source.persist()
    try:
        parts = source.select(*partition_by).distinct().collect()
        if not parts:
            return
        cond = F.lit(False)
        for row in parts:
            match = F.lit(True)
            for c in partition_by:
                match = match & (F.col(c) == F.lit(row[c]))
            cond = cond | match
        target_slice = spark.read.parquet(path).filter(cond)
        merged = merge_upsert(
            target_slice, source, keys, preserve_cols=preserve_cols
        )
        # Stage the merged slice in a sibling dir BEFORE touching the
        # table: `merged` lazily reads the live files of the touched
        # partitions, so it must be fully written before any of them is
        # replaced. The staged copy is durable (unlike localCheckpoint, it
        # survives executor loss) and bounded by the partitions touched,
        # not table size.
        tmp = f"{path}.__cow_{uuid.uuid4().hex[:8]}"
        try:
            staged = os.path.join(tmp, "new")
            _write_partitioned(merged, partition_by, staged)
            _swap_partitions(staged, path, os.path.join(tmp, "old"), len(partition_by))
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    finally:
        if owned:
            source.unpersist()


def _write_partitioned(df: DataFrame, partition_by: list[str], path: str) -> None:
    """Write ``df`` partitioned, one file per partition value."""
    (
        df.repartition(*partition_by)
        .write.partitionBy(*partition_by)
        .parquet(path)
    )


def _swap_partitions(staged: str, path: str, old: str, depth: int) -> None:
    """Commit each partition dir under ``staged`` into the table at
    ``path``: move the live dir (if any) aside under ``old``, rename the
    staged one in. The same delete-and-rename Spark's dynamic partition
    overwrite commits with, minus re-reading and re-writing the rows: a
    reader between the two renames sees the partition missing, and a
    failed rename-in puts the live dir back. The caller deletes ``old``."""
    rels = [""]
    for _ in range(depth):
        rels = [
            os.path.join(rel, d)
            for rel in rels
            for d in sorted(os.listdir(os.path.join(staged, rel)))
            if "=" in d and os.path.isdir(os.path.join(staged, rel, d))
        ]
    for rel in rels:
        live = os.path.join(path, rel)
        aside = os.path.join(old, rel)
        moved = os.path.exists(live)
        if moved:
            os.makedirs(os.path.dirname(aside), exist_ok=True)
            os.rename(live, aside)
        try:
            os.makedirs(os.path.dirname(live), exist_ok=True)
            os.rename(os.path.join(staged, rel), live)
        except BaseException:
            if moved:
                os.rename(aside, live)
            raise
