"""Row-level DML on plain-parquet tables: DELETE and UPDATE.

The reference delegates row-level changes to engines that have them
(Delta ``MERGE``/``DELETE``, ``databases/databricks/delta.py``); plain
parquet has no row-level ops, so these are emulated.

Physical strategy (mirrors the merge operator's ladder):

1. **File-scoped copy-on-write** (parquet tables, partitioned or not):
   find the data files containing ≥1 row matching the condition
   (``_metadata.file_path`` scan — parquet row-group stats and
   partition pruning cut the discovery), rewrite ONLY those files in
   place (inside their partition directories when partitioned), move
   the new generation in, delete the old.  A selective DELETE on
   100 TB rewrites the matching files, not the table.  Untouched files
   keep their paths (pinned by ``test_delete_file_scoped`` /
   ``test_partitioned_dml_file_scoped``).  DELETE never moves rows
   between partitions; UPDATE takes this path only when ``set_map``
   touches no partition column (otherwise rows could move).
2. **Staged swap** (non-parquet providers, a touched-file set over the
   cap, or an UPDATE rewriting a partition column): full rewrite
   through a staging table + rename — readers never observe a
   half-applied change.  On Delta/Iceberg swap these bodies for
   ``DELETE FROM``/``UPDATE`` SQL.

Condition strings are Spark SQL expressions evaluated against the
table's columns (identifier-guarded callers should prefer Column
objects).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..table import Table
from .merge import (
    MAX_TOUCHED_FILES,
    TableLayout,
    _cow_commit_partitioned,
    _cow_stage_partitioned,
    _cow_swap_files,
    _swap_table,
    _table_layout,
)


def _as_table(table: Table | str) -> Table:
    return table if isinstance(table, Table) else Table(str(table), temp=False)


def _touched_files(
    spark: SparkSession, t: Table, layout: TableLayout, cond: Column
) -> tuple[list[str] | None, DataFrame | None]:
    """(touched file list, metadata-tagged frame) for a file-scoped
    rewrite, or (None, None) when ineligible: non-parquet provider, no
    file metadata, or a touched set over ``MAX_TOUCHED_FILES``.
    Partitioned tables are eligible — the caller decides whether rows
    can move partitions."""
    if layout.parquet_location is None:
        return None, None
    df = spark.table(t.qualified_name)
    try:
        tagged = df.select(
            *df.columns, F.col("_metadata.file_path").alias("__file")
        )
    except Exception:  # pragma: no cover - source without file metadata
        return None, None
    files = [
        r[0]
        for r in tagged.where(cond)
        .select("__file")
        .distinct()
        .limit(MAX_TOUCHED_FILES + 1)
        .collect()
    ]
    if len(files) > MAX_TOUCHED_FILES:
        return None, None
    return files, tagged


def delete_rows(
    spark: SparkSession, table: Table | str, condition: Column | str
) -> int:
    """Delete rows matching ``condition``; returns the number deleted."""
    t = _as_table(table)
    df = spark.table(t.qualified_name)
    cond = F.expr(condition) if isinstance(condition, str) else condition
    # SQL three-valued logic: a NULL condition matches nothing, so those
    # rows must be KEPT — coalesce before negating
    cond = F.coalesce(cond, F.lit(False))
    n = df.where(cond).count()
    if n == 0:
        return 0
    # DELETE never moves a row between partitions → file-scoped COW is
    # safe on partitioned and unpartitioned tables alike
    layout = _table_layout(spark, t.qualified_name)
    files, tagged = _touched_files(spark, t, layout, cond)
    if files is not None:
        keep = (
            tagged.where(F.col("__file").isin(files)).where(~cond).drop("__file")
        )
        _commit_cow(spark, t, layout, files, keep)
        return n
    _swap_table(spark, df.where(~cond), t)
    return n


def _commit_cow(
    spark: SparkSession,
    t: Table,
    layout: TableLayout,
    files: list[str],
    result: DataFrame,
) -> None:
    location, part_cols = layout.parquet_location, layout.partition_cols
    if part_cols:
        staged = _cow_stage_partitioned(spark, location, part_cols, result)
        _cow_commit_partitioned(spark, location, files, staged)
        spark.catalog.refreshTable(t.qualified_name)
    else:
        _cow_swap_files(spark, t.qualified_name, location, files, result)


def delete_rows_by_keys(
    spark: SparkSession,
    table: Table | str,
    keys_df: DataFrame,
    key_cols: list[str],
    scan_filter: Column | None = None,
) -> int:
    """DELETE every row whose ``key_cols`` tuple appears in ``keys_df``
    — the relational form of DELETE for key sets too large (or too
    wide) to push down as a literal predicate.

    Physical strategy: the touched-file set is discovered with a
    LEFT SEMI join of the metadata-tagged table against the key
    relation (broadcast when small, shuffled equi-join otherwise —
    never an expression tree, so 10 million tombstones cost the same
    plan shape as 10), then ONLY those files are rewritten with a
    LEFT ANTI join (file-scoped copy-on-write).  Delete cost is
    O(touched files) at ANY key count — the 100 TB CDC-drain shape.
    ``scan_filter`` optionally narrows the discovery scan with a
    sargable superset predicate (e.g. per-column ``isin`` for a small
    multi-column key set) so parquet min/max pruning still applies;
    exactness always comes from the joins, never the filter.

    Returns the number of rows deleted.
    """
    t = _as_table(table)
    df = spark.table(t.qualified_name)
    keys = keys_df.select(*key_cols).distinct()
    layout = _table_layout(spark, t.qualified_name)
    if layout.parquet_location is not None:
        try:
            tagged = df.select(
                *df.columns, F.col("_metadata.file_path").alias("__file")
            )
        except Exception:  # pragma: no cover - source without file metadata
            tagged = None
        if tagged is not None:
            scan = tagged.where(scan_filter) if scan_filter is not None else tagged
            hit = scan.join(keys, on=key_cols, how="left_semi")
            files = [
                r[0]
                for r in hit.select("__file")
                .distinct()
                .limit(MAX_TOUCHED_FILES + 1)
                .collect()
            ]
            if not files:
                return 0
            if len(files) <= MAX_TOUCHED_FILES:
                touched = tagged.where(F.col("__file").isin(files))
                n = touched.join(keys, on=key_cols, how="left_semi").count()
                keep = touched.join(keys, on=key_cols, how="left_anti").drop(
                    "__file"
                )
                _commit_cow(spark, t, layout, files, keep)
                return n
    # non-parquet provider / no file metadata / touched set over the cap:
    # staged swap (readers never observe a half-applied delete)
    n = df.join(keys, on=key_cols, how="left_semi").count()
    if n:
        _swap_table(spark, df.join(keys, on=key_cols, how="left_anti"), t)
    return n


def update_rows(
    spark: SparkSession,
    table: Table | str,
    set_map: dict[str, Column | str],
    condition: Column | str | None = None,
) -> int:
    """UPDATE ``set_map`` (column → expression) on rows matching
    ``condition`` (all rows when None); returns the number updated."""
    t = _as_table(table)
    df = spark.table(t.qualified_name)
    cond = (
        F.lit(True)
        if condition is None
        else (F.expr(condition) if isinstance(condition, str) else condition)
    )
    n = df.where(cond).count()
    if n == 0:
        return 0

    def _apply(frame: DataFrame) -> DataFrame:
        return frame.select(
            *[
                F.when(
                    cond,
                    F.expr(set_map[c])
                    if isinstance(set_map.get(c), str)
                    else set_map.get(c, F.col(c)),
                ).otherwise(F.col(c)).alias(c)
                if c in set_map
                else F.col(c)
                for c in df.columns
            ]
        )

    # UPDATE can move rows between partitions only when the set_map
    # touches a partition column — COW is safe otherwise
    layout = _table_layout(spark, t.qualified_name)
    if not (set(layout.partition_cols) & set(set_map)):
        files, tagged = _touched_files(spark, t, layout, cond)
        if files is not None:
            touched = tagged.where(F.col("__file").isin(files)).drop("__file")
            _commit_cow(spark, t, layout, files, _apply(touched))
            return n
    _swap_table(spark, _apply(df), t)
    return n
