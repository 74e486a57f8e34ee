"""Table-maintenance operators: TTL vacuum and snapshot compaction.

Reference: per-family ``rowTtlInSeconds`` (HbaseTable.scala:288) is an
HBase storage-config no-op for us (SURVEY §1.4) — the behavioral
equivalent is a vacuum job that drops expired cells based on their
write timestamps, run on whatever schedule the deployment wants.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def vacuum_ttl(table, spark: SparkSession, now: _dt.datetime | None = None) -> int:
    """Drop cells older than each family's TTL; rows that lose every
    cell disappear.  Returns the new snapshot version (0 = no TTLs
    declared, nothing to do)."""
    ttl_fams = [f for f in table.families.values() if f.row_ttl_seconds]
    if not ttl_fams:
        return 0
    now = now or _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
    df = table.to_df(spark)

    def _fresh(cutoff):
        return lambda k, ts: ts >= F.lit(cutoff)

    def _key_in(keys_col):
        return lambda k, v: F.array_contains(keys_col, k)

    for fam in table.families.values():
        cutoff = (
            now - _dt.timedelta(seconds=fam.row_ttl_seconds) if fam.row_ttl_seconds else None
        )
        if cutoff is None:
            continue
        ts_col = F.col(fam.ts_name)
        keep_ts = F.map_filter(ts_col, _fresh(cutoff))
        if fam.is_map_family:
            df = df.withColumn(fam.name, F.map_filter(F.col(fam.name), _key_in(F.map_keys(keep_ts))))
        else:
            for c in fam.columns.values():
                cell_ts = F.element_at(ts_col, c.qualifier)
                df = df.withColumn(
                    c.qualifier,
                    F.when(cell_ts.isNull() | (cell_ts >= F.lit(cutoff)), F.col(c.qualifier)),
                )
        df = df.withColumn(fam.ts_name, keep_ts)
    # drop rows with no live cells left
    alive = None
    for fam in table.families.values():
        fam_alive = (
            F.size(F.coalesce(F.col(fam.name), F.map_from_arrays(F.array(), F.array()))) > 0
            if fam.is_map_family
            else None
        )
        if not fam.is_map_family:
            for c in fam.columns.values():
                term = F.col(c.qualifier).isNotNull()
                fam_alive = term if fam_alive is None else (fam_alive | term)
        if fam_alive is not None:
            alive = fam_alive if alive is None else (alive | fam_alive)
    if alive is not None:
        df = df.filter(alive)
    return table.overwrite(df)


def compact(table, spark: SparkSession, num_files: int | None = None) -> int:
    """Rewrite the current snapshot with a target file count (the HBase
    major-compaction analog; small-file cleanup after many merge
    batches)."""
    df = table.to_df(spark)
    if num_files:
        df = df.repartition(num_files)
    return table.overwrite(df)


def changes_between(table, spark: SparkSession, from_version: int, to_version: int):
    """Change-data feed between two snapshots: one row per changed
    rowkey with ``_change`` ∈ {insert, update, delete} plus the
    to-version cell values (from-version values for deletes).

    Built on snapshot time travel (ParquetStorage.read(version=N)) —
    a full-outer join of the two immutable snapshots on ``rowkey``,
    so the diff is a single co-partitioned shuffle at any scale and
    never driver-materialized.  The reference has no CDC; its closest
    shape is re-scanning with a time-range filter (Query2.scala:
    493-495), which misses deletes entirely.
    """
    from pyspark.sql import functions as F

    from pyspark.sql import types as T

    st = table.storage
    old = st.read(spark, table.spark_schema(), version=from_version)
    new = st.read(spark, table.spark_schema(), version=to_version)
    data_cols = [c for c in new.columns if c != "rowkey"]

    # comparison twin of the value struct: MapType columns are not
    # orderable (<=> refuses them), so canonicalize each map to a
    # key-sorted entry array — orderable and order-insensitive
    def cmp_struct(df):
        parts = []
        for f in df.schema.fields:
            if f.name == "rowkey":
                continue
            c = F.col(f.name)
            if isinstance(f.dataType, T.MapType):
                c = F.array_sort(F.map_entries(c))
            parts.append(c.alias(f.name))
        return F.struct(*parts)

    o = old.select("rowkey", F.struct(*data_cols).alias("_old"), cmp_struct(old).alias("_oldc"))
    n = new.select("rowkey", F.struct(*data_cols).alias("_new"), cmp_struct(new).alias("_newc"))
    j = o.join(n, "rowkey", "full_outer")
    classified = j.select(
        "rowkey",
        F.when(F.col("_old").isNull(), F.lit("insert"))
        .when(F.col("_new").isNull(), F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("_change"),
        F.coalesce(F.col("_new"), F.col("_old")).alias("_vals"),
    ).filter(
        # unchanged rows are not part of the feed; null-safe struct
        # compare — plain != yields NULL (row silently dropped) when a
        # cell is null on one side only
        (F.col("_change") != "update") | (~F.col("_oldc").eqNullSafe(F.col("_newc")))
    )
    return classified.select(
        "rowkey", "_change", *[F.col("_vals")[c].alias(c) for c in data_cols]
    )
