"""The ``batch`` workload: the canonical scan → shuffle → reduce →
write job as an ``HJob``, then multi-gets that read its sums back."""

from __future__ import annotations

import numpy as np

from datagen import KEY_STRIDE
from ops import rowkey


def rollup_job(table, lineitem_path: str):
    """map: lineitem → (rowkey, ship month, qty); reduce: sum by
    (rowkey, month); sink: merge the sums into ``hits`` as increments."""
    import datetime as dt

    from pyspark.sql import functions as F

    from hpaste_spark.operators import mutations
    from hpaste_spark.plans import HJob, HTask

    def map_task(ctx, inputs):
        li = ctx.spark.read.parquet(lineitem_path)
        return li.select(
            F.lpad(F.col("l_orderkey").cast("string"), 6, "0").alias("rowkey"),
            F.date_format("l_shipdate", "yyyy-MM").alias("month"),
            F.col("l_quantity").alias("qty"),
        )

    def reduce_task(ctx, inputs):
        return inputs["map"].groupBy("rowkey", "month").agg(
            F.sum("qty").cast("long").alias("total")
        )

    def sink_task(ctx, inputs):
        schema = table.spark_schema()
        now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        deltas = inputs["reduce"].groupBy("rowkey").agg(
            F.map_from_entries(F.collect_list(F.struct("month", "total"))).alias("hits")
        ).withColumn("hits__ts", F.transform_values("hits", lambda k, v: F.lit(now)))
        batch = deltas.select(*[
            (F.col(f.name) if f.name in deltas.columns else F.lit(None)).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ])
        mutations.bulk_merge_increments(table, batch)
        return inputs["reduce"]

    return HJob(
        "orders-monthly-qty",
        HTask("map", map_task),
        HTask("reduce", reduce_task, requires=("map",)),
        HTask("sink", sink_task, requires=("reduce",)),
    )


def monthly_sums(lineitem, keys: list[int]) -> dict[int, dict[str, int]]:
    """Per-key monthly quantity sums, computed once per run from the
    generated line items (the read-back's expected increments)."""
    okey = lineitem.column("l_orderkey").to_numpy() // KEY_STRIDE
    mask = np.isin(okey, keys)
    months = np.datetime_as_string(
        lineitem.column("l_shipdate").to_numpy()[mask].astype("datetime64[M]")
    )
    qty = lineitem.column("l_quantity").to_numpy()[mask]
    out: dict[int, dict[str, int]] = {}
    for k, m, q in zip(okey[mask], months, qty):
        d = out.setdefault(int(k), {})
        d[str(m)] = d.get(str(m), 0) + int(q)
    return out


def pair_count(lineitem) -> int:
    """Distinct (order, ship month) pairs: the hits entries one rollup adds."""
    okey = lineitem.column("l_orderkey").to_numpy().astype(np.int64)
    month = lineitem.column("l_shipdate").to_numpy().astype("datetime64[M]").astype(np.int64)
    return len(np.unique(okey * 10_000 + month))


def order_count(lineitem) -> int:
    """Distinct orders in the line items: the rows one rollup touches."""
    return len(np.unique(lineitem.column("l_orderkey").to_numpy()))


def readback(table, spark, model, keys, sums, passes_done: int):
    rows = table.query2(spark).with_keys([rowkey(k) for k in keys]).with_all_columns().multi_map()

    def check():
        for k in keys:
            model.extra_hits[k] = {m: v * passes_done for m, v in sums.get(k, {}).items()}
        return len(rows) == len(keys) and all(model.matches(rows.get(rowkey(k)), k) for k in keys)

    return check

