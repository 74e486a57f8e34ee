"""The ``orders_kv`` table, the benchmark's model of it, and the KV
operations (each one public API call, verified against the model)."""

from __future__ import annotations

import datetime as dt
import os
import shutil

from ops import rowkey

HITS_BASE_MOD = 97  # initial hits = {"base": custkey % 97}


def build(spark, orders_path: str, base_dir: str):
    """Create ``orders_kv`` afresh under ``base_dir`` from the orders
    parquet: 6-digit rowkey, 15 prefix partitions, a typed ``meta``
    family and a ``hits`` map family."""
    from pyspark.sql import functions as F

    from hpaste_spark.schema.table import HTable, Schema

    shutil.rmtree(base_dir, ignore_errors=True)
    table = HTable(Schema(base_dir=base_dir), "orders_kv", key_type=str, partition_prefix_len=2)
    meta = table.family("meta")
    for qualifier, dtype in (
        ("custkey", "long"), ("status", "string"), ("totalprice", "double"),
        ("orderdate", "timestamp"), ("priority", "string"),
    ):
        table.column(meta, qualifier, dtype)
    table.family_map("hits", str, int)
    src = spark.read.parquet(orders_path)
    cols = {
        "rowkey": F.lpad(F.col("o_orderkey").cast("string"), 6, "0"),
        "custkey": F.col("o_custkey"),
        "status": F.col("o_orderstatus"),
        "totalprice": F.col("o_totalprice"),
        "orderdate": F.col("o_orderdate"),
        "priority": F.col("o_orderpriority"),
        "hits": F.create_map(F.lit("base"), F.col("o_custkey") % HITS_BASE_MOD),
    }
    table.overwrite(src.select(*[
        (cols[f.name] if f.name in cols else F.lit(None)).cast(f.dataType).alias(f.name)
        for f in table.spark_schema().fields
    ]))
    return table


class Model:
    """What ``orders_kv`` must hold: the generated orders plus every
    mutation the benchmark has committed."""

    def __init__(self, orders):
        self.custkey = orders.column("o_custkey").to_numpy()
        self.status = orders.column("o_orderstatus").to_numpy(zero_copy_only=False).astype(object)
        self.totalprice = orders.column("o_totalprice").to_numpy()
        self.orderdate = orders.column("o_orderdate").to_numpy().astype("datetime64[us]")
        self.priority = orders.column("o_orderpriority").to_numpy(zero_copy_only=False)
        self.extra_hits: dict[int, dict[str, int]] = {}

    def hits(self, k: int) -> dict:
        return {"base": int(self.custkey[k] % HITS_BASE_MOD), **self.extra_hits.get(k, {})}

    def add_hits(self, k: int, deltas: dict[str, int]) -> None:
        cur = self.extra_hits.setdefault(k, {})
        for name, v in deltas.items():
            cur[name] = cur.get(name, 0) + int(v)

    def matches(self, row, k: int) -> bool:
        return (
            row is not None
            and row.rowid == rowkey(k)
            and row.column("custkey") == self.custkey[k]
            and row.column("status") == self.status[k]
            and row.column("totalprice") == self.totalprice[k]
            and row.column("orderdate") == self.orderdate[k].astype(dt.datetime)
            and row.column("priority") == self.priority[k]
            and row.family("hits") == self.hits(k)
        )

    def user_bytes(self) -> int:
        """Logical bytes of the user data: rowkey, typed cells (8 per
        number/timestamp, UTF-8 length per string) and hits entries
        (key length + 8).  Write timestamps are engine metadata and
        do not count."""
        n = len(self.custkey)
        strings = sum(len(s) for s in self.status) + sum(len(s) for s in self.priority)
        hits = n * (len("base") + 8) + sum(
            len(name) + 8 for m in self.extra_hits.values() for name in m
        )
        return n * (6 + 3 * 8) + strings + hits


def snapshot_bytes(table) -> tuple[int, int]:
    """(bytes, parquet files) of the table's current snapshot."""
    root = table.storage.snapshot_dir(table.storage.current_version())
    total = files = 0
    for dirpath, _, names in os.walk(root):
        for name in names:
            total += os.path.getsize(os.path.join(dirpath, name))
            files += name.endswith(".parquet")
    return total, files


# -- operations: (timed public call, untimed check) ---------------------


def get(table, spark, model: Model, k: int):
    row = table.query2(spark).with_key(rowkey(k)).with_all_columns().single_option()
    return lambda: model.matches(row, k)


def write_batch(table, spark, model: Model, puts: dict[int, str], increments: dict[int, int]):
    from hpaste_spark.operators.mutations import OpBase

    op = OpBase(table)
    for k, status in puts.items():
        op.put(rowkey(k)).value("status", status)
    for k, amount in increments.items():
        op.increment(rowkey(k)).value_map("hits", {"w": amount})
    result = op.execute(spark)

    def check():
        for k, status in puts.items():
            model.status[k] = status
        for k, amount in increments.items():
            model.add_hits(k, {"w": amount})
        return (result.numPuts, result.numIncrements) == (len(puts), len(increments))

    return check
