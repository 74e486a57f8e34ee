"""Mutation batch DSL: Put / Delete / Increment → distributed merge-write.

Reference: OpBase fluent chaining + batch execute (OpBase.scala:22-114),
PutOp.value/valueMap with per-cell timestamps (PutOp.scala:28-50),
DeleteOp row/family/qualifier scopes (DeleteOp.scala:21-39),
IncrementOp atomic adds (IncrementOp.scala:26-38).  Batches apply
deletes → puts → increments in that documented order
(README.markdown:299); ``op1 + op2`` combines chains (OpBase.scala:26);
empty batches are no-ops (OpBase.scala:69-71).  Returns
``OpsResult(numDeletes, numPuts, numIncrements)`` (OpBase.scala:112-114).

Spark design: a client-staged batch names its keys up front, so it is
merged on the driver, the way an HBase client's Put only names the cells
it writes.  ``OpBase.execute`` reads the batch keys' current rows at one
snapshot version (the storage's keyed read, a local relation), applies
the deletes, aligns those rows with the staged cells in ONE local
relation and collects the projection of the cell rules over it — no
Spark job.  The storage then publishes the merged rows as an overlay
over the unchanged base (``ParquetStorage.write_partial``), and
compacts the overlay into the base only once it passes the keyed-read
bounds.  The cell rules are SQL text, one expression per column
(:func:`merge_sql`): cell-level last-writer-wins — a put only replaces
the cells it names; map-family puts overlay by key (map_concat
semantics, M2); increments add to ``coalesce(old, 0)``.  The bulk sinks
(:func:`bulk_merge_put`, :func:`bulk_merge_increments`) take unbounded
DataFrames of rows, so they keep a full-outer join on ``rowkey`` with
the same cell rules and write a whole new snapshot.  Every commit
names the version its merge read and fails with
``ConcurrentWriteError`` if the table has moved since.  Atomicity unit
is the ``execute()`` batch (one snapshot commit) — documented divergence
from HBase's row-level atomicity (SURVEY §7.2).
"""

from __future__ import annotations

import dataclasses
import datetime as _dt
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.conversion import LocalDataToArrowConversion

from hpaste_spark.schema.types import to_spark_value
from hpaste_spark.sources.storage import _local_relation, rowkey_in, sql_literal


@dataclasses.dataclass
class OpsResult:
    """OpBase.scala:112-114; ``+`` combiner tested ExampleSchema.scala:383-410."""

    numDeletes: int = 0
    numPuts: int = 0
    numIncrements: int = 0

    def __add__(self, other: "OpsResult") -> "OpsResult":
        return OpsResult(
            self.numDeletes + other.numDeletes,
            self.numPuts + other.numPuts,
            self.numIncrements + other.numIncrements,
        )


class _RowOps:
    """Staged cells for one (rowkey, op-kind)."""

    def __init__(self):
        self.cells: dict[str, tuple[Any, Any]] = {}  # qualifier -> (value, ts)
        self.map_cells: dict[str, dict] = {}  # family -> {key: (value, ts)}


class OpBase:
    """A chained mutation batch on one table (OpBase.scala:22-109)."""

    def __init__(self, table):
        self.table = table
        self.puts: dict[Any, _RowOps] = {}
        self.increments: dict[Any, _RowOps] = {}
        self.delete_rows: set = set()
        self.delete_families: dict[Any, set] = {}
        self.delete_values: dict[Any, dict] = {}  # key -> {family: set(qualifiers)}
        self._current: tuple[str, Any] | None = None
        self._put_count = 0
        self._put_calls: dict[Any, int] = {}  # key -> put() invocations
        self._delete_count = 0
        self._increment_count = 0

    # -- chain starters (HbaseTable.scala:400-404) -----------------------
    def put(self, key, write_to_wal: bool = True):
        self._current = ("put", key)
        self.puts.setdefault(key, _RowOps())
        self._put_count += 1
        self._put_calls[key] = self._put_calls.get(key, 0) + 1
        return self

    def delete(self, key):
        self._current = ("delete", key)
        self.delete_rows.add(key)
        self._delete_count += 1
        return self

    def increment(self, key):
        self._current = ("increment", key)
        self.increments.setdefault(key, _RowOps())
        self._increment_count += 1
        return self

    # -- cell setters -----------------------------------------------------
    def _cur(self, kind: str) -> tuple[Any, _RowOps]:
        if self._current is None or self._current[0] != kind:
            raise RuntimeError(f".value()/.family() called outside a {kind}() chain")
        key = self._current[1]
        store = {"put": self.puts, "increment": self.increments}[kind]
        return key, store[key]

    def value(self, ref, v, timestamp: _dt.datetime | None = None):
        """PutOp.value (PutOp.scala:28-36) / IncrementOp.value
        (IncrementOp.scala:26-31)."""
        kind = self._current[0] if self._current else "put"
        if kind == "delete":
            raise RuntimeError("delete chains use .family()/.values()")
        key, ops = self._cur(kind)
        col = self.table.resolve_column(ref)
        from hpaste_spark.schema.table import ColumnFamily

        if isinstance(col, ColumnFamily):
            raise TypeError("value() needs a typed column; use value_map() for families")
        ops.cells[col.qualifier] = (to_spark_value(v), timestamp)
        return self

    def value_map(self, ref, kv: dict, timestamps: dict | None = None):
        """PutOp.valueMap (PutOp.scala:38-50) / IncrementOp.valueMap
        (IncrementOp.scala:33-38); per-cell timestamps tested
        ExampleSchema.scala:354-381."""
        kind = self._current[0] if self._current else "put"
        key, ops = self._cur(kind)
        fam = self.table.resolve_column(ref)
        from hpaste_spark.schema.table import ColumnFamily

        if not isinstance(fam, ColumnFamily) or not fam.is_map_family:
            raise TypeError("value_map() needs a map-style family")
        cells = ops.map_cells.setdefault(fam.name, {})
        for k, v in kv.items():
            ts = (timestamps or {}).get(k)
            cells[to_spark_value(k) if not isinstance(k, tuple) else k] = (to_spark_value(v), ts)
        return self

    def family(self, ref):
        """DeleteOp.family (DeleteOp.scala:27-31)."""
        if self._current is None or self._current[0] != "delete":
            raise RuntimeError(".family() only valid in a delete() chain")
        key = self._current[1]
        fam = self.table.resolve_column(ref)
        self.delete_rows.discard(key)
        self.delete_families.setdefault(key, set()).add(fam.name)
        return self

    def values(self, ref, qualifiers):
        """DeleteOp.values (DeleteOp.scala:33-39)."""
        if self._current is None or self._current[0] != "delete":
            raise RuntimeError(".values() only valid in a delete() chain")
        key = self._current[1]
        fam = self.table.resolve_column(ref)
        self.delete_rows.discard(key)
        self.delete_values.setdefault(key, {}).setdefault(fam.name, set()).update(
            to_spark_value(q) for q in qualifiers
        )
        return self

    # -- combine (OpBase.scala:26) ----------------------------------------
    def __add__(self, other: "OpBase") -> "OpBase":
        if other.table is not self.table:
            raise ValueError("cannot combine op chains from different tables")
        out = OpBase(self.table)
        for src in (self, other):
            for k, ops in src.puts.items():
                dst = out.puts.setdefault(k, _RowOps())
                dst.cells.update(ops.cells)
                for f, m in ops.map_cells.items():
                    dst.map_cells.setdefault(f, {}).update(m)
            for k, ops in src.increments.items():
                dst = out.increments.setdefault(k, _RowOps())
                for q, (v, ts) in ops.cells.items():
                    old = dst.cells.get(q, (0, None))[0] or 0
                    dst.cells[q] = (old + v, ts)
                for f, m in ops.map_cells.items():
                    dm = dst.map_cells.setdefault(f, {})
                    for mk, (v, ts) in m.items():
                        old = dm.get(mk, (0, None))[0] or 0
                        dm[mk] = (old + v, ts)
            out.delete_rows |= src.delete_rows
            for k, fams in src.delete_families.items():
                out.delete_families.setdefault(k, set()).update(fams)
            for k, fq in src.delete_values.items():
                d = out.delete_values.setdefault(k, {})
                for f, qs in fq.items():
                    d.setdefault(f, set()).update(qs)
            out._put_count += src._put_count
            for k, c in src._put_calls.items():
                out._put_calls[k] = out._put_calls.get(k, 0) + c
            out._delete_count += src._delete_count
            out._increment_count += src._increment_count
        return out

    # -- staging -------------------------------------------------------------
    def _staged(self, puts: dict, increments: dict, default_ts) -> tuple[list, dict]:
        """The batch's cells, one entry per touched key: the put cells
        ``p_<column>``, the increment deltas ``i_<column>`` and each
        kind's per-family timestamp maps (``p_<family>__ts`` /
        ``i_<family>__ts``).  Returns the fields of the columns the
        batch names and, per row key, its cells by field name."""
        rows: dict[Any, dict[str, Any]] = {}
        for prefix, staged in (("p_", puts), ("i_", increments)):
            for key, ops in staged.items():
                row = rows.setdefault(to_spark_value(key), {})
                for q, (v, ts) in ops.cells.items():
                    row[prefix + q] = v
                    fam = self.table._columns[q].family
                    row.setdefault(prefix + fam.ts_name, {})[q] = ts or default_ts
                for fname, cells in ops.map_cells.items():
                    row[prefix + fname] = {k: v for k, (v, ts) in cells.items()}
                    row.setdefault(prefix + self.table.families[fname].ts_name, {}).update(
                        {k: (ts or default_ts) for k, (v, ts) in cells.items()}
                    )
        present = {n for row in rows.values() for n in row}
        fields = [
            T.StructField(prefix + f.name, f.dataType)
            for prefix in ("p_", "i_")
            for f in self.table.spark_schema().fields[1:]
            if prefix + f.name in present
        ]
        return fields, rows

    # -- execute ------------------------------------------------------------
    def execute(self, spark: SparkSession | None = None, write_to_wal: bool = True) -> OpsResult:
        """Apply deletes → puts → increments (README.markdown:299), commit
        one new snapshot.  Empty batch = no-op (OpBase.scala:69-71).

        The batch's keys are read at the current version (a keyed read:
        with at most ``ISIN_THRESHOLD`` keys it runs on the driver) and
        the deletes applied to them.  One relation then aligns, per key,
        its current cells ``c_<column>`` (null for a new key) with the
        staged ones; :func:`merge_sql` over it is a projection of a
        local relation, which Catalyst folds, so the merged rows are
        collected without a Spark job.  The storage commits them as an
        overlay (``ParquetStorage.write_partial``); a key whose row is
        deleted and not written again becomes a tombstone."""
        total_ops = self._put_count + self._delete_count + self._increment_count
        has_cells = any(o.cells or o.map_cells for o in self.puts.values()) or bool(
            self.delete_rows or self.delete_families or self.delete_values
        ) or any(o.cells or o.map_cells for o in self.increments.values())
        if total_ops == 0 or not has_cells and not (self.delete_rows or self.delete_families or self.delete_values):
            return OpsResult(0, 0, 0)
        if spark is None:
            from pyspark.sql import SparkSession as _S

            spark = _S.getActiveSession()
        default_ts = _dt.datetime.now(_dt.timezone.utc)
        storage = self.table._require_storage()
        version = storage.current_version()
        schema = self.table.spark_schema()

        # Reference parity (OpBase.scala prepareOperations !put.isEmpty
        # guard): a .put(key) chain that never set a cell is skipped
        # entirely — it must not merge as a phantom all-null row — and is
        # excluded from numPuts.
        real_puts = {k: o for k, o in self.puts.items() if o.cells or o.map_cells}
        empty_put_chains = sum(
            calls for k, calls in self._put_calls.items() if k not in real_puts
        )
        increments = (
            self.increments
            if any(o.cells or o.map_cells for o in self.increments.values())
            else {}
        )
        staged_fields, staged = self._staged(real_puts, increments, default_ts)
        deleted = [*self.delete_rows, *self.delete_families, *self.delete_values]
        keys = list(dict.fromkeys([*(to_spark_value(k) for k in deleted), *staged]))
        current = self.table.to_df(spark, keys=keys, version=version).filter(rowkey_in(keys))
        current = apply_deletes(self.table, current, self.delete_rows, self.delete_families, self.delete_values)
        cells = {r[0]: r[1:] for r in current.collect()}
        rows = []
        if cells or staged:
            stored = [T.StructField("c_" + f.name, f.dataType) for f in schema.fields[1:]]
            aligned = T.StructType([schema.fields[0], *stored, *staged_fields])
            none = (None,) * len(stored)
            data = [
                (k, *cells.get(k, none), *(staged.get(k, {}).get(f.name) for f in staged_fields))
                for k in dict.fromkeys([*cells, *staged])
            ]
            put = {f.name[2:]: _q(f.name) for f in staged_fields if f.name.startswith("p_")} or None
            inc = {f.name[2:]: _q(f.name) for f in staged_fields if f.name.startswith("i_")} or None
            relation = _local_relation(spark, LocalDataToArrowConversion.convert(data, aligned, False), aligned)
            rows = relation.selectExpr(
                "rowkey", *merge_sql(self.table, lambda n: _q("c_" + n), put, inc)
            ).collect()
        storage.write_partial(spark, schema, rows, keys, read_version=version)
        return OpsResult(
            self._delete_count, self._put_count - empty_put_chains, self._increment_count
        )


# ---------------------------------------------------------------------------
# merge primitives (shared with the bulk/job write path)
# ---------------------------------------------------------------------------


def apply_deletes(table, df: DataFrame, rows: set, families: dict, values: dict) -> DataFrame:
    """Apply a batch's deletes to the stored rows: row deletes filter
    the key out; ``.family()`` deletes null the family's cells (a map
    family's map) and its ``__ts`` map; ``.values()`` deletes null the
    named typed cells and drop the named keys from a map family and
    from the ``__ts`` map.  Scoped deletes compose, per touched column,
    into ONE ``CASE WHEN rowkey = … THEN … ELSE col END`` expression —
    family deletes then value deletes for each key, as they apply —
    written as SQL text (the :func:`merge_sql` move) and issued as one
    projection, so neither the plan nor the Python-side expression
    building grows a call per (column, key)."""
    if rows:
        df = df.filter(~rowkey_in([to_spark_value(k) for k in rows]))
    # column -> {key: [cell transform, ...]} in application order
    steps: dict[str, dict[Any, list]] = {}

    def add(key, column, step) -> None:
        steps.setdefault(column, {}).setdefault(to_spark_value(key), []).append(step)

    def null(column):
        return lambda c: f"CAST(NULL AS {dtypes[column].simpleString()})"

    def drop_keys(qs):
        keys = ", ".join(sql_literal(q) for q in qs)
        return lambda c: f"map_filter({c}, (k__, v__) -> NOT k__ IN ({keys}))"

    for key, fams in families.items():
        for fname in fams:
            fam = table.families[fname]
            cols = [fam.name] if fam.is_map_family else [c.qualifier for c in fam.columns.values()]
            for column in cols + [fam.ts_name]:
                add(key, column, null(column))
    for key, fam_quals in values.items():
        for fname, quals in fam_quals.items():
            fam = table.families[fname]
            qlist = list(quals)
            if fam.is_map_family:
                targets = [fam.name, fam.ts_name]
            else:
                targets = [fam.ts_name]
                for q in qlist:
                    if q in fam.columns:
                        add(key, q, null(q))
            for t in targets:
                add(key, t, drop_keys(qlist))
    if not steps:
        return df
    dtypes = {f.name: f.dataType for f in df.schema.fields}

    def cell(column: str) -> str:
        branches = []
        for key, fns in steps[column].items():
            value = _q(column)
            for fn in fns:
                value = fn(value)
            branches.append(f"WHEN rowkey = {sql_literal(key)} THEN {value}")
        return f"CASE {' '.join(branches)} ELSE {_q(column)} END AS {_q(column)}"

    return df.selectExpr(*[cell(c) if c in steps else _q(c) for c in df.columns])


def _q(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _is_numeric(dtype) -> bool:
    return isinstance(dtype, T.NumericType)


def _empty(dtype) -> str:
    return f"CAST(map() AS {dtype.simpleString()})"


def _overlay(old: str, new: str | None, dtype) -> str:
    """map_concat with new-keys-override semantics (M2); a null map
    counts as empty."""
    old_nn = f"coalesce({old}, {_empty(dtype)})"
    if new is None:
        return old_nn
    new_nn = f"coalesce({new}, {_empty(dtype)})"
    return (
        f"map_concat(map_filter({old_nn}, (k__, v__) -> "
        f"NOT array_contains(map_keys({new_nn}), k__)), {new_nn})"
    )


def merge_sql(table, old, put: dict | None = None, inc: dict | None = None) -> list[str]:
    """The cell rules, as one SQL expression per stored column after
    ``rowkey``: the batch's puts, then its increments, over the stored
    value.  ``old(name)`` is the SQL of the stored cell; ``put`` /
    ``inc`` map a column name to the SQL of its staged cells (a column
    they lack has none), and are None when the batch has no puts / no
    increments.

    - put: a typed cell is replaced when the put names it (M1); map
      families and the ``__ts`` maps overlay by key (M2, M3).
    - increment: numeric cells and numeric map values become
      ``coalesce(old, 0) + delta`` (M8; HBase increments are longs,
      IncrementOp.scala:26), other cells pass through; the ``__ts``
      maps overlay.

    Each expression is cast back to the declared type, so an increment
    of a narrow or decimal column stores the table's own type."""
    out = []
    for fam in table.families.values():
        for field in fam.spark_fields():
            name, dtype = field.name, field.dataType
            is_map = name == fam.ts_name or fam.is_map_family
            e = old(name)
            if put is not None:
                new = put.get(name)
                if is_map:
                    e = _overlay(e, new, dtype)
                elif new is not None:
                    e = f"coalesce({new}, {e})"
            if inc is not None:
                new = inc.get(name)
                if name == fam.ts_name:
                    e = _overlay(e, new, dtype)
                elif is_map and _is_numeric(dtype.valueType):
                    delta = f"coalesce({new or 'NULL'}, {_empty(dtype)})"
                    e = (
                        f"map_zip_with(coalesce({e}, {_empty(dtype)}), {delta}, "
                        f"(k__, v1__, v2__) -> coalesce(v1__, 0) + coalesce(v2__, 0))"
                    )
                elif not is_map and _is_numeric(dtype) and new is not None:
                    e = f"CASE WHEN {new} IS NULL THEN {e} ELSE coalesce({e}, 0) + {new} END"
            out.append(f"CAST({e} AS {dtype.simpleString()}) AS {_q(name)}")
    return out


def _merge_full_outer(table, current: DataFrame, batch: DataFrame, increments: bool) -> DataFrame:
    """Full-outer merge of a DataFrame batch in the table schema (its
    keys are unbounded, so neither side can be broadcast): the batch's
    cells are puts, or with ``increments`` deltas."""
    joined = current.alias("cur").join(
        batch.alias("new"), F.col("cur.rowkey") == F.col("new.rowkey"), "full_outer"
    )
    new = {f.name: f"new.{_q(f.name)}" for f in table.spark_schema().fields[1:]}
    put, inc = (None, new) if increments else (new, None)
    return joined.selectExpr(
        "coalesce(cur.rowkey, new.rowkey) AS rowkey",
        *merge_sql(table, lambda n: f"cur.{_q(n)}", put, inc),
    )


def bulk_merge_increments(
    table, batch_df: DataFrame, marker_file: "tuple[str, str] | None" = None
) -> None:
    """Bulk increment sink: merge a DataFrame of DELTAS (table schema,
    numeric cells = amounts to add, absent cells null) into the table.

    The distributed twin of the IncrementOp client DSL: same cell rules
    (:func:`merge_sql`), but the delta relation stays a DataFrame end to
    end — no driver collect — so counter-key cardinality is unbounded
    (the merge is a full-outer join on rowkey, shuffle-sized by the
    data, not by the driver's memory).

    ``marker_file`` is forwarded to the snapshot publish (sidecar
    written before the atomic version flip) — the exactly-once
    primitive the streaming increment sink rides on."""
    from pyspark.sql import SparkSession as _S

    spark = _S.getActiveSession()
    version = table._require_storage().current_version()
    current = table.to_df(spark, version=version)
    merged = _merge_full_outer(table, current, batch_df, increments=True)
    table.overwrite(merged, marker_file=marker_file, read_version=version)


def bulk_merge_put(table, batch_df: DataFrame) -> None:
    """S12-equivalent bulk sink: merge a full DataFrame of rows into the
    table (the reducer→HTableOutput path, mapreduce2.scala:592-603).
    The batch must have the table schema."""
    from pyspark.sql import SparkSession as _S

    spark = _S.getActiveSession()
    version = table._require_storage().current_version()
    current = table.to_df(spark, version=version)
    table.overwrite(_merge_full_outer(table, current, batch_df, increments=False), read_version=version)


class MultiTableBatch:
    """S13 — route each mutation chain to one of N registered tables
    (HMultiTableOutput, mapreduce2.scala:575-587; table-name validation
    at :794-809).  ``on(name)`` opens/continues the per-table batch;
    ``execute()`` commits every table's batch and sums the OpsResults
    (one snapshot commit per table — same per-target atomicity as the
    reference's per-table writers)."""

    def __init__(self, *tables):
        # _table_name is the uncloberrable registered name (a user column
        # attribute may shadow .name, e.g. a declared column "name")
        self._by_name = {getattr(t, "_table_name", t.name): t for t in tables}
        self._ops: dict[str, OpBase] = {}

    def on(self, table_name: str) -> OpBase:
        if table_name not in self._by_name:
            raise KeyError(
                f"table {table_name!r} is not a registered output "
                f"(have: {sorted(self._by_name)})"
            )
        return self._ops.setdefault(table_name, OpBase(self._by_name[table_name]))

    def execute(self, spark=None) -> OpsResult:
        total = OpsResult()
        for op in self._ops.values():
            total = total + op.execute(spark)
        return total
