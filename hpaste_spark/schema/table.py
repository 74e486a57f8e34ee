"""Schema / HTable / ColumnFamily / Column — the typed-schema DSL.

Reference model (SURVEY §1):
- ``Schema``       registry of tables — Schema.scala:246-256
- ``HbaseTable``   typed table, row key converter — HbaseTable.scala:51
- ``ColumnFamily`` storage-config'd cell group — HbaseTable.scala:488-496
- ``Column``       strongly-typed (family, qualifier) cell — HbaseTable.scala:501-515

Spark mapping: a table is a StructType + a versioned-parquet storage
location.  Typed columns become top-level columns named by their
qualifier; a map-style family (dynamic qualifiers, README.markdown:269)
becomes one ``MAP<K,V>`` column; every family gets a sibling
``<fam>__ts MAP<key,TIMESTAMP>`` recording per-cell write timestamps
(the DeserializedResult timestamp lookaside, DeserializedResult.scala:111).
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from hpaste_spark.schema.types import spark_type
from hpaste_spark.sources.storage import ParquetStorage

TS_SUFFIX = "__ts"


class ColumnFamily:
    """Reference: family[K,V](name, compressed, versions, rowTtlInSeconds)
    — HbaseTable.scala:365-371.  ``compressed``/``versions``/``ttl`` are
    carried as storage hints (parquet is always compressed; versions=1 is
    the only behavior the reference's own tests exercise, Query2.scala:491).
    """

    def __init__(
        self,
        table: "HTable",
        name: str,
        compressed: bool = False,
        versions: int = 1,
        row_ttl_seconds: int | None = None,
        key_type: Any = str,
        value_type: Any = None,
    ):
        self.table = table
        self.name = name
        self.compressed = compressed
        self.versions = versions
        self.row_ttl_seconds = row_ttl_seconds
        self.key_type = key_type
        self.value_type = value_type  # non-None ⇒ map-style family
        self.columns: dict[str, "Column"] = {}

    @property
    def is_map_family(self) -> bool:
        return self.value_type is not None

    @property
    def ts_name(self) -> str:
        return self.name + TS_SUFFIX

    def spark_fields(self) -> list[T.StructField]:
        if self.is_map_family:
            kt = spark_type(self.key_type)
            vt = spark_type(self.value_type)
            return [
                T.StructField(self.name, T.MapType(kt, vt)),
                T.StructField(self.ts_name, T.MapType(kt, T.TimestampType())),
            ]
        fields = [T.StructField(c.qualifier, c.dtype) for c in self.columns.values()]
        fields.append(T.StructField(self.ts_name, T.MapType(T.StringType(), T.TimestampType())))
        return fields

    def __repr__(self):
        kind = "map" if self.is_map_family else "typed"
        return f"ColumnFamily({self.name!r}, {kind})"


class Column:
    """Reference: Column[T,R,F,K,V] — HbaseTable.scala:501-515.
    A strongly-typed cell; in Spark, a top-level column named by its
    qualifier."""

    def __init__(self, family: ColumnFamily, qualifier: str, dtype_spec: Any):
        self.family = family
        self.qualifier = qualifier
        self.dtype = spark_type(dtype_spec)

    @property
    def name(self) -> str:
        return self.qualifier

    def __repr__(self):
        return f"Column({self.family.name}:{self.qualifier} {self.dtype.simpleString()})"


class HTable:
    """Reference: HbaseTable[T, R, RR] — HbaseTable.scala:51.

    Declare families/columns in ``__init__`` of a subclass (the Scala
    ``val`` pattern), or imperatively on an instance.  ``query2()``
    opens the read DSL; ``put()/delete()/increment()`` open the mutation
    DSL (HbaseTable.scala:400-404).
    """

    def __init__(
        self,
        schema: "Schema",
        name: str,
        key_type: Any = str,
        base_dir: str | None = None,
        row_builder: Callable | None = None,
        cache=None,
        df_provider: Callable[[SparkSession], DataFrame] | None = None,
        partition_prefix_len: int | None = None,
        keep_versions: int = 2,
    ):
        self.schema_registry = schema
        self.name = name
        # uncloberrable copy: a user column attribute may shadow .name
        # (e.g. a declared column literally called "name")
        self._table_name = name
        self.key_type = key_type
        self.families: dict[str, ColumnFamily] = {}
        self._columns: dict[str, Column] = {}
        self.row_builder = row_builder
        self.cache = cache
        # "DataFrame over HBase connector" shape: a table may be backed by
        # any connector-produced DataFrame instead of our parquet storage
        # (BASELINE.json spark_approach).  The provider must yield the
        # table's spark_schema() columns.
        self.df_provider = df_provider
        base = base_dir if base_dir is not None else schema.base_dir
        self.storage = (
            ParquetStorage(base, name, partition_prefix_len, keep_versions=keep_versions)
            if base
            else None
        )
        schema._register(self)

    # -- declaration ----------------------------------------------------
    def family(
        self, name: str, compressed: bool = False, versions: int = 1, row_ttl_seconds: int | None = None
    ) -> ColumnFamily:
        """Typed-column family (HbaseTable.scala:365-371)."""
        fam = ColumnFamily(self, name, compressed, versions, row_ttl_seconds)
        self.families[name] = fam
        return fam

    def family_map(
        self,
        name: str,
        key_type: Any,
        value_type: Any,
        compressed: bool = False,
        versions: int = 1,
        row_ttl_seconds: int | None = None,
    ) -> ColumnFamily:
        """Map-style family: the family IS the data, qualifiers are dynamic
        keys (README.markdown:269; e.g. searchMetrics family[DateMidnight,Long],
        WebCrawlSchemaTest.scala:33)."""
        fam = ColumnFamily(
            self, name, compressed, versions, row_ttl_seconds, key_type=key_type, value_type=value_type
        )
        self.families[name] = fam
        return fam

    def column(self, family: ColumnFamily, qualifier: str, dtype_spec: Any) -> Column:
        """Typed column (HbaseTable.scala:333-361)."""
        if family.is_map_family:
            raise ValueError(f"family {family.name} is map-style; it has no declared columns")
        if qualifier in self._columns or qualifier in self.families:
            raise ValueError(f"duplicate column name {qualifier!r} in table {self.name}")
        col = Column(family, qualifier, dtype_spec)
        family.columns[qualifier] = col
        self._columns[qualifier] = col
        return col

    # -- schema ----------------------------------------------------------
    def spark_schema(self) -> T.StructType:
        fields = [T.StructField("rowkey", spark_type(self.key_type), nullable=False)]
        for fam in self.families.values():
            fields.extend(fam.spark_fields())
        return T.StructType(fields)

    def resolve_column(self, ref) -> Column | ColumnFamily:
        """Resolve a column reference: a Column/ColumnFamily object, a
        name string, or a lambda ``lambda t: t.title`` (the reference's
        ``_.title`` DSL, README.markdown:92)."""
        if isinstance(ref, (Column, ColumnFamily)):
            return ref
        if callable(ref):
            return self.resolve_column(ref(self))
        if isinstance(ref, str):
            if ref in self._columns:
                return self._columns[ref]
            if ref in self.families:
                return self.families[ref]
        raise KeyError(f"unknown column/family {ref!r} on table {self.name}")

    # -- lifecycle --------------------------------------------------------
    def create(self, spark: SparkSession) -> None:
        self._require_storage().create(spark, self.spark_schema())

    def drop(self) -> None:
        self._require_storage().drop()

    def create_script(self) -> str:
        """DDL emission (reference emits hbase-shell scripts,
        HbaseTable.scala:234-243; golden-tested ExampleSchema.scala:172-198).
        We emit the equivalent Spark SQL DDL."""
        cols = ",\n  ".join(f"{f.name} {f.dataType.simpleString()}" for f in self.spark_schema().fields)
        props = []
        for fam in self.families.values():
            if fam.compressed:
                props.append(f"-- family {fam.name}: compressed")
            if fam.row_ttl_seconds:
                props.append(f"-- family {fam.name}: ttl={fam.row_ttl_seconds}s")
            if fam.versions != 1:
                props.append(f"-- family {fam.name}: versions={fam.versions}")
        prop_str = ("\n" + "\n".join(props)) if props else ""
        return f"CREATE TABLE {self.name} (\n  {cols}\n) USING parquet{prop_str}"

    def alter_script(self, existing_columns: set[str] | None = None) -> str:
        """ALTER DDL for columns not yet present (reference emits alter
        statements per family, HbaseTable.scala:272-284).  With no
        existing-column set, every column is emitted as ADD COLUMNS."""
        existing = existing_columns or set()
        adds = [
            f"{f.name} {f.dataType.simpleString()}"
            for f in self.spark_schema().fields
            if f.name not in existing
        ]
        if not adds:
            return f"-- table {self.name}: schema up to date"
        return f"ALTER TABLE {self.name} ADD COLUMNS (\n  " + ",\n  ".join(adds) + "\n)"

    def delete_script(self) -> str:
        return f"DROP TABLE IF EXISTS {self.name}"

    # -- IO ----------------------------------------------------------------
    def _require_storage(self) -> ParquetStorage:
        if self.storage is None:
            raise RuntimeError(f"table {self.name} has no storage directory configured")
        return self.storage

    def to_df(
        self,
        spark: SparkSession,
        key_prefixes: list[str] | None = None,
        key_prefix_range: tuple[str | None, str | None] | None = None,
        version: int | None = None,
        keys: list | None = None,
    ) -> DataFrame:
        """The table as a DataFrame (a snapshot of its storage, or its
        connector's DataFrame).  ``keys`` names the row keys a point get
        or multi-get wants: storage may then return only those rows
        (see :meth:`ParquetStorage.read`), so the caller still applies
        its own key filter."""
        if self.df_provider is not None:
            if version is not None:
                raise ValueError(
                    f"table {self.name} is connector-backed; snapshot time travel "
                    "requires parquet storage"
                )
            return self.df_provider(spark)
        return self._require_storage().read(
            spark,
            self.spark_schema(),
            key_prefixes=key_prefixes,
            key_prefix_range=key_prefix_range,
            version=version,
            keys=keys,
        )

    def overwrite(
        self,
        df: DataFrame,
        marker_file: "tuple[str, str] | None" = None,
        read_version: int | None = None,
    ) -> int:
        """Publish ``df`` as the whole table (see
        :meth:`ParquetStorage.write`)."""
        return self._require_storage().write(df, marker_file=marker_file, read_version=read_version)

    def compact(self, spark: SparkSession) -> int:
        """Fold the overlay the mutation batches left into the base
        files (HBase ``major_compact``; see
        :meth:`ParquetStorage.compact`).  Returns the table's version."""
        return self._require_storage().compact(spark, self.spark_schema())

    # -- DSL entry points --------------------------------------------------
    def query2(self, spark: SparkSession):
        """Read DSL (HbaseTable.scala:400 → Query2Builder.scala:20-61)."""
        from hpaste_spark.plans.query import Query2Builder

        return Query2Builder(self, spark)

    def put(self, key, write_to_wal: bool = True):
        """Mutation DSL (HbaseTable.scala:402; PutOp.scala:28-50).
        ``write_to_wal`` accepted for parity; durability here is the
        snapshot commit (SURVEY §2.6 M10)."""
        from hpaste_spark.operators.mutations import OpBase

        return OpBase(self).put(key, write_to_wal)

    def delete(self, key):
        from hpaste_spark.operators.mutations import OpBase

        return OpBase(self).delete(key)

    def increment(self, key):
        from hpaste_spark.operators.mutations import OpBase

        return OpBase(self).increment(key)

    def __repr__(self):
        return f"HTable({self.name!r}, families={list(self.families)})"


class Schema:
    """Reference: Schema — a registry of tables (Schema.scala:246-256)."""

    def __init__(self, base_dir: str | None = None):
        self.base_dir = base_dir
        self.tables: dict[str, HTable] = {}

    def _register(self, table: HTable) -> HTable:
        self.tables[table.name] = table
        return table

    def create_all(self, spark: SparkSession) -> None:
        for t in self.tables.values():
            t.create(spark)

    def drop_all(self) -> None:
        for t in self.tables.values():
            t.drop()
