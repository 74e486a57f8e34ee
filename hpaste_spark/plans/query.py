"""Query2 — the read-path DSL (SURVEY §2.1-§2.3).

Reference: Query2 / Query2Builder (Query2.scala:49-1042,
Query2Builder.scala:20-61).  The reference's IR is raw byte keys +
family/column byte lists + an HBase Filter tree; construction *is*
planning (SURVEY §3.1).  Ours is strictly better-placed: the builder
emits an unresolved DataFrame plan (filters/projections as Column
expressions) and Catalyst does predicate pushdown, column pruning and
join selection — the optimizations the reference hand-rolled
server-side (SURVEY §4).

Filter semantics note: the reference's column-value predicates use
``SingleColumnValueFilter`` with ``setFilterIfMissing(true)`` — a row
*lacking the column is dropped* (Query2.scala:194-237).  Every
translated predicate therefore conjoins ``IS NOT NULL``.

Cell filters (map-family qualifier predicates F13-F16) restrict which
*cells* of a family are returned, not which rows — they are applied as
``map_filter`` transforms on the projected map column, mirroring
HBase's ColumnRangeFilter/ColumnPaginationFilter behavior.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable

from pyspark.sql import Column as SqlCol
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hpaste_spark.schema.row import HRow, build_rows
from hpaste_spark.schema.table import Column, ColumnFamily, HTable
from hpaste_spark.sources.storage import ISIN_THRESHOLD


class CellFilter:
    """A per-cell (map-qualifier) transform on one family."""

    def __init__(self, family: ColumnFamily, fn: Callable[[SqlCol], SqlCol], desc: str):
        self.family = family
        self.fn = fn
        self.desc = desc


class ClauseBuilder:
    """Builds one AND/OR group of predicates (Query2.scala:90-127).

    Methods mirror the reference predicate inventory F1-F18
    (Query2.scala:134-326); each returns ``self`` for chaining.  Row
    predicates accumulate as Column expressions; cell filters accumulate
    separately (see module docstring).
    """

    def __init__(self, table: HTable):
        self.table = table
        self.row_preds: list[SqlCol] = []
        self.cell_filters: list[CellFilter] = []

    def _col(self, ref) -> tuple[SqlCol, Column]:
        col = self.table.resolve_column(ref)
        if isinstance(col, ColumnFamily):
            raise TypeError(f"{col.name} is a family; this predicate needs a typed column")
        return F.col(col.name), col

    def _fam(self, ref) -> ColumnFamily:
        fam = self.table.resolve_column(ref)
        if not isinstance(fam, ColumnFamily) or not fam.is_map_family:
            raise TypeError("this predicate needs a map-style family")
        return fam

    # F1 — Query2.scala:194-200
    def column_value_must_equal(self, ref, v):
        c, _ = self._col(ref)
        self.row_preds.append(c.isNotNull() & (c == F.lit(v)))
        return self

    # F2 — Query2.scala:134-140
    def column_value_must_not_equal(self, ref, v):
        c, _ = self._col(ref)
        self.row_preds.append(c.isNotNull() & (c != F.lit(v)))
        return self

    # F3 — Query2.scala:202-213
    def column_value_must_be_in(self, ref, values: Iterable):
        c, _ = self._col(ref)
        self.row_preds.append(c.isNotNull() & c.isin(list(values)))
        return self

    # F4 — Query2.scala:215-221
    def column_value_must_be_greater_than(self, ref, v):
        c, _ = self._col(ref)
        self.row_preds.append(c.isNotNull() & (c > F.lit(v)))
        return self

    # F5 — Query2.scala:223-229
    def column_value_must_be_less_than(self, ref, v):
        c, _ = self._col(ref)
        self.row_preds.append(c.isNotNull() & (c < F.lit(v)))
        return self

    # F6 — Query2.scala:231-237 (presence; impl != bytes(0))
    def column_value_must_be_present(self, ref):
        c, _ = self._col(ref)
        self.row_preds.append(c.isNotNull())
        return self

    # F7 — Query2.scala:142-147
    def column_value_must_start_with(self, ref, prefix: str):
        c, _ = self._col(ref)
        self.row_preds.append(c.isNotNull() & c.startswith(prefix))
        return self

    # F8 — Query2.scala:152-157
    def column_value_must_contain(self, ref, substr: str):
        c, _ = self._col(ref)
        self.row_preds.append(c.isNotNull() & c.contains(substr))
        return self

    # F9 — Query2.scala:181-186
    def column_value_must_not_contain(self, ref, substr: str):
        c, _ = self._col(ref)
        self.row_preds.append(c.isNotNull() & ~c.contains(substr))
        return self

    # F10 — Query2.scala:173-178
    def column_value_must_pass_regex(self, ref, regex: str):
        c, _ = self._col(ref)
        self.row_preds.append(c.isNotNull() & c.rlike(regex))
        return self

    # F11 — Query2.scala:272-277 (deprecated in reference)
    def where_column_must_exist(self, ref):
        return self.column_value_must_be_present(ref)

    # F13 — Query2.scala:239-257 (map-family qualifier bounds; cell filter)
    def less_than_column_key(self, ref, key):
        fam = self._fam(ref)
        self.cell_filters.append(
            CellFilter(fam, lambda m, k=key: F.map_filter(m, lambda q, v: q <= F.lit(k)), f"q<={key}")
        )
        return self

    def greater_than_column_key(self, ref, key):
        fam = self._fam(ref)
        self.cell_filters.append(
            CellFilter(fam, lambda m, k=key: F.map_filter(m, lambda q, v: q >= F.lit(k)), f"q>={key}")
        )
        return self

    # F14 — Query2.scala:279-290
    def between_column_keys(self, ref, lo, hi):
        fam = self._fam(ref)
        self.cell_filters.append(
            CellFilter(
                fam,
                lambda m, a=lo, b=hi: F.map_filter(m, lambda q, v: (q >= F.lit(a)) & (q <= F.lit(b))),
                f"{lo}<=q<={hi}",
            )
        )
        return self

    # F15 — Query2.scala:159-171 (row filter: all qualifiers must be >= k)
    def where_family_has_key_greater_than(self, ref, key):
        fam = self._fam(ref)
        m = F.col(fam.name)
        self.row_preds.append(
            m.isNotNull() & (F.size(F.map_filter(m, lambda q, v: q < F.lit(key))) == 0)
        )
        return self

    # F18 — Query2.scala:150 (structural no-op)
    def no_clause(self):
        self.row_preds.append(F.lit(True))
        return self

    # Escape hatch — Query2.scala:86-88 withFilter(rawFilter)
    def raw(self, column_expr: SqlCol):
        self.row_preds.append(column_expr)
        return self

    def _combined(self, op: str) -> SqlCol | None:
        if not self.row_preds:
            return None
        out = self.row_preds[0]
        for p in self.row_preds[1:]:
            out = (out & p) if op == "and" else (out | p)
        return out

    # reference camelCase aliases (parity surface)
    columnValueMustEqual = column_value_must_equal
    columnValueMustNotEqual = column_value_must_not_equal
    columnValueMustBeIn = column_value_must_be_in
    columnValueMustBeGreaterThan = column_value_must_be_greater_than
    columnValueMustBeLessThan = column_value_must_be_less_than
    columnValueMustBePresent = column_value_must_be_present
    columnValueMustStartWith = column_value_must_start_with
    columnValueMustContain = column_value_must_contain
    columnValueMustNotContain = column_value_must_not_contain
    columnValueMustPassRegex = column_value_must_pass_regex
    whereColumnMustExist = where_column_must_exist
    lessThanColumnKey = less_than_column_key
    greaterThanColumnKey = greater_than_column_key
    betweenColumnKeys = between_column_keys
    whereFamilyHasKeyGreaterThan = where_family_has_key_greater_than
    noClause = no_clause


class _StopScan(Exception):
    """Internal early-exit signal (reference: Stopable, Query2.scala:1016)."""


class Query2Builder:
    """Fluent query builder (Query2Builder.scala:20-61 + Query2.scala).

    Terminal ops: ``to_df`` (the plan), ``single`` / ``single_option``
    (S1), ``multi_map`` (S2), ``scan`` (S3), ``scan_to_iterable`` (S4),
    ``scan_until`` (S5).
    """

    def __init__(self, table: HTable, spark: SparkSession):
        self.table = table
        self.spark = spark
        self.keys: list[Any] = []
        self.sel_families: list[ColumnFamily] = []
        self.sel_columns: list[Column] = []
        self.fam_key_sel: dict[str, list] = {}  # P2: named qualifiers per map family
        self.pagination: dict[str, tuple[int, int]] = {}  # F16
        self.row_preds: list[SqlCol] = []
        self.cell_filters: list[CellFilter] = []
        self.start_row = None
        self.end_row = None
        self.ts_range: tuple | None = None
        self.limit_rows: int | None = None
        self.batch_size: int | None = None  # F21 — RPC chunking artifact; no-op
        self.snapshot_version: int | None = None
        self._selected = False

    def as_of_version(self, version: int):
        """Time travel: run this query against snapshot ``version``
        instead of the current one (within the storage layer's
        ``keep_versions`` horizon).  The temporal sibling of F20's
        cell-time-range reads, at table granularity."""
        self.snapshot_version = version
        return self

    # -- keys -------------------------------------------------------------
    def with_key(self, key):
        """S1 (Query2.scala:330-333)."""
        self.keys.append(key)
        return self

    def with_keys(self, keys: Iterable):
        """S2 (Query2.scala:336-341)."""
        self.keys.extend(keys)
        return self

    # -- projection (P1-P4, Query2.scala:422-456) -------------------------
    def with_all_columns(self):
        self._selected = True
        return self

    def with_families(self, *refs):
        for r in refs:
            fam = self.table.resolve_column(r)
            if isinstance(fam, Column):
                raise TypeError(f"{fam.name} is a column, not a family")
            self.sel_families.append(fam)
        self._selected = True
        return self

    def with_columns(self, *refs):
        for r in refs:
            col = self.table.resolve_column(r)
            if isinstance(col, ColumnFamily):
                raise TypeError(f"{col.name} is a family, not a column")
            self.sel_columns.append(col)
        self._selected = True
        return self

    def with_column(self, ref):  # deprecated single-col form (Query2.scala:438-448)
        return self.with_columns(ref)

    def with_columns_in_family(self, ref, *keys):
        """P2 — named dynamic qualifiers of a map family (Query2.scala:430-436)."""
        fam = self.table.resolve_column(ref)
        if not isinstance(fam, ColumnFamily) or not fam.is_map_family:
            raise TypeError("with_columns_in_family needs a map-style family")
        self.fam_key_sel.setdefault(fam.name, []).extend(keys)
        self._selected = True
        return self

    # -- filters (Query2.scala:63-127) ------------------------------------
    def filter(self, *clause_fns):
        """AND of clause groups; each fn receives a ClauseBuilder and
        calls ``.and_(...)`` / ``.or_(...)``-style predicates on it."""
        for fn in clause_fns:
            cb = ClauseBuilder(self.table)
            fn(cb)
            pred = cb._combined("and")
            if pred is not None:
                self.row_preds.append(pred)
            self.cell_filters.extend(cb.cell_filters)
        return self

    def filter_or(self, *clause_fns):
        ors = []
        for fn in clause_fns:
            cb = ClauseBuilder(self.table)
            fn(cb)
            pred = cb._combined("or")
            if pred is not None:
                ors.append(pred)
            self.cell_filters.extend(cb.cell_filters)
        if ors:
            out = ors[0]
            for p in ors[1:]:
                out = out | p
            self.row_preds.append(out)
        return self

    def with_filter(self, column_expr: SqlCol):
        """Raw-filter escape hatch (Query2.scala:86-88)."""
        self.row_preds.append(column_expr)
        return self

    # -- ranges ------------------------------------------------------------
    def with_start_row(self, key):
        """F19 (Query2.scala:361-364); inclusive."""
        self.start_row = key
        return self

    def with_end_row(self, key):
        """F19 (Query2.scala:366-369); exclusive (HBase stop-row)."""
        self.end_row = key
        return self

    def between_dates(self, start, end):
        """F20 (Query2.scala:345-349) — cell-timestamp range [start, end)."""
        self.ts_range = (start, end)
        return self

    def after_date(self, start):
        self.ts_range = (start, None)
        return self

    def until_date(self, end):
        self.ts_range = (None, end)
        return self

    # -- misc ---------------------------------------------------------------
    def with_pagination_for_family(self, ref, page_size: int, page_offset: int):
        """F16 (Query2.scala:316-326) — per-row page of a family's cells."""
        fam = self.table.resolve_column(ref)
        self.pagination[fam.name] = (page_size, page_offset)
        self._selected = True
        return self

    def max_rows_per_server(self, n: int):
        """F17 (Query2.scala:189-192).  Reference semantics are per-region-
        server (approximate); ours is an exact global limit — documented
        divergence (SURVEY §7.2)."""
        self.limit_rows = n
        return self

    def with_batch_size(self, n: int):
        """F21 (Query2.scala:371-374) — intra-row RPC chunking; a no-op in
        a columnar engine (accepted for parity)."""
        self.batch_size = n
        return self

    # -- plan construction ---------------------------------------------------
    def _native_key_values(self, df: DataFrame):
        """If the table's rowkey is derived from source columns
        (rowkey_source_columns), parse the requested string keys back to
        native column values so the predicate pushes to the scan."""
        src = getattr(self.table, "rowkey_source_columns", None)
        if not src:
            return None
        import datetime as _dt

        from pyspark.sql import types as T

        def parse(raw: str, dtype):
            if isinstance(dtype, (T.LongType, T.IntegerType, T.ShortType)):
                return int(raw)
            if isinstance(dtype, (T.DoubleType, T.FloatType)):
                return float(raw)
            if isinstance(dtype, T.StringType):
                return raw
            if isinstance(dtype, T.TimestampType):
                return _dt.datetime.fromisoformat(raw)
            raise ValueError(f"unsupported native key type {dtype}")

        try:
            out = []
            for k in self.keys:
                parts = str(k).split("_") if len(src) > 1 else [str(k)]
                if len(parts) != len(src):
                    return None
                out.append(
                    tuple(parse(p, df.schema[c].dataType) for p, c in zip(parts, src))
                )
            return out
        except (ValueError, KeyError):
            return None  # unparseable key → fall back to derived-column filter

    def _key_filter(self, df: DataFrame) -> DataFrame:
        if not self.keys:
            return df
        src = getattr(self.table, "rowkey_source_columns", None)
        native = self._native_key_values(df) if src else None
        if native is not None and len(src) == 1:
            # single-column key: native IN-predicate reaches the parquet
            # row-group stats (point gets prune instead of scanning)
            return df.filter(F.col(src[0]).isin([v[0] for v in native]))
        if native is not None and len(self.keys) <= ISIN_THRESHOLD:
            # composite key: OR of per-column conjunctions (still pushable
            # as min/max pruning on the leading column)
            combined = None
            for values in native:
                conj = None
                for c, v in zip(src, values):
                    term = F.col(c) == F.lit(v)
                    conj = term if conj is None else (conj & term)
                combined = conj if combined is None else (combined | conj)
            return df.filter(combined)
        if len(self.keys) <= ISIN_THRESHOLD:
            return df.filter(F.col("rowkey").isin(self.keys))
        keys_df = self.spark.createDataFrame(
            [(k,) for k in self.keys], schema=f"rowkey {df.schema['rowkey'].dataType.simpleString()}"
        )
        return df.join(F.broadcast(keys_df), "rowkey", "left_semi")

    def _selected_output(self) -> tuple[list[str], dict[str, SqlCol]]:
        """Resolve projection → (output column names, per-map-family transform)."""
        if not self._selected:
            raise ValueError(
                "query specifies no columns/families — call with_all_columns/"
                "with_families/with_columns first (reference minimum-selection "
                "guard, Query2.scala:378-394)"
            )
        all_fams = list(self.table.families.values())
        fams = set()
        cols: list[Column] = []
        if not self.sel_families and not self.sel_columns and not self.fam_key_sel and not self.pagination:
            fams = {f.name for f in all_fams}  # with_all_columns
        for f in self.sel_families:
            fams.add(f.name)
        for c in self.sel_columns:
            cols.append(c)
        for fname in self.fam_key_sel:
            fams.add(fname)
        for fname in self.pagination:
            fams.add(fname)

        out: list[str] = ["rowkey"]
        for fam in all_fams:
            whole = fam.name in fams
            if fam.is_map_family:
                if whole:
                    out.extend([fam.name, fam.ts_name])
            else:
                members = [c.qualifier for c in fam.columns.values() if whole or c in cols]
                if members:
                    out.extend(members)
                    out.append(fam.ts_name)
        # dedupe keep-order (duplicate family/column selection tolerated,
        # ExampleSchema.scala:156-167)
        seen, ordered = set(), []
        for name in out:
            if name not in seen:
                seen.add(name)
                ordered.append(name)
        return ordered, {}

    def _apply_cell_ops(self, df: DataFrame, out_cols: list[str]) -> DataFrame:
        # P2 named-qualifier selection
        def _keep_keys(ks):
            return lambda k, v: k.isin([*ks])

        for fname, keys in self.fam_key_sel.items():
            fam = self.table.families[fname]
            for target in (fam.name, fam.ts_name):
                if target in out_cols:
                    df = df.withColumn(target, F.map_filter(F.col(target), _keep_keys(keys)))
        # cell filters from the filter DSL (F13/F14)
        for cf in self.cell_filters:
            for target in (cf.family.name, cf.family.ts_name):
                if target in out_cols:
                    df = df.withColumn(target, cf.fn(F.col(target)))
        # F16 pagination: sort entries by key, slice [offset*size, size)
        for fname, (size, offset) in self.pagination.items():
            fam = self.table.families[fname]
            if not fam.is_map_family:
                continue
            for target in (fam.name, fam.ts_name):
                if target in out_cols:
                    entries = F.array_sort(F.map_entries(F.col(target)))
                    page = F.slice(entries, offset * size + 1, size)
                    df = df.withColumn(target, F.map_from_entries(page))
        # F20 time range: drop cells whose write-ts is outside [start, end)
        if self.ts_range is not None:
            lo, hi = self.ts_range
            for fam in self.table.families.values():
                if fam.ts_name not in out_cols:
                    continue
                in_range = lambda ts: (
                    (ts >= F.lit(lo) if lo is not None else F.lit(True))
                    & (ts < F.lit(hi) if hi is not None else F.lit(True))
                )
                ts_col = F.col(fam.ts_name)
                if fam.is_map_family and fam.name in out_cols:
                    keep = F.map_filter(ts_col, lambda k, ts: in_range(ts))
                    df = df.withColumn(
                        fam.name,
                        F.map_filter(F.col(fam.name), lambda k, v: F.array_contains(F.map_keys(keep), k)),
                    )
                    df = df.withColumn(fam.ts_name, keep)
                else:
                    for c in fam.columns.values():
                        if c.qualifier in out_cols:
                            cell_ts = F.element_at(ts_col, c.qualifier)
                            df = df.withColumn(
                                c.qualifier,
                                F.when(cell_ts.isNull() | in_range(cell_ts), F.col(c.qualifier)),
                            )
                    df = df.withColumn(fam.ts_name, F.map_filter(ts_col, lambda k, ts: in_range(ts)))
        return df

    def _prefix_prune_args(self) -> dict:
        """Directory-level partition pruning for prefix-partitioned
        storage: translate key lookups / rowkey ranges into ``_kp``
        constraints the storage layer applies before stripping the
        partition column (HBase sorted-region analog at the file-listing
        level)."""
        storage = getattr(self.table, "storage", None)
        n = getattr(storage, "partition_prefix_len", None) if storage else None
        if not n:
            return {}
        out: dict = {}
        if self.keys and all(isinstance(k, str) for k in self.keys):
            out["key_prefixes"] = sorted({k[:n] for k in self.keys})
        lo = self.start_row[:n] if isinstance(self.start_row, str) else None
        hi = self.end_row[:n] if isinstance(self.end_row, str) else None
        if lo is not None or hi is not None:
            out["key_prefix_range"] = (lo, hi)
        return out

    def to_df(self) -> DataFrame:
        """Build the DataFrame plan.  This is the whole 'physical op
        construction' phase of the reference (SURVEY §3.1 steps 2-5) —
        Catalyst owns pushdown/pruning from here."""
        df = self.table.to_df(
            self.spark,
            version=self.snapshot_version,
            keys=self.keys or None,
            **self._prefix_prune_args(),
        )
        df = self._key_filter(df)
        if self.start_row is not None:
            df = df.filter(F.col("rowkey") >= F.lit(self.start_row))
        if self.end_row is not None:
            df = df.filter(F.col("rowkey") < F.lit(self.end_row))
        for p in self.row_preds:
            df = df.filter(p)
        out_cols, _ = self._selected_output()
        df = self._apply_cell_ops(df, out_cols)
        df = df.select(*out_cols)
        if self.limit_rows is not None:
            df = df.limit(self.limit_rows)
        return df

    # -- terminal operations (client edge) ---------------------------------
    def _cache_key(self) -> str:
        # every plan-shaping input participates: omitting any one (e.g.
        # snapshot_version) would serve another query's rows from cache —
        # an as_of_version(N) read returning the current snapshot, or two
        # queries differing only in cell ops colliding
        parts = [
            getattr(self.table, "_table_name", self.table.name),
            repr(sorted(map(repr, self.keys))),
            repr([f.name for f in self.sel_families]),
            repr([c.name for c in self.sel_columns]),
            repr(self.fam_key_sel),
            repr([str(p) for p in self.row_preds]),
            repr((self.start_row, self.end_row, self.ts_range, self.limit_rows)),
            repr(self.snapshot_version),
            repr(sorted(self.pagination.items())),
            repr([(cf.family.name, cf.desc) for cf in self.cell_filters]),
        ]
        return "|".join(parts)

    def single_option(self, skip_cache: bool = True, none_on_empty: bool = True, ttl: int = 30):
        """S1 terminal (Query2.scala:458,487-671)."""
        cache = None if skip_cache else self.table.cache
        key = self._cache_key() if cache is not None else None
        if cache is not None:
            hit = cache.get_result(key)
            if hit is not cache.MISS:
                return hit
        rows = self.to_df().take(1)
        result = build_rows(self.table, rows)[0] if rows else None
        if result is None and not none_on_empty:
            raise KeyError(f"row not found: {self.keys!r}")
        if cache is not None:
            cache.put_result(key, result, ttl)
        return result

    def single(self, skip_cache: bool = True, ttl: int = 30):
        res = self.single_option(skip_cache=skip_cache, none_on_empty=True, ttl=ttl)
        if res is None:
            raise KeyError(f"expected a row for keys {self.keys!r}")
        return res

    def single_option_async(
        self, skip_cache: bool = True, none_on_empty: bool = True, ttl: int = 30
    ):
        """S6 — non-blocking point get (Query2.scala:461-477, client
        pool AsyncQuery.scala:12-23).  Mirrors the reference contract:

        - **exactly one family** may be selected (asynchbase's
          GetRequest carries a single family; the reference
          ``require``s it — so do we, eagerly, on the caller thread);
        - the fetch itself runs off-thread and the caller gets a
          ``concurrent.futures.Future`` resolving to the same value
          ``single_option`` returns (``.result()`` ≈ the reference's
          ``defs.join()`` — which Query2.scala itself calls inline,
          so even upstream this API is completion-blocking at heart).

        SparkSessions are thread-safe; the shared daemon pool plays
        the role of the reference's pooled asyncClient.  Spark jobs
        from concurrent futures schedule independently (FIFO within
        the session), so several point gets overlap their scans."""
        fams = {f.name for f in self.sel_families}
        fams.update(c.family.name for c in self.sel_columns)
        fams.update(self.fam_key_sel)
        if len(fams) != 1:
            raise ValueError(
                "async point get allows exactly one family to be fetched "
                f"at a time (reference Query2.scala:463); selected: {sorted(fams)}"
            )
        return _async_pool().submit(
            self.single_option,
            skip_cache=skip_cache,
            none_on_empty=none_on_empty,
            ttl=ttl,
        )

    def multi_map(self, skip_cache: bool = True, return_empty_rows: bool = False, ttl: int = 30) -> dict:
        """S2 terminal (Query2.scala:690-825).  ``return_empty_rows=True``
        yields an entry per requested key even when absent — the left-
        outer-join shape (WebCrawlSchemaTest.scala:372-389)."""
        cache = None if skip_cache else self.table.cache
        key = self._cache_key() + f"|empty={return_empty_rows}" if cache is not None else None
        if cache is not None:
            hit = cache.get_result(key)
            if hit is not cache.MISS:
                return hit
        rows = self.to_df().collect()
        out = {r.rowid: r for r in build_rows(self.table, rows)}
        if return_empty_rows:
            from pyspark.sql import Row

            empty_template = {f.name: None for f in self.table.spark_schema().fields}
            for k in self.keys:
                if k not in out:
                    out[k] = HRow(self.table, Row(**{**empty_template, "rowkey": k}))
        if cache is not None:
            cache.put_result(key, out, ttl)
        return out

    def execute_map(self, **kw) -> dict:  # legacy alias (Query2.scala)
        return self.multi_map(**kw)

    def multi_map_async(
        self, skip_cache: bool = True, return_empty_rows: bool = False, ttl: int = 30
    ):
        """S6 multi-get parity (ExampleSchema.scala:301-324 exercises the
        async client over a keySet get; Query2.scala:690-825 is the sync
        twin): returns a ``concurrent.futures.Future`` resolving to the
        SAME dict :meth:`multi_map` yields.  Same one-family contract as
        :meth:`single_option_async` — asynchbase GetRequests carry a
        single family, and the reference ``require``s the selection down
        to one — enforced eagerly on the caller thread so misuse fails
        fast, not inside the Future."""
        fams = {f.name for f in self.sel_families}
        fams.update(c.family.name for c in self.sel_columns)
        fams.update(self.fam_key_sel)
        if len(fams) != 1:
            raise ValueError(
                "async multi get allows exactly one family to be fetched "
                f"at a time (reference Query2.scala:463); selected: {sorted(fams)}"
            )
        return _async_pool().submit(
            self.multi_map,
            skip_cache=skip_cache,
            return_empty_rows=return_empty_rows,
            ttl=ttl,
        )

    def scan(self, handler: Callable[[HRow], Any], cache_size: int = 100, use_local_cache: bool = False, local_ttl: int = 30):
        """S3 terminal (Query2.scala:931-976) — streams partitions to the
        client via toLocalIterator (one partition in memory at a time)."""
        builder = self.table.row_builder or HRow
        if use_local_cache and self.table.cache is not None:
            key = "scan|" + self._cache_key()
            hit = self.table.cache.get_scan_result(key)
            if hit is not self.table.cache.MISS:
                # instrument like the point-get tier (ResultCaching.scala:58)
                self.table.cache.instrument_request(1, 1, 0, 0)
                for r in hit:
                    handler(builder(self.table, r))
                return
            self.table.cache.instrument_request(1, 0, 0, 1)
            rows = self.to_df().collect()
            self.table.cache.put_scan_result(key, rows, local_ttl)
            for r in rows:
                handler(builder(self.table, r))
            return
        for r in self.to_df().toLocalIterator(prefetchPartitions=True):
            handler(builder(self.table, r))

    def scan_to_iterable(self, handler: Callable[[HRow], Any], **kw) -> list:
        """S4 (Query2.scala:978-1014)."""
        out = []
        self.scan(lambda row: out.append(handler(row)), **kw)
        return out

    def scan_until(self, handler: Callable[[HRow], bool], **kw):
        """S5 (Query2.scala:1016-1040) — stop when handler returns False."""

        def wrapped(row):
            if not handler(row):
                raise _StopScan()

        try:
            self.scan(wrapped, **kw)
        except _StopScan:
            pass

    # reference camelCase aliases (parity surface)
    withKey = with_key
    withKeys = with_keys
    withAllColumns = with_all_columns
    withFamilies = with_families
    withColumns = with_columns
    withColumn = with_column
    withColumnsInFamily = with_columns_in_family
    filterOr = filter_or
    withFilter = with_filter
    withStartRow = with_start_row
    withEndRow = with_end_row
    betweenDates = between_dates
    afterDate = after_date
    untilDate = until_date
    withPaginationForFamily = with_pagination_for_family
    maxRowsPerServer = max_rows_per_server
    withBatchSize = with_batch_size
    singleOption = single_option
    singleOptionAsync = single_option_async
    multiMap = multi_map
    multiMapAsync = multi_map_async
    scanToIterable = scan_to_iterable
    scanUntil = scan_until


_ASYNC_POOL = None


class _DaemonPool:
    """Minimal fixed-size pool of DAEMON threads returning
    ``concurrent.futures.Future``s.

    Why not ``ThreadPoolExecutor``: since Python 3.9 its workers are
    non-daemon and are joined at interpreter exit (via
    ``threading._register_atexit``), so one hung point get would block
    process shutdown forever — the opposite of what a fire-and-forget
    async facade should do.  Daemon threads die with the interpreter;
    an in-flight get is simply abandoned, matching the reference's
    asyncClient posture (the client doesn't pin the JVM open either).
    Workers spawn lazily up to ``max_workers`` and block on a shared
    queue between tasks."""

    def __init__(self, max_workers: int = 8, name: str = "hpaste-async-get"):
        import queue
        import threading

        self._q = queue.SimpleQueue()
        self._threads: list = []
        self._max = max_workers
        self._name = name
        self._lock = threading.Lock()

    def submit(self, fn, *args, **kwargs):
        from concurrent.futures import Future

        fut = Future()
        self._q.put((fut, fn, args, kwargs))
        self._maybe_spawn()
        return fut

    def _maybe_spawn(self) -> None:
        import threading

        with self._lock:
            if len(self._threads) < self._max:
                t = threading.Thread(
                    target=self._worker,
                    daemon=True,
                    name=f"{self._name}-{len(self._threads)}",
                )
                t.start()
                self._threads.append(t)

    def _worker(self) -> None:
        while True:
            fut, fn, args, kwargs = self._q.get()
            if not fut.set_running_or_notify_cancel():
                continue
            try:
                fut.set_result(fn(*args, **kwargs))
            except BaseException as exc:  # surface via the Future, keep worker alive
                fut.set_exception(exc)


def _async_pool():
    """Lazy shared daemon pool for single_option_async — the analog of
    the reference's per-conf cached asyncClient (AsyncQuery.scala:12-23:
    one client reused across requests, created on first use)."""
    global _ASYNC_POOL
    if _ASYNC_POOL is None:
        _ASYNC_POOL = _DaemonPool(max_workers=8)
    return _ASYNC_POOL
