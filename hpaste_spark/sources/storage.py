"""Versioned Parquet table storage — the engine's write-side substrate.

The reference writes through HBase (GravityTableOutputFormat.java:50-215,
WAL off, autoFlush off).  Our durability unit is an atomic snapshot
swap: each commit writes a brand-new snapshot directory
``<table>/v=N`` and then atomically repoints the ``_VERSION`` file.
Readers always read the version named by ``_VERSION``, so a reader never
observes a half-written table and a writer never overwrites the
directory a concurrent reader (or its own merge plan) is scanning —
Spark cannot safely ``mode=overwrite`` a path that feeds the same plan,
and at 100 TB a read-modify-write must never be driver-materialized.

A snapshot is a base plus at most one overlay, as an HBase region is
its store files plus what the memstore flushed since the last
compaction.  The base is plain parquet (zstd) written by Spark, sorted
by ``rowkey`` so min/max row-group stats give the same start/stop-row
pruning HBase got from its sorted regions (Query2.scala:903-908),
optionally under ``_kp=<prefix>`` partition directories.  The overlay,
``_delta/overlay.parquet``, holds the fully merged rows of every key
committed by :meth:`ParquetStorage.write_partial` since the last
compaction, plus row tombstones.  Such a commit hardlinks the base and
writes one small overlay file with pyarrow, so it runs no Spark job.
Every read replaces base rows by key from the overlay.  A commit
compacts instead — rewrites the overlay's partitions with each overlay
row replacing its base row in place — once the overlay would pass the
bounds of a keyed read: ``ISIN_THRESHOLD`` keys (the overlay's keys are
an IN-list on every scan) or ``spark.sql.autoBroadcastJoinThreshold``
bytes (its rows are held on the driver).
"""

from __future__ import annotations

import bisect
import contextlib
import os
import shutil
import time
from collections.abc import Callable
from urllib.parse import unquote

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

VERSION_FILE = "_VERSION"
# the overlay: underscore-prefixed, so Spark's file listing, the
# sticky-marker copy and partition discovery all pass it by
DELTA_DIR = "_delta"
OVERLAY_FILE = "overlay.parquet"
TOMBSTONE = "_deleted"  # overlay column: the row is deleted

# Above this many keys a keyed read is a scan, not a point lookup: the
# storage layer leaves it to Spark's file scan, and Query2 joins against
# a keys DataFrame instead of an IN-list literal (scale path: the key
# set itself may be big; a broadcast-hash semi-join is what HBase's
# batched multi-get approximated with one RPC per region,
# Query2.scala:690-825).
ISIN_THRESHOLD = 512

_INTEGRAL_KEYS = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


class ConcurrentWriteError(RuntimeError):
    """Another writer holds the next-version claim (or published it
    first).  The losing batch FAILS — it is never silently clobbered."""


class ParquetStorage:
    """Storage for one logical table: versioned parquet snapshots.

    ``partition_prefix_len=N`` additionally hash-organizes each snapshot
    into key-prefix partition directories (``_kp=<first N chars of
    rowkey>``) — the Spark analog of HBase's key-ranged regions.  Point
    gets and rowkey-range scans then prune whole directories
    (PartitionFilters), not just row groups; at 100 TB that is the
    difference between listing a handful of files and listing the
    table.  The ``_kp`` column is derived on write and stripped on
    read, so the logical schema never sees it; the overlay lives
    outside the ``_kp=`` tree, so partition discovery never sees it."""

    def __init__(
        self,
        base_dir: str,
        name: str,
        partition_prefix_len: int | None = None,
        keep_versions: int = 2,
        claim_ttl_s: float = 600.0,
    ):
        self.table_dir = os.path.join(base_dir, name)
        self.name = name
        self.partition_prefix_len = partition_prefix_len
        # snapshot retention applied after every write (time-travel
        # horizon); raise for longer history, vacuum_versions() to trim
        self.keep_versions = max(1, keep_versions)
        # a claim older than this is treated as a crashed writer's
        # leftover and may be broken by the next writer
        self.claim_ttl_s = claim_ttl_s

    # -- snapshot bookkeeping -------------------------------------------
    def _version_path(self) -> str:
        return os.path.join(self.table_dir, VERSION_FILE)

    def current_version(self) -> int:
        try:
            with open(self._version_path()) as fh:
                return int(fh.read().strip())
        except (FileNotFoundError, ValueError):
            return 0

    def snapshot_dir(self, version: int) -> str:
        return os.path.join(self.table_dir, f"v={version:06d}")

    def exists(self) -> bool:
        return os.path.exists(self._version_path())

    # -- lifecycle -------------------------------------------------------
    def create(self, spark: SparkSession, schema) -> None:
        """Initialize an empty table (reference: createScript DDL emission,
        HbaseTable.scala:234-243 — ours creates the directory for real)."""
        if self.exists():
            return
        empty = spark.createDataFrame([], schema)
        # an empty partitionBy() write leaves a fileless dir that cannot
        # be schema-inferred on read — the initial snapshot is unpartitioned
        self.write(empty, partition=False)

    def drop(self) -> None:
        if os.path.exists(self.table_dir):
            shutil.rmtree(self.table_dir)

    # -- IO ---------------------------------------------------------------
    def versions(self) -> list[int]:
        """All snapshot versions still on disk, ascending."""
        if not os.path.isdir(self.table_dir):
            return []
        out = []
        for d in os.listdir(self.table_dir):
            if d.startswith("v="):
                out.append(int(d[2:]))
        return sorted(out)

    def vacuum_versions(self, keep_last: int | None = None) -> list[int]:
        """Drop all but the newest ``keep_last`` snapshots (the current
        one is always kept; default = ``keep_versions``).  Returns the
        versions removed.  Safe with hardlinked partial-rewrite
        snapshots: removing an old snapshot dir unlinks its names; any
        file shared into a surviving snapshot keeps its inode alive."""
        if keep_last is None:
            keep_last = self.keep_versions
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        cur = self.current_version()
        removed = []
        for v in self.versions():
            if v != cur and v <= cur - keep_last:
                shutil.rmtree(self.snapshot_dir(v), ignore_errors=True)
                removed.append(v)
        return removed

    def read(
        self,
        spark: SparkSession,
        schema=None,
        key_prefixes: list[str] | None = None,
        key_prefix_range: tuple[str | None, str | None] | None = None,
        version: int | None = None,
        keys: list | None = None,
    ) -> DataFrame:
        """Read the current snapshot — or, with ``version=N``, time
        travel to any snapshot still on disk (snapshots are immutable
        once published, so an old version is a consistent table state).
        ``key_prefixes`` / ``key_prefix_range`` constrain the ``_kp``
        partition column BEFORE it is stripped, so the listing prunes
        directories.

        With a ``schema`` (the table's declared one) the snapshot is read
        with that schema plus a ``_kp STRING`` partition column when the
        snapshot is prefix-partitioned, so no job runs to infer it.
        Stored columns the schema lacks are not read; declared columns a
        snapshot lacks read as null.  ``schema=None`` infers the schema
        from the files.

        With ``keys`` too (a point get or multi-get), the snapshot is
        read on the driver, as an HBase Get reads the region holding the
        key: only the data files of the keys' ``_kp`` directories (every
        data file of an unpartitioned snapshot) are listed, only the row
        groups whose ``rowkey`` min/max stats bracket a key (or carry no
        usable stats) are read, with pyarrow, and the rows holding a key
        come back as a local relation.  Catalyst folds the caller's
        filters and projections into a local relation, so its ``take``
        or ``collect`` runs no Spark job.  Spark's own scan serves the
        read instead when there are more than ``ISIN_THRESHOLD`` keys,
        when the keys are not all ``str`` on a string rowkey or all
        ``int`` on an integral one, when the candidate files exceed
        ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (past
        it Spark itself lists files with a job, not on the driver) or
        when the selected row groups exceed
        ``spark.sql.autoBroadcastJoinThreshold`` compressed (what Spark
        already moves through the driver for a broadcast); on a
        prefix-partitioned snapshot it then reads only the keys' ``_kp``
        partitions.  Both scans return the rows holding a key; the keyed
        one returns no others, so a caller that filters to its keys gets
        the same rows.

        Both scans fold the snapshot's overlay over its base, on the
        driver: base rows whose key the overlay holds are dropped, and
        the overlay's live rows (restricted like the base: to the wanted
        keys, or to the ``_kp`` constraints) are added.  The overlay is
        read with pyarrow, so a keyed read of an overlaid snapshot still
        runs no Spark job."""
        if not self.exists():
            if schema is None:
                raise FileNotFoundError(f"table {self.name} does not exist")
            return spark.createDataFrame([], schema)
        if version is None:
            version = self.current_version()
        elif not os.path.isdir(self.snapshot_dir(version)):
            raise FileNotFoundError(
                f"table {self.name} has no snapshot v={version} "
                f"(available: {self.versions()})"
            )
        snap = self.snapshot_dir(version)
        kp_dirs = _kp_dirs(snap)
        overlay = _read_overlay(snap)
        n = self.partition_prefix_len
        if keys and schema is not None and _native_keys(schema["rowkey"].dataType, keys):
            table = self._keyed_scan(spark, schema, snap, kp_dirs, keys)
            if table is not None:
                if overlay is not None:
                    table = _fold(table, overlay, keys)
                return _local_relation(spark, table, schema)
            if kp_dirs and n and key_prefixes is None:
                # Spark's scan still reads only the keys' partitions
                key_prefixes = sorted({str(k)[:n] for k in keys})
        df = self._scan(spark, schema, snap, kp_dirs, key_prefixes, key_prefix_range)
        if overlay is None:
            return df
        # the overlay's keys are an IN-list (at most ISIN_THRESHOLD of
        # them, the compaction bound); its live rows a local relation
        df = df.filter(~rowkey_in(overlay["rowkey"].to_pylist()))
        live = _live(overlay)
        if kp_dirs and n and (key_prefixes is not None or key_prefix_range is not None):
            lo, hi = key_prefix_range or (None, None)
            admitted = [_admits(str(k)[:n], key_prefixes, lo, hi) for k in live["rowkey"].to_pylist()]
            live = live.filter(pa.array(admitted, pa.bool_()))
        if live.num_rows == 0:
            return df
        return df.union(_local_relation(spark, _aligned(live, to_arrow_schema(df.schema)), df.schema))

    def _scan(
        self,
        spark: SparkSession,
        schema,
        snap: str,
        kp_dirs: list[str],
        key_prefixes: list[str] | None,
        key_prefix_range: tuple[str | None, str | None] | None,
    ) -> DataFrame:
        """Spark's scan of the snapshot's base files.  The ``_kp``
        constraints filter the partition column before it is dropped,
        so the plan shows them as PartitionFilters and only the admitted
        directories' files are read."""
        if schema is None:
            df = spark.read.parquet(snap)
        else:
            if kp_dirs:
                schema = T.StructType([*schema.fields, T.StructField("_kp", T.StringType())])
            df = spark.read.schema(schema).parquet(snap)
        if not kp_dirs:
            return df
        if key_prefixes is not None:
            df = df.filter(F.col("_kp").isin([*key_prefixes]))
        lo, hi = key_prefix_range or (None, None)
        if lo is not None:
            df = df.filter(F.col("_kp") >= lo)
        if hi is not None:
            # prefix truncation makes the upper bound inclusive
            df = df.filter(F.col("_kp") <= hi)
        return df.drop("_kp")

    def _keyed_scan(
        self, spark: SparkSession, schema: T.StructType, snap: str, kp_dirs: list[str], keys: list
    ):
        """The base rows of the driver-side scan of :meth:`read` for
        ``keys`` (see :func:`_native_keys`), as an Arrow table cast to
        ``to_arrow_schema(schema)``, or None when the read is past one
        of its bounds."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        if len(keys) > ISIN_THRESHOLD:
            return None
        if not kp_dirs:
            dirs = [snap]
        elif self.partition_prefix_len:
            prefixes = {str(k)[: self.partition_prefix_len] for k in keys}
            dirs = [os.path.join(snap, e) for e in kp_dirs if _partition_value(e) in prefixes]
        else:
            return None  # a partitioned snapshot of unknown prefix length
        conf = spark._jsparkSession.sessionState().conf()
        max_files, files = conf.parallelPartitionDiscoveryThreshold(), []
        for d in dirs:
            files += [os.path.join(d, f) for f in sorted(os.listdir(d)) if not f.startswith(("_", "."))]
            if len(files) > max_files:
                return None
        budget, selected = conf.autoBroadcastJoinThreshold(), 0
        wanted = sorted(set(keys))
        target = to_arrow_schema(schema)
        with contextlib.ExitStack() as files_open:
            picked = []
            for path in files:
                # Spark writes timestamps as INT96; at the default ns unit
                # instants outside 1677-2262 would overflow
                pf = files_open.enter_context(pq.ParquetFile(path, coerce_int96_timestamp_unit="us"))
                md = pf.metadata
                leaves = [md.schema.column(j).path for j in range(md.num_columns)]
                if "rowkey" not in leaves:
                    continue  # every row's rowkey reads as null: none is a key
                j = leaves.index("rowkey")
                groups = []
                for i in range(md.num_row_groups):
                    rg = md.row_group(i)
                    if _brackets(rg.column(j).statistics, wanted):
                        groups.append(i)
                        selected += sum(rg.column(c).total_compressed_size for c in range(rg.num_columns))
                if selected > budget:
                    return None
                if groups:
                    picked.append((pf, groups))
            value_set = pa.array(wanted, target.field("rowkey").type)
            parts = []
            for pf, groups in picked:
                stored = set(pf.schema_arrow.names)
                t = pf.read_row_groups(groups, columns=[n for n in target.names if n in stored])
                t = t.filter(pc.is_in(t["rowkey"], value_set=value_set))
                parts.append(_aligned(t, target))
        return pa.concat_tables(parts) if parts else target.empty_table()

    # -- commit protocol --------------------------------------------------
    # Two concurrent batches (MultiTableBatch from two drivers, or a
    # streaming foreachBatch beside a batch job) would both compute
    # new_version = current+1 and the second publish would silently
    # clobber the first.  The claim file (O_EXCL create) serializes
    # writers BEFORE any data is written, and the publish re-checks the
    # base version — the loser raises ConcurrentWriteError instead of
    # losing its batch.

    def _claim_path(self, version: int) -> str:
        return os.path.join(self.table_dir, f"v={version:06d}.claim")

    def _claim(self, new_version: int) -> str:
        os.makedirs(self.table_dir, exist_ok=True)
        path = self._claim_path(new_version)
        for attempt in (0, 1):
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, f"pid={os.getpid()} t={time.time()}".encode())
                os.close(fd)
                return path
            except FileExistsError:
                try:
                    age = time.time() - os.path.getmtime(path)
                except FileNotFoundError:
                    continue  # holder just released; retry the O_EXCL create
                if attempt == 0 and age > self.claim_ttl_s:
                    # crashed writer's leftover: break it and retry once
                    _unlink(path)
                    continue
                raise ConcurrentWriteError(
                    f"table {self.name}: version {new_version} is claimed by a "
                    f"concurrent writer (claim age {age:.0f}s); this batch was NOT applied"
                )
        raise ConcurrentWriteError(f"table {self.name}: could not claim version {new_version}")

    def _publish(self, base_version: int, new_version: int, claim_path: str) -> None:
        try:
            cur = self.current_version()
            if cur != base_version:
                raise ConcurrentWriteError(
                    f"table {self.name}: version moved {base_version}->{cur} during "
                    f"the write; this batch was NOT applied"
                )
            tmp = self._version_path() + ".tmp"
            with open(tmp, "w") as fh:
                fh.write(str(new_version))
            os.replace(tmp, self._version_path())  # atomic publish
        except Exception:
            shutil.rmtree(self.snapshot_dir(new_version), ignore_errors=True)
            raise
        finally:
            _unlink(claim_path)

    def _commit(self, fill: Callable[[int, str], None], read_version: int | None = None) -> int:
        """The one commit path of :meth:`write`, :meth:`write_partial`
        and :meth:`compact`: claim the next version, check that the
        table is still at ``read_version`` (the version the caller's
        merge read; None when the caller read nothing),
        ``fill(base_version, snapshot_dir)``, publish, vacuum.  A table
        that moved since the read raises :class:`ConcurrentWriteError`:
        the batch was merged from rows another writer has replaced, so
        publishing it would lose that writer's update.  A ``fill`` that
        raises removes the half-written snapshot directory and the
        claim, so a failed write never leaves an unpublished snapshot
        that :meth:`versions` would list and ``read(version=...)`` would
        serve."""
        base_version = self.current_version()
        new_version = base_version + 1
        claim = self._claim(new_version)
        # a writer that published new_version has released its claim, so
        # holding the claim does not prove the base is still current
        cur = self.current_version()
        if cur != base_version or read_version not in (None, base_version):
            _unlink(claim)
            raise ConcurrentWriteError(
                f"table {self.name}: the batch read version "
                f"{base_version if read_version is None else read_version} but the table "
                f"is at {cur}; this batch was NOT applied"
            )
        try:
            fill(base_version, self.snapshot_dir(new_version))
        except Exception:
            shutil.rmtree(self.snapshot_dir(new_version), ignore_errors=True)
            _unlink(claim)
            raise
        self._publish(base_version, new_version, claim)
        self.vacuum_versions()
        return new_version

    def write(
        self,
        df: DataFrame,
        sort_by_rowkey: bool = True,
        partition: bool = True,
        marker_file: "tuple[str, str] | None" = None,
        read_version: int | None = None,
    ) -> int:
        """Write a new snapshot and atomically publish it. Returns version.
        Raises ConcurrentWriteError (batch not applied) if another writer
        holds the next version, or, for a ``df`` merged from snapshot
        ``read_version``, if the table has moved since — never a silent
        lost update.  The new snapshot has no overlay: ``df`` is the
        whole table.

        ``marker_file=(name, content)`` writes a sidecar file into the
        snapshot directory BEFORE the version pointer flips, so the
        marker and the data become visible in the same atomic publish —
        the primitive an exactly-once ``foreachBatch`` sink needs
        (record the applied streaming batch id WITH the batch's effect;
        a crash either loses both, and the batch replays, or keeps
        both, and the replay is skipped — never a double-apply).  The
        name must start with ``_`` so Spark's parquet reader ignores
        it; read it back with :meth:`snapshot_marker`.

        Markers are STICKY (round-12 ADVICE fix): every publish carries
        FORWARD the base snapshot's marker sidecars it does not itself
        rewrite.  Without this, any foreign writer publishing between a
        stream batch's commit and a crash-replay (e.g. a bulk_merge_put
        whose merge carries the batch's counter effect forward) would
        erase the marker while preserving the effect — and the replayed
        batch would double-apply.  The carried marker is conservative
        in the other direction: a foreign DESTRUCTIVE overwrite that
        discards current data still carries the marker, so a replay is
        suppressed even though the effect is gone — re-applying onto
        post-overwrite data would be wrong anyway; restart the stream
        with a fresh checkpoint after destructive rewrites (documented
        in stream_increments_into)."""
        if marker_file is not None and not marker_file[0].startswith("_"):
            raise ValueError(
                "marker_file name must start with '_' (Spark readers skip "
                f"underscore-prefixed files): {marker_file[0]!r}"
            )
        if sort_by_rowkey and "rowkey" in df.columns:
            # Range-partitioned sort → globally key-ordered files, so
            # rowkey-range scans prune via parquet min/max, mirroring
            # HBase's sorted-region start/stop-row scans.
            df = df.sortWithinPartitions(F.col("rowkey"))
        writer = df.write.mode("overwrite")
        if partition and self.partition_prefix_len and "rowkey" in df.columns:
            df = df.drop("_kp").withColumn(
                "_kp", F.substring(F.col("rowkey").cast("string"), 1, self.partition_prefix_len)
            )
            writer = df.write.mode("overwrite").partitionBy("_kp")

        def fill(base_version: int, out: str) -> None:
            writer.parquet(out)
            if marker_file is not None:
                with open(os.path.join(out, marker_file[0]), "w") as fh:
                    fh.write(marker_file[1])
            self._carry_markers(base_version, out, marker_file)

        return self._commit(fill, read_version)

    def _carry_markers(
        self,
        base_version: int,
        out: str,
        marker_file: "tuple[str, str] | None" = None,
    ) -> None:
        """Copy the base snapshot's marker sidecars (underscore-prefixed
        files other than ``_SUCCESS``) into the new snapshot directory,
        skipping any name this publish wrote itself — the sticky-marker
        rule (see :meth:`write`).  Runs before the version-pointer flip,
        so markers and data stay atomic."""
        if base_version < 1:
            return
        prev = self.snapshot_dir(base_version)
        own = marker_file[0] if marker_file is not None else None
        try:
            entries = os.listdir(prev)
        except FileNotFoundError:
            return
        for name in entries:
            if not name.startswith("_") or name == "_SUCCESS" or name == own:
                continue
            src = os.path.join(prev, name)
            if os.path.isfile(src):
                shutil.copy2(src, os.path.join(out, name))

    def snapshot_marker(self, name: str, version: int | None = None) -> "str | None":
        """Content of a :meth:`write` ``marker_file`` sidecar in the
        current (or given) snapshot, or None when absent.  Markers are
        STICKY: every publish (full write and partial rewrite) carries
        the previous snapshot's markers forward unless it rewrites the
        same name — so a marker answers "has batch ≤ last been applied
        to this table's lineage", which survives interleaved foreign
        merge-writes (whose merge carries the batch's EFFECT forward
        too).  Only deleting the table (or a snapshot GC past the
        marker's origin, which cannot happen — the current snapshot
        always carries it) clears markers."""
        if not self.exists():
            return None
        if version is None:
            version = self.current_version()
        try:
            with open(os.path.join(self.snapshot_dir(version), name)) as fh:
                return fh.read()
        except FileNotFoundError:
            return None

    def write_partial(
        self, spark: SparkSession, schema: T.StructType, rows: list, keys: list, read_version: int
    ) -> int:
        """Commit a batch of keyed rows as an overlay over snapshot
        ``read_version``, the version the rows were merged from.
        Returns the new version.

        ``rows`` are the batch's merged rows in ``schema``, the table's
        declared one.  Each of ``keys`` (the batch's row keys) without a
        row becomes a tombstone.  The new overlay is the base's overlay
        minus ``keys``, plus these rows, written with pyarrow.  The new
        snapshot hardlinks every base file (O(files) metadata work, no
        data copied — the snapshot-manifest trick of production table
        formats), so the commit runs no Spark job and costs in
        proportion to the overlay, not to the table.  GC stays safe:
        removing an old snapshot just unlinks, the shared inodes
        survive.

        The commit compacts instead (see :meth:`compact`) when the new
        overlay would hold more than ``ISIN_THRESHOLD`` keys or more than
        ``spark.sql.autoBroadcastJoinThreshold`` bytes, or when the base
        is not in the table's ``_kp`` layout yet (the unpartitioned
        snapshot :meth:`create` leaves)."""
        import pyarrow.compute as pc

        from pyspark.sql.conversion import LocalDataToArrowConversion

        target = _overlay_schema(schema)
        key_type = target.field("rowkey").type
        parts = []
        old = _read_overlay(self.snapshot_dir(read_version))
        if old is not None:
            old = _aligned(old, target)
            parts.append(old.filter(pc.invert(pc.is_in(old["rowkey"], value_set=pa.array(keys, key_type)))))
        if rows:
            merged = LocalDataToArrowConversion.convert(rows, schema, False)
            parts.append(_aligned(merged.append_column(TOMBSTONE, pa.repeat(False, len(rows))), target))
        written = {r[0] for r in rows}
        gone = list(dict.fromkeys(k for k in keys if k not in written))
        if gone:
            tombs = pa.table({"rowkey": pa.array(gone, key_type), TOMBSTONE: pa.repeat(True, len(gone))})
            parts.append(_aligned(tombs, target))
        overlay = pa.concat_tables(parts)
        conf = spark._jsparkSession.sessionState().conf()
        compact = overlay.num_rows > ISIN_THRESHOLD or overlay.nbytes > conf.autoBroadcastJoinThreshold()

        def fill(base_version: int, out: str) -> None:
            prev = self.snapshot_dir(base_version)
            # a base not in the table's layout yet (no snapshot, or the
            # unpartitioned one create() leaves) is rewritten into it
            if compact or not os.path.isdir(prev) or self.partition_prefix_len and not _kp_dirs(prev):
                self._compact_into(spark, schema, overlay, prev, out)
            else:
                import pyarrow.parquet as pq

                data = [e for e in os.listdir(prev) if e.startswith("_kp=") or not e.startswith("_")]
                _link(prev, out, data)
                os.makedirs(os.path.join(out, DELTA_DIR))
                pq.write_table(overlay, os.path.join(out, DELTA_DIR, OVERLAY_FILE), compression="zstd")
            self._carry_markers(base_version, out)

        return self._commit(fill, read_version)

    def compact(self, spark: SparkSession, schema: T.StructType) -> int:
        """Fold the current snapshot's overlay into its base (HBase's
        ``major_compact``) and publish the result, a snapshot with no
        overlay; ``schema`` is the table's declared one.  Returns the
        new version, or the current one when there is no overlay."""
        version = self.current_version()
        overlay = _read_overlay(self.snapshot_dir(version))
        if overlay is None:
            return version
        overlay = _aligned(overlay, _overlay_schema(schema))

        def fill(base_version: int, out: str) -> None:
            self._compact_into(spark, schema, overlay, self.snapshot_dir(base_version), out)
            self._carry_markers(base_version, out)

        return self._commit(fill, version)

    def _compact_into(
        self, spark: SparkSession, schema: T.StructType, overlay, prev: str, out: str
    ) -> None:
        """Write snapshot ``prev`` with ``overlay`` applied into ``out``,
        with no overlay.  A prefix-partitioned base rewrites only the
        ``_kp`` partitions holding an overlay key and hardlinks the
        rest; any other base is rewritten whole, into the table's layout.

        An overlay row replaces its base row inside the base file's own
        task (``base LEFT JOIN broadcast(overlay)``), so no shuffle runs
        and an update-only compaction leaves each partition's file count
        as it was; only keys new to the base are added, in one more
        task (``coalesce(1)``)."""
        n = self.partition_prefix_len
        entries = os.listdir(prev) if os.path.isdir(prev) else []
        kp_dirs = _kp_dirs(prev) if entries else []
        prefixes = None
        if kp_dirs and n:
            prefixes = sorted({str(k)[:n] for k in overlay["rowkey"].to_pylist()})
            _link(prev, out, [e for e in kp_dirs if _partition_value(e) not in prefixes])
        if kp_dirs or any(not e.startswith(("_", ".")) for e in entries):
            base = self._scan(spark, schema, prev, kp_dirs, prefixes, None)
        else:
            base = spark.createDataFrame([], schema)
        ov = _local_relation(spark, overlay, _with_tombstone(schema))
        hit = ov["rowkey"].isNotNull()
        kept = base.join(F.broadcast(ov), base["rowkey"] == ov["rowkey"], "left").where(
            ~hit | ~ov[TOMBSTONE]
        ).select(
            base["rowkey"],
            *[F.when(hit, ov[c]).otherwise(base[c]).alias(c) for c in schema.fieldNames()[1:]],
        )
        stored = base.select("rowkey").join(F.broadcast(ov.select("rowkey")), "rowkey", "left_semi")
        added = (
            ov.where(~ov[TOMBSTONE])
            .join(F.broadcast(stored), "rowkey", "left_anti")
            .select(*schema.fieldNames())
            .coalesce(1)
        )
        df = kept.union(added)
        os.makedirs(out, exist_ok=True)
        if n:
            df = df.withColumn("_kp", F.substring(F.col("rowkey").cast("string"), 1, n))
            df.sortWithinPartitions("_kp", "rowkey").write.mode("append").partitionBy("_kp").parquet(out)
        else:
            df.sortWithinPartitions("rowkey").write.mode("append").parquet(out)


def _local_relation(spark: SparkSession, table, schema: T.StructType) -> DataFrame:
    """``table``, already cast to ``to_arrow_schema(schema)``, as a Spark
    local relation: ``spark.createDataFrame(table, schema)`` without its
    timestamp-localizing pass.  That pass has nothing to do on UTC-zoned
    microsecond timestamps, but before pyarrow 17 it rebuilds every map
    holding timestamps without the map's validity bitmap (SPARK-48302),
    so a null ``<family>__ts`` map would come back as an empty one."""
    from pyspark.sql.pandas.serializers import ArrowStreamSerializer

    jvm = spark._jvm
    batches = spark.sparkContext._serialize_to_jvm(
        table.to_batches(),
        ArrowStreamSerializer(),
        lambda path: jvm.PythonSQLUtils.readArrowStreamFromFile(path),
        lambda: jvm.ArrowIteratorServer(),
    )
    return DataFrame(jvm.PythonSQLUtils.toDataFrame(batches, schema.json(), spark._jsparkSession), spark)


def _native_keys(key_type: T.DataType, keys: list) -> bool:
    """True when ``keys`` are all ``str`` on a string rowkey or all
    ``int`` on an integral one: keys pyarrow can match against the
    stored rowkeys, and whose Python ``str`` is the rowkey cast to
    string, so ``str(k)[:n]`` names the key's ``_kp`` directory."""
    return (
        isinstance(key_type, T.StringType) and all(type(k) is str for k in keys)
        or isinstance(key_type, _INTEGRAL_KEYS) and all(type(k) is int for k in keys)
    )


def _overlay_schema(schema: T.StructType):
    """The Arrow schema of an overlay of a table declared ``schema``."""
    return to_arrow_schema(_with_tombstone(schema))


def _with_tombstone(schema: T.StructType) -> T.StructType:
    return T.StructType([*schema.fields, T.StructField(TOMBSTONE, T.BooleanType(), False)])


def _read_overlay(snap: str):
    """The overlay of snapshot ``snap`` as stored (an Arrow table), or
    None when the snapshot has none."""
    import pyarrow.parquet as pq

    path = os.path.join(snap, DELTA_DIR, OVERLAY_FILE)
    if not os.path.exists(path):
        return None
    with pq.ParquetFile(path) as pf:
        return pf.read()


def _live(overlay):
    """The overlay's rows that are not tombstones."""
    import pyarrow.compute as pc

    return overlay.filter(pc.invert(overlay[TOMBSTONE]))


def _fold(base, overlay, keys: list):
    """``base`` (rows of the wanted ``keys``, cast to the read schema)
    with ``overlay`` applied: a row whose key the overlay holds gives
    way to the overlay's row of that key, or to nothing for a
    tombstone."""
    import pyarrow.compute as pc

    wanted = pa.array(keys, base.schema.field("rowkey").type)
    hit = overlay.filter(pc.is_in(overlay["rowkey"], value_set=wanted))
    base = base.filter(pc.invert(pc.is_in(base["rowkey"], value_set=hit["rowkey"])))
    return pa.concat_tables([base, _aligned(_live(hit), base.schema)])


def _aligned(table, target):
    """``table``'s columns in ``target``'s order, cast to ``target``'s
    types; a column ``table`` lacks reads as null.  How a stored file
    (a base file of an older schema, an overlay) meets the read
    schema."""
    cols = [
        table[f.name] if f.name in table.column_names else pa.nulls(table.num_rows, f.type)
        for f in target
    ]
    return pa.Table.from_arrays(cols, names=target.names).cast(target)


def _admits(value: str | None, prefixes: list[str] | None, lo: str | None, hi: str | None) -> bool:
    """True when the ``_kp`` value ``value`` meets a read's ``_kp``
    constraints: one of ``prefixes`` (when given) and within
    ``[lo, hi]`` (either end open when None).  A null value meets
    none."""
    return value is not None and (
        (prefixes is None or value in prefixes)
        and (lo is None or value >= lo)
        and (hi is None or value <= hi)
    )


def _kp_dirs(snap: str) -> list[str]:
    return [e for e in os.listdir(snap) if e.startswith("_kp=")]


def _link(prev: str, out: str, entries: list[str]) -> None:
    """Hardlink ``entries`` of snapshot ``prev`` into ``out``: a file,
    or a directory's files."""
    os.makedirs(out, exist_ok=True)
    for entry in entries:
        src, dst = os.path.join(prev, entry), os.path.join(out, entry)
        if os.path.isdir(src):
            os.makedirs(dst, exist_ok=True)
            for f in os.listdir(src):
                os.link(os.path.join(src, f), os.path.join(dst, f))
        else:
            os.link(src, dst)


def _unlink(path: str) -> None:
    try:
        os.unlink(path)
    except FileNotFoundError:
        pass


def sql_literal(v) -> str:
    """A row key or qualifier as a SQL literal; strings are quoted with
    ``\\`` and ``'`` escaped."""
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return f"CAST('{v!r}' AS DOUBLE)"
    if isinstance(v, (bytes, bytearray)):
        return f"X'{bytes(v).hex()}'"
    raise TypeError(f"no SQL literal for a key of type {type(v).__name__}")


def rowkey_in(keys) -> "F.Column":
    """``rowkey IN (keys)``, as SQL text when every key has a literal
    (one expression, not a JVM call per key)."""
    try:
        return F.expr(f"rowkey IN ({', '.join(sql_literal(k) for k in keys)})")
    except TypeError:
        return F.col("rowkey").isin(list(keys))


def _partition_value(entry: str) -> str | None:
    """The ``_kp`` value a ``_kp=<escaped>`` directory holds, unescaped
    as Spark's partition discovery does (``%XX`` → the character; the
    Hive default partition is null)."""
    raw = entry[len("_kp="):]
    return None if raw == "__HIVE_DEFAULT_PARTITION__" else unquote(raw)


def _brackets(stats, wanted: list) -> bool:
    """True when a row group whose ``rowkey`` column has ``stats`` may
    hold one of the sorted keys ``wanted``: its min/max brackets a key,
    or the stats are missing, inexact or not comparable to the keys."""
    if (
        stats is None
        or not stats.has_min_max
        or not getattr(stats, "is_min_exact", True)
        or not getattr(stats, "is_max_exact", True)
    ):
        return True
    try:
        i = bisect.bisect_left(wanted, stats.min)
        return i < len(wanted) and wanted[i] <= stats.max
    except TypeError:
        return True
