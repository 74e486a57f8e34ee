"""hpaste_spark benchmark: KV writes with read-your-writes gets, and a batch rollup.

Run from the root of a checkout:

    python3 perfbench/run.py --workload kv_write --seed 1 --seconds 10 --trace 0

One closed-loop client drives one workload from this process through
the public API (``HTable.query2``/``put``/``increment``,
``OpBase.execute``, ``HJob.run``) on ``get_spark()`` defaults, checks
every result, and prints one JSON object as the last line of stdout.
Every workload reports every metric: ``--trace 0`` the end-to-end
ones, ``--trace 1`` the per-layer ones (see README.md).
A run record with the set-up breakdown, tail percentiles, sample
counts and a host-drift probe goes to ``.perfbench/records/``; the
traced run also writes its spans there.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import batch  # noqa: E402
import datagen  # noqa: E402
import kv  # noqa: E402
import ops as opseq  # noqa: E402
from spans import Tracer, spark_job_stats  # noqa: E402

WORKLOADS = ("kv_write", "batch")
# after two untimed cycles the first timed write still ran ~15 % slow
WARM_WRITE_CYCLES = 3
# on a cold JVM the rollup takes ~2.5x its steady time, and the second
# and third passes still ~1.4x and ~1.15x; after four untimed passes the
# timed ones run flat
WARM_PASSES = 4
TAIL_BEYOND = 10
MIN_WRITES = 3
MIN_PASSES = 3

# Every workload runs a read op and a write op: kv_write a point get
# and one OpBase batch, batch a 50-key read-back multi-get and the
# HJob rollup (whose sink merges into the table).  So every workload
# reports every metric below; a cycle is kv_write's batch + its gets,
# or batch's rollup + its read-backs.
ROLE = {"get": "read", "readback": "read", "write": "write", "rollup": "write"}
END_TO_END = ("setup_s", "cycle_s", "read_p50_ms", "write_p50_ms", "ok_op_share",
              "bytes_stored_per_user_byte")
PER_LAYER = (
    "process.peak_rss_mb",
    "storage.read_ms", "storage.read_calls_per_read", "query.to_df_ms", "query.exec_ms",
    "row.build_rows_ms", "spark.jobs_per_read",
    "mutations.self_ms", "storage.write_ms", "storage.vacuum_ms",
    "storage.partitions_rewritten_share", "storage.bytes_written_per_user_byte",
    "storage.files_per_snapshot", "spark.jobs_per_write",
    "spark.stages_per_op", "spark.tasks_per_op", "spark.executor_run_ms_per_op",
    "spark.executor_cpu_ms_per_op", "spark.gc_ms_per_op", "spark.shuffle_bytes_per_op",
    "trace.overhead_pct", "trace.self_cost_pct",
)


def tail(xs: list[float]) -> tuple[float, float] | None:
    """(value, percentile) of the highest percentile with at least
    ``TAIL_BEYOND`` samples beyond it, or None with too few samples."""
    s = sorted(xs)
    i = len(s) - TAIL_BEYOND - 1
    if i < 0:
        return None
    return s[i], 100.0 * i / max(1, len(s) - 1)


def cpu_probe() -> float:
    """Seconds for a fixed CPU-only loop; compared start vs end of a
    run it shows host drift, not program change."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def steal_s() -> float | None:
    """CPU time the hypervisor gave other guests (the ``steal`` column of
    ``/proc/stat``), in seconds; None where the kernel does not say."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def median_ms(xs: list[float]) -> float:
    return statistics.median(xs) * 1000.0


class Run:
    def __init__(self, args, root: str):
        self.args = args
        self.dir = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
        self.records = os.path.join(root, ".perfbench", "records")
        self.tracing = bool(args.trace)
        self.tracer = Tracer()
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.kind_attempts: dict[str, int] = {}
        # a traced run traces every other cycle, so each traced cycle has
        # the same shape and the untraced ones measure the tracing overhead
        self.trace_on = False
        self.walls: dict[str, list[float]] = {}
        self.cycles: list[float] = []
        self.traced: list[dict] = []  # per traced op: kind, wall, spark stats
        self.untraced: dict[str, list[float]] = {}
        self.extra: dict[str, list[float]] = {}  # per-layer values gathered by checks
        self.record: dict = {"workload": args.workload, "seed": args.seed,
                             "seconds": args.seconds, "trace": args.trace}

    # -- environment ----------------------------------------------------
    def start_session(self):
        for sub in ("tmp", "spark-local", "warehouse"):
            os.makedirs(os.path.join(self.dir, sub), exist_ok=True)
        tmp = os.path.join(self.dir, "tmp")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.dir, "spark-local")
        os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(self.dir, "warehouse")
        os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
        from hpaste_spark import get_spark

        self.spark = get_spark("perfbench", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        })
        self.spark.sparkContext.setLogLevel("ERROR")

    def peak_rss_mb(self) -> float:
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_kb = 0
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        if proc is not None:
            with open(f"/proc/{proc.pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        return (py_kb + jvm_kb) / 1024.0

    def close(self) -> None:
        self.tracer.unwrap_all()
        try:
            if self.spark is not None:
                from pyspark import SparkContext

                gateway = SparkContext._gateway
                proc = getattr(gateway, "proc", None)
                try:
                    self.spark.stop()
                    gateway.shutdown()
                finally:
                    if proc is not None:
                        proc.stdin.close()  # the JVM exits on stdin EOF
                        try:
                            proc.wait(timeout=60)
                        except subprocess.TimeoutExpired:
                            proc.kill()
                            proc.wait()
        finally:
            shutil.rmtree(self.dir, ignore_errors=True)

    # -- one operation ----------------------------------------------------
    def op(self, kind: str, call, timed: bool = True):
        """Run ``call`` (the timed public API call, returning an untimed
        check).  Outside the timed loop any failure aborts the run."""
        sc = self.spark.sparkContext
        if timed:
            self.attempted += 1
            self.kind_attempts[kind] = self.kind_attempts.get(kind, 0) + 1
        traced = timed and self.tracing and self.trace_on
        group = f"perfbench-op-{self.attempted}"
        if timed and self.tracing:
            sc.setJobGroup(group, kind)
        self.tracer.enabled, self.tracer.op_id = traced, self.attempted
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op." + kind):
                check = call()
            wall = time.perf_counter() - t0
            self.tracer.enabled = False
            ok = bool(check())
        except Exception:
            if not timed:
                raise
            traceback.print_exc()
            wall, ok = time.perf_counter() - t0, False
        finally:
            self.tracer.enabled = False
        if not timed:
            if not ok:
                raise RuntimeError(f"warm-up {kind} returned a wrong result")
            self.record.setdefault("warmup_walls", {}).setdefault(kind, []).append(wall)
            return wall
        if ok:
            self.walls.setdefault(kind, []).append(wall)
        else:
            self.failed += 1
            print(f"perfbench: {kind} op {self.attempted} failed its check", file=sys.stderr)
        if traced:
            self.traced.append({"op_id": self.attempted, "kind": kind, "wall": wall,
                                **spark_job_stats(sc, group)})
        elif self.tracing:
            self.untraced.setdefault(kind, []).append(wall)
        return wall

    def timed_out(self, t_start: float) -> bool:
        return time.perf_counter() - t_start >= self.args.seconds

    def kv_done(self, t_start: float) -> bool:
        """Time is up, the get tail diagnostic has its samples, there are
        ``MIN_WRITES`` writes behind the median and, in a traced run, both
        a traced and an untraced cycle."""
        return (self.timed_out(t_start)
                and self.kind_attempts.get("get", 0) > TAIL_BEYOND
                and self.kind_attempts.get("write", 0) >= MIN_WRITES
                and (not self.tracing or ("write" in self.untraced and self.traced)))

    # -- tracing ----------------------------------------------------------
    def install_spans(self) -> None:
        from hpaste_spark.operators import mutations
        from hpaste_spark.plans import query
        from hpaste_spark.sources.storage import ParquetStorage

        w = self.tracer.wrap
        w(ParquetStorage, "read", "storage.read")
        w(ParquetStorage, "write", "storage.write")
        w(ParquetStorage, "write_partial", "storage.write")
        w(ParquetStorage, "vacuum_versions", "storage.vacuum")
        w(query.Query2Builder, "to_df", "query.to_df")
        for terminal in ("single_option", "multi_map"):
            w(query.Query2Builder, terminal, "query.exec")
        w(query, "build_rows", "row.build_rows")
        w(mutations.OpBase, "execute", "mutations.execute")
        w(mutations, "bulk_merge_increments", "mutations.bulk_merge")

    # -- workloads --------------------------------------------------------
    def build_table(self, orders_path: str, name: str):
        t0 = time.perf_counter()
        table = kv.build(self.spark, orders_path, os.path.join(self.dir, name))
        return table, time.perf_counter() - t0

    def write_cycle(self, table, model, cycle, timed=True) -> float:
        spark = self.spark
        # logical bytes of the batch: rowkey + status per put, rowkey +
        # "w" + 8 per increment
        user = sum(6 + len(s) for s in cycle["puts"].values()) + len(cycle["increments"]) * (6 + 1 + 8)

        def call():
            check = kv.write_batch(table, spark, model, cycle["puts"], cycle["increments"])
            return lambda: check() and (not timed or self.note_write(table, user))

        wall = self.op("write", call, timed)
        for k in cycle["gets"]:
            wall += self.op("get", lambda k=k: kv.get(table, spark, model, k), timed)
        return wall

    def note_write(self, table, user_bytes: int) -> bool:
        """In a traced run, record what a commit left on disk: the share
        of partitions holding a freshly written file, the fresh bytes per
        logical byte written, and the snapshot's file count."""
        if not self.tracing:
            return True
        root = table.storage.snapshot_dir(table.storage.current_version())
        parts = [e for e in os.listdir(root) if e.startswith("_kp=")]
        fresh = rewritten = 0
        for part in parts:
            part_fresh = 0
            for dirpath, _, names in os.walk(os.path.join(root, part)):
                for name in names:
                    st = os.stat(os.path.join(dirpath, name))
                    if st.st_nlink == 1:  # not hardlinked from the previous snapshot
                        part_fresh += st.st_size
            fresh += part_fresh
            rewritten += part_fresh > 0
        self.extra.setdefault("storage.partitions_rewritten_share", []).append(rewritten / len(parts))
        self.extra.setdefault("storage.bytes_written_per_user_byte", []).append(fresh / user_bytes)
        self.extra.setdefault("storage.files_per_snapshot", []).append(kv.snapshot_bytes(table)[1])
        return True

    def setup_kv(self, tabs, data_dir):
        table, build_s = self.build_table(os.path.join(data_dir, "orders.parquet"), "kv")
        model = kv.Model(tabs["orders"])
        t0 = time.perf_counter()
        warm = opseq.kv_write_cycles(self.args.seed, stream=1)
        for cycle in itertools.islice(warm, WARM_WRITE_CYCLES):
            self.write_cycle(table, model, cycle, timed=False)
        return (table, model), build_s, time.perf_counter() - t0

    def run_kv(self, state) -> dict:
        table, model = state
        t_start = time.perf_counter()
        for cycle in opseq.kv_write_cycles(self.args.seed):
            if self.kv_done(t_start):
                break
            self.trace_on = not self.trace_on
            self.cycles.append(self.write_cycle(table, model, cycle))
        return {"bytes_stored_per_user_byte": (kv.snapshot_bytes(table)[0] / model.user_bytes(), "ratio")}

    def batch_pass(self, st, data_dir, timed=True) -> float:
        spark = self.spark
        table, model, sums = st["table"], st["model"], st["sums"]
        job = batch.rollup_job(table, os.path.join(data_dir, "lineitem.parquet"))
        # each pass starts from a collected heap, so garbage left by the
        # previous pass is not billed to this one
        spark.sparkContext._jvm.System.gc()

        def rollup():
            result = job.run(spark)
            st["passes"] += 1
            if timed and self.tracing:
                for task, secs in result.timings.items():
                    self.extra.setdefault(f"job.{task}_ms", []).append(secs * 1000.0)

            def check():
                return (result.ok and result.task_order == ["map", "reduce", "sink"]
                        and (not timed or self.note_write(table, st["rollup_user_bytes"])))

            return check

        wall = self.op("rollup", rollup, timed)
        # likewise the read-backs do not pay for the rollup's garbage
        spark.sparkContext._jvm.System.gc()
        for keys in st["keys"]:
            wall += self.op("readback", lambda keys=keys: batch.readback(
                table, spark, model, keys, sums, st["passes"]), timed)
        return wall

    def setup_batch(self, tabs, data_dir):
        table, build_s = self.build_table(os.path.join(data_dir, "orders.parquet"), "batch")
        keys = opseq.batch_readback_keys(self.args.seed)
        model = kv.Model(tabs["orders"])
        lineitem = tabs["lineitem"]
        pairs = batch.pair_count(lineitem)
        # each (order, month) pair is one hits entry: 7-char key + 8 bytes
        st = {"table": table, "model": model, "keys": keys, "passes": 0,
              "sums": batch.monthly_sums(lineitem, [k for ks in keys for k in ks]),
              "user_bytes": model.user_bytes() + pairs * (7 + 8),
              "rollup_user_bytes": batch.order_count(lineitem) * 6 + pairs * (7 + 8)}
        t0 = time.perf_counter()
        for _ in range(WARM_PASSES):
            self.batch_pass(st, data_dir, timed=False)
        return st, build_s, time.perf_counter() - t0

    def run_batch(self, st, data_dir) -> dict:
        t_start = time.perf_counter()
        # at least MIN_PASSES, then whole passes that fit in the window
        while len(self.cycles) < MIN_PASSES or (time.perf_counter() - t_start
                                                + statistics.median(self.cycles) <= self.args.seconds):
            self.trace_on = not self.trace_on
            self.cycles.append(self.batch_pass(st, data_dir))
        stored = kv.snapshot_bytes(st["table"])[0]
        return {"bytes_stored_per_user_byte": (stored / st["user_bytes"], "ratio")}

    # -- the run ------------------------------------------------------------
    def execute(self) -> dict:
        a = self.args
        self.record["probe_start_s"] = cpu_probe()
        steal0 = steal_s()
        data_dir = os.path.join(self.dir, "data")
        t0 = time.perf_counter()
        tabs = datagen.generate(data_dir, a.seed, orders_only=a.workload != "batch")
        self.record["datagen_s"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        self.start_session()
        session_s = time.perf_counter() - t0
        if self.tracing:
            self.install_spans()
        if a.workload == "batch":
            state, build_s, warm_s = self.setup_batch(tabs, data_dir)
        else:
            state, build_s, warm_s = self.setup_kv(tabs, data_dir)
        setup_s = session_s + build_s + warm_s
        self.record.update(session_s=session_s, warmup_s=warm_s, setup_s=setup_s)

        t_loop = time.perf_counter()
        m = self.run_batch(state, data_dir) if a.workload == "batch" else self.run_kv(state)
        self.record["loop_s"] = time.perf_counter() - t_loop
        m.update(self.latency_metrics())
        m["setup_s"] = (setup_s, "s")
        m["ok_op_share"] = ((self.attempted - self.failed) / max(1, self.attempted), "share")
        self.record["probe_end_s"] = cpu_probe()
        steal1 = steal_s()
        if steal0 is not None and steal1 is not None:
            self.record["steal_s"] = steal1 - steal0
        self.record.update(walls=self.walls, cycles=self.cycles)

        if self.tracing:
            m = self.layer_metrics()
            m["process.peak_rss_mb"] = (self.peak_rss_mb(), "MB")
        want = PER_LAYER if self.tracing else END_TO_END
        missing = set(want) - set(m)
        if missing:
            raise RuntimeError(f"declared metrics {sorted(missing)} were not measured")
        # what the layers give beyond the declared metrics stays in the record
        self.record["diagnostics"] = {k: v[0] for k, v in m.items() if k not in want}
        metrics = {k: m[k] for k in want}
        self.record["metrics"] = {k: v[0] for k, v in metrics.items()}
        self.write_record()
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
        }

    def latency_metrics(self) -> dict:
        m = {"cycle_s": (statistics.median(self.cycles), "s")}
        tails = {}
        for role in ("read", "write"):
            xs = [w for kind, ws in self.walls.items() if ROLE[kind] == role for w in ws]
            m[f"{role}_p50_ms"] = (median_ms(xs), "ms")
            # with the samples one run affords the tail rule's percentile
            # sits at or below the median: a diagnostic, not a metric
            t = tail(xs)
            if t is not None:
                tails[role] = {"ms": t[0] * 1000.0, "percentile": t[1], "samples": len(xs)}
                print(f"perfbench: {role} tail p{t[1]:.1f} of {len(xs)} samples "
                      f"= {t[0] * 1000.0:.1f} ms", file=sys.stderr)
        self.record["tails"] = tails
        return m

    def layer_metrics(self) -> dict:
        tr = self.tracer
        self_s = tr.self_seconds()
        by_name: dict[str, list[float]] = {}
        per_op: dict[int, dict[str, int]] = {}
        roots: dict[int, float] = {}
        own_sum: dict[int, float] = {}
        for s in tr.spans:
            by_name.setdefault(s.name, []).append(self_s[s.span_id])
            per_op.setdefault(s.op_id, {}).setdefault(s.name, 0)
            per_op[s.op_id][s.name] += 1
            own_sum[s.op_id] = own_sum.get(s.op_id, 0.0) + self_s[s.span_id]
            if s.parent is None:
                roots[s.op_id] = s.seconds
        err = max((abs(own_sum[o] - roots[o]) / roots[o] for o in roots), default=0.0)
        self.record["span_self_sum_max_rel_error"] = err
        if err > 1e-6:
            raise RuntimeError(f"span self times do not sum to op wall time (rel err {err})")

        m: dict[str, tuple[float, str]] = {}
        for spans, metric in (
            (("storage.read",), "storage.read_ms"),
            (("storage.write",), "storage.write_ms"),
            (("storage.vacuum",), "storage.vacuum_ms"),
            (("query.to_df",), "query.to_df_ms"),
            (("query.exec",), "query.exec_ms"),
            (("row.build_rows",), "row.build_rows_ms"),
            (("mutations.execute", "mutations.bulk_merge"), "mutations.self_ms"),
        ):
            xs = [x for span in spans for x in by_name.get(span, ())]
            if xs:
                m[metric] = (median_ms(xs), "ms")
        reads = [o for o in self.traced if ROLE[o["kind"]] == "read"]
        if reads:
            m["storage.read_calls_per_read"] = (statistics.mean(
                per_op[o["op_id"]].get("storage.read", 0) for o in reads), "count")
        for role in ("read", "write"):
            xs = [o["jobs"] for o in self.traced if ROLE[o["kind"]] == role]
            if xs:
                m[f"spark.jobs_per_{role}"] = (statistics.mean(xs), "count")
        # per op kind, for the record: jobs per get, per OpBase batch, per rollup
        for kind in sorted({o["kind"] for o in self.traced}):
            m[f"spark.jobs_per_op.{kind}"] = (statistics.mean(
                o["jobs"] for o in self.traced if o["kind"] == kind), "count")
        if self.traced:
            for key, metric, unit in (
                ("stages", "spark.stages_per_op", "count"),
                ("tasks", "spark.tasks_per_op", "count"),
                ("executor_run_ms", "spark.executor_run_ms_per_op", "ms"),
                ("executor_cpu_ms", "spark.executor_cpu_ms_per_op", "ms"),
                ("gc_ms", "spark.gc_ms_per_op", "ms"),
                ("shuffle_bytes", "spark.shuffle_bytes_per_op", "bytes"),
            ):
                m[metric] = (statistics.mean(o[key] for o in self.traced), unit)
        for name, xs in self.extra.items():
            unit = "ms" if name.endswith("_ms") else ("count" if "files" in name else "ratio")
            if name == "storage.partitions_rewritten_share":
                unit = "share"
            m[name] = (statistics.median(xs), unit)
        traced_wall = sum(o["wall"] for o in self.traced)
        m["trace.self_cost_pct"] = (100.0 * tr.bookkeeping_s / traced_wall if traced_wall else 0.0, "%")
        ratios = []
        for kind, xs in self.untraced.items():
            ys = [o["wall"] for o in self.traced if o["kind"] == kind]
            if xs and ys:
                ratios.append(statistics.median(ys) / statistics.median(xs))
        if ratios:
            m["trace.overhead_pct"] = (100.0 * (statistics.mean(ratios) - 1.0), "%")
        return m

    def write_record(self) -> None:
        os.makedirs(self.records, exist_ok=True)
        stem = f"{self.args.workload}-seed{self.args.seed}-trace{self.args.trace}-{os.getpid()}"
        with open(os.path.join(self.records, stem + ".json"), "w") as fh:
            json.dump(self.record, fh, indent=1, sort_keys=True)
        if self.tracing:
            self.tracer.dump(os.path.join(self.records, stem + ".spans.jsonl"))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "hpaste_spark", "__init__.py")):
        print("perfbench: hpaste_spark/ not found; run from the root of an hpaste_spark checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    os.environ["TZ"] = "UTC"  # collected timestamps compare against UTC model values
    time.tzset()
    # on SIGTERM unwind through Run.close(), which stops the JVM and
    # removes the run's files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    run = Run(args, root)
    try:
        result = run.execute()
    finally:
        run.close()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
