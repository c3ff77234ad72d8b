"""Run one benchmark workload in a fresh process and print its metrics.

    python3 perfbench/run.py --workload reports --seed 1 --seconds 5 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end ones; with ``--trace 1`` they are the per-layer ones,
read from spans the benchmark records around its calls into each module and
from Spark's own status stores. Every timed operation is materialised with
a ``noop`` write, so every output column is computed and no rows reach the
driver; every output is checked against the DuckDB oracle outside the timed
region. All files go under ``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from workloads import COMPACT_EVERY, INGEST_ORACLE, WORKLOADS, Workload  # noqa: E402

BENCH_DIR = os.path.join(ROOT, ".perfbench")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 8192


def driver_mem_mb() -> int:
    """Driver heap: an eighth of host RAM, between 1 and 4 GiB."""
    return max(1024, min(4096, host_mem_mb() // 8))


def cpu_canary_ms() -> float:
    """Median time of a fixed pure-Python CPU probe."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc = (acc * 31 + i) & 0xFFFFFFFF
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def source_id() -> str:
    """Git commit of the program, or a digest of its sources outside git."""
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    import hashlib

    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "syntheticdata_pipeline__spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    h.update(name.encode())
                    h.update(f.read())
    return "src:" + h.hexdigest()[:16]


def dir_files(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _, files in os.walk(path):
        for name in files:
            p = os.path.join(dirpath, name)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written_bytes(before: dict, after: dict) -> int:
    """Bytes of files that are new or rewritten between two listings."""
    return sum(size for p, (size, mt) in after.items() if before.get(p) != (size, mt))


def materialize(df) -> None:
    """The timed action: a ``noop`` write computes every output column and
    sends no rows to the driver (``count()`` would let the optimizer prune
    unused columns)."""
    df.write.format("noop").mode("overwrite").save()


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


class Bench:
    """State of one benchmark run."""

    def __init__(self, args, wl: Workload, check_oracle):
        from layers import OpStats
        from spans import Tracer

        self.args = args
        self.wl = wl
        self.check_oracle = check_oracle
        self.t_imported = time.perf_counter()
        self.work = os.path.join(BENCH_DIR, "work", f"{wl.name}-{args.seed}-{os.getpid()}")
        self.inputs = os.path.join(self.work, "inputs")
        self.jvm_log = os.path.join(self.work, "jvm.log")
        self.tracer = Tracer()
        self.stats = OpStats()
        self.record: dict = {
            "workload": wl.name,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "cpus": host_cpus(),
            "host_mem_mb": host_mem_mb(),
            "driver_mem_mb": driver_mem_mb(),
            "python": platform.python_version(),
        }
        self.lat_by_pass: list[list[tuple[str, float]]] = []
        self.failures: list[dict] = []
        self.bad_queries: dict[str, str] = {}
        self.traced_ops = 0
        self.extra: dict[str, float] = {}
        self.setup: dict[str, float] = {}
        self.accum_errors = 0
        self.canary_ms: list[float] = []
        self.canary_job_ms: list[float] = []
        self.spark = None

    # -- set-up -----------------------------------------------------------
    def prepare_env(self) -> None:
        for sub in ("spark-local", "tmp"):
            os.makedirs(os.path.join(self.work, sub), exist_ok=True)
        tmp = os.path.join(self.work, "tmp")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        )
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = None
        mem = f"{driver_mem_mb()}m"
        os.environ["SPARK_DRIVER_MEM"] = mem
        # a fixed-size heap, so peak RSS does not follow heap resizing
        java_opts = f"-Xms{mem} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
        )

    def generate(self) -> None:
        t0 = time.perf_counter()
        tables = gen.generate(self.args.seed, self.wl.inputs)
        self.digest = gen.write_tables(tables, self.inputs)
        self.chunk_paths = []
        if self.wl.chunks:
            import pyarrow.parquet as pq

            docs = tables["documents"]
            step = math.ceil(docs.num_rows / self.wl.chunks)
            for k in range(self.wl.chunks):
                path = os.path.join(self.work, "chunks", f"chunk_{k:03d}.parquet")
                os.makedirs(os.path.dirname(path), exist_ok=True)
                pq.write_table(docs.slice(k * step, step), path)
                self.chunk_paths.append(path)
        self.n_docs = tables["documents"].num_rows
        self.record["input_digest"] = self.digest
        self.record["input_version"] = gen.INPUT_VERSION
        self.record["gen_s"] = time.perf_counter() - t0

    def start_session(self) -> None:
        """JVM and session start and catalog load: the set-up before the
        workload's warm-up."""
        from syntheticdata_pipeline__spark.plans import load_all
        from syntheticdata_pipeline__spark.session import get_spark

        tracer = self.tracer
        tracer.active = bool(self.args.trace)
        saved = os.dup(2)
        fd = os.open(self.jvm_log, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
        t0 = time.perf_counter()
        try:
            # the JVM inherits this stderr, so its log lands in jvm.log
            os.dup2(fd, 2)
            with tracer.span("session.get_spark"):
                self.spark = get_spark("perfbench", cpus=host_cpus())
        finally:
            os.dup2(saved, 2)
            os.close(fd)
            os.close(saved)
        t1 = time.perf_counter()
        with tracer.span("plans.load_all"):
            self.attach(self.spark, load_all())
        t2 = time.perf_counter()
        tracer.active = False
        self.setup = {
            "session.import_s": self.t_imported - T_START,
            "session.start_s": t1 - t0,
            "session.catalog_load_s": t2 - t1,
        }

    def warmed_up(self, seconds: float) -> None:
        """Record the warm-up and close the set-up time."""
        self.setup["session.warmup_s"] = seconds
        self.record.update(self.setup)
        self.record["setup_s"] = sum(self.setup.values())

    def attach(self, spark, registry) -> None:
        """Use ``spark`` and the query ``registry`` for the operations."""
        from layers import PlanTimes, StatusReader, StreamProgress

        self.spark = spark
        self.registry = registry
        self.reader = StatusReader(spark)
        self.plans = PlanTimes()
        self.stream = StreamProgress()

    def canary(self) -> None:
        """The host probes: a fixed pure-Python CPU loop and a tiny Spark
        job, taken before and after the timed loop."""
        self.canary_ms.append(cpu_canary_ms())
        t0 = time.perf_counter()
        self.spark.range(0, 200_000, numPartitions=host_cpus()).selectExpr("sum(id)").collect()
        self.canary_job_ms.append((time.perf_counter() - t0) * 1e3)

    # -- operations -------------------------------------------------------
    def fail(self, op: str, exc: BaseException | None, why: str | None = None) -> None:
        self.failures.append({"op": op, "error": why or f"{type(exc).__name__}: {exc}"[:300]})
        os.makedirs(self.work, exist_ok=True)
        with open(self.jvm_log, "a") as f:
            f.write(f"\n[perfbench] operation {op} failed\n")
            if exc is not None:
                traceback.print_exception(exc, file=f)

    def timed(self, op: str, body, traced: bool, keep: bool):
        """Run ``body`` as one timed operation; return (seconds, result) or
        (None, None) when it raised. Traced operations record spans, and
        with ``keep`` also Spark counters for the jobs launched meanwhile
        and, in ``self.op_plans``, the planning seconds of each query
        execution the operation ran."""
        reader, tracer = self.reader, self.tracer
        tracer.active = traced
        tracer.op = op
        if keep:
            j0, e0, gc0 = reader.last_job_id(), reader.last_execution_id(), reader.gc_seconds()
            p0 = len(self.plans.seconds)
        t0 = time.perf_counter()
        try:
            with tracer.span("op"):
                result = body()
        except Exception as exc:  # an operation boundary: count it and go on
            tracer.active = False
            self.fail(op, exc)
            return None, None
        dt = time.perf_counter() - t0
        tracer.active = False
        if keep:
            reader.drain()
            self.op_plans = self.plans.seconds[p0:]
            st = reader.jobs_stats(j0 + 1, reader.last_job_id())
            st.wall_s = dt
            st.gc_s = reader.gc_seconds() - gc0
            st.python_bytes = reader.python_bytes(e0 + 1, reader.last_execution_id())
            self.stats.add(st)
            self.traced_ops += 1
            self.extra["pins.peak_bytes"] = max(
                self.extra.get("pins.peak_bytes", 0), reader.pinned_bytes()
            )
        return dt, result

    def passes(self):
        """Timed-loop passes as (index, traced): the workload's passes, more
        while ``--seconds`` has not elapsed, then, in a traced run, one
        traced pass. It gives the per-layer counters, and against the pass
        before it, untraced and as warm, the tracing overhead."""
        begin = time.perf_counter()
        p = 0
        while p < self.wl.passes or time.perf_counter() - begin < self.args.seconds:
            yield p, False
            p += 1
        if self.args.trace:
            yield p, True

    def untraced_passes(self) -> list[list[tuple[str, float]]]:
        return self.lat_by_pass[:-1] if self.args.trace else self.lat_by_pass

    # -- operations of a workload -------------------------------------------
    def run_ops(self) -> None:
        """Warm up, then run the closed loop: every pass runs the catalog
        queries in seeded order, then the chunk commits in ``doc_id`` order.
        Every output is compared with its oracle outside the timed region."""
        from reference import Reference

        wl, reg = self.wl, self.registry
        ref = Reference(self.check_oracle, self.inputs, os.path.join(BENCH_DIR, "cache", self.digest))
        oracles = {q: reg[q].oracle for q in wl.queries}
        if wl.chunks:
            oracles[INGEST_ORACLE] = reg[INGEST_ORACLE].oracle
        t0 = time.perf_counter()
        expected = ref.expected(oracles)
        self.record["reference_s"] = time.perf_counter() - t0

        # warm-up: every query runs once, untimed, and its output is
        # collected and compared with the oracle. It takes each plan's
        # first-run costs, so the timed passes measure a query's steady
        # cost. Chunk commits are checked after the loop, on their sinks.
        t0 = time.perf_counter()
        self.tracer.active, self.tracer.op = bool(self.args.trace), "warmup"
        warm = self.record["warmup_op_s"] = {}
        with self.tracer.span("warmup"):
            for q in wl.queries:
                t_q = time.perf_counter()
                try:
                    got = ref.spark_summary(reg[q].build(self.spark, self.inputs))
                    why = ref.mismatch(got, expected[q])
                except Exception as exc:  # recorded per query, the run goes on
                    self.fail(f"verify:{q}", exc)
                    why = f"raised {type(exc).__name__}"
                if why:
                    self.bad_queries[q] = why
                warm[q] = time.perf_counter() - t_q
        self.tracer.active = False
        self.warmed_up(time.perf_counter() - t0)

        self.canary()
        rng = random.Random(self.args.seed)
        sinks = []
        n_pass = 0
        for p, traced in self.passes():
            keep = traced
            if keep:  # the listeners count the traced pass only
                self.reader.listen(self.plans, self.stream)
            pass_ops = self.query_pass(p, rng.sample(wl.queries, len(wl.queries)), traced, keep)
            if wl.chunks:
                lane = self.open_ingest(p)
                pass_ops += self.ingest_pass(p, lane, traced, keep)
                sinks.append((p, lane[2]))
            if keep:
                self.reader.unlisten(self.plans, self.stream)
            self.lat_by_pass.append(pass_ops)
            n_pass += 1
        self.attempted = n_pass * (len(wl.queries) + wl.chunks)
        self.canary()
        if wl.chunks:
            # DuckDB reads the sinks after the peak RSS is taken
            self.peak_rss()
            self.check_sinks(ref, expected[INGEST_ORACLE], sinks)

    def query_pass(self, p: int, order, traced: bool, keep: bool) -> list[tuple[str, float]]:
        """One timed pass over the catalog queries: ``build()`` plus a
        ``noop`` write each."""
        spark, reg = self.spark, self.registry
        ops = []
        for q in order:
            marks = {}

            def body(q=q, marks=marks):
                with self.tracer.span("plans.build"):
                    df = reg[q].build(spark, self.inputs)
                if keep:
                    marks["build"] = self.reader.last_job_id()
                with self.tracer.span("action.noop_write"):
                    materialize(df)

            if keep:
                marks["start"] = self.reader.last_job_id()
            dt, _ = self.timed(f"{q}#{p}", body, traced, keep)
            if dt is None:
                continue
            ops.append((q, dt))
            if q in self.bad_queries:
                self.fail(f"{q}#{p}", None, f"output differs from the oracle: {self.bad_queries[q]}")
            if keep:
                self.count("queries", 1)
                self.count("plans.build_jobs", marks["build"] - marks["start"])
                # the noop write is the operation's last query execution
                self.count("catalyst.plan_s", self.op_plans[-1] if self.op_plans else 0.0)
        return ops

    # -- ingest: chunk commits into a growing state --------------------------
    def commit(self, k: int, lane) -> None:
        """Land chunk ``k``: ``StateTable.filter_new``,
        ``incremental_minhash_dedup`` against the loaded state,
        ``StateTable.append`` and an upserting ``write_keyed_overwrite`` of
        the survivors; ``StateTable.compact()`` after every m-th chunk."""
        import pyspark.sql.functions as F
        from syntheticdata_pipeline__spark.operators import neardup
        from syntheticdata_pipeline__spark.plans import docs_q
        from syntheticdata_pipeline__spark.sources import readers

        _, st, sink = lane
        tracer = self.tracer
        chunk = self.spark.read.parquet(self.chunk_paths[k])
        with tracer.span("state.filter_new"):
            new = st.filter_new(chunk.withColumn("id", F.col("doc_id"))).drop("id")
        prior = st.load() if st.exists() else None
        with tracer.span("neardup.incremental"):
            survivors, sigs = neardup.incremental_minhash_dedup(
                new,
                prior,
                id_col="doc_id",
                text_col="text",
                num_hashes=docs_q._MH_HASHES,
                bands=docs_q._MH_BANDS,
                est_threshold=docs_q._INC_EST_THRESHOLD,
            )
        with tracer.span("state.append"):
            st.append(sigs)
        with tracer.span("sink.write"):
            readers.write_keyed_overwrite(survivors, sink, key_col="doc_id", upsert=True)
        if (k + 1) % COMPACT_EVERY == 0:
            with tracer.span("state.compact"):
                st.compact()

    def open_ingest(self, p: int):
        """An empty state and keyed sink for pass ``p``."""
        from syntheticdata_pipeline__spark.operators import state

        d = os.path.join(self.work, "ingest", f"pass{p}")
        st = state.StateTable(self.spark, os.path.join(d, "state"), key_cols=["id"], value_cols=["sig"])
        return d, st, os.path.join(d, "sink")

    def ingest_pass(self, p: int, lane, traced: bool, keep: bool) -> list[tuple[str, float]]:
        """Timed commits of every chunk into ``lane``, in ``doc_id`` order."""
        d, st, _ = lane
        ops = []
        for k in range(self.wl.chunks):
            before = dir_files(d) if keep else None
            dt, _ = self.timed(f"chunk{k}#{p}", lambda k=k: self.commit(k, lane), traced, keep)
            if dt is not None:
                ops.append((f"chunk{k}", dt))
            if keep:
                self.count("commits", 1)
                self.count("written_bytes", written_bytes(before, dir_files(d)))
                self.count("chunk_bytes", os.path.getsize(self.chunk_paths[k]))
        if keep:
            files = [f for f in dir_files(st.path) if f.endswith(".parquet")]
            self.extra["state.files"] = len(files)
            self.extra["state.bytes_per_doc"] = sum(os.path.getsize(f) for f in files) / self.n_docs
        return ops

    def check_sinks(self, ref, expected: dict, sinks) -> None:
        """Every pass's sink must hold exactly the per-``lang`` survivor
        counts of the one-shot oracle over all ingested documents."""
        t0 = time.perf_counter()
        survivors = []
        for p, sink in sinks:
            try:
                got = ref.query_summary(
                    "SELECT lang, COUNT(*) AS n_survivors FROM read_parquet("
                    f"'{sink}/**/*.parquet', hive_partitioning = true) GROUP BY lang"
                )
                n = ref.query_summary(
                    f"SELECT doc_id FROM read_parquet('{sink}/**/*.parquet', hive_partitioning = true)"
                )["rows"]
                survivors.append(n)
                why = ref.mismatch(got, expected)
            except Exception as exc:  # a missing or unreadable sink is a wrong output
                why = f"sink unreadable: {type(exc).__name__}: {exc}"[:300]
            if why:
                for k in range(self.wl.chunks):
                    self.fail(f"chunk{k}#{p}", None, f"sink differs from the oracle: {why}")
        self.record["check_s"] = time.perf_counter() - t0
        self.extra["ingest.survivor_ratio"] = (
            statistics.median(survivors) / self.n_docs if survivors else 0.0
        )

    def count(self, key: str, value: float) -> None:
        self.extra[key] = self.extra.get(key, 0) + value

    def peak_rss(self) -> None:
        """Peak RSS of this process and the JVM so far (kept from the first
        call of a run)."""
        from layers import vm_hwm_mb

        if "rss_jvm_mb" not in self.record:
            self.record["rss_python_mb"] = vm_hwm_mb()
            self.record["rss_jvm_mb"] = vm_hwm_mb(self.spark.sparkContext._gateway.proc.pid)

    # -- results ----------------------------------------------------------
    def pass_walls(self) -> list[float]:
        """Busy time of each pass of the closed loop: from the first
        operation's submission to the last result, less the client's own
        bookkeeping between operations."""
        return [sum(dt for _, dt in ops) for ops in self.untraced_passes()]

    def failed_count(self) -> int:
        return len({f["op"] for f in self.failures if "#" in f["op"]})

    def end_to_end(self) -> dict:
        lats = [dt for ops in self.untraced_passes() for _, dt in ops]
        failed = self.failed_count()
        return {
            "setup_s": (self.record["setup_s"], "s"),
            "wall_s": (statistics.median(self.pass_walls()), "s"),
            "op_p50_s": (statistics.median(lats) if lats else 0.0, "s"),
            # a run has fewer than twenty operations, so no percentile above
            # the median has ten beyond it: the tail is each pass's slowest
            # operation (p100), the median over passes
            "op_tail_s": (
                statistics.median([max(dt for _, dt in ops) for ops in self.untraced_passes() if ops] or [0.0]),
                "s",
            ),
            "peak_rss_mb": (self.record["rss_python_mb"] + self.record["rss_jvm_mb"], "MB"),
            "ok_ratio": (1.0 - failed / max(self.attempted, 1), "ratio"),
        }

    def per_layer(self) -> dict:
        st = self.stats
        # per-operation figures describe the traced pass, the last one; self
        # times also cover the set-up and warm-up
        kept = f"#{len(self.lat_by_pass) - 1}"
        tr = self.tracer.only(lambda s: (s["op"] or "").endswith(kept))
        selfs = self.tracer.only(
            lambda s: "#" not in (s["op"] or "") or s["op"].endswith(kept)
        ).self_times()
        n = max(self.traced_ops, 1)
        n_q = max(self.extra.get("queries", 0), 1)
        n_c = max(self.extra.get("commits", 0), 1)
        cores = host_cpus()
        # tracing overhead: the traced pass against the untraced pass before
        # it, query by query (chunk commits are not warmed up, so the first
        # pass also pays their first-run costs)
        plain = dict(self.lat_by_pass[-2]) if len(self.lat_by_pass) > 1 else {}
        pairs = [(dt, plain[q]) for q, dt in self.lat_by_pass[-1] if q in plain and q in self.wl.queries]
        m = {
            **{k: (v, "s") for k, v in self.setup.items() if k != "session.import_s"},
            # build() and its noop write: per catalog query
            "plans.build_s": (tr.total("plans.build") / n_q, "s/op"),
            "plans.build_jobs": (self.extra.get("plans.build_jobs", 0) / n_q, "jobs/op"),
            "catalyst.plan_s": (self.extra.get("catalyst.plan_s", 0.0) / n_q, "s/op"),
            "scheduler.jobs": (st.jobs / n, "jobs/op"),
            "scheduler.stages": (st.stages / n, "stages/op"),
            "scheduler.tasks": (st.tasks / n, "tasks/op"),
            "scheduler.stage_busy_s": (st.stage_busy_s / n, "s/op"),
            "scheduler.driver_gap_s": ((st.wall_s - st.stage_busy_s) / n, "s/op"),
            "scheduler.failed_tasks": (st.failed_tasks, "count"),
            "scheduler.accum_errors": (self.accum_errors, "count"),
            "executor.run_s": (st.run_s / n, "s/op"),
            "executor.cpu_s": (st.cpu_s / n, "s/op"),
            "executor.gc_s": (st.gc_s / n, "s/op"),
            "executor.core_util": (
                st.run_s / (st.stage_busy_s * cores) if st.stage_busy_s else 0.0,
                "ratio",
            ),
            "scan.input_rows": (st.input_rows / n, "rows/op"),
            "scan.input_bytes": (st.input_bytes / n, "B/op"),
            "shuffle.read_bytes": (st.shuffle_read_bytes / n, "B/op"),
            "shuffle.write_bytes": (st.shuffle_write_bytes / n, "B/op"),
            "shuffle.task_skew": (statistics.median(st.skews) if st.skews else 1.0, "ratio"),
            "spill.bytes": (st.spill_bytes / n, "B/op"),
            "pins.peak_bytes": (self.extra.get("pins.peak_bytes", 0), "B"),
            "python.udf_bytes": (st.python_bytes / n, "B/op"),
            "stream.batches": (self.stream.batches / n_q, "batches/op"),
            "stream.rows_per_s": (
                self.stream.rows / (self.stream.batch_ms / 1e3) if self.stream.batch_ms else 0.0,
                "1/s",
            ),
            "stream.state_rows": (self.stream.state_rows, "count"),
            "host.canary_ms": (self.record["host.canary_ms"], "ms"),
            "host.canary_job_ms": (self.record["host.canary_job_ms"], "ms"),
            "host.steal_ratio": (self.record["host.steal_ratio"], "ratio"),
            "trace.overhead_ratio": (
                sum(t for t, _ in pairs) / sum(u for _, u in pairs) - 1.0 if pairs else 0.0,
                "ratio",
            ),
        }
        # per timed chunk commit; 0 on a workload without commits
        x = self.extra
        m.update(
            {
                "neardup.incremental_s": (tr.total("neardup.incremental") / n_c, "s/op"),
                "state.filter_new_s": (tr.total("state.filter_new") / n_c, "s/op"),
                "state.append_s": (tr.total("state.append") / n_c, "s/op"),
                "state.compact_s": (
                    tr.total("state.compact") / max(tr.count("state.compact"), 1),
                    "s/compaction",
                ),
                "sink.write_s": (tr.total("sink.write") / n_c, "s/op"),
                "state.bytes_per_doc": (x.get("state.bytes_per_doc", 0.0), "B/doc"),
                "state.files": (x.get("state.files", 0), "count"),
                "sink.write_amp": (x.get("written_bytes", 0) / max(x.get("chunk_bytes", 0), 1), "ratio"),
                "ingest.survivor_ratio": (x.get("ingest.survivor_ratio", 0.0), "ratio"),
            }
        )
        self.record["self_time_s"] = {k: round(v, 4) for k, v in sorted(selfs.items())}
        return m


def main(argv=None) -> int:
    args = parse_args(argv)
    wl = WORKLOADS[args.workload]
    sys.path.insert(0, ROOT)
    try:
        import syntheticdata_pipeline__spark  # noqa: F401  the program under test
        from reference import load_check_oracle

        check_oracle = load_check_oracle(ROOT)
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    return run(args, wl, check_oracle)


def run(args, wl: Workload, check_oracle) -> int:
    from importlib.metadata import version

    b = Bench(args, wl, check_oracle)
    tracer = b.tracer
    b.record.update(
        source=source_id(),
        pyspark=version("pyspark"),
        pyarrow=version("pyarrow"),
        duckdb=version("duckdb"),
    )
    if os.path.exists(b.work):
        shutil.rmtree(b.work)
    steal0, total0 = cpu_ticks()
    try:
        b.prepare_env()
        b.generate()
        b.start_session()
        if args.trace:
            from syntheticdata_pipeline__spark.streaming import windows

            # the streaming twins call this inside build()
            tracer.wrap(windows, "run_to_memory", "streaming.run_to_memory")
        b.run_ops()
        b.record["host.canary_ms"] = statistics.median(b.canary_ms)
        b.record["host.canary_job_ms"] = statistics.median(b.canary_job_ms)
        steal1, total1 = cpu_ticks()
        # share of CPU time the hypervisor gave to other guests during the run
        b.record["host.steal_ratio"] = (steal1 - steal0) / max(total1 - total0, 1)
        tracer.restore()
        b.peak_rss()
    finally:
        if b.spark is not None:
            stop_session(b.spark)
    with open(b.jvm_log, errors="replace") as f:
        b.accum_errors = sum("Failed to update accumulator" in line for line in f)
    b.record["accum_errors"] = b.accum_errors

    e2e = b.end_to_end()
    metrics = b.per_layer() if args.trace else e2e
    failed = b.failed_count()
    b.record.update(
        passes=len(b.lat_by_pass),
        ops=sum(len(x) for x in b.lat_by_pass),
        attempted=b.attempted,
        failed=failed,
        fail_ratio=failed / max(b.attempted, 1),
        failures=b.failures,
        op_seconds=[[p, q, round(dt, 4)] for p, ops in enumerate(b.lat_by_pass) for q, dt in ops],
        end_to_end={k: v[0] for k, v in e2e.items()},
    )
    os.makedirs(os.path.join(BENCH_DIR, "records"), exist_ok=True)
    stem = f"{wl.name}-s{args.seed}-t{args.trace}"
    with open(os.path.join(BENCH_DIR, "records", f"{stem}.json"), "w") as f:
        json.dump(b.record, f, indent=1, default=str)
    if args.trace:
        os.makedirs(os.path.join(BENCH_DIR, "traces"), exist_ok=True)
        tracer.write(os.path.join(BENCH_DIR, "traces", f"{stem}.jsonl"))
    shutil.rmtree(b.work, ignore_errors=True)

    print(
        f"{wl.name} seed={args.seed} cpus={b.record['cpus']} passes={len(b.lat_by_pass)} "
        f"ops={b.record['ops']} op_tail=p100/pass fail_ratio={b.record['fail_ratio']:.4f} "
        f"steal={b.record['host.steal_ratio']:.3f}"
    )
    for f_ in b.failures:
        print(f"  failed {f_['op']}: {f_['error']}")
    for k, (v, unit) in metrics.items():
        print(f"  {k:28s} {v:14.6g} {unit}")
    if args.trace:
        print("  self time (s): " + json.dumps(b.record["self_time_s"]))
        print(
            "  lsh.candidate_yield: unavailable from outside the program: the LSH "
            "candidate join and the Jaccard verify filter are anonymous plan nodes"
        )
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": b.attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
