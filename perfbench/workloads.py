"""The benchmark's three workloads, each driven by one closed-loop client.

A run of a workload generates its inputs from the seed (untimed), sets up
``SETUP_REPS`` times (session start, source-table commits, and on
``corpus_ops`` the index build), warms every op kind once, then runs timed
requests until ``seconds`` of request time have passed, in whole cycles of a
fixed op mix. Every request's output is checked, untimed, after it returns,
and the ``Probe`` job is timed beside it.

A traced run replaces the timed phase with two, each in a fresh session
after its own warm-up: one with the Spark event log on and the timing spans
enabled, then an untraced one. The per-layer metrics come from the traced
phase; its overhead is measured against the untraced phase after it.
"""

from __future__ import annotations

import datetime as dt
import itertools
import math
import os
import queue
import shutil
import threading
import time
from dataclasses import dataclass
from typing import Any, Callable

import duckdb
import numpy as np

import eventlog
import gen
from checks import Oracle, avg_rounding_tie, rows_match
from stats import geomean, median, median_or_zero
from spans import Tracer, self_time_ns

from sport_advantages_moderne_data_infrastructure_spark.operators import cdc as CDC
from sport_advantages_moderne_data_infrastructure_spark.operators import relational as REL
from sport_advantages_moderne_data_infrastructure_spark.plans import catalog as CAT
from sport_advantages_moderne_data_infrastructure_spark.plans import simops as SIM
from sport_advantages_moderne_data_infrastructure_spark.plans import textops as TXT
from sport_advantages_moderne_data_infrastructure_spark.session import get_spark
from sport_advantages_moderne_data_infrastructure_spark.sources import domain as DOM
from sport_advantages_moderne_data_infrastructure_spark.sources.txnlog import TxnTable
from sport_advantages_moderne_data_infrastructure_spark.streaming import pipeline as PIPE

SETUP_REPS = 3
# probe runs after each timed request: one run varies by +-30% on its own
PROBES_PER_OP = 3
# timed phases: a plain run has UNTRACED, a traced run TRACED then
# UNTRACED_AFTER
UNTRACED, TRACED, UNTRACED_AFTER = 0, 1, 2

# every per-layer metric, with the value a layer that did no work reports
PER_LAYER = (
    "session.start_s",
    "streaming.batches", "streaming.trigger_ms_p50", "streaming.add_batch_ms_p50",
    "streaming.overhead_ms_p50", "streaming.planning_ms_p50", "streaming.wal_ms_p50",
    "cdc.rows_in", "cdc.rows_out", "cdc.yield", "cdc.parse_ms",
    "txnlog.commits", "txnlog.commit_ms_p50", "txnlog.commit_retries",
    "txnlog.checkpoints", "txnlog.merge_ms_p50", "txnlog.write_amp",
    "txnlog.snapshot_ms_p50", "txnlog.log_entries",
    "plan.build_ms_p50", "plan.build_self_ms_p50", "plan.exec_ms_p50",
    "index.shingle_s", "index.capped_s", "index.minhash_s", "index.bm25_s",
    "index.ivf_s", "index.sq8_s", "index.pq_s",
    "dedup.lsh_yield",
    "spark.jobs_per_op", "spark.tasks_per_op", "spark.sched_gap_ms_p50",
    "spark.executor_run_ms", "spark.executor_cpu_ms", "spark.gc_ms",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "spark.peak_exec_mem_bytes", "spark.task_skew_max",
    "trace.overhead_pct", "trace.spans",
)

_TXN_READS = ("read", "read_point", "read_range", "read_changes")
_TXN_WRITES = ("commit", "merge", "append", "delete_where", "checkpoint")
_INDEX_FNS = ((TXT, "shingle_index", "shingle"),
              (TXT, "capped_shingle_index", "capped"),
              (TXT, "minhash_index", "minhash"),
              (TXT, "bm25_index", "bm25"),
              (SIM, "ensure_ivf_index", "ivf"),
              (SIM, "sq8_index", "sq8"),
              (SIM, "ensure_pq_index", "pq"))


@dataclass
class Sample:
    op: int
    kind: str
    cls: str           # "read", "write" or "batch"
    start_ms: float    # epoch
    end_ms: float
    ms: float
    ok: bool
    phase: int
    tag: str | None = None   # cdc_ingest: the chunk the batch came from


@dataclass
class Op:
    cls: str
    run: Callable[[Any], Any]                    # timed
    after: Callable[[Any, Any], str | None]      # untimed check
    prepare: Callable[[], Any] = lambda: None    # untimed input build


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


class Probe:
    """The drift reference behind ``op_cost``, timed in this process
    between requests.

    On the shared virtual machine this benchmark was built on, the host's
    CPU steal made Spark requests run up to 4x slower for minutes at a
    time. A Spark request spends its time partly computing on every core
    and partly handing work between threads and processes (the py4j socket,
    the scheduler, the executor threads), and steal slows the second far
    more: in the worst stretches a thread wake-up took 5x longer, a
    compute-bound job 2x. The probe times one of each, a CPU-bound DuckDB
    aggregation on as many threads as Spark has cores and ``ROUND_TRIPS``
    hand-offs between two Python threads, and reports their geometric mean.
    Over four minutes of such drift, the latency of a fixed Spark
    aggregation divided by the probe varied 8% (interquartile range over
    median, eight-request windows), against 60% undivided, 32% divided by
    the aggregation alone and 27% by the hand-offs alone.

    The probe runs outside the package's JVM and session and shares no
    code, conf or state with them, so a change to the package, including
    one that slows its own JVM (heap, GC, cached state, session conf),
    cannot move it."""

    ROUND_TRIPS = 300

    def __init__(self, threads: int) -> None:
        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {threads}")
        self.con.execute("CREATE TABLE p AS SELECT i::BIGINT AS x "
                         "FROM range(0, 8000000) t(i)")
        for _ in range(3):
            self.ms()

    def _round_trips(self) -> None:
        there, back = queue.Queue(), queue.Queue()

        def peer():
            for _ in range(self.ROUND_TRIPS):
                back.put(there.get())

        t = threading.Thread(target=peer)
        t.start()
        for i in range(self.ROUND_TRIPS):
            there.put(i)
            back.get()
        t.join()

    def ms(self) -> float:
        """Run both jobs once; the geometric mean of their times in ms."""
        t0 = time.perf_counter()
        self.con.execute("SELECT count(*) FROM (SELECT x % 50000 AS k, sum(x) "
                         "FROM p GROUP BY k)").fetchall()
        t1 = time.perf_counter()
        self._round_trips()
        t2 = time.perf_counter()
        return math.sqrt((t1 - t0) * (t2 - t1)) * 1000

    def close(self) -> None:
        self.con.close()


class Workload:
    name = ""

    def __init__(self, work: str, seed: int, trace: bool) -> None:
        self.work, self.seed, self.trace = work, seed, trace
        self.tracer = Tracer()
        self.spark = None
        self.oracle = Oracle()
        self.rng = np.random.default_rng([seed, 7])
        self.op_ids = itertools.count(1)
        self.samples: list[Sample] = []
        self.busy_s = dict.fromkeys((UNTRACED, TRACED, UNTRACED_AFTER), 0.0)
        self.probe = Probe(int(os.environ["SPARK_GRAFT_CPUS"]))
        # probe durations taken beside the timed requests, per phase
        self.probes: dict[int, list[float]] = {p: [] for p in self.busy_s}
        self.setup_s: list[float] = []
        self.session_s: list[float] = []
        self.setup_windows: list[tuple[int, int]] = []
        self.failures: list[str] = []
        self.checks: list[bool] = []   # whole-run output checks
        self.wall_s: dict[str, float] = {}  # wall time per run phase
        self.inputs: dict[str, dict] = {}
        self.evdir = os.path.join(work, "eventlog")
        self.ops: dict[str, Op] = {}
        for name in _TXN_READS + _TXN_WRITES:
            self.tracer.wrap(TxnTable, name, f"txnlog.{name}")
        for mod, fn, short in _INDEX_FNS:
            self.tracer.wrap(mod, fn, f"index.{short}")

    # -- session ----------------------------------------------------------

    def start_session(self, event_log: bool = False) -> None:
        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        if event_log:
            os.makedirs(self.evdir, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.dir": self.evdir})
        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.name}", extra_conf=conf)
        self.session_s.append(time.perf_counter() - t0)

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        self.tracer.close()
        self.oracle.close()
        self.probe.close()
        if self.spark is None:
            return
        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        self.spark = None

    def peak_rss_mb(self) -> float:
        jvm = self.spark.sparkContext._gateway.proc.pid
        return vm_hwm_mb("self") + vm_hwm_mb(jvm)

    def env(self) -> dict:
        import pyspark

        with open("/proc/meminfo") as fh:
            mem_kb = int(fh.readline().split()[1])
        return {"seed": self.seed, "nproc": os.cpu_count(),
                "ram_gb": round(mem_kb / 2**20, 1),
                "spark_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
                "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
                "pyspark": pyspark.__version__,
                "java": self.spark._jvm.System.getProperty("java.version")}

    # -- the run ----------------------------------------------------------

    def run(self, seconds: float) -> None:
        clock = time.perf_counter()

        def lap(name):
            nonlocal clock
            now = time.perf_counter()
            self.wall_s[name] = round(self.wall_s.get(name, 0) + now - clock, 3)
            clock = now

        self.generate()
        lap("generate")
        self.tracer.enabled = self.trace
        for rep in range(SETUP_REPS):
            t0, n0 = time.perf_counter(), time.perf_counter_ns()
            self.start_session()
            self.setup(rep)
            self.setup_s.append(time.perf_counter() - t0)
            self.setup_windows.append((n0, time.perf_counter_ns()))
        self.tracer.enabled = False
        lap("setup")
        for phase in (TRACED, UNTRACED_AFTER) if self.trace else (UNTRACED,):
            if self.trace:
                # the restart out of the traced session also flushes and
                # closes its event log
                self.start_session(event_log=phase == TRACED)
            self.warmup(phase)
            lap("warmup")
            self.tracer.enabled = phase == TRACED
            self.timed(seconds, phase)
            self.tracer.enabled = False
            lap("timed")
        self.final_checks()
        self.rss_mb = self.peak_rss_mb()
        self.env_info = self.env()
        lap("checks")
        if self.trace:
            self.layers = self.per_layer(self.layer_extras())
            self.tracer.dump(os.path.join(self.work, "spans.jsonl"))
            lap("trace")

    def fail(self, kind: str, why) -> None:
        self.failures.append(f"{kind}: {why}"[:400])

    def check(self, what: str, ok: bool) -> None:
        self.checks.append(ok)
        if not ok:
            self.fail("check", what)

    def final_checks(self) -> None:
        pass

    # -- request loop (overridden by cdc_ingest) ----------------------------

    def cycle(self) -> list[str]:
        """One cycle of the op mix, in a seeded order."""
        return [self.mix[i] for i in self.rng.permutation(len(self.mix))]

    def warmup(self, phase: int) -> None:
        for kind in dict.fromkeys(self.mix):
            self.request(kind, phase, record=False)

    def timed(self, seconds: float, phase: int) -> None:
        busy = 0.0
        while busy < seconds:
            for kind in self.cycle():
                busy += self.request(kind, phase) / 1000.0
        self.busy_s[phase] = busy

    def request(self, kind: str, phase: int, record: bool = True) -> float:
        op = self.ops[kind]
        ctx = op.prepare()
        oid = next(self.op_ids)
        sc = self.spark.sparkContext
        sc.setJobDescription(f"op{oid}:{kind}")
        self.tracer.op = oid
        ok, result = True, None
        e0, t0 = time.time() * 1000, time.perf_counter()
        try:
            with self.tracer.span(f"op.{kind}"):
                result = op.run(ctx)
        except Exception as e:  # an op that raises is a failed op, not a crash
            ok = False
            self.fail(kind, repr(e))
        ms = (time.perf_counter() - t0) * 1000
        e1 = time.time() * 1000
        self.tracer.op = None
        sc.setJobDescription(None)
        if ok:
            why = op.after(ctx, result)
            if why:
                ok = False
                self.fail(kind, why)
        if record:
            self.samples.append(
                Sample(oid, kind, op.cls, e0, e1, ms, ok, phase))
            self.probes[phase] += [self.probe.ms() for _ in range(PROBES_PER_OP)]
        return ms

    def read_op(self, build: Callable[[Any], Any],
                expected: Callable[[Any], tuple], prepare=None,
                verify=None, tie=None) -> Op:
        """A read: build the DataFrame, drain it with collect(), then
        compare with ``expected(ctx)`` -> (columns, rows) (``tie`` as in
        ``checks.rows_match``), or hand the rows to
        ``verify(rows) -> reason | None``."""
        tr = self.tracer

        def run(ctx):
            with tr.span("plan.build"):
                df = build(ctx)
            with tr.span("plan.exec"):
                rows = df.collect()
            return df, rows

        def after(ctx, res):
            df, rows = res
            if verify is not None:
                return verify(rows)
            ecols, erows = expected(ctx)
            return rows_match(df.columns, [tuple(r) for r in rows],
                              ecols, erows, tie)

        return Op("read", run, after, prepare or (lambda: None))

    # -- metrics ----------------------------------------------------------

    def phase(self, *phases: int) -> list[Sample]:
        return [s for s in self.samples if s.phase in phases]

    def latencies(self, *phases: int) -> list[float]:
        """Request latencies in ms (a micro-batch that never ran has none)."""
        return [s.ms for s in self.phase(*phases) if s.ms > 0]

    def end_to_end(self, phase: int = UNTRACED) -> dict:
        """End-to-end metrics: name -> (value, unit, samples). Those that
        BENCHMARK.json names are gated; the rest are printed."""
        lat = self.latencies(phase)
        probe = geomean(self.probes[phase])
        return {
            "op_cost": (geomean(lat) / probe, "probe", len(lat)),
            "op_ms_gmean": (geomean(lat), "ms", len(lat)),
            "probe_ms": (probe, "ms", len(self.probes[phase])),
            "setup_s": (median(self.setup_s), "s", len(self.setup_s)),
            "ops_per_s": (len(lat) / self.busy_s[phase], "1/s", len(lat)),
        }

    def counts(self) -> tuple[int, int]:
        """(attempted, failed) over every request and whole-run check."""
        attempted = len(self.samples) + len(self.checks)
        failed = sum(not s.ok for s in self.samples) + self.checks.count(False)
        return attempted, failed

    def per_layer(self, extras: dict) -> dict:
        m = {k: 0.0 for k in PER_LAYER}
        m["session.start_s"] = median(self.session_s[:SETUP_REPS])
        spans = [s for s in self.tracer.spans if s.op is not None]
        by_name: dict[str, list] = {}
        for s in spans:
            by_name.setdefault(s.name, []).append(s)
        ids = {s.id: s for s in spans}
        kids = self.tracer.children()

        def ms(name):
            return [s.ms for s in by_name.get(name, [])]

        commits = by_name.get("txnlog.commit", [])
        m["txnlog.commits"] = len(commits)
        m["txnlog.commit_ms_p50"] = median_or_zero([s.ms for s in commits])
        m["txnlog.commit_retries"] = sum(
            s.error == "TxnConflictError" for s in commits)
        m["txnlog.checkpoints"] = len(by_name.get("txnlog.checkpoint", []))
        m["txnlog.merge_ms_p50"] = median_or_zero(ms("txnlog.merge"))
        # snapshot planning the request asked for, not reads nested in a
        # txnlog write (merge/delete re-read the snapshot themselves)
        snaps = [s.ms for s in spans
                 if s.name in {f"txnlog.{r}" for r in _TXN_READS}
                 and not (s.parent in ids
                          and ids[s.parent].name.startswith("txnlog."))]
        m["txnlog.snapshot_ms_p50"] = median_or_zero(snaps)
        builds = by_name.get("plan.build", [])
        m["plan.build_ms_p50"] = median_or_zero([s.ms for s in builds])
        m["plan.build_self_ms_p50"] = median_or_zero(
            [self_time_ns(s, kids.get(s.id, [])) / 1e6 for s in builds])
        m["plan.exec_ms_p50"] = median_or_zero(ms("plan.exec"))
        for _, _, short in _INDEX_FNS:
            per_rep = []
            for lo, hi in self.setup_windows:
                d = [s.end_ns - s.start_ns for s in self.tracer.spans
                     if s.name == f"index.{short}" and lo <= s.start_ns <= hi]
                if d:
                    per_rep.append(max(d) / 1e9)
            m[f"index.{short}_s"] = median_or_zero(per_rep)
        m["trace.spans"] = len(self.tracer.spans)
        # against the untraced phase that follows the traced one: warm-up
        # drift can only make that phase faster, so drift inflates the
        # overhead figure and never hides tracing cost
        m["trace.overhead_pct"] = 100.0 * (
            geomean(self.latencies(TRACED))
            / geomean(self.latencies(UNTRACED_AFTER)) - 1.0)
        m.update(self.engine_metrics())
        m.update(extras)
        return m

    def engine_metrics(self) -> dict:
        ops = [eventlog.OpWindow(s.op, s.start_ms, s.end_ms)
               for s in self.phase(TRACED)]
        jobs = eventlog.parse(self.evdir)
        return eventlog.summarize(ops, eventlog.attribute(jobs, ops))

    def layer_extras(self) -> dict:
        return {}

    def report_extras(self, phase: int) -> dict:
        """Extra end-to-end figures printed (not gated): name ->
        (value, unit, samples)."""
        return {}


# ---------------------------------------------------------------------------


class CdcIngest(Workload):
    """Debezium frames through the file-source stream into the JVM
    foreachBatch txn append sink, one file per micro-batch."""

    name = "cdc_ingest"
    FILES_PER_CHUNK = 10
    WARMUP_CHUNKS = 1
    CHUNKS_PER_CYCLE = 2    # a cycle of the timed phase: 20 micro-batches
    CHUNKS_PER_PHASE = 4
    ROWS_PER_FILE = 1000

    def generate(self) -> None:
        # chunk 0 is the snapshot committed in setup; then, per phase,
        # WARMUP_CHUNKS untimed and CHUNKS_PER_PHASE timed chunks
        phases = (TRACED, UNTRACED_AFTER) if self.trace else (UNTRACED,)
        k = self.WARMUP_CHUNKS + self.CHUNKS_PER_PHASE
        n_chunks = 1 + len(phases) * k
        sz = gen.Sizes(cdc_files=n_chunks * self.FILES_PER_CHUNK,
                       cdc_rows_per_file=self.ROWS_PER_FILE)
        src = os.path.join(self.work, "inputs", "cdc")
        self.inputs["cdc"] = gen.write_cdc(src, self.seed, sz,
                                           self.FILES_PER_CHUNK)
        chunks = [os.path.join(src, d) for d in sorted(os.listdir(src))]
        self.snapshot = chunks[0]
        self.pending = {p: chunks[1 + i * k:1 + (i + 1) * k]
                        for i, p in enumerate(phases)}
        self.committed: dict[str, int | None] = {}  # chunk -> phase (None: warm-up)
        self.progress: list[tuple[dict, int]] = []
        self.drain_wall = dict.fromkeys(phases, 0.0)
        self.rows_in = dict.fromkeys(phases, 0)    # frames drained
        self.rows_out = dict.fromkeys(phases, 0)   # rows committed

    def setup(self, rep: int) -> None:
        self.target = os.path.join(self.work, "tables", f"rep{rep}", "activities")
        raw = self.spark.read.schema(PIPE.CDC_RAW_SCHEMA).parquet(self.snapshot)
        TxnTable(self.target).append(CDC.parse_cdc(raw))

    def _stream(self, chunk: str):
        name = os.path.basename(chunk)
        return PIPE.write_stream_txn_append(
            PIPE.stream_cdc_from_files(self.spark, chunk, max_files_per_trigger=1),
            self.target, os.path.join(self.work, "checkpoints", name),
            app_id=name)

    def drain(self, chunk: str, phase: int, record: bool = True) -> float:
        """Drain one chunk (FILES_PER_CHUNK micro-batches) to completion;
        each micro-batch is one request, timed trigger to commit."""
        self.tracer.op = next(self.op_ids)
        t0 = time.perf_counter()
        q, err = None, None
        try:
            q = self._stream(chunk)
            q.awaitTermination()
            err = q.exception()
        except Exception as e:  # a drain that raises fails its batches
            err = e
        wall = time.perf_counter() - t0
        self.tracer.op = None
        self.committed[chunk] = phase if record else None
        if err is not None:
            self.fail("drain", repr(err))
        if not record:
            return wall
        self.drain_wall[phase] += wall
        progress = [p for p in (q.recentProgress if q else [])
                    if p.get("numInputRows", 0) > 0]
        for p in progress:
            start = dt.datetime.fromisoformat(
                p["timestamp"].replace("Z", "+00:00")).timestamp() * 1000
            d = p["durationMs"]["triggerExecution"]
            self.progress.append((p, phase))
            self.samples.append(Sample(next(self.op_ids), "batch", "batch",
                                       start, start + d, float(d),
                                       err is None, phase, chunk))
        missing = len(os.listdir(chunk)) - len(progress)
        if missing > 0:
            self.fail("drain", f"{missing} files of {chunk} never drained")
            self.samples += [Sample(next(self.op_ids), "batch", "batch", 0, 0,
                                    0.0, False, phase, chunk)] * missing
        return wall

    def warmup(self, phase: int) -> None:
        for _ in range(self.WARMUP_CHUNKS):
            self.drain(self.pending[phase].pop(0), phase, record=False)

    def timed(self, seconds: float, phase: int) -> None:
        busy = 0.0
        while busy < seconds and self.pending[phase]:
            for _ in range(self.CHUNKS_PER_CYCLE):
                busy += self.drain(self.pending[phase].pop(0), phase)
                self.probes[phase] += [self.probe.ms() for _ in range(10)]
        self.busy_s[phase] = busy

    def final_checks(self) -> None:
        """Committed rows equal the DuckDB parse of every frame committed,
        chunk by chunk; a restart on the last checkpoint adds nothing."""
        table = TxnTable(self.target)
        dump = os.path.join(self.work, "committed")
        table.read(self.spark).write.parquet(dump)
        con = self.oracle.con
        con.execute(f"CREATE TABLE actual AS SELECT * FROM read_parquet('{dump}/*.parquet')")
        n_rows = con.execute("SELECT count(*) FROM actual").fetchone()[0]
        cols = ", ".join(c[0] for c in con.execute("DESCRIBE actual").fetchall())
        sql = CDC.oracle_parse_cdc_sql()
        chunks = [(self.snapshot, None)] + list(self.committed.items())
        con.execute(f"CREATE TABLE expected AS SELECT 0 AS chunk, {cols} "
                    "FROM actual WHERE false")
        for k, (chunk, phase) in enumerate(chunks):
            self.oracle.view("cdc_events", os.path.join(chunk, "*.parquet"))
            con.execute(f"INSERT INTO expected SELECT {k}, {cols} FROM ({sql})")
            frames = con.execute("SELECT count(*) FROM cdc_events").fetchone()[0]
            missing = con.execute(
                f"SELECT count(*) FROM (SELECT {cols} FROM expected WHERE chunk = {k} "
                f"EXCEPT ALL SELECT {cols} FROM actual)").fetchone()[0]
            if phase is not None:
                got = con.execute("SELECT count(*) FROM expected WHERE chunk = ?",
                                  [k]).fetchone()[0] - missing
                self.rows_in[phase] += frames
                self.rows_out[phase] += got
            if missing:
                self.fail("check", f"{os.path.basename(chunk)}: {missing} rows missing")
                for s in self.samples:
                    if s.tag == chunk:
                        s.ok = False
        extra = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM actual "
                            f"EXCEPT ALL SELECT {cols} FROM expected)").fetchone()[0]
        self.check(f"{extra} committed rows match no frame", extra == 0)
        # exactly-once: a restart on the last checkpoint commits nothing
        v0 = table.latest_version()
        q = self._stream(list(self.committed)[-1])
        q.awaitTermination()
        self.check("restart adds no rows",
                   table.latest_version() == v0
                   and table.read(self.spark).count() == n_rows)

    def end_to_end(self, phase: int = UNTRACED) -> dict:
        m = super().end_to_end(phase)
        n = len(self.latencies(phase))
        m["ops_per_s"] = (n / self.drain_wall[phase], "1/s", n)
        return m

    def report_extras(self, phase: int) -> dict:
        n = len(self.latencies(phase))
        return {"ingest_rows_per_s": (self.rows_out[phase] / self.drain_wall[phase],
                                      "rows/s", n)}

    def layer_extras(self) -> dict:
        d = [p["durationMs"] for p, ph in self.progress if ph == TRACED]
        rows_in = self.rows_in[TRACED]
        traced_dirs = [c for c, ph in self.committed.items() if ph == TRACED]
        t0 = time.perf_counter()
        (CDC.parse_cdc(self.spark.read.schema(PIPE.CDC_RAW_SCHEMA)
                       .parquet(*traced_dirs))
         .write.format("noop").mode("overwrite").save())
        parse_ms = (time.perf_counter() - t0) * 1000
        in_bytes = sum(gen.dir_bytes(c) for c in [self.snapshot, *self.committed])
        return {
            "streaming.batches": len(d),
            "streaming.trigger_ms_p50": median_or_zero([x["triggerExecution"] for x in d]),
            "streaming.add_batch_ms_p50": median_or_zero([x.get("addBatch", 0) for x in d]),
            "streaming.overhead_ms_p50": median_or_zero(
                [x["triggerExecution"] - x.get("addBatch", 0) for x in d]),
            "streaming.planning_ms_p50": median_or_zero([x.get("queryPlanning", 0) for x in d]),
            "streaming.wal_ms_p50": median_or_zero([x.get("walCommit", 0) for x in d]),
            "cdc.rows_in": rows_in,
            "cdc.rows_out": self.rows_out[TRACED],
            "cdc.yield": self.rows_out[TRACED] / rows_in if rows_in else 0.0,
            "cdc.parse_ms": parse_ms,
            "txnlog.write_amp": gen.dir_bytes(self.target) / in_bytes,
            "txnlog.log_entries": len(TxnTable(self.target).versions()),
        }


# ---------------------------------------------------------------------------


class LakehouseServe(Workload):
    """Snapshot reads and transactional writes over the txn tables the
    reference's DAG maintains, plus short star-schema catalog rows."""

    name = "lakehouse_serve"
    SIZES = gen.Sizes()
    STAR = ("region", "nation", "customer", "orders", "lineitem", "events")
    STAR_ROWS = ("revenue_by_nation", "pricing_summary", "events_hourly",
                 "orders_cube")
    DOMAIN = ("employees", "commute_validations", "sport_activities")

    def generate(self) -> None:
        self.star = os.path.join(self.work, "inputs", "star")
        self.inputs["star"] = gen.write_star(self.star, self.seed, self.SIZES,
                                             self.STAR)
        self.inputs["star"]["bytes"] = gen.dir_bytes(self.star)
        o = self.oracle
        for t in self.STAR:
            o.view(t, f"{self.star}/{t}.parquet")
        # the DuckDB mirror every write is applied to; reads are checked
        # against it
        cte = DOM.domain_cte_sql()
        for t in self.DOMAIN:
            o.con.execute(f"CREATE TABLE mirror_{t} AS {cte} SELECT * FROM {t}")
        for t in self.DOMAIN:
            o.con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM mirror_{t}")
        self.prime_expected = o.query(REL.PRIME_QUERY_SQL)
        self.star_expected: dict[str, tuple] = {}
        self.event_cents: dict | None = None   # (hour, event_type) -> cents
        self.changes: list[tuple[int, list]] = []   # (version, change rows)
        _, ids = o.query("SELECT max(id) FROM sport_activities")
        self.next_activity_id = ids[0][0] + 1
        CAT.oracle_sql()   # registers every plan module
        self.mix = (["prime_query", "final_table", "activity_agg", "read_point",
                     "read_range", "read_changes"] + list(self.STAR_ROWS)
                    + ["merge", "append", "delete_where"])
        self.build_ops()

    def setup(self, rep: int) -> None:
        base = os.path.join(self.work, "tables", f"rep{rep}")
        self.tables = {t: TxnTable(os.path.join(base, t))
                       for t in self.DOMAIN + ("final",)}
        for t in self.DOMAIN:
            self.tables[t].append(DOM.DOMAIN_TABLES[t](self.spark, self.star))
        e, v, a = (self.tables[t].read(self.spark) for t in self.DOMAIN)
        self.tables["final"].append(REL.final_table(e, v, a))
        self.emp_schema = e.schema
        self.act_schema = a.schema
        self.emp_v0 = self.tables["employees"].latest_version()

    def _q(self, sql: str, params=None):
        return self.oracle.query(sql, params)

    def _ids(self, table: str, col: str) -> list:
        return [r[0] for r in self._q(f"SELECT {col} FROM {table} ORDER BY 1")[1]]

    def build_ops(self) -> None:
        # the lambdas look up self.spark and self.tables at call time: both
        # change with every setup repetition and session restart
        ops, t = self.ops, lambda name: self.tables[name]
        ops["prime_query"] = self.read_op(
            lambda c: REL.prime_query(t("final").read(self.spark)),
            lambda c: self.prime_expected)
        ops["final_table"] = self.read_op(
            lambda c: REL.final_table(*(t(n).read(self.spark) for n in self.DOMAIN)),
            lambda c: self._q(REL.FINAL_TABLE_SQL))
        ops["activity_agg"] = self.read_op(
            lambda c: REL.activity_agg(t("sport_activities").read(self.spark)),
            lambda c: self._q(REL.ACTIVITY_AGG_SQL))
        ops["read_point"] = self.read_op(
            lambda k: t("employees").read_point(self.spark, "id_employee", k),
            lambda k: self._q("SELECT * FROM employees WHERE id_employee = ?", [k]),
            prepare=lambda: int(self.rng.choice(self._ids("employees", "id_employee"))))
        ops["read_range"] = self.read_op(
            lambda r: t("sport_activities").read_range(self.spark, "id", r[0], r[1]),
            lambda r: self._q("SELECT * FROM sport_activities "
                              "WHERE id BETWEEN ? AND ?", list(r)),
            prepare=self._prepare_range)
        ops["read_changes"] = self.read_op(
            lambda since: t("employees").read_changes(self.spark, since),
            self._expected_changes,
            prepare=lambda: max(self.emp_v0, t("employees").latest_version() - 2))
        for name in self.STAR_ROWS:
            ops[name] = self.read_op(
                lambda c, n=name: CAT.REGISTRY[n].spark_fn(self.spark, self.star),
                lambda c, n=name: self._star_expected(n),
                tie=self._avg_value_tie if name == "events_hourly" else None)
        ops["merge"] = Op("write", self._run_merge, self._after_merge,
                          self._prepare_merge)
        ops["append"] = Op("write", self._run_append, self._after_append,
                           self._prepare_append)
        ops["delete_where"] = Op("write", self._run_delete, self._after_delete,
                                 self._prepare_delete)

    def _star_expected(self, name: str):
        if name not in self.star_expected:
            self.star_expected[name] = self._q(CAT.REGISTRY[name].oracle)
        return self.star_expected[name]

    def _avg_value_tie(self, col: str, got: dict, want: dict) -> bool:
        """``events_hourly.avg_value`` is ROUND(AVG(value), 4). When the
        exact average sits on a .5 tie in the 4th decimal, Spark and DuckDB
        may round it apart, as their float sums differ in the last bit.
        Accept the two neighbours of the tie only when the group's exact
        average, its sum in cents (every generated value has two decimals)
        over ``n_events``, is that tie."""
        if col != "avg_value":
            return False
        if self.event_cents is None:
            _, rows = self._q(
                "SELECT date_trunc('hour', ts), event_type, "
                "SUM(CAST(ROUND(value * 100) AS BIGINT)) FROM events GROUP BY 1, 2")
            self.event_cents = {(w, t): c for w, t, c in rows}
        return avg_rounding_tie(
            self.event_cents[(want["window_start"], want["event_type"])],
            want["n_events"], got[col], want[col])

    def _prepare_range(self):
        ids = self._ids("sport_activities", "id")
        lo = int(self.rng.choice(ids))
        return lo, lo + (ids[-1] - ids[0]) // 50

    def _expected_changes(self, since: int):
        cols = [f.name for f in self.emp_schema] + ["_change_type", "_commit_version"]
        return cols, [r for v, rows in self.changes if v > since for r in rows]

    # writes: prepare builds the input (untimed), run is the one public
    # call, after applies the same change to the DuckDB mirror and checks
    # the commit landed as the next version

    def _next_version(self, table: str) -> int:
        return self.tables[table].latest_version() + 1

    def _prepare_merge(self):
        ids = self._ids("employees", "id_employee")
        keys = sorted(int(k) for k in self.rng.choice(ids, 20, replace=False))
        bump = int(self.rng.integers(100, 2000))
        cols, pre = self._q("SELECT * FROM employees WHERE list_contains(?, "
                            "id_employee) ORDER BY id_employee", [keys])
        g = cols.index("gross_salary")
        post = [r[:g] + (r[g] + bump,) + r[g + 1:] for r in pre]
        df = self.spark.createDataFrame(post, schema=self.emp_schema)
        return {"keys": keys, "bump": bump, "pre": pre, "post": post, "df": df,
                "version": self._next_version("employees")}

    def _run_merge(self, c):
        return self.tables["employees"].merge(self.spark, c["df"], "id_employee")

    def _after_merge(self, c, version):
        self.oracle.con.execute(
            "UPDATE mirror_employees SET gross_salary = gross_salary + ? "
            "WHERE list_contains(?, id_employee)", [c["bump"], c["keys"]])
        self.changes.append((version, [r + ("update_preimage", version) for r in c["pre"]]
                             + [r + ("update_postimage", version) for r in c["post"]]))
        return None if version == c["version"] else f"merge committed {version}"

    def _prepare_append(self):
        n, r = 100, self.rng
        ids = range(self.next_activity_id, self.next_activity_id + n)
        self.next_activity_id += n
        emps = self._ids("employees", "id_employee")
        rows = []
        for i in ids:
            emp = int(r.choice(emps))
            s = int(r.integers(0, len(gen.SPORTS)))
            rows.append((i, emp, f"Fn_{emp}", f"Ln_{emp}",
                         dt.datetime(2024, 2, 1) + dt.timedelta(
                             seconds=int(r.integers(0, 86400 * 28))),
                         gen.SPORTS[s],
                         None if s >= 12 else int(r.integers(500, 50000)),
                         int(r.integers(600, 7200)),
                         gen.COMMENTS[i % 5] if i % 10 < 3 else None))
        return {"rows": rows, "version": self._next_version("sport_activities"),
                "df": self.spark.createDataFrame(rows, schema=self.act_schema)}

    def _run_append(self, c):
        return self.tables["sport_activities"].append(c["df"])

    def _after_append(self, c, version):
        ph = ", ".join("?" * len(c["rows"][0]))
        self.oracle.con.executemany(
            f"INSERT INTO mirror_sport_activities VALUES ({ph})", c["rows"])
        return None if version == c["version"] else f"append committed {version}"

    def _prepare_delete(self):
        lo, hi = self._prepare_range()
        return {"lo": lo, "hi": hi,
                "version": self._next_version("sport_activities")}

    def _run_delete(self, c):
        return self.tables["sport_activities"].delete_where(
            self.spark, f"id >= {c['lo']} AND id < {c['hi']}")

    def _after_delete(self, c, version):
        self.oracle.con.execute(
            "DELETE FROM mirror_sport_activities WHERE id >= ? AND id < ?",
            [c["lo"], c["hi"]])
        return None if version == c["version"] else f"delete committed {version}"

    def report_extras(self, phase: int) -> dict:
        out = {}
        for cls in ("read", "write"):
            ms = [s.ms for s in self.phase(phase) if s.cls == cls and s.ms > 0]
            out[f"{cls}_ms_p50"] = (median_or_zero(ms), "ms", len(ms))
        return out

    def layer_extras(self) -> dict:
        base = os.path.dirname(self.tables["final"].path)
        return {"txnlog.write_amp": gen.dir_bytes(base) / self.inputs["star"]["bytes"],
                "txnlog.log_entries": sum(len(t.versions())
                                          for t in self.tables.values())}


# ---------------------------------------------------------------------------


class CorpusOps(Workload):
    """Dedup, lexical and vector search over a documents/embeddings corpus
    whose index artifacts are built in setup."""

    name = "corpus_ops"
    SIZES = gen.Sizes()
    ORACLE_OPS = ("dedup_exact", "dedup_minhash_lsh", "dedup_lsh_verified",
                  "dedup_jaccard_pairs", "dedup_repeated_spans",
                  "text_bm25_topk", "ann_cosine_topk")
    # approximate top-k, held to the catalog's recall floors against the
    # exact cosine top-k (mean overlap@10)
    RECALL_OPS = {"ann_ivf_topk": SIM._IVF_FLOOR, "ann_pq_topk": SIM._PQ_FLOOR}

    def generate(self) -> None:
        self.corpus = os.path.join(self.work, "inputs", "corpus")
        self.inputs["corpus"] = gen.write_star(
            self.corpus, self.seed, self.SIZES, ("documents", "embeddings"))
        self.inputs["corpus"]["bytes"] = gen.dir_bytes(self.corpus)
        for t in ("documents", "embeddings"):
            self.oracle.view(t, f"{self.corpus}/{t}.parquet")
        CAT.oracle_sql()
        self.expected: dict[str, tuple] = {}
        self.mix = list(self.ORACLE_OPS) + list(self.RECALL_OPS)
        for name in self.ORACLE_OPS:
            self.ops[name] = self.read_op(
                lambda c, n=name: CAT.REGISTRY[n].spark_fn(self.spark, self.sf),
                lambda c, n=name: self._expected(n))
        for name, floor in self.RECALL_OPS.items():
            self.ops[name] = self.read_op(
                lambda c, n=name: CAT.REGISTRY[n].spark_fn(self.spark, self.sf),
                None, verify=lambda rows, f=floor: self._recall_check(rows, f))

    def _expected(self, name: str):
        if name not in self.expected:
            self.expected[name] = self.oracle.query(CAT.REGISTRY[name].oracle)
        return self.expected[name]

    def _recall_check(self, rows, floor: float):
        cols, truth = self._expected("ann_cosine_topk")
        qi, ni = cols.index("query_id"), cols.index("neighbor_id")
        want: dict[int, set] = {}
        for r in truth:
            want.setdefault(r[qi], set()).add(r[ni])
        got: dict[int, set] = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        overlap = sum(len(want[q] & got.get(q, set())) for q in want) / len(want)
        return None if overlap >= floor else f"recall {overlap:.2f} < {floor}"

    def setup(self, rep: int) -> None:
        # a fresh directory per repetition: the catalog caches index
        # artifacts per corpus path, so each repetition builds them anew
        self.sf = os.path.join(self.work, "inputs", f"corpus_rep{rep}")
        shutil.copytree(self.corpus, self.sf)
        CAT.build_indexes(self.spark, self.sf)

    def layer_extras(self) -> dict:
        # verified pairs per LSH candidate pair (both outputs are checked
        # equal to their oracles, so the oracle counts are the op's)
        cand = len(self._expected("dedup_minhash_lsh")[1])
        verified = len(self._expected("dedup_lsh_verified")[1])
        return {"dedup.lsh_yield": verified / cand if cand else 0.0}


WORKLOADS = {w.name: w for w in (CdcIngest, LakehouseServe, CorpusOps)}
