"""The two workloads and the measurements taken around them.

Every run has the same frame: set-up (Spark session, warm-up on a small
separate input, the inputs, the HTTP server and the starting state), at
least two timed cycles, open-loop reads against the HTTP API with Spark
idle, and the checks:

- ``history_rebuild``: cold ``run_backfill`` over the whole history, then
  ``run_pit_join`` and ``run_online_sync`` of every key.
- ``daily_increment``: D-k days committed and synced; k daily cycles of one
  landed day -> ``run_backfill_incremental`` -> ``run_online_sync(as_of=day)``
  while a read stream keeps hitting the keys each sync rewrites.

A traced run (``--trace 1``) enables Spark's event log, runs the same timed
cycles without spans (the pipeline wall times and the reference for the
tracing overhead), then one cycle with spans and layer wrappers, and then
measures the read-rate ladder.
"""

from __future__ import annotations

import functools
import json
import os
import random
import shutil
import subprocess
import sys
import time

import checks
import gen
import metrics
import tracing
from mini_feature_store_spark.io.tables import VersionedTable
from mini_feature_store_spark.pipelines import (
    BackfillConfig,
    FileKVStore,
    OnlineSyncConfig,
    PointInTimeJoinConfig,
    online_offline_diff,
    run_backfill,
    run_backfill_incremental,
    run_online_sync,
    run_pit_join,
)

HERE = os.path.dirname(os.path.abspath(__file__))

#: Input shape shared by the workloads: 3 k users (~2.9 k active), 80 k
#: events over 60 days.
SHAPE = gen.Shape(users=3_000, events=80_000, days=60)
#: history_rebuild's warm-up input is large enough that the per-row code is
#: compiled too, so its first timed rebuild runs as fast as the next.
#: daily_increment's set-up backfills the real input, which does that.
WARMUP_SHAPE = {
    "history_rebuild": gen.Shape(users=1_000, events=25_000, days=30),
    "daily_increment": gen.Shape(users=100, events=1_000, days=8),
}
#: Rough cycle lengths on 4 cores; ``--seconds`` / these = cycles run, and
#: never fewer than MIN_CYCLES. Set-up takes 25-40 s, so more cycles would
#: not fit the time a benchmark batch may take.
CYCLE_S = {"history_rebuild": 11.0, "daily_increment": 8.0}
MIN_CYCLES = 2
READ_RPS = 250  # open-loop rate of the read window with Spark idle
READ_WINDOW_S = 1.0  # the checked reads of an untraced run
TRACE_READ_WINDOW_S = 4.0  # 1 000 requests: p99 has 10 samples beyond it
BESIDE_RPS = 100  # daily_increment: reads beside the cycles that rewrite the store
OVER_LIMIT_MS = 1_000.0  # a read slower than this from its due time failed
#: Traced run only: the rate ladder for read_rps_at_slo.
LADDER_RPS = (200, 400, 600, 800, 1000, 1200)
LADDER_STEP_S = 1.0
READ_SLO_P99_MS = 25.0
BACKLOG_MS = 50.0  # median lateness at the end of a rung that means a growing backlog


class Reads:
    """The HTTP server process and the load generator process."""

    def __init__(self, work: str, kv: str, traced: bool):
        self.work = work
        cmd = [sys.executable, os.path.join(HERE, "serve.py"), "--kv", kv]
        if traced:
            cmd.append("--trace")
        self.server = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        self.port = int(self.server.stdout.readline())
        self.load = None
        self.n = 0

    def start(self, keys_path: str, steps: str) -> None:
        self.n += 1
        self.out = os.path.join(self.work, f"reads{self.n}.json")
        self.load = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "loadgen.py"), "--port", str(self.port),
             "--keys", keys_path, "--out", self.out, "--steps", steps],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        if self.load.stdout.readline().strip() != "ready":
            raise RuntimeError("load generator did not start")

    def finish(self, stop: bool) -> list[list]:
        """Return the rows of the current load: ``stop`` ends an open-ended
        stream now, otherwise its last step runs to its end first."""
        if stop:
            self.load.stdin.close()
        self.load.stdout.read()
        self.load.stdin.close()
        self.load.wait(timeout=60)
        self.load = None
        with open(self.out) as f:
            return json.load(f)["rows"]

    def close(self) -> dict:
        """Stop both processes; returns the server's timing statistics."""
        if self.load is not None:
            self.load.kill()
            self.load.wait()
        self.server.stdin.close()
        out = self.server.stdout.read().strip().splitlines()
        self.server.wait(timeout=60)
        return json.loads(out[-1]) if out else {}


class Runner:
    """One run of one workload; owns the Spark session and the processes."""

    def __init__(self, work: str, workload: str, seed: int, seconds: float, nproc: int, trace: bool):
        self.work = work
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.nproc = nproc
        self.trace = trace
        self.spark = None
        self.reads: Reads | None = None
        self.server_stats: dict = {}
        self.layer_spans: tracing.LayerSpans | None = None
        self.tracer: tracing.Tracer = tracing.NullTracer()
        self.event_log = os.path.join(work, "eventlog") if trace else None
        self.table = os.path.join(work, "features")
        self.kv = os.path.join(work, "kv")
        self.train = os.path.join(work, "training")
        self.kv_stats = os.path.join(work, "kvstats")
        os.makedirs(self.kv_stats)
        self.calls: list[dict] = []  # pipeline calls: name, start, end, timed, traced, span id, counters
        self.syncs: list[tuple[float, float, int]] = []  # (start, end, snapshot day)
        self.snapshots: dict[int, dict] = {}
        self.cycles: list[tuple[float, bool]] = []  # (seconds, traced)
        self.problems: list[str] = []
        self.read_rows: dict[str, list] = {}
        self.ladder_rows: list = []
        self.attempted = 0
        self.failed = 0
        self.timed = False
        self.t0 = time.time()

    def log(self, msg: str) -> None:
        print(f"perfbench: {time.time() - self.t0:7.2f}s {msg}", file=sys.stderr, flush=True)

    # ── Spark session ───────────────────────────────────────────────────
    def start_session(self) -> float:
        from mini_feature_store_spark.session import get_spark

        t = time.perf_counter()
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={self.work}",
            "spark.eventLog.enabled": "true" if self.event_log else "false",
        }
        if self.event_log:
            os.makedirs(self.event_log)
            conf.update(
                {
                    "spark.eventLog.dir": self.event_log,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = get_spark(app_name="perfbench", master=f"local[{self.nproc}]", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop every process this run started and wait for each."""
        if self.reads is not None:
            self.server_stats = self.reads.close()
            self.reads = None
        self.stop_spark()

    def stop_spark(self) -> None:
        """Stop the session and the JVM behind it."""
        self.stop_session()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    # ── entry ───────────────────────────────────────────────────────────
    def run(self) -> dict:
        self.setup()
        try:
            getattr(self, self.workload)()
        finally:
            if self.layer_spans is not None:
                self.layer_spans.uninstall()
            if self.reads is not None:
                self.server_stats = self.reads.close()
                self.reads = None
        missed = checks.self_test()
        if missed:
            self.problems.append(f"checker self-test missed corruptions: {missed}")
        if not self.trace:
            return metrics.end_to_end(self)
        self.stop_session()  # flushes the event log
        self.jobs = tracing.parse_event_log(self.event_log)
        trace_dir = os.path.join(os.path.dirname(self.work), "traces")
        os.makedirs(trace_dir, exist_ok=True)
        self.tracer.dump(os.path.join(trace_dir, f"{self.workload}-{self.seed}.json"))
        return metrics.per_layer(self)

    def setup(self) -> None:
        """Everything before the first timed cycle: session start, warm-up on
        a small separate input, the inputs, the HTTP server and the
        workload's starting state."""
        t = time.perf_counter()
        self.session_s = self.start_session()
        self.warm_up(os.path.join(self.work, "warmup"))
        self.plan = self.cycle_plan()
        if self.workload == "history_rebuild":
            self.prepare(SHAPE.days)
        else:
            first = SHAPE.days - len(self.plan)
            self.prepare(first)
            self.call("run_backfill", run_backfill, self.backfill_cfg(0, first - 1))
            self.sync(first - 1)
        self.setup_s = time.perf_counter() - t
        self.log(f"setup {self.setup_s:.2f}s (session {self.session_s:.2f}s)")

    def warm_up(self, root: str) -> None:
        """The workload's calls over a smaller separate input, so the timed
        cycles do not pay the JVM's first-use compilation (about 15 s on 4
        cores). daily_increment's set-up then syncs the real input before
        its cycles, so its warm-up leaves the sync out."""
        s = WARMUP_SHAPE[self.workload]
        inp = gen.write_inputs(s, self.seed, root, s.days - 1, (1, s.days - 2))
        table = os.path.join(root, "features")
        cfg = BackfillConfig(inp["events_dir"], table, s.day(0).isoformat(), s.day(s.days - 2).isoformat())
        run_backfill(self.spark, cfg)
        if self.workload == "history_rebuild":
            run_pit_join(self.spark, PointInTimeJoinConfig(inp["labels_path"], table, os.path.join(root, "training")))
            run_online_sync(
                self.spark,
                OnlineSyncConfig(table, as_of=cfg.end_date),
                functools.partial(FileKVStore, os.path.join(root, "kv")),
            )
        else:
            gen.write_day(inp["events"], s, inp["events_dir"], s.days - 1)
            cfg.end_date = s.day(s.days - 1).isoformat()
            run_backfill_incremental(self.spark, cfg)
        shutil.rmtree(root)

    def prepare(self, land_days: int) -> None:
        """Inputs for days [0, land_days), and the HTTP server."""
        t = time.perf_counter()
        self.first_landed = land_days
        self.inputs = gen.write_inputs(SHAPE, self.seed, os.path.join(self.work, "in"), land_days, (31, 50))
        os.makedirs(self.kv)
        self.reads = Reads(self.work, self.kv, self.trace)
        self.prep_s = time.perf_counter() - t

    def cycle_plan(self) -> list[bool]:
        """Which cycles to run, by whether each is traced: cycles that fill
        about ``--seconds`` of timed work (at least MIN_CYCLES), and in a
        traced run one more with spans on."""
        n = max(MIN_CYCLES, round(self.seconds / CYCLE_S[self.workload]))
        return [False] * n + ([True] if self.trace else [])

    def set_tracing(self, on: bool) -> None:
        """Switch spans (and the layer wrappers) on for the traced cycles."""
        if on and self.layer_spans is None:
            self.tracer = tracing.Tracer(self.spark.sparkContext)
            self.layer_spans = tracing.install_layer_spans(self.tracer)

    # ── pipeline calls ──────────────────────────────────────────────────
    def kv_factory(self):
        if self.layer_spans is not None:
            return functools.partial(tracing.TracedKV, self.kv, self.kv_stats)
        return functools.partial(FileKVStore, self.kv)

    def call(self, name: str, fn, *args, **counters):
        self.attempted += 1
        start = time.time()
        with self.tracer.span(f"pipelines.{name}", **counters) as span:
            out = fn(self.spark, *args)
        if self.layer_spans is not None:
            self.layer_spans.release()
        self.log(f"{name} {time.time() - start:.2f}s")
        self.calls.append(
            {
                "name": name,
                "start": start,
                "end": time.time(),
                "timed": self.timed,
                "traced": self.layer_spans is not None,
                "span": span.get("id"),
                "counters": counters,
            }
        )
        return out

    def backfill_cfg(self, start: int, end: int) -> BackfillConfig:
        return BackfillConfig(
            self.inputs["events_dir"], self.table, SHAPE.day(start).isoformat(), SHAPE.day(end).isoformat()
        )

    def sync(self, day: int) -> None:
        vdir = self.latest_version()
        window = {f"day={SHAPE.day(d).isoformat()}" for d in range(day - checks.LOOKBACK_DAYS, day + 1)}
        t0 = time.time()
        self.call(
            "run_online_sync",
            run_online_sync,
            OnlineSyncConfig(self.table, as_of=SHAPE.day(day).isoformat()),
            self.kv_factory(),
            # bytes of the day partitions the sync has to read once
            window_bytes=sum(tracing.dir_bytes(os.path.join(vdir, d))[0] for d in window),
        )
        self.syncs.append((t0, time.time(), day))

    def latest_version(self) -> str:
        v = VersionedTable(self.table).versions()[-1]["version"]
        return os.path.join(self.table, f"v={v}")

    # ── workloads ───────────────────────────────────────────────────────
    def history_rebuild(self) -> None:
        """Cold rebuild cycles, then reads with Spark idle."""
        last = SHAPE.days - 1
        for traced in self.plan:
            self.set_tracing(traced)
            # cold: no table, and an empty store for the sync to fill
            shutil.rmtree(self.table, ignore_errors=True)
            shutil.rmtree(self.kv)
            os.makedirs(self.kv)
            self.timed = True
            t0 = time.time()
            self.call("run_backfill", run_backfill, self.backfill_cfg(0, last))
            self.call(
                "run_pit_join",
                run_pit_join,
                PointInTimeJoinConfig(self.inputs["labels_path"], self.table, self.train),
            )
            self.sync(last)
            self.cycles.append((time.time() - t0, traced))
            self.timed = False
            self.after_sync(last)
        self.final_checks(last)
        self.problems += checks.check_training(checks.training_rows(self.train), self.inputs["labels"])
        self.read_window(self.write_keys(sorted(self.snapshots[last])))

    def daily_increment(self) -> None:
        """D-k days committed and synced; k daily cycles while a read
        stream keeps hitting the keys each sync rewrites; then reads with
        Spark idle."""
        first = SHAPE.days - len(self.plan)
        self.after_sync(first - 1)
        keys = self.write_keys(sorted(self.snapshots[first - 1]))
        self.reads.start(keys, f"{BESIDE_RPS}:0")
        for day, traced in zip(range(first, SHAPE.days), self.plan):
            self.set_tracing(traced)
            gen.write_day(self.inputs["events"], SHAPE, self.inputs["events_dir"], day)  # the day lands
            self.timed = True
            t0 = time.time()
            self.call("run_backfill_incremental", run_backfill_incremental, self.backfill_cfg(0, day))
            self.sync(day)
            self.cycles.append((time.time() - t0, traced))
            self.timed = False
            self.after_sync(day)
        self.add_reads("beside", self.reads.finish(stop=True))
        self.final_checks(SHAPE.days - 1)
        self.read_window(keys)

    # ── reads ───────────────────────────────────────────────────────────
    def write_keys(self, present: list[str]) -> str:
        keys, absent = gen.make_keys(present, SHAPE, self.seed)
        self.keys, self.absent = keys, absent
        self.key_shape = gen.key_shape(keys, absent)
        path = os.path.join(self.work, "keys.json")
        with open(path, "w") as f:
            json.dump(keys, f)
        return path

    def read_window(self, keys: str) -> None:
        """Open-loop reads with Spark idle; a traced run adds the ladder."""
        window = TRACE_READ_WINDOW_S if self.trace else READ_WINDOW_S
        self.reads.start(keys, f"{READ_RPS}:{window}")
        self.add_reads("reads", self.reads.finish(stop=False))
        self.log("reads done")
        if self.trace:
            self.reads.start(keys, ",".join(f"{r}:{LADDER_STEP_S}" for r in LADDER_RPS))
            self.ladder_rows = self.reads.finish(stop=False)

    def add_reads(self, name: str, rows: list) -> None:
        self.read_rows[name] = rows
        self.attempted += len(rows)
        for row in rows:
            status, lat_ms = row[5], (row[4] - row[2]) * 1e3
            if status not in (200, 404) or lat_ms > OVER_LIMIT_MS:
                self.failed += 1
        self.problems += checks.check_reads(rows, self.keys, self.absent, self.syncs, self.snapshots)

    # ── checks (never inside a timed region) ────────────────────────────
    def after_sync(self, day: int) -> None:
        """The store holds exactly the day's snapshot (DuckDB oracle)."""
        if day not in self.snapshots:
            self.snapshots[day] = checks.snapshot(self.latest_version(), SHAPE.day(day))
        self.problems += checks.check_kv(self.kv, self.snapshots[day])

    def final_checks(self, last_day: int) -> None:
        """Backfill oracle on a user sample; in a traced run also the
        program's own online/offline audit."""
        self.store_ratio = tracing.dir_bytes(self.table)[0] / tracing.dir_bytes(self.latest_version())[0]
        # users present since the first backfill have a row on every day
        ev = self.inputs["events"]
        users = sorted(ev.loc[ev["day_no"] < self.first_landed, "user_id"].unique())
        sample = random.Random(self.seed).sample(users, min(40, len(users)))
        vdir = self.latest_version()
        self.problems += checks.check_backfill(
            self.inputs["events_dir"], vdir, sample, SHAPE.day(0), SHAPE.day(last_day)
        )
        if self.trace:
            self.audit(vdir, last_day)

    def audit(self, vdir: str, day: int) -> None:
        """``online_offline_diff`` against the last synced snapshot must be
        empty. It costs seconds per call, so only traced runs make it; every
        run checks every sync with ``checks.check_kv``."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        as_of = F.lit(SHAPE.day(day).isoformat()).cast("date")
        w = Window.partitionBy("user_id").orderBy(F.col("day").desc())
        offline = (
            self.spark.read.parquet(vdir)
            .where((F.col("day") <= as_of) & (F.col("day") >= F.date_sub(as_of, checks.LOOKBACK_DAYS)))
            .withColumn("_r", F.row_number().over(w))
            .where("_r = 1")
            .drop("_r")
        )
        # The audit globs one file per key. Above 32 paths Spark lists them
        # with a distributed job that forks per file (~35 s for 7 k keys),
        # and it opens one split per 4 MB of "open cost", so the scan gets
        # hundreds of tasks. The audit is a check, not a timed operation:
        # list on the driver and pack the small files into few tasks.
        conf = self.spark.conf
        scoped = {
            "spark.sql.sources.parallelPartitionDiscovery.threshold": "1000000",
            "spark.sql.files.openCostInBytes": "8192",
        }
        for k, v in scoped.items():
            conf.set(k, v)
        try:
            bad = online_offline_diff(self.spark, self.kv, offline).limit(3).collect()
        finally:
            for k in scoped:
                conf.unset(k)
        if bad:
            self.problems.append(f"online_offline_diff after the last sync: {bad}")
