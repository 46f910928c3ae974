"""Spans, layer wrappers and Spark event-log attribution for the traced run.

A span has an id, a name, a parent, a start and an end (epoch seconds) and
free-form counters. Entering a span sets it as the Spark job group of the
calling thread, so every Spark job records the innermost span that caused it
(``spark.jobGroup.id`` in the event log). Spans stay in memory and are
written out as JSON when the run ends.

``install_layer_spans`` wraps calls into the program's layers from outside:
the rolling and point-in-time operators (their lazy result is materialised
inside the span, so compute is timed apart from the table write that would
otherwise run it), ``VersionedTable.write``, and the online store's
``FileKVStore.mset`` in the Spark workers (``TracedKV``).
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from collections import defaultdict

from mini_feature_store_spark.pipelines.online_sync import FileKVStore


class Tracer:
    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: list[dict] = []
        self._stack = threading.local()

    def _current(self) -> list[dict]:
        if not hasattr(self._stack, "s"):
            self._stack.s = []
        return self._stack.s

    @contextlib.contextmanager
    def span(self, name: str, **counters):
        stack = self._current()
        rec = {
            "id": f"s{len(self.spans)}",
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "start": time.time(),
            "end": None,
            "counters": dict(counters),
        }
        self.spans.append(rec)
        stack.append(rec)
        if self.sc is not None:
            self.sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if self.sc is not None:
                if stack:
                    self.sc.setJobGroup(stack[-1]["id"], stack[-1]["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class NullTracer(Tracer):
    """Untraced cycles: a span is an empty record and no Spark call."""

    @contextlib.contextmanager
    def span(self, name: str, **counters):
        yield {"counters": {}}


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``, ignoring Spark's checksum files."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".crc"):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


class TracedKV(FileKVStore):
    """FileKVStore whose ``mset`` appends (seconds, keys, bytes) to a per
    process stats file; runs inside Spark's Python workers."""

    def __init__(self, root: str, stats_dir: str):
        super().__init__(root)
        self.stats_dir = stats_dir

    def mset(self, pairs):
        nbytes = 0

        def counted():
            nonlocal nbytes
            for k, v in pairs:
                nbytes += len(v)
                yield k, v

        t = time.perf_counter()
        n = super().mset(counted())
        dt_s = time.perf_counter() - t
        with open(os.path.join(self.stats_dir, f"{os.getpid()}.jsonl"), "a") as f:
            f.write(json.dumps([time.time(), dt_s, n, nbytes]) + "\n")
        return n


def read_kv_stats(stats_dir: str) -> list[list]:
    out = []
    for n in sorted(os.listdir(stats_dir)):
        with open(os.path.join(stats_dir, n)) as f:
            out += [json.loads(line) for line in f if line.strip()]
    return out


class LayerSpans:
    """Installed layer wrappers: ``release`` frees the frames materialised
    during one pipeline call; ``uninstall`` restores the originals."""

    def __init__(self) -> None:
        self.undo: list = []
        self.held: list = []

    def release(self) -> None:
        while self.held:
            self.held.pop().unpersist()

    def uninstall(self) -> None:
        self.release()
        for mod, name, orig in reversed(self.undo):
            setattr(mod, name, orig)
        self.undo.clear()


def install_layer_spans(tracer: Tracer) -> LayerSpans:
    """Wrap the layer entry points the pipelines call."""
    from mini_feature_store_spark.io import tables
    from mini_feature_store_spark.pipelines import backfill, pit_join

    spans = LayerSpans()
    undo, held = spans.undo, spans.held

    def patch(mod, name, make):
        orig = getattr(mod, name)
        setattr(mod, name, make(orig))
        undo.append((mod, name, orig))

    def materialising(layer):
        def make(orig):
            def wrapped(*a, **kw):
                with tracer.span(f"{layer}.compute") as s:
                    df = orig(*a, **kw).cache()
                    s["counters"]["rows"] = df.count()
                held.append(df)
                return df

            return wrapped

        return make

    patch(backfill, "backfill_features_window_form", materialising("operators.rolling"))
    patch(pit_join, "point_in_time_join", materialising("operators.point_in_time"))

    def make_write(orig):
        def write(self, df, partition_by=(), mode="overwrite"):
            prev = {v["version"] for v in self.versions()}
            prev_days = set()
            if prev and mode == "append":
                last = os.path.join(self.path, f"v={max(prev)}")
                prev_days = {d for d in os.listdir(last) if d.startswith("day=")}
            with tracer.span("io.tables.write", mode=mode) as s:
                version = orig(self, df, partition_by=partition_by, mode=mode)
            vdir = os.path.join(self.path, f"v={version}")
            nbytes, nfiles = dir_bytes(vdir)
            new_bytes = sum(
                dir_bytes(os.path.join(vdir, d))[0]
                for d in os.listdir(vdir)
                if d.startswith("day=") and d not in prev_days
            )
            s["counters"].update(bytes_written=nbytes, files_written=nfiles, new_bytes=new_bytes)
            return version

        return write

    patch(tables.VersionedTable, "write", make_write)
    return spans


def parse_event_log(log_dir: str) -> dict:
    """Jobs from Spark's event log: id -> {group, call_site, start, end,
    metrics}, where metrics sums the task metrics of the job's stages."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    metrics: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    task_stage: list[tuple[int, dict]] = []
    paths = [os.path.join(d, n) for d, _, names in os.walk(log_dir) for n in sorted(names)]
    for path in paths:
        if os.path.basename(path).startswith("appstatus"):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "call_site": props.get("callSite.short"),
                        "start": ev["Submission Time"] / 1e3,
                        "end": None,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    task_stage.append((ev["Stage ID"], ev.get("Task Metrics") or {}))
    for sid, tm in task_stage:
        jid = stage_job.get(sid)
        if jid is None:
            continue
        m = metrics[jid]
        m["tasks"] += 1
        m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        m["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        m["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
    for jid, j in jobs.items():
        j["metrics"] = dict(metrics.get(jid, {}))
    return jobs


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
