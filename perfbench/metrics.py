"""Turn a finished run into the printed result.

``end_to_end`` reports what a user of the feature store sees. ``per_layer``
reports a traced run broken down by this repository's modules. Wall times of
whole pipeline calls come from the run's untraced cycles, which also are the
reference for the tracing overhead; span and event-log figures come from its
one traced cycle. Every per-layer metric is
printed on every workload; a layer the workload does not exercise reads 0.
README.md maps each per-layer metric to the end-to-end metric and workload it
should move.
"""

from __future__ import annotations

import json
import statistics
import sys

import tracing

PIPELINES = {
    "backfill": "run_backfill",
    "incremental": "run_backfill_incremental",
    "pit_join": "run_pit_join",
    "online_sync": "run_online_sync",
}
SPARK_UNITS = {
    "jobs": "count",
    "tasks": "count",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "shuffle_write_bytes": "B",
    "spill_bytes": "B",
    "driver_gap_s": "s",
}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _pct(xs, q):
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, int(q * len(s)))]


def _lat_ms(rows, since="due"):
    i = 2 if since == "due" else 3
    return [(r[4] - r[i]) * 1e3 for r in rows]


def _m(value, unit):
    return {"value": value, "unit": unit}


def _per(total, n):
    return total / n if n else 0.0


def _header(r) -> dict:
    """Report failed checks on stderr and the workload shape on stdout."""
    for prob in r.problems:
        print(f"perfbench: CHECK FAILED: {prob}", file=sys.stderr)
    shape = {"workload": r.workload, "seed": r.seed, **r.inputs["shape"], **r.key_shape}
    print(json.dumps({"shape": shape}))
    return {"correct": not r.problems, "attempted": r.attempted, "failed": r.failed}


def end_to_end(r) -> dict:
    return {
        **_header(r),
        "metrics": {
            "setup_s": _m(r.setup_s, "s"),
            "cycle_s": _m(_median([s for s, t in r.cycles if not t]), "s"),
            "store_bytes_per_live_byte": _m(r.store_ratio, "ratio"),
        },
    }


def _rps_at_slo(rows, ladder, slo_ms: float, backlog_ms: float) -> float:
    """Highest ladder rate whose p99 meets the limit, with every request
    answered and no growing backlog at the end of the rung."""
    best = 0.0
    for step, rate in enumerate(ladder):
        rung = sorted((x for x in rows if x[0] == step), key=lambda x: x[2])
        if not rung:
            continue
        answered = all(x[5] in (200, 404) for x in rung)
        tail = rung[-max(1, len(rung) // 10):]
        late = _median([(x[3] - x[2]) * 1e3 for x in tail])
        if answered and _pct(_lat_ms(rung), 0.99) <= slo_ms and late <= backlog_ms:
            best = float(rate)
    return best


def per_layer(r) -> dict:
    import workloads

    head = _header(r)
    children: dict = {}
    for s in r.tracer.spans:
        children.setdefault(s["parent"], []).append(s)

    def subtree(sid) -> set:
        out, todo = set(), [sid]
        while todo:
            cur = todo.pop()
            out.add(cur)
            todo += [c["id"] for c in children.get(cur, [])]
        return out

    def jobs_in(span_ids) -> list:
        return [j for j in r.jobs.values() if j["group"] in span_ids and j["end"] is not None]

    plain = [c for c in r.calls if c["timed"] and not c["traced"]]
    calls = [c for c in r.calls if c["timed"] and c["traced"]]
    in_calls = set().union(*(subtree(c["span"]) for c in calls)) if calls else set()

    def jobs_during(c) -> list:
        """Jobs of an untraced call: calls run one at a time on one thread,
        so a job belongs to the call it started in (event-log times are
        whole milliseconds)."""
        lo, hi = c["start"] - 0.002, c["end"]
        return [j for j in r.jobs.values() if lo <= j["start"] <= hi and j["end"] is not None]

    def call_s(name):
        return _median([c["end"] - c["start"] for c in plain if c["name"] == name])

    def layer(name):
        return [s for s in r.tracer.spans if s["name"] == name and s["id"] in in_calls]

    out: dict = {}
    out["backfill_s"] = _m(call_s("run_backfill"), "s")
    out["incremental_s"] = _m(call_s("run_backfill_incremental"), "s")
    out["training_build_s"] = _m(call_s("run_pit_join"), "s")
    out["online_sync_s"] = _m(call_s("run_online_sync"), "s")
    # events landing -> served: a daily cycle, or backfill + sync of a rebuild
    untraced = _median([s for s, t in r.cycles if not t])
    if r.workload == "daily_increment":
        fresh = untraced
    else:
        fresh = call_s("run_backfill") + call_s("run_online_sync")
    out["freshness_s"] = _m(fresh, "s")

    reads = r.read_rows["reads"]
    syncs = [(c["start"], c["end"]) for c in plain + calls if c["name"] == "run_online_sync"]
    beside = [x for x in r.read_rows.get("beside", []) if any(x[3] < e and x[4] > s for s, e in syncs)]
    out["read_p50_ms"] = _m(_pct(_lat_ms(reads), 0.5), "ms")
    out["read_p90_ms"] = _m(_pct(_lat_ms(reads), 0.9), "ms")
    out["read_p99_ms"] = _m(_pct(_lat_ms(reads), 0.99), "ms")
    out["sync_read_p99_ms"] = _m(_pct(_lat_ms(beside), 0.99), "ms")
    out["read_rps_at_slo"] = _m(
        _rps_at_slo(r.ladder_rows, workloads.LADDER_RPS, workloads.READ_SLO_P99_MS, workloads.BACKLOG_MS),
        "1/s",
    )
    out["loadgen.late_ms"] = _m(_pct([(x[3] - x[2]) * 1e3 for x in reads], 0.99), "ms")
    out["failed_ratio"] = _m(r.failed / max(1, r.attempted), "ratio")

    for op, key, suffix in (
        ("operators.rolling", "shuffle_write_bytes", "shuffle_bytes"),
        ("operators.point_in_time", "spill_bytes", "spill_bytes"),
    ):
        ss = layer(f"{op}.compute")
        js = jobs_in({s["id"] for s in ss})
        out[f"{op}.compute_s"] = _m(_per(sum(s["end"] - s["start"] for s in ss), len(ss)), "s")
        out[f"{op}.{suffix}"] = _m(_per(sum(j["metrics"].get(key, 0) for j in js), len(ss)), "B")

    latest_s, sync_jobs = [], []
    scan_in = scan_base = 0.0
    for c in plain:
        if c["name"] != "run_online_sync":
            continue
        js = jobs_during(c)
        sync_jobs.append(len(js))
        # the jobs after the foreachPartition write are the closing
        # latest.count(): pure latest-per-key compute
        writes_end = max((j["end"] for j in js if "foreachPartition" in (j["call_site"] or "")), default=None)
        if writes_end is not None:
            after = [(j["start"], j["end"]) for j in js if j["start"] >= writes_end]
            latest_s.append(tracing.union_seconds(after))
        scan_in += sum(j["metrics"].get("input_bytes", 0) for j in js)
        scan_base += c["counters"].get("window_bytes", 0)
    out["operators.latest.compute_s"] = _m(_median(latest_s), "s")
    out["pipelines.online_sync.jobs"] = _m(_median(sync_jobs), "count")
    out["pipelines.online_sync.scan_passes"] = _m(_per(scan_in, scan_base), "ratio")

    writes = layer("io.tables.write")
    written = sum(s["counters"].get("bytes_written", 0) for s in writes)
    new = sum(s["counters"].get("new_bytes", 0) for s in writes)
    out["io.tables.write_s"] = _m(_per(sum(s["end"] - s["start"] for s in writes), len(writes)), "s")
    out["io.tables.bytes_written"] = _m(_per(written, len(writes)), "B")
    out["io.tables.files_written"] = _m(
        _per(sum(s["counters"].get("files_written", 0) for s in writes), len(writes)), "count"
    )
    out["io.tables.write_amplification"] = _m(_per(written, new), "ratio")

    sync_calls = [c for c in calls if c["name"] == "run_online_sync"]
    windows = [(c["start"], c["end"]) for c in sync_calls]
    kv = [x for x in tracing.read_kv_stats(r.kv_stats) if any(s <= x[0] <= e for s, e in windows)]
    out["kv.mset_s"] = _m(_per(sum(x[1] for x in kv), len(sync_calls)), "s")
    out["kv.keys_written"] = _m(_per(sum(x[2] for x in kv), len(sync_calls)), "count")
    out["kv.bytes_written"] = _m(_per(sum(x[3] for x in kv), len(sync_calls)), "B")

    st = r.server_stats
    svc = _median(st.get("service_ms", []))
    out["api.service.get_ms"] = _m(svc, "ms")
    out["kv.get_ms"] = _m(_median(st.get("kv_ms", [])), "ms")
    out["api.http_server.transport_ms"] = _m(max(0.0, _median(_lat_ms(reads, since="send")) - svc), "ms")
    out["kv.hit_ratio"] = _m(_per(st.get("hits", 0), st.get("gets", 0)), "ratio")

    out["session.start_s"] = _m(r.session_s, "s")
    out["prep_s"] = _m(r.prep_s, "s")

    for short, name in PIPELINES.items():
        mine = [c for c in plain if c["name"] == name]
        agg = dict.fromkeys(SPARK_UNITS, 0.0)
        for c in mine:
            js = jobs_during(c)
            agg["jobs"] += len(js)
            for f in ("tasks", "executor_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes"):
                agg[f] += sum(j["metrics"].get(f, 0) for j in js)
            # planning, py4j and commit time: wall minus the union of jobs
            agg["driver_gap_s"] += (c["end"] - c["start"]) - tracing.union_seconds(
                [(j["start"], j["end"]) for j in js]
            )
        for f, unit in SPARK_UNITS.items():
            out[f"spark.{short}.{f}"] = _m(_per(agg[f], len(mine)), unit)

    traced = _median([s for s, t in r.cycles if t])
    out["trace.cycle_s"] = _m(traced, "s")
    out["trace.overhead_s"] = _m(traced - untraced, "s")
    out["trace.overhead_ratio"] = _m(_per(traced - untraced, untraced), "ratio")
    return {**head, "metrics": out}
