"""Per-layer metrics of a traced run, computed from the span artifact
(``spans.json``) and the harness's counters (``result.json``).

Batch workloads report per-pass values (the median over traced passes);
the ingest workload reports per-run values. A layer a workload does not
exercise reports 0."""
import json
import statistics

import stats

# (name, unit) of every per-layer metric, in BENCHMARK.json order.
NAMES = [
    ("session.build_s", "s"), ("session.warmup_s", "s"),
    ("entry.build_s", "s"), ("entry.build_jobs", "count"), ("entry.build_job_s", "s"),
    ("plan.analysis_s", "s"), ("plan.optimization_s", "s"), ("plan.planning_s", "s"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.scheduler_delay_s", "s"), ("exec.busy_frac", "ratio"),
    ("exec.s", "s"), ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"), ("exec.gc_s", "s"),
    ("exec.task_skew", "ratio"), ("exec.shuffle_write_bytes", "B"),
    ("exec.shuffle_read_bytes", "B"), ("exec.spill_bytes", "B"), ("exec.input_bytes", "B"),
    ("plans.pair_yield", "ratio"),
    ("ingest.parse_s", "s"), ("ingest.decode_s", "s"), ("ingest.lines", "count"),
    ("ingest.accept_ratio", "ratio"), ("ingest.latency_p99_s", "s"),
    ("ingest.capacity_eps", "1/s"), ("ingest.max_eps", "1/s"), ("gen.lag_s", "s"),
    ("streaming.batches", "count"), ("streaming.batch_ms_p50", "ms"),
    ("streaming.latest_offset_ms", "ms"), ("streaming.add_batch_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"), ("streaming.backlog_max_rows", "count"),
    ("state.rows", "count"), ("state.bytes", "B"), ("state.commit_ms", "ms"),
    ("state.accept_ratio", "ratio"),
    ("archive.upserts", "count"), ("archive.upsert_s", "s"),
    ("archive.buckets_touched", "count"), ("archive.write_amp", "ratio"),
    ("archive.files", "count"), ("archive.bytes_per_row", "B/row"),
    ("archive.read_p90_s", "s"), ("archive.read_wait_s", "s"), ("archive.read_failures", "count"),
    ("wire.posts", "count"), ("wire.rows_sent", "count"), ("wire.rows_per_post", "ratio"),
    ("wire.post_s", "s"),
    ("self.build_s", "s"), ("self.exec_s", "s"), ("self.job_s", "s"), ("self.stage_s", "s"),
    ("self.batch_s", "s"), ("self.upsert_s", "s"), ("self.forward_s", "s"), ("self.read_s", "s"),
    ("trace.overhead_s", "s"),
]
UNITS = dict(NAMES)


def _render(values):
    return {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in NAMES}


def _dur(s):
    return s["end"] - s["start"] if s.get("end") is not None else 0.0


def _descendants(spans, root_ids, kinds):
    """Spans of ``kinds`` below any of ``root_ids``."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], list(root_ids)
    while todo:
        for c in kids.get(todo.pop(), []):
            if c["kind"] in kinds:
                out.append(c)
            todo.append(c["id"])
    return out


def _session(res):
    return {"session.build_s": res["setup"]["build_s"],
            "session.warmup_s": res["setup"]["warmup_s"]}


def _exec_work(stages):
    keys = ("tasks", "task_run_s", "task_cpu_s", "gc_s", "shuffle_write_bytes",
            "shuffle_read_bytes", "spill_bytes", "input_bytes", "scheduler_delay_s")
    return {k: sum(s["attrs"].get(k, 0.0) for s in stages) for k in keys}


def batch_layers(spans, res, overhead_s):
    """Per-pass layer metrics of a batch workload (median over passes)."""
    cores = int(res.get("cpus", 1))
    per_pass = []
    for p in (s for s in spans if s["kind"] == "pass"):
        queries = _descendants(spans, [p["id"]], {"query"})
        builds = _descendants(spans, [p["id"]], {"build"})
        execs = _descendants(spans, [p["id"]], {"exec"})
        build_jobs = _descendants(spans, [b["id"] for b in builds], {"job"})
        exec_jobs = _descendants(spans, [e["id"] for e in execs], {"job"})
        exec_stages = _descendants(spans, [j["id"] for j in exec_jobs], {"stage"})
        work = _exec_work(exec_stages)
        exec_s = sum(_dur(e) for e in execs)
        longest = max(exec_stages, key=_dur, default=None)
        skew = 0.0
        if longest and longest["attrs"].get("task_run_median_s", 0) > 0:
            skew = longest["attrs"]["task_run_max_s"] / longest["attrs"]["task_run_median_s"]
        cand = sum(q["attrs"].get("pair_candidates", 0.0) for q in queries)
        emitted = sum(q["attrs"].get("pair_emitted", 0.0) for q in queries)
        self_kind = stats.self_time_by_kind(
            [p] + _descendants(spans, [p["id"]], {"query", "build", "exec", "job", "stage"}))
        per_pass.append({
            "entry.build_s": sum(_dur(b) for b in builds),
            "entry.build_jobs": len(build_jobs),
            "entry.build_job_s": sum(_dur(j) for j in build_jobs),
            "plan.analysis_s": sum(b["attrs"].get("analysis_s", 0.0) for b in builds),
            "plan.optimization_s": sum(q["attrs"].get("optimization_s", 0.0) for q in queries),
            "plan.planning_s": sum(q["attrs"].get("planning_s", 0.0) for q in queries),
            "exec.jobs": len(exec_jobs), "exec.stages": len(exec_stages),
            "exec.tasks": work["tasks"], "exec.scheduler_delay_s": work["scheduler_delay_s"],
            "exec.busy_frac": work["task_run_s"] / (exec_s * cores) if exec_s > 0 else 0.0,
            "exec.s": exec_s, "exec.task_run_s": work["task_run_s"],
            "exec.task_cpu_s": work["task_cpu_s"], "exec.gc_s": work["gc_s"],
            "exec.task_skew": skew,
            "exec.shuffle_write_bytes": work["shuffle_write_bytes"],
            "exec.shuffle_read_bytes": work["shuffle_read_bytes"],
            "exec.spill_bytes": work["spill_bytes"], "exec.input_bytes": work["input_bytes"],
            "plans.pair_yield": emitted / cand if cand > 0 else 0.0,
            **{f"self.{k}_s": v for k, v in self_kind.items()
               if f"self.{k}_s" in UNITS},
        })
    values = {k: statistics.median(d.get(k, 0.0) for d in per_pass)
              for k in {k for d in per_pass for k in d}}
    values.update(_session(res))
    values["trace.overhead_s"] = overhead_s
    return _render(values)


def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


LATENCY_LIMIT_S = 5.0
# The first batches after a rate step still carry the step itself (their
# backlog jumps from the old rate's level to the new one), so a rung's
# backlog is judged from this long after the step.
SETTLE_S = 4.0


def max_eps(res, series):
    """Highest rate of the traced run's schedule (the nominal window after
    its warm-up, then the ladder rungs) that keeps the backlog from growing
    after ``SETTLE_S`` and holds the rung's p90 telegram latency within
    ``LATENCY_LIMIT_S``."""
    by_phase = {0: res["latencies"]}
    for phase, lat in res["ladder_latencies"]:
        by_phase.setdefault(phase, []).append(lat)
    rungs = []
    for phase, (start, rate, count) in enumerate(res["schedule"]):
        lat = by_phase.get(phase, [])
        end = start + count / rate
        start = res["warmup_s"] if phase == 0 else start + SETTLE_S
        ok = (bool(lat) and stats.percentile(lat, 90) <= LATENCY_LIMIT_S
              and not stats.backlog_growing(series, rate, start, end))
        rungs.append((rate, ok))
    return stats.max_sustainable_rate(rungs)


def ingest_layers(spans, res, archived_rows, wire_rows):
    """Per-run layer metrics of the ingest workload."""
    values = dict(_session(res))
    static = res.get("static") or {}
    lines = static.get("lines", 0)
    values.update({
        "ingest.parse_s": static.get("parse_s", 0.0),
        "ingest.decode_s": static.get("decode_s", 0.0),
        "ingest.lines": lines,
        "ingest.accept_ratio": static.get("decoded", 0) / lines if lines else 0.0,
        "gen.lag_s": res["gen_lag_max_s"],
    })
    if res["latencies"]:
        values["ingest.latency_p99_s"] = stats.percentile(res["latencies"], 99)
    if res["reads"]:
        values["archive.read_p90_s"] = stats.percentile(res["reads"], 90)
        values["archive.read_wait_s"] = sum(res["read_waits"]) / len(res["read_waits"])
    batches = res["batches"]
    busy = sum(b["upsert_s"] + b["forward_s"] for b in batches)
    fresh = sum(b["fresh"] for b in batches)
    values["ingest.capacity_eps"] = fresh / busy if busy > 0 else 0.0
    progress = [json.loads(p) if isinstance(p, str) else p for p in res["progress"]]
    with_data = [p for p in progress if p.get("numInputRows", 0) > 0]
    dms = lambda k: _median(p["durationMs"].get(k, 0) for p in with_data)  # noqa: E731
    values.update({
        "streaming.batches": len(batches),
        "streaming.batch_ms_p50": dms("triggerExecution"),
        "streaming.latest_offset_ms": dms("latestOffset"),
        "streaming.add_batch_ms": dms("addBatch"),
        "streaming.wal_commit_ms": dms("walCommit"),
    })
    series = stats.backlog_series(res["commits"], res["schedule"])
    window = [b for t, b in series if t <= res["window_s"]]
    values["streaming.backlog_max_rows"] = max(window, default=0.0)
    values["ingest.max_eps"] = max_eps(res, series)
    ops = [op for p in with_data for op in p.get("stateOperators", [])]
    if ops:
        last = [p for p in progress if p.get("stateOperators")][-1]["stateOperators"]
        values["state.rows"] = sum(o["numRowsTotal"] for o in last)
        values["state.bytes"] = sum(o["memoryUsedBytes"] for o in last)
        values["state.commit_ms"] = _median(o["commitTimeMs"] for o in ops)
    rows = sum(b["rows"] for b in batches)
    values["state.accept_ratio"] = sum(b["accepted"] for b in batches) / rows if rows else 0.0
    growth = sum(max(0, b["bytes_growth"]) for b in batches)
    values.update({
        "archive.upserts": len(batches),
        "archive.upsert_s": _median(b["upsert_s"] for b in batches),
        "archive.buckets_touched": _median(b["buckets_touched"] for b in batches),
        "archive.write_amp": sum(b["bytes_written"] for b in batches) / growth if growth else 0.0,
        "archive.files": res["archive_files"],
        "archive.read_failures": len(res["read_errors"]),
        "archive.bytes_per_row": res["archive_bytes"] / archived_rows if archived_rows else 0.0,
        "wire.posts": res["posts"], "wire.rows_sent": wire_rows,
        "wire.rows_per_post": wire_rows / res["posts"] if res["posts"] else 0.0,
        "wire.post_s": sum(b["forward_s"] for b in batches) / res["posts"] if res["posts"] else 0.0,
    })
    for kind, v in stats.self_time_by_kind(spans).items():
        if f"self.{kind}_s" in UNITS:
            values[f"self.{kind}_s"] = v
    return _render(values)
