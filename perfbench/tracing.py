"""The traced run: spans, counters and per-layer self times.

Spans are kept in memory and written to ``spans.json`` in the run
directory at exit.  Each has a name, start, end (epoch seconds), a
parent, and a trace id shared by one micro-batch (``batch-<batchId>``)
or one registry entry (``entry-<name>``).  Sources:

- wrappers, installed only while the traced stream runs, around the
  public driver-side calls ``BroadcastCalibrator.apply`` and
  ``stream_lines``;
- the streaming query's progress records (``durationMs``);
- ``statusTracker`` job and stage counts per query or entry job group;
- the Catalyst phases in ``queryExecution().tracker()``;
- the local Spark event log, for job/stage spans, shuffle, spill and GC.

Each ingest layer is also timed alone on the workload's own frames:
``decode_frames``, ``BroadcastCalibrator.apply``, ``stream_lines`` and
``write_lines_http`` against a fresh stub.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import statistics
import threading
import time
from pathlib import Path

import common

STREAM_PHASES = ["latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets"]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.current_batch: int | None = None

    def add(self, name: str, trace: str, start: float, end: float, parent: str | None = None,
            span_id: str | None = None, **attrs) -> str:
        sid = span_id or f"s{len(self.spans)}"
        self.spans.append({"id": sid, "name": name, "trace": trace, "start": start, "end": end,
                           "parent": parent, **attrs})
        return sid


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per span id: its duration minus the part of its
    interval that its children cover (overlapping children count once)."""
    kids: dict[str, list[dict]] = {}
    for s in spans:
        if s.get("parent"):
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ivs = sorted((max(c["start"], s["start"]), min(c["end"], s["end"])) for c in kids.get(s["id"], []))
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


@contextlib.contextmanager
def driver_wrappers(tracer: Tracer | None):
    """Wrap ``BroadcastCalibrator.apply`` and ``pipeline.stream_lines``
    with spans while the traced stream runs; restored on exit.  Calls
    from the main thread (the benchmark's own reference computation) are
    not recorded: the stream's batches run on Spark's callback thread."""
    if tracer is None:
        yield
        return
    from aprs2influxdb_spark.streaming import calibration, pipeline

    orig_apply, orig_lines = calibration.BroadcastCalibrator.apply, pipeline.stream_lines

    def apply(self, batch_df, batch_id=0):
        if threading.current_thread() is threading.main_thread():
            return orig_apply(self, batch_df, batch_id)
        tracer.current_batch = batch_id
        t0 = time.time()
        try:
            return orig_apply(self, batch_df, batch_id)
        finally:
            tracer.add("calib.apply", f"batch-{batch_id}", t0, time.time(), parent=f"batch-{batch_id}.addBatch",
                       batch=batch_id)

    def stream_lines(packets, eqns_col=None):
        if threading.current_thread() is threading.main_thread():
            return orig_lines(packets, eqns_col)
        b = tracer.current_batch
        t0 = time.time()
        try:
            return orig_lines(packets, eqns_col)
        finally:
            tracer.add("project.build", f"batch-{b}", t0, time.time(), parent=f"batch-{b}.addBatch", batch=b)

    calibration.BroadcastCalibrator.apply = apply
    pipeline.stream_lines = stream_lines
    try:
        yield
    finally:
        calibration.BroadcastCalibrator.apply = orig_apply
        pipeline.stream_lines = orig_lines


def _ts(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def progress_spans(tracer: Tracer, prog: list[dict]) -> list[float]:
    """One ``trigger`` span per batch with its ``durationMs`` parts as
    children, laid end to end in execution order (progress records give
    durations, not starts).  Returns, per batch, the share of
    ``triggerExecution`` the parts account for."""
    shares = []
    for p in prog:
        if p["numInputRows"] == 0:
            continue
        b, d = p["batchId"], p["durationMs"]
        start = _ts(p["timestamp"])
        trig = d["triggerExecution"] / 1000
        tracer.add("stream.trigger", f"batch-{b}", start, start + trig, span_id=f"batch-{b}.trigger",
                   rows=p["numInputRows"])
        t = start
        parts = [k for k in STREAM_PHASES if k in d] + sorted(k for k in d if k not in STREAM_PHASES + ["triggerExecution"])
        for k in parts:
            tracer.add(f"stream.{k}", f"batch-{b}", t, t + d[k] / 1000, parent=f"batch-{b}.trigger",
                       span_id=f"batch-{b}.{k}")
            t += d[k] / 1000
        shares.append(sum(d[k] for k in parts) / max(d["triggerExecution"], 1))
    return shares


def _med(values, default=0.0):
    values = list(values)
    return statistics.median(values) if values else default


def _jobs_and_stages(spark, group: str) -> tuple[int, int]:
    st = spark.sparkContext.statusTracker()
    jobs = list(st.getJobIdsForGroup(group))
    stages = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages += len(info.stageIds)
    return len(jobs), stages


def isolated_layers(spark, frames: list[str]) -> dict:
    """Time each ingest layer alone on the workload's frames."""
    from pyspark.sql import functions as F

    from aprs2influxdb_spark.sinks.influxdb import write_lines_http
    from aprs2influxdb_spark.sources.aprsis import decode_frames
    from aprs2influxdb_spark.streaming.calibration import BroadcastCalibrator
    from aprs2influxdb_spark.streaming.pipeline import stream_lines

    import ingest
    import stub as stubmod

    raw = ingest.frames_df(spark, frames).persist()
    n = raw.count()
    out = {}
    t0 = time.perf_counter()
    decode_frames(raw).write.format("noop").mode("overwrite").save()
    out["decode.busy_s"] = time.perf_counter() - t0
    out["decode.frames_per_s"] = n / out["decode.busy_s"]
    packets = decode_frames(raw).persist()
    stats = packets.agg(
        F.sum(F.col("format").isNull().cast("int")).alias("dead"),
        F.sum(F.col("telemetry").isNotNull().cast("int")).alias("tele"),
        F.countDistinct(F.when(F.col("tEQNS").isNotNull(), F.col("from_call"))).alias("keys"),
    ).first()
    out["decode.dead_letter_frac"] = stats["dead"] / n
    out["calib.telemetry_frac"] = stats["tele"] / n
    out["calib.dim_keys"] = float(stats["keys"])
    calib = BroadcastCalibrator(spark)
    t0 = time.perf_counter()
    calib.apply(packets)
    out["calib.apply_ms_alone"] = (time.perf_counter() - t0) * 1000
    lines = stream_lines(packets).select("line")
    t0 = time.perf_counter()
    lines.write.format("noop").mode("overwrite").save()
    out["project.busy_s"] = time.perf_counter() - t0
    got = [r[0] for r in lines.collect()]
    out["project.lines_per_frame"] = len(got) / n
    with stubmod.InfluxStub() as s:
        t0 = time.perf_counter()
        write_lines_http(got, s.url, ingest.DB)
        out["sink.alone_s"] = time.perf_counter() - t0
    packets.unpersist()
    raw.unpersist()
    return out


def ingest_layers(spark, tracer: Tracer, prog, measured, sink_counts: dict, frames: list[str],
                  query_run_id: str | None) -> dict:
    """Per-layer numbers of a traced ingest run: progress spans and
    medians over the measured batches, job/stage counts, the wrapper
    spans, the stub's counters, and each layer timed alone."""
    shares = progress_spans(tracer, prog)
    d = [p["durationMs"] for p in measured]
    L = {
        "stream.batches": float(len(measured)),
        "stream.trigger_ms_p50": _med(x["triggerExecution"] for x in d),
        "stream.accounted_frac_min": min(shares) if shares else 0.0,
        "source.read_ms": _med(x.get("latestOffset", 0) for x in d),
        "source.frames_per_batch": _med(p["numInputRows"] for p in measured),
    }
    for k in STREAM_PHASES:
        L[f"stream.{k}_ms"] = _med(x.get(k, 0) for x in d)
    if query_run_id:
        n_batches = sum(1 for p in prog if p["numInputRows"] > 0)
        jobs, stages = _jobs_and_stages(spark, query_run_id)
        L["stream.jobs_per_batch"] = jobs / max(n_batches, 1)
        L["stream.stages_per_batch"] = stages / max(n_batches, 1)
    meas_ids = {p["batchId"] for p in measured}
    for name, metric in (("calib.apply", "calib.apply_ms"), ("project.build", "project.build_ms")):
        L[metric] = _med((s["end"] - s["start"]) * 1000 for s in tracer.spans
                         if s["name"] == name and s.get("batch") in meas_ids)
    posts = max(sink_counts["posts"], 1)
    L.update({
        "sink.posts": float(sink_counts["posts"]), "sink.lines_per_post": sink_counts["lines"] / posts,
        "sink.bytes": float(sink_counts["bytes"]), "sink.connections": float(sink_counts["connections"]),
        "sink.server_ms": sink_counts["server_s"] * 1000 / posts,
    })
    L.update(isolated_layers(spark, frames))
    return L


def entry_trace(group: str) -> str:
    """Trace id of a registry entry run from its job group
    ``entry:<name>:<pass>``."""
    _, name, p = group.split(":")
    return f"entry-{name}-p{p}"


def registry_layers(spark, tracer: Tracer, timed: dict) -> dict:
    """Per-entry build/exec/jobs of the timed pass and their sums, with
    one span tree per entry."""
    L: dict[str, float] = {}
    agg = dict.fromkeys(["build_s", "exec_s", "analysis_ms", "optimization_ms", "planning_ms", "jobs", "stages"], 0.0)
    worst_gap = 0.0
    for name, r in timed.items():
        jobs, stages = _jobs_and_stages(spark, r["group"])
        L[f"registry.{name}.build_s"] = r["build_s"]
        L[f"registry.{name}.exec_s"] = r["exec_s"]
        L[f"registry.{name}.jobs"] = float(jobs)
        for k, v in (("build_s", r["build_s"]), ("exec_s", r["exec_s"]), ("jobs", jobs), ("stages", stages)):
            agg[k] += v
        for ph, v in r["phases"].items():
            agg[f"{ph}_ms"] += v["ms"]
        worst_gap = max(worst_gap, abs((r["build_s"] + r["exec_s"]) - r["total_s"]))
        w0, w1, w2 = r["wall"]
        tr = entry_trace(r["group"])
        root = tracer.add("registry.entry", tr, w0, w2, span_id=f"{tr}.entry", group=r["group"])
        tracer.add("registry.build", tr, w0, w1, parent=root, span_id=f"{tr}.build")
        tracer.add("registry.exec", tr, w1, w2, parent=root, span_id=f"{tr}.exec")
        for ph, v in r["phases"].items():
            parent = f"{tr}.build" if ph == "analysis" else f"{tr}.exec"
            tracer.add(f"catalyst.{ph}", tr, v["start_ms"] / 1000, v["end_ms"] / 1000, parent=parent)
    for k, v in agg.items():
        L[f"registry.{k}"] = v
    L["registry.accounted_gap_s"] = worst_gap
    return L


# ------------------------------------------------------------ event log
def _events(path: str):
    """An application's event log (one file: rolling is off)."""
    with open(path) as fh:
        for ln in fh:
            yield json.loads(ln)


def _app_log(run_dir: Path, app_prefix: str) -> str | None:
    """The event log of the last application whose name starts with
    ``app_prefix`` (set-ups before it and the 1-cpu run write others)."""
    best = None
    for path in glob.glob(str(run_dir / "eventlog" / "*")):
        for ev in _events(path):
            if ev.get("Event") == "SparkListenerApplicationStart":
                if ev.get("App Name", "").startswith(app_prefix):
                    ts = ev.get("Timestamp", 0)
                    if best is None or ts > best[0]:
                        best = (ts, path)
                break
    return best[1] if best else None


def event_log_spans(tracer: Tracer, path: str) -> dict:
    """Job and stage spans from the event log, attached to the batch or
    entry that ran them, plus shuffle/spill/GC totals per job group."""
    jobs, stage_job, stages, tasks = {}, {}, {}, {}
    for ev in _events(path):
        e = ev.get("Event")
        if e == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {"start": ev["Submission Time"] / 1000, "props": props, "end": None}
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = ev["Job ID"]
        elif e == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
        elif e == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            if si.get("Submission Time") and si.get("Completion Time"):
                stages[si["Stage ID"]] = (si["Submission Time"] / 1000, si["Completion Time"] / 1000)
        elif e == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            t = tasks.setdefault(stage_job.get(ev["Stage ID"]), [0, 0, 0])
            t[0] += sw.get("Shuffle Bytes Written", 0)
            t[1] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            t[2] += m.get("JVM GC Time", 0)
    per_group: dict[str, list[float]] = {}
    by_id = {s["id"]: s for s in tracer.spans}
    for jid, j in jobs.items():
        if j["end"] is None:
            continue
        props = j["props"]
        group = props.get("spark.jobGroup.id", "")
        batch = props.get("streaming.sql.batchId")
        if batch is not None:
            trace, parent = f"batch-{batch}", f"batch-{batch}.addBatch"
        elif group.startswith("entry:") and f"{entry_trace(group)}.entry" in by_id:
            # the entry run the timed pass kept (not the check pass or other repeats)
            trace = entry_trace(group)
            build = by_id.get(f"{trace}.build")
            parent = f"{trace}.build" if build and j["start"] < build["end"] else f"{trace}.exec"
        else:
            continue
        sid = tracer.add("spark.job", trace, j["start"], j["end"], parent=parent, job=jid)
        for st_id, owner in stage_job.items():
            if owner == jid and st_id in stages:
                a, b = stages[st_id]
                tracer.add("spark.stage", trace, a, b, parent=sid, stage=st_id)
        g = per_group.setdefault(group, [0.0, 0.0, 0.0])
        for i, v in enumerate(tasks.get(jid, [0, 0, 0])):
            g[i] += v
    return per_group


def _untraced_wall(meta: dict) -> list[float]:
    """``wall_s`` of earlier untraced, correct runs in this checkout with
    the same workload, seed, seconds and program source."""
    out = []
    pattern = f"{meta['workload']}-s{meta['seed']}-t0-*"
    for path in glob.glob(str(common.BUILD / "runs" / pattern / "result.json")):
        try:
            with open(path) as fh:
                r = json.load(fh)
        except (OSError, ValueError):
            continue
        m = r["meta"]
        if (m.get("source_sha"), m.get("seconds")) == (meta["source_sha"], meta["seconds"]) and r["failed"] == 0:
            out.append(r["e2e"]["wall_s"])
    return out


def overhead(traced_wall_s: float, untraced_wall_s: list[float]) -> dict:
    """Tracing overhead: traced ``wall_s`` against the median of the
    untraced baseline runs; ``frac`` is None when there are none."""
    base = statistics.median(untraced_wall_s) if untraced_wall_s else None
    return {"traced_wall_s": traced_wall_s, "untraced_wall_s": untraced_wall_s, "baseline_runs": len(untraced_wall_s),
            "delta_s": None if base is None else traced_wall_s - base,
            "frac": None if base is None else traced_wall_s / base - 1}


def finish(tracer: Tracer, layers: dict | None, setups: list[dict], run_dir: Path, meta: dict,
           e2e: dict) -> tuple[dict, dict]:
    """Complete the per-layer record after the session stopped: event-log
    spans and totals, set-up split and self times; writes ``spans.json``.
    Returns (per-layer metrics, tracing overhead)."""
    L = dict(layers or {})
    for k in ("session_s", "warmup_s"):
        L[f"setup.{k}"] = _med(s[k] for s in setups)
    L["setup.session_cold_s"] = setups[0]["session_s"]
    workload = meta["workload"]
    log = _app_log(run_dir, f"perfbench-{workload}")
    groups = event_log_spans(tracer, log) if log else {}
    if workload == "registry":
        timed = [v for g, v in groups.items() if g.startswith("entry:")]
        L["registry.shuffle_bytes"], L["registry.spill_bytes"], L["registry.gc_ms"] = (
            sum(v[i] for v in timed) for i in range(3))
    st = self_times(tracer.spans)
    by_name: dict[str, float] = {}
    for s in tracer.spans:
        by_name[s["name"]] = by_name.get(s["name"], 0.0) + st[s["id"]]
    over = overhead(e2e["wall_s"], _untraced_wall(meta))
    common.write_json(run_dir / "spans.json", {
        "spans": tracer.spans, "self_time_s_by_name": by_name, "event_log": log,
        "trace_overhead": over, "traced_e2e": e2e,
    })
    return L, over


def one_cpu_rows_per_s(seed: int, run_dir: Path, per_file: int = 2000) -> float:
    """The chain at ``local[1]`` over a staged telemetry-heavy backlog
    (``feed.catchup_files``: 1 warm-up file + 2 measured), drained
    closed-loop: a single-core capacity baseline.  Stops the
    caller's session."""
    from pyspark.sql import SparkSession

    import ingest
    import stub as stubmod

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    stage, ckpt = run_dir / "backlog-1cpu", run_dir / "ckpt-1cpu"
    try:
        spark, _ = common.timed_setup("perfbench-1cpu")
        ingest.stage_backlog(seed, 3, per_file, stage)
        with stubmod.InfluxStub() as s:
            _, win = ingest.drain(spark, stage, ckpt, s, 1)
            lines = sum(1 for p in s.first_seen if p >= per_file)
        spark.stop()
    finally:
        os.environ["SPARK_GRAFT_CPUS"] = str(common.CPUS)
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return lines / (win["end"] - win["start"])
