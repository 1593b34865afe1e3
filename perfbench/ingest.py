"""The ``live`` ingest workload, driven through the CLI's default chain:
raw frames -> ``decode_frames`` -> ``influxdb_sink_broadcast_calibrated``
(``BroadcastCalibrator`` + ``stream_lines``) -> the InfluxDB stub.

It is an open loop: ``feed.py`` runs as its own process and plays frames
over one TCP connection to ``spark.readStream.format("aprsis")`` on a
fixed schedule; latency runs from each frame's due time to the stub
receiving its line.  The stub's lines are checked against the batch form
of the same chain.

``stage_backlog`` and ``drain`` run the same chain closed-loop over a
staged telemetry-heavy backlog, one file per trigger; the traced run
uses them for its single-core baseline.
"""

from __future__ import annotations

import json
import os
import queue
import subprocess
import sys
import threading
import time
from collections import Counter
from datetime import datetime
from pathlib import Path

import common
import feed
import stub as stubmod
import tracing

LIVE_RATE = 150.0  # frames/s: the order of the full APRS-IS feed
LIVE_WARM_S = 2.0
GEN_LAG_BOUND_S = 0.25
DB = "perfbench"


def frames_df(spark, frames: list[str]):
    from pyspark.sql import functions as F

    return spark.createDataFrame([(f,) for f in frames], "raw string").select(
        "raw", F.current_timestamp().alias("ingest_ts")
    )


def reference_lines(spark, batches: list[list[str]]) -> list[list[str]]:
    """The batch form of the chain: each element of ``batches`` (a list
    of frames) is one micro-batch through the same
    ``BroadcastCalibrator`` instance, then ``stream_lines``.  Returns
    the lines of each batch.  All batches decode in one parallel job and
    project in one more; the calibrator's dim still steps batch by
    batch."""
    from functools import reduce

    from pyspark.sql import functions as F

    from aprs2influxdb_spark.sources.aprsis import decode_frames
    from aprs2influxdb_spark.streaming.calibration import BroadcastCalibrator
    from aprs2influxdb_spark.streaming.pipeline import stream_lines

    packets = [decode_frames(frames_df(spark, b)).persist() for b in batches]
    union = lambda dfs: reduce(lambda a, b: a.unionByName(b), dfs)  # noqa: E731
    try:
        union(packets).write.format("noop").mode("overwrite").save()
        calib = BroadcastCalibrator(spark)
        cal = union([calib.apply(p).withColumn("b", F.lit(k)) for k, p in enumerate(packets)])
        cal = cal.withColumn("eqns_effective", F.from_json("eqns_json", "array<array<double>>"))
        out: list[list[str]] = [[] for _ in batches]
        for r in stream_lines(cal, eqns_col="eqns_effective").select("b", "line").collect():
            out[r[0]].append(r[1])
    finally:
        for p in packets:
            p.unpersist()
    return out


def compare(expected: list[str], got: Counter) -> dict:
    """Multiset comparison of expected lines with the stub's lines."""
    exp = Counter(e.encode() for e in expected)
    missing, unexpected = exp - got, got - exp
    return {
        "expected": stubmod.multiset_digest(exp.elements()),
        "received": stubmod.multiset_digest(got.elements()),
        "missing": sum(missing.values()), "unexpected": sum(unexpected.values()),
        "missing_sample": [m.decode() for m in list(missing)[:3]],
        "unexpected_sample": [u.decode() for u in list(unexpected)[:3]],
    }


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def _ts(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class _LineReader:
    """Reads the generator's JSON lines on a thread so waits can time out."""

    def __init__(self, proc: subprocess.Popen) -> None:
        self.q: queue.Queue = queue.Queue()
        threading.Thread(target=self._pump, args=(proc.stdout,), daemon=True).start()

    def _pump(self, fh) -> None:
        for ln in fh:
            self.q.put(json.loads(ln))
        self.q.put(None)

    def get(self, timeout: float) -> dict:
        msg = self.q.get(timeout=timeout)
        if msg is None:
            raise RuntimeError("traffic generator exited early")
        return msg


def due_latencies(first_seen: dict[int, float], probe_ids, t0: float, rate: float, n_warm: int) -> list[float]:
    """Latency of each received probe from its due time: measured frame
    ``p`` was due at ``t0 + (p - n_warm) / rate``, so a stall anywhere
    counts against every frame queued behind it."""
    return [first_seen[p] - (t0 + (p - n_warm) / rate) for p in probe_ids if p in first_seen]


def _wait_lines(stub, q, n: int, timeout_s: float) -> None:
    deadline = time.time() + timeout_s
    while stub.n_lines() < n and time.time() < deadline and q.isActive:
        time.sleep(0.05)


def _sink(packets, ckpt: Path, url: str):
    from aprs2influxdb_spark.sinks.influxdb import influxdb_sink_broadcast_calibrated

    return influxdb_sink_broadcast_calibrated(packets, checkpoint=str(ckpt), url=url, db=DB)


def run_live(spark, seed: int, seconds: int, run_dir: Path, sampler, tracer=None) -> dict:
    from aprs2influxdb_spark.sources.aprsis import decode_frames, register

    n_warm, n_meas = int(LIVE_RATE * LIVE_WARM_S), int(LIVE_RATE * seconds)
    frames = feed.live_frames(seed, n_warm, n_meas)
    register(spark)
    gen_cmd = [sys.executable, str(Path(feed.__file__)), "--seed", str(seed), "--rate", str(LIVE_RATE),
               "--warm-seconds", str(LIVE_WARM_S), "--seconds", str(seconds)]
    with stubmod.InfluxStub() as stub, subprocess.Popen(
        gen_cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True
    ) as gen:
        sampler.exclude.add(gen.pid)
        q = None
        try:
            msgs = _LineReader(gen)
            port = msgs.get(60)["port"]
            raw = (spark.readStream.format("aprsis").option("host", "127.0.0.1")
                   .option("port", port).option("callsign", "NOCALL").load())
            with tracing.driver_wrappers(tracer):
                q = _sink(decode_frames(raw), run_dir / "ckpt", stub.url)
                # the reference runs while the stream warms up; nothing
                # is timed until the generator's measured window opens
                common.mark("live.reference_start")
                warm_lines, meas_lines = reference_lines(spark, [frames[:n_warm], frames[n_warm:]])
                common.mark("live.reference_done")
                expected = warm_lines + meas_lines
                probe_ids = sorted({p for ln in meas_lines for p in stubmod.probes_in(ln)})
                msgs.get(120)  # warm-up frames sent
                _wait_lines(stub, q, len(warm_lines), 60)
                gen.stdin.write("go\n")
                gen.stdin.flush()
                t0 = msgs.get(30)["t0"]
                sampler.restart()
                common.mark("live.t0")
                at_t0 = stub.snapshot()
                done = msgs.get(seconds + 60)
                common.mark("live.gen_done")
                _wait_lines(stub, q, len(expected), 30)
                common.mark("live.all_lines")
                time.sleep(0.5)  # let a late duplicate show up as unexpected
                prog = _progress(q)
        finally:
            if q is not None:
                q.stop()
            mem = sampler.close_window()
            gen.stdin.close()
            try:
                gen.wait(timeout=30)
            except subprocess.TimeoutExpired:
                gen.kill()
            common.mark("live.stopped")
        end = stub.snapshot()
        cmp = compare(expected, stub.lines)
        lat = due_latencies(stub.first_seen, probe_ids, t0, LIVE_RATE, n_warm)
        last = max((stub.first_seen[p] for p in probe_ids if p in stub.first_seen), default=t0)
    batches = [p for p in prog if p["numInputRows"] > 0 and _ts(p["timestamp"]) >= t0]
    wall = last - t0
    lag = done["lag_max_s"]
    e2e = {
        "latency_p50_s": common.percentile(lat, 0.50),
        "latency_p99_s": common.percentile(lat, 0.99),
        "wall_s": wall,
        "entry_geomean_s": common.geomean([p["durationMs"]["triggerExecution"] / 1000 for p in batches]),
    }
    meas_sink = {k: end[k] - at_t0[k] for k in end}
    info = {
        "probes": len(probe_ids), "probes_received": len(lat),
        "p99_tail_supported": common.tail_supported(len(lat), 0.99),
        "gen_lag_max_s": lag, "gen_warm_lag_max_s": done["warm_lag_max_s"], "gen_valid": lag <= GEN_LAG_BOUND_S,
        "comparison": cmp, "sink_measured": meas_sink, "batches": len(batches),
        "batch_ms": [{k: p["durationMs"].get(k, 0) for k in ("triggerExecution", "latestOffset", "addBatch")}
                     | {"rows": p["numInputRows"]} for p in batches],
        "params": {"rate": LIVE_RATE, "warm_s": LIVE_WARM_S, "n_warm": n_warm, "n_measured": n_meas},
    }
    failed = cmp["missing"] + cmp["unexpected"] + (0 if lag <= GEN_LAG_BOUND_S else 1)
    layers = None
    if tracer is not None:
        layers = tracing.ingest_layers(spark, tracer, prog, batches, meas_sink, frames,
                                       query_run_id=prog[0]["runId"] if prog else None)
        layers["gen.lag_max_s"] = lag
        layers["scaling.rows_per_s_1cpu"] = tracing.one_cpu_rows_per_s(seed, run_dir)
    # attempted: every expected line, plus the generator keeping its schedule
    return {"e2e": e2e, "attempted": len(expected) + 1, "failed": failed, "info": info, "layers": layers,
            "mem": mem}


def stage_backlog(seed: int, n_files: int, per_file: int, stage: Path) -> None:
    """Write the backlog one file per trigger, with increasing mtimes so
    the file source takes them in order."""
    stage.mkdir(parents=True, exist_ok=True)
    base = time.time() - 10 * n_files
    for i, frames in enumerate(feed.catchup_files(seed, n_files, per_file)):
        p = stage / f"frames_{i:04d}.txt"
        p.write_text("\n".join(frames) + "\n")
        os.utime(p, (base + i, base + i))


def drain(spark, stage: Path, ckpt: Path, stub, n_warm: int) -> tuple[list[dict], dict]:
    """Run the chain over the staged backlog until it is drained.
    Returns (progress of every batch, drain window)."""
    from pyspark.sql import functions as F

    from aprs2influxdb_spark.sources.aprsis import decode_frames

    raw = (spark.readStream.format("text").option("maxFilesPerTrigger", 1).load(str(stage))
           .select(F.col("value").alias("raw"), F.current_timestamp().alias("ingest_ts")))
    q = _sink(decode_frames(raw), ckpt, stub.url)
    try:
        q.processAllAvailable()
        prog = _progress(q)
    finally:
        q.stop()
    batches = sorted((p for p in prog if p["numInputRows"] > 0), key=lambda p: p["batchId"])
    meas = batches[n_warm:]
    start = _ts(meas[0]["timestamp"])
    end = max(_ts(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000 for p in meas)
    return batches, {"start": start, "end": end, "measured": meas}
