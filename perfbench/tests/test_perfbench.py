"""Tests of the benchmark's own machinery (no Spark session needed).

Run with ``python3 -m pytest perfbench/tests -q`` from the repo root.
"""

from __future__ import annotations

import os
import socket
import subprocess
import sys
import threading
import time
import urllib.request

import pytest

import analytics
import common
import feed
import ingest
import stub as stubmod
import tracing
from aprs2influxdb_spark.sources.aprsis import parse_frame


# ------------------------------------------------------------- generator
def test_live_frames_deterministic_per_seed():
    a, b = feed.live_frames(7, 300, 500), feed.live_frames(7, 300, 500)
    assert a == b
    assert a != feed.live_frames(8, 300, 500)
    assert len(a) == 800


def test_catchup_files_deterministic_per_seed():
    a = feed.catchup_files(3, 2, 500)
    assert a == feed.catchup_files(3, 2, 500)
    assert a != feed.catchup_files(4, 2, 500)
    assert [len(f) for f in a] == [500, 500]


def test_live_mix_covers_every_format_and_carries_probes():
    frames = feed.live_frames(1, 300, 3000)
    formats = set()
    for i, f in enumerate(frames):
        d = parse_frame(f)
        formats.add(d["format"] if d else None)
        if d and d["format"] not in ("telemetry-message", "third-party"):
            assert stubmod.probes_in(f) == [i], f
    assert formats >= {"uncompressed", "compressed", "mic-e", "status", "wx", "message",
                       "bulletin", "object", "beacon", "telemetry-message", "third-party", None}


def test_live_equations_reach_data_senders_only_in_warm_up():
    n_warm = 300
    frames = feed.live_frames(5, n_warm, 3000)
    tele_senders = {f.split(">")[0] for f in frames[n_warm:] if ":T#" in f}
    eqns_later = {f.split(">")[0] for f in frames[n_warm:] if ":EQNS." in f}
    assert tele_senders and not (tele_senders & eqns_later)
    assert all(":T#" not in f for f in frames[:n_warm])


# ------------------------------------------------------------------ stub
def _post(url: str, body: str) -> None:
    req = urllib.request.Request(f"{url}/write?db=x", data=body.encode())
    with urllib.request.urlopen(req, timeout=10) as resp:
        assert resp.status == 204


def test_stub_counts_lines_posts_connections_and_digest():
    sent = ["a x=1 pb0000001", "b y=2", "a x=1 pb0000001", "c z=3 pb0000002"]
    with stubmod.InfluxStub() as s:
        _post(s.url, "\n".join(sent[:2]))
        _post(s.url, "\n".join(sent[2:]))
        snap = s.snapshot()
        got = s.lines.copy()
        seen = dict(s.first_seen)
    assert snap["lines"] == 4 and snap["posts"] == 2 and snap["connections"] == 2
    assert snap["bytes"] == sum(len(x) for x in sent) + 2
    assert stubmod.multiset_digest(got.elements()) == stubmod.multiset_digest(sent)
    assert set(seen) == {1, 2}
    cmp = ingest.compare(sent[1:] + ["d w=4"], got)
    assert cmp["missing"] == 1 and cmp["unexpected"] == 1


def test_multiset_digest_order_free_but_counts_duplicates():
    assert stubmod.multiset_digest(["x", "y"]) == stubmod.multiset_digest(["y", "x"])
    assert stubmod.multiset_digest(["x", "x"]) != stubmod.multiset_digest(["x"])
    assert stubmod.multiset_digest(["x", "x"])[1] != stubmod.multiset_digest(["y", "y"])[1]


# --------------------------------------------------------- open loop time
def test_latency_counts_from_due_time_under_a_stall():
    # 10 frames/s from t0=100; the sink stalls, then delivers everything
    # at t=103: frame k waited 3 - k/10 seconds, not the ~0 a
    # send-time clock would report
    n_warm, rate = 50, 10.0
    seen = {p: 103.0 for p in range(n_warm, n_warm + 30)}
    lat = ingest.due_latencies(seen, list(seen) + [999], 100.0, rate, n_warm)
    assert len(lat) == 30
    assert lat[0] == pytest.approx(3.0) and lat[-1] == pytest.approx(0.1)


def test_blocked_sendall_counts_as_generator_lag():
    a, b = socket.socketpair()
    for s in (a, b):
        s.setsockopt(socket.SOL_SOCKET, socket.SO_SNDBUF, 4096)
        s.setsockopt(socket.SOL_SOCKET, socket.SO_RCVBUF, 4096)
    frames = ["X" * 200] * 2000  # 400 KB at 4000 frames/s: far more than the buffers hold
    drained = threading.Event()

    def reader():
        time.sleep(1.0)  # the stalled consumer
        while b.recv(65536):
            pass
        drained.set()

    t = threading.Thread(target=reader, daemon=True)
    t.start()
    lag = feed._send_schedule(a, frames, 4000.0, time.time())
    a.close()
    t.join(timeout=10)
    b.close()
    assert not t.is_alive()
    assert lag >= 0.5


# ------------------------------------------------------------- processes
def test_stop_processes_waits_for_orphaned_grandchildren():
    # a child that starts a long-lived grandchild and exits at once, as a
    # JVM that dies before its Python workers would
    common.become_subreaper()
    spawn = "import subprocess, sys; subprocess.Popen([sys.executable, '-c', 'import time; time.sleep(60)'])"
    subprocess.run([sys.executable, "-c", spawn], check=True)
    assert common.descendants(os.getpid())
    signalled = common.stop_processes(grace_s=0.5)
    assert len(signalled) == 1 and not common.descendants(os.getpid())


# ------------------------------------------------------------ statistics
def test_tail_percentile_needs_ten_samples_beyond():
    assert common.tail_supported(1000, 0.99)
    assert not common.tail_supported(999, 0.99)
    assert common.tail_supported(20, 0.5)
    assert not common.tail_supported(19, 0.5)


def test_nearest_rank_percentile():
    v = list(range(1, 101))
    assert common.percentile(v, 0.5) == 50
    assert common.percentile(v, 0.99) == 99
    assert common.percentile(v, 1.0) == 100
    assert common.percentile([3.0], 0.99) == 3.0


def test_memory_window_ignores_work_after_it_closes(monkeypatch):
    rss = iter([{"jvm": 900.0, "driver": 50.0, "workers": 0.0},    # before the window
                {"jvm": 100.0, "driver": 50.0, "workers": 10.0},   # restart
                {"jvm": 300.0, "driver": 60.0, "workers": 20.0},   # close_window
                {"jvm": 2000.0, "driver": 900.0, "workers": 0.0}])  # an oracle check after it
    monkeypatch.setattr(common, "tree_rss_mb", lambda root, exclude: next(rss))
    s = common.RssSampler()
    s._sample()
    s.restart()
    mem = s.close_window()
    s._sample()
    assert mem == {"mem.peak_rss_mb": 380.0, "mem.jvm_rss_mb": 300.0,
                   "mem.driver_rss_mb": 60.0, "mem.workers_rss_mb": 20.0}


def test_registry_latency_pools_every_timed_run():
    runs = {"light": [{"total_s": t} for t in (0.2, 0.3, 0.25, 0.22, 0.21)],
            "heavy": [{"total_s": 4.0}, {"total_s": 5.0}],
            "mid": [{"total_s": 0.9}, {"total_s": 0.8}]}
    e = analytics.registry_e2e(runs)
    assert e["wall_s"] == pytest.approx(0.22 + 4.0 + 0.8)  # each entry's median (lower) run
    assert e["latency_p99_s"] == 5.0  # nine runs: the slowest one, not the sum
    assert e["latency_p50_s"] == 0.3  # fifth of the nine sorted runs
    assert e["entry_geomean_s"] == pytest.approx((0.22 * 4.0 * 0.8) ** (1 / 3))


def test_stored_document_stats_shape_the_corpus():
    vocab, probs, lens = analytics.docs_dist()
    assert len(vocab) == len(set(vocab)) == len(probs) == 31
    assert probs.sum() == pytest.approx(1.0) and list(probs) == sorted(probs, reverse=True)
    assert len(lens) == 5000 and lens.min() == 10 and lens.max() == 100


def test_tracing_overhead_is_absent_without_a_baseline():
    assert tracing.overhead(12.0, [])["frac"] is None
    o = tracing.overhead(12.0, [9.0, 10.0, 11.0])
    assert o["baseline_runs"] == 3 and o["frac"] == pytest.approx(0.2) and o["delta_s"] == pytest.approx(2.0)


# ---------------------------------------------------------------- spans
def test_self_time_subtracts_the_union_of_children():
    spans = [
        {"id": "p", "start": 0.0, "end": 10.0, "parent": None},
        {"id": "c1", "start": 1.0, "end": 3.0, "parent": "p"},
        {"id": "c2", "start": 2.0, "end": 5.0, "parent": "p"},   # overlaps c1
        {"id": "c3", "start": 9.0, "end": 12.0, "parent": "p"},  # runs past the parent
        {"id": "g", "start": 1.5, "end": 2.5, "parent": "c1"},
    ]
    st = tracing.self_times(spans)
    assert st["p"] == pytest.approx(10 - 4 - 1)
    assert st["c1"] == pytest.approx(1.0)
    assert st["c2"] == pytest.approx(3.0) and st["c3"] == pytest.approx(3.0)
    assert st["g"] == pytest.approx(1.0)


def test_progress_spans_account_for_the_trigger():
    prog = [{"batchId": 4, "numInputRows": 10, "timestamp": "2026-01-01T00:00:00.000Z",
             "durationMs": {"triggerExecution": 1000, "latestOffset": 100, "addBatch": 700,
                            "queryPlanning": 50, "walCommit": 20, "commitOffsets": 30, "getBatch": 0}},
            {"batchId": 5, "numInputRows": 0, "timestamp": "2026-01-01T00:00:01.000Z",
             "durationMs": {"triggerExecution": 5}}]
    tr = tracing.Tracer()
    shares = tracing.progress_spans(tr, prog)
    assert shares == [pytest.approx(0.9)]
    kids = [s for s in tr.spans if s["parent"] == "batch-4.trigger"]
    assert {s["name"] for s in kids} == {f"stream.{k}" for k in tracing.STREAM_PHASES}
    st = tracing.self_times(tr.spans)
    assert st["batch-4.trigger"] == pytest.approx(0.1, abs=1e-5)  # epoch-second floats
