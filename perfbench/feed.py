"""Deterministic APRS-IS traffic for the benchmark, and the fake APRS-IS
server that plays it on a fixed schedule.

Two mixes, both pure functions of the seed:

- ``live_frames``: a mix of all ten decoded formats plus third-party
  traffic and undecodable garbage, in assumed (not measured) shares.  Every frame carries a
  probe token ``pb<seq>`` in a text field, and every output line keeps
  the raw frame, so a line at the InfluxDB stub names the frame it
  came from.
- ``catchup_files``: a telemetry-heavy backlog (``T#`` data plus
  ``EQNS`` updates) over tens of thousands of senders with Zipf-skewed
  frequencies, split into one file per micro-batch (the single-core
  baseline's input).

Run as a script, this module is the open-loop generator process::

    python3 perfbench/feed.py --seed 1 --rate 150 --warm-seconds 4 --seconds 10

It listens on 127.0.0.1, prints ``{"port": N}``, waits for one reader to
log in and sends the warm-up frames.  It then prints ``{"warm_done": 1}``
and waits for a ``go`` line on stdin (the benchmark sends it once the
warm-up lines have arrived, so the measured window starts clean).  From
then on frame ``i`` is due at ``t0 + i / rate`` whatever the reader does.
It prints ``{"t0": ...}`` when the measured schedule starts and a summary
(``lag_max_s``: how late the last byte of any frame left ``sendall``
relative to its due time) when it ends, then holds the connection open
until its stdin closes.
"""

from __future__ import annotations

import argparse
import json
import random
import socket
import sys
import time

PROBE = "pb{:07d}"

# Mic-E destination/body pairs that decode (APRS 1.01 chapter 10
# examples); the body tail is free text that keeps the probe token
_MICE = [("T2SP0W", "`c_Vl!Xv/`\"4A}"), ("S32U6T", "`(_fn\"Oj/]")]

# (kind, weight).  An assumption, not a measurement: no capture of the
# APRS-IS feed was at hand, so these shares are guesses that put
# positions first and give every decoded format a visible share.  A
# measured mix would replace them (and change the workload's figures).
_LIVE_MIX = [
    ("uncompressed", 24), ("mic-e", 14), ("compressed", 12), ("status", 8),
    ("wx", 8), ("message", 8), ("object", 6), ("telemetry", 6),
    ("beacon", 3), ("bulletin", 2), ("telemetry-message", 4),
    ("third-party", 3), ("garbage", 2),
]


def _b91(v: int, n: int) -> str:
    out = []
    for _ in range(n):
        out.append(chr(33 + v % 91))
        v //= 91
    return "".join(reversed(out))


def _latlon(rng: random.Random) -> tuple[str, str, float, float]:
    lat, lon = rng.uniform(25.0, 49.0), rng.uniform(70.0, 123.0)
    la = f"{int(lat):02d}{(lat % 1) * 60:05.2f}N"
    lo = f"{int(lon):03d}{(lon % 1) * 60:05.2f}W"
    return la, lo, lat, -lon


def _eqns(rng: random.Random) -> str:
    coeffs = []
    for _ in range(5):
        coeffs += [round(rng.uniform(0, 0.01), 4), round(rng.uniform(0.5, 2), 3), rng.randint(-40, 40)]
    return ",".join(str(c) for c in coeffs)


def eqns_frame(cs: str, rng: random.Random) -> str:
    """A telemetry ``EQNS`` message: sender ``cs`` sets its own equations."""
    return f"{cs}>APRS,TCPIP*,qAC,T2EU::{cs:<9}:EQNS.{_eqns(rng)}"


def _telemetry(rng: random.Random, tseq: int) -> str:
    vals = ",".join(str(rng.randint(0, 255)) for _ in range(5))
    bits = "".join(rng.choice("01") for _ in range(8))
    return f"T#{tseq % 1000:03d},{vals},{bits}"


def frame(kind: str, cs: str, seq: int, rng: random.Random) -> str:
    """One raw TNC2 frame of ``kind`` from sender ``cs``; ``seq`` is the
    probe number carried in a text field (the raw frame rides into every
    output line, so the token survives decode and projection)."""
    tok = PROBE.format(seq)
    la, lo, lat, lon = _latlon(rng)
    head = f"{cs}>APRS,TCPIP*,qAC,T2EU"
    if kind == "uncompressed":
        cse = f"{rng.randint(0, 359):03d}/{rng.randint(0, 120):03d}" if rng.random() < 0.5 else ""
        alt = f" /A={rng.randint(0, 20000):06d}" if rng.random() < 0.3 else ""
        return f"{head}:{rng.choice('!=')}{la}/{lo}{rng.choice('->k')}{cse}mobile {tok}{alt}"
    if kind == "compressed":
        y = _b91(int(380926 * (90 - lat)), 4)
        x = _b91(int(190463 * (180 + lon)), 4)
        return f"{head}:={'/'}{y}{x}>7P[ {tok}"
    if kind == "mic-e":
        dest, body = _MICE[seq % len(_MICE)]
        return f"{cs}>{dest},WIDE1-1:{body}{tok}"
    if kind == "status":
        return f"{head}:>Net control on 146.52 {tok}"
    if kind == "wx":
        t, h = rng.randint(0, 110), rng.randint(10, 99)
        return f"{head}:_10090556c{rng.randint(0, 359):03d}s{rng.randint(0, 40):03d}g{rng.randint(0, 60):03d}t{t:03d}r000p000P000h{h:02d}b{rng.randint(9800, 10300):05d} {tok}"
    if kind == "message":
        return f"{head}::{'N0CALL':<9}:Hello {tok}{{{seq % 1000}"
    if kind == "bulletin":
        return f"{head}::{'BLN' + str(seq % 10):<9}:Snow expected {tok}"
    if kind == "object":
        return f"{head}:;{'OBJ' + str(seq % 100):<9}*010000z{la}/{lo}>{tok}"
    if kind == "telemetry":
        return f"{head}:{_telemetry(rng, seq)},{tok}"
    if kind == "telemetry-message":
        what = rng.choice(["EQNS.", "EQNS.", "PARM.", "UNIT."])
        body = _eqns(rng) if what == "EQNS." else "Volt,Temp,Pres,Hum,Lux"
        return f"{head}::{cs:<9}:{what}{body}"
    if kind == "beacon":
        return f"{cs}>ID:Hello from the club station {tok}"
    if kind == "third-party":
        return f"{head}:}}W1AW>APRS,TCPIP:!{la}/{lo}-{tok}"
    return f"garbage line without a header {tok}"  # dead-letters


def live_frames(seed: int, n_warm: int, n_measured: int) -> list[str]:
    """Warm-up frames then measured frames, frame ``i`` carrying probe
    ``i``.  Calibration equations reach telemetry senders only during
    warm-up (one ``EQNS`` each), so which micro-batch a measured frame
    lands in cannot change its line; measured-window ``EQNS`` updates go
    to senders that send no data."""
    rng = random.Random(seed)
    kinds = [k for k, _ in _LIVE_MIX]
    weights = [w for _, w in _LIVE_MIX]
    n_tele = 200
    out = [eqns_frame(f"TL{i:04d}", rng) for i in range(min(n_tele, n_warm))]
    for i in range(len(out), n_warm + n_measured):
        kind = rng.choices(kinds, weights)[0]
        if i < n_warm and kind == "telemetry":
            kind = "status"  # no calibrated data before the equations land
        if kind == "telemetry":
            cs = f"TL{rng.randrange(n_tele):04d}"
        elif kind == "telemetry-message":
            cs = f"EQ{rng.randrange(2000):04d}"
        else:
            cs = f"K{int(rng.paretovariate(1.2)) % 5000:04d}"
        out.append(frame(kind, cs, i, rng))
    return out


def catchup_files(seed: int, n_files: int, per_file: int, n_senders: int = 40000) -> list[list[str]]:
    """Telemetry-heavy backlog: 70% ``T#`` data, 10% ``EQNS`` updates,
    20% positions/status, senders drawn Zipf-like (Pareto 0.8) from
    ``n_senders``.  The shares and the skew are assumptions chosen to
    stress calibration, not measured from a real archive."""
    rng = random.Random(seed * 7919 + 1)
    kinds = ["telemetry", "telemetry-message", "uncompressed", "status", "mic-e"]
    weights = [70, 10, 10, 5, 5]
    files, seq = [], 0
    for _ in range(n_files):
        batch = []
        for _ in range(per_file):
            kind = rng.choices(kinds, weights)[0]
            cs = f"C{int(rng.paretovariate(0.8)) % n_senders:05d}"
            batch.append(eqns_frame(cs, rng) if kind == "telemetry-message" else frame(kind, cs, seq, rng))
            seq += 1
        files.append(batch)
    return files


def _send_schedule(conn: socket.socket, frames: list[str], rate: float, t0: float) -> float:
    """Send ``frames[i]`` at ``t0 + i / rate``; returns the worst lag
    between a frame's due time and the return of the ``sendall`` that
    carried it (a blocked send is generator lateness)."""
    lag_max, i, n = 0.0, 0, len(frames)
    while i < n:
        now = time.time()
        j = i
        while j < n and t0 + j / rate <= now:
            j += 1
        if j == i:
            time.sleep(max(0.0, t0 + i / rate - now))
            continue
        conn.sendall("".join(f + "\r\n" for f in frames[i:j]).encode())
        lag_max = max(lag_max, time.time() - (t0 + i / rate))
        i = j
    return lag_max


def serve(seed: int, rate: float, warm_s: float, seconds: float) -> None:
    n_warm, n_meas = int(rate * warm_s), int(rate * seconds)
    frames = live_frames(seed, n_warm, n_meas)
    srv = socket.create_server(("127.0.0.1", 0))
    print(json.dumps({"port": srv.getsockname()[1]}), flush=True)
    conn, _ = srv.accept()
    with conn, srv:
        conn.settimeout(30)
        buf = b""
        while b"\n" not in buf:
            chunk = conn.recv(1024)
            if not chunk:
                return
            buf += chunk
        conn.sendall(b"# logresp NOCALL unverified, server PERFBENCH\r\n")
        warm_lag = _send_schedule(conn, frames[:n_warm], rate, time.time())
        print(json.dumps({"warm_done": 1}), flush=True)
        if sys.stdin.readline().strip() != "go":
            return
        t0 = time.time()
        print(json.dumps({"t0": t0}), flush=True)
        lag = _send_schedule(conn, frames[n_warm:], rate, t0)
        print(json.dumps({"done": True, "lag_max_s": lag, "warm_lag_max_s": warm_lag,
                          "n_warm": n_warm, "n_measured": n_meas}), flush=True)
        sys.stdin.read()  # hold the connection until the benchmark is done


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--warm-seconds", type=float, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    a = ap.parse_args()
    serve(a.seed, a.rate, a.warm_seconds, a.seconds)
