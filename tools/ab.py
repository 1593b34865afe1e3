"""Paired ABAB timing of registry entries in two source trees.

Each pass runs ``bench.py`` in one tree, restricted to the named
entries via ``SPARK_GRAFT_BENCH_ONLY`` (same warmup, same untimed media
prep, same best-of-2 noop-sink timing).  The passes run A, B, A, B so a
slow window on the host hits both trees; the number reported per
(tree, entry) is the min over that tree's two passes.  Runs
are sequential — never two Spark sessions at once.

``bench.py`` writes ``BENCH.json`` beside itself.  Each pass's copy is
moved to a run-scoped directory (printed at the end) and the tree's own
``BENCH.json`` is put back byte for byte, so a committed file is never
left overwritten.

Usage::

    python tools/ab.py TREE_A TREE_B ENTRY [ENTRY ...]

``SPARK_GRAFT_SF_DIR`` and ``SPARK_GRAFT_CPUS`` pass through to
``bench.py`` (its own defaults apply when unset).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile


def run_pass(tree: str, entries: list[str], out_path: str) -> dict[str, float]:
    """One ``bench.py`` pass in ``tree``; its BENCH.json lands at
    ``out_path`` and the tree's own copy is restored."""
    env = dict(os.environ)
    env["SPARK_GRAFT_BENCH_ONLY"] = ",".join(entries)
    bench_json = os.path.join(tree, "BENCH.json")
    saved = None
    if os.path.exists(bench_json):
        with open(bench_json, "rb") as fh:
            saved = fh.read()
    try:
        proc = subprocess.run(
            [sys.executable, "bench.py"], cwd=tree, env=env,
            capture_output=True, text=True,
        )
        if proc.returncode != 0:
            print(f"bench.py failed in {tree} (exit {proc.returncode}):", file=sys.stderr)
            print(proc.stderr, file=sys.stderr)
            proc.check_returncode()
        shutil.move(bench_json, out_path)
    finally:
        if saved is not None:
            with open(bench_json, "wb") as fh:
                fh.write(saved)
        elif os.path.exists(bench_json):
            os.remove(bench_json)
    with open(out_path) as fh:
        times = json.load(fh)["queries"]
    missing = sorted(set(entries) - set(times))
    if missing:
        raise SystemExit(f"bench.py in {tree} did not time {missing} (not headline entries?)")
    return times


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("tree_a")
    ap.add_argument("tree_b")
    ap.add_argument("entries", nargs="+")
    args = ap.parse_args()
    run_dir = tempfile.mkdtemp(prefix="abab_")
    trees = {"A": args.tree_a, "B": args.tree_b}
    passes: dict[str, list[dict[str, float]]] = {"A": [], "B": []}
    for i in range(2):
        for side in ("A", "B"):
            out = os.path.join(run_dir, f"BENCH_{side}{i}.json")
            passes[side].append(run_pass(trees[side], args.entries, out))
            print(f"pass {side}{i} done: {trees[side]}: {passes[side][-1]}", flush=True)
    print(f"\n{'entry':38s} {'A':>7s} {'B':>7s} {'B/A':>6s}")
    for name in args.entries:
        a = min(p[name] for p in passes["A"])
        b = min(p[name] for p in passes["B"])
        print(f"{name:38s} {a:7.2f} {b:7.2f} {b / a:6.2f}")
    print(f"\nper-pass BENCH.json files: {run_dir}")


if __name__ == "__main__":
    main()
