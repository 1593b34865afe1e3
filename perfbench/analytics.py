"""The ``registry`` workload: registry entries in one session.  A first
pass collects every entry's result for the check against its DuckDB twin
(and pays the entry's first-run costs); the timed pass then writes each
entry to a ``noop`` sink, sub-second entries several times.

Data comes from ``tools/gen_scale.gen(SF, dir, seed)``, generated once
per seed into ``.bench_build/data`` (not timed, not part of set-up).
``gen_scale`` draws document tokens and lengths from the sf0.1 documents
table, which lives outside the checkout.  The benchmark reads nothing
outside its checkout, so it hands ``gen_scale`` that table's unigram
counts and length histogram, measured once and stored in
``docs_sf0.1.json`` beside this file.
"""

from __future__ import annotations

import json
import statistics
import sys
import time
from pathlib import Path

import common

SF = 0.01
MIN_ENTRY_S = 1.0
MAX_RUNS = 5
ENTRIES = [
    # relational and time series
    "pricing_summary", "region_revenue", "time_bucket_agg", "asof_calibration", "line_protocol",
    # dedup and text
    "minhash_lsh_pairs",
    # vector
    "pq_adc_topk",
    # heavy on driver build
    "soft_dedup_weights", "pagerank_knn", "mmr_rerank",
    # serial job floor
    "contamination_report", "rrf_fusion",
]
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
DOCS_STATS = Path(__file__).with_name("docs_sf0.1.json")


def docs_dist():
    """What ``gen_scale._empirical_docs_dist`` returns, from the stored
    counts: vocabulary (most frequent first), token probabilities and one
    length per document of the sf0.1 table."""
    import numpy as np

    with open(DOCS_STATS) as fh:
        d = json.load(fh)
    vocab = [t for t, _ in d["token_counts"]]
    freq = np.array([c for _, c in d["token_counts"]], dtype="float64")
    lens = np.repeat([n for n, _ in d["length_counts"]], [c for _, c in d["length_counts"]]).astype("int64")
    return vocab, freq / freq.sum(), lens


def data_dir(seed: int) -> Path:
    """Generate (once) and return the seed's tables.  The directory's
    basename keys the program's own per-dataset caches, so it names the
    seed."""
    d = common.BUILD / "data" / f"sf{SF:g}-seed{seed}"
    if (d / "_DONE").exists():
        return d
    sys.path.insert(0, str(common.ROOT / "tools"))
    import gen_scale

    gen_scale._empirical_docs_dist = docs_dist
    gen_scale.gen(SF, str(d), seed)
    (d / "_DONE").write_text("")
    return d


def _drop_leftover_blocks(spark) -> None:
    """Unpersist blocks earlier entries left, so each entry starts from
    a clean executor."""
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist()


def _phases(df) -> dict:
    """Catalyst phase durations (ms) from the query's planning tracker."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()  # force optimization and physical planning
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            ps = opt.get()
            out[name] = {"ms": float(ps.durationMs()), "start_ms": float(ps.startTimeMs()), "end_ms": float(ps.endTimeMs())}
    return out


def run_entry(spark, builder, sf_dir: str, group: str, collect: bool, tracer=None) -> tuple[dict, object]:
    """Build and run one entry under job group ``group``: collect its
    result (``collect``) or write it to a ``noop`` sink.  Returns
    (timings, (columns, rows) when collected)."""
    _drop_leftover_blocks(spark)
    spark.sparkContext.setJobGroup(group, group)
    w0 = time.time()
    t0 = time.perf_counter()
    df = builder(spark, sf_dir)
    t1 = time.perf_counter()
    phases = _phases(df) if tracer is not None else None
    got = None
    if collect:
        got = ([c.lower() for c in df.columns], [tuple(r) for r in df.collect()])
    else:
        df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    return {"build_s": t1 - t0, "exec_s": t2 - t1, "total_s": t2 - t0,
            "wall": (w0, w0 + (t1 - t0), w0 + (t2 - t0)), "group": group, "phases": phases}, got


def check_pass(spark, reg, sf_dir: str) -> dict:
    """Every entry once, collected: {name: (columns, rows) or the
    exception raised}."""
    results = {}
    for name in ENTRIES:
        try:
            results[name] = run_entry(spark, reg[name][0], sf_dir, f"entry:{name}:0", True)[1]
        except Exception as exc:  # noqa: BLE001 — a raising entry is counted as failed
            results[name] = exc
    return results


def timed_pass(spark, reg, sf_dir: str, tracer=None) -> dict:
    """Every entry to a ``noop`` sink, repeated until its runs add up to
    ``MIN_ENTRY_S`` (at most ``MAX_RUNS``), so sub-second entries are not
    one noisy sample.  Returns {name: [runs]}; entries that raise are
    left out."""
    runs_by_entry = {}
    for name in ENTRIES:
        runs = []
        try:
            while len(runs) < MAX_RUNS and sum(r["total_s"] for r in runs) < MIN_ENTRY_S:
                runs.append(run_entry(spark, reg[name][0], sf_dir, f"entry:{name}:{len(runs) + 1}",
                                      False, tracer)[0])
        except Exception:  # noqa: BLE001 — reported as a failed entry by the caller
            continue
        runs_by_entry[name] = runs
    spark.sparkContext.setJobGroup("perfbench", "after entries")
    return runs_by_entry


def median_run(runs: list[dict]) -> dict:
    """The run an entry keeps: its median (the lower one of an even count)."""
    mid = statistics.median_low(r["total_s"] for r in runs)
    return next(r for r in runs if r["total_s"] == mid)


def registry_e2e(runs_by_entry: dict) -> dict:
    """End-to-end figures of the timed pass over the entries given.
    ``wall_s`` sums each entry's median run and ``entry_geomean_s`` is
    their geometric mean.  Latency pools every timed run of every entry:
    ``latency_p50_s`` is a typical single run, and ``latency_p99_s``,
    with fewer than 100 runs in the pool, is the slowest one."""
    kept = [median_run(r)["total_s"] for r in runs_by_entry.values()] or [0.0]
    pool = [r["total_s"] for runs in runs_by_entry.values() for r in runs] or [0.0]
    return {
        "latency_p50_s": common.percentile(pool, 0.50),
        "latency_p99_s": common.percentile(pool, 0.99),
        "wall_s": sum(kept),
        "entry_geomean_s": common.geomean(kept),
    }


def check_entries(reg, sf_dir: str, results: dict) -> dict:
    """Every entry's collected result against its DuckDB ``oracle_sql()``
    twin, compared the way ``tools/sweep.py`` does: column names, row
    count, then values through the oracle-parity test's
    canonicalization.  Returns {name: detail}, "ok" when equal."""
    import duckdb

    from tests.test_oracle_parity import _canon

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {}
    for name in ENTRIES:
        got, sql = results[name], reg[name][1]
        if isinstance(got, Exception):
            out[name] = f"error {got!r}"[:300]
            continue
        if sql is None:
            out[name] = "entry has no oracle twin"
            continue
        s_cols, s_rows = got
        res = con.execute(sql)
        d_cols = [c[0].lower() for c in res.description]
        d_rows = res.fetchall()
        if s_cols != d_cols:
            out[name] = f"columns {s_cols} vs {d_cols}"
        elif len(s_rows) != len(d_rows):
            out[name] = f"rowcount {len(s_rows)} vs {len(d_rows)}"
        elif _canon(s_rows, s_cols) != _canon(d_rows, d_cols):
            out[name] = "values differ"
        else:
            out[name] = "ok"
    con.close()
    return out


def run_registry(spark, seed: int, sampler, tracer=None) -> dict:
    """A fixed amount of work: a first pass over ``ENTRIES`` whose
    results are checked (it also pays each entry's first-run costs),
    then the timed pass."""
    from aprs2influxdb_spark.queries import registry

    reg = registry()
    sf_dir = str(data_dir(seed))
    results = check_pass(spark, reg, sf_dir)
    common.mark("registry.check_pass_done")
    sampler.restart()
    runs = timed_pass(spark, reg, sf_dir, tracer)
    mem = sampler.close_window()
    common.mark("registry.timed_pass_done")
    check = check_entries(reg, sf_dir, results)
    ok = {n: runs[n] for n in ENTRIES if check[n] == "ok" and n in runs}
    e2e = registry_e2e(ok)
    info = {
        "per_entry_s": {n: median_run(r)["total_s"] for n, r in ok.items()},
        "runs_s": {n: [x["total_s"] for x in r] for n, r in ok.items()},
        "p99_tail_supported": common.tail_supported(sum(len(r) for r in ok.values()), 0.99),
        "check": check, "result_rows": sum(len(results[n][1]) for n in ok),
        "params": {"sf": SF, "entries": ENTRIES, "min_entry_s": MIN_ENTRY_S, "max_runs": MAX_RUNS},
    }
    layers = None
    if tracer is not None:
        import tracing

        layers = tracing.registry_layers(spark, tracer, {n: median_run(r) for n, r in runs.items()})
    return {"e2e": e2e, "attempted": len(ENTRIES), "failed": len(ENTRIES) - len(ok),
            "info": info, "layers": layers, "mem": mem}
