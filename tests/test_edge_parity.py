"""Edge-input parity regressions the sf fixtures cannot exercise
(they are ASCII-only with no zero vectors):

- non-ASCII text through ``edit_distance_pairs``: Spark's
  ``levenshtein`` counts code points, DuckDB's counts bytes — both
  sides must ASCII-project first or the oracle diverges on the first
  multi-byte character;
- all-zero vectors through ``quantize_embeddings``: the NULL q array
  must surface as NULL on both engines (Spark ``array_join`` would
  render it '' while DuckDB ``array_to_string`` returns NULL).
"""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from aprs2influxdb_spark.queries import registry

from tests.test_oracle_parity import _canon


def _run_both(spark, tmp_sf, name, views):
    con = duckdb.connect()
    for t in views:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tmp_sf}/{t}.parquet'")
    builder, sql = registry()[name]
    sdf = builder(spark, str(tmp_sf))
    s_cols = [c.lower() for c in sdf.columns]
    s_rows = [tuple(r) for r in sdf.collect()]
    res = con.execute(sql)
    d_cols = [c[0].lower() for c in res.description]
    d_rows = res.fetchall()
    assert sorted(s_cols) == sorted(d_cols)
    assert _canon(s_rows, s_cols) == _canon(d_rows, d_cols)
    return s_rows


def test_edit_distance_non_ascii_parity(spark, tmp_path):
    # share the (aaa,bbb,ccc,…) shingles so the pair is a candidate;
    # differ only in héllo/hallo — multi-byte on one side
    rows = [
        (1, "aaa bbb ccc ddd eee héllo"),
        (2, "aaa bbb ccc ddd eee hallo"),
        (3, "unrelated words entirely different text here"),
    ]
    pq.write_table(
        pa.table({"doc_id": pa.array([r[0] for r in rows], pa.int64()),
                  "text": pa.array([r[1] for r in rows])}),
        tmp_path / "documents.parquet",
    )
    out = _run_both(spark, tmp_path, "edit_distance_pairs", ["documents"])
    pair = {(r[0], r[1]): r[2] for r in out}
    # projected: 'h?llo' vs 'hallo' -> distance 1 on both engines
    assert pair[(1, 2)] == 1


def test_quantize_zero_vector_parity(spark, tmp_path):
    vecs = [
        (1, [1.0, -2.0, 4.0, 0.5]),
        (2, [0.0, 0.0, 0.0, 0.0]),  # all-zero: NULL scale, NULL q
        (3, [0.25, 0.25, -0.25, 0.125]),
    ]
    pq.write_table(
        pa.table({"vec_id": pa.array([v[0] for v in vecs], pa.int64()),
                  "embedding": pa.array([v[1] for v in vecs], pa.list_(pa.float32()))}),
        tmp_path / "embeddings.parquet",
    )
    out = _run_both(spark, tmp_path, "quantize_embeddings", ["embeddings"])
    by_id = {r[0]: r for r in out}
    assert by_id[2][1] is None and by_id[2][2] is None
    assert by_id[1][2] == "32_-64_127_16"


def _write_events(tmp_path, rows):
    pq.write_table(
        pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows]),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array(["{}" for _ in rows]),
        }),
        tmp_path / "events.parquet",
    )


def test_ewma_single_sample_and_ts_ties(spark, tmp_path):
    """A one-sample series must emit its own value (the fold's zero
    element), and duplicate timestamps must order by event_id on both
    engines — the recursion makes any order divergence compound."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t0, 10, "view", 4.0),
        (3, t0, 11, "view", 1.0),   # same ts as event 2: event_id breaks the tie
        (2, t0, 11, "view", 7.0),
        (4, t0 + dt.timedelta(minutes=1), 11, "view", 3.0),
    ]
    _write_events(tmp_path, rows)
    out = _run_both(spark, tmp_path, "ewma_smooth", ["events"])
    by_eid = {r[1]: r[2] for r in out}
    assert by_eid[1] == 4.0
    assert by_eid[2] == 7.0                       # first in (ts, event_id) order
    assert by_eid[3] == round(0.3 * 1.0 + 0.7 * 7.0, 6)
    out2 = _run_both(spark, tmp_path, "holt_linear", ["events"])
    lvl = {r[1]: r[2] for r in out2}
    assert lvl[1] == 4.0 and lvl[2] == 7.0


def test_paragraph_dedup_full_and_short_docs(spark, tmp_path):
    """A document whose every chunk appeared earlier must survive as a
    row with empty text_clean (the caller owns the drop policy); a
    short (< window words) doc is a single chunk."""
    w16 = " ".join(f"w{i}" for i in range(16))
    w16b = " ".join(f"x{i}" for i in range(16))
    rows = [
        (1, f"{w16} {w16b}", "en", "s0", 0),
        (2, f"{w16} {w16b}", "en", "s0", 0),   # exact dup of doc 1 -> empty
        (3, "short doc only", "en", "s0", 0),
        (4, f"{w16b} fresh tail words", "en", "s0", 0),  # chunk 1 dup, tail new
    ]
    pq.write_table(
        pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows]),
            "lang": pa.array([r[2] for r in rows]),
            "source": pa.array([r[3] for r in rows]),
            "n_chars": pa.array([r[4] for r in rows], pa.int64()),
        }),
        tmp_path / "documents.parquet",
    )
    out = _run_both(spark, tmp_path, "paragraph_dedup", ["documents"])
    by_id = {r[0]: r for r in out}
    assert by_id[2][2] == 0 and by_id[2][3] == ""          # all chunks elsewhere-first
    assert by_id[1][1] == 2 and by_id[1][2] == 2           # both kept
    assert by_id[3][3] == "short doc only"                 # single short chunk
    assert by_id[4][2] == 1 and by_id[4][3] == "fresh tail words"


def test_bm25_absent_query_terms(spark, tmp_path):
    """Query terms absent from the corpus contribute no posting rows;
    a query whose EVERY term is absent yields no rows at all — on
    both engines (df=0 never reaches the idf formula)."""
    rows = [
        (1, "spark join spark join spark", "en", "s0", 0),
        (2, "join once here", "en", "s0", 0),
        (3, "nothing relevant at all", "en", "s0", 0),
    ]
    pq.write_table(
        pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows]),
            "lang": pa.array([r[2] for r in rows]),
            "source": pa.array([r[3] for r in rows]),
            "n_chars": pa.array([r[4] for r in rows], pa.int64()),
        }),
        tmp_path / "documents.parquet",
    )
    out = _run_both(spark, tmp_path, "bm25_topk", ["documents"])
    qids = {r[0] for r in out}
    # only q1's terms (spark/join) exist in the corpus; q2 and q3
    # match nothing and are absent entirely
    assert qids == {"q1"}
    # doc 1 (tf-heavy) outranks doc 2 for q1
    q1 = sorted([r for r in out if r[0] == "q1"], key=lambda r: r[2])
    assert [r[1] for r in q1][:2] == [1, 2]


def _write_docs(tmp_path, rows):
    pq.write_table(
        pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows]),
            "lang": pa.array(["en"] * len(rows)),
            "source": pa.array(["s0"] * len(rows)),
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }),
        tmp_path / "documents.parquet",
    )


def test_winnowing_guarantee_and_sensitivity(spark, tmp_path):
    """The winnowing contract (SIGMOD'03 §2): identical documents select
    identical fingerprint sets; a single-token perturbation changes the
    selection; short docs (fewer shingles than the window) still emit
    at least one fingerprint; and the density bound caps n_fps at the
    number of windows."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base),                                   # exact dup
        (3, base.replace("lazy", "sleepy")),         # 1-token edit
        (4, "tiny doc"),                             # < w shingles
    ]
    _write_docs(tmp_path, rows)
    out = _run_both(spark, tmp_path, "winnowing", ["documents"])
    by_id = {r[0]: (r[1], r[2]) for r in out}
    assert by_id[1] == by_id[2]
    assert by_id[1] != by_id[3]
    assert by_id[4][0] >= 1
    n_tokens = len(base.split())
    n_windows = max(n_tokens - 3 + 1 - 4, 0) + 1  # shingles - w + 1
    assert by_id[1][0] <= n_windows


def test_char_entropy_newline_and_empty_parity(spark, tmp_path):
    """Newline-terminated text: Java's $ would fuse the final char with
    a trailing newline ('abc\\n' -> 3 chars) while DuckDB splits 4 —
    the split regex must use \\z.  Empty text yields one '' char row
    (entropy 0) on both engines."""
    rows = [
        (1, "abc\n"),
        (2, "line one\nline two\n"),
        (3, ""),
        (4, "normal text"),
    ]
    _write_docs(tmp_path, rows)
    out = _run_both(spark, tmp_path, "char_entropy", ["documents"])
    by_id = {r[0]: r for r in out}
    assert by_id[1][1] == 4  # n_chars counts the newline separately
    assert by_id[3][1] == 1 and by_id[3][3] == 0.0  # '' -> one char row


def test_winnowing_checksum_no_overflow(spark, tmp_path):
    """A ~30k-token document selects enough ~2^52 fingerprint codes
    that a plain int64 sum would wrap on Spark and error in DuckDB's
    CAST(list_sum(...)); the modular fold must agree cross-engine and
    stay in [0, 2^61)."""
    big = " ".join(str(i % 509) for i in range(30000))
    _write_docs(tmp_path, [(1, big), (2, "small doc here")])
    out = _run_both(spark, tmp_path, "winnowing", ["documents"])
    by_id = {r[0]: r for r in out}
    assert by_id[1][1] > 2000  # plenty of fingerprints selected
    assert 0 <= by_id[1][2] < (1 << 61)


def test_pq_short_vector_parity(spark, tmp_path):
    """A malformed short vector (fewer than dim components) among both
    the codebook seeds and the query set: Spark pads the cross-dot
    with zeros, and the oracle must pad identically — an unpadded
    list_dot_product raises 'list dimensions must be equal' in DuckDB
    instead of matching."""
    import random

    rng = random.Random(7)
    vecs = [(i, [round(rng.uniform(-1, 1), 3) for _ in range(64)]) for i in range(30)]
    vecs[2] = (2, [0.5, -0.5, 0.25])          # short vector in codebook + queries
    vecs[25] = (25, [1.0] * 10)               # short corpus vector
    pq.write_table(
        pa.table({"vec_id": pa.array([v[0] for v in vecs], pa.int64()),
                  "embedding": pa.array([v[1] for v in vecs], pa.list_(pa.float32()))}),
        tmp_path / "embeddings.parquet",
    )
    for entry in ("pq_quantize", "pq_adc_topk"):
        out = _run_both(spark, tmp_path, entry, ["embeddings"])
        assert len(out) > 0, entry


def test_hourly_profiles_null_ts(spark, tmp_path):
    """An event with a NULL ``ts`` has no hour of day: the hourly
    profiles drop it (as the old 24-column pivot did) instead of
    raising [NULL_MAP_KEY] in ``map_from_entries``, and the DuckDB
    twins that build the same hour map agree."""
    import datetime as dt

    from aprs2influxdb_spark.queries import hourly_profiles

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    for u in range(7):
        for k in range(3):
            rows.append((len(rows), t0 + dt.timedelta(hours=u + 5 * k), u, "view", float(u + k + 1)))
    rows.append((len(rows), None, 0, "view", 100.0))   # beside real hours
    rows.append((len(rows), None, 7, "view", 9.0))     # a user with no hour at all
    _write_events(tmp_path, rows)
    prof = {r["user_id"]: r["profile"] for r in hourly_profiles(spark, str(tmp_path)).collect()}
    assert sorted(prof) == list(range(7))
    assert [h for h, v in enumerate(prof[0]) if v] == [0, 5, 10]
    assert prof[0][0] == 1.0
    for entry in ("ts_similarity", "sax_symbols", "ts_dtw_topk"):
        out = _run_both(spark, tmp_path, entry, ["events"])
        assert len(out) > 0, entry
