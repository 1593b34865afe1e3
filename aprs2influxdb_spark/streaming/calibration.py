"""Streaming calibration state (SURVEY.md §2.6 J1/J2, streaming form).

The reference's ``telemetryDictionary`` is per-callsign last-write-wins
state consulted at packet arrival (:115, :993).  Streaming twin: a
driver-held compacted equations dim (``BroadcastCalibrator``) that

- absorbs ``telemetry-message`` rows into the dim (J2) and emits
  nothing for them (:1058 no-emit guard),
- emits every data row with the equations in effect at its batch's
  start (J1), identity semantics preserved by emitting null eqns
  (downstream ``coalesce`` applies a=0, b=1, c=0, :117-125).

Equation rows inside a micro-batch are compacted in the batch as-of
window's (``ingest_ts``, ``raw``) order — the engine's deterministic
refinement of the reference's single-thread arrival order (SURVEY §3.2
divergence note).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from aprs2influxdb_spark.schema import PACKET_SCHEMA

# output = full packet schema + effective eqns as JSON (telemetry-
# message rows are absorbed, so tEQNS is all-null downstream)
_OUT_COLS = PACKET_SCHEMA.fieldNames() + ["eqns_json"]


class BroadcastCalibrator:
    """A driver-held compacted equations dim, refreshed per micro-batch
    and broadcast-joined onto the data rows inside ``foreachBatch`` —
    no keyed state operator, no state-store shuffle.  The fit for the
    reference's world: thousands of callsigns, ≤15 doubles each.

    Semantics: equations take effect at the NEXT micro-batch — the dim
    is applied as-of batch START, then updated from the batch's
    telemetry-message rows (last-write-wins in the batch-window as-of
    order).  A data row that shares a micro-batch with its sender's
    new equations is emitted with the previous ones; across batches
    the result equals the batch as-of window
    (``operators.calibration.with_effective_equations``).

    Scale boundary: the dim must stay broadcast-sized (O(#keys) — at
    ~9k keys it is ~1 MB)."""

    def __init__(self, spark) -> None:
        self._spark = spark
        self._dim: dict[str, str] = {}

    def apply(self, batch_df: DataFrame, batch_id: int = 0) -> DataFrame:
        from pyspark.sql import functions as F

        spark = self._spark
        # 1. data rows join the dim as of batch start (broadcast)
        if self._dim:
            dim_df = spark.createDataFrame(
                list(self._dim.items()), "from_call string, eqns_json string"
            )
        else:
            dim_df = spark.createDataFrame([], "from_call string, eqns_json string")
        out = (
            batch_df.filter(F.col("format") != "telemetry-message")
            .join(F.broadcast(dim_df), "from_call", "left")
            .select(*_OUT_COLS)
        )
        # 2. refresh the dim from the batch's equation rows: tiny
        # (O(#senders with new equations)), compacted by the same
        # (ingest_ts, raw) as-of order the batch window uses
        upd = (
            batch_df.filter(
                (F.col("format") == "telemetry-message") & F.col("tEQNS").isNotNull()
            )
            .groupBy("from_call")
            .agg(
                F.max_by(
                    F.to_json("tEQNS"), F.struct("ingest_ts", "raw")
                ).alias("eqns_json")
            )
            .collect()
        )
        for r in upd:
            if r["eqns_json"] is not None and r["eqns_json"] != "[]":
                self._dim[r["from_call"]] = r["eqns_json"]
        return out
