"""Daemon CLI (SURVEY.md §2.8 O1/O2, §2.7 K3).

Reference: nine argparse options parsed at import time
(``aprs2influxdb/__main__.py:14-27``), an hourly rotating log with five
backups + stdout (``:1124-1150``), and a two-thread topology — heartbeat
+ consumer — started from ``main()`` (``:1199-1206``).

Engine: same nine options with the same defaults, the same rotating-log
shape, and the thread topology subsumed by Structured Streaming — one
streaming query runs the packet pipeline (source → decode →
broadcast-dim calibration → line protocol → InfluxDB sink) and the heartbeat timer
lives inside the source connector where keep-alive belongs (§3.3).
Like the reference, a failed APRS-IS login does not exit — the
connector retries forever (``immortal``, ``:1098``, ``:1187-1196``).

Arguments parse in ``main()``, not at import (the reference's
import-time parse is a quirk not worth preserving — it breaks embedding
and testing).
"""

from __future__ import annotations

import argparse
import logging
import os
import sys
from logging.handlers import TimedRotatingFileHandler

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from aprs2influxdb_spark.session import get_spark
from aprs2influxdb_spark.sinks.influxdb import influxdb_sink_broadcast_calibrated
from aprs2influxdb_spark.sources.aprsis import decode_frames, register


def build_parser() -> argparse.ArgumentParser:
    """The reference's nine options, same names and defaults (:16-25)."""
    p = argparse.ArgumentParser(
        description="Connects to APRS-IS and saves stream to local InfluxDB"
    )
    p.add_argument("--dbhost", help="Set InfluxDB host", default="localhost")
    p.add_argument("--dbport", help="Set InfluxDB port", default="8086")
    p.add_argument("--dbuser", help="Set InfluxDB user", default="root")
    p.add_argument("--dbpassword", help="Set InfluxDB password", default="root")
    p.add_argument("--dbname", help="Set InfluxDB database name", default="mydb")
    p.add_argument("--callsign", help="Set APRS-IS login callsign", default="nocall")
    p.add_argument("--port", help="Set APRS-IS port", default="10152")
    p.add_argument("--interval", help="Set APRS-IS heartbeat interval in minutes", default="15")
    p.add_argument("--debug", help="Set logging level to DEBUG", action="store_true")
    # engine extension (the reference has no checkpointing at all):
    # distinct daemons need distinct checkpoints, and /tmp is volatile
    p.add_argument(
        "--checkpoint",
        help="Streaming checkpoint directory (state + offsets survive restarts)",
        default="./aprs2influxdb_spark_ckpt",
    )
    # engine extension: the analytics surface from the same entry point
    # (the reference delegated all querying to InfluxDB/Grafana) — run
    # any registry query against a table directory instead of starting
    # the daemon
    p.add_argument("--query", help="Run a named analytics query and exit", default=None)
    p.add_argument(
        "--sf-dir",
        help=(
            "Table directory for --query (parquet tables); defaults to "
            "$SPARK_GRAFT_SF_DIR, else the current directory"
        ),
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "."),
    )
    p.add_argument(
        "--list-queries", help="List available query names and exit", action="store_true"
    )
    return p


def run_query(name: str, sf_dir: str, spark: SparkSession | None = None) -> int:
    """Execute one registry query and print rows as JSON lines; returns
    a process exit code.  Programmatic callers pass their own session."""
    import json

    from aprs2influxdb_spark.queries import registry

    reg = registry()
    if name not in reg:
        print(f"unknown query {name!r}; use --list-queries", file=sys.stderr)
        return 2
    spark = spark or get_spark("aprs2influxdb-query")
    for row in reg[name][0](spark, sf_dir).collect():
        print(json.dumps(row.asDict(), default=str))
    return 0


def create_log(path: str, debug: bool = False) -> logging.Logger:
    """K3: hourly rotating file (5 backups) + stdout, WARNING default
    (:1124-1150)."""
    logger = logging.getLogger("aprs2influxdb_spark")
    handler = TimedRotatingFileHandler(path, when="h", interval=1, backupCount=5)
    logger.addHandler(handler)
    logger.addHandler(logging.StreamHandler(sys.stdout))
    logger.setLevel(logging.DEBUG if debug else logging.WARNING)
    return logger


def start_daemon(
    spark: SparkSession, args: argparse.Namespace, raw: DataFrame | None = None
) -> StreamingQuery:
    """Start the daemon's one streaming query: source → ``decode_frames``
    → ``influxdb_sink_broadcast_calibrated`` (per-batch broadcast
    equations dim, line protocol, POST to ``--dbhost:--dbport``).
    Equations take effect at the next micro-batch — the reference's own
    granularity is coarser still (its dictionary applies at whatever
    packet arrives after the eqns message).

    ``raw`` overrides the live APRS-IS source with any (raw, ingest_ts)
    stream (file/memory source in tests) — the rest of the pipeline is
    identical either way.
    """
    if raw is None:
        register(spark)
        raw = (
            spark.readStream.format("aprsis")
            .option("callsign", args.callsign)
            .option("port", args.port)
            .option("heartbeat_seconds", float(args.interval) * 60)
            .load()
        )
    return influxdb_sink_broadcast_calibrated(
        decode_frames(raw),
        checkpoint=args.checkpoint,
        url=f"http://{args.dbhost}:{args.dbport}",
        db=args.dbname,
        user=args.dbuser,
        password=args.dbpassword,
    )


def main(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)
    if args.list_queries:
        from aprs2influxdb_spark.queries import registry

        for name in sorted(registry()):
            print(name)
        return
    if args.query:
        sys.exit(run_query(args.query, args.sf_dir))
    logger = create_log(f"{sys.prefix}/aprs2influxdb.log", args.debug)
    logger.warning("starting aprs2influxdb_spark daemon")
    start_daemon(get_spark("aprs2influxdb-daemon"), args).awaitTermination()


if __name__ == "__main__":
    main()
