"""CDC ingest bridges (reference S6/S7): how binlog events become the
wire-form change stream the engine consumes.

Binlog parsing is outside Spark (BASELINE.json notes this explicitly);
the reference runs a go-mysql BinlogSyncer in-process. The Spark-native
topology is a small bridge process that publishes wire-form records
(streaming/wire.py schema) to a staging directory, and the engine's
``readStream`` picks them up. The bridges:

- FileBridge: append wire-form parquet files to a dir — the relay-log
  analogue (S7); used by every streaming test.
- MySQLBinlogBridge (import-gated): the python-mysql-replication
  BinlogStreamReader loop -> wire rows; the lib isn't in this
  environment, so construction raises with instructions.
- OracleLogMinerBridge (S8): v$logmnr_contents rows polled by SCN
  window -> wire rows.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from dtle_spark.streaming.wire import WIRE_SCHEMA, to_wire


class FileBridge:
    """Publish change batches as wire-form parquet files (relay log)."""

    def __init__(self, source_dir: str):
        self.source_dir = source_dir
        os.makedirs(source_dir, exist_ok=True)

    def publish(self, changes: DataFrame, typed: bool = True) -> str:
        """Append one batch (typed ChangeRecords by default)."""
        out = to_wire(changes) if typed else changes
        path = os.path.join(self.source_dir, f"batch-{uuid.uuid4().hex[:12]}")
        out.write.parquet(path)
        return path


def binlog_event_object_to_dict(ev) -> dict | None:
    """Adapt a binlog event OBJECT (python-mysql-replication's public
    attribute surface — the same shapes go-mysql exposes to the
    reference's handleEvent, binlog_reader.go:450-496) to the
    library-neutral event dict sources/binlog_events.py consumes.

    Duck-typed on class name + attributes so a recorded/fake stream
    with the same surface exercises the exact live code path. Unknown
    event classes (TableMapEvent, FormatDescriptionEvent, heartbeats…)
    return None — the reference skips them the same way. QueryEvent
    ``schema`` arrives as bytes on the wire; both bytes and str are
    accepted."""
    name = type(ev).__name__

    def pos():
        pkt = getattr(ev, "packet", None)
        if pkt is not None and getattr(pkt, "log_pos", None) is not None:
            return int(pkt.log_pos)
        lp = getattr(ev, "log_pos", None)
        return None if lp is None else int(lp)

    if name == "GtidEvent":
        sid, _, gno = str(ev.gtid).rpartition(":")
        return {
            "type": "gtid", "sid": sid, "gno": int(gno),
            "last_committed": int(getattr(ev, "last_committed", 0) or 0),
            "sequence_number": int(getattr(ev, "sequence_number", 0) or 0),
        }
    if name == "RotateEvent":
        return {"type": "rotate", "next_log": ev.next_binlog,
                "position": int(ev.position)}
    if name == "XidEvent":
        return {"type": "xid", "xid": int(ev.xid), "log_pos": pos()}
    if name == "QueryEvent":
        schema = ev.schema
        if isinstance(schema, (bytes, bytearray)):
            schema = schema.decode("utf-8", "replace")
        return {
            "type": "query", "schema": schema, "query": ev.query,
            "timestamp": getattr(ev, "timestamp", None), "log_pos": pos(),
        }
    if name in ("WriteRowsEvent", "UpdateRowsEvent", "DeleteRowsEvent"):
        op = {"WriteRowsEvent": "insert", "UpdateRowsEvent": "update",
              "DeleteRowsEvent": "delete"}[name]
        if op == "update":
            rows = [(r["before_values"], r["after_values"]) for r in ev.rows]
        else:
            rows = [r["values"] for r in ev.rows]
        return {
            "type": "rows", "op": op, "schema": ev.schema, "table": ev.table,
            "timestamp": getattr(ev, "timestamp", None), "log_pos": pos(),
            "rows": rows,
        }
    return None  # TableMapEvent / format / heartbeat / unknown: skip


class MySQLBinlogBridge:
    """GTID-positioned MySQL binlog tail -> wire rows (reference S6,
    binlog_reader.go:242-415).

    The TRANSLATION layer (binlog event -> wire row, GTID/seq/
    last_committed bookkeeping, DDL query entries, do/ignore table
    selection) is fully implemented in sources/binlog_events.py and
    golden-tested offline against canned event dicts — only the network
    socket needs python-mysql-replication, which is absent here, so
    ``tail()`` raises while everything else works. Deployment shape:
    run this next to the MySQL source, publish each commit's rows
    through a FileBridge (relay spool) or Kafka; the engine's
    readStream consumes the wire form.
    """

    def __init__(self, selector=None, resume_from=None):
        from dtle_spark.sources.binlog_events import BinlogEventTranslator

        self.translator = BinlogEventTranslator(selector, resume_from)

    def translate(self, events: list[dict]) -> list[dict]:
        """Canned/offline path: event dicts -> wire-row dicts."""
        return self.translator.feed_all(events)

    def position(self) -> str:
        """Executed-GTID set (the coordinates the reference keeps in
        dtle.gtid_executed_v4 and exposes over the position API)."""
        return self.translator.gtid_executed.to_str()

    def publish(self, spark: SparkSession, bridge: FileBridge, events: list[dict]) -> str | None:
        """Translate canned events and append them to a FileBridge
        spool as one wire-form batch (None when nothing committed)."""
        rows = self.translate(events)
        if not rows:
            return None
        df = spark.createDataFrame(rows, WIRE_SCHEMA)
        return bridge.publish(df, typed=False)

    def tail(
        self,
        spark: SparkSession | None = None,
        bridge: FileBridge | None = None,
        reader=None,
        connection_settings: dict | None = None,
        server_id: int = 100,
        stop_after_txs: int | None = None,
    ) -> int:
        """The socket loop (binlog event stream -> feed -> publish one
        wire batch per committed transaction). ``reader`` is any
        iterable of event OBJECTS with python-mysql-replication's
        public attribute surface (GtidEvent.gtid, QueryEvent.schema/
        query, *RowsEvent.schema/table/rows, XidEvent.xid,
        RotateEvent.next_binlog/position, .timestamp, .packet.log_pos)
        — the live path constructs a BinlogStreamReader; the transport
        contract harness (tests/test_transport_contract.py) drives the
        SAME loop with a recorded session, so a framing or ordering
        break is caught without a live MySQL (the helper/binlogcmp-
        style verification the reference used). Returns the number of
        wire batches published."""
        if reader is None:
            try:
                from pymysqlreplication import BinlogStreamReader
            except ImportError as e:
                raise NotImplementedError(
                    "python-mysql-replication not installed; deploy the bridge "
                    "next to the MySQL source and publish via FileBridge/Kafka, "
                    "or pass a recorded `reader` iterable"
                ) from e
            if spark is None or bridge is None:
                # validate BEFORE opening the replication socket — the
                # reader registers as a replica on construction and a
                # post-construction raise would leak that connection
                raise ValueError("tail() needs a SparkSession and a FileBridge")
            reader = BinlogStreamReader(
                connection_settings=connection_settings,
                server_id=server_id,
                blocking=True,
                resume_stream=True,
                auto_position=self.translator.gtid_executed.to_str() or None,
            )
        if spark is None or bridge is None:
            raise ValueError("tail() needs a SparkSession and a FileBridge")
        published = 0
        for ev in reader:
            d = binlog_event_object_to_dict(ev)
            if d is None:
                continue
            rows = self.translator.feed(d)
            if rows:
                bridge.publish(
                    spark.createDataFrame(rows, WIRE_SCHEMA), typed=False
                )
                published += 1
                if stop_after_txs is not None and published >= stop_after_txs:
                    break
        return published


class OracleLogMinerBridge:
    """Oracle redo-log source (reference S8: DBMS_LOGMNR add/start +
    v$logmnr_contents polled by SCN window, per-tx commit/rollback cache
    — log_miner.go:36-618).

    Everything except the DB socket is implemented offline:
    sources/oracle_ddl.py translates DDL redo SQL to MySQL dialect
    (S10, golden-matched to log_miner_test.go), parses DML redo SQL
    into ordinal rows, builds the V$LOGMNR_CONTENTS filter, and the
    LogMinerRecordTranslator replays the reference's per-tx
    commit/rollback cache into wire rows. Value-literal conversion
    lives in sources/oracle_values.py. Only ``tail()`` (the SCN-window
    poll loop) needs the absent oracledb client.
    """

    def __init__(self, source_id: str = "oracle-src",
                 columns: dict | None = None):
        from dtle_spark.sources.oracle_ddl import LogMinerRecordTranslator

        self.translator = LogMinerRecordTranslator(source_id, columns or {})

    def translate(self, records: list[dict]) -> list[dict]:
        """Canned/offline path: LogMiner record dicts -> wire rows."""
        return self.translator.feed_all(records)

    def publish(self, spark: SparkSession, bridge: FileBridge, records: list[dict]) -> str | None:
        rows = self.translate(records)
        if not rows:
            return None
        return bridge.publish(spark.createDataFrame(rows, WIRE_SCHEMA), typed=False)

    def tail(
        self,
        spark: SparkSession | None = None,
        bridge: FileBridge | None = None,
        windows=None,
        stop_after_batches: int | None = None,
    ) -> int:
        """The SCN-window poll loop. ``windows`` is any iterable of
        window results — each a list of row TUPLES in the reference
        poll query's column order (:data:`LOGMINER_POLL_COLUMNS`,
        log_miner.go:238-255), i.e. exactly what an oracledb
        ``cursor.fetchall()`` returns per window. The contract harness
        (tests/test_transport_contract.py) drives this loop with a
        recorded session; a live deployment feeds it
        ``cursor.fetchall()`` results from DBMS_LOGMNR windows (the
        oracledb client is absent in this image, so constructing the
        live cursor remains the one seam). Publishes one wire batch per
        window that commits rows; returns the batch count."""
        if windows is None:
            try:
                import oracledb  # noqa: F401
            except ImportError as e:
                raise NotImplementedError(
                    "oracledb client not installed; deploy the LogMiner bridge "
                    "next to the Oracle source and publish via FileBridge/Kafka "
                    "(translation: dtle_spark.sources.oracle_ddl), or pass "
                    "recorded `windows` row batches"
                ) from e
            raise NotImplementedError(
                "live DBMS_LOGMNR window construction is deployment-specific; "
                "feed cursor.fetchall() results via `windows`"
            )
        if spark is None or bridge is None:
            raise ValueError("tail() needs a SparkSession and a FileBridge")
        published = 0
        for rows in windows:
            out = self.translate(logminer_rows_to_records(rows))
            if out:
                bridge.publish(spark.createDataFrame(out, WIRE_SCHEMA), typed=False)
                published += 1
                if stop_after_batches is not None and published >= stop_after_batches:
                    break
        return published


#: The reference's V$LOGMNR_CONTENTS poll projection, in order
#: (log_miner.go:238-255) — the tuple layout logminer_rows_to_records
#: consumes and a live cursor would SELECT.
LOGMINER_POLL_COLUMNS = (
    "scn", "seg_owner", "table_name", "sql_redo", "sql_undo",
    "operation_code", "xid", "timestamp",
)


def logminer_rows_to_records(rows) -> list[dict]:
    """Adapt poll-cursor row tuples (or dicts) to the record dicts
    LogMinerRecordTranslator consumes."""
    out = []
    for r in rows:
        if isinstance(r, dict):
            out.append(r)
        else:
            out.append(dict(zip(LOGMINER_POLL_COLUMNS, r)))
    return out
