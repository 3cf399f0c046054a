"""Kafka sink: Debezium-style change envelopes (reference K2/K3).

The reference emits one JSON envelope per row change —
{schema, payload: {before, after, source, op: c/u/d, ts_ms}} — keyed by
the PK row, to topic ``<prefix>.<schema>.<table>``
(/root/reference/driver/kafka/kafka3.go:684-865 snapshot, :867-1063 DML;
envelope builders kafka/kafka2.go:135-331; TopicWithSchemaTable default
driver/driver.go:181-183).

Spark restatement: column expressions build (key, value, topic) string
columns; ``writeStream.format("kafka")`` ships them (kafka jars absent
locally — the frame contract is tested, the transport is config).

Type encodings (K3, kafka2.go:339-601):
- DATE        -> epoch days            (``encode_date_epoch_days``)
- DATETIME    -> epoch millis          (``encode_datetime_millis``)
- TIME        -> signed micros int64   (``encode_time_micros``)
- DECIMAL     -> base64 big-endian unscaled bytes (``encode_decimal_bytes``)
- BINARY      -> base64
- op mapping  -> i/u/d -> c/u/d; snapshot rows are op=c + snapshot:true
"""

from __future__ import annotations

import base64

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dtle_spark.model import OP_DELETE, OP_INSERT, OP_UPDATE

SOURCE_NAME = "dtle_spark"


def op_code(op_col: Column) -> Column:
    """DML op -> Debezium op code (kafka2.go insert/update/delete consts)."""
    return (
        F.when(op_col == OP_INSERT, F.lit("c"))
        .when(op_col == OP_UPDATE, F.lit("u"))
        .when(op_col == OP_DELETE, F.lit("d"))
    )


def encode_date_epoch_days(col: Column) -> Column:
    """DATE -> int32 epoch days (kafka2.go:456-492 Date schema)."""
    return F.datediff(col.cast("date"), F.lit("1970-01-01").cast("date"))


def encode_datetime_millis(col: Column) -> Column:
    """DATETIME -> int64 epoch millis (kafka2.go Timestamp schema)."""
    return (F.unix_micros(col) / 1000).cast("long")


def encode_time_micros(hours: Column, minutes: Column, seconds: Column, micros: Column, negative: Column) -> Column:
    """MySQL TIME (signed interval!) -> signed int64 microseconds
    (kafka2.go:397-454 — the reference emits negative values for
    negative intervals; Spark has no TIME type so components come in
    as columns)."""
    total = ((hours * 3600 + minutes * 60 + seconds) * 1_000_000 + micros).cast("long")
    return F.when(negative, -total).otherwise(total)


@F.pandas_udf(T.StringType())
def encode_decimal_bytes(unscaled: pd.Series) -> pd.Series:
    """DECIMAL -> base64(big-endian two's-complement unscaled bytes)
    (kafka2.go:339-381). Input is the unscaled integer (value * 10^scale).
    Arrow-batched: the wire encoding is the one spot where Python is
    justified — it is not in any scan/join hot path."""

    def enc(v) -> str | None:
        if v is None or pd.isna(v):
            return None
        v = int(v)
        length = max(1, (v.bit_length() + 8) // 8)  # room for sign bit
        return base64.b64encode(v.to_bytes(length, "big", signed=True)).decode()

    return unscaled.map(enc)


def encode_binary_padded(col_name: str, n: int) -> Column:
    """Fixed BINARY(n) -> base64 of the value zero-PADDED to n bytes
    (kafka3.go getBinaryValue; golden kafka3_test.go: binary(16) of ""
    -> 16 zero bytes -> "AAAAAAAAAAAAAAAAAAAAAA=="). MySQL stores
    BINARY(n) right-padded with 0x00; the binlog may strip the pad, so
    the sink restores it. Takes the column NAME (SQL rpad on BINARY)."""
    return F.expr(f"base64(rpad(cast({col_name} as binary), {n}, X'00'))")


def encode_bit_le(value_col: Column, n_bits: int) -> Column:
    """BIT(n) integer value -> base64(little-endian ceil(n/8) bytes)
    (kafka3.go getBitValue; goldens kafka3_test.go: bit(8) 9 -> "CQ==",
    bit(16) 9 -> "CQA=", bit(59) 19 -> "EwAAAAAAAAA="). Built from
    per-byte hex pairs LSB-first — pure Column expressions, no UDF."""
    n_bytes = (n_bits + 7) // 8
    pairs = [
        F.lpad(F.hex(value_col.bitwiseAND(F.lit(255)) if i == 0
                      else F.shiftright(value_col, 8 * i).bitwiseAND(F.lit(255))), 2, "0")
        for i in range(n_bytes)
    ]
    return F.base64(F.unhex(F.concat(*pairs)))


def envelope(
    changes: DataFrame,
    pk_cols: list[str],
    image_fields: list[tuple[str, Column]],
    topic_prefix: str = "dtle",
    snapshot: bool = False,
    tombstones: bool = True,
    carry_order: bool = False,
) -> DataFrame:
    """Build (topic, key, value) Kafka frames from a change stream.

    ``image_fields`` is the encoded projection applied to both images:
    [(field_name, builder(prefix) -> Column)] where the builder receives
    "before"/"after". Key = PK fields of the surviving image. Envelope
    nulls are kept (ignoreNullFields=false) to match Debezium's explicit
    before:null / after:null.

    Every delete additionally emits a **tombstone** frame — same key,
    null value — so log-compacted topics purge the key (the reference
    sends the same second message, kafka3.go:1021-1036). ``ts_ms`` is
    epoch milliseconds from the change's ``ts`` column (the reference
    stamps CurrentTimeMillis, kafka3.go:989 — wall clock is
    nondeterministic, so we use the event time); rows without a ts fall
    back to ``seq`` so the field stays monotone per key."""
    img = lambda which: F.when(  # noqa: E731
        F.col(which).isNotNull(),
        F.struct(*[b(which).alias(n) for n, b in image_fields]),
    ).otherwise(F.lit(None))

    key_src = F.coalesce(F.col("after"), F.col("before"))
    key = F.to_json(F.struct(*[key_src.getField(k).alias(k) for k in pk_cols]))
    source = F.struct(
        F.lit(SOURCE_NAME).alias("name"),
        F.col("schema_name").alias("db"),
        F.col("table_name").alias("table"),
        F.lit(snapshot).alias("snapshot"),
        F.col("sid").alias("server_id"),
        F.col("gno").alias("gno"),
    )
    value = F.to_json(
        F.struct(
            img("before").alias("before"),
            img("after").alias("after"),
            source.alias("source"),
            (F.lit("c") if snapshot else op_code(F.col("op"))).alias("op"),
            F.coalesce(F.unix_millis(F.col("ts")), F.col("seq")).alias("ts_ms"),
        ),
        {"ignoreNullFields": "false"},
    )
    topic = F.concat_ws(".", F.lit(topic_prefix), F.col("schema_name"), F.col("table_name"))
    # carry_order appends (__seq, __sub): the change's seq plus the
    # intra-explode ordinal (tombstone AFTER its delete envelope) — the
    # total order a producer drain needs. frames are otherwise
    # (topic, key, value) only, and orderBy(__batch) alone would let a
    # non-stable sort send same-key frames out of order (insert after
    # delete -> log compaction resurrects the key).
    if tombstones and not snapshot:
        # single-pass: a delete explodes into [envelope, tombstone]
        # instead of a second union branch (which would re-scan the
        # whole change stream — measured 3x the envelope cost)
        vals = F.when(
            F.col("op") == OP_DELETE,
            F.array(value, F.lit(None).cast("string")),
        ).otherwise(F.array(value))
        base = changes.filter(F.col("op") != "ddl")
        if carry_order:
            return base.select(
                topic.alias("topic"), key.alias("key"),
                F.col("seq").alias("__seq"),
                F.posexplode(vals).alias("__sub", "value"),
            ).select("topic", "key", "value", "__seq", "__sub")
        return base.select(
            topic.alias("topic"), key.alias("key"), F.explode(vals).alias("value")
        )
    out = changes.filter(F.col("op") != "ddl").select(
        topic.alias("topic"), key.alias("key"), value.alias("value"),
        *([F.col("seq").alias("__seq"), F.lit(0).alias("__sub")] if carry_order else []),
    )
    return out


def schema_change_frames(
    changes: DataFrame,
    topic_prefix: str = "dtle",
    gtid_col: str | None = None,
    carry_order: bool = False,
) -> DataFrame:
    """Schema-change-topic frames for DDL events — the reference routes
    every NotDML query to ``schema-changes.<topic>`` as a Debezium
    HistoryRecord-shaped payload with a JSON ``null`` key
    (kafka3.go:292-293 default topic, :897-915 payload build,
    kafka/ddl.go:42-51 field names). Field mapping onto the lake wire:
    ``ts_sec`` = event-time seconds, ``pos`` = the stream seq (no binlog
    file offset on a lake source — ``file`` stays empty, as in the
    reference's TODO'd snapshot path), ``gtids`` = "sid:gno" from the
    change row unless a precomputed ``gtid_col`` is given.

    Emits one frame per DDL in stream order; key is the literal JSON
    null (log compaction must NOT collapse schema history)."""
    gtids = (
        F.col(gtid_col)
        if gtid_col
        else F.concat_ws(":", F.col("sid"), F.col("gno").cast("string"))
    )
    value = F.to_json(
        F.struct(
            F.struct(F.lit(SOURCE_NAME).alias("server")).alias("source"),
            F.struct(
                F.coalesce(
                    (F.unix_millis(F.col("ts")) / 1000).cast("long"), F.lit(0)
                ).alias("ts_sec"),
                F.lit("").alias("file"),
                F.col("seq").alias("pos"),
                gtids.alias("gtids"),
            ).alias("position"),
            F.col("schema_name").alias("databaseName"),
            F.col("query").alias("ddl"),
            F.lit(None).cast("string").alias("tableChanges"),
        ),
        {"ignoreNullFields": "false"},
    )
    return changes.filter(F.col("op") == "ddl").select(
        F.concat_ws(".", F.lit("schema-changes"), F.lit(topic_prefix)).alias("topic"),
        F.lit("null").alias("key"),
        value.alias("value"),
        *([F.col("seq").alias("__seq"), F.lit(0).alias("__sub")]
          if carry_order else []),
    )


def write_kafka_stream(frames: DataFrame, bootstrap: str, checkpoint: str):
    """Ship envelope frames to Kafka (requires spark-sql-kafka jars on
    the cluster; locally unavailable — kept behind this seam)."""
    return (
        frames.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("checkpointLocation", checkpoint)
        .start()
    )


#: A9-style bound for the driver-collected producer lane (the jar-less
#: sibling of write_kafka_stream) — same rationale as
#: sinks/mysql_sink.MAX_WIRE_BATCH_ROWS.
MAX_PRODUCE_BATCH_ROWS = 100_000


def produce_frames(
    frames: DataFrame,
    producer,
    order_cols: tuple[str, ...] = ("__batch", "__seq", "__sub"),
    max_rows: int = MAX_PRODUCE_BATCH_ROWS,
) -> int:
    """foreachBatch drain for a client-library Kafka producer: send
    each (topic, key, value) frame through ``producer.send(topic,
    value=bytes, key=bytes)`` and ``flush()`` at the batch end —
    kafka-python's public surface, so the contract harness drives the
    SAME loop with a recording fake (the reference's applier waits on
    delivery per message group, kafka3.go:684-1063; flush is that
    barrier). Tombstones (value NULL) pass through as value=None —
    Kafka log-compaction deletes. Driver-side by design like the MySQL
    lane (ONE ordered producer per job), bounded by ``max_rows`` and
    failing loud above it. Returns frames sent.

    Ordering is a correctness property (a delete draining before its
    insert resurrects the key under compaction), so missing
    ``order_cols`` raise rather than silently degrading to partition
    order; pass ``order_cols=()`` to opt out explicitly (pre-ordered
    or orderless frames)."""
    missing = [c for c in order_cols if c not in frames.columns]
    if missing:
        raise ValueError(
            f"frames lack producer order column(s) {missing}; build "
            f"them with carry_order=True (envelope/schema_change_"
            f"frames) or pass order_cols=() to send unordered"
        )
    ordered = frames.orderBy(*order_cols) if order_cols else frames
    rows = ordered.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise RuntimeError(
            f"producer micro-batch exceeds the flow-control bound "
            f"({max_rows} rows); tighten the trigger bounds for the "
            f"Kafka lane"
        )
    for r in rows:
        key = None if r["key"] is None else r["key"].encode("utf-8")
        val = None if r["value"] is None else r["value"].encode("utf-8")
        producer.send(r["topic"], value=val, key=key)
    producer.flush()
    return len(rows)


def kafka_producer(bootstrap: str):
    """Construct the live kafka-python producer (absent in this image;
    the contract harness passes its own recording producer to
    produce_frames instead)."""
    try:
        from kafka import KafkaProducer
    except ImportError as e:
        raise NotImplementedError(
            "kafka-python not installed; pass a producer with the same "
            "send/flush surface to produce_frames"
        ) from e
    return KafkaProducer(bootstrap_servers=bootstrap)


def encode_enum_label(index_col: Column, labels: list[str]) -> Column:
    """ENUM index (1-based; 0 = invalid/empty) -> label string
    (kafka3.go:1110-1120 semantics)."""
    expr = F.when(index_col <= 0, F.lit(""))
    for i, label in enumerate(labels, start=1):
        expr = expr.when(index_col == i, F.lit(label))
    return expr.otherwise(F.lit(None))


def encode_set_csv(mask_col: Column, labels: list[str]) -> Column:
    """SET bitmask -> comma-joined member labels (kafka3.go:1176-1191)."""
    members = [
        F.when((mask_col.bitwiseAND(F.lit(1 << i))) != 0, F.lit(label)).otherwise(F.lit(None))
        for i, label in enumerate(labels)
    ]
    return F.concat_ws(",", *members)


def encode_bit_reversed(col_name: str) -> Column:
    """BIT(n>1) -> reversed byte order (kafka3.go:1208-1226: the wire
    carries little-endian byte order of the bit value). Spark has no
    binary reverse; rebuilt from the hex pairs back-to-front. Takes the
    column NAME (SQL-expression based)."""
    c = col_name
    return F.expr(
        f"unhex(aggregate(sequence(CAST(length({c}) AS INT), 1, -1), '', "
        f"(acc, i) -> concat(acc, substr(hex({c}), (i - 1) * 2 + 1, 2))))"
    )
