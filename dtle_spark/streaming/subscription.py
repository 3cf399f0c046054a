"""Subscription job: the reference's third job type — stream the
change log to Kafka as Debezium envelopes instead of applying it to a
table (reference: driver/kafka/kafka3.go; created through the same
/v2 job API as migration/sync, api/handler/v2/job.go:1222-1235).

Spark restatement: readStream over the wire source → per-table typed
parse with the evolving catalog schema (DDL barriers planned by
pipeline.plan_tables, as for replication) → sinks/debezium.envelope
(+ tombstones) and schema_change_frames for DDL → frames appended to a
log-structured parquet topic dir, partitioned by topic. The real Kafka
producer remains the one seam (sinks/debezium.write_kafka_stream needs
the spark-sql-kafka jars, absent locally); everything the reference
computes between "binlog entry" and "ProducerRecord" — topic routing,
key/value JSON, type encodings, tombstones, schema-change topic, gtid
position — is produced here and golden-tested against kafka2/
kafka3_test.go vectors in tests/test_sinks.py.

Frames commit append-only per micro-batch with the batch id as the
watermark (same replay-idempotence protocol as corpus ingest): Kafka
produce is at-least-once in the reference too — consumers dedupe by
(topic, key, source.gno)."""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dtle_spark.catalog import SchemaCatalog
from dtle_spark.model import JobConfig
from dtle_spark.operators.filters import table_filter
from dtle_spark.sinks.debezium import envelope, schema_change_frames
from dtle_spark.sinks.table_sink import ParquetTableTarget
from dtle_spark.streaming.pipeline import (
    BatchSummary,
    TablePlan,
    WireStreamJob,
    checked_dml,
    plan_tables,
    segment_rows,
)

_WM_KEY = "__frames_batch"
FRAMES_SCHEMA_NAME = "kafka"
FRAMES_TABLE_NAME = "frames"


def default_image_fields(schema) -> list:
    """Identity projection: one envelope field per catalog column.
    Callers needing Debezium's special encodings (decimal bytes, epoch
    days, bit LE…) pass a custom list built from sinks/debezium
    encoders — the golden-tested per-type mapping."""
    return [
        (f.name, (lambda name: lambda which: F.col(which).getField(name))(f.name))
        for f in schema.fields
    ]


class SubscriptionJob(WireStreamJob):
    """Change stream → Debezium frames, on the lifecycle and the DDL
    planner replication uses."""

    _ckpt_sub = "frames"

    def __init__(
        self,
        spark: SparkSession,
        job: JobConfig,
        source_dir: str,
        output_root: str,
        checkpoint_dir: str,
        catalog: SchemaCatalog,
        topic_prefix: str = "dtle",
        max_files_per_trigger: int = 10,
    ):
        super().__init__(spark, job, source_dir, checkpoint_dir, catalog, max_files_per_trigger)
        self.topic_prefix = topic_prefix
        self.target = ParquetTableTarget(output_root)

    # -- batch core ------------------------------------------------------

    def _catalog_batch(self) -> int:
        """The batch id whose DDL effects catalog.json has folded in
        (stored INSIDE the snapshot so catalog state and marker commit
        atomically — a sidecar file would reopen the crash window)."""
        import json

        try:
            with open(self.catalog_path) as f:
                return int(json.load(f).get(_WM_KEY, -1))
        except (OSError, ValueError):
            return -1

    def _plan(self, batch: DataFrame, batch_id: int) -> tuple[list[TablePlan], SchemaCatalog]:
        """The batch's table plans (pipeline.plan_tables) and the catalog
        COPY they evolved. Copy-and-swap: the envelopes need the
        EVOLVING schema, but an in-process retry of a failed batch must
        re-derive from the pristine catalog, not replay DDL onto an
        already-evolved one (duplicate fields)."""
        cat = self.catalog.copy()
        return plan_tables(self.job, cat, BatchSummary.of(batch), False, batch_id), cat

    def _commit_catalog(self, plans: list[TablePlan], cat: SchemaCatalog, batch_id: int) -> None:
        """Snapshot the evolved COPY first, then swap it in: a failed
        save leaves the in-memory catalog pristine for the retry."""
        if any(p.has_ddl for p in plans):
            cat.save(self.catalog_path, extra={_WM_KEY: int(batch_id)})
            self.catalog.restore_from(cat)

    def _table_frames(self, batch: DataFrame, plan: TablePlan) -> DataFrame:
        """One table's frames: each segment's envelopes, built with the
        schema and unique key current for it (rows after an ALTER carry
        the new columns), then its schema-change frames."""
        dml = checked_dml(batch, plan)
        parts = [
            envelope(
                segment_rows(dml, seg),
                seg.key or [seg.schema.fields[0].name],
                default_image_fields(seg.schema),
                topic_prefix=self.topic_prefix,
                carry_order=True,
            )
            for seg in plan.segments
        ]
        if plan.has_ddl:
            rows = table_filter(batch, plan.cfg.schema_name, plan.cfg.table_name)
            parts.append(
                schema_change_frames(rows, topic_prefix=self.topic_prefix, carry_order=True)
            )
        return reduce(DataFrame.unionByName, parts)

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        wm = self.target.seq_watermark(FRAMES_SCHEMA_NAME, FRAMES_TABLE_NAME)
        if wm.get(_WM_KEY, -1) >= batch_id:
            # frames already committed; the catalog snapshot may still
            # be missing this batch's DDL (crash between the two)
            if self._catalog_batch() < batch_id:
                self._commit_catalog(*self._plan(batch, batch_id), batch_id)
            return
        plans, cat = self._plan(batch, batch_id)
        if plans:
            frames = reduce(
                DataFrame.unionByName, [self._table_frames(batch, p) for p in plans]
            )
            # (__batch, __seq, __sub) is the producer drain's total
            # order — __batch alone left same-key frames to a non-stable
            # sort (delete before its insert -> compaction resurrects
            # the key)
            self.target.append(
                frames.withColumn("__batch", F.lit(batch_id)),
                FRAMES_SCHEMA_NAME, FRAMES_TABLE_NAME,
                seq_watermark={_WM_KEY: batch_id},
            )
        # AFTER the frames commit: a crash before the append leaves both
        # watermark and snapshot un-advanced (clean replay); a crash
        # between append and the save is repaired by the marker check
        # on replay
        self._commit_catalog(plans, cat, batch_id)

    # -- lifecycle: start/pause/resume from StreamJob --------------------

    def position(self) -> dict:
        """Stream position for the /v2 position route: last committed
        frames batch (the replay watermark) + source offsets."""
        wm = self.target.seq_watermark(FRAMES_SCHEMA_NAME, FRAMES_TABLE_NAME)
        return {"frames_batch": wm.get(_WM_KEY, -1), **self._progress()}

    def frames(self) -> DataFrame | None:
        """The produced topic log (topic, key, value, __batch)."""
        return self.target.read(self.spark, FRAMES_SCHEMA_NAME, FRAMES_TABLE_NAME)

    def finish(self, target_gtid: str | None = None,
               poll_seconds: float = 0.5) -> None:
        """Graceful finish for a subscription: drain everything the
        source currently has into frames, then stop. There is no
        applied-GTID set to watch (frames are the output), so the
        frontier is "source exhausted now" — target_gtid is accepted
        for route parity and ignored."""
        if not self.active:
            # a paused job still honors the drain-then-stop contract:
            # resume, drain, stop (finished must not mean "whatever
            # happened to be published when someone paused")
            self.start()
        self.query.processAllAvailable()
        self.query.stop()
        self.query = None
        self.finished = True

    def wait_finished(self, timeout: float = 30.0) -> bool:
        return bool(getattr(self, "finished", False))

    def table_versions(self) -> dict[str, list[int]]:
        """Retained commit versions of the frames log (manager
        versions route parity with ReplicationJob)."""
        key = f"{FRAMES_SCHEMA_NAME}.{FRAMES_TABLE_NAME}"
        return {key: self.target.versions(FRAMES_SCHEMA_NAME, FRAMES_TABLE_NAME)}

    def stats(self) -> dict:
        # "job_type" predates the common "type" key; the HTTP response
        # keeps both
        out = {"type": "subscription", "active": self.active,
               "job_type": "subscription"}
        if getattr(self, "finished", False):
            out["job_status"] = "target_gtid_finished"
        # from the parquet footers: stats() backs every GET of the job,
        # and a count() would scan the whole log each time
        out["frames"] = self.target.stored_rows(FRAMES_SCHEMA_NAME, FRAMES_TABLE_NAME)
        return out
