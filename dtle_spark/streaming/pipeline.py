"""Streaming replication pipeline: the reference's extractor->applier
loop as one Structured Streaming query.

Reference shape (SURVEY §3.3): binlog reader -> DataEntry stream ->
group by size/timeout -> NATS -> applier MTS workers -> MySQL.
Spark shape: ``readStream`` over ChangeRecord rows -> per-table
transform (origin filter F11/A11, Where filter F1/F3, column map F8/F9)
-> ``foreachBatch``: dedupe + per-key-latest merge into the target
table (operators/apply.py) -> checkpoint.

Guarantees (SURVEY §7 hard part (b)): each micro-batch applies
atomically per table via staged directory swap; replays after failure
are idempotent because merge is seq-versioned and re-delivery is
deduped (A10) — the streaming checkpoint plays the gtid-set role.
DDL-free batches commit cross-table atomically (A6 staged swaps), and
with ``job.tx_atomic`` the TxSpool holds back each source's frontier
tx until a later gno proves its commit — batches become tx-aligned,
upgrading the A6 swap to per-TX atomicity across tables (the
reference's guarantee, reached by inference instead of XID markers).

The transport layer the reference built on NATS (64MB segmentation,
gob+gzip, ack flow control — extractor.go:626-681) has no Spark
equivalent because Spark moves the data itself; the micro-batch
trigger is the GroupMaxSize/GroupTimeout analogue
(extractor.go:979-1058).

At scale: the target should be Delta/Iceberg (native MERGE INTO,
optimistic concurrency); the parquet directory-swap here is the
jar-free local stand-in behind the same TableSink interface.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dtle_spark.catalog import DdlAction, SchemaCatalog, parse_ddl_actions
from dtle_spark.model import JobConfig, TableConfig
from dtle_spark.operators.apply import apply_changes, apply_changes_no_pk
from dtle_spark.operators.filters import (
    apply_where_to_changes,
    origin_filter,
    table_filter,
)
from dtle_spark.operators.projection import map_changes
from dtle_spark.streaming.wire import WIRE_SCHEMA, from_wire


# Both table targets (manifest-atomic commits) live in sinks/table_sink;
# ParquetTableTarget is re-exported here for its historical import path.
from dtle_spark.sinks.table_sink import (  # noqa: E402,F401
    BucketedTableTarget,
    ParquetTableTarget,
)


class TxSpool:
    """Carry-over store for the tx-spanning-batch case (SURVEY §7 hard
    part (b), the reference's per-tx atomicity): wire-form rows of each
    source's FRONTIER transaction — the max gno seen so far, whose
    commit is not yet proven — wait here instead of applying.

    The completeness rule needs no commit marker: bridges append in log
    order per sid, so the moment any row of gno N+1 arrives, tx N is
    fully delivered (binlog events of a later tx only follow the
    earlier tx's XID). Holding exactly the frontier makes every applied
    batch tx-aligned, and the A6 staged-swap then upgrades batch
    atomicity to per-tx atomicity ACROSS tables.

    Crash safety: the spool is swapped atomically before the batch
    applies; a replayed batch unions with the spool and dedupes on
    (sid, gno, seq), so the effective row set is identical. State is
    O(one tx per source), not O(history)."""

    def __init__(self, root: str):
        self.root = root

    def read(self, spark: SparkSession) -> DataFrame | None:
        if not os.path.exists(self.root):
            return None
        return spark.read.schema(WIRE_SCHEMA).parquet(self.root)

    def write(self, df: DataFrame) -> None:
        staged = f"{self.root}.staged-{uuid.uuid4().hex[:8]}"
        df.write.mode("overwrite").parquet(staged)
        old = f"{self.root}.old-{uuid.uuid4().hex[:8]}"
        if os.path.exists(self.root):
            os.rename(self.root, old)
        os.rename(staged, self.root)
        if os.path.exists(old):
            shutil.rmtree(old)


def split_complete_txs(
    spark: SparkSession, batch: DataFrame, spool: TxSpool
) -> DataFrame:
    """Union the spool into the batch, hold back each sid's frontier
    gno, return the provably-complete remainder for application."""
    prev = spool.read(spark)
    eff = batch if prev is None else prev.unionByName(batch)
    eff = eff.dropDuplicates(["sid", "gno", "seq"]).persist()
    # bounded driver-side state: one row per source server, like the
    # reference's per-source gtid bookkeeping
    frontier = eff.groupBy("sid").agg(F.max("gno").alias("g")).collect()
    cond = F.lit(False)
    for r in frontier:
        cond = cond | ((F.col("sid") == r["sid"]) & (F.col("gno") == r["g"]))
    # materialize (lineage-free) BEFORE the spool swap: `complete`'s
    # lineage reads the OLD spool files, which the swap deletes — an
    # evicted cache would otherwise recompute against the new spool and
    # silently drop the rows that just graduated from it
    complete = eff.filter(~cond).localCheckpoint()
    spool.write(eff.filter(cond))
    eff.unpersist()
    return complete


def transform_changes(changes: DataFrame, cfg: TableConfig, local_sid: str | None) -> DataFrame:
    """The full per-table transform chain, shared by batch and stream:
    table select (F4) -> origin filter (A11) -> Where with update-pair
    semantics (F1/F3) -> rename + column map (F8/F9)."""
    out = table_filter(changes, cfg.schema_name, cfg.table_name)
    out = origin_filter(out, local_sid)
    out = apply_where_to_changes(out, cfg.where)
    return map_changes(out, cfg)


def _read_seq_watermark(target, schema_name: str, table_name: str) -> dict[str, int]:
    """Per-source applied-seq high-water mark, stored IN the table
    manifest so data + watermark commit atomically (one rename)."""
    return target.seq_watermark(schema_name, table_name)


def _merge_segment(
    spark: SparkSession,
    typed: DataFrame,
    cfg: TableConfig,
    job: JobConfig,
    target,
    row_type,
    deferred_commits: list | None = None,
) -> None:
    from dtle_spark.operators.apply import (
        DELETED_COL,
        latest_image_per_key,
        merge_into_versioned,
        with_version_columns,
    )

    tchanges = transform_changes(typed, cfg, job.local_sid)
    # seed schema must be the POST-column-map row struct (tchanges has
    # already passed map_changes; meta.schema carries source names)
    row_struct = tchanges.schema["after"].dataType
    if cfg.unique_key and (
        isinstance(target, BucketedTableTarget)
        or getattr(target, "NATIVE_MERGE", False)
    ):
        # scale path: seq-versioned merge over only the buckets the
        # batch touches (sinks/table_sink.py), or the native MERGE INTO
        # branch (sinks/delta_target.py) — both stage now and commit
        # with the rest of the batch's tables (A6; per-table atomic on
        # the native branch, see delta_target's module note)
        _, commit_fn = target.stage_merge(
            spark, tchanges, cfg.target_schema, cfg.target_table, cfg.unique_key
        )
        if deferred_commits is not None:
            deferred_commits.append(commit_fn)
        else:
            commit_fn()
        return
    wm_update: dict[str, int] | None = None
    if cfg.unique_key:
        # seq-versioned merge: correct under split/reordered delivery
        # across micro-batches (multi-file sources); tombstones guard
        # late stale changes (operators/apply.merge_into_versioned)
        current = target.read_internal(spark, cfg.target_schema, cfg.target_table)
        if current is None:
            current = with_version_columns(spark.createDataFrame([], row_struct))
        elif DELETED_COL not in current.columns:
            current = with_version_columns(current)  # freshly-seeded snapshot
        net = latest_image_per_key(tchanges, cfg.unique_key)
        merged = merge_into_versioned(current, net, cfg.unique_key)
    else:
        # counting semantics have no key to version on. foreachBatch is
        # at-least-once (a crash between target swap and checkpoint
        # commit replays the batch) and counting double-applies on
        # replay — so we keep a per-source applied-seq watermark in the
        # table dir (swapped atomically with the data) and drop
        # already-applied rows. Bridges make seq monotone per sid, so
        # `seq <= watermark[sid]` identifies replayed rows exactly.
        current = target.read(spark, cfg.target_schema, cfg.target_table)
        if current is None:
            current = spark.createDataFrame([], row_struct)
        wm = _read_seq_watermark(target, cfg.target_schema, cfg.target_table)
        fresh = tchanges
        if wm:
            cond = F.lit(True)
            for sid, s in wm.items():
                cond = cond & ~((F.col("sid") == sid) & (F.col("seq") <= F.lit(s)))
            fresh = tchanges.filter(cond)
        wm_update = dict(wm)
        # bounded driver-side state: one row per source server
        for r in fresh.groupBy("sid").agg(F.max("seq").alias("s")).collect():
            wm_update[r["sid"]] = max(wm_update.get(r["sid"], -(1 << 62)), r["s"])
        merged = apply_changes_no_pk(current, fresh)
    staged = target.stage(merged, cfg.target_schema, cfg.target_table)
    s, t, wm = cfg.target_schema, cfg.target_table, wm_update

    def commit_fn(staged=staged, s=s, t=t, wm=wm) -> None:
        target.commit(staged, s, t, seq_watermark=wm)

    if deferred_commits is not None:
        # A6 cross-table atomicity: stage now, swap with the rest of the
        # batch's tables at the end — a reader never observes table A's
        # new state next to table B's old one within a micro-batch
        deferred_commits.append(commit_fn)
    else:
        commit_fn()


def apply_ddl_to_target(
    spark: SparkSession, target: ParquetTableTarget, cfg: TableConfig, action: DdlAction
) -> None:
    """D2 on the physical table: evolve the parquet target (on a lake
    deployment these are native ALTER TABLE/schema-evolution commits).
    Operates on the INTERNAL form so version columns/tombstones survive.

    IDEMPOTENT on replay: foreachBatch is at-least-once, so a batch
    whose DDL already landed physically can redeliver (crash between
    the catalog snapshot and the checkpoint commit). Each structural
    action checks the current physical schema and SKIPS when its
    effect is already present — re-running add_column would otherwise
    re-backfill the column and WIPE every value later merges wrote
    into it (measured: post-DDL images silently reset to the
    default)."""
    cur = target.read_internal(spark, cfg.target_schema, cfg.target_table)
    if action.kind == "add_column":
        if cur is not None and action.column not in cur.columns:
            fill = F.lit(None).cast(action.dtype)
            if action.default is not None:
                # DEFAULT backfill: existing rows take the literal
                # (MySQL instant-ADD semantics for constant defaults)
                raw = action.default.strip()
                lit = raw[1:-1].replace("''", "'") if raw.startswith("'") else raw
                if lit.upper() != "NULL":
                    fill = F.lit(lit).cast(action.dtype)
            target.overwrite(
                cur.withColumn(action.column, fill),
                cfg.target_schema,
                cfg.target_table,
            )
    elif action.kind == "drop_column":
        if cur is not None and action.column in cur.columns:
            target.overwrite(cur.drop(action.column), cfg.target_schema, cfg.target_table)
    elif action.kind == "rename_column":
        # the new name must also be ABSENT: a replayed batch carrying
        # [rename a->b, add_column a] re-adds `a`, and renaming it
        # again would create a second `b` (AMBIGUOUS_REFERENCE on
        # every later read)
        if (
            cur is not None
            and action.column in cur.columns
            and action.new_name not in cur.columns
        ):
            target.overwrite(
                cur.withColumnRenamed(action.column, action.new_name),
                cfg.target_schema,
                cfg.target_table,
            )
    elif action.kind == "modify_column":
        if cur is not None:
            target.overwrite(
                cur.withColumn(action.column, F.col(action.column).cast(action.dtype)),
                cfg.target_schema,
                cfg.target_table,
            )
    elif action.kind == "change_column":
        # same double-name hazard as rename_column above
        if (
            cur is not None
            and action.column in cur.columns
            and action.new_name not in cur.columns
        ):
            target.overwrite(
                cur.withColumn(action.column, F.col(action.column).cast(action.dtype))
                .withColumnRenamed(action.column, action.new_name),
                cfg.target_schema,
                cfg.target_table,
            )
    elif action.kind == "truncate":
        if cur is not None:
            target.overwrite(cur.limit(0), cfg.target_schema, cfg.target_table)
    elif action.kind in ("create_schema", "create_table", "drop_table", "drop_schema", "rename_table", "noop"):
        pass  # catalog-level or schema-unaffected; dirs managed lazily
    else:
        raise ValueError(f"unhandled DDL action {action.kind}")


def apply_batch(
    spark: SparkSession,
    batch: DataFrame,
    job: JobConfig,
    target: ParquetTableTarget,
    catalog: SchemaCatalog,
    spool: TxSpool | None = None,
    gtid_path: str | None = None,
    metrics=None,
    catalog_path: str | None = None,
    batch_id: int | None = None,
) -> None:
    """foreachBatch body: route the wire-form batch to each configured
    table; DML merges in seq order segmented around DDL barriers.

    The reference serializes DDL with a WaitForAllCommitted barrier
    (applier_incr.go:375-386); segmenting the micro-batch by the DDL's
    seq reproduces that ordering. Images are parsed from JSON with the
    catalog schema current *for that segment* (streaming/wire.py).

    A6 cross-table atomicity: when the batch contains no DDL (the
    overwhelmingly common case) every table's new image is staged
    first and then all are swapped in a tight rename loop — a reader
    cannot observe a half-applied batch across tables. DDL batches
    fall back to per-segment commits (the DDL barrier itself is the
    serialization point). Cache the batch once — every table's
    transform scans it.

    With a TxSpool (job.tx_atomic), the batch is first reduced to
    provably-complete transactions (frontier held back), which makes
    the A6 swap per-TX atomic, not merely per-batch.

    ``gtid_path`` (optional): after the batch commits, every applied
    (sid, gno) folds into a persisted interval GtidSet — the queryable
    applied-position the reference keeps in dtle.gtid_executed_v4
    (applier_gtid_executed.go:17-25). Only tx IDs travel to the
    driver; re-adding on replay is idempotent.

    DDL catalog protocol (same copy-and-swap as SubscriptionJob): the
    segment loop evolves a catalog COPY and the caller's instance is
    synced in place only after every commit lands, so a failed batch's
    in-process retry re-derives from the pristine catalog instead of
    double-applying ADD COLUMN. The snapshot carries an
    ``__applied_batch`` marker: a redelivered batch whose DDL is
    already IN the snapshot (crash after save, before the checkpoint
    commit) skips catalog.apply — merges and apply_ddl_to_target
    re-run, both replay-convergent."""
    import json as _json
    import time as _time

    t0 = _time.perf_counter()
    if spool is not None:
        batch = split_complete_txs(spark, batch, spool)
    batch.persist()
    try:
        has_ddl = batch.filter(F.col("op") == "ddl").limit(1).count() > 0
        marker = -1
        if catalog_path is not None:
            try:
                with open(catalog_path) as f:
                    marker = int(_json.load(f).get("__applied_batch", -1))
            except (OSError, ValueError):
                marker = -1
        # in-memory twin of the persisted marker, carried ON the
        # catalog instance: without a catalog_path, a failure AFTER
        # restore_from (gtid fold, metrics) would retry the batch
        # against the already-evolved catalog and re-apply ADD COLUMN
        marker = max(marker, getattr(catalog, "applied_batch_mem", -1))
        ddl_in_snapshot = batch_id is not None and marker >= batch_id
        cat = catalog.copy()
        # commit closures: every table (bucketed or whole-image) stages
        # first; the closures then run back-to-back, each one an atomic
        # manifest rename — the A6 cross-table swap
        deferred: list | None = [] if not has_ddl else None
        for cfg in job.tables:
            rows = table_filter(batch, cfg.schema_name, cfg.table_name)
            ddls = sorted(
                rows.filter(F.col("op") == "ddl").select("seq", "query").collect(),
                key=lambda r: r["seq"],
            )
            dml = rows.filter(F.col("op") != "ddl")
            if ddls:
                # same contract as SubscriptionJob: segmentation uses
                # STRICT inequalities around the DDL seqs, so a DML row
                # SHARING a seq with a barrier would silently drop from
                # every segment — fail loud instead
                clash = dml.filter(
                    F.col("seq").isin([d["seq"] for d in ddls])
                ).count()
                if clash:
                    raise ValueError(
                        f"{clash} DML row(s) share a seq with a DDL "
                        f"barrier in {cfg.schema_name}.{cfg.table_name}"
                        f" (batch {batch_id}); wire seqs must be unique"
                    )
            lo = None
            for ddl_row in ddls + [None]:
                hi = ddl_row["seq"] if ddl_row is not None else None
                seg = dml
                if lo is not None:
                    seg = seg.filter(F.col("seq") > lo)
                if hi is not None:
                    seg = seg.filter(F.col("seq") < hi)
                meta = cat.get(cfg.schema_name, cfg.table_name)
                typed = from_wire(seg, meta.schema)
                _merge_segment(spark, typed, cfg, job, target, meta.schema, deferred)
                if ddl_row is not None:
                    # multi-clause ALTER / multi-pair RENAME replay in order
                    for action in parse_ddl_actions(
                        ddl_row["query"], default_schema=cfg.schema_name
                    ):
                        if not ddl_in_snapshot:
                            cat.apply(action)
                        apply_ddl_to_target(spark, target, cfg, action)
                    lo = hi
        if deferred:
            for fn in deferred:
                fn()
        if has_ddl:
            # every commit landed: snapshot the COPY first, then sync
            # the caller's catalog in place (aliases observe the
            # evolution). Save-before-sync, as in SubscriptionJob: a
            # failed save leaves the in-memory catalog pristine AND the
            # marker stale, so the retry re-derives cleanly instead of
            # double-applying. The snapshot is what JobManager.recover
            # resumes with — checkpointed batches never replay across
            # restarts, so DDL effects must persist outside the stream.
            if catalog_path is not None:
                cat.save(
                    catalog_path,
                    extra={"__applied_batch": -1 if batch_id is None else int(batch_id)},
                )
            catalog.restore_from(cat)
            if batch_id is not None:
                # set only after restore_from: a failure BEFORE it
                # leaves the catalog pristine and the retry must
                # re-apply; a failure after it must not
                catalog.applied_batch_mem = int(batch_id)
        tx_rows = None
        if gtid_path is not None:
            from dtle_spark.sources.gtid import GtidSet

            gs = GtidSet.load(gtid_path)
            tx_rows = batch.select("sid", "gno").distinct().collect()
            for r in tx_rows:
                gs.add(r["sid"], r["gno"])
            gs.save(gtid_path)
        if metrics is not None:
            # ONE bounded aggregate: O(tables x ops + sources) rows to
            # the driver, never O(batch rows)
            agg = batch.groupBy("schema_name", "table_name", "op").agg(
                F.count(F.lit(1)).alias("n"),
                F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("mt"),
            ).collect()
            seq_high = {
                r["sid"]: r["s"]
                for r in batch.groupBy("sid").agg(F.max("seq").alias("s")).collect()
            }
            if tx_rows is None:
                tx_count = batch.select("sid", "gno").distinct().count()
            else:
                tx_count = len(tx_rows)
            metrics.observe_batch(
                [
                    (
                        r["schema_name"], r["table_name"], r["op"], r["n"],
                        r["mt"] / 1e6 if r["mt"] is not None else None,
                    )
                    for r in agg
                ],
                tx_count,
                seq_high,
                _time.perf_counter() - t0,
            )
    finally:
        batch.unpersist()


class ReplicationJob:
    """Job lifecycle over a StreamingQuery handle — the Spark
    restatement of the reference's HTTP v2 control surface
    (api/handler/v2/job.go: create/pause/resume/position) without a
    control plane: Consul/Nomad/NATS state collapses into the
    streaming checkpoint + StreamingQuery object."""

    def __init__(
        self,
        spark: SparkSession,
        job: JobConfig,
        source_dir: str,
        target_root: str,
        checkpoint_dir: str,
        catalog: SchemaCatalog,
        max_files_per_trigger: int = 10,
        target=None,
    ):
        self.spark = spark
        self.job = job
        self.source_dir = source_dir
        # default = the scale path: affected-buckets-only merge
        # (sinks/table_sink.py); pass ParquetTableTarget for the simple
        # whole-image tier
        self.target = target if target is not None else BucketedTableTarget(target_root)
        if getattr(self.target, "NATIVE_MERGE", False):
            # the native MERGE branch is keyed-only; the no-PK counting
            # path needs the manifest targets' stage/commit surface —
            # fail at create, not with AttributeError mid-stream
            no_pk = [
                f"{c.schema_name}.{c.table_name}"
                for c in job.tables
                if not c.unique_key
            ]
            if no_pk:
                raise ValueError(
                    f"native-merge target requires unique_key on every "
                    f"table; missing on: {no_pk}"
                )
        self.checkpoint_dir = checkpoint_dir
        self.catalog = catalog
        self.max_files_per_trigger = max_files_per_trigger
        self.query = None
        self.spool = (
            TxSpool(os.path.join(checkpoint_dir, "txspool")) if job.tx_atomic else None
        )
        # applied-gtid interval set, persisted next to the checkpoint —
        # survives pause/resume; replays re-add idempotently
        self.gtid_path = os.path.join(checkpoint_dir, "gtid_position.json")
        # post-DDL schema snapshots for cross-process recovery
        self.catalog_path = os.path.join(checkpoint_dir, "catalog.json")
        from dtle_spark.streaming.metrics import TaskMetrics

        self.metrics = TaskMetrics()

    def start(self) -> "ReplicationJob":
        stream = (
            self.spark.readStream.schema(WIRE_SCHEMA)
            .option("maxFilesPerTrigger", self.max_files_per_trigger)
            .parquet(self.source_dir)
        )
        self.query = (
            stream.writeStream.outputMode("update")
            .option("checkpointLocation", self.checkpoint_dir)
            .foreachBatch(
                lambda df, epoch: apply_batch(
                    self.spark, df, self.job, self.target, self.catalog,
                    spool=self.spool, gtid_path=self.gtid_path,
                    metrics=self.metrics, catalog_path=self.catalog_path,
                    batch_id=epoch,
                )
            )
            .trigger(processingTime=f"{self.job.trigger_seconds} seconds")
            .start()
        )
        # a cutover in flight survives restarts: re-arm the target-gtid
        # watcher from its persisted key (Consul-key analogue) OR from
        # the in-memory target — an in-process pause/resume keeps
        # self.target_gtid set while the old watcher thread has exited
        # with the stopped query, so gating on "attribute is None"
        # stalled the cutover silently
        if not getattr(self, "finished", False):
            if getattr(self, "target_gtid", None) is None:
                tp = os.path.join(self.checkpoint_dir, "target_gtid.json")
                if os.path.exists(tp):
                    from dtle_spark.sources.gtid import GtidSet

                    self.target_gtid = GtidSet.load(tp)
            if getattr(self, "target_gtid", None) is not None:
                self._arm_finish_watcher()
        return self

    def update_config(self, new_job: JobConfig) -> None:
        """Swap the job config under a paused stream (JobManager.update
        drives pause → preflight → this → resume). The foreachBatch
        closure reads ``self.job`` per batch, so the swap takes effect
        on the next micro-batch; the tx spool is rebuilt when the
        atomicity setting changed."""
        if self.query is not None and self.query.isActive:
            raise ValueError("pause the job before updating its config")
        if new_job.tx_atomic != self.job.tx_atomic:
            self.spool = (
                TxSpool(os.path.join(self.checkpoint_dir, "txspool"))
                if new_job.tx_atomic
                else None
            )
        self.job = new_job

    def flush_spool(self) -> None:
        """Apply the held frontier tx unconditionally — the operator's
        quiesce step (call only when the stream is paused and the
        source is known to end on a tx boundary; the reference's
        shutdown drain is the same judgement call)."""
        if self.spool is None:
            return
        held = self.spool.read(self.spark)
        if held is not None and held.limit(1).count() > 0:
            # the flushed txs fold into the applied position and the
            # task metrics like any streamed batch's
            apply_batch(
                self.spark, held, self.job, self.target, self.catalog,
                gtid_path=self.gtid_path, metrics=self.metrics,
            )
            self.spool.write(held.limit(0))

    def process_available(self) -> None:
        """Synchronously drain everything currently in the source
        (test/snapshot-catchup path)."""
        assert self.query is not None
        self.query.processAllAvailable()

    def pause(self) -> None:
        """Pause = stop the query; the checkpoint keeps the position
        (reference pause keeps gtid in Consul, store.go:40-446)."""
        if self.query is not None:
            self.query.stop()
            self.query = None

    def resume(self) -> "ReplicationJob":
        """Resume from the checkpointed offsets — same as start; the
        checkpoint is the position."""
        if self.query is None:
            self.start()
        return self

    def position(self) -> dict:
        """Stream position (reference: Gtid/BinlogFilePos query API,
        api/handler/v2 + applier_gtid_executed.go): the applied-GTID
        interval set (survives pause/resume — read from the persisted
        file, not query state) plus the last progress' source offsets."""
        from dtle_spark.sources.gtid import GtidSet

        out: dict = {"gtid_set": GtidSet.load(self.gtid_path).to_str()}
        if self.query is not None and self.query.lastProgress is not None:
            p = self.query.lastProgress
            out["batch_id"] = p.get("batchId") if isinstance(p, dict) else p["batchId"]
            out["sources"] = p.get("sources") if isinstance(p, dict) else p["sources"]
        return out

    def table_versions(self) -> dict[str, list[int]]:
        """Retained commit versions per target table (manifest time
        travel) — "schema.table" -> ascending version list. The
        operator's handle for point-in-time audit of what a batch
        changed (read via target.read_at_version)."""
        out: dict[str, list[int]] = {}
        for cfg in self.job.tables:
            vs = self.target.versions(cfg.target_schema, cfg.target_table)
            if vs:
                out[f"{cfg.target_schema}.{cfg.target_table}"] = vs
        return out

    def backlog(self) -> int:
        """Unapplied backlog in the stream's own coordinate: source
        high-water seq minus max applied seq (the reference's delay is
        the wall-clock cousin, extractor.go:930-970). 0 = caught up."""
        from dtle_spark.sources.snapshot_job import change_source_watermark

        src = change_source_watermark(self.spark, self.source_dir)
        applied = max(self.metrics.applied_seq.values(), default=-1)
        return max(0, src - applied)

    def finish(self, target_gtid: str | None = None, poll_seconds: float = 0.5) -> None:
        """Graceful cutover (the reference's finish-job / targetGtid
        flow: api job.go:1861-1900 signals the extractor, which puts
        its current GTID set under ``dtle/<job>/targetGtid``
        (store.go:413-416); the applier watches it and, once its
        applied set CONTAINS the target, marks TargetGtidFinished and
        shuts down — applier.go:206-220,1167-1179).

        ``target_gtid``: MySQL GTID-set string to catch up to; None =
        the change source's current frontier (distinct tx ids — bounded
        metadata, same as the position bookkeeping; production migrations
        pass the source's SHOW MASTER STATUS string explicitly). A
        watcher thread polls the persisted applied set and stops the
        stream when the target is contained; ``stats()['status']``
        becomes ``target_gtid_finished``."""
        from dtle_spark.sources.gtid import GtidSet

        if target_gtid is not None:
            target = GtidSet.from_str(target_gtid)
        else:
            src = self.spark.read.schema(WIRE_SCHEMA).parquet(self.source_dir)
            target = GtidSet()
            for r in src.select("sid", "gno").distinct().collect():
                target.add(r["sid"], r["gno"])
        self.target_gtid = target
        # persist the target (the reference keeps it under the Consul
        # key dtle/<job>/targetGtid) so a cutover in flight survives an
        # agent restart — start()/recover re-arms the watcher from it
        target.save(os.path.join(self.checkpoint_dir, "target_gtid.json"))
        self._arm_finish_watcher(poll_seconds)

    def _arm_finish_watcher(self, poll_seconds: float = 0.5) -> None:
        import threading

        from dtle_spark.sources.gtid import GtidSet

        def watch():
            while True:
                q = self.query
                if q is None or not q.isActive:
                    return
                applied = GtidSet.load(self.gtid_path)
                if applied.contains_set(self.target_gtid):
                    self.finished = True
                    q.stop()  # stop() from another thread is the supported path
                    return
                import time as _t

                _t.sleep(poll_seconds)

        self._finish_thread = threading.Thread(target=watch, daemon=True)
        self._finish_thread.start()

    def wait_finished(self, timeout: float = 30.0) -> bool:
        """Block until the finish watcher declared the target reached
        (test/cutover-orchestration helper)."""
        t = getattr(self, "_finish_thread", None)
        if t is not None:
            t.join(timeout)
        return bool(getattr(self, "finished", False))

    def stats(self) -> dict:
        """TaskStatistics analogue (common/models.go:69-88): lifecycle
        + per-table op counters, throughput, delay, applied position."""
        out = {"active": self.query is not None and self.query.isActive}
        if getattr(self, "finished", False):
            # the reference's TargetGtidFinished terminal status
            out["job_status"] = "target_gtid_finished"
        if self.query is not None:
            out["status"] = self.query.status
            p = self.query.lastProgress
            if p is not None:
                out["batch_id"] = p.get("batchId")
                out["stream_rows_per_second"] = p.get("processedRowsPerSecond")
        out.update(self.metrics.as_dict())
        return out
