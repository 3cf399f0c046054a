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
Every batch, DDL batches included, commits cross-table atomically (A6
staged swaps), and with ``job.tx_atomic`` the TxSpool holds back each
source's frontier tx until a later gno proves its commit — batches
become tx-aligned, upgrading the A6 swap to per-TX atomicity across
tables (the reference's guarantee, reached by inference instead of
XID markers).

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

import operator
import os
import shutil
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from functools import reduce
from typing import NamedTuple

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dtle_spark.catalog import DdlAction, SchemaCatalog, parse_ddl_actions
from dtle_spark.model import JobConfig, TableConfig
from dtle_spark.operators.apply import (
    DELETED_COL,
    apply_changes_no_pk,
    change_effects,
    merge_into_versioned,
    with_version_columns,
)
from dtle_spark.operators.filters import (
    apply_where_to_changes,
    origin_filter,
    table_filter,
)
from dtle_spark.operators.projection import map_changes
from dtle_spark.streaming.store import StreamJob
from dtle_spark.streaming.wire import WIRE_SCHEMA, from_wire


# Both table targets (manifest-atomic commits) live in sinks/table_sink;
# ParquetTableTarget is re-exported here for its historical import path.
from dtle_spark.sinks.table_sink import (  # noqa: E402,F401
    BucketedTableTarget,
    ParquetTableTarget,
    recording_staged,
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

    Crash safety: the spool is kept in generations keyed by batch id.
    Batch k reads the newest generation below k and writes
    ``gen-k``; the generation it read is deleted only when a later
    batch writes. A failed batch therefore replays against the same
    input generation (its retry sees the txs that graduated from it),
    and the applied rows' lineage, which reads that generation, stays
    valid for the whole batch. A batch that finishes marks its
    generation applied; flush_spool reads the newest applied generation,
    the one the next batch to run reads (a failed batch's own
    generation is skipped: its replay will rewrite it). A spool written
    as one flat parquet directory (the layout before generations) reads
    as generation -1, applied. State is O(one tx per source) per
    generation, not O(history)."""

    LEGACY = -1
    APPLIED = "_APPLIED"

    def __init__(self, root: str):
        self.root = root

    def _legacy_files(self) -> list[str]:
        return [
            os.path.join(self.root, n)
            for n in sorted(os.listdir(self.root))
            if os.path.isfile(os.path.join(self.root, n))
        ]

    def _generations(self) -> dict[int, str]:
        """Generation id -> its directory (the root for the flat layout)."""
        if not os.path.isdir(self.root):
            return {}
        out = {}
        for n in os.listdir(self.root):
            if n.startswith("gen-") and n[4:].isdigit():
                out[int(n[4:])] = os.path.join(self.root, n)
        if self._legacy_files():
            out[self.LEGACY] = self.root
        return out

    def read(self, spark: SparkSession, below: int) -> DataFrame | None:
        """The newest generation below batch id ``below``, or None when
        there is none."""
        gens = self._generations()
        ids = [g for g in gens if g < below]
        if not ids:
            return None
        g = max(ids)
        reader = spark.read.schema(WIRE_SCHEMA)
        if g != self.LEGACY:
            return reader.parquet(gens[g])
        data = [f for f in self._legacy_files() if not os.path.basename(f).startswith(("_", "."))]
        return reader.parquet(*data) if data else None

    def write(self, df: DataFrame, batch_id: int, applied: bool = False) -> None:
        """Write ``gen-<batch_id>`` (replacing a failed attempt's), then
        drop every generation but it and the input one below it."""
        gens = self._generations()
        keep = max((g for g in gens if g < batch_id), default=None)
        token = uuid.uuid4().hex[:8]
        staged = os.path.join(self.root, f".staged-{token}")
        df.write.mode("overwrite").parquet(staged)
        if applied:
            open(os.path.join(staged, self.APPLIED), "w").close()
        final = os.path.join(self.root, f"gen-{batch_id}")
        old = os.path.join(self.root, f".old-{token}")
        if os.path.exists(final):
            os.rename(final, old)
        os.rename(staged, final)
        shutil.rmtree(old, ignore_errors=True)
        for g, path in gens.items():
            if g in (keep, batch_id):
                continue
            if g == self.LEGACY:
                for f in self._legacy_files():
                    os.remove(f)
            else:
                shutil.rmtree(path, ignore_errors=True)

    def mark_applied(self, batch_id: int) -> None:
        """Batch ``batch_id`` finished: everything but the txs its
        generation holds is applied."""
        open(os.path.join(self.root, f"gen-{batch_id}", self.APPLIED), "w").close()

    def last_applied(self) -> int | None:
        """The newest applied generation, or None when there is none."""
        return max(
            (g for g, path in self._generations().items()
             if g == self.LEGACY or os.path.exists(os.path.join(path, self.APPLIED))),
            default=None,
        )

    def clear(self, spark: SparkSession, gen: int) -> None:
        """Replace applied generation ``gen`` with an empty one, after
        flush_spool applied its txs (stream paused); newer generations
        go. The flat layout's replacement is ``gen-0``, which every
        later batch reads in its place."""
        self.write(spark.createDataFrame([], WIRE_SCHEMA), max(gen, 0), applied=True)


class BatchSummary:
    """Driver-side bookkeeping of one micro-batch from ONE grouped Spark
    action: a row per (sid, gno, schema, table, op) with its row count,
    newest event ts, min and max seq and DDL (seq, query) pairs. One row per
    tx x table x op reaches the driver: with single-row autocommit txs
    that is as many rows as the batch has.

    Everything the batch loop needs derives from it: each source's
    frontier gno (held back with a TxSpool), DDL presence, each table's
    DDL barriers and DML seq ranges (which decide whether a seq check
    needs a Spark job), the applied (sid, gno) set for the GTID fold
    and the TaskMetrics inputs — all over the COMPLETE rows only."""

    def __init__(self, rows: list, hold_frontier: bool = False):
        self.frontier: dict[str, int] = {}
        if hold_frontier:
            for r in rows:
                self.frontier[r["sid"]] = max(self.frontier.get(r["sid"], r["gno"]), r["gno"])
        self.rows = [r for r in rows if self.frontier.get(r["sid"]) != r["gno"]]
        self.txs: list[tuple[str, int]] = sorted({(r["sid"], r["gno"]) for r in self.rows})

    @classmethod
    def of(cls, df: DataFrame, hold_frontier: bool = False) -> "BatchSummary":
        rows = df.groupBy("sid", "gno", "schema_name", "table_name", "op").agg(
            F.count(F.lit(1)).alias("n"),
            F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("mt"),
            F.min("seq").alias("s0"),
            F.max("seq").alias("s"),
            F.collect_list(
                F.when(F.col("op") == "ddl", F.struct("seq", "query"))
            ).alias("ddls"),
        ).collect()
        return cls(rows, hold_frontier)

    def held(self):
        """Column predicate: the rows of each source's frontier tx."""
        cond = F.lit(False)
        for sid, g in self.frontier.items():
            cond = cond | ((F.col("sid") == sid) & (F.col("gno") == g))
        return cond

    def complete(self, df: DataFrame) -> DataFrame:
        return df.filter(~self.held()) if self.frontier else df

    @property
    def has_ddl(self) -> bool:
        return any(r["op"] == "ddl" for r in self.rows)

    def ddls(self, schema_name: str, table_name: str) -> list:
        """The table's DDL rows (seq, query), in seq order."""
        return sorted(
            (d for r in self.rows
             if r["schema_name"] == schema_name and r["table_name"] == table_name
             for d in r["ddls"]),
            key=lambda d: d["seq"],
        )

    def dml_seq_ranges(self, schema_name: str, table_name: str) -> list[tuple[int, int]]:
        """(min seq, max seq) of each of the table's DML summary rows: a
        DML row of the table can only have a seq inside one of them."""
        return [
            (r["s0"], r["s"]) for r in self.rows
            if r["schema_name"] == schema_name and r["table_name"] == table_name
            and r["op"] != "ddl"
        ]

    def op_counts(self) -> list[tuple]:
        """(schema, table, op, rows, newest event ts in epoch s)."""
        agg: dict[tuple, list] = {}
        for r in self.rows:
            a = agg.setdefault((r["schema_name"], r["table_name"], r["op"]), [0, None])
            a[0] += r["n"]
            if r["mt"] is not None and (a[1] is None or r["mt"] > a[1]):
                a[1] = r["mt"]
        return [(*k, n, mt / 1e6 if mt is not None else None) for k, (n, mt) in agg.items()]

    def seq_high(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for r in self.rows:
            out[r["sid"]] = max(out.get(r["sid"], r["s"]), r["s"])
        return out


def split_complete_txs(
    spark: SparkSession, batch: DataFrame, spool: TxSpool, batch_id: int
) -> tuple[DataFrame, BatchSummary]:
    """Union the input spool generation into the batch, summarize it
    and write each sid's frontier tx to the batch's own generation.
    Returns the cached effective batch (unpersist when done) and its
    summary; ``summary.complete(eff)`` is the part to apply.

    A redelivered row repeats its (sid, gno, seq, op); a row that
    differs in ``op`` is not a redelivery, so a DML row sharing its seq
    with a DDL row survives to the planner's seq-clash check."""
    prev = spool.read(spark, below=batch_id)
    eff = batch if prev is None else prev.unionByName(batch)
    eff = eff.dropDuplicates(["sid", "gno", "seq", "op"]).persist()
    try:
        summary = BatchSummary.of(eff, hold_frontier=True)
        spool.write(eff.filter(summary.held()), batch_id)
    except BaseException:
        eff.unpersist()
        raise
    return eff, summary


def transform_changes(changes: DataFrame, cfg: TableConfig, local_sid: str | None) -> DataFrame:
    """The full per-table transform chain, shared by batch and stream:
    table select (F4) -> origin filter (A11) -> Where with update-pair
    semantics (F1/F3) -> rename + column map (F8/F9)."""
    out = table_filter(changes, cfg.schema_name, cfg.table_name)
    out = origin_filter(out, local_sid)
    out = apply_where_to_changes(out, cfg.where)
    return map_changes(out, cfg)


def _unapplied(tchanges: DataFrame, wm: dict[str, int]) -> DataFrame:
    """The rows a no-PK table's seq watermark does not yet cover."""
    if not wm:
        return tchanges
    cond = F.lit(True)
    for sid, s in wm.items():
        cond = cond & ~((F.col("sid") == sid) & (F.col("seq") <= F.lit(s)))
    return tchanges.filter(cond)


def _advance_watermark(wm: dict[str, int], fresh: DataFrame) -> dict[str, int]:
    """The watermark once ``fresh`` is applied (bounded driver-side
    state: one row per source server)."""
    out = dict(wm)
    for r in fresh.groupBy("sid").agg(F.max("seq").alias("s")).collect():
        out[r["sid"]] = max(out.get(r["sid"], -(1 << 62)), r["s"])
    return out


# DDL kinds without a physical effect on the table's image: catalog-level
# or schema-unaffected (indexes, defaults); target dirs are managed lazily
CATALOG_DDL = frozenset(
    {"create_schema", "create_table", "drop_table", "drop_schema", "rename_table", "noop"}
)


def apply_ddl_to_target(img: DataFrame | None, action: DdlAction) -> DataFrame | None:
    """D2 on the physical table, as a frame transform of its image (on a
    lake deployment these are native ALTER TABLE/schema-evolution
    commits). Works on the INTERNAL form so version columns/tombstones
    survive; no image yet (None) stays None.

    IDEMPOTENT on replay: foreachBatch is at-least-once, so a batch
    whose DDL already landed physically can redeliver (crash between
    the catalog snapshot and the checkpoint commit). Each structural
    action checks the image's columns and returns it unchanged when its
    effect is already present — re-running add_column would otherwise
    re-backfill the column and WIPE every value later merges wrote
    into it (measured: post-DDL images silently reset to the
    default)."""
    if img is None or action.kind in CATALOG_DDL:
        return img
    cols = img.columns
    if action.kind == "add_column":
        if action.column in cols:
            return img
        fill = F.lit(None).cast(action.dtype)
        if action.default is not None:
            # DEFAULT backfill: existing rows take the literal
            # (MySQL instant-ADD semantics for constant defaults)
            raw = action.default.strip()
            lit = raw[1:-1].replace("''", "'") if raw.startswith("'") else raw
            if lit.upper() != "NULL":
                fill = F.lit(lit).cast(action.dtype)
        return img.withColumn(action.column, fill)
    if action.kind == "drop_column":
        return img.drop(action.column) if action.column in cols else img
    if action.kind in ("rename_column", "change_column"):
        # the new name must also be ABSENT: a replayed batch carrying
        # [rename a->b, add_column a] re-adds `a`, and renaming it
        # again would create a second `b` (AMBIGUOUS_REFERENCE on
        # every later read)
        if action.column not in cols or action.new_name in cols:
            return img
        if action.kind == "change_column":
            img = img.withColumn(action.column, F.col(action.column).cast(action.dtype))
        return img.withColumnRenamed(action.column, action.new_name)
    if action.kind == "modify_column":
        if action.column not in cols:
            return img
        return img.withColumn(action.column, F.col(action.column).cast(action.dtype))
    if action.kind == "truncate":
        return img.limit(0)
    raise ValueError(f"unhandled DDL action {action.kind}")


def _stage_image(spark: SparkSession, steps: list, cfg: TableConfig, job: JobConfig, target):
    """Fold a table's steps, in seq order, into ONE lazy image over the
    committed one (read once) and stage it with one write; returns the
    commit closure, or None when the table has no image. A step is a
    typed DML segment, merged, or a DdlAction, applied as its frame
    transform."""
    s, t, key = cfg.target_schema, cfg.target_table, cfg.unique_key
    if key:
        img = target.read_internal(spark, s, t)
        if img is not None and DELETED_COL not in img.columns:
            img = with_version_columns(img)  # freshly-seeded snapshot
    else:
        # counting semantics have no key to version on. foreachBatch is
        # at-least-once (a crash between target swap and checkpoint
        # commit replays the batch) and counting double-applies on
        # replay — so we keep a per-source applied-seq watermark in the
        # table dir (swapped atomically with the data) and drop
        # already-applied rows. Bridges make seq monotone per sid, so
        # `seq <= watermark[sid]` identifies replayed rows exactly. The
        # watermark lives IN the table manifest, so data + watermark
        # commit atomically (one rename).
        img = target.read(spark, s, t)
        wm = target.seq_watermark(s, t)
        fresh = []
    for step in steps:
        if isinstance(step, DdlAction):
            img = apply_ddl_to_target(img, step)
            continue
        tchanges = transform_changes(step, cfg, job.local_sid)
        if img is None:
            # seed schema must be the POST-column-map row struct
            # (tchanges has already passed map_changes; meta.schema
            # carries source names)
            img = spark.createDataFrame([], tchanges.schema["after"].dataType)
            if key:
                img = with_version_columns(img)
        if key:
            # seq-versioned merge: correct under split/reordered delivery
            # across micro-batches (multi-file sources); tombstones guard
            # late stale changes (operators/apply.merge_into_versioned)
            img = merge_into_versioned(img, change_effects(tchanges, key), key)
        else:
            fresh.append(_unapplied(tchanges, wm))
            img = apply_changes_no_pk(img, fresh[-1])
    if img is None:
        return None
    wm_update = None
    if not key and fresh:
        wm_update = _advance_watermark(
            wm, reduce(DataFrame.unionByName, [f.select("sid", "seq") for f in fresh])
        )
    return target.stage_image(img, s, t, key_cols=key or None, seq_watermark=wm_update)


def _merge_segment(
    spark: SparkSession, typed: DataFrame, cfg: TableConfig, job: JobConfig, target
):
    """Stage one segment's merge; returns its commit closure. Nothing is
    visible until the closure runs."""
    if cfg.unique_key and (
        isinstance(target, BucketedTableTarget)
        or getattr(target, "NATIVE_MERGE", False)
    ):
        # scale path: seq-versioned merge over only the buckets the
        # batch touches (sinks/table_sink.py), or the native MERGE INTO
        # branch (sinks/delta_target.py) — both stage now and commit
        # with the rest of the batch's tables (A6; per-table atomic on
        # the native branch, see delta_target's module note)
        tchanges = transform_changes(typed, cfg, job.local_sid)
        _, commit_fn = target.stage_merge(
            spark, tchanges, cfg.target_schema, cfg.target_table, cfg.unique_key
        )
        return commit_fn
    return _stage_image(spark, [typed], cfg, job, target)


class Segment(NamedTuple):
    """A table's DML rows with lo < seq < hi (None = unbounded), and the
    catalog schema and unique key current for them — copied, because
    catalog.apply rewrites a TableMeta in place."""

    lo: int | None
    hi: int | None
    schema: T.StructType
    key: list


@dataclass
class TablePlan:
    """One table's share of a batch, planned on the driver. ``steps``,
    in seq order: Segments and the DDL actions between them.
    ``checks``: ``(predicate, message)`` pairs over the DML rows that
    the batch summary could not rule out; the stage counts them and
    fails on a hit with the message (``{n}`` rows, first at ``{seq}``)."""

    cfg: TableConfig
    steps: list
    checks: list

    @property
    def has_ddl(self) -> bool:
        return any(isinstance(s, DdlAction) for s in self.steps)

    @property
    def segments(self) -> list[Segment]:
        return [s for s in self.steps if not isinstance(s, DdlAction)]

    @property
    def folds(self) -> bool:
        """Whether the table's image is rewritten: a DDL transforms it,
        or its segments parse with different schemas."""
        segs = self.segments
        return any(
            isinstance(s, DdlAction) and s.kind not in CATALOG_DDL for s in self.steps
        ) or any(seg.schema != segs[0].schema for seg in segs)


def _seq_between(lo: int | None, hi: int | None):
    cond = F.lit(True)
    if lo is not None:
        cond = cond & (F.col("seq") > lo)
    if hi is not None:
        cond = cond & (F.col("seq") < hi)
    return cond


def plan_tables(
    job: JobConfig,
    cat: SchemaCatalog,
    summary: BatchSummary,
    ddl_in_snapshot: bool,
    batch_id: int | None,
) -> list[TablePlan]:
    """Plan the batch's tables on the driver, from the summary alone (no
    Spark job): walk ``job.tables`` in order and each table's DDL rows
    in seq order, apply the actions to ``cat`` (the batch's catalog
    copy; skipped when the batch's DDL is already in the snapshot) and
    record each table's segments with the schema current for them —
    the reference's DDL barrier (applier_incr.go:375-386) as seq
    bounds. Tables without complete rows in the batch get no plan, and
    segments the summary shows empty are dropped.

    A segment whose table has no catalog entry (a DDL renamed or
    dropped it) ends the table's segments: DML rows in it fail the
    batch. On a replay whose DDL is already in the snapshot, every
    commit of the batch landed, so such a segment is skipped."""
    plans = []
    for cfg in job.tables:
        name = f"{cfg.schema_name}.{cfg.table_name}"
        ranges = summary.dml_seq_ranges(cfg.schema_name, cfg.table_name)
        ddls = summary.ddls(cfg.schema_name, cfg.table_name)
        if not ranges and not ddls:
            continue

        def maybe_dml(first, last):
            return any(a <= last and b >= first for a, b in ranges)

        # segmentation uses STRICT inequalities around the DDL seqs, so a
        # DML row SHARING a seq with a barrier would silently drop from
        # every segment — fail loud instead. Binlog DDL is its own tx,
        # so the summary rules the clash out without a Spark job almost
        # always.
        checks = [
            (F.col("seq") == d["seq"],
             f"{{n}} DML row(s) share a seq with a DDL barrier in {name} "
             f"(batch {batch_id}); wire seqs must be unique")
            for d in ddls if maybe_dml(d["seq"], d["seq"])
        ]
        steps: list = []
        lo = None
        for ddl_row in ddls + [None]:
            hi = ddl_row["seq"] if ddl_row is not None else None
            first = float("-inf") if lo is None else lo + 1
            last = float("inf") if hi is None else hi - 1
            if maybe_dml(first, last):
                meta = cat.get(cfg.schema_name, cfg.table_name)
                if meta is not None:
                    steps.append(Segment(lo, hi, meta.schema, list(meta.unique_key)))
                elif not ddl_in_snapshot:
                    why = "" if lo is None else f": the DDL at seq {lo} renamed or dropped it"
                    checks.append((
                        _seq_between(lo, hi),
                        f"{{n}} DML row(s) of {name} (first at seq {{seq}}) have no "
                        f"catalog entry{why} (batch {batch_id})",
                    ))
            if ddl_row is not None:
                # multi-clause ALTER / multi-pair RENAME replay in order
                for action in parse_ddl_actions(ddl_row["query"], default_schema=cfg.schema_name):
                    if not ddl_in_snapshot:
                        cat.apply(action)
                    steps.append(action)
                lo = hi
        plans.append(TablePlan(cfg, steps, checks))
    return plans


def checked_dml(batch: DataFrame, plan: TablePlan) -> DataFrame:
    """The plan's table's DML rows in ``batch``, once the exact checks
    the plan asks for pass (a Spark job each; a hit raises
    ValueError)."""
    cfg = plan.cfg
    rows = table_filter(batch, cfg.schema_name, cfg.table_name)
    if plan.has_ddl:
        rows = rows.filter(F.col("op") != "ddl")
    for pred, message in plan.checks:
        r = rows.filter(pred).agg(
            F.count(F.lit(1)).alias("n"), F.min("seq").alias("seq")
        ).first()
        if r["n"]:
            raise ValueError(message.format(n=r["n"], seq=r["seq"]))
    return rows


def segment_rows(rows: DataFrame, seg: Segment) -> DataFrame:
    """The segment's rows of ``rows``, parsed with its schema."""
    return from_wire(rows.filter(_seq_between(seg.lo, seg.hi)), seg.schema)


def _stage_table(spark: SparkSession, batch: DataFrame, plan: TablePlan, job: JobConfig, target):
    """One table's stage: the checked DML, then one merge over all of
    it, or the whole-image fold when its image changes. Returns the
    commit closure, or None when there is nothing to commit."""
    cfg = plan.cfg
    rows = checked_dml(batch, plan)
    if plan.folds:
        steps = [
            s if isinstance(s, DdlAction) else segment_rows(rows, s)
            for s in plan.steps
        ]
        return _stage_image(spark, steps, cfg, job, target)
    segs = plan.segments
    if not segs:
        return None
    if plan.has_ddl:
        rows = rows.filter(reduce(operator.or_, [_seq_between(s.lo, s.hi) for s in segs]))
    return _merge_segment(spark, from_wire(rows, segs[0].schema), cfg, job, target)


def _stage_tables(
    spark: SparkSession, batch: DataFrame, plans: list[TablePlan], job: JobConfig, target,
    staged: list,
) -> list:
    """Stage every planned table; returns the commit closures in
    ``job.tables`` order, and appends to ``staged`` every staging dir
    the stages create (what the caller removes when a closure never
    runs).

    The tables' transform -> parse -> merge staging chains are
    independent, so they overlap on a pool of min(tables, default
    parallelism) threads — the reference applier's MTS workers, split
    by table instead of by tx (nothing is visible before the commits
    run). Each worker inherits the caller's local properties (job group
    and description), so a streaming query's stop() still cancels its
    jobs."""
    if not plans:
        return []

    def stage(plan: TablePlan):
        with recording_staged(staged):
            return _stage_table(spark, batch, plan, job, target)

    n = min(len(plans), spark.sparkContext.defaultParallelism)
    with ThreadPoolExecutor(max_workers=n) as pool:
        # one wrapper per task: each clones the caller's properties, so
        # a worker setting its job description cannot leak into another
        futures = [pool.submit(inheritable_thread_target(spark)(stage), p) for p in plans]
        return [fn for fn in (f.result() for f in futures) if fn is not None]


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
    (applier_incr.go:375-386) and applies everything else in parallel
    (MTS). Here every batch takes one path:

    1. plan (``plan_tables``, driver only, no Spark job): each table's
       DDL rows evolve a catalog COPY in seq order, and each segment
       between them records its seq bounds and the catalog schema
       current for it (images parse with it, streaming/wire.py);
    2. stage every table on a thread pool (``_stage_tables``): a table
       whose DDL leaves its image alone merges all its DML at once
       (bucket-selective on BucketedTableTarget); a table whose image a
       DDL changes folds the batch into ONE lazy image — read once,
       each segment merged and each DDL applied as a frame transform
       (``apply_ddl_to_target``) — and stages it with one write;
    3. commit: the closures run back to back on this thread, in
       ``job.tables`` order — A6 cross-table atomicity, DDL batches
       included: a reader cannot observe a half-applied batch across
       tables. Tables with no rows in the batch are not touched.

    The batch's bookkeeping — frontier, DDL barriers and seq checks,
    the applied tx set, the metrics — comes from ONE grouped action
    (``BatchSummary``), not one Spark job per question.

    With a TxSpool (job.tx_atomic, needs ``batch_id``), the batch is
    first reduced to provably-complete transactions (frontier held
    back), which makes the A6 swap per-TX atomic, not merely per-batch.

    ``gtid_path`` (optional): after the batch commits, every applied
    (sid, gno) folds into a persisted interval GtidSet — the queryable
    applied-position the reference keeps in dtle.gtid_executed_v4
    (applier_gtid_executed.go:17-25). Only tx IDs travel to the
    driver; re-adding on replay is idempotent.

    DDL catalog protocol (the copy-and-swap SubscriptionJob shares): the
    planner evolves a catalog COPY and the caller's instance is synced
    in place only after every commit lands, so a failed batch's
    in-process retry re-derives from the pristine catalog instead of
    double-applying ADD COLUMN. The snapshot carries an
    ``__applied_batch`` marker: a redelivered batch whose DDL is
    already IN the snapshot (crash after save, before the checkpoint
    commit) skips catalog.apply — merges and the image transforms
    re-run, both replay-convergent."""
    import json as _json
    import time as _time

    t0 = _time.perf_counter()
    pinned = None
    staged: list = []
    try:
        if spool is not None:
            pinned, summary = split_complete_txs(spark, batch, spool, batch_id)
        else:
            pinned = batch.persist()
            summary = BatchSummary.of(pinned)
        batch = summary.complete(pinned)
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
        plans = plan_tables(job, cat, summary, ddl_in_snapshot, batch_id)
        for fn in _stage_tables(spark, batch, plans, job, target, staged):
            fn()
        if summary.has_ddl:
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
        if gtid_path is not None:
            from dtle_spark.sources.gtid import GtidSet

            gs = GtidSet.load(gtid_path)
            for sid, gno in summary.txs:
                gs.add(sid, gno)
            gs.save(gtid_path)
        if metrics is not None:
            metrics.observe_batch(
                summary.op_counts(),
                len(summary.txs),
                summary.seq_high(),
                _time.perf_counter() - t0,
            )
        if spool is not None:
            spool.mark_applied(batch_id)
    finally:
        # a committed dir has moved into its table; what is left was
        # staged by a batch that failed before committing it
        for path in staged:
            shutil.rmtree(path, ignore_errors=True)
        if pinned is not None:
            pinned.unpersist()


class WireStreamJob(StreamJob):
    """A JobConfig-driven job over the wire change stream (replication,
    subscription) on the shared StreamJob lifecycle: a processingTime
    trigger of ``job.trigger_seconds``, a synchronous drain, a config
    swap under a paused stream and the post-DDL catalog snapshot at
    ``<checkpoint_dir>/catalog.json`` (checkpointed batches never
    replay, so DDL effects on the catalog must persist outside the
    stream for recovery)."""

    schema = WIRE_SCHEMA
    reader = None

    def __init__(
        self,
        spark: SparkSession,
        job: JobConfig,
        source_dir: str,
        checkpoint_dir: str,
        catalog: SchemaCatalog,
        max_files_per_trigger: int,
    ):
        self.spark = spark
        self.job = job
        self.source_dir = source_dir
        self.checkpoint_dir = checkpoint_dir
        self.catalog = catalog
        self.max_files_per_trigger = max_files_per_trigger
        self.catalog_path = os.path.join(checkpoint_dir, "catalog.json")

    def _trigger(self) -> dict:
        return {"processingTime": f"{self.job.trigger_seconds} seconds"}

    def process_available(self) -> None:
        """Synchronously drain everything currently in the source
        (test/snapshot-catchup path)."""
        assert self.query is not None
        self.query.processAllAvailable()

    def update_config(self, new_job: JobConfig) -> None:
        """Swap the job config under a paused stream (JobManager.update
        drives pause → preflight → this → resume). The batch body reads
        ``self.job`` per batch, so the swap takes effect on the next
        micro-batch."""
        if self.active:
            raise ValueError("pause the job before updating its config")
        self.job = new_job

    def _progress(self) -> dict:
        """The last progress' batch id and source offsets."""
        p = self.query.lastProgress if self.query is not None else None
        return {} if p is None else {"batch_id": p["batchId"], "sources": p["sources"]}


class ReplicationJob(WireStreamJob):
    """Job lifecycle over a StreamingQuery handle — the Spark
    restatement of the reference's HTTP v2 control surface
    (api/handler/v2/job.go: create/pause/resume/position) without a
    control plane: Consul/Nomad/NATS state collapses into the
    streaming checkpoint + StreamingQuery object."""

    _ckpt_sub = ""

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
        super().__init__(spark, job, source_dir, checkpoint_dir, catalog, max_files_per_trigger)
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
        self.spool = (
            TxSpool(os.path.join(checkpoint_dir, "txspool")) if job.tx_atomic else None
        )
        # applied-gtid interval set, persisted next to the checkpoint —
        # survives pause/resume; replays re-add idempotently
        self.gtid_path = os.path.join(checkpoint_dir, "gtid_position.json")
        from dtle_spark.streaming.metrics import TaskMetrics

        self.metrics = TaskMetrics()

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        # the module-level apply_batch, looked up at batch time
        apply_batch(
            self.spark, batch, self.job, self.target, self.catalog,
            spool=self.spool, gtid_path=self.gtid_path,
            metrics=self.metrics, catalog_path=self.catalog_path,
            batch_id=batch_id,
        )

    def start(self) -> "ReplicationJob":
        super().start()
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
        """The config swap; the tx spool is rebuilt when the atomicity
        setting changed."""
        was_atomic = self.job.tx_atomic
        super().update_config(new_job)
        if new_job.tx_atomic != was_atomic:
            self.spool = (
                TxSpool(os.path.join(self.checkpoint_dir, "txspool"))
                if new_job.tx_atomic
                else None
            )

    def flush_spool(self) -> None:
        """Apply the held frontier tx unconditionally — the operator's
        quiesce step (call only when the stream is paused and the
        source is known to end on a tx boundary; the reference's
        shutdown drain is the same judgement call)."""
        if self.spool is None:
            return
        # the generation the next batch to run reads: a batch that
        # failed after writing its own generation replays against the
        # one below it, so that is the one whose txs are held
        gen = self.spool.last_applied()
        if gen is None:
            return
        held = self.spool.read(self.spark, below=gen + 1)
        if held is not None and held.limit(1).count() > 0:
            # the flushed txs fold into the applied position and the
            # task metrics like any streamed batch's
            apply_batch(
                self.spark, held, self.job, self.target, self.catalog,
                gtid_path=self.gtid_path, metrics=self.metrics,
            )
            self.spool.clear(self.spark, gen)

    def position(self) -> dict:
        """Stream position (reference: Gtid/BinlogFilePos query API,
        api/handler/v2 + applier_gtid_executed.go): the applied-GTID
        interval set (survives pause/resume — read from the persisted
        file, not query state) plus the last progress' source offsets."""
        from dtle_spark.sources.gtid import GtidSet

        return {"gtid_set": GtidSet.load(self.gtid_path).to_str(), **self._progress()}

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
            while self.active:
                if GtidSet.load(self.gtid_path).contains_set(self.target_gtid):
                    self.finished = True
                    q = self.query  # a pause may have cleared it meanwhile
                    if q is not None:
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
        out = {"type": "replication", "active": self.active}
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
