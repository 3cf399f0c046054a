"""Streaming incremental-rollup maintenance: a materialized
SUM/COUNT-class aggregate kept current over a CDC change stream
(operators/rollup.py math, the profiler's storage protocol).

Each micro-batch of change rows is reduced to its per-group signed
DELTA (rollup_delta — map-only, no state read; the stream contract is
image-consistent before/after images, which is what the binlog
bridges emit — reference row events carry exact images,
/root/reference/driver/mysql/binlog/binlog_reader.go:700-1121) and
each delta lands as its own ``ingest_batch=<id>/`` parquet subtree:

- replay-idempotent by construction: a redelivered batch OVERWRITES
  its own subtree — the delta is recomputed from the same rows, so
  at-least-once delivery converges to exactly-once effect without a
  watermark file (within a batch, redelivered (sid,gno,seq) rows are
  deduped first, A10);
- view() merges on read: deltas are additive and order-free, so the
  view is one groupBy over the subtrees with zero-count groups
  dropped — cost O(batches x groups), never a table rescan;
- compact() folds subtrees into a NEW generation of the shared
  generation store (streaming/store.py — atomic pointer, compaction
  watermark, checkpoint stamp), bounding merge-on-read.

Why this exists: the reference replicates tables; its consumers then
re-aggregate downstream. At 100 TB the aggregate IS the product for
dashboards/monitoring, and delta maintenance keeps it current at
batch-grain cost. This is the incremental-view-maintenance classic
(deltas of SPJ+aggregation views), restated on the micro-batch lane
the apply pipeline already runs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dtle_spark.operators.apply import dedupe_redelivered
from dtle_spark.operators.rollup import _N, _fold, rollup_delta
from dtle_spark.streaming.schema_guard import (
    check_upstream_schema,
    struct_cols,
)
from dtle_spark.streaming.store import GenerationStore, StreamJob
from dtle_spark.sinks.lease import leased

_DELTAS = "deltas"


class AggMaintainJob(StreamJob):
    """Maintain one rollup (groups x additive measures) over a change
    stream. ``group_sqls`` / ``measure_sqls`` map output names to SQL
    expressions over the row image; measures must be integral so
    retractions cancel exactly (cents, counts, sizes)."""

    _ckpt_sub = "agg_maintain"

    def __init__(
        self,
        spark: SparkSession,
        source_dir: str,
        view_root: str,
        checkpoint_dir: str,
        group_sqls: dict[str, str],
        measure_sqls: dict[str, str],
        schema=None,
        max_files_per_trigger: int = 1,
        reader=None,
        auto_compact_batches: int | None = None,
    ):
        self.spark = spark
        self.source_dir = source_dir
        self.view_root = view_root
        self.checkpoint_dir = checkpoint_dir
        self.group_sqls = dict(group_sqls)
        self.measure_sqls = dict(measure_sqls)
        self.schema = schema
        self.max_files_per_trigger = max_files_per_trigger
        self.reader = reader
        # self-bounding merge-on-read: apply_batch compacts once delta
        # subtrees exceed this (see join_maintain.py for the pattern)
        self.auto_compact_batches = auto_compact_batches
        self.store = GenerationStore(view_root, (_DELTAS,))

    # -- batch core (exposed for tests/replay) ---------------------------

    @leased("view_root", "agg_maintain")
    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        gen = self.store.admit(batch_id, self.checkpoint_dir)
        if gen is None:
            return  # already folded by a compaction — skip
        # schema-evolution contract (streaming/schema_guard.py): the
        # rollup's SQL expressions reference only first-batch columns,
        # so an upstream ADD COLUMN is ignored (not adopted — its later
        # removal is also a non-event); a dropped or retyped pinned
        # column fails loud with the rebuild path instead of feeding
        # the measures a silently different expression result.
        check_upstream_schema(
            self.view_root, struct_cols(batch), "AggMaintainJob",
            on_additive="ignore",
        )
        delta = rollup_delta(
            dedupe_redelivered(batch), self.group_sqls, self.measure_sqls
        )
        (
            delta.coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(gen, _DELTAS, f"ingest_batch={batch_id}"))
        )
        if self.auto_compact_batches is not None:
            self.compact(max_batches=self.auto_compact_batches)

    # -- reads ------------------------------------------------------------

    def _read_deltas(self) -> DataFrame | None:
        root = os.path.join(self.store.current(), _DELTAS)
        batches = self.store.batches()
        if not batches:
            return None
        return self.spark.read.option("basePath", root).parquet(
            *[os.path.join(root, b) for b in batches]
        ).drop("ingest_batch")

    def view(self) -> DataFrame | None:
        """The maintained rollup: groups + measures + ``__n``, equal to
        the full recompute over all applied changes (additivity), with
        vanished groups removed."""
        deltas = self._read_deltas()
        if deltas is None:
            return None
        g = list(self.group_sqls)
        m = list(self.measure_sqls)
        # drop only all-zero rows (the additive identity) — the same
        # rule as merge_rollup: a zero-count group with a residual
        # indicates an inconsistent stream and must stay visible
        nonzero = F.col(_N) != 0
        for name in m:
            nonzero = nonzero | (F.col(name) != 0)
        return _fold(deltas, g, m).filter(nonzero)

    # -- compaction --------------------------------------------------------

    @leased("view_root", "agg_maintain")
    def compact(self, max_batches: int = 16, gc_previous: bool = True) -> int:
        """Fold per-batch delta subtrees into one in a NEW generation
        (streaming/store.py commit_generation) — run OFF the ingest
        path with the job quiesced (the profiler/vector-index
        contract). Zero-count groups are kept in the folded state: a
        group balanced to zero by later retractions must still cancel
        against pre-compaction history. Returns subtrees folded."""
        batches = self.store.batches()
        if len(batches) <= max_batches:
            return 0

        folded = _fold(
            self._read_deltas(), list(self.group_sqls), list(self.measure_sqls)
        )

        def fold(gen, new_gen, hi):
            (
                folded.coalesce(1)
                .write.mode("overwrite")
                .parquet(os.path.join(new_gen, _DELTAS, f"ingest_batch={hi}"))
            )

        self.store.commit_generation(fold, gc_previous=gc_previous)
        return len(batches)

    # -- lifecycle: start/pause/resume from StreamJob ---------------------

    def position(self) -> dict:
        return self.store.position()

    def stats(self) -> dict:
        return {
            "type": "agg_maintain",
            "active": self.active,
            **self.store.stats(),
        }
