"""Streaming SCD2 history maintenance: the versioned temporal table
(operators/scd2.py) kept current over a CDC change stream — the
eighth managed job type, on the subtree/generation protocol the
profiler and rollup maintainer use.

Storage insight that makes the protocol fit: a version row is only
MUTATED when it closes, and it closes exactly when its key's next
event arrives. So instead of updating rows in place, each micro-batch
persists its EVENTS (opens carrying the image, closes) as an
idempotent ``ingest_batch=<id>/`` subtree, and:

- history() derives versions on read: one lead() window over the
  stored events (versions_of_events) — events only, never the source
  table;
- replay is idempotent: a redelivered batch overwrites its own
  subtree (same events -> same derived versions); within a batch,
  redelivered (sid, gno, seq) rows are deduped (A10);
- compact() splits the derived versions: CLOSED versions are
  immutable forever, so each compaction appends exactly the
  newly-closed ones as a ``closed/fold=<watermark>/`` SEGMENT of a
  store shared across generations (appended once, never rewritten —
  a version closes exactly once, so it lands in exactly one fold);
  each key's still-OPEN event is retained as the folded events
  subtree so a later close can bound it. The commit is the shared
  generation store's (streaming/store.py — atomic pointer, compaction
  watermark, checkpoint stamp). Compaction cost is
  O(events-since-last-compaction), NOT O(|history|): prior folds are
  never read, copied, or rewritten.
- crash safety: a fold whose generation swap never landed (crash
  between the segment write and the ``_CURRENT`` swap) is orphaned ABOVE
  the committed watermark — INVISIBLE to reads (history() includes
  only folds <= the current generation's watermark, since the
  orphan's versions are still derivable from the old generation's
  events) and GC'd at the next compact() before any new segment is
  written, so neither a read in the window nor a retry at a
  different watermark can double-count its versions.

Write shape: every parquet write here is multi-task (one file per
upstream partition — no coalesce(1) funnel): the per-batch event
subtree is O(batch) rows and the retained-open subtree O(live keys),
both unbounded at 100 TB, so neither may serialize through one core.

Read cost: |closed versions| + a window over events-since-compaction
(Δ-bounded). Write cost per batch: O(batch). At 100 TB the closed
store is the large immutable artifact — its fold segments are already
time-ordered (fold = compaction watermark), so retention/archival
drops whole segments (``drop_folds_before``; the ``_RETAINED_FROM``
floor makes as_of reads below the retained window fail loud); the
live working set is one open event per key.

Reference context: the reference replicates current state only; audit
/ temporal history is the downstream product its users build by hand.
SURVEY §2.6 family.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dtle_spark.operators.apply import dedupe_redelivered
from dtle_spark.operators.scd2 import (
    as_of_seq,
    events_of_changes,
    seed_events,
    temporal_join,
    versions_of_events,
)
from dtle_spark.streaming.store import GenerationStore, StreamJob
from dtle_spark.sinks.lease import leased

_RETAINED_FROM_FILE = "_RETAINED_FROM"
_RETAINED_FROM_TS_FILE = "_RETAINED_FROM_TS"
_EVENTS = "events"
_CLOSED = "closed"
_SEED_BATCH = -1


class Scd2HistoryJob(StreamJob):
    """Maintain the SCD2 history of one keyed table over its change
    stream. ``key_cols`` name the unique key inside the row images;
    the optional snapshot seed lands as its own idempotent subtree at
    batch id -1 (seed once, before or after starting the stream)."""

    _ckpt_sub = "scd2_history"

    def __init__(
        self,
        spark: SparkSession,
        source_dir: str,
        history_root: str,
        checkpoint_dir: str,
        key_cols: list[str],
        schema=None,
        max_files_per_trigger: int = 1,
        reader=None,
        auto_compact_batches: int | None = None,
    ):
        self.spark = spark
        self.source_dir = source_dir
        self.history_root = history_root
        self.checkpoint_dir = checkpoint_dir
        self.key_cols = list(key_cols)
        self.schema = schema
        self.max_files_per_trigger = max_files_per_trigger
        self.reader = reader
        # self-bounding merge-on-read: when set, apply_batch triggers
        # compact() once event subtrees exceed this bound (foreachBatch
        # thread = the only writer, so the quiesce precondition holds
        # by construction; rides the JSON job spec as a plain int)
        self.auto_compact_batches = auto_compact_batches
        self.store = GenerationStore(history_root, (_EVENTS,))

    # -- batch core (exposed for tests/replay) ---------------------------

    def _write_events(self, events: DataFrame, batch_id: int) -> None:
        # no coalesce: the subtree is O(batch) rows — it must write
        # with the batch's own parallelism, never through one task
        gen = self.store.current()
        (
            events.write.mode("overwrite")
            .parquet(os.path.join(gen, _EVENTS, f"ingest_batch={batch_id}"))
        )

    def seed(self, base: DataFrame, base_seq: int = -1) -> None:
        """Snapshot seed: every base row opens at ``base_seq``. Lands
        as subtree -1, so re-seeding overwrites idempotently — but
        only BEFORE the first compaction: afterwards the seed's opens
        are already folded (closed versions + retained open events),
        and a fresh subtree -1 would double-open every seeded key."""
        if self.store.watermark() >= 0:
            raise ValueError(
                "cannot seed after compaction: the seed batch is "
                "already folded into the closed store / retained open "
                "events — start a fresh history_root to re-seed"
            )
        self._write_events(
            seed_events(base, self.key_cols, base_seq), _SEED_BATCH
        )

    @leased("history_root", "history")
    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        if self.store.admit(batch_id, self.checkpoint_dir) is None:
            return  # already folded by a compaction — skip
        # schema-evolution contract (streaming/schema_guard.py): SCD2
        # history pins the row-image schema hard — on_additive="fail".
        # A widened image would give every OPEN interval a column its
        # opening version never recorded (as-of reads before the change
        # would have to invent values), so adopting new columns is a
        # semantic decision: re-seed a new history root. Narrowed or
        # retyped images fail loud with that rebuild path.
        from dtle_spark.streaming.schema_guard import (
            check_upstream_schema,
            struct_cols,
        )

        check_upstream_schema(
            self.history_root, struct_cols(batch), "HistoryJob",
            on_additive="fail",
        )
        events = events_of_changes(dedupe_redelivered(batch), self.key_cols)
        self._write_events(events, batch_id)
        if self.auto_compact_batches is not None:
            self.compact(max_batches=self.auto_compact_batches)

    # -- reads ------------------------------------------------------------

    def _read_events(self) -> DataFrame | None:
        gen = self.store.current()
        root = os.path.join(gen, _EVENTS)
        batches = self.store.batches(gen)
        if not batches:
            return None
        return self.spark.read.option("basePath", root).parquet(
            *[os.path.join(root, b) for b in batches]
        ).drop("ingest_batch")

    def _closed_root(self) -> str:
        # the closed store is SHARED across generations (history_root
        # level): folds are immutable segments, so a generation swap
        # has nothing to copy — carry-by-reference is just "don't move"
        return os.path.join(self.history_root, _CLOSED)

    def _fold_dirs(self) -> list[str]:
        root = self._closed_root()
        if not os.path.isdir(root):
            return []
        return sorted(
            d for d in os.listdir(root)
            if d.startswith("fold=")
            and os.path.isdir(os.path.join(root, d))
        )

    def _read_closed(self) -> DataFrame | None:
        root = self._closed_root()
        # COMMITTED folds only (fold <= the current generation's
        # watermark): a fold orphaned by a crashed compaction (segment
        # written, _CURRENT swap never landed) sits ABOVE the committed
        # watermark and its versions are still derivable from the old
        # generation's events — reading it would double-count until the
        # next compact() GCs it. Orphans are invisible to reads, not
        # just GC'd later.
        wm = self.store.watermark()
        folds = [
            f for f in self._fold_dirs() if int(f.split("=", 1)[1]) <= wm
        ]
        if not folds:
            return None
        return (
            self.spark.read.option("basePath", root)
            .parquet(*[os.path.join(root, f) for f in folds])
            .drop("fold")
        )

    def history(self) -> DataFrame | None:
        """The full versioned history: closed versions (immutable
        fold segments) + versions derived from events since
        compaction."""
        ev = self._read_events()
        if ev is None:
            return self._read_closed()
        live = versions_of_events(ev, self.key_cols)
        closed = self._read_closed()
        if closed is None:
            return live
        return closed.unionByName(live)

    def current(self) -> DataFrame | None:
        h = self.history()
        return None if h is None else h.filter("is_current")

    # -- retention ---------------------------------------------------------

    def retained_from_seq(self) -> int:
        """The smallest seq at which :meth:`as_of` reads are still
        EXACT. Until a retention drop it is ``-2^62`` (everything);
        after :meth:`drop_folds_before` it is the max ``valid_to_seq``
        across all dropped versions — at or above it no dropped
        version was alive (intervals are half-open [from, to))."""
        try:
            with open(
                os.path.join(self._closed_root(), _RETAINED_FROM_FILE)
            ) as f:
                return int(f.read().strip())
        except (FileNotFoundError, NotADirectoryError):
            return -(1 << 62)

    def drop_folds_before(self, fold_watermark: int) -> int:
        """Retention: delete the closed fold segments with
        ``fold < fold_watermark`` — the archival path the append-only
        store was designed for (folds are immutable, time-ordered by
        compaction watermark, so aging out is whole-segment deletes,
        never a rewrite). Only COMMITTED folds are eligible (orphans
        above the generation watermark belong to compact()'s GC).

        Before deleting, the max ``valid_to_seq`` across the doomed
        segments is folded into the shared ``_RETAINED_FROM`` floor —
        written BEFORE the deletes, so a crash mid-drop leaves the
        floor conservatively high, never an unguarded partial window.
        A doomed row with NULL ``valid_to_seq`` (a partially-written
        or corrupted fold) makes the floor unprovable, so the drop
        REFUSES rather than deleting unguarded; empty doomed segments
        (zero rows) delete fine — there is nothing to guard.
        :meth:`history` afterwards returns the retained window only;
        :meth:`as_of` at a seq below the floor fails loud instead of
        silently returning a state missing the dropped versions.
        Returns the number of folds dropped."""
        wm = self.store.watermark()
        root = self._closed_root()
        doomed = [
            f for f in self._fold_dirs()
            if int(f.split("=", 1)[1]) < fold_watermark
            and int(f.split("=", 1)[1]) <= wm
        ]
        if not doomed:
            return 0
        doomed_df = self.spark.read.option("basePath", root).parquet(
            *[os.path.join(root, f) for f in doomed]
        )
        aggs = [
            F.count(F.lit(1)),
            F.count("valid_to_seq"),
            F.max("valid_to_seq"),
        ]
        timed = "valid_to_ts" in doomed_df.columns
        if timed:
            aggs.append(F.max(F.unix_micros(F.col("valid_to_ts"))))
        agg_row = doomed_df.agg(*aggs).collect()[0]
        n_rows, n_to, hi = agg_row[0], agg_row[1], agg_row[2]
        if n_rows != n_to:
            # a closed version ALWAYS carries valid_to_seq; a NULL
            # means a corrupted / partially-written fold. Deleting it
            # anyway would leave no _RETAINED_FROM floor for whatever
            # it held, so the as_of/enrich guards would never engage —
            # refuse instead of silently un-guarding the drop.
            raise ValueError(
                f"{n_rows - n_to} closed rows in {doomed} have NULL "
                "valid_to_seq (partially written or corrupted fold) — "
                "refusing to drop without a provable retention floor; "
                "repair or remove the bad segment explicitly"
            )
        if hi is not None:
            floor = max(self.retained_from_seq(), int(hi))
            with open(
                os.path.join(root, _RETAINED_FROM_FILE), "w"
            ) as f:
                f.write(str(floor))
        # the EVENT-TIME floor, for :meth:`enrich`'s window guard —
        # written (before the deletes, same crash discipline) only
        # when the dropped versions carried event times; an untimed
        # stream leaves no ts floor and enrich() refuses after
        # retention rather than guess
        if timed and agg_row[3] is not None:
            prev = self.retained_from_ts_micros()
            ts_floor = max(prev if prev is not None else -(1 << 62),
                           int(agg_row[3]))
            with open(
                os.path.join(root, _RETAINED_FROM_TS_FILE), "w"
            ) as f:
                f.write(str(ts_floor))
        for f in doomed:
            shutil.rmtree(os.path.join(root, f), ignore_errors=True)
        return len(doomed)

    def retained_from_ts_micros(self) -> int | None:
        """The event-time retention floor (epoch micros), or None when
        no timed retention drop has happened — the bound below which
        :meth:`enrich` cannot prove a fact's version still exists."""
        try:
            with open(
                os.path.join(self._closed_root(), _RETAINED_FROM_TS_FILE)
            ) as f:
                return int(f.read().strip())
        except (FileNotFoundError, NotADirectoryError):
            return None

    def enrich(
        self,
        facts: DataFrame,
        fk_map: dict[str, str],
        ts_col: str,
        select: dict[str, str],
        how: str = "left",
        check_window: bool = True,
    ) -> DataFrame:
        """Per-row temporal enrichment over the RETAINED history
        (operators/scd2.py temporal_join on :meth:`history`) — with
        the guard :func:`temporal_join` alone cannot provide: after
        :meth:`drop_folds_before`, a fact older than the retention
        floor would SILENTLY enrich as NULL (its version's fold is
        gone), which under left-join semantics is indistinguishable
        from "the key never existed". So when retention has trimmed
        the store, facts below the event-time floor fail loud; an
        untimed store that was trimmed refuses entirely (no ts floor
        exists to prove the window). ``check_window=False`` is the
        explicit caller-takes-responsibility escape (e.g. facts known
        newer by construction — the guard costs one pass over facts).
        """
        if check_window and self.retained_from_seq() > -(1 << 62):
            ts_floor = self.retained_from_ts_micros()
            if ts_floor is None:
                raise ValueError(
                    "enrich over a retention-trimmed UNTIMED history: "
                    "no event-time floor exists, so out-of-window "
                    "facts cannot be detected — pass "
                    "check_window=False only if every fact is known "
                    "to postdate the dropped folds"
                )
            n_below = facts.filter(
                F.unix_micros(F.col(ts_col)) < F.lit(ts_floor)
            ).count()
            if n_below:
                raise ValueError(
                    f"{n_below} fact rows predate the retention floor "
                    f"(epoch micros {ts_floor}): their dim versions "
                    "were dropped by drop_folds_before and a left "
                    "join would silently enrich them as NULL — "
                    "restore the folds from archive or filter/split "
                    "the batch at the floor"
                )
        h = self.history()
        if h is None:
            raise ValueError("enrich over an empty history: seed it first")
        return temporal_join(facts, h, fk_map, ts_col, select, how)

    def as_of(self, seq: int) -> DataFrame | None:
        """Exact time-travel read over the RETAINED window
        (operators/scd2.py as_of_seq on :meth:`history`). Below the
        retention floor the dropped folds' versions would be missing
        from the answer, so the read refuses instead of lying."""
        floor = self.retained_from_seq()
        if seq < floor:
            raise ValueError(
                f"as_of({seq}) is below the retention floor {floor}: "
                "closed folds covering that seq were dropped by "
                "drop_folds_before — restore them from archive or "
                "query a seq >= the floor"
            )
        h = self.history()
        return None if h is None else as_of_seq(h, seq)

    # -- compaction --------------------------------------------------------

    @leased("history_root", "history")
    def compact(self, max_batches: int = 16, gc_previous: bool = True) -> int:
        """Fold: the NEWLY closed versions append as one immutable
        ``closed/fold=<watermark>/`` segment (prior folds untouched —
        O(Δ-since-last-compaction), never O(|history|)); each key's
        still-open EVENT is retained as the folded events subtree (a
        later close must be able to bound it). Committed as a new
        generation (streaming/store.py); run with the job quiesced
        (the family contract). Returns subtrees folded."""
        gen = self.store.current()
        batches = self.store.batches(gen)
        if len(batches) <= max_batches:
            return 0
        wm = self.store.watermark(gen)
        if self.store.high_water(gen) <= wm:
            # nothing ingested since the committed watermark: a re-run
            # would reuse fold=<hi> and overwrite a COMMITTED segment
            return 0

        # GC folds orphaned by a crashed compaction (segment written,
        # pointer swap never landed): any fold above the COMMITTED
        # watermark was never referenced, and a retry at a different
        # watermark would otherwise double-count its versions
        for f in self._fold_dirs():
            if int(f.split("=", 1)[1]) > wm:
                shutil.rmtree(
                    os.path.join(self._closed_root(), f), ignore_errors=True
                )

        ev = self._read_events().localCheckpoint()  # versions + open fold
        vers = versions_of_events(ev, self.key_cols)
        newly_closed = vers.filter(~F.col("is_current"))
        open_events = ev.filter(F.col("kind") == "o").join(
            vers.filter("is_current").select(
                *self.key_cols, F.col("valid_from_seq").alias("seq")
            ),
            self.key_cols + ["seq"],
            "inner",
        ).select(*ev.columns)

        def fold(gen, new_gen, hi):
            # append-only: exactly the versions closed since the last
            # compaction — each closes once, so each lands in one fold
            newly_closed.write.mode("overwrite").parquet(
                os.path.join(self._closed_root(), f"fold={hi}")
            )
            # no coalesce: O(live keys) rows — same no-funnel rule as
            # the per-batch event write
            (
                open_events.write.mode("overwrite")
                .parquet(os.path.join(new_gen, _EVENTS, f"ingest_batch={hi}"))
            )

        # root-as-generation GC removes only events/ — closed/ is the
        # store shared across generations
        self.store.commit_generation(fold, gc_previous=gc_previous)
        return len(batches)

    # -- lifecycle: start/pause/resume from StreamJob ---------------------

    def position(self) -> dict:
        return self.store.position()

    def stats(self) -> dict:
        return {
            "type": "scd2_history",
            "active": self.active,
            **self.store.stats(),
            "closed_folds": len(self._fold_dirs()),
            "retained_from_seq": self.retained_from_seq(),
        }
