"""The generation store every maintained streaming state shares (the
rollup, the sketch profiler, SCD2 history, the join view, the vector
index), and the micro-batch lifecycle every streamed job shares.

On-disk format — this module is the only code that knows it:

- each micro-batch lands as its own ``ingest_batch=<id>/`` subtree
  under one of the store's batch dirs; a redelivered batch OVERWRITES
  its own subtree, so at-least-once delivery converges to
  exactly-once content;
- a compaction folds the subtrees into a NEW generation dir
  ``gen-<n+1>`` and commits it by swapping the ``_CURRENT`` pointer
  (one ``os.replace`` — the rename IS the commit point). Until the
  first compaction the store root itself is the generation. Every
  control file is underscore-prefixed, which Spark's file index skips,
  so a reader racing the swap sees a consistent old OR new generation;
- a generation carries ``_COMPACTED_THROUGH``, the highest folded
  batch id: a replayed batch at or below it is skipped, so folding
  never undoes replay idempotence;
- a generation carries ``_CHECKPOINT_ID``: batch ids are meaningful
  only relative to ONE stream checkpoint, so a job on a fresh
  checkpoint against an old root fails loudly instead of silently
  skipping or double-counting.

A commit first deletes any UNcommitted ``gen-<n+1>`` (a compaction
that died before its swap), so a retry at a later watermark can never
read the orphan's subtrees beside its own.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

_CURRENT = "_CURRENT"
_COMPACTED_THROUGH = "_COMPACTED_THROUGH"
_CHECKPOINT_ID = "_CHECKPOINT_ID"
_BATCH_PREFIX = "ingest_batch="


def ingest_batches(d: str) -> list[str]:
    """The ``ingest_batch=<id>`` subtree names directly under ``d``."""
    try:
        return sorted(x for x in os.listdir(d) if x.startswith(_BATCH_PREFIX))
    except FileNotFoundError:
        return []


def batch_no(subtree: str) -> int:
    return int(subtree.split("=", 1)[1])


def resolve_generation(root: str) -> str:
    """The ACTIVE generation: ``root`` itself until the first
    compaction, then the generation dir the ``_CURRENT`` pointer
    names."""
    try:
        with open(os.path.join(root, _CURRENT)) as f:
            return os.path.join(root, f.read().strip())
    except FileNotFoundError:
        return root


def check_stream_stamp(root: str, checkpoint_dir: str) -> None:
    """The first writer stamps its checkpoint identity into ``root``;
    any later job must present the same one — resume the original
    checkpoint_dir to keep the position, or start a fresh root. A job
    recreated with a fresh checkpoint restarts batch ids at 0, so the
    replay watermarks would silently SKIP genuinely new batches and
    re-ingest already-folded data above them."""
    path = os.path.join(root, _CHECKPOINT_ID)
    ident = os.path.abspath(checkpoint_dir)
    try:
        with open(path) as f:
            current = f.read().strip()
    except FileNotFoundError:
        os.makedirs(root, exist_ok=True)
        with open(path, "w") as f:
            f.write(ident)
        return
    if current != ident:
        raise ValueError(
            f"checkpoint mismatch for {root}: its batch watermarks were "
            f"written under checkpoint {current}, this job runs under "
            f"{ident} — batch ids from a fresh checkpoint restart at 0 "
            "and the watermarks would silently skip or duplicate data. "
            "Reuse the original checkpoint_dir, or start a new root."
        )


class GenerationStore:
    """One maintained store rooted at ``root``. ``batch_dirs`` name the
    generation subdirs that hold ingest subtrees (``""`` = the
    generation dir itself); the first one is the store's primary
    stream, the one position()/stats() count. ``owned`` names further
    per-generation entries (files or dirs) the garbage collector
    removes when the root itself was the superseded generation —
    anything else at the root (shared stores, pins) survives."""

    def __init__(
        self, root: str, batch_dirs: tuple[str, ...] = ("",),
        owned: tuple[str, ...] = (),
    ):
        self.root = root
        self.batch_dirs = batch_dirs
        self.owned = owned

    def current(self) -> str:
        return resolve_generation(self.root)

    def watermark(self, gen: str | None = None) -> int:
        """The highest batch id folded into ``gen`` (default: the
        current generation), -1 before any compaction."""
        try:
            with open(os.path.join(gen or self.current(), _COMPACTED_THROUGH)) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return -1

    def batches(self, gen: str | None = None, sub: str | None = None) -> list[str]:
        """Ingest subtree names of ``sub`` (default: the primary batch
        dir) in generation ``gen`` (default: the current one)."""
        return ingest_batches(os.path.join(
            gen or self.current(), self.batch_dirs[0] if sub is None else sub
        ))

    def admit(self, batch_id: int, checkpoint_dir: str) -> str | None:
        """Per-batch entry check: the generation a batch writes into,
        or None when a compaction already folded it (a replay — skip).
        The stamp check comes FIRST: ids from a different checkpoint
        are not comparable to the recorded watermark at all."""
        gen = self.current()
        check_stream_stamp(gen, checkpoint_dir)
        return None if batch_id <= self.watermark(gen) else gen

    def high_water(self, gen: str) -> int:
        """The watermark a fold of ``gen`` commits: its highest ingest
        subtree id across every batch dir, else the committed one."""
        ids = [batch_no(b) for d in self.batch_dirs for b in self.batches(gen, d)]
        return max(ids, default=self.watermark(gen))

    def position(self) -> dict:
        gen = self.current()
        return {
            "generation": os.path.basename(gen),
            "compacted_through": self.watermark(gen),
            "max_ingest_batch": max(map(batch_no, self.batches(gen)), default=-1),
        }

    def stats(self) -> dict:
        gen = self.current()
        return {
            "generation": os.path.basename(gen),
            "compacted_through": self.watermark(gen),
            "ingest_batches": len(self.batches(gen)),
        }

    def commit_generation(
        self,
        write_fn: Callable[[str, str, int], None],
        carry: tuple[str, ...] = (),
        gc_previous: bool = False,
    ) -> str:
        """Write and commit the next generation. ``write_fn(gen,
        new_gen, hi)`` writes the fold of the current generation
        ``gen`` into ``new_gen`` (its batch subtree is
        ``ingest_batch=<hi>``). Then the watermark ``hi`` lands, the
        checkpoint stamp and the ``carry`` sidecars the fold did not
        write itself are copied over, ``_CURRENT`` swaps, and — with
        ``gc_previous`` — the superseded generation is deleted (only
        its owned entries when it was the root). Run quiesced: a batch
        landing in the old generation between the fold's read and the
        swap would be dropped. Returns the new generation's path."""
        gen = self.current()
        base = os.path.basename(gen)
        n = int(base.split("-", 1)[1]) if base.startswith("gen-") else 0
        new_name = f"gen-{n + 1}"
        new_gen = os.path.join(self.root, new_name)
        # an uncommitted gen-<n+1> is an orphan of a compaction that
        # died before its swap: its subtrees must not survive beside
        # this attempt's
        shutil.rmtree(new_gen, ignore_errors=True)
        os.makedirs(new_gen)
        hi = self.high_water(gen)
        write_fn(gen, new_gen, hi)
        with open(os.path.join(new_gen, _COMPACTED_THROUGH), "w") as f:
            f.write(str(hi))
        for name in (_CHECKPOINT_ID, *carry):
            src, dst = os.path.join(gen, name), os.path.join(new_gen, name)
            if os.path.lexists(dst):
                continue
            if os.path.isdir(src):
                shutil.copytree(src, dst)
            elif os.path.exists(src):
                shutil.copy(src, dst)
        tmp = os.path.join(self.root, _CURRENT + ".tmp")
        with open(tmp, "w") as f:
            f.write(new_name)
        os.replace(tmp, os.path.join(self.root, _CURRENT))  # the commit point
        if gc_previous:
            self._gc(gen)
        return new_gen

    def _gc(self, gen: str) -> None:
        if gen != self.root:
            shutil.rmtree(gen, ignore_errors=True)
            return
        doomed = [d for d in (*self.batch_dirs, *self.owned) if d]
        if "" in self.batch_dirs:
            doomed += ingest_batches(gen)
        for path in (os.path.join(gen, d) for d in doomed):
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
            elif os.path.exists(path):
                os.remove(path)


class StreamJob:
    """The micro-batch lifecycle every managed job shares — the
    maintainers here, replication and subscription in pipeline.py: the
    file stream (or a ``reader(spark)`` hook) feeds
    ``foreachBatch(apply_batch)`` with the stream checkpoint at
    ``<checkpoint_dir>/<_ckpt_sub>`` (``checkpoint_dir`` itself when
    ``_ckpt_sub`` is empty). Maintainers drain under an availableNow
    trigger; a subclass picks another in ``_trigger``. Pause stops the
    query and the checkpoint keeps the position (the reference's pause
    keeps the gtid in Consul, store.go:40-446); resume restarts from it.
    Subclasses set ``source_dir``, ``checkpoint_dir``, ``schema``,
    ``max_files_per_trigger`` and ``reader``, and implement
    apply_batch."""

    _ckpt_sub: str
    query = None

    def _trigger(self) -> dict:
        return {"availableNow": True}

    def start(self):
        if self.reader is not None:
            stream = self.reader(self.spark)
        else:
            stream = (
                self.spark.readStream.schema(self.schema)
                .option("maxFilesPerTrigger", self.max_files_per_trigger)
                .parquet(self.source_dir)
            )
        ckpt = self.checkpoint_dir
        if self._ckpt_sub:
            ckpt = os.path.join(ckpt, self._ckpt_sub)
        self.query = (
            stream.writeStream.foreachBatch(self.apply_batch)
            .option("checkpointLocation", ckpt)
            .trigger(**self._trigger())
            .start()
        )
        return self

    def process_available(self) -> None:
        if self.query is not None:
            self.query.awaitTermination()

    def pause(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None

    def resume(self):
        if self.query is None:
            self.start()
        return self

    @property
    def active(self) -> bool:
        return self.query is not None and self.query.isActive
