"""Streaming corpus ingest: the training-data pipeline in streaming
mode — raw document micro-batches flow through exact + near-dup
filtering AGAINST THE ACCUMULATED CORPUS, and survivors append to a
manifest-committed table.

Composition of existing pieces, no new algorithms:

- within-batch exact dedup (fingerprint keep-min),
- cross-batch dedup via the PERSISTED dedup index: survivors are
  stored WITH their index columns (exact fingerprint, hashed shingle
  set, LSH band digests — :func:`with_dedup_index`), so each new batch
  probes stored columns (:func:`probe_index`) and the history text is
  fingerprinted exactly ONCE, at its own ingest. At 100 TB an
  increment costs O(increment) hashing + index equi-joins — history is
  never re-hashed. Keeping the index columns IN the corpus table makes
  data + index one atomic commit (no cross-table crash window),
- log-structured append (:meth:`ManifestedTarget.append`): each batch
  commits as one additional manifest entry, O(batch) regardless of
  corpus size, atomically with the batch-id watermark (replay-safe:
  foreachBatch redelivers on crash; a batch id at or below the
  committed watermark is skipped, so at-least-once delivery converges
  to exactly-once corpus content),
- manifest time travel gives per-batch corpus snapshots for free,
- OPTIONAL drift quarantine (``gate_thresholds``): each raw batch's
  sketch profile is judged against a blessed corpus baseline
  (functions/dq.py dq_drift_report + judge_drift) BEFORE it can touch
  the corpus or its dedup index — a poisoned increment (wrong source
  mix, truncated texts, a format break upstream) lands in the
  ``quarantine`` table with its judged report instead of polluting
  state that is expensive to unwind (dedup survivors depend on what
  entered before them). Quarantined batches are releasable after
  review (:meth:`release_quarantine` — re-runs the dedup path, no
  gate). Gate checks default to the scale-invariant TV distances;
  ``drift:kmv_ratio`` compares absolute cardinalities and is
  meaningless batch-vs-corpus, so name it only when you track it.

probe_index's equivalence to the re-hashing operator
(incremental_neardup_filter) is pytest-pinned.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dtle_spark.functions.dedup import (
    INDEX_COLS,
    probe_index,
    probe_index_self,
    with_dedup_index,
)
from dtle_spark.sinks.table_sink import ParquetTableTarget
from dtle_spark.streaming.store import StreamJob

SCHEMA_NAME = "corpus"
TABLE_NAME = "documents"
Q_TABLE = "quarantine"
_WM_KEY = "__ingest_batch"
_Q_BATCH = "__q_batch"

# gate check -> the sketch kind it needs (built per batch and at promote)
_CHECK_KINDS = {
    "drift:loghist_tv": "loghist",
    "drift:cms_tv": "cms",
    "drift:kmv_ratio": "kmv",
}


class CorpusIngestJob(StreamJob):
    _ckpt_sub = "ingest"

    def __init__(
        self,
        spark: SparkSession,
        source_dir: str,
        target_root: str,
        checkpoint_dir: str,
        schema: str = "doc_id long, text string, lang string, source string",
        id_col: str = "doc_id",
        text_col: str = "text",
        threshold: float = 0.5,
        max_files_per_trigger: int = 1,
        reader=None,
        gate_thresholds: dict[str, float] | None = None,
        gate_key_sql: str = "source",
        gate_value_sql: str = "length(text)",
        auto_compact_segments: int | None = None,
        report_retention: int = 64,
    ):
        self.spark = spark
        self.source_dir = source_dir
        self.checkpoint_dir = checkpoint_dir
        self.schema = schema
        self.id_col = id_col
        self.text_col = text_col
        self.threshold = threshold
        self.max_files_per_trigger = max_files_per_trigger
        # drift quarantine config (module docstring): {check_name ->
        # max deviation}; the sketch kinds built per batch derive from
        # the named checks, so gate cost is only what the policy tracks
        if gate_thresholds:
            unknown = sorted(set(gate_thresholds) - set(_CHECK_KINDS))
            if unknown:
                raise ValueError(
                    f"unknown gate checks {unknown}; known: "
                    f"{sorted(_CHECK_KINDS)}"
                )
        self.gate_thresholds = dict(gate_thresholds or {})
        self.gate_key_sql = gate_key_sql
        self.gate_value_sql = gate_value_sql
        # self-bounding small-file chore: when set, each committed
        # batch triggers compact_segments once the corpus table's
        # segment count exceeds this (foreachBatch thread = the only
        # writer; the manifest swap keeps readers atomic) — same
        # discipline as the maintainers' auto_compact_batches
        self.auto_compact_segments = auto_compact_segments
        # gate-report retention: reports are batch-count-unbounded
        # (one dir per quarantined batch, forever) and sit outside the
        # manifest's compaction story — bound them like every other
        # maintained store. A report whose batch is still AWAITING
        # review is never pruned (it is the reviewer's evidence);
        # beyond `report_retention`, the oldest RELEASED batches'
        # reports are deleted.
        if report_retention < 1:
            raise ValueError("report_retention must be >= 1")
        self.report_retention = report_retention
        # raw-corpus on-ramp hook: a callable (spark) -> STREAMING
        # documents frame (e.g. sources/text_corpus.stream_jsonl_corpus
        # over a JSONL dump tree); None keeps the parquet default.
        # Everything downstream — index columns, near-dup probes,
        # manifest commits — is shape-driven, so any documents-shaped
        # stream plugs in.
        self.reader = reader
        self.target = ParquetTableTarget(target_root)

    # -- drift quarantine gate ---------------------------------------------

    def _gate_root(self) -> str:
        return os.path.join(self.target.root, "_gate_baseline")

    def _gate_kinds(self) -> tuple[str, ...]:
        return tuple(sorted(
            {_CHECK_KINDS[c] for c in self.gate_thresholds}
        ))

    def _profile_of(self, df: DataFrame) -> dict[str, DataFrame]:
        from dtle_spark.functions import sketches as sk

        out: dict[str, DataFrame] = {}
        kinds = self._gate_kinds()
        if "loghist" in kinds:
            out["loghist"] = sk.loghist_sketch(df, self.gate_value_sql)
        if "cms" in kinds:
            out["cms"] = sk.cms_sketch(df, self.gate_key_sql)
        if "kmv" in kinds:
            out["kmv"] = sk.kmv_distinct(df, self.gate_key_sql)
        return out

    def promote_baseline(self, keep_previous: int = 1) -> str:
        """Bless the CURRENT corpus's sketch profile as the gate
        baseline (atomic pointer — streaming/profile.py helpers). Run
        after seeding/backfilling a known-good corpus, and again
        whenever an accepted shift should become the new normal."""
        from dtle_spark.streaming.profile import write_profile_baseline

        if not self.gate_thresholds:
            raise ValueError(
                "promote_baseline on an ungated ingest: pass "
                "gate_thresholds to enable the drift quarantine"
            )
        corpus = self.corpus()
        if corpus is None:
            raise ValueError(
                "promote_baseline before any ingested batch: nothing "
                "to bless"
            )
        return write_profile_baseline(
            self._gate_root(), self._profile_of(corpus),
            keep_previous=keep_previous,
        )

    def _judge(self, batch: DataFrame) -> DataFrame | None:
        """The judged drift report of one raw batch against the
        blessed baseline, or None when the gate is off / un-blessed
        (an un-blessed gate ingests everything — bootstrap mode)."""
        from dtle_spark.functions.dq import dq_drift_report, judge_drift
        from dtle_spark.streaming.profile import read_profile_baseline

        if not self.gate_thresholds:
            return None
        base = read_profile_baseline(
            self.spark, self._gate_root(), self._gate_kinds()
        )
        if base is None:
            return None
        # emit_decimal=True: judge_drift reads only the `stat` double,
        # and this report is reviewer evidence, never hash-gated output
        # — whereas the default BIGINT lane's 2^53 raise_error guard
        # would turn the gate into a stream-killer exactly at the
        # large-corpus scale it exists to protect.
        return judge_drift(
            dq_drift_report(
                base, self._profile_of(batch), emit_decimal=True
            ),
            self.gate_thresholds,
        )

    def quarantine(self) -> DataFrame | None:
        """Quarantined raw rows (with their ``__q_batch`` id), released
        batches excluded; None when nothing was ever quarantined."""
        q = self.target.read(self.spark, SCHEMA_NAME, Q_TABLE)
        if q is None:
            return None
        released = self._released()
        if released:
            q = q.filter(~F.col(_Q_BATCH).isin(*sorted(released)))
        return q

    def gate_report(self, batch_id: int) -> DataFrame:
        """The judged report recorded when ``batch_id`` was
        quarantined — the reviewer's evidence."""
        return self.spark.read.parquet(
            os.path.join(self._reports_root(), f"batch={batch_id}")
        )

    def _reports_root(self) -> str:
        return self.target.path(SCHEMA_NAME, Q_TABLE) + "_reports"

    def _prune_reports(self) -> int:
        """Delete the oldest RELEASED batches' report dirs beyond
        ``report_retention``. Reports of batches still in review are
        exempt — pruning pending evidence to meet a retention bound
        would be worse than the unbounded growth it fixes (an operator
        letting >retention batches pile up unreviewed has a bigger
        problem than report-directory count). Returns dirs removed."""
        import shutil

        root = self._reports_root()
        try:
            names = os.listdir(root)
        except FileNotFoundError:
            return 0
        released = self._released()
        prunable = sorted(
            int(n.split("=", 1)[1]) for n in names
            if n.startswith("batch=") and int(n.split("=", 1)[1]) in released
        )
        removed = 0
        for b in prunable[: max(0, len(prunable) - self.report_retention)]:
            shutil.rmtree(os.path.join(root, f"batch={b}"),
                          ignore_errors=True)
            removed += 1
        return removed

    def _released_file(self) -> str:
        return os.path.join(self.target.root, "_gate_released")

    def _released(self) -> set[int]:
        try:
            with open(self._released_file()) as f:
                return {int(x) for x in f.read().split()}
        except FileNotFoundError:
            return set()

    def _require_paused(self, op: str) -> None:
        """Chore operations (purge, release) and the stream's
        foreachBatch both do load-modify-save manifest swaps on the
        same tables; interleaving erases whichever commit loses the
        race (and purge's history-severing then physically deletes the
        erased segment's data). Refuse loud instead of racing."""
        if self.active:
            raise RuntimeError(
                f"{op} needs the corpus ingest stream PAUSED: it swaps "
                "the same manifests foreachBatch commits to (pause the "
                "job, run the chore, resume)"
            )

    def release_quarantine(self, batch_id: int) -> int:
        """Operator decision: a reviewed quarantined batch enters the
        corpus through the SAME dedup path (no gate). Idempotent — a
        crash between the ingest commit and the released marker just
        re-runs the dedup path, whose exact/near probes against the
        corpus drop the already-landed rows. Returns rows released.
        Refuses while the stream is active (manifest-swap race)."""
        self._require_paused("release_quarantine")
        if batch_id in self._released():
            return 0
        q = self.target.read(self.spark, SCHEMA_NAME, Q_TABLE)
        rows = None if q is None else q.filter(
            F.col(_Q_BATCH) == batch_id
        ).drop(_Q_BATCH).localCheckpoint()
        if rows is None or not rows.limit(1).count():
            raise ValueError(f"no quarantined batch {batch_id}")
        # never LOWER the corpus watermark: newer batches may have
        # committed while this one sat in review
        cur = self.target.seq_watermark(SCHEMA_NAME, TABLE_NAME)
        self._ingest(rows, max(cur.get(_WM_KEY, -1), batch_id))
        with open(self._released_file(), "a") as f:
            f.write(f"{batch_id}\n")
        self._prune_reports()
        return rows.count()

    # -- batch core (exposed for tests/replay) ---------------------------

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        wm = self.target.seq_watermark(SCHEMA_NAME, TABLE_NAME)
        qwm = self.target.seq_watermark(SCHEMA_NAME, Q_TABLE)
        if max(wm.get(_WM_KEY, -1), qwm.get(_WM_KEY, -1)) >= batch_id:
            return  # replayed batch already committed — skip (idempotent)
        judged = self._judge(batch)
        if judged is not None:
            judged = judged.localCheckpoint()
            if judged.filter(~F.col("passed")).limit(1).count():
                # report FIRST (overwrite — replay-idempotent), then the
                # quarantine append whose watermark is the commit point
                judged.coalesce(1).write.mode("overwrite").parquet(
                    os.path.join(self._reports_root(), f"batch={batch_id}")
                )
                self.target.append(
                    batch.withColumn(_Q_BATCH, F.lit(batch_id).cast("long")),
                    SCHEMA_NAME, Q_TABLE,
                    seq_watermark={_WM_KEY: batch_id},
                )
                return
        self._ingest(batch, batch_id)

    def _ingest(self, batch: DataFrame, wm_value: int) -> None:
        # hash the INCREMENT once: index columns computed here are both
        # the probe side now and the stored index afterwards
        indexed = with_dedup_index(batch, self.id_col, self.text_col).localCheckpoint(
            eager=False
        )
        # within-batch exact dedup: keep the min id per fingerprint.
        # dropDuplicates on (id, fingerprint) afterwards: content-hashed
        # on-ramps (doc_id = xxhash64(source, text)) give IDENTICAL ids
        # to identical rows, so several copies can all equal the min —
        # same (id, fp) rows are the same document by construction.
        # The fingerprint stays in the key so an id COLLISION between
        # two DISTINCT texts never silently drops one (the documented
        # invariant: collisions cannot merge distinct documents)
        keeper = indexed.groupBy("__fp").agg(F.min(self.id_col).alias("__keep"))
        indexed = (
            indexed.join(keeper, "__fp")
            .filter(F.col(self.id_col) == F.col("__keep"))
            .drop("__keep")
            .dropDuplicates([self.id_col, "__fp"])
        )
        # within-batch NEAR-dup pass (ADVICE r4: two near-duplicates in
        # one micro-batch must not both enter the corpus permanently) —
        # same index columns, greedy keep-min per pair
        self_drops = probe_index_self(
            indexed, id_col=self.id_col, threshold=self.threshold
        )
        indexed = indexed.join(
            self_drops, indexed[self.id_col] == self_drops["id"], "left_anti"
        ).localCheckpoint(eager=False)
        history = self.target.read(self.spark, SCHEMA_NAME, TABLE_NAME)
        if history is not None:
            dropped = probe_index(
                history, indexed, id_col=self.id_col, threshold=self.threshold
            )
            survivors = indexed.join(
                dropped, indexed[self.id_col] == dropped["id"], "left_anti"
            )
        else:
            survivors = indexed
        # commit data + index + watermark in ONE manifest swap
        self.target.append(
            survivors, SCHEMA_NAME, TABLE_NAME, seq_watermark={_WM_KEY: wm_value}
        )
        if self.auto_compact_segments is not None:
            self.target.compact_segments(
                self.spark, SCHEMA_NAME, TABLE_NAME,
                max_segments=self.auto_compact_segments,
            )

    # -- lifecycle: start/pause/resume from StreamJob ---------------------

    def position(self) -> dict:
        wm = self.target.seq_watermark(SCHEMA_NAME, TABLE_NAME)
        qwm = self.target.seq_watermark(SCHEMA_NAME, Q_TABLE)
        return {
            "max_ingest_batch": wm.get(_WM_KEY, -1),
            "max_quarantined_batch": qwm.get(_WM_KEY, -1),
            "released": sorted(self._released()),
        }

    def stats(self) -> dict:
        from dtle_spark.sinks.manifest import TableManifest
        from dtle_spark.streaming.profile import profile_baseline_name

        m = TableManifest.load(self.target.path(SCHEMA_NAME, TABLE_NAME))
        q = TableManifest.load(self.target.path(SCHEMA_NAME, Q_TABLE))
        return {
            "type": "corpus_ingest",
            "active": self.active,
            "segments": len(m.entries) if m else 0,
            "ingest_batch": m.seq_watermark.get(_WM_KEY, -1) if m else -1,
            "quarantine_batches": len(q.entries) if q else 0,
            "released": len(self._released()),
            "gate": bool(self.gate_thresholds),
            "baseline": profile_baseline_name(self._gate_root()),
        }

    def corpus(self) -> DataFrame | None:
        """User view: the deduplicated documents, index columns hidden
        (they stay stored — the probe side of the next batch)."""
        df = self.target.read(self.spark, SCHEMA_NAME, TABLE_NAME)
        if df is None:
            return None
        return df.drop(*INDEX_COLS)

    def purge_documents(self, doc_ids: DataFrame) -> dict[str, int]:
        """Takedown / right-to-be-forgotten: HARD-delete the named
        documents from the corpus AND the quarantine table —
        physically (ManifestedTarget.purge_keys: only matching segments
        rewritten, one manifest swap each, time travel severed; a
        takedown surviving in a resolvable snapshot is not a takedown).

        Because the dedup index columns live IN the corpus rows, a
        purged document's fingerprints vanish with it — a later
        re-submission of the same text is NO LONGER a duplicate and
        would re-enter the corpus. That is the correct takedown
        semantics (the content's traces are gone), stated here so
        nobody expects the purge to also blocklist; a blocklist is a
        filter policy, not a delete. ``doc_ids``: one column named
        like ``id_col``. Returns per-table purge counts. Refuses while
        the stream is active (manifest-swap race).

        Gate reports are deliberately EXEMPT from the takedown: a
        report row is a (check_name, sketch-stat) aggregate over a
        whole batch — no document rows, ids, or content ever land in
        it, so there is nothing of the subject's to delete; their
        directory count is bounded separately by ``report_retention``
        (:meth:`_prune_reports`)."""
        self._require_paused("purge_documents")
        ids = doc_ids.select(F.col(self.id_col)).distinct().localCheckpoint()
        return {
            "documents": self.target.purge_keys(
                self.spark, SCHEMA_NAME, TABLE_NAME, self.id_col, ids
            ),
            "quarantine": self.target.purge_keys(
                self.spark, SCHEMA_NAME, Q_TABLE, self.id_col, ids
            ),
        }
