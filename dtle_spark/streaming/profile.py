"""Streaming corpus/stream profiler: the mergeable sketch trio
(functions/sketches.py — KMV distinct, Count-Min frequency,
log-histogram quantiles) maintained ONLINE over a micro-batch stream.

Each micro-batch is reduced to its three bounded sketch states and
each lands as its own ``ingest_batch=<id>/`` parquet subtree under the
sketch's subdir — the vector index's layout discipline
(streaming/ann_serving.py) applied to monitoring state:

- replay-idempotent by construction: a redelivered batch OVERWRITES
  its own subtree (at-least-once delivery converges to exactly-once
  sketch content), no watermark file needed;
- profile() merges on read: every sketch is additive (cms_merge /
  kmv_merge / loghist_merge equal the whole-data sketch, pytest-pinned
  in their function tests), and a batch's state is <= a few thousand
  cells, so the merge cost is O(batches x cells) — control-plane
  sized, never a re-scan of the data;
- compact() folds the accumulated subtrees into one inside a NEW
  generation of the shared generation store (streaming/store.py —
  atomic pointer, compaction watermark, checkpoint stamp), bounding
  merge-on-read for long-lived streams.

Why this exists: a 100 TB training-data pipeline needs per-increment
answers to "how many distinct sources/users so far", "which keys are
suddenly hot", and "did the length/value distribution drift" WITHOUT
re-scanning history. Sketch-per-batch + additive merge is the standard
production answer (per-day sketches fold into per-month ones); the
md5/integer-deterministic construction keeps every number oracle-
gatable, which is what lets the batch queries (heavy_hitters_cms,
kmv_distinct_sketch, quantile_sketch_prices) gate the SAME arithmetic
this job runs online.

Reference context: the reference has no profiling surface; this
extends its streaming metrics bookkeeping (driver/mysql/extractor.go's
counter snapshots) to content statistics, SURVEY §2.6.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dtle_spark.functions import sketches as sk
from dtle_spark.streaming.store import GenerationStore, StreamJob
from dtle_spark.sinks.lease import leased

_SKETCHES = ("cms", "kmv", "loghist")


def write_profile_baseline(
    root: str, profile: dict[str, "DataFrame"], keep_previous: int = 1
) -> str:
    """Persist sketch-profile frames as a blessed baseline: write
    ``<root>/baseline-<n>/<sketch>/`` then swap the ``_BASELINE``
    pointer atomically (os.replace), so a reader never sees a
    half-written baseline and a crash mid-promote leaves the previous
    one in force. Older baselines beyond ``keep_previous`` are GC'd.
    Shared by StreamProfileJob and the corpus-ingest drift gate."""
    os.makedirs(root, exist_ok=True)
    existing = sorted(
        int(d.split("-", 1)[1]) for d in os.listdir(root)
        if d.startswith("baseline-") and os.path.isdir(os.path.join(root, d))
    )
    name = f"baseline-{(existing[-1] + 1) if existing else 0}"
    for sketch, df in profile.items():
        df.coalesce(1).write.mode("error").parquet(
            os.path.join(root, name, sketch)
        )
    tmp = os.path.join(root, "_BASELINE.tmp")
    with open(tmp, "w") as f:
        f.write(name)
    os.replace(tmp, os.path.join(root, "_BASELINE"))
    # keep_previous=0 must keep NONE of the old baselines — a bare
    # [-0:] slice is the whole list, inverting the GC contract
    kept_old = existing[-keep_previous:] if keep_previous > 0 else []
    keep = {name} | {f"baseline-{n}" for n in kept_old}
    for n in existing:
        d = f"baseline-{n}"
        if d not in keep:
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    return name


def profile_baseline_name(root: str) -> str | None:
    """The promoted baseline's name (pointer read), or None."""
    try:
        with open(os.path.join(root, "_BASELINE")) as f:
            return f.read().strip()
    except FileNotFoundError:
        return None


def read_profile_baseline(
    spark: "SparkSession", root: str, kinds=_SKETCHES
) -> dict[str, "DataFrame"] | None:
    """The promoted baseline's frames for the requested sketch kinds,
    through the atomic pointer; None before the first promote. A
    missing kind directory under a promoted baseline fails loud — it
    means the promote and the gate disagree about which sketches are
    tracked."""
    name = profile_baseline_name(root)
    if name is None:
        return None
    return {
        sketch: spark.read.parquet(os.path.join(root, name, sketch))
        for sketch in kinds
    }


class StreamProfileJob(StreamJob):
    """Maintain the three sketches over a stream of rows.

    ``key_sql`` feeds KMV (distinct keys) and CMS (key frequencies);
    ``value_sql`` feeds the log-histogram (it must evaluate to a
    positive integer — cents, token counts, byte sizes). Both are SQL
    expressions over the stream's columns, so derived keys
    (``concat(lang, '/', source)``) profile as naturally as columns.

    ``group_sql`` switches the job to the PER-GROUP lane: every sketch
    is keyed by the group expression (source/table/day), states stay
    bounded at |groups| x cells, the same subtree/merge/compaction
    protocol applies per group by additivity, and
    :meth:`drift_vs` emits the per-group report
    (functions/dq.py dq_drift_report_grouped) — the gate for drift
    localized to ONE source that a global profile averages away."""

    _ckpt_sub = "profile"

    def __init__(
        self,
        spark: SparkSession,
        source_dir: str,
        profile_root: str,
        checkpoint_dir: str,
        key_sql: str,
        value_sql: str,
        schema: str = "doc_id long, text string, lang string, source string",
        depth: int = 4,
        width: int = 512,
        k: int = 256,
        subdiv: int = 16,
        max_files_per_trigger: int = 1,
        reader=None,
        group_sql: str | None = None,
        auto_compact_batches: int | None = None,
    ):
        self.spark = spark
        self.source_dir = source_dir
        self.profile_root = profile_root
        self.checkpoint_dir = checkpoint_dir
        self.key_sql = key_sql
        self.value_sql = value_sql
        self.schema = schema
        self.depth, self.width = depth, width
        self.k, self.subdiv = k, subdiv
        self.max_files_per_trigger = max_files_per_trigger
        self.reader = reader
        self.group_sql = group_sql
        # self-bounding merge-on-read: apply_batch compacts once sketch
        # subtrees exceed this (see join_maintain.py for the pattern)
        self.auto_compact_batches = auto_compact_batches
        self.store = GenerationStore(profile_root, _SKETCHES)

    # -- batch core (exposed for tests/replay) ---------------------------

    @leased("profile_root", "profile")
    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        gen = self.store.admit(batch_id, self.checkpoint_dir)
        if gen is None:
            return  # already folded by a compaction — skip
        # schema-evolution contract (streaming/schema_guard.py): the
        # profiler's key/value/group SQL expressions reference only
        # first-batch columns, so additive upstream columns are ignored
        # (not adopted); a dropped or retyped pinned column fails loud
        # instead of quietly re-shaping the sketch distributions that a
        # drift gate compares against a pre-change baseline.
        from dtle_spark.streaming.schema_guard import check_upstream_schema

        check_upstream_schema(
            self.profile_root,
            {f.name: f.dataType.simpleString() for f in batch.schema.fields},
            "StreamProfileJob",
            on_additive="ignore",
        )
        batch = batch.localCheckpoint()  # three sketches scan it
        if self.group_sql is not None:
            parts = {
                "cms": sk.cms_sketch_grouped(
                    batch, self.group_sql, self.key_sql,
                    depth=self.depth, width=self.width,
                ),
                "kmv": sk.kmv_minima_grouped(
                    batch, self.group_sql, self.key_sql, k=self.k
                ),
                "loghist": sk.loghist_sketch_grouped(
                    batch, self.group_sql, self.value_sql,
                    subdiv=self.subdiv,
                ),
            }
        else:
            parts = {
                "cms": sk.cms_sketch(
                    batch, self.key_sql, depth=self.depth, width=self.width
                ),
                "kmv": sk.kmv_minima(batch, self.key_sql, k=self.k),
                "loghist": sk.loghist_sketch(
                    batch, self.value_sql, subdiv=self.subdiv
                ),
            }
        for name, df in parts.items():
            # idempotent append: the batch owns its subtree; a replay
            # overwrites in place, never double-counting
            (
                df.coalesce(1)
                .write.mode("overwrite")
                .parquet(os.path.join(gen, name, f"ingest_batch={batch_id}"))
            )
        if self.auto_compact_batches is not None:
            self.compact(max_batches=self.auto_compact_batches)

    # -- reads ------------------------------------------------------------

    def _read(self, name: str) -> DataFrame | None:
        gen = self.store.current()
        root = os.path.join(gen, name)
        batches = self.store.batches(gen, name)
        if not batches:
            return None
        return self.spark.read.option("basePath", root).parquet(
            *[os.path.join(root, b) for b in batches]
        ).drop("ingest_batch")

    def profile(self) -> dict[str, DataFrame] | None:
        """The MERGED sketch states: {'cms': (row,bucket,cnt), 'kmv':
        (k,got_k,kth_min,kmv_estimate), 'loghist': (e,sub,cnt)} — each
        equal to the sketch of all data seen, by additivity. In the
        grouped lane every frame carries a leading ``grp`` column and
        the merge runs per group (same additivity, per cell-of-group)."""
        cms = self._read("cms")
        if cms is None:
            return None
        if self.group_sql is not None:
            return {
                "cms": sk.cms_merge_grouped(cms),
                "kmv": sk.kmv_merge_grouped(self._read("kmv"), k=self.k),
                "loghist": sk.loghist_merge_grouped(self._read("loghist")),
            }
        return {
            "cms": sk.cms_merge(cms),
            "kmv": sk.kmv_merge(self._read("kmv"), k=self.k),
            "loghist": sk.loghist_merge(self._read("loghist")),
        }

    def distinct_keys(self) -> float | None:
        p = self.profile()
        if p is None:
            return None
        if self.group_sql is not None:
            raise ValueError(
                "distinct_keys() is the global scalar; in the grouped "
                "lane read profile()['kmv'] (one estimate row per group)"
            )
        return p["kmv"].collect()[0]["kmv_estimate"]

    def key_counts(self, keys: DataFrame, key_sql: str = "key") -> DataFrame:
        """CMS point estimates for a bounded candidate key set (in the
        grouped lane ``keys`` must carry (grp, key) columns)."""
        if self.group_sql is not None:
            return sk.cms_estimate_grouped(
                self.profile()["cms"], keys,
                depth=self.depth, width=self.width,
            )
        return sk.cms_estimate(
            self.profile()["cms"], keys, key_sql,
            depth=self.depth, width=self.width,
        )

    def value_quantiles(self, qs: list[tuple[int, int]]) -> DataFrame:
        """Quantile estimates of the value distribution, from the merged
        log-histogram ((num, denom) integer quantiles); per group in
        the grouped lane."""
        if self.group_sql is not None:
            return sk.loghist_quantiles_grouped(
                self.profile()["loghist"], qs, subdiv=self.subdiv
            )
        return sk.loghist_quantiles(
            self.profile()["loghist"], qs, subdiv=self.subdiv
        )

    def drift_vs(self, baseline: dict[str, DataFrame]) -> DataFrame:
        """Drift report of THIS profile against a stored baseline
        profile — the profiler as a GATE: persist a blessed period's
        profile() frames, then run each new increment's sketches
        against them before promotion. Cost: sketch-cell joins only,
        never data. Global lane -> functions/dq.py dq_drift_report;
        grouped lane -> dq_drift_report_grouped (per-group presence/
        ratio/TV — catches drift localized to one source)."""
        if self.group_sql is not None:
            from dtle_spark.functions.dq import dq_drift_report_grouped

            return dq_drift_report_grouped(
                baseline, self.profile(), depth=self.depth
            )
        from dtle_spark.functions.dq import dq_drift_report

        return dq_drift_report(baseline, self.profile(), depth=self.depth)

    # -- baseline lifecycle --------------------------------------------------
    #
    # The drift gate needs a BLESSED baseline to compare against;
    # these make it a managed artifact instead of caller-side state:
    # promote_baseline() persists the current merged profile behind an
    # atomic pointer (baselines survive generations and compactions —
    # profile_root level, like the history job's closed store), and
    # drift_gate() is the promotion decision a pipeline runs before
    # publishing an increment. Reference context: dtle has no content
    # gate; this is the SURVEY §2.6 DQ family completing the
    # profiler -> gate -> promote loop.

    def promote_baseline(self, keep_previous: int = 1) -> str:
        """Persist the CURRENT merged profile as the blessed baseline
        (:func:`write_profile_baseline` — atomic pointer swap, older
        baselines GC'd past ``keep_previous``). Returns the name."""
        p = self.profile()
        if p is None:
            raise ValueError(
                "promote_baseline before any profiled batch: nothing "
                "to bless"
            )
        return write_profile_baseline(
            os.path.join(self.profile_root, "_baseline"), p,
            keep_previous=keep_previous,
        )

    def baseline(self) -> dict[str, DataFrame] | None:
        """The promoted baseline profile frames, or None before the
        first promote. Reads through the atomic pointer."""
        return read_profile_baseline(
            self.spark, os.path.join(self.profile_root, "_baseline"),
            _SKETCHES,
        )

    def drift_gate(
        self, thresholds: dict[str, float]
    ) -> tuple[bool, DataFrame]:
        """The promotion decision: drift report of the current profile
        against the promoted baseline, judged per check by
        functions/dq.py judge_drift. ``thresholds`` maps check_name ->
        max allowed DEVIATION (|stat - 1| for ``drift:kmv_ratio``,
        |stat| for the TV and presence checks). Every check the report
        emits MUST have a threshold — an unnamed one raises. Returns
        (passed, report with deviation/threshold/passed columns);
        fails loud with no baseline."""
        from dtle_spark.functions.dq import judge_drift

        base = self.baseline()
        if base is None:
            raise ValueError(
                "drift_gate before promote_baseline: no blessed "
                "baseline exists to compare against"
            )
        # judge_drift raises AT EXECUTION for a check with no named
        # threshold — the localCheckpoint surfaces that loudly here
        judged = judge_drift(self.drift_vs(base), thresholds).localCheckpoint()
        passed = judged.filter(~F.col("passed")).limit(1).count() == 0
        return passed, judged

    def gate_and_promote(
        self, thresholds: dict[str, float], keep_previous: int = 1
    ) -> tuple[bool, DataFrame]:
        """The pipeline promotion step in one call: run
        :meth:`drift_gate`; on pass, bless the current profile as the
        new baseline (the accepted state becomes the next comparison
        point). Returns (passed, judged report) either way."""
        passed, rep = self.drift_gate(thresholds)
        if passed:
            self.promote_baseline(keep_previous=keep_previous)
        return passed, rep

    def drift_keys_vs(
        self, baseline_cms: DataFrame, probes: DataFrame
    ) -> DataFrame:
        """Per-KEY drift attribution against a stored baseline CMS —
        the third rung of the drift ladder (drift_vs says THAT, the
        grouped lane says WHICH SOURCE, this says WHICH KEYS): each
        probe key's frequency-share change as the exact integer
        rational of functions/dq.dq_drift_keys. ``probes`` is the
        bounded watchlist (one ``key`` column — a stored top-k, an
        alert list); cost is probes x broadcast sketch cells, never
        data. Global lane only — per-group attribution is the same
        call against one group's cells."""
        if self.group_sql is not None:
            raise ValueError(
                "drift_keys_vs attributes within ONE sketch pair; in "
                "the grouped lane filter both CMS frames to a group "
                "and call functions/dq.dq_drift_keys directly"
            )
        from dtle_spark.functions.dq import dq_drift_keys

        return dq_drift_keys(
            baseline_cms, self.profile()["cms"], probes,
            depth=self.depth, width=self.width,
        )

    # -- compaction --------------------------------------------------------

    @leased("profile_root", "profile")
    def compact(self, max_batches: int = 16, gc_previous: bool = True) -> int:
        """Fold the per-batch subtrees into one subtree per sketch in a
        NEW generation (streaming/store.py commit_generation) — run OFF
        the ingest path with the job quiesced (same contract as
        ann_serving.compact_index). Returns the number of subtrees
        folded (0 = under the cap, nothing done)."""
        per = {name: self.store.batches(sub=name) for name in _SKETCHES}
        if len(per["cms"]) <= max_batches:
            return 0
        if self.group_sql is not None:
            from pyspark.sql import Window

            w = Window.partitionBy("grp").orderBy("hv")
            merged = {
                "cms": sk.cms_merge_grouped(self._read("cms")),
                # per-group re-minimize of the stored minima arrays
                "kmv": (
                    self._read("kmv")
                    .select("grp", F.explode("hvs").alias("hv"))
                    .distinct()
                    .withColumn("__rn", F.row_number().over(w))
                    .filter(F.col("__rn") <= self.k)
                    .groupBy("grp")
                    .agg(F.expr("sort_array(collect_list(hv))").alias("hvs"))
                ),
                "loghist": sk.loghist_merge_grouped(self._read("loghist")),
            }
        else:
            merged = {
                "cms": sk.cms_merge(self._read("cms")),
                # kmv folds by re-minimizing the union of stored minima
                # arrays (the state form, not the estimate form)
                "kmv": (
                    self._read("kmv")
                    .select(F.explode("hvs").alias("hv"))
                    .distinct()
                    .orderBy("hv")
                    .limit(self.k)
                    .agg(F.expr("sort_array(collect_list(hv))").alias("hvs"))
                ),
                "loghist": sk.loghist_merge(self._read("loghist")),
            }

        def fold(gen, new_gen, hi):
            for name, df in merged.items():
                (
                    df.coalesce(1)
                    .write.mode("overwrite")
                    .parquet(os.path.join(new_gen, name, f"ingest_batch={hi}"))
                )

        self.store.commit_generation(fold, gc_previous=gc_previous)
        return sum(len(v) for v in per.values())

    # -- lifecycle: start/pause/resume from StreamJob ---------------------

    def position(self) -> dict:
        return self.store.position()

    def stats(self) -> dict:
        baseline = profile_baseline_name(
            os.path.join(self.profile_root, "_baseline")
        )
        return {
            "type": "stream_profile",
            "active": self.active,
            **self.store.stats(),
            "group_sql": self.group_sql,
            "baseline": baseline,
        }
