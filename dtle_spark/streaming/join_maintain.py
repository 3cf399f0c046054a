"""Streaming maintenance of a materialized JOIN view: the
operators/join_view.py delta-join math (fact ⟕ dim(s) — one primary
dim, optionally a full STAR via ``extra_dims`` — view keyed by the
fact PK) kept current over a CDC micro-batch stream, with O(Δ)
per-batch WRITES — the keyed sibling of the additive rollup maintainer
(agg_maintain.py), sharing the generation / ingest-batch / merge-on-
read / compaction storage protocol.

Per batch the job persists ONLY the touched view rows as seq-versioned
upserts and tombstones (`versions/ingest_batch=<id>/`, columns = view
columns + __seq + __deleted); ``view()`` folds latest-per-key on read
and drops tombstones — never a view rewrite on the ingest path. The
seeded bootstrap lives in ``base/`` (implicit seq −1) and ``compact()``
folds everything into a fresh generation's base, committed through the
shared generation store (streaming/store.py), whose compaction
watermark makes replayed pre-compaction batches no-ops (tombstones are
DROPPED by the fold: replays at or below the watermark are skipped,
and every later batch re-emits its own rows, so a folded tombstone can
never be needed to shadow anything again).

The dim side needs no side channel: the dim's OWN apply lane publishes
its table (any parquet path); this job keeps a per-batch PK→xxhash64
digest snapshot (`_dimdigest/ingest_batch=<id>/`, O(|dim|) rows — dims
are entity-bounded) and derives the touched-key set by diffing the
current dim against the last snapshot BEFORE this batch id — exactly
the snapshot-diff digest trick (operators/diff.py), turned inward.
First batch after a digest-less seed conservatively treats every dim
key as touched (correct, one-time refresh cost).

Replay semantics (foreachBatch is at-least-once): a replayed batch
OVERWRITES its own versions/ and _dimdigest/ subtrees, and both its
refresh input (the fold is cut at `ingest_batch < batch_id`) and its
digest baseline exclude its own prior attempt — so the replay
converges regardless of how far the first attempt got. If the dim
moved between attempts the replay refreshes against the NEWER dim:
the view lands consistent with (applied facts, current dim), which is
the only meaningful target an eventually-consistent dim feed offers.

Reference note: dtle replicates the base tables only (driver/mysql/
applier_incr.go) — consumers re-join downstream. At 100 TB the
denormalized view IS the product; this keeps it current at batch-grain
cost.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dtle_spark.operators.apply import dedupe_redelivered, latest_image_per_key
from dtle_spark.operators.join_view import DimSpec
from dtle_spark.streaming.schema_guard import (
    check_upstream_schema,
    require_columns,
    struct_cols,
)
from dtle_spark.streaming.store import (
    GenerationStore,
    StreamJob,
    batch_no as _batch_no,
    ingest_batches as _ingest_batches,
)
from dtle_spark.sinks.lease import leased

_VERSIONS = "versions"
_BASE = "base"
_DIMDIG = "_dimdigest"
_SEQ = "__seq"
_DELETED = "__deleted"
_RPK = "__rpk"
_DIG = "__dig"


class JoinViewMaintainJob(StreamJob):
    """Maintain one denormalized fact ⟕ dim(s) view over a fact change
    stream plus dim table paths. ``right_cols`` maps the PRIMARY dim's
    source columns to their view names (must not collide with fact
    columns — the operator's precondition); ``extra_dims`` extends the
    view to a STAR (each entry a plain dict {"dim_dir", "fk", "pk",
    "cols"} so it rides the JSON job spec verbatim). Every dim gets
    its own digest lane and refresh carve; a fact row referencing two
    moved dims is carved once and rebuilt against ALL current dims."""

    _ckpt_sub = "join_maintain"

    def __init__(
        self,
        spark: SparkSession,
        source_dir: str,
        dim_dir: str,
        view_root: str,
        checkpoint_dir: str,
        key_cols: list[str],
        fk: str,
        right_pk: str,
        right_cols: dict[str, str],
        schema=None,
        max_files_per_trigger: int = 1,
        reader=None,
        cluster_by: list[str] | None = None,
        extra_dims: list[dict] | None = None,
        auto_compact_batches: int | None = None,
    ):
        self.spark = spark
        self.source_dir = source_dir
        self.dim_dir = dim_dir
        self.view_root = view_root
        self.checkpoint_dir = checkpoint_dir
        self.key_cols = list(key_cols)
        self.fk = fk
        self.right_pk = right_pk
        self.right_cols = dict(right_cols)
        self.schema = schema
        self.max_files_per_trigger = max_files_per_trigger
        self.reader = reader
        # layout lever: cluster the seeded/compacted base on these
        # columns (typically [fk]) so the dim-refresh carve's
        # `fk IN (dirty)` read prunes row groups instead of scanning
        # the view mass (tableio.write_clustered). Per-batch version
        # subtrees stay as-written — they are Δ-sized anyway.
        self.cluster_by = list(cluster_by) if cluster_by else None
        # bounded read amplification without an operator in the loop:
        # when set, apply_batch triggers compact() as soon as the
        # version-subtree count exceeds this, so merge-on-read fold
        # cost stays O(base + N segments) over any stream length. Runs
        # on the foreachBatch thread — the only writer — so the
        # "quiesced" precondition holds by construction; readers follow
        # the atomic _CURRENT pointer swap.
        self.auto_compact_batches = auto_compact_batches
        # dims[0] is the primary; extra_dims are JSON-shaped
        self.dims: list[tuple[str, DimSpec]] = [
            (dim_dir, DimSpec(fk, right_pk, dict(right_cols)))
        ] + [
            (d["dim_dir"], DimSpec(d["fk"], d["pk"], dict(d["cols"])))
            for d in (extra_dims or [])
        ]
        self.store = GenerationStore(view_root, (_VERSIONS,), (_BASE, _DIMDIG))

    def _write_base(self, df: DataFrame, base: str, mode: str) -> None:
        if self.cluster_by:
            from dtle_spark.tableio import write_clustered

            write_clustered(df, base, self.cluster_by, mode=mode)
        else:
            df.write.mode(mode).parquet(base)

    # -- dim helpers --------------------------------------------------------

    def _read_dims(self) -> list[DataFrame]:
        return [self.spark.read.parquet(d) for d, _ in self.dims]

    @staticmethod
    def _renamed_dim(dim: DataFrame, spec: DimSpec) -> DataFrame:
        return dim.select(
            F.col(spec.pk).alias(_RPK),
            *[F.col(s).alias(d) for s, d in spec.cols.items()],
        )

    @staticmethod
    def _digest(dim: DataFrame, spec: DimSpec) -> DataFrame:
        return dim.select(
            F.col(spec.pk),
            F.xxhash64(*sorted(dim.columns)).alias(_DIG),
        )

    def _digest_root(self, gen: str, i: int) -> str:
        return os.path.join(gen, _DIMDIG, f"dim={i}")

    def _latest_digest_before(self, i: int, batch_id: int) -> DataFrame | None:
        root = self._digest_root(self.store.current(), i)
        prior = [b for b in _ingest_batches(root) if _batch_no(b) < batch_id]
        if not prior:
            return None
        last = max(prior, key=_batch_no)
        return self.spark.read.parquet(os.path.join(root, last))

    def _dirty_dim_keys(
        self, i: int, dim: DataFrame, batch_id: int
    ) -> DataFrame:
        """Dim ``i``'s PKs whose row changed since its last digest
        snapshot strictly before ``batch_id`` (appeared / vanished /
        mutated); every key when no snapshot exists (post-seed
        conservatism). One column named ``_RPK``."""
        spec = self.dims[i][1]
        prev = self._latest_digest_before(i, batch_id)
        if prev is None:
            return dim.select(F.col(spec.pk).alias(_RPK)).distinct()
        cur = self._digest(dim, spec)
        p = prev.select(
            F.col(spec.pk).alias("__pk_p"), F.col(_DIG).alias("__dig_p")
        )
        c = cur.select(
            F.col(spec.pk).alias("__pk_c"), F.col(_DIG).alias("__dig_c")
        )
        j = p.join(c, F.col("__pk_p") == F.col("__pk_c"), "full_outer")
        return j.filter(
            ~F.col("__dig_p").eqNullSafe(F.col("__dig_c"))
        ).select(
            F.coalesce(F.col("__pk_c"), F.col("__pk_p")).alias(_RPK)
        ).distinct()

    # -- batch core (exposed for tests/replay) ------------------------------

    def seed(self, view0: DataFrame, dim: DataFrame | list | None = None) -> None:
        """Bootstrap: persist the full-recompute view (join_view_of /
        star_view_of) as the base, and — when the dim(s) used to build
        it are passed (one DataFrame, or a list matching ``dims``
        order) — their digest snapshots, so batch 0 refreshes only
        real dim drift instead of every key. Refuses to re-seed an
        existing base (the history.py lesson: a second seed
        double-counts)."""
        gen = self.store.current()
        base = os.path.join(gen, _BASE)
        if os.path.exists(base):
            raise ValueError(
                f"{base} already exists — re-seeding a live view would "
                "shadow its maintained versions; start a new view_root"
            )
        self._write_base(view0, base, "error")
        dims = [dim] if isinstance(dim, DataFrame) else (dim or [])
        for i, d in enumerate(dims):
            self._digest(d, self.dims[i][1]).write.mode("overwrite").parquet(
                os.path.join(self._digest_root(gen, i), "ingest_batch=-1")
            )

    @leased("view_root", "join_maintain")
    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        gen = self.store.admit(batch_id, self.checkpoint_dir)
        if gen is None:
            return  # already folded by a compaction — skip
        # pin each dim ONCE per batch: a lazy spark.read re-evaluates
        # per action, so the end-of-batch digest snapshot could capture
        # a NEWER dim state than the one joined into fresh/refreshed
        # rows if the dim's own apply lane rewrites its path mid-batch
        # — those keys would be marked clean while the view holds older
        # dim values (silent staleness until the key moves again). Dims
        # are entity-bounded, so the pin is control-plane sized.
        dim_dfs = [d.localCheckpoint() for d in self._read_dims()]
        # schema-evolution contract (streaming/schema_guard.py): an
        # upstream ADD COLUMN on the FACT widens the view — the new
        # column is NULL on rows not rewritten since the change, the
        # same state a freshly ALTERed warehouse table has — while a
        # narrowed/retyped fact, or a dim losing a spec column, fails
        # loud with the rebuild path instead of emitting garbage
        # versions or an opaque AnalysisException mid-carve.
        check_upstream_schema(
            self.view_root, struct_cols(batch), "JoinViewMaintainJob",
            on_additive="widen",
        )
        for d, (_, spec) in zip(dim_dfs, self.dims):
            require_columns(
                d.columns, [spec.pk, *spec.cols],
                "JoinViewMaintainJob", f"dim joined on {spec.fk}",
            )
        net = latest_image_per_key(
            dedupe_redelivered(batch), self.key_cols
        ).localCheckpoint()  # consumed three times below

        all_dim_cols = [
            c for _, spec in self.dims for c in spec.cols.values()
        ]
        view_cols = [
            f.name for f in batch.schema["after"].dataType.fields
        ] + all_dim_cols

        # fact lane: rebuilt rows (joined to EVERY dim, each pruned to
        # the batch's visible fks and broadcast) + tombstones
        fresh = net.filter(F.col("__action") == "upsert").select("row.*")
        for d, (_, spec) in zip(dim_dfs, self.dims):
            r = self._renamed_dim(d, spec)
            r_fresh = r.join(
                F.broadcast(
                    fresh.select(F.col(spec.fk).alias(_RPK)).distinct()
                ),
                _RPK,
                "left_semi",
            )
            fresh = fresh.join(
                F.broadcast(r_fresh), F.col(spec.fk) == F.col(_RPK), "left"
            ).drop(_RPK)

        left_types = {
            f.name: f.dataType for f in batch.schema["after"].dataType.fields
        }
        dim_types = {
            dst: d.schema[src].dataType
            for d, (_, spec) in zip(dim_dfs, self.dims)
            for src, dst in spec.cols.items()
        }
        tombs = net.filter(F.col("__action") == "delete").select(
            *[F.col(k) for k in self.key_cols],
            *[
                F.lit(None).cast(left_types[c]).alias(c)
                for c in left_types
                if c not in self.key_cols
            ],
            *[F.lit(None).cast(dim_types[c]).alias(c) for c in dim_types],
        ).select(*view_cols)

        # dim lane: carve kept rows referencing ANY moved dim key
        # (union of per-dim fk semi-joins, one row per fact key),
        # excluding keys this batch already rewrote (their fresh row
        # used the current dims) — then rebuild the carved rows' dim
        # columns against ALL current dims (idempotent, and a row
        # referencing two moved dims gets both in one emitted version)
        dirties = [
            self._dirty_dim_keys(i, d, batch_id)
            for i, d in enumerate(dim_dfs)
        ]
        cur = self._fold(before=batch_id)
        key_struct = F.struct(*[F.col(k) for k in self.key_cols])
        alive = cur.filter(~F.col(_DELETED)).drop(_SEQ, _DELETED)
        carve = None
        for dirty, (_, spec) in zip(dirties, self.dims):
            part = alive.join(
                F.broadcast(dirty), F.col(spec.fk) == F.col(_RPK), "left_semi"
            )
            carve = part if carve is None else carve.unionByName(part)
        carve = (
            carve.dropDuplicates(self.key_cols)
            .join(
                F.broadcast(net.select(key_struct.alias("__k")).distinct()),
                key_struct.eqNullSafe(F.col("__k")),
                "left_anti",
            )
            .drop(*all_dim_cols)
        )
        refreshed = carve
        for d, (_, spec) in zip(dim_dfs, self.dims):
            r_carve = self._renamed_dim(d, spec).join(
                F.broadcast(
                    carve.select(F.col(spec.fk).alias(_RPK)).distinct()
                ),
                _RPK,
                "left_semi",
            )
            refreshed = refreshed.join(
                F.broadcast(r_carve), F.col(spec.fk) == F.col(_RPK), "left"
            ).drop(_RPK)

        # the carve folds PRE-widening state: a column adopted by this
        # (or an earlier) widening may not exist there yet — it reads
        # NULL until the row's key is next rewritten (schema_guard
        # contract)
        for c in view_cols:
            if c not in refreshed.columns:
                refreshed = refreshed.withColumn(
                    c, F.lit(None).cast(left_types[c])
                )
        out = (
            fresh.select(*view_cols)
            .withColumn(_DELETED, F.lit(False))
            .unionByName(tombs.withColumn(_DELETED, F.lit(True)))
            .unionByName(refreshed.select(*view_cols).withColumn(_DELETED, F.lit(False)))
            .withColumn(_SEQ, F.lit(batch_id).cast("long"))
        )
        out.write.mode("overwrite").parquet(
            os.path.join(gen, _VERSIONS, f"ingest_batch={batch_id}")
        )
        for i, (d, (_, spec)) in enumerate(zip(dim_dfs, self.dims)):
            self._digest(d, spec).write.mode("overwrite").parquet(
                os.path.join(self._digest_root(gen, i), f"ingest_batch={batch_id}")
            )
        if self.auto_compact_batches is not None:
            self.compact(max_batches=self.auto_compact_batches)

    # -- reads ---------------------------------------------------------------

    def _fold(self, before: int | None = None) -> DataFrame:
        """Latest version per fact key across base + version subtrees
        (cut strictly below ``before`` for a batch's own refresh read —
        replay idempotence). Returns view columns + __seq + __deleted;
        the caller filters tombstones."""
        gen = self.store.current()
        parts = []
        base = os.path.join(gen, _BASE)
        if os.path.exists(base):
            parts.append(
                self.spark.read.parquet(base)
                .withColumn(_SEQ, F.lit(-1).cast("long"))
                .withColumn(_DELETED, F.lit(False))
            )
        vroot = os.path.join(gen, _VERSIONS)
        subtrees = [
            b for b in _ingest_batches(vroot)
            if before is None or _batch_no(b) < before
        ]
        if subtrees:
            parts.append(
                # mergeSchema: version subtrees written before an
                # additive fact-schema widening lack the new column —
                # they fold with NULL there (schema_guard contract)
                self.spark.read.option("basePath", vroot)
                .option("mergeSchema", "true")
                .parquet(*[os.path.join(vroot, b) for b in subtrees])
                .withColumn(_SEQ, F.col("ingest_batch").cast("long"))
                .drop("ingest_batch")
            )
        if not parts:
            raise ValueError(
                f"{self.view_root}: no seeded base and no maintained "
                "versions — seed() the view before reading it"
            )
        df = parts[0]
        for p in parts[1:]:
            # allowMissingColumns: a pre-widening base folds with the
            # widened versions (NULL for the adopted columns)
            df = df.unionByName(p, allowMissingColumns=True)
        w = Window.partitionBy(*self.key_cols).orderBy(
            F.col(_SEQ).desc(), F.col(_DELETED).desc()
        )
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def view(self) -> DataFrame:
        """The maintained denormalized view — equal to
        join_view_of(applied facts, current dim) after every processed
        batch (pytest-pinned, randomized)."""
        return self._fold().filter(~F.col(_DELETED)).drop(_SEQ, _DELETED)

    # -- compaction ------------------------------------------------------------

    @leased("view_root", "join_maintain")
    def compact(self, max_batches: int = 16, gc_previous: bool = True) -> int:
        """Fold base + versions into a NEW generation's base
        (streaming/store.py commit_generation; run quiesced, off the
        ingest path). Alive rows only — see the module header for why
        folded tombstones are safely droppable. Returns subtrees
        folded."""
        batches = self.store.batches()
        if len(batches) <= max_batches:
            return 0

        def fold(gen, new_gen, hi):
            self._write_base(self.view(), os.path.join(new_gen, _BASE), "overwrite")
            for i in range(len(self.dims)):
                dig_root = self._digest_root(gen, i)
                digs = _ingest_batches(dig_root)
                if digs:
                    last = max(digs, key=_batch_no)
                    self.spark.read.parquet(
                        os.path.join(dig_root, last)
                    ).write.mode("overwrite").parquet(
                        os.path.join(self._digest_root(new_gen, i), f"ingest_batch={hi}")
                    )

        self.store.commit_generation(fold, gc_previous=gc_previous)
        return len(batches)

    # -- lifecycle: start/pause/resume from StreamJob ---------------------

    def position(self) -> dict:
        return self.store.position()

    def stats(self) -> dict:
        return {
            "type": "join_maintain",
            "active": self.active,
            **self.store.stats(),
        }
