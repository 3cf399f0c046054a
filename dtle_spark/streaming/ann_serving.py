"""Online vector serving: the STREAMING half of the persisted IVF-PQ
index (functions/similarity.py ivf_pq_build_index / ivf_pq_topk_indexed).

Two jobs close the loop the batch path opens:

- :class:`VectorIndexMaintainJob` — new vectors arrive as a stream and
  are folded into the cell-partitioned index O(batch): each micro-batch
  is encoded and cell-assigned against the FROZEN model (broadcast
  centroid table + codebook — both map-only stages, no shuffle of the
  corpus) and lands as one ``ingest_batch=<id>/cell=<c>/`` parquet
  subtree. Replay-idempotent by construction: a redelivered batch
  OVERWRITES its own ``ingest_batch`` directory, so at-least-once
  delivery converges to exactly-once index content. The base build is
  just batch 0 through the same writer — one layout, one owner.
- :class:`AnnServingJob` — query vectors arrive as a stream; each
  micro-batch probes the CURRENT index through ivf_pq_topk_indexed
  (static cell IN filter -> the scan reads only nprobe/n_cells of the
  files, and only the probed cells' 8-byte codes cross the wire), and
  the top-k results commit to a manifest table atomically with the
  batch watermark (same replay contract as corpus ingest: a batch id
  at or below the committed watermark is skipped).

Freshness falls out of the layout: the serving side re-plans the index
scan per micro-batch, so vectors appended by the maintain job between
two query batches are candidates for the second batch with no
coordination — the partition tree IS the synchronization point.

:func:`compact_index` is the off-path OPTIMIZE chore: it folds the
accumulated per-batch subtrees into one cell-partitioned subtree in a
NEW generation of the shared generation store (streaming/store.py —
readers resolve its pointer per micro-batch; its compaction watermark
keeps replayed pre-compaction batches no-ops).

**Deletes and upserts (CDC mode)**: when a maintain batch carries an
``op`` column, rows with ``op='delete'`` remove their id from service
and every batch additionally tombstones ALL its touched ids at its own
batch number — the reference's update = delete(before)+replace(after)
contract (SURVEY §2.3 A3) applied to vectors, so re-ingesting an id
supersedes its old encoding and GDPR/opt-out removals take effect at
the NEXT serve batch without touching the accumulated index files.
Tombstones live in an underscore-prefixed ``_tombstones/`` sidecar
(invisible to the index's partition discovery), are Δ-bounded (only
ids touched since the last compaction), and are applied PHYSICALLY and
dropped by compact_index — the lake merge-on-read → copy-on-write
hand-off, in miniature. :func:`wire_to_vector_ops` adapts the CDC WIRE
stream itself (streaming/wire.py) into this shape, so a replicated
MySQL embeddings table feeds the index directly: binlog → maintain →
serve, A3 semantics the whole way.

**Model drift**: :func:`reindex` re-encodes the current fp32 corpus
under a retrained model into a fresh generation (same atomic pointer
swap). Every generation is stamped with its model's content hash
(``_MODEL_FP``); a maintain or serving job still holding the old model
fails loudly at its next batch rather than silently mixing
incomparable codes. Lifecycle: build → maintain → serve → compact →
reindex, all against one layout.

**Operations**: the model tables also PERSIST beside the index
(``_model/`` — save_model/load_model), so jobs reconstruct with
``centroids=None`` and specs stay plain JSON (JobManager.create_job
puts both jobs on the same control plane as replication jobs,
including recover()). Batch watermarks are only meaningful relative to
one stream checkpoint, so every root carries the store's checkpoint
stamp and a job on a fresh checkpoint fails loudly instead of silently
skipping or duplicating (store.check_stream_stamp).

At 100 TB: the model (16 centroids + m*ksub codebook rows) is
broadcast-sized by construction; maintain cost is O(new vectors) with
no history reads; serving cost is |Q| * nprobe/n_cells code rows read
from disk per batch. Neither job ever rewrites or rescans the
accumulated index. Equality of the served results with the inline
ivf_pq_topk tier is pytest-pinned (shared _ivf_pq_adc stage — the two
cannot diverge).

Reference context: the reference has no vector surface; this extends
its streaming apply/serving split (driver/mysql/applier_incr.go's
incremental apply loop) to the ANN family, SURVEY §2.6.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dtle_spark.functions import similarity as sim
from dtle_spark.sinks.table_sink import ParquetTableTarget
from dtle_spark.sinks.lease import leased, writer_lease
from dtle_spark.streaming.store import (
    GenerationStore,
    StreamJob,
    check_stream_stamp,
    ingest_batches,
    resolve_generation,
)

SCHEMA_NAME = "serving"
RESULTS_TABLE = "ann_results"
_WM_KEY = "__serve_batch"

VECTOR_SCHEMA = "vec_id long, embedding array<float>"

_TOMBSTONES = "_tombstones"
_MODEL_FP_FILE = "_MODEL_FP"
_MODEL_DIR = "_model"
_SCHEMA_FILE = "_SCHEMA"
_OCC_TARGET_FILE = "_OCCUPANCY_TARGET"

CDC_VECTOR_SCHEMA = VECTOR_SCHEMA + ", op string"


def resolve_index_path(index_root: str) -> str:
    """The ACTIVE index generation (store.resolve_generation)."""
    return resolve_generation(index_root)


def _index_store(index_root: str) -> GenerationStore:
    """The vector index's generation store: codes land as
    ``ingest_batch=<id>/cell=<c>/`` directly in the generation, CDC
    tombstones in the ``_tombstones/`` sidecar, and the persisted model
    belongs to the generation it encodes."""
    return GenerationStore(
        index_root, ("", _TOMBSTONES), (_MODEL_DIR, _MODEL_FP_FILE)
    )


def _write_schema_sidecar(gen_dir: str, schema) -> None:
    import json as _json

    with open(os.path.join(gen_dir, _SCHEMA_FILE), "w") as f:
        f.write(_json.dumps(schema.jsonValue()))


def _has_data_files(gen_dir: str) -> bool:
    """True iff any ingest_batch subtree holds an actual parquet data
    file. An all-deleted fold leaves the ``ingest_batch=<hi>`` dir in
    place with only _SUCCESS inside, so listing subtrees is NOT enough
    to know the generation is readable."""
    for b in ingest_batches(gen_dir):
        for _root, _dirs, files in os.walk(os.path.join(gen_dir, b)):
            if any(fn.endswith(".parquet") for fn in files):
                return True
    return False


def read_index(spark: SparkSession, gen_dir: str) -> DataFrame:
    """A generation's index data as a DataFrame. A fully-deleted
    compacted generation holds NO parquet files (partitionBy of an
    empty fold emits only _SUCCESS), which would fail partition
    discovery with 'Unable to infer schema' — compact_index therefore
    leaves a ``_SCHEMA`` sidecar, and this reader falls back to a
    schema-bearing EMPTY frame so maintain batches, live_index() and
    serving keep working until new data lands."""
    sidecar = os.path.join(gen_dir, _SCHEMA_FILE)
    if os.path.exists(sidecar) and not _has_data_files(gen_dir):
        import json as _json

        from pyspark.sql import types as T

        with open(sidecar) as f:
            schema = T.StructType.fromJson(_json.load(f))
        return spark.createDataFrame([], schema)
    return spark.read.parquet(gen_dir)


def model_fingerprint(centroids: DataFrame, codebook: DataFrame) -> str:
    """Content hash of the frozen model (both tables are broadcast-
    sized by construction, so the collect is control-plane). Stamped
    into each generation as ``_MODEL_FP`` so a job holding a DIFFERENT
    model than the one the generation was encoded with fails loudly at
    its next batch instead of silently mixing incomparable codes —
    the stale-model seam reindex() opens."""
    cents = sorted(
        (r["cent_id"], tuple(r["c_vec"])) for r in centroids.collect()
    )
    cbs = sorted(
        (r["sub"], r["code"], tuple(r["cvec"])) for r in codebook.collect()
    )
    return hashlib.md5(repr((cents, cbs)).encode()).hexdigest()


def _read_occ_target(gen_dir: str) -> float | None:
    """The generation's build-time rows/cell — the denominator of the
    occupancy-drift rule SCALE_RECALL.json measured ("retrain when
    occupancy drifts ~3x"). Written by reindex() (corpus rows / cells
    at encode time) or persisted from the maintainer's
    ``target_rows_per_cell`` at model-stamp time."""
    try:
        with open(os.path.join(gen_dir, _OCC_TARGET_FILE)) as f:
            return float(f.read().strip())
    except (FileNotFoundError, ValueError):
        return None


def _write_occ_target(gen_dir: str, rows_per_cell: float) -> None:
    with open(os.path.join(gen_dir, _OCC_TARGET_FILE), "w") as f:
        f.write(repr(float(rows_per_cell)))


def save_model(gen_dir: str, centroids: DataFrame, codebook: DataFrame) -> None:
    """Persist the frozen model BESIDE the index it encodes (underscore
    dir — invisible to the index scan), making every generation
    self-describing: a restarted job reloads it with load_model instead
    of retraining. Both tables are broadcast-sized, so this is a
    control-plane write."""
    root = os.path.join(gen_dir, _MODEL_DIR)
    centroids.write.mode("overwrite").parquet(os.path.join(root, "centroids"))
    codebook.write.mode("overwrite").parquet(os.path.join(root, "codebook"))


def load_model(spark: SparkSession, index_root: str) -> tuple[DataFrame, DataFrame]:
    """The active generation's persisted model (centroids, codebook).
    Raises FileNotFoundError when the generation was never stamped with
    one — construct the job with explicit tables in that case."""
    gen = resolve_index_path(index_root)
    root = os.path.join(gen, _MODEL_DIR)
    if not os.path.isdir(root):
        raise FileNotFoundError(
            f"no persisted model under {root}: the index generation was "
            "built before any model was saved — pass centroids/codebook "
            "explicitly (save_model persists them for next time)"
        )
    return (
        spark.read.parquet(os.path.join(root, "centroids")),
        spark.read.parquet(os.path.join(root, "codebook")),
    )


def _check_model_stamp(gen_dir: str, fp: str, stamp_if_missing: bool) -> None:
    path = os.path.join(gen_dir, _MODEL_FP_FILE)
    try:
        with open(path) as f:
            current = f.read().strip()
    except FileNotFoundError:
        if stamp_if_missing:
            os.makedirs(gen_dir, exist_ok=True)
            with open(path, "w") as f:
                f.write(fp)
        return
    if current != fp:
        raise ValueError(
            f"model fingerprint mismatch for generation {gen_dir}: the "
            f"index was encoded with {current}, this job holds {fp} — "
            "after reindex(), retire jobs built on the old model and "
            "construct new ones with the generation's model"
        )


def read_tombstones(spark: SparkSession, gen_dir: str) -> DataFrame | None:
    """The generation's tombstone sidecar as (id, tomb_batch), or None
    when the stream has never carried an op column. Read by explicit
    subtree list (the sidecar dir is underscore-prefixed precisely so
    the INDEX read's partition discovery skips it)."""
    root = os.path.join(gen_dir, _TOMBSTONES)
    batches = ingest_batches(root)
    if not batches:
        return None
    return (
        spark.read.option("basePath", root)
        .parquet(*[os.path.join(root, b) for b in batches])
        .select("id", F.col("ingest_batch").cast("long").alias("tomb_batch"))
    )


def compact_index(
    spark: SparkSession,
    index_root: str,
    max_batches: int = 16,
    gc_previous: bool = False,
    purge_ids: DataFrame | None = None,
) -> int:
    """Small-file chore for the streaming index: when more than
    ``max_batches`` ingest subtrees have accumulated, rewrite them into
    ONE cell-partitioned subtree inside a NEW generation
    (streaming/store.py commit_generation) — the lake OPTIMIZE
    analogue, compact_segments' sibling for the raw-parquet index
    layout. The maintain job skips any (replayed) batch at or below
    the committed watermark, so folding never un-does replay
    idempotence. Returns subtrees folded (0 = nothing to do).

    Tombstones (CDC deletes/upserts) are applied PHYSICALLY here: dead
    rows are dropped from the folded subtree and the sidecar does NOT
    carry into the new generation — merge-on-read debt is settled at
    compaction, exactly like a lake table's OPTIMIZE after a
    merge-on-read delete. A pure-delete trailing batch still advances
    the watermark (hi spans index AND tombstone batch ids).
    ``purge_ids`` (see :func:`purge_index_ids`) additionally drops the
    named ids at fold time and FORCES the fold regardless of
    ``max_batches`` — the takedown path.

    Run OFF the ingest path with the maintain job quiesced (a batch
    landing in the old generation between the compaction read and the
    pointer swap would be dropped — the same contract as
    compact_segments vs concurrent appends). SERVING needs no quiesce:
    probes resolve the pointer per micro-batch. ``gc_previous`` deletes
    the superseded generation immediately; leave it False when
    long-running probes may still hold the old listing (lake VACUUM
    retention, in miniature)."""
    with writer_lease(index_root, "compact_index"):
        return _compact_index_locked(
            spark, index_root, max_batches, gc_previous, purge_ids
        )


def _compact_index_locked(
    spark: SparkSession,
    index_root: str,
    max_batches: int,
    gc_previous: bool,
    purge_ids: DataFrame | None,
) -> int:
    store = _index_store(index_root)
    batches = store.batches()
    tomb_batches = store.batches(sub=_TOMBSTONES)
    # the tombstone sidecar counts toward the trigger: a delete-heavy
    # stream accumulates sidecar subtrees without growing the index,
    # and the Δ-bounded claim holds only if folding drains them too.
    # A PURGE ignores the trigger: a takedown must fold NOW, whatever
    # the subtree count — and there may be nothing to fold but the
    # purged rows themselves.
    if purge_ids is None and len(batches) + len(tomb_batches) <= max_batches:
        return 0

    def fold(gen, new_gen, hi):
        if not batches:
            # everything was deleted: the folded generation is EMPTY
            # (no subtree at all) — the carried _SCHEMA keeps readers
            # schema-aware
            return
        cur = spark.read.option("basePath", gen).parquet(
            *[os.path.join(gen, b) for b in batches]
        )
        tomb = read_tombstones(spark, gen)
        if tomb is not None:
            cur = sim.apply_tombstones(cur, tomb)
        if purge_ids is not None:
            # HARD delete at fold time: purged ids drop from the new
            # generation physically (takedown semantics — see
            # purge_index_ids; a tombstone alone is merge-on-read
            # hiding, and its sidecar would still NAME the ids)
            cur = cur.join(
                F.broadcast(
                    purge_ids.selectExpr(f"{purge_ids.columns[0]} AS id")
                    .distinct()
                ),
                ["id"], "left_anti",
            )
        # keep carried metadata columns (filtered-search attributes);
        # only the per-batch partition column folds away
        cur = cur.drop("ingest_batch")
        (
            cur.write.partitionBy("cell")
            .mode("overwrite")
            .parquet(os.path.join(new_gen, f"ingest_batch={hi}"))
        )
        # schema sidecar: an all-deleted fold writes NO parquet files
        # (partitionBy of an empty frame emits only _SUCCESS), so the
        # reader-visible schema must survive out-of-band for read_index
        from pyspark.sql import types as T

        cell_f = next(f2 for f2 in cur.schema.fields if f2.name == "cell")
        _write_schema_sidecar(new_gen, T.StructType(
            [f2 for f2 in cur.schema.fields if f2.name != "cell"]
            + [T.StructField("ingest_batch", T.IntegerType()), cell_f]
        ))

    # the tombstone sidecar does NOT carry: it was applied physically.
    # The model (stamp + tables) and the schema sidecar ride along.
    store.commit_generation(
        fold, carry=(_MODEL_FP_FILE, _MODEL_DIR, _SCHEMA_FILE),
        gc_previous=gc_previous,
    )
    return len(batches) + len(tomb_batches)


def purge_index_ids(
    spark: SparkSession, index_root: str, ids: DataFrame
) -> int:
    """Takedown for the vector index: HARD-delete the named ids — a
    forced fold (compact_index with ``purge_ids``, ignoring the
    subtree-count trigger) that drops their codes from the new
    generation physically and deletes the superseded generation
    (gc_previous=True; a takedown surviving in an on-disk old
    generation is not a takedown — run it quiesced like any
    compaction, including serving). A CDC-delete tombstone is the
    WRONG tool here: it is merge-on-read hiding whose sidecar still
    names the ids; the purge leaves no trace of them in the live
    layout. The corpus-side sibling is
    CorpusIngestJob.purge_documents. Returns subtrees folded."""
    return compact_index(
        spark, index_root, gc_previous=True, purge_ids=ids
    )


def reindex(
    spark: SparkSession,
    index_root: str,
    vectors: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    gc_previous: bool = False,
    carry_cols: tuple[str, ...] = (),
) -> str:
    """Rebuild the index under a NEW (retrained) model — the answer to
    model drift: when the corpus distribution has moved away from the
    frozen centroids/codebook, retrain on the current corpus and
    re-encode it wholesale into a fresh generation, swapped in by the
    same atomic ``_CURRENT`` pointer compaction uses. Returns the new
    generation path.

    ``vectors`` is the CURRENT fp32 corpus (the same source-of-truth
    table the rerank callable reads) — codes cannot be re-encoded from
    codes, so reindex reads the corpus, not the old index. Any
    tombstone state is considered already reflected in that corpus
    view; the new generation starts with an empty sidecar.

    The compaction watermark carries forward (the store's rule:
    highest batch id seen by the OLD generation, else its committed
    watermark), so replays of pre-reindex batches stay no-ops. The new
    generation is stamped with the new model's fingerprint:
    maintain/serving jobs still holding the old model
    fail loudly at their next batch (_check_model_stamp) instead of
    mixing incomparable encodings — retire them and construct new jobs
    with the retrained model. Quiesce contract: maintain quiesced
    (same as compact_index); serving either quiesced or expected to
    hit the loud stamp check at the swap."""
    sim._require_dense_codebook(codebook, m, ksub, dim // m)
    with writer_lease(index_root, "reindex"):
        return _reindex_locked(
            spark, index_root, vectors, centroids, codebook, m, ksub,
            dim, id_col, vec_col, gc_previous, carry_cols,
        )


def _reindex_locked(
    spark, index_root, vectors, centroids, codebook, m, ksub, dim,
    id_col, vec_col, gc_previous, carry_cols,
) -> str:
    def encode(gen, new_gen, hi):
        celled = sim.ivf_pq_build_index(
            vectors, centroids, codebook, m=m, ksub=ksub, dim=dim,
            id_col=id_col, vec_col=vec_col, carry_cols=carry_cols,
        )
        (
            celled.write.partitionBy("cell")
            .mode("overwrite")
            .parquet(os.path.join(new_gen, f"ingest_batch={hi}"))
        )
        with open(os.path.join(new_gen, _MODEL_FP_FILE), "w") as f:
            f.write(model_fingerprint(centroids, codebook))
        save_model(new_gen, centroids, codebook)
        # the reindex corpus IS the build-time occupancy: record
        # rows/cell so the successor maintainer's needs_reindex signal
        # measures drift against THIS model's training-time density
        # (the ~3x rule SCALE_RECALL.json measured). centroids is
        # broadcast-sized; the vectors count is one metadata-cheap pass
        # over a corpus the encode just read in full anyway.
        _write_occ_target(
            new_gen, vectors.count() / max(1, centroids.count())
        )

    # the maintain STREAM identity (checkpoint stamp) survives reindex:
    # the successor job must resume the same checkpoint so batch ids
    # keep meaning
    return _index_store(index_root).commit_generation(
        encode, gc_previous=gc_previous
    )


def wire_to_vector_ops(
    wire_batch: DataFrame,
    schema_name: str,
    table_name: str,
    row_schema,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Adapt a CDC WIRE micro-batch (streaming/wire.py — the same
    change stream the replication jobs consume) of an embeddings table
    into the maintain job's CDC shape (id, vector, op): insert/update
    become an upsert of the AFTER image, delete a delete keyed by the
    BEFORE image's id (A3 semantics end to end — the binlog is now a
    vector-index feed). A PK-CHANGING update (before id != after id)
    is the full A3 pair: a delete keyed on the before-image id PLUS
    the upsert of the after image — keying only on the after id would
    leave the stale vector served under the old id forever (reference
    applier UpdateDML, driver/mysql/applier_incr.go). Per id, only the
    NEWEST effect in the batch survives (latest-image by seq, the
    apply family's collapse), so a micro-batch never emits
    contradictory ops for one id; the synthesized delete carries its
    update's seq, so a later re-insert of the old id in the same batch
    still wins. DDL rows are out of scope: the vector table's shape is
    the serving model's contract — evolve it through reindex, not
    ALTER.

    Pass as the maintain job's ``transform`` with a wire ``reader``:
    the window collapse is not streaming-legal, so it runs inside
    foreachBatch, per micro-batch."""
    from dtle_spark.streaming.wire import from_wire

    rows = wire_batch.filter(
        (F.col("schema_name") == schema_name)
        & (F.col("table_name") == table_name)
        & F.col("op").isin(["i", "u", "d"])
    )
    typed = from_wire(rows, row_schema)
    img = F.when(F.col("op") == "d", F.col("before")).otherwise(F.col("after"))
    keyed = typed.select(
        img.getField(id_col).alias(id_col),
        F.col("after").getField(vec_col).alias(vec_col),
        *[F.col("after").getField(c).alias(c) for c in carry_cols],
        F.when(F.col("op") == "d", F.lit("delete"))
        .otherwise(F.lit("upsert")).alias("op"),
        F.col("seq").alias("__seq"),
    )
    # PK-changing updates additionally tombstone the OLD id; payload
    # columns come from the before image purely for type fidelity (a
    # delete's payload is never read)
    pk_moved = typed.filter(
        (F.col("op") == "u")
        & F.col("before").getField(id_col).isNotNull()
        & ~F.col("before").getField(id_col).eqNullSafe(
            F.col("after").getField(id_col)
        )
    ).select(
        F.col("before").getField(id_col).alias(id_col),
        F.col("before").getField(vec_col).alias(vec_col),
        *[F.col("before").getField(c).alias(c) for c in carry_cols],
        F.lit("delete").alias("op"),
        F.col("seq").alias("__seq"),
    )
    keyed = keyed.unionByName(pk_moved)
    w = Window.partitionBy(id_col).orderBy(F.col("__seq").desc())
    return (
        keyed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__seq")
    )


def wire_vector_hooks(
    source_dir: str, wire_table: dict, max_files_per_trigger: int = 1
):
    """(reader, transform) pair for a CDC-wire-fed maintain job, built
    from a plain-JSON descriptor so JobManager specs can persist it and
    recover() can rebuild the bridge (callables do not survive a spec):

    ``{"schema_name": .., "table_name": .., "row_schema": "vec_id
    long, embedding array<float>", "id_col"?, "vec_col"?,
    "carry_cols"?}`` — row_schema is a DDL string
    (StructType.fromDDL)."""
    from pyspark.sql import types as T

    from dtle_spark.streaming.wire import WIRE_SCHEMA

    row_schema = T.StructType.fromDDL(wire_table["row_schema"])

    def reader(spark):
        return (
            spark.readStream.schema(WIRE_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(source_dir)
        )

    def transform(batch):
        return wire_to_vector_ops(
            batch, wire_table["schema_name"], wire_table["table_name"],
            row_schema,
            id_col=wire_table.get("id_col", "vec_id"),
            vec_col=wire_table.get("vec_col", "embedding"),
            carry_cols=tuple(wire_table.get("carry_cols", ())),
        )

    return reader, transform


class VectorIndexMaintainJob(StreamJob):
    """Fold a vector stream into the cell-partitioned IVF-PQ index
    against a frozen model. ``centroids`` / ``codebook`` are the pinned
    training outputs (similarity.ivf_exact_mean_centroids / pq_refine);
    they are validated once and localCheckpointed so every batch reuses
    the same broadcast tables, and persisted beside the index (when the
    generation has none yet) so a restart can reload them."""

    _ckpt_sub = "index"

    def __init__(
        self,
        spark: SparkSession,
        source_dir: str,
        index_root: str,
        checkpoint_dir: str,
        centroids: DataFrame | None = None,
        codebook: DataFrame | None = None,
        m: int = 8,
        ksub: int = 16,
        dim: int = 64,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        schema: str = VECTOR_SCHEMA,
        max_files_per_trigger: int = 1,
        reader=None,
        carry_cols: tuple[str, ...] = (),
        transform=None,
        auto_compact_batches: int | None = None,
        target_rows_per_cell: float | None = None,
        reindex_occupancy_factor: float = 3.0,
    ):
        self.spark = spark
        self.source_dir = source_dir
        self.index_root = index_root
        self.checkpoint_dir = checkpoint_dir
        self.carry_cols = tuple(carry_cols)
        # occupancy-drift signal (VERDICT r14 #1): SCALE_RECALL.json
        # measured that recall holds while cells ∝ corpus (occupancy
        # ~constant) and the operational rule is "retrain when
        # occupancy drifts ~3x" — this wires the rule into the job
        # instead of leaving a human to notice drift by hand at 100 TB.
        # target_rows_per_cell = the model's build-time density
        # (training corpus rows / n_cells); persisted into the
        # generation at model-stamp time so restarts keep it, and
        # written by reindex() for retrained generations. When neither
        # source provides a target, occupancy is still reported but
        # needs_reindex is None (unknown), never a silent False.
        self._target_rows_per_cell = (
            float(target_rows_per_cell)
            if target_rows_per_cell is not None else None
        )
        self.reindex_occupancy_factor = float(reindex_occupancy_factor)
        self._n_cells = None  # filled after centroids checkpoint below
        # self-bounding merge-on-read: when set, apply_batch triggers
        # compact_index once ingest + tombstone subtrees exceed this.
        # gc_previous stays False — serving probes resolve the pointer
        # per micro-batch but a probe MID-batch may still hold the old
        # generation's listing; deleting superseded generations is the
        # separate VACUUM chore (lake retention, in miniature)
        self.auto_compact_batches = auto_compact_batches
        # per-batch adapter (e.g. wire_to_vector_ops — CDC wire rows
        # -> (id, vector, op)); runs inside foreachBatch because
        # latest-image collapse is not streaming-legal pre-batch
        self.transform = transform
        if (centroids is None) != (codebook is None):
            raise ValueError("pass BOTH centroids and codebook, or neither")
        if centroids is None:
            # restart path: the generation is self-describing
            centroids, codebook = load_model(spark, index_root)
        # stale/gapped models fail HERE, not per-batch mid-stream
        sim._require_dense_codebook(codebook, m, ksub, dim // m)
        self.centroids = centroids.localCheckpoint()
        self.codebook = codebook.localCheckpoint()
        self._n_cells = self.centroids.count()  # broadcast-sized
        self.model_fp = model_fingerprint(self.centroids, self.codebook)
        self.m, self.ksub, self.dim = m, ksub, dim
        self.id_col, self.vec_col = id_col, vec_col
        self.schema = schema
        self.max_files_per_trigger = max_files_per_trigger
        self.reader = reader
        self.store = _index_store(index_root)
        # make the generation self-describing NOW, not at first batch:
        # a restart must be able to reload the model before any data
        self._save_model_if_missing(self.store.current())

    def _save_model_if_missing(self, gen: str) -> None:
        # skip when already persisted (restart path / reindexed gen) —
        # rewriting identical tables races concurrent serving reads
        if not os.path.isdir(os.path.join(gen, _MODEL_DIR)):
            save_model(gen, self.centroids, self.codebook)

    # -- batch core (exposed for tests/replay) ---------------------------

    @leased("index_root", "vector_maintain")
    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        gen = self.store.admit(batch_id, self.checkpoint_dir)
        if gen is None:
            return  # folded into the compacted subtree already — skip
        # the first write stamps the generation with this job's model
        # fingerprint; after a reindex() the stamp differs and this
        # raises — a job holding the superseded model must not encode
        # into the new gen
        _check_model_stamp(gen, self.model_fp, stamp_if_missing=True)
        self._save_model_if_missing(gen)
        if (
            self._target_rows_per_cell is not None
            and _read_occ_target(gen) is None
        ):
            # persist the build-time density beside the model stamp so
            # a restarted job (ctor without the arg) keeps the signal
            _write_occ_target(gen, self._target_rows_per_cell)
        if self.transform is not None:
            batch = self.transform(batch)
        upserts, cdc = batch, "op" in batch.columns
        if cdc:
            # CDC mode: delete rows carry no payload; EVERY touched id
            # is tombstoned at this batch number so an upsert
            # supersedes the id's older encodings (A3: update =
            # delete(before)+replace(after)) and a delete removes it
            # from service at the next probe. Both writes are
            # replay-idempotent (the batch overwrites its own subtrees).
            # The batch is pinned once — the tombstone write, emptiness
            # check, and index build would otherwise each rescan it.
            batch = batch.localCheckpoint()
            # a NULL op is a plain insert, NOT a delete — != would drop
            # the row from upserts while still tombstoning its id,
            # silently deleting the vector
            upserts = batch.filter(
                (F.col("op") != F.lit("delete")) | F.col("op").isNull()
            ).drop("op")
        if not (cdc and upserts.isEmpty()):
            celled = sim.ivf_pq_build_index(
                upserts, self.centroids, self.codebook,
                m=self.m, ksub=self.ksub, dim=self.dim,
                id_col=self.id_col, vec_col=self.vec_col,
                carry_cols=self.carry_cols,
            )
            # idempotent append: the batch owns its own partition
            # subtree — a redelivery overwrites it in place, never
            # duplicating codes
            (
                celled.write.partitionBy("cell")
                .mode("overwrite")
                .parquet(os.path.join(gen, f"ingest_batch={batch_id}"))
            )
        if cdc:
            # tombstones land AFTER the index subtree: a serve batch
            # (or crash) between the two writes then sees transient
            # DUPLICATE versions of an upserted id — fail-safe — rather
            # than the id vanishing (old version killed, new one absent)
            (
                batch.select(F.col(self.id_col).alias("id"))
                .write.mode("overwrite")
                .parquet(os.path.join(
                    gen, _TOMBSTONES, f"ingest_batch={batch_id}"))
            )
        if self.auto_compact_batches is not None:
            compact_index(
                self.spark, self.index_root,
                max_batches=self.auto_compact_batches,
            )

    # -- lifecycle: start/pause/resume from StreamJob ---------------------

    def position(self) -> dict:
        return self.store.position()

    def stats(self) -> dict:
        return {
            "type": "vector_maintain",
            "active": self.active,
            "model_fp": self.model_fp,
            "ingest_batches": len(self.store.batches()),
            **self.position(),
            **self.occupancy(),
        }

    def occupancy(self) -> dict:
        """Rows/cell for the current generation plus the drift signal
        (VERDICT r14 #1 — the measured rule from SCALE_RECALL.json:
        recall holds while occupancy stays near the model's build-time
        density; when it drifts ~``reindex_occupancy_factor``x, retrain
        via reindex() instead of letting cells swell). Surfaces through
        stats() and therefore the HTTP /v2/job/<name> detail.

        Cost: two parquet row COUNTS (codes, tombstones) — footer
        metadata scans, no column IO — control-plane cheap even when
        the index is large. Live rows are approximated as codes minus
        tombstone rows: exact for the append-only growth streams the
        rule targets; under heavy per-id churn the approximation
        UNDER-counts live rows (a tombstone can strike several
        superseded versions), which only DELAYS the signal toward the
        next compaction folding the dead rows away — never a false
        fire."""
        gen = self.store.current()
        codes = read_index(self.spark, gen).count()
        tomb = read_tombstones(self.spark, gen)
        dead = tomb.count() if tomb is not None else 0
        live = max(0, codes - dead)
        rows_per_cell = live / max(1, self._n_cells)
        target = (
            self._target_rows_per_cell
            if self._target_rows_per_cell is not None
            else _read_occ_target(gen)
        )
        out = {
            "live_rows": live,
            "n_cells": self._n_cells,
            "rows_per_cell": round(rows_per_cell, 2),
            "occupancy_target": target,
        }
        if target:
            ratio = rows_per_cell / target
            out["occupancy_ratio"] = round(ratio, 2)
            out["needs_reindex"] = bool(
                ratio > self.reindex_occupancy_factor
            )
        else:
            # no build-time density recorded: report the occupancy but
            # never claim the model is healthy on no evidence
            out["needs_reindex"] = None
        return out

    def index(self) -> DataFrame:
        """The whole accumulated index (partition discovery adds the
        ingest_batch/cell columns). Probes never read it this way —
        they go through ivf_pq_topk_indexed's static cell filter.
        Includes dead versions in CDC mode — see live_index."""
        return read_index(self.spark, self.store.current())

    def live_index(self) -> DataFrame:
        """index() minus tombstoned rows — the logical current state a
        probe sees (serving applies the same filter pre-ranking)."""
        gen = self.store.current()
        idx = read_index(self.spark, gen)
        tomb = read_tombstones(self.spark, gen)
        return idx if tomb is None else sim.apply_tombstones(idx, tomb)


class AnnServingJob(StreamJob):
    """Serve a query-vector stream from the persisted index. Results
    land in a manifest-committed table with the batch watermark, so a
    replayed micro-batch is skipped — at-least-once delivery converges
    to exactly-once result content.

    ``vectors`` (optional) is the fp32 corpus view used when
    ``rerank > 0`` — in production the corpus table the index was built
    from. Passed as a zero-arg callable returning a DataFrame so each
    batch reranks against the CURRENT corpus, not a snapshot bound at
    job construction.

    ``where`` (optional) is a filtered-search predicate over metadata
    columns the maintain job carried into the index (carry_cols):
    every served batch returns top-k among rows satisfying it — one
    serving job per audience/tenant predicate, all off one index.

    ``exclude_self=False`` when the query stream's ids are an
    INDEPENDENT id space (request counters, uuid hashes): the default
    drops any corpus vector whose id equals the query's id — right for
    corpus-drawn queries, silently wrong for request ids."""

    _ckpt_sub = "serve"

    def __init__(
        self,
        spark: SparkSession,
        query_source_dir: str,
        index_root: str,
        results_root: str,
        checkpoint_dir: str,
        centroids: DataFrame | None = None,
        codebook: DataFrame | None = None,
        k: int = 10,
        nprobe: int = 4,
        m: int = 8,
        ksub: int = 16,
        dim: int = 64,
        rerank: int = 0,
        vectors=None,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        schema: str = VECTOR_SCHEMA,
        max_files_per_trigger: int = 1,
        reader=None,
        where=None,
        exclude_self: bool = True,
    ):
        self.spark = spark
        self.query_source_dir = self.source_dir = query_source_dir
        self.index_root = index_root
        self.checkpoint_dir = checkpoint_dir
        if vectors is not None and not callable(vectors):
            raise ValueError(
                "vectors must be a zero-arg callable returning the fp32 "
                "corpus DataFrame (so rerank sees the current corpus)"
            )
        if rerank and vectors is None:
            raise ValueError("rerank > 0 needs the fp32 `vectors` callable")
        if (centroids is None) != (codebook is None):
            raise ValueError("pass BOTH centroids and codebook, or neither")
        if centroids is None:
            centroids, codebook = load_model(spark, index_root)
        sim._require_dense_codebook(codebook, m, ksub, dim // m)
        self.centroids = centroids.localCheckpoint()
        self.codebook = codebook.localCheckpoint()
        self.model_fp = model_fingerprint(self.centroids, self.codebook)
        self.k, self.nprobe = k, nprobe
        self.m, self.ksub, self.dim = m, ksub, dim
        self.rerank = rerank
        self.vectors = vectors
        self.id_col, self.vec_col = id_col, vec_col
        self.schema = schema
        self.max_files_per_trigger = max_files_per_trigger
        self.reader = reader
        self.where = where
        self.exclude_self = exclude_self
        self.results_root = results_root
        self.target = ParquetTableTarget(results_root)

    # -- batch core (exposed for tests/replay) ---------------------------

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        check_stream_stamp(self.results_root, self.checkpoint_dir)
        wm = self.target.seq_watermark(SCHEMA_NAME, RESULTS_TABLE)
        if wm.get(_WM_KEY, -1) >= batch_id:
            return  # replayed batch already committed — skip (idempotent)
        gen = resolve_index_path(self.index_root)
        # probing with a model other than the one the generation was
        # encoded with mis-scores silently — fail loudly instead (an
        # unstamped pre-reindex generation passes: nothing to compare)
        _check_model_stamp(gen, self.model_fp, stamp_if_missing=False)
        out = sim.ivf_pq_topk_indexed(
            self.spark, read_index(self.spark, gen), batch,
            self.centroids, self.codebook,
            vectors=self.vectors() if self.vectors is not None else None,
            k=self.k, nprobe=self.nprobe,
            m=self.m, ksub=self.ksub, dim=self.dim,
            id_col=self.id_col, vec_col=self.vec_col, rerank=self.rerank,
            tombstones=read_tombstones(self.spark, gen),
            where=self.where,
            exclude_self=self.exclude_self,
        )
        self.target.append(
            out.withColumn(_WM_KEY, F.lit(batch_id)),
            SCHEMA_NAME, RESULTS_TABLE, seq_watermark={_WM_KEY: batch_id},
        )

    # -- lifecycle: start/pause/resume from StreamJob ---------------------

    def position(self) -> dict:
        wm = self.target.seq_watermark(SCHEMA_NAME, RESULTS_TABLE)
        return {_WM_KEY: wm.get(_WM_KEY, -1)}

    def stats(self) -> dict:
        return {
            "type": "ann_serving",
            "active": self.active,
            "model_fp": self.model_fp,
            "k": self.k,
            "nprobe": self.nprobe,
            "rerank": self.rerank,
            **self.position(),
        }

    def results(self) -> DataFrame | None:
        return self.target.read(self.spark, SCHEMA_NAME, RESULTS_TABLE)
