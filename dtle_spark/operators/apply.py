"""Change application: the merge core of the engine (reference A1-A10).

The reference applies changes row-by-row over a MySQL connection:
REPLACE INTO upserts (/root/reference/driver/mysql/sql/builder.go:161-229),
keyed deletes (builder.go:86-159), update = delete(before)+replace(after)
(applier_incr.go:747-790), MTS logical-clock parallelism
(applier_mts.go:30-264), and gtid-based idempotence
(applier_incr.go:290-313).

Spark-first restatement: a micro-batch of change rows is exploded into
per-key effects and the **latest surviving image per key** is kept by
one window — over the effects alone (``latest_image_per_key``), or over
the stored rows unioned with them (``merge_into_versioned``, the
seq-versioned merge). Parallelism comes from hash-partitioning on
the key — the same conflict-free property the reference's writeset
scheduler (A8) computes per transaction, achieved structurally:
rows of the same key land in the same partition, cross-key order is
irrelevant, so the whole batch applies in parallel with zero
coordination. At 100 TB the window is one shuffle on the unique key,
which scales linearly with executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dtle_spark.model import OP_DELETE, OP_INSERT, OP_UPDATE


def dedupe_redelivered(changes: DataFrame) -> DataFrame:
    """A10 idempotence: drop re-delivered transactions by (sid, gno).

    The reference records applied GTIDs in ``dtle.gtid_executed_v4`` and
    skips duplicates (applier_incr.go:290-313). Within a batch we keep
    one copy of each (sid, gno, seq) event row; across batches the
    streaming checkpoint plays the gtid-set role (streaming/pipeline.py).
    """
    return changes.dropDuplicates(["sid", "gno", "seq"])


def change_effects(changes: DataFrame, key_cols: list[str]) -> DataFrame:
    """Explode a change batch into its per-key effects, one read of the
    stream and no shuffle (A3: update applies as delete(before) +
    replace(after)):

      insert -> (after.key, upsert), delete -> (before.key, delete),
      update -> (before.key, delete) + (after.key, upsert)
      [one effect when the key is unchanged]

    Returns columns: key cols + ``__action`` ('upsert'|'delete') +
    ``row`` (struct, the after-image for upserts) + ``seq``.
    """
    # ONE read of the change stream (r16, guide §2.4): each change row
    # emits its 0-2 effects as an array of conditionally-present
    # structs, exploded — the r15 shape unioned three filtered reads of
    # the stream (upserts / deletes / update-deletes), so every
    # consumer re-derived the batch three times (or paid a
    # localCheckpoint of it to avoid that). Multiset of effects is
    # identical: a leg's filter is its WHEN guard, and a PK-moving
    # update matches two guards and emits both effects.
    #
    # null-image guards: an upsert without an after-image (or delete
    # without before) is malformed input — drop rather than propagate
    # null-keyed effects into the merge.
    # update-delete leg: an update whose before-key != after-key also
    # deletes the old key; after.isNotNull() keeps the malformed-row
    # convention uniform across the family (rollup/scd2/apply all DROP
    # an update missing either image whole) — without it, a null-after
    # update makes key_changed trivially true and this leg would delete
    # the before key while no other operator sees the row at all.
    key_changed = F.lit(False)
    for k in key_cols:
        key_changed = key_changed | ~(
            F.col(f"before.{k}").eqNullSafe(F.col(f"after.{k}"))
        )
    row_type = changes.schema["after"].dataType
    null_row = F.lit(None).cast(row_type)

    def eff(cond, img: str, action: str, row_col) -> F.Column:
        return F.when(cond, F.struct(
            *[F.col(f"{img}.{k}").alias(k) for k in key_cols],
            F.lit(action).alias("__action"),
            row_col.alias("row"),
            F.col("seq").alias("seq"),
        ))

    els = F.array(
        eff(
            F.col("op").isin(OP_INSERT, OP_UPDATE) & F.col("after").isNotNull(),
            "after", "upsert", F.col("after"),
        ),
        eff(
            (F.col("op") == OP_DELETE) & F.col("before").isNotNull(),
            "before", "delete", null_row,
        ),
        eff(
            (F.col("op") == OP_UPDATE)
            & F.col("before").isNotNull()
            & F.col("after").isNotNull()
            & key_changed,
            "before", "delete", null_row,
        ),
    )
    return (
        changes.select(F.explode(els).alias("__e"))
        .filter(F.col("__e").isNotNull())
        .select(
            *[F.col(f"__e.{k}").alias(k) for k in key_cols],
            # coalesce only restores the union shape's non-null type;
            # kept effects always carry an action
            F.coalesce(F.col("__e.__action"), F.lit("upsert")).alias("__action"),
            F.col("__e.row").alias("row"),
            F.col("__e.seq").alias("seq"),
        )
    )


def latest_image_per_key(changes: DataFrame, key_cols: list[str]) -> DataFrame:
    """Collapse a change batch to one terminal row per unique key: the
    max-seq effect of :func:`change_effects` per key (one window, dense
    in one shuffle; delete wins a seq tie).

    Returns the columns of :func:`change_effects`.
    """
    # A7's ordering invariant, restated per key: the reference replays
    # transactions in (last_committed, seq) clock order; we only need the
    # per-key winner, which one row_number window provides. Sources must
    # make seq a total order per key (the bridges derive it from binlog
    # position); the __action tie-break only pins determinism if a
    # source violates that.
    w = Window.partitionBy(*key_cols).orderBy(F.col("seq").desc(), F.col("__action"))
    return (
        change_effects(changes, key_cols)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        # lazy checkpoint (r15): nearly every consumer reads the net
        # batch TWICE (merge_into: anti-keys + upserts; star view:
        # touched + fresh; rollup: old-image join + new images) and
        # Spark plans each read as an independent subtree, re-running
        # the effect derivation and the window per read. The first
        # action materializes the Δ-sized winners once; the second read
        # costs a block scan. Nothing persists across query
        # invocations. NOTE (ADVICE r15): eager=False defers only the
        # final materialization — under AQE, building the checkpoint
        # RDD finalizes the adaptive plan, so the window's UPSTREAM
        # exchange stage still runs at pin-construction time; that work
        # is reused by the materialization, not duplicated.
        .localCheckpoint(eager=False)
    )


def merge_into(target: DataFrame, net: DataFrame, key_cols: list[str]) -> DataFrame:
    """A1/A2/A3 as one set operation: MERGE emulated without Delta.

    target rows whose key has no effect  -> kept
    effect 'upsert'                      -> after-image (insert or replace)
    effect 'delete'                      -> dropped

    REPLACE INTO semantics (builder.go:161-229) fall out: an upsert wins
    over an existing row by key. The anti-join + union is the classic
    lake MERGE emulation; with Delta/Iceberg on the cluster this becomes
    a native MERGE INTO (sinks/table_sink.py chooses).

    NOTE: batch-order-wins semantics — correct only when per-key seq is
    monotone across batches (in-order delivery). For sources that may
    split or reorder delivery use :func:`merge_into_versioned`.
    """
    untouched = target.join(net.select(*key_cols), on=key_cols, how="left_anti")
    new_rows = net.filter(F.col("__action") == "upsert").select("row.*")
    return untouched.unionByName(new_rows)


SEQ_COL = "__seq"
DELETED_COL = "__deleted"


def merge_into_versioned(
    versioned_target: DataFrame,
    effects: DataFrame,
    key_cols: list[str],
    bucket: tuple[str, int] | None = None,
) -> DataFrame:
    """Seq-versioned MERGE: an effect applies only if its seq beats the
    stored row's — last-write-wins BY SEQ, not by arrival order, so
    delivery may be split or reordered across micro-batches freely
    (multi-file sources, repartitioned streams, replays).

    The versioned table carries two internal columns: ``__seq`` (the
    winning effect's seq) and ``__deleted`` (tombstone — required so a
    stale pre-delete change arriving late cannot resurrect the row).
    External reads filter tombstones and strip internals
    (ParquetTableTarget.read). Tombstone GC = drop tombstones older
    than the source's max re-delivery horizon (compaction job; the
    reference's gtid_executed cleanup is the same chore).

    ``effects`` has the columns of :func:`change_effects`: the raw
    effects of a batch, or its :func:`latest_image_per_key` winners —
    the result is the same. The stored rows and the effects are unioned
    and ONE ``row_number`` window per key keeps the winner: the highest
    seq; on a tie the stored row; among effects of equal seq the delete.
    This is the semantics Delta CDF merges express with a sequence
    column, at one shuffle.

    ``bucket`` = (column, partitions): both frames carry the bucket
    column; the union is hash-partitioned on it once and the window runs
    per (bucket, key), so a ``partitionBy(column)`` write of the result
    needs no further exchange. The result keeps the column.
    """
    internal = (SEQ_COL, DELETED_COL) + ((bucket[0],) if bucket else ())
    data_cols = [c for c in versioned_target.columns if c not in internal]
    new_type = effects.schema["row"].dataType
    new_names = [f.name for f in new_type.fields]
    if new_names != data_cols:
        # schema drift between the stored image and the incoming
        # segment — a mid-batch-DDL retry against a partially-evolved
        # target, or a pre-DDL segment replayed after the physical
        # DDL landed. The STORED schema is authoritative: it reflects
        # every physically-applied DDL, and a legitimately ADDed column
        # is always physical before its post-DDL segment merges
        # (apply_ddl_to_target runs first in the barrier loop and is
        # replay-idempotent). Align the incoming struct to the stored
        # columns — null-fill what it lacks, DROP what only it carries
        # (a replayed pre-rename/pre-drop image whose values the seq
        # comparison discards anyway). Appending incoming-only fields
        # instead would permanently write a spurious null column on a
        # rename-crash retry AND make a later legitimate ADD COLUMN of
        # that name a silent no-op (its presence guard would see it).
        cur_types = {c: versioned_target.schema[c].dataType for c in data_cols}
        present = set(new_names)
        new_struct = F.struct(*[
            (F.col("row").getField(c).cast(cur_types[c]) if c in present
             else F.lit(None).cast(cur_types[c])).alias(c)
            for c in data_cols
        ])
    else:
        new_struct = F.col("row")
    extra = [F.col(bucket[0])] if bucket else []
    # __rank breaks a seq tie: the stored row (0), then a delete (1),
    # then an upsert (2)
    cur = versioned_target.select(
        *[F.col(k) for k in key_cols],
        F.struct(*[F.col(c) for c in data_cols]).alias("__row"),
        F.col(SEQ_COL),
        F.coalesce(F.col(DELETED_COL), F.lit(False)).alias(DELETED_COL),
        F.lit(0).alias("__rank"),
        *extra,
    )
    is_delete = F.col("__action") == "delete"
    eff = effects.select(
        *[F.col(k) for k in key_cols],
        new_struct.alias("__row"),
        F.col("seq").alias(SEQ_COL),
        is_delete.alias(DELETED_COL),
        F.when(is_delete, 1).otherwise(2).alias("__rank"),
        *extra,
    )
    both = cur.unionByName(eff)
    if bucket:
        both = both.repartition(bucket[1], bucket[0])
    w = Window.partitionBy(*extra, *key_cols).orderBy(F.col(SEQ_COL).desc(), F.col("__rank"))
    out = both.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)
    # tombstones keep only the key columns (row image nulled)
    return out.select(
        *[
            F.when(~F.col(DELETED_COL), F.col(f"__row.{c}")).otherwise(
                F.col(c) if c in key_cols else F.lit(None)
            ).alias(c)
            for c in data_cols
        ],
        SEQ_COL,
        DELETED_COL,
        *extra,
    )


def with_version_columns(df: DataFrame, seq: int = -1) -> DataFrame:
    """Prepare a snapshot table for versioned merging (seq -1 = 'before
    every change')."""
    return df.withColumn(SEQ_COL, F.lit(seq).cast("long")).withColumn(
        DELETED_COL, F.lit(False)
    )


def apply_changes(
    target: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    net: DataFrame | None = None,
) -> DataFrame:
    """Full batch apply: net effect per key -> merge.

    No separate dedupe shuffle: re-delivered rows are verbatim copies
    (same sid/gno/seq/images), so the per-key row_number window keeps
    exactly one of them — interchangeable winners, identical result —
    and A10 costs zero extra shuffles on the keyed path. (The counting
    no-PK path is NOT insensitive to duplicates; it dedupes explicitly.)

    ``net`` (r16): pass a precomputed ``latest_image_per_key(changes,
    key_cols)`` when the caller ALSO feeds it to another maintenance
    operator (dirty_groups, rollup_delta_vs_target) — the net frame is
    checkpoint-pinned, so sharing one instance runs the effect window
    once per batch instead of once per operator.
    """
    if net is None:
        net = latest_image_per_key(changes, key_cols)
    return merge_into(target, net, key_cols)


def apply_changes_no_pk(target: DataFrame, changes: DataFrame) -> DataFrame:
    """A2 no-unique-key path: full-row matching, delete removes exactly
    one duplicate (reference emits ``DELETE ... WHERE all-cols LIMIT 1``,
    sql/builder.go:152-155).

    Spark restatement: count copies per full-row fingerprint on each
    side; final copies = target_copies + inserts - deletes (floor 0),
    rebuilt with explode. One groupBy per side, one join — no window
    over the whole table.

    NULL handling: the reference compares no-PK rows with ``col IS
    NULL`` predicates (builder.go:107-112), i.e. NULL matches NULL. A
    plain ``on=cols`` join is null-UNSAFE (a NULL field never matches,
    so deletes of such rows no-op and updates duplicate). We group and
    join on ``md5(to_json(struct(cols), ignoreNullFields=false))``: the
    JSON form keeps null fields explicitly, so NULL==NULL like the
    reference, and the join shuffles one 32-char key instead of every
    column.
    """
    cols = target.columns

    def fp(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "__fp",
            F.md5(
                F.to_json(
                    F.struct(*[F.col(c) for c in cols]),
                    {"ignoreNullFields": "false"},
                )
            ),
        )

    t_counts = fp(target).groupBy("__fp").agg(
        F.first(F.struct(*cols)).alias("__trow"), F.count(F.lit(1)).alias("__t")
    )

    # counting semantics double-apply verbatim duplicates -> dedupe here
    # (lazily pinned: the insert and delete branches both read it, and
    # without the pin each branch re-runs the dedupe shuffle)
    changes = dedupe_redelivered(changes).localCheckpoint(eager=False)
    ins = (
        fp(changes.filter(
            F.col("op").isin(OP_INSERT, OP_UPDATE) & F.col("after").isNotNull()
        ).select("after.*"))
        .groupBy("__fp")
        .agg(F.first(F.struct(*cols)).alias("__irow"), F.count(F.lit(1)).alias("__i"))
    )
    dels = (
        fp(changes.filter(
            F.col("op").isin(OP_DELETE, OP_UPDATE) & F.col("before").isNotNull()
        ).select("before.*"))
        .groupBy("__fp")
        .agg(F.count(F.lit(1)).alias("__d"))
    )
    merged = (
        t_counts.join(ins, on="__fp", how="full_outer")
        .join(dels, on="__fp", how="full_outer")
        .fillna(0, subset=["__t", "__i", "__d"])
        .withColumn("__n", F.greatest(F.col("__t") + F.col("__i") - F.col("__d"), F.lit(0)))
        .filter(F.col("__n") > 0)
        .withColumn("__row", F.coalesce(F.col("__trow"), F.col("__irow")))
    )
    return (
        merged.select("__row", F.explode(F.sequence(F.lit(1), F.col("__n"))).alias("__copy"))
        .select("__row.*")
    )
