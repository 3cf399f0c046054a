"""Native ``MERGE INTO`` branch of the TableTarget interface (Delta).

The manifest-parquet targets (sinks/table_sink.py) are the jar-free
analogue of a lakehouse table format. On a cluster that ships the
delta-spark package + jars, the same A1-A3 apply semantics (reference
driver/mysql/applier_incr.go:532-860; SURVEY §2.3) belong in ONE native
``MERGE INTO`` per table per micro-batch: the format's transaction log
provides the atomic commit our manifest rename provides, and data
skipping / file pruning on the merge key plays the role of the bucket
manifest.

Semantics parity — exactly :func:`operators.apply.merge_into_versioned`:

- net changes = ``dedupe_redelivered`` → ``latest_image_per_key``
  (A10 redelivery dedupe + per-key terminal effect, PK-moves included)
- the stored table carries ``__seq``/``__deleted``; a MERGE effect
  applies only when its seq beats the stored row's, so delivery may be
  split or reordered across micro-batches freely
- deletes write TOMBSTONES (``UPDATE SET __deleted=true``), never
  ``DELETE`` — a stale pre-delete change arriving late must not
  resurrect the row; unseen keys insert their tombstone for the same
  reason
- external ``read()`` filters tombstones and strips the internals

The merge SPEC (join condition + clause conditions + source-row
projection) is pure data built by :func:`merge_clauses` /
:func:`net_to_source` and unit-tested jar-free — the mysql_dml-builder
treatment of MERGE. Executing it needs delta-spark, so
``DeltaTableTarget.available()`` gates and the execution tests SKIP
(not stub) where the package is absent.

A6 note, stated honestly: a Delta commit is atomic PER TABLE. The
manifest targets' deferred-commit closure swap gives a multi-table
micro-batch one cross-table commit point; Delta has no equivalent short
of an external coordinator, so on this target multi-table batches are
per-table atomic. Single-table jobs (the common CDC shape) lose
nothing.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dtle_spark.operators.apply import (
    DELETED_COL,
    SEQ_COL,
    dedupe_redelivered,
    latest_image_per_key,
    with_version_columns,
)


def merge_clauses(key_cols: list[str]) -> dict[str, str | None]:
    """The MERGE spec as data (jar-free-testable plan shape):

    - ``condition``: null-safe key equality — MySQL PKs are NOT NULL,
      but no-PK fallback keys may carry NULLs and ``<=>`` keeps the
      reference's NULL-safe delete-exactly-one contract (A2)
    - ``matched_update``: apply only when the incoming seq wins; the
      update writes ALL columns including ``__deleted`` (tombstoning)
    - ``not_matched_insert``: unconditional — tombstones for unseen
      keys insert too (late-stale guard)
    """
    cond = " AND ".join(f"t.`{k}` <=> s.`{k}`" for k in key_cols)
    return {
        "condition": cond,
        "matched_update": f"s.`{SEQ_COL}` > t.`{SEQ_COL}`",
        "not_matched_insert": None,
    }


def net_to_source(net: DataFrame, key_cols: list[str], row_type) -> DataFrame:
    """Project the net-effect frame (key cols + __action + row struct +
    seq, the latest_image_per_key output) into MERGE-source rows with
    the TARGET's column layout: data columns + __seq + __deleted.
    Delete effects carry their key with NULL data columns and
    ``__deleted=true``."""
    sel = []
    for f in row_type.fields:
        if f.name in key_cols:
            sel.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            sel.append(F.col(f"row.{f.name}").cast(f.dataType).alias(f.name))
    sel.append(F.col("seq").cast("long").alias(SEQ_COL))
    sel.append((F.col("__action") == "delete").alias(DELETED_COL))
    return net.select(*sel)


class DeltaTableTarget:
    """Delta-backed TableTarget: same call surface the streaming batch
    loop uses (``stage_merge``/``stage_image``/``merge``/``read``/
    ``read_internal``/``seed``/``overwrite``/``seq_watermark``), dispatched in
    ``_merge_segment`` via ``NATIVE_MERGE``."""

    NATIVE_MERGE = True

    def __init__(self, root: str):
        self.root = root

    @staticmethod
    def available(spark: SparkSession) -> bool:
        """True when delta-spark (Python bindings + jars + catalyst
        extensions) can actually execute a MERGE in this session."""
        try:
            from delta.tables import DeltaTable  # noqa: F401
        except ImportError:
            return False
        try:
            spark._jvm.io.delta.tables.DeltaTable  # jar present?
        except Exception:
            return False
        return True

    def path(self, schema_name: str, table_name: str) -> str:
        return os.path.join(self.root, schema_name, table_name)

    # -- lifecycle ---------------------------------------------------------

    def seed(self, df: DataFrame, schema_name: str, table_name: str,
             key_cols: list[str]) -> None:
        """Snapshot seed: versioned image (seq -1 = before every
        change), written as a Delta table."""
        with_version_columns(df).write.format("delta").mode("overwrite").save(
            self.path(schema_name, table_name)
        )

    def overwrite(self, df: DataFrame, schema_name: str, table_name: str) -> None:
        out = df if SEQ_COL in df.columns else with_version_columns(df)
        out.write.format("delta").mode("overwrite").option(
            "overwriteSchema", "true"
        ).save(self.path(schema_name, table_name))

    def stage_image(self, df: DataFrame, schema_name: str, table_name: str,
                    key_cols: list[str] | None = None,
                    seq_watermark: dict[str, int] | None = None):
        """The whole-image write as a commit closure: the ``overwrite``
        runs inside it (its log commit is atomic per table, as for
        ``stage_merge``)."""

        def commit_fn() -> None:
            self.overwrite(df, schema_name, table_name)

        return commit_fn

    def read_internal(self, spark: SparkSession, schema_name: str,
                      table_name: str) -> DataFrame | None:
        p = self.path(schema_name, table_name)
        if not os.path.exists(os.path.join(p, "_delta_log")):
            return None
        return spark.read.format("delta").load(p)

    def read(self, spark: SparkSession, schema_name: str,
             table_name: str) -> DataFrame | None:
        cur = self.read_internal(spark, schema_name, table_name)
        if cur is None:
            return None
        return cur.filter(~F.col(DELETED_COL)).drop(SEQ_COL, DELETED_COL)

    def seq_watermark(self, schema_name: str, table_name: str) -> dict[str, int]:
        return {}  # native branch is keyed-only; no no-PK watermark

    def versions(self, schema_name: str, table_name: str) -> list[int]:
        """Retained Delta log versions — read straight from the
        _delta_log commit filenames, so the manager's versions route
        works without the delta-spark package (pure filesystem)."""
        log = os.path.join(self.path(schema_name, table_name), "_delta_log")
        if not os.path.isdir(log):
            return []
        out = []
        for f in os.listdir(log):
            stem, _, ext = f.partition(".")
            if ext == "json" and stem.isdigit():
                out.append(int(stem))
        return sorted(out)

    # -- the merge ---------------------------------------------------------

    def stage_merge(
        self,
        spark: SparkSession,
        changes: DataFrame,
        schema_name: str,
        table_name: str,
        key_cols: list[str],
    ):
        """Same contract as BucketedTableTarget.stage_merge: compute
        the net effects now, return a commit closure. The closure runs
        ONE ``MERGE INTO`` whose log commit is the atomic point (per
        table — see the module A6 note)."""
        from delta.tables import DeltaTable

        net = latest_image_per_key(dedupe_redelivered(changes), key_cols)
        row_type = changes.schema["after"].dataType
        p = self.path(schema_name, table_name)
        if not os.path.exists(os.path.join(p, "_delta_log")):
            # first batch on an unseeded table: an empty versioned image
            self.seed(
                spark.createDataFrame([], row_type), schema_name, table_name,
                key_cols,
            )
        src = net_to_source(net, key_cols, row_type)
        spec = merge_clauses(key_cols)

        def commit_fn() -> None:
            (
                DeltaTable.forPath(spark, p).alias("t")
                .merge(src.alias("s"), spec["condition"])
                .whenMatchedUpdateAll(condition=spec["matched_update"])
                .whenNotMatchedInsertAll(condition=spec["not_matched_insert"])
                .execute()
            )

        return [], commit_fn

    def merge(
        self,
        spark: SparkSession,
        changes: DataFrame,
        schema_name: str,
        table_name: str,
        key_cols: list[str],
    ) -> list[int]:
        touched, commit_fn = self.stage_merge(
            spark, changes, schema_name, table_name, key_cols
        )
        commit_fn()
        return touched
