"""Merge targets over parquet with manifest-atomic commits.

Two targets behind one interface (``read``/``read_internal``/``stage``/
``commit``/``stage_image``/``overwrite``/``compact``):

- ``ParquetTableTarget`` — whole-table image per commit. Simple, exact;
  rewrite cost O(table) per batch, the test-tier stand-in.
- ``BucketedTableTarget`` — hash-partitions the table into N key
  buckets and merges only the buckets a batch touches:

    1. pin the batch's change effects with their bucket, observing the
       AFFECTED bucket set on that pass (for CDC batches a small
       fraction of N),
    2. read ONLY those buckets (with the schema their parquet footers
       record), merge, commit ONLY those entries.

  Merge cost becomes O(affected buckets) instead of O(table) — at
  100 TB with N=8192 buckets and a 1M-row batch, a merge touches
  ≲1M/N-ish of the table. Bucket routing uses ``pmod(xxhash64(key),N)``
  (engine-internal only — never oracle-compared, so Spark-native
  hashing is fine). On Delta/Iceberg the same role is played by
  partition/file pruning on the merge key + deletion vectors.

This module only builds frames and stages data dirs next to the table
dir; every write commits through :func:`dtle_spark.sinks.manifest.commit`
(data dirs are immutable, a commit is ONE atomic manifest rename under
the table's writer lease, and a crash at any point leaves the previous
table state readable). ``stage_merge`` (a batch's changes) and
``stage_image`` (a whole new image: a DDL batch's table) return the
commit as a closure so the streaming batch loop can swap EVERY table's
manifest in one tight loop — the A6 cross-table atomicity of
streaming/pipeline.apply_batch. The chores that rewrite entries in place
(``purge_keys``, tombstone ``compact``) hold the lease from their
manifest read to their swap and rewrite only the entries that hold
matching rows. A staged dir that is never committed — a refused lease,
a failed commit, a batch failing in another table's stage — is removed.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import uuid
from contextvars import ContextVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dtle_spark.operators.apply import (
    DELETED_COL,
    SEQ_COL,
    change_effects,
    merge_into_versioned,
    with_version_columns,
)
from dtle_spark.sinks import manifest
from dtle_spark.sinks.lease import writer_lease
from dtle_spark.sinks.manifest import TableManifest, unique_entry_name


def hash_bucket(key_cols: list[str], n_buckets: int):
    """Uniform hash routing of a key to its bucket number."""
    return F.pmod(F.xxhash64(*[F.col(k) for k in key_cols]), F.lit(n_buckets)).cast("int")


_STAGED: ContextVar[list | None] = ContextVar("staged_dirs", default=None)


@contextlib.contextmanager
def recording_staged(dirs: list):
    """Append to ``dirs`` every staging dir this thread creates inside
    the block, so a caller holding commit closures it will not run can
    remove what they staged (a committed dir has moved away already)."""
    token = _STAGED.set(dirs)
    try:
        yield
    finally:
        _STAGED.reset(token)


def _staging_dir(p: str, kind: str) -> str:
    """A fresh staging dir name next to the table dir ``p``."""
    path = f"{p}.{kind}-{uuid.uuid4().hex[:8]}"
    rec = _STAGED.get()
    if rec is not None:
        rec.append(path)
    return path


# the footer key under which Spark's parquet writer stores the schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _nullable(t: T.DataType) -> T.DataType:
    """``t`` with every field nullable, as a file-source read sees it."""
    if isinstance(t, T.StructType):
        return T.StructType([T.StructField(f.name, _nullable(f.dataType), True, f.metadata)
                             for f in t.fields])
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_nullable(t.elementType), True)
    if isinstance(t, T.MapType):
        return T.MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def _footer_schema(dirs: list[str]) -> T.StructType | None:
    """The one Spark schema every parquet file in ``dirs`` was written
    with, read from their footers on the driver (no Spark job); None
    when the files differ in schema, or one was not written by Spark."""
    import pyarrow.parquet as pq

    found = None
    for d in dirs:
        for f in glob.glob(os.path.join(d, "*.parquet")):
            raw = (pq.read_metadata(f).metadata or {}).get(_SPARK_SCHEMA_KEY)
            if raw is None:
                return None
            schema = _nullable(T.StructType.fromJson(json.loads(raw)))
            if found is not None and schema != found:
                return None
            found = schema
    return found


def _reader(spark: SparkSession, dirs: list[str], merge: bool = False):
    """A parquet reader for ``dirs``: given their files' common schema,
    else inferring one (a Spark job) from a single file or, with
    ``merge``, from every file."""
    schema = _footer_schema(dirs)
    if schema is not None:
        return spark.read.schema(schema)
    return spark.read.option("mergeSchema", "true") if merge else spark.read


def _bucket_entries(staged: str) -> tuple[dict[str, str], dict[str, str]]:
    """A staged ``partitionBy("__b")`` write as commit arguments: bucket
    -> new entry ``b<K>-<hex>``, and entry -> its staged ``__b=K`` dir."""
    entries, moves = {}, {}
    for d in sorted(os.listdir(staged)):
        if d.startswith("__b="):
            b = d[4:]
            entry = unique_entry_name(f"b{b}")
            entries[b] = entry
            moves[entry] = os.path.join(staged, d)
    return entries, moves


def _drop_rows(spark: SparkSession, p: str, owner: str, prefix: str, hit, keep) -> int:
    """Rewrite the entries that hold rows ``hit`` selects as ``keep``
    of their rows, in one commit; the caller holds the writer lease
    from before this manifest read to after the swap. ONE scan finds
    the touched entries and their hit counts via input_file_name();
    each touched entry is staged next to the table dir, untouched
    ones keep their dirs. ``hit`` returns None when no row can
    match. Returns the rows dropped."""
    m = TableManifest.load(p)
    if m is None or not m.entries:
        return 0
    dirs = sorted(set(m.entries.values()))
    paths = [os.path.join(p, d) for d in dirs]
    # merged: segments appended before and after an ADD COLUMN differ,
    # and a schema inferred from one file could miss matches in another
    rows = _reader(spark, paths, merge=True).parquet(*paths)
    hits = hit(rows.withColumn("__file", F.input_file_name()))
    if hits is None:
        return 0
    per_dir: dict[str, int] = {}  # touched entry dir -> hit count
    for r in hits.groupBy("__file").agg(F.count(F.lit(1)).alias("n")).collect():
        for d in dirs:
            if f"/{d}/" in r["__file"]:
                per_dir[d] = per_dir.get(d, 0) + r["n"]
                break
    if per_dir:
        new_dirs = {d: unique_entry_name(prefix) for d in per_dir}
        staged = {e: _staging_dir(p, f"staged-{e}") for e in new_dirs.values()}
        try:
            for d, e in new_dirs.items():
                path = os.path.join(p, d)
                keep(_reader(spark, [path]).parquet(path)).write.mode(
                    "overwrite"
                ).parquet(staged[e])
            manifest.commit(p, owner, m.repointed(new_dirs), staged, replace=True)
        finally:
            for path in staged.values():  # gone once committed
                shutil.rmtree(path, ignore_errors=True)
    return sum(per_dir.values())


class ManifestedTarget:
    """Whole-table manifest-committed target (base for both targets)."""

    def __init__(self, root: str):
        self.root = root

    def path(self, schema_name: str, table_name: str) -> str:
        return os.path.join(self.root, schema_name, table_name)

    table_dir = path  # historical alias

    def _manifest(self, schema_name: str, table_name: str) -> TableManifest | None:
        return TableManifest.load(self.path(schema_name, table_name))

    @staticmethod
    def _read_manifest(spark: SparkSession, p: str, m: TableManifest) -> DataFrame | None:
        dirs = m.dirs(p)  # raises on a missing data dir
        return _reader(spark, dirs).parquet(*dirs) if dirs else None

    def read_internal(self, spark: SparkSession, schema_name: str, table_name: str) -> DataFrame | None:
        """Raw stored form — may carry __seq/__deleted version columns."""
        p = self.path(schema_name, table_name)
        m = TableManifest.load(p)
        if m is not None:
            return self._read_manifest(spark, p, m)
        # an externally-seeded plain parquet dir (no manifest yet)
        if os.path.isdir(p) and any(
            f.endswith(".parquet") or f == "_SUCCESS" for f in os.listdir(p)
        ):
            return spark.read.parquet(p)
        return None

    def read(self, spark: SparkSession, schema_name: str, table_name: str) -> DataFrame | None:
        """External view: tombstones filtered, version columns stripped."""
        df = self.read_internal(spark, schema_name, table_name)
        if df is None:
            return None
        if DELETED_COL in df.columns:
            df = df.filter(~F.col(DELETED_COL)).drop(SEQ_COL, DELETED_COL)
        return df

    def stored_rows(self, schema_name: str, table_name: str) -> int:
        """Rows in the live manifest's data files, summed from their
        parquet footers without a Spark job. Tombstones are rows here, so
        this equals ``read(...).count()`` only for tables without
        ``__deleted`` (the append-only segment tables)."""
        import pyarrow.parquet as pq

        p = self.path(schema_name, table_name)
        m = TableManifest.load(p)
        if m is None:
            return 0
        return sum(
            pq.read_metadata(f).num_rows
            for d in m.dirs(p)
            for f in glob.glob(os.path.join(d, "*.parquet"))
        )

    def versions(self, schema_name: str, table_name: str) -> list[int]:
        """Retained commit versions, ascending (current last)."""
        return TableManifest.versions(self.path(schema_name, table_name))

    def read_at_version(
        self, spark: SparkSession, schema_name: str, table_name: str, version: int
    ) -> DataFrame | None:
        """Time travel: the table exactly as of a retained commit — the
        ``VERSION AS OF`` analogue. Data dirs are immutable and GC keeps
        every dir a retained version references, so the past image is
        byte-stable until retention prunes it."""
        p = self.path(schema_name, table_name)
        m = TableManifest.load_version(p, version)
        df = None if m is None else self._read_manifest(spark, p, m)
        if df is None:
            return None
        if DELETED_COL in df.columns:
            df = df.filter(~F.col(DELETED_COL)).drop(SEQ_COL, DELETED_COL)
        return df

    def stage(
        self, df: DataFrame, schema_name: str, table_name: str, retries: int = 5
    ) -> str:
        """Write the new table image aside (not yet visible).
        Write-retry mirrors the reference's deadlock retry
        (RetryTxLimit=5, applier.go:966-977/driver.go:172-173) — on a
        lake target this is the optimistic-concurrency retry loop."""
        staged = _staging_dir(self.path(schema_name, table_name), "staged")
        last_err = None
        for _ in range(retries):
            try:
                df.write.mode("overwrite").parquet(staged)
                last_err = None
                break
            except Exception as e:  # transient executor/file races
                last_err = e
        if last_err is not None:
            shutil.rmtree(staged, ignore_errors=True)
            raise last_err
        return staged

    def commit(
        self,
        staged: str,
        schema_name: str,
        table_name: str,
        seq_watermark: dict[str, int] | None = None,
    ) -> None:
        """Adopt a staged image: move it inside the table dir (readers
        still resolve the old manifest), then atomically swap the
        manifest. Crash before the swap = old state intact; after = new
        state complete. GC of replaced dirs runs last and is restartable."""
        entry = unique_entry_name("t")
        manifest.commit(
            self.path(schema_name, table_name), "commit", {"_table": entry},
            {entry: staged}, replace=True, seq_watermark=seq_watermark,
        )

    def overwrite(self, df: DataFrame, schema_name: str, table_name: str) -> None:
        self.commit(self.stage(df, schema_name, table_name), schema_name, table_name)

    def stage_image(
        self,
        df: DataFrame,
        schema_name: str,
        table_name: str,
        key_cols: list[str] | None = None,
        seq_watermark: dict[str, int] | None = None,
    ):
        """Write a whole new table image aside; returns the commit
        closure that adopts it (the streaming batch loop's image path,
        committed with the batch's other tables). ``key_cols`` lays the
        image out by key where the target buckets; a None watermark
        keeps the committed one."""
        staged = self.stage(df, schema_name, table_name)

        def commit_fn() -> None:
            self.commit(staged, schema_name, table_name, seq_watermark=seq_watermark)

        return commit_fn

    def append(
        self,
        df: DataFrame,
        schema_name: str,
        table_name: str,
        seq_watermark: dict[str, int] | None = None,
    ) -> None:
        """Log-structured append: the staged batch becomes an ADDITIONAL
        manifest entry (readers union all entries), so the commit cost
        is O(batch) regardless of table size — the lake-append analogue
        for insert-only tables (streaming corpus ingest). Same atomic
        manifest swap; time travel sees one version per appended batch."""
        m = self._manifest(schema_name, table_name)
        if m is not None and m.bucketed:
            raise ValueError(
                f"{schema_name}.{table_name} is key-bucketed; append is for "
                "insert-only segment tables — use merge() on bucketed targets"
            )
        staged = self.stage(df, schema_name, table_name)
        entry = unique_entry_name("seg")
        manifest.commit(  # key = dir: appends never replace
            self.path(schema_name, table_name), "append", {entry: entry},
            {entry: staged}, seq_watermark=seq_watermark,
        )

    def purge_keys(
        self,
        spark: SparkSession,
        schema_name: str,
        table_name: str,
        key_col: str,
        keys: DataFrame,
    ) -> int:
        """HARD delete (takedown / right-to-be-forgotten): remove every
        row whose ``key_col`` matches ``keys`` — physically, not a
        tombstone. Only segments CONTAINING matches are rewritten
        (anti-join per touched segment; untouched dirs are shared with
        the new manifest unchanged), one atomic manifest swap commits
        the purge, and retained HISTORY versions older than it are
        dropped with their superseded dirs GC'd — time travel across a
        purge is deliberately severed, because a takedown that survives
        in a resolvable snapshot is not a takedown.

        Contract notes: history severing happens on EVERY call (also
        0-hit ones) — that makes the operation idempotent and lets a
        re-run complete a purge that crashed between the manifest swap
        and the history prune. The seq watermark rides the swap
        untouched, so streaming replays stay no-ops. Cost: ONE scan of
        the table (key column only, keys broadcast) computes the
        touched-segment set and the per-segment purge counts via
        input_file_name(), then one anti-join rewrite per TOUCHED
        segment — O(touched) Spark jobs, not O(segments); at 100 TB,
        clustering/bucketing the table on the purge key bounds the
        rewrite to the keys' own row groups. Returns rows purged."""
        p = self.path(schema_name, table_name)
        if not os.path.isdir(p):
            return 0
        with writer_lease(p, "purge_keys"):
            keys = keys.select(F.col(key_col)).distinct().localCheckpoint()
            purged = _drop_rows(
                spark, p, "purge_keys", "purged",
                lambda rows: rows.join(F.broadcast(keys), [key_col], "left_semi"),
                lambda rows: rows.join(F.broadcast(keys), [key_col], "left_anti"),
            )
            # sever time travel. Runs even on a 0-hit call so a crash
            # between swap and prune is completable by re-running the purge.
            manifest.sever_history(p)
            return purged

    def compact_segments(
        self, spark: SparkSession, schema_name: str, table_name: str,
        max_segments: int = 16,
    ) -> int:
        """Small-file chore for append-only tables: when the segment
        count exceeds ``max_segments``, rewrite all segments into ONE
        entry (a single partitioned parquet write) and swap the
        manifest once. Readers before the swap see the old segments,
        after it the compacted image — same atomicity as every other
        commit, and time travel keeps resolving the pre-compaction
        versions until retention prunes them. Returns segments folded
        (0 = nothing to do). At 100 TB run this off the ingest path on
        a schedule, like any lake OPTIMIZE."""
        p = self.path(schema_name, table_name)
        m = TableManifest.load(p)
        if m is None or len(m.entries) <= max_segments or m.bucketed:
            return 0  # a bucketed layout is merge()'s; compact() drops its tombstones
        # lease spans read->stage->commit: an append landing between
        # the fold's read and its swap would be silently erased
        with writer_lease(p, "compact_segments"):
            cur = self.read_internal(spark, schema_name, table_name)
            if cur is None:
                return 0
            n = len(TableManifest.load(p).entries)
            self.commit(self.stage(cur, schema_name, table_name), schema_name, table_name)
            return n

    def seq_watermark(self, schema_name: str, table_name: str) -> dict[str, int]:
        """Per-source applied-seq high-water mark, committed atomically
        with the data it covers (no-PK replay idempotence, A10)."""
        m = self._manifest(schema_name, table_name)
        return dict(m.seq_watermark) if m is not None else {}

    def compact(self, spark: SparkSession, schema_name: str, table_name: str,
                horizon_seq: int) -> int:
        """Tombstone GC: drop tombstones whose __seq is older than the
        source's max re-delivery horizon (the reference's periodic
        gtid_executed cleanup is the same chore — a tombstone only
        guards against a STALE change arriving later, so once the
        source can no longer re-deliver below horizon_seq the marker
        is dead weight). Live rows and newer tombstones survive.

        Per entry: only entries holding expired tombstones are rewritten
        (a whole-table image is one entry, a bucketed table one per
        bucket); untouched ones stay byte-identical, so at 100 TB the GC
        cost tracks churn, not table size. The writer lease spans the
        manifest read to the swap, so a merge cannot commit in between.
        Returns the number of tombstones dropped."""
        p = self.path(schema_name, table_name)
        if not os.path.isdir(p):
            return 0
        dead = F.col(DELETED_COL) & (F.col(SEQ_COL) < F.lit(horizon_seq))
        with writer_lease(p, "compact"):
            return _drop_rows(
                spark, p, "compact", "compacted",
                lambda rows: rows.filter(dead) if DELETED_COL in rows.columns else None,
                lambda rows: rows.filter(~dead),
            )


class ParquetTableTarget(ManifestedTarget):
    """Whole-table merge target — exact but O(table) per commit; the
    test tier. ``BucketedTableTarget`` is the scale default."""


class BucketedTableTarget(ManifestedTarget):
    def __init__(self, root: str, n_buckets: int = 32):
        super().__init__(root)
        self.n_buckets = n_buckets

    def seed(self, df: DataFrame, schema_name: str, table_name: str, key_cols: list[str]) -> None:
        """Initial (snapshot) load: write every bucket partition
        (seq-versioned from the start, seq -1 = before every change)."""
        self.stage_image(df, schema_name, table_name, key_cols)()

    def stage_image(
        self,
        df: DataFrame,
        schema_name: str,
        table_name: str,
        key_cols: list[str] | None = None,
        seq_watermark: dict[str, int] | None = None,
    ):
        """Write the whole image re-bucketed on ``key_cols`` (seq-versioned;
        unversioned rows take seq -1) into a staged dir; the returned
        closure adopts every bucket and replaces any previous table state
        in ONE manifest swap. Without ``key_cols`` the image is one
        whole-table entry."""
        if not key_cols:
            return super().stage_image(df, schema_name, table_name, seq_watermark=seq_watermark)
        if DELETED_COL not in df.columns:
            df = with_version_columns(df)
        # the merge's column order (data, then version columns), so the
        # buckets later merges rewrite keep one footer schema with these
        df = df.select(*[c for c in df.columns if c not in (SEQ_COL, DELETED_COL)],
                       SEQ_COL, DELETED_COL)
        p = self.path(schema_name, table_name)
        staged = _staging_dir(p, "staged")
        self._write_buckets(df.withColumn("__b", hash_bucket(key_cols, self.n_buckets))
                            .repartition(self.n_buckets, "__b"), staged)
        return self._bucket_commit(
            p, "seed", staged, replace=True,
            seq_watermark=seq_watermark, key_cols=key_cols, n_buckets=self.n_buckets,
        )

    @staticmethod
    def _write_buckets(df: DataFrame, staged: str) -> None:
        """One ``partitionBy("__b")`` write; a failed one leaves nothing."""
        try:
            df.write.partitionBy("__b").mode("overwrite").parquet(staged)
        except BaseException:
            shutil.rmtree(staged, ignore_errors=True)
            raise

    @staticmethod
    def _bucket_commit(p: str, owner: str, staged: str, **kw):
        """The closure that commits a staged bucket write; the staged dir
        goes whether the commit lands or raises (a refused lease)."""

        def commit_fn() -> None:
            try:
                manifest.commit(p, owner, *_bucket_entries(staged), **kw)
            finally:
                shutil.rmtree(staged, ignore_errors=True)

        return commit_fn

    def overwrite(self, df: DataFrame, schema_name: str, table_name: str) -> None:
        """Whole-table rewrite that PRESERVES bucketing when the table
        is bucketed (DDL application path): re-bucket on the manifest's
        recorded key. Falls back to a whole-table entry for unkeyed
        tables. (A rename of a key column itself would need a key-spec
        update first — out of scope, as in the reference.)"""
        m = self._manifest(schema_name, table_name)
        if m is not None and m.key_cols:
            self.seed(df, schema_name, table_name, m.key_cols)
        else:
            super().overwrite(df, schema_name, table_name)

    def stage_merge(
        self,
        spark: SparkSession,
        changes: DataFrame,
        schema_name: str,
        table_name: str,
        key_cols: list[str],
    ):
        """Stage one change batch; returns ``(touched_buckets,
        commit_fn)`` — nothing is visible until ``commit_fn()`` runs.

        Seq-versioned (operators/apply.merge_into_versioned): an effect
        applies only if its seq beats the stored row's, and deletes
        leave tombstones — so delivery may be split or reordered across
        micro-batches, same guarantee as the whole-table path, at
        O(affected buckets) cost. Tombstone GC is the compaction chore.

        Three Spark jobs on a bucketed table whose touched buckets share
        one footer schema: (1) the change effects are pinned with their
        bucket, and an observed metric of that pass yields the touched
        buckets; (2) the touched buckets' stored rows, read with that
        schema, are unioned with the effects and hash-partitioned by
        bucket once — the merge window runs per (bucket, key); (3) the
        ``partitionBy`` write, one file per touched bucket.

        The commit closure moves the staged bucket dirs inside the
        table dir (invisible — readers resolve the old manifest), then
        swaps the manifest ONCE. The streaming batch loop collects
        these closures from every table and runs them back-to-back:
        A6 cross-table atomicity with a crash window of zero per table.

        No dedupe pass: a re-delivered row is a verbatim copy, and the
        merge window keeps exactly one of them
        (operators/apply.apply_changes)."""
        p = self.path(schema_name, table_name)
        m = TableManifest.load(p)
        observed = (
            change_effects(changes, key_cols)
            .withColumn("__b", hash_bucket(key_cols, self.n_buckets))
            .observe("touched", F.collect_set("__b"))
        )
        # eager local checkpoint, not persist(): a cached frame's first
        # use is a job of its own under AQE, the checkpoint is one job
        effects = observed.localCheckpoint(eager=True)
        # the metric is read off the executed query, not through a
        # pyspark Observation: that attaches a non-serializable
        # ObservationManager to the session, and a later task capturing
        # the session (an ML model's training summary) fails to serialize
        metrics = observed._jdf.queryExecution().observedMetrics()
        touched = sorted(metrics.get("touched").get().getList(0))
        if not touched:
            return [], lambda: None
        rewrite_all = m is None or not m.bucketed
        if rewrite_all:
            # one-time migration: the table was seeded as a whole-table
            # image (overwrite/snapshot) or doesn't exist yet — merge
            # against the full image and re-bucket everything
            current = self.read_internal(spark, schema_name, table_name)
        else:
            # read ONLY affected buckets, resolved through the manifest
            dirs = m.dirs(p, [str(b) for b in touched])  # raises on a missing dir
            current = _reader(spark, dirs).parquet(*dirs) if dirs else None
        if current is None:
            current = spark.createDataFrame([], effects.schema["row"].dataType)
        if DELETED_COL not in current.columns:
            current = with_version_columns(current)  # legacy unversioned rows
        n_parts = self.n_buckets if rewrite_all else len(touched)
        merged = merge_into_versioned(
            current.withColumn("__b", hash_bucket(key_cols, self.n_buckets)),
            effects, key_cols, bucket=("__b", n_parts),
        )
        staged = _staging_dir(p, "merge")
        self._write_buckets(merged, staged)
        # a full re-bucket replaces the image and its bucketing spec
        spec = {"key_cols": key_cols, "n_buckets": self.n_buckets} if rewrite_all else {}
        return touched, self._bucket_commit(
            p, "merge", staged, replace=rewrite_all, **spec
        )

    def merge(
        self,
        spark: SparkSession,
        changes: DataFrame,
        schema_name: str,
        table_name: str,
        key_cols: list[str],
    ) -> list[int]:
        """Stage + commit in one call; returns the buckets touched."""
        touched, commit_fn = self.stage_merge(
            spark, changes, schema_name, table_name, key_cols
        )
        commit_fn()
        return touched
