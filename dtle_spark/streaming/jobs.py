"""Job manager: the reference's HTTP v2 control surface as a library
(reference §2.7 — api/handler/v2/job.go create/list/detail/pause/
resume/delete/position). Cluster state that dtle keeps in Consul
(``dtle/<job>/{Gtid, Config, ...}``, common/store.go:40-446) collapses
into streaming checkpoints + this registry; there is no transport tier
because Spark moves the data.
"""

from __future__ import annotations

import dataclasses
import importlib
import json
import os
from typing import Callable

from dtle_spark.catalog import SchemaCatalog
from dtle_spark.model import JobConfig, TableConfig
from dtle_spark.streaming.pipeline import ReplicationJob
from dtle_spark.streaming.store import StreamJob
from dtle_spark.streaming.subscription import SubscriptionJob


def job_config_to_dict(job: JobConfig) -> dict:
    return dataclasses.asdict(job)


def job_config_from_dict(d: dict) -> JobConfig:
    tables = [TableConfig(**t) for t in d.get("tables", [])]
    return JobConfig(**{**d, "tables": tables})


def _persistable_kwargs(kw: dict) -> dict:
    """Spec kwargs survive the round-trip to ``<spec_root>/<name>.json``
    or the create call fails HERE — a recovered job must run with the
    create-time configuration, never silently with defaults (the old
    scalar-only filter dropped lists/dicts without a word)."""
    for k, v in kw.items():
        try:
            json.dumps(v)
        except (TypeError, ValueError):
            raise ValueError(
                f"job kwarg {k!r} ({type(v).__name__}) is not "
                f"JSON-serializable; recover() could not reproduce it — "
                f"pass a serializable value"
            )
    return dict(kw)


def _target_spec(target) -> dict:
    """Serializable descriptor for a TableTarget instance — job specs
    persist the descriptor, recover() rebuilds the instance. Unknown
    target types raise at create so a recovered job can never silently
    run a different target."""
    from dtle_spark.sinks.delta_target import DeltaTableTarget
    from dtle_spark.sinks.table_sink import BucketedTableTarget, ParquetTableTarget

    # exact type identity, not isinstance: a subclass may change
    # behavior the descriptor cannot express
    if type(target) is BucketedTableTarget:
        return {"target_format": "bucketed", "target_n_buckets": target.n_buckets}
    if type(target) is DeltaTableTarget:
        return {"target_format": "delta"}
    if type(target) is ParquetTableTarget:
        return {"target_format": "parquet"}
    raise ValueError(
        f"target {type(target).__name__} has no serializable descriptor; "
        f"create the job without spec_root or add one to _target_spec"
    )


def _resolve_target(fmt: str, target_root: str, n_buckets: int = 32):
    from dtle_spark.sinks.delta_target import DeltaTableTarget
    from dtle_spark.sinks.table_sink import BucketedTableTarget, ParquetTableTarget

    if fmt == "bucketed":
        return BucketedTableTarget(target_root, n_buckets=n_buckets)
    if fmt == "parquet":
        return ParquetTableTarget(target_root)
    if fmt == "delta":
        return DeltaTableTarget(target_root)
    raise ValueError(f"unknown target_format {fmt!r}")


class JobManager:
    def __init__(self, spark, spec_root: str | None = None):
        """``spec_root``: when given, every created job persists its
        spec (config + dirs + catalog snapshot) as
        ``<spec_root>/<name>.json`` so :meth:`recover` on a FRESH
        manager restores and restarts all jobs from checkpoints — the
        agent-restart path the reference drives through
        driver.go:493+ StartTask/RecoverTask over Consul job state
        (common/store.go:40-446)."""
        self.spark = spark
        self.spec_root = spec_root
        self._jobs: dict[str, StreamJob] = {}

    def _spec_path(self, name: str) -> str | None:
        if self.spec_root is None:
            return None
        return os.path.join(self.spec_root, f"{name}.json")

    def create(
        self,
        job: JobConfig,
        source_dir: str,
        target_root: str,
        checkpoint_dir: str,
        catalog: SchemaCatalog,
        start: bool = True,
        **kw,
    ) -> ReplicationJob:
        return self._create_wire_job(
            None, job, source_dir, target_root, checkpoint_dir, catalog, start, kw
        )

    def create_subscription(
        self,
        job: JobConfig,
        source_dir: str,
        output_root: str,
        checkpoint_dir: str,
        catalog: SchemaCatalog,
        start: bool = True,
        **kw,
    ) -> SubscriptionJob:
        """The reference's third job type (subscription-to-Kafka,
        api/handler/v2/job.go:1222-1235): stream the change log as
        Debezium frames instead of applying it."""
        return self._create_wire_job(
            "subscription", job, source_dir, output_root, checkpoint_dir, catalog, start, kw
        )

    def _create_wire_job(
        self,
        type_: str | None,
        job: JobConfig,
        source_dir: str,
        root: str,
        checkpoint_dir: str,
        catalog: SchemaCatalog,
        start: bool,
        kw: dict,
    ):
        """The one create path of the JobConfig + catalog job types
        (:data:`WIRE_JOB_TYPES`; replication specs carry no "type"):
        exists check, preflight, construct, persist, register, start."""
        if job.name in self._jobs:
            raise ValueError(f"job {job.name!r} already exists")
        # preflight: fail HERE, not mid-stream (inspect.go:89-180)
        from dtle_spark.preflight import preflight

        preflight(job, catalog, self.spark)
        # a serializable target descriptor (the recover() wire form)
        # resolves to the instance here; a passed instance round-trips
        # through its descriptor below. Only replication takes a target:
        # the subscription constructor rejects it
        fmt = kw.pop("target_format", None)
        n_buckets = kw.pop("target_n_buckets", None)
        if n_buckets is not None and fmt is None:
            raise ValueError(
                "target_n_buckets has no effect without target_format "
                "(it parameterizes the resolved target); pass "
                "target_format='bucketed' or drop target_n_buckets"
            )
        if fmt is not None and "target" not in kw:
            kw["target"] = _resolve_target(
                fmt, root, 32 if n_buckets is None else n_buckets
            )
        wj = WIRE_JOB_TYPES[type_](
            self.spark, job, source_dir, root, checkpoint_dir, catalog, **kw
        )
        if self.spec_root is not None:
            spec_kw = {k: v for k, v in kw.items() if k != "target"}
            if kw.get("target") is not None:
                spec_kw.update(_target_spec(kw["target"]))
            self._persist_spec(job.name, {
                **({} if type_ is None else {"type": type_}),
                "job": job_config_to_dict(job),
                "source_dir": source_dir,
                "target_root": root,
                "checkpoint_dir": checkpoint_dir,
                "catalog": catalog.to_dict(),
                "kw": spec_kw,
            })
        return self._register(job.name, wj, start)

    def create_job(self, type_: str, name: str, start: bool = True, **fields):
        """Create a managed job of a table-driven type (:data:`JOB_TYPES`)
        — the same create/pause/resume/metrics/delete/recover control
        plane as replication and subscription jobs. ``fields`` are the
        type's spec fields plus any constructor keyword arguments; the
        spec persists them as plain JSON so recover() rebuilds the job
        verbatim against the same roots (the store's checkpoint stamp
        guarantees the stream pairing)."""
        t = JOB_TYPES.get(type_)
        if t is None:
            raise ValueError(
                f"unknown job type {type_!r}; known: {sorted(JOB_TYPES)}"
            )
        if name in self._jobs:
            raise ValueError(f"job {name!r} already exists")
        missing = [f for f in t.args if f not in fields]
        if missing:
            raise TypeError(f"{type_} job {name!r} needs {missing}")
        spec = {f: fields.pop(f) for f in t.args}
        if t.hook_field:
            spec[t.hook_field] = fields.pop(t.hook_field, None)
        ctor_only = t.prepare(self, spec, fields) if t.prepare else {}
        module, cls = t.cls.split(":")
        job = getattr(importlib.import_module(module), cls)(
            self.spark, *[spec[f] for f in t.args], **fields, **ctor_only
        )
        self._persist_spec(name, {"type": type_, **spec, "kw": fields})
        return self._register(name, job, start)

    def _register(self, name: str, job, start: bool):
        self._jobs[name] = job
        if start:
            job.start()
        return job

    def _persist_spec(self, name: str, spec: dict) -> None:
        """Atomic spec write. Kwarg serializability is validated HERE,
        after the spec_root check — a manager without persistence must
        accept non-serializable kwargs (e.g. a rerank `vectors`
        callable) since nothing needs to round-trip."""
        sp = self._spec_path(name)
        if sp is None:
            return
        if "kw" in spec:
            spec["kw"] = _persistable_kwargs(spec["kw"])
        os.makedirs(self.spec_root, exist_ok=True)
        tmp = sp + ".tmp"
        with open(tmp, "w") as f:
            json.dump(spec, f)
        os.replace(tmp, sp)

    def recover(self, start: bool = True) -> list[str]:
        """Restore every persisted job spec into this (fresh) manager:
        catalog from the checkpoint's post-DDL snapshot when one exists
        (falling back to the create-time snapshot in the spec), stream
        resumed from its checkpoint, applied-gtid position from its
        interval file. Returns recovered job names."""
        if self.spec_root is None or not os.path.isdir(self.spec_root):
            return []
        out = []
        for fname in sorted(os.listdir(self.spec_root)):
            if not fname.endswith(".json"):
                continue
            with open(os.path.join(self.spec_root, fname)) as f:
                spec = json.load(f)
            t = JOB_TYPES.get(spec.get("type"))
            if t is not None:
                name = fname[: -len(".json")]
                if name in self._jobs:
                    continue
                fields = {f: spec[f] for f in t.args}
                if t.hook_field:
                    fields[t.hook_field] = spec.get(t.hook_field)
                self.create_job(
                    spec["type"], name, start=start, **fields,
                    **spec.get("kw", {}),
                )
                out.append(name)
                continue
            job = job_config_from_dict(spec["job"])
            if job.name in self._jobs:
                continue
            ckpt_catalog = SchemaCatalog.load(
                os.path.join(spec["checkpoint_dir"], "catalog.json")
            )
            catalog = (
                ckpt_catalog
                if ckpt_catalog is not None
                else SchemaCatalog.from_dict(spec["catalog"])
            )
            self._create_wire_job(
                spec.get("type"),
                job,
                spec["source_dir"],
                spec["target_root"],
                spec["checkpoint_dir"],
                catalog,
                start,
                spec.get("kw", {}),
            )
            out.append(job.name)
        return out

    def list(self) -> dict[str, dict]:
        return {name: rj.stats() for name, rj in self._jobs.items()}

    def get(self, name: str) -> StreamJob:
        return self._jobs[name]

    def pause(self, name: str) -> None:
        self._jobs[name].pause()

    def resume(self, name: str) -> None:
        self._jobs[name].resume()

    def position(self, name: str) -> dict:
        return self._jobs[name].position()

    def metrics(self, name: str) -> dict:
        """TaskStatistics analogue (reference common/models.go:69-88):
        lifecycle + per-table op counters, throughput, delay, applied
        position (streaming/metrics.TaskMetrics)."""
        return self._jobs[name].stats()

    def versions(self, name: str) -> dict:
        """Retained target-table commit versions (manifest time travel):
        the audit surface for "what did the table look like N batches
        ago" — read back via target.read_at_version."""
        return self._jobs[name].table_versions()

    def update(self, name: str, new_job: JobConfig) -> None:
        """Job update (reference: /v2/job/*/update →
        CreateOrUpdateMigrationJobV2, api/handler/v2/job.go:298-309):
        pause → preflight the NEW config → swap + re-persist spec →
        resume. A config that fails preflight leaves the job running
        its old config (resumed), and the error propagates (→ HTTP
        400)."""
        if new_job.name != name:
            raise ValueError(
                f"config name {new_job.name!r} does not match job {name!r}"
            )
        rj = self._jobs[name]
        was_active = rj.active
        if was_active:
            rj.pause()
        from dtle_spark.preflight import preflight

        try:
            preflight(new_job, rj.catalog, self.spark)
        except Exception:
            if was_active:
                rj.resume()
            raise
        rj.update_config(new_job)
        sp = self._spec_path(name)
        if sp is not None and os.path.exists(sp):
            with open(sp) as f:
                spec = json.load(f)
            spec["job"] = job_config_to_dict(new_job)
            self._persist_spec(name, spec)
        if was_active:
            rj.resume()

    def _catalogs(self, extra: SchemaCatalog | None = None):
        if extra is not None:
            yield extra
        for rj in self._jobs.values():
            yield rj.catalog

    def schemas(self, extra: SchemaCatalog | None = None) -> list[str]:
        """Catalog browse (reference /v2/database/schemas,
        api/handler/v2/database.go:43): union of every job's catalog
        plus the server's default one."""
        out = set()
        for cat in self._catalogs(extra):
            out |= set(cat.schemas)
            out |= {s for s, _ in cat.tables}
        return sorted(out)

    def tables(self, schema_name: str, extra: SchemaCatalog | None = None) -> list[str]:
        out = set()
        for cat in self._catalogs(extra):
            out |= {t for s, t in cat.tables if s == schema_name}
        return sorted(out)

    def columns(
        self, schema_name: str, table_name: str, extra: SchemaCatalog | None = None
    ) -> list[dict]:
        """Column browse (reference /v2/database/columns,
        api/handler/v2/database.go:184)."""
        for cat in self._catalogs(extra):
            meta = cat.get(schema_name, table_name)
            if meta is not None:
                return [
                    {
                        "name": f.name,
                        "type": f.dataType.simpleString(),
                        "nullable": f.nullable,
                        "key": f.name in meta.unique_key,
                    }
                    for f in meta.schema.fields
                ]
        raise KeyError(f"{schema_name}.{table_name}")

    def finish(self, name: str, target_gtid: str | None = None) -> None:
        """Graceful cutover: sync until the applied set contains the
        target GTID set, then stop (the reference's finish-job /
        targetGtid flow — see ReplicationJob.finish)."""
        self._jobs[name].finish(target_gtid)

    def delete(self, name: str) -> None:
        """Delete = stop + deregister + spec removal (checkpoint/target
        dirs are the caller's to clean, matching the reference's delete
        semantics)."""
        rj = self._jobs.pop(name)
        rj.pause()
        sp = self._spec_path(name)
        if sp is not None and os.path.exists(sp):
            os.remove(sp)

    def reverse(
        self,
        name: str,
        source_dir: str,
        target_root: str,
        checkpoint_dir: str,
        catalog: SchemaCatalog,
        local_sid: str | None = None,
        start: bool = True,
        **kw,
    ) -> ReplicationJob:
        """The reverse_start workflow (api/handler/v2/job.go
        /v2/job/reverse + reverse_start): derive "reverse-<name>" from
        a registered forward job — direction inverted per table
        (model.reverse_job_config), cycle prevention armed via
        local_sid — and start it consuming the reverse-direction wire
        stream. The forward job must be paused first (the reference
        sequences this with WaitOnJob: the reverse src waits on the
        forward job's completion)."""
        from dtle_spark.model import reverse_job_config

        fwd = self._jobs[name]
        if isinstance(fwd, SubscriptionJob):
            # the reference's reverse flow applies to migration/sync
            # jobs — a one-way Kafka subscription has no target to
            # replicate back from (job.go reverse validation)
            raise ValueError(f"subscription job {name!r} cannot be reversed")
        if fwd.active:
            raise ValueError(f"pause forward job {name!r} before reversing")
        rev = reverse_job_config(fwd.job, local_sid=local_sid)
        return self.create(
            rev, source_dir, target_root, checkpoint_dir, catalog,
            start=start, **kw,
        )

    def reverse_start(
        self,
        name: str,
        source_dir: str,
        target_root: str,
        checkpoint_dir: str,
        catalog: SchemaCatalog,
        local_sid: str | None = None,
        start: bool = True,
        finish_timeout: float = 60.0,
        **kw,
    ) -> ReplicationJob:
        """The complete reverse_start orchestration (reference:
        /v2/job/reverse_start, api/handler/v2/job.go:1836 — signals the
        forward job to FINISH at its current position (:1861-1900), the
        applier stops at TargetGtidFinished, and the reverse job's
        WaitOnJob gate opens): finish the forward job at its source
        frontier, wait for target_gtid_finished, then derive and start
        ``reverse-<name>``."""
        fwd = self._jobs[name]
        if fwd.active:
            fwd.finish()
            fwd.process_available()
            if not fwd.wait_finished(finish_timeout):
                raise RuntimeError(
                    f"forward job {name!r} did not reach its target gtid "
                    f"within {finish_timeout}s"
                )
        return self.reverse(
            name, source_dir, target_root, checkpoint_dir, catalog,
            local_sid=local_sid, start=start, **kw,
        )


# -- job types ------------------------------------------------------------
#
# The JobConfig + catalog types, created through JobManager.create /
# create_subscription (spec "type" None = replication):
WIRE_JOB_TYPES = {None: ReplicationJob, "subscription": SubscriptionJob}

# One entry per table-driven type. JobManager.create_job, recover() and
# the HTTP POST /v2/jobs route all read this table.


def _row_schema(mgr: JobManager, spec: dict, kw: dict) -> dict:
    """The change-record schema, rebuilt from a DDL string so it can
    round-trip through the JSON spec."""
    from pyspark.sql import types as T

    from dtle_spark.model import change_schema

    row_schema_ddl = spec["row_schema_ddl"]
    if (
        mgr.spec_root is not None
        and row_schema_ddl is None
        and "schema" in kw
        and "reader" not in kw
    ):
        # a raw StructType cannot round-trip through the JSON spec:
        # recover() would rebuild a job that fails at start()
        raise ValueError(
            "persistent managers need row_schema_ddl (a DDL string), "
            "not schema=: the spec must rebuild the stream schema on "
            "recover()"
        )
    schema = kw.pop("schema", None)
    if row_schema_ddl is not None:
        schema = change_schema(T.StructType.fromDDL(row_schema_ddl))
    return {} if schema is None else {"schema": schema}


def _model_tables(kw: dict) -> dict:
    """The vector model tables are never part of the spec (DataFrames
    do not serialize): a job reloads them from the index generation's
    persisted copy (ann_serving.save_model)."""
    return {k: kw.pop(k) for k in ("centroids", "codebook") if k in kw}


def _vector_maintain(mgr: JobManager, spec: dict, kw: dict) -> dict:
    """``wire_table`` makes the job a CDC-WIRE bridge (the replicated
    embeddings table feeds the index): a plain-JSON descriptor resolved
    through wire_vector_hooks, so — unlike raw reader/transform
    callables — it persists in the spec and recover() rebuilds the
    bridge."""
    ctor_only = _model_tables(kw)
    wire_table = spec["wire_table"]
    if wire_table is not None:
        from dtle_spark.streaming.ann_serving import wire_vector_hooks

        if "reader" in kw or "transform" in kw:
            raise ValueError(
                "wire_table resolves its own reader/transform; pass "
                "one or the other"
            )
        ctor_only["reader"], ctor_only["transform"] = wire_vector_hooks(
            spec["source_dir"], wire_table,
            max_files_per_trigger=kw.get("max_files_per_trigger", 1),
        )
        kw.setdefault("id_col", wire_table.get("id_col", "vec_id"))
        kw.setdefault("vec_col", wire_table.get("vec_col", "embedding"))
        kw.setdefault("carry_cols", tuple(wire_table.get("carry_cols", ())))
    return ctor_only


def _ann_serving(mgr: JobManager, spec: dict, kw: dict) -> dict:
    """``where`` filtered-search predicates must be SQL strings here
    (Columns do not serialize into the spec); the non-serializable
    ``vectors`` rerank callable is rejected by the spec round-trip
    check."""
    where = kw.get("where")
    if where is not None and not isinstance(where, str):
        raise ValueError(
            "managed serving jobs take `where` as a SQL string "
            "(Column predicates cannot be persisted for recover())"
        )
    return _model_tables(kw)


@dataclasses.dataclass(frozen=True)
class JobType:
    """``cls``: "module:Class". ``args``: the spec fields, in persisted
    order, passed positionally after ``spark``. ``hook_field``: the one
    spec field (persisted after ``args``, default None) the ``prepare``
    hook consumes instead of the constructor. ``prepare(manager, spec,
    kw)`` may raise, pops constructor-only kwargs out of ``kw`` (which
    persists as the spec's "kw") and returns them.
    ``required`` / ``optional``: the HTTP create body's fields beyond
    ``name`` (missing required ones are a 400, in this order)."""

    cls: str
    args: tuple[str, ...]
    required: tuple[str, ...]
    optional: tuple[str, ...]
    hook_field: str | None = None
    prepare: Callable | None = None


_BATCHED = ("max_files_per_trigger", "auto_compact_batches")
_ROW_DDL = dict(hook_field="row_schema_ddl", prepare=_row_schema)

JOB_TYPES: dict[str, JobType] = {
    "vector_maintain": JobType(
        "dtle_spark.streaming.ann_serving:VectorIndexMaintainJob",
        args=("source_dir", "index_root", "checkpoint_dir"),
        required=("source_dir", "index_root", "checkpoint_dir"),
        optional=("m", "ksub", "dim", "id_col", "vec_col", "schema",
                  "max_files_per_trigger", "carry_cols", "wire_table",
                  "auto_compact_batches"),
        hook_field="wire_table", prepare=_vector_maintain,
    ),
    "ann_serving": JobType(
        "dtle_spark.streaming.ann_serving:AnnServingJob",
        args=("source_dir", "index_root", "results_root", "checkpoint_dir"),
        required=("source_dir", "index_root", "checkpoint_dir",
                  "results_root"),
        optional=("k", "nprobe", "m", "ksub", "dim", "rerank", "where",
                  "exclude_self", "id_col", "vec_col", "schema",
                  "max_files_per_trigger"),
        prepare=_ann_serving,
    ),
    "stream_profile": JobType(
        "dtle_spark.streaming.profile:StreamProfileJob",
        args=("source_dir", "profile_root", "checkpoint_dir", "key_sql",
              "value_sql"),
        required=("source_dir", "profile_root", "checkpoint_dir",
                  "key_sql", "value_sql"),
        optional=("schema", "depth", "width", "k", "subdiv",
                  "max_files_per_trigger", "group_sql",
                  "auto_compact_batches"),
    ),
    "agg_maintain": JobType(
        "dtle_spark.streaming.agg_maintain:AggMaintainJob",
        args=("source_dir", "view_root", "checkpoint_dir", "group_sqls",
              "measure_sqls"),
        required=("source_dir", "view_root", "checkpoint_dir",
                  "group_sqls", "measure_sqls", "row_schema_ddl"),
        optional=_BATCHED,
        **_ROW_DDL,
    ),
    "scd2_history": JobType(
        "dtle_spark.streaming.history:Scd2HistoryJob",
        args=("source_dir", "history_root", "checkpoint_dir", "key_cols"),
        required=("source_dir", "history_root", "checkpoint_dir",
                  "key_cols", "row_schema_ddl"),
        optional=_BATCHED,
        **_ROW_DDL,
    ),
    "join_maintain": JobType(
        "dtle_spark.streaming.join_maintain:JoinViewMaintainJob",
        args=("source_dir", "dim_dir", "view_root", "checkpoint_dir",
              "key_cols", "fk", "right_pk", "right_cols"),
        required=("source_dir", "dim_dir", "view_root", "checkpoint_dir",
                  "key_cols", "fk", "right_pk", "right_cols",
                  "row_schema_ddl"),
        optional=("max_files_per_trigger", "extra_dims", "cluster_by",
                  "auto_compact_batches"),
        **_ROW_DDL,
    ),
    "corpus_ingest": JobType(
        "dtle_spark.streaming.corpus_ingest:CorpusIngestJob",
        args=("source_dir", "target_root", "checkpoint_dir"),
        required=("source_dir", "target_root", "checkpoint_dir"),
        optional=("schema", "id_col", "text_col", "threshold",
                  "max_files_per_trigger", "gate_thresholds",
                  "gate_key_sql", "gate_value_sql",
                  "auto_compact_segments"),
    ),
}
