"""Tracing from outside the program, and Spark's own counters.

Nothing here edits the program. A traced run wraps public entry points:
module-level functions the program looks up at call time
(``pipeline.apply_batch``, ``pipeline.split_complete_txs``), the
``GtidSet`` methods, and the target through a ``BucketedTableTarget``
subclass (the pipeline's bucket-selective merge branch is chosen by an
``isinstance`` check, so a duck-typed proxy would silently switch every
table to the whole-table merge path).

Spark jobs are attributed to spans by the job *description*, set on the
calling thread for the span's duration. The job *group* is left alone:
a streaming query uses it to cancel its work on ``stop()``.

Spans live in memory until the run ends. One closed-loop client drives
the program, so at most one thread is inside a span at any time and a
single span stack serves the main thread and the stream's
``foreachBatch`` callback thread alike.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time

from py4j.protocol import Py4JJavaError

DESC_PREFIX = "pb:"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping

    @contextlib.contextmanager
    def span(self, name: str, ref=None, **attrs):
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if ref is None and parent is not None:
            ref = self.spans[parent]["ref"]
        rec = {"id": len(self.spans), "name": name, "parent": parent, "ref": ref,
               "start": 0.0, "end": 0.0, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobDescription(f"{DESC_PREFIX}{rec['id']}")
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setJobDescription(prev_desc)
            self.overhead_s += time.perf_counter() - rec["end"]

    def add_interval(self, name: str, seconds: float) -> None:
        """Fold a short, frequent call into one child record of the
        current span instead of one span per call."""
        parent = self._stack[-1] if self._stack else None
        for rec in reversed(self.spans):
            if rec["parent"] == parent and rec["name"] == name and rec.get("folded"):
                rec["end"] += seconds
                return
            if rec["id"] == parent:
                break
        self.spans.append({
            "id": len(self.spans), "name": name, "parent": parent,
            "ref": self.spans[parent]["ref"] if parent is not None else None,
            "start": 0.0, "end": seconds, "folded": True,
        })

    def wrap(self, owner, attr: str, name: str, restore: list) -> None:
        """Replace ``owner.attr`` by a traced twin; ``restore`` collects
        the undo actions."""
        orig = owner.__dict__[attr]
        fn = orig.__func__ if isinstance(orig, classmethod) else orig

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(owner, attr, classmethod(traced) if isinstance(orig, classmethod) else traced)
        restore.append(lambda: setattr(owner, attr, orig))

    # -- derived -------------------------------------------------------------
    @staticmethod
    def duration(rec: dict) -> float:
        return rec["end"] - rec["start"]

    def self_time(self, rec: dict) -> float:
        kids = sum(self.duration(c) for c in self.spans if c["parent"] == rec["id"])
        return self.duration(rec) - kids

    def ancestors(self, rec: dict):
        p = rec["parent"]
        while p is not None:
            yield self.spans[p]
            p = self.spans[p]["parent"]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec, default=str) + "\n")


def optional_span(tracer: Tracer | None, name: str, ref=None):
    """``tracer.span(name, ref)``, or nothing when the run is untraced."""
    return tracer.span(name, ref=ref) if tracer is not None else contextlib.nullcontext()


def traced_target_class(tracer: Tracer):
    """A ``BucketedTableTarget`` subclass that times ``stage_merge``,
    the commit closure it returns, and ``overwrite``."""
    from dtle_spark.sinks.table_sink import BucketedTableTarget

    class TracedTarget(BucketedTableTarget):
        def stage_merge(self, spark, changes, schema_name, table_name, key_cols):
            with tracer.span("sink.stage_merge", table=table_name) as rec:
                touched, commit_fn = super().stage_merge(
                    spark, changes, schema_name, table_name, key_cols
                )
                rec["touched"] = len(touched)
                rec["n_buckets"] = self.n_buckets

            def traced_commit() -> None:
                with tracer.span("sink.commit", table=table_name):
                    commit_fn()

            return touched, traced_commit

        def overwrite(self, df, schema_name, table_name):
            with tracer.span("sink.overwrite", table=table_name):
                super().overwrite(df, schema_name, table_name)

    return TracedTarget


def instrument_replication(tracer: Tracer) -> list:
    """Wrap the replication entry points; returns the undo actions."""
    from dtle_spark.sources.gtid import GtidSet
    from dtle_spark.streaming import pipeline

    restore: list = []
    tracer.wrap(pipeline, "apply_batch", "pipeline.apply_batch", restore)
    tracer.wrap(pipeline, "split_complete_txs", "pipeline.txspool_split", restore)
    tracer.wrap(GtidSet, "load", "gtid.load", restore)
    tracer.wrap(GtidSet, "save", "gtid.save", restore)
    add = GtidSet.__dict__["add"]

    @functools.wraps(add)
    def traced_add(self, sid, gno):
        t = time.perf_counter()
        add(self, sid, gno)
        tracer.add_interval("gtid.add", time.perf_counter() - t)

    GtidSet.add = traced_add
    restore.append(lambda: setattr(GtidSet, "add", add))
    return restore


# -- Spark's status store -------------------------------------------------------


def spark_jobs(sc) -> list[dict]:
    """Every job the status store retains: id, description, submission
    time (epoch ms) and stage ids."""
    store = sc._jsc.sc().statusStore()
    out = []
    it = store.jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        desc = j.description()
        sub = j.submissionTime()
        stages = j.stageIds().mkString(",")
        out.append({
            "id": j.jobId(),
            "desc": desc.get() if desc.isDefined() else None,
            "submitted_ms": sub.get().getTime() if sub.isDefined() else None,
            "stages": [int(s) for s in stages.split(",") if s],
        })
    return out


def jobs_between(jobs: list[dict], lo_ms: float, hi_ms: float) -> list[dict]:
    """Jobs submitted inside a window. The client is a closed loop, so a
    window from landing to commit holds exactly one batch's jobs."""
    return [j for j in jobs if j["submitted_ms"] is not None and lo_ms <= j["submitted_ms"] <= hi_ms]


def stage_metrics(sc, stage_ids) -> dict[str, float]:
    """Task CPU, shuffle bytes, spill bytes and output records summed
    over the given stages (stages that never ran contribute nothing)."""
    store = sc._jsc.sc().statusStore()
    tot = {"task_cpu_s": 0.0, "shuffle_bytes": 0.0, "spill_bytes": 0.0, "output_records": 0.0}
    for sid in set(stage_ids):
        try:
            s = store.lastStageAttempt(int(sid))
        except Py4JJavaError:
            continue
        tot["task_cpu_s"] += s.executorCpuTime() / 1e9
        tot["shuffle_bytes"] += s.shuffleReadBytes() + s.shuffleWriteBytes()
        tot["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        tot["output_records"] += s.outputRecords()
    return tot


def wait_listener_drained(sc, timeout_s: float = 10.0) -> None:
    """Job/stage events reach the status store asynchronously; wait
    until no job is still running before reading it."""
    tracker = sc.statusTracker()
    deadline = time.monotonic() + timeout_s
    while tracker.getActiveJobsIds() and time.monotonic() < deadline:
        time.sleep(0.05)
    time.sleep(0.3)


# -- layer attribution -----------------------------------------------------------

# span name prefix -> layer whose task CPU / shuffle / spill it carries
LAYER_OF = {"pipeline": "pipeline", "gtid": "pipeline", "sink": "sink",
            "snapshot": "snapshot", "queries": "queries"}
LAYERS = ("pipeline", "sink", "snapshot", "queries")


def span_of_job(tracer: Tracer, job: dict) -> dict | None:
    d = job["desc"] or ""
    return tracer.spans[int(d[len(DESC_PREFIX):])] if d.startswith(DESC_PREFIX) else None


def layer_of_span(rec: dict | None) -> str | None:
    return None if rec is None else LAYER_OF.get(rec["name"].split(".", 1)[0])


def layer_totals(sc, tracer: Tracer, jobs: list[dict], within) -> dict[str, dict]:
    """Stage metrics per layer over the jobs whose innermost span passes
    ``within``; a job belongs to the layer of its innermost span."""
    stages: dict[str, list[int]] = {layer: [] for layer in LAYERS}
    for j in jobs:
        rec = span_of_job(tracer, j)
        layer = layer_of_span(rec)
        if layer is not None and within(rec):
            stages[layer] += j["stages"]
    return {layer: stage_metrics(sc, ids) for layer, ids in stages.items()}
