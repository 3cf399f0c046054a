"""HTTP control surface over JobManager.

The reference drives every job operation through REST
(api/handler/v2/job.go — @Router lines 50-1924: create/list/detail/
pause/resume/delete/position/reverse). This is the stdlib-only wrapper
completing that §2.7 story: a ``ThreadingHTTPServer`` over a
``JobManager``, JSON in/out, same route shapes.

Routes (v2, mirroring api/handler/v2/job.go):

    GET    /v2/jobs                      list jobs + stats
    POST   /v2/jobs                      create (JSON body, below)
    GET    /v2/job/<name>                detail (stats)
    POST   /v2/job/<name>/pause          pause
    POST   /v2/job/<name>/resume         resume
    GET    /v2/job/<name>/position       applied-gtid interval set
    GET    /v2/job/<name>/metrics        TaskStatistics analogue
    DELETE /v2/job/<name>                stop + deregister
    POST   /v2/job/<name>/reverse        start "reverse-<name>" (body:
                                         source_dir/target_root/
                                         checkpoint_dir/local_sid)
    POST   /v2/job/<name>/finish         catch up to target gtid, stop
    POST   /v2/job/<name>/reverse_start  finish fwd, then start reverse
    POST   /v2/job/<name>/update         pause -> preflight new config
                                         -> resume (400 keeps old cfg)
    POST   /v2/job/<name>/promote_baseline  bless the current profile as
                                         the drift baseline (stream_profile
                                         and gated corpus_ingest jobs;
                                         body: keep_previous)
    POST   /v2/job/<name>/drift_gate     promotion decision vs the
                                         blessed baseline (body:
                                         thresholds {check: max_dev},
                                         promote: bool re-blesses on
                                         pass); returns passed + the
                                         judged report rows
    POST   /v2/job/<name>/purge          takedown: hard-delete ids
                                         (body: ids [..]) — corpus jobs
                                         purge documents + quarantine;
                                         vector maintain jobs purge
                                         index codes (job must be
                                         PAUSED: the fold needs quiesce)
    GET    /v2/schemas                   catalog browse (schemas)
    GET    /v2/schemas/<s>/tables        tables of a schema
    GET    /v2/schemas/<s>/tables/<t>/columns   columns + types + key
    POST   /v2/validation/connection     source-dir readability probe

Create body::

    {"name": "j1",
     "tables": [{"schema_name": "db1", "table_name": "t",
                 "unique_key": ["id"], "where": null, ...}],
     "source_dir": "...", "target_root": "...", "checkpoint_dir": "...",
     "tx_atomic": false, "start": true}

Table schemas must already be registered in the catalog the server was
constructed with (the reference equivalently requires the source
connection to introspect schemas before a job starts).
"""

from __future__ import annotations

import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from dtle_spark.catalog import SchemaCatalog
from dtle_spark.model import JobConfig, TableConfig
from dtle_spark.streaming.jobs import JOB_TYPES, JobManager

_JOB_RE = re.compile(
    r"^/v2/job/([^/]+)(?:/(pause|resume|position|metrics|reverse|versions"
    r"|update|finish|reverse_start|promote_baseline|drift_gate|purge"
    r"|release_quarantine))?$"
)
_SCHEMAS_RE = re.compile(
    r"^/v2/schemas(?:/([^/]+)/tables(?:/([^/]+)/columns)?)?$"
)


def _id_ddl(ids: list) -> str:
    """DDL type for a JSON id list: ints -> long, everything else ->
    string (JSON has no other id-shaped scalars)."""
    return "long" if all(isinstance(i, int) for i in ids) else "string"


def _job_config_from_json(d: dict) -> JobConfig:
    tables = [
        TableConfig(
            schema_name=t["schema_name"],
            table_name=t["table_name"],
            rename_schema=t.get("rename_schema"),
            rename_table=t.get("rename_table"),
            column_map_from=t.get("column_map_from") or [],
            column_map_to=t.get("column_map_to") or [],
            where=t.get("where"),
            unique_key=t.get("unique_key") or [],
        )
        for t in d["tables"]
    ]
    return JobConfig(
        name=d["name"],
        tables=tables,
        trigger_seconds=float(d.get("trigger_seconds", 1.0)),
        tx_atomic=bool(d.get("tx_atomic", False)),
        local_sid=d.get("local_sid"),
    )


class _Handler(BaseHTTPRequestHandler):
    manager: JobManager = None  # set by serve()
    catalog: SchemaCatalog = None

    # -- plumbing --------------------------------------------------------

    def log_message(self, fmt, *args):  # quiet test output
        pass

    def _send(self, code: int, payload) -> None:
        body = json.dumps(payload, default=str).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _body(self) -> dict:
        n = int(self.headers.get("Content-Length") or 0)
        return json.loads(self.rfile.read(n) or b"{}")

    def _dispatch(self, method: str) -> None:
        try:
            self._route(method)
        except KeyError as e:
            self._send(404, {"error": f"not found: {e}"})
        except FileNotFoundError as e:
            # e.g. vector-job create against an index with no persisted
            # model — a caller mistake, not a server fault
            self._send(400, {"error": str(e)})
        except ValueError as e:
            self._send(400, {"error": str(e)})
        except Exception as e:  # surface, don't kill the server thread
            self._send(500, {"error": f"{type(e).__name__}: {e}"})

    # -- routes ----------------------------------------------------------

    def _route(self, method: str) -> None:
        if self.path == "/v2/jobs":
            if method == "GET":
                return self._send(200, self.manager.list())
            if method == "POST":
                d = self._body()
                if d.get("target_n_buckets") is not None and not d.get("target_format"):
                    return self._send(400, {
                        "error": "target_n_buckets requires target_format"})
                if d.get("type") == "subscription" and d.get("target_format"):
                    return self._send(400, {
                        "error": "target_format does not apply to "
                                 "subscription jobs (frames log only)"})
                jt = JOB_TYPES.get(d.get("type"))
                if jt is not None:
                    # table-driven job types (jobs.JOB_TYPES): plain-JSON
                    # specs end to end. Vector jobs take no model in the
                    # body — it loads from the index generation's
                    # persisted copy, so the index must be bootstrapped
                    # before HTTP create
                    missing = [k for k in ("name", *jt.required) if not d.get(k)]
                    if missing:
                        # a malformed body is a 400, not the 404 a bare
                        # KeyError would become in _dispatch
                        return self._send(400, {
                            "error": f"missing required fields: {missing}"})
                    self.manager.create_job(
                        d["type"], d["name"],
                        start=bool(d.get("start", True)),
                        **{k: d[k] for k in (*jt.required, *jt.optional) if k in d},
                    )
                    return self._send(201, {"created": d["name"]})
                # JobConfig job types: replication, or the subscription
                # (change log -> Debezium frames, job.go:1222-1235)
                sub = d.get("type") == "subscription"
                # optional serializable target selector (replication
                # only, resolved by JobManager.create: parquet |
                # bucketed | delta)
                tkw = {}
                if d.get("target_format"):
                    tkw["target_format"] = d["target_format"]
                    if d.get("target_n_buckets") is not None:
                        tkw["target_n_buckets"] = int(d["target_n_buckets"])
                create = self.manager.create_subscription if sub else self.manager.create
                create(
                    _job_config_from_json(d),
                    d["source_dir"],
                    (sub and d.get("output_root")) or d["target_root"],
                    d["checkpoint_dir"],
                    self.catalog,
                    start=bool(d.get("start", True)),
                    **tkw,
                )
                return self._send(201, {"created": d["name"]})
            return self._send(405, {"error": method})
        sm = _SCHEMAS_RE.match(self.path)
        if sm and method == "GET":
            # catalog browse (reference /v2/database/schemas + /columns,
            # api/handler/v2/database.go:43,184)
            s, t = sm.group(1), sm.group(2)
            if s is None:
                return self._send(200, {"schemas": self.manager.schemas(self.catalog)})
            if t is None:
                return self._send(
                    200, {"schema": s, "tables": self.manager.tables(s, self.catalog)}
                )
            return self._send(
                200,
                {"schema": s, "table": t,
                 "columns": self.manager.columns(s, t, self.catalog)},
            )
        if self.path == "/v2/validation/connection" and method == "POST":
            # connection validation (reference /v2/database/
            # instance_connection, database.go:292): the "can I read
            # this source" probe — here, the wire dir must exist and
            # hold readable parquet
            d = self._body()
            import os as _os

            src = d.get("source_dir", "")
            base = src.rstrip("*").rstrip("/")
            if not base or not _os.path.isdir(base):
                return self._send(400, {"ok": False, "error": f"no such dir: {src}"})
            return self._send(200, {"ok": True, "source_dir": src})
        m = _JOB_RE.match(self.path)
        if not m:
            return self._send(404, {"error": self.path})
        name, action = m.group(1), m.group(2)
        if action is None:
            if method == "GET":
                return self._send(200, self.manager.get(name).stats())
            if method == "DELETE":
                self.manager.delete(name)
                return self._send(200, {"deleted": name})
            return self._send(405, {"error": method})
        if method == "GET" and action == "position":
            return self._send(200, self.manager.position(name))
        if method == "GET" and action == "metrics":
            return self._send(200, self.manager.metrics(name))
        if method == "GET" and action == "versions":
            return self._send(200, self.manager.versions(name))
        if method == "POST" and action == "pause":
            self.manager.pause(name)
            return self._send(200, {"paused": name})
        if method == "POST" and action == "resume":
            self.manager.resume(name)
            return self._send(200, {"resumed": name})
        if method == "POST" and action == "finish":
            # graceful cutover: catch up to the target GTID set then
            # stop (the reference finish-job / targetGtid flow,
            # api job.go:1861-1900 + applier.go:206-220)
            d = self._body()
            self.manager.finish(name, d.get("target_gtid"))
            return self._send(200, {"finishing": name})
        if method == "POST" and action == "update":
            # pause → preflight new config → resume (reference
            # /v2/job/*/update, api/handler/v2/job.go:298-309); a
            # rejected config leaves the old one running (HTTP 400)
            d = self._body()
            d.setdefault("name", name)
            self.manager.update(name, _job_config_from_json(d))
            return self._send(200, {"updated": name})
        if method == "POST" and action in ("promote_baseline", "drift_gate"):
            # drift-baseline lifecycle — the profiler (both actions)
            # and the gated corpus builder (promote; its gate runs
            # inside the batch loop, not on demand)
            job = self.manager.get(name)
            needed = "drift_gate" if action == "drift_gate" else "promote_baseline"
            if not hasattr(job, needed):
                return self._send(400, {
                    "error": f"{action} does not apply to "
                             f"{job.stats().get('type')} job {name!r}"
                })
            d = self._body()
            if action == "promote_baseline":
                b = job.promote_baseline(
                    keep_previous=int(d.get("keep_previous", 1))
                )
                return self._send(200, {"promoted": name, "baseline": b})
            thresholds = d.get("thresholds")
            if not isinstance(thresholds, dict) or not thresholds:
                return self._send(400, {
                    "error": "drift_gate needs thresholds: "
                             "{check_name: max_deviation}"})
            if d.get("promote"):
                passed, rep = job.gate_and_promote(
                    thresholds,
                    keep_previous=int(d.get("keep_previous", 1)),
                )
            else:
                passed, rep = job.drift_gate(thresholds)
            # the judged report is dashboard-sized (checks x groups)
            return self._send(200, {
                "passed": passed,
                "baseline": job.stats().get("baseline"),
                "report": [r.asDict() for r in rep.collect()],
            })
        if method == "POST" and action == "release_quarantine":
            # reviewer decision on a gated corpus job: admit a
            # quarantined batch through the dedup path (no gate). The
            # job method refuses while its stream is active (the same
            # manifest-swap race purge guards against) — surface that
            # as a 400, not a 500.
            job = self.manager.get(name)
            if not hasattr(job, "release_quarantine"):
                return self._send(400, {
                    "error": f"release_quarantine does not apply to "
                             f"{job.stats().get('type')} job {name!r}"})
            d = self._body()
            if "batch_id" not in d:
                return self._send(400, {
                    "error": "release_quarantine needs batch_id"})
            try:
                batch_id = int(d["batch_id"])
            except (TypeError, ValueError):
                # validate BEFORE the job call: the except ValueError
                # below means "no such quarantined batch" (404); a
                # non-numeric batch_id is a 400 validation error
                return self._send(400, {
                    "error": f"batch_id must be an integer, got "
                             f"{d['batch_id']!r}"})
            try:
                released = job.release_quarantine(batch_id)
            except RuntimeError as ex:  # stream active
                return self._send(400, {"error": str(ex)})
            except ValueError as ex:  # no such quarantined batch
                return self._send(404, {"error": str(ex)})
            return self._send(200, {
                "released": released, "batch_id": batch_id})
        if method == "POST" and action == "purge":
            # takedown (right-to-be-forgotten): hard delete, never a
            # tombstone — corpus jobs purge documents + quarantine,
            # vector maintain jobs purge index codes via a forced fold
            job = self.manager.get(name)
            d = self._body()
            ids = d.get("ids")
            if not isinstance(ids, list) or not ids:
                return self._send(400, {
                    "error": "purge needs ids: a non-empty JSON list"})
            if hasattr(job, "purge_documents"):
                if job.active:
                    # same hazard as the vector branch: purge_keys and
                    # the stream's foreachBatch both load-modify-save
                    # the manifest — a concurrent append would be
                    # erased and its segment physically GC'd
                    return self._send(400, {
                        "error": "purge needs the corpus job PAUSED: "
                                 "it swaps the same manifests the "
                                 "stream commits to"})
                ids_df = job.spark.createDataFrame(
                    [(i,) for i in ids], f"{job.id_col} {_id_ddl(ids)}"
                )
                return self._send(200, {
                    "purged": job.purge_documents(ids_df)})
            if hasattr(job, "index_root"):  # vector maintain job
                from dtle_spark.streaming.ann_serving import purge_index_ids

                if job.active:
                    return self._send(400, {
                        "error": "purge needs the maintain job PAUSED: "
                                 "the forced fold swaps the generation "
                                 "under the ingest path"})
                # the forced fold also gc's the superseded generation;
                # a serving job probing the same index_root would have
                # its files deleted mid-batch — quiesce those too
                probers = [
                    n for n, j in self.manager._jobs.items()
                    if j is not job
                    and getattr(j, "index_root", None) == job.index_root
                    and j.active
                ]
                if probers:
                    return self._send(400, {
                        "error": "purge gc's the superseded index "
                                 "generation: pause serving jobs on "
                                 f"the same index_root first: {probers}"
                    })
                ids_df = job.spark.createDataFrame(
                    [(i,) for i in ids], f"{job.id_col} {_id_ddl(ids)}"
                )
                return self._send(200, {
                    "folded": purge_index_ids(
                        job.spark, job.index_root, ids_df)})
            return self._send(400, {
                "error": f"purge does not apply to "
                         f"{job.stats().get('type')} job {name!r}"
            })
        if method == "POST" and action == "reverse_start":
            # full orchestration: finish forward at its frontier, wait,
            # start reverse (job.go:1836,1861-1900)
            d = self._body()
            rev = self.manager.reverse_start(
                name,
                d["source_dir"],
                d["target_root"],
                d["checkpoint_dir"],
                self.catalog,
                local_sid=d.get("local_sid"),
                start=bool(d.get("start", True)),
            )
            return self._send(201, {"created": rev.job.name})
        if method == "POST" and action == "reverse":
            d = self._body()
            rev = self.manager.reverse(
                name,
                d["source_dir"],
                d["target_root"],
                d["checkpoint_dir"],
                self.catalog,
                local_sid=d.get("local_sid"),
                start=bool(d.get("start", True)),
            )
            return self._send(201, {"created": rev.job.name})
        return self._send(405, {"error": f"{method} {self.path}"})

    def do_GET(self):
        self._dispatch("GET")

    def do_POST(self):
        self._dispatch("POST")

    def do_DELETE(self):
        self._dispatch("DELETE")


class ControlServer:
    """Owns the HTTP thread; ``port=0`` picks a free port (tests)."""

    def __init__(self, manager: JobManager, catalog: SchemaCatalog,
                 host: str = "127.0.0.1", port: int = 0):
        handler = type("BoundHandler", (_Handler,), {
            "manager": manager, "catalog": catalog,
        })
        self.httpd = ThreadingHTTPServer((host, port), handler)
        self.port = self.httpd.server_address[1]
        self._thread: threading.Thread | None = None

    def start(self) -> "ControlServer":
        self._thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        if self._thread is not None:
            self._thread.join(timeout=5)
