"""Atomic table commits through a single manifest file.

The directory-rename swap protocol (round 1-3) had a crash window:
between "old dir renamed aside" and "staged dir renamed in" the table
momentarily does not exist, and a crash there needs manual recovery.
This module removes the window the way a lake table format does, with
zero dependencies: data directories are IMMUTABLE and uniquely named,
readers resolve them through ``_manifest.json``, and the only mutation
a commit performs is one atomic ``os.rename`` of the manifest. A crash
at any point leaves the previous manifest — and therefore the previous
table state — fully readable; orphaned data dirs are garbage, not
corruption, and are collected by the next successful commit.

Every table write commits through :func:`commit`: writers only stage
data dirs outside the table dir and name their entries; the move-in,
the manifest update, the swap and the GC happen there, under the
table's writer lease (sinks/lease.py).

This is the jar-free analogue of a Delta/Iceberg log entry, matching
the reference applier's transactional guarantee
(driver/mysql/applier_incr.go:565-570: binlog position + data commit
in one tx). At 100 TB the same protocol holds: the manifest is O(number
of buckets) small, the rename is O(1), and data files are never moved
after their initial write.

Time travel: every commit also retains its manifest under
``_history/_v<N>.json`` (N monotonically increasing), and GC keeps any
data dir referenced by a retained version. Readers can resolve a past
version — the Delta ``VERSION AS OF`` analogue — until retention
(default ``RETAIN_VERSIONS``) prunes it. Retention cost is O(changed
dirs per commit), not O(table): successive versions share unchanged
bucket dirs, exactly like lake-format snapshots sharing data files.

Layout per table::

    <root>/<schema>/<table>/_manifest.json
    <root>/<schema>/<table>/_history/_v<N>.json   (retained versions)
    <root>/<schema>/<table>/<entry-dirs ...>

Manifest fields:

- ``entries``: logical segment -> dir name. ``"_table"`` for a whole-
  table image (unkeyed tables), ``"0" .. "N-1"`` for key buckets.
- ``seq_watermark``: per-source applied-seq high-water mark (the no-PK
  replay guard) — stored here so data + watermark commit atomically.
- ``key_cols`` / ``n_buckets``: bucketing spec, kept so DDL rewrites
  can re-bucket without being told the key again.
- ``schema_version``: carried through load/save so older manifests
  round-trip; nothing sets it.
- ``version``: commit counter; names the retained history entry.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from dataclasses import dataclass, field

from dtle_spark.sinks.lease import LEASE_FILE, writer_lease

MANIFEST_NAME = "_manifest.json"
HISTORY_DIR = "_history"
RETAIN_VERSIONS = 3


@dataclass
class TableManifest:
    entries: dict[str, str] = field(default_factory=dict)
    seq_watermark: dict[str, int] = field(default_factory=dict)
    key_cols: list[str] | None = None
    n_buckets: int | None = None
    schema_version: int = 0
    version: int = 0

    @staticmethod
    def _from_dict(d: dict) -> "TableManifest":
        return TableManifest(
            entries=dict(d.get("entries", {})),
            seq_watermark={k: int(v) for k, v in d.get("seq_watermark", {}).items()},
            key_cols=d.get("key_cols"),
            n_buckets=d.get("n_buckets"),
            schema_version=int(d.get("schema_version", 0)),
            version=int(d.get("version", 0)),
        )

    @staticmethod
    def load(table_dir: str) -> "TableManifest | None":
        p = os.path.join(table_dir, MANIFEST_NAME)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return TableManifest._from_dict(json.load(f))

    @staticmethod
    def load_version(table_dir: str, version: int) -> "TableManifest | None":
        """Resolve a retained past version (time travel). The CURRENT
        version is also resolvable through here for uniformity."""
        cur = TableManifest.load(table_dir)
        if cur is not None and cur.version == version:
            return cur
        if cur is not None and version > cur.version:
            # never resolve a history entry newer than the live manifest:
            # such a file is an orphan from a crashed commit (pre-r5
            # write ordering), not a committed state
            return None
        p = os.path.join(table_dir, HISTORY_DIR, f"_v{version}.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return TableManifest._from_dict(json.load(f))

    @staticmethod
    def versions(table_dir: str) -> list[int]:
        """Retained version numbers, ascending (current included)."""
        out = set()
        cur = TableManifest.load(table_dir)
        if cur is not None:
            out.add(cur.version)
        for v in _history_files(table_dir):
            # ignore orphans newer than the live manifest (a crashed
            # pre-r5 commit's history file never became a committed state)
            if cur is None or v <= cur.version:
                out.add(v)
        return sorted(out)

    @property
    def bucketed(self) -> bool:
        """Key-bucketed layout: every entry is a bucket number (whole-
        table images are ``"_table"``, appended segments their dir)."""
        return bool(self.entries) and all(k.isdigit() for k in self.entries)

    def repointed(self, new_dirs: dict[str, str]) -> dict[str, str]:
        """The entries with each old dir in ``new_dirs`` replaced by its
        new dir. A segment entry is keyed by its own dir, so it is
        re-keyed by the new one; bucket and ``"_table"`` keys stay."""
        return {
            (new_dirs.get(d, d) if k == d else k): new_dirs.get(d, d)
            for k, d in self.entries.items()
        }

    def _payload(self) -> dict:
        return {
            "entries": self.entries,
            "seq_watermark": self.seq_watermark,
            "key_cols": self.key_cols,
            "n_buckets": self.n_buckets,
            "schema_version": self.schema_version,
            "version": self.version,
        }

    @staticmethod
    def _write_atomic(path: str, payload: str, tmp_dir: str) -> None:
        tmp = os.path.join(tmp_dir, f".tmp-{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            f.write(payload)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, path)

    def save(self, table_dir: str, retain: int = RETAIN_VERSIONS) -> None:
        """THE commit point: write aside, fsync, atomic rename over the
        live manifest. Readers see the old or the new state, never a
        torn one. The version counter advances past whatever is live
        (monotonic even if this object was built fresh). The history
        copy is written AFTER the live swap succeeds (ADVICE r4: the
        old before-swap ordering exposed a crash window where an orphan
        ``_v<N>.json`` resolved as a committed version that never became
        live). A crash after the swap but before the history write
        merely leaves the just-committed version without a history file
        — readers still resolve it through the live manifest, and the
        next save() self-heals the missing copy before overwriting.
        History beyond ``retain`` past versions is pruned last."""
        os.makedirs(table_dir, exist_ok=True)
        hist = os.path.join(table_dir, HISTORY_DIR)
        os.makedirs(hist, exist_ok=True)
        live = TableManifest.load(table_dir)
        if live is not None:
            # self-heal: the predecessor's history copy may be missing if
            # the prior save() crashed between its live swap and history
            # write — retain it now, before the live manifest is replaced
            lp = os.path.join(hist, f"_v{live.version}.json")
            if not os.path.exists(lp):
                TableManifest._write_atomic(lp, json.dumps(live._payload()), hist)
        if live is not None and self.version <= live.version:
            self.version = live.version + 1
        else:
            self.version += 1
        payload = json.dumps(self._payload())
        TableManifest._write_atomic(
            os.path.join(table_dir, MANIFEST_NAME), payload, table_dir
        )
        TableManifest._write_atomic(
            os.path.join(hist, f"_v{self.version}.json"), payload, hist
        )
        # prune history beyond the retention window (current + retain-1
        # predecessors stay resolvable)
        keep = set(TableManifest.versions(table_dir)[-max(retain, 1):])
        _drop_history(table_dir, lambda v: v not in keep)

    def dirs(self, table_dir: str, keys=None) -> list[str]:
        """The data dirs of ``keys`` (every entry by default; keys
        without an entry are skipped). A dir the manifest names but the
        disk lacks raises: reading around it would silently drop its
        rows, and a merge would commit the loss."""
        out = []
        for k in self.entries if keys is None else keys:
            d = self.entries.get(k)
            if d is None:
                continue
            path = os.path.join(table_dir, d)
            if not os.path.isdir(path):
                raise FileNotFoundError(
                    f"table {table_dir}: manifest v{self.version} entry {k!r} -> "
                    f"{d} has no data dir"
                )
            out.append(path)
        return out


def unique_entry_name(prefix: str) -> str:
    return f"{prefix}-{uuid.uuid4().hex[:8]}"


def _history_files(table_dir: str) -> dict[int, str]:
    """Retained history copies on disk: version -> path."""
    hist = os.path.join(table_dir, HISTORY_DIR)
    out = {}
    if os.path.isdir(hist):
        for name in os.listdir(hist):
            if name.startswith("_v") and name.endswith(".json"):
                try:
                    out[int(name[2:-5])] = os.path.join(hist, name)
                except ValueError:
                    continue
    return out


def _drop_history(table_dir: str, drop) -> None:
    for v, path in _history_files(table_dir).items():
        if drop(v):
            try:
                os.remove(path)
            except OSError:
                pass


def commit(
    table_dir: str,
    owner: str,
    entries: dict[str, str],
    staged: dict[str, str],
    *,
    replace: bool = False,
    seq_watermark: dict[str, int] | None = None,
    key_cols: list[str] | None = None,
    n_buckets: int | None = None,
) -> None:
    """The one commit sequence of a table write, under the table's
    writer lease: move each ``staged`` dir (new entry name -> staged
    path, written outside the table dir) in under its entry name —
    invisible, readers still resolve the old manifest — then load (or
    create) the manifest, set ``entries`` (logical -> entry name) over
    the committed ones or, with ``replace``, in place of them, set the
    given seq-watermark keys (None keeps them all), set the
    bucketing spec when ``key_cols`` is given, save — the commit point
    — and collect what no retained version references. A crash before
    the save leaves the previous state; the moved-in dirs are garbage
    for the next commit's GC. A commit that raises (a refused lease
    included) removes the staged dirs it did not move in."""
    os.makedirs(table_dir, exist_ok=True)
    try:
        with writer_lease(table_dir, owner):
            for entry, path in staged.items():
                os.rename(path, os.path.join(table_dir, entry))
            m = TableManifest.load(table_dir) or TableManifest()
            m.entries = dict(entries) if replace else {**m.entries, **entries}
            if seq_watermark is not None:
                m.seq_watermark.update(seq_watermark)
            if key_cols is not None:
                m.key_cols, m.n_buckets = list(key_cols), n_buckets
            m.save(table_dir)  # <- the commit point
            gc_unreferenced(table_dir, m)
    except BaseException:
        for path in staged.values():
            shutil.rmtree(path, ignore_errors=True)
        raise


def sever_history(table_dir: str) -> None:
    """Drop every retained version older than the live one, then
    collect the dirs only they referenced: time travel stops at the
    live version (a takedown must not survive in a snapshot)."""
    m = TableManifest.load(table_dir)
    if m is not None:
        _drop_history(table_dir, lambda v: v < m.version)
        gc_unreferenced(table_dir, m)


def gc_unreferenced(table_dir: str, manifest: TableManifest) -> None:
    """Remove everything in the table dir that neither the live
    manifest nor any RETAINED history version references: replaced data
    dirs past retention, move-in orphans from a crashed commit, stray
    legacy top-level part files, stale manifest temps. Safe to crash
    mid-GC — unreferenced garbage stays garbage."""
    live = set(manifest.entries.values())
    for v in TableManifest.versions(table_dir):
        past = TableManifest.load_version(table_dir, v)
        if past is not None:
            live.update(past.entries.values())
    for name in os.listdir(table_dir):
        if name == MANIFEST_NAME or name == HISTORY_DIR or name in live:
            continue
        if name.startswith(LEASE_FILE):
            # writer-lease control files (the lease + its flock mutex):
            # gc runs INSIDE writer_lease sections (commit/append/purge/
            # seed/merge), so sweeping them would delete the HELD lease
            # mid-critical-section and let a second writer acquire —
            # the r13 advice lost-commit cascade
            continue
        p = os.path.join(table_dir, name)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
        else:
            try:
                os.remove(p)
            except OSError:
                pass
