"""Upstream-schema evolution contract for the derived-store
maintainers (join-view, rollup, SCD2, profiler, corpus, vector).

The replication lane handles mid-stream DDL through the catalog
(catalog.py apply_ddl, D2 — the analogue of the reference applier
resetting table meta on DDL, driver/mysql/applier_incr.go:610-674).
The maintainers sit BELOW that lane and pin their column sets at
construction, so an upstream ADD COLUMN or retype previously had
undefined behavior: silently stale view columns, or an opaque
AnalysisException mid-batch. This module defines it, with the
stamp-next-to-the-store pattern ann_serving._check_model_stamp and
store.check_stream_stamp established:

- the FIRST batch stamps the upstream row schema at the store root
  (``_UPSTREAM_SCHEMA.json`` — root-level, so it survives generation
  compaction);
- a NARROWED or RETYPED upstream schema fails LOUD at the next batch,
  with the rebuild path in the message — a maintained store cannot
  re-derive its history under a changed base schema, and a stream
  that keeps running against one emits garbage at batch grain;
- an ADDITIVE change follows the maintainer's declared policy:
  ``widen`` (join-view: the new fact column flows into the view, NULL
  for rows not rewritten since the change — exactly the state a
  freshly ALTERed warehouse table has — and the stamp widens so the
  column becomes part of the contract from then on) or ``ignore``
  (rollup: its SQL expressions reference only pinned columns; the new
  column is not adopted, so its later removal is also a non-event).
"""

from __future__ import annotations

import json
import os

_STAMP = "_UPSTREAM_SCHEMA.json"

_REBUILD = (
    "A maintained store cannot re-derive its history under a changed "
    "base schema. Rebuild path: pause the job, recompute the store "
    "from the evolved base (re-seed a NEW root from a full recompute),"
    " and restart the stream with a fresh checkpoint against that "
    "root."
)


def struct_cols(df, field: str = "after") -> dict[str, str]:
    """The {name: simpleString-type} map of a wire frame's row-image
    struct — the shape the guard pins and compares."""
    return {
        f.name: f.dataType.simpleString()
        for f in df.schema[field].dataType.fields
    }


def check_upstream_schema(
    root: str,
    cols: dict[str, str],
    who: str,
    on_additive: str = "fail",
) -> list[str]:
    """Validate this batch's upstream row schema against the store's
    stamp (stamping it on first contact). Returns the column names
    newly WIDENED into the contract (``on_additive="widen"`` only;
    ``[]`` otherwise). Raises RuntimeError — loud, with the rebuild
    path — on a narrowed/retyped schema, or on any additive change
    under ``on_additive="fail"``."""
    if on_additive not in ("fail", "ignore", "widen"):
        raise ValueError(f"on_additive {on_additive!r}")
    os.makedirs(root, exist_ok=True)
    path = os.path.join(root, _STAMP)
    try:
        with open(path) as f:
            pinned: dict[str, str] = json.load(f)
    except FileNotFoundError:
        _write(path, cols)
        return []
    missing = [c for c in pinned if c not in cols]
    retyped = [
        f"{c} {pinned[c]}->{cols[c]}"
        for c in pinned if c in cols and cols[c] != pinned[c]
    ]
    if missing or retyped:
        raise RuntimeError(
            f"{who}: upstream row schema changed INCOMPATIBLY under "
            f"this maintained store"
            + (f"; dropped: {missing}" if missing else "")
            + (f"; retyped: {retyped}" if retyped else "")
            + ". " + _REBUILD
        )
    added = [c for c in cols if c not in pinned]
    if not added:
        return []
    if on_additive == "fail":
        raise RuntimeError(
            f"{who}: upstream schema gained columns {added} and this "
            "maintainer declares no additive policy. " + _REBUILD
        )
    if on_additive == "widen":
        _write(path, {**pinned, **{c: cols[c] for c in added}})
        return added
    return []  # ignore: not adopted into the contract


def require_columns(
    df_cols: list[str], needed: list[str], who: str, what: str
) -> None:
    """Fail loud (with the rebuild path) when a side table no longer
    carries the columns a maintainer's spec references — the dim-side
    sibling of the stamp check (dims are re-read every batch, so a
    narrowed dim would otherwise surface as an AnalysisException deep
    inside the carve plan)."""
    missing = sorted(set(needed) - set(df_cols))
    if missing:
        raise RuntimeError(
            f"{who}: {what} no longer carries spec columns {missing}. "
            + _REBUILD
        )


def _write(path: str, cols: dict[str, str]) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(cols, f, indent=1)
    os.replace(tmp, path)
