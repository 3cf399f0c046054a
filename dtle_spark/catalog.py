"""DDL interpretation + schema catalog (reference D1-D4).

The reference parses query events with the TiDB parser, classifies the
statement, resolves affected tables, and replays schema changes into an
in-memory catalog (/root/reference/driver/mysql/binlog/binlog_reader.go:
1039-1197 classification; sqle/inspector/context.go catalog;
applier_incr.go:610-674 application). Spark restatement: a regex
interpreter for the replicated-DDL subset driving a StructType registry;
application evolves the target table (ADD/DROP/RENAME COLUMN, TRUNCATE,
CREATE/DROP TABLE). Out-of-subset DDL raises — loud, not silently
skipped (the reference's skip policies are explicit flags, F6).

On a lake deployment these actions map 1:1 to Delta/Iceberg
``ALTER TABLE``/schema-evolution commits; here they rewrite the parquet
target through the same TableTarget seam the merge uses.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import types as T

from dtle_spark.model import mysql_type_to_spark


@dataclass
class DdlAction:
    # create_schema|drop_schema|create_table|drop_table|truncate|
    # add_column|drop_column|rename_column|modify_column|change_column|
    # rename_table|noop (recognized, schema-unaffected: indexes,
    # constraints, SET/DROP DEFAULT)
    kind: str
    schema_name: str | None = None
    table_name: str | None = None
    column: str | None = None
    new_name: str | None = None
    dtype: T.DataType | None = None
    default: str | None = None  # raw DEFAULT literal (ADD COLUMN backfill)


@dataclass
class TableMeta:
    schema: T.StructType
    unique_key: list[str] = field(default_factory=list)


# a bare identifier, or a backticked one holding any character but `
_IDENT = r"`?(?P<{}>(?<=`)[^`]+(?=`)|[A-Za-z_][A-Za-z0-9_]*)`?"


def _qual(name: str) -> str:
    return rf"(?:{_IDENT.format(name + '_schema')}\.)?{_IDENT.format(name)}"


_TYPE = r"(?P<dtype>[A-Za-z]+(?:\s+unsigned)?)(?:\((?P<prec>\d+)(?:\s*,\s*(?P<scale>\d+))?\))?"

_PATTERNS: list[tuple[str, re.Pattern]] = [
    ("create_schema", re.compile(
        rf"^\s*create\s+(?:schema|database)\s+(?:if\s+not\s+exists\s+)?{_IDENT.format('schema')}\s*$", re.I)),
    ("drop_schema", re.compile(
        rf"^\s*drop\s+(?:schema|database)\s+(?:if\s+exists\s+)?{_IDENT.format('schema')}\s*$", re.I)),
    ("create_table", re.compile(
        rf"^\s*create\s+table\s+(?:if\s+not\s+exists\s+)?{_qual('table')}\s*\((?P<body>.*)\)\s*$", re.I | re.S)),
    ("drop_table", re.compile(
        rf"^\s*drop\s+table\s+(?:if\s+exists\s+)?{_qual('table')}\s*$", re.I)),
    ("truncate", re.compile(rf"^\s*truncate\s+(?:table\s+)?{_qual('table')}\s*$", re.I)),
]

# per-clause patterns inside ALTER TABLE <t> clause[, clause...]
# (the reference parses these with the TiDB parser and handles each
# AlterTableSpec — binlog_reader.go:1099-1107; MODIFY/CHANGE golden
# resolution cases in binlog_reader_test.go)
_STR = r"'(?:[^'\\]|\\.|'')*'"  # backslash escapes and doubled quotes
_DEFAULT = rf"(?:\s+default\s+(?P<default>{_STR}|[^\s,]+))?"
_EXTRAS = rf"(?:\s+(?:not\s+null|null|auto_increment|unsigned|comment\s+{_STR}|first|after\s+`?[A-Za-z_][A-Za-z0-9_]*`?))*"
_ALTER_CLAUSES: list[tuple[str, re.Pattern]] = [
    ("add_column", re.compile(
        rf"^add\s+(?:column\s+)?{_IDENT.format('column')}\s+{_TYPE}"
        rf"(?:{_EXTRAS}{_DEFAULT}{_EXTRAS})?\s*$", re.I)),
    ("drop_column", re.compile(
        rf"^drop\s+(?:column\s+)?{_IDENT.format('column')}\s*$", re.I)),
    ("rename_column", re.compile(
        rf"^rename\s+column\s+{_IDENT.format('column')}\s+to\s+{_IDENT.format('new')}\s*$", re.I)),
    ("modify_column", re.compile(
        rf"^modify\s+(?:column\s+)?{_IDENT.format('column')}\s+{_TYPE}"
        rf"(?:{_EXTRAS}{_DEFAULT}{_EXTRAS})?\s*$", re.I)),
    ("change_column", re.compile(
        rf"^change\s+(?:column\s+)?{_IDENT.format('column')}\s+{_IDENT.format('new')}\s+{_TYPE}"
        rf"(?:{_EXTRAS}{_DEFAULT}{_EXTRAS})?\s*$", re.I)),
    ("rename_table", re.compile(
        rf"^rename\s+(?:to\s+|as\s+)?{_IDENT.format('new')}\s*$", re.I)),
    # schema-unaffected clauses: recognized, applied as no-ops
    ("noop", re.compile(
        r"^(?:add\s+(?:unique\s+|fulltext\s+|spatial\s+)?(?:index|key|constraint|primary\s+key|foreign\s+key)\b.*"
        r"|drop\s+(?:index|key|primary\s+key|foreign\s+key|constraint)\b.*"
        r"|alter\s+(?:column\s+)?`?[A-Za-z_][A-Za-z0-9_]*`?\s+(?:set\s+default\b.*|drop\s+default)"
        r"|(?:engine|auto_increment|comment|charset|character\s+set|collate|convert\s+to\b.*|row_format)\s*=?.*"
        r")$", re.I | re.S)),
]

_ALTER_HEAD = re.compile(rf"^\s*alter\s+table\s+{_qual('table')}\s+(?P<rest>.*)$", re.I | re.S)
_RENAME_TABLE_STMT = re.compile(r"^\s*rename\s+table\s+(?P<list>.+?)\s*;?\s*$", re.I | re.S)
_RENAME_PAIR = re.compile(
    rf"^\s*{_qual('old')}\s+to\s+{_qual('new')}\s*$", re.I
)

_COLDEF = re.compile(
    rf"^\s*`?(?P<name>[A-Za-z_][A-Za-z0-9_]*)`?\s+{_TYPE}", re.I
)


def split_top_level(s: str) -> list[str]:
    """Split MySQL text on commas at paren depth 0, outside quoted spans
    ('...', "..." with backslash escapes and doubled quotes; `...`
    identifiers), so COMMENT 'a,b' or `a,b` never split a clause.
    Shared by the multi-clause ALTER/RENAME parser and the CREATE TABLE
    rewrite (sinks/mysql_dml)."""
    out, depth, cur, i, n = [], 0, [], 0, len(s)
    while i < n:
        ch = s[i]
        if ch in "'\"`":
            q = ch
            j = i + 1
            while j < n:
                if s[j] == "\\" and q != "`":
                    j += 2
                    continue
                if s[j] == q:
                    if j + 1 < n and s[j + 1] == q:
                        j += 2
                        continue
                    j += 1
                    break
                j += 1
            cur.append(s[i:j])
            i = j
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
        i += 1
    if cur:
        out.append("".join(cur).strip())
    return [p for p in out if p]


def _fill_type(action: DdlAction, g: dict) -> None:
    if g.get("dtype"):
        action.dtype = mysql_type_to_spark(
            g["dtype"], int(g.get("prec") or 0), int(g.get("scale") or 0)
        )
    action.default = g.get("default")


def parse_ddl_actions(query: str, default_schema: str | None = None) -> list[DdlAction]:
    """Classify a DDL statement into its action list (D1). Multi-clause
    ``ALTER TABLE a ADD ..., DROP ..., MODIFY ...`` and multi-pair
    ``RENAME TABLE a TO b, c TO d`` emit one action per clause, replayed
    in order. Raises ValueError for statements outside the replicated
    subset — loud, not silently skipped."""
    for kind, pat in _PATTERNS:
        m = pat.match(query)
        if not m:
            continue
        g = m.groupdict()
        action = DdlAction(kind=kind)
        action.schema_name = g.get("schema") or g.get("table_schema") or default_schema
        action.table_name = g.get("table")
        if kind == "create_table":
            action.dtype = _parse_table_body(g["body"])
        return [action]

    m = _RENAME_TABLE_STMT.match(query)
    if m and not _ALTER_HEAD.match(query):
        actions = []
        for pair in split_top_level(m.group("list")):
            pm = _RENAME_PAIR.match(pair)
            if not pm:
                raise ValueError(f"unparseable RENAME TABLE pair: {pair!r}")
            actions.append(DdlAction(
                kind="rename_table",
                schema_name=pm.group("old_schema") or default_schema,
                table_name=pm.group("old"),
                new_name=pm.group("new"),
            ))
        return actions

    m = _ALTER_HEAD.match(query)
    if m:
        schema = m.group("table_schema") or default_schema
        table = m.group("table")
        actions = []
        for clause in split_top_level(m.group("rest")):
            for kind, cpat in _ALTER_CLAUSES:
                cm = cpat.match(clause)
                if not cm:
                    continue
                g = cm.groupdict()
                action = DdlAction(kind=kind, schema_name=schema, table_name=table)
                action.column = g.get("column")
                action.new_name = g.get("new")
                _fill_type(action, g)
                actions.append(action)
                break
            else:
                raise ValueError(f"ALTER clause outside the replicated subset: {clause!r}")
        return actions
    raise ValueError(f"DDL outside the replicated subset: {query!r}")


def parse_ddl(query: str, default_schema: str | None = None) -> DdlAction:
    """Single-action form (first clause) — kept for callers that know
    the statement is single-clause; multi-clause replay should use
    :func:`parse_ddl_actions`."""
    return parse_ddl_actions(query, default_schema)[0]


def _parse_table_body(body: str) -> T.StructType:
    fields, pk = [], []
    depth = 0
    parts, cur = [], []
    for ch in body:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur)); cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    for p in parts:
        if re.match(r"^\s*primary\s+key", p, re.I):
            pk = re.findall(r"`?([A-Za-z_][A-Za-z0-9_]*)`?", p.split("(", 1)[1])
            continue
        if re.match(r"^\s*(unique|key|index|constraint|foreign)", p, re.I):
            continue
        m = _COLDEF.match(p)
        if m:
            dt = mysql_type_to_spark(
                m.group("dtype"), int(m.group("prec") or 0), int(m.group("scale") or 0)
            )
            nullable = not re.search(r"not\s+null", p, re.I)
            fields.append(T.StructField(m.group("name"), dt, nullable))
    st = T.StructType(fields)
    st.pk = pk  # carried to TableMeta by the catalog
    return st


class SchemaCatalog:
    """In-memory StructType registry tracked through DDL (the sqle
    context analogue). The streaming pipeline consults it to evolve
    targets when op='ddl' records arrive."""

    def __init__(self) -> None:
        self.schemas: set[str] = set()
        self.tables: dict[tuple[str, str], TableMeta] = {}

    def register(self, schema_name: str, table_name: str, st: T.StructType, unique_key: list[str] | None = None) -> None:
        self.schemas.add(schema_name)
        self.tables[(schema_name, table_name)] = TableMeta(st, unique_key or [])

    def get(self, schema_name: str, table_name: str) -> TableMeta | None:
        return self.tables.get((schema_name, table_name))

    def copy(self) -> "SchemaCatalog":
        """Deep, independent copy (via the serialized form) — the unit
        of the copy-and-swap DDL protocol: batch handlers evolve a COPY
        while building output, and swap it in only after the output
        commit, so an in-process retry of a failed batch re-derives
        from the pristine catalog instead of double-applying DDL."""
        return SchemaCatalog.from_dict(self.to_dict())

    def restore_from(self, other: "SchemaCatalog") -> None:
        """Adopt another catalog's state IN PLACE — the swap half of
        copy-and-swap. In-place (two attribute rebinds, nothing can
        throw between them) so every caller holding a reference to this
        instance observes the evolution; rebinding self.catalog would
        silently fork it from the catalog the job owner passed in."""
        self.schemas = set(other.schemas)
        self.tables = dict(other.tables)

    def apply(self, action: DdlAction) -> None:
        """D2: replay the action into the catalog."""
        key = (action.schema_name, action.table_name)
        if action.kind == "create_schema":
            self.schemas.add(action.schema_name)
        elif action.kind == "drop_schema":
            self.schemas.discard(action.schema_name)
            self.tables = {k: v for k, v in self.tables.items() if k[0] != action.schema_name}
        elif action.kind == "create_table":
            self.schemas.add(action.schema_name)
            self.tables[key] = TableMeta(
                T.StructType(action.dtype.fields), getattr(action.dtype, "pk", [])
            )
        elif action.kind == "drop_table":
            self.tables.pop(key, None)
        elif action.kind == "truncate":
            pass  # data-only
        elif action.kind == "add_column":
            meta = self.tables[key]
            meta.schema = T.StructType(
                meta.schema.fields + [T.StructField(action.column, action.dtype, True)]
            )
        elif action.kind == "drop_column":
            meta = self.tables[key]
            meta.schema = T.StructType(
                [f for f in meta.schema.fields if f.name != action.column]
            )
        elif action.kind == "rename_column":
            meta = self.tables[key]
            meta.schema = T.StructType(
                [
                    T.StructField(action.new_name if f.name == action.column else f.name, f.dataType, f.nullable)
                    for f in meta.schema.fields
                ]
            )
            meta.unique_key = [
                action.new_name if c == action.column else c for c in meta.unique_key
            ]
        elif action.kind == "modify_column":
            # ALTER ... MODIFY: in-place type change (D1 breadth; the
            # reference resolves these through AlterTableSpec)
            meta = self.tables[key]
            meta.schema = T.StructType(
                [
                    T.StructField(f.name, action.dtype if f.name == action.column else f.dataType, f.nullable)
                    for f in meta.schema.fields
                ]
            )
        elif action.kind == "change_column":
            # ALTER ... CHANGE old new TYPE: rename + type change at once
            meta = self.tables[key]
            meta.schema = T.StructType(
                [
                    T.StructField(action.new_name, action.dtype, f.nullable)
                    if f.name == action.column
                    else f
                    for f in meta.schema.fields
                ]
            )
            meta.unique_key = [
                action.new_name if c == action.column else c for c in meta.unique_key
            ]
        elif action.kind == "rename_table":
            self.tables[(action.schema_name, action.new_name)] = self.tables.pop(key)
        elif action.kind == "noop":
            pass  # index/constraint/default-metadata: no schema effect
        else:
            raise ValueError(f"unhandled DDL action {action.kind}")

    # -- persistence (job recovery, driver.go RecoverTask analogue) --------

    def to_dict(self) -> dict:
        return {
            "schemas": sorted(self.schemas),
            "tables": {
                f"{s} {t}": {
                    "schema": meta.schema.json(),
                    "unique_key": list(meta.unique_key),
                }
                for (s, t), meta in self.tables.items()
            },
        }

    @classmethod
    def from_dict(cls, d: dict) -> "SchemaCatalog":
        import json

        out = cls()
        out.schemas = set(d.get("schemas", []))
        for key, v in d.get("tables", {}).items():
            s, t = key.split(" ", 1)
            out.tables[(s, t)] = TableMeta(
                T.StructType.fromJson(json.loads(v["schema"])),
                list(v.get("unique_key", [])),
            )
        return out

    def save(self, path: str, extra: dict | None = None) -> None:
        """Atomic snapshot — written after every DDL application so a
        recovered job resumes with the schema the stream had evolved
        to, not the create-time one (the reference keeps this in its
        Consul KV job state, common/store.go:40-446). ``extra`` keys
        ride in the same file (and the same atomic rename) — from_dict
        ignores them; callers that need a commit marker coupled to the
        snapshot (SubscriptionJob's __frames_batch) read them directly.
        """
        import json
        import os

        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({**self.to_dict(), **(extra or {})}, f)
        os.replace(tmp, path)

    @classmethod
    def load(cls, path: str) -> "SchemaCatalog | None":
        import json
        import os

        if not os.path.exists(path):
            return None
        with open(path) as f:
            return cls.from_dict(json.load(f))
