"""MySQL DML SQL generation for a real MySQL applier target (K1).

The reference's most-tested surface is its SQL builder
(driver/mysql/sql/builder.go:86-339 + 923 LoC of goldens in
builder_test.go): change rows become ``replace into`` / PK-delete /
full-row NULL-safe ``delete ... limit 1`` / update-pair statements with
positional args. The engine's default targets merge into lake tables
(the legitimate Spark restatement of K1); this module is the writer a
user pointing at an actual MySQL downstream needs. Statement GENERATION
is fully implemented and golden-tested offline; the JDBC/driver
transport that would execute these remains the documented seam (no
MySQL client library in this container).

Semantics matched against builder.go:

- insert -> multi-row ``REPLACE INTO`` (idempotent under re-delivery,
  BuildDMLInsertQuery:163-240), optional ``convert_tz`` placeholders.
- delete -> if any PK column present in the row image, WHERE on the PK
  columns only; otherwise the full-row comparison with NULL-safe
  ``is NULL`` per nil column, always ``limit 1`` (delete-one semantics
  for no-PK tables, BuildDMLDeleteQuery:86-161).
- update -> SET every column, WHERE as the delete rules (PK if
  available, else full row), ``limit 1`` (BuildDMLUpdateQuery:240-339).
- unsigned columns re-encode negative two's-complement ints
  (Column.ConvertArg, mysqlconfig/types.go:87-140; MEDIUMINT masks to
  24 bits); binary columns compare via an inline
  ``cast('..' as <type>)`` instead of a placeholder.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from dtle_spark.catalog import split_top_level


@dataclass
class Column:
    """Applier-side column metadata (mysqlconfig.Column analogue)."""

    name: str
    is_pk: bool = False
    is_unsigned: bool = False
    bits: int = 64  # integer width, for unsigned re-encoding
    is_mediumint: bool = False
    is_binary: bool = False
    col_type: str = ""  # MySQL type string, used by the binary cast
    tz_to: str | None = None  # timezone conversion target (F11)

    @property
    def escaped(self) -> str:
        return escape_name(self.name)


def escape_name(name: str) -> str:
    """Backtick-quote an identifier (EscapeName, types.go:173-187)."""
    return "`" + name.replace("`", "``") + "`"


def escape_value(v: str) -> str:
    """MySQL string-literal escaping (EscapeValue, builder.go:41-72)."""
    out = []
    repl = {
        "\x00": "\\0", "'": "\\'", '"': '\\"', "\n": "\\n",
        "\r": "\\r", "\t": "\\t", "\x1a": "\\Z", "\\": "\\\\",
    }
    for ch in v:
        out.append(repl.get(ch, ch))
    return "".join(out)


def convert_arg(col: Column, v):
    """Arg normalization (Column.ConvertArg): unsigned columns
    re-encode negative ints as two's-complement of the column width;
    MEDIUMINT masks to 24 bits."""
    if col.is_unsigned and isinstance(v, int) and not isinstance(v, bool) and v < 0:
        if col.is_mediumint:
            return v & 0x00FFFFFF
        return v & ((1 << col.bits) - 1)
    return v


def _insert_column_list(column_map_to: list[str]) -> str:
    if not column_map_to:
        return ""
    return "(" + ", ".join(escape_name(c) for c in column_map_to) + ")"


def _check_args_count(n_args: int, columns: list[Column], column_map_to: list[str], what: str):
    if not (n_args >= len(columns) or n_args == len(column_map_to)):
        raise ValueError(f"{what}: bad args count {n_args} vs {len(columns)}")


def _column_for(i: int, columns: list[Column], column_map_to: list[str]) -> Column | None:
    """getColumnWithMapTo (builder.go:227-235)."""
    if column_map_to:
        for c in columns:
            if c.name == column_map_to[i]:
                return c
        return None
    if i < len(columns):
        return columns[i]
    return None


def build_insert(
    database: str,
    table: str,
    columns: list[Column],
    column_map_to: list[str],
    rows: list[list],
) -> tuple[str, list]:
    """Multi-row REPLACE INTO (BuildDMLInsertQuery)."""
    if not rows:
        raise ValueError("build_insert: rows is empty")
    placeholders: list[str] = []
    shared_args: list = []
    for irow, args in enumerate(rows):
        if irow == 0:
            _check_args_count(len(args), columns, column_map_to, "build_insert")
        elif len(args) != len(rows[0]):
            raise ValueError("build_insert: ragged rows")
        for i, v in enumerate(args):
            col = _column_for(i, columns, column_map_to)
            if irow == 0:
                if col is not None and col.tz_to is not None:
                    placeholders.append(
                        f"convert_tz(?, '{col.tz_to}', '+00:00')"
                    )
                else:
                    placeholders.append("?")
            shared_args.append(convert_arg(col, v) if col is not None else v)
    ph = ",".join(placeholders)
    values = "),(".join([ph] * len(rows))
    sql = (
        f"replace into {escape_name(database)}.{escape_name(table)} "
        f"{_insert_column_list(column_map_to)} values ({values})"
    )
    return sql, shared_args


def _comparisons(
    columns: list[Column],
    column_map_to: list[str],
    args: list,
) -> tuple[list[str], list, list[str], list, bool]:
    """Shared WHERE construction for delete/update: returns
    (comparisons, column_args, uk_comparisons, uk_args, has_uk)."""
    comparisons: list[str] = []
    column_args: list = []
    uk_comparisons: list[str] = []
    uk_args: list = []
    for i, v in enumerate(args):
        col = _column_for(i, columns, column_map_to)
        if col is None:
            continue
        if v is None:
            comparisons.append(f"({col.escaped} is NULL)")
        elif col.is_binary:
            arg = convert_arg(col, v)
            s = arg.decode("utf-8", "surrogateescape") if isinstance(arg, bytes) else str(arg)
            cmp = f"({col.escaped} = cast('{escape_value(s)}' as {col.col_type}))"
            (uk_comparisons if col.is_pk else comparisons).append(cmp)
        else:
            arg = convert_arg(col, v)
            cmp = f"({col.escaped} = ?)"
            if col.is_pk:
                uk_args.append(arg)
                uk_comparisons.append(cmp)
            else:
                column_args.append(arg)
                comparisons.append(cmp)
    has_uk = bool(uk_comparisons)
    if has_uk:
        return uk_comparisons, uk_args, uk_comparisons, uk_args, True
    return comparisons, column_args, uk_comparisons, uk_args, False


def build_delete(
    database: str,
    table: str,
    columns: list[Column],
    column_map_to: list[str],
    args: list,
) -> tuple[str, list, bool]:
    """DELETE: PK WHERE when a PK value is present, else NULL-safe
    full-row WHERE; always ``limit 1`` (BuildDMLDeleteQuery)."""
    _check_args_count(len(args), columns, column_map_to, "build_delete")
    comparisons, column_args, _, _, has_uk = _comparisons(columns, column_map_to, args)
    sql = (
        f"delete from {escape_name(database)}.{escape_name(table)} where\n"
        f"({' and '.join(comparisons)}) limit 1"
    )
    return sql, column_args, has_uk


def build_update(
    database: str,
    table: str,
    columns: list[Column],
    column_map_to: list[str],
    value_args: list,
    where_args: list,
) -> tuple[str, list, list, bool]:
    """UPDATE pair: SET every column to the after image, WHERE from the
    before image per the delete rules (BuildDMLUpdateQuery)."""
    shared_args: list = []
    set_tokens: list[str] = []
    for i in range(len(where_args)):
        col = _column_for(i, columns, column_map_to)
        v = value_args[i]
        if v is None or v == "NULL" or f"{v}" == "":
            shared_args.append(v)
        else:
            shared_args.append(convert_arg(col, v) if col is not None else v)
        if col is None:
            continue
        if col.tz_to is not None:
            set_tokens.append(
                f"{col.escaped}=convert_tz(?, '{col.tz_to}', '+00:00')"
            )
        else:
            set_tokens.append(f"{col.escaped}=?")
    comparisons, column_args, _, _, has_uk = _comparisons(
        columns, column_map_to, where_args
    )
    sql = (
        f"update {escape_name(database)}.{escape_name(table)} set\n"
        f"{', '.join(set_tokens)}\nwhere\n"
        f"({' and '.join(comparisons)}) limit 1"
    )
    return sql, shared_args, column_args, has_uk


def statements_for_changes(
    database: str,
    table: str,
    columns: list[Column],
    changes: list[dict],
    column_map_to: list[str] | None = None,
) -> list[tuple[str, list]]:
    """Change rows (op + before/after ordinal arrays, the wire form the
    applier consumes in applier_incr.go) -> ordered (sql, args)
    statements. This is the K1 seam body: feed these to any MySQL
    driver/JDBC transport to complete the applier."""
    cmt = column_map_to or []
    out: list[tuple[str, list]] = []
    inserts: list[list] = []

    def flush_inserts():
        if inserts:
            out.append(build_insert(database, table, columns, cmt, list(inserts)))
            inserts.clear()

    for ch in changes:
        op = ch["op"]
        if op == "i":
            inserts.append(ch["after"])  # contiguous inserts batch into one REPLACE
            continue
        flush_inserts()
        if op == "d":
            sql, args, _ = build_delete(database, table, columns, cmt, ch["before"])
            out.append((sql, args))
        elif op == "u":
            sql, shared, where, _ = build_update(
                database, table, columns, cmt, ch["after"], ch["before"]
            )
            out.append((sql, shared + where))
        else:
            raise ValueError(f"unknown op {op!r}")
    flush_inserts()
    return out


# --- DDL text shims for a real MySQL destination ----------------------

_COLLATION_57_RE = re.compile(r"utf8mb4_0900_ai_ci", re.IGNORECASE)


def mysql57_collation_workaround(sql: str) -> str:
    """MySQL 8.0 defaults to ``utf8mb4_0900_ai_ci``, which a 5.7
    destination does not know — rewrite it to ``utf8mb4_general_ci``
    wherever it appears (CREATE DATABASE/TABLE defaults, column
    collations), preserving everything else byte-for-byte (reference:
    base/utils.go MySQL57CollationReplaceWorkaround, goldens in
    utils_test.go:362-392)."""
    return _COLLATION_57_RE.sub("utf8mb4_general_ci", sql)


_CREATE_TABLE_HEAD_RE = re.compile(
    r"^\s*create\s+table\s+(?:`?(?P<schema>[\w$]+)`?\.)?`?(?P<table>[\w$]+)`?"
    r"\s*\(",
    re.IGNORECASE | re.DOTALL,
)


def _split_body_and_tail(sql: str, open_idx: int) -> tuple[str, str]:
    """Return (body, tail) where body is the text inside the column-list
    parens starting at ``open_idx`` (which must point at '(') and tail
    is everything after the MATCHING close paren. Tracks paren depth and
    skips quoted spans, so a parenthesis inside COMMENT='x(y)' or a
    PARTITION BY tail never corrupts the body (ADVICE r4: the old
    greedy regex swallowed option tails)."""
    depth, i, n = 0, open_idx, len(sql)
    while i < n:
        ch = sql[i]
        if ch in "'\"`":
            q = ch
            i += 1
            while i < n:
                if sql[i] == "\\" and q != "`":
                    i += 2
                    continue
                if sql[i] == q:
                    if i + 1 < n and sql[i + 1] == q:  # doubled quote escape
                        i += 2
                        continue
                    break
                i += 1
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return sql[open_idx + 1 : i], sql[i + 1 :].strip()
        i += 1
    raise ValueError(f"unbalanced parens in CREATE TABLE: {sql[:80]!r}")


def _upper_outside_quotes(s: str) -> str:
    """Uppercase SQL keywords/types/bare identifiers while preserving
    quoted spans verbatim — string literals ('Hello' stays 'Hello'),
    double-quoted strings, and backticked identifiers (ADVICE r4: the
    old blanket .upper() rewrote DEFAULT 'Hello' to 'HELLO', changing
    destination data; the reference restores via AST and keeps literal
    case)."""
    out, i, n = [], 0, len(s)
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
            out.append(s[i:j])
            i = j
        else:
            out.append(ch.upper())
            i += 1
    return "".join(out)


def rename_create_table(
    create_sql: str,
    new_schema: str,
    new_table: str,
    column_map: list[str] | None = None,
) -> str:
    """Rewrite a snapshot CREATE TABLE for the destination: new
    schema/table names, and — when a ColumnMap is configured — the
    column definitions REORDERED to the map order so positional row
    images line up (reference: base/utils.go RenameCreateTable via AST
    restore; golden utils_test.go:323-361). Types and constraints are
    re-emitted uppercased OUTSIDE quoted spans (string-literal DEFAULTs
    and backticked names keep their case); table-level constraints keep
    their position after the mapped columns; the table-options tail
    (ENGINE/CHARSET/COMMENT/PARTITION BY ...) is re-emitted verbatim."""
    stripped = create_sql.strip()
    m = _CREATE_TABLE_HEAD_RE.match(stripped)
    if not m:
        raise ValueError(f"unparseable CREATE TABLE: {create_sql[:80]!r}")
    body, tail = _split_body_and_tail(stripped, m.end() - 1)
    defs = split_top_level(body)
    col_defs: dict[str, str] = {}
    table_level: list[str] = []
    order: list[str] = []
    for d in defs:
        dm = re.match(r"^`?([\w$]+)`?\s+(.*)$", d, re.DOTALL)
        head = dm.group(1).lower() if dm else ""
        if head in ("primary", "unique", "key", "index", "constraint", "foreign"):
            table_level.append(_upper_outside_quotes(d))
            continue
        if dm is None:
            raise ValueError(f"unparseable column def: {d!r}")
        col_defs[dm.group(1)] = dm.group(2)
        order.append(dm.group(1))
    names = list(column_map) if column_map else order
    missing = [c for c in names if c not in col_defs]
    if missing:
        raise ValueError(f"ColumnMap names not in CREATE TABLE: {missing}")
    cols = [f"`{c}` {_upper_outside_quotes(col_defs[c])}" for c in names]
    out = (
        f"CREATE TABLE `{new_schema}`.`{new_table}` ("
        + ",".join(cols + table_level)
        + ")"
    )
    return f"{out} {tail}" if tail else out
