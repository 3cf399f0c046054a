"""DDL interpreter golden cases (the reference's resolveQuery /
skipQueryDDL table-driven tests, binlog_reader_test.go:304+, re-expressed
for our subset) + mid-stream schema evolution end-to-end (FIXTURES.md
F-6: one mid-stream ALTER TABLE ... ADD COLUMN)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dtle_spark.catalog import SchemaCatalog, parse_ddl, parse_ddl_actions
from dtle_spark.model import JobConfig, TableConfig
from dtle_spark.streaming.pipeline import ParquetTableTarget, ReplicationJob
from dtle_spark.streaming.wire import WIRE_SCHEMA


GOLDEN = [
    ("CREATE SCHEMA IF NOT EXISTS db2", "create_schema", "db2", None),
    ("create database db3", "create_schema", "db3", None),
    ("DROP TABLE db1.t1", "drop_table", "db1", "t1"),
    ("TRUNCATE TABLE db1.`t2`", "truncate", "db1", "t2"),
    ("ALTER TABLE db1.t ADD COLUMN note varchar(64)", "add_column", "db1", "t"),
    ("alter table t add c2 bigint", "add_column", "dflt", "t"),
    ("ALTER TABLE db1.t DROP COLUMN old", "drop_column", "db1", "t"),
    ("ALTER TABLE db1.t RENAME COLUMN a TO b", "rename_column", "db1", "t"),
    ("ALTER TABLE db1.t RENAME TO t9", "rename_table", "db1", "t"),
]


@pytest.mark.parametrize("query,kind,schema,table", GOLDEN)
def test_parse_ddl_golden(query, kind, schema, table):
    a = parse_ddl(query, default_schema="dflt")
    assert a.kind == kind
    assert a.schema_name == schema
    if table:
        assert a.table_name == table


def test_parse_create_table_with_pk():
    a = parse_ddl(
        "CREATE TABLE db1.acct (id bigint NOT NULL, name varchar(64), "
        "bal decimal(18,4), created datetime, PRIMARY KEY (id))"
    )
    assert a.kind == "create_table"
    names = [f.name for f in a.dtype.fields]
    assert names == ["id", "name", "bal", "created"]
    assert a.dtype["bal"].dataType == T.DecimalType(18, 4)
    assert not a.dtype["id"].nullable
    assert a.dtype.pk == ["id"]


def test_out_of_subset_ddl_raises():
    with pytest.raises(ValueError):
        parse_ddl("CREATE TRIGGER trg BEFORE INSERT ON t FOR EACH ROW SET @x=1")


class TestAlterBreadth:
    """D1 breadth: MODIFY/CHANGE type changes, multi-clause ALTER,
    RENAME TABLE pairs, DEFAULT capture — the reference resolves these
    through per-AlterTableSpec handling (binlog_reader.go:1099-1107)."""

    def test_modify_column_type(self):
        a = parse_ddl("ALTER TABLE db1.t MODIFY COLUMN v bigint")
        assert a.kind == "modify_column" and a.column == "v"
        assert a.dtype == T.LongType()

    def test_change_column_rename_and_type(self):
        a = parse_ddl("alter table t CHANGE old_c new_c decimal(10,2) NOT NULL", "dflt")
        assert a.kind == "change_column"
        assert (a.column, a.new_name) == ("old_c", "new_c")
        assert a.dtype == T.DecimalType(10, 2)

    def test_multi_clause_alter(self):
        acts = parse_ddl_actions(
            "ALTER TABLE db1.t ADD COLUMN a int, DROP COLUMN b, "
            "MODIFY c bigint, RENAME COLUMN d TO e"
        )
        assert [x.kind for x in acts] == [
            "add_column", "drop_column", "modify_column", "rename_column"
        ]
        assert all(x.schema_name == "db1" and x.table_name == "t" for x in acts)
        # a comma inside an escaped string literal or a backticked name
        # does not split the clause
        for q in (
            r"ALTER TABLE db1.t ADD COLUMN c int COMMENT 'it\'s, y', ADD COLUMN d int",
            "ALTER TABLE db1.t ADD COLUMN `a,b` int, ADD COLUMN d int",
        ):
            assert [x.kind for x in parse_ddl_actions(q)] == ["add_column"] * 2, q

    def test_rename_table_statement_multi_pair(self):
        acts = parse_ddl_actions("RENAME TABLE a TO b, db2.c TO d", "dflt")
        assert [(x.schema_name, x.table_name, x.new_name) for x in acts] == [
            ("dflt", "a", "b"), ("db2", "c", "d"),
        ]
        assert all(x.kind == "rename_table" for x in acts)

    def test_add_column_with_default(self):
        a = parse_ddl("ALTER TABLE t ADD COLUMN flag int NOT NULL DEFAULT 7", "db1")
        assert a.kind == "add_column" and a.default == "7"
        a2 = parse_ddl("ALTER TABLE t ADD s varchar(8) DEFAULT 'x'", "db1")
        assert a2.default == "'x'"

    def test_index_and_default_clauses_are_noops(self):
        acts = parse_ddl_actions(
            "ALTER TABLE db1.t ADD INDEX idx_v (v), DROP INDEX old_idx, "
            "ALTER COLUMN v SET DEFAULT 3"
        )
        assert [x.kind for x in acts] == ["noop", "noop", "noop"]
        cat = SchemaCatalog()
        cat.apply(parse_ddl("CREATE TABLE db1.t (id bigint, v int, PRIMARY KEY(id))"))
        before = [f.name for f in cat.get("db1", "t").schema.fields]
        for a in acts:
            cat.apply(a)
        assert [f.name for f in cat.get("db1", "t").schema.fields] == before

    def test_catalog_modify_and_change(self):
        cat = SchemaCatalog()
        cat.apply(parse_ddl("CREATE TABLE db1.t (id bigint NOT NULL, v int, PRIMARY KEY(id))"))
        cat.apply(parse_ddl("ALTER TABLE db1.t MODIFY v bigint"))
        assert cat.get("db1", "t").schema["v"].dataType == T.LongType()
        cat.apply(parse_ddl("ALTER TABLE db1.t CHANGE v val decimal(12,2)"))
        meta = cat.get("db1", "t")
        assert [f.name for f in meta.schema.fields] == ["id", "val"]
        assert meta.schema["val"].dataType == T.DecimalType(12, 2)

    def test_unparseable_alter_clause_raises(self):
        with pytest.raises(ValueError):
            parse_ddl_actions("ALTER TABLE db1.t PARTITION BY HASH(id)")


def test_catalog_roundtrip():
    cat = SchemaCatalog()
    cat.apply(parse_ddl("CREATE TABLE db1.t (id bigint NOT NULL, v int, PRIMARY KEY(id))"))
    cat.apply(parse_ddl("ALTER TABLE db1.t ADD COLUMN note varchar(32)"))
    cat.apply(parse_ddl("ALTER TABLE db1.t RENAME COLUMN v TO val"))
    meta = cat.get("db1", "t")
    assert [f.name for f in meta.schema.fields] == ["id", "val", "note"]
    cat.apply(parse_ddl("ALTER TABLE db1.t DROP COLUMN note"))
    assert [f.name for f in cat.get("db1", "t").schema.fields] == ["id", "val"]


def test_midstream_add_column_end_to_end(spark, tmp_path):
    """Insert rows, ALTER ADD COLUMN mid-stream, insert wider rows —
    one micro-batch, segmented around the DDL barrier."""
    src, tgt, ckpt = str(tmp_path / "s"), str(tmp_path / "t"), str(tmp_path / "c")
    os.makedirs(src)

    def wire_row(seq, op, after=None, query=None):
        return Row(
            sid="s1", gno=seq, seq=seq, lc=0, op=op, ts=None,
            schema_name="db1", table_name="t", before=None, after=after, query=query,
        )

    rows = [
        wire_row(1, "i", '{"id":1,"v":10}'),
        wire_row(2, "i", '{"id":2,"v":20}'),
        wire_row(3, "ddl", None, "ALTER TABLE db1.t ADD COLUMN note varchar(32)"),
        wire_row(4, "i", '{"id":3,"v":30,"note":"hello"}'),
        wire_row(5, "u", '{"id":1,"v":11,"note":"upd"}'),
    ]
    spark.createDataFrame(rows, WIRE_SCHEMA).coalesce(1).write.parquet(f"{src}/b0")

    cat = SchemaCatalog()
    cat.register(
        "db1", "t",
        T.StructType([T.StructField("id", T.LongType()), T.StructField("v", T.LongType())]),
        ["id"],
    )
    cfg = TableConfig("db1", "t", unique_key=["id"])
    rj = ReplicationJob(
        spark, JobConfig("ddl-job", [cfg]), f"{src}/*", tgt, ckpt, cat
    ).start()
    rj.process_available()
    rj.pause()

    final = {r["id"]: r for r in ParquetTableTarget(tgt).read(spark, "db1", "t").collect()}
    assert set(final) == {1, 2, 3}
    assert final[1]["v"] == 11 and final[1]["note"] == "upd"
    assert final[2]["note"] is None  # pre-DDL row widened with null
    assert final[3]["note"] == "hello"
    # catalog evolved
    assert [f.name for f in cat.get("db1", "t").schema.fields] == ["id", "v", "note"]


def test_midstream_type_widening_end_to_end(spark, tmp_path):
    """int -> bigint via ALTER ... MODIFY mid-stream: pre-DDL rows are
    cast in place, post-DDL rows parse with the widened type, and a
    multi-clause ALTER (MODIFY + ADD with DEFAULT) replays in order."""
    src, tgt, ckpt = str(tmp_path / "s"), str(tmp_path / "t"), str(tmp_path / "c")
    os.makedirs(src)

    def wire_row(seq, op, after=None, query=None):
        return Row(
            sid="s1", gno=seq, seq=seq, lc=0, op=op, ts=None,
            schema_name="db1", table_name="t", before=None, after=after, query=query,
        )

    big = 3_000_000_000  # needs bigint
    rows = [
        wire_row(1, "i", '{"id":1,"v":10}'),
        wire_row(2, "ddl", None,
                 "ALTER TABLE db1.t MODIFY COLUMN v bigint, "
                 "ADD COLUMN flag int DEFAULT 7"),
        wire_row(3, "i", '{"id":2,"v":%d,"flag":1}' % big),
    ]
    spark.createDataFrame(rows, WIRE_SCHEMA).coalesce(1).write.parquet(f"{src}/b0")

    cat = SchemaCatalog()
    cat.register(
        "db1", "t",
        T.StructType([T.StructField("id", T.LongType()), T.StructField("v", T.IntegerType())]),
        ["id"],
    )
    cfg = TableConfig("db1", "t", unique_key=["id"])
    rj = ReplicationJob(
        spark, JobConfig("ddl-widen", [cfg]), f"{src}/*", tgt, ckpt, cat
    ).start()
    rj.process_available()
    rj.pause()

    final = {r["id"]: r for r in ParquetTableTarget(tgt).read(spark, "db1", "t").collect()}
    assert set(final) == {1, 2}
    assert final[2]["v"] == big
    assert final[1]["flag"] == 7  # DEFAULT backfill on the pre-DDL row
    assert final[2]["flag"] == 1
    meta = cat.get("db1", "t")
    assert meta.schema["v"].dataType == T.LongType()
    assert [f.name for f in meta.schema.fields] == ["id", "v", "flag"]
