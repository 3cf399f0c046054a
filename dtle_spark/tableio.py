"""Table loading helpers over the driver-provided parquet fixtures."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a fixture table. Parquet TIMESTAMP(NANOS) columns (which Spark
    rejects / reads as long under ``legacy.parquet.nanosAsLong``) are
    converted to micros TimestampType by truncation — the same ns->us
    truncation DuckDB applies on scan, keeping oracle comparisons exact."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    # Fixture timestamps carry no tz annotation; Spark 4 would infer
    # TIMESTAMP_NTZ, which unix_micros/to_utc_timestamp reject and which
    # DuckDB (the oracle) does not distinguish. Read them as plain
    # TimestampType and pin the session to UTC so wall-clock == instant —
    # runtime SQL confs so this also holds on driver-provided sessions.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    nanos_cols = [
        f.name
        for f in pq.read_schema(path)
        if str(f.type) == "timestamp[ns]"
    ]
    if nanos_cols:
        # runtime SQL conf so it also works on driver-provided sessions
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in nanos_cols:
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` DIV 1000)"))
    return df


def write_clustered(
    df: DataFrame, path: str, cols: list[str], mode: str = "overwrite",
    n_files: int | None = None,
) -> None:
    """Write ``df`` as parquet CLUSTERED on ``cols``: a range
    repartition (disjoint per-file key ranges) plus a within-file sort,
    so every file's and row-group's min/max statistics on ``cols`` are
    tight. A selective ``col = k`` / ``col IN (...)`` read then skips
    all but the owning files' row groups via parquet predicate pushdown
    — the scan cost becomes O(selected), not O(table).

    This is the layout lever the incremental maintainers assume at
    100 TB (rollup.py:217, join_maintain's dim-refresh carve): Spark
    has no Z-order builtin, but for SINGLE-key locality a range-sort
    is strictly tighter than an interleave; use multiple cols in
    major->minor order for hierarchical keys (day, table). NULLs sort
    first and land in the lowest file, pruned like any other range.
    Measured in SCALE.md (r11): a 1-of-1000-keys filter reads ~1/Nth
    of the clustered layout vs the whole unclustered table."""
    out = df.repartitionByRange(*cols) if n_files is None else (
        df.repartitionByRange(n_files, *cols)
    )
    out.sortWithinPartitions(*cols).write.mode(mode).parquet(path)
