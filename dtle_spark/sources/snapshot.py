"""Snapshot scan operators (reference S1-S5).

The reference dumps tables in keyset-paginated chunks: ``SELECT <cols>
FROM t WHERE (range) AND (user Where) ORDER BY uk LIMIT chunk`` where
(range) is the lexicographic expansion ``(A>a) OR (A=a AND B>b) OR ...``
over the chosen unique key (/root/reference/driver/mysql/dumper.go:106-156,
executed :159-305; OFFSET fallback for no-UK tables :95-104).

Spark-first restatement: a snapshot of a parquet/lake table is just a
batch read — Catalyst already partitions the scan, so chunking for
parallelism is unnecessary. Keyset chunking remains useful for (a) a
source where server-side cursoring is needed, and (b) resumable /
bounded snapshots. The chunk predicate is a pure Column expression so
it pushes down to the scan (``PushedFilters`` in the plan — verified in
tests).
"""

from __future__ import annotations

from typing import Any, Iterator, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def keyset_predicate(key_cols: Sequence[str], last_vals: Sequence[Any]) -> Column:
    """Lexicographic "key > last" range predicate (dumper.go:106-156):
    ``(k1 > a) OR (k1 = a AND k2 > b) OR (k1 = a AND k2 = b AND k3 > c)``.
    Composite-key-capable, unlike JDBC ``partitionColumn`` (numeric,
    single column) — this is the piece Spark lacks natively (SURVEY §4).
    """
    if len(key_cols) != len(last_vals):
        raise ValueError("key/value length mismatch")
    clauses: list[Column] = []
    for i, (k, v) in enumerate(zip(key_cols, last_vals)):
        clause = F.col(k) > F.lit(v)
        for pk, pv in zip(key_cols[:i], last_vals[:i]):
            clause = clause & (F.col(pk) == F.lit(pv))
        clauses.append(clause)
    out = clauses[0]
    for c in clauses[1:]:
        out = out | c
    return out


def snapshot_chunk(
    df: DataFrame,
    key_cols: Sequence[str],
    last_vals: Sequence[Any] | None,
    chunk_size: int,
    where: str | None = None,
) -> DataFrame:
    """One S1 chunk: range predicate + user Where (both pushed down) +
    key order + LIMIT. ``last_vals=None`` means the first chunk."""
    out = df
    if last_vals is not None:
        out = out.filter(keyset_predicate(key_cols, last_vals))
    if where:
        out = out.filter(F.expr(where))
    return out.orderBy(*key_cols).limit(chunk_size)


def snapshot_chunks(
    df: DataFrame,
    key_cols: Sequence[str],
    chunk_size: int = 2000,
    where: str | None = None,
) -> Iterator[DataFrame]:
    """Iterate a table in keyset chunks (reference default ChunkSize=2000,
    taskconfig.go:13). Driver-side loop like the reference's dump loop
    (common/dumper.go:60-94) — each chunk is a distributed job; the
    driver only tracks ``LastMaxVals``. Intended for JDBC-ish sources;
    for lake tables prefer a single ``spark.read`` (Catalyst chunks)."""
    last: list[Any] | None = None
    while True:
        chunk = snapshot_chunk(df, key_cols, last, chunk_size, where)
        rows = chunk.collect()  # one chunk (<= chunk_size rows) at the driver
        if not rows:
            return
        yield chunk.sparkSession.createDataFrame(rows, chunk.schema)
        if len(rows) < chunk_size:
            return
        last = [rows[-1][k] for k in key_cols]


def snapshot_offset(df: DataFrame, chunk_size: int, index: int, where: str | None = None) -> DataFrame:
    """S2 OFFSET fallback for no-unique-key tables (dumper.go:95-104).
    Spark has no OFFSET pushdown; emulated deterministically via a
    row_number over all columns — only for small/no-PK tables, exactly
    like the reference's fallback."""
    from pyspark.sql import Window

    out = df if not where else df.filter(F.expr(where))
    w = Window.orderBy(*[F.col(c) for c in out.columns])
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") > index * chunk_size) & (F.col("__rn") <= (index + 1) * chunk_size))
        .drop("__rn")
    )
