"""SQLite source: catalog scan, schema introspection, partitioned extract.

Engine analogs of reference R1 (catalog scan, main.py:144-145), R2 (schema
introspection via PRAGMA table_info, main.py:118-136) and R3/R4 (full scan
in chunks, main.py:106-116, 167).

Scale design: the reference streams one cursor single-threaded; here the
extract is *partitioned by rowid range* so N partitions read concurrently —
the same shape as a JDBC partitionColumn/lowerBound/upperBound read. When a
SQLite JDBC driver is on the Spark classpath we use ``spark.read.jdbc``
with those options directly; otherwise (no JDBC jar on the classpath)
``spark.range`` yields one row per rowid slice, one slice per partition,
and a ``mapInArrow`` extractor opens the database *inside each task* and
reads only its slice straight into Arrow batches — no driver-side
collection, no bookkeeping job or shuffle to place the slices, constant
memory per task, executor-parallel. Values cross into Spark as raw strings
and the normative cast battery (typemap.cast_battery, reference R5-R8)
coerces them as one codegen'd projection — the same fetch-then-prepare
split as the reference, minus the per-row Python loop.
"""

from __future__ import annotations

import sqlite3
from typing import Dict, Iterator, List, Optional, Tuple

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sqlite_to_clickhouse_spark.typemap import cast_battery, decl_type_to_spark

ROWID = "_sqlite_rowid"
# Rows per fetch and per Arrow batch in the fallback extract: the
# reference's chunk size (main.py:106-116).
_FETCH_ROWS = 10_000


def sqlite_catalog(db_path: str) -> List[str]:
    """All user tables, reference R1 (SELECT name FROM sqlite_master)."""
    with sqlite3.connect(db_path) as con:
        rows = con.execute(
            "SELECT name FROM sqlite_master WHERE type='table' "
            "AND name NOT LIKE 'sqlite_%' ORDER BY name"
        ).fetchall()
    return [r[0] for r in rows]


def sqlite_schema(db_path: str, table: str) -> Tuple[Dict[str, T.DataType], List[str]]:
    """Declared-type schema + primary-key columns, reference R2.

    Returns ({column -> Spark type via the §1.2 map}, [pk columns]). The
    reference extracts the pk flag then discards it (main.py:124, 164); we
    keep it — it is the natural ReplacingMergeTree ORDER BY / dedup key.
    """
    with sqlite3.connect(db_path) as con:
        info = con.execute(f"PRAGMA table_info({_q(table)})").fetchall()
    if not info:
        raise KeyError(f"no such sqlite table: {table}")
    schema = {row[1]: decl_type_to_spark(row[2]) for row in info}
    pk = [row[1] for row in sorted((r for r in info if r[5]), key=lambda r: r[5])]
    return schema, pk


def _q(ident: str) -> str:
    return '"' + ident.replace('"', '""') + '"'


def jdbc_available(spark: SparkSession) -> bool:
    """True if a SQLite JDBC driver is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName("org.sqlite.JDBC")  # noqa: SLF001
        return True
    except Exception:
        return False


def read_sqlite(
    spark: SparkSession,
    db_path: str,
    table: str,
    *,
    num_partitions: int = 8,
    with_rowid: bool = False,
    compat_none_strings: bool = False,
) -> DataFrame:
    """Partitioned extract of one SQLite table with the cast battery applied.

    JDBC path (driver jar present): ``spark.read.jdbc`` with
    partitionColumn=rowid — Spark issues one ranged query per partition.
    Fallback path: the same ranged queries, issued by a ``mapInArrow``
    extractor running in the executors. Either way the logical result is
    identical and the §1.2 coercions happen Spark-side.

    ``with_rowid`` exposes SQLite's rowid as ``_sqlite_rowid`` — the
    insertion-order version column the migration path uses for
    last-write-wins dedup (ReplacingMergeTree semantics, main.py:65,178).
    """
    schema, _pk = sqlite_schema(db_path, table)
    cols = list(schema)

    with sqlite3.connect(db_path) as con:
        lo_hi = con.execute(
            f"SELECT MIN(rowid), MAX(rowid) FROM {_q(table)}"
        ).fetchone()
    lo, hi = (lo_hi[0] or 0), (lo_hi[1] or 0)

    # Row-aware partition count — the reference's 10 k-row chunk loop
    # (main.py:106-116) expressed as a partition floor: a 25-row dimension
    # table gets ONE ranged query, not num_partitions near-empty ones
    # (each costs a JDBC roundtrip + a task), while a table with
    # ≥ 10 k·num_partitions rowids keeps the full requested parallelism.
    span = hi - lo + 1 if hi >= lo else 0
    num_partitions = max(1, min(num_partitions, -(-span // 10_000)))

    if jdbc_available(spark):
        raw = (
            spark.read.format("jdbc")
            .option("url", f"jdbc:sqlite:{db_path}")
            .option(
                "dbtable",
                f"(SELECT rowid AS {ROWID}, * FROM {_q(table)}) AS t",
            )
            .option("partitionColumn", ROWID)
            .option("lowerBound", str(lo))
            .option("upperBound", str(hi + 1))
            .option("numPartitions", str(num_partitions))
            .option("fetchsize", "10000")
            .load()
        )
        raw = raw.select(
            F.col(ROWID).cast("long"),
            *[F.col(c).cast("string").alias(c) for c in cols],
        )
    else:
        raw = _arrow_extract(spark, db_path, table, cols, lo, hi, num_partitions)

    out = [F.col(ROWID)] if with_rowid else []
    out += [
        expr
        for expr in cast_battery(schema, compat_none_strings=compat_none_strings)
    ]
    return raw.select(*out)


def _arrow_extract(
    spark: SparkSession,
    db_path: str,
    table: str,
    cols: List[str],
    lo: int,
    hi: int,
    num_partitions: int,
) -> DataFrame:
    """Executor-side ranged extract: ``spark.range`` gives one row per
    rowid slice, already one per partition, and the ``mapInArrow`` task
    opens the db locally and reads only its slice, fetched in 10 000-row
    chunks (the reference's chunk size) straight into Arrow batches.
    String-typed output; coercion is the caller's columnar cast battery.

    The slice bounds are computed here in Python and looked up by the
    range ``id`` inside the task: no driver-built relation to scan, no
    shuffle to spread it, and no Spark long arithmetic (which overflows
    under ANSI for rowids near ±2⁶³)."""
    n = max(1, num_partitions)
    span = max(1, (hi - lo + n) // n)
    bounds = [(lo + i * span, min(hi, lo + (i + 1) * span - 1)) for i in range(n)]
    bounds = [(a, b) for a, b in bounds if a <= b] or [(0, -1)]

    out_schema = T.StructType(
        [T.StructField(ROWID, T.LongType())]
        + [T.StructField(c, T.StringType()) for c in cols]
    )
    arrow_schema = pa.schema(
        [pa.field(ROWID, pa.int64())] + [pa.field(c, pa.string()) for c in cols]
    )
    select_cols = ", ".join(f"CAST({_q(c)} AS TEXT)" for c in cols)
    query = (
        f"SELECT rowid, {select_cols} FROM {_q(table)} "
        f"WHERE rowid BETWEEN ? AND ?"
    )

    def to_batch(rows: list) -> pa.RecordBatch:
        columns = list(zip(*rows)) or [()] * len(arrow_schema)
        return pa.RecordBatch.from_arrays(
            [pa.array(c, t) for c, t in zip(columns, arrow_schema.types)],
            schema=arrow_schema,
        )

    def extract(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        con = sqlite3.connect(db_path)
        try:
            for batch in batches:
                for i in batch.column("id").to_pylist():
                    cur = con.execute(query, bounds[i])
                    rows = cur.fetchmany(_FETCH_ROWS)
                    yield to_batch(rows)  # an empty slice yields an empty batch
                    while rows := cur.fetchmany(_FETCH_ROWS):
                        yield to_batch(rows)
        finally:
            con.close()

    k = len(bounds)
    return spark.range(0, k, 1, k).mapInArrow(extract, out_schema)
