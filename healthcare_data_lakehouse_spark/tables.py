"""Loaders for the driver-provided parquet tables (TESTDATA.md).

``load`` returns a dict of DataFrames; reads stay lazy so downstream filters
and projections push into the Parquet scan.

``table`` keeps a schema memo, the fixture analog of a catalog's file-status
cache: it holds metadata only. A plain ``spark.read.parquet(path)`` starts a
one-task Spark job to read the footer and infer the schema, so the first read
of each file version infers and records the schema, and every later read
passes it to ``spark.read.schema(...)`` and starts no job. The memo is keyed
by the session (weakly, so a stopped session's entries go with it) and the
file's absolute path; each entry carries the file's ``os.stat`` version
(mtime in ns, size, inode), so a file rewritten in place is inferred again.
Only regular files are memoized: a directory's stat does not change when a
file inside it is rewritten, so a directory fixture infers on every read.
A ``DataFrame`` is never cached: each call builds a fresh relation, so two
reads of one table self-join with distinct column lineage. The stream
opener ``streaming/ingest.py::_file_stream`` shares the memo.
"""

from __future__ import annotations

import os
import stat
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLE_NAMES = [
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
]

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

#: session -> {absolute path: ((st_mtime_ns, st_size, st_ino), schema)}
_SCHEMAS: weakref.WeakKeyDictionary[
    SparkSession, dict[str, tuple[tuple[int, int, int], StructType]]
] = weakref.WeakKeyDictionary()


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the events ``ts`` column to a session-tz TIMESTAMP.

    The fixture has shipped ``ts`` as bigint nanos (via ``nanosAsLong``) and
    as TIMESTAMP_NTZ across driver rounds; both are relabeled to TIMESTAMP.
    With the session timezone pinned to UTC the NTZ cast preserves the
    wall-clock value exactly, matching DuckDB's naive TIMESTAMP. Works on
    batch and streaming DataFrames alike (pure projection, no shuffle).
    """
    return _relabel_ts(df, col, dict(df.dtypes).get(col))


def _relabel_ts(df: DataFrame, col: str, dtype: str | None) -> DataFrame:
    """``normalize_event_ts`` with ``col``'s type already known."""
    if dtype == "bigint":
        df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    elif dtype == "timestamp_ntz":
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table.

    The ``events`` fixture's ``ts`` column has shipped in two physical forms:
    Parquet TIMESTAMP(NANOS) (which Spark's vectorized reader rejects, so we
    read raw nanos via ``nanosAsLong`` and floor-div to micros — the same
    truncation DuckDB applies), and TIMESTAMP_NTZ. Normalize both to a plain
    session-tz TIMESTAMP: the session timezone is pinned to UTC
    (``session.py``), so an NTZ→TZ cast is a pure type relabel with identical
    wall-clock semantics to DuckDB's naive TIMESTAMP.

    The file's schema comes from the module's memo (metadata only): the
    first read of a file version infers it, with one Spark job; a later read
    of the same session, path and ``os.stat`` version starts none. The
    returned frame is always a fresh relation, never a cached one.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df, schema = _read_parquet(spark, path)
    if name == "events":
        dtypes = {f.name: f.dataType.simpleString() for f in schema.fields}
        df = _relabel_ts(df, "ts", dtypes.get("ts"))
    return df


def _read_parquet(spark: SparkSession, path: str) -> tuple[DataFrame, StructType]:
    """A fresh batch relation over the parquet file or directory ``path``,
    and its schema. The schema comes from the memo when this session has
    seen the file's current version; otherwise the read infers it with one
    Spark job, and a regular file's schema is memoized."""
    path = os.path.abspath(path)
    version = _file_version(path)
    memo = _SCHEMAS.setdefault(spark, {})
    known = memo.get(path)
    if known is not None and known[0] == version:
        return spark.read.schema(known[1]).parquet(path), known[1]
    df = spark.read.parquet(path)
    schema = df.schema
    if version is not None:
        memo[path] = (version, schema)
    return df, schema


def _file_version(path: str) -> tuple[int, int, int] | None:
    """``path``'s (mtime ns, size, inode), or None unless a regular file."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def load(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> dict[str, DataFrame]:
    return {n: table(spark, sf_dir, n) for n in (names or TABLE_NAMES)}
