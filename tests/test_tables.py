"""Fixture reads through ``tables.table``: the schema memo.

A fixture read infers its parquet schema once per session and file version
(one footer-inference job) and passes the known schema to every later read,
which starts no Spark job. The memo holds metadata only: a file rewritten in
place is inferred again, and every call returns a fresh relation, so two
reads of one table self-join like two different tables."""

from __future__ import annotations

import ast
import datetime
import json
import os
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame

import healthcare_data_lakehouse_spark as pkg
from healthcare_data_lakehouse_spark.tables import TABLE_NAMES, table
from healthcare_data_lakehouse_spark.zones import DataZone, LoadType, ZoneStore

from tests.test_zones_commit import _jobs


def test_second_read_of_each_table_starts_no_job(spark, sf_dir):
    for name in TABLE_NAMES:
        table(spark, sf_dir, name)
    first = _jobs(spark)
    frames = [table(spark, sf_dir, name) for name in TABLE_NAMES]
    assert _jobs(spark) == first
    assert all(df.columns for df in frames)


def test_rewritten_fixture_is_read_with_its_new_schema(spark, tmp_path):
    path = tmp_path / "orders.parquet"
    pq.write_table(pa.table({"o_orderkey": [1, 2]}), path)
    assert table(spark, str(tmp_path), "orders").columns == ["o_orderkey"]
    assert table(spark, str(tmp_path), "orders").columns == ["o_orderkey"]

    pq.write_table(pa.table({"o_orderkey": [3, 4], "o_note": ["a", "b"]}), path)
    df = table(spark, str(tmp_path), "orders")
    assert df.columns == ["o_orderkey", "o_note"]
    assert sorted(tuple(r) for r in df.collect()) == [(3, "a"), (4, "b")]


def test_two_reads_of_one_table_self_join(spark, sf_dir):
    table(spark, sf_dir, "orders")
    a = table(spark, sf_dir, "orders")
    b = table(spark, sf_dir, "orders")
    pairs = a.join(b, a.o_custkey == b.o_custkey).select(
        a.o_orderkey.alias("l"), b.o_orderkey.alias("r")
    )
    rows = a.select("o_orderkey", "o_custkey").collect()
    want = sorted(
        (x.o_orderkey, y.o_orderkey)
        for x in rows
        for y in rows
        if x.o_custkey == y.o_custkey
    )
    assert sorted(tuple(r) for r in pairs.collect()) == want


def test_memo_hit_events_ts_is_a_timestamp(spark, sf_dir):
    first = table(spark, sf_dir, "events")
    again = table(spark, sf_dir, "events")
    assert dict(first.dtypes)["ts"] == "timestamp"
    assert dict(again.dtypes)["ts"] == "timestamp"
    assert again.agg(F.min("ts"), F.max("ts")).collect() == first.agg(
        F.min("ts"), F.max("ts")
    ).collect()


def test_nanos_events_ts_read_twice(spark, tmp_path):
    """Parquet TIMESTAMP(NANOS) is read as raw nanos and floored to micros,
    on the inferring read and on the memo hit alike."""
    base = datetime.datetime(2026, 1, 2, 3, 4, 5, 123456)
    nanos = int(base.replace(tzinfo=datetime.timezone.utc).timestamp()) * 10**9
    nanos += 123456789
    ts = pa.array([nanos], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts}), tmp_path / "events.parquet")
    for _ in range(2):
        df = table(spark, str(tmp_path), "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        assert df.collect()[0].ts == base


def test_bloom_index_reads_commits_with_recorded_schemas(
    spark, tmp_path, monkeypatch
):
    """The index costs only its per-commit collects: no commit is opened
    with a footer-inference job, and the index is what reading each commit
    by inference gives."""
    store = ZoneStore(spark, str(tmp_path))
    df = spark.createDataFrame([(i, i % 7) for i in range(30)], "id long, k long")
    store.write(DataZone.SILVER, "t", df.filter("id < 10"), LoadType.FULL)
    store.write(DataZone.SILVER, "t", df.filter("id BETWEEN 10 AND 19"),
                LoadType.APPEND)
    store.write(DataZone.SILVER, "t", df.filter("id >= 20"), LoadType.APPEND)

    inside = {"jobs": 0, "collects": 0}
    orig = DataFrame.collect

    def spy(self):
        first = _jobs(spark)
        try:
            return orig(self)
        finally:
            inside["jobs"] += _jobs(spark) - first
            inside["collects"] += 1

    monkeypatch.setattr(DataFrame, "collect", spy)
    first = _jobs(spark)
    store.build_bloom_index(DataZone.SILVER, "t", "id")
    assert inside["collects"] == 3
    assert _jobs(spark) - first == inside["jobs"]
    monkeypatch.undo()

    path = store.dataset_path(DataZone.SILVER, "t")
    manifest = store._read_manifest(path)
    pos_cols = store._bloom_positions_expr("id", 3, 65536)
    index = {
        c: sorted(
            int(r.p)
            for r in spark.read.parquet(os.path.join(path, c))
            .select(F.explode(F.array(*pos_cols)).alias("p"))
            .distinct()
            .collect()
        )
        for c in manifest["commits"]
    }
    want = json.dumps({"m_bits": 65536, "k": 3, "commits": index})
    assert Path(path, "_bloom_id.json").read_text() == want


def _reads_parquet(call: ast.Call) -> bool:
    """``call`` is ``<...>.read<...>.parquet(...)`` (batch or stream)."""
    if not (isinstance(call.func, ast.Attribute) and call.func.attr == "parquet"):
        return False
    node = call.func.value
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Attribute):
            if node.attr in ("read", "readStream"):
                return True
            node = node.value
        else:
            node = node.func
    return False


def test_no_fixture_read_bypasses_the_schema_memo():
    """Outside ``tables.py`` no package function passes a path built from
    ``sf_dir`` (directly or through a local name) to ``read.parquet``: such
    a read would pay the footer-inference job that ``table`` memoizes."""
    root = Path(pkg.__file__).parent
    found = set()
    funcs = (ast.FunctionDef, ast.AsyncFunctionDef)
    for path in root.rglob("*.py"):
        rel = path.relative_to(root).as_posix()
        if rel == "tables.py":
            continue
        for fn in ast.walk(ast.parse(path.read_text())):
            if not isinstance(fn, funcs):
                continue
            nodes = list(ast.walk(fn))
            tainted = {"sf_dir"}

            def mentions(expr) -> bool:
                return any(
                    isinstance(n, ast.Name) and n.id in tainted
                    for n in ast.walk(expr)
                )

            grew = True
            while grew:
                grew = False
                for n in nodes:
                    if isinstance(n, (ast.Assign, ast.AnnAssign, ast.NamedExpr)):
                        targets = n.targets if isinstance(n, ast.Assign) else [n.target]
                        if n.value is None or not mentions(n.value):
                            continue
                        for t in targets:
                            for name in ast.walk(t):
                                if isinstance(name, ast.Name) and name.id not in tainted:
                                    tainted.add(name.id)
                                    grew = True
            for n in nodes:
                if isinstance(n, ast.Call) and _reads_parquet(n) and any(
                    mentions(a) for a in n.args
                ):
                    found.add(f"{rel}:{n.lineno}")
    assert found == set()


def test_second_stream_open_of_a_fixture_starts_no_job(spark, sf_dir, tmp_path):
    """``_file_stream`` takes a fixture file's schema from the memo."""
    from healthcare_data_lakehouse_spark.streaming.ingest import _file_stream

    src = os.path.join(sf_dir, "events.parquet")
    _file_stream(spark, src, str(tmp_path / "a"))
    first = _jobs(spark)
    df = _file_stream(spark, src, str(tmp_path / "b"))
    assert _jobs(spark) == first
    assert df.isStreaming
    assert dict(df.dtypes)["ts"] == "timestamp"
