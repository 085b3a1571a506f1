"""The in-group pair fold of ``functions/skew.py``.

``in_group_pairs`` turns a per-group array into one row per in-group pair
that satisfies a condition. It is the only place in the package that writes
the pair explode, and the queries that fold postings build on it."""

from __future__ import annotations

import ast
import itertools
from collections import Counter
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

import healthcare_data_lakehouse_spark as pkg
from healthcare_data_lakehouse_spark.functions.skew import in_group_pairs


def test_scalar_pairs_match_combinations(spark):
    groups = {1: [5, 3, 9, 1], 2: [7], 3: [], 4: [2, 8]}
    df = spark.createDataFrame(list(groups.items()), "g int, xs array<int>")
    got = sorted(tuple(r) for r in in_group_pairs(df, "xs").collect())
    want = sorted(
        pair
        for xs in groups.values()
        for pair in itertools.combinations(sorted(xs), 2)
    )
    assert got == want


def test_struct_pairs_follow_the_condition(spark):
    groups = [
        [(1, 4), (2, 9), (3, 5), (4, 4)],
        [(2, 3), (5, 3)],
        [(6, 1)],
    ]
    df = spark.createDataFrame(
        [(xs,) for xs in groups], "xs array<struct<sid:int,sz:int>>"
    )
    cond = "b.sid > a.sid AND b.sz <= a.sz + 1"
    got = sorted(
        (r.a.sid, r.a.sz, r.b.sid, r.b.sz)
        for r in in_group_pairs(df, "xs", cond).collect()
    )
    want = sorted(
        (*a, *b)
        for xs in groups
        for x, y in itertools.combinations(xs, 2)
        for a, b in ((x, y), (y, x))
        if b[0] > a[0] and b[1] <= a[1] + 1
    )
    assert want
    assert got == want


def test_pair_explode_is_written_only_in_the_primitive():
    """No package function other than ``in_group_pairs`` nests a transform
    in a flatten, in SQL text or through the Column API."""
    root = Path(pkg.__file__).parent
    found = set()

    def visit(node, where):
        for child in ast.iter_child_nodes(node):
            if (
                isinstance(child, ast.Constant)
                and isinstance(child.value, str)
                and "flatten(transform(" in child.value.replace(" ", "")
            ):
                found.add(where)
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "flatten"
                and child.args
                and isinstance(child.args[0], ast.Call)
                and isinstance(child.args[0].func, ast.Attribute)
                and child.args[0].func.attr == "transform"
            ):
                found.add(where)
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, f"{where.split('::')[0]}::{child.name}")
            else:
                visit(child, where)

    for path in root.rglob("*.py"):
        visit(ast.parse(path.read_text()), path.relative_to(root).as_posix())
    assert found == {"functions/skew.py::in_group_pairs"}


def test_supplier_copart_pairs_reach_the_salted_hot_path(spark, tmp_path):
    """One part shipped by 70 suppliers takes the salted self-join (the
    cold/hot threshold is 64); cold parts take the pair explode. The top-25
    edges match a Python model of shared-part counts."""
    from healthcare_data_lakehouse_spark.queries.analytics_ext import (
        graph_supplier_copart_pairs,
    )

    ships = [(s, 1) for s in range(1, 71)]
    ships += [(s, p) for p in range(2, 12) for s in range(1, 3 + p % 4)]
    ships += [(100 + p, p) for p in range(2, 12)]
    ships += ships[:5]
    supp, part = zip(*ships)
    pq.write_table(
        pa.table({"l_suppkey": list(supp), "l_partkey": list(part)}),
        tmp_path / "lineitem.parquet",
    )

    by_part: dict[int, set[int]] = {}
    for s, p in ships:
        by_part.setdefault(p, set()).add(s)
    assert max(len(ss) for ss in by_part.values()) >= 64
    counts = Counter(
        pair
        for ss in by_part.values()
        for pair in itertools.combinations(sorted(ss), 2)
    )
    want = sorted(((a, b, n) for (a, b), n in counts.items()),
                  key=lambda r: (-r[2], r[0], r[1]))[:25]

    got = [tuple(r) for r in graph_supplier_copart_pairs(spark, str(tmp_path)).collect()]
    assert got == want
    assert any(n == 1 for _, _, n in got)
