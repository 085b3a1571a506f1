"""Unit tests for the six standard transforms (SURVEY.md §2.1).

Micro-fixtures encode the reference's edge cases: first-wins dedup,
date-format precedence (MM/dd before dd/MM), sentinel null lists,
transform-order sensitivity.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

from pyspark.sql import Row
from pyspark.sql import functions as F

import healthcare_data_lakehouse_spark as pkg
from healthcare_data_lakehouse_spark import transforms as T


def test_deduplicate_first_wins(spark):
    df = spark.createDataFrame(
        [Row(id="a", v=1), Row(id="b", v=2), Row(id="a", v=3), Row(id=None, v=4),
         Row(id=None, v=5)]
    )
    out = T.deduplicate(T.with_ingest_order(df)).orderBy("v").collect()
    # first occurrence of "a" kept; both null ids collapse to "" -> one row
    assert [(r.id, r.v) for r in out] == [("a", 1), ("b", 2), (None, 4)]


def test_standardize_dates_format_precedence(spark):
    df = spark.createDataFrame(
        [
            Row(id="1", date="2021-03-05"),     # already ISO
            Row(id="2", date="03/05/2021"),     # MM/dd/yyyy -> March 5
            Row(id="3", date="13/01/2024"),     # falls through to dd/MM/yyyy
            Row(id="4", date="20210305"),       # yyyyMMdd
            Row(id="5", date="not-a-date"),     # pass-through
            Row(id="6", date=None),
        ]
    )
    out = {r.id: r.date for r in T.standardize_dates(df).collect()}
    assert out == {
        "1": "2021-03-05",
        "2": "2021-03-05",
        "3": "2024-01-13",
        "4": "2021-03-05",
        "5": "not-a-date",
        "6": None,
    }


def test_uppercase_codes(spark):
    df = spark.createDataFrame(
        [Row(id="1", diagnosis_code="  e11.9 ", other=" x "),
         Row(id="2", diagnosis_code="", other="y"),
         Row(id="3", diagnosis_code=None, other="z")]
    )
    out = {r.id: (r.diagnosis_code, r.other) for r in T.uppercase_codes(df).collect()}
    assert out["1"] == ("E11.9", " x ")  # code upper+stripped, others untouched
    assert out["2"] == ("", "y")         # empty string not truthy -> untouched
    assert out["3"] == (None, "z")


def test_trim_and_null_handling_order_sensitivity(spark):
    df = spark.createDataFrame([Row(id="1", v="  NA  ")])
    # null_handling first: "  NA  " is not an exact sentinel -> survives trim
    out1 = T.trim_strings(T.null_handling(df)).collect()[0]
    assert out1.v == "NA"
    # trim first: "NA" then matches the sentinel -> NULL
    out2 = T.null_handling(T.trim_strings(df)).collect()[0]
    assert out2.v is None


def test_null_handling_sentinels(spark):
    rows = [Row(id=str(i), v=s) for i, s in enumerate(T.NULL_SENTINELS)]
    rows.append(Row(id="x", v="keep"))
    out = T.null_handling(spark.createDataFrame(rows)).collect()
    kept = [r.v for r in out if r.v is not None]
    assert kept == ["keep"]


def test_add_metadata_single_batch_timestamp(spark):
    df = spark.createDataFrame([Row(id="1"), Row(id="2")])
    out = T.add_metadata(df, "2026-01-01T00:00:00").collect()
    assert {r._processed_at for r in out} == {"2026-01-01T00:00:00"}
    assert {r._version for r in out} == {1}


def test_registry_config_order_and_silent_skip(spark):
    df = spark.createDataFrame([Row(id="1", v="  NA  ")])
    reg = T.standard_registry("2026-01-01T00:00:00")
    out = reg.apply(df, ["no_such_transform", "trim_strings", "null_handling"])
    assert out.collect()[0].v is None  # unknown skipped, order respected


def test_python_record_transform_composes_with_registry(spark):
    """The reference's dict->dict escape hatch runs Arrow-batched and
    composes with Column-native transforms in one config-ordered
    pipeline."""
    from pyspark.sql import Row

    from healthcare_data_lakehouse_spark.transforms import (
        TransformRegistry,
        TransformSpec,
        python_record_transform,
        trim_strings,
    )

    df = spark.createDataFrame(
        [Row(id="1", code="  ab-12  "), Row(id="2", code="cd-34")]
    )

    def mask_code(rec: dict) -> dict:
        rec = dict(rec)
        if rec["code"]:
            rec["code"] = rec["code"][:2] + "**"
        return rec

    reg = TransformRegistry()
    reg.register(TransformSpec("trim_strings", trim_strings, ""))
    reg.register(python_record_transform("mask_code", mask_code))
    out = reg.apply(df, ["trim_strings", "mask_code", "unknown_is_skipped"])
    got = {r.id: r.code for r in out.collect()}
    assert got == {"1": "ab**", "2": "cd**"}


def test_case_mapping_matches_python(spark):
    """``upper``/``lower`` follow Python's ``str.upper``/``str.lower`` (the
    reference's semantics) on Latin, Greek, Cyrillic and their extended
    blocks. The session maps case with the JVM's tables, not ICU's, which
    uppercases U+019B and U+0264 differently."""
    cps = [*range(0x0000, 0x0500), *range(0x1E00, 0x2000)]
    df = spark.createDataFrame([(c, chr(c)) for c in cps], "cp int, s string")
    got = {r.cp: (r.u, r.l) for r in df.select(
        "cp", F.upper("s").alias("u"), F.lower("s").alias("l")).collect()}
    bad = [hex(c) for c in cps
           if got[c] != (chr(c).upper(), chr(c).lower())]
    assert bad == []


def test_no_initcap_in_the_package():
    """Under the JVM's case tables ``initcap`` differs from ICU on 684
    code points, U+00DF among them, so no package module calls it,
    through the Column API or in SQL text."""
    root = Path(pkg.__file__).parent
    sql_call = re.compile(r"\binitcap\s*\(", re.IGNORECASE)
    found = set()
    for path in root.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            name = getattr(node, "attr", None) or getattr(node, "id", None)
            text = getattr(node, "value", None)
            if name == "initcap" or (
                isinstance(text, str) and sql_call.search(text)
            ):
                found.add(path.relative_to(root).as_posix())
    assert found == set()
