"""Quality-rule contract tests: empty-input conventions, truthiness, and
that each rule's reported failures are the rows its own predicate flags."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from healthcare_data_lakehouse_spark.fixtures import healthcare_frame
from healthcare_data_lakehouse_spark.quality import (
    DataQualityValidator,
    QualityStatus,
)
from healthcare_data_lakehouse_spark.transforms import with_ingest_order
from healthcare_data_lakehouse_spark.zones import DataZone

REQUIRED = ["id", "patient_id", "birth_date"]


def _results(df, zone, validator=None):
    validator = validator or DataQualityValidator("patients", id_field="id")
    report = validator.validate(df, zone, required_fields=REQUIRED)
    return {r.rule_id: r for r in report.check_results}


@pytest.mark.parametrize("zone, expected", [
    (DataZone.SILVER, {
        "DQ001": (QualityStatus.SKIPPED, 0.0),
        "DQ002": (QualityStatus.PASSED, 1.0),
        "DQ003": (QualityStatus.PASSED, 1.0),
        "DQ004": (QualityStatus.PASSED, 1.0),
        "DQ005": (QualityStatus.PASSED, 1.0),
        "DQ006": (QualityStatus.PASSED, 1.0),
    }),
    (DataZone.BRONZE, {
        "DQ001": (QualityStatus.SKIPPED, 0.0),
        "DQ003": (QualityStatus.PASSED, 1.0),
        "DQ005": (QualityStatus.PASSED, 1.0),
        "DQ008": (QualityStatus.WARNING, 0.0),
    }),
])
def test_empty_input_conventions(spark, sf_dir, zone, expected):
    empty = healthcare_frame(spark, sf_dir).filter(F.lit(False))
    results = _results(empty, zone)
    assert {k: (r.status, r.score) for k, r in results.items()} == expected
    assert all((r.records_checked, r.records_passed, r.records_failed)
               == (0, 0, 0) for r in results.values())


def test_decimal_zero_and_false_are_not_populated(spark):
    """Python truthiness: a decimal 0 MRN is not a checked patient id, and
    an ``ssn`` of False is no PHI."""
    df = spark.sql(
        "SELECT '1' AS id, 'MRN000000001' AS patient_id, "
        "CAST(0 AS DECIMAL(10,2)) AS mrn, FALSE AS ssn")
    results = _results(df, DataZone.BRONZE)
    dq3 = results["DQ003"]
    assert (dq3.status, dq3.records_checked, dq3.records_failed) == (
        QualityStatus.PASSED, 1, 0)
    dq8 = results["DQ008"]
    assert (dq8.records_checked, dq8.records_passed) == (1, 0)


@pytest.mark.parametrize("zone", [DataZone.SILVER, DataZone.BRONZE])
def test_records_failed_counts_the_rules_own_predicate(spark, sf_dir, zone):
    """Each rule's reported failures are the rows where its own ``failed``
    expression holds, the same rows a FAILED rule quarantines."""
    df = healthcare_frame(spark, sf_dir)
    validator = DataQualityValidator("patients", id_field="id")
    results = _results(df, zone, validator)
    stamped = with_ingest_order(df)
    for rule in validator.rules:
        if rule.rule_id not in results:
            continue
        failed = rule.rows(stamped)[1]
        n = stamped.select(failed.alias("f")).filter("f").count()
        assert results[rule.rule_id].records_failed == n, rule.rule_id

    ids = df.groupBy(F.coalesce(F.col("id").cast("string"), F.lit("None")))
    extra = ids.count().agg(F.sum(F.col("count") - 1)).first()[0]
    assert results["DQ005"].records_failed == extra > 0
