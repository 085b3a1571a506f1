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


def test_duplicate_condition_holds_on_the_callers_frame(spark, tmp_path):
    """DQ005's quarantine predicate needs no column the caller lacks: on
    the caller's own frame it flags the 2nd and later occurrences of an
    id, and ``run_job`` quarantines exactly those rows."""
    from healthcare_data_lakehouse_spark.etl import (
        ETLJobConfig,
        ETLStatus,
        HealthcareETLManager,
    )
    from healthcare_data_lakehouse_spark.zones import LoadType

    df = spark.createDataFrame(
        [("1", "MRN000000001", "a"), ("2", "MRN000000002", "b"),
         ("1", "MRN000000001", "c")],
        "id string, patient_id string, tag string")
    report = DataQualityValidator("patients", id_field="patient_id").validate(
        df, DataZone.SILVER, required_fields=["id", "patient_id"])
    dq5 = {r.rule_id: r for r in report.check_results}["DQ005"]
    assert (dq5.status, dq5.records_failed) == (QualityStatus.FAILED, 1)
    flagged = df.withColumn("q", report.quarantine_condition)
    assert sorted(r.tag for r in flagged.filter("q").collect()) == ["c"]

    mgr = HealthcareETLManager(spark, str(tmp_path))
    result = mgr.run_job(ETLJobConfig(
        job_id="dup", source_name="dup", target_zone=DataZone.SILVER,
        load_type=LoadType.FULL, required_fields=["id", "patient_id"],
    ), df)
    assert result.status == ETLStatus.COMPLETED, result.error_message
    assert result.records_quarantined == 1
    assert [r.tag for r in mgr.get_quarantined("dup").collect()] == ["c"]
    silver = mgr.get_zone_data(DataZone.SILVER, "dup")
    assert sorted(r.tag for r in silver.collect()) == ["a", "b"]
