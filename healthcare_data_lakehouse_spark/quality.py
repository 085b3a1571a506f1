"""Data-quality engine: eight healthcare rules fused into ONE scan.

The reference evaluates each rule as its own full pass over a Python list
(``src/quality/data_quality.py:337-346`` — up to 8 scans). Here every rule
contributes conditional-aggregate expressions to a single ``df.agg(...)``;
Catalyst fuses them into one WholeStageCodegen scan regardless of rule count,
so a validation costs one table read at any scale. No row ids are collected:
the report carries the FAILED rules' row-level failure predicates, and the
ETL split evaluates them on the batch it already holds.

Reference quirks intentionally preserved (SURVEY.md §2.3/§2.4):

* "populated" means *truthy* (``if field in record and record[field]``):
  NULL, empty string, and numeric 0 are skipped by Q2/Q3/Q4/Q8.
* Q2/Q3/Q4/Q6 count *field instances*, and a record breaks at its first
  failing field — later populated fields in that record are NOT counted
  in the denominator (``data_quality.py:600-607`` et al.).
* Q3 uppercases before matching, so its lowercase-UUID branch can never
  match (``data_quality.py:637,650``).
* Q6 skips values ``float()`` can't coerce (``data_quality.py:789-797``).
* Q5 lists a duplicate id once per *extra* occurrence (``:736-737``).
* Empty-input conventions: Q1 -> SKIPPED score 0.0; Q2/Q3/Q4/Q6 -> score
  1.0 when nothing was checked; Q5 -> 1.0; Q8 -> 0.0 (a WARNING).

Deliberate divergences in the quarantine set (SURVEY.md §2.4 A5):

* There is no 100-row cap. The reference quarantines the rows whose ids
  are in the failed-id samples of FAILED rules, each sample cut at 100
  (``:354-355``, ``:578``), so a batch with more failures promotes the
  rest. Here every row that fails a FAILED rule is quarantined.
* A duplicate id quarantines only its extra occurrences in ingest order
  (``q5_fail``). Matching on the id list, as the reference does, would
  quarantine every row that shares the id.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass
from datetime import datetime, timezone
from enum import Enum
from typing import Any, Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from healthcare_data_lakehouse_spark.transforms import INGEST_ORDER_COL, with_ingest_order
from healthcare_data_lakehouse_spark.zones import DataZone

__all__ = [
    "QualityDimension",
    "QualityStatus",
    "QualityThresholds",
    "QualityCheckResult",
    "QualityReport",
    "SparkQualityRule",
    "DataQualityValidator",
    "ISO_DATE_RE",
    "PATIENT_ID_RE",
    "ICD10_RE",
    "DATE_CHECK_FIELDS",
    "PATIENT_ID_FIELDS",
    "ICD10_FIELDS",
    "CLINICAL_RANGES",
    "PHI_FIELDS",
    "DIMENSION_WEIGHTS",
    "with_observed_metrics",
]


class QualityDimension(str, Enum):
    COMPLETENESS = "completeness"
    ACCURACY = "accuracy"
    CONSISTENCY = "consistency"
    TIMELINESS = "timeliness"
    UNIQUENESS = "uniqueness"
    VALIDITY = "validity"
    INTEGRITY = "integrity"


class QualityStatus(str, Enum):
    PASSED = "passed"
    WARNING = "warning"
    FAILED = "failed"
    SKIPPED = "skipped"


#: Overall-score weights (reference ``data_quality.py:436-444``).
DIMENSION_WEIGHTS: dict[QualityDimension, float] = {
    QualityDimension.COMPLETENESS: 1.0,
    QualityDimension.ACCURACY: 1.2,
    QualityDimension.CONSISTENCY: 1.1,
    QualityDimension.UNIQUENESS: 1.0,
    QualityDimension.VALIDITY: 0.9,
    QualityDimension.INTEGRITY: 1.0,
    QualityDimension.TIMELINESS: 0.8,
}

#: ISO-8601 regex (reference ``data_quality.py:590-592``).
ISO_DATE_RE = r"^\d{4}-\d{2}-\d{2}(T\d{2}:\d{2}:\d{2}(\.\d+)?(Z|[+-]\d{2}:\d{2})?)?$"
#: Patient-id regex (reference ``data_quality.py:637``).
PATIENT_ID_RE = r"^[A-Z0-9]{6,20}$|^[a-f0-9-]{36}$"
#: ICD-10 regex (reference ``data_quality.py:684``).
ICD10_RE = r"^[A-Z]\d{2}(\.\d{1,4})?$"

DATE_CHECK_FIELDS = [
    "date", "created_at", "updated_at", "birth_date",
    "admission_date", "discharge_date", "encounter_date",
]  # reference :587-588 (encounter_date is checked but never standardized)
PATIENT_ID_FIELDS = ["patient_id", "mrn", "subject_id"]  # :639
ICD10_FIELDS = ["diagnosis_code", "icd10_code", "primary_diagnosis"]  # :686
PHI_FIELDS = ["patient_name", "birth_date", "ssn", "mrn", "address"]  # :844

#: Clinical ranges in dict order (order matters for break-on-first-failure,
#: reference ``data_quality.py:767-779``).
CLINICAL_RANGES: dict[str, tuple[float, float]] = {
    "age": (0, 150),
    "heart_rate": (20, 300),
    "systolic_bp": (40, 300),
    "diastolic_bp": (20, 200),
    "temperature": (90, 110),
    "temperature_c": (32, 43),
    "weight_kg": (0.5, 700),
    "height_cm": (20, 280),
    "bmi": (5, 100),
    "glucose": (10, 1000),
    "hba1c": (2, 20),
}


@dataclass
class QualityThresholds:
    """Zone-promotion thresholds (reference ``data_quality.py:149-159``)."""

    min_completeness: float = 0.95
    min_accuracy: float = 0.98
    min_consistency: float = 0.99
    min_uniqueness: float = 1.0
    max_failed_critical: int = 0
    max_failed_major: int = 5
    overall_min_score: float = 0.95


#: Reference ``data_quality.py:175-206``.
ZONE_THRESHOLDS: dict[DataZone, QualityThresholds] = {
    DataZone.LANDING: QualityThresholds(0.0, 0.0, 0.0, 1.0, 0, 5, 0.0),
    DataZone.BRONZE: QualityThresholds(0.90, 0.95, 0.95, 1.0, 0, 5, 0.90),
    DataZone.SILVER: QualityThresholds(0.95, 0.98, 0.99, 1.0, 0, 5, 0.95),
    DataZone.GOLD: QualityThresholds(0.99, 0.99, 0.99, 1.0, 0, 5, 0.98),
    DataZone.PLATINUM: QualityThresholds(1.0, 0.99, 1.0, 1.0, 0, 5, 0.99),
}


@dataclass
class QualityCheckResult:
    """Parity with reference ``data_quality.py:83-114``."""

    rule_id: str
    rule_name: str
    dimension: QualityDimension
    status: QualityStatus
    score: float
    records_checked: int
    records_passed: int
    records_failed: int
    details: str = ""
    execution_time_ms: float = 0.0

    def to_dict(self) -> dict[str, Any]:
        return {
            "rule_id": self.rule_id,
            "rule_name": self.rule_name,
            "dimension": self.dimension.value,
            "status": self.status.value,
            "score": self.score,
            "records_checked": self.records_checked,
            "records_passed": self.records_passed,
            "records_failed": self.records_failed,
            "details": self.details,
            "execution_time_ms": self.execution_time_ms,
        }


@dataclass
class QualityReport:
    """Parity with reference ``data_quality.py:117-146``."""

    report_id: str
    dataset_name: str
    zone: DataZone
    total_records: int
    check_results: list[QualityCheckResult]
    overall_score: float
    overall_status: QualityStatus
    promotion_eligible: bool
    #: True on exactly the rows that fail a FAILED rule (never NULL).
    quarantine_condition: Column
    execution_time_ms: float = 0.0

    def to_dict(self) -> dict[str, Any]:
        return {
            "report_id": self.report_id,
            "dataset_name": self.dataset_name,
            "zone": self.zone.value,
            "total_records": self.total_records,
            "check_results": [r.to_dict() for r in self.check_results],
            "overall_score": self.overall_score,
            "overall_status": self.overall_status.value,
            "promotion_eligible": self.promotion_eligible,
            "execution_time_ms": self.execution_time_ms,
        }


# --------------------------------------------------------------------- helpers
def _truthy(df: DataFrame, name: str) -> Column:
    """Python truthiness of a field value (``if record[field]``): non-null,
    non-empty-string, non-zero-numeric."""
    c = F.col(name)
    s = c.cast("string")
    populated = c.isNotNull() & (s != "")
    # numeric zero is falsy in Python
    dtype = dict(df.dtypes).get(name, "string")
    if dtype in ("int", "bigint", "smallint", "tinyint", "double", "float", "decimal"):
        populated = populated & (c != 0)
    return populated


def _instance_scan(
    df: DataFrame, fields: list[str], populated_of: Callable[[str], Column],
    invalid_of: Callable[[str], Column]
) -> tuple[Column, Column]:
    """Build (checked_count, record_failed) per-row expressions for the
    reference's per-field-instance loops with break-on-first-failure
    (e.g. ``data_quality.py:597-607``): a field instance is counted only if
    populated AND no earlier field in this record already failed; the first
    failing field IS counted, then the record short-circuits."""
    prior_fail = F.lit(False)
    checked = F.lit(0)
    for name in fields:
        if name not in df.columns:
            continue
        populated = populated_of(name)
        counted = populated & ~prior_fail
        checked = checked + F.when(counted, 1).otherwise(0)
        prior_fail = prior_fail | (populated & invalid_of(name) & counted)
    return checked, prior_fail


@dataclass
class SparkQualityRule:
    """A quality rule whose aggregates fuse into the shared scan.

    ``agg_exprs`` returns named aggregate Columns (aliased
    ``<rule_id>__<name>``); ``summarize`` turns the fused-agg row into a
    result; ``fail_condition`` is the row-level failure predicate that the
    quarantine split applies when the rule FAILED. Rules
    whose logic can't be a Column (custom Python) may instead set
    ``check_fn`` (DataFrame -> QualityCheckResult) — the escape hatch costs
    its own pass, mirroring the reference's arbitrary ``check_fn``
    registry (``data_quality.py:67``).
    """

    rule_id: str
    name: str
    description: str
    dimension: QualityDimension
    severity: str
    applicable_zones: list[DataZone]
    enabled: bool = True
    agg_exprs: Callable[[DataFrame, "DataQualityValidator"], list[Column]] | None = None
    summarize: Callable[[dict[str, Any], "DataQualityValidator"], dict[str, Any]] | None = None
    fail_condition: Callable[[DataFrame, "DataQualityValidator"], Column | None] | None = None
    check_fn: Callable[[DataFrame], QualityCheckResult] | None = None

    def to_dict(self) -> dict[str, Any]:
        return {
            "rule_id": self.rule_id,
            "name": self.name,
            "description": self.description,
            "dimension": self.dimension.value,
            "severity": self.severity,
            "applicable_zones": [z.value for z in self.applicable_zones],
            "enabled": self.enabled,
        }


def _grade(score: float, fail_below: float, warn_below: float) -> QualityStatus:
    if score < fail_below:
        return QualityStatus.FAILED
    if score < warn_below:
        return QualityStatus.WARNING
    return QualityStatus.PASSED


class DataQualityValidator:
    """Spark-native validator with the reference's rule set and scoring
    (``src/quality/data_quality.py:162-526``)."""

    ZONE_THRESHOLDS = ZONE_THRESHOLDS

    def __init__(
        self,
        dataset_name: str,
        id_field: str = "id",
        fk_checks: list[tuple[str, DataFrame, str]] | None = None,
    ):
        """``fk_checks``: optional list of (fk_col, parent_df, parent_key).
        When given, DQ007 referential integrity runs FOR REAL (left-anti
        probe per FK); when absent it keeps the reference's stub-pass
        behavior (``data_quality.py:821-837``) — see SURVEY.md §2.3 Q7."""
        self.dataset_name = dataset_name
        self.id_field = id_field
        self.fk_checks = fk_checks or []
        self._required_fields: list[str] = []
        self.rules: list[SparkQualityRule] = []
        self._init_healthcare_rules()

    # ------------------------------------------------------------------ rules
    def add_rule(self, rule: SparkQualityRule) -> None:
        self.rules.append(rule)

    def _record_id(self, df: DataFrame) -> Column:
        if self.id_field in df.columns:
            return F.coalesce(F.col(self.id_field).cast("string"), F.lit("None"))
        return F.lit("")

    # Q1 ---------------------------------------------------------------
    def _q1_required(self, df: DataFrame) -> list[str]:
        return [f for f in (self._required_fields or df.columns)]

    def _q1_fail(self, df: DataFrame, _=None) -> Column:
        exprs = []
        for f_name in self._q1_required(df):
            if f_name in df.columns:
                exprs.append(F.col(f_name).isNull())
            else:
                exprs.append(F.lit(True))  # absent column -> every record fails
        if not exprs:
            return F.lit(False)
        out = exprs[0]
        for e in exprs[1:]:
            out = out | e
        return out

    # Q2/Q3/Q4 ----------------------------------------------------------
    def _regex_rule_parts(
        self, df: DataFrame, fields: list[str], value_expr: Callable[[str], Column],
        pattern: str
    ) -> tuple[Column, Column]:
        return _instance_scan(
            df,
            fields,
            populated_of=lambda n: _truthy(df, n),
            invalid_of=lambda n: ~value_expr(n).rlike(pattern),
        )

    # Q6 -----------------------------------------------------------------
    def _q6_parts(self, df: DataFrame) -> tuple[Column, Column]:
        # populated = present, non-null, AND float-coercible (uncoercible
        # values are silently skipped, reference :789-797). NB unlike the
        # truthy rules, value 0 IS checked here (only None is skipped).
        def populated(n: str) -> Column:
            return F.col(n).isNotNull() & F.col(n).cast("double").isNotNull()

        def invalid(n: str) -> Column:
            lo, hi = CLINICAL_RANGES[n]
            v = F.col(n).cast("double")
            return (v < F.lit(float(lo))) | (v > F.lit(float(hi)))

        return _instance_scan(df, list(CLINICAL_RANGES), populated, invalid)

    def _init_healthcare_rules(self) -> None:
        """The eight standard rules (reference ``data_quality.py:214-303``)."""
        v = self

        # DQ001 required_fields_present ---------------------------------
        def q1_aggs(df: DataFrame, _) -> list[Column]:
            fail = v._q1_fail(df)
            return [
                F.count(F.lit(1)).alias("DQ001__total"),
                F.sum(F.when(fail, 1).otherwise(0)).alias("DQ001__failed"),
            ]

        def q1_sum(row: dict, _) -> dict:
            total, failed = row["DQ001__total"], row["DQ001__failed"]
            if total == 0:
                return dict(status=QualityStatus.SKIPPED, score=0.0,
                            records_checked=0, records_passed=0, records_failed=0,
                            details="")
            passed = total - failed
            score = passed / total
            return dict(status=_grade(score, 0.95, 0.99), score=score,
                        records_checked=total, records_passed=passed,
                        records_failed=failed,
                        details=f"Checked {len(v._q1_required_last)} required fields")

        self.add_rule(SparkQualityRule(
            "DQ001", "required_fields_present",
            "All required fields must be non-null",
            QualityDimension.COMPLETENESS, "critical",
            [DataZone.BRONZE, DataZone.SILVER, DataZone.GOLD],
            agg_exprs=q1_aggs, summarize=q1_sum,
            fail_condition=lambda df, _: v._q1_fail(df),
        ))

        # DQ002 valid_date_formats ---------------------------------------
        def q2_aggs(df: DataFrame, _) -> list[Column]:
            checked, failed = v._regex_rule_parts(
                df, DATE_CHECK_FIELDS, lambda n: F.col(n).cast("string"), ISO_DATE_RE
            )
            return [
                F.sum(checked).alias("DQ002__checked"),
                F.sum(F.when(failed, 1).otherwise(0)).alias("DQ002__failed"),
            ]

        def q2_sum(row: dict, _) -> dict:
            return v._instance_summary(row, "DQ002", 0.95, 0.99,
                                       "Validated ISO 8601 date format")

        self.add_rule(SparkQualityRule(
            "DQ002", "valid_date_formats",
            "Date fields must follow ISO 8601 format",
            QualityDimension.VALIDITY, "major",
            [DataZone.SILVER, DataZone.GOLD],
            agg_exprs=q2_aggs, summarize=q2_sum,
            fail_condition=lambda df, _: v._regex_rule_parts(
                df, DATE_CHECK_FIELDS, lambda n: F.col(n).cast("string"), ISO_DATE_RE
            )[1],
        ))

        # DQ003 valid_patient_id_format ----------------------------------
        def q3_value(n: str) -> Column:
            return F.upper(F.col(n).cast("string"))

        def q3_aggs(df: DataFrame, _) -> list[Column]:
            checked, failed = v._regex_rule_parts(
                df, PATIENT_ID_FIELDS, q3_value, PATIENT_ID_RE
            )
            return [
                F.sum(checked).alias("DQ003__checked"),
                F.sum(F.when(failed, 1).otherwise(0)).alias("DQ003__failed"),
            ]

        def q3_sum(row: dict, _) -> dict:
            return v._instance_summary(row, "DQ003", 0.99, 1.0,
                                       "Validated patient ID format")

        self.add_rule(SparkQualityRule(
            "DQ003", "valid_patient_id_format",
            "Patient IDs must match expected format",
            QualityDimension.VALIDITY, "critical",
            [DataZone.BRONZE, DataZone.SILVER, DataZone.GOLD],
            agg_exprs=q3_aggs, summarize=q3_sum,
            fail_condition=lambda df, _: v._regex_rule_parts(
                df, PATIENT_ID_FIELDS, q3_value, PATIENT_ID_RE
            )[1],
        ))

        # DQ004 valid_icd10_codes ----------------------------------------
        def q4_value(n: str) -> Column:
            return F.trim(F.upper(F.col(n).cast("string")))

        def q4_aggs(df: DataFrame, _) -> list[Column]:
            checked, failed = v._regex_rule_parts(df, ICD10_FIELDS, q4_value, ICD10_RE)
            return [
                F.sum(checked).alias("DQ004__checked"),
                F.sum(F.when(failed, 1).otherwise(0)).alias("DQ004__failed"),
            ]

        def q4_sum(row: dict, _) -> dict:
            return v._instance_summary(row, "DQ004", 0.95, 0.99,
                                       "Validated ICD-10 diagnosis code format")

        self.add_rule(SparkQualityRule(
            "DQ004", "valid_icd10_codes",
            "Diagnosis codes must be valid ICD-10 format",
            QualityDimension.ACCURACY, "major",
            [DataZone.SILVER, DataZone.GOLD],
            agg_exprs=q4_aggs, summarize=q4_sum,
            fail_condition=lambda df, _: v._regex_rule_parts(
                df, ICD10_FIELDS, q4_value, ICD10_RE
            )[1],
        ))

        # DQ005 no_duplicate_records -------------------------------------
        def q5_aggs(df: DataFrame, _) -> list[Column]:
            key = v._record_id(df)
            return [
                F.count(F.lit(1)).alias("DQ005__total"),
                F.countDistinct(key).alias("DQ005__distinct"),
            ]

        def q5_sum(row: dict, _) -> dict:
            total, uniq = row["DQ005__total"], row["DQ005__distinct"]
            dups = total - uniq
            score = (uniq / total) if total else 1.0
            status = QualityStatus.FAILED if dups > 0 else QualityStatus.PASSED
            return dict(status=status, score=score, records_checked=total,
                        records_passed=uniq, records_failed=dups,
                        details=f"Found {dups} duplicate records")

        def q5_fail(df: DataFrame, _) -> Column:
            # 2nd+ occurrence in ingest order (reference :733-739).
            from pyspark.sql.window import Window

            w = Window.partitionBy(v._record_id(df)).orderBy(
                F.col(INGEST_ORDER_COL).asc()
            )
            return F.row_number().over(w) > 1

        self.add_rule(SparkQualityRule(
            "DQ005", "no_duplicate_records",
            "Records must be unique by primary key",
            QualityDimension.UNIQUENESS, "critical",
            [DataZone.BRONZE, DataZone.SILVER, DataZone.GOLD],
            agg_exprs=q5_aggs, summarize=q5_sum, fail_condition=q5_fail,
        ))

        # DQ006 valid_value_ranges ---------------------------------------
        def q6_aggs(df: DataFrame, _) -> list[Column]:
            checked, failed = v._q6_parts(df)
            return [
                F.sum(checked).alias("DQ006__checked"),
                F.sum(F.when(failed, 1).otherwise(0)).alias("DQ006__failed"),
            ]

        def q6_sum(row: dict, _) -> dict:
            return v._instance_summary(row, "DQ006", 0.95, 0.99,
                                       "Validated clinical value ranges")

        self.add_rule(SparkQualityRule(
            "DQ006", "valid_value_ranges",
            "Numeric values must be within valid clinical ranges",
            QualityDimension.ACCURACY, "major",
            [DataZone.SILVER, DataZone.GOLD],
            agg_exprs=q6_aggs, summarize=q6_sum,
            fail_condition=lambda df, _: v._q6_parts(df)[1],
        ))

        # DQ007 referential_integrity -------------------------------------
        # No FK config -> reference stub-pass parity (data_quality.py:
        # 821-837). With fk_checks -> the real thing: one broadcast-or-SMJ
        # left join per FK marking orphans (can't fuse into the shared
        # scan — joins need their own pass; still one pass for ALL FKs).
        if not self.fk_checks:
            def q7_aggs(df: DataFrame, _) -> list[Column]:
                return [F.count(F.lit(1)).alias("DQ007__total")]

            def q7_sum(row: dict, _) -> dict:
                total = row["DQ007__total"]
                return dict(status=QualityStatus.PASSED, score=1.0,
                            records_checked=total, records_passed=total,
                            records_failed=0,
                            details="Referential integrity check "
                                    "(stub - implement with reference tables)")

            self.add_rule(SparkQualityRule(
                "DQ007", "referential_integrity",
                "Foreign key references must be valid",
                QualityDimension.INTEGRITY, "major",
                [DataZone.GOLD],
                agg_exprs=q7_aggs, summarize=q7_sum,
            ))
        else:
            def q7_orphan_marked(df: DataFrame) -> DataFrame:
                out = df
                for i, (fk, parent, pkey) in enumerate(self.fk_checks):
                    keys = parent.select(F.col(pkey).alias(f"__pk_{i}")).distinct()
                    out = out.join(
                        keys, out[fk] == keys[f"__pk_{i}"], "left"
                    ).withColumn(
                        f"__orphan_{i}",
                        F.col(fk).isNotNull() & F.col(f"__pk_{i}").isNull(),
                    ).drop(f"__pk_{i}")
                orphan_any = F.lit(False)
                for i in range(len(self.fk_checks)):
                    orphan_any = orphan_any | F.col(f"__orphan_{i}")
                return out.withColumn("__orphan", orphan_any)

            def q7_check(df: DataFrame) -> QualityCheckResult:
                marked = q7_orphan_marked(df)
                agg = marked.agg(
                    F.count(F.lit(1)).alias("total"),
                    F.sum(F.when(F.col("__orphan"), 1).otherwise(0)).alias("bad"),
                ).collect()[0]
                total, bad = int(agg["total"]), int(agg["bad"] or 0)
                score = ((total - bad) / total) if total else 1.0
                status = (QualityStatus.PASSED if bad == 0
                          else QualityStatus.FAILED if score < 0.99
                          else QualityStatus.WARNING)
                return QualityCheckResult(
                    "DQ007", "referential_integrity",
                    QualityDimension.INTEGRITY, status, score,
                    total, total - bad, bad,
                    details=f"{bad}/{total} rows reference missing parents "
                            f"across {len(self.fk_checks)} FK(s)")

            self.add_rule(SparkQualityRule(
                "DQ007", "referential_integrity",
                "Foreign key references must be valid",
                QualityDimension.INTEGRITY, "major",
                [DataZone.GOLD],
                check_fn=q7_check,
            ))

        # DQ008 phi_fields_present ---------------------------------------
        def q8_has_phi(df: DataFrame) -> Column:
            exprs = [_truthy(df, n) for n in PHI_FIELDS if n in df.columns]
            if not exprs:
                return F.lit(False)
            out = exprs[0]
            for e in exprs[1:]:
                out = out | e
            return out

        def q8_aggs(df: DataFrame, _) -> list[Column]:
            return [
                F.count(F.lit(1)).alias("DQ008__total"),
                F.sum(F.when(q8_has_phi(df), 1).otherwise(0)).alias("DQ008__with_phi"),
            ]

        def q8_sum(row: dict, _) -> dict:
            total, with_phi = row["DQ008__total"], row["DQ008__with_phi"]
            score = (with_phi / total) if total else 0.0
            status = QualityStatus.WARNING if score < 0.5 else QualityStatus.PASSED
            return dict(status=status, score=score, records_checked=total,
                        records_passed=with_phi, records_failed=total - with_phi,
                        details=f"{with_phi}/{total} records have PHI fields")

        self.add_rule(SparkQualityRule(
            "DQ008", "phi_fields_present",
            "Required PHI fields present for de-identification",
            QualityDimension.COMPLETENESS, "warning",
            [DataZone.LANDING, DataZone.BRONZE],
            agg_exprs=q8_aggs, summarize=q8_sum,
        ))

    _q1_required_last: list[str] = []

    def _instance_summary(
        self, row: dict, rule_id: str, fail_below: float, warn_below: float,
        details: str
    ) -> dict:
        checked = int(row[f"{rule_id}__checked"] or 0)
        failed = int(row[f"{rule_id}__failed"] or 0)
        passed = checked - failed
        score = (passed / checked) if checked > 0 else 1.0
        return dict(status=_grade(score, fail_below, warn_below), score=score,
                    records_checked=checked, records_passed=passed,
                    records_failed=failed, details=details)

    # --------------------------------------------------------------- validate
    def validate(
        self,
        df: DataFrame,
        target_zone: DataZone,
        required_fields: list[str] | None = None,
    ) -> QualityReport:
        """One fused aggregation scan, no other job.

        Mirrors reference ``validate`` (``data_quality.py:310-419``): rules
        filtered by ``enabled`` and zone, per-rule errors degrade to
        SKIPPED, FAILED rules contribute their failure predicates to
        ``quarantine_condition``.
        """
        start = datetime.now(timezone.utc)
        self._required_fields = required_fields or []
        self._q1_required_last = self._q1_required(df)
        df = with_ingest_order(df)

        active = [r for r in self.rules
                  if r.enabled and target_zone in r.applicable_zones]

        # Phase 1: ONE fused scan for every Column-expressible rule.
        agg_cols: list[Column] = [F.count(F.lit(1)).alias("__total_records")]
        fused: list[SparkQualityRule] = []
        errored: dict[str, str] = {}
        for rule in active:
            if rule.agg_exprs is None:
                continue
            try:
                agg_cols.extend(rule.agg_exprs(df, self))
                fused.append(rule)
            except Exception as e:  # degrade to SKIPPED, reference :364-380
                errored[rule.rule_id] = str(e)
        row = df.agg(*agg_cols).collect()[0].asDict()
        total_records = int(row["__total_records"])

        results: list[QualityCheckResult] = []
        quarantine = F.lit(False)

        for rule in active:
            t0 = datetime.now(timezone.utc)
            if rule.rule_id in errored:
                results.append(QualityCheckResult(
                    rule.rule_id, rule.name, rule.dimension,
                    QualityStatus.SKIPPED, 0.0, 0, 0, 0,
                    details=f"Error: {errored[rule.rule_id]}"))
                continue
            try:
                if rule.check_fn is not None and rule.agg_exprs is None:
                    result = rule.check_fn(df)  # escape hatch: own pass
                else:
                    parts = rule.summarize(row, self)
                    result = QualityCheckResult(
                        rule.rule_id, rule.name, rule.dimension,
                        parts["status"], parts["score"],
                        parts["records_checked"], parts["records_passed"],
                        parts["records_failed"], parts["details"])

                # Only a FAILED rule sends its failing rows to quarantine.
                if (result.status == QualityStatus.FAILED
                        and rule.fail_condition is not None):
                    cond = rule.fail_condition(df, self)
                    if cond is not None:
                        quarantine = quarantine | cond
                result.execution_time_ms = (
                    datetime.now(timezone.utc) - t0
                ).total_seconds() * 1000
                results.append(result)
            except Exception as e:
                results.append(QualityCheckResult(
                    rule.rule_id, rule.name, rule.dimension,
                    QualityStatus.SKIPPED, 0.0, 0, 0, 0,
                    details=f"Error: {e}"))

        overall_score = self._calculate_overall_score(results)
        overall_status = self._determine_overall_status(results)
        promotion_eligible = self._check_promotion_eligibility(
            results, overall_score, target_zone)

        return QualityReport(
            report_id=self._generate_report_id(),
            dataset_name=self.dataset_name,
            zone=target_zone,
            total_records=total_records,
            check_results=results,
            overall_score=overall_score,
            overall_status=overall_status,
            promotion_eligible=promotion_eligible,
            quarantine_condition=F.coalesce(quarantine, F.lit(False)),
            execution_time_ms=(
                datetime.now(timezone.utc) - start
            ).total_seconds() * 1000,
        )

    # ----------------------------------------------------------- score math
    def _generate_report_id(self) -> str:
        ts = datetime.now(timezone.utc).isoformat()
        return "dq_" + hashlib.sha256(
            f"{self.dataset_name}:{ts}".encode()
        ).hexdigest()[:12]

    def _calculate_overall_score(self, results: list[QualityCheckResult]) -> float:
        """Weighted mean over non-SKIPPED checks (reference :427-457)."""
        total_w = 0.0
        acc = 0.0
        for r in results:
            if r.status == QualityStatus.SKIPPED:
                continue
            w = DIMENSION_WEIGHTS.get(r.dimension, 1.0)
            acc += r.score * w
            total_w += w
        return acc / total_w if total_w > 0 else 0.0

    def _determine_overall_status(
        self, results: list[QualityCheckResult]
    ) -> QualityStatus:
        """Worst-of (reference :459-476)."""
        if not results:
            return QualityStatus.SKIPPED
        if any(r.status == QualityStatus.FAILED for r in results):
            return QualityStatus.FAILED
        if any(r.status == QualityStatus.WARNING for r in results):
            return QualityStatus.WARNING
        return QualityStatus.PASSED

    def _check_promotion_eligibility(
        self,
        results: list[QualityCheckResult],
        overall_score: float,
        zone: DataZone,
    ) -> bool:
        """Threshold gate (reference :478-526). NB the reference counts ALL
        failed checks against ``max_failed_critical`` regardless of severity
        (its own ``severity`` field is never consulted) — preserved."""
        thresholds = self.ZONE_THRESHOLDS.get(zone)
        if not thresholds:
            return False
        if overall_score < thresholds.overall_min_score:
            return False

        by_dim: dict[QualityDimension, list[float]] = {}
        for r in results:
            by_dim.setdefault(r.dimension, []).append(r.score)
        mins = {
            QualityDimension.COMPLETENESS: thresholds.min_completeness,
            QualityDimension.ACCURACY: thresholds.min_accuracy,
            QualityDimension.CONSISTENCY: thresholds.min_consistency,
            QualityDimension.UNIQUENESS: thresholds.min_uniqueness,
        }
        for dim, scores in by_dim.items():
            if dim in mins and sum(scores) / len(scores) < mins[dim]:
                return False

        failed = sum(1 for r in results if r.status == QualityStatus.FAILED)
        return failed <= thresholds.max_failed_critical


def with_observed_metrics(df: DataFrame, name: str, exprs: dict[str, Column]):
    """Attach inline quality telemetry to a frame: the named aggregate
    expressions are computed BY the action that consumes ``df`` (a write,
    a count) — zero extra scans, exactly the metrics-on-ingest pattern the
    reference pays a second validation pass for (reference
    ``src/quality/data_quality.py:345-349`` re-reads records per check).

    Returns ``(df, observation)``; read ``observation.get`` after the
    action completes. On a 100 TB load this is the only affordable way to
    emit row counts / null rates / sums per batch: the metrics ride the
    write's own scan.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, *[c.alias(k) for k, c in exprs.items()]), obs
