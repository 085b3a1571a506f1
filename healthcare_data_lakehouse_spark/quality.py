"""Data-quality engine: eight healthcare rules fused into ONE scan.

The reference evaluates each rule as its own full pass over a Python list
(``src/quality/data_quality.py:337-346`` — up to 8 scans). Here a rule is
two row expressions, ``(checked, failed)``, plus a grade: every rule's pair
lands in one ``select`` and one ``agg`` sums them, so a validation costs one
table read at any scale. No row ids are collected: the report carries the
FAILED rules' ``failed`` expressions, and the ETL split evaluates them on
the batch it already holds — the rows counted as failures are exactly the
rows quarantined.

Reference quirks intentionally preserved (SURVEY.md §2.3/§2.4):

* "populated" means *truthy* (``if field in record and record[field]``):
  NULL, empty string, numeric 0 and False are skipped by Q2/Q3/Q4/Q8.
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
  (DQ005's ``failed``). Matching on the id list, as the reference does,
  would quarantine every row that shares the id.
"""

from __future__ import annotations

import hashlib
import operator
from dataclasses import dataclass
from datetime import datetime, timezone
from enum import Enum
from functools import reduce
from typing import Any, Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, NumericType
from pyspark.sql.window import Window

from healthcare_data_lakehouse_spark.transforms import INGEST_ORDER_COL
from healthcare_data_lakehouse_spark.zones import DataZone

__all__ = [
    "QualityDimension",
    "QualityStatus",
    "QualityThresholds",
    "QualityCheckResult",
    "QualityReport",
    "SparkQualityRule",
    "threshold_grade",
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


#: ``rows(df) -> (checked, failed)``, see :class:`SparkQualityRule`.
RowExprs = Callable[[DataFrame], tuple[Column | int, Column]]
#: ``grade(checked, failed) -> (status, score, details)``.
Grade = Callable[[int, int], tuple[QualityStatus, float, str]]


# --------------------------------------------------------------------- helpers
def _truthy(df: DataFrame, name: str) -> Column:
    """Python truthiness of a field value (``if record[field]``): non-null,
    non-empty-string, non-zero-numeric, and a boolean is itself."""
    c = F.col(name)
    dtype = df.schema[name].dataType
    if isinstance(dtype, BooleanType):
        return c.isNotNull() & c
    if isinstance(dtype, NumericType):
        return c.isNotNull() & (c != 0)
    return c.isNotNull() & (c.cast("string") != "")


def _any(exprs: list[Column]) -> Column:
    return reduce(operator.or_, exprs, F.lit(False))


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


def _regex_rows(
    fields: list[str], value_of: Callable[[Column], Column], pattern: str
) -> RowExprs:
    """Q2/Q3/Q4: each truthy field instance must match ``pattern``."""
    return lambda df: _instance_scan(
        df, fields, lambda n: _truthy(df, n),
        lambda n: ~value_of(F.col(n)).rlike(pattern),
    )


def _range_rows(df: DataFrame) -> tuple[Column, Column]:
    """Q6: populated = non-null AND float-coercible (uncoercible values are
    silently skipped, reference :789-797). NB unlike the truthy rules, value
    0 IS checked here (only None is skipped)."""
    def populated(n: str) -> Column:
        return F.col(n).isNotNull() & F.col(n).cast("double").isNotNull()

    def invalid(n: str) -> Column:
        lo, hi = CLINICAL_RANGES[n]
        v = F.col(n).cast("double")
        return (v < F.lit(float(lo))) | (v > F.lit(float(hi)))

    return _instance_scan(df, list(CLINICAL_RANGES), populated, invalid)


def _grade(score: float, fail_below: float, warn_below: float) -> QualityStatus:
    if score < fail_below:
        return QualityStatus.FAILED
    if score < warn_below:
        return QualityStatus.WARNING
    return QualityStatus.PASSED


def threshold_grade(
    fail_below: float, warn_below: float, details: str, empty_score: float = 1.0
) -> Grade:
    """Score = passed/checked (``empty_score`` when nothing was checked),
    FAILED below ``fail_below``, WARNING below ``warn_below`` — the oracle's
    ``_rule_row_sql``. ``details`` may name ``{checked}``, ``{failed}`` and
    ``{passed}``."""

    def grade(checked: int, failed: int) -> tuple[QualityStatus, float, str]:
        passed = checked - failed
        score = passed / checked if checked else empty_score
        return (_grade(score, fail_below, warn_below), score,
                details.format(checked=checked, failed=failed, passed=passed))

    return grade


@dataclass
class SparkQualityRule:
    """A quality rule as two row expressions and a grade.

    ``rows(df)`` returns ``(checked, failed)``: ``checked`` is the number of
    field instances the row contributes (an int, or a Column where a
    boolean counts 0/1; 1 for a row-level rule), ``failed`` is true on a
    row that fails the rule. The validator sums ``checked`` and counts
    ``failed`` for every rule in one aggregation, ``grade(checked,
    failed)`` turns the two sums into ``(status, score, details)``, and a
    FAILED rule quarantines the rows where that same ``failed`` holds.
    Rules whose logic can't be a Column (a join, custom Python) may
    instead set ``check_fn`` (DataFrame -> QualityCheckResult): the escape
    hatch costs its own pass and quarantines nothing, mirroring the
    reference's arbitrary ``check_fn`` registry (``data_quality.py:67``).
    """

    rule_id: str
    name: str
    description: str
    dimension: QualityDimension
    severity: str
    applicable_zones: list[DataZone]
    enabled: bool = True
    rows: RowExprs | None = None
    grade: Grade | None = None
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

    def _init_healthcare_rules(self) -> None:
        """The eight standard rules (reference ``data_quality.py:214-303``)."""
        v = self

        # DQ001 required_fields_present ---------------------------------
        def q1_rows(df: DataFrame) -> tuple[int, Column]:
            # an absent column fails every record
            return 1, _any([F.col(f).isNull() if f in df.columns else F.lit(True)
                            for f in v._required_fields])

        def q1_grade(checked: int, failed: int) -> tuple[QualityStatus, float, str]:
            if checked == 0:
                return QualityStatus.SKIPPED, 0.0, ""
            score = (checked - failed) / checked
            return (_grade(score, 0.95, 0.99), score,
                    f"Checked {len(v._required_fields)} required fields")

        self.add_rule(SparkQualityRule(
            "DQ001", "required_fields_present",
            "All required fields must be non-null",
            QualityDimension.COMPLETENESS, "critical",
            [DataZone.BRONZE, DataZone.SILVER, DataZone.GOLD],
            rows=q1_rows, grade=q1_grade,
        ))

        self.add_rule(SparkQualityRule(
            "DQ002", "valid_date_formats",
            "Date fields must follow ISO 8601 format",
            QualityDimension.VALIDITY, "major",
            [DataZone.SILVER, DataZone.GOLD],
            rows=_regex_rows(DATE_CHECK_FIELDS, lambda c: c.cast("string"),
                             ISO_DATE_RE),
            grade=threshold_grade(0.95, 0.99, "Validated ISO 8601 date format"),
        ))

        self.add_rule(SparkQualityRule(
            "DQ003", "valid_patient_id_format",
            "Patient IDs must match expected format",
            QualityDimension.VALIDITY, "critical",
            [DataZone.BRONZE, DataZone.SILVER, DataZone.GOLD],
            rows=_regex_rows(PATIENT_ID_FIELDS,
                             lambda c: F.upper(c.cast("string")), PATIENT_ID_RE),
            grade=threshold_grade(0.99, 1.0, "Validated patient ID format"),
        ))

        self.add_rule(SparkQualityRule(
            "DQ004", "valid_icd10_codes",
            "Diagnosis codes must be valid ICD-10 format",
            QualityDimension.ACCURACY, "major",
            [DataZone.SILVER, DataZone.GOLD],
            rows=_regex_rows(ICD10_FIELDS,
                             lambda c: F.trim(F.upper(c.cast("string"))), ICD10_RE),
            grade=threshold_grade(0.95, 0.99,
                                  "Validated ICD-10 diagnosis code format"),
        ))

        # DQ005 no_duplicate_records: a row fails as the 2nd+ occurrence of
        # its id in ingest order (reference :733-739), so any duplicate
        # scores below 1.0 and FAILS. Ingest order is the frame's stamp, or
        # without one the id ``with_ingest_order`` would stamp, computed
        # inside the window: the predicate then holds on the caller's frame.
        def q5_rows(df: DataFrame) -> tuple[int, Column]:
            order = (F.col(INGEST_ORDER_COL) if INGEST_ORDER_COL in df.columns
                     else F.monotonically_increasing_id())
            w = Window.partitionBy(v._record_id(df)).orderBy(order)
            return 1, F.row_number().over(w) > 1

        self.add_rule(SparkQualityRule(
            "DQ005", "no_duplicate_records",
            "Records must be unique by primary key",
            QualityDimension.UNIQUENESS, "critical",
            [DataZone.BRONZE, DataZone.SILVER, DataZone.GOLD],
            rows=q5_rows,
            grade=threshold_grade(1.0, 1.0, "Found {failed} duplicate records"),
        ))

        self.add_rule(SparkQualityRule(
            "DQ006", "valid_value_ranges",
            "Numeric values must be within valid clinical ranges",
            QualityDimension.ACCURACY, "major",
            [DataZone.SILVER, DataZone.GOLD],
            rows=_range_rows,
            grade=threshold_grade(0.95, 0.99, "Validated clinical value ranges"),
        ))

        # DQ007 referential_integrity -------------------------------------
        # No FK config -> reference stub-pass parity (data_quality.py:
        # 821-837). With fk_checks -> the real thing: one broadcast-or-SMJ
        # left join per FK marking orphans (can't fuse into the shared
        # scan — joins need their own pass; still one pass for ALL FKs).
        if not self.fk_checks:
            self.add_rule(SparkQualityRule(
                "DQ007", "referential_integrity",
                "Foreign key references must be valid",
                QualityDimension.INTEGRITY, "major",
                [DataZone.GOLD],
                rows=lambda df: (1, F.lit(False)),
                grade=threshold_grade(
                    0.99, 1.0, "Referential integrity check "
                               "(stub - implement with reference tables)"),
            ))
        else:
            def q7_check(df: DataFrame) -> QualityCheckResult:
                out = df
                for i, (fk, parent, pkey) in enumerate(self.fk_checks):
                    keys = parent.select(F.col(pkey).alias(f"__pk_{i}")).distinct()
                    out = out.join(
                        keys, out[fk] == keys[f"__pk_{i}"], "left"
                    ).withColumn(
                        f"__orphan_{i}",
                        F.col(fk).isNotNull() & F.col(f"__pk_{i}").isNull(),
                    ).drop(f"__pk_{i}")
                orphan = _any([F.col(f"__orphan_{i}")
                               for i in range(len(self.fk_checks))])
                agg = out.agg(F.count(F.lit(1)), F.count_if(orphan)).collect()[0]
                total, bad = int(agg[0]), int(agg[1])
                status, score, details = threshold_grade(
                    0.99, 1.0, "{failed}/{checked} rows reference missing "
                               f"parents across {len(self.fk_checks)} FK(s)",
                )(total, bad)
                return QualityCheckResult(
                    "DQ007", "referential_integrity",
                    QualityDimension.INTEGRITY, status, score,
                    total, total - bad, bad, details=details)

            self.add_rule(SparkQualityRule(
                "DQ007", "referential_integrity",
                "Foreign key references must be valid",
                QualityDimension.INTEGRITY, "major",
                [DataZone.GOLD],
                check_fn=q7_check,
            ))

        # DQ008 phi_fields_present: a row without PHI fails; never FAILED.
        self.add_rule(SparkQualityRule(
            "DQ008", "phi_fields_present",
            "Required PHI fields present for de-identification",
            QualityDimension.COMPLETENESS, "warning",
            [DataZone.LANDING, DataZone.BRONZE],
            rows=lambda df: (1, ~_any([_truthy(df, n) for n in PHI_FIELDS
                                       if n in df.columns])),
            grade=threshold_grade(0.0, 0.5, "{passed}/{checked} records have PHI "
                                            "fields", empty_score=0.0),
        ))

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
        ``quarantine_condition``. Every ``rows`` rule's ``(checked,
        failed)`` pair lands in one ``select``; one ``agg`` over it takes
        the row count plus ``sum(checked)`` and ``count_if(failed)`` per
        rule.
        """
        start = datetime.now(timezone.utc)
        self._required_fields = list(required_fields or df.columns)

        active = [r for r in self.rules
                  if r.enabled and target_zone in r.applicable_zones]

        pairs: dict[int, tuple[Column, Column]] = {}
        errored: dict[int, Exception] = {}
        for i, rule in enumerate(active):
            if rule.rows is None:
                continue
            try:
                checked, failed = rule.rows(df)
                pairs[i] = (F.lit(checked).cast("long"), failed)
            except Exception as e:  # degrade to SKIPPED, reference :364-380
                errored[i] = e
        per_row = df.select(*[
            c.alias(f"{kind}{i}")
            for i, pair in pairs.items() for kind, c in zip("cf", pair)
        ])
        row = per_row.agg(F.count(F.lit(1)).alias("total"), *[
            agg(f"{kind}{i}").alias(f"{kind}{i}")
            for i in pairs for kind, agg in (("c", F.sum), ("f", F.count_if))
        ]).collect()[0]

        results: list[QualityCheckResult] = []
        quarantine = F.lit(False)
        for i, rule in enumerate(active):
            t0 = datetime.now(timezone.utc)
            try:
                if i in errored:
                    raise errored[i]
                if rule.rows is None:
                    result = rule.check_fn(df)  # escape hatch: own pass
                else:
                    checked, failed = int(row[f"c{i}"] or 0), int(row[f"f{i}"])
                    status, score, details = rule.grade(checked, failed)
                    result = QualityCheckResult(
                        rule.rule_id, rule.name, rule.dimension, status, score,
                        checked, checked - failed, failed, details)
                    # Only a FAILED rule sends its failing rows to quarantine.
                    if status == QualityStatus.FAILED:
                        quarantine = quarantine | pairs[i][1]
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
            total_records=int(row["total"]),
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
