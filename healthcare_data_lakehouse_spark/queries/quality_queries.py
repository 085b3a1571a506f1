"""Quality-rule queries: the REAL DataQualityValidator vs SQL oracles.

Each entry runs the engine's fused-scan validator over the dirty healthcare
frame (fixtures.py) and emits per-rule result rows; the oracle restates each
rule's scoring — including the reference's per-field-instance denominators
with break-on-first-failure (``src/quality/data_quality.py:597-607``),
truthy "populated" semantics, and empty-input conventions — as independent
DuckDB SQL over the identical frame.

Score rounding: the reference reports raw float ratios; for hash-stable
comparison both sides round half-away-from-zero to 6 places (DuckDB ROUND
rounds half away from zero; Python ``round`` is banker's — so the Spark side
uses an explicit half-up helper).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from healthcare_data_lakehouse_spark.fixtures import HEALTHCARE_CTE, healthcare_frame
from healthcare_data_lakehouse_spark.quality import (
    DataQualityValidator,
    ICD10_RE,
    ISO_DATE_RE,
    PATIENT_ID_RE,
)
from healthcare_data_lakehouse_spark.functions import dround, dround_sql
from healthcare_data_lakehouse_spark.queries.catalog import register
from healthcare_data_lakehouse_spark.zones import DataZone

__all__: list[str] = []

REQUIRED = ["id", "patient_id", "birth_date"]

RESULT_SCHEMA = StructType([
    StructField("rule_id", StringType()),
    StructField("status", StringType()),
    StructField("score", DoubleType()),
    StructField("records_checked", LongType()),
    StructField("records_passed", LongType()),
    StructField("records_failed", LongType()),
])


def _round_half_up(x: float, places: int = 6) -> float:
    factor = 10 ** places
    return math.floor(abs(x) * factor + 0.5) / factor * (1 if x >= 0 else -1)


def _validator_rows(
    spark: SparkSession, sf_dir: str, zone: DataZone
) -> DataFrame:
    df = healthcare_frame(spark, sf_dir)
    validator = DataQualityValidator("patients", id_field="id")
    report = validator.validate(df, zone, required_fields=REQUIRED)
    rows = [
        (
            r.rule_id,
            r.status.value,
            _round_half_up(r.score, 6),
            r.records_checked,
            r.records_passed,
            r.records_failed,
        )
        for r in report.check_results
    ]
    return spark.createDataFrame(rows, RESULT_SCHEMA)


# ------------------------------------------------------------- oracle SQL
# Per-record flag expressions over the `records` CTE (raw dirty frame).
_FLAGS = f"""
flags AS (
  SELECT
    COALESCE(CAST(id AS VARCHAR), 'None') AS rid,
    (id IS NULL OR patient_id IS NULL OR birth_date IS NULL) AS q1_fail,
    (birth_date IS NOT NULL AND birth_date <> '') AS b_pop,
    NOT regexp_matches(birth_date, '{ISO_DATE_RE}') AS b_inv,
    (admission_date IS NOT NULL AND admission_date <> '') AS a_pop,
    NOT regexp_matches(admission_date, '{ISO_DATE_RE}') AS a_inv,
    (discharge_date IS NOT NULL AND discharge_date <> '') AS c_pop,
    NOT regexp_matches(discharge_date, '{ISO_DATE_RE}') AS c_inv,
    (patient_id IS NOT NULL AND patient_id <> '') AS p_pop,
    NOT regexp_matches(upper(patient_id), '{PATIENT_ID_RE}') AS p_inv,
    (diagnosis_code IS NOT NULL AND diagnosis_code <> '') AS d_pop,
    NOT regexp_matches(trim(upper(diagnosis_code)), '{ICD10_RE}') AS d_inv,
    (age IS NOT NULL) AS g_pop,
    (age < 0 OR age > 150) AS g_inv,
    (heart_rate IS NOT NULL) AS h_pop,
    (heart_rate < 20 OR heart_rate > 300) AS h_inv,
    ((patient_name IS NOT NULL AND patient_name <> '')
     OR (birth_date IS NOT NULL AND birth_date <> '')
     OR (ssn IS NOT NULL AND ssn <> '')
     OR (address IS NOT NULL AND address <> '')) AS has_phi
  FROM records
),
aggs AS (
  SELECT
    COUNT(*) AS total,
    COUNT(DISTINCT rid) AS n_distinct,
    SUM(CASE WHEN q1_fail THEN 1 ELSE 0 END) AS q1_failed,
    -- DQ002: field instances birth_date -> admission_date ->
    -- discharge_date (reference field order); a record breaks at its
    -- first failing field (later fields uncounted).
    SUM((CASE WHEN b_pop THEN 1 ELSE 0 END)
      + (CASE WHEN a_pop AND NOT (b_pop AND b_inv) THEN 1 ELSE 0 END)
      + (CASE WHEN c_pop AND NOT (b_pop AND b_inv)
                         AND NOT (a_pop AND a_inv) THEN 1 ELSE 0 END)) AS q2_checked,
    SUM(CASE WHEN (b_pop AND b_inv)
              OR (a_pop AND a_inv AND NOT (b_pop AND b_inv))
              OR (c_pop AND c_inv AND NOT (b_pop AND b_inv)
                                  AND NOT (a_pop AND a_inv))
             THEN 1 ELSE 0 END) AS q2_failed,
    SUM(CASE WHEN p_pop THEN 1 ELSE 0 END) AS q3_checked,
    SUM(CASE WHEN p_pop AND p_inv THEN 1 ELSE 0 END) AS q3_failed,
    SUM(CASE WHEN d_pop THEN 1 ELSE 0 END) AS q4_checked,
    SUM(CASE WHEN d_pop AND d_inv THEN 1 ELSE 0 END) AS q4_failed,
    SUM((CASE WHEN g_pop THEN 1 ELSE 0 END)
      + (CASE WHEN h_pop AND NOT (g_pop AND g_inv) THEN 1 ELSE 0 END)) AS q6_checked,
    SUM(CASE WHEN (g_pop AND g_inv)
              OR (h_pop AND h_inv AND NOT (g_pop AND g_inv))
             THEN 1 ELSE 0 END) AS q6_failed,
    SUM(CASE WHEN has_phi THEN 1 ELSE 0 END) AS q8_with_phi
  FROM flags
)
"""


def _rule_row_sql(
    rule_id: str, checked: str, failed: str, fail_below: float, warn_below: float
) -> str:
    """One per-rule result row (score = passed/checked, 1.0 on empty)."""
    score = (
        f"CASE WHEN {checked} > 0 "
        f"THEN CAST({checked} - {failed} AS DOUBLE) / {checked} ELSE 1.0 END"
    )
    return f"""
    SELECT '{rule_id}' AS rule_id,
           CASE WHEN {score} < {fail_below} THEN 'failed'
                WHEN {score} < {warn_below} THEN 'warning'
                ELSE 'passed' END AS status,
           ROUND({score}, 6) AS score,
           CAST({checked} AS BIGINT) AS records_checked,
           CAST({checked} - {failed} AS BIGINT) AS records_passed,
           CAST({failed} AS BIGINT) AS records_failed
    FROM aggs
    """


_Q1_ROW = """
    SELECT 'DQ001' AS rule_id,
           CASE WHEN total = 0 THEN 'skipped'
                WHEN CAST(total - q1_failed AS DOUBLE) / total < 0.95 THEN 'failed'
                WHEN CAST(total - q1_failed AS DOUBLE) / total < 0.99 THEN 'warning'
                ELSE 'passed' END AS status,
           ROUND(CAST(total - q1_failed AS DOUBLE) / total, 6) AS score,
           CAST(total AS BIGINT) AS records_checked,
           CAST(total - q1_failed AS BIGINT) AS records_passed,
           CAST(q1_failed AS BIGINT) AS records_failed
    FROM aggs
"""

_Q5_ROW = """
    SELECT 'DQ005' AS rule_id,
           CASE WHEN total - n_distinct > 0 THEN 'failed' ELSE 'passed' END AS status,
           ROUND(CASE WHEN total > 0
                      THEN CAST(n_distinct AS DOUBLE) / total ELSE 1.0 END, 6) AS score,
           CAST(total AS BIGINT) AS records_checked,
           CAST(n_distinct AS BIGINT) AS records_passed,
           CAST(total - n_distinct AS BIGINT) AS records_failed
    FROM aggs
"""

_Q8_ROW = """
    SELECT 'DQ008' AS rule_id,
           CASE WHEN (CASE WHEN total > 0
                           THEN CAST(q8_with_phi AS DOUBLE) / total
                           ELSE 0.0 END) < 0.5
                THEN 'warning' ELSE 'passed' END AS status,
           ROUND(CASE WHEN total > 0
                      THEN CAST(q8_with_phi AS DOUBLE) / total ELSE 0.0 END, 6) AS score,
           CAST(total AS BIGINT) AS records_checked,
           CAST(q8_with_phi AS BIGINT) AS records_passed,
           CAST(total - q8_with_phi AS BIGINT) AS records_failed
    FROM aggs
"""


@register(
    "quality_validate_silver",
    oracle=f"""
    WITH {HEALTHCARE_CTE}, {_FLAGS}
    {_Q1_ROW}
    UNION ALL {_rule_row_sql('DQ002', 'q2_checked', 'q2_failed', 0.95, 0.99)}
    UNION ALL {_rule_row_sql('DQ003', 'q3_checked', 'q3_failed', 0.99, 1.0)}
    UNION ALL {_rule_row_sql('DQ004', 'q4_checked', 'q4_failed', 0.95, 0.99)}
    UNION ALL {_Q5_ROW}
    UNION ALL {_rule_row_sql('DQ006', 'q6_checked', 'q6_failed', 0.95, 0.99)}
    """,
    description="Q1-Q6 fused single-scan validation at SILVER "
    "(data_quality.py:310-419): per-rule status/score/denominator parity "
    "including break-on-first-failure instance counting.",
)
def quality_validate_silver(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _validator_rows(spark, sf_dir, DataZone.SILVER)


@register(
    "quality_validate_bronze",
    oracle=f"""
    WITH {HEALTHCARE_CTE}, {_FLAGS}
    {_Q1_ROW}
    UNION ALL {_rule_row_sql('DQ003', 'q3_checked', 'q3_failed', 0.99, 1.0)}
    UNION ALL {_Q5_ROW}
    UNION ALL {_Q8_ROW}
    """,
    description="Zone-filtered rule execution at BRONZE (Q1/Q3/Q5/Q8 "
    "applicable; data_quality.py:337-342) incl. PHI-presence check.",
)
def quality_validate_bronze(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _validator_rows(spark, sf_dir, DataZone.BRONZE)


@register(
    "quality_promotion_gate",
    oracle=f"""
    WITH {HEALTHCARE_CTE}, {_FLAGS},
    rule_rows AS (
        SELECT 'completeness' AS dimension, 1.0 AS w,
               CAST(total - q1_failed AS DOUBLE) / total AS score,
               0.95 AS fail_below, 0.99 AS warn_below
        FROM aggs
        UNION ALL
        SELECT 'validity', 0.9,
               CAST(q2_checked - q2_failed AS DOUBLE) / q2_checked, 0.95, 0.99
        FROM aggs
        UNION ALL
        SELECT 'validity', 0.9,
               CAST(q3_checked - q3_failed AS DOUBLE) / q3_checked, 0.99, 1.0
        FROM aggs
        UNION ALL
        SELECT 'accuracy', 1.2,
               CAST(q4_checked - q4_failed AS DOUBLE) / q4_checked, 0.95, 0.99
        FROM aggs
        UNION ALL
        SELECT 'uniqueness', 1.0, CAST(n_distinct AS DOUBLE) / total,
               -- DQ005: FAILED on any duplicate, never warns
               CASE WHEN (SELECT total - n_distinct FROM aggs) > 0
                    THEN 1.1 ELSE 0.0 END, 0.0
        FROM aggs
        UNION ALL
        SELECT 'accuracy', 1.2,
               CAST(q6_checked - q6_failed AS DOUBLE) / q6_checked, 0.95, 0.99
        FROM aggs
    ),
    gate AS (
        SELECT
            SUM(score * w) / SUM(w) AS overall,
            AVG(score) FILTER (WHERE dimension = 'completeness') AS comp,
            AVG(score) FILTER (WHERE dimension = 'accuracy') AS acc,
            AVG(score) FILTER (WHERE dimension = 'uniqueness') AS uniq,
            SUM(CASE WHEN score < fail_below THEN 1 ELSE 0 END) AS n_failed,
            SUM(CASE WHEN score >= fail_below AND score < warn_below
                     THEN 1 ELSE 0 END) AS n_warned
        FROM rule_rows
    )
    SELECT (SELECT CAST(total AS BIGINT) FROM aggs) AS total_records,
           ROUND(overall, 6) AS overall_score,
           CASE WHEN n_failed > 0 THEN 'failed'
                WHEN n_warned > 0 THEN 'warning'
                ELSE 'passed' END AS overall_status,
           (overall >= 0.95
            AND COALESCE(comp >= 0.95, TRUE)
            AND COALESCE(acc >= 0.98, TRUE)
            AND COALESCE(uniq >= 1.0, TRUE)
            AND n_failed <= 0) AS promotion_eligible
    FROM gate
    """,
    description="A2-A4 weighted overall score + worst-of status + zone "
    "promotion gate at SILVER (data_quality.py:427-526).",
)
def quality_promotion_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = healthcare_frame(spark, sf_dir)
    validator = DataQualityValidator("patients", id_field="id")
    report = validator.validate(df, DataZone.SILVER, required_fields=REQUIRED)
    schema = StructType([
        StructField("total_records", LongType()),
        StructField("overall_score", DoubleType()),
        StructField("overall_status", StringType()),
        StructField("promotion_eligible", BooleanType()),
    ])
    row = [(
        report.total_records,
        _round_half_up(report.overall_score, 6),
        report.overall_status.value,
        bool(report.promotion_eligible),
    )]
    return spark.createDataFrame(row, schema)


@register(
    "quality_custom_rule_ssn_plaintext",
    oracle=f"""
    WITH {HEALTHCARE_CTE},
    s AS (
        SELECT COUNT(CASE WHEN ssn IS NOT NULL AND ssn <> '' THEN 1 END)
                   AS checked,
               COUNT(CASE WHEN ssn IS NOT NULL AND ssn <> ''
                          AND regexp_matches(trim(ssn),
                              '^[0-9]{{3}}-[0-9]{{2}}-[0-9]{{4}}$')
                     THEN 1 END) AS failed
        FROM records
    )
    SELECT 'DQ100' AS rule_id,
           CASE WHEN checked = 0 THEN 'passed'
                WHEN CAST(checked - failed AS DOUBLE) / checked < 0.95
                    THEN 'failed'
                WHEN CAST(checked - failed AS DOUBLE) / checked < 0.99
                    THEN 'warning'
                ELSE 'passed' END AS status,
           ROUND(CASE WHEN checked = 0 THEN 1.0
                 ELSE CAST(checked - failed AS DOUBLE) / checked END, 6)
               AS score,
           checked AS records_checked,
           checked - failed AS records_passed,
           failed AS records_failed
    FROM s
    """,
    description="Custom-rule escape hatch (reference add_rule, "
    "data_quality.py:305-308): a user-registered PHI-leak detector "
    "(plaintext SSN pattern) whose two row expressions FUSE into the same "
    "single validation scan as the built-in rules — extensibility without extra "
    "passes.",
)
def quality_custom_rule_ssn_plaintext(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_data_lakehouse_spark.quality import (
        QualityDimension,
        SparkQualityRule,
        threshold_grade,
    )

    df = healthcare_frame(spark, sf_dir)
    validator = DataQualityValidator("patients", id_field="id")

    SSN_RE = "^[0-9]{3}-[0-9]{2}-[0-9]{4}$"
    populated = F.col("ssn").isNotNull() & (F.col("ssn") != "")
    leaked = populated & F.trim(F.col("ssn")).rlike(SSN_RE)

    validator.add_rule(SparkQualityRule(
        "DQ100", "ssn_not_plaintext",
        "PHI leak detector: populated SSNs must not match the plaintext "
        "###-##-#### pattern (should be tokenized/encrypted upstream)",
        QualityDimension.VALIDITY, "critical",
        [DataZone.BRONZE], rows=lambda df: (populated, leaked),
        grade=threshold_grade(
            0.95, 0.99, "{failed}/{checked} populated SSNs stored in plaintext"),
    ))
    report = validator.validate(df, DataZone.BRONZE, required_fields=REQUIRED)
    rows = [
        (
            r.rule_id, r.status.value, _round_half_up(r.score, 6),
            r.records_checked, r.records_passed, r.records_failed,
        )
        for r in report.check_results
        if r.rule_id == "DQ100"
    ]
    return spark.createDataFrame(rows, RESULT_SCHEMA)


@register(
    "quality_fk_integrity_gold",
    oracle="""
    WITH gold AS (
        SELECT o_orderkey, o_custkey FROM orders
        UNION ALL
        SELECT o_orderkey + 10000000, o_custkey + 9000000
        FROM orders WHERE o_orderkey % 100 = 0
    ),
    s AS (
        SELECT COUNT(*) AS total,
               COUNT(CASE WHEN o_custkey IS NOT NULL
                          AND o_custkey NOT IN (SELECT c_custkey FROM customer)
                     THEN 1 END) AS bad
        FROM gold
    )
    SELECT 'DQ007' AS rule_id,
           CASE WHEN bad = 0 THEN 'passed'
                WHEN CAST(total - bad AS DOUBLE) / total < 0.99 THEN 'failed'
                ELSE 'warning' END AS status,
           ROUND(CAST(total - bad AS DOUBLE) / total, 6) AS score,
           total AS records_checked,
           total - bad AS records_passed,
           bad AS records_failed
    FROM s
    """,
    description="DQ007 referential integrity FOR REAL (SURVEY §2.3 Q7): "
    "orders-with-injected-orphans validated against customer via a "
    "left-join orphan probe — the stub passes only when no FK config is "
    "given; with config, orphans are counted and graded.",
)
def quality_fk_integrity_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_data_lakehouse_spark.tables import table

    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    gold = orders.unionByName(
        orders.filter(F.col("o_orderkey") % 100 == 0).select(
            (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
            (F.col("o_custkey") + 9_000_000).alias("o_custkey"),
        )
    )
    customer = table(spark, sf_dir, "customer")
    validator = DataQualityValidator(
        "gold_orders",
        id_field="o_orderkey",
        fk_checks=[("o_custkey", customer, "c_custkey")],
    )
    report = validator.validate(gold, DataZone.GOLD)
    rows = [
        (
            r.rule_id, r.status.value, _round_half_up(r.score, 6),
            r.records_checked, r.records_passed, r.records_failed,
        )
        for r in report.check_results
        if r.rule_id == "DQ007"
    ]
    return spark.createDataFrame(rows, RESULT_SCHEMA)


_SSN_RE = "[0-9]{3}-[0-9]{2}-[0-9]{4}"


@register(
    "quality_redact_pii_documents",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id,
             text || ' ssn 123-45-6789 contact 987-65-4321' AS text
      FROM documents WHERE doc_id % 25 = 0
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_SSN_RE}')) AS BIGINT) AS n_ssn,
           sha256(regexp_replace(text, '{_SSN_RE}', '[SSN]', 'g')) AS text_hash
    FROM docs
    """,
    description="PII redaction for the healthcare zone (reference flags "
    "plaintext SSNs, `src/quality/data_quality.py:590-592`, but never "
    "removes them): count SSN-shaped tokens, redact them, fingerprint "
    "the sanitized text (sha256) for audit. Pure JVM regexp + hash — "
    "scan-speed over 100 TB, no UDF. Fixture docs carry no PII, so the "
    "query injects tainted copies deterministically and proves they "
    "redact to the same hash as their clean source would.",
)
def quality_redact_pii_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_data_lakehouse_spark.tables import table

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    tainted = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" ssn 123-45-6789 contact 987-65-4321")).alias(
            "text"
        ),
    )
    all_docs = docs.unionAll(tainted)
    return all_docs.select(
        "doc_id",
        F.regexp_count("text", F.lit(_SSN_RE)).cast("long").alias("n_ssn"),
        F.sha2(F.regexp_replace("text", _SSN_RE, "[SSN]"), 256).alias("text_hash"),
    )


@register(
    "privacy_pseudonymized_join",
    oracle="""
    WITH o AS (
        SELECT md5('pepper:' || CAST(o_custkey AS VARCHAR)) AS tok,
               o_totalprice
        FROM orders
    ),
    c AS (
        SELECT md5('pepper:' || CAST(c_custkey AS VARCHAR)) AS tok,
               c_mktsegment
        FROM customer
    )
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS n_orders,
           ROUND(SUM(o.o_totalprice), 2) AS revenue
    FROM o JOIN c ON c.tok = o.tok
    GROUP BY c.c_mktsegment
    """,
    description="Pseudonymization that preserves referential integrity: "
    "both sides tokenize the customer key independently with the same "
    "peppered hash (deterministic surrogate, raw id never in the "
    "output schema), then join ON THE TOKEN — revenue per segment "
    "matches the raw-key join exactly (the oracle is that proof). "
    "This is the de-identification pattern the reference's PHI "
    "handling gestures at (src/quality/data_quality.py:839-873 flags "
    "PHI presence; here the engine makes the protected join real). "
    "Hashing adds zero shuffles: the token is computed in the scan "
    "projection on both sides.",
)
def privacy_pseudonymized_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_data_lakehouse_spark.tables import table

    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    o = orders.select(
        F.md5(F.concat(F.lit("pepper:"), F.col("o_custkey").cast("string"))).alias(
            "tok"
        ),
        "o_totalprice",
    )
    c = cust.select(
        F.md5(F.concat(F.lit("pepper:"), F.col("c_custkey").cast("string"))).alias(
            "tok"
        ),
        "c_mktsegment",
    )
    return (
        o.join(F.broadcast(c), "tok")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@register(
    "quality_profile_events_columns",
    oracle="""
    SELECT 'event_id' AS column_name,
           COUNT(*) - COUNT(event_id) AS n_nulls,
           COUNT(DISTINCT event_id) AS n_distinct,
           CAST(MIN(event_id) AS VARCHAR) AS min_value,
           CAST(MAX(event_id) AS VARCHAR) AS max_value
    FROM events
    UNION ALL
    SELECT 'user_id', COUNT(*) - COUNT(user_id), COUNT(DISTINCT user_id),
           CAST(MIN(user_id) AS VARCHAR), CAST(MAX(user_id) AS VARCHAR)
    FROM events
    UNION ALL
    SELECT 'event_type', COUNT(*) - COUNT(event_type), COUNT(DISTINCT event_type),
           CAST(MIN(event_type) AS VARCHAR), CAST(MAX(event_type) AS VARCHAR)
    FROM events
    UNION ALL
    SELECT 'value', COUNT(*) - COUNT(value), COUNT(DISTINCT value),
           CAST(ROUND(MIN(value), 4) AS VARCHAR), CAST(ROUND(MAX(value), 4) AS VARCHAR)
    FROM events
    """,
    description="Dynamic column profiler (the discovery scan a lakehouse "
    "runs on unknown feeds before writing rules): null counts, distinct "
    "cardinality, min/max per column, built FROM THE SCHEMA at plan "
    "time and fused into ONE aggregation pass — the profile of N "
    "columns costs one scan, not N (the reference's per-rule rescan "
    "anti-pattern, src/quality/data_quality.py:337-346, fixed the "
    "same way the quality engine fixes it). Output unpivots to one "
    "row per column for the audit table.",
)
def quality_profile_events_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_data_lakehouse_spark.tables import table

    ev = table(spark, sf_dir, "events")
    cols = ["event_id", "user_id", "event_type", "value"]
    aggs = []
    for c in cols:
        val = F.col(c)
        if c == "value":
            mn, mx = F.round(F.min(val), 4), F.round(F.max(val), 4)
        else:
            mn, mx = F.min(val), F.max(val)
        aggs += [
            (F.count(F.lit(1)) - F.count(val)).alias(f"{c}__nulls"),
            F.count_distinct(val).alias(f"{c}__distinct"),
            mn.cast("string").alias(f"{c}__min"),
            mx.cast("string").alias(f"{c}__max"),
        ]
    one = ev.agg(*aggs)
    profile = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.col(f"{c}__nulls").alias("n_nulls"),
                        F.col(f"{c}__distinct").alias("n_distinct"),
                        F.col(f"{c}__min").alias("min_value"),
                        F.col(f"{c}__max").alias("max_value"),
                    )
                    for c in cols
                ]
            )
        ).alias("p")
    )
    return profile.select("p.*")


@register(
    "privacy_forget_user_erasure",
    oracle="""
    WITH forget AS (
        SELECT DISTINCT user_id FROM events WHERE user_id % 101 = 7
    ),
    ev AS (
        SELECT COUNT(*) AS before_rows,
               CAST(SUM(CASE WHEN user_id % 101 = 7 THEN 1 ELSE 0 END)
                    AS BIGINT) AS erased_rows
        FROM events
    )
    SELECT 'events' AS table_name,
           ev.before_rows,
           ev.erased_rows,
           ev.before_rows - ev.erased_rows AS surviving_rows,
           (SELECT COUNT(*) FROM forget) AS n_subjects
    FROM ev
    """,
    description="Right-to-be-forgotten erasure audit: a deletion-request "
    "cohort (deterministic here; a consent table in deployment) "
    "anti-joined against each fact table, reporting before/erased/"
    "surviving counts per table — the compliance evidence row that "
    "accompanies the physical delete. The scan is one pass with the "
    "membership predicate fused (broadcast the subject list in "
    "deployment); on Delta this pairs with DELETE WHERE + VACUUM to "
    "make the erasure physical, per the retention machinery in "
    "zones.py (vacuum).",
)
def privacy_forget_user_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_data_lakehouse_spark.tables import table

    ev = table(spark, sf_dir, "events")
    is_subject = F.col("user_id") % 101 == 7
    survivors = ev.filter(~is_subject)
    counts = ev.agg(
        F.count(F.lit(1)).alias("before_rows"),
        F.sum(F.when(is_subject, 1).otherwise(0)).alias("erased_rows"),
    )
    n_subjects = (
        ev.filter(is_subject).select("user_id").distinct().agg(
            F.count(F.lit(1)).alias("n_subjects")
        )
    )
    # survivors is the operative erased frame (anti semantics); the audit
    # row proves the arithmetic without collecting it
    return (
        counts.join(F.broadcast(n_subjects))
        .select(
            F.lit("events").alias("table_name"),
            "before_rows",
            "erased_rows",
            (F.col("before_rows") - F.col("erased_rows")).alias("surviving_rows"),
            "n_subjects",
        )
    )


_PARSE_ADM = (
    "COALESCE(try_strptime(admission_date, '%Y-%m-%d'), "
    "try_strptime(admission_date, '%m/%d/%Y'), "
    "try_strptime(admission_date, '%d/%m/%Y'), "
    "try_strptime(admission_date, '%Y%m%d'))"
)
_PARSE_DIS = (
    "COALESCE(try_strptime(discharge_date, '%Y-%m-%d'), "
    "try_strptime(discharge_date, '%m/%d/%Y'), "
    "try_strptime(discharge_date, '%d/%m/%Y'), "
    "try_strptime(discharge_date, '%Y%m%d'))"
)


@register(
    "quality_consistency_rule_discharge",
    oracle=f"""
    WITH {HEALTHCARE_CTE},
    parsed AS (
        SELECT {_PARSE_ADM} AS adm, {_PARSE_DIS} AS dis FROM records
        WHERE admission_date IS NOT NULL AND admission_date <> ''
          AND discharge_date IS NOT NULL AND discharge_date <> ''
    ),
    s AS (
        SELECT COUNT(CASE WHEN adm IS NOT NULL AND dis IS NOT NULL
                     THEN 1 END) AS checked,
               COUNT(CASE WHEN adm IS NOT NULL AND dis IS NOT NULL
                          AND dis < adm THEN 1 END) AS failed
        FROM parsed
    )
    SELECT 'DQ101' AS rule_id,
           CASE WHEN checked = 0 THEN 'passed'
                WHEN CAST(checked - failed AS DOUBLE) / checked < 0.95
                    THEN 'failed'
                WHEN CAST(checked - failed AS DOUBLE) / checked < 0.99
                    THEN 'warning'
                ELSE 'passed' END AS status,
           ROUND(CASE WHEN checked = 0 THEN 1.0
                 ELSE CAST(checked - failed AS DOUBLE) / checked END, 6)
               AS score,
           checked AS records_checked,
           checked - failed AS records_passed,
           failed AS records_failed
    FROM s
    """,
    description="CONSISTENCY-dimension cross-field rule the reference "
    "defines a weight for (1.1, data_quality.py:427-457) but never "
    "ships a rule in: discharge must not precede admission, both parsed "
    "with the T2 four-format chain (a consistency check must parse like "
    "the transforms do, or format dirt masquerades as order violations). "
    "Registered through the same add_rule surface as DQ100, fusing into "
    "the shared single validation scan — cross-FIELD checks cost no "
    "extra pass because they are row-local predicates, unlike "
    "cross-RECORD checks (DQ005) which need a window over the id.",
)
def quality_consistency_rule_discharge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Column
    from healthcare_data_lakehouse_spark.quality import (
        QualityDimension,
        SparkQualityRule,
        threshold_grade,
    )
    from healthcare_data_lakehouse_spark.transforms import DATE_FORMATS

    df = healthcare_frame(spark, sf_dir)
    validator = DataQualityValidator("patients", id_field="id")

    def parsed(col: str) -> Column:
        c = F.col(col)
        populated = c.isNotNull() & (c != "")
        ts = F.coalesce(*[F.try_to_timestamp(c, F.lit(f)) for f in DATE_FORMATS])
        return F.when(populated, ts)

    adm, dis = parsed("admission_date"), parsed("discharge_date")
    both = adm.isNotNull() & dis.isNotNull()

    validator.add_rule(SparkQualityRule(
        "DQ101", "discharge_not_before_admission",
        "Cross-field consistency: discharge_date >= admission_date when "
        "both parse under the standard four-format chain",
        QualityDimension.CONSISTENCY, "major",
        [DataZone.SILVER], rows=lambda df: (both, both & (dis < adm)),
        grade=threshold_grade(
            0.95, 0.99, "{failed}/{checked} stays discharge before admission"),
    ))
    report = validator.validate(df, DataZone.SILVER, required_fields=REQUIRED)
    rows = [
        (
            r.rule_id, r.status.value, _round_half_up(r.score, 6),
            r.records_checked, r.records_passed, r.records_failed,
        )
        for r in report.check_results
        if r.rule_id == "DQ101"
    ]
    return spark.createDataFrame(rows, RESULT_SCHEMA)


# ------------------------------------------- cross-table reconciliation
@register(
    "quality_order_lineitem_reconciliation",
    oracle=f"""
    WITH li AS (
        SELECT l_orderkey,
               SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax))
                   AS li_total
        FROM lineitem GROUP BY l_orderkey
    ),
    j AS (
        SELECT o.o_orderkey, o.o_totalprice, li.li_total,
               CASE WHEN li.li_total IS NULL THEN 'missing_lineitems'
                    WHEN abs(o.o_totalprice - li.li_total)
                         <= 0.01 * abs(o.o_totalprice) THEN 'within_1pct'
                    WHEN abs(o.o_totalprice - li.li_total)
                         <= 0.10 * abs(o.o_totalprice) THEN 'within_10pct'
                    ELSE 'mismatch' END AS recon_class
        FROM orders o LEFT JOIN li ON o.o_orderkey = li.l_orderkey
    )
    SELECT recon_class,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {dround_sql("AVG(CASE WHEN li_total IS NOT NULL THEN abs(o_totalprice - li_total) END)", 4)} AS avg_abs_gap
    FROM j GROUP BY recon_class
    """,
    description="Cross-table reconciliation: order headers vs the "
    "recomputed lineitem rollup (extprice x (1-disc) x (1+tax)), "
    "classified into tolerance bands with missing-detail detection — the "
    "ledger-vs-detail audit every warehouse runs. One detail-side "
    "groupBy + one key join; both shuffle on the same key so AQE "
    "co-partitions them.",
)
def quality_order_lineitem_reconciliation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from healthcare_data_lakehouse_spark.tables import table as _table

    orders = _table(spark, sf_dir, "orders")
    li = (
        _table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
            ).alias("li_total")
        )
    )
    j = orders.join(li, orders.o_orderkey == li.l_orderkey, "left")
    gap = F.abs(F.col("o_totalprice") - F.col("li_total"))
    cls = (
        F.when(F.col("li_total").isNull(), "missing_lineitems")
        .when(gap <= 0.01 * F.abs(F.col("o_totalprice")), "within_1pct")
        .when(gap <= 0.10 * F.abs(F.col("o_totalprice")), "within_10pct")
        .otherwise("mismatch")
    )
    return (
        j.select(cls.alias("recon_class"), "o_totalprice", "li_total")
        .groupBy("recon_class")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            dround(
                F.avg(
                    F.when(
                        F.col("li_total").isNotNull(),
                        F.abs(F.col("o_totalprice") - F.col("li_total")),
                    )
                ),
                4,
            ).alias("avg_abs_gap"),
        )
    )


# ------------------------------------------- expectation suite
_EXPECTATIONS = [
    ("row_count_between", "COUNT(*) BETWEEN 100 AND 1000000000"),
    ("value_mean_between", "AVG(value) BETWEEN 10.0 AND 10000.0"),
    ("event_type_in_set",
     "SUM(CASE WHEN event_type NOT IN "
     "('view','click','purchase','signup','error') THEN 1 ELSE 0 END) = 0"),
    ("user_id_never_null", "SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) = 0"),
    ("event_id_unique", "COUNT(DISTINCT event_id) = COUNT(*)"),
    ("ts_no_future", "MAX(ts) <= TIMESTAMP '2030-01-01'"),
    ("value_non_negative_frac",
     "AVG(CASE WHEN value >= 0 THEN 1.0 ELSE 0.0 END) >= 0.99"),
]


@register(
    "quality_expectation_suite_events",
    oracle="\n    UNION ALL\n".join(
        f"""    SELECT '{name}' AS expectation,
           CAST(CASE WHEN ({agg}) THEN 1 ELSE 0 END AS INT) AS passed
    FROM events"""
        for name, agg in _EXPECTATIONS
    ),
    description="Great-Expectations-style suite over the events table: "
    "row-count bounds, mean bounds, value-set membership, null checks, "
    "uniqueness, future-timestamp and non-negativity tolerance — each "
    "expectation an aggregate predicate, ALL evaluated against shared "
    "scans (Catalyst collapses the per-expectation aggregates; at scale "
    "fuse them into one agg like quality.py's fused validator). The "
    "read-side twin of the ZoneStore's write-side CHECK constraints.",
)
def quality_expectation_suite_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from healthcare_data_lakehouse_spark.tables import table as _table

    ev = _table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("_exp_events")
    parts = [
        f"""SELECT '{name}' AS expectation,
               CAST(CASE WHEN ({agg}) THEN 1 ELSE 0 END AS INT) AS passed
        FROM _exp_events"""
        for name, agg in _EXPECTATIONS
    ]
    return spark.sql("\nUNION ALL\n".join(parts))


# ------------------------------------------- full-row duplicate audit
@register(
    "quality_duplicate_full_rows_events",
    oracle="""
    WITH h AS (
        SELECT event_id, ts, user_id, event_type, value, props,
               COUNT(*) AS n
        FROM events
        GROUP BY event_id, ts, user_id, event_type, value, props
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS distinct_rows,
           CAST(SUM(n) AS BIGINT) AS total_rows,
           CAST(SUM(CASE WHEN n > 1 THEN n - 1 ELSE 0 END) AS BIGINT)
               AS duplicate_rows,
           CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS duplicated_groups,
           CAST(MAX(n) AS BIGINT) AS max_multiplicity
    FROM h
    """,
    description="Full-row duplicate audit: group on every column at once "
    "(the all-column hash groupBy every ingestion pipeline runs after a "
    "suspected double-load), reporting distinct/total/excess rows and "
    "the worst multiplicity. One map-side-combinable agg; at 100 TB "
    "group on xxhash64(struct(*)) first so only 8-byte keys shuffle.",
)
def quality_duplicate_full_rows_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from healthcare_data_lakehouse_spark.tables import table as _table

    ev = _table(spark, sf_dir, "events")
    h = ev.groupBy(*ev.columns).agg(F.count("*").alias("n"))
    return h.agg(
        F.count("*").cast("bigint").alias("distinct_rows"),
        F.sum("n").cast("bigint").alias("total_rows"),
        F.sum(F.when(F.col("n") > 1, F.col("n") - 1).otherwise(0))
        .cast("bigint")
        .alias("duplicate_rows"),
        F.sum((F.col("n") > 1).cast("int")).cast("bigint").alias(
            "duplicated_groups"
        ),
        F.max("n").cast("bigint").alias("max_multiplicity"),
    )


# ------------------------------------------- DQ rule mining (bounds)
_RULE_MINE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _rule_mine_oracle() -> str:
    parts = []
    for c in _RULE_MINE_COLS:
        parts.append(f"""
    SELECT '{c}' AS column_name,
           (SELECT MIN(v) FROM (
               SELECT {c} AS v,
                      CAST(SUM(COUNT(*)) OVER (ORDER BY {c}) AS DOUBLE)
                          / (SELECT COUNT(*) FROM lineitem) AS cum
               FROM lineitem GROUP BY {c}
           ) WHERE cum >= 0.01) AS lo_p1,
           (SELECT MIN(v) FROM (
               SELECT {c} AS v,
                      CAST(SUM(COUNT(*)) OVER (ORDER BY {c}) AS DOUBLE)
                          / (SELECT COUNT(*) FROM lineitem) AS cum
               FROM lineitem GROUP BY {c}
           ) WHERE cum >= 0.99) AS hi_p99""")
    return "\n    UNION ALL\n".join(parts)


@register(
    "quality_rule_mining_bounds",
    oracle=_rule_mine_oracle(),
    description="DQ rule mining: suggested [p1, p99] validity bounds per "
    "numeric column as EXACT order statistics from distinct-value counts "
    "+ a cumulative-share prefix sum (first value crossing each "
    "percentile — no quantile interpolation, so both engines agree "
    "bit-for-bit). The auto-profiling step that seeds range rules like "
    "the reference's DQ006 clinical bounds instead of hand-writing them.",
)
def quality_rule_mining_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as _W
    from healthcare_data_lakehouse_spark.tables import table as _table

    li = _table(spark, sf_dir, "lineitem")
    total = li.count()
    out = None
    for c in _RULE_MINE_COLS:
        vc = li.groupBy(F.col(c).alias("v")).agg(F.count("*").alias("n"))
        wc = _W.orderBy("v").rowsBetween(_W.unboundedPreceding, 0)
        cum = vc.select(
            "v", (F.sum("n").over(wc).cast("double") / total).alias("cum")
        )
        row = cum.agg(
            F.lit(c).alias("column_name"),
            F.min(F.when(F.col("cum") >= 0.01, F.col("v"))).alias("lo_p1"),
            F.min(F.when(F.col("cum") >= 0.99, F.col("v"))).alias("hi_p99"),
        )
        out = row if out is None else out.unionAll(row)
    return out


# ------------------------------------------------- round 5: k-anonymity
@register(
    "privacy_k_anonymity_audit",
    oracle="""
    WITH qi AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS acctbal_band,
               COUNT(*) AS grp_n
        FROM customer
        GROUP BY 1, 2, 3
    ),
    tot AS (SELECT SUM(grp_n) AS n_rows FROM qi)
    SELECT CAST(grp_n AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(grp_n) AS BIGINT) AS n_rows,
           ROUND(CAST(SUM(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END)
                      AS DOUBLE) / tot.n_rows, 6) AS at_risk_share
    FROM qi CROSS JOIN tot
    GROUP BY grp_n, tot.n_rows
    """,
    description="k-anonymity audit over the quasi-identifier tuple "
    "(nation, market segment, account-balance band): group-size "
    "distribution of QI equivalence classes plus the share of rows "
    "sitting in classes smaller than k=5 — the re-identification-risk "
    "readout that gates a dataset release (HIPAA Safe-Harbor-style "
    "generalization check). Banding the continuous column is the "
    "generalization step; the audit itself is two aggregations "
    "(QI grain, then group-size grain) and a broadcast scalar — at "
    "100 TB the QI table is the only shuffle and it partitions on the "
    "QI key. Complements privacy_pseudonymized_join (safe linking) and "
    "privacy_forget_user_erasure (deletion): release-risk measurement.",
)
def privacy_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_data_lakehouse_spark.tables import table

    cust = table(spark, sf_dir, "customer")
    qi = cust.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000.0).cast("bigint").alias("acctbal_band"),
    ).agg(F.count(F.lit(1)).alias("grp_n"))
    tot = qi.agg(F.sum("grp_n").alias("n_rows_total"))
    return (
        qi.crossJoin(F.broadcast(tot))
        .groupBy(F.col("grp_n").cast("bigint").alias("k"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum("grp_n").cast("bigint").alias("n_rows"),
            dround(
                F.sum(F.when(F.col("grp_n") < 5, F.col("grp_n")).otherwise(0))
                .cast("double")
                / F.first("n_rows_total"),
                6,
            ).alias("at_risk_share"),
        )
    )


@register(
    "privacy_l_diversity_audit",
    oracle="""
    WITH banded AS (
        SELECT c_nationkey, c_mktsegment,
               CASE
                 WHEN c_acctbal < 0 THEN 'neg'
                 WHEN c_acctbal < 3000 THEN 'low'
                 WHEN c_acctbal < 7000 THEN 'mid'
                 ELSE 'high'
               END AS balance_band
        FROM customer
    )
    SELECT c_nationkey, c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS k_size,
           CAST(COUNT(DISTINCT balance_band) AS BIGINT) AS l_distinct,
           CAST(COUNT(DISTINCT balance_band) < 3 AS INT) AS below_l3
    FROM banded
    GROUP BY c_nationkey, c_mktsegment
    ORDER BY c_nationkey, c_mktsegment
    """,
    description="l-diversity audit, the companion to "
    "privacy_k_anonymity_audit: k-anonymity alone fails when everyone "
    "in an equivalence class shares the SAME sensitive value "
    "(homogeneity attack, Machanavajjhala et al. '07). Per "
    "quasi-identifier class (nation x market segment), count members "
    "(k) and DISTINCT sensitive values (l, account-balance band); "
    "classes with l < 3 leak the band through the quasi-identifiers "
    "alone. One groupBy with partial aggregation — the class table is "
    "QI-cardinality-sized regardless of row count, so the audit is "
    "one shuffle at any scale.",
)
def privacy_l_diversity_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from healthcare_data_lakehouse_spark.tables import table

    cust = table(spark, sf_dir, "customer")
    band = (
        F.when(F.col("c_acctbal") < 0, F.lit("neg"))
        .when(F.col("c_acctbal") < 3000, F.lit("low"))
        .when(F.col("c_acctbal") < 7000, F.lit("mid"))
        .otherwise(F.lit("high"))
    )
    return (
        cust.select("c_nationkey", "c_mktsegment", band.alias("balance_band"))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("k_size"),
            F.countDistinct("balance_band").cast("bigint").alias("l_distinct"),
        )
        .withColumn(
            "below_l3", (F.col("l_distinct") < 3).cast("int")
        )
        .orderBy("c_nationkey", "c_mktsegment")
    )


@register(
    "quality_null_pattern_clusters",
    oracle="WITH "
    + HEALTHCARE_CTE
    + """
    , pat AS (
        SELECT (CASE WHEN patient_id IS NULL THEN '1' ELSE '0' END
             || CASE WHEN birth_date IS NULL THEN '1' ELSE '0' END
             || CASE WHEN discharge_date IS NULL THEN '1' ELSE '0' END
             || CASE WHEN age IS NULL THEN '1' ELSE '0' END
             || CASE WHEN patient_name IS NULL THEN '1' ELSE '0' END
             || CASE WHEN ssn IS NULL THEN '1' ELSE '0' END) AS null_pattern
        FROM records
    ),
    tot AS (SELECT COUNT(*) AS n FROM pat)
    SELECT null_pattern,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(ROUND(CAST(CAST(COUNT(*) AS DOUBLE) / n AS DECIMAL(38,8)), 6)
                AS DOUBLE) AS share
    FROM pat, tot
    GROUP BY null_pattern, n
    ORDER BY null_pattern
    """,
    description="Null-pattern mining (data-profiling classic): collapse "
    "every row to its missingness bitmask over the six nullable "
    "healthcare fields and count pattern frequencies — co-occurring "
    "nulls expose upstream extraction bugs (a whole segment dropped) "
    "that per-column null rates average away. One narrow scan + one "
    "groupBy whose cardinality is bounded by 2^6 regardless of row "
    "count; the pattern string is computed JVM-side, no UDF.",
)
def quality_null_pattern_clusters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from healthcare_data_lakehouse_spark.fixtures import healthcare_frame

    frame = healthcare_frame(spark, sf_dir)
    bit = lambda c: F.when(F.col(c).isNull(), F.lit("1")).otherwise(  # noqa: E731
        F.lit("0")
    )
    pat = frame.select(
        F.concat(
            bit("patient_id"),
            bit("birth_date"),
            bit("discharge_date"),
            bit("age"),
            bit("patient_name"),
            bit("ssn"),
        ).alias("null_pattern")
    )
    tot = pat.agg(F.count(F.lit(1)).alias("n"))
    return (
        pat.groupBy("null_pattern")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        .crossJoin(F.broadcast(tot))
        .select(
            "null_pattern",
            "n_rows",
            dround(F.col("n_rows").cast("double") / F.col("n"), 6).alias(
                "share"
            ),
        )
        .orderBy("null_pattern")
    )


# --------------------------------- differentially-private histogram
_DP_EPS = 1.0
_DP_SCALE = float(2**48)


@register(
    "privacy_dp_laplace_histogram",
    oracle=f"""
    WITH hist AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS true_count
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    noised AS (
        SELECT event_type, day, true_count,
               CAST(('0x' || substr(md5(event_type || ':'
                    || CAST(day AS VARCHAR)), 1, 12)) AS BIGINT)
                   / {_DP_SCALE} AS u
        FROM hist
    )
    SELECT event_type, day, true_count,
           {dround_sql(
               "CASE WHEN u < 0.5 "
               f"THEN ln(greatest(2 * u, 1e-12)) / {_DP_EPS} "
               f"ELSE -ln(greatest(2 * (1 - u), 1e-12)) / {_DP_EPS} END", 6)}
               AS noise,
           {dround_sql(
               "true_count + (CASE WHEN u < 0.5 "
               f"THEN ln(greatest(2 * u, 1e-12)) / {_DP_EPS} "
               f"ELSE -ln(greatest(2 * (1 - u), 1e-12)) / {_DP_EPS} END)", 6)}
               AS noisy_count
    FROM noised
    """,
    description="Differentially-private daily event histogram "
    "(eps=1.0, sensitivity 1): per (event_type, day) cell, Laplace "
    "noise drawn by inverse-CDF from a portable md5-derived uniform "
    "(cell-keyed, so the draw is reproducible — this query audits the "
    "MECHANISM's utility: noise magnitude and noisy-vs-true error per "
    "cell; production release would key the uniform by a secret seed). "
    "The histogram is ONE groupBy with map-side combine at any scale; "
    "the noise is a per-row scalar expression on the dim-sized "
    "aggregate, no second pass. The piecewise inverse CDF "
    "sign(u-.5)*ln(...) keeps one ln per cell; the 1e-12 floor guards "
    "the measure-zero u=0 endpoint.",
)
def privacy_dp_laplace_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from healthcare_data_lakehouse_spark.tables import table

    ev = table(spark, sf_dir, "events")
    hist = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("true_count"))
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("event_type"),
                        F.lit(":"),
                        F.col("day").cast("string"),
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(_DP_SCALE)
    )
    noise = F.when(
        F.col("u") < 0.5,
        F.log(F.greatest(2 * F.col("u"), F.lit(1e-12))) / _DP_EPS,
    ).otherwise(
        -F.log(F.greatest(2 * (1 - F.col("u")), F.lit(1e-12))) / _DP_EPS
    )
    return hist.withColumn("u", u).select(
        "event_type",
        "day",
        "true_count",
        dround(noise, 6).alias("noise"),
        dround(F.col("true_count") + noise, 6).alias("noisy_count"),
    )


# -------------------------------------------- t-closeness audit
@register(
    "privacy_t_closeness_audit",
    oracle=f"""
    WITH banded AS (
        SELECT c_nationkey, c_mktsegment,
               CASE
                 WHEN c_acctbal < 0 THEN 0
                 WHEN c_acctbal < 3000 THEN 1
                 WHEN c_acctbal < 7000 THEN 2
                 ELSE 3
               END AS band
        FROM customer
    ),
    g AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(*) FILTER (WHERE band <= 0) AS BIGINT) AS c0,
               CAST(COUNT(*) FILTER (WHERE band <= 1) AS BIGINT) AS c1,
               CAST(COUNT(*) FILTER (WHERE band <= 2) AS BIGINT) AS c2
        FROM banded GROUP BY c_nationkey, c_mktsegment
    ),
    gtot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS nn,
               CAST(COUNT(*) FILTER (WHERE band <= 0) AS BIGINT) AS g0,
               CAST(COUNT(*) FILTER (WHERE band <= 1) AS BIGINT) AS g1,
               CAST(COUNT(*) FILTER (WHERE band <= 2) AS BIGINT) AS g2
        FROM banded
    )
    SELECT g.c_nationkey, g.c_mktsegment, g.n AS n_rows,
           {dround_sql(
               "(ABS(CAST(g.c0 AS DOUBLE) / g.n - CAST(x.g0 AS DOUBLE) / x.nn)"
               " + ABS(CAST(g.c1 AS DOUBLE) / g.n - CAST(x.g1 AS DOUBLE) / x.nn)"
               " + ABS(CAST(g.c2 AS DOUBLE) / g.n - CAST(x.g2 AS DOUBLE) / x.nn))"
               " / 3", 6)} AS t_emd,
           CAST((ABS(CAST(g.c0 AS DOUBLE) / g.n - CAST(x.g0 AS DOUBLE) / x.nn)
               + ABS(CAST(g.c1 AS DOUBLE) / g.n - CAST(x.g1 AS DOUBLE) / x.nn)
               + ABS(CAST(g.c2 AS DOUBLE) / g.n - CAST(x.g2 AS DOUBLE) / x.nn))
               / 3 <= 0.2 AS BOOLEAN) AS t_close_02
    FROM g CROSS JOIN gtot x
    """,
    description="t-closeness audit over the same quasi-identifier "
    "groups and ordered sensitive attribute as the k-anonymity / "
    "l-diversity audits (QI = nation x mktsegment, sensitive = 4 "
    "ordered balance bands): per group, the ordered-attribute Earth "
    "Mover's Distance between the group's band distribution and the "
    "global one — EMD over an ordered domain is the mean absolute "
    "cumulative-share gap, so with a FIXED 4-band domain it pivots to "
    "three integer cumulative counts per group and the published "
    "number is a fixed scalar expression over exact BIGINTs (no "
    "aggregation of floats anywhere). Completes the Sweeney/"
    "Machanavajjhala/Li privacy-audit triple: k-anonymity bounds "
    "re-identification, l-diversity bounds attribute disclosure from "
    "missing variety, t-closeness bounds it from skewed variety. One "
    "scan, one groupBy; the global distribution broadcasts.",
)
def privacy_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_data_lakehouse_spark.tables import table

    cust = table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.when(F.col("c_acctbal") < 0, 0)
        .when(F.col("c_acctbal") < 3000, 1)
        .when(F.col("c_acctbal") < 7000, 2)
        .otherwise(3)
        .alias("band"),
    )

    def cums(prefix: str) -> list:
        return [
            F.count(F.when(F.col("band") <= i, 1))
            .cast("bigint")
            .alias(f"{prefix}{i}")
            for i in range(3)
        ]

    g = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"), *cums("c")
    )
    glob = cust.agg(
        F.count(F.lit(1)).cast("bigint").alias("nn"), *cums("g")
    )
    emd = (
        sum(
            F.abs(
                F.col(f"c{i}").cast("double") / F.col("n")
                - F.col(f"g{i}").cast("double") / F.col("nn")
            )
            for i in range(3)
        )
        / 3
    )
    return g.crossJoin(F.broadcast(glob)).select(
        "c_nationkey",
        "c_mktsegment",
        F.col("n").alias("n_rows"),
        dround(emd, 6).alias("t_emd"),
        (emd <= 0.2).cast("boolean").alias("t_close_02"),
    )


# --------------------------- semantic type inference
@register(
    "quality_semantic_type_inference",
    oracle=f"""
    WITH {HEALTHCARE_CTE},
    cols AS (
        SELECT 'patient_id' AS col, patient_id AS v FROM records
        UNION ALL SELECT 'birth_date', birth_date FROM records
        UNION ALL SELECT 'admission_date', admission_date FROM records
        UNION ALL SELECT 'ssn', ssn FROM records
        UNION ALL SELECT 'diagnosis_code', diagnosis_code FROM records
    ),
    scored AS (
        SELECT col,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(v) AS BIGINT) AS n_nonnull,
               CAST(SUM(CASE WHEN regexp_matches(trim(v),
                    '^MRN[0-9]{{9}}$') THEN 1 ELSE 0 END) AS BIGINT) AS n_mrn,
               CAST(SUM(CASE WHEN regexp_matches(trim(v),
                    '^[0-9]{{4}}-[0-9]{{2}}-[0-9]{{2}}$') THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_iso_date,
               CAST(SUM(CASE WHEN regexp_matches(trim(v),
                    '^[0-9]{{3}}-[0-9]{{2}}-[0-9]{{4}}$') THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_ssn,
               CAST(SUM(CASE WHEN regexp_matches(trim(v),
                    '^[A-Za-z][0-9.]+$') THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_code
        FROM cols GROUP BY col
    )
    SELECT col, n_rows, n_nonnull,
           {dround_sql("CAST(n_mrn AS DOUBLE) / n_nonnull", 4)} AS mrn_share,
           {dround_sql("CAST(n_iso_date AS DOUBLE) / n_nonnull", 4)}
               AS iso_date_share,
           {dround_sql("CAST(n_ssn AS DOUBLE) / n_nonnull", 4)} AS ssn_share,
           {dround_sql("CAST(n_code AS DOUBLE) / n_nonnull", 4)} AS code_share,
           CASE GREATEST(n_mrn, n_iso_date, n_ssn, n_code)
                WHEN 0 THEN 'unknown'
                WHEN n_mrn THEN 'mrn'
                WHEN n_iso_date THEN 'iso_date'
                WHEN n_ssn THEN 'ssn'
                ELSE 'code' END AS inferred_type
    FROM scored
    """,
    description="Semantic type inference over the dirty healthcare "
    "columns: per-column match shares against candidate value patterns "
    "(MRN id, ISO date, SSN, alphanumeric code) with argmax-wins "
    "inference — the schema-on-read discovery step that tells a data "
    "catalog WHAT a string column holds before any rule (DQ002 format "
    "checks, PII redaction) can be assigned to it; the dirty-injection "
    "rates make the shares a fixture-pinned contract. One stacked "
    "union scan (5 columns x one regexp each) + a column-grain agg; "
    "GREATEST ties break by candidate priority, identical in both "
    "engines.",
)
def quality_semantic_type_inference(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    df = healthcare_frame(spark, sf_dir)
    cols = None
    for c in ["patient_id", "birth_date", "admission_date", "ssn", "diagnosis_code"]:
        part = df.select(F.lit(c).alias("col"), F.col(c).cast("string").alias("v"))
        cols = part if cols is None else cols.unionByName(part)
    tv = F.trim(F.col("v"))
    pats = {
        "n_mrn": r"^MRN[0-9]{9}$",
        "n_iso_date": r"^[0-9]{4}-[0-9]{2}-[0-9]{2}$",
        "n_ssn": r"^[0-9]{3}-[0-9]{2}-[0-9]{4}$",
        "n_code": r"^[A-Za-z][0-9.]+$",
    }
    scored = cols.groupBy("col").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count("v").cast("bigint").alias("n_nonnull"),
        *[
            F.sum(tv.rlike(p).cast("int")).cast("bigint").alias(name)
            for name, p in pats.items()
        ],
    )
    best = F.greatest("n_mrn", "n_iso_date", "n_ssn", "n_code")
    return scored.select(
        "col",
        "n_rows",
        "n_nonnull",
        dround(F.col("n_mrn").cast("double") / F.col("n_nonnull"), 4).alias(
            "mrn_share"
        ),
        dround(
            F.col("n_iso_date").cast("double") / F.col("n_nonnull"), 4
        ).alias("iso_date_share"),
        dround(F.col("n_ssn").cast("double") / F.col("n_nonnull"), 4).alias(
            "ssn_share"
        ),
        dround(F.col("n_code").cast("double") / F.col("n_nonnull"), 4).alias(
            "code_share"
        ),
        F.when(best == 0, "unknown")
        .when(best == F.col("n_mrn"), "mrn")
        .when(best == F.col("n_iso_date"), "iso_date")
        .when(best == F.col("n_ssn"), "ssn")
        .otherwise("code")
        .alias("inferred_type"),
    )
