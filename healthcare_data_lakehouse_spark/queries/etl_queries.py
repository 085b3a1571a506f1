"""Transform, load-pattern, and full-pipeline queries (SURVEY.md §2.1/2.2/2.6).

These entries exercise the REAL engine components — the transform registry,
the ZoneStore load patterns, the ETL manager's quality-gated pipeline — and
hash-compare their outputs against DuckDB SQL that restates the semantics
independently.

T2 oracle parity notes: the reference tries ``%Y-%m-%d, %m/%d/%Y, %d/%m/%Y,
%Y%m%d`` in order, first parse wins, unparseable passes through
(``src/etl/etl_manager.py:507-519``); DuckDB's ``try_strptime`` chain
mirrors Spark's ``try_to_timestamp`` chain exactly (both NULL on mismatch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from healthcare_data_lakehouse_spark import transforms as T
from healthcare_data_lakehouse_spark.fixtures import HEALTHCARE_CTE, healthcare_frame
from healthcare_data_lakehouse_spark.functions import dround
from healthcare_data_lakehouse_spark.queries.catalog import register
from healthcare_data_lakehouse_spark.scratch import scratch_dir
from healthcare_data_lakehouse_spark.tables import table
from healthcare_data_lakehouse_spark.zones import DataZone, LoadType, ZoneStore

__all__: list[str] = []


# SQL fragment: T2 chain for one column (DuckDB side).
def _t2_sql(col: str) -> str:
    parsed = (
        f"COALESCE(try_strptime({col}, '%Y-%m-%d'), try_strptime({col}, '%m/%d/%Y'), "
        f"try_strptime({col}, '%d/%m/%Y'), try_strptime({col}, '%Y%m%d'))"
    )
    return (
        f"CASE WHEN {col} IS NOT NULL AND {col} <> '' AND {parsed} IS NOT NULL "
        f"THEN strftime({parsed}, '%Y-%m-%d') ELSE {col} END"
    )


# ----------------------------------------------------------------- T1
@register(
    "transform_dedup_first_wins",
    oracle="""
    SELECT l_orderkey AS id, l_linenumber, l_partkey, l_quantity
    FROM (
        SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
               ROW_NUMBER() OVER (
                   PARTITION BY l_orderkey
                   ORDER BY l_linenumber, l_partkey, l_suppkey
               ) AS rn
        FROM lineitem
    ) WHERE rn = 1
    """,
    description="T1 first-wins dedup (reference etl_manager.py:482-496): "
    "keep the first row per id in ingest order (= l_linenumber here).",
)
def transform_dedup_first_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").alias("id"),
            "l_linenumber",
            "l_partkey",
            "l_suppkey",
            "l_quantity",
        )
        # explicit deterministic ingest-order stand-in; (linenumber,
        # partkey, suppkey) is unique within an order in this fixture
        .withColumn(
            T.INGEST_ORDER_COL,
            (
                F.col("l_linenumber").cast("long") * 1_000_000_000
                + F.col("l_partkey").cast("long") * 10_000
                + F.col("l_suppkey").cast("long")
            ),
        )
    )
    return T.deduplicate(li).drop(T.INGEST_ORDER_COL, "l_suppkey")


# ----------------------------------------------------------------- T2
@register(
    "transform_standardize_dates",
    oracle=f"""
    WITH {HEALTHCARE_CTE}
    SELECT id, {_t2_sql('birth_date')} AS birth_date,
           {_t2_sql('admission_date')} AS admission_date
    FROM records
    """,
    description="T2 date standardization: 4-format precedence chain, "
    "first parse wins, junk passes through (etl_manager.py:498-522).",
)
def transform_standardize_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = healthcare_frame(spark, sf_dir)
    return T.standardize_dates(df).select("id", "birth_date", "admission_date")


# ------------------------------------------------------- T3 + T4 + T5
@register(
    "transform_clean_pipeline",
    oracle=f"""
    WITH {HEALTHCARE_CTE},
    trimmed AS (
        SELECT id, trim(patient_id) AS patient_id, trim(birth_date) AS birth_date,
               trim(diagnosis_code) AS diagnosis_code,
               trim(patient_name) AS patient_name, trim(ssn) AS ssn,
               trim(address) AS address
        FROM records
    ),
    nulled AS (
        SELECT id, patient_id, birth_date, diagnosis_code, patient_name, ssn,
               CASE WHEN address IN ('', 'NULL', 'null', 'N/A', 'n/a', 'NA',
                                     'None', 'none')
                    THEN NULL ELSE address END AS address
        FROM trimmed
    )
    SELECT id, patient_id, birth_date,
           CASE WHEN diagnosis_code IS NOT NULL AND diagnosis_code <> ''
                THEN trim(upper(diagnosis_code)) ELSE diagnosis_code END
               AS diagnosis_code,
           patient_name, ssn, address
    FROM nulled
    """,
    description="T4 trim_strings -> T5 null_handling -> T3 uppercase_codes "
    "chain in config order (etl_manager.py:253-262): whitespace stripped, "
    "'N/A' sentinels nulled, codes uppercased.",
)
def transform_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = healthcare_frame(spark, sf_dir).select(
        "id", "patient_id", "birth_date", "diagnosis_code",
        "patient_name", "ssn", "address",
    )
    reg = T.standard_registry("1970-01-01T00:00:00")
    return reg.apply(df, ["trim_strings", "null_handling", "uppercase_codes"])


# ---------------------------------------------------------- L4 MERGE
@register(
    "load_merge_upsert",
    oracle="""
    WITH target AS (
        SELECT o_orderkey AS id, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 3 <> 0
    ),
    source AS (
        SELECT o_orderkey AS id, o_totalprice * 2 AS o_totalprice,
               'U' AS o_orderstatus
        FROM orders WHERE o_orderkey % 2 = 0
    )
    SELECT id, ROUND(o_totalprice, 2) AS totalprice, o_orderstatus AS status
    FROM (
        SELECT * FROM source
        UNION ALL
        SELECT t.* FROM target t ANTI JOIN source s ON t.id = s.id
    )
    """,
    description="L4 MERGE upsert through the real ZoneStore "
    "(etl_manager.py:456-467): matched ids replaced, new ids appended.",
)
def load_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    target = orders.filter(F.col("o_orderkey") % 3 != 0).select(
        F.col("o_orderkey").alias("id"), "o_totalprice", "o_orderstatus"
    )
    source = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("id"),
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
        F.lit("U").alias("o_orderstatus"),
    )
    store = ZoneStore(spark, scratch_dir("zs_merge_"))
    store.write(DataZone.SILVER, "orders_m", target, LoadType.FULL)
    store.write(DataZone.SILVER, "orders_m", source, LoadType.MERGE)
    out = store.read(DataZone.SILVER, "orders_m")
    return out.select(
        "id",
        F.round("o_totalprice", 2).alias("totalprice"),
        F.col("o_orderstatus").alias("status"),
    )


# ---------------------------------------------------- L5 INCREMENTAL
@register(
    "load_incremental_append_new",
    oracle="""
    WITH target AS (
        SELECT o_orderkey AS id, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 3 <> 0
    ),
    source AS (
        SELECT o_orderkey AS id, o_totalprice, 'NEW' AS o_orderstatus
        FROM orders WHERE o_orderkey % 2 = 0
    )
    SELECT id, ROUND(o_totalprice, 2) AS totalprice, o_orderstatus AS status
    FROM (
        SELECT * FROM target
        UNION ALL
        SELECT s.* FROM source s ANTI JOIN target t ON s.id = t.id
    )
    """,
    description="L5 INCREMENTAL through the real ZoneStore "
    "(etl_manager.py:468-476): only ids absent from the target append; "
    "existing rows never touched.",
)
def load_incremental_append_new(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    target = orders.filter(F.col("o_orderkey") % 3 != 0).select(
        F.col("o_orderkey").alias("id"), "o_totalprice", "o_orderstatus"
    )
    source = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("id"),
        "o_totalprice",
        F.lit("NEW").alias("o_orderstatus"),
    )
    store = ZoneStore(spark, scratch_dir("zs_incr_"))
    store.write(DataZone.SILVER, "orders_i", target, LoadType.FULL)
    store.write(DataZone.SILVER, "orders_i", source, LoadType.INCREMENTAL)
    out = store.read(DataZone.SILVER, "orders_i")
    return out.select(
        "id",
        F.round("o_totalprice", 2).alias("totalprice"),
        F.col("o_orderstatus").alias("status"),
    )


# ------------------------------------------------------- L3 APPEND
@register(
    "load_append_inserts_all",
    oracle="""
    WITH target AS (
        SELECT o_orderkey AS id, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 3 <> 0
    ),
    source AS (
        SELECT o_orderkey AS id, o_totalprice, 'APP' AS o_orderstatus
        FROM orders WHERE o_orderkey % 2 = 0
    )
    SELECT id, ROUND(o_totalprice, 2) AS totalprice, o_orderstatus AS status
    FROM (
        SELECT * FROM target
        UNION ALL
        SELECT * FROM source
    )
    """,
    description="L3 APPEND through the real ZoneStore "
    "(etl_manager.py:454-455): every source row lands as a new commit — "
    "no matching, no dedup, overlapping ids intentionally duplicated "
    "(the contract that distinguishes APPEND from INCREMENTAL/MERGE).",
)
def load_append_inserts_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    target = orders.filter(F.col("o_orderkey") % 3 != 0).select(
        F.col("o_orderkey").alias("id"), "o_totalprice", "o_orderstatus"
    )
    source = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("id"),
        "o_totalprice",
        F.lit("APP").alias("o_orderstatus"),
    )
    store = ZoneStore(spark, scratch_dir("zs_app_"))
    store.write(DataZone.SILVER, "orders_a", target, LoadType.FULL)
    store.write(DataZone.SILVER, "orders_a", source, LoadType.APPEND)
    out = store.read(DataZone.SILVER, "orders_a")
    return out.select(
        "id",
        F.round("o_totalprice", 2).alias("totalprice"),
        F.col("o_orderstatus").alias("status"),
    )


# --------------------------------------------------- P1 full pipeline
# Quarantine predicates for the healthcare frame at SILVER, as data-derived
# by the quality engine: DQ001 (patient_id null), DQ003 (bad id format),
# DQ006 (clinical range) FAIL at this dirt level; DQ002/DQ004 only WARN and
# DQ005 passes post-dedup, so they contribute no quarantine rows.
_Q1_FAIL = "(id IS NULL OR patient_id IS NULL OR birth_date IS NULL)"
_Q3_FAIL = (
    "(patient_id IS NOT NULL AND patient_id <> '' AND NOT "
    "regexp_matches(upper(patient_id), '^[A-Z0-9]{6,20}$|^[a-f0-9-]{36}$'))"
)
_Q6_FAIL = (
    "((age IS NOT NULL AND (age < 0 OR age > 150)) OR "
    "(heart_rate IS NOT NULL AND (heart_rate < 20 OR heart_rate > 300)))"
)

_PIPELINE_ORACLE_BODY = f"""
    WITH {HEALTHCARE_CTE},
    deduped AS (
        -- duplicate rows are exact copies, so first-wins dedup == DISTINCT
        SELECT DISTINCT * FROM records
    ),
    transformed AS (
        -- trim_strings touches every string column; only diagnosis_code
        -- and ssn carry whitespace in this frame
        SELECT id, patient_id,
               {_t2_sql('birth_date')} AS birth_date,
               {_t2_sql('admission_date')} AS admission_date,
               {_t2_sql('discharge_date')} AS discharge_date,
               age, heart_rate,
               trim(diagnosis_code) AS diagnosis_code, patient_name,
               trim(ssn) AS ssn,
               CAST(NULL AS VARCHAR) AS address
        FROM deduped
    )
"""


@register(
    "etl_run_job_silver",
    oracle=_PIPELINE_ORACLE_BODY
    + f"""
    SELECT * FROM transformed
    WHERE NOT ({_Q1_FAIL} OR {_Q3_FAIL} OR {_Q6_FAIL})
    """,
    description="P1 run_job end-to-end: dedup→standardize_dates→trim→"
    "null_handling, fused quality scan at SILVER, exact predicate "
    "quarantine split, FULL write, zone read-back "
    "(etl_manager.py:206-356).",
)
def etl_run_job_silver(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_data_lakehouse_spark.etl import (
        ETLJobConfig,
        ETLStatus,
        HealthcareETLManager,
    )

    df = healthcare_frame(spark, sf_dir)
    mgr = HealthcareETLManager(spark, scratch_dir("wh_job_"))
    config = ETLJobConfig(
        job_id="silver_patients",
        source_name="patients",
        target_zone=DataZone.SILVER,
        load_type=LoadType.FULL,
        required_fields=["id", "patient_id", "birth_date"],
        transformations=[
            "deduplicate", "standardize_dates", "trim_strings", "null_handling",
        ],
    )
    result = mgr.run_job(config, df)
    if result.status != ETLStatus.COMPLETED:
        raise RuntimeError(f"job failed: {result.error_message}")
    out = mgr.get_zone_data(DataZone.SILVER, "patients")
    return out.drop(T.INGEST_ORDER_COL)


@register(
    "etl_quarantine_split",
    oracle=_PIPELINE_ORACLE_BODY
    + f"""
    SELECT id, patient_id, 'failed' AS _quarantine_reason
    FROM transformed
    WHERE {_Q1_FAIL} OR {_Q3_FAIL} OR {_Q6_FAIL}
    """,
    description="L6/L7 quarantine sink+read: rows failing any FAILED rule "
    "are stamped and stored per job (etl_manager.py:371-393,590-595).",
)
def etl_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_data_lakehouse_spark.etl import (
        ETLJobConfig,
        ETLStatus,
        HealthcareETLManager,
    )

    df = healthcare_frame(spark, sf_dir)
    mgr = HealthcareETLManager(spark, scratch_dir("wh_quar_"))
    config = ETLJobConfig(
        job_id="silver_patients_q",
        source_name="patients",
        target_zone=DataZone.SILVER,
        load_type=LoadType.FULL,
        required_fields=["id", "patient_id", "birth_date"],
        transformations=[
            "deduplicate", "standardize_dates", "trim_strings", "null_handling",
        ],
    )
    result = mgr.run_job(config, df)
    if result.status != ETLStatus.COMPLETED:
        raise RuntimeError(f"job failed: {result.error_message}")
    q = mgr.get_quarantined("silver_patients_q")
    return q.select("id", "patient_id", "_quarantine_reason")


@register(
    "lineage_medallion_edges",
    oracle="""
    WITH ids AS (
        SELECT 'asset_' || substr(sha256('customer:bronze:1.0.0'), 1, 16) AS bronze_id,
               'asset_' || substr(sha256('customer:silver:1.0.0'), 1, 16) AS silver_id,
               'asset_' || substr(sha256('customer:gold:1.0.0'), 1, 16)   AS gold_id
    )
    SELECT bronze_id AS src_asset_id, silver_id AS dst_asset_id,
           'clean_customer' AS step_name, 'cleaning' AS transformation_type,
           TRUE AS upstream_of_gold
    FROM ids
    UNION ALL
    SELECT silver_id, gold_id, 'aggregate_customer', 'aggregation', TRUE
    FROM ids
    """,
    description="Lineage graph (G1/G2/G4): content-hash asset ids, "
    "medallion edge recording, upstream DFS — the graph is driver-side "
    "metadata (SURVEY.md §2.5), emitted as a DataFrame for audit joins. "
    "The oracle recomputes the sha256-derived ids independently.",
)
def lineage_medallion_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_data_lakehouse_spark.lineage import (
        LineageTracker,
        TransformationType,
    )

    tracker = LineageTracker()
    bronze = tracker.register_asset(
        "customer", DataZone.BRONZE, f"{sf_dir}/customer.parquet"
    )
    silver = tracker.register_asset("customer", DataZone.SILVER, "warehouse/silver")
    gold = tracker.register_asset("customer", DataZone.GOLD, "warehouse/gold")
    s1 = tracker.record_transformation(
        "clean_customer", TransformationType.CLEANING,
        [bronze.asset_id], silver.asset_id,
    )
    s2 = tracker.record_transformation(
        "aggregate_customer", TransformationType.AGGREGATION,
        [silver.asset_id], gold.asset_id,
    )
    upstream = set(tracker.get_upstream_lineage(gold.asset_id))
    rows = [
        (bronze.asset_id, silver.asset_id, s1.step_name,
         s1.transformation_type.value, bronze.asset_id in upstream),
        (silver.asset_id, gold.asset_id, s2.step_name,
         s2.transformation_type.value, silver.asset_id in upstream),
    ]
    return spark.createDataFrame(
        rows,
        "src_asset_id string, dst_asset_id string, step_name string, "
        "transformation_type string, upstream_of_gold boolean",
    )


def _roundtrip_query(fmt: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from healthcare_data_lakehouse_spark.sources import read_source, write_sink

        events = table(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        )
        out = scratch_dir(f"src_{fmt}_")
        write_sink(events, out, fmt=fmt)
        back = read_source(spark, out, fmt=fmt, schema=events.schema)
        return back.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )

    return q


_ROUNDTRIP_ORACLE = """
    SELECT event_type, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY event_type
"""

register(
    "source_json_roundtrip_events",
    oracle=_ROUNDTRIP_ORACLE,
    description="JSON sink+source round-trip (explicit schema, no "
    "inference): aggregate over the re-read copy hash-matches the "
    "original — connector fidelity proof.",
)(_roundtrip_query("json"))

register(
    "source_csv_roundtrip_events",
    oracle=_ROUNDTRIP_ORACLE,
    description="CSV sink+source round-trip (header + explicit schema): "
    "aggregate over the re-read copy hash-matches the original.",
)(_roundtrip_query("csv"))

register(
    "source_xml_roundtrip_events",
    oracle=_ROUNDTRIP_ORACLE,
    description="XML sink+source round-trip via Spark 4's BUILT-IN xml "
    "datasource (the spark-xml package merged into core; rowTag=row, "
    "explicit schema, no inference): aggregate over the re-read copy "
    "hash-matches the original — the fifth connector in the format "
    "matrix (parquet/csv/json/orc/xml), one line of format plumbing "
    "because read_source/write_sink abstract the connector exactly as "
    "the reference's loader registry does.",
)(_roundtrip_query("xml"))


@register(
    "platinum_customer_features",
    oracle="""
    WITH per_order AS (
        SELECT o.o_custkey AS custkey, o.o_orderkey, o.o_orderdate,
               o.o_totalprice,
               LAG(o.o_orderdate) OVER (
                   PARTITION BY o.o_custkey
                   ORDER BY o.o_orderdate, o.o_orderkey
               ) AS prev_date
        FROM orders o
    )
    SELECT custkey,
           COUNT(*) AS n_orders,
           CAST(ROUND(CAST(SUM(o_totalprice) AS DECIMAL(38,8)), 2) AS DOUBLE)
               AS lifetime_value,
           CAST(ROUND(CAST(AVG(o_totalprice) AS DECIMAL(38,8)), 4) AS DOUBLE)
               AS avg_order_value,
           MAX(o_orderdate) AS last_order_at,
           CAST(ROUND(CAST(AVG(date_diff('second', prev_date, o_orderdate))
                / 86400.0 AS DECIMAL(38,8)), 4) AS DOUBLE)
               AS avg_reorder_days
    FROM per_order
    GROUP BY custkey
    """,
    description="Platinum feature mart: per-customer ML features (lifetime "
    "value, order cadence via lag window) — one shuffle on the entity key "
    "shared by the window AND the aggregate (co-partitioned, no second "
    "exchange).",
)
def platinum_customer_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    per_order = orders.select(
        F.col("o_custkey").alias("custkey"),
        "o_orderdate",
        "o_totalprice",
        F.lag("o_orderdate").over(w).alias("prev_date"),
    )
    gap_days = (
        F.unix_timestamp(F.col("o_orderdate").cast("timestamp"))
        - F.unix_timestamp(F.col("prev_date").cast("timestamp"))
    ) / 86400.0
    return per_order.groupBy("custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dround(F.sum("o_totalprice"), 2).alias("lifetime_value"),
        dround(F.avg("o_totalprice"), 4).alias("avg_order_value"),
        F.max("o_orderdate").alias("last_order_at"),
        dround(F.avg(gap_days), 4).alias("avg_reorder_days"),
    )


@register(
    "scd2_customer_dimension",
    oracle="""
    WITH base AS (
        SELECT c_custkey AS id, c_name AS name, c_mktsegment AS segment
        FROM customer
    )
    SELECT id, name, segment,
           CAST(1 AS BIGINT) AS version,
           CAST(0 AS BIGINT) AS valid_from_batch,
           CAST(CASE WHEN id % 10 = 0 THEN 1 END AS BIGINT) AS valid_to_batch,
           id % 10 <> 0 AS is_current
    FROM base
    UNION ALL
    SELECT id, name, 'RESEGMENTED', 2, 1, NULL, TRUE
    FROM base WHERE id % 10 = 0
    UNION ALL
    SELECT id + 1000000, 'New Customer ' || CAST(id AS VARCHAR), 'NEWSEG',
           1, 1, NULL, TRUE
    FROM base WHERE id % 100 = 0
    """,
    description="SCD2 dimension versioning (scd.py): CDC batch closes "
    "changed current versions (valid_to, is_current=false) and inserts "
    "successors; unchanged incoming rows are no-ops, unseen keys insert "
    "v1. One join against CURRENT rows only — history never rescanned; "
    "maps 1:1 to Delta MERGE in deployment.",
)
def scd2_customer_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_data_lakehouse_spark.scd import scd2_initial, scd2_merge

    base = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
    )
    dim0 = scd2_initial(base, batch_id=0)
    incoming = (
        # CDC batch: every id%5 row arrives; only id%10 actually changed
        base.filter(F.col("id") % 5 == 0)
        .withColumn(
            "segment",
            F.when(F.col("id") % 10 == 0, F.lit("RESEGMENTED")).otherwise(
                F.col("segment")
            ),
        )
        .unionByName(
            base.filter(F.col("id") % 100 == 0).select(
                (F.col("id") + 1_000_000).alias("id"),
                F.concat(F.lit("New Customer "), F.col("id").cast("string")).alias(
                    "name"
                ),
                F.lit("NEWSEG").alias("segment"),
            )
        )
    )
    return scd2_merge(dim0, incoming, key="id", batch_id=1)


@register(
    "lineage_columns_from_plan",
    oracle="""
    SELECT 'mktsegment' AS column_name, 'c_mktsegment' AS source_columns
    UNION ALL SELECT 'revenue', 'l_discount,l_extendedprice'
    UNION ALL SELECT 'order_count', 'o_orderkey'
    UNION ALL SELECT 'lineitem_count', ''
    """,
    description="Column lineage DERIVED from the Catalyst analyzed plan "
    "(plan_lineage.py) for the flagship 3-table mart: every output column "
    "traced to its source-relation columns through join+aggregate — no "
    "hand-authored lineage, the plan itself is the provenance record.",
)
def lineage_columns_from_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_data_lakehouse_spark.plan_lineage import (
        column_lineage_from_plan,
    )
    from healthcare_data_lakehouse_spark.queries.analytics_olap import (
        gold_revenue_by_mktsegment,
    )

    flagship = gold_revenue_by_mktsegment(spark, sf_dir)
    lin = column_lineage_from_plan(flagship)
    rows = [(col, ",".join(srcs)) for col, srcs in lin.items()]
    return spark.createDataFrame(
        rows, "column_name string, source_columns string"
    )


@register(
    "load_time_travel_diff",
    oracle="""
    WITH v1 AS (
        SELECT o_orderkey AS id, o_totalprice FROM orders
        WHERE o_orderkey % 3 = 0
    ),
    v2_extra AS (
        SELECT o_orderkey AS id, o_totalprice FROM orders
        WHERE o_orderkey % 3 = 1
    )
    SELECT 'v1' AS version_label, COUNT(*) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM v1
    UNION ALL
    SELECT 'v2', COUNT(*), ROUND(SUM(o_totalprice), 2)
    FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2_extra)
    """,
    description="Time travel on the ZoneStore log (Delta/Iceberg "
    "snapshot-read semantics on plain parquet): write v1, append v2, "
    "then read BOTH versions back side-by-side — the audit/debug/"
    "reproduce-yesterday's-training-set primitive. Superseded commits "
    "stay readable until vacuum() reclaims them.",
)
def load_time_travel_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    v1 = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("id"), "o_totalprice"
    )
    extra = orders.filter(F.col("o_orderkey") % 3 == 1).select(
        F.col("o_orderkey").alias("id"), "o_totalprice"
    )
    store = ZoneStore(spark, scratch_dir("zs_tt_"))
    store.write(DataZone.SILVER, "orders_tt", v1, LoadType.FULL)
    store.write(DataZone.SILVER, "orders_tt", extra, LoadType.APPEND)

    def summarize(df: DataFrame, label: str) -> DataFrame:
        return df.agg(
            F.lit(label).alias("version_label"),
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        ).select("version_label", "n_rows", "total")

    return summarize(
        store.read_version(DataZone.SILVER, "orders_tt", 1), "v1"
    ).unionAll(summarize(store.read_version(DataZone.SILVER, "orders_tt", 2), "v2"))


@register(
    "load_zone_map_pruned_scan",
    oracle="""
    WITH mm AS (
        SELECT MIN(o_custkey) AS lo, MAX(o_custkey) AS hi FROM orders
    ),
    b AS (
        SELECT lo + (hi - lo + 1) * 3 // 8 AS plo,
               lo + (hi - lo + 1) * 5 // 8 AS phi
        FROM mm
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(ROUND(CAST(SUM(o_totalprice) AS DECIMAL(38,8)), 2) AS DOUBLE)
               AS total,
           CAST(2 AS INT) AS commits_scanned,
           CAST(2 AS INT) AS commits_skipped
    FROM orders, b
    WHERE o_custkey >= b.plo AND o_custkey <= b.phi
    """,
    description="Commit-level zone-map pruning end-to-end: orders land as "
    "4 APPEND commits covering disjoint o_custkey quartile ranges (the "
    "layout a partitioned ingest produces naturally), then a range scan "
    "consults parquet FOOTER min/max per commit and opens only the two "
    "overlapping commits — file skipping from statistics, the lakehouse "
    "scan primitive Delta/Iceberg data-skipping provides, here on the "
    "plain-parquet ZoneStore (zones.py read_pruned). The oracle pins "
    "both the query answer (identical to the unpruned filter by "
    "construction) AND the scanned/skipped commit counts, so the "
    "pruning itself is hash-verified, not just the data.",
)
def load_zone_map_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    mm = orders.agg(
        F.min("o_custkey").alias("lo"), F.max("o_custkey").alias("hi")
    ).collect()[0]
    store = ZoneStore(spark, scratch_dir("zs_prune_"))
    # quartile split by value range (not frequency), integer math shared
    # with the oracle; the probe window spans [3/8, 5/8] of the key range,
    # which overlaps exactly the middle two commits at any scale factor
    n = mm.hi - mm.lo + 1
    edges = [mm.lo + n * i // 4 for i in range(4)] + [mm.hi + 1]
    for i in range(4):
        batch = orders.filter(
            (F.col("o_custkey") >= edges[i]) & (F.col("o_custkey") < edges[i + 1])
        )
        store.write(DataZone.SILVER, "orders_zm", batch, LoadType.APPEND)
    df, report = store.read_pruned(
        DataZone.SILVER,
        "orders_zm",
        "o_custkey",
        lo=mm.lo + n * 3 // 8,
        hi=mm.lo + n * 5 // 8,
    )
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("o_totalprice").cast("decimal(38,8)"), 2)
        .cast("double")
        .alias("total"),
        F.lit(report["commits_scanned"]).cast("int").alias("commits_scanned"),
        F.lit(report["commits_skipped"]).cast("int").alias("commits_skipped"),
    )


@register(
    "source_file_provenance",
    oracle="""
    SELECT 'orders.parquet' AS source_file,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT o_orderkey) AS n_keys
    FROM orders
    """,
    description="Row-level file provenance via the _metadata hidden "
    "column: every row carries the file it came from at scan time — the "
    "audit primitive the reference fakes with driver-side metadata "
    "(reference `src/lineage/lineage_tracker.py:70` records formats as "
    "strings). Zero cost: the value is constant per scan split, no join.",
)
def source_file_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", F.col("_metadata.file_name").alias("source_file"))
        .groupBy("source_file")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("o_orderkey").alias("n_keys"),
        )
    )


register(
    "source_orc_roundtrip_events",
    oracle=_ROUNDTRIP_ORACLE,
    description="ORC sink+source round-trip (columnar alternative to "
    "parquet, same explicit-schema discipline): aggregate over the "
    "re-read copy hash-matches the original. ORC keeps the same "
    "predicate-pushdown/column-pruning story as parquet in Spark, so "
    "the engine is storage-format-agnostic across both.",
)(_roundtrip_query("orc"))


@register(
    "scd2_point_in_time_revenue",
    oracle="""
    WITH base AS (
        SELECT c_custkey AS id, c_mktsegment AS segment FROM customer
    ),
    dim AS (
        SELECT id, segment,
               CAST(0 AS BIGINT) AS valid_from_batch,
               CAST(CASE WHEN id % 10 = 0 THEN 1 END AS BIGINT) AS valid_to_batch
        FROM base
        UNION ALL
        SELECT id, 'RESEGMENTED', 1, NULL FROM base WHERE id % 10 = 0
    ),
    facts AS (
        SELECT o_custkey, o_totalprice,
               CAST(o_orderkey % 2 AS BIGINT) AS as_of_batch
        FROM orders
    )
    SELECT d.segment, f.as_of_batch,
           COUNT(*) AS n_orders,
           ROUND(SUM(f.o_totalprice), 2) AS revenue
    FROM facts f
    JOIN dim d
      ON d.id = f.o_custkey
     AND d.valid_from_batch <= f.as_of_batch
     AND (d.valid_to_batch IS NULL OR f.as_of_batch < d.valid_to_batch)
    GROUP BY d.segment, f.as_of_batch
    """,
    description="Point-in-time (AS OF) fact-to-dimension join over the "
    "SCD2 version history: each order resolves the customer attributes "
    "valid AT ITS OWN batch (valid_from <= b < valid_to), so "
    "re-segmented customers split their revenue across the old and new "
    "segment by time — the audit-correct alternative to joining "
    "current-state dims that silently rewrites history. The join keys "
    "on the equi id (hash join); the validity range is a residual "
    "filter, never a range-scan join. Every SCD2 deployment needs "
    "exactly this read path; scd2_customer_dimension builds the write "
    "path.",
)
def scd2_point_in_time_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"), F.col("c_mktsegment").alias("segment")
    )
    v1 = base.select(
        "id",
        "segment",
        F.lit(0).cast("bigint").alias("valid_from_batch"),
        F.when(F.col("id") % 10 == 0, F.lit(1)).cast("bigint").alias(
            "valid_to_batch"
        ),
    )
    v2 = base.filter(F.col("id") % 10 == 0).select(
        "id",
        F.lit("RESEGMENTED").alias("segment"),
        F.lit(1).cast("bigint").alias("valid_from_batch"),
        F.lit(None).cast("bigint").alias("valid_to_batch"),
    )
    dim = v1.unionByName(v2)
    facts = table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_totalprice",
        (F.col("o_orderkey") % 2).cast("bigint").alias("as_of_batch"),
    )
    cond = (
        (dim.id == facts.o_custkey)
        & (dim.valid_from_batch <= facts.as_of_batch)
        & (dim.valid_to_batch.isNull() | (facts.as_of_batch < dim.valid_to_batch))
    )
    return (
        facts.join(F.broadcast(dim), cond)
        .groupBy("segment", "as_of_batch")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


# --------------------------------------- bucketed co-located join
@register(
    "join_bucketed_colocated",
    oracle="""
    SELECT c.c_mktsegment AS mktsegment,
           COUNT(*) AS n_orders,
           CAST(ROUND(CAST(SUM(o.o_totalprice) AS DECIMAL(38,8)), 2)
                AS DOUBLE) AS revenue
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    description="Shuffle-free fact-dim equi-join via BUCKETED storage "
    "layout: both tables are written bucketBy(8, join_key) + sortBy, so "
    "the sort-merge join reads co-located buckets directly — NO Exchange "
    "on either join input (asserted in tests/test_plans.py). At 100 TB "
    "this is the difference between re-shuffling the fact table on every "
    "join and paying the layout cost once at write time; the only "
    "remaining exchange is the final tiny per-segment aggregate. Same "
    "answer as the unbucketed join, which the oracle states.",
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import uuid

    base = scratch_dir("bucketed_")
    tag = uuid.uuid4().hex[:8]
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cname, oname = f"cust_b_{tag}", f"orders_b_{tag}"
    (
        cust.write.bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .option("path", os.path.join(base, "c"))
        .saveAsTable(cname)
    )
    (
        orders.write.bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .option("path", os.path.join(base, "o"))
        .saveAsTable(oname)
    )
    c, o = spark.table(cname), spark.table(oname)
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dround(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


# ------------------------------------------ P2/P3 promote chain
@register(
    "etl_promote_zone_chain",
    oracle="""
    SELECT c_custkey AS id, c_name AS name, c_mktsegment AS segment,
           TRUE AS empty_zone_raises
    FROM customer WHERE c_custkey % 4 = 0
    """,
    description="P2 promote_zone through the medallion in order (P3): "
    "customer rows land in BRONZE, promote BRONZE->SILVER->GOLD runs the "
    "default transformation chain (deduplicate + trim_strings + "
    "add_metadata, reference etl_manager.py:597-629) through the real "
    "run_job state machine at each hop; GOLD must hold exactly the "
    "bronze rows (ids unique so dedup is a no-op, clean strings so trim "
    "is a no-op). empty_zone_raises pins the promote-from-empty-zone "
    "ValueError quirk.",
)
def etl_promote_zone_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_data_lakehouse_spark.etl import HealthcareETLManager

    mgr = HealthcareETLManager(spark, scratch_dir("wh_promote_"))
    src = table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 4 == 0).select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
    )
    mgr.store.write(DataZone.BRONZE, "cust_p", src, LoadType.FULL)
    r1 = mgr.promote_zone("cust_p", DataZone.BRONZE, DataZone.SILVER)
    r2 = mgr.promote_zone("cust_p", DataZone.SILVER, DataZone.GOLD)
    for r in (r1, r2):
        if r.status.value != "completed":
            raise RuntimeError(f"promotion failed: {r.error_message}")
    try:
        mgr.promote_zone("ghost_p", DataZone.BRONZE, DataZone.SILVER)
        raised = False
    except ValueError:
        raised = True
    gold = mgr.get_zone_data(DataZone.GOLD, "cust_p")
    return gold.select(
        "id", "name", "segment", F.lit(raised).alias("empty_zone_raises")
    )


# ------------------------------------- G3/G5/G6/G7 lineage audit
@register(
    "lineage_graph_audit",
    oracle="""
    SELECT * FROM (VALUES
        ('downstream_of_bronze', CAST(4 AS BIGINT)),
        ('upstream_of_gold', 4),
        ('report_upstream_count', 4),
        ('report_zones_traversed', 3),
        ('audit_total_assets', 4),
        ('audit_total_runs', 1),
        ('audit_total_transformations', 3)
    ) AS t(metric, n)
    """,
    description="Lineage graph audit over a DIAMOND dag (bronze feeds two "
    "silver assets that both feed gold): G5 downstream DFS and G4 "
    "upstream DFS each count 4 — the duplicate-append quirk (a node "
    "reachable via two edges appears twice, reference "
    "lineage_tracker.py:407-449) is pinned, not papered over; G6 report "
    "counts and zones-traversed, G7 audit-export totals over the G3 "
    "pipeline run carrying all three steps.",
)
def lineage_graph_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_data_lakehouse_spark.lineage import (
        LineageTracker,
        TransformationType,
    )

    t = LineageTracker()
    bronze = t.register_asset("events", DataZone.BRONZE, f"{sf_dir}/events.parquet")
    s1 = t.register_asset("sessions", DataZone.SILVER, "wh/sessions")
    s2 = t.register_asset("kpis", DataZone.SILVER, "wh/kpis")
    gold = t.register_asset("mart", DataZone.GOLD, "wh/mart")
    run = t.start_pipeline_run("events_mart")
    t.record_transformation(
        "sessionize", TransformationType.AGGREGATION,
        [bronze.asset_id], s1.asset_id, pipeline_run_id=run.run_id,
    )
    t.record_transformation(
        "kpi_rollup", TransformationType.AGGREGATION,
        [bronze.asset_id], s2.asset_id, pipeline_run_id=run.run_id,
    )
    t.record_transformation(
        "mart_join", TransformationType.JOINING,
        [s1.asset_id, s2.asset_id], gold.asset_id, pipeline_run_id=run.run_id,
    )
    t.complete_pipeline_run(run.run_id)
    report = t.generate_lineage_report(gold.asset_id)
    audit = t.export_for_audit()
    rows = [
        ("downstream_of_bronze", len(t.get_downstream_impact(bronze.asset_id))),
        ("upstream_of_gold", len(t.get_upstream_lineage(gold.asset_id))),
        ("report_upstream_count", report["upstream_lineage"]["count"]),
        ("report_zones_traversed", len(report["data_zones_traversed"])),
        ("audit_total_assets", audit["summary"]["total_assets"]),
        ("audit_total_runs", audit["summary"]["total_pipeline_runs"]),
        ("audit_total_transformations", audit["summary"]["total_transformations"]),
    ]
    return spark.createDataFrame(rows, "metric string, n long")


# --------------------------------------------- CDF between versions
@register(
    "load_change_data_feed",
    oracle="""
    WITH classified AS (
        SELECT CASE
            WHEN o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0 THEN 'insert'
            WHEN o_orderkey % 5 <> 0 AND o_orderkey % 7 = 0 THEN 'delete'
            WHEN o_orderkey % 5 <> 0 AND o_orderkey % 7 <> 0
                 AND o_orderkey % 3 = 0 THEN 'update'
            WHEN o_orderkey % 5 <> 0 AND o_orderkey % 7 <> 0 THEN 'unchanged'
        END AS change_type
        FROM orders
    )
    SELECT change_type, COUNT(*) AS n
    FROM classified WHERE change_type IS NOT NULL
    GROUP BY change_type
    """,
    description="Row-level change data feed between two retained table "
    "versions (ZoneStore.diff_versions — the Delta CDF analog on the "
    "parquet manifest): v2 drops some ids, adds others, doubles the "
    "value of every id divisible by 3; the full-outer id join classifies "
    "every id as insert/delete/update/unchanged and the oracle recomputes "
    "the classification from the residue arithmetic directly. The "
    "downstream-sync primitive: incremental consumers apply the feed "
    "instead of re-reading the table.",
)
def load_change_data_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"), F.col("o_totalprice").alias("value")
    )
    v1 = orders.filter(F.col("id") % 5 != 0)
    v2 = orders.filter(F.col("id") % 7 != 0).withColumn(
        "value",
        F.when(F.col("id") % 3 == 0, F.col("value") * 2).otherwise(
            F.col("value")
        ),
    )
    store = ZoneStore(spark, scratch_dir("zs_cdf_"))
    store.write(DataZone.SILVER, "orders_cdf", v1, LoadType.FULL)
    store.write(DataZone.SILVER, "orders_cdf", v2, LoadType.FULL)
    feed = store.diff_versions(DataZone.SILVER, "orders_cdf", 1, 2, id_field="id")
    return feed.groupBy(F.col("_change_type").alias("change_type")).agg(
        F.count(F.lit(1)).alias("n")
    )


# ------------------------------------- OPTIMIZE + VACUUM lifecycle
@register(
    "storage_compact_vacuum_audit",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(4 AS INT) AS commits_before,
           CAST(1 AS INT) AS files_after,
           CAST(4 AS INT) AS removed_commits
    FROM orders
    """,
    description="Small-file lifecycle end-to-end: 4 APPEND commits "
    "accumulate (the per-batch ingest pattern), OPTIMIZE-style "
    "bin-packing compaction (ZoneStore.compact) rewrites them as ONE "
    "commit swapped in atomically via the manifest, and VACUUM reclaims "
    "the 4 superseded commit directories (retain_last=1). The oracle "
    "pins the lifecycle counters AND that not a single row was lost "
    "across the rewrite — the invariant OPTIMIZE must preserve.",
)
def storage_compact_vacuum_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    store = ZoneStore(spark, scratch_dir("zs_opt_"))
    for i in range(4):
        batch = orders.filter(F.col("o_orderkey") % 4 == i)
        store.write(DataZone.BRONZE, "orders_opt", batch, LoadType.APPEND)
    stats = store.compact(
        DataZone.BRONZE, "orders_opt", target_file_bytes=1 << 40
    )
    vstats = store.vacuum(DataZone.BRONZE, "orders_opt", retain_last=1)
    n = store.read(DataZone.BRONZE, "orders_opt").count()
    row = [(
        n,
        stats["commits_before"],
        stats["files_after"],
        vstats["removed_commits"],
    )]
    return spark.createDataFrame(
        row,
        "n_rows long, commits_before int, files_after int, removed_commits int",
    )


# -------------------------------------------- L-schema: evolution on APPEND
@register(
    "load_schema_evolution_append",
    oracle="""
    WITH batch1 AS (
        SELECT o_orderkey AS id, ROUND(o_totalprice, 2) AS totalprice,
               CAST(NULL AS VARCHAR) AS priority
        FROM orders WHERE o_orderkey % 4 = 1
    ),
    batch2 AS (
        SELECT o_orderkey AS id, ROUND(o_totalprice, 2) AS totalprice,
               o_orderpriority AS priority
        FROM orders WHERE o_orderkey % 4 = 2
    )
    SELECT * FROM batch1 UNION ALL SELECT * FROM batch2
    """,
    description="Schema evolution across APPEND commits: batch 2 arrives "
    "with a new `priority` column; ZoneStore reads the union of commit "
    "schemas (mergeSchema) so old rows surface NULL for the added column — "
    "the Delta/Iceberg add-column contract without a table-format "
    "dependency. At 100 TB evolution must not rewrite history: each commit "
    "keeps its own physical schema, reconciliation happens at scan time.",
)
def load_schema_evolution_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    b1 = orders.filter(F.col("o_orderkey") % 4 == 1).select(
        F.col("o_orderkey").alias("id"),
        F.round("o_totalprice", 2).alias("totalprice"),
    )
    b2 = orders.filter(F.col("o_orderkey") % 4 == 2).select(
        F.col("o_orderkey").alias("id"),
        F.round("o_totalprice", 2).alias("totalprice"),
        F.col("o_orderpriority").alias("priority"),
    )
    store = ZoneStore(spark, scratch_dir("zs_evo_"))
    store.write(DataZone.SILVER, "orders_evo", b1, LoadType.FULL)
    store.write(DataZone.SILVER, "orders_evo", b2, LoadType.APPEND)
    return store.read(DataZone.SILVER, "orders_evo").select(
        "id", "totalprice", "priority"
    )


# ------------------------------------- incremental view maintenance (IVM)
@register(
    "load_incremental_view_refresh",
    oracle="""
    SELECT o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders GROUP BY o_orderstatus
    """,
    description="Batch incremental view maintenance over the zone change "
    "feed: the gold aggregate is refreshed by combining the v1 snapshot "
    "aggregate with an aggregate of ONLY the rows added by the APPEND "
    "commit (ZoneStore.read_changes — a file-level CDF that costs zero "
    "compute), never re-scanning history. The oracle is the full "
    "recompute over all rows: additive-merge refresh must equal it "
    "exactly. At 100 TB this is the difference between a refresh "
    "proportional to the day's delta and one proportional to the table.",
)
def load_incremental_view_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 3 != 0).select(
        F.col("o_orderkey").alias("id"), "o_orderstatus", "o_totalprice"
    )
    delta = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("id"), "o_orderstatus", "o_totalprice"
    )
    store = ZoneStore(spark, scratch_dir("zs_ivm_"))
    store.write(DataZone.GOLD, "orders_ivm", base, LoadType.FULL)

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy(F.col("o_orderstatus").alias("status")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("o_totalprice").alias("rev_raw"),
        )

    snapshot = agg(store.read_version(DataZone.GOLD, "orders_ivm", 1))
    store.write(DataZone.GOLD, "orders_ivm", delta, LoadType.APPEND)
    changes = store.read_changes(DataZone.GOLD, "orders_ivm", 1, 2)
    # additive merge: counts and sums combine across partial aggregates
    return (
        snapshot.unionByName(agg(changes))
        .groupBy("status")
        .agg(
            F.sum("n_orders").cast("bigint").alias("n_orders"),
            F.round(F.sum("rev_raw"), 2).alias("revenue"),
        )
    )


# --------------------------------------------------- row-level DELETE
@register(
    "load_delete_where",
    oracle="""
    SELECT o_orderkey AS id,
           ROUND(o_totalprice, 2) AS totalprice,
           o_orderstatus AS status
    FROM orders
    WHERE NOT COALESCE(o_orderkey % 4 = 2 AND o_totalprice > 50000, FALSE)
    """,
    description="Row-level DELETE on the ZoneStore (Delta DELETE "
    "semantics: TRUE rows removed, FALSE/NULL rows survive) with "
    "commit-granular copy-on-write — the dataset is loaded as two APPEND "
    "commits and the predicate only touches one residue class, so the "
    "other commit rides into the new version without a rewrite. Old "
    "commits stay readable via time travel until VACUUM.",
)
def load_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        F.col("o_totalprice").alias("totalprice"),
        F.col("o_orderstatus").alias("status"),
    )
    store = ZoneStore(spark, scratch_dir("zs_del_"))
    store.write(
        DataZone.SILVER, "orders_d", orders.filter(F.col("id") % 4 < 2),
        LoadType.FULL,
    )
    store.write(
        DataZone.SILVER, "orders_d", orders.filter(F.col("id") % 4 >= 2),
        LoadType.APPEND,
    )
    store.delete_where(
        DataZone.SILVER, "orders_d", "id % 4 = 2 AND totalprice > 50000"
    )
    out = store.read(DataZone.SILVER, "orders_d")
    return out.select(
        "id", F.round("totalprice", 2).alias("totalprice"), "status"
    )


# --------------------------------------------------- row-level UPDATE
@register(
    "load_update_set",
    oracle="""
    SELECT o_orderkey AS id,
           CAST(ROUND(CAST(CASE WHEN o_orderkey % 10 = 7
                 THEN o_totalprice * 1.1 ELSE o_totalprice END
                 AS DECIMAL(38,8)), 2) AS DOUBLE) AS totalprice,
           CASE WHEN o_orderkey % 10 = 7 THEN 'UPD' ELSE o_orderstatus END
               AS status
    FROM orders
    """,
    description="Row-level UPDATE on the ZoneStore (Delta UPDATE "
    "semantics: SET expressions applied where the predicate is TRUE, "
    "other rows byte-preserved) with commit-granular copy-on-write; "
    "non-matching commits are never rewritten.",
)
def load_update_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        F.col("o_totalprice").alias("totalprice"),
        F.col("o_orderstatus").alias("status"),
    )
    store = ZoneStore(spark, scratch_dir("zs_upd_"))
    store.write(DataZone.SILVER, "orders_u", orders, LoadType.FULL)
    store.update_set(
        DataZone.SILVER,
        "orders_u",
        "id % 10 = 7",
        {"totalprice": "totalprice * 1.1", "status": "'UPD'"},
    )
    out = store.read(DataZone.SILVER, "orders_u")
    # x*1.1 lands on .xx5 halfway points constantly; decimal-routed
    # rounding (dround) keeps both engines bit-identical
    return out.select(
        "id", dround("totalprice", 2).alias("totalprice"), "status"
    )


# --------------------------------------------------- CHECK constraints
@register(
    "load_constraint_enforcement",
    oracle="""
    WITH dirty AS (
        SELECT o_orderkey AS id,
               CASE WHEN o_orderkey % 100 = 1 THEN -o_totalprice
                    ELSE o_totalprice END AS totalprice,
               CASE WHEN o_orderkey % 100 = 2 THEN 'X'
                    ELSE o_orderstatus END AS status
        FROM orders
    )
    SELECT 'status_known' AS name,
           CAST(SUM(CASE WHEN NOT COALESCE(status IN ('O','F','P'), FALSE)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
    FROM dirty
    UNION ALL
    SELECT 'totalprice_positive' AS name,
           CAST(SUM(CASE WHEN NOT COALESCE(totalprice > 0, FALSE)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
    FROM dirty
    """,
    description="Table-level CHECK constraints on the ZoneStore (Delta "
    "delta.constraints parity): constraints live in the manifest, every "
    "write path audits the incoming batch in ONE fused conditional-"
    "aggregate scan and fails atomically on violation (NULL counts as a "
    "violation, matching Delta CHECK). This query returns the audit of a "
    "deliberately dirty batch; the write-rejection contract is "
    "pytest-verified (test_constraint_blocks_write).",
)
def load_constraint_enforcement(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    dirty = orders.select(
        F.col("o_orderkey").alias("id"),
        F.when(
            F.col("o_orderkey") % 100 == 1, -F.col("o_totalprice")
        ).otherwise(F.col("o_totalprice")).alias("totalprice"),
        F.when(F.col("o_orderkey") % 100 == 2, "X")
        .otherwise(F.col("o_orderstatus"))
        .alias("status"),
    )
    store = ZoneStore(spark, scratch_dir("zs_chk_"))
    store.set_constraint(
        DataZone.SILVER, "orders_c", "totalprice_positive", "totalprice > 0"
    )
    store.set_constraint(
        DataZone.SILVER, "orders_c", "status_known",
        "status IN ('O','F','P')",
    )
    audit = store.check_constraints(DataZone.SILVER, "orders_c", dirty)
    return spark.createDataFrame(
        [(a["name"], a["n_violations"]) for a in audit],
        "name string, n_violations bigint",
    )


# --------------------------------------------------- watermark sizing audit
@register(
    "events_watermark_lateness_audit",
    oracle="""
    WITH b AS (
        SELECT CAST(event_id // 250 AS BIGINT) AS bucket, MAX(ts) AS mx
        FROM events GROUP BY 1
    ),
    wm AS (
        SELECT bucket,
               MAX(mx) OVER (
                   ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS prior_max
        FROM b
    ),
    late AS (
        SELECT greatest(epoch(w.prior_max) - epoch(e.ts), 0) AS late_s
        FROM events e
        JOIN wm w ON CAST(e.event_id // 250 AS BIGINT) = w.bucket
        WHERE w.prior_max IS NOT NULL
    )
    SELECT CASE WHEN late_s = 0 THEN 'on_time'
                WHEN late_s < 60 THEN 'lt_1m'
                WHEN late_s < 3600 THEN 'lt_1h'
                WHEN late_s < 86400 THEN 'lt_1d'
                ELSE 'ge_1d' END AS lateness_class,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM late GROUP BY 1
    """,
    description="Watermark sizing audit: how late events arrive relative "
    "to the high-water mark at their ingest position (arrival order = "
    "event_id, bucketed so the running max is a post-aggregation window "
    "at bucket grain, never a global sort of the fact table). The "
    "lateness histogram is exactly the evidence needed to pick "
    "withWatermark() horizons: every 'lt_1h' event would be dropped by a "
    "1-minute watermark but kept by a 1-hour one.",
)
def events_watermark_lateness_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events")
    bucket = (F.col("event_id") / 250).cast("bigint")
    b = ev.groupBy(bucket.alias("bucket")).agg(F.max("ts").alias("mx"))
    wb = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    wm = b.select("bucket", F.max("mx").over(wb).alias("prior_max"))
    late = (
        ev.select(bucket.alias("bucket"), "ts")
        .join(wm, "bucket")
        .filter(F.col("prior_max").isNotNull())
        .select(
            F.greatest(
                F.col("prior_max").cast("double") - F.col("ts").cast("double"),
                F.lit(0.0),
            ).alias("late_s")
        )
    )
    cls = (
        F.when(F.col("late_s") == 0, "on_time")
        .when(F.col("late_s") < 60, "lt_1m")
        .when(F.col("late_s") < 3600, "lt_1h")
        .when(F.col("late_s") < 86400, "lt_1d")
        .otherwise("ge_1d")
    )
    return late.groupBy(cls.alias("lateness_class")).agg(
        F.count("*").cast("bigint").alias("n_events")
    )


# --------------------------------------------------- SHALLOW CLONE
@register(
    "load_shallow_clone",
    oracle="""
    SELECT o_orderkey AS id,
           ROUND(o_totalprice, 2) AS totalprice,
           o_orderstatus AS status
    FROM orders
    UNION ALL
    SELECT o_orderkey + 9000000 AS id,
           ROUND(o_totalprice, 2) AS totalprice,
           'CLN' AS status
    FROM orders WHERE o_orderkey % 5 = 0
    """,
    description="SHALLOW CLONE (Delta parity): the clone's first log entry "
    "references the source's commit dirs by absolute path — zero bytes "
    "copied at clone time; an APPEND to the clone lands as a local "
    "commit, leaving the source untouched (copy-on-write, "
    "pytest-verified in test_shallow_clone_isolation).",
)
def load_shallow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        F.col("o_totalprice").alias("totalprice"),
        F.col("o_orderstatus").alias("status"),
    )
    store = ZoneStore(spark, scratch_dir("zs_cln_"))
    store.write(DataZone.SILVER, "orders_src", orders, LoadType.FULL)
    store.clone(DataZone.SILVER, "orders_src", DataZone.GOLD, "orders_cln")
    extra = orders.filter(F.col("id") % 5 == 0).select(
        (F.col("id") + 9000000).alias("id"),
        "totalprice",
        F.lit("CLN").alias("status"),
    )
    store.write(DataZone.GOLD, "orders_cln", extra, LoadType.APPEND)
    out = store.read(DataZone.GOLD, "orders_cln")
    return out.select(
        "id", F.round("totalprice", 2).alias("totalprice"), "status"
    )


# --------------------------------------------------- full MERGE clauses
@register(
    "load_merge_full_clauses",
    oracle="""
    WITH target AS (
        SELECT o_orderkey AS id,
               ROUND(o_totalprice, 2) AS totalprice,
               o_orderstatus AS status
        FROM orders WHERE o_orderkey % 3 <> 0
    ),
    source AS (
        SELECT o_orderkey AS id,
               ROUND(o_totalprice * 2, 2) AS totalprice,
               'SRC' AS status
        FROM orders WHERE o_orderkey % 2 = 0
    )
    -- WHEN MATCHED AND t.status = 'F' THEN DELETE;
    -- WHEN MATCHED THEN UPDATE SET totalprice = s.totalprice, status='UPD';
    SELECT t.id, s.totalprice, 'UPD' AS status
    FROM target t JOIN source s ON t.id = s.id
    WHERE NOT COALESCE(t.status = 'F', FALSE)
    UNION ALL
    -- WHEN NOT MATCHED BY SOURCE AND id % 5 = 1 THEN DELETE (keep rest)
    SELECT t.id, t.totalprice, t.status
    FROM target t ANTI JOIN source s ON t.id = s.id
    WHERE NOT COALESCE(t.id % 5 = 1, FALSE)
    UNION ALL
    -- WHEN NOT MATCHED THEN INSERT *
    SELECT s.id, s.totalprice, s.status
    FROM source s ANTI JOIN target t ON s.id = t.id
    """,
    description="Full Delta MERGE INTO clause surface on the ZoneStore: "
    "WHEN MATCHED AND status='F' THEN DELETE, WHEN MATCHED THEN UPDATE "
    "SET from source columns, WHEN NOT MATCHED THEN INSERT, WHEN NOT "
    "MATCHED BY SOURCE AND pred THEN DELETE — each clause a key-"
    "partitioned join/anti-join branch, the result one FULL copy-on-"
    "write commit, clause row counts returned to the caller.",
)
def load_merge_full_clauses(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    target = orders.filter(F.col("o_orderkey") % 3 != 0).select(
        F.col("o_orderkey").alias("id"),
        F.round("o_totalprice", 2).alias("totalprice"),
        F.col("o_orderstatus").alias("status"),
    )
    source = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("id"),
        F.round(F.col("o_totalprice") * 2, 2).alias("totalprice"),
        F.lit("SRC").alias("status"),
    )
    store = ZoneStore(spark, scratch_dir("zs_mrg_"))
    store.write(DataZone.SILVER, "orders_m", target, LoadType.FULL)
    store.merge_into(
        DataZone.SILVER,
        "orders_m",
        source,
        id_field="id",
        matched_delete="status = 'F'",
        matched_update={"totalprice": "src_totalprice", "status": "'UPD'"},
        insert_not_matched=True,
        not_matched_by_source_delete="id % 5 = 1",
    )
    out = store.read(DataZone.SILVER, "orders_m")
    return out.select(
        "id", F.round("totalprice", 2).alias("totalprice"), "status"
    )


# --------------------------------------------------- RESTORE TO VERSION
@register(
    "load_restore_version",
    oracle="""
    SELECT o_orderkey AS id,
           ROUND(o_totalprice, 2) AS totalprice,
           o_orderstatus AS status
    FROM orders WHERE o_orderkey % 3 = 0
    """,
    description="RESTORE TABLE TO VERSION (Delta parity) on the "
    "ZoneStore: after an APPEND and a DELETE mutate the table, restore "
    "to version 1 flips the table back to the original commit set — "
    "metadata-only, data files untouched, and the restore is itself a "
    "new version (time-travelable / undoable), exactly Delta's contract.",
)
def load_restore_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        F.col("o_totalprice").alias("totalprice"),
        F.col("o_orderstatus").alias("status"),
    )
    base = orders.filter(F.col("id") % 3 == 0)
    store = ZoneStore(spark, scratch_dir("zs_rst_"))
    store.write(DataZone.SILVER, "orders_r", base, LoadType.FULL)       # v1
    store.write(
        DataZone.SILVER, "orders_r",
        orders.filter(F.col("id") % 3 == 1), LoadType.APPEND,           # v2
    )
    store.delete_where(DataZone.SILVER, "orders_r", "id % 2 = 0")       # v3
    store.restore_version(DataZone.SILVER, "orders_r", 1)               # v4
    out = store.read(DataZone.SILVER, "orders_r")
    return out.select(
        "id", F.round("totalprice", 2).alias("totalprice"), "status"
    )


# ------------------------------------------ round 5: audit-on-write
@register(
    "load_observed_write_metrics",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null_value,
           CAST(ROUND(CAST(SUM(value) AS DECIMAL(38,8)), 2) AS DOUBLE)
               AS sum_value,
           CAST(MIN(user_id) AS BIGINT) AS min_user,
           CAST(MAX(user_id) AS BIGINT) AS max_user
    FROM events
    WHERE event_type = 'purchase'
    """,
    description="Audit-on-write via the Observation API: the quality "
    "telemetry (row count, null count, value sum, user-id bounds) is "
    "computed BY the zone write's own scan — df.observe() attaches the "
    "aggregates to the frame and the write action itself populates "
    "them, so a 100 TB ingest emits its batch metrics for exactly zero "
    "extra passes. The reference instead re-reads records per check "
    "(src/quality/data_quality.py:345-349) — a second full scan per "
    "rule. The returned row is the observation read back AFTER the "
    "write committed; the oracle recomputes the same aggregates "
    "independently, proving observed == recomputed.",
)
def load_observed_write_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_data_lakehouse_spark.quality import with_observed_metrics

    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "value")
    )
    observed, obs = with_observed_metrics(
        ev,
        "write_audit",
        {
            "n_rows": F.count(F.lit(1)).cast("bigint"),
            "n_null_value": F.sum(
                F.when(F.col("value").isNull(), 1).otherwise(0)
            ).cast("bigint"),
            "sum_value": dround(F.sum("value"), 2),
            "min_user": F.min("user_id").cast("bigint"),
            "max_user": F.max("user_id").cast("bigint"),
        },
    )
    store = ZoneStore(spark, scratch_dir("zs_obs_"))
    store.write(DataZone.BRONZE, "purchases", observed, LoadType.FULL)
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["n_null_value"], m["sum_value"], m["min_user"],
          m["max_user"])],
        "n_rows bigint, n_null_value bigint, sum_value double, "
        "min_user bigint, max_user bigint",
    )


@register(
    "quality_schema_drift_versions",
    oracle="""
    SELECT * FROM (VALUES
        (1, 2, 'id,totalprice', '', ''),
        (2, 3, 'id,priority,totalprice', 'priority', ''),
        (3, 4, 'id,priority,segment,totalprice', 'segment', '')
    ) AS t(version, n_columns, columns, added_vs_prev, removed_vs_prev)
    ORDER BY version
    """,
    description="Schema-drift audit across table versions: read each "
    "retained version's reconciled schema from the versioned store and "
    "report per-version column sets plus added/removed columns vs the "
    "previous version — the drift report a governance layer runs before "
    "promoting readers to a new schema (Delta's schema-evolution "
    "history made queryable). APPEND commits never rewrite history, so "
    "each version's schema is the mergeSchema union of its commit "
    "schemas at scan time; the audit itself touches only parquet "
    "footers and the log — metadata-scale at any table size. "
    "Oracle pins the expected evolution of the deterministic "
    "three-step write sequence.",
)
def quality_schema_drift_versions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    b1 = orders.filter(F.col("o_orderkey") % 4 == 1).select(
        F.col("o_orderkey").alias("id"),
        F.round("o_totalprice", 2).alias("totalprice"),
    )
    b2 = orders.filter(F.col("o_orderkey") % 4 == 2).select(
        F.col("o_orderkey").alias("id"),
        F.round("o_totalprice", 2).alias("totalprice"),
        F.col("o_orderpriority").alias("priority"),
    )
    b3 = orders.filter(F.col("o_orderkey") % 4 == 3).select(
        F.col("o_orderkey").alias("id"),
        F.round("o_totalprice", 2).alias("totalprice"),
        F.col("o_orderpriority").alias("priority"),
        F.lit("BUILDING").alias("segment"),
    )
    store = ZoneStore(spark, scratch_dir("zs_drift_"))
    store.write(DataZone.SILVER, "orders_drift", b1, LoadType.FULL)
    store.write(DataZone.SILVER, "orders_drift", b2, LoadType.APPEND)
    store.write(DataZone.SILVER, "orders_drift", b3, LoadType.APPEND)
    rows = []
    prev: set[str] = set()
    for v in (1, 2, 3):
        cols = set(
            store.read_version(DataZone.SILVER, "orders_drift", v).columns
        )
        added = sorted(cols - prev) if v > 1 else []
        removed = sorted(prev - cols) if v > 1 else []
        rows.append(
            (
                v,
                len(cols),
                ",".join(sorted(cols)),
                ",".join(added),
                ",".join(removed),
            )
        )
        prev = cols
    return spark.createDataFrame(
        rows,
        "version int, n_columns int, columns string, "
        "added_vs_prev string, removed_vs_prev string",
    ).orderBy("version")


# --------------------------- CDF replication: feed -> MERGE apply
@register(
    "load_cdf_replication_apply",
    oracle="""
    WITH keys AS (SELECT o_orderkey AS id, o_totalprice AS value FROM orders),
    counts AS (
        SELECT
            CAST(SUM(CASE WHEN id % 5 = 0 AND id % 7 <> 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS applied_inserts,
            CAST(SUM(CASE WHEN id % 5 <> 0 AND id % 7 = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS applied_deletes,
            CAST(SUM(CASE WHEN id % 5 <> 0 AND id % 7 <> 0 AND id % 3 = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS applied_updates,
            CAST(SUM(CASE WHEN id % 7 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_source,
            CAST(SUM(CASE WHEN id % 7 <> 0 THEN
                     CASE WHEN id % 3 = 0
                          THEN 2 * CAST(ROUND(CAST(value * 100
                               AS DECIMAL(38,8)), 0) AS BIGINT)
                          ELSE CAST(ROUND(CAST(value * 100
                               AS DECIMAL(38,8)), 0) AS BIGINT) END
                     ELSE 0 END) AS BIGINT) AS source_cents
        FROM keys
    )
    SELECT applied_inserts, applied_updates, applied_deletes,
           n_source, n_source AS n_replica,
           CAST(0 AS BIGINT) AS n_mismatch,
           source_cents, source_cents AS replica_cents
    FROM counts
    """,
    description="Change-data-feed REPLICATION end-to-end: a source table "
    "moves v1 -> v2 (inserts + deletes + value-doubling updates), the "
    "row-level feed comes from ZoneStore.diff_versions, payloads for "
    "insert/update ids are fetched from the new version, and ONE full-"
    "clause MERGE applies the batch to an independent replica seeded at "
    "v1 (NULL-value sentinel rows drive WHEN MATCHED DELETE; NULL-"
    "discipline predicates make that safe). The query returns the "
    "applied clause counts AND a full-outer reconciliation of replica "
    "vs source (row mismatches, integer-cents mass both sides) — the "
    "downstream-sync contract that CDC consumers must satisfy: applying "
    "the feed IS equivalent to re-reading the table. Every step is a "
    "key-partitioned join or one copy-on-write commit; the feed, not "
    "the table, crosses the wire at 100 TB.",
)
def load_cdf_replication_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"), F.col("o_totalprice").alias("value")
    )
    v1 = orders.filter(F.col("id") % 5 != 0)
    v2 = orders.filter(F.col("id") % 7 != 0).withColumn(
        "value",
        F.when(F.col("id") % 3 == 0, F.col("value") * 2).otherwise(
            F.col("value")
        ),
    )
    src = ZoneStore(spark, scratch_dir("zs_cdfrep_src_"))
    src.write(DataZone.SILVER, "orders_rep", v1, LoadType.FULL)
    src.write(DataZone.SILVER, "orders_rep", v2, LoadType.FULL)
    feed = src.diff_versions(DataZone.SILVER, "orders_rep", 1, 2, id_field="id")

    replica = ZoneStore(spark, scratch_dir("zs_cdfrep_dst_"))
    replica.write(DataZone.SILVER, "orders_rep", v1, LoadType.FULL)

    changed = feed.filter(F.col("_change_type") != "unchanged")
    new_img = src.read_version(DataZone.SILVER, "orders_rep", 2)
    batch = (
        changed.join(new_img, "id", "left")  # deletes get value NULL
        .select("id", "value")
    )
    stats = replica.merge_into(
        DataZone.SILVER,
        "orders_rep",
        batch,
        id_field="id",
        matched_delete="src_value IS NULL",
        matched_update={"value": "src_value"},
        insert_not_matched=True,
    )

    cents = lambda c: F.round(  # noqa: E731
        (F.col(c) * 100).cast("decimal(38,8)"), 0
    ).cast("bigint")
    rep = replica.read(DataZone.SILVER, "orders_rep").select(
        "id", cents("value").alias("rc")
    )
    srcf = new_img.select("id", cents("value").alias("sc"))
    recon = rep.join(srcf, "id", "full_outer").agg(
        F.sum(
            (
                F.col("rc").isNull()
                | F.col("sc").isNull()
                | (F.col("rc") != F.col("sc"))
            ).cast("int")
        )
        .cast("bigint")
        .alias("n_mismatch"),
        F.count(F.col("rc")).cast("bigint").alias("n_replica"),
        F.count(F.col("sc")).cast("bigint").alias("n_source"),
        F.sum("sc").cast("bigint").alias("source_cents"),
        F.sum("rc").cast("bigint").alias("replica_cents"),
    )
    return recon.select(
        F.lit(stats["inserted"]).cast("bigint").alias("applied_inserts"),
        F.lit(stats["updated"]).cast("bigint").alias("applied_updates"),
        F.lit(stats["deleted_matched"]).cast("bigint").alias("applied_deletes"),
        "n_source",
        "n_replica",
        "n_mismatch",
        "source_cents",
        "replica_cents",
    )


# --------------------------- Bloom data-skipping point lookup
@register(
    "load_bloom_index_point_lookup",
    oracle="""
    WITH probe AS (SELECT MIN(o_orderkey) AS pk FROM orders),
    pos AS (
        SELECT j.j,
               ('0x' || substr(md5(CAST((SELECT pk FROM probe) AS VARCHAR)
                                   || ':' || j.j), 1, 12))::BIGINT % 65536 AS p
        FROM (SELECT UNNEST(range(0, 3)) AS j) j
    ),
    passing AS (
        SELECT c.c
        FROM (SELECT UNNEST(range(0, 4)) AS c) c
        WHERE NOT EXISTS (
            SELECT 1 FROM pos
            WHERE NOT EXISTS (
                SELECT 1
                FROM orders o
                CROSS JOIN (SELECT UNNEST(range(0, 3)) AS j) jj
                WHERE o.o_orderkey % 4 = c.c
                  AND ('0x' || substr(md5(CAST(o.o_orderkey AS VARCHAR)
                                          || ':' || jj.j), 1, 12))::BIGINT
                      % 65536 = pos.p
            )
        )
    )
    SELECT CAST((SELECT COUNT(*) FROM orders
                 WHERE o_orderkey = (SELECT pk FROM probe)) AS BIGINT)
               AS n_rows,
           CAST(ROUND(CAST((SELECT SUM(o_totalprice) FROM orders
                            WHERE o_orderkey = (SELECT pk FROM probe))
                           AS DECIMAL(38,8)), 2) AS DOUBLE) AS total,
           CAST(4 AS INT) AS commits_total,
           CAST((SELECT COUNT(*) FROM passing) AS INT) AS commits_scanned,
           CAST(4 - (SELECT COUNT(*) FROM passing) AS INT) AS commits_skipped
    """,
    description="Bloom-filter data-skipping index on the ZoneStore "
    "(Delta Bloom index analog): 4 APPEND commits partition orders by "
    "key residue, build_bloom_index computes each commit's 65536-bit/"
    "3-hash filter DISTRIBUTED (distinct bit positions collapse before "
    "reaching the driver) and persists it beside the log; a point "
    "lookup probes the filter and opens only commits whose bloom holds "
    "all three probe bits — zone maps cannot skip here because every "
    "commit's [min,max] key range overlaps every probe. The md5 bit "
    "positions are engine-portable, so the ORACLE REBUILDS THE INDEX IN "
    "SQL and derives the same scanned/skipped counts (bloom false "
    "positives included) — the skipping decision itself is "
    "hash-verified, not just the returned rows. At 100 TB this is the "
    "needle-in-haystack primitive: O(commits) driver-side set probes, "
    "then one file's worth of scan.",
)
def load_bloom_index_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    store = ZoneStore(spark, scratch_dir("zs_bloom_"))
    for i in range(4):
        store.write(
            DataZone.SILVER,
            "orders_bloom",
            orders.filter(F.col("o_orderkey") % 4 == i),
            LoadType.APPEND,
        )
    store.build_bloom_index(DataZone.SILVER, "orders_bloom", "o_orderkey")
    probe = orders.agg(F.min("o_orderkey")).collect()[0][0]
    df, report = store.read_bloom_pruned(
        DataZone.SILVER, "orders_bloom", "o_orderkey", probe
    )
    return df.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.round(F.sum("o_totalprice").cast("decimal(38,8)"), 2)
        .cast("double")
        .alias("total"),
        F.lit(report["commits_total"]).cast("int").alias("commits_total"),
        F.lit(report["commits_scanned"]).cast("int").alias("commits_scanned"),
        F.lit(report["commits_skipped"]).cast("int").alias("commits_skipped"),
    )


# --------------------------- length-of-stay profile on cleaned data
@register(
    "etl_length_of_stay_profile",
    oracle=f"""
    WITH {HEALTHCARE_CTE},
    std AS (
        SELECT id,
               {_t2_sql('admission_date')} AS admission_date,
               discharge_date
        FROM records
    ),
    stays AS (
        SELECT datediff('day',
                        CAST(admission_date AS DATE),
                        CAST(discharge_date AS DATE)) AS los_days
        FROM std
        WHERE try_cast(admission_date AS DATE) IS NOT NULL
          AND try_cast(discharge_date AS DATE) IS NOT NULL
          AND CAST(discharge_date AS DATE) >= CAST(admission_date AS DATE)
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM stays)
    SELECT CAST(s.los_days AS BIGINT) AS los_days,
           CAST(COUNT(*) AS BIGINT) AS n_stays,
           CAST(ROUND(CAST(CAST(COUNT(*) AS DOUBLE) / MAX(t.n)
                AS DECIMAL(38,8)), 6) AS DOUBLE) AS share
    FROM stays s CROSS JOIN tot t
    GROUP BY s.los_days
    """,
    description="Length-of-stay distribution AFTER the cleaning "
    "pipeline — the reference domain's flagship clinical KPI, computed "
    "as a read path over T2-standardized dates: admissions parse "
    "through the 4-format precedence chain, stays with unparseable "
    "dates or discharge-before-admission (the DQ006 cross-field "
    "violation) are excluded exactly as the quality gate would "
    "quarantine them, and the surviving integer day-counts histogram "
    "with corpus shares. Demonstrates that the transform surface "
    "composes into analytics (clean -> derive -> aggregate in ONE lazy "
    "plan, no materialization between stages); the LOS spine is <= 10 "
    "distinct values by construction, so the rollup is grain-bounded "
    "at any scale.",
)
def etl_length_of_stay_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = healthcare_frame(spark, sf_dir)
    std = T.standardize_dates(df, ["admission_date"])
    adm = F.to_date(F.col("admission_date"))
    dis = F.to_date(F.col("discharge_date"))
    stays = std.filter(
        adm.isNotNull() & dis.isNotNull() & (dis >= adm)
    ).select(F.datediff(dis, adm).cast("bigint").alias("los_days"))
    # total = sum of the group counts, taken as a window over the
    # (<= 10-row) histogram — a separate stays.agg() branch would
    # recompute the whole parse pipeline (the total sits BEFORE the
    # groupBy exchange, so AQE's ReusedExchange can't dedupe it)
    grouped = stays.groupBy("los_days").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_stays")
    )
    w = Window.partitionBy()
    return grouped.select(
        "los_days",
        "n_stays",
        dround(
            F.col("n_stays").cast("double")
            / F.sum("n_stays").over(w).cast("double"),
            6,
        ).alias("share"),
    )


# ----------------------- arbitrary-Python transform hatch, driver-evidenced
@register(
    "transform_python_hatch_features",
    oracle="""
    WITH f AS (
        SELECT lang,
               string_split(text, ' ')[1] AS first_tok,
               length(text)
                 - length(replace(replace(replace(replace(replace(
                       text, 'a', ''), 'e', ''), 'i', ''), 'o', ''), 'u', ''))
                   AS n_vowels
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_vowels) AS BIGINT) AS total_vowels,
           CAST(COUNT(DISTINCT first_tok) AS BIGINT) AS distinct_first_toks
    FROM f GROUP BY lang ORDER BY lang
    """,
    description="The record-wise subset of the reference's arbitrary "
    "Python transform escape hatch (the reference types transform_fn as "
    "list[dict] -> list[dict], BATCH-level, etl_manager.py:123; this "
    "adapter covers the per-record dict -> dict case applied "
    "element-wise — batch-level cross-record transforms ride "
    "mapInPandas directly), driver-evidenced end-to-end (VERDICT r11 "
    "ask #7): a per-record "
    "Python callable computes two derived fields (first whitespace token, "
    "vowel count) and rides python_record_transform's Arrow-batched "
    "mapInPandas adapter — the DECLARED Python surface, allow-listed in "
    "tools/plan_lint.py — before a JVM-side per-lang aggregate shrinks "
    "the result to 5 rows. The oracle recomputes the record function in "
    "pure SQL, so the dict-in/dict-out hatch itself (column order, "
    "schema preservation, Arrow round-trip) is value-hash-verified, not "
    "just registry-tested. The hatch stays off 100 TB hot paths by "
    "design — this query exists to prove the adapter's SEMANTICS, and "
    "its plan shows exactly one MapInPandas stage over the scan.",
)
def transform_python_hatch_features(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "text", "lang")
        .withColumn("first_tok", F.lit(None).cast("string"))
        .withColumn("n_vowels", F.lit(None).cast("bigint"))
    )

    def rec(r: dict) -> dict:
        t = r["text"] or ""
        r["first_tok"] = t.split(" ")[0] if t else ""
        r["n_vowels"] = sum(t.count(v) for v in "aeiou")
        return r

    spec = T.python_record_transform(
        "vowel_features", rec, "first token + vowel count per record"
    )
    feat = spec.transform_fn(docs)
    return (
        feat.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_vowels").cast("bigint").alias("total_vowels"),
            F.countDistinct("first_tok").cast("bigint").alias(
                "distinct_first_toks"
            ),
        )
        .orderBy("lang")
    )


# --------------------------------- deletion vectors (merge-on-read DELETE)
@register(
    "load_deletion_vector_read",
    oracle="""
    WITH t AS (
        SELECT o_orderkey AS id, o_totalprice AS totalprice,
               o_orderstatus AS status,
               (o_orderstatus = 'F' AND o_orderkey % 10 < 3) AS p1,
               (o_totalprice > 400000) AS p2
        FROM orders
    )
    SELECT status,
           CAST(SUM(CASE WHEN NOT p1 AND NOT p2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_live,
           CAST(SUM(CASE WHEN p1 OR p2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_deleted,
           CAST(SUM(CASE WHEN NOT p1 AND NOT p2
                THEN CAST(ROUND(CAST(totalprice * 100 AS DECIMAL(38,8)),
                     0) AS BIGINT) ELSE 0 END) AS BIGINT) AS live_cents
    FROM t GROUP BY status ORDER BY status
    """,
    description="Merge-on-read DELETE via deletion vectors "
    "(zones_dv.DVZoneStore; Delta deletion vectors / Iceberg v2 "
    "equality deletes): the dataset lands as TWO append commits, then "
    "two successive DELETEs write only the deleted-key vectors — the "
    "data commits are never rewritten (pinned by tests: the commit "
    "list and data files are byte-identical across both deletes), and "
    "the read path applies the vectors as one anti-join. The query "
    "reconstructs the audit from the store's own surfaces: live "
    "per-status counts from the DV-applied read, deleted counts by "
    "anti-joining the pre-delete time-travel snapshot (version 2) "
    "against the live read — so the driver row certifies scan, vector "
    "application, AND DV time-travel replay against the one-shot SQL "
    "predicate. At 100 TB this is the delete that costs O(|deleted "
    "keys|) instead of rewriting every touched commit; the read-time "
    "join tax is bounded by purge_dv() compaction (exercised in "
    "tests).",
)
def load_deletion_vector_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from healthcare_data_lakehouse_spark.zones_dv import DVZoneStore

    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        F.col("o_totalprice").alias("totalprice"),
        F.col("o_orderstatus").alias("status"),
    )
    store = DVZoneStore(spark, scratch_dir("zs_dv_"))
    store.write(
        DataZone.SILVER, "orders_dv", orders.filter(F.col("id") % 2 == 0),
        LoadType.FULL,
    )
    store.write(
        DataZone.SILVER, "orders_dv", orders.filter(F.col("id") % 2 == 1),
        LoadType.APPEND,
    )
    store.delete_where_dv(
        DataZone.SILVER, "orders_dv", "status = 'F' AND id % 10 < 3"
    )
    store.delete_where_dv(
        DataZone.SILVER, "orders_dv", "totalprice > 400000"
    )
    live = store.read(DataZone.SILVER, "orders_dv")
    pre = store.read_version(DataZone.SILVER, "orders_dv", 2)
    deleted = pre.join(live.select("id"), "id", "left_anti")
    cents = F.sum(
        F.round((F.col("totalprice") * 100).cast("decimal(38,8)"), 0)
        .cast("bigint")
    ).cast("bigint")
    lg = live.groupBy("status").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_live"),
        cents.alias("live_cents"),
    )
    dg = deleted.groupBy("status").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_deleted")
    )
    # full outer: a status whose rows were ALL deleted still reports
    # (n_live=0, live_cents=0), matching the oracle's one-shot GROUP BY
    return (
        lg.join(dg, "status", "full_outer")
        .select(
            "status",
            F.coalesce(F.col("n_live"), F.lit(0))
            .cast("bigint")
            .alias("n_live"),
            F.coalesce(F.col("n_deleted"), F.lit(0))
            .cast("bigint")
            .alias("n_deleted"),
            F.coalesce(F.col("live_cents"), F.lit(0))
            .cast("bigint")
            .alias("live_cents"),
        )
        .orderBy("status")
    )


# -------------------------------- branch / merge (zero-copy experiment)
@register(
    "load_branch_merge_flow",
    oracle="""
    SELECT o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(CAST(o_totalprice * 100
                AS DECIMAL(38,8)), 0) AS BIGINT)) AS BIGINT) AS cents
    FROM orders GROUP BY status ORDER BY status
    """,
    description="Git-like branch-and-merge on the zone store "
    "(zones_branch.BranchingZoneStore; the Iceberg/Nessie zero-copy "
    "experimentation workflow): the main table lands half the orders, "
    "a branch is cut at that state (shallow — zero data copied), the "
    "other half is appended ON THE BRANCH (main provably unchanged "
    "while the branch diverges — pinned in tests), and a fast-forward "
    "MERGE adopts the branch's commits back into main by reference. "
    "The driver row certifies the full cycle: the final main read "
    "must equal ALL orders, which only happens if the branch write "
    "landed, stayed isolated, and merged without copying or losing a "
    "commit. Divergent merges (main advanced since the cut) raise and "
    "re-branch — OCC, not silent three-way merges; at 100 TB the "
    "whole cycle is log metadata, never a data rewrite.",
)
def load_branch_merge_flow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from healthcare_data_lakehouse_spark.zones_branch import (
        BranchingZoneStore,
    )

    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        F.col("o_totalprice").alias("totalprice"),
        F.col("o_orderstatus").alias("status"),
    )
    store = BranchingZoneStore(spark, scratch_dir("zs_branch_"))
    store.write(
        DataZone.SILVER, "orders_b", orders.filter(F.col("id") % 2 == 0),
        LoadType.FULL,
    )
    store.create_branch(DataZone.SILVER, "orders_b", "exp")
    store.branch_write(
        DataZone.SILVER, "orders_b", "exp",
        orders.filter(F.col("id") % 2 == 1), LoadType.APPEND,
    )
    store.merge_branch(DataZone.SILVER, "orders_b", "exp")
    out = store.read(DataZone.SILVER, "orders_b")
    return (
        out.groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.round(
                    (F.col("totalprice") * 100).cast("decimal(38,8)"), 0
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("cents"),
        )
        .orderBy("status")
    )
