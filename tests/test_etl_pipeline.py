"""run_job state machine / quarantine / promote_zone tests (SURVEY.md §2.6)."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from healthcare_data_lakehouse_spark.etl import (
    ETLJobConfig,
    ETLStatus,
    HealthcareETLManager,
)
from healthcare_data_lakehouse_spark.zones import DataZone, LoadType
from tests.test_zones_commit import _jobs, staged_jobs  # noqa: F401


@pytest.fixture()
def mgr(spark):
    return HealthcareETLManager(spark, tempfile.mkdtemp(prefix="wh_test_"))


def clean_rows(spark):
    # 20 clean records: valid patient ids, ISO dates, in-range vitals
    return spark.createDataFrame([
        Row(
            id=str(i),
            patient_id=f"MRN{i:09d}",
            birth_date="1990-01-02",
            age=40.0,
            heart_rate=70.0,
        )
        for i in range(20)
    ])


def test_clean_job_completes(spark, mgr):
    config = ETLJobConfig(
        job_id="j1", source_name="pat", target_zone=DataZone.SILVER,
        load_type=LoadType.FULL,
        required_fields=["id", "patient_id"],
        transformations=["deduplicate", "trim_strings"],
    )
    result = mgr.run_job(config, clean_rows(spark))
    assert result.status == ETLStatus.COMPLETED, result.error_message
    assert result.records_read == 20
    assert result.records_written == 20
    assert result.records_quarantined == 0
    assert result.quality_report.promotion_eligible
    assert result.run_id.startswith("run_")
    assert mgr.get_zone_data(DataZone.SILVER, "pat").count() == 20
    # lineage recorded
    assert result.lineage_node_id is not None
    up = mgr.lineage_tracker.get_upstream_lineage(result.lineage_node_id)
    assert len(up) == 1


def test_dirty_job_quarantines_and_promotes_rest(spark, mgr):
    dirty = clean_rows(spark).unionByName(
        spark.createDataFrame(
            [(str(100 + i), None, "1990-01-02", 40.0, 70.0) for i in range(5)],
            "id string, patient_id string, birth_date string, "
            "age double, heart_rate double",
        )
    )
    config = ETLJobConfig(
        job_id="j2", source_name="pat2", target_zone=DataZone.SILVER,
        load_type=LoadType.FULL,
        required_fields=["id", "patient_id"],
        transformations=[],
    )
    result = mgr.run_job(config, dirty)
    # 5/25 null patient_id -> DQ001 score 0.8 FAILED -> not eligible
    assert result.status == ETLStatus.COMPLETED
    assert result.records_quarantined == 5
    assert result.records_written == 20
    q = mgr.get_quarantined("j2")
    assert q.count() == 5
    assert set(r._quarantine_reason for r in q.collect()) == {"failed"}


def patient_rows(spark, n, bad):
    """``n`` clean rows, except that the ids in ``bad`` lack ``patient_id``."""
    return spark.createDataFrame(
        [(str(i), None if i in bad else f"MRN{i:09d}", "1990-01-02", 40.0, 70.0)
         for i in range(n)],
        "id string, patient_id string, birth_date string, "
        "age double, heart_rate double",
    )


def merge_config(job_id):
    return ETLJobConfig(
        job_id=job_id, source_name=job_id, target_zone=DataZone.SILVER,
        load_type=LoadType.MERGE, required_fields=["patient_id"],
    )


def test_every_failing_row_is_quarantined_past_100(spark, mgr):
    # more failures than the reference's 100-id sample per rule
    batch = patient_rows(spark, 1000, {i for i in range(1000) if i % 20 < 3})
    result = mgr.run_job(merge_config("big"), batch)
    assert result.status == ETLStatus.COMPLETED, result.error_message
    assert (result.records_read, result.records_quarantined,
            result.records_written) == (1000, 150, 850)
    assert mgr.get_quarantined("big").count() == 150
    silver = mgr.get_zone_data(DataZone.SILVER, "big")
    assert silver.count() == 850
    assert silver.filter(F.col("patient_id").isNull()).count() == 0


def test_failed_rule_starts_no_job_of_its_own(spark, mgr, staged_jobs):
    """Outside its staged writes, run_job starts only the fused
    validation's jobs, as many for a batch with a FAILED rule as for a
    clean one: the failing rows leave by predicate, not by collected ids."""

    def jobs_outside_writes(job_id, bad):
        staged_jobs.update(jobs=0, writes=0)
        first = _jobs(spark)
        result = mgr.run_job(merge_config(job_id), patient_rows(spark, 300, bad))
        assert result.status == ETLStatus.COMPLETED, result.error_message
        assert result.records_quarantined == len(bad)
        return _jobs(spark) - first - staged_jobs["jobs"]

    clean = jobs_outside_writes("clean", set())
    assert staged_jobs["writes"] == 1
    dirty = jobs_outside_writes("dirty", set(range(0, 300, 10)))
    assert staged_jobs["writes"] == 2
    assert mgr.get_quarantined("dirty").count() == 30
    assert dirty == clean


def test_quarantine_condition_is_never_null(spark):
    """A row on which a FAILED rule's predicate is NULL is promoted, so
    every row lands in exactly one branch of the split."""
    from healthcare_data_lakehouse_spark.quality import (
        DataQualityValidator,
        QualityDimension,
        QualityStatus,
        SparkQualityRule,
    )

    df = spark.createDataFrame([("1", "ok"), ("2", None), ("3", "bad")],
                               "id string, v string")
    v = DataQualityValidator("t")
    v.add_rule(SparkQualityRule(
        "C001", "v_not_bad", "", QualityDimension.VALIDITY, "critical",
        [DataZone.SILVER],
        rows=lambda d: (1, F.col("v") == "bad"),
        grade=lambda checked, failed: (QualityStatus.FAILED, 0.0, ""),
    ))
    report = v.validate(df, DataZone.SILVER, required_fields=["id"])
    flags = df.select("id", report.quarantine_condition.alias("q")).collect()
    assert sorted(map(tuple, flags)) == [("1", False), ("2", False), ("3", True)]


def test_quarantine_disabled_fails_job(spark, mgr):
    dirty = spark.createDataFrame(
        [(str(i), None) for i in range(10)],
        "id string, patient_id string",
    )
    config = ETLJobConfig(
        job_id="j3", source_name="pat3", target_zone=DataZone.SILVER,
        load_type=LoadType.FULL, required_fields=["id", "patient_id"],
        enable_quarantine=False,
    )
    result = mgr.run_job(config, dirty)
    assert result.status == ETLStatus.FAILED
    assert "Quality gate failed" in result.error_message
    assert mgr.get_zone_data(DataZone.SILVER, "pat3") is None


def test_promote_zone_default_chain(spark, mgr):
    mgr.store.write(
        DataZone.BRONZE, "pat4",
        clean_rows(spark), LoadType.FULL,
    )
    result = mgr.promote_zone("pat4", DataZone.BRONZE, DataZone.SILVER)
    assert result.status == ETLStatus.COMPLETED, result.error_message
    out = mgr.get_zone_data(DataZone.SILVER, "pat4")
    assert out.count() == 20
    assert "_processed_at" in out.columns  # add_metadata in default chain


def test_promote_empty_zone_raises(mgr):
    with pytest.raises(ValueError, match="No data found"):
        mgr.promote_zone("ghost", DataZone.BRONZE, DataZone.SILVER)


def test_dq007_real_fk_check(spark):
    """With fk_checks configured, DQ007 counts orphans; without, stub-pass."""
    from healthcare_data_lakehouse_spark.quality import DataQualityValidator
    from healthcare_data_lakehouse_spark.zones import DataZone

    child = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 99), (4, None)], "id int, fk int"
    )
    parent = spark.createDataFrame([(10,), (20,)], "pk int")

    v = DataQualityValidator(
        "t", id_field="id", fk_checks=[("fk", parent, "pk")]
    )
    r = {c.rule_id: c for c in
         v.validate(child, DataZone.GOLD).check_results}["DQ007"]
    # row 3 is an orphan; NULL fk (row 4) is not a violation
    assert r.records_failed == 1 and r.records_checked == 4
    assert r.status.value == "failed"  # 3/4 = 0.75 < 0.99

    stub = DataQualityValidator("t", id_field="id")
    r2 = {c.rule_id: c for c in
          stub.validate(child, DataZone.GOLD).check_results}["DQ007"]
    assert r2.status.value == "passed" and r2.records_failed == 0


def test_observed_metrics_ride_the_write(spark, tmp_path):
    """Observation metrics are computed by the write's own scan — no
    second pass — and match independently computed values."""
    import pyspark.sql.functions as F

    from healthcare_data_lakehouse_spark.quality import with_observed_metrics

    df = spark.range(1000).select(
        F.col("id"),
        F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id") % 7).alias("v"),
    )
    observed, obs = with_observed_metrics(
        df,
        "ingest_metrics",
        {
            "n_rows": F.count(F.lit(1)),
            "n_null_v": F.count_if(F.col("v").isNull()),
            "sum_v": F.sum("v"),
        },
    )
    observed.write.mode("overwrite").parquet(str(tmp_path / "out"))
    got = obs.get
    assert got["n_rows"] == 1000
    assert got["n_null_v"] == 100
    expected_sum = df.agg(F.sum("v")).first()[0]
    assert got["sum_v"] == expected_sum


def test_point_in_time_join_splits_resegmented_history(spark):
    from healthcare_data_lakehouse_spark.queries.etl_queries import (
        scd2_point_in_time_revenue,
    )

    rows = scd2_point_in_time_revenue(spark, "/root/testdata/sf0.001").collect()
    assert rows
    # RESEGMENTED revenue exists only at batch 1 (version valid_from=1)
    reseg = [r for r in rows if r.segment == "RESEGMENTED"]
    assert reseg and all(r.as_of_batch == 1 for r in reseg)
    # every (segment, batch) row is positive
    assert all(r.n_orders > 0 and r.revenue > 0 for r in rows)


def test_consistency_rule_flags_only_true_reversals(spark):
    from healthcare_data_lakehouse_spark.queries.quality_queries import (
        quality_consistency_rule_discharge,
    )

    r = quality_consistency_rule_discharge(spark, "/root/testdata/sf0.001").head()
    assert r.rule_id == "DQ101"
    # fixture injects discharge = admission - 3 days at k%19==0 (~5.3% of
    # populated pairs) -> below the 0.95 fail cut
    assert r.status == "failed"
    assert r.records_checked > 0
    assert 0.93 < r.score < 0.96
    assert r.records_failed + r.records_passed == r.records_checked


def test_watermark_lateness_covers_all_late_buckets(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.etl_queries import (
        events_watermark_lateness_audit,
    )
    from healthcare_data_lakehouse_spark.tables import table
    from pyspark.sql import functions as F

    rows = events_watermark_lateness_audit(spark, sf_dir).collect()
    total = sum(r.n_events for r in rows)
    ev = table(spark, sf_dir, "events")
    n_events = ev.count()
    n_first_bucket = ev.filter((F.col("event_id") / 250).cast("bigint") == (
        ev.agg(F.min((F.col("event_id") / 250).cast("bigint"))).collect()[0][0]
    )).count()
    # every event outside the first arrival bucket is classified
    assert total == n_events - n_first_bucket
    assert set(r.lateness_class for r in rows) <= {
        "on_time", "lt_1m", "lt_1h", "lt_1d", "ge_1d"
    }


def test_reconciliation_partitions_all_orders(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.quality_queries import (
        quality_order_lineitem_reconciliation,
    )
    from healthcare_data_lakehouse_spark.tables import table

    rows = quality_order_lineitem_reconciliation(spark, sf_dir).collect()
    assert sum(r.n_orders for r in rows) == table(spark, sf_dir, "orders").count()
    classes = {r.recon_class for r in rows}
    assert classes <= {
        "within_1pct", "within_10pct", "mismatch", "missing_lineitems"
    }


def test_expectation_suite_names_and_flags(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.quality_queries import (
        quality_expectation_suite_events,
        _EXPECTATIONS,
    )

    rows = {r.expectation: r.passed
            for r in quality_expectation_suite_events(spark, sf_dir).collect()}
    assert set(rows) == {n for n, _ in _EXPECTATIONS}
    assert all(v in (0, 1) for v in rows.values())
    # structural expectations hold on the driver fixtures
    assert rows["user_id_never_null"] == 1
    assert rows["event_id_unique"] == 1
    assert rows["event_type_in_set"] == 1


def test_full_row_duplicate_audit_consistent(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.quality_queries import (
        quality_duplicate_full_rows_events,
    )
    from healthcare_data_lakehouse_spark.tables import table

    r = quality_duplicate_full_rows_events(spark, sf_dir).collect()[0]
    assert r.total_rows == table(spark, sf_dir, "events").count()
    assert r.distinct_rows + r.duplicate_rows == r.total_rows
    assert (r.duplicate_rows == 0) == (r.max_multiplicity == 1)


def test_rule_mining_bounds_bracket_data(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.quality_queries import (
        quality_rule_mining_bounds,
        _RULE_MINE_COLS,
    )
    from healthcare_data_lakehouse_spark.tables import table
    from pyspark.sql import functions as F

    rows = {r.column_name: r for r in quality_rule_mining_bounds(spark, sf_dir).collect()}
    assert set(rows) == set(_RULE_MINE_COLS)
    li = table(spark, sf_dir, "lineitem")
    for c, r in rows.items():
        assert r.lo_p1 <= r.hi_p99
        mn, mx = li.agg(F.min(c), F.max(c)).collect()[0]
        assert mn <= r.lo_p1 and r.hi_p99 <= mx
        # the suggested band keeps ~98% of rows
        inside = li.filter(
            (F.col(c) >= r.lo_p1) & (F.col(c) <= r.hi_p99)
        ).count()
        assert inside / li.count() >= 0.97


def test_null_pattern_clusters_cover_rows_and_known_patterns(spark, sf_dir):
    """Pattern shares sum to 1 over all rows; the all-populated pattern
    and the known fixture injections (null patient_id at k%11, null
    discharge at k%21, null age at k%23) all surface."""
    from healthcare_data_lakehouse_spark.queries.quality_queries import (
        quality_null_pattern_clusters,
    )

    rows = quality_null_pattern_clusters(spark, sf_dir).collect()
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-4
    pats = {r.null_pattern for r in rows}
    assert all(len(p) == 6 and set(p) <= {"0", "1"} for p in pats)
    # null patient_id (first bit) and null age (fourth bit) each occur
    assert any(p[0] == "1" for p in pats)
    assert any(p[3] == "1" for p in pats)


def test_dp_histogram_noise_is_additive_and_bounded(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.quality_queries import (
        privacy_dp_laplace_histogram,
    )
    from healthcare_data_lakehouse_spark.tables import table

    rows = privacy_dp_laplace_histogram(spark, sf_dir).collect()
    n_events = table(spark, sf_dir, "events").count()
    assert sum(r.true_count for r in rows) == n_events
    for r in rows:
        assert abs(r.noisy_count - (r.true_count + r.noise)) < 2e-6
        # md5 uniforms keep the inverse-CDF draw in a sane Laplace range
        assert abs(r.noise) < 30.0


def test_t_closeness_emd_bounds(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.quality_queries import (
        privacy_t_closeness_audit,
    )

    rows = privacy_t_closeness_audit(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.t_emd <= 1.0
        assert r.t_close_02 == (r.t_emd <= 0.2)
    # the global distribution is a weighted mix of the groups, so not
    # every group can sit at the extreme
    assert any(r.t_emd < 0.5 for r in rows)


def test_length_of_stay_profile_contract(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.etl_queries import (
        etl_length_of_stay_profile,
    )

    rows = sorted(
        etl_length_of_stay_profile(spark, sf_dir).collect(),
        key=lambda r: r.los_days,
    )
    # fixture construction: discharge = admission + (k % 10) days
    assert [r.los_days for r in rows] == list(range(10))
    assert all(r.n_stays > 0 for r in rows)
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-3
    # the %19 discharge-before-admission violations never leak through
    assert all(r.los_days >= 0 for r in rows)


def test_semantic_type_inference_fixture_contract(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.quality_queries import (
        quality_semantic_type_inference,
    )

    rows = {
        r.col: r for r in quality_semantic_type_inference(spark, sf_dir).collect()
    }
    assert set(rows) == {
        "patient_id", "birth_date", "admission_date", "ssn", "diagnosis_code",
    }
    # the injection rates make the argmax unambiguous per column
    assert rows["patient_id"].inferred_type == "mrn"
    assert rows["admission_date"].inferred_type == "iso_date"
    assert rows["ssn"].inferred_type == "ssn"
    assert rows["diagnosis_code"].inferred_type == "code"
    for r in rows.values():
        assert r.n_nonnull <= r.n_rows
        for share in (r.mrn_share, r.iso_date_share, r.ssn_share, r.code_share):
            assert 0.0 <= share <= 1.0
