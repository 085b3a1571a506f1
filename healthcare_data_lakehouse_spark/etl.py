"""ETL orchestration: run_job state machine, quarantine split, promote_zone.

DataFrame-native realization of the reference's ``HealthcareETLManager``
(``src/etl/etl_manager.py:127-629``). Control crosses the driver/executor
boundary only at Spark actions: the fused quality aggregation and the two
writes, whose row counts are observations on the frames they compute —
everything else is lazy plan construction.

Semantics preserved from the reference (SURVEY.md §2.6):
* transform chain applied in config order, unknown names silently skipped
  (``etl_manager.py:253-262``),
* after quarantining, the remainder is promoted WITHOUT re-validation
  (``etl_manager.py:298-309``),
* any exception → FAILED result with message (``etl_manager.py:344-354``),
* run id ``run_{sha256(job_id:ts)[:12]}`` (``etl_manager.py:358-362``),
* lineage via the tracker's real API (the reference's call sites are broken
  as written — SURVEY.md header notes 1-5; intent preserved: source asset +
  output asset + one transformation edge, ``etl_manager.py:395-439``).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field as dc_field
from datetime import datetime, timezone
from enum import Enum
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from healthcare_data_lakehouse_spark.lineage import LineageTracker, TransformationType
from healthcare_data_lakehouse_spark.quality import (
    DataQualityValidator,
    QualityReport,
)
from healthcare_data_lakehouse_spark.transforms import (
    TransformRegistry,
    TransformSpec,
    standard_registry,
    with_ingest_order,
)
from healthcare_data_lakehouse_spark.zones import (
    ZONE_ORDER,
    DataZone,
    LoadType,
    ZoneStore,
)

__all__ = ["ETLStatus", "ETLJobConfig", "ETLJobResult", "HealthcareETLManager"]


def _utcnow() -> datetime:
    return datetime.now(timezone.utc)


class ETLStatus(str, Enum):
    """Reference ``etl_manager.py:46-55``."""

    PENDING = "pending"
    RUNNING = "running"
    QUALITY_CHECK = "quality_check"
    PROMOTING = "promoting"
    COMPLETED = "completed"
    FAILED = "failed"
    QUARANTINED = "quarantined"


@dataclass
class ETLJobConfig:
    """Reference ``etl_manager.py:58-72``. Unlike the reference,
    ``partition_columns`` is actually honored on writes (the reference
    declares it and never reads it — ``etl_manager.py:67``)."""

    job_id: str
    source_name: str
    target_zone: DataZone
    load_type: LoadType
    required_fields: list[str] = dc_field(default_factory=list)
    partition_columns: list[str] = dc_field(default_factory=list)
    dedup_columns: list[str] = dc_field(default_factory=list)
    transformations: list[str] = dc_field(default_factory=list)
    quality_threshold: float = 0.95
    enable_lineage: bool = True
    enable_quarantine: bool = True


@dataclass
class ETLJobResult:
    """Reference ``etl_manager.py:75-115``."""

    job_id: str
    run_id: str
    status: ETLStatus
    source_zone: DataZone
    target_zone: DataZone
    records_read: int
    records_written: int
    records_quarantined: int
    quality_report: QualityReport | None
    lineage_node_id: str | None
    start_time: datetime
    end_time: datetime | None
    error_message: str | None = None

    @property
    def duration_seconds(self) -> float:
        if self.end_time:
            return (self.end_time - self.start_time).total_seconds()
        return 0.0

    def to_dict(self) -> dict[str, Any]:
        return {
            "job_id": self.job_id,
            "run_id": self.run_id,
            "status": self.status.value,
            "source_zone": self.source_zone.value,
            "target_zone": self.target_zone.value,
            "records_read": self.records_read,
            "records_written": self.records_written,
            "records_quarantined": self.records_quarantined,
            "quality_score": (
                self.quality_report.overall_score if self.quality_report else None
            ),
            "lineage_node_id": self.lineage_node_id,
            "duration_seconds": self.duration_seconds,
            "start_time": self.start_time.isoformat(),
            "end_time": self.end_time.isoformat() if self.end_time else None,
            "error_message": self.error_message,
        }


class HealthcareETLManager:
    """Zone-based medallion ETL with quality gates, quarantine, lineage."""

    ZONE_ORDER = ZONE_ORDER

    def __init__(
        self,
        spark: SparkSession,
        warehouse_root: str,
        lineage_tracker: LineageTracker | None = None,
        quarantine_cap: int | None = 100,
    ):
        self.spark = spark
        self.store = ZoneStore(spark, warehouse_root)
        self.lineage_tracker = lineage_tracker or LineageTracker()
        self.quarantine_cap = quarantine_cap
        self._batch_ts = _utcnow().isoformat()
        self.transformations: TransformRegistry = standard_registry(self._batch_ts)

    # ------------------------------------------------------------- registry
    def register_transform(self, spec: TransformSpec) -> None:
        """Reference ``etl_manager.py:201-204``."""
        self.transformations.register(spec)

    # ------------------------------------------------------------------ job
    def run_job(self, config: ETLJobConfig, source_df: DataFrame) -> ETLJobResult:
        """Transform chain → quality gate → quarantine split → lineage →
        zone write (reference ``etl_manager.py:206-356``)."""
        run_id = self._generate_run_id(config.job_id)
        start_time = _utcnow()
        batch_ts = start_time.isoformat()
        source_zone = self._get_source_zone(config.target_zone)

        result = ETLJobResult(
            job_id=config.job_id,
            run_id=run_id,
            status=ETLStatus.RUNNING,
            source_zone=source_zone,
            target_zone=config.target_zone,
            records_read=0,
            records_written=0,
            records_quarantined=0,
            quality_report=None,
            lineage_node_id=None,
            start_time=start_time,
            end_time=None,
        )

        # Row counts are observations on the frames this job already
        # computes (the validation scan, the quarantine write, the zone
        # write), never separate count jobs; each is read only after an
        # action over its frame has run.
        read_obs, written_obs = Observation(), Observation()
        rows = F.count(F.lit(1)).alias("rows")
        cached: list[DataFrame] = []
        try:
            # Stamp ingestion order once; cache the transformed frame since
            # validation, the split and the write all branch off it.
            source_df = with_ingest_order(source_df).observe(read_obs, rows)
            transformed = self.transformations.apply(
                source_df, config.transformations
            ).persist()
            cached.append(transformed)

            # Quality gate: one fused aggregation pass (quality.py).
            result.status = ETLStatus.QUALITY_CHECK
            validator = DataQualityValidator(
                dataset_name=config.source_name,
                id_field="id",
                quarantine_cap=self.quarantine_cap,
            )
            report = validator.validate(
                transformed,
                target_zone=config.target_zone,
                required_fields=config.required_fields,
            )
            result.quality_report = report
            result.records_read = read_obs.get["rows"]

            if not report.promotion_eligible:
                if config.enable_quarantine:
                    # Split: quarantined rows out, remainder promoted
                    # WITHOUT re-validation (reference :281-309). A row
                    # whose condition is NULL lands in neither branch.
                    if report.quarantine_condition is not None:
                        # Exact predicate split (scalable path, no driver ids).
                        cond = report.quarantine_condition
                        marked = transformed.withColumn("__q", cond).persist()
                        cached.append(marked)
                        quarantined = marked.filter(F.col("__q")).drop("__q")
                        passed = marked.filter(~F.col("__q")).drop("__q")
                    else:
                        ids = report.quarantine_records
                        key = F.coalesce(F.col("id").cast("string"), F.lit("None")) \
                            if "id" in transformed.columns else F.lit("")
                        quarantined = transformed.filter(key.isin(ids))
                        passed = transformed.filter(~key.isin(ids))
                    result.records_quarantined = self.store.write_quarantine(
                        config.job_id,
                        quarantined,
                        reason=report.overall_status.value,
                        quality_score=report.overall_score,
                        batch_ts=batch_ts,
                    )
                    transformed = passed
                else:
                    result.status = ETLStatus.FAILED
                    result.end_time = _utcnow()
                    result.error_message = (
                        f"Quality gate failed: score={report.overall_score:.2f}"
                    )
                    return result

            result.status = ETLStatus.PROMOTING
            promoted = transformed.observe(written_obs, rows)

            # Bounded OCC retry: if a concurrent writer claims the commit
            # slot during our (long) Spark write, re-read and re-attempt
            # instead of failing the whole job run.
            self.store.with_retry(
                lambda: self.store.write(
                    config.target_zone,
                    config.source_name,
                    promoted,
                    load_type=config.load_type,
                    partition_columns=config.partition_columns or None,
                )
            )
            # records_written reports the promoted row count (reference
            # :330 counts the post-split batch, not the table delta).
            result.records_written = written_obs.get["rows"]

            if config.enable_lineage:
                result.lineage_node_id = self._track_lineage(
                    config,
                    result.records_read,
                    result.records_written,
                    len(transformed.columns),
                    report,
                )
            result.status = ETLStatus.COMPLETED
            result.end_time = _utcnow()

        except Exception as e:
            result.status = ETLStatus.FAILED
            result.end_time = _utcnow()
            result.error_message = str(e)
        finally:
            for df in cached:
                df.unpersist()

        return result

    # ------------------------------------------------------------- plumbing
    def _generate_run_id(self, job_id: str) -> str:
        """Reference ``etl_manager.py:358-362``."""
        ts = _utcnow().isoformat()
        return "run_" + hashlib.sha256(f"{job_id}:{ts}".encode()).hexdigest()[:12]

    def _get_source_zone(self, target_zone: DataZone) -> DataZone:
        """Reference ``etl_manager.py:364-369``."""
        idx = self.ZONE_ORDER.index(target_zone)
        if idx > 0:
            return self.ZONE_ORDER[idx - 1]
        return DataZone.LANDING

    def _track_lineage(
        self,
        config: ETLJobConfig,
        records_read: int,
        n_out: int,
        n_columns: int,
        report: QualityReport,
    ) -> str:
        """Source asset + output asset + one transformation edge
        (intent of reference ``etl_manager.py:395-439``, realized through
        the tracker's actual API), recorded once the output is written."""
        source_zone = self._get_source_zone(config.target_zone)
        source_asset = self.lineage_tracker.register_asset(
            name=f"{config.source_name}_{config.target_zone.value}_source",
            zone=source_zone,
            location=self.store.dataset_path(source_zone, config.source_name),
            row_count=records_read,
        )
        output_asset = self.lineage_tracker.register_asset(
            name=f"{config.source_name}_{config.target_zone.value}_output",
            zone=config.target_zone,
            location=self.store.dataset_path(config.target_zone, config.source_name),
            row_count=n_out,
            column_count=n_columns,
            tags={"quality_score": f"{report.overall_score:.4f}"},
        )
        self.lineage_tracker.record_transformation(
            step_name=f"{config.job_id}",
            transformation_type=(
                TransformationType.CLEANING
                if config.target_zone == DataZone.BRONZE
                else TransformationType.STANDARDIZATION
            ),
            input_asset_ids=[source_asset.asset_id],
            output_asset_id=output_asset.asset_id,
            records_processed=records_read,
            records_output=n_out,
            parameters={
                "job_id": config.job_id,
                "load_type": config.load_type.value,
                "quality_status": report.overall_status.value,
                "transformations": ", ".join(config.transformations),
            },
        )
        return output_asset.asset_id

    # ---------------------------------------------------------- zone access
    def get_zone_data(self, zone: DataZone, dataset_name: str) -> DataFrame | None:
        """Reference ``etl_manager.py:582-588``."""
        return self.store.read(zone, dataset_name)

    def get_quarantined(self, job_id: str) -> DataFrame | None:
        """Reference ``etl_manager.py:590-595``."""
        return self.store.read_quarantine(job_id)

    def promote_zone(
        self,
        dataset_name: str,
        from_zone: DataZone,
        to_zone: DataZone,
        job_config: ETLJobConfig | None = None,
    ) -> ETLJobResult:
        """Reference ``etl_manager.py:597-629``."""
        source_df = self.get_zone_data(from_zone, dataset_name)
        if source_df is None or source_df.isEmpty():
            raise ValueError(
                f"No data found in {from_zone.value} for {dataset_name}"
            )
        config = job_config or ETLJobConfig(
            job_id=f"promote_{dataset_name}_{from_zone.value}_{to_zone.value}",
            source_name=dataset_name,
            target_zone=to_zone,
            load_type=LoadType.FULL,
            transformations=["deduplicate", "trim_strings", "add_metadata"],
        )
        return self.run_job(config, source_df)
