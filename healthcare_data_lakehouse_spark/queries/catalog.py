"""Central query registry.

Each :class:`QuerySpec` couples a PySpark builder ``(spark, sf_dir) ->
DataFrame`` with the equivalent DuckDB SQL (``oracle``), using IDENTICAL
output column names/aliases so the driver's order-insensitive value-hash
compare lines up. Specs with ``oracle=None`` are non-SQL-expressible and get
the driver's weaker rows-only check.

Submodules register into ``QUERIES`` at import time.

Cache policy: the catalog owns the session's dataset cache. Every
``QuerySpec.fn`` call first runs ``spark.catalog.clearCache()``, so a
builder may ``persist()`` its intermediates freely; they stay cached while
the returned DataFrame is consumed and are released by the next catalog
invocation. Builders called directly (the decorator returns the raw
function) never clear the cache.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

__all__ = ["QuerySpec", "QUERIES", "register"]


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    description: str = ""


QUERIES: dict[str, QuerySpec] = {}


def register(
    name: str, oracle: str | None, description: str = ""
) -> Callable[[Callable[[SparkSession, str], DataFrame]], Callable]:
    def deco(fn: Callable[[SparkSession, str], DataFrame]) -> Callable:
        @functools.wraps(fn)
        def invoke(spark: SparkSession, sf_dir: str) -> DataFrame:
            spark.catalog.clearCache()
            return fn(spark, sf_dir)

        QUERIES[name] = QuerySpec(name, invoke, oracle, description)
        return fn

    return deco


# Catalog ordering: the sampled correctness gate runs the FIRST 50 catalog
# entries, so PRIORITY is exactly that window. The reference-parity
# surface (transform_*/load_*/etl_*/lineage_*/quality_*) and the flagship
# stay pinned at the front; the remaining slots go to queries whose code
# paths changed most recently, so oracle parity after a rewrite shows up
# in the sampled record. Queries rotated out of the window are still
# verified by every full tools/compare.py sweep. Everything after the
# window follows in registration order, i.e. load_all()'s import order.
PRIORITY = [
    "gold_revenue_by_mktsegment",
    "transform_dedup_first_wins",
    "transform_standardize_dates",
    "transform_clean_pipeline",
    "load_merge_upsert",
    "load_incremental_append_new",
    "load_append_inserts_all",
    "load_time_travel_diff",
    "load_zone_map_pruned_scan",
    "source_csv_roundtrip_events",
    "source_json_roundtrip_events",
    "etl_run_job_silver",
    "etl_quarantine_split",
    "etl_promote_zone_chain",
    "lineage_medallion_edges",
    "lineage_graph_audit",
    "lineage_columns_from_plan",
    "quality_validate_silver",
    "quality_validate_bronze",
    "quality_promotion_gate",
    "quality_fk_integrity_gold",
    "dedup_dfcap_containment_pairs",
    "similarity_rrf_hybrid_top10",
    "similarity_minhash_jaccard_error",
    "dedup_ngram_jaccard_pairs",
    "orders_littles_law_check",
    "join_bucketed_colocated",
    "similarity_recall_lsh_at5",
    "pipeline_decontaminate_train",
    "dedup_dfcap_recall_audit",
    "multimodal_phash_neardup_seeded",
    "dedup_candidate_selectivity_compare",
    "streaming_interval_join_clicks_purchases",
    "streaming_dedup_within_watermark",
    "load_change_data_feed",
    "load_schema_evolution_append",
    "embedding_participation_ratio",
    "events_absorbing_markov_steps",
    "events_burst_intervals_dp",
    "stats_granger_causality_daily",
    "dedup_dfcap_budget_planner",
    "forecast_theta_monthly_revenue",
    "load_deletion_vector_read",
    "stats_pettitt_changepoint",
    "stats_sprt_purchase_rate",
    "similarity_mmr_rerank_top3",
    "similarity_knn_graph_mutual",
    "multimodal_scene_cut_detect",
    "er_em_mu_estimation",
    "stats_conformal_interval_coverage",
]


def load_all() -> dict[str, QuerySpec]:
    """Import every query submodule so registrations run, then order the
    catalog priority-first (parity + flagship + fragile queries lead)."""
    from healthcare_data_lakehouse_spark.queries import (  # noqa: F401
        advanced,
        analytics_ext,
        analytics_olap,
        behavior_events,
        behavior_stats,
        etl_queries,
        llm_dedup,
        llm_graph_stats,
        llm_pipeline,
        llm_similarity,
        llm_text,
        quality_queries,
        semistructured,
        streaming_queries,
    )

    ordered = {n: QUERIES[n] for n in PRIORITY if n in QUERIES}
    ordered.update(QUERIES)
    return ordered
