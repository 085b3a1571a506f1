"""Generate QUERIES.md and SURVEY.md §8.2–8.3 — the query/operator index —
from the live registry, so the docs can never drift from the code
(VERDICT r10 ask #5). ``tests/test_query_docs.py`` pins both outputs:
regeneration must be a no-op at commit time.

Usage: ``python tools/gen_query_docs.py``
"""

from __future__ import annotations

import sys
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

MODULE_TITLES = {
    "advanced": "Advanced analytics (bitmaps, changepoints, resampling, corpus laws)",
    "analytics_olap": "Relational analytics I (TPC-H shapes, windows, grouping sets, percentiles)",
    "analytics_ext": "Relational analytics II (sketches, sampling, ER, forecasting, storage audits)",
    "behavior_events": "Behavioral analytics (sessions, funnels, paths, anomalies)",
    "behavior_stats": "Statistical analytics (tests, fits, drift, experiment evaluation)",
    "etl_queries": "ETL, loads, lineage, time travel",
    "llm_dedup": "LLM dedup (exact, MinHash+LSH, SimHash, spans, clusters, eval)",
    "llm_graph_stats": "Graph statistics (PageRank, communities, k-core, triangles, k-hop)",
    "llm_pipeline": "LLM pipeline (RAG, packing, decontamination, shards, budget mixes)",
    "llm_similarity": "Similarity & embeddings (ANN: LSH/IVF/PQ, recall, coresets, PCA)",
    "llm_text": "Text analysis (quality, langid, tokenization, LM scoring, segmentation)",
    "quality_queries": "Data quality & governance",
    "semistructured": "Semi-structured & array surface",
    "streaming_queries": "Structured Streaming (drained deterministic)",
}


# Modules whose queries belong to SURVEY §8.3 (the LLM-pipeline
# extensions); everything else is the §8.2 analytics/parity surface.
LLM_MODULES = {
    "llm_dedup",
    "llm_graph_stats",
    "llm_pipeline",
    "llm_similarity",
    "llm_text",
}

SURVEY_MARK = "### 8.2"


def survey_section(by_module: dict[str, list]) -> str:
    """SURVEY.md §8.2–8.3, generated: per-module name indexes with oracle
    status, replacing the round-1 prose snapshot that kept going stale."""

    def block(mods: list[str]) -> list[str]:
        out = []
        for mod in mods:
            specs = by_module[mod]
            title = MODULE_TITLES.get(mod, mod)
            out.append(f"**{title}** ({len(specs)}):")
            names = [
                f"`{s.name}`" + ("" if s.oracle else " (rows-only)")
                for s in specs
            ]
            out.append(", ".join(names) + ".")
            out.append("")
        return out

    analytics = sorted(m for m in by_module if m not in LLM_MODULES)
    llm = sorted(m for m in by_module if m in LLM_MODULES)
    n_total = sum(len(v) for v in by_module.values())
    n_oracle = sum(
        1 for v in by_module.values() for s in v if s.oracle is not None
    )
    lines = [
        "### 8.2 Analytics surface (generated from the registry)",
        "",
        "> Generated by `tools/gen_query_docs.py` from the live query",
        "> registry — regenerate after adding queries; do not edit by",
        "> hand (`tests/test_query_docs.py` pins freshness and",
        "> registry-name parity). Every name below is a",
        "> `queries()`/`oracle_sql()` entry; full one-line descriptions",
        "> are in `QUERIES.md`, shuffle budgets in `SCALE.md`.",
        f"> **{n_total} queries, {n_oracle} oracle-verified.**",
        "",
    ]
    lines += block(analytics)
    lines += [
        "### 8.3 LLM-pipeline extensions (driver north star)",
        "",
    ]
    lines += block(llm)
    return "\n".join(lines).rstrip() + "\n"


def main() -> None:
    from healthcare_data_lakehouse_spark.queries.catalog import load_all

    by_module: dict[str, list] = defaultdict(list)
    for name, spec in sorted(load_all().items()):
        by_module[spec.fn.__module__.rsplit(".", 1)[-1]].append(spec)

    lines = [
        "# Query & operator index",
        "",
        "Auto-generated from the registry by `tools/gen_query_docs.py` — "
        "regenerate after adding queries; do not edit by hand.",
        "",
        "Every entry is runnable as `queries()[name](spark, sf_dir)`; "
        "**oracle** = verified against DuckDB by order-insensitive value "
        "hash at sf0.01, **rows-only** = engine-specific result (sketches, "
        "estimates) checked for shape.",
        "",
    ]
    total = oracle_n = 0
    for mod, specs in sorted(by_module.items()):
        lines.append(f"## {MODULE_TITLES.get(mod, mod)} ({len(specs)})")
        lines.append("")
        lines.append("| query | check | description |")
        lines.append("|---|---|---|")
        for s in specs:
            total += 1
            kind = "oracle" if s.oracle else "rows-only"
            oracle_n += s.oracle is not None
            desc = " ".join(s.description.split())
            lines.append(f"| `{s.name}` | {kind} | {desc} |")
        lines.append("")
    lines.insert(
        2,
        f"**{total} queries, {oracle_n} oracle-verified.**",
    )
    lines.insert(3, "")
    (ROOT / "QUERIES.md").write_text("\n".join(lines))
    print(f"QUERIES.md: {total} queries, {oracle_n} with oracles")

    survey = (ROOT / "SURVEY.md").read_text()
    cut = survey.index(SURVEY_MARK)
    (ROOT / "SURVEY.md").write_text(survey[:cut] + survey_section(by_module))
    print("SURVEY.md: regenerated §8.2–8.3 from the registry")


if __name__ == "__main__":
    main()
