"""Metric names, units and the result line.

Every workload reports every end-to-end metric (untraced runs) and
every per-layer metric (traced runs); a layer a workload does not
reach reads 0. BENCHMARK.json lists the same names, which
tests/test_perfbench_metrics.py checks. ``total_cpu_s`` is the CPU
time of the process tree in the workload's measured operations; their
wall is in the detail line (see README.md for why the wall is not an
end-to-end metric).
"""

from __future__ import annotations

import re
import statistics

from .checks import STAGES

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")

END_TO_END = {
    "setup_s": "s",
    "total_cpu_s": "s",
    "success_ratio": "ratio",
}
# peak RSS of each part of the process tree (host.tree_rss_mb); not an
# end-to-end metric: the JVM's heap growth makes it spread more across
# seeds than the largest bound allows (README.md)
MEMORY_PARTS = ("driver", "jvm", "workers")

CLOSURE_FNS = (
    "entail", "transitive_closure", "keyed_transitive_closure",
    "property_closure", "union_eliminated_subclass",
)
DELTA_FNS = ("entail_with_state", "entail_delta")
# closure.phase_walls() keys of property_closure -> metric suffix
CLOSURE_PHASES = {
    "base_materialize": "property_closure.base_materialize",
    "count_bytes_guard": "property_closure.count+bytes_guard",
    "collect": "property_closure.collect",
    "saturate": "property_closure.saturate",
    "sort_arrow": "property_closure.sort+arrow",
}
# the 27 headline queries, by family; fixed here so an edit to
# bench.py cannot change the workload
QUERY_FAMILIES = {
    "tpch": ("q1_pricing_summary", "q3_shipping_priority", "q5_nation_revenue",
             "top_suppliers_per_nation", "lineitem_rollup", "top5_customer_sample_per_nation"),
    "events": ("events_daily", "events_sessionization", "events_running_total", "events_json_props"),
    "kg": ("kg_mention_counts", "kg_cooccurrence_edges", "kg_connected_components",
           "kg_transitive_closure", "kg_property_closure", "kg_mentions_operator",
           "iri_normalize", "curie_compact"),
    "dedup": ("dedup_lsh_banded", "dedup_jaccard", "dedup_embedding_lsh_bucketed"),
    "text": ("text_quality", "text_token_stats", "text_fingerprint", "text_chunking",
             "web_url_normalize"),
    "ann": ("ann_cosine_scores",),
}
QUERIES = tuple(q for qs in QUERY_FAMILIES.values() for q in qs)
# public functions of the build path, traced as <layer>.<function>
BUILD_FNS = (
    "export.export_tables",
    "export.sorted_text_sink",
    "semsql_views.semsql_tables",
    "analysis.analyze_ontologies",
    "corpus.generate_corpus",
)


def _spark4(prefix: str) -> dict[str, str]:
    return {f"{prefix}.wall_s": "s", f"{prefix}.task_s": "s",
            f"{prefix}.jobs": "count", f"{prefix}.shuffle_mb": "MB"}


def _common() -> dict[str, str]:
    """Closure, tracer and memory metrics: both workloads have them."""
    units: dict[str, str] = {}
    for fn in CLOSURE_FNS:
        units.update(_spark4(f"closure.{fn}"))
    for ph in CLOSURE_PHASES:
        units[f"closure.phase.{ph}_s"] = "s"
    units["stats_cut.cut.wall_s"] = "s"
    units["trace_overhead_pct"] = "%"
    for part in MEMORY_PARTS:
        units[f"memory.{part}.peak_rss_mb"] = "MB"
    return units


def _entail() -> dict[str, str]:
    units: dict[str, str] = {}
    for fn in DELTA_FNS:
        units.update(_spark4(f"delta_entail.{fn}"))
    units["entail.slot_util"] = "ratio"
    units["entail.spill_mb"] = "MB"
    return units


def _queries() -> dict[str, str]:
    units = {f"queries.{q}.wall_s": "s" for q in QUERIES}
    for fam in QUERY_FAMILIES:
        units.update({f"queries.family.{fam}.task_s": "s", f"queries.family.{fam}.jobs": "count",
                      f"queries.family.{fam}.shuffle_mb": "MB"})
    units["dedup.lsh_candidates"] = "count"
    units["dedup.lsh_verified"] = "ratio"
    return units


def _build() -> dict[str, str]:
    units: dict[str, str] = {}
    for st in STAGES:
        for m, u in (("wall_s", "s"), ("task_s", "s"), ("jobs", "count")):
            units[f"checkpoint.stage.{st}.{m}"] = u
    units["checkpoint.stage.self_s"] = "s"
    units["checkpoint.snapshot_valid.wall_s"] = "s"
    units["resume.jobs"] = "count"
    units["tables.write_table.wall_s"] = "s"
    for fn in BUILD_FNS:
        units[f"{fn}.wall_s"] = "s"
    units["build.span_coverage"] = "ratio"
    units["build.slot_util"] = "ratio"
    return units


PER_LAYER = {**_common(), **_entail(), **_build(), **_queries()}


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def result_line(correct: bool, attempted: int, failed: int, values: dict[str, float], units: dict[str, str]) -> dict:
    """The benchmark's last stdout line. Every name in ``units`` must
    have a value; names outside it are refused."""
    missing = sorted(set(units) - set(values))
    extra = sorted(set(values) - set(units))
    if missing or extra:
        raise ValueError(f"metric set mismatch: missing {missing}, unexpected {extra}")
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }
