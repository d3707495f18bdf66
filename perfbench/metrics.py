"""Metric definitions (the single source ``BENCHMARK.json`` mirrors) and the
reduction of traced spans to per-layer values."""

from __future__ import annotations

import statistics

# Every workload reports every end-to-end metric; what "operation" and
# "item" mean per workload is set out in perfbench/README.md.
# Wall-time latency and throughput are not among them: they follow the
# shared host's speed, which drifts between sets of runs by more than any
# usable bound. Nor is peak RSS, which follows the JVM's heap growth. All
# three are reported unbounded in every run's details line, and latency and
# throughput also as the per-layer "loop.*" metrics.
END_TO_END = (
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "success_rate", "unit": "ratio", "better": "higher", "bound": 0.02},
    {"name": "cpu_ms_per_item", "unit": "ms", "better": "lower", "bound": 0.25},
    {"name": "write_amp", "unit": "ratio", "better": "lower", "bound": 0.1},
    {"name": "space_amp", "unit": "ratio", "better": "lower", "bound": 0.1},
)

# span name -> measures taken as a mean per call (``calls`` is per
# benchmark operation instead). Lazy builders (read_where, fk_check,
# contamination_ratios) run no Spark job of their own, so they have no
# spark_jobs measure: their jobs land on the span that runs the action
_SPAN_MEASURES = {
    "etl.orchestrator.run_pipeline": ("wall_s", "driver_s", "spark_jobs"),
    "etl.jobs.run_etl_job": ("wall_s", "self_s", "spark_jobs", "spark_stages",
                             "spark_tasks", "exec_cpu_s", "shuffle_bytes"),
    "operators.merge.merge_upsert": ("wall_s", "driver_s", "spark_jobs", "spark_stages",
                                     "exec_cpu_s", "shuffle_bytes", "bytes_written"),
    "sources.rejects.write_rejects": ("wall_s", "spark_jobs"),
    "operators.joins.fk_check": ("wall_s",),
    "sources.csv.read_csv": ("wall_s",),
    "operators.validation.validate": ("wall_s",),
    "operators.dedup.dedup_deterministic": ("wall_s",),
    "etl.jobs.register_table": ("wall_s", "spark_jobs"),
    "etl.orchestrator.validation_queries": ("wall_s",),
    "plans.catalog": ("spark_jobs", "spark_stages", "exec_cpu_s", "shuffle_bytes"),
    "plans.catalog.build": ("wall_s",),
    "plans.catalog.collect": ("wall_s",),
    "sources.snapshots.read_where": ("calls", "wall_s", "driver_s"),
    "sources.snapshots.merge_commit": ("wall_s", "driver_s", "spark_jobs", "spark_stages",
                                       "exec_cpu_s", "bytes_written"),
    "sources.snapshots.load_snapshot": ("calls", "wall_s"),
    "sources.snapshots.commit": ("calls", "wall_s", "spark_jobs"),
    "sources.snapshots.replace_where_commit": ("calls", "wall_s"),
    "sources.snapshots.compact": ("calls", "wall_s"),
    "etl.datapipe.run_curation_job": ("wall_s", "driver_s", "spark_jobs", "spark_stages",
                                      "spark_tasks", "exec_cpu_s", "shuffle_bytes"),
    "operators.textdedup.shingle_arrays": ("wall_s",),
    "operators.textdedup.minhash_dedup_verified": ("wall_s", "spark_jobs"),
    "operators.graph.dedup_clusters": ("wall_s", "spark_jobs"),
    "operators.contamination.contamination_ratios": ("wall_s",),
    "operators.packing.pack_sequences": ("wall_s",),
}
# build/collect spans are reported under the shorter catalog names
_RENAME = {
    "plans.catalog.build.wall_s": "plans.catalog.build_s",
    "plans.catalog.collect.wall_s": "plans.catalog.collect_s",
}
_BATCH_MEASURES = ("driver_s", "spark_jobs", "spark_stages", "exec_cpu_s")
# values a workload computes itself (progress reports, table state, ...)
EXTRAS = (
    "loop.op_s_p50",
    "loop.items_per_s",
    "plans.catalog.catalyst_s",
    "query_mix.query_s_tail",
    "query_mix.lookup_s_p50",
    "query_mix.upsert_s_p50",
    "sources.snapshots.read_where.files_kept_ratio",
    "sources.snapshots.versions",
    "streaming.aggmaint.batch.trigger_s",
    "streaming.aggmaint.batch.add_batch_s",
    "streaming.aggmaint.state_files",
    "streaming.aggmaint.state_bytes",
    "streaming.aggmaint.state_versions",
    "operators.textdedup.seeded_dup_recall",
)


def _unit(name: str) -> str:
    leaf = name.rsplit(".", 1)[-1]
    if leaf.endswith("per_s"):
        return "1/s"
    if leaf.endswith("_s") or leaf.endswith("_s_p50") or leaf.endswith("_s_tail"):
        return "s"
    if leaf.endswith("bytes") or leaf == "bytes_written":
        return "bytes"
    if leaf.endswith("ratio") or leaf.endswith("recall"):
        return "ratio"
    return "count"


def _per_layer_names() -> list[str]:
    names = []
    for span, measures in _SPAN_MEASURES.items():
        for m in measures:
            n = f"{span}.{m}"
            names.append(_RENAME.get(n, n))
    names += [f"streaming.aggmaint.batch.{m}" for m in _BATCH_MEASURES]
    names += EXTRAS
    return sorted(names)


PER_LAYER = tuple(
    {"name": n, "unit": _unit(n),
     "better": "higher" if n.endswith(("recall", "per_s")) else "lower"}
    for n in _per_layer_names()
)


def layer_values(measures: dict[str, list[dict]], extras: dict, n_ops: int) -> dict:
    """Reduce span measures to the per-layer metrics. A layer the workload
    never called reads 0."""
    vals: dict[str, float] = {}
    for span, ms in _SPAN_MEASURES.items():
        rows = measures.get(span, [])
        for m in ms:
            n = _RENAME.get(f"{span}.{m}", f"{span}.{m}")
            if m == "calls":
                vals[n] = len(rows) / max(1, n_ops)
            else:
                vals[n] = statistics.mean(r[m] for r in rows) if rows else 0.0
    rw = measures.get("sources.snapshots.read_where", [])
    total = sum(r["files_total"] for r in rw)
    vals["sources.snapshots.read_where.files_kept_ratio"] = (
        sum(r["files_kept"] for r in rw) / total if total else 0.0
    )
    steady = [r for r in measures.get("streaming.aggmaint.batch", []) if r["op"][1] > 0]
    for m in _BATCH_MEASURES:
        vals[f"streaming.aggmaint.batch.{m}"] = (
            statistics.median(r[m] for r in steady) if steady else 0.0
        )
    for n in EXTRAS:
        if n in extras:
            vals[n] = extras[n]
        vals.setdefault(n, 0.0)
    return {spec["name"]: {"value": float(vals[spec["name"]]), "unit": spec["unit"]}
            for spec in PER_LAYER}


def self_time_table(measures: dict[str, list[dict]]) -> list[dict]:
    """Every span name with its totals, sorted by self time (descending)."""
    rows = []
    for name, ms in measures.items():
        rows.append({
            "layer": name,
            "calls": len(ms),
            "wall_s": sum(r["wall_s"] for r in ms),
            "self_s": sum(r["self_s"] for r in ms),
            "driver_s": sum(r["driver_s"] for r in ms),
            "spark_jobs": sum(r["spark_jobs"] for r in ms),
        })
    return sorted(rows, key=lambda r: -r["self_s"])
