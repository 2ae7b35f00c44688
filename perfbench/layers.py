"""The benchmark's metric catalogue and the engine calls the traced run
wraps.  ``BENCHMARK.json`` lists exactly these names (a self-test checks
it), and every run reports every one of them, so two runs of any workload
can be compared metric by metric."""

from __future__ import annotations

import measure

END_TO_END = {
    "setup_s": "s", "ops_per_s": "1/s",
    "read_p50_s": "s", "read_tail_s": "s",
    "commit_p50_s": "s", "commit_tail_s": "s",
    "space_amp": "ratio", "driver_peak_rss_mb": "MiB",
}

# every operation class of every workload, for spark.{jobs,stages,tasks}.<class>
CLASSES = ["point_lookup", "pruned_range", "meta_count", "star_join",
           "plan_only", "full_agg",
           "append", "delete", "upsert", "read", "maintain"]

# span name -> self-time layer
SELF_LAYERS = {
    "op": "client",
    "catalog.sql": "catalog", "catalog.load_table": "catalog",
    "catalog.scan.plan_files": "scan",
    "catalog.table.append": "table", "catalog.table.delete": "table",
    "catalog.table.upsert": "table",
    "catalog.maintenance.rewrite_manifests": "maintenance",
    "catalog.maintenance.expire_snapshots": "maintenance",
    "catalog.maintenance.rewrite_data_files": "maintenance",
    "spark.exec": "spark_exec",
}

# registry queries the traced scan_sql run ends with (probe.py)
PROBE_OPERATORS = ["pipeline_training_release", "dedup_minhash_lsh_full",
                   "similarity_topk"]

PER_LAYER = {
    "queries.plan_ms": "ms",
    "catalog.sql_ms": "ms", "catalog.sql_jobs": "count",
    "catalog.load_table_ms": "ms",
    "catalog.scan.plan_files_ms": "ms", "catalog.scan.files_planned": "count",
    "catalog.scan.files_live": "count", "catalog.scan.prune_ratio": "ratio",
    "catalog.scan.scan_events": "count",
    "catalog.table.append_ms": "ms", "catalog.table.delete_ms": "ms",
    "catalog.table.upsert_ms": "ms", "catalog.table.commits": "count",
    "catalog.table.commit_failures": "count",
    "catalog.table.files_added": "count",
    "catalog.metadata.json_bytes": "bytes",
    "catalog.manifests.count": "count", "catalog.manifests.bytes": "bytes",
    "catalog.maintenance.rewrite_manifests_ms": "ms",
    "catalog.maintenance.expire_snapshots_ms": "ms",
    "catalog.maintenance.rewrite_data_files_ms": "ms",
    "catalog.maintenance.files_rewritten": "count",
    "catalog.maintenance.bytes_rewritten": "bytes",
    "catalog.analyze.build_ms": "ms",
    **{f"operators.{q}_ms": "ms" for q in PROBE_OPERATORS},
    "spark.analysis_ms": "ms", "spark.optimization_ms": "ms",
    "spark.planning_ms": "ms", "spark.exec_ms": "ms",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    **{f"spark.{k}.{c}": "count" for c in CLASSES
       for k in ("jobs", "stages", "tasks")},
    **{f"self.{layer}_ms": "ms" for layer in sorted(set(SELF_LAYERS.values()))},
    "storage.data_bytes": "bytes", "storage.metadata_bytes": "bytes",
    "storage.orphan_files": "count",
    "driver.jvm_peak_rss_mb": "MiB",
    "trace.ops_per_s": "1/s", "trace.untraced_ops_per_s": "1/s",
    "trace.overhead_ops_per_s": "1/s",
}


def targets() -> list:
    """``(owner, attribute, span name)`` for every public engine call the
    traced run times."""
    from linkedin_iceberg_spark.catalog import analyze
    from linkedin_iceberg_spark.catalog.catalog import Catalog
    from linkedin_iceberg_spark.catalog.scan import TableScan
    from linkedin_iceberg_spark.catalog.table import Table

    return [
        (Catalog, "sql", "catalog.sql"),
        (Catalog, "load_table", "catalog.load_table"),
        (TableScan, "plan_files", "catalog.scan.plan_files"),
        (Table, "append", "catalog.table.append"),
        (Table, "delete_where", "catalog.table.delete"),
        (Table, "upsert", "catalog.table.upsert"),
        (Table, "rewrite_manifests", "catalog.maintenance.rewrite_manifests"),
        (Table, "expire_snapshots", "catalog.maintenance.expire_snapshots"),
        (Table, "rewrite_data_files",
         "catalog.maintenance.rewrite_data_files"),
        (analyze, "analyze_table", "catalog.analyze.build"),
        (analyze, "analyze_table_kmv", "catalog.analyze.build"),
    ]


def span_metrics(tracer, first_op: int, n_ops: int) -> dict:
    """Median inclusive ms per call of every wrapped engine call made by a
    measured operation (op id >= ``first_op``), and the self time per
    layer per measured operation."""
    def ms(name, first=first_op):
        d = tracer.durations(name, first)
        return 1000.0 * measure.median(d) if d else 0.0

    out = {f"{name}_ms": ms(name) for _o, _a, name in targets()}
    # stats are built during set-up, before any measured operation
    out["catalog.analyze.build_ms"] = ms("catalog.analyze.build", 0)
    out["spark.exec_ms"] = ms("spark.exec")
    selfs = {layer: 0.0 for layer in SELF_LAYERS.values()}
    for name, s in tracer.self_times(first_op).items():
        layer = SELF_LAYERS.get("op" if name.startswith("op.") else name)
        if layer:
            selfs[layer] += s
    for layer, s in selfs.items():
        out[f"self.{layer}_ms"] = 1000.0 * s / max(n_ops, 1)
    return out
