"""Per-layer metrics of a traced run, computed from its spans and counts.

Times named ``*_s`` are the median duration of one call into the layer
(planning only, where the call just builds a lazy plan); ``*.self_s`` is
the layer's self time summed over the traced segment and divided by the
number of workload operations in it. Counts named ``*_per_*`` or given
per version are means over the traced segment.
"""

from __future__ import annotations

import os

from perfbench.harness import median
from perfbench.trace import inclusive, self_times
from perfbench.workloads import MB, QUERIES

LAYERS = (
    "plans.stac",
    "plans.checksums",
    "plans.importer",
    "plans.pipeline",
    "plans.catalog",
    "plans.status",
    "sources.manifest_table",
    "operators",
)


def catalog_generation(catalog) -> int:
    """Committed generations of the catalog's two tables, summed (the
    catalog commits ``commits/<generation>`` files, see plans/catalog.py)."""
    total = 0
    for table in ("datasets", "dataset_versions"):
        try:
            names = os.listdir(os.path.join(catalog.root, table, "commits"))
        except FileNotFoundError:
            continue
        total += max((int(n) for n in names), default=0)
    return total


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(tracer, traced, untraced, setup_get_spark_s, commits) -> dict:
    spans = tracer.spans
    selfs = self_times(spans)
    jobs = inclusive(spans, "jobs")
    tasks = inclusive(spans, "tasks")
    counters = tracer.counters
    n_ops = max(1, len(traced.ops))

    def named(name):
        return [s for s in spans if s.name == name]

    def dur(name):
        return median([s.duration for s in named(name)])

    def layer_self(prefix):
        return sum(selfs[s.id] for s in spans if _in_layer(s.name, prefix)) / n_ops

    versions = n_ops if traced.ops and traced.ops[0].kind == "version" else 0
    per_version = (lambda x: x / versions) if versions else (lambda x: 0.0)
    summaries = named("plans.checksums.validation_summary")
    verify_total = sum(s.duration for s in summaries)
    pipeline = named("plans.pipeline.create_dataset_version")

    catalog_reads = [
        s for s in _outermost(spans, "plans.catalog")
        if s.name in ("plans.catalog.get", "plans.catalog.list")
    ]
    catalog_writes = [
        s for s in _outermost(spans, "plans.catalog")
        if s.name not in ("plans.catalog.get", "plans.catalog.list")
    ]
    reads = named("sources.manifest_table.read")
    query_spans = [s for s in spans if s.name.startswith("operators.")]

    m = {
        "session.get_spark_s": (setup_get_spark_s, "s"),
        "trace.overhead_s": (
            traced.latency_s() - untraced.latency_s(),
            "s",
        ),
        "plans.stac.traverse_s": (dur("plans.stac.traverse"), "s"),
        "plans.stac.docs": (per_version(counters.get("plans.stac.docs", 0)), "count"),
        "plans.stac.spark_jobs": (
            _mean(jobs[s.id] for s in named("plans.stac.traverse")),
            "count",
        ),
        "plans.checksums.verify_s": (median([s.duration for s in summaries]), "s"),
        "plans.checksums.files": (
            per_version(counters.get("plans.checksums.files", 0)),
            "count",
        ),
        "plans.checksums.mb_per_s": (
            counters.get("plans.checksums.bytes", 0) / MB / verify_total
            if verify_total
            else 0.0,
            "MB/s",
        ),
        "plans.checksums.failed_rows": (
            per_version(counters.get("plans.checksums.failed_rows", 0)),
            "count",
        ),
        "plans.importer.files_copied": (
            per_version(counters.get("plans.importer.files_copied", 0)),
            "count",
        ),
        "plans.importer.mb_copied": (
            per_version(counters.get("plans.importer.bytes_copied", 0) / MB),
            "MB",
        ),
        "plans.importer.failed_files": (
            counters.get("plans.importer.failed_files", 0),
            "count",
        ),
        "plans.pipeline.spark_jobs_per_version": (
            _mean(jobs[s.id] for s in pipeline),
            "count",
        ),
        "plans.pipeline.spark_tasks_per_version": (
            _mean(tasks[s.id] for s in pipeline),
            "count",
        ),
        "plans.catalog.get_s": (dur("plans.catalog.get"), "s"),
        "plans.catalog.list_s": (dur("plans.catalog.list"), "s"),
        "plans.catalog.create_s": (dur("plans.catalog.create"), "s"),
        "plans.catalog.update_s": (dur("plans.catalog.update"), "s"),
        "plans.catalog.register_version_s": (dur("plans.catalog.register_version"), "s"),
        "plans.catalog.commits": (commits, "count"),
        "plans.catalog.conflict_errors": (
            counters.get("plans.catalog.conflict_errors", 0),
            "count",
        ),
        "plans.catalog.spark_jobs_per_read": (
            _mean(jobs[s.id] for s in catalog_reads),
            "count",
        ),
        "plans.catalog.spark_jobs_per_write": (
            _mean(jobs[s.id] for s in catalog_writes),
            "count",
        ),
        "plans.status.view_s": (dur("plans.status.view"), "s"),
        "plans.status.spark_jobs": (
            _mean(jobs[s.id] for s in named("request.status")),
            "count",
        ),
        "sources.manifest_table.read_s": (dur("sources.manifest_table.read"), "s"),
        "sources.manifest_table.upsert_s": (dur("sources.manifest_table.upsert"), "s"),
        "sources.manifest_table.files_planned_ratio": (
            _mean(s.attrs["planned_ratio"] for s in reads if "planned_ratio" in s.attrs),
            "ratio",
        ),
        "sources.manifest_table.data_files": (
            median([s.attrs["data_files"] for s in reads if "data_files" in s.attrs]),
            "count",
        ),
        "operators.spark_jobs_per_query": (
            _mean(jobs[s.id] for s in query_spans),
            "count",
        ),
        "operators.spark_tasks_per_query": (
            _mean(tasks[s.id] for s in query_spans),
            "count",
        ),
        "operators.failed_tasks": (
            sum(s.failed_tasks for s in query_spans),
            "count",
        ),
    }
    for q in QUERIES:
        m[f"operators.{q}.s"] = (dur(f"operators.{q}"), "s")
    for layer in LAYERS:
        m[f"{layer}.self_s"] = (layer_self(layer), "s")
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


def _in_layer(name: str, prefix: str) -> bool:
    return name == prefix or name.startswith(prefix + ".")


def _outermost(spans, prefix: str):
    """Spans of one layer whose parent is not in that layer."""
    by_id = {s.id: s for s in spans}
    return [
        s
        for s in spans
        if _in_layer(s.name, prefix)
        and not (s.parent in by_id and _in_layer(by_id[s.parent].name, prefix))
    ]
