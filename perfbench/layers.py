"""Per-layer metrics of a traced run, computed from the benchmark's
own spans and the Spark counts attributed to them.

Every metric is the median over the timed passes of its per-pass value
(``_s``/``_ms`` times, ``_jobs``/``_tasks``/``_stages`` Spark counts,
``_bytes`` byte counts). A layer the workload never calls reads 0: that
is the "should not move" side of the layer → workload table in
perfbench/README.md.
"""

from __future__ import annotations

from perfbench.harness import median
from perfbench.querymix import QUERIES

# metric → (span name, span field or None for seconds, unit, scale)
SPAN_METRICS = {
    "reproject.ingest_s": ("reproject.ingest", None, "s", 1.0),
    "reproject.ingest_jobs": ("reproject.ingest", "jobs", "count", 1.0),
    "reproject.ingest_tasks": ("reproject.ingest", "numTasks", "count", 1.0),
    "reproject.ingest_shuffle_bytes": ("reproject.ingest", "shuffleWriteBytes", "bytes", 1.0),
    "reproject.ingest_spill_bytes": ("reproject.ingest", "diskBytesSpilled", "bytes", 1.0),
    "catalog.read_layer_s": ("catalog.read_layer", None, "s", 1.0),
    "catalog.read_layer_jobs": ("catalog.read_layer", "jobs", "count", 1.0),
    "catalog.write_layer_s": ("catalog.write_layer", None, "s", 1.0),
    "catalog.write_layer_jobs": ("catalog.write_layer", "jobs", "count", 1.0),
    "pyramid.build_s": ("pyramid.build", None, "s", 1.0),
    "pyramid.build_jobs": ("pyramid.build", "jobs", "count", 1.0),
    "queries.construct_s": ("query.construct", None, "s", 1.0),
    "queries.construct_jobs": ("query.construct", "jobs", "count", 1.0),
    "queries.execute_s": ("query.execute", None, "s", 1.0),
    "queries.execute_jobs": ("query.execute", "jobs", "count", 1.0),
    "queries.stages": ("query", "stages", "count", 1.0),
    "queries.tasks": ("query", "numTasks", "count", 1.0),
    "queries.shuffle_bytes": ("query", "shuffleWriteBytes", "bytes", 1.0),
    "queries.spill_bytes": ("query", "diskBytesSpilled", "bytes", 1.0),
    "spool.append_s": ("spool.append", None, "s", 1.0),
}

# executor time of the program's own work in a pass: the pass minus the
# Spark jobs the benchmark's output checks run inside it
ENGINE_METRICS = {
    "spark.executor_run_s": ("executorRunTime", 1e-3),
    "spark.executor_cpu_s": ("executorCpuTime", 1e-9),
}

# measured by the workload that exercises the layer, 0 elsewhere
WORKLOAD_METRICS = {
    "serving.render_s": "s",
    "serving.get_ms": "ms",
    "serving.lookup_collect_ms": "ms",
    "catalog.bytes_written": "bytes",
    "catalog.write_amp": "ratio",
    "catalog.files": "count",
    "streaming.batches": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.state_commit_ms": "ms",
    "streaming.rows_per_s": "rows/s",
    "streaming.wave_ms": "ms",
    "versioning.versions": "count",
}

# per query: (metric suffix, span name, field, unit)
PER_QUERY = (
    ("construct_s", "query.construct", None, "s"),
    ("execute_s", "query.execute", None, "s"),
    ("jobs", "query", "jobs", "count"),
)


def per_layer(tracer, workload, passes: list[float]) -> dict:
    """Every per-layer metric name → (value, unit)."""
    out = {}
    for metric, (span, field, unit, scale) in SPAN_METRICS.items():
        out[metric] = (median(tracer.per_pass(span, field)) * scale, unit)
    for metric, (field, scale) in ENGINE_METRICS.items():
        own = [
            p - c for p, c in zip(tracer.per_pass("pass", field), tracer.per_pass("check", field))
        ]
        out[metric] = (median(own) * scale, "s")
    extras = workload.layer_extras()
    for metric, unit in WORKLOAD_METRICS.items():
        out[metric] = (extras.get(metric, 0.0), unit)
    for q in QUERIES:
        for suffix, span, field, unit in PER_QUERY:
            out[f"query.{q}.{suffix}"] = (median(tracer.per_pass(span, field, query=q)), unit)
    out["traced.pass_s"] = (median(passes), "s")
    return out

