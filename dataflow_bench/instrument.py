"""Which engine functions the traced run wraps, and how spans roll up
into the per-layer metrics.

Module attributes are patched where the caller looks them up (the
pipeline reads ``star_schema.build_*`` through the module and
``read_cube_csv`` through its own namespace); store, WDS and pipeline
methods are wrapped on the instance. No engine file changes.
"""

from __future__ import annotations

import statistics

from spans import Span, Tracer, group_of, self_times

STAR_BUILDERS = [
    "explode_metadata_members", "build_indicator_theme", "build_dimensions",
    "build_dimension_values", "build_reference_dates", "build_indicators",
    "prepare_values", "build_indicator_values", "build_geo_ref_bridge",
    "build_geo_level_bridge", "grow_date_dimension", "build_indicator_metadata",
    "build_dimension_unique_keys", "build_related_charts",
]
STORE_READS = ["read", "read_product_slice", "read_other_products", "product_exists"]
STORE_WRITES = ["replace_product_all", "replace_product", "append"]

# span name -> layer it is reported under
LAYER = {
    "pipeline.insert_product": "pipeline",
    "pipeline.append_product": "pipeline",
    **{f"star_schema.{b}": "star_schema.build" for b in STAR_BUILDERS},
    **{f"store.{r}": "store.read" for r in STORE_READS},
}

PER_LAYER = [
    # (metric, unit)
    ("pipeline.self_ms", "ms"), ("pipeline.jobs", "count"), ("pipeline.jobs_per_op", "count"),
    ("wds.cube_metadata.calls", "count"), ("wds.cube_metadata.ms", "ms"),
    ("cube_csv.read_cube_csv.ms", "ms"), ("cube_csv.scans_per_op", "count"),
    ("star_schema.build.ms", "ms"), ("star_schema.build.jobs", "count"),
    ("star_schema.serve_primary_query.self_ms", "ms"),
    ("star_schema.serve_primary_query.jobs", "count"),
    ("store.max_id.calls", "count"), ("store.max_id.ms", "ms"), ("store.max_id.in_bytes", "bytes"),
    ("store.read.calls", "count"), ("store.read.ms", "ms"),
    ("store.replace_product_all.ms", "ms"), ("store.replace_product_all.task_ms", "ms"),
    ("store.replace_product_all.shuffle_bytes", "bytes"),
    ("store.replace_product_all.out_bytes", "bytes"),
    ("store.replace_product.ms", "ms"), ("store.append.ms", "ms"),
    ("store.out_bytes_per_cell", "bytes"), ("store.files_read_ratio", "ratio"),
    ("sql_views.sql_primary_query.ms", "ms"), ("sql.collect.ms", "ms"), ("sql.collect.task_ms", "ms"),
    ("sql_views.register_star_views.ms", "ms"),
    ("serve.collect.ms", "ms"), ("serve.collect.task_ms", "ms"),
    ("session.get_spark.ms", "ms"), ("spark.gc_ms_per_op", "ms"),
    ("trace.insert_ms", "ms"), ("trace.pq_p50_ms", "ms"), ("trace.sql_p50_ms", "ms"),
]


def instrument_modules(tracer: Tracer) -> None:
    """Patch the module-level entry points once per run."""
    from geo_explorer_etl_spark.plans import pipeline, sql_views, star_schema

    tracer.wrap(pipeline, "read_cube_csv", "cube_csv.read_cube_csv")
    for b in STAR_BUILDERS:
        tracer.wrap(star_schema, b, f"star_schema.{b}")
    tracer.wrap(star_schema, "serve_primary_query", "star_schema.serve_primary_query")
    tracer.wrap(sql_views, "register_star_views", "sql_views.register_star_views")
    tracer.wrap(sql_views, "sql_primary_query", "sql_views.sql_primary_query")


def instrument_pipeline(tracer: Tracer, pipe) -> None:
    """Wrap one pipeline's own methods, its WDS client and its store."""
    tracer.wrap(pipe, "insert_product", "pipeline.insert_product")
    tracer.wrap(pipe, "append_product", "pipeline.append_product")
    tracer.wrap(pipe.wds, "cube_metadata", "wds.cube_metadata")
    store = pipe.store
    for m in ["max_id"] + STORE_READS + STORE_WRITES:
        tracer.wrap(store, m, f"store.{m}")
    _probe_slices(tracer, store)


def _probe_slices(tracer: Tracer, store) -> None:
    """Count, for every slice the DataFrame PrimaryQuery reads, the
    files ``live_files`` lists for it against the product's live files.
    The listing runs in a ``trace.probe`` span, outside the read's self
    time."""
    from geo_explorer_etl_spark.sources.store import PARTITION_COL

    traced = store.read_product_slice

    def read_product_slice(table, product_id, where=None):
        out = traced(table, product_id, where)
        if any(s.name == "star_schema.serve_primary_query" for s in tracer.stack):
            part = [(PARTITION_COL, "==", product_id)]
            span = tracer.open("trace.probe")
            try:
                span.attrs["files"] = len(store.live_files(table, part + list(where or [])))
                span.attrs["product_files"] = len(store.live_files(table, part))
            finally:
                tracer.close(span)
        return out

    store.read_product_slice = read_product_slice


# -- roll-up -------------------------------------------------------------------
def layer_of(span: Span) -> str:
    return LAYER.get(span.name, span.name)


def per_layer_metrics(spans: list[Span], jobs: dict, run) -> dict[str, float]:
    """Per-layer metrics over the timed phase, per timed op.

    ``ms`` is the wall time of a layer's outermost spans, ``self_ms``
    the time no child span covers, and job figures count the jobs whose
    group is the span's own (jobs started inside a child span belong to
    the child)."""
    by_sid = {s.sid: s for s in spans}
    selfs = self_times(spans)
    group_jobs: dict[str, list] = {}
    for j in jobs.values():
        group_jobs.setdefault(j.group, []).append(j)

    def root_of(s: Span) -> Span:
        while s.parent is not None:
            s = by_sid[s.parent]
        return s

    def has_ancestor_layer(s: Span, layer: str) -> bool:
        p = s.parent
        while p is not None:
            if layer_of(by_sid[p]) == layer:
                return True
            p = by_sid[p].parent
        return False

    timed = [s for s in spans if s.phase == "timed"]
    in_ops = [s for s in timed if root_of(s).name in ("bench.op", "bench.read")]
    op_roots = [s for s in timed if s.name == "bench.op" and s.parent is None]
    n_ops = max(len(op_roots), 1)

    acc: dict[str, dict[str, float]] = {}
    for s in in_ops:
        layer = layer_of(s)
        a = acc.setdefault(layer, dict(calls=0, ms=0.0, self_ms=0.0, jobs=0, task_ms=0.0,
                                       shuffle_bytes=0, in_bytes=0, out_bytes=0))
        if not has_ancestor_layer(s, layer):
            a["calls"] += 1
            a["ms"] += s.ms
        a["self_ms"] += selfs[s.sid]
        for j in group_jobs.get(group_of(s), []):
            a["jobs"] += 1
            a["task_ms"] += j.task_ms
            a["shuffle_bytes"] += j.shuffle_bytes
            a["in_bytes"] += j.in_bytes
            a["out_bytes"] += j.out_bytes

    def get(layer: str, key: str) -> float:
        return acc.get(layer, {}).get(key, 0.0) / n_ops

    op_sids = {s.sid for s in op_roots}
    op_jobs = [j for s in timed if root_of(s).sid in op_sids for j in group_jobs.get(group_of(s), [])]

    def all_calls(name: str) -> list[Span]:
        return [s for s in spans if s.name == name]

    probes = [s for s in timed if s.name == "trace.probe"]
    files = sum(s.attrs.get("files", 0) for s in probes)
    product_files = sum(s.attrs.get("product_files", 0) for s in probes)
    written = sum(acc.get(f"store.{w}", {}).get("out_bytes", 0) for w in STORE_WRITES)
    committed = run.cells
    register = all_calls("sql_views.register_star_views")
    session = all_calls("session.get_spark")

    out = {
        "pipeline.self_ms": get("pipeline", "self_ms"),
        "pipeline.jobs": get("pipeline", "jobs"),
        "pipeline.jobs_per_op": len(op_jobs) / n_ops,
        "wds.cube_metadata.calls": get("wds.cube_metadata", "calls"),
        "wds.cube_metadata.ms": get("wds.cube_metadata", "ms"),
        "cube_csv.read_cube_csv.ms": get("cube_csv.read_cube_csv", "ms"),
        "cube_csv.scans_per_op": sum(j.csv_scans for j in op_jobs) / n_ops,
        "star_schema.build.ms": get("star_schema.build", "ms"),
        "star_schema.build.jobs": get("star_schema.build", "jobs"),
        "star_schema.serve_primary_query.self_ms": get("star_schema.serve_primary_query", "self_ms"),
        "star_schema.serve_primary_query.jobs": get("star_schema.serve_primary_query", "jobs"),
        "store.max_id.calls": get("store.max_id", "calls"),
        "store.max_id.ms": get("store.max_id", "ms"),
        "store.max_id.in_bytes": get("store.max_id", "in_bytes"),
        "store.read.calls": get("store.read", "calls"),
        "store.read.ms": get("store.read", "ms"),
        "store.replace_product_all.ms": get("store.replace_product_all", "ms"),
        "store.replace_product_all.task_ms": get("store.replace_product_all", "task_ms"),
        "store.replace_product_all.shuffle_bytes": get("store.replace_product_all", "shuffle_bytes"),
        "store.replace_product_all.out_bytes": get("store.replace_product_all", "out_bytes"),
        "store.replace_product.ms": get("store.replace_product", "ms"),
        "store.append.ms": get("store.append", "ms"),
        "store.out_bytes_per_cell": written / committed if committed else 0.0,
        "store.files_read_ratio": files / product_files if product_files else 0.0,
        "sql_views.sql_primary_query.ms": get("sql_views.sql_primary_query", "ms"),
        "sql.collect.ms": get("sql.collect", "ms"),
        "sql.collect.task_ms": get("sql.collect", "task_ms"),
        "sql_views.register_star_views.ms": (
            statistics.mean(s.ms for s in register) if register else 0.0
        ),
        "serve.collect.ms": get("serve.collect", "ms"),
        "serve.collect.task_ms": get("serve.collect", "task_ms"),
        "session.get_spark.ms": sum(s.ms for s in session),
        "spark.gc_ms_per_op": sum(j.gc_ms for j in op_jobs) / n_ops,
    }
    return out
