"""Where the traced run hooks into kiwi_spark, and how the per-layer
metrics are derived from its spans, the Spark event log and the values
the workloads record.

Layer names are ``<module>.<metric>`` after the package modules:
``operators.extract_text``, ``operators.build_graph``, ``operators.link``,
``operators.materialize``, ``sources.catalog``, ``operators.delta_link``,
``operators.delta_remove``, ``plans.search_index``, ``plans.queries``,
``operators.dedup``, ``operators.similarity``, ``operators.textstats``
and ``pipeline``. Metrics a workload does not reach read 0.
"""

from __future__ import annotations

import glob
import os

import eventlog
import stats
from spans import covered_length, self_times

TOOLS = (
    "lookup_entity", "search_entities", "search_relationships",
    "get_entity_neighbours", "get_path_between_entities", "get_entity_sources",
)
PIPELINE_SPANS = (
    "pipeline.run_pipeline", "pipeline.incremental_add", "pipeline.incremental_remove",
)
ENGINE_GROUPS = {
    # counter prefix → span names whose subtrees it sums
    "pipeline": PIPELINE_SPANS,
    "operators.delta_link": ("operators.delta_link.delta_relink",),
    "operators.delta_remove": ("operators.delta_remove.delta_unlink",),
    "plans.queries": tuple(f"plans.queries.{t}" for t in TOOLS),
    "operators.dedup": ("operators.dedup",),
}
# sub-legs the program returns in its timings (no search index here)
DELTA_LINK_LEGS = ("touched", "id_map", "delta_compute", "commit")
DELTA_REMOVE_LEGS = ("touched", "mask_docs", "delta_compute", "commit")

PER_LAYER = [
    ("pipeline.wall_s", "s"),
    ("pipeline.unattributed_s", "s"),
    ("operators.extract_text.busy_s", "s"),
    ("operators.extract_text.pages_per_s", "pages/s"),
    ("operators.extract_text.error_docs_ratio", "ratio"),
    ("operators.build_graph.raw_graph_s", "s"),
    ("operators.build_graph.views_s", "s"),
    ("operators.build_graph.mentions_out", "count"),
    ("operators.link.id_map_s", "s"),
    ("operators.materialize.s", "s"),
    ("operators.materialize.bytes_written", "bytes"),
    ("sources.catalog.commit_s", "s"),
    ("sources.catalog.commits", "count"),
    ("sources.catalog.bytes_written", "bytes"),
    ("sources.catalog.files_written", "count"),
    ("sources.catalog.read_dirs_max", "count"),
    ("sources.catalog.delete_chain_max", "count"),
    ("sources.catalog.compact_s", "s"),
    ("operators.delta_link.relink_s", "s"),
    ("operators.delta_link.touched_entities", "count"),
    ("operators.delta_link.touched_ratio", "ratio"),
    *[(f"operators.delta_link.relink_{leg}_s", "s") for leg in DELTA_LINK_LEGS],
    ("operators.delta_remove.unlink_s", "s"),
    ("operators.delta_remove.touched_entities", "count"),
    ("operators.delta_remove.touched_ratio", "ratio"),
    *[(f"operators.delta_remove.remove_{leg}_s", "s") for leg in DELTA_REMOVE_LEGS],
    ("plans.search_index.s", "s"),
    ("plans.search_index.rows_read_per_result", "ratio"),
    *[(f"plans.queries.{tool}_p50_ms", "ms") for tool in TOOLS],
    ("plans.queries.jobs_per_call", "ratio"),
    ("plans.queries.path_hops", "count"),
    ("operators.dedup.s", "s"),
    ("operators.dedup.minhash_shuffle_records", "count"),
    ("operators.dedup.minhash_pairs_per_shuffled_record", "ratio"),
    ("operators.similarity.s", "s"),
    ("operators.textstats.s", "s"),
    *[
        (f"{group}.{name}", unit)
        for group in ENGINE_GROUPS
        for name, unit in (
            ("jobs", "count"), ("tasks", "count"), ("task_s", "s"),
            ("task_skew", "ratio"), ("shuffle_bytes", "bytes"),
            ("shuffle_records", "count"), ("spill_bytes", "bytes"),
            ("gc_s", "s"), ("failed_tasks", "count"),
        )
    ],
    ("bench.traced_op_s", "s"),
    ("bench.peak_rss_mb", "MB"),
    ("bench.docs_per_s", "docs/s"),
    ("bench.call_ms", "ms"),
]


# ------------------------------------------------------------ instrumentation


def instrument(tracer) -> None:
    """Swap the library's names for tracing wrappers at their lookup
    sites. ``tracer.unpatch()`` restores them."""
    from kiwi_spark import pipeline
    from kiwi_spark.operators import delta_link, delta_remove
    from kiwi_spark.sources.catalog import Catalog
    from pyspark.sql.classic.dataframe import DataFrame

    tracer.wrap_call(pipeline, "run_pipeline", "pipeline.run_pipeline")
    tracer.wrap_call(pipeline, "incremental_add", "pipeline.incremental_add")
    tracer.wrap_call(pipeline, "incremental_remove", "pipeline.incremental_remove")
    tracer.wrap_call(delta_link, "delta_relink", "operators.delta_link.delta_relink")
    tracer.wrap_call(delta_remove, "delta_unlink",
                     "operators.delta_remove.delta_unlink")

    # lazy factories: their DataFrames execute inside Catalog.commit
    for name, layer in (
        ("extract_text", "operators.extract_text"),
        ("graph_rows_df", "operators.build_graph.raw_graph"),
        ("explode_units", "operators.build_graph.views"),
        ("explode_graph", "operators.build_graph.views"),
        ("with_doc_view_buckets", "operators.build_graph.views"),
    ):
        tracer.wrap_factory(pipeline, name, layer)
    tracer.wrap_factory(delta_link, "link_keys_df", "operators.link.id_map")
    for module in (delta_link, delta_remove):
        tracer.wrap_factory(module, "entity_id_map", "operators.link.id_map")
        for name in ("materialize_nodes", "materialize_edges", "materialize_mentions"):
            tracer.wrap_factory(module, name, "operators.materialize")

    # the delta passes checkpoint their frames before committing them
    local_checkpoint = DataFrame.localCheckpoint

    def traced_local_checkpoint(df, *args, **kwargs):
        out = local_checkpoint(df, *args, **kwargs)
        tags = tracer.tags_of(df)
        return tracer.tag(out, tags[0], [df]) if tags else out

    tracer.patch(DataFrame, "localCheckpoint", traced_local_checkpoint)

    commit, read, compact = Catalog.commit, Catalog.read, Catalog.compact

    def traced_commit(cat, df, table, *args, **kwargs):
        with tracer.span("sources.catalog.commit", table=table,
                         tags=tracer.tags_of(df)) as span:
            snap = commit(cat, df, table, *args, **kwargs)
        if span is not None:
            span.attrs["path"] = os.path.join(cat.warehouse, table, snap["dir"])
        return snap

    def traced_read(cat, spark, table):
        snap = cat.current_snapshot(table) or {}
        with tracer.span("sources.catalog.read", table=table,
                         dirs=len(snap.get("dirs") or [1]),
                         deletes=len(snap.get("deletes") or [])):
            return read(cat, spark, table)

    def traced_compact(cat, spark, table, *args, **kwargs):
        with tracer.span("sources.catalog.compact", table=table):
            return compact(cat, spark, table, *args, **kwargs)

    tracer.patch(Catalog, "commit", traced_commit)
    tracer.patch(Catalog, "read", traced_read)
    tracer.patch(Catalog, "compact", traced_compact)


def measure_commits(tracer, warehouse: str) -> None:
    """Bytes and files each commit span under ``warehouse`` wrote (data
    dir plus its equality-delete dirs). Called before the warehouse is
    deleted, outside any timed op."""
    for span in tracer.spans:
        path = span.attrs.get("path")
        if not path or "bytes" in span.attrs or not path.startswith(warehouse):
            continue
        sizes = [dir_bytes(p) for p in [path, *glob.glob(path + "-deletes*")]]
        span.attrs["bytes"] = sum(b for b, _ in sizes)
        span.attrs["files"] = sum(f for _, f in sizes)


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet data files under path."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, name))
                files += 1
    return total, files


# ------------------------------------------------------------------ metrics


def _med(samples, key, default=0.0) -> float:
    values = samples.get(key) or []
    return stats.median(values) if values else default


def _union(spans) -> float:
    if not spans:
        return 0.0
    intervals = [(s.start, s.end) for s in spans]
    return covered_length(intervals, min(a for a, _ in intervals),
                          max(b for _, b in intervals))


def per_layer(spans, jobs_by_span, samples: dict, values: dict) -> dict:
    """Every PER_LAYER metric (0 where the workload has no such span)."""
    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    commits = by_name.get("sources.catalog.commit", [])

    def tagged(layer):
        return [s for s in commits if layer in s.attrs.get("tags", ())]

    def jobs_of(span_list):
        """Distinct jobs of the spans' subtrees."""
        out = {}
        for s in span_list:
            for job in eventlog.subtree_jobs(s.id, spans, jobs_by_span):
                out[job.id] = job
        return list(out.values())

    out = {name: 0.0 for name, _ in PER_LAYER}
    acc = wall_accounting(spans)
    out["pipeline.wall_s"] = acc["pipeline_wall_s"]
    out["pipeline.unattributed_s"] = acc["unattributed_s"]

    text_s = sum(s.duration for s in tagged("operators.extract_text"))
    out["operators.extract_text.busy_s"] = text_s
    if text_s:
        out["operators.extract_text.pages_per_s"] = values.get("pages_extracted", 0) / text_s
    out["operators.extract_text.error_docs_ratio"] = _med(samples, "text_error_ratio")

    out["operators.build_graph.raw_graph_s"] = _union(
        tagged("operators.build_graph.raw_graph"))
    views = tagged("operators.build_graph.views")
    out["operators.build_graph.views_s"] = _union(views)
    out["operators.build_graph.mentions_out"] = eventlog.counters(
        jobs_of([s for s in views if s.attrs.get("table") == "mentions_doc"])
    )["output_records"]

    out["operators.link.id_map_s"] = _union(tagged("operators.link.id_map"))
    mat = tagged("operators.materialize")
    out["operators.materialize.s"] = _union(mat)
    out["operators.materialize.bytes_written"] = sum(
        s.attrs.get("bytes", 0) for s in mat)

    reads = by_name.get("sources.catalog.read", [])
    out["sources.catalog.commit_s"] = sum(s.duration for s in commits)
    out["sources.catalog.commits"] = len(commits)
    out["sources.catalog.bytes_written"] = sum(s.attrs.get("bytes", 0) for s in commits)
    out["sources.catalog.files_written"] = sum(s.attrs.get("files", 0) for s in commits)
    out["sources.catalog.read_dirs_max"] = max(
        (s.attrs.get("dirs", 0) for s in reads), default=0)
    out["sources.catalog.delete_chain_max"] = max(
        (s.attrs.get("deletes", 0) for s in reads), default=0)
    out["sources.catalog.compact_s"] = sum(
        s.duration for s in by_name.get("sources.catalog.compact", []))

    doc_entities = _med(samples, "doc_entities")
    for layer, total, span_name, touched_key, leg_prefix, legs in (
        ("delta_link", "relink_s", "operators.delta_link.delta_relink",
         "add_touched_entities", "relink", DELTA_LINK_LEGS),
        ("delta_remove", "unlink_s", "operators.delta_remove.delta_unlink",
         "remove_touched_entities", "remove", DELTA_REMOVE_LEGS),
    ):
        prefix = f"operators.{layer}"
        out[f"{prefix}.{total}"] = sum(s.duration for s in by_name.get(span_name, []))
        touched = _med(samples, touched_key)
        out[f"{prefix}.touched_entities"] = touched
        out[f"{prefix}.touched_ratio"] = touched / doc_entities if doc_entities else 0.0
        for leg in legs:
            # the sub-leg timings the program returns, as the workload stored them
            out[f"{prefix}.{leg_prefix}_{leg}_s"] = _med(
                samples, f"{layer}.{leg_prefix}_{leg}")

    trigram = by_name.get("plans.search_index", [])
    out["plans.search_index.s"] = sum(s.duration for s in trigram)
    rows = sum(s.attrs.get("rows", 0) for s in trigram)
    if rows:
        out["plans.search_index.rows_read_per_result"] = (
            eventlog.counters(jobs_of(trigram))["input_records"] / rows)

    calls = [s for t in TOOLS for s in by_name.get(f"plans.queries.{t}", [])]
    for tool in TOOLS:
        tool_spans = by_name.get(f"plans.queries.{tool}", [])
        if tool_spans:
            out[f"plans.queries.{tool}_p50_ms"] = 1000 * stats.median(
                [s.duration for s in tool_spans])
    if calls:
        out["plans.queries.jobs_per_call"] = len(jobs_of(calls)) / len(calls)
    out["plans.queries.path_hops"] = _med(samples, "path_hops")

    for layer in ("operators.dedup", "operators.similarity", "operators.textstats"):
        out[f"{layer}.s"] = sum(s.duration for s in by_name.get(layer, []))
    minhash = [s for s in by_name.get("operators.dedup", [])
               if s.attrs.get("query") == "dedup_minhash_docs"]
    if minhash:
        shuffled = eventlog.counters(jobs_of(minhash))["shuffle_records"]
        out["operators.dedup.minhash_shuffle_records"] = shuffled
        if shuffled:
            out["operators.dedup.minhash_pairs_per_shuffled_record"] = (
                _med(samples, "minhash_pairs") / shuffled)

    for group, names in ENGINE_GROUPS.items():
        members = [s for n in names for s in by_name.get(n, [])]
        counts = eventlog.counters(jobs_of(members))
        for key in eventlog.COUNTERS:
            out[f"{group}.{key}"] = counts[key]

    out["bench.traced_op_s"] = values.get("op_s", 0.0)
    for key in ("peak_rss_mb", "docs_per_s", "call_ms"):
        out[f"bench.{key}"] = values.get(key, 0.0)
    return out


def wall_accounting(spans) -> dict:
    """How the pipeline entry points' traced wall splits: their own
    unattributed self time, plus the union of their children's
    intervals; ``descendant_self_s`` sums every descendant's self time
    (larger than the union where commits ran concurrently)."""
    own = self_times(spans)
    children: dict = {}
    for s in spans:
        children.setdefault(s.parent, []).append(s)
    roots = [s for s in spans if s.name in PIPELINE_SPANS]
    descendants, todo = [], [c for r in roots for c in children.get(r.id, [])]
    while todo:
        s = todo.pop()
        descendants.append(s)
        todo.extend(children.get(s.id, []))
    return {
        "pipeline_wall_s": sum(s.duration for s in roots),
        "unattributed_s": sum(own[s.id] for s in roots),
        "children_union_s": sum(s.duration - own[s.id] for s in roots),
        "descendant_self_s": sum(own[s.id] for s in descendants),
    }


def span_tree(spans, jobs_by_span, limit: int = 400) -> list[str]:
    """Indented lines ``name  wall  self  jobs`` of the span tree."""
    own = self_times(spans)
    children: dict = {}
    for s in spans:
        children.setdefault(s.parent, []).append(s)
    lines: list[str] = []

    def walk(parent, depth):
        for s in children.get(parent, []):
            if len(lines) >= limit:
                return
            label = s.attrs.get("table") or s.attrs.get("query") or s.attrs.get("tool") or ""
            jobs = len(eventlog.subtree_jobs(s.id, spans, jobs_by_span))
            lines.append(
                f"{'  ' * depth}{s.name}{'[' + label + ']' if label else ''}"
                f"  wall={s.duration:.3f}s self={own[s.id]:.3f}s jobs={jobs}"
            )
            walk(s.id, depth + 1)

    walk(None, 0)
    return lines
