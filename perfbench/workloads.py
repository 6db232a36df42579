"""The benchmark's workloads: closed loops with one client.

kg_delta — every pass starts from the same prebuilt warehouse, restored
    by copy. It serves the graph-tool mix, adds a batch of pages from a
    partially overlapping world (seeded by the run), probes, removes the
    same batch and probes again. The round trip must restore the graph
    exactly. The warehouse carries no search index (README: run-time
    budget), so search runs the auto-routed full scan.
curate — one pass runs document-side queries of
    ``__spark_entry__.queries()`` over seeded documents and embeddings,
    including the trigram posting-index build and probe of
    ``plans.search_index``.

Every pass starts only after the previous one completed; passes repeat
until the run's measuring window is over (always at least one).
"""

from __future__ import annotations

import os
import random
import shutil
import time
import traceback
from collections import defaultdict

import checks
import inputs
import proctree


class Recorder:
    """Operation outcomes and timing samples of one run. Each timed
    operation records its wall seconds under ``sample`` and the process
    tree's CPU seconds under ``sample + ".cpu"``."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.values: dict[str, float] = {}
        self.timed_s = 0.0  # wall seconds inside timed operations

    def op(self, sample: str, fn):
        """Run one timed operation; a raise counts as a failure."""
        self.attempted += 1
        cpu = proctree.tree_cpu_seconds()
        started = time.perf_counter()
        try:
            out = fn()
        except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
            self.failed += 1
            self.errors.append(f"{sample}: {traceback.format_exc(limit=3)}")
            return None
        elapsed = time.perf_counter() - started
        self.timed_s += elapsed
        self.samples[sample].append(elapsed)
        self.samples[f"{sample}.cpu"].append(proctree.tree_cpu_seconds() - cpu)
        return out

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"check {name} failed {detail}".rstrip())


# ---------------------------------------------------------------- kg_delta


def kg_setup(spark, work_dir: str, seed: int, cache_dir: str) -> dict:
    """Restore the prebuilt base warehouse by copy and write the run's
    batch."""
    base = inputs.base_warehouse(cache_dir)
    wh = os.path.join(work_dir, "warehouse")
    restore(base["warehouse"], wh)
    batch = inputs.write_batch(spark, os.path.join(work_dir, "inputs"), seed)
    return {**base, "batch": batch, "restored": wh}


def restore(src: str, dst: str) -> None:
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst)


def _tool_calls(spark, cat, probes: list[dict], full: bool) -> list[tuple]:
    """(tool, callable) pairs about the first probe entity: the two point
    reads, and with ``full`` also entity and relationship search (through
    the CLI's auto-routing entry point), sources and the path to the
    second probe entity."""
    from kiwi_spark.plans import queries as Q
    from kiwi_spark.plans import search_index as S

    nodes = cat.read(spark, "nodes")
    edges = cat.read(spark, "edges")
    first, second = probes[0], probes[1]
    calls = [
        ("lookup_entity", lambda: Q.lookup_entity(nodes, first["name"]).collect()),
        ("get_entity_neighbours",
         lambda: Q.get_entity_neighbours(edges, nodes, first["id"]).collect()),
    ]
    if not full:
        return calls
    word = first["name"].split()[0]
    mentions = cat.read(spark, "mentions")
    units = cat.read(spark, "units")
    return calls + [
        ("search_entities",
         lambda: S.search_entities_auto(spark, cat, nodes, word).collect()),
        ("search_relationships",
         lambda: S.search_relationships_auto(spark, cat, edges, nodes, word).collect()),
        ("get_entity_sources",
         lambda: Q.get_entity_sources(mentions, units, [first["id"]]).collect()),
        ("get_path_between_entities",
         lambda: Q.get_path_between_entities(edges, first["id"], second["id"])),
    ]


def _probe(ctx, rec: Recorder, cat, probes, sample: str, full: bool) -> dict:
    """Run one tool mix; returns tool → result of the calls that succeeded."""
    results = {}
    for tool, call in _tool_calls(ctx.spark, cat, probes, full):
        def run(tool=tool, call=call):
            with rec.tracer.span(f"plans.queries.{tool}", tool=tool) as span:
                results[tool] = call()
                if span is not None:
                    span.attrs["rows"] = len(results[tool] or [])

        rec.op(sample, run)
        if tool in results:
            rec.samples[f"{sample}.{tool}"].append(rec.samples[sample][-1])
            if tool == "get_path_between_entities" and results[tool]:
                rec.samples["path_hops"].append(len(results[tool]) - 1)
    return results


def _read_checks(ctx, rec: Recorder, cat, probes, results: dict) -> None:
    """Untimed checks of the tool mix's answers against the collected
    edges: neighbours against a pandas filter, the path against a
    driver-side BFS."""
    from kiwi_spark.plans.queries import MAX_PATH_DEPTH

    edges_pdf = cat.read(ctx.spark, "edges").select(
        "edge_id", "src_id", "dst_id").toPandas()
    first, second = probes
    if "get_entity_neighbours" in results:
        rec.check("neighbours_equal_pandas_filter", checks.neighbours_match(
            results["get_entity_neighbours"], edges_pdf, first["id"], 50))
    if "get_path_between_entities" in results:
        pairs = list(zip(edges_pdf["src_id"], edges_pdf["dst_id"]))
        rec.check("path_equals_bfs", checks.path_matches_bfs(
            results["get_path_between_entities"], pairs, first["id"],
            second["id"], MAX_PATH_DEPTH))


def kg_pass(ctx, data: dict, rec: Recorder, index: int) -> None:
    """Tool mix on the restored warehouse, then add the batch → probe →
    remove it → probe. Checks run between the timed operations."""
    from kiwi_spark import pipeline
    from kiwi_spark.sources.catalog import Catalog

    spark = ctx.spark
    wh = data["restored"]
    if index:
        restore(data["warehouse"], wh)
    cat = Catalog(wh)
    probes = random.Random(ctx.seed).sample(data["probe_candidates"], 2)
    rec.samples["doc_entities"].append(data["doc_entities"])
    results = _probe(ctx, rec, cat, probes, "query", full=True)
    _read_checks(ctx, rec, cat, probes, results)

    batch = spark.read.parquet(data["batch"])
    added = rec.op(
        "add",
        lambda: pipeline.incremental_add(spark, batch, wh, n_buckets=inputs.N_BUCKETS),
    )
    if added is not None:
        rec.samples["add_touched_entities"].append(
            added.counts.get("touched_entities", 0))
        for leg, secs in added.timings.items():
            if leg.startswith("relink_"):
                rec.samples[f"delta_link.{leg}"].append(secs)
        errors, error_ratio = checks.text_identity(spark, cat, data["batch"], ctx.seed)
        rec.check("text_byte_identical", not errors, "; ".join(errors[:3]))
        rec.samples["text_error_ratio"].append(error_ratio)
        rec.values["pages_extracted"] = (
            rec.values.get("pages_extracted", 0) + inputs.KG_BATCH_PAGES)
        precision, recall = checks.triple_pr(
            spark, cat, [data["pages"], data["batch"]], ctx.repo_root)
        rec.check("triple_pr", min(precision, recall) >= checks.TRIPLE_PR_FLOOR,
                  f"P={precision:.3f} R={recall:.3f}")
    _probe(ctx, rec, cat, probes, "read_after_write", full=False)

    removed = rec.op(
        "remove",
        lambda: pipeline.incremental_remove(
            spark, batch.select("url"), wh, n_buckets=inputs.N_BUCKETS),
    )
    if removed is not None:
        rec.samples["remove_touched_entities"].append(
            removed.counts.get("touched_entities", 0))
        for leg, secs in removed.timings.items():
            if leg.startswith("remove_"):
                rec.samples[f"delta_remove.{leg}"].append(secs)
    _probe(ctx, rec, cat, probes, "read_after_write", full=False)

    rec.check("round_trip_restores_graph",
              list(checks.graph_hash(spark, cat)) == data["graph_hash"])
    rec.values["docs_written"] = rec.values.get("docs_written", 0) + (
        inputs.KG_BATCH_PAGES * ((added is not None) + (removed is not None)))
    ctx.on_pass_end(wh)


# ------------------------------------------------------------------ curate

# (query name in __spark_entry__.queries(), layer that does its work)
CURATE_QUERIES = [
    ("dedup_minhash_docs", "operators.dedup"),
    ("dedup_simhash_docs", "operators.dedup"),
    ("lang_id_docs", "operators.textstats"),
    ("token_counts_docs", "operators.textstats"),
    ("similarity_topk", "operators.similarity"),
    ("search_docs_trigram", "plans.search_index"),
]


def curate_setup(spark, work_dir: str, seed: int, cache_dir: str) -> dict:
    data_dir = inputs.write_curate_inputs(
        spark, os.path.join(work_dir, "inputs"), seed)
    return {"dir": data_dir, "docs": inputs.CURATE_DOCS}


def curate_pass(ctx, data: dict, rec: Recorder, index: int) -> None:
    """One pass of the curation set. Each query runs into a noop sink
    inside its timed op: unlike ``count()`` it prunes no columns, and
    unlike ``collect()`` it charges no driver-side deserialization. The
    result is then collected, untimed, and compared with its DuckDB twin."""
    import __spark_entry__ as entry

    queries = entry.queries()
    oracles = entry.oracle_sql()
    cpu = proctree.tree_cpu_seconds()
    started = time.perf_counter()
    frames, spans = {}, {}
    for name, layer in CURATE_QUERIES:
        def run(name=name, layer=layer):
            with rec.tracer.span(layer, query=name) as spans[name]:
                df = queries[name](ctx.spark, data["dir"])
                df.write.format("noop").mode("overwrite").save()
            return df

        df = rec.op("curate_query", run)
        if df is not None:
            rec.samples[f"curate.{name}"].append(rec.samples["curate_query"][-1])
            frames[name] = df
    pass_s = time.perf_counter() - started
    rec.samples["curate_pass"].append(pass_s)
    rec.samples["curate_pass.cpu"].append(proctree.tree_cpu_seconds() - cpu)
    rec.values["docs_written"] = rec.values.get("docs_written", 0) + data["docs"]
    rec.samples["curate_docs_per_s"].append(data["docs"] / pass_s)
    for name, df in frames.items():
        try:
            rows = df.collect()
        except Exception as exc:  # noqa: BLE001 — a failed check is counted
            rec.check(f"oracle_{name}", False, repr(exc))
            continue
        if spans[name] is not None:
            spans[name].attrs["rows"] = len(rows)
        if name == "dedup_minhash_docs":
            rec.samples["minhash_pairs"].append(len(rows))
        reason = checks.oracle_matches(rows, df.columns, data["dir"], oracles[name])
        rec.check(f"oracle_{name}", reason is None, reason or "")


# name → (per-checkout build or None, is-built test, set-up, pass)
WORKLOADS = {
    "kg_delta": (
        inputs.build_base_warehouse,
        lambda cache_dir: inputs.base_warehouse(cache_dir) is not None,
        kg_setup, kg_pass,
    ),
    "curate": (None, None, curate_setup, curate_pass),
}
