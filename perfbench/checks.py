"""Correctness checks. They run untimed, and each one that fails counts as
a failed operation in ``op_failure_ratio``.

kg_delta:
  * byte-identical text per url against ``html_to_markdown`` on a sample
    of the added batch;
  * triple precision/recall ≥ 0.95 against ``tests/reference_sim.py`` over
    base plus batch, after the add;
  * the graph hash after the add/remove round trip equals the base's;
  * the path equals a driver-side BFS over the collected edges, and
    neighbours equal a pandas filter.
curate:
  * every result equals its DuckDB twin from ``oracle_sql()``.
"""

from __future__ import annotations

import os
import random
import sys
from collections import deque

from pyspark.sql import functions as F

TRIPLE_PR_FLOOR = 0.95
TEXT_SAMPLE = 20


def text_identity(spark, cat, pages_path: str, seed: int) -> tuple[list[str], float]:
    """Errors for sampled urls whose committed text differs from the
    renderer's output, and the share of sampled docs the program marked
    with an ``error_code``."""
    from kiwi_spark.functions.html_text import html_to_markdown

    pages = spark.read.parquet(pages_path).select("url", "html").collect()
    sample = random.Random(seed).sample(pages, min(TEXT_SAMPLE, len(pages)))
    urls = [r["url"] for r in sample]
    rows = cat.read(spark, "text").where(F.col("url").isin(urls)).collect()
    got = {r["url"]: r["text"] for r in rows}
    errors = []
    for row in sample:
        expected = html_to_markdown(bytes(row["html"]).decode("utf-8"))
        if got.get(row["url"]) != expected:
            errors.append(f"text differs for {row['url']}")
    error_docs = sum(r["error_code"] is not None for r in rows)
    return errors, error_docs / max(len(rows), 1)


def triple_pr(spark, cat, pages_paths: list[str], repo_root: str) -> tuple[float, float]:
    """(precision, recall) of the canonical edge triples against the
    reference simulator over the same pages."""
    tests_dir = os.path.join(repo_root, "tests")
    if tests_dir not in sys.path:
        sys.path.append(tests_dir)
    from reference_sim import simulate_corpus

    rows = [
        {"url": r["url"], "html": bytes(r["html"])}
        for r in spark.read.parquet(*pages_paths).select("url", "html").collect()
    ]
    _, expected = simulate_corpus(rows)
    names = {r["entity_id"]: r["name"] for r in cat.read(spark, "nodes").collect()}
    got = {
        (names[r["src_id"]], r["pred"], names[r["dst_id"]], r["strength"])
        for r in cat.read(spark, "edges").collect()
    }
    tp = len(got & expected)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(expected) if expected else 0.0
    return precision, recall


def graph_hash(spark, cat) -> tuple:
    """Order-insensitive content hash of the canonical graph."""
    nodes = cat.read(spark, "nodes").agg(
        F.count("*").alias("n"),
        F.bit_xor(F.xxhash64("entity_id", "name", "type", "n_sources")).alias("h"),
    ).first()
    edges = cat.read(spark, "edges").agg(
        F.count("*").alias("n"),
        F.bit_xor(
            F.xxhash64("edge_id", "src_id", "dst_id", "pred",
                       F.round("strength", 6), "n_sources")
        ).alias("h"),
    ).first()
    mentions = cat.read(spark, "mentions").agg(F.count("*").alias("n")).first()
    return (nodes["n"], nodes["h"], edges["n"], edges["h"], mentions["n"])


def bfs_hops(edge_pairs, src: str, dst: str, max_depth: int) -> int | None:
    """Shortest undirected hop count from src to dst, None beyond
    max_depth."""
    adj: dict[str, set] = {}
    for a, b in edge_pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    seen = {src: 0}
    todo = deque([src])
    while todo:
        cur = todo.popleft()
        if cur == dst:
            return seen[cur]
        if seen[cur] >= max_depth:
            continue
        for nxt in adj.get(cur, ()):
            if nxt not in seen:
                seen[nxt] = seen[cur] + 1
                todo.append(nxt)
    return None


def path_matches_bfs(path, edge_pairs, src: str, dst: str, max_depth: int) -> bool:
    """The tool's path is a real path of minimum length (or both agree
    there is none within max_depth)."""
    hops = bfs_hops(edge_pairs, src, dst, max_depth)
    if path is None or hops is None:
        return path is None and hops is None
    pairs = {frozenset(p) for p in edge_pairs}
    valid = (
        path[0] == src and path[-1] == dst
        and all(frozenset((a, b)) in pairs for a, b in zip(path, path[1:]))
    )
    return valid and len(path) - 1 == hops


def neighbours_match(tool_rows, edges_pdf, entity_id: str, limit: int) -> bool:
    """Tool neighbours equal a pandas filter over the collected edges."""
    touching = edges_pdf[
        (edges_pdf["src_id"] == entity_id) | (edges_pdf["dst_id"] == entity_id)
    ]
    expected = sorted(
        (b if a == entity_id else a, e)
        for a, b, e in zip(touching["src_id"], touching["dst_id"], touching["edge_id"])
    )[:limit]
    got = sorted((r["entity_id"], r["edge_id"]) for r in tool_rows)
    return [x[0] for x in got] == [x[0] for x in expected] and set(got) <= set(expected)


# ---------------------------------------------------------------- curate


def normalize(rows, columns) -> list[str]:
    """Column-order-free, float-rounded row multiset (tools/check_oracles)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = round(v, 6)
            vals.append(repr(v))
        out.append("|".join(vals))
    return sorted(out)


def duckdb_twin(data_dir: str, sql: str):
    import duckdb

    con = duckdb.connect()
    try:
        for table in ("documents", "embeddings"):
            path = os.path.join(data_dir, f"{table}.parquet")
            con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}/*.parquet')"
            )
        rel = con.sql(sql)
        return rel.fetchall(), [d[0] for d in rel.description]
    finally:
        con.close()


def oracle_matches(spark_rows, spark_cols, data_dir: str, sql: str) -> str | None:
    """None when the Spark result equals the DuckDB twin, else a reason."""
    drows, dcols = duckdb_twin(data_dir, sql)
    if sorted(spark_cols) != sorted(dcols):
        return f"columns {sorted(spark_cols)} vs {sorted(dcols)}"
    got = normalize([tuple(r) for r in spark_rows], spark_cols)
    want = normalize(drows, dcols)
    if got != want:
        return f"{len(got)} rows vs {len(want)} oracle rows or values differ"
    return None
