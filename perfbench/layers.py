"""The traced run: per-layer metrics, named after the program's modules.

Every layer is timed from outside, around calls to its public
functions, each call under a Spark job group of its own (tracing.py).
The composed calls (``collect_plugin`` / ``collect_to_files``,
``apply_delta_batch``, ``execute_sql``, ``execute_search``) are the
operations the untraced run measures.  After a cycle's first sync
pair, a layer pass re-runs the same sync one layer at a time,
forcing each layer's output with a ``noop`` write so its cost lands in
its own span:

    sources.graph            GraphSource.from_json_lines / from_docs
    operators.flatten        flatten_nodes per kind, link_tables
    sinks.files              write_table per table, swap_staging

Each sync and delta runs twice, traced and untraced; the difference of
the two sides' medians is the tracing overhead.  The Spark UI (the REST
source of stage bytes) is on for both sides, so its listener cost is
not in that difference.
"""

from __future__ import annotations

import os

from run import CYCLE, FileCollector
from run import median as _med
from tracing import NullTracer, Tracer

PER_LAYER_UNITS = {
    "ingest.s": "s",
    "ingest.jobs": "count",
    "ingest.input_bytes": "B",
    "ingest.docs_in": "count",
    "ingest.nodes_out": "count",
    "ingest.edges_out": "count",
    "ingest.docs_dropped": "count",
    "flatten.kind_tables_s": "s",
    "flatten.kind_rows_out": "count",
    "flatten.link_resolve_s": "s",
    "flatten.link_pairs": "count",
    "flatten.link_rows_out": "count",
    "flatten.edges_unresolved": "count",
    "flatten.shuffle_bytes": "B",
    "sync.jobs": "count",
    "sync.stages": "count",
    "sync.tasks": "count",
    "sync.shuffle_bytes": "B",
    "sync.source_reads": "ratio",
    "write.s": "s",
    "write.jobs": "count",
    "write.bytes_written": "B",
    "write.files_written": "count",
    "publish.s": "s",
    "publish.tables": "count",
    "delta.s": "s",
    "delta.jobs": "count",
    "delta.tables_scanned": "count",
    "delta.tables_rewritten": "count",
    "delta.tables_skipped": "count",
    "delta.rewrite_ratio": "ratio",
    "delta.rows_upserted": "count",
    "delta.rows_removed": "count",
    "delta.bytes_written": "B",
    "query.q_carz_counts_ms": "ms",
    "query.q_link_join_ms": "ms",
    "query.q_tag_filter_ms": "ms",
    "query.jobs": "count",
    "query.input_bytes": "B",
    "search.s_is_kind_ms": "ms",
    "search.s_traverse_ms": "ms",
    "search.jobs": "count",
    "jvm.heap_used_mb": "MB",
    "jvm.gc_s": "s",
    "jvm.gc_s.sync": "s",
    "jvm.gc_s.delta": "s",
    "jvm.gc_s.query": "s",
    "trace.overhead.sync_s": "s",
    "trace.overhead.delta_gen_s": "s",
    "ops_failed_frac": "ratio",
}


def _noop(df, *aggs) -> dict:
    """Compute ``df`` in full (a noop write) and return ``aggs`` of it,
    observed in the same job."""
    from pyspark.sql import Observation

    obs = Observation()
    df.observe(obs, *aggs).write.format("noop").mode("overwrite").save()
    return obs.get


def layer_pass(b, tr: Tracer) -> None:
    """The current state's full sync, one layer per span, mirroring
    ``collect_to_files``."""
    from pyspark.sql import functions as F

    from resotodatalink_spark.model.kinds import get_link_table_name, get_table_name
    from resotodatalink_spark.operators.flatten import flatten_nodes, link_tables
    from resotodatalink_spark.sinks.files import (
        NODE_INDEX,
        STAGING_SUFFIX,
        swap_staging,
        write_table,
    )
    from resotodatalink_spark.sources.graph import GraphSource

    spark, st = b.spark, b.oracle.state
    n = F.count(F.lit(1)).alias("n")
    with tr.span("sync.layers"):
        with tr.span("sources.graph", group=True) as s:
            if b.wl.source == "docs":
                docs = list(FileCollector(st["path"], []).export_docs())
                source = GraphSource.from_docs(spark, docs)
            else:
                source = GraphSource.from_json_lines(spark, st["path"])
            nodes = _noop(source.nodes, n)["n"]
            edges = _noop(source.edges, n, F.sum(
                (F.col("edge_type") == "default").cast("long")).alias("d"))
        s.update(docs_in=st["nodes"] + st["edges"] + st["untyped"],
                 nodes_out=nodes, edges_out=edges["n"], default_edges=edges["d"])
        views = {}
        with tr.span("operators.flatten.kind_tables", group=True) as s:
            rows = 0
            for kind in b.model.table_kinds():
                df = flatten_nodes(source.nodes, b.model, kind)
                rows += _noop(df, n)["n"]
                views[get_table_name(kind.fqn)] = df
        s["rows_out"] = rows
        with tr.span("operators.flatten.link_resolve", group=True) as s:
            links = link_tables(source)
            rows = 0
            for (fk, tk), df in links.items():
                rows += _noop(df, n)["n"]
                views[get_link_table_name(fk, tk)] = df
        s.update(pairs=len(links), rows_out=rows)
        if b.wl.node_index:
            views[NODE_INDEX] = source.nodes.select("id", "kind")
        names = sorted(views)
        with tr.span("sinks.files.write", group=True) as s:
            for name in names:
                write_table(views[name], b.dest, name, staging=True)
        s["files"] = sum(
            1 for name in names
            for f in os.listdir(os.path.join(b.dest, name + STAGING_SUFFIX))
            if f.startswith("part-")
        )
        with tr.span("sinks.files.publish") as s:
            s["tables"] = len(swap_staging(b.dest, tables=names))


def traced_run(b, tr: Tracer, seconds: float) -> dict[str, float]:
    """Run the closed loop's cycles for ``seconds`` (``Bench.run``) and
    return the per-layer metrics.  Every sync and delta step runs twice,
    traced and untraced, in an order that alternates from step to step
    (a re-sync of the same state is the same work; the two deltas are
    consecutive generations), so a cycle's two sync steps put the
    traced sync first once and second once.  The difference of the two
    sides' medians is the tracing overhead.  A cycle's first sync pair
    is followed by a layer pass."""
    untraced = NullTracer()
    split = {True: {"sync": [], "delta": []}, False: {"sync": [], "delta": []}}
    gc: dict[str, list[float]] = {"sync": [], "delta": [], "query": []}
    heap: list[float] = []
    order = [True]
    syncs = [0]

    def one(step: str, traced: bool) -> None:
        kind = "query" if step == "mix" else step
        b.tr = tr if traced else untraced
        n0 = len(b.times[kind])
        before = tr.jvm()
        getattr(b, step)()
        after = tr.jvm()
        b.tr = untraced
        heap.append(after["heap_mb"])
        if traced:
            gc[kind].append((after["gc_s"] - before["gc_s"]) / (len(b.times[kind]) - n0))
        if kind != "query":
            split[traced][kind].extend(b.times[kind][n0:])

    def step(name: str) -> None:
        if name == "mix":
            one(name, True)
            return
        first = order[0]
        order[0] = not first
        one(name, first)
        one(name, not first)
        if name == "sync":
            if syncs[0] % CYCLE.count("sync") == 0:
                layer_pass(b, tr)
            syncs[0] += 1

    gc0 = tr.jvm()["gc_s"]
    b.run(seconds, step)
    gc_total = tr.jvm()["gc_s"] - gc0
    tr.resolve()
    return _metrics(b, tr, split, gc, heap, gc_total)


def _metrics(b, tr, split, gc, heap, gc_total) -> dict[str, float]:
    by: dict[str, list[dict]] = {}
    for s in tr.spans:
        by.setdefault(s["name"], []).append(s)

    def med(name: str, key) -> float:
        return _med([key(s) for s in by.get(name, [])])

    def dur(s: dict) -> float:
        return s["end"] - s["start"]

    def per_query(name: str) -> float:
        return _med(b.per_query.get(name, [])) * 1000

    deltas = b.delta_stats
    rewritten = [sum(1 for v in d.values() if v["upserted"] or v["removed"])
                 for d in deltas]
    m = {
        "ingest.s": med("sources.graph", dur),
        "ingest.jobs": med("sources.graph", lambda s: s["jobs"]),
        "ingest.input_bytes": med("sources.graph", lambda s: s["input_bytes"]),
        "ingest.docs_in": med("sources.graph", lambda s: s["docs_in"]),
        "ingest.nodes_out": med("sources.graph", lambda s: s["nodes_out"]),
        "ingest.edges_out": med("sources.graph", lambda s: s["edges_out"]),
        "ingest.docs_dropped": med(
            "sources.graph", lambda s: s["docs_in"] - s["nodes_out"] - s["edges_out"]),
        "flatten.kind_tables_s": med("operators.flatten.kind_tables", dur),
        "flatten.kind_rows_out": med("operators.flatten.kind_tables",
                                     lambda s: s["rows_out"]),
        "flatten.link_resolve_s": med("operators.flatten.link_resolve", dur),
        "flatten.link_pairs": med("operators.flatten.link_resolve", lambda s: s["pairs"]),
        "flatten.link_rows_out": med("operators.flatten.link_resolve",
                                     lambda s: s["rows_out"]),
        "flatten.edges_unresolved": _med([
            g["default_edges"] - lr["rows_out"] for g, lr in zip(
                by.get("sources.graph", []), by.get("operators.flatten.link_resolve", []))
        ]),
        "flatten.shuffle_bytes": _med([
            k["shuffle_bytes"] + lr["shuffle_bytes"] for k, lr in zip(
                by.get("operators.flatten.kind_tables", []),
                by.get("operators.flatten.link_resolve", []))
        ]),
        "sync.jobs": med("operators.sync", lambda s: s["jobs"]),
        "sync.stages": med("operators.sync", lambda s: s["stages"]),
        "sync.tasks": med("operators.sync", lambda s: s["tasks"]),
        "sync.shuffle_bytes": med("operators.sync", lambda s: s["shuffle_bytes"]),
        "sync.source_reads": med("operators.sync",
                                 lambda s: s["scan_rows"] / s["docs_in"]),
        "write.s": med("sinks.files.write", dur),
        "write.jobs": med("sinks.files.write", lambda s: s["jobs"]),
        "write.bytes_written": med("sinks.files.write", lambda s: s["output_bytes"]),
        "write.files_written": med("sinks.files.write", lambda s: s["files"]),
        "publish.s": med("sinks.files.publish", dur),
        "publish.tables": med("sinks.files.publish", lambda s: s["tables"]),
        "delta.s": _med(split[True]["delta"]),
        "delta.jobs": med("operators.incremental", lambda s: s["jobs"]),
        "delta.tables_scanned": _med([len(d) for d in deltas]),
        "delta.tables_rewritten": _med(rewritten),
        "delta.tables_skipped": _med([len(d) - r for d, r in zip(deltas, rewritten)]),
        "delta.rewrite_ratio": _med([r / len(d) for d, r in zip(deltas, rewritten) if d]),
        "delta.rows_upserted": _med([sum(v["upserted"] for v in d.values())
                                     for d in deltas]),
        "delta.rows_removed": _med([sum(v["removed"] for v in d.values())
                                    for d in deltas]),
        "delta.bytes_written": med("operators.incremental", lambda s: s["output_bytes"]),
        "query.q_carz_counts_ms": per_query("q_carz_counts"),
        "query.q_link_join_ms": per_query("q_link_join"),
        "query.q_tag_filter_ms": per_query("q_tag_filter"),
        "query.jobs": med("operators.sql", lambda s: s["jobs"]),
        "query.input_bytes": med("operators.sql", lambda s: s["input_bytes"]),
        "search.s_is_kind_ms": per_query("s_is_kind"),
        "search.s_traverse_ms": per_query("s_traverse"),
        "search.jobs": med("operators.search", lambda s: s["jobs"]),
        "jvm.heap_used_mb": max(heap),
        "jvm.gc_s": gc_total,
        "jvm.gc_s.sync": _med(gc["sync"]),
        "jvm.gc_s.delta": _med(gc["delta"]),
        "jvm.gc_s.query": _med(gc["query"]),
        "trace.overhead.sync_s": _med(split[True]["sync"]) - _med(split[False]["sync"]),
        "trace.overhead.delta_gen_s": (_med(split[True]["delta"])
                                       - _med(split[False]["delta"])),
        "ops_failed_frac": b.failed / max(b.attempted, 1),
    }
    return m
