"""The traced run (--trace 1): per-layer metrics.

It times the op once more with tracing off (the overhead baseline), then
installs the tracer, repeats the op and a short query loop with spans, and
reads what each span's job group did from the Spark status store. Layers
the workload does not exercise report 0.
"""

from __future__ import annotations

import json
import statistics
import time

from graphcheck import QueryOracle, query_sequence, run_query
from harness import StatusStore, dir_bytes, dir_files, now
from tracing import Tracer, scanned_files, sum_groups

PY_SAMPLE_PAGES = 300
TRACED_QUERIES = 14       # one cycle of graphcheck.MIX

PER_LAYER = [
    ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.gc_s", "s"),
    ("pages.scan_s", "s"), ("pages.rows", "count"),
    ("py.html_to_text_ms", "ms/1k_pages"), ("py.chunk_text_ms", "ms/1k_pages"),
    ("py.extract_chunk_ms", "ms/1k_pages"),
    ("py.build_graph_document_ms", "ms/1k_pages"),
    ("py.props_json_ms", "ms/1k_pages"),
    ("extract.self_s", "s"), ("extract.executor_run_s", "s"),
    ("extract.rows_out", "count"), ("extract.task_skew", "ratio"),
    ("merge.self_s", "s"), ("merge.rows_in", "count"),
    ("merge.rows_out", "count"), ("merge.shuffle_write_mb", "MB"),
    ("merge.spill_mb", "MB"),
    ("linking.self_s", "s"), ("linking.names", "count"),
    ("linking.candidate_pairs", "count"), ("linking.sim_edges", "count"),
    ("linking.useful_ratio", "ratio"), ("linking.shuffle_write_mb", "MB"),
    ("components.self_s", "s"), ("components.mapping_rows", "count"),
    ("components.driver_path", "bool"),
    ("rewrite.self_s", "s"), ("rewrite.nodes_out", "count"),
    ("rewrite.edges_out", "count"),
    ("materialize.write_s", "s"), ("materialize.jobs", "count"),
    ("materialize.bytes", "B"), ("materialize.files", "count"),
    ("materialize.bucket_skew", "ratio"),
    ("embed.write_s", "s"), ("embed.rows", "count"),
    ("checkpoint.stage_s", "s"), ("checkpoint.buckets_pending", "count"),
    ("checkpoint.buckets_recomputed", "count"),
    ("checkpoint.recompute_ratio", "ratio"),
    ("checkpoint.orphans_repaired", "count"),
    ("checkpoint.bytes_written", "B"),
    ("queries.neighborhood_ms", "ms"), ("queries.find_by_name_ms", "ms"),
    ("queries.multi_hop_ms", "ms"), ("queries.degree_topk_ms", "ms"),
    ("queries.files_read_per_lookup", "count"),
    ("trace.uncovered_share", "ratio"), ("trace.overhead_share", "ratio"),
]


def _diff(after: dict, before: dict) -> dict:
    out = {}
    for g, a in after.items():
        b = before.get(g, {})
        out[g] = {k: (v - b.get(k, 0) if k != "task_skew" else v)
                  for k, v in a.items()}
    return out


def python_layers(pages: list) -> dict:
    """The extractor body's layers, one process, on a fixed page sample
    (the en rows the engine would extract), in ms per 1,000 pages."""
    from llm_knowledge_graph_spark.reference_impl import (
        build_graph_document, chunk_text, extract_chunk, html_to_text)
    rows = [p for p in pages if p.get("lang") == "en"]
    t = dict.fromkeys(["html", "chunk", "extract", "graphdoc", "json"], 0.0)
    for p in rows:
        text = p.get("text")
        if text is None:
            t0 = time.perf_counter()
            text = html_to_text(p.get("html"))
            t["html"] += time.perf_counter() - t0
        t0 = time.perf_counter()
        chunks = list(chunk_text(text))
        t["chunk"] += time.perf_counter() - t0
        for cid, ctext, _s, _e in chunks:
            t0 = time.perf_counter()
            raw = extract_chunk(ctext)
            t1 = time.perf_counter()
            gd = build_graph_document(raw, cid, ctext)
            t2 = time.perf_counter()
            for item in gd["nodes"] + gd["edges"]:
                json.dumps(item["properties"], ensure_ascii=False)
            t["json"] += time.perf_counter() - t2
            t["extract"] += t1 - t0
            t["graphdoc"] += t2 - t1
    per_k = 1e6 / max(1, len(rows))     # s per page -> ms per 1k pages
    return {"py.html_to_text_ms": t["html"] * per_k,
            "py.chunk_text_ms": t["chunk"] * per_k,
            "py.extract_chunk_ms": t["extract"] * per_k,
            "py.build_graph_document_ms": t["graphdoc"] * per_k,
            "py.props_json_ms": t["json"] * per_k}


def _sample_pages(run) -> list:
    wl = run.wl
    if wl.name == "build_bulk":
        from llm_knowledge_graph_spark.corpus import make_page
        n_sites = 1 + wl.n_pages // 20
        return [make_page(i, wl.seed, n_sites)
                for i in range(min(PY_SAMPLE_PAGES, wl.n_pages))]
    from corpora import entity_dense_rows
    return entity_dense_rows(PY_SAMPLE_PAGES, wl.n_people, wl.seed)


def traced_metrics(run) -> dict:
    spark, wl = run.spark, run.wl
    store = StatusStore(spark)
    m = dict.fromkeys((k for k, _u in PER_LAYER), 0.0)

    run.build_once()                   # first build: JIT, worker start
    untraced_s = run.build_once()      # the overhead baseline
    tracer = Tracer(spark)
    before = store.snapshot()
    wl.prepare_op()
    if wl.name == "resume_half":
        # inspect the torn checkpoint before the resume repairs it
        pending = list(wl.torn)
        orphans = sum(wl.bucket_dir(b).is_dir() for b in pending)
    tracer.install()
    try:
        traced_s = run.build_once(tracer, prepare=False)
    finally:
        tracer.uninstall()
    op_groups = _diff(store.snapshot(), before)

    # --- session totals over the traced op
    for g in op_groups.values():
        m["spark.jobs"] += g["jobs"]
        m["spark.stages"] += g["stages"]
        m["spark.tasks"] += g["tasks"]
        m["spark.gc_s"] += g["gc_s"]

    st = tracer.self_times(run.root_span)
    m["trace.uncovered_share"] = st["uncovered"] / traced_s
    m["trace.overhead_share"] = (traced_s - untraced_s) / untraced_s

    def grp(layer, key):
        return sum_groups(op_groups, tracer.groups_of(layer), key)

    # --- operators
    m["extract.self_s"] = st.get("extract", 0.0)
    m["extract.executor_run_s"] = grp("extract", "run_s")
    m["extract.rows_out"] = tracer.rows("extract")
    m["extract.task_skew"] = max([op_groups.get(g, {}).get("task_skew", 0)
                                  for g in tracer.groups_of("extract")]
                                 or [0])
    m["merge.self_s"] = st.get("merge", 0.0)
    m["merge.rows_out"] = tracer.rows("merge")
    m["merge.shuffle_write_mb"] = grp("merge", "shuffle_write_b") / 2**20
    m["merge.spill_mb"] = grp("merge", "spill_b") / 2**20
    m["linking.self_s"] = st.get("linking", 0.0)
    m["linking.sim_edges"] = tracer.rows("linking")
    m["linking.shuffle_write_mb"] = grp("linking", "shuffle_write_b") / 2**20
    m["components.self_s"] = st.get("components", 0.0)
    m["components.mapping_rows"] = tracer.rows("components")
    m["rewrite.self_s"] = st.get("rewrite", 0.0)
    m["materialize.write_s"] = st.get("materialize", 0.0)
    m["materialize.jobs"] = grp("materialize", "jobs")
    m["embed.write_s"] = st.get("embed", 0.0)
    m["checkpoint.stage_s"] = st.get("checkpoint", 0.0)
    run.info["trace_spans"] = [
        {k: s[k] for k in ("id", "name", "parent", "rows")}
        | {"dur_s": s["end"] - s["start"]} for s in tracer.spans]
    run.info["trace_self_s"] = st
    run.info["trace_groups"] = {str(k): v for k, v in op_groups.items()}

    _probe_counts(run, tracer, m)
    out = wl.out_dir
    graph_dirs = [out / "nodes", out / "edges", out / "metrics"]
    m["materialize.bytes"] = sum(dir_bytes(d) for d in graph_dirs)
    m["materialize.files"] = sum(dir_files(d) for d in graph_dirs)
    sizes = [dir_bytes(d) for d in (out / "edges").glob("subj_bucket=*")]
    if sizes:
        m["materialize.bucket_skew"] = max(sizes) / statistics.median(sizes)
    import pyarrow.dataset as ds
    m["embed.rows"] = ds.dataset(str(out / "embeddings"), format="parquet",
                                 partitioning="hive").count_rows()
    if wl.name == "resume_half":
        with open(wl._manifest()) as f:
            n = len(json.load(f)["completed"])
        m["checkpoint.buckets_pending"] = len(pending)
        m["checkpoint.buckets_recomputed"] = sum(
            wl.bucket_dir(b).is_dir() for b in pending)
        m["checkpoint.recompute_ratio"] = (
            m["checkpoint.buckets_recomputed"] / n)
        m["checkpoint.orphans_repaired"] = orphans
        m["checkpoint.bytes_written"] = sum(
            dir_bytes(wl.bucket_dir(b)) for b in pending)

    # --- pages scan and the Python extractor body
    from llm_knowledge_graph_spark.sources.pages import read_pages
    t0 = now()
    pages = read_pages(spark, str(wl.pages_dir))
    pages.write.format("noop").mode("overwrite").save()
    m["pages.scan_s"] = now() - t0
    m["pages.rows"] = pages.count()
    m.update(python_layers(_sample_pages(run)))

    # --- queries, each kind in its own span
    _traced_queries(run, tracer, m)
    return {k: (m[k], u) for k, u in PER_LAYER}


def _probe_counts(run, tracer, m) -> None:
    """Counts the forced spans cannot give: merge input rows, LSH candidate
    pairs for the exact input linking saw, the components path taken, the
    rewrite's output split. Runs after the op, outside every span."""
    from pyspark.sql import functions as F

    from llm_knowledge_graph_spark.operators import linking
    m["merge.rows_in"] = sum(args[0].count()
                             for args, _kw, _o in tracer.calls.get("merge", []))
    for _a, _kw, (nodes, edges) in tracer.calls.get("rewrite", []):
        m["rewrite.nodes_out"] += nodes.count()
        m["rewrite.edges_out"] += edges.count()
    for args, kw, _out in tracer.calls.get("linking", []):
        ents = args[0]
        num_perm = args[1] if len(args) > 1 else kw.get("num_perm", 64)
        bands = args[2] if len(args) > 2 else kw.get("bands", 16)
        shingle = args[3] if len(args) > 3 else kw.get("shingle_n", 3)
        types = args[5] if len(args) > 5 else kw.get(
            "link_types", ("Person", "Organization", "Place"))
        names = ents.filter(F.col("type").isin(list(types)))
        m["linking.names"] = names.select("id", "type").distinct().count()
        m["linking.candidate_pairs"] = linking.candidate_pairs(
            names, num_perm, bands, shingle).count()
        if m["linking.candidate_pairs"]:
            m["linking.useful_ratio"] = (m["linking.sim_edges"]
                                         / m["linking.candidate_pairs"])
    for args, kw, _out in tracer.calls.get("components", []):
        # canonical_mapping takes the driver union-find below this many
        # similarity edges (its default), the distributed loop above
        threshold = kw.get("driver_threshold", 200_000)
        m["components.driver_path"] = float(
            m["linking.sim_edges"] <= threshold)


def _traced_queries(run, tracer, m) -> None:
    from llm_knowledge_graph_spark.operators.materialize import read_graph
    from llm_knowledge_graph_spark.plans import queries as Q
    nodes, edges = read_graph(run.spark, str(run.wl.out_dir))
    oracle = QueryOracle(*run.expected)
    seq = query_sequence(oracle, TRACED_QUERIES, run.seed)
    lat: dict = {}
    for q in seq:
        t0 = now()
        with tracer.span(f"query.{q[0]}"):
            got = run_query(nodes, edges, q)
        lat.setdefault(q[0], []).append((now() - t0) * 1000.0)
        run._check(f"query:{q[0]}", got == oracle.answer(q))
    key = {"neighborhood": "queries.neighborhood_ms",
           "find_by_name_contains": "queries.find_by_name_ms",
           "multi_hop": "queries.multi_hop_ms",
           "degree_topk": "queries.degree_topk_ms"}
    for kind, vals in lat.items():
        m[key[kind]] = statistics.median(vals)
    probe = Q.neighborhood(edges, seq[0][1])
    probe.collect()
    m["queries.files_read_per_lookup"] = scanned_files(probe)
