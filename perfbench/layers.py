"""Traced-run wiring: which engine calls get spans, and the per-layer
metrics computed from them.

Layers are named after the engine's modules. Timings are medians per
call over the timed loop unless the name says otherwise; ``*_self_s``
is a call's time outside its nested traced calls (the union of their
intervals, since store writes overlap on threads). ``*_jobs`` and the
Spark figures count what a call launched, nested calls included. A
metric of a layer the workload does not touch reads 0.
"""

from __future__ import annotations

import os
import statistics

from spans import Tracer, union_length

# (module path, class, methods or (method, span suffix), span prefix)
WRAPPED = [
    ("plans.view", "MapReduceView",
     ["execute", "delete_docs", "query_local", "compact_map", "compact_index"], "view"),
    ("plans.join_view", "JoinView", ["upsert_facts", "upsert_dims"], "join_view"),
    ("plans.store", "ManifestTable",
     ["write_data", "commit", "read", "merge", "append_materializing", "compact"], "store"),
    ("plans.ann_index", "IvfIndex", ["build", "upsert", "search"], "ann"),
    ("plans.text_index", "InvertedIndex", ["build", "upsert", ("bm25", "search")], "bm25"),
    ("plans.neardup_index", "NearDupIndex", ["build", "append", "probe"], "neardup"),
]

# top-level calls whose Spark jobs and stages are reported per call
SPARK_SPANS = [
    "view.execute", "view.delete_docs", "join_view.upsert_facts",
    "ann.search", "ann.upsert", "bm25.search", "bm25.upsert", "neardup.probe", "neardup.append",
]
SPARK_FIELDS = [("stages", "count"), ("tasks", "count"), ("executor_cpu_s", "s"),
                ("shuffle_bytes", "B")]

# which end-to-end metric, on which workload, each layer should move
MOVES = {
    "session.": "setup_s on both workloads",
    "view.": "apply_p50_s and apply_docs_per_s (execute, delete_docs), read_p50_ms "
             "(query_local) on view_trickle; 0 on serve_mixed",
    "join_view.": "apply_p50_s on view_trickle; 0 on serve_mixed",
    "store.": "apply_docs_per_s and store_bytes_per_doc on both; read_p50_ms on "
              "view_trickle (query_local opens every file of a span)",
    "ann.": "read_p50_ms (search) and apply_p50_s (upsert) on serve_mixed; 0 on view_trickle",
    "bm25.": "read_p50_ms (search) and apply_p50_s (upsert) on serve_mixed; 0 on view_trickle",
    "neardup.": "read_p50_ms (probe) and apply_p50_s (append) on serve_mixed; 0 on view_trickle",
    "functions.": "read_p50_ms and apply_p50_s on serve_mixed (shingle/minhash and "
                  "assignment kernels); 0 on view_trickle",
    "spark.busy_frac": "low marks a dispatch-bound path (apply_p50_s on view_trickle)",
    "trace.": "none: health of the trace itself",
    "traced.": "none: the traced run's end-to-end values; minus the untraced run's "
               "values of the same seed they give the tracing overhead (compare.py)",
}


def _write_post(span, table, args, kwargs, mapping):
    import pyarrow.parquet as pq

    paths = [os.path.join(table.path, f) for fs in (mapping or {}).values() for f in fs]
    span.attrs["files"] = len(paths)
    span.attrs["bytes"] = sum(os.path.getsize(p) for p in paths)
    span.attrs["rows"] = sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


def _commit_post(span, table, args, kwargs, result):
    spans = set(kwargs.get("drop") or ())
    for key in ("replace", "append", "replace_all"):
        spans |= set(kwargs.get(key) or {})
    span.attrs["table"] = os.path.basename(table.path)
    span.attrs["spans"] = len(spans)


POSTS = {"write_data": _write_post, "commit": _commit_post}


def install(spark) -> Tracer:
    import importlib

    tracer = Tracer(spark)
    for mod, cls_name, methods, prefix in WRAPPED:
        cls = getattr(importlib.import_module(
            f"updatable_persistent_map_reduce_spark.{mod}"), cls_name)
        for m in methods:
            m, suffix = m if isinstance(m, tuple) else (m, m)
            tracer.wrap(cls, m, f"{prefix}.{suffix}", POSTS.get(m) if prefix == "store" else None)
    # Python UDF time, profiled per UDF; traced run only
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    return tracer


def udf_seconds(spark) -> float:
    results = spark._profiler_collector._perf_profile_results
    return sum(st.total_tt for st in results.values())


def per_layer(tracer: Tracer, res: dict, session: dict, e2e: dict, cores: int) -> dict:
    """Every per-layer metric, as {name: (value, unit)}."""
    sp, kids = tracer.spans, tracer.children()
    loop_ticks = {t for t, _, _ in res["tick_spans"]}
    n_ticks = max(1, len(loop_ticks))

    def calls(name):
        return tracer.named(name, loop_ticks)

    def dur(i):
        return sp[i].end - sp[i].start

    def med(vals):
        return statistics.median(vals) if vals else 0.0

    def med_s(name):
        return med([dur(i) for i in calls(name)])

    def med_jobs(names):
        return med([len(tracer.inclusive_jobs(i, kids)) for n in names for i in calls(n)])

    def per_tick(name):
        return sum(dur(i) for i in calls(name)) / n_ticks

    m: dict = {
        "session.start_s": (session["start_s"], "s"),
        "session.warm_s": (session["warm_s"], "s"),
        "view.execute_s": (med_s("view.execute"), "s"),
        "view.execute_jobs": (med_jobs(["view.execute"]), "count"),
        "view.execute_self_s": (med([tracer.self_time(i, kids) for i in calls("view.execute")]),
                                "s"),
        "view.delete_docs_s": (med_s("view.delete_docs"), "s"),
        "view.query_local_ms": (1e3 * med_s("view.query_local"), "ms"),
        "view.compact_s": (per_tick("view.compact_map") + per_tick("view.compact_index"), "s"),
    }
    # share of the view's key spans whose finals an execute rewrote
    fracs = []
    for i in calls("view.execute"):
        todo, n = list(kids.get(i, [])), 0
        while todo:
            k = todo.pop()
            todo.extend(kids.get(k, []))
            if sp[k].name == "store.commit" and sp[k].attrs.get("table") == "final_results":
                n += sp[k].attrs["spans"]
        fracs.append(n / res.get("n_key_spans", 1))
    m["view.dirty_kspan_frac"] = (med(fracs), "frac")
    m["join_view.upsert_facts_s"] = (med_s("join_view.upsert_facts"), "s")
    m["join_view.upsert_facts_self_s"] = (
        med([tracer.self_time(i, kids) for i in calls("join_view.upsert_facts")]), "s")
    m["join_view.call_jobs"] = (med_jobs(["join_view.upsert_facts"]), "count")

    docs = res["docs"]
    m["store.write_data_s"] = (per_tick("store.write_data"), "s")
    m["store.commit_s"] = (per_tick("store.commit"), "s")
    m["store.read_s"] = (per_tick("store.read"), "s")
    m["store.write_data_calls"] = (len(calls("store.write_data")) / n_ticks, "count")
    m["store.commit_calls"] = (len(calls("store.commit")) / n_ticks, "count")
    written = sum(sp[i].attrs["bytes"] for i in calls("store.write_data"))
    rows = sum(sp[i].attrs["rows"] for i in calls("store.write_data"))
    m["store.bytes_written_per_doc"] = (written / docs if docs else 0.0, "B/doc")
    m["store.rows_written_per_doc"] = (rows / docs if docs else 0.0, "rows/doc")
    live = res["live"]
    m["store.files_live"] = (live["files"], "count")
    m["store.files_per_span"] = (live["files"] / live["spans"] if live["spans"] else 0.0, "count")

    m["ann.search_s"] = (med_s("ann.search"), "s")
    m["ann.search_jobs"] = (med_jobs(["ann.search"]), "count")
    m["ann.cells_probed"] = (med(res.get("cells_probed", [])), "count")
    m["ann.recall_at_10"] = (statistics.mean(res["recalls"]) if res.get("recalls") else 0.0,
                             "frac")
    m["ann.upsert_s"] = (med_s("ann.upsert"), "s")
    m["bm25.search_s"] = (med_s("bm25.search"), "s")
    m["bm25.search_jobs"] = (med_jobs(["bm25.search"]), "count")
    m["bm25.upsert_s"] = (med_s("bm25.upsert"), "s")
    m["bm25.postings_files"] = (
        sum(t["files"] for k, t in live["tables"].items() if k.endswith("postings")), "count")
    m["neardup.probe_s"] = (med_s("neardup.probe"), "s")
    m["neardup.probe_jobs"] = (med_jobs(["neardup.probe"]), "count")
    m["neardup.band_spans_read_frac"] = (med(res.get("spans_read", [])), "frac")
    m["neardup.append_s"] = (med_s("neardup.append"), "s")
    m["functions.udf_s"] = (res.get("udf_s", 0.0) / n_ticks, "s")

    for name in SPARK_SPANS:
        per_call = [tracer.spark_of(tracer.inclusive_jobs(i, kids)) for i in calls(name)]
        for field, unit in SPARK_FIELDS:
            vals = [c[field] for c in per_call]
            m[f"{name}_{field}"] = (statistics.mean(vals) if vals else 0.0, unit)

    w0 = min(a for _, a, _ in res["tick_spans"])
    w1 = max(b for _, _, b in res["tick_spans"])
    loop_jobs = [j for j in tracer.jobs.values() if w0 <= j.submitted <= w1]
    run_s = tracer.spark_of([j.job_id for j in loop_jobs])["run_s"]
    m["spark.busy_frac"] = (run_s / ((w1 - w0) * cores), "frac")

    # top-level spans' share of each tick's wall time (lookups excluded)
    cover = []
    for t, a, b in res["tick_spans"]:
        iv = [(max(a, s.start), min(b, s.end)) for s in sp
              if s.tick == t and s.depth == 0 and s.end is not None
              and s.name != "view.query_local" and s.end > a and s.start < b]
        cover.append(union_length(iv) / (b - a))
    m["trace.tick_coverage"] = (min(cover), "frac")
    m["trace.jobs_per_tick"] = (len(loop_jobs) / n_ticks, "count")
    m["trace.ambiguous_jobs"] = (tracer.ambiguous_jobs, "count")
    for name, (value, unit, _) in e2e.items():
        m[f"traced.{name}"] = (value, unit)
    return m
