"""The benchmark's workloads: one client, one process, a closed loop on
Spark ``local[nproc]``; no threads of the benchmark's own.

Each workload builds its structures (set-up), then runs timed ticks
in whole cycles until at least ``seconds`` have passed, then checks
the final state against its model. A cycle holds one tick of each kind
the workload has, so every run sees the same mix whatever its speed.
A tick that consists of several calls counts as one operation.

No tick is discarded as warm-up: the first ticks after the builds run
slower than steady state (first plans of each shape), but a warm-up
tick does not fit the benchmark's time budget per run (about a
minute on 4 cores, most of it session start and builds). Every run
starts its loop at the same point, so the cold share is the same in
every run.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pandas as pd

import checks
import gen
from layers import udf_seconds


def pct(values, q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(np.ceil(q * len(s))) - 1))]


def live_store(root: str) -> dict:
    """Files, spans and bytes named by the current manifests of every
    store table under ``root``."""
    from updatable_persistent_map_reduce_spark.plans.store import ManifestTable

    out = {"files": 0, "spans": 0, "bytes": 0, "tables": {}}
    for d, _, files in os.walk(root):
        if "manifest.json" in files:
            st = ManifestTable(d, "span").stats()
            out["tables"][os.path.relpath(d, root)] = st
            for key in ("files", "spans", "bytes"):
                out[key] += st[key]
    return out


class Run:
    """Bookkeeping shared by the workloads: operations attempted and
    failed, and the problems found."""

    def __init__(self, spark, tmp: str, seconds: float, ticks: int | None, tracer):
        self.spark = spark
        self.tmp = tmp
        self.seconds = seconds
        self.ticks = ticks
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.udf_base = 0.0
        self.setup_steps: dict[str, float] = {}
        self._mark = time.perf_counter()

    def step(self, name: str) -> None:
        """Record the time since the previous step as set-up step ``name``."""
        now = time.perf_counter()
        self.setup_steps[name] = now - self._mark
        self._mark = now

    def op(self, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems[:1])

    def more(self, t0: float, done: int, cycle: int) -> bool:
        """Whether the loop runs another tick: until ``seconds`` have
        passed, in whole cycles of ``cycle`` ticks."""
        if self.ticks is not None:
            return done < self.ticks
        return time.perf_counter() - t0 < self.seconds or done % cycle != 0

    def set_tick(self, tick) -> None:
        if self.tracer is not None:
            if tick == 0:
                self.udf_base = udf_seconds(self.spark)
            self.tracer.collect_jobs()
            self.tracer.tick = tick


# ----- view_trickle ---------------------------------------------------------

VIEW_SPECS = {
    "full": gen.ViewSpec(),
    "tiny": gen.ViewSpec(n_docs=400, n_groups=20, n_segments=4, lookups_per_gap=50),
}


def view_trickle(run: Run, size: str, seed: int) -> dict:
    from pyspark.sql import functions as F

    from updatable_persistent_map_reduce_spark.plans.join_view import JoinView
    from updatable_persistent_map_reduce_spark.plans.view import MapReduceView

    spark, spec = run.spark, VIEW_SPECS[size]
    stream = gen.ViewStream(spec, seed)
    model = checks.ViewModel(stream.initial, stream.dims)
    root = os.path.join(run.tmp, "view_trickle")
    view = MapReduceView(
        spark, os.path.join(root, "view"),
        id_col="doc_id",
        map_fn=lambda df: df.withColumn("cnt", F.lit(1).cast("long")),
        group_cols=["g"],
        agg_exprs=[F.sum("cnt").alias("cnt"), F.sum("v").alias("v")],
        n_key_spans=8, n_doc_spans=8, n_sub_buckets=2,
    )
    jv = JoinView(
        spark, os.path.join(root, "join"),
        fact_id="doc_id", join_col="g", dim_id="g", group_cols=["seg"],
        agg_exprs=[F.count(F.lit(1)).cast("bigint").alias("n"),
                   F.sum("v").cast("bigint").alias("sv")],
        rereduce_exprs=[F.sum("n").cast("bigint").alias("n"),
                        F.sum("sv").cast("bigint").alias("sv")],
        n_spans=4,
    )
    schema = "doc_id long, g long, v long"

    def frame(rows):
        return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "g", "v"]), schema)

    run.step("generate")
    view.execute(frame(stream.initial))
    run.step("view_build")
    jv.upsert_dims(spark.createDataFrame(pd.DataFrame(stream.dims, columns=["g", "seg"]),
                                         "g long, seg string"))
    jv.upsert_facts(frame(stream.initial))
    run.step("join_build")

    def tick(batch):
        df = frame(batch.rows)
        dels = (spark.createDataFrame(pd.DataFrame({"doc_id": batch.deletes}), "doc_id long")
                if batch.deletes else None)
        w, t = time.time(), time.perf_counter()
        view.execute(df)
        if dels is not None:
            view.delete_docs(dels)
        jv.upsert_facts(df)
        dt = time.perf_counter() - t
        model.apply(batch.rows, batch.deletes)
        return dt, (w, w + dt)

    setup_end = time.perf_counter()

    apply_s, docs, lookup_s, tick_spans = [], 0, [], []
    t0, i = time.perf_counter(), 0
    while run.more(t0, i, spec.delete_every):
        run.set_tick(i)
        for g in stream.lookup_keys(spec.lookups_per_gap):
            t = time.perf_counter()
            got = view.query_local(g)
            lookup_s.append(time.perf_counter() - t)
            run.op(model.check_lookup(g, got))
        batch = stream.next_batch()
        try:
            dt, wall = tick(batch)
        except Exception as e:  # noqa: BLE001 — a failed tick is a counted, reported failure
            run.op([f"tick {i}: {type(e).__name__}: {e}"])
            break
        run.op([])
        apply_s.append(dt)
        tick_spans.append((i, *wall))
        docs += len(batch.rows) + len(batch.deletes)
        i += 1
    loop_s = time.perf_counter() - t0
    run.set_tick(None)

    run.op(model.check_finals(view.final_df().collect()))
    run.op(model.check_join(jv.final_df().collect()))
    live = live_store(root)
    e2e = {
        "apply_p50_s": (statistics.median(apply_s), "s", len(apply_s)),
        "apply_docs_per_s": (docs / sum(apply_s), "docs/s", len(apply_s)),
        "read_p50_ms": (1e3 * statistics.median(lookup_s), "ms", len(lookup_s)),
        "store_bytes_per_doc": (live["bytes"] / len(model.docs), "B/doc", 1),
    }
    detail = {
        "lookup_p50_ms": 1e3 * statistics.median(lookup_s),
        "lookup_p99_ms": 1e3 * pct(lookup_s, 0.99),
        "lookups": len(lookup_s),
        "ticks": len(apply_s),
        "apply_s": apply_s,
        "live_docs": len(model.docs),
        "loop_s": loop_s,
        "store": live["tables"],
    }
    return {"e2e": e2e, "detail": detail, "setup_end": setup_end, "tick_spans": tick_spans,
            "docs": docs, "live": live, "n_key_spans": view.n_key_spans}


# ----- serve_mixed ----------------------------------------------------------

SERVE_SPECS = {
    "full": gen.ServeSpec(),
    "tiny": gen.ServeSpec(n_docs=300, vocab=500, ingest_docs=5, ann_batch=4, probe_docs=4),
}
N_CELLS, NPROBE, TOPK = 16, 4, 10


def serve_mixed(run: Run, size: str, seed: int) -> dict:
    from updatable_persistent_map_reduce_spark.plans.ann_index import IvfIndex
    from updatable_persistent_map_reduce_spark.plans.neardup_index import NearDupIndex
    from updatable_persistent_map_reduce_spark.plans.text_index import InvertedIndex

    spark, spec = run.spark, SERVE_SPECS[size]
    stream = gen.ServeStream(spec, seed)
    text = checks.TextModel()
    root = os.path.join(run.tmp, "serve_mixed")
    ivf = IvfIndex(spark, os.path.join(root, "ivf"), n_cells=N_CELLS)
    inv = InvertedIndex(spark, os.path.join(root, "bm25"), n_spans=8, n_doc_spans=4)
    nd = NearDupIndex(spark, os.path.join(root, "neardup"), n_spans=8, n_doc_spans=4)

    def frames(ids):
        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": ids, "text": [stream.texts[d] for d in ids]}),
            "doc_id long, text string")
        vecs = spark.createDataFrame(
            pd.DataFrame({"vec_id": ids, "embedding": [stream.vecs[d].tolist() for d in ids]}),
            "vec_id long, embedding array<float>")
        return docs, vecs

    live = sorted(stream.texts)
    docs_df, vecs_df = frames(live)
    run.step("generate")
    ivf.build(vecs_df, kmeans_iters=1)
    run.step("ann_build")
    inv.build(docs_df)
    run.step("bm25_build")
    nd.build(docs_df)
    run.step("neardup_build")
    for d in live:
        text.add(d, stream.texts[d])

    def matrix():
        return np.stack([stream.vecs[d] for d in live]).astype(np.float64), np.array(live)

    mat, ids = matrix()
    recalls, cells_probed, spans_read = [], [], []

    def query_tick():
        queries = stream.ann_queries(live)
        terms = stream.bm25_terms()
        pbatch, planted = stream.probe_batch(live)
        pdf = spark.createDataFrame(pd.DataFrame(pbatch, columns=["doc_id", "text"]),
                                    "doc_id long, text string")
        qlist = [(q, v.tolist()) for q, v in queries]
        w, t = time.time(), time.perf_counter()
        ann = ivf.search(qlist, k=TOPK, nprobe=NPROBE).collect()
        t_ann = time.perf_counter()
        bm = inv.bm25(terms, k=TOPK).collect()
        t_bm = time.perf_counter()
        pr = nd.probe(pdf).collect()
        t_pr = time.perf_counter()
        probs = text.check_bm25(terms, [r.asDict() for r in bm], TOPK)
        probs += text.check_probe(pbatch, planted, [r.asDict() for r in pr])
        ann_rows = [r.asDict() for r in ann]
        recalls.append(checks.recall_at_k(ann_rows, queries, mat, ids, TOPK))
        cents = ivf.centroids()
        qm = np.stack([v / np.linalg.norm(v) for _, v in queries])
        cells_probed.append(len(np.unique(np.argsort(-(qm @ cents.T), axis=1)[:, :NPROBE])))
        lp = nd.last_probe or {}
        if lp.get("band_spans_total"):
            spans_read.append(lp["band_spans_read"] / lp["band_spans_total"])
        return (t_pr - t, t_ann - t, t_bm - t_ann, t_pr - t_bm), probs, queries, (w, w + t_pr - t)

    def ingest_tick():
        nonlocal mat, ids
        new = stream.ingest_batch()
        ddf, vdf = frames(new)
        w, t = time.time(), time.perf_counter()
        ivf.upsert(vdf)
        inv.upsert(ddf)
        nd.append(ddf)
        dt = time.perf_counter() - t
        live.extend(new)
        for d in new:
            text.add(d, stream.texts[d])
        mat, ids = matrix()
        return dt, len(new), (w, w + dt)

    setup_end = time.perf_counter()

    q_s, ann_s, bm_s, pr_s, apply_s, docs, tick_spans = [], [], [], [], [], 0, []
    last_queries = None
    t0, i = time.perf_counter(), 0
    per_cycle = spec.query_ticks_per_ingest + 1
    while run.more(t0, i, per_cycle):
        run.set_tick(i)
        try:
            if i % per_cycle < spec.query_ticks_per_ingest:
                (tq, ta, tb, tp), probs, last_queries, wall = query_tick()
                q_s.append(tq), ann_s.append(ta), bm_s.append(tb), pr_s.append(tp)
                run.op(probs)
            else:
                dt, n, wall = ingest_tick()
                apply_s.append(dt)
                docs += n
                run.op([])
        except Exception as e:  # noqa: BLE001 — a failed tick is a counted, reported failure
            run.op([f"tick {i}: {type(e).__name__}: {e}"])
            break
        tick_spans.append((i, *wall))
        i += 1
    loop_s = time.perf_counter() - t0
    run.set_tick(None)

    # exact search on a sampled call, outside the timed loop
    if last_queries is not None:
        exact = ivf.search([(q, v.tolist()) for q, v in last_queries], k=TOPK,
                           nprobe=N_CELLS).collect()
        run.op(checks.check_ann_exact([r.asDict() for r in exact], last_queries, mat, ids, TOPK))
    st = live_store(root)
    e2e = {
        "apply_p50_s": (statistics.median(apply_s), "s", len(apply_s)),
        "apply_docs_per_s": (docs / sum(apply_s), "docs/s", len(apply_s)),
        "read_p50_ms": (1e3 * statistics.median(q_s), "ms", len(q_s)),
        "store_bytes_per_doc": (st["bytes"] / len(live), "B/doc", 1),
    }
    detail = {
        "ann_search_p50_s": statistics.median(ann_s) if ann_s else None,
        "bm25_search_p50_s": statistics.median(bm_s) if bm_s else None,
        "neardup_probe_p50_s": statistics.median(pr_s) if pr_s else None,
        "query_ticks": len(q_s),
        "ingest_ticks": len(apply_s),
        "apply_s": apply_s,
        "query_s": q_s,
        "recall_at_10": statistics.mean(recalls) if recalls else None,
        "live_docs": len(live),
        "loop_s": loop_s,
        "store": st["tables"],
    }
    return {"e2e": e2e, "detail": detail, "setup_end": setup_end, "tick_spans": tick_spans,
            "docs": docs, "live": st, "recalls": recalls, "cells_probed": cells_probed,
            "spans_read": spans_read}


WORKLOADS = {"view_trickle": view_trickle, "serve_mixed": serve_mixed}
