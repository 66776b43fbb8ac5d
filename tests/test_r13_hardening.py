"""Hardening pins: merge(touched=) exactness enforcement, the
weakly-keyed table-plan and view caches, and maintenance/serving paths
that leave the session conf alone."""

from __future__ import annotations

import gc
import os
import tempfile
import weakref

import pytest
from pyspark.sql import functions as F

from updatable_persistent_map_reduce_spark.plans.store import ManifestTable
from updatable_persistent_map_reduce_spark.sources import tables as tables_mod


def _table_with_base(spark):
    base = tempfile.mkdtemp(prefix="upmr_touched_")
    t = ManifestTable(os.path.join(base, "t"), "span")
    df = spark.range(80).select(
        F.pmod("id", F.lit(8)).cast("int").alias("span"),
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
    )
    t.commit(replace=t.write_data(df))
    return t


def _src(spark, spans):
    return spark.range(80).select(
        F.pmod("id", F.lit(8)).cast("int").alias("span"),
        F.col("id").alias("k"),
        (F.col("id") * 100).alias("v"),
    ).filter(F.col("span").isin(spans))


def test_merge_touched_exact_hint_ok(spark):
    t = _table_with_base(spark)
    stats = t.merge(_src(spark, [0, 1]), on=["k"], touched=[0, 1])
    assert stats["spans_touched"] == 2
    # untouched span keeps its original values
    rows = {
        r.k: r.v for r in t.read(spark).filter(F.col("span") == 2).collect()
    }
    assert all(v % 100 != 0 or v == 0 or v % 10 == 0 for v in rows.values())


def test_merge_touched_superset_raises_before_commit(spark):
    t = _table_with_base(spark)
    v_before = t.version
    spans_before = t.spans()
    # span 3 has committed rows the superset hint would silently drop
    with pytest.raises(ValueError, match="actual distinct span set"):
        t.merge(_src(spark, [0, 1]), on=["k"], touched=[0, 1, 3])
    # nothing committed: version and membership unchanged, span 3 intact
    assert t.version == v_before
    assert t.spans() == spans_before


def test_merge_touched_subset_raises(spark):
    t = _table_with_base(spark)
    with pytest.raises(ValueError):
        t.merge(_src(spark, [0, 1]), on=["k"], touched=[0])


def test_plan_cache_weakly_keyed(spark):
    df1 = tables_mod.load_table(spark, "/root/testdata/sf0.001", "region")
    df2 = tables_mod.load_table(spark, "/root/testdata/sf0.001", "region")
    assert df1 is df2, "same session must hit the cached plan"
    assert isinstance(tables_mod._PLAN_CACHE, weakref.WeakKeyDictionary)

    # a collected key's entries vanish with it (no dead-session reuse
    # or unbounded growth — r12 advice item 1)
    class FakeSession:
        pass

    fake = FakeSession()
    tables_mod._PLAN_CACHE[fake] = {("x", "y"): df1}
    ref = weakref.ref(fake)
    del fake
    gc.collect()
    assert ref() is None
    assert all(
        not isinstance(k, FakeSession) for k in tables_mod._PLAN_CACHE.keys()
    )


def test_view_caches_weakly_keyed(spark):
    """The built-view caches of the engine-backed queries are keyed on
    the live session object, not id(spark): a collected key's entries
    vanish with it, and another session never sees them."""
    from updatable_persistent_map_reduce_spark.operators import (
        incremental as inc,
    )

    for cache in (inc._VIEW_CACHE, inc._TT_CACHE):
        assert isinstance(cache, weakref.WeakKeyDictionary)

        class FakeSession:
            pass

        fake = FakeSession()
        cache[fake] = {("x", 3): object()}
        ref = weakref.ref(fake)
        del fake
        gc.collect()
        assert ref() is None
        assert all(not isinstance(k, FakeSession) for k in cache.keys())

        cache.setdefault(spark, {})["probe-key"] = "sentinel"
        try:
            assert spark.newSession() not in cache
        finally:
            del cache[spark]["probe-key"]


def test_maintenance_and_serving_leave_session_conf_alone(
    spark, tmp_path, monkeypatch
):
    """View, join-view and index maintenance plus index serving run
    under the session's own conf: none of them calls spark.conf.set."""
    import numpy as np

    from updatable_persistent_map_reduce_spark.plans.ann_index import IvfIndex
    from updatable_persistent_map_reduce_spark.plans.join_view import JoinView
    from updatable_persistent_map_reduce_spark.plans.neardup_index import (
        NearDupIndex,
    )
    from updatable_persistent_map_reduce_spark.plans.text_index import (
        InvertedIndex,
    )
    from updatable_persistent_map_reduce_spark.plans.view import MapReduceView

    calls: list[tuple] = []
    conf_cls = type(spark.conf)
    orig_set = conf_cls.set

    def spy(self, key, value):
        calls.append((key, value))
        return orig_set(self, key, value)

    monkeypatch.setattr(conf_cls, "set", spy)

    view = MapReduceView(
        spark,
        str(tmp_path / "view"),
        id_col="id",
        group_cols=["state"],
        agg_exprs=[F.count(F.lit(1)).alias("cnt")],
        n_key_spans=4,
        n_doc_spans=4,
    )
    people = "id string, state string"
    view.execute(
        spark.createDataFrame([(f"p{i}", "CA") for i in range(20)], people)
    )
    view.execute(spark.createDataFrame([("p1", "TX"), ("p99", "NY")], people))
    view.delete_docs(["p2"])
    assert {r.state: r.cnt for r in view.final_df().collect()} == {
        "CA": 18,
        "TX": 1,
        "NY": 1,
    }

    jv = JoinView(
        spark,
        str(tmp_path / "jv"),
        fact_id="okey",
        join_col="ckey",
        dim_id="ckey",
        group_cols=["segment"],
        agg_exprs=[F.count(F.lit(1)).cast("bigint").alias("n")],
        rereduce_exprs=[F.sum("n").cast("bigint").alias("n")],
        n_spans=4,
    )
    jv.upsert_dims(
        spark.createDataFrame([(1, "a"), (2, "b")], "ckey bigint, segment string")
    )
    jv.upsert_facts(
        spark.createDataFrame(
            [(i, 1 + i % 2) for i in range(10)], "okey bigint, ckey bigint"
        )
    )
    assert {r.segment: r.n for r in jv.final_df().collect()} == {"a": 5, "b": 5}

    rng = np.random.RandomState(3)
    vecs = rng.randn(40, 8)
    vec_schema = "vec_id long, embedding array<float>"
    ivf = IvfIndex(spark, str(tmp_path / "ivf"), n_cells=4)
    ivf.build(
        spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(32)], vec_schema
        ),
        kmeans_iters=1,
    )
    ivf.upsert(
        spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(32, 40)],
            vec_schema,
        )
    )
    hits = ivf.search([(100, [float(x) for x in vecs[0]])], k=3).collect()
    assert hits[0].vec_id == 0

    text = "doc_id long, text string"
    words = ["alpha beta gamma delta", "beta gamma epsilon", "zeta eta theta"]
    docs = spark.createDataFrame(
        [(i, f"{words[i % 3]} w{i} x{i} y{i}") for i in range(12)], text
    )
    inv = InvertedIndex(spark, str(tmp_path / "bm25"), n_spans=4, n_doc_spans=4)
    inv.build(docs)
    inv.upsert(spark.createDataFrame([(1, "alpha alpha beta")], text))
    assert inv.bm25(["alpha", "beta"], k=5).collect()

    nd = NearDupIndex(
        spark, str(tmp_path / "nd"), n_perm=16, n_bands=16, n_spans=8
    )
    nd.build(docs)
    nd.append(
        spark.createDataFrame(
            [(100, "the quick brown fox jumps over the lazy dog today")], text
        )
    )
    pairs = nd.probe(
        spark.createDataFrame(
            [(200, "the quick brown fox jumps over the lazy dog today")], text
        )
    ).collect()
    assert [(r.doc_a, r.doc_b) for r in pairs] == [(200, 100)]

    assert calls == []
