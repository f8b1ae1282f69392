"""Structural persist-leak gate (r10, VERDICT r9 ask #7).

r9 fixed the lingering dup-span persists by hand (`corpus._LINGERING`);
this gate makes the CLASS structural: every registered query is run and
materialized, the DOCUMENTED session caches are released (the dup-span
one-slot lingering window and the `_persisted_memo` index frames —
shingles / MinHash signatures / BM25 + tf-idf postings / PQ codes / IVF
assignment), and the block manager must then hold NO persistent RDD
that was not already registered before the query ran. A reintroduced
leak — a `persist()` whose frame neither unpersists in-scope nor
registers with a documented release path — fails here by name, for any
FUTURE registry addition too.
"""

from __future__ import annotations

import pytest

from project_graphdb_spark import workload
from project_graphdb_spark.spark_util import materialize, persistent_rdd_ids

workload._ensure_loaded()


def _release_documented_caches() -> None:
    from project_graphdb_spark.operators.corpus import _release_lingering
    from project_graphdb_spark.operators.dedup import clear_shingle_cache

    _release_lingering()
    clear_shingle_cache()


def test_no_query_leaks_persistent_rdds(spark, sf_dir):
    """Run EVERY registered query; after releasing the documented
    caches, the persistent-RDD set must return to (a subset of) its
    pre-query state."""
    sc = spark.sparkContext
    # other tests share this session — start from a clean slate so a
    # foreign block can't mask or fake a leak
    _release_documented_caches()
    leaks: dict[str, set[int]] = {}
    for name, qd in workload.REGISTRY.items():
        before = persistent_rdd_ids(sc)
        materialize(qd.fn(spark, sf_dir))
        _release_documented_caches()
        leaked = persistent_rdd_ids(sc) - before
        if leaked:
            leaks[name] = leaked
            # free them so one leaker can't cascade into later names
            from project_graphdb_spark.spark_util import unpersist_ids

            unpersist_ids(sc, leaked, blocking=True)
    assert not leaks, f"queries leaked persistent RDDs: {leaks}"
    # r12: the registry-wide run also exercises every galg query's
    # bucketed adjacency — after the explicit release hook the
    # warehouse must hold no pregel_edges_* table (cache-owned tables
    # are NOT leaks while cached; unreleased ones would be)
    from project_graphdb_spark.graph.algorithms import (
        release_edge_layouts,
    )

    release_edge_layouts(spark)
    leftover = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("pregel_edges_")
    ]
    assert not leftover, f"unreleased bucketed edge tables: {leftover}"


def test_injected_superstep_failure_leaves_clean_state(
    spark, sf_dir, monkeypatch
):
    """r12 (VERDICT r11 ask #3): a superstep that throws mid-loop must
    not strand checkpoint blocks, and the bucketed edge table written
    before the failure stays CACHE-owned — the release hook leaves a
    clean warehouse. On a real cluster the old success-path-only
    cleanup leaked corpus-scale parquet nobody owned."""
    import pytest
    from pyspark.sql import functions as F

    from project_graphdb_spark.graph import algorithms as alg

    alg.release_edge_layouts(spark)
    sc = spark.sparkContext
    verts = spark.createDataFrame([("a",), ("b",), ("c",)], "id string")
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    before = persistent_rdd_ids(sc)
    calls = {"n": 0}
    real = alg.aggregate_messages

    def boom(*a, **k):
        calls["n"] += 1
        if calls["n"] >= 2:
            raise RuntimeError("injected superstep failure")
        return real(*a, **k)

    monkeypatch.setattr(alg, "aggregate_messages", boom)
    with pytest.raises(RuntimeError, match="injected"):
        alg.pregel(
            verts,
            edges,
            initial={"x": F.col("id")},
            message=F.col("v_x"),
            agg=F.min("__msg"),
            update={"x": F.coalesce(F.col("__agg"), F.col("x"))},
            max_iter=5,
            telemetry_name="injected_failure",
        )
    # every superstep checkpoint the loop made was freed on the way out
    assert persistent_rdd_ids(sc) - before == set()
    # the adjacency table survives the failure as a CACHED layout
    # (reusable by a retry), and the explicit release drops it
    alg.release_edge_layouts(spark)
    leftover = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("pregel_edges_")
    ]
    assert not leftover, leftover


def _path_edges(spark):
    return spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )


def _tpch(spark, sf_dir):
    from project_graphdb_spark.graph.builder import tpch_graph

    return tpch_graph(spark, sf_dir)


def _k_core_case(spark, sf_dir):
    from project_graphdb_spark.graph.algorithms import k_core

    # the path a-b-c-d at k=2 peels {a, d}, then {b, c}
    edges = _path_edges(spark)
    return lambda: k_core(k=2, edges=edges)


def _bfs_case(spark, sf_dir):
    from project_graphdb_spark.graph.algorithms import bfs_distances

    g = _tpch(spark, sf_dir)
    return lambda: bfs_distances(g, "Customer:1", max_depth=3)


def _msh_case(spark, sf_dir):
    from project_graphdb_spark.graph.algorithms import multi_source_hops

    edges = _path_edges(spark)
    sources = spark.createDataFrame([("a",)], "root string")
    return lambda: multi_source_hops(edges, sources, 3)


def _pagerank_case(spark, sf_dir):
    from project_graphdb_spark.graph.algorithms import pagerank

    g = _tpch(spark, sf_dir)
    return lambda: pagerank(g, iterations=3)


def _label_propagation_case(spark, sf_dir):
    from project_graphdb_spark.graph.algorithms import label_propagation

    verts = spark.createDataFrame(
        [(v,) for v in "abcd"], "id string"
    )
    edges = _path_edges(spark)
    return lambda: label_propagation(
        vertices=verts, edges=edges, max_iter=3
    )


def _bpe_case(spark, sf_dir):
    from project_graphdb_spark.operators.corpus import bpe_train

    docs = spark.createDataFrame(
        [("low lower lowest",), ("low newest wider",)], "text string"
    )
    return lambda: bpe_train(docs, n_merges=3)


# name -> (input builder, 1-based number of the checkpoint call that
# writes the SECOND superstep's state; earlier calls are the edge
# layout (forced to the checkpoint tier below), the initial state and
# the first superstep)
_FAILURE_CASES = {
    "k_core": (_k_core_case, 4),  # canonical edges, degrees, round 1
    "bfs_distances": (_bfs_case, 4),  # edges, start, level 1
    "multi_source_hops": (_msh_case, 3),  # start, level 1
    "pagerank": (_pagerank_case, 4),  # edges, ranks, superstep 1
    "label_propagation": (_label_propagation_case, 4),
    "bpe_train": (_bpe_case, 3),  # vocab, merge round 1
}


@pytest.mark.parametrize("name", sorted(_FAILURE_CASES))
def test_injected_failure_in_second_superstep_frees_blocks(
    spark, sf_dir, monkeypatch, name
):
    """Every iterative loop frees every checkpoint block it holds —
    edge layout, static frames, superseded and current state, kept BFS
    levels — when its second superstep fails."""
    from project_graphdb_spark.graph import algorithms as alg

    build, nth = _FAILURE_CASES[name]
    monkeypatch.setattr(alg, "_EDGE_TIER_MIN_BYTES", 1 << 62)
    run = build(spark, sf_dir)
    sc = spark.sparkContext
    before = persistent_rdd_ids(sc)
    calls = {"n": 0}
    real = alg._ckpt

    def failing_ckpt(df):
        calls["n"] += 1
        if calls["n"] == nth:
            raise RuntimeError("injected superstep failure")
        return real(df)

    monkeypatch.setattr(alg, "_ckpt", failing_ckpt)
    with pytest.raises(RuntimeError, match="injected"):
        run()
    assert persistent_rdd_ids(sc) - before == set()


def test_convergence_job_failure_frees_fresh_checkpoint(
    spark, monkeypatch
):
    """r12 code-review fix: when the CONVERGENCE-count job dies after
    `_ckpt(updated)` succeeded but before the state swap, the freshly
    checkpointed blocks (new_ids) must be freed too — the first cut's
    except-path only freed the superseded state."""
    import pytest
    from pyspark.sql import functions as F

    from project_graphdb_spark.graph import algorithms as alg

    # pyspark 4: the classic DataFrame SUBCLASS defines collect, so
    # the base class is not the dispatch target
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # older pyspark: single class
        from pyspark.sql import DataFrame

    alg.release_edge_layouts(spark)
    sc = spark.sparkContext
    verts = spark.createDataFrame([("a",), ("b",), ("c",)], "id string")
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    before = persistent_rdd_ids(sc)
    real_collect = DataFrame.collect

    def boom(self):
        raise RuntimeError("injected convergence-job failure")

    monkeypatch.setattr(DataFrame, "collect", boom)
    try:
        with pytest.raises(RuntimeError, match="injected convergence"):
            alg.pregel(
                verts,
                edges,
                initial={"x": F.col("id")},
                message=F.col("v_x"),
                agg=F.min("__msg"),
                update={"x": F.coalesce(F.col("__agg"), F.col("x"))},
                max_iter=5,
                converge_on="x",
                telemetry_name="injected_convergence_failure",
            )
    finally:
        monkeypatch.setattr(DataFrame, "collect", real_collect)
    assert persistent_rdd_ids(sc) - before == set()
    alg.release_edge_layouts(spark)
