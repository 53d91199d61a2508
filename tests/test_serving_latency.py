"""Serving-latency harness (jobs/serving_latency.py, r4 VERDICT #5):
the three serving modes stay rank-identical, and the cold path stays
in the per-query-pruned-read latency class — a regression guard
against anything corpus-sized sneaking back into cold serving (the r1
VERDICT scale-killer class).  Wall-clock asserts are deliberately
generous: this VM has ±2-3× CPU-steal noise (BENCH.md §0)."""

from __future__ import annotations

import sys

import pytest

from lean_explore_spark.index.builder import IndexBuilder
from lean_explore_spark.query.search import SearchEngine
from tests.conftest import REPO, SF_SMOKE

sys.path.insert(0, str(REPO / "jobs"))


@pytest.fixture(scope="module")
def served_index(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("slat") / "idx"
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    IndexBuilder(spark, str(out), num_shards=4, num_buckets=8).build(
        docs, resume=False
    )
    return str(out)


def test_modes_rank_identical_and_cold_bounded(spark, served_index):
    from serving_latency import measure

    from bench import load_queries

    queries = load_queries()[:30]
    pre = SearchEngine(spark, served_index, preload=True)
    cold = SearchEngine(spark, served_index, preload=False)

    for q in queries[:10]:
        assert cold.search(q, 20) == pre.search(q, 20), q
        toks = pre.analyze_query(q)
        assert (
            pre.search_tokens_distributed_batch([toks], 20)[0]
            == pre.search(q, 20)
        ), q
        # r8 routed/fork paths serve the same ranks
        assert pre.search_tokens_routed(toks, 20) == pre.search(q, 20), q
        assert cold.search_tokens_routed(toks, 20) == pre.search(q, 20), q
    pre.close_pool()

    m_pre = measure(lambda q, k: pre.search(q, k), queries, 20, repeats=2)
    m_cold = measure(lambda q, k: cold.search(q, k), queries, 20, repeats=2)
    # preloaded serves from driver memory: single-digit ms typical,
    # 250 ms only under extreme steal
    assert m_pre["p50_ms"] < 250, m_pre
    # cold = a few pruned Spark reads per query (~0.2 s class); a
    # corpus preload, per-query rebuild, or unpruned scan regression
    # lands in seconds
    assert m_cold["p50_ms"] < 2500, m_cold


def test_percentile_helper():
    from serving_latency import percentiles

    p = percentiles([i / 1000 for i in range(1, 101)])
    assert p["p50_ms"] == 51.0
    assert p["p95_ms"] == 96.0


def test_hybrid_modes_rank_identical(spark, served_index):
    """r5 VERDICT #6 guard: the hybrid serving modes the latency
    harness measures must agree — spark-mode per-query vs the batched
    sweep bit-identical; driver mode the same candidate sets and
    scores to the documented 1e-9 BLAS noise floor; ann mode a
    subset-generator whose results are internally batch-consistent."""
    from lean_explore_spark.operators.embed import embed_texts
    from lean_explore_spark.query.service import SearchService

    from bench import load_queries

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    emb = embed_texts(docs.select("doc_id", "text")).cache()
    queries = load_queries()[:12]

    def mk(**kw):
        return SearchService(
            spark, served_index, emb, doc_meta=docs, **kw
        )

    svc_spark = mk()
    svc_driver = mk(embedding_mode="driver")
    svc_ann = mk(ann_tables=8)

    batch = svc_spark.batch_search(queries, distributed=True)
    ann_batch = svc_ann.batch_search(queries, distributed=True)
    for q, got, agot in zip(queries, batch, ann_batch):
        want = svc_spark.search(q)
        assert [(r.doc_id, r.final_score, r.raw_bm25) for r in got] == [
            (r.doc_id, r.final_score, r.raw_bm25) for r in want
        ], q
        dwant = {r.doc_id: r for r in svc_driver.search(q)}
        assert set(dwant) == {r.doc_id for r in want}
        for r in want:
            assert abs(dwant[r.doc_id].final_score - r.final_score) < 1e-9
        awant = svc_ann.search(q)
        assert [(r.doc_id, r.final_score) for r in agot] == [
            (r.doc_id, r.final_score) for r in awant
        ], q
    emb.unpersist()
