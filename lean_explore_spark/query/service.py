"""Full hybrid search service — reference entry point A parity.

Mirrors ``perform_search`` (src/lean_explore/local/search.py:340-791;
service wrapper local/service.py:293-341) stage for stage:

1. embed query (pluggable; the real SentenceTransformer is out of
   scope — G3 in SURVEY.md §2.8 — so the default embedder is a
   deterministic stub mapping the query into the corpus embedding
   space);
2. candidate generation: cosine top-``faiss_k`` over the embeddings
   table, ×3 oversampling when a filter is active (reference
   defaults.py:101-103).  Every cosine is the one ``similarity``
   expression over row-normalized vectors, whose value for a row does
   not depend on which rows share the call, so every mode returns the
   same floats.  Default ``embedding_mode="spark"`` scores the
   embeddings TABLE for all live queries of a call together
   (Arrow-batched chunks, each keeping its top-k per query; one query
   is cut by TakeOrdered, several by a per-query row_number window —
   no O(corpus) driver matrix, the r1 VERDICT scale-killer);
   ``ann_tables > 0`` prunes the scan to each query's LSH buckets
   first (the IVF-nprobe analog, multi-table OR).
   ``embedding_mode="driver"`` preloads the matrix into driver numpy —
   the low-latency option for corpora that fit, matching the reference
   preloading its FAISS index;
3. similarity threshold ≥ 0.525 (defaults.py:106);
4. doc fetch + filter (lang filter = the reference's package-prefix
   filter, search.py:541-551) — lang is fetched only when a lang
   filter is given: in spark mode by one broadcast-semi lookup of the
   call's candidate ids against ``doc_meta``, a separate job after the
   candidate plan, never a corpus-wide driver dict; in driver mode
   from the id → lang dict preloaded with the matrix;
5. BM25Plus lexical scores for the CANDIDATE SET ONLY
   (SearchEngine.score_candidates: postings pruned to query terms,
   blocks pruned to candidate ids — bit-identical to the full-corpus
   scorer on those docs, reference search.py:670-678 semantics);
6. min-max normalize 3 signals + weighted combine
   (query/hybrid.py, exact reference semantics);
7. sort (final desc, doc_id asc), limit (defaults limit 50).
"""

from __future__ import annotations


from dataclasses import dataclass
from typing import Callable, Dict, List, Optional, Sequence, Set

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from lean_explore_spark.operators import similarity as sim_ops
from lean_explore_spark.query import hybrid
from lean_explore_spark.query.search import SearchEngine

DEFAULT_FAISS_K = 100
DEFAULT_SIM_THRESHOLD = 0.525
DEFAULT_LIMIT = 50
OVERSAMPLE = 3


@dataclass
class SearchResult:
    doc_id: int
    final_score: float
    raw_similarity: float
    norm_similarity: float
    pagerank: float
    norm_pagerank: float
    raw_bm25: float
    norm_bm25: float


def stub_embedder(dim: int):
    """Deterministic query embedder (G3 stand-in): the same md5-integer
    unit-vector kernel documents are embedded with (operators.embed) —
    stable across processes, partitionings, and engines."""
    from lean_explore_spark.operators.embed import md5_unit_vector

    def embed(query: str) -> np.ndarray:
        return md5_unit_vector(query, dim)

    return embed


def unit_rows(mat: np.ndarray) -> np.ndarray:
    """Row-normalize an (n, d) float64 matrix.  The norm reduces along
    each row, so a row's unit vector depends on that row alone."""
    return mat / np.linalg.norm(mat, axis=1, keepdims=True)


def unit_query(qvec) -> np.ndarray:
    q = np.asarray(qvec, dtype=np.float64)
    return q / np.linalg.norm(q)


def similarity(unit: np.ndarray, qunit: np.ndarray) -> np.ndarray:
    """Cosine of every row of ``unit`` (from ``unit_rows``) with
    ``qunit`` — the ONE similarity expression of the service: the
    driver-mode scan and the Spark chunk scorer (exact and ANN, one
    query or many) all call it.

    ``einsum`` reduces each row on its own, so a row's value is the
    same whether it is scored with the whole matrix, in a partition
    chunk, in a probed subset, alone, or from a misaligned copy.  A
    BLAS ``unit @ qunit`` blocks rows together, and its last ulp for a
    row depends on which rows share the call — the modes then
    disagreed on ``final_score``.  At 400k×64 it costs what ``@``
    does; ``(unit * qunit).sum(axis=1)`` is exact as well but ~4×
    slower and builds an n×d temporary."""
    return np.einsum("ij,j->i", unit, qunit)


def top_k(ids: np.ndarray, sims: np.ndarray, k: int) -> np.ndarray:
    """Positions of the ``k`` best rows in the candidate order (sim
    desc, id asc): exactly ``np.lexsort((ids, -sims))[:k]``, without
    sorting every row.  A partition finds the k-th best similarity and
    only the rows at or above it, ties included, are sorted: over a
    20000×64 driver matrix the full sort took ~4 ms a query against
    ~0.6 ms for the similarity (4-core VM).  A NaN similarity compares
    false, so it stays in the pool and sorts last, as in the full
    sort.  The chunk scorer makes the same cut per chunk."""
    neg = -sims
    pool = np.arange(len(neg))
    if len(neg) > k:
        kth = np.partition(neg, k - 1)[k - 1]
        pool = np.flatnonzero(~(neg > kth))
    return pool[np.lexsort((ids[pool], neg[pool]))[:k]]


def _chunk_scorer(qunits: np.ndarray, k: int, probed: bool):
    """``mapInPandas`` body for both Spark shapes: score a chunk's
    (row, query) pairs and keep the chunk's top ``k`` per query, in
    the global cut's order (sim desc, vec_id asc) — a superset of each
    query's share of the global top k.  ``probed=False`` scores every
    row against every query (exact scan); ``probed=True`` reads the
    ``qid`` column of the ANN probe join and scores each query's
    probed rows only."""

    def score(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            unit = unit_rows(
                np.array(list(pdf["embedding"]), dtype=np.float64)
            )
            vec_ids = pdf["vec_id"].to_numpy()
            qids = pdf["qid"].to_numpy() if probed else None
            # one frame per chunk, not per query: a pandas frame per
            # (chunk, query) cost ~0.7 s of a 2.5 s 299-query ANN batch
            # (4-core VM)
            kept_qids, kept_ids, kept_sims = [], [], []
            for qi in np.unique(qids) if probed else range(len(qunits)):
                rows = qids == qi if probed else slice(None)
                ids = vec_ids[rows]
                sims = similarity(unit[rows], qunits[qi])
                keep = top_k(ids, sims, k)
                kept_qids.append(np.full(len(keep), qi, dtype=np.int32))
                kept_ids.append(ids[keep])
                kept_sims.append(sims[keep])
            yield pd.DataFrame(
                {
                    "qid": np.concatenate(kept_qids),
                    "vec_id": np.concatenate(kept_ids),
                    "sim": np.concatenate(kept_sims),
                }
            )

    return score


class SearchService:
    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        embeddings: DataFrame,
        doc_meta: Optional[DataFrame] = None,
        pagerank: Optional[Dict[int, float]] = None,
        embedder: Optional[Callable[[str], np.ndarray]] = None,
        w_semantic: float = hybrid.DEFAULT_W_SEMANTIC,
        w_pagerank: float = hybrid.DEFAULT_W_PAGERANK,
        w_bm25: float = hybrid.DEFAULT_W_BM25,
        embedding_mode: str = "spark",
        ann_tables: int = 0,
        preload: bool = True,
    ) -> None:
        """``preload=True`` pins dictionary+postings in driver memory
        (the reference preloads its assets before serving; right for
        latency-critical corpora that fit).  ``preload=False`` is the
        COLD/at-scale mode (r2 VERDICT #3): every lookup is a pruned
        parquet read (bucket partition pruning + term row-group
        statistics), nothing corpus-sized ever lands on the driver.

        ``embedding_mode="driver"`` collects the embedding matrix and,
        with ``doc_meta``, the full id → lang map (the reference
        preloads its assets).  ``"spark"`` keeps both as tables: a
        call's candidates come from one Spark plan, and their langs
        from one lookup against ``doc_meta``, run only when the call
        has a lang filter and returned to that call alone — the service
        holds no per-doc state across queries, so concurrent request
        threads share nothing but the engine."""
        if embedding_mode not in ("spark", "driver"):
            raise ValueError(f"unknown embedding_mode {embedding_mode!r}")

        self.spark = spark
        self.engine = SearchEngine(spark, index_dir, preload=preload)
        self.mode = embedding_mode
        self.ann_tables = ann_tables
        # driver mode: the preloaded id → lang map; spark mode: None,
        # langs are looked up per call (_langs)
        self._doc_lang: Optional[Dict[int, str]] = None
        if embedding_mode == "driver":
            rows = embeddings.select("vec_id", "embedding").collect()
            self._emb_ids = np.array(
                [r["vec_id"] for r in rows], dtype=np.int64
            )
            self._emb = np.array(
                [r["embedding"] for r in rows], dtype=np.float64
            )
            self._emb_norm = unit_rows(self._emb)
            dim = self._emb.shape[1]
            self._doc_lang = {}
            if doc_meta is not None:
                for r in doc_meta.select("doc_id", "lang").collect():
                    self._doc_lang[int(r["doc_id"])] = r["lang"]
        else:
            from lean_explore_spark.pyfiles import ensure_py_files

            ensure_py_files(spark)  # the chunk scorer refs this module
            self._embeddings = embeddings.select("vec_id", "embedding")
            self._doc_meta = doc_meta
            dim = len(embeddings.select("embedding").head()["embedding"])
            if ann_tables > 0:
                # Build the LSH bucket tables ONCE and pin them
                # (MEMORY_AND_DISK): this is ANN *index load* — the
                # FAISS-analog asset a serving process opens before
                # taking traffic (same class as preload=True pinning
                # postings).  Before r6 every query re-derived the
                # (table, bucket, vec_id) relation from the raw
                # embedding table — 8 tables × corpus plane-dots per
                # query, measured 21.9 s/query at 400k vs 0.9 s for
                # the UNpruned scan the prefilter is meant to beat.
                # Persisted, the probe is a bucket-key join against a
                # memory-resident relation.  Lives for the service
                # lifetime by design; at real scale this relation is
                # the G4 ANN index written as bucketed parquet.
                from pyspark import StorageLevel

                self._lsh_tables = sim_ops.rp_lsh_tables(
                    self._embeddings, n_tables=ann_tables
                ).persist(StorageLevel.MEMORY_AND_DISK)
                self._lsh_tables.count()  # materialize at open, not
                # on the first query's tail latency
        self.pagerank = pagerank or {}
        self.embed = embedder or stub_embedder(dim)
        self.weights = (w_semantic, w_pagerank, w_bm25)

    # -- stages -----------------------------------------------------------

    def _candidates_driver(
        self, qvec: np.ndarray, k: int
    ) -> List[tuple]:
        sims = similarity(self._emb_norm, unit_query(qvec))
        order = top_k(self._emb_ids, sims, k)
        return [(int(self._emb_ids[i]), float(sims[i])) for i in order]

    def _candidates_spark(
        self, qvecs: Sequence[np.ndarray], k: int
    ) -> List[List[tuple]]:
        """Top-k cosine over the embeddings TABLE for Q queries in one
        plan: Arrow-batched chunks run ``_chunk_scorer`` — the driver
        sees O(Q·k) rows, not the matrix.  With ``ann_tables`` set,
        each query's scan is first pruned to the rows sharing one of
        its LSH buckets (candidate recall per rp_lsh_tables docs), via
        one broadcast (qid, table, bucket) probe join.

        The global cut is chosen by query count: one query takes
        ``orderBy(sim desc, vec_id asc).limit(k)`` (TakeOrdered, one
        job fewer than the window); several take a per-qid row_number
        window with the same order (r5 VERDICT #1: per-query calls
        paid their fixed job scheduling Q times).  A row's similarity
        is the same in either shape, so batching never changes an
        answer."""
        qunits = np.stack([unit_query(v) for v in qvecs])
        nq = qunits.shape[0]
        if self.ann_tables > 0:
            probes = [
                (qi, t, sim_ops.lsh_bucket_of(qunits[qi], table=t))
                for qi in range(nq)
                for t in range(self.ann_tables)
            ]
            tb = self._lsh_tables  # pinned at init (ANN index load)
            probe_df = tb.sparkSession.createDataFrame(
                probes, "qid int, table int, bucket long"
            )
            source = (
                tb.join(F.broadcast(probe_df), ["table", "bucket"])
                .select("qid", "vec_id")
                .distinct()
                .join(self._embeddings, "vec_id")
            )
        else:
            source = self._embeddings
        scored = source.mapInPandas(
            _chunk_scorer(qunits, k, probed=self.ann_tables > 0),
            "qid int, vec_id long, sim double",
        )
        if nq == 1:
            top = scored.orderBy(F.desc("sim"), F.asc("vec_id")).limit(k)
        else:
            from pyspark.sql.window import Window

            w = Window.partitionBy("qid").orderBy(
                F.desc("sim"), F.asc("vec_id")
            )
            top = (
                scored.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") <= k)
                .select("qid", "vec_id", "sim")
            )
        rows = top.collect()
        assert len(rows) <= k * nq  # O(Q·k) driver rows
        out: List[List[tuple]] = [[] for _ in range(nq)]
        for r in rows:
            out[r["qid"]].append((int(r["vec_id"]), float(r["sim"])))
        for lst in out:
            lst.sort(key=lambda t: (-t[1], t[0]))
        return out

    def _langs(self, ids: Set[int]) -> Dict[int, str]:
        """id → lang for ``ids``: the preloaded map in driver mode,
        else ONE broadcast-semi lookup against ``doc_meta`` (ADVICE
        r2).  Candidate membership never depends on doc_meta coverage
        — an id absent from doc_meta keeps its slot with lang None,
        like driver mode, and fails every lang filter."""
        if self._doc_lang is not None:
            return self._doc_lang
        if self._doc_meta is None or not ids:
            return {}
        ids_df = self.spark.createDataFrame(
            [(int(i),) for i in sorted(ids)], "vec_id long"
        )
        meta = self._doc_meta.select(F.col("doc_id").alias("vec_id"), "lang")
        return {
            int(r["vec_id"]): r["lang"]
            for r in meta.join(F.broadcast(ids_df), "vec_id").collect()
        }

    def batch_search(
        self,
        queries: Sequence[str],
        limit: int = DEFAULT_LIMIT,
        lang_filter: Optional[Sequence[str]] = None,
        faiss_k: int = DEFAULT_FAISS_K,
        sim_threshold: float = DEFAULT_SIM_THRESHOLD,
        log_path: Optional[str] = None,
    ) -> List[List[SearchResult]]:
        """Batch query API (reference local/service.py:331-341): N
        queries, result lists in input order; ``search`` is the
        one-query batch.

        Spark mode plans the candidates of ALL live queries together
        (``_candidates_spark``: one plan, O(1) Spark jobs in the
        number of queries instead of ~2 per query — the offline-sweep
        path where per-query job scheduling dominates, the same fixed
        cost the r5 lexical batching removed at 23×).  Driver mode
        scans its matrix once per query.  With a lang filter, one
        ``_langs`` lookup covers the union of the call's candidates;
        without one, none runs.  The remaining stages (threshold,
        lang filter, candidate BM25, combine) are the SAME ``_finish``
        code per query, and a query's similarities do not depend on
        its batch, so every result is bit-identical to the query run
        alone, in either mode (tests/test_service.py).  With a
        preloaded engine the BM25 stage is driver-side; a cold engine
        still pays its per-query pruned postings reads (parquet reads
        on the driver, not Spark jobs).

        ``log_path`` gets one event per query, in input order, whose
        elapsed ms count from the start of the call (per-query latency
        inside one batched job is meaningless)."""
        import time as _time

        t0 = _time.time()

        def _log(query: str, status: str, n: int):
            if log_path:
                from lean_explore_spark.query.perf_log import log_search_event

                log_search_event(
                    log_path, status, (_time.time() - t0) * 1000, n, query
                )

        live = [i for i, q in enumerate(queries) if q and q.strip()]
        cands: Dict[int, List[tuple]] = {}
        langs: Dict[int, str] = {}
        if live:
            k = faiss_k * (OVERSAMPLE if lang_filter else 1)
            qvecs = [self.embed(queries[i]) for i in live]
            if self.mode == "driver":
                lists = [self._candidates_driver(v, k) for v in qvecs]
            else:
                lists = self._candidates_spark(qvecs, k)
            cands = dict(zip(live, lists))
            if lang_filter:
                langs = self._langs({d for c in lists for d, _ in c})
        out: List[List[SearchResult]] = []
        for i, q in enumerate(queries):
            if i not in cands:
                # reference early-return (search.py:360-367)
                _log(q, "EMPTY_QUERY", 0)
                out.append([])
                continue
            out.append(
                self._finish(
                    q,
                    cands[i],
                    langs,
                    limit,
                    lang_filter,
                    faiss_k,
                    sim_threshold,
                    lambda status, n, q=q: _log(q, status, n),
                )
            )
        return out

    def batch_lexical_search(
        self,
        queries: Sequence[str],
        k: int = DEFAULT_LIMIT,
        distributed: bool = False,
    ) -> List[List[tuple]]:
        """Batch BM25 top-k, result lists in input order.  With
        ``distributed=True`` all queries run in ONE Spark job
        (engine.search_tokens_distributed_batch, r5) — the offline-
        evaluation path where per-query job scheduling (~0.5 s each)
        would otherwise dominate the sweep."""
        token_lists = [self.engine.analyze_query(q) for q in queries]
        if distributed:
            return self.engine.search_tokens_distributed_batch(
                token_lists, k
            )
        return [self.engine.search_tokens(t, k) for t in token_lists]

    def lexical_search(
        self,
        query: str,
        k: int = DEFAULT_LIMIT,
        distributed: bool = False,
        routed: bool = False,
    ) -> List[tuple]:
        """Pure BM25 top-k through the packed index (r2 VERDICT #3:
        the distributed path — one Spark task per doc-shard running
        block-max WAND, k-heap merge on the driver — is now reachable
        from the serving surface, not only from the engine).

        ``routed=True`` (r8) serves through the posting-mass router:
        light queries keep the sequential preloaded kernel, hot ones
        fan across the θ0-seeded fork pool — the interactive-serving
        default at large corpora (6.4M: p95 645→93 ms, BENCH §13b);
        results are bit-identical to both other paths."""
        tokens = self.engine.analyze_query(query)
        if distributed:
            return self.engine.search_tokens_distributed_batch([tokens], k)[0]
        if routed:
            return self.engine.search_tokens_routed(tokens, k)
        return self.engine.search_tokens(tokens, k)

    def search(
        self,
        query: str,
        limit: int = DEFAULT_LIMIT,
        lang_filter: Optional[Sequence[str]] = None,
        faiss_k: int = DEFAULT_FAISS_K,
        sim_threshold: float = DEFAULT_SIM_THRESHOLD,
        log_path: Optional[str] = None,
    ) -> List[SearchResult]:
        return self.batch_search(
            [query],
            limit=limit,
            lang_filter=lang_filter,
            faiss_k=faiss_k,
            sim_threshold=sim_threshold,
            log_path=log_path,
        )[0]

    def _finish(
        self,
        query: str,
        cands: List[tuple],
        langs: Dict[int, str],
        limit: int,
        lang_filter: Optional[Sequence[str]],
        faiss_k: int,
        sim_threshold: float,
        _log,
    ) -> List[SearchResult]:
        """Post-candidate stages (threshold → lang filter → candidate
        BM25 → combine → sort/limit) for one query, run by every mode
        and batch shape so batching cannot drift semantically.
        ``langs`` (id → lang, from ``_langs``) is read only under a
        lang filter."""
        cands = [(d, s) for d, s in cands if s >= sim_threshold]
        if lang_filter:
            allowed = set(lang_filter)
            cands = [
                (d, s) for d, s in cands if langs.get(d) in allowed
            ][: faiss_k]
        if not cands:
            _log("NO_CANDIDATES_POST_THRESHOLD", 0)
            return []

        tokens = self.engine.analyze_query(query)
        doc_ids = [d for d, _ in cands]
        # candidate-set BM25 (bit-identical to full-corpus scores on
        # these docs); clamp negatives like the reference
        # (search.py:676-678) — BM25Plus is non-negative anyway, the
        # clamp is belt-and-braces
        bm25 = self.engine.score_candidates(tokens, doc_ids)
        sims = [s for _, s in cands]
        prs = [float(self.pagerank.get(d, 0.0)) for d in doc_ids]
        bms = [max(0.0, bm25.get(d, 0.0)) for d in doc_ids]

        combined = hybrid.combine(
            sims, prs, bms,
            w_semantic=self.weights[0],
            w_pagerank=self.weights[1],
            w_bm25=self.weights[2],
        )
        results = [
            SearchResult(
                doc_id=d,
                final_score=c.final_score,
                raw_similarity=s,
                norm_similarity=c.norm_similarity,
                pagerank=p,
                norm_pagerank=c.norm_pagerank,
                raw_bm25=b,
                norm_bm25=c.norm_bm25,
            )
            for d, s, p, b, c in zip(doc_ids, sims, prs, bms, combined)
        ]
        results.sort(key=lambda r: (-r.final_score, r.doc_id))
        out = results[:limit]
        _log("SUCCESS", len(out))
        return out
