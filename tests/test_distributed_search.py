"""Distributed (one-task-per-shard) WAND must equal the local engine
and therefore the oracle, bit-for-bit."""

from __future__ import annotations

import re
import threading

import duckdb
import pytest

from lean_explore_spark.functions.tokenizer import tokenize_stem
from lean_explore_spark.index.builder import IndexBuilder
from lean_explore_spark.oracle import bm25 as oracle
from lean_explore_spark.query.search import SearchEngine
from tests.conftest import SF_ORACLE

QUERIES = [
    "fast table scan merge join",
    "the",
    "group group group",
    "nonexistentterm",
    "slow query batch value row",
]


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("dist") / "idx"
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    IndexBuilder(spark, str(out), num_shards=4, num_buckets=4).build(
        docs, resume=False
    )
    return SearchEngine(spark, str(out), preload=True)


@pytest.fixture(scope="module")
def ostats():
    rows = duckdb.sql(
        f"select doc_id, text from '{SF_ORACLE}/documents.parquet' order by doc_id"
    ).fetchall()
    return oracle.build_stats(
        [r[0] for r in rows], (tokenize_stem(r[1]) for r in rows)
    )


@pytest.mark.parametrize("query", QUERIES)
def test_distributed_equals_local(engine, query):
    tokens = tokenize_stem(query)
    local = engine.search_tokens(tokens, 20)
    dist = engine.search_tokens_distributed_batch([tokens], 20)[0]
    assert dist == local


def test_distributed_merge_is_take_ordered(engine):
    """r3 VERDICT #4: the per-shard top-k merge is cut to k rows per
    partition BEFORE the exchange — a partial WindowGroupLimit for the
    per-query row_number() <= k — so the driver merges only partition
    winners, never k·S collected rows, and stays bit-exact."""
    plans = []
    engine._plan_probe = plans.append
    try:
        tokens = tokenize_stem("fast table scan merge join")
        dist = engine.search_tokens_distributed_batch([tokens], 10)[0]
    finally:
        engine._plan_probe = None
    assert dist == engine.search_tokens(tokens, 10)
    [df] = plans
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"WindowGroupLimit .*Partial", phys), phys


def test_distributed_fill_path(engine):
    # k exceeding matched docs: distributed fill must match local
    tokens = ["windowpag"]  # stemmed rare-ish term may or may not exist
    local = engine.search_tokens(tokens, engine.n_docs)
    dist = engine.search_tokens_distributed_batch([tokens], engine.n_docs)[0]
    assert dist == local


def test_batch_distributed_bit_exact_and_one_job_class(spark, engine):
    """r5: search_tokens_distributed_batch runs Q queries in ONE Spark
    job (plus the O(Q·k) merge) and every query's result is bit-exact
    vs the per-query paths — including empty, absent-term, and
    repeated-token pathologies."""
    batch_queries = QUERIES + ["", "the data page", "nonexistentterm zz"]
    token_lists = [tokenize_stem(q) for q in batch_queries]

    sc = spark.sparkContext
    sc.setJobGroup("batch_dist", "batch distributed search")
    try:
        got = engine.search_tokens_distributed_batch(token_lists, 20)
    finally:
        sc.setJobGroup("", "")
    jobs = sc.statusTracker().getJobIdsForGroup("batch_dist")
    # one scoring job + small merge/fill jobs — NOT one per query
    # (8 queries × per-query jobs would be ≥ 8; AQE may split a few)
    assert 0 < len(jobs) <= 6, len(jobs)

    assert len(got) == len(token_lists)
    for toks, res in zip(token_lists, got):
        assert res == engine.search_tokens(toks, 20), toks
        assert res == engine.search_tokens_distributed_batch([toks], 20)[0], toks


def test_batch_distributed_empty_batch(engine):
    assert engine.search_tokens_distributed_batch([], 10) == []


def test_batch_distributed_per_query_k_and_modes(engine, ostats):
    """r5 VERDICT #7: k may vary per query (each result cut to its own
    k, not the batch max), and the per-shard kernel is selectable —
    every mode bit-exact vs the local engine.  Every executor of the
    one query plan — inline, fork pool, routed fan-out and the Spark
    batch — returns the oracle's list for each query of the batch,
    including k > n_docs, k = 0, an all-absent query and an empty
    one."""
    batch_queries = QUERIES[:3] + [
        "the data page", "fast join", "merge join", "nonexistentterm zz", ""
    ]
    token_lists = [tokenize_stem(q) for q in batch_queries]
    ks = [5, 17, 1, 40, engine.n_docs + 3, 0, 6, 4]
    want = [
        oracle.top_k(ostats, toks, kv) for toks, kv in zip(token_lists, ks)
    ]
    got = engine.search_tokens_distributed_batch(token_lists, ks)
    assert got == want
    for toks, kv, res in zip(token_lists, ks, want):
        assert len(res) == min(kv, engine.n_docs)
        assert engine.search_tokens(toks, kv) == res, (toks, kv)
        assert engine.search_tokens_parallel(toks, kv, threads=2) == res, (
            toks, kv,
        )
        assert engine.search_tokens_routed(
            toks, kv, mass_threshold=0
        ) == res, (toks, kv)
    for mode in ("auto", "bulk", "wand", "blockmax"):
        got_m = engine.search_tokens_distributed_batch(
            token_lists, ks, mode=mode
        )
        assert got_m == got, mode
    import pytest

    with pytest.raises(ValueError):
        engine.search_tokens_distributed_batch(token_lists, [5, 6])


def test_batch_seed_unit_is_scored_once(engine, ostats, monkeypatch):
    """A preloaded engine scores each query's densest unit on the driver
    for θ0 (``_seed``); that heap joins the merge, so the unit's Spark
    task must skip the query: no task row of a seeded query may come
    from its seed unit, and answers stay the oracle's."""
    queries = ["the data page", "fast table scan merge join", "customer orders data"]
    token_lists = [tokenize_stem(q) for q in queries]
    seeds = []
    seed = engine._seed

    def recording(by_unit, q):
        out = seed(by_unit, q)
        seeds.append(out[0])
        return out

    monkeypatch.setattr(engine, "_seed", recording)
    task_rows = []
    monkeypatch.setattr(
        engine, "_plan_probe", lambda df: task_rows.extend(df.collect())
    )
    for mode in ("blockmax", "auto"):
        seeds.clear()
        task_rows.clear()
        got = engine.search_tokens_distributed_batch(token_lists, 10, mode=mode)
        assert got == [oracle.top_k(ostats, t, 10) for t in token_lists]
        assert len(seeds) == len(queries) and task_rows
        for r in task_rows:
            seed_ids = set(engine._doc_lens(seeds[r["qid"]])[0].tolist())
            assert r["doc_id"] not in seed_ids, (mode, queries[r["qid"]])


@pytest.mark.parametrize("query", QUERIES)
def test_parallel_driver_equals_local(engine, query):
    """r8 hot-query path: the thread-fanned per-shard kernel merges
    local k-heaps exactly like the distributed path and must be
    bit-identical to the sequential driver loop."""
    tokens = tokenize_stem(query)
    local = engine.search_tokens(tokens, 20)
    for threads in (1, 4):
        assert engine.search_tokens_parallel(tokens, 20, threads=threads) == local


@pytest.mark.parametrize("query", QUERIES)
def test_routed_equals_local_both_sides_of_threshold(engine, query):
    """Routing by posting mass can change latency, never results:
    force the query down BOTH paths and pin bit-identity; also check
    the routing signal itself (sum of live-term dfs)."""
    tokens = tokenize_stem(query)
    local = engine.search_tokens(tokens, 20)
    # threshold 0 -> any live query routes parallel; huge -> sequential
    if engine.query_posting_mass(tokens) > 0:
        assert engine.search_tokens_routed(tokens, 20, mass_threshold=0) == local
    assert engine.search_tokens_routed(tokens, 20, mass_threshold=10**15) == local
    # signal sanity: mass equals the dictionary df sum of live terms
    dfs = engine._lookup_dfs(sorted(set(tokens)))
    assert engine.query_posting_mass(tokens) == sum(dfs.values())


def test_parallel_requires_preload_and_pool_reuse(spark, engine, tmp_path_factory):
    """The fork pool snapshots the preloaded index at creation: cold
    engines must refuse (post-fork loads would be invisible to
    children), the pool persists across queries, and close_pool
    releases it."""
    from lean_explore_spark.index.builder import IndexBuilder
    from lean_explore_spark.query.search import SearchEngine

    tokens = tokenize_stem("fast table scan merge join")
    # pool is created lazily on the first multi-worker call and reused
    a = engine.search_tokens_parallel(tokens, 10, threads=2)
    pool1 = engine._fork_pool
    assert pool1 is not None
    b = engine.search_tokens_parallel(tokens, 10, threads=2)
    assert engine._fork_pool is pool1 and a == b
    engine.close_pool()
    assert engine._fork_pool is None

    out = tmp_path_factory.mktemp("coldpool") / "idx"
    docs = engine.spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    IndexBuilder(engine.spark, str(out), num_shards=4, num_buckets=4).build(
        docs, resume=False
    )
    cold = SearchEngine(engine.spark, str(out), preload=False)
    with pytest.raises(RuntimeError, match="preload"):
        cold.search_tokens_parallel(tokens, 10, threads=2)
    # the theta0-seeded inline plan works cold (no fork needed)
    assert cold.search_tokens_parallel(tokens, 10, threads=1) == \
        engine.search_tokens(tokens, 10)


def test_parallel_is_thread_safe_under_concurrent_queries(engine):
    """ADVICE r8 (medium): the engine is served from a threaded HTTP
    server, where two hot queries used to race the lazy pool create /
    per-query resize (shutdown(wait=False) on a pool another request
    was submitting to → 'cannot schedule new futures after shutdown').
    The pool is now created ONCE at a fixed size under a lock; hammer
    it from several threads and pin bit-identity with the sequential
    kernel.  A further thread keeps calling close_pool() mid-run
    (ADVICE r9): a submit racing the shutdown falls back to inline
    scoring, so no query may fail or change its answer."""
    from concurrent.futures import ThreadPoolExecutor

    engine.close_pool()  # start cold so the create itself races
    jobs = [(q, tokenize_stem(q)) for q in QUERIES * 3]
    want = {q: engine.search_tokens(t, 20) for q, t in jobs}

    def hot(args):
        q, toks = args
        return q, engine.search_tokens_parallel(toks, 20, threads=4)

    done = threading.Event()

    def closer():
        while not done.wait(0.005):
            engine.close_pool()

    th = threading.Thread(target=closer)
    th.start()
    try:
        with ThreadPoolExecutor(max_workers=6) as tp:
            for q, got in tp.map(hot, jobs):
                assert got == want[q], q
    finally:
        done.set()
        th.join(timeout=60)
    assert not th.is_alive()
    engine.close_pool()


def test_fork_pools_of_two_engines_stay_isolated(spark, tmp_path_factory):
    """Regression (r8): the fork-worker registry is keyed per engine —
    with a single global, a worker forked AFTER a second engine's
    registration (ProcessPoolExecutor spawns lazily) would score
    against the wrong index.  Two engines over DISJOINT corpora must
    keep returning their own results while their pools interleave and
    grow."""
    from lean_explore_spark.index.builder import IndexBuilder
    from lean_explore_spark.query.search import SearchEngine

    base = tmp_path_factory.mktemp("twopools")

    def build(name, word, id_base):
        rows = [
            (id_base + i, f"{word} topic{i % 7} filler{i} " + " ".join(
                f"w{name}{j}" for j in range(10)))
            for i in range(1, 301)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = base / name
        IndexBuilder(spark, str(out), num_shards=4, num_buckets=4).build(
            docs, resume=False
        )
        return SearchEngine(spark, str(out), preload=True)

    ea = build("a", "alpha", 0)
    eb = build("b", "bravo", 10_000)
    qa = tokenize_stem("alpha topic1")
    qb = tokenize_stem("bravo topic1")
    want_a = ea.search_tokens(qa, 10)
    want_b = eb.search_tokens(qb, 10)
    assert want_a != want_b  # disjoint corpora -> different ids
    # interleave, growing each pool (2 then 3 workers) so lazy spawns
    # happen after BOTH engines registered
    for threads in (2, 3):
        assert ea.search_tokens_parallel(qa, 10, threads=threads) == want_a
        assert eb.search_tokens_parallel(qb, 10, threads=threads) == want_b
    ea.close_pool()
    eb.close_pool()
