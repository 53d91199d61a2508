"""Index build + block-max WAND: bit-exact rank-identity vs the numpy
oracle (SURVEY.md §5 plan #2/#4/#5), plus resume/checkpoint tests."""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import numpy as np
import pyarrow.parquet as pq
import pytest

from lean_explore_spark.functions.tokenizer import tokenize_stem
from lean_explore_spark.index.builder import IndexBuilder
from lean_explore_spark.oracle import bm25 as oracle
from lean_explore_spark.query.search import SearchEngine
from tests.conftest import REPO, SF_ORACLE

QUERIES = [
    "fast table scan merge join",
    "customer orders data",
    "spark streaming window",
    "group group group",
    "nonexistentterm",
    "the",
    "slow query batch value row",
    "",
    "scan scan filter the a an window sort key",
]


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("idx") / "sf001"
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    IndexBuilder(
        spark, str(out), stem=True, num_shards=4, num_buckets=4, block_size=32
    ).build(docs, resume=False)
    return str(out)


@pytest.fixture(scope="module")
def engine(spark, index_dir):
    return SearchEngine(spark, index_dir, preload=True)


@pytest.fixture(scope="module")
def ostats():
    rows = duckdb.sql(
        f"select doc_id, text from '{SF_ORACLE}/documents.parquet' order by doc_id"
    ).fetchall()
    return oracle.build_stats(
        [r[0] for r in rows], (tokenize_stem(r[1]) for r in rows)
    )


@pytest.mark.parametrize("mode", ["wand", "bulk", "blockmax"])
@pytest.mark.parametrize("query", QUERIES)
@pytest.mark.parametrize("k", [5, 25])
def test_wand_bit_exact_vs_oracle(engine, ostats, query, k, mode):
    tokens = tokenize_stem(query)
    got = engine.search_tokens(tokens, k, mode=mode)
    want = oracle.top_k(ostats, tokens, k)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gs == ws, f"doc {gd}: {gs!r} != {ws!r} (bit-exact required)"


def test_unknown_mode_is_rejected(spark, engine):
    """A mode names the kernel that runs: a misspelt one must raise,
    not silently run some other kernel — on the local path and on the
    Spark batch path, which refuses it before starting any job."""
    tokens = tokenize_stem("fast table scan")
    with pytest.raises(ValueError, match="wnad"):
        engine.search_tokens(tokens, 5, mode="wnad")
    sc = spark.sparkContext
    sc.setJobGroup("bad_mode", "batch with an unknown mode")
    try:
        with pytest.raises(ValueError, match="typo"):
            engine.search_tokens_distributed_batch([tokens], 5, mode="typo")
    finally:
        sc.setJobGroup("", "")
    assert list(sc.statusTracker().getJobIdsForGroup("bad_mode")) == []


def test_k_larger_than_matched(engine, ostats):
    # rare-ish multi-term query with k exceeding matched docs exercises
    # the delta-floor fill path
    tokens = ["zzz_not_in_corpus"]
    got = engine.search_tokens(tokens, 10)
    want = oracle.top_k(ostats, tokens, 10)
    assert got == [(d, s) for d, s in want]


def test_index_stats_match_oracle(engine, ostats):
    assert engine.n_docs == ostats.n_docs
    assert engine.avgdl == pytest.approx(ostats.avgdl, rel=0, abs=0)


def test_dictionary_df_matches_oracle(spark, index_dir, ostats):
    rows = spark.read.parquet(f"{index_dir}/dictionary").collect()
    got = {r["term"]: r["df"] for r in rows}
    want = {t: len(m) for t, m in ostats.postings.items()}
    assert got == want


def test_resume_reproduces_identical_index(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")

    full = tmp_path / "full"
    IndexBuilder(spark, str(full), num_shards=4, num_buckets=4).build(
        docs, resume=False, wave_size=1
    )
    # one manifest file per wave (hidden and _-prefixed names are not data)
    waves = [
        p for p in (full / "manifest").iterdir()
        if not p.name.startswith((".", "_"))
    ]
    assert len(waves) == 4

    # simulate a kill after 2 of 4 shards
    part = tmp_path / "part"
    b = IndexBuilder(spark, str(part), num_shards=4, num_buckets=4)
    part.mkdir(parents=True, exist_ok=True)
    info = b.write_staging(docs)
    stats = b.write_doc_stats(info)
    sc = spark.sparkContext
    for shard in (0, 1):
        rows = b.pack_shards([shard], avgdl=stats["avgdl"])
        # the manifest is written and read on the driver: no Spark job
        sc.setJobGroup("manifest_io", "manifest commit + resume read")
        try:
            b._append_manifest(rows)
            done = b._completed_shards()
        finally:
            sc.setJobGroup("", "")
    assert done == {0, 1}
    assert list(sc.statusTracker().getJobIdsForGroup("manifest_io")) == []
    # resume must pack only shards 2,3 and converge to the same index
    b.build(docs, resume=True)

    def fingerprint(d):
        return (
            spark.read.parquet(f"{d}/postings")
            .groupBy("shard")
            .agg(
                __import__("pyspark.sql.functions", fromlist=["expr"]).expr(
                    "bit_xor(cast(conv(substring(md5(payload),1,15),16,10) as bigint))"
                ).alias("fp"),
            )
            .orderBy("shard")
            .collect()
        )

    assert [tuple(r) for r in fingerprint(full)] == [
        tuple(r) for r in fingerprint(part)
    ]
    # manifest has exactly one committed row per shard, and Spark
    # readers see the same column names and types as ever
    m = spark.read.parquet(str(part / "manifest"))
    assert sorted(r["shard"] for r in m.collect()) == [0, 1, 2, 3]
    assert m.dtypes == [
        ("shard", "bigint"),
        ("n_terms", "bigint"),
        ("n_postings", "bigint"),
        ("payload_bytes", "bigint"),
        ("fingerprint", "bigint"),
        ("status", "string"),
        ("committed_at", "double"),
    ]
    # ... from files that carry no column statistics and no embedded
    # Arrow schema (neither is read; both are most of a one-row file)
    for f in [*waves, *(part / "manifest").glob("part-*.parquet")]:
        md = pq.ParquetFile(f).metadata
        assert b"ARROW:schema" not in (md.metadata or {}), f
        assert not any(
            md.row_group(g).column(c).is_stats_set
            for g in range(md.num_row_groups)
            for c in range(md.num_columns)
        ), f


def test_vectorized_packer_rows_equal_reference_pack(spark, tmp_path):
    """Every (term, shard) row the vectorized mapInArrow packer emits
    must byte-equal codec.pack_postings applied to the same posting run
    (ids/tfs from the forward index, ranks/doc-lens from doc_stats) —
    the packer re-derives blocks/gaps/metadata with reduceat tricks, so
    pin it to the reference implementation."""
    import json

    import numpy as np
    import pyspark.sql.functions as F

    from lean_explore_spark.index import codec
    from lean_explore_spark.sources import pages as P

    docs = P.assign_doc_ids(
        P.extract_text(P.generate_pages(spark, 300, partitions=3))
    ).select("doc_id", F.col("extracted_text").alias("text"))
    out = tmp_path / "packref"
    IndexBuilder(spark, str(out), num_shards=3, num_buckets=4).build(
        docs, resume=False
    )
    stats = json.loads((out / "stats.json").read_text())
    span = stats["span"]

    # ground truth postings from the docs themselves
    rows = sorted(docs.collect(), key=lambda r: r["doc_id"])
    postings: dict = {}
    doc_len: dict = {}
    for r in rows:
        toks = tokenize_stem(r["text"])
        doc_len[r["doc_id"]] = len(toks)
        freqs: dict = {}
        for t in toks:
            freqs[t] = freqs.get(t, 0) + 1
        for t, tf in freqs.items():
            postings.setdefault((t, r["doc_id"] // span), []).append(
                (r["doc_id"], tf)
            )

    by_shard_ids = {}
    for d in doc_len:
        by_shard_ids.setdefault(d // span, []).append(d)
    for s in by_shard_ids:
        by_shard_ids[s] = np.array(sorted(by_shard_ids[s]), dtype=np.int64)

    packed_rows = spark.read.parquet(str(out / "postings")).collect()
    assert len(packed_rows) == len(postings)
    for row in packed_rows:
        key = (row["term"], int(row["shard"]))
        plist = sorted(postings[key])
        ids = np.array([d for d, _ in plist], dtype=np.int64)
        tfs = np.array([f for _, f in plist], dtype=np.int64)
        dl_ids = by_shard_ids[key[1]]
        ranks = np.searchsorted(dl_ids, ids)
        dls = np.array([doc_len[int(d)] for d in ids], dtype=np.int64)
        want = codec.pack_postings(
            ids, tfs, dls, avgdl=stats["avgdl"],
            block_size=stats["block_size"], ranks=ranks,
        )
        assert bytes(row["payload"]) == want.payload, key
        assert list(row["block_first"]) == want.block_first.tolist()
        assert list(row["block_last"]) == want.block_last.tolist()
        assert list(row["block_count"]) == want.block_count.tolist()
        assert list(row["block_gap_bytes"]) == want.block_gap_bytes.tolist()
        assert list(row["block_tf_bytes"]) == want.block_tf_bytes.tolist()
        assert list(row["block_max_score"]) == want.block_max_score.tolist()
        assert int(row["df_shard"]) == want.count


def test_verify_index_fsck(spark, index_dir, tmp_path):
    """jobs/verify_index recomputes per-shard lineage from payload
    bytes and matches the manifest; a corrupted payload is caught."""
    import shutil

    sys.path.insert(0, str(REPO / "jobs"))
    from verify_index import verify

    out = verify(spark, index_dir)
    assert out["ok"] and not out["mismatches"]

    # corrupt one postings file → fsck must flag its shard
    broken = tmp_path / "broken_idx"
    shutil.copytree(index_dir, broken)
    victim = next((broken / "postings").rglob("*.parquet"))
    import pyarrow.parquet as pq
    import pyarrow as pa

    tbl = pq.read_table(victim)
    payloads = tbl.column("payload").to_pylist()
    payloads[0] = (payloads[0] or b"") + b"\x00"
    tbl = tbl.set_column(
        tbl.schema.get_field_index("payload"), "payload",
        pa.array(payloads, type=pa.binary()),
    )
    pq.write_table(tbl, victim)
    # drop Hadoop's CRC sidecar — it would catch the rewrite before
    # the fsck logic under test ever runs
    crc = victim.parent / f".{victim.name}.crc"
    if crc.exists():
        crc.unlink()
    out2 = verify(spark, str(broken))
    assert not out2["ok"] and out2["mismatches"]


def test_pack_shards_reads_no_postings_back(spark, tmp_path, monkeypatch):
    """The manifest lineage comes from the pack job's own tasks: no
    parquet read opened during ``pack_shards`` points into postings/."""
    from pyspark.sql.readwriter import DataFrameReader

    from tests.conftest import SF_SMOKE

    out = tmp_path / "idx"
    out.mkdir()
    b = IndexBuilder(spark, str(out), num_shards=2, num_buckets=2)
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    stats = b.write_doc_stats(b.write_staging(docs))

    opened = []
    real_parquet = DataFrameReader.parquet

    def recording_parquet(self, *paths, **kw):
        opened.extend(Path(p).resolve() for p in paths)
        return real_parquet(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", recording_parquet)
    rows = b.pack_shards([0, 1], avgdl=stats["avgdl"])
    monkeypatch.undo()

    postings = (out / "postings").resolve()
    assert opened  # the staging read went through the recorder
    assert not [p for p in opened if p == postings or postings in p.parents]
    assert [r["shard"] for r in rows] == [0, 1]
    assert all(r["n_terms"] > 0 and r["payload_bytes"] > 0 for r in rows)


def test_wave_lineage_equals_one_wave_build(spark, index_dir, tmp_path):
    """Packed one shard per job, the index passes the fsck and commits
    the same manifest lineage as the one-job build of ``index_dir``."""
    sys.path.insert(0, str(REPO / "jobs"))
    from verify_index import verify

    out = tmp_path / "waves"
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    IndexBuilder(
        spark, str(out), stem=True, num_shards=4, num_buckets=4, block_size=32
    ).build(docs, resume=False, wave_size=1)

    assert verify(spark, str(out))["ok"]

    def lineage(d):
        rows = spark.read.parquet(f"{d}/manifest").drop("committed_at")
        return sorted(tuple(r) for r in rows.collect())

    waves = lineage(out)
    assert len(waves) == 4
    assert waves == lineage(index_dir)


def test_postings_files_hold_exactly_the_schema(index_dir):
    """Every written postings file holds the ``POSTINGS_SCHEMA`` columns
    less its partition columns, in order — nothing else."""
    import pyarrow.parquet as pq

    from lean_explore_spark.index.builder import POSTINGS_SCHEMA

    root = Path(index_dir) / "postings"
    files = list(root.rglob("*.parquet"))
    assert files
    for f in files:
        parts = [d.split("=", 1)[0] for d in f.relative_to(root).parts[:-1]]
        assert parts == ["shard", "bucket"]
        want = [n for n in POSTINGS_SCHEMA.names if n not in parts]
        assert pq.read_schema(f).names == want


def test_rebuild_same_path_invalidates_worker_cache(spark, tmp_path):
    """ADVICE r2 (medium): python workers persist across jobs, so a
    rebuild at the SAME path with a different corpus must not serve the
    previous build's doc-id/doc-len slices to the packer (the cache key
    carries a build-unique stats.json token).  Before the fix, the
    second build's gaps were computed against the FIRST build's doc-id
    ranks → decoded doc ids diverge from the oracle."""
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    out = tmp_path / "same_path"

    IndexBuilder(spark, str(out), stem=True, num_shards=4, num_buckets=4).build(
        docs, resume=False
    )
    # prime the worker caches with build #1's slices
    SearchEngine(spark, str(out)).search("customer orders data", 10)

    # build #2: same path, different corpus (subset → different doc-id
    # universe, different span, same shard numbers / doc_stats root)
    docs2 = docs.where("doc_id % 3 != 0")
    IndexBuilder(spark, str(out), stem=True, num_shards=4, num_buckets=4).build(
        docs2, resume=False
    )

    import duckdb

    rows = duckdb.sql(
        f"select doc_id, text from '{SF_ORACLE}/documents.parquet' "
        "where doc_id % 3 != 0 order by doc_id"
    ).fetchall()
    ostats = oracle.build_stats(
        [r[0] for r in rows], (tokenize_stem(r[1]) for r in rows)
    )
    eng = SearchEngine(spark, str(out), preload=True)
    for q in ["customer orders data", "fast table scan merge join"]:
        toks = tokenize_stem(q)
        got = eng.search_tokens(toks, 25)
        want = oracle.top_k(ostats, toks, 25)
        assert got == [(d, s) for d, s in want], q


def test_delta_floor_fill_reads_shard_prefix_only(spark, index_dir):
    """r2 VERDICT #2: the delta-floor fill is shard-lazy — a sub-k
    rare-term query consumes ids from the first doc-range shard(s)
    only, never collecting the corpus id universe to the driver."""
    eng = SearchEngine(spark, index_dir, preload=False)
    got = eng.search_tokens(["zzz_not_in_corpus"], 5)
    assert len(got) == 5 and all(s == got[0][1] for _, s in got)
    shards = eng._shards()
    assert len(shards) > 1
    # only the first shard's doc_stats slice was loaded
    assert set(eng._dl_cache) == {shards[0]}


def test_cold_mode_dl_cache_is_lru_bounded(spark, index_dir, ostats):
    """r3 VERDICT #2: a cold engine that touches every shard holds at
    most N cached doc-length slices (LRU), and the bound never changes
    scores; preload mode still pins everything."""
    eng = SearchEngine(spark, index_dir, preload=False, dl_cache_shards=2)
    shards = eng._shards()
    assert len(shards) >= 3
    for s in shards:
        eng._doc_lens(s)
        assert len(eng._dl_cache) <= 2
    assert set(eng._dl_cache) == set(shards[-2:])  # LRU keeps the tail
    for q in ["customer orders data", "the"]:
        toks = tokenize_stem(q)
        want = [(d, s) for d, s in oracle.top_k(ostats, toks, 25)]
        assert eng.search_tokens(toks, 25) == want
        assert len(eng._dl_cache) <= 2
    pre = SearchEngine(spark, index_dir, preload=True)
    assert len(pre._dl_cache) == len(shards)  # pinned, not bounded


def test_serving_read_path_runs_no_spark_jobs(spark, index_dir, ostats):
    """Serving reads the index through pyarrow only: a preloaded open,
    a preloaded query, and a cold query with its dictionary, postings
    and doc-length reads schedule no Spark job."""
    sc = spark.sparkContext
    toks = tokenize_stem("customer orders data")
    want = [(d, s) for d, s in oracle.top_k(ostats, toks, 25)]
    sc.setJobGroup("serve_read_path", "serving read path")
    try:
        pre = SearchEngine(spark, index_dir, preload=True)
        got_pre = pre.search_tokens(toks, 25)
        cold = SearchEngine(spark, index_dir, preload=False)
        got_cold = cold.search_tokens(toks, 25)
    finally:
        sc.setJobGroup("", "")
    assert got_pre == want and got_cold == want
    assert cold._dl_cache  # the cold query read doc lengths
    assert list(sc.statusTracker().getJobIdsForGroup("serve_read_path")) == []


def test_cold_dl_cache_is_thread_safe(spark, index_dir, engine):
    """A cold engine behind a ThreadingHTTPServer shares its doc-length
    LRU between request threads: with one cached slice and a tiny
    switch interval, one thread evicts a slice between another's lookup
    and its use unless lookup, insert and eviction are atomic.  Every
    answer must equal the preloaded engine's, and no query may raise."""
    from concurrent.futures import ThreadPoolExecutor

    cold = SearchEngine(spark, index_dir, preload=False, dl_cache_shards=1)
    assert len(cold._shards()) > 1
    jobs = [tokenize_stem(q) for q in QUERIES if q] * 5
    want = [engine.search_tokens(t, 10) for t in jobs]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as tp:
            got = list(
                tp.map(lambda t: cold.search_tokens(t, 10), jobs * 8, timeout=300)
            )
    finally:
        sys.setswitchinterval(interval)
    assert got == want * 8
    assert len(cold._dl_cache) <= 1


def test_preload_holds_no_python_object_per_row(spark, index_dir):
    """A preloaded segment holds its postings as a few flat arrays and a
    term → row-range index, not one object per (term, shard) row: the
    bytes Python allocates while opening the engine stay a small
    constant per row.  On this fixture's 124 rows, one
    ``PackedPostings`` with its seven numpy views per row measured
    1,303 B per row and the columnar segment 228 B per row (doc
    lengths and the dictionary included)."""
    import tracemalloc

    import pyarrow.dataset as ds

    rows = ds.dataset(
        f"{index_dir}/postings", format="parquet", partitioning="hive"
    ).count_rows()
    tracemalloc.start()
    try:
        eng = SearchEngine(spark, index_dir, preload=True)
        traced, _ = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert eng._resident is not None
    assert traced / rows < 400, (traced, rows)


def _kernel_calls(monkeypatch):
    """Count the kernel and decode calls a query makes, by name."""
    from lean_explore_spark.index import codec
    from lean_explore_spark.query import wand

    calls = {}
    for mod, name in [(wand, "bulk_score_shard"), (wand, "blockmax_bulk_shard"),
                      (wand, "wand_shard"), (codec, "unpack_all"),
                      (codec, "unpack_selected")]:
        def counted(*args, _f=getattr(mod, name), _n=name, **kwargs):
            calls[_n] = calls.get(_n, 0) + 1
            return _f(*args, **kwargs)

        monkeypatch.setattr(mod, name, counted)
    return calls


@pytest.fixture(scope="module")
def zebra_index(spark, tmp_path_factory):
    """The oracle corpus with "zebra" added to docs 0-59 only, so that
    term is absent from three of the four doc-range shards; its index
    root and oracle stats."""
    import pyspark.sql.functions as F

    out = tmp_path_factory.mktemp("idx") / "zebra"
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet").withColumn(
        "text",
        F.when(F.col("doc_id") < 60, F.concat("text", F.lit(" zebra")))
        .otherwise(F.col("text")),
    )
    IndexBuilder(
        spark, str(out), stem=True, num_shards=4, num_buckets=4, block_size=32
    ).build(docs, resume=False)
    rows = sorted(docs.select("doc_id", "text").collect())
    return str(out), oracle.build_stats(
        [r[0] for r in rows], (tokenize_stem(r[1]) for r in rows)
    )


def test_light_query_scores_a_preloaded_segment_in_one_kernel_call(
    spark, zebra_index, monkeypatch
):
    """A preloaded engine scores a segment whose every shard takes the
    exhaustive kernel as ONE unit: one ``bulk_score_shard`` call per
    segment and one ``unpack_all`` per (term, segment), not one per
    (term, shard).  With ``BULK_THRESHOLD`` 0 no shard is light, so the
    same query takes per-shard block-max units again.  The queries hold
    a term absent from most shards, a repeated token, and that term
    alone at a k it cannot fill (the delta-floor fill); every answer
    equals the oracle and the cold engine."""
    import json

    index_dir, ostats = zebra_index
    pre = SearchEngine(spark, index_dir, preload=True)
    cold = SearchEngine(spark, index_dir, preload=False)
    span = json.loads(Path(index_dir, "stats.json").read_text())["span"]

    def shards(terms):
        return {d // span for t in terms for d in ostats.postings[t]}

    assert shards(["zebra"]) == {0} and len(pre._shards()) == 4
    queries = [(tokenize_stem("zebra customer orders data data"), 25),
               (["zebra"], 80)]
    for toks, k in queries:
        want = [(d, s) for d, s in oracle.top_k(ostats, toks, k)]
        terms = set(toks)
        assert cold.search_tokens(toks, k) == want

        calls = _kernel_calls(monkeypatch)
        assert pre.search_tokens(toks, k) == want
        assert calls == {"bulk_score_shard": 1, "unpack_all": len(terms)}
        monkeypatch.undo()

        monkeypatch.setattr(SearchEngine, "BULK_THRESHOLD", 0)
        calls = _kernel_calls(monkeypatch)
        assert pre.search_tokens(toks, k) == want
        assert calls.get("bulk_score_shard", 0) == 0
        assert calls["blockmax_bulk_shard"] == len(shards(terms))
        monkeypatch.undo()


def test_preloaded_doc_lengths_are_views_of_the_segment(engine):
    """Preload holds each segment's doc lengths once, concatenated in
    shard order; every per-shard entry is a view into them, and the
    concatenation is the ascending doc-id universe a whole-segment
    unit decodes against."""
    [(ids, lens)] = engine._seg_dl
    assert len(engine._dl_cache) == len(engine._shards()) > 1
    for (seg, shard), (s_ids, s_lens) in engine._dl_cache.items():
        assert seg == 0
        assert np.shares_memory(s_ids, ids) and np.shares_memory(s_lens, lens)
    assert np.array_equal(
        np.concatenate([engine._dl_cache[u][0] for u in engine._shards()]), ids
    )
    assert (np.diff(ids) > 0).all()


@pytest.mark.parametrize("prefilled", [False, True])
def test_bulk_push_keeps_every_tie_at_the_kth_score(prefilled):
    """More than k docs tie at the k-th score (same tf, same doc
    length): one ``bulk_score_shard`` call, into an empty heap or into
    one an earlier unit filled, must leave exactly the full sort by
    (score desc, doc asc) cut at k."""
    from lean_explore_spark.index import codec
    from lean_explore_spark.query import wand

    k = 10
    ctx = wand.QueryContext(
        token_uterm=[0], idfs=np.array([1.3]), k1=codec.K1, b=codec.B,
        delta=1.0, avgdl=50.0,
    )
    # (first doc id, tfs): 3 docs above the tie, 30 tied, 40 below; the
    # earlier unit has 2 above and 4 tied, so it fills the heap first
    units = [(1000, [5] * 3 + [2] * 30 + [1] * 40)]
    if prefilled:
        units.insert(0, (0, [5] * 2 + [2] * 4 + [1] * 20))
    heap, every = [], []
    for start, tfs in units:
        rng = np.random.default_rng(start)
        dl_ids = np.arange(start, start + 400, 2, dtype=np.int64)
        dl_lens = np.full(len(dl_ids), 50, dtype=np.int64)
        ranks = np.sort(rng.choice(len(dl_ids), len(tfs), replace=False))
        tf = rng.permutation(np.array(tfs, dtype=np.int64))
        packed = codec.pack_postings(
            dl_ids[ranks], tf, dl_lens[ranks], avgdl=50.0, block_size=16,
            ranks=ranks,
        )
        cursor = wand.TermCursor(packed, 0, dl_ids)
        wand.bulk_score_shard([cursor], ctx, dl_ids, dl_lens, heap, k)
        every += [
            (ctx.score_doc([wand.x_value(t, 50, 50.0, ctx.k1, ctx.b)]), d)
            for d, t in zip(dl_ids[ranks].tolist(), tf.tolist())
        ]
    want = sorted(every, key=lambda e: (-e[0], e[1]))[:k]
    assert sum(s == want[-1][0] for s, _ in every) > k  # a tie at the cut
    got = sorted(heap, key=lambda e: (-e[0], e[2]))
    assert [(s, d) for s, _, d in got] == want
