"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-
insensitive value-hash → CORRECTNESS_r{N}.json).

Coverage map (SURVEY.md §2 + training-data ops):

* BM25 engine relational stages + scorer: tokens_tf, term_df,
  doc_stats, corpus_stats, bm25_topk (§2.4 A7, §2.9)
* dedup family: dedup_exact (A2/F5), minhash_signatures,
  minhash_pairs, simhash, simhash_hamming (pigeonhole-exact),
  ngram_jaccard, jaccard_refined (LSH→exact pipeline),
  dedup_clusters (connected components vs a WITH RECURSIVE
  transitive-closure oracle)
* pipeline ops (r3): stratified_sample (deterministic md5-threshold
  membership, per-lang rates), quality_topk (top-k by 6dp quality per
  language)
* curation batteries (r7): gopher_quality (Rae et al. 2021 A1 rules),
  c4_quality (Raffel et al. 2020 §2.2 heuristics), unigram_nll
  (corpus-unigram LM scoring, integer micro-nat quantization),
  line_dedup (CCNet corpus-wide duplicate-line removal, keep-first),
  decontaminate (8-gram overlap vs a probe set), pack_sequences
  (training-sequence packing via two-phase parallel prefix sum),
  pii_scrub (ROOTS/FineWeb anonymization — RE2∩Java-subset patterns
  spliced verbatim into the oracle), classifier_score (seed-trained
  NB log-odds quality classifier — the CCNet/DCLM fastText-stage
  analog), host_stats (per-host corpus priors over the url_canonical
  synthesis), line_dedup_doc (FineWeb intra-doc repetition cleanup),
  domain_mix (The Pile/DoReMi mixture-weights sampling to a token
  budget), shuffle_rank (deterministic global training shuffle +
  shards), length_quantiles (exact inverse-CDF length profile),
  bpe_tokens (corpus-fitted BPE subword tokenizer — rows-only by
  documented exemption, the one non-SQL-expressible entry),
  chunk_passages (sliding-window retrieval passage prep), novel_docs
  (incremental-crawl near-dup gate vs the existing corpus)
* similarity: cosine_topk (brute force), lsh_buckets (integer-exact
  plane signs), ann_lsh_topk, embedding_near_dup (EXACT blocked GEMM)
* hybrid pipeline end-to-end: hybrid_topk (candidates → threshold →
  candidate BM25 → min-max normalize → weighted combine)
* text analysis: lang_id, quality_score, token_counts, fingerprint
* relational classes: region_rollup (J1/J3), customers_without_orders
  (J8/O4), top_orders_per_customer (W1/W2/W4), shipments_in_window
  (J6), acctbal_minmax_norm (A5/A6), pricing_summary (A1/A4),
  event_sessionization (µs-exact window/lag)
* iterative graph: pagerank_supplier_part (G1) — value-checked against
  a 12-iteration unrolled-CTE oracle
* multimodal: audio_features (VALUE-CHECKED int16-PCM features),
  video_frame_sample (value-checked), image_features (hash-oracled:
  16 exact-integer aggregates of the fake-decoded pixels, r3)
* formerly rows-only, now hash-oracled (r3): embed_texts (md5-integer
  unit-vector kernel, exact-int Σc² → one division), ivf_topk (the
  TRAINED centroids are inlined into the oracle SQL as literals —
  k-means replayed from the parquet in _ivf_oracle_sql)

SQL-checked text queries use the SQL analyzer (JVM ``\\w+``; the test
corpus is ASCII so it coincides with the Python analyzer); Porter-
stemmed BM25 parity is covered by pytest against the in-repo numpy
oracle (tests/test_index_and_wand.py, tests/test_reference_queries.py).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable
from pathlib import Path

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

_REPO = Path(__file__).resolve().parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

from lean_explore_spark.functions.tokenizer import tokenize, tokenize_stem  # noqa: E402
from lean_explore_spark.operators import analyze as A  # noqa: E402
from lean_explore_spark.operators import dedup as D  # noqa: E402
from lean_explore_spark.operators import graph as G  # noqa: E402
from lean_explore_spark.operators import merge_ops as MG  # noqa: E402
from lean_explore_spark.operators import mixing as MX  # noqa: E402
from lean_explore_spark.operators import multimodal as M  # noqa: E402
from lean_explore_spark.operators import pii as PII  # noqa: E402
from lean_explore_spark.operators import relational as R  # noqa: E402
from lean_explore_spark.operators import similarity as S  # noqa: E402
from lean_explore_spark.operators import textstats as T  # noqa: E402
from lean_explore_spark.pyfiles import ensure_py_files  # noqa: E402
from lean_explore_spark.query import df_scorer  # noqa: E402

FLAGSHIP_QUERY = "fast table scan merge join"
TOPK = 20
QUERY_VEC_ID = 7


def _fan_out(df: DataFrame) -> DataFrame:
    """Conditional scan fan-out (r9; the analyze() pattern): a bench
    corpus is ONE parquet split, so every narrow CPU-bound map stage
    (shingle/gram assembly, md5 folds, Arrow kernels) otherwise runs
    on a single core — measured 25-45 s single-task stages at sf1.0.
    No-op at scale, where the input already has >= defaultParallelism
    splits; the exchange moves the corpus bytes once and every
    downstream map stage parallelizes."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        df = df.repartition(sc.defaultParallelism)
    return df


_DOCS_CACHE: dict = {}
_EMB_CACHE: dict = {}


def _session_cached(cache: dict, spark: SparkSession, sf_dir: str, table: str):
    """``table`` fanned out and cached per (session, sf_dir).  A call
    from another session first unpersists and drops every other
    session's entries: a stopped session's DataFrame is useless, and
    keeping it would pin that session and its cached blocks."""
    for key in [key for key in cache if key[0] != id(spark)]:
        try:
            cache.pop(key).unpersist()
        except Py4JError:  # its session's JVM side is gone: nothing to free
            pass
    key = (id(spark), sf_dir)
    if key not in cache:
        ensure_py_files(spark)  # executors need the package on sys.path
        cache[key] = _fan_out(spark.read.parquet(f"{sf_dir}/{table}.parquet")).cache()
    return cache[key]


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus relation, fanned out and cached per (session, sf_dir):
    ~30 contract queries consume it, and without the cache each one
    re-pays the conditional fan-out EXCHANGE (~0.2-0.5 s of pure
    overhead per light query at bench scale — measured across the
    r9 sf0.1 runs).  First consumer materializes inside its timed
    window (the _analyzed/_shingles precedent); storage is the
    corpus text, MEMORY_AND_DISK and evictable."""
    return _session_cached(_DOCS_CACHE, spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _session_cached(_EMB_CACHE, spark, sf_dir, "embeddings")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25Plus top-k (stemmed analyzer) on sf0.001."""
    docs = _docs(spark, "/root/testdata/sf0.001")
    analyzed = A.analyze(docs, stem=True).cache()
    tdf = A.term_doc_tf(analyzed)
    stats = A.doc_stats(analyzed)
    return df_scorer.score_query(
        spark, tdf, stats, tokenize_stem(FLAGSHIP_QUERY), k=TOPK
    )


# --------------------------------------------------------------------
# BM25 relational stages (unstemmed analyzer — DuckDB-expressible)
# --------------------------------------------------------------------

_ANALYZED_CACHE: dict = {}


def _analyzed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analyzed relation, cached: the scorer's plan references it many
    times and the driver runs several contract queries over the same
    sf_dir — tokenize once."""
    key = (id(spark), sf_dir)
    if key not in _ANALYZED_CACHE:
        df = A.analyze(_docs(spark, sf_dir), stem=False).cache()
        _ANALYZED_CACHE[key] = df
    return _ANALYZED_CACHE[key]


_SHINGLE_CACHE: dict = {}


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared cached shingle relation: five dedup contract queries
    consume the same (doc_id, shingle) rows — materialize once
    (reuse-a-relation-across-stages, same pattern as _analyzed)."""
    key = (id(spark), sf_dir)
    if key not in _SHINGLE_CACHE:
        _SHINGLE_CACHE[key] = D.shingles(_docs(spark, sf_dir)).cache()
    return _SHINGLE_CACHE[key]


_MINHASH_WIDE_CACHE: dict = {}


def _minhash_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared cached WIDE MinHash signature (doc_id, m0..m15): five
    contract queries (signatures, pairs, refined, clusters, canonical)
    and novel_docs' old-corpus side all derive from the same 16-column
    relation — materialize once (same reuse pattern as _shingles; r9).
    Tiny: one row per doc."""
    key = (id(spark), sf_dir)
    if key not in _MINHASH_WIDE_CACHE:
        _MINHASH_WIDE_CACHE[key] = D.minhash_wide(
            _docs(spark, sf_dir), shingles_df=_shingles(spark, sf_dir)
        ).cache()
    return _MINHASH_WIDE_CACHE[key]


_CAND_PAIRS_CACHE: dict = {}


def _cand_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared cached LSH candidate pairs: minhash_pairs reports them
    and the refined/clusters/canonical pipeline refines them —
    materialize the band self-join once (r9).  |candidates| rows."""
    key = (id(spark), sf_dir)
    if key not in _CAND_PAIRS_CACHE:
        _CAND_PAIRS_CACHE[key] = D.minhash_candidate_pairs(
            _docs(spark, sf_dir),
            shingles_df=_shingles(spark, sf_dir),
            wide_df=_minhash_wide(spark, sf_dir),
        ).cache()
    return _CAND_PAIRS_CACHE[key]


_REFINED_CACHE: dict = {}


def _refined_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared cached exact-Jaccard refined pairs: three contract
    queries consume them (jaccard_refined reports them;
    dedup_clusters/dedup_canonical run connected components over
    them) — the near-dup pipeline computes pairs once, so the
    contract should too (r9)."""
    key = (id(spark), sf_dir)
    if key not in _REFINED_CACHE:
        _REFINED_CACHE[key] = D.jaccard_refined_pairs(
            _docs(spark, sf_dir),
            shingles_df=_shingles(spark, sf_dir),
            cand_df=_cand_pairs(spark, sf_dir),
        ).cache()
    return _REFINED_CACHE[key]


_SIMHASH_CACHE: dict = {}


def _simhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared cached SimHash signature: `simhash` reports it and BOTH
    sides of simhash_hamming's pigeonhole band self-join consume it
    (the optimizer cannot reuse the aggregate across a
    BroadcastExchange) — materialize once (r9)."""
    key = (id(spark), sf_dir)
    if key not in _SIMHASH_CACHE:
        _SIMHASH_CACHE[key] = D.simhash(_docs(spark, sf_dir)).cache()
    return _SIMHASH_CACHE[key]


_SPANS_CACHE: dict = {}


def _dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared cached duplicate-span relation: `dup_spans` reports it
    and `dup_spans_cut` consumes it — materialize once (same pattern
    as _shingles)."""
    key = (id(spark), sf_dir)
    if key not in _SPANS_CACHE:
        _SPANS_CACHE[key] = D.dup_span_runs(_docs(spark, sf_dir)).cache()
    return _SPANS_CACHE[key]


def q_tokens_tf(spark, sf_dir):
    return A.term_doc_tf(_analyzed(spark, sf_dir))


def q_doc_stats(spark, sf_dir):
    return A.doc_stats(_analyzed(spark, sf_dir))


def q_term_df(spark, sf_dir):
    return A.dictionary(A.term_doc_tf(_analyzed(spark, sf_dir)))


def q_corpus_stats(spark, sf_dir):
    return A.corpus_stats(A.doc_stats(_analyzed(spark, sf_dir)))


def q_bm25_topk(spark, sf_dir):
    analyzed = _analyzed(spark, sf_dir)
    return df_scorer.score_query(
        spark,
        A.term_doc_tf(analyzed),
        A.doc_stats(analyzed),
        tokenize(FLAGSHIP_QUERY),
        k=TOPK,
        round_to=6,
    )


def q_sql_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-API surface (spark.sql over temp views): orders ⨝ customer ⨝
    nation revenue rollup. Money sums rounded to 2dp so float sum-order
    ulps cannot flip a digit at the hash boundary."""
    for t in ("customer", "orders", "nation"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT n.n_name,
               count(*) AS n_orders,
               round(sum(o.o_totalprice), 2) AS revenue
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
        """
    )


def q_sql_lang_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-API surface over the documents table."""
    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "documents_v"
    )
    return spark.sql(
        """
        SELECT lang, count(*) AS n_docs,
               round(avg(n_chars), 6) AS avg_chars,
               max(n_chars) AS max_chars
        FROM documents_v GROUP BY lang
        """
    )


def q_snapshot_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: carry descriptions from a simulated previous snapshot (every
    third doc) onto the current corpus by content key."""
    import pyspark.sql.functions as F

    docs = _docs(spark, sf_dir)
    prev = docs.where(F.col("doc_id") % 3 == 0).select(
        "text", F.concat(F.lit("desc-"), F.col("doc_id")).alias("description")
    )
    merged = MG.carry_over(docs.select("doc_id", "text"), prev, ["description"])
    # no NULLs in contract outputs: null-representation differs across
    # engines/arrow/pandas and would poison the driver's value hash
    return merged.select(
        "doc_id", F.coalesce("description", F.lit("")).alias("description")
    )


def q_stale_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8: stale set = existing − incoming (incoming drops doc_id%5==0)."""
    import pyspark.sql.functions as F

    docs = _docs(spark, sf_dir)
    incoming = docs.where(F.col("doc_id") % 5 != 0)
    return MG.stale_rows(
        docs.select("doc_id", "lang"), incoming, "doc_id"
    )


def q_salted_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north rule's named skew defuse as a contract query: salted
    two-stage count over the LOW-cardinality ``event_type`` key (a few
    hot values — the canonical skewed aggregate).  Result is identical
    to a plain groupBy; the salt only routes partials (operators/
    relational.py:salted_two_stage_count)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return R.salted_two_stage_count(
        ev.select("event_id", "event_type"), "event_type"
    )


def q_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming windowed aggregation on its unified BATCH path
    (streaming/windows.windowed_event_counts — same code serves
    readStream): 10-minute tumbling event-time windows over events.
    Window bounds exported as exact epoch µs (BIGINT both engines;
    epoch_us ↔ unix_micros — see memory: timestamp dtype parity)."""
    import pyspark.sql.functions as F

    from lean_explore_spark.streaming import windows as SW

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return SW.windowed_event_counts(ev).select(
        F.unix_micros("win_start").alias("win_start_us"),
        F.unix_micros("win_end").alias("win_end_us"),
        "event_type",
        "n_events",
        "total_value",
    )


_URL_SCHEMES = ["http", "HTTPS", "https", "HTTP"]
_URL_HOSTS = ["Example.COM", "site.org", "a.Net:8080", "b.io:443", "c.io:80"]
_URL_PATHS = ["/a", "/a/", "/A/b", "", "/p//"]
_URL_QUERIES = ["", "?b=2&a=1", "?utm_source=x&b=2", "?fbclid=abc",
                "?z=Z&utm_x=1&a=1"]
_URL_FRAGS = ["", "#frag"]


def q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-payload URL canonicalization (operators/webnorm.py) in the
    hash gate: raw URLs are synthesized per doc_id from spelling-
    variant components (case, default/non-default ports, trailing
    slashes, tracking params, fragments — all 7 documented rules
    exercised), identically in both engines; the oracle reimplements
    the rules in DuckDB list/regexp SQL."""
    import pyspark.sql.functions as F

    from lean_explore_spark.operators import webnorm as WN

    d = _docs(spark, sf_dir).select("doc_id")

    def pick(options, expr):
        return F.element_at(
            F.array(*[F.lit(o) for o in options]),
            F.expr(f"cast(({expr}) % {len(options)} + 1 as int)"),
        )

    raw = d.select(
        "doc_id",
        F.concat(
            pick(_URL_SCHEMES, "doc_id"),
            F.lit("://"),
            pick(_URL_HOSTS, "doc_id div 4"),
            pick(_URL_PATHS, "doc_id div 20"),
            pick(_URL_QUERIES, "doc_id div 100"),
            pick(_URL_FRAGS, "doc_id div 500"),
        ).alias("url"),
    )
    return raw.select(
        "doc_id", WN.canonical_url(F.col("url")).alias("canonical_url")
    )


_CLF_POS_SOURCES = ("src0", "src1", "src2", "src3", "src4")


def q_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-trained NB log-odds quality classifier
    (operators/classifier.py — the CCNet/DCLM model-based-filter
    stage).  Seeds: sources src0–src4 positive, the rest negative (a
    deterministic stand-in for wiki-vs-crawl labels); the WHOLE corpus
    is then scored.  Weights are differences of integer-micro-nat-
    quantized ln's (the proven unigram_nll primitive), so the oracle
    reproduces them bit-exactly."""
    import pyspark.sql.functions as F

    from lean_explore_spark.operators import classifier as CL

    d = _docs(spark, sf_dir)
    pos = d.where(F.col("source").isin(*_CLF_POS_SOURCES))
    neg = d.where(~F.col("source").isin(*_CLF_POS_SOURCES))
    return CL.classifier_score(d, CL.nb_logodds_weights(pos, neg))


def q_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host corpus priors (webnorm.host_stats) over the SAME
    deterministic URL synthesis as url_canonical; host extraction
    strips scheme/userinfo/port and lowercases, so the 5 spelling-
    variant authorities collapse to 5 clean hosts with n_pages /
    n_langs / total_chars aggregates."""
    import pyspark.sql.functions as F

    from lean_explore_spark.operators import webnorm as WN

    d = _docs(spark, sf_dir)

    def pick(options, expr):
        return F.element_at(
            F.array(*[F.lit(o) for o in options]),
            F.expr(f"cast(({expr}) % {len(options)} + 1 as int)"),
        )

    pages = d.select(
        "text",
        "lang",
        F.concat(
            pick(_URL_SCHEMES, "doc_id"),
            F.lit("://"),
            pick(_URL_HOSTS, "doc_id div 4"),
            pick(_URL_PATHS, "doc_id div 20"),
            pick(_URL_QUERIES, "doc_id div 100"),
            pick(_URL_FRAGS, "doc_id div 500"),
        ).alias("url"),
    )
    return WN.host_stats(pages)


def q_novel_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl near-dup gate (dedup.novel_docs): old corpus
    = documents; new batch synthesized deterministically from it —
    exact copies (doc_id%5==0, +1e9), 3-token-appended near-dups
    (%5==1, +2e9), and token-REVERSED texts (%5==2, +3e9; trigram
    shingles differ ⇒ novel).  Copies/near-dups must drop, reversed
    must survive; the oracle mirrors the FULL LSH+refine computation
    so whatever the bands catch, both engines agree exactly."""
    import pyspark.sql.functions as F

    from lean_explore_spark.operators import dedup as DD

    old = _docs(spark, sf_dir).select("doc_id", "text")
    toks = F.expr(DD.SQL_TOKENS)
    new = (
        old.where(F.expr("doc_id % 5 = 0")).select(
            (F.col("doc_id") + F.lit(1_000_000_000)).alias("doc_id"), "text"
        )
        .unionAll(
            old.where(F.expr("doc_id % 5 = 1")).select(
                (F.col("doc_id") + F.lit(2_000_000_000)).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" zzqa zzqb zzqc")).alias(
                    "text"
                ),
            )
        )
        .unionAll(
            old.where(F.expr("doc_id % 5 = 2")).select(
                (F.col("doc_id") + F.lit(3_000_000_000)).alias("doc_id"),
                F.array_join(F.reverse(toks), " ").alias("text"),
            )
        )
    )
    # the synthesized batch is consumed by the band-key subtree, the
    # final anti-join AND the output projection — persist the narrow
    # union once (r9; the reversed-token branch re-ran its regexp per
    # consumer otherwise)
    new = new.persist()
    # the old corpus IS the shared docs relation: reuse the cached
    # shingle + wide-signature relations instead of re-deriving both
    # LSH stacks from text (r9; the at-scale analog is the stored
    # artifact path, novel_docs_stored)
    return DD.novel_docs(
        new,
        old,
        old_shingles=_shingles(spark, sf_dir),
        old_band_keys=DD._band_keys(
            old, wide_df=_minhash_wide(spark, sf_dir)
        ),
    ).select("doc_id", F.size(toks).cast("long").alias("n_tokens"))


def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-fitted BPE (operators/bpe.py): 200 merges trained on the
    sf corpus's word histogram, then real subword token counts per
    doc.  Deterministic end to end (histogram order + lexicographic
    tie-breaks), so repeated driver runs hash-stably even though no
    SQL oracle exists (rows-only row by design)."""
    from lean_explore_spark.operators import bpe as BP

    d = _docs(spark, sf_dir)
    return BP.bpe_token_counts(d, BP.bpe_train(d, n_merges=200))


def q_bpe_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE trainer's SQL-expressible stage (VERDICT r7 #3): the
    symbol-pair histogram of the initial character+EOW decomposition,
    top 50 by (cnt desc, pair asc).  Row 1 is the trainer's first
    merge under its documented tie-break (pinned vs train_merges in
    tests/test_bpe.py), so the driver hash-checks the stage that
    feeds the rows-only iterated-merge loop."""
    from lean_explore_spark.operators import bpe as BP

    return BP.pair_histogram(_docs(spark, sf_dir), top_k=50)


def q_packed_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver check for textstats.pack_token_ids (r8, the materialized
    packing finale): token ids are SQL-expressible 60-bit md5 folds of
    the whitespace tokens, packed at budget 64 in doc_id order; each
    sequence exports an ORDER-SENSITIVE fingerprint —
    bit_xor(fold15(md5(pos_in_seq:id))) — so within-sequence token
    order is hash-checked, not just membership.  The oracle rebuilds
    the concatenated stream with a window cumsum and chunks by integer
    division (the pack_sequences oracle pattern)."""
    import pyspark.sql.functions as F

    from lean_explore_spark.operators import textstats as TT

    d = _docs(spark, sf_dir)

    # Arrow batch encoder (r9, guide §4.2): the old in-row
    # transform(...conv(md5...)) evaluated its lambda INTERPRETED per
    # token; hashlib.md5 + int(hex, 16) produce the identical 60-bit
    # folds (same algorithm, same hex prefix) on whole batches.
    def _encode(it):
        import hashlib as _hl
        import re as _re

        import pandas as _pd

        pat = _re.compile(r"\w+", _re.ASCII)
        for pdf in it:
            ids, counts, tid = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = pat.findall((text or "").lower())
                ids.append(doc_id)
                counts.append(len(toks))
                tid.append(
                    [
                        int(_hl.md5(w.encode()).hexdigest()[:15], 16)
                        for w in toks
                    ]
                )
            yield _pd.DataFrame(
                {
                    "doc_id": _pd.Series(ids, dtype="int64"),
                    "n_tokens": _pd.Series(counts, dtype="int64"),
                    "token_ids": tid,
                }
            )

    enc = d.select("doc_id", "text").mapInPandas(
        _encode, "doc_id long, n_tokens long, token_ids array<long>"
    )
    # JVM-side sizing relation: the position-assignment pass needs only
    # (doc_id, n_tokens) — a regexp size, no md5 kernel run
    sized = d.select(
        "doc_id", F.size(F.expr(TT.SQL_TOKENS)).cast("long").alias("n_tokens")
    )
    packed = TT.pack_token_ids(enc, budget=64, sized_df=sized)
    ex = packed.select(
        "seq_id", "n_tokens",
        F.posexplode("token_ids").alias("pis", "hid"),
    )
    return (
        ex.groupBy("seq_id", "n_tokens")
        .agg(
            F.expr(
                "bit_xor(cast(conv(substring(md5(concat("
                "cast(pis as string), ':', cast(hid as string))), 1, 15),"
                " 16, 10) as bigint))"
            ).alias("fp")
        )
        # dtype parity with the FROZEN oracle (VERDICT r8 #1, r9): the
        # oracle's `gpos // 64 AS seq_id` is HUGEINT-typed in DuckDB, so
        # fetchdf() hands the driver float64 (6.0) while an int64 here
        # hashed differently — the r8 contract row's only red.  The
        # oracle SQL text is frozen this round, so parity is restored on
        # THIS side: export seq_id as double (values identical; small
        # integers are exact in float64).
        .select(F.col("seq_id").cast("double").alias("seq_id"),
                "n_tokens", "fp")
    )


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over a deterministic PII-bearing fixture.

    The synthetic corpus carries no PII, so the fixture derives
    emails / IPv4s / phones from customer columns with pure integer
    arithmetic + string concat (the oracle builds the byte-identical
    fixture in SQL); counts vary per row (1–2 emails, 0–1 IPs) so the
    hash actually exercises the counters, not a constant column.
    """
    import pyspark.sql.functions as F

    cust = _fan_out(spark.read.parquet(f"{sf_dir}/customer.parquet"))
    k = F.col("c_custkey").cast("long")
    email = F.concat(
        F.lower(F.regexp_replace(F.col("c_name"), "[^A-Za-z0-9]", ".")),
        F.lit("@example.com"),
    )
    phone = F.concat(
        (k % 90 + 10).cast("string"), F.lit("-"),
        (k % 900 + 100).cast("string"), F.lit("-"),
        ((k * 7) % 900 + 100).cast("string"), F.lit("-"),
        ((k * 13) % 9000 + 1000).cast("string"),
    )
    ip = F.concat(
        F.lit("10."), (k % 200).cast("string"),
        F.lit(".0."), (k % 250).cast("string"),
    )
    text = F.concat(
        F.lit("reach "), email,
        F.when(
            k % 3 == 0,
            F.concat(F.lit(" cc admin"), k.cast("string"), F.lit("@corp.net")),
        ).otherwise(F.lit("")),
        F.lit(" or call "), phone,
        F.when(k % 4 == 1, F.concat(F.lit(" from host "), ip)).otherwise(
            F.lit(" offline")
        ),
        F.lit(" segment "), F.lower(F.col("c_mktsegment")),
    )
    fixture = cust.select(k.alias("doc_id"), text.alias("text"))
    return PII.scrub_pii(fixture)


def q_topo_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2 (topological traversal) in the hash gate: a deterministic
    DAG over documents (edge doc_id → doc_id div 2 when the parent id
    exists — the implicit heap tree), levelled by graph.
    topological_levels (Kahn frontier peeling; level = longest-path
    depth from any source).  Oracle: WITH RECURSIVE longest-path from
    the sources — different algorithm, same levels."""
    import pyspark.sql.functions as F

    d = _docs(spark, sf_dir).select("doc_id")
    e = d.select(
        F.col("doc_id").alias("src"),
        F.expr("doc_id div 2").alias("dst"),  # integer div: 2^62-safe
    ).where("src > 0")
    e = e.join(d.withColumnRenamed("doc_id", "dst"), "dst", "left_semi")
    return G.topological_levels(e).select(
        "node", F.col("level").cast("long").alias("level")
    )


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-term sketch per lang (operators/sketch.py) — the
    'novel sketch' custom op, exactly mirrored in DuckDB."""
    import pyspark.sql.functions as F

    from lean_explore_spark.operators import sketch as SK

    toks = _docs(spark, sf_dir).select(
        "lang",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '\\\\w+', 0)")
        ).alias("term"),
    )
    return SK.kmv_distinct(toks, "lang", "term")


HYBRID_FAISS_K = 100
HYBRID_SIM_THRESHOLD = 0.1
HYBRID_LIMIT = 50


def q_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end hybrid pipeline as ONE contract query (F16/A5/W1/W2
    jointly): in-corpus query vector (vec QUERY_VEC_ID) → cosine
    top-faiss_k candidates → similarity threshold → candidate BM25
    (FLAGSHIP_QUERY, SQL analyzer) → reference min-max normalize +
    weighted combine (query/hybrid.combine_df, exact search.py:687-777
    rules) → top-limit by final score.  PageRank signal is the
    deterministic stand-in 1/(1+doc_id) (exact in both engines)."""
    import pyspark.sql.functions as F

    from lean_explore_spark.query import hybrid

    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qvec")
    )
    sims = (
        emb.where(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            (
                S._dot("embedding", "qvec")
                / (S._norm("embedding") * S._norm("qvec"))
            ).alias("sim"),
        )
    )
    top = sims.orderBy(F.desc("sim"), F.asc("vec_id")).limit(HYBRID_FAISS_K)
    cand = top.where(F.col("sim") >= HYBRID_SIM_THRESHOLD).select(
        F.col("vec_id").alias("doc_id"), "sim"
    )

    analyzed = _analyzed(spark, sf_dir)
    # candidate-pruned BM25 (r2 VERDICT #1): the ≤100-row candidate set
    # is broadcast into the term-pruned postings scan — no global sort,
    # no corpus-sized broadcast (the k=1e9 sort+broadcast scale-killer)
    bm = df_scorer.score_candidates_df(
        spark,
        A.term_doc_tf(analyzed),
        A.doc_stats(analyzed),
        tokenize(FLAGSHIP_QUERY),
        cand.select("doc_id"),
    ).select("doc_id", F.col("score").alias("bm25_raw"))

    joined = cand.join(F.broadcast(bm), "doc_id").select(
        "doc_id",
        "sim",
        (F.lit(1.0) / (F.lit(1) + F.col("doc_id"))).alias("pagerank"),
        F.greatest(F.lit(0.0), F.col("bm25_raw")).alias("bm25"),
    )
    combined = hybrid.combine_df(joined)
    return (
        combined.select(
            "doc_id",
            F.round("final_score", 6).alias("final_score"),
            F.round("norm_similarity", 6).alias("norm_similarity"),
            F.round("norm_pagerank", 6).alias("norm_pagerank"),
            F.round("norm_bm25", 6).alias("norm_bm25"),
        )
        .orderBy(F.desc("final_score"), F.asc("doc_id"))
        .limit(HYBRID_LIMIT)
    )


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over the embeddings table: train nlist=8 coarse
    centroids, probe 4, exact rerank — (vec_id, cos) scalars."""
    import numpy as np

    emb = _emb(spark, sf_dir)
    centroids, assigned = S.ivf_build(emb, nlist=8)
    qvec = np.asarray(
        emb.where(f"vec_id = {QUERY_VEC_ID}").head()["embedding"],
        dtype=np.float64,
    )
    out = S.ivf_topk(emb, assigned, centroids, qvec, k=21, nprobe=4)
    return out.where(f"vec_id <> {QUERY_VEC_ID}").limit(20)


def q_embed_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched embedding over documents, flattened to scalar rows
    (driver canonicalizer cannot hash array columns)."""
    import pyspark.sql.functions as F

    from lean_explore_spark.operators import embed as EM

    vecs = EM.embed_texts(_docs(spark, sf_dir))
    return vecs.select(
        "vec_id", F.posexplode("embedding").alias("dim", "value")
    ).select(
        "vec_id",
        F.col("dim").cast("long").alias("dim"),
        F.round(F.col("value").cast("double"), 6).alias("value"),
    )


# --------------------------------------------------------------------
# queries registry
# --------------------------------------------------------------------


def _row_is_green(v: dict) -> bool:
    """A driver correctness row counts as green when no comparison
    failed; ``err == 'no_oracle'`` is the documented rows-only outcome
    (the best result that entry can ever get), so it does not mark the
    key stale."""
    if not isinstance(v, dict):
        return False
    if (
        v.get("rows_match") is False
        or v.get("schema_match") is False
        or v.get("hash_match") is False
    ):
        return False
    return v.get("err") in (None, "no_oracle")


def _last_green_rounds(round_files) -> dict[str, int]:
    """key → 1-based index (in the sorted round-file list) of the most
    recent file containing a green row for that key.  Keys absent from
    every file map to nothing (treated as round 0 = most stale)."""
    import json

    last: dict[str, int] = {}
    for rnd, path in enumerate(sorted(round_files), start=1):
        try:
            rows = json.loads(Path(path).read_text())
        except (OSError, ValueError):
            continue
        for k, v in rows.items():
            if _row_is_green(v):
                last[k] = rnd
    return last


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Contract registry, rotated least-recently-green first.

    The driver caps each round's CORRECTNESS artifact at ~50 rows taken
    in insertion order (observed r5: 48, r6: 50/52, r7: 50/68 — exactly
    the first 50), so with >50 queries a static order starves the tail
    forever (VERDICT r7 #1).  Reordering by the most recent green row in
    the committed CORRECTNESS_r*.json files makes the cap rotate: keys
    skipped in round N sort first in round N+1, so every key gets a
    driver row at least every ceil(n/50) rounds.  The order is a pure
    function of the committed round files (deterministic per round);
    ties break on registry insertion order.
    """
    base = _queries_base()
    last = _last_green_rounds(_REPO.glob("CORRECTNESS_r*.json"))
    pos = {k: i for i, k in enumerate(base)}
    ordered = sorted(base, key=lambda k: (last.get(k, 0), pos[k]))
    return {k: base[k] for k in ordered}


def _queries_base() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # BM25 engine stages
        "tokens_tf": q_tokens_tf,
        "doc_stats": q_doc_stats,
        "term_df": q_term_df,
        "corpus_stats": q_corpus_stats,
        "bm25_topk": q_bm25_topk,
        # dedup family
        "dedup_exact": lambda s, d: D.exact_dup_groups(_docs(s, d)),
        "minhash_signatures": lambda s, d: D.minhash_signatures(
            _docs(s, d), wide_df=_minhash_wide(s, d)
        ),
        "minhash_pairs": lambda s, d: _cand_pairs(s, d),
        "simhash": lambda s, d: _simhash_sig(s, d),
        "ngram_jaccard": lambda s, d: D.ngram_jaccard_pairs(
            _docs(s, d), shingles_df=_shingles(s, d)
        ),
        "jaccard_refined": lambda s, d: _refined_pairs(s, d),
        # connected components over refined pairs → canonical per
        # component (min-label propagation vs recursive-CTE closure)
        "dedup_clusters": lambda s, d: D.dup_clusters(
            _refined_pairs(s, d).select("doc_a", "doc_b")
        ),
        # the corpus AFTER near-dup removal (anti-join of cluster
        # losers) — the pipeline's actual output relation
        "dedup_canonical": lambda s, d: D.canonicalize(
            _docs(s, d),
            _refined_pairs(s, d).select("doc_a", "doc_b"),
        ).select("doc_id", "lang"),
        "simhash_hamming": lambda s, d: D.simhash_hamming_pairs(
            _docs(s, d), sig_df=_simhash_sig(s, d)
        ),
        # exact substring dedup (Lee et al. 2022): maximal token spans
        # whose 8-grams repeat corpus-wide (self-repeats count)
        "dup_spans": _dup_spans,
        # ...and the cleaning payoff: corpus with every duplicated
        # span excised (all-copies policy), rebuilt token stream
        "dup_spans_cut": lambda s, d: D.cut_dup_spans(
            _docs(s, d), spans=_dup_spans(s, d)
        ),
        # keep-first policy (the paper's default): first occurrence of
        # each distinct span text survives, later copies are cut
        "dup_spans_keep_first": lambda s, d: D.cut_dup_spans(
            _docs(s, d), spans=_dup_spans(s, d), keep="first"
        ),
        # similarity / ANN
        "cosine_topk": lambda s, d: S.cosine_topk(_emb(s, d), QUERY_VEC_ID),
        "lsh_buckets": lambda s, d: S.rp_lsh_buckets(_emb(s, d)),
        "ann_lsh_topk": lambda s, d: S.ann_topk_lsh(_emb(s, d), QUERY_VEC_ID),
        "embedding_near_dup": lambda s, d: S.embedding_near_dup_pairs(_emb(s, d)),
        # text analysis
        "lang_id": lambda s, d: T.lang_id(_docs(s, d)),
        # deterministic content-addressed sampling (reproducible
        # replacement for rng sample(); per-stratum rebalancing)
        "stratified_sample": lambda s, d: T.stratified_hash_sample(
            _docs(s, d),
            {"en": 200, "de": 500, "zh": 1000},
            default_permille=100,
        ).select("doc_id", "lang"),
        # top-k-by-quality per language (C4/Gopher-style group filter)
        "quality_topk": lambda s, d: T.quality_topk_per_group(
            _docs(s, d), k=25
        ),
        "quality_score": lambda s, d: T.quality_score(_docs(s, d)),
        # Gopher repetition signals (Rae et al. 2021 table A1)
        "gopher_repetition": lambda s, d: T.gopher_repetition(_docs(s, d)),
        # Gopher document-quality rule battery (same table, r7)
        "gopher_quality": lambda s, d: T.gopher_quality(_docs(s, d)),
        # C4 cleaning heuristics (Raffel et al. 2020 §2.2, r7)
        "c4_quality": lambda s, d: T.c4_quality(_docs(s, d)),
        # corpus-unigram LM scoring (CCNet perplexity-filter analog, r7)
        "unigram_nll": lambda s, d: T.unigram_nll(_docs(s, d)),
        # seed-trained NB log-odds quality classifier (CCNet/DCLM
        # fastText-stage analog; r7)
        "classifier_score": q_classifier_score,
        # corpus-wide duplicate-line removal (CCNet boilerplate filter,
        # r7; keep-first stream-order policy)
        "line_dedup": lambda s, d: D.dedup_lines(_docs(s, d)),
        # WITHIN-doc duplicate-line removal (FineWeb intra-doc
        # repetition cleanup; r7 — grouping key includes doc_id so no
        # corpus-wide hot key can exist)
        "line_dedup_doc": lambda s, d: D.dedup_lines(
            _docs(s, d), scope="doc"
        ),
        # domain mixing to a token budget (The Pile / DoReMi / DCLM
        # mixture-weights stage; r7) — all-integer rates, corpus never
        # shuffles
        "domain_mix": lambda s, d: MX.domain_mix(
            _docs(s, d), _MIX_WEIGHTS_PPM, budget_tokens=_MIX_BUDGET
        ),
        # deterministic global training shuffle + fixed-size shards
        # (r7) — two-phase parallel rank, never a global-orderBy window
        "shuffle_rank": lambda s, d: MX.shuffle_rank(
            _docs(s, d), shard_docs=64
        ),
        # EXACT corpus token-length quantiles via the length-histogram
        # cumsum (inverse empirical CDF, integer math; r7)
        "length_quantiles": lambda s, d: T.length_quantiles(_docs(s, d)),
        # corpus-fitted BPE subword tokenizer: one-pass word histogram
        # → driver merge loop → broadcast Arrow encode (r7).  ROWS-ONLY
        # contract entry: iterated data-dependent merges are not
        # expressible in one SQL query (documented exemption in
        # tests/test_driver_contract.py); correctness is pinned by the
        # naive-trainer differential + hand cases in tests/test_bpe.py.
        "bpe_tokens": q_bpe_tokens,
        # ...and the trainer's SQL-expressible first stage, hash-
        # oracled: char-pair histogram whose top row is the first
        # merge selection (count desc, pair asc tie-break; r8)
        "bpe_histogram": q_bpe_histogram,
        # sliding-window passage chunking (DPR/ColBERT retrieval prep;
        # r7) — in-row start sequence + slice/array_join, one explicit
        # repartition, no other shuffle
        "chunk_passages": lambda s, d: T.chunk_passages(_docs(s, d)),
        # incremental-crawl near-dup gate: new batch vs the EXISTING
        # corpus via stored band keys + candidate-only jaccard refine
        # (r7) — never all-pairs, old corpus moves only as band keys
        "novel_docs": q_novel_docs,
        # benchmark decontamination (8-gram overlap vs a probe set —
        # the deterministic 2% hash sample stands in for an eval
        # suite; r7)
        "decontaminate": lambda s, d: D.decontaminate(
            _docs(s, d), T.hash_sample(_docs(s, d), 20, salt="contam")
        ),
        # training-sequence packing (global prefix sum WITHOUT the
        # single-partition window trap — two-phase cumsum; r7)
        "pack_sequences": lambda s, d: T.pack_sequences(
            _docs(s, d), budget=512
        ),
        # ...and the MATERIALIZED packed sequences (r8): hash-fold ids
        # packed at budget 64, order-sensitive per-sequence fingerprint
        "packed_ids": q_packed_ids,
        "token_counts": lambda s, d: T.token_counts(_docs(s, d)),
        "fingerprint": lambda s, d: T.fingerprint(_docs(s, d)),
        # relational operator classes
        "region_rollup": R.region_rollup,
        "customers_without_orders": R.customers_without_orders,
        "top_orders_per_customer": R.top_orders_per_customer,
        "shipments_in_window": R.shipments_in_window,
        "acctbal_minmax_norm": R.acctbal_minmax_norm,
        "pricing_summary": R.pricing_summary,
        "event_sessionization": R.event_sessionization,
        # north-rule skew defuse (salted two-stage aggregation)
        "salted_count": q_salted_count,
        # web-payload URL canonicalization (webnorm.canonical_url)
        "url_canonical": q_url_canonical,
        # per-host corpus priors (webnorm.host_stats; r7)
        "host_stats": q_host_stats,
        # PII scrubbing (emails/IPs/phones → tokens; counts on the
        # original text) over a deterministic customer-derived fixture
        "pii_scrub": q_pii_scrub,
        # unified batch/stream windowed event-time aggregation
        "windowed_counts": q_windowed_counts,
        # as-of join (point-in-time lookup; union+window composition)
        "asof_attribution": R.purchase_attribution,
        # KMV distinct sketch (deterministic, oracle-checkable)
        "kmv_distinct": q_kmv_distinct,
        # full hybrid pipeline (F16/A5 jointly, service parity)
        "hybrid_topk": q_hybrid_topk,
        # pure SQL-API surface
        "sql_revenue_by_nation": q_sql_revenue_by_nation,
        "sql_lang_doc_stats": q_sql_lang_doc_stats,
        # snapshot merge / upsert (J7/J8)
        "snapshot_merge": q_snapshot_merge,
        "stale_docs": q_stale_docs,
        # iterative graph (fixed 20 iterations → unrolled-CTE oracle)
        "pagerank_supplier_part": G.supplier_part_pagerank,
        # G2 topological traversal (Kahn peeling vs recursive oracle)
        "topo_levels": q_topo_levels,
        # multimodal — ensure_py_files: these don't route through
        # _docs, but their mapInPandas closures still import the
        # package on executors
        "image_features": lambda s, d: (
            ensure_py_files(s),
            M.image_features_flat(M.generate_media(s, 300)),
        )[1],
        "video_frame_sample": lambda s, d: (
            ensure_py_files(s),
            M.frame_sample(M.generate_media(s, 300)),
        )[1],
        "audio_features": lambda s, d: (
            ensure_py_files(s),
            M.audio_features(M.generate_media(s, 300)),
        )[1],
        # IVF ANN (trained coarse quantizer; hash-oracled — the trained
        # centroids are inlined into the SQL as literals; exactness vs
        # brute force also pytest-asserted in tests/test_ivf_embed.py)
        "ivf_topk": q_ivf_topk,
        # batched executor-side embedding (G3 shape; md5-integer unit
        # vectors — hash-oracled; batch-invariance and stub parity
        # pytest-asserted)
        "embed_texts": q_embed_texts,
    }


# --------------------------------------------------------------------
# DuckDB oracles
# --------------------------------------------------------------------

_TOK = r"""
tok AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\w+')) AS term
  FROM documents
),
dl AS (SELECT doc_id, count(*) AS doc_len FROM tok GROUP BY doc_id),
docs AS (
  SELECT d.doc_id, coalesce(dl.doc_len, 0) AS doc_len
  FROM documents d LEFT JOIN dl USING (doc_id)
),
tf AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id)
"""

_BM25_SQL = f"""
WITH {_TOK},
stats AS (SELECT count(*) AS n_docs, avg(doc_len) AS avgdl FROM docs),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
q AS (
  SELECT unnest(regexp_extract_all(lower('{FLAGSHIP_QUERY}'), '\\w+')) AS term
),
qt AS (SELECT term, CAST(count(*) AS DOUBLE) AS qtf FROM q GROUP BY term),
qidf AS (
  SELECT qt.term, qt.qtf, ln(stats.n_docs + 1.0) - ln(dfreq.df) AS idf
  FROM qt JOIN dfreq USING (term) CROSS JOIN stats
),
const AS (SELECT coalesce(sum(qtf * idf * 1.0), 0.0) AS c FROM qidf),
matched AS (
  SELECT tf.doc_id,
         sum(qidf.qtf * qidf.idf * (tf.tf * 2.5)
             / (1.5 * (0.25 + 0.75 * docs.doc_len / stats.avgdl) + tf.tf)) AS s
  FROM tf
  JOIN qidf USING (term)
  JOIN docs USING (doc_id)
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT d.doc_id, round(coalesce(m.s, 0.0) + const.c, 6) AS score
FROM docs d LEFT JOIN matched m USING (doc_id) CROSS JOIN const
ORDER BY round(coalesce(m.s, 0.0) + const.c, 6) DESC, d.doc_id ASC
LIMIT {TOPK}
"""

# shared fragments for the dedup family --------------------------------

_P = D.MERSENNE31

# word 3-gram shingles, distinct per doc
_SHINGLES = r"""
tl AS (
  SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS toks
  FROM documents
),
ptok AS (
  -- parallel unnest zips positionally (no WITH ORDINALITY in duckdb)
  SELECT doc_id, unnest(toks) AS term,
         unnest(generate_series(1, len(toks))) AS pos
  FROM tl
),
sh0 AS (
  SELECT doc_id,
         term || ' ' || lead(term, 1) OVER w || ' ' || lead(term, 2) OVER w
           AS shingle,
         lead(term, 2) OVER w AS _l2
  FROM ptok
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
sh AS (SELECT DISTINCT doc_id, shingle FROM sh0 WHERE _l2 IS NOT NULL),
digits AS (SELECT unnest(generate_series(1, 15)) AS i)
"""

# md5-hex(15 chars) → bigint fold, applied to sh → (doc_id, shingle, x)
_SHINGLE_X = f"""
xs AS (
  SELECT doc_id, shingle,
         CAST(sum((strpos('0123456789abcdef', substr(md5(shingle), i, 1)) - 1)
             * (CAST(1 AS BIGINT) << (4 * (15 - i)))) AS BIGINT) % {_P} AS x
  FROM sh CROSS JOIN digits
  GROUP BY doc_id, shingle
)
"""

_PARAMS_VALUES = ",".join(f"({i},{a},{b})" for i, a, b in D.HASH_PARAMS)

_MINHASH_SIG_SQL = f"""
WITH {_SHINGLES},
{_SHINGLE_X},
params(i, a, b) AS (VALUES {_PARAMS_VALUES})
SELECT doc_id, params.i AS i,
       min((params.a * xs.x + params.b) % {_P}) AS minhash
FROM xs CROSS JOIN params
GROUP BY doc_id, params.i
"""

_BANDS = f"""
sig AS (
  SELECT doc_id, params.i AS i,
         min((params.a * xs.x + params.b) % {_P}) AS minhash
  FROM xs CROSS JOIN params
  GROUP BY doc_id, params.i
),
bands AS (
  SELECT doc_id, i // {D.BAND_ROWS} AS band,
         concat_ws(',',
           max(CASE WHEN i % {D.BAND_ROWS} = 0 THEN minhash END),
           max(CASE WHEN i % {D.BAND_ROWS} = 1 THEN minhash END),
           max(CASE WHEN i % {D.BAND_ROWS} = 2 THEN minhash END),
           max(CASE WHEN i % {D.BAND_ROWS} = 3 THEN minhash END)) AS band_key
  FROM sig GROUP BY doc_id, i // {D.BAND_ROWS}
)
"""

_MINHASH_PAIRS_SQL = f"""
WITH {_SHINGLES},
{_SHINGLE_X},
params(i, a, b) AS (VALUES {_PARAMS_VALUES}),
{_BANDS}
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
"""

# MinHash-LSH candidates → exact Jaccard refine (the at-scale pipeline
# composition): same CTE stack as minhash_pairs + the jaccard tail
# restricted to candidates
_JACCARD_REFINED_SQL = f"""
WITH {_SHINGLES},
{_SHINGLE_X},
params(i, a, b) AS (VALUES {_PARAMS_VALUES}),
{_BANDS},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT c.doc_a, c.doc_b, count(*) AS common
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b,
       round(common / (sa.n_sh + sb.n_sh - common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE common / (sa.n_sh + sb.n_sh - common) >= 0.5
"""

# near-dup CLUSTERING: connected components over the refined pairs,
# cluster_id = component min.  Oracle = WITH RECURSIVE transitive
# closure over the symmetric pair edges (UNION dedups → terminates);
# Spark side = min-label propagation (dedup.dup_clusters), which
# computes the same component minima by a different algorithm — the
# value identity IS the check.
_DUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {_SHINGLES},
{_SHINGLE_X},
params(i, a, b) AS (VALUES {_PARAMS_VALUES}),
{_BANDS},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT c.doc_a, c.doc_b, count(*) AS common
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b
),
dup_pairs AS (
  SELECT doc_a, doc_b
  FROM common
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE common / (sa.n_sh + sb.n_sh - common) >= 0.5
),
e AS (
  SELECT doc_a AS a, doc_b AS b FROM dup_pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM dup_pairs
),
reach(a, b) AS (
  SELECT a, b FROM e
  UNION
  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a
),
nodes AS (SELECT DISTINCT a AS node FROM e),
mn AS (SELECT a AS node, min(b) AS m FROM reach GROUP BY a)
SELECT nodes.node AS doc_id,
       least(nodes.node, coalesce(mn.m, nodes.node)) AS cluster_id
FROM nodes LEFT JOIN mn USING (node)
"""

# corpus after near-dup removal: documents minus cluster LOSERS
# (members whose id is not the component min) — nests the clusters
# oracle as a subquery
_DEDUP_CANONICAL_SQL = f"""
SELECT d.doc_id, d.lang FROM documents d
WHERE d.doc_id NOT IN (
  SELECT doc_id FROM ({_DUP_CLUSTERS_SQL}) WHERE doc_id <> cluster_id
)
"""

_SIMHASH_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\w+')) AS term
  FROM documents
),
tfx AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
digits AS (SELECT unnest(generate_series(1, 15)) AS i),
hx AS (
  SELECT doc_id, tf,
         CAST(sum((strpos('0123456789abcdef', substr(md5(term), i, 1)) - 1)
             * (CAST(1 AS BIGINT) << (4 * (15 - i)))) AS BIGINT) AS x
  FROM tfx CROSS JOIN digits
  GROUP BY doc_id, term, tf
),
bitsj AS (SELECT unnest(generate_series(0, {D.SIMHASH_BITS - 1})) AS j),
votes AS (
  SELECT doc_id, j, sum(tf * (((x >> j) & 1) * 2 - 1)) AS v
  FROM hx CROSS JOIN bitsj
  GROUP BY doc_id, j
)
SELECT doc_id,
       CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)
            AS BIGINT) AS simhash
FROM votes GROUP BY doc_id
"""

_SIMHASH_HAMMING_SQL = f"""
WITH sim AS ({_SIMHASH_SQL}),
bnum AS (SELECT unnest(generate_series(0, 3)) AS band),
banded AS (
  SELECT doc_id, simhash, band, (simhash >> (12 * band)) & 4095 AS v
  FROM sim CROSS JOIN bnum
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sa, b.simhash AS sb
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.v = b.v AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(sa, sb)) <= 3
"""

_JACCARD_SQL = f"""
WITH {_SHINGLES},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       round(common / (sa.n_sh + sb.n_sh - common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE common / (sa.n_sh + sb.n_sh - common) >= 0.5
"""

# exact substring dedup (Lee et al. 2022 analog): the oracle joins on
# the gram TEXT itself — engine-neutral with no hash at all — while the
# Spark side shuffles only the md5-derived 60-bit int; identical spans
# unless md5 collides inside one corpus (the gate would catch it)
_DUP_SPANS_SQL = r"""
WITH tl AS (
  SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS toks
  FROM documents
),
ptok AS (
  SELECT doc_id, unnest(toks) AS term,
         unnest(generate_series(1, len(toks))) AS pos
  FROM tl
),
g0 AS (
  SELECT doc_id, pos,
         term || ' ' || lead(term, 1) OVER w || ' ' || lead(term, 2) OVER w
              || ' ' || lead(term, 3) OVER w || ' ' || lead(term, 4) OVER w
              || ' ' || lead(term, 5) OVER w || ' ' || lead(term, 6) OVER w
              || ' ' || lead(term, 7) OVER w AS gram,
         lead(term, 7) OVER w AS _l
  FROM ptok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
grams AS (SELECT doc_id, pos, gram FROM g0 WHERE _l IS NOT NULL),
hot AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2),
dup AS (SELECT g.doc_id, g.pos FROM grams g JOIN hot USING (gram)),
runs AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rid
  FROM dup
)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + 7 AS BIGINT) AS span_end,
       CAST(count(*) AS BIGINT) AS n_grams
FROM runs GROUP BY doc_id, rid
"""

# span-cut corpus: the spans CTE is the dup-spans oracle verbatim
# (DuckDB supports a full WITH query inside a CTE body, same pattern
# as _SIMHASH_HAMMING_SQL); rebuild = ordered string_agg of surviving
# token positions
_DUP_SPANS_CUT_SQL = r"""
WITH spans AS (""" + _DUP_SPANS_SQL + r"""),
tl2 AS (
  SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS toks
  FROM documents
),
ptok2 AS (
  SELECT doc_id, unnest(toks) AS term,
         unnest(generate_series(1, len(toks))) AS pos
  FROM tl2
),
kill AS (
  SELECT doc_id, unnest(generate_series(span_start, span_end)) AS pos
  FROM spans
),
kept AS (
  SELECT p.doc_id, p.pos, p.term
  FROM ptok2 p LEFT JOIN kill k
    ON k.doc_id = p.doc_id AND k.pos = p.pos
  WHERE k.pos IS NULL
),
reb AS (
  SELECT doc_id, string_agg(term, ' ' ORDER BY pos) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
),
nt AS (
  SELECT doc_id,
         len(regexp_extract_all(lower(text), '\w+')) AS n_tokens
  FROM documents
)
SELECT nt.doc_id,
       coalesce(reb.clean_text, '') AS clean_text,
       CAST(nt.n_tokens - coalesce(reb.n_kept, 0) AS BIGINT)
         AS n_removed_tokens
FROM nt LEFT JOIN reb ON reb.doc_id = nt.doc_id
"""

# keep-first span cut (the Lee et al. DEFAULT policy): rank span
# occurrences per distinct span TEXT by (doc_id, span_start); only
# rn > 1 occurrences join the kill list.  The oracle partitions by the
# span text itself (hash-free); the Spark side windows over the
# md5-int span key — identical groups barring an in-corpus collision
_DUP_SPANS_KEEP_FIRST_SQL = r"""
WITH spans AS (""" + _DUP_SPANS_SQL + r"""),
tl2 AS (
  SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS toks
  FROM documents
),
keyed AS (
  SELECT s.doc_id, s.span_start, s.span_end,
         array_to_string(
           list_slice(t.toks, s.span_start, s.span_end), ' '
         ) AS span_text
  FROM spans s JOIN tl2 t ON t.doc_id = s.doc_id
),
cutspans AS (
  SELECT doc_id, span_start, span_end
  FROM (
    SELECT doc_id, span_start, span_end,
           row_number() OVER (
             PARTITION BY span_text ORDER BY doc_id, span_start
           ) AS rn
    FROM keyed
  ) WHERE rn > 1
),
ptok2 AS (
  SELECT doc_id, unnest(toks) AS term,
         unnest(generate_series(1, len(toks))) AS pos
  FROM tl2
),
kill AS (
  SELECT doc_id, unnest(generate_series(span_start, span_end)) AS pos
  FROM cutspans
),
kept AS (
  SELECT p.doc_id, p.pos, p.term
  FROM ptok2 p LEFT JOIN kill k
    ON k.doc_id = p.doc_id AND k.pos = p.pos
  WHERE k.pos IS NULL
),
reb AS (
  SELECT doc_id, string_agg(term, ' ' ORDER BY pos) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
),
nt AS (
  SELECT doc_id,
         len(regexp_extract_all(lower(text), '\w+')) AS n_tokens
  FROM documents
)
SELECT nt.doc_id,
       coalesce(reb.clean_text, '') AS clean_text,
       CAST(nt.n_tokens - coalesce(reb.n_kept, 0) AS BIGINT)
         AS n_removed_tokens
FROM nt LEFT JOIN reb ON reb.doc_id = nt.doc_id
"""

# Gopher repetition signals: chars measured on the space-joined token
# stream; most-frequent-gram tie-break = (count, length, text) DESC in
# both engines (Spark max(struct) lexicographic = this ORDER BY)
def _gopher_gn(n: int) -> str:
    w = f"w{n}"
    gram = "term" + "".join(
        f" || ' ' || lead(term, {i}) OVER {w}" for i in range(1, n)
    )
    return (
        f"SELECT doc_id, {n} AS n, {gram} AS gram,"
        f" lead(term, {n - 1}) OVER {w} AS _l FROM ptok"
        f" WINDOW {w} AS (PARTITION BY doc_id ORDER BY pos)"
    )


_GOPHER_SQL = r"""
WITH tl AS (
  SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS toks
  FROM documents
),
base AS (
  SELECT doc_id,
         CAST(length(array_to_string(toks, ' ')) AS BIGINT) AS denom
  FROM tl
),
ptok AS (
  SELECT doc_id, unnest(toks) AS term,
         unnest(generate_series(1, len(toks))) AS pos
  FROM tl
),
gn AS (
""" + "\n  UNION ALL\n".join(_gopher_gn(n) for n in (2, 3, 5, 8)) + r"""
),
grams AS (SELECT doc_id, n, gram FROM gn WHERE _l IS NOT NULL),
cnt AS (
  SELECT doc_id, n, gram, count(*) AS c FROM grams GROUP BY doc_id, n, gram
),
ranked AS (
  SELECT doc_id, n, c, CAST(length(gram) AS BIGINT) AS l,
         row_number() OVER (
           PARTITION BY doc_id, n
           ORDER BY c DESC, length(gram) DESC, gram DESC
         ) AS rn
  FROM cnt
),
topn AS (SELECT doc_id, n, c * l AS top_chars FROM ranked WHERE rn = 1),
dupn AS (
  SELECT doc_id, n,
         CAST(sum(CASE WHEN c >= 2 THEN c * length(gram) ELSE 0 END)
              AS BIGINT) AS dup_chars
  FROM cnt GROUP BY doc_id, n
)
SELECT b.doc_id,
  CASE WHEN b.denom > 0 THEN
    round(coalesce(max(CASE WHEN t.n = 2 THEN t.top_chars END), 0)
          / b.denom, 6) ELSE 0.0 END AS top2_char_frac,
  CASE WHEN b.denom > 0 THEN
    round(coalesce(max(CASE WHEN t.n = 3 THEN t.top_chars END), 0)
          / b.denom, 6) ELSE 0.0 END AS top3_char_frac,
  CASE WHEN b.denom > 0 THEN
    round(coalesce(max(CASE WHEN d.n = 5 THEN d.dup_chars END), 0)
          / b.denom, 6) ELSE 0.0 END AS dup5_char_frac,
  CASE WHEN b.denom > 0 THEN
    round(coalesce(max(CASE WHEN d.n = 8 THEN d.dup_chars END), 0)
          / b.denom, 6) ELSE 0.0 END AS dup8_char_frac
FROM base b
LEFT JOIN topn t ON t.doc_id = b.doc_id
LEFT JOIN dupn d ON d.doc_id = b.doc_id
GROUP BY b.doc_id, b.denom
"""

# Gopher quality rule battery (r7): signals + pass flag, evaluated on
# the same 6dp-rounded values as the Spark side so boundary docs can't
# split engines; bounds and the stop list come verbatim from
# textstats.GOPHER_* constants.
_GQ_STOPS = ", ".join(f"'{w}'" for w in T.GOPHER_STOP_WORDS)
_GOPHER_QUALITY_SQL = rf"""
WITH base AS (
  SELECT doc_id,
    CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
         w -> w <> '')) AS BIGINT) AS n_words,
    length(regexp_replace(text, '\s', '', 'g')) AS wc,
    len(list_filter(list_filter(regexp_split_to_array(text, '\s+'),
        w -> w <> ''), w -> regexp_matches(w, '[A-Za-z]'))) AS aw,
    len(string_split(text, chr(10))) AS nl,
    len(list_filter(string_split(text, chr(10)),
        l -> list_contains(['•','-','*'], substr(ltrim(l), 1, 1)))) AS bl,
    len(list_filter(string_split(text, chr(10)),
        l -> ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…')))
      AS el,
    (length(text) - length(replace(text, '#', '')))
      + (length(text) - length(replace(text, '…', '')))
      + (length(text) - length(replace(text, '...', ''))) // 3 AS sym,
    CAST(len(list_intersect(regexp_extract_all(lower(text), '\w+'),
         [{_GQ_STOPS}])) AS BIGINT) AS n_stop_hits
  FROM documents
),
m AS (
  SELECT doc_id, n_words,
    round(CASE WHEN n_words > 0 THEN wc / n_words ELSE 0.0 END, 6)
      AS mean_word_len,
    round(CASE WHEN n_words > 0 THEN sym / n_words ELSE 0.0 END, 6)
      AS symbol_word_ratio,
    round(CASE WHEN nl > 0 THEN bl / nl ELSE 0.0 END, 6)
      AS bullet_line_frac,
    round(CASE WHEN nl > 0 THEN el / nl ELSE 0.0 END, 6)
      AS ellipsis_line_frac,
    round(CASE WHEN n_words > 0 THEN aw / n_words ELSE 0.0 END, 6)
      AS alpha_word_frac,
    n_stop_hits
  FROM base
)
SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
  bullet_line_frac, ellipsis_line_frac, alpha_word_frac, n_stop_hits,
  CAST(CASE WHEN n_words >= {T.GOPHER_MIN_WORDS}
    AND n_words <= {T.GOPHER_MAX_WORDS}
    AND mean_word_len >= {T.GOPHER_MIN_MEAN_WORD_LEN}
    AND mean_word_len <= {T.GOPHER_MAX_MEAN_WORD_LEN}
    AND symbol_word_ratio <= {T.GOPHER_MAX_SYMBOL_RATIO}
    AND bullet_line_frac <= {T.GOPHER_MAX_BULLET_FRAC}
    AND ellipsis_line_frac <= {T.GOPHER_MAX_ELLIPSIS_FRAC}
    AND alpha_word_frac >= {T.GOPHER_MIN_ALPHA_FRAC}
    AND n_stop_hits >= {T.GOPHER_MIN_STOP_HITS}
    THEN 1 ELSE 0 END AS BIGINT) AS gopher_pass
FROM m
"""

# C4 cleaning heuristics (r7): same replace()/list-lambda arithmetic as
# the Spark side; the pass flag uses textstats.C4_* constants verbatim.
_C4_QUALITY_SQL = rf"""
WITH base AS (
  SELECT doc_id,
    CAST((length(text) - length(replace(text, '.', '')))
       + (length(text) - length(replace(text, '!', '')))
       + (length(text) - length(replace(text, '?', ''))) AS BIGINT)
      AS n_sentences,
    len(string_split(text, chr(10))) AS nl,
    len(list_filter(string_split(text, chr(10)),
        l -> list_contains(['.','!','?','"'], right(rtrim(l), 1)))) AS tl,
    len(list_filter(string_split(text, chr(10)),
        l -> len(list_filter(regexp_split_to_array(l, '\s+'),
                 w -> w <> '')) < {T.C4_MIN_LINE_WORDS})) AS sl,
    len(list_filter(string_split(text, chr(10)),
        l -> contains(lower(l), 'javascript'))) AS jl,
    CAST(CASE WHEN contains(text, '{{') THEN 1 ELSE 0 END AS BIGINT)
      AS has_curly,
    CAST(CASE WHEN contains(lower(text), 'lorem ipsum') THEN 1 ELSE 0 END
      AS BIGINT) AS has_lorem_ipsum
  FROM documents
)
SELECT doc_id, n_sentences,
  round(CASE WHEN nl > 0 THEN tl / nl ELSE 0.0 END, 6)
    AS terminal_punct_line_frac,
  round(CASE WHEN nl > 0 THEN sl / nl ELSE 0.0 END, 6)
    AS short_line_frac,
  round(CASE WHEN nl > 0 THEN jl / nl ELSE 0.0 END, 6)
    AS javascript_line_frac,
  has_curly, has_lorem_ipsum,
  CAST(CASE WHEN n_sentences >= {T.C4_MIN_SENTENCES}
    AND has_curly = 0 AND has_lorem_ipsum = 0
    THEN 1 ELSE 0 END AS BIGINT) AS c4_pass
FROM base
"""

# Corpus-unigram LM scoring (r7): per-term log-probs quantize to
# integer micro-nats BEFORE any aggregation, so float summation order
# cannot split the engines; only integer sums and one final exact
# division reach the rounded output.
_UNIGRAM_NLL_SQL = r"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\w+')) AS tok
  FROM documents
),
lm AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM lm),
lmp AS (
  SELECT tok,
         CAST(round(ln(CAST(c AS DOUBLE) / total) * 1000000) AS BIGINT)
           AS lpm
  FROM lm, tot
),
agg AS (
  SELECT doc_id, CAST(sum(lpm) AS BIGINT) AS s, count(*) AS n
  FROM tok JOIN lmp USING (tok) GROUP BY doc_id
)
SELECT d.doc_id,
  CAST(coalesce(a.n, 0) AS BIGINT) AS n_tokens,
  CASE WHEN coalesce(a.n, 0) > 0
    THEN round(-a.s / (a.n * 1000000.0), 6) ELSE 0.0 END AS avg_nll
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
"""

# Seed-trained NB log-odds classifier (r7): seeds src0-src4 vs rest,
# weights = difference of two integer-micro-nat-quantized ln's (the
# _UNIGRAM_NLL_SQL primitive), integer per-doc accumulation, one final
# exact-integer division.  All float arithmetic is forced to DOUBLE
# (DuckDB would otherwise run (cp + 0.5) in DECIMAL).
_CLASSIFIER_SCORE_SQL = r"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\w+')) AS tok
  FROM documents
),
lab AS (
  SELECT doc_id,
         source IN ('src0','src1','src2','src3','src4') AS pos
  FROM documents
),
cnt AS (
  SELECT t.tok,
         CAST(sum(CASE WHEN l.pos THEN 1 ELSE 0 END) AS BIGINT) AS cp,
         CAST(sum(CASE WHEN l.pos THEN 0 ELSE 1 END) AS BIGINT) AS cn
  FROM tok t JOIN lab l USING (doc_id)
  GROUP BY t.tok
),
tot AS (
  SELECT CAST(sum(cp) AS BIGINT) AS np,
         CAST(sum(cn) AS BIGINT) AS nn,
         CAST(count(*) AS BIGINT) AS v
  FROM cnt
),
wq AS (
  SELECT tok,
    CAST(round(ln((CAST(cp AS DOUBLE) + 0.5)
                  / (CAST(np AS DOUBLE) + 0.5 * CAST(v AS DOUBLE)))
               * 1000000) AS BIGINT)
    - CAST(round(ln((CAST(cn AS DOUBLE) + 0.5)
                    / (CAST(nn AS DOUBLE) + 0.5 * CAST(v AS DOUBLE)))
                 * 1000000) AS BIGINT) AS wq
  FROM cnt, tot
),
agg AS (
  SELECT doc_id,
         CAST(coalesce(sum(w.wq), 0) AS BIGINT) AS s,
         count(*) AS n
  FROM tok LEFT JOIN wq w USING (tok)
  GROUP BY doc_id
)
SELECT d.doc_id,
  CAST(coalesce(a.n, 0) AS BIGINT) AS n_tokens,
  CASE WHEN coalesce(a.n, 0) > 0
    THEN round(a.s / (a.n * 1000000.0), 6) ELSE 0.0 END AS clf_score
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
"""

# Corpus-wide duplicate-line removal (r7): the oracle keys the
# keep-first window on line TEXT (hash-free — deliberately different
# from the engine's 60-bit md5-int key, like the span-cut oracles).
_LINE_DEDUP_SQL = r"""
WITH lines AS (
  SELECT doc_id,
         unnest(string_split(text, chr(10))) AS line,
         unnest(generate_series(1, len(string_split(text, chr(10)))))
           AS line_no
  FROM documents
),
ranked AS (
  SELECT doc_id, line_no, line,
         row_number() OVER (
           PARTITION BY line ORDER BY doc_id, line_no
         ) AS rn
  FROM lines
),
kept AS (SELECT doc_id, line_no, line FROM ranked WHERE rn = 1),
grouped AS (
  SELECT doc_id,
         string_agg(line, chr(10) ORDER BY line_no) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
  coalesce(g.clean_text, '') AS clean_text,
  CAST(len(string_split(d.text, chr(10))) - coalesce(g.n_kept, 0)
       AS BIGINT) AS n_removed_lines
FROM documents d LEFT JOIN grouped g USING (doc_id)
"""

# WITHIN-doc duplicate-line removal (r7): same hash-free line-text
# oracle, keep-first window restricted to (doc_id, line).
_LINE_DEDUP_DOC_SQL = r"""
WITH lines AS (
  SELECT doc_id,
         unnest(string_split(text, chr(10))) AS line,
         unnest(generate_series(1, len(string_split(text, chr(10)))))
           AS line_no
  FROM documents
),
ranked AS (
  SELECT doc_id, line_no, line,
         row_number() OVER (
           PARTITION BY doc_id, line ORDER BY line_no
         ) AS rn
  FROM lines
),
kept AS (SELECT doc_id, line_no, line FROM ranked WHERE rn = 1),
grouped AS (
  SELECT doc_id,
         string_agg(line, chr(10) ORDER BY line_no) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
  coalesce(g.clean_text, '') AS clean_text,
  CAST(len(string_split(d.text, chr(10))) - coalesce(g.n_kept, 0)
       AS BIGINT) AS n_removed_lines
FROM documents d LEFT JOIN grouped g USING (doc_id)
"""

# Domain mixing to a token budget (r7).  Weights/budget are the SAME
# constants the queries() entry passes to mixing.domain_mix — spliced
# into the SQL so both engines compute rate_ppm = min(1e6,
# (budget*w) // domain_tokens) in integers, then hash-threshold with
# the standard fold15 md5 (salt 'mix0').  Sources outside the weight
# map get rate 0 (dropped); an empty domain keeps rate 1e6.
_MIX_WEIGHTS_PPM = {
    "src0": 300_000,
    "src1": 200_000,
    "src2": 100_000,
    "src3": 50_000,
    "src4": 50_000,
    "src5": 25_000,
}
_MIX_BUDGET = 6_000

_mix_w_case = " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in sorted(_MIX_WEIGHTS_PPM.items())
)
_DOMAIN_MIX_SQL = f"""
WITH digits AS (SELECT unnest(generate_series(1, 15)) AS i),
hx AS (
  SELECT doc_id,
         CAST(sum((strpos('0123456789abcdef',
               substr(md5('mix0:' || CAST(doc_id AS VARCHAR)), i, 1)) - 1)
             * (CAST(1 AS BIGINT) << (4 * (15 - i)))) AS BIGINT)
           % 1000000 AS h
  FROM documents CROSS JOIN digits
  GROUP BY doc_id
),
tok AS (
  SELECT doc_id, source AS domain,
         CAST(len(regexp_extract_all(lower(text), '\\w+')) AS BIGINT)
           AS n_tokens,
         CAST(CASE source {_mix_w_case} ELSE 0 END AS BIGINT) AS w
  FROM documents
),
rates AS (
  SELECT domain,
         CASE WHEN sum(n_tokens) = 0 THEN 1000000
              ELSE least(1000000,
                   ({_MIX_BUDGET} * max(w)) // CAST(sum(n_tokens) AS BIGINT))
         END AS rate_ppm
  FROM tok GROUP BY domain
)
SELECT t.doc_id, t.domain, t.n_tokens,
       CAST(r.rate_ppm AS BIGINT) AS rate_ppm
FROM tok t JOIN rates r USING (domain) JOIN hx USING (doc_id)
WHERE hx.h < r.rate_ppm
"""

# Deterministic global training shuffle (r7): rank over the full
# fold15 hash (salt 'shuf0', no modulus), doc_id tie-break; shards of
# 64 docs via integer //.
_SHUFFLE_RANK_SQL = """
WITH digits AS (SELECT unnest(generate_series(1, 15)) AS i),
hx AS (
  SELECT doc_id,
         CAST(sum((strpos('0123456789abcdef',
               substr(md5('shuf0:' || CAST(doc_id AS VARCHAR)), i, 1)) - 1)
             * (CAST(1 AS BIGINT) << (4 * (15 - i)))) AS BIGINT) AS h
  FROM documents CROSS JOIN digits
  GROUP BY doc_id
),
ranked AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT)
           AS shuffle_rank
  FROM hx
)
SELECT doc_id, shuffle_rank,
       CAST(shuffle_rank // 64 AS BIGINT) AS shard
FROM ranked
"""

# EXACT corpus token-length quantiles (r7): inverse empirical CDF on
# the length histogram, ceil in integers, min value whose cumulative
# count reaches the target.
_LENGTH_QUANTILES_SQL = r"""
WITH hist AS (
  SELECT CAST(len(regexp_extract_all(lower(text), '\w+')) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY 1
),
cum AS (
  SELECT n,
         CAST(sum(c) OVER (ORDER BY n) AS BIGINT) AS cum,
         CAST(sum(c) OVER () AS BIGINT) AS total
  FROM hist
),
p AS (SELECT unnest([250, 500, 750, 900, 990]) AS p_permille)
SELECT CAST(p_permille AS BIGINT) AS p_permille,
       CAST(min(n) AS BIGINT) AS q_tokens
FROM cum CROSS JOIN p
WHERE cum >= (p_permille * total + 999) // 1000
GROUP BY p_permille
"""

def _lsh_stack(p: str, src: str) -> str:
    """Prefixed shingle→minhash→band CTE stack over an arbitrary
    source CTE/table — the two-corpus (novel_docs) oracle needs the
    stack twice.  Same math as _SHINGLES/_SHINGLE_X/_BANDS."""
    return f"""
{p}tl AS (
  SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS toks
  FROM {src}
),
{p}ptok AS (
  SELECT doc_id, unnest(toks) AS term,
         unnest(generate_series(1, len(toks))) AS pos
  FROM {p}tl
),
{p}sh0 AS (
  SELECT doc_id,
         term || ' ' || lead(term, 1) OVER w || ' ' || lead(term, 2) OVER w
           AS shingle,
         lead(term, 2) OVER w AS _l2
  FROM {p}ptok
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
{p}sh AS (SELECT DISTINCT doc_id, shingle FROM {p}sh0 WHERE _l2 IS NOT NULL),
{p}xs AS (
  SELECT doc_id, shingle,
         CAST(sum((strpos('0123456789abcdef', substr(md5(shingle), i, 1)) - 1)
             * (CAST(1 AS BIGINT) << (4 * (15 - i)))) AS BIGINT) % {_P} AS x
  FROM {p}sh CROSS JOIN digits
  GROUP BY doc_id, shingle
),
{p}sig AS (
  SELECT doc_id, params.i AS i,
         min((params.a * {p}xs.x + params.b) % {_P}) AS minhash
  FROM {p}xs CROSS JOIN params
  GROUP BY doc_id, params.i
),
{p}bands AS (
  SELECT doc_id, i // {D.BAND_ROWS} AS band,
         concat_ws(',',
           max(CASE WHEN i % {D.BAND_ROWS} = 0 THEN minhash END),
           max(CASE WHEN i % {D.BAND_ROWS} = 1 THEN minhash END),
           max(CASE WHEN i % {D.BAND_ROWS} = 2 THEN minhash END),
           max(CASE WHEN i % {D.BAND_ROWS} = 3 THEN minhash END)) AS band_key
  FROM {p}sig GROUP BY doc_id, i // {D.BAND_ROWS}
)"""


# Incremental-crawl near-dup gate (r7): new batch synthesized from
# documents (copies / +3-token near-dups / token-reversed), both
# corpora run the identical shingle→minhash→band stack, candidates =
# cross band-equality, refine = exact shingle-jaccard >= 0.5,
# survivors = new LEFT ANTI matched.
_NOVEL_DOCS_SQL = f"""
WITH digits AS (SELECT unnest(generate_series(1, 15)) AS i),
params(i, a, b) AS (VALUES {_PARAMS_VALUES}),
newdocs AS (
  SELECT doc_id + 1000000000 AS doc_id, text
  FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 2000000000, text || ' zzqa zzqb zzqc'
  FROM documents WHERE doc_id % 5 = 1
  UNION ALL
  SELECT doc_id + 3000000000,
         array_to_string(
           list_reverse(regexp_extract_all(lower(text), '\\w+')), ' ')
  FROM documents WHERE doc_id % 5 = 2
),
{_lsh_stack("n", "newdocs")},
{_lsh_stack("o", "documents")},
cand AS (
  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
  FROM nbands n JOIN obands o
    ON n.band = o.band AND n.band_key = o.band_key
),
nsizes AS (SELECT doc_id, count(*) AS na FROM nsh GROUP BY doc_id),
osizes AS (SELECT doc_id, count(*) AS nb FROM osh GROUP BY doc_id),
common AS (
  SELECT c.new_id, c.old_id, count(*) AS common
  FROM cand c
  JOIN nsh a ON a.doc_id = c.new_id
  JOIN osh b ON b.doc_id = c.old_id AND b.shingle = a.shingle
  GROUP BY c.new_id, c.old_id
),
matched AS (
  SELECT DISTINCT cm.new_id
  FROM common cm
  JOIN nsizes sa ON sa.doc_id = cm.new_id
  JOIN osizes sb ON sb.doc_id = cm.old_id
  WHERE cm.common / (sa.na + sb.nb - cm.common) >= 0.5
)
SELECT nd.doc_id,
  CAST(len(regexp_extract_all(lower(nd.text), '\\w+')) AS BIGINT)
    AS n_tokens
FROM newdocs nd LEFT JOIN matched m ON nd.doc_id = m.new_id
WHERE m.new_id IS NULL
"""

# Sliding-window passage chunking (r7): starts at multiples of the
# stride while < n_tokens; passage = tokens[start : start+size]
# rejoined; zero-token docs emit nothing.  Defaults size=64 stride=32.
# Materialized token packing (textstats.pack_token_ids, r8): rebuild
# the doc_id-ordered concatenated token stream with a window cumsum,
# chunk by integer division at budget 64, fingerprint each sequence
# order-sensitively (bit_xor over fold15(md5(pos_in_seq:id))).
_PACKED_IDS_SQL = r"""
WITH digits AS (SELECT unnest(generate_series(1, 15)) AS i),
tl AS (
  SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS toks
  FROM documents
),
tok AS (
  SELECT doc_id, unnest(toks) AS w,
         unnest(generate_series(1, len(toks))) AS p
  FROM tl
),
sized AS (SELECT doc_id, len(toks) AS n FROM tl),
off AS (
  SELECT doc_id,
         sum(n) OVER (ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n AS start
  FROM sized
),
pos AS (
  SELECT t.w, o.start + t.p - 1 AS gpos
  FROM tok t JOIN off o USING (doc_id)
),
hid AS (
  SELECT gpos // 64 AS seq_id, gpos % 64 AS pis,
         CAST(sum((strpos('0123456789abcdef', substr(md5(w), i, 1)) - 1)
             * (CAST(1 AS BIGINT) << (4 * (15 - i)))) AS BIGINT) AS h
  FROM pos CROSS JOIN digits
  GROUP BY gpos, w
),
fps AS (
  SELECT seq_id, pis,
         CAST(sum((strpos('0123456789abcdef',
               substr(md5(CAST(pis AS VARCHAR) || ':'
                          || CAST(h AS VARCHAR)), i, 1)) - 1)
             * (CAST(1 AS BIGINT) << (4 * (15 - i)))) AS BIGINT) AS f
  FROM hid CROSS JOIN digits
  GROUP BY seq_id, pis, h
)
SELECT seq_id, count(*) AS n_tokens, bit_xor(f) AS fp
FROM fps GROUP BY seq_id
"""

# BPE trainer first stage (operators/bpe.py pair_histogram): initial
# char+EOW symbol-pair counts over the word histogram; row 1 under
# (cnt desc, pair asc) is the trainer's first merge selection.
_BPE_HISTOGRAM_SQL = r"""
WITH tok AS (
  SELECT unnest(regexp_extract_all(lower(text), '\w+')) AS w
  FROM documents
),
wh AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
syms AS (
  SELECT c, list_append(regexp_extract_all(w, '.'), '</w>') AS s
  FROM wh
),
idx AS (
  SELECT c, s, unnest(generate_series(1, len(s) - 1)) AS i FROM syms
),
pr AS (SELECT c, s[i] AS a, s[i + 1] AS b FROM idx)
SELECT a AS pair_a, b AS pair_b, CAST(sum(c) AS BIGINT) AS cnt
FROM pr GROUP BY a, b
ORDER BY cnt DESC, pair_a ASC, pair_b ASC
LIMIT 50
"""

_CHUNK_PASSAGES_SQL = r"""
WITH tok AS (
  SELECT doc_id,
         regexp_extract_all(lower(text), '\w+') AS t,
         CAST(len(regexp_extract_all(lower(text), '\w+')) AS BIGINT) AS n
  FROM documents
),
st AS (
  SELECT doc_id, t, n,
         unnest(generate_series(0, n - 1, 32)) AS start_tok
  FROM tok WHERE n > 0
)
SELECT doc_id,
  CAST(start_tok // 32 AS BIGINT) AS passage_no,
  CAST(start_tok AS BIGINT) AS start_tok,
  CAST(least(64, n - start_tok) AS BIGINT) AS n_tokens,
  array_to_string(list_slice(t, start_tok + 1, start_tok + 64), ' ')
    AS passage
FROM st
"""

# Benchmark decontamination (r7): probe set = the md5-fold hash sample
# (salt 'contam', 20 permille — the _STRAT_SAMPLE_SQL fold verbatim);
# grams via the same lead-window chain as _DUP_SPANS_SQL, matched on
# TEXT (hash-free, deliberately different from the engine's 60-bit
# gram ints).
_DECONTAMINATE_SQL = r"""
WITH digits AS (SELECT unnest(generate_series(1, 15)) AS i),
probe_ids AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           CAST(sum((strpos('0123456789abcdef',
                 substr(md5('contam:' || CAST(doc_id AS VARCHAR)), i, 1)) - 1)
               * (CAST(1 AS BIGINT) << (4 * (15 - i)))) AS BIGINT) % 1000
             AS h
    FROM documents CROSS JOIN digits
    GROUP BY doc_id
  ) WHERE h < 20
),
tl AS (
  SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS toks
  FROM documents
),
ptok AS (
  SELECT doc_id, unnest(toks) AS term,
         unnest(generate_series(1, len(toks))) AS pos
  FROM tl
),
g0 AS (
  SELECT doc_id, pos,
         term || ' ' || lead(term, 1) OVER w || ' ' || lead(term, 2) OVER w
              || ' ' || lead(term, 3) OVER w || ' ' || lead(term, 4) OVER w
              || ' ' || lead(term, 5) OVER w || ' ' || lead(term, 6) OVER w
              || ' ' || lead(term, 7) OVER w AS gram,
         lead(term, 7) OVER w AS _l
  FROM ptok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
grams AS (SELECT doc_id, gram FROM g0 WHERE _l IS NOT NULL),
pgrams AS (
  SELECT DISTINCT gram FROM grams JOIN probe_ids USING (doc_id)
),
hits AS (
  SELECT g.doc_id, count(*) AS hit_grams
  FROM grams g JOIN pgrams USING (gram) GROUP BY g.doc_id
)
SELECT d.doc_id,
  CAST(coalesce(h.hit_grams, 0) AS BIGINT) AS hit_grams,
  CAST(CASE WHEN h.hit_grams IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
    AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
"""

# PII scrubbing (r7): fixture + scrub, both mirrored in SQL.  The
# patterns are textually THE SAME constants the engine compiles
# (pii.RULES) — spliced below, not retyped — inside the
# RE2 ∩ java.util.regex subset; DuckDB needs the explicit 'g' flag
# where Spark's regexp_replace is global by default.
_PII_SCRUB_SQL_TEMPLATE = r"""
WITH fixture AS (
  SELECT CAST(c_custkey AS BIGINT) AS doc_id,
         'reach ' || lower(regexp_replace(c_name, '[^A-Za-z0-9]', '.', 'g'))
         || '@example.com'
         || CASE WHEN c_custkey % 3 = 0
                 THEN ' cc admin' || CAST(CAST(c_custkey AS BIGINT) AS VARCHAR)
                      || '@corp.net'
                 ELSE '' END
         || ' or call '
         || CAST(c_custkey % 90 + 10 AS VARCHAR) || '-'
         || CAST(c_custkey % 900 + 100 AS VARCHAR) || '-'
         || CAST((c_custkey * 7) % 900 + 100 AS VARCHAR) || '-'
         || CAST((c_custkey * 13) % 9000 + 1000 AS VARCHAR)
         || CASE WHEN c_custkey % 4 = 1
                 THEN ' from host 10.' || CAST(c_custkey % 200 AS VARCHAR)
                      || '.0.' || CAST(c_custkey % 250 AS VARCHAR)
                 ELSE ' offline' END
         || ' segment ' || lower(c_mktsegment) AS text
  FROM customer
)
SELECT doc_id,
  regexp_replace(regexp_replace(regexp_replace(text,
    '@EMAIL@', '<EMAIL>', 'g'),
    '@IPV4@', '<IP>', 'g'),
    '@PHONE@', '<PHONE>', 'g') AS text,
  CAST(len(regexp_extract_all(text, '@EMAIL@')) AS BIGINT) AS n_email,
  CAST(len(regexp_extract_all(text, '@IPV4@')) AS BIGINT) AS n_ipv4,
  CAST(len(regexp_extract_all(text, '@PHONE@')) AS BIGINT) AS n_phone
FROM fixture
"""
_PII_SCRUB_SQL = (
    _PII_SCRUB_SQL_TEMPLATE.replace("@EMAIL@", PII.EMAIL_RE)
    .replace("@IPV4@", PII.IPV4_RE)
    .replace("@PHONE@", PII.PHONE_RE)
)

# Training-sequence packing (r7): the oracle is the straightforward
# single-window cumsum (fine at oracle scale); the engine's two-phase
# parallel prefix sum must match it bit-for-bit — all-integer math.
_PACK_SEQUENCES_SQL = r"""
WITH sized AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(lower(text), '\w+')) AS BIGINT)
           AS n_tokens
  FROM documents
),
cum AS (
  SELECT doc_id, n_tokens,
         CAST(sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens AS BIGINT)
           AS start_pos
  FROM sized
)
SELECT doc_id, n_tokens, start_pos,
  CAST(start_pos // 512 AS BIGINT) AS first_seq,
  CAST((start_pos + greatest(n_tokens - 1, 0)) // 512 AS BIGINT)
    AS last_seq
FROM cum
"""

# similarity ------------------------------------------------------------

_COSINE_PRE = f"""
q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
ev AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
         unnest(generate_series(1, len(embedding))) AS i
  FROM embeddings
),
qv AS (
  SELECT CAST(unnest(qvec) AS DOUBLE) AS v,
         unnest(generate_series(1, len(qvec))) AS i
  FROM q
),
qn AS (SELECT sqrt(sum(v * v)) AS qnorm FROM qv),
dots AS (
  SELECT ev.vec_id, sum(ev.v * qv.v) AS dot, sum(ev.v * ev.v) AS n2
  FROM ev JOIN qv USING (i)
  GROUP BY ev.vec_id
)
"""

_COSINE_SQL = f"""
WITH {_COSINE_PRE}
SELECT vec_id, round(dot / (sqrt(n2) * qn.qnorm), 6) AS cos
FROM dots CROSS JOIN qn
WHERE vec_id <> {QUERY_VEC_ID}
ORDER BY round(dot / (sqrt(n2) * qn.qnorm), 6) DESC, vec_id ASC
LIMIT 20
"""

# integer-quantized plane dots (similarity.QUANT): the sign bit is an
# exact integer comparison in BOTH engines — no float summation-order
# flakiness (ADVICE r1); bucket sum CAST to BIGINT (duckdb sum(BIGINT)
# is HUGEINT, which hash-mismatches Spark's long — r1 defect)
_LSH_BUCKETS_CTE = f"""
planes AS (SELECT unnest(generate_series(0, {S.N_PLANES - 1})) AS p),
evl AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
         unnest(generate_series(1, len(embedding))) AS i
  FROM embeddings
),
dotp AS (
  SELECT vec_id, p,
         sum(CAST(floor(v * CAST({S.QUANT} AS DOUBLE)) AS BIGINT)
             * ((p * 131 + (i - 1) * 31) % 17 - 8)) AS dot
  FROM evl CROSS JOIN planes
  GROUP BY vec_id, p
),
buckets AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << p)
                  ELSE 0 END) AS BIGINT) AS bucket
  FROM dotp GROUP BY vec_id
)
"""

_LSH_BUCKETS_SQL = f"WITH {_LSH_BUCKETS_CTE} SELECT vec_id, bucket FROM buckets"

_ANN_LSH_SQL = f"""
WITH {_LSH_BUCKETS_CTE},
qb AS (SELECT bucket AS qbucket FROM buckets WHERE vec_id = {QUERY_VEC_ID}),
cand AS (
  SELECT b.vec_id FROM buckets b CROSS JOIN qb WHERE b.bucket = qb.qbucket
),
{_COSINE_PRE}
SELECT d.vec_id, round(d.dot / (sqrt(d.n2) * qn.qnorm), 6) AS cos
FROM dots d CROSS JOIN qn
JOIN cand USING (vec_id)
WHERE d.vec_id <> {QUERY_VEC_ID}
ORDER BY round(d.dot / (sqrt(d.n2) * qn.qnorm), 6) DESC, d.vec_id ASC
LIMIT 20
"""

# EXACT pairwise semantic spec (ADVICE r1: the oracle must state
# "cosine >= threshold", never an approximation of it — the Spark side
# computes the exact answer via blocked GEMM; the LSH prefilter is a
# separately-tested at-scale approximation)
_NEAR_DUP_SQL = """
WITH ev AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
         unnest(generate_series(1, len(embedding))) AS i
  FROM embeddings
),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ev GROUP BY vec_id),
dots AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, sum(a.v * b.v) AS dot
  FROM ev a JOIN ev b ON b.i = a.i AND a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id
)
SELECT vec_a, vec_b, round(dot / (na.nrm * nb.nrm), 6) AS cos
FROM dots
JOIN norms na ON na.vec_id = vec_a
JOIN norms nb ON nb.vec_id = vec_b
WHERE dot / (na.nrm * nb.nrm) >= 0.4
"""

# hybrid pipeline (candidates → threshold → BM25 → normalize+combine) --

_HYBRID_SQL = f"""
WITH {_TOK},
stats AS (SELECT count(*) AS n_docs, avg(doc_len) AS avgdl FROM docs),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
qterms AS (
  SELECT unnest(regexp_extract_all(lower('{FLAGSHIP_QUERY}'), '\\w+')) AS term
),
qt AS (SELECT term, CAST(count(*) AS DOUBLE) AS qtf FROM qterms GROUP BY term),
qidf AS (
  SELECT qt.term, qt.qtf, ln(stats.n_docs + 1.0) - ln(dfreq.df) AS idf
  FROM qt JOIN dfreq USING (term) CROSS JOIN stats
),
const AS (SELECT coalesce(sum(qtf * idf * 1.0), 0.0) AS c FROM qidf),
matched AS (
  SELECT tf.doc_id,
         sum(qidf.qtf * qidf.idf * (tf.tf * 2.5)
             / (1.5 * (0.25 + 0.75 * docs.doc_len / stats.avgdl) + tf.tf)) AS s
  FROM tf
  JOIN qidf USING (term)
  JOIN docs USING (doc_id)
  CROSS JOIN stats
  GROUP BY tf.doc_id
),
bm AS (
  SELECT d.doc_id, coalesce(m.s, 0.0) + const.c AS bm25_raw
  FROM docs d LEFT JOIN matched m USING (doc_id) CROSS JOIN const
),
{_COSINE_PRE},
sims AS (
  SELECT vec_id, dot / (sqrt(n2) * qn.qnorm) AS sim
  FROM dots CROSS JOIN qn WHERE vec_id <> {QUERY_VEC_ID}
),
top AS (
  SELECT vec_id, sim FROM sims
  ORDER BY sim DESC, vec_id ASC LIMIT {HYBRID_FAISS_K}
),
cand AS (
  SELECT t.vec_id AS doc_id, t.sim,
         CAST(1 AS DOUBLE) / (1 + t.vec_id) AS pr,
         greatest(CAST(0 AS DOUBLE), bm.bm25_raw) AS bm25
  FROM top t JOIN bm ON bm.doc_id = t.vec_id
  WHERE t.sim >= {HYBRID_SIM_THRESHOLD}
),
agg AS (
  SELECT count(*) AS cnt,
         min(sim) AS slo, max(sim) AS shi,
         min(pr) AS plo, max(pr) AS phi,
         min(bm25) AS blo, max(bm25) AS bhi
  FROM cand
),
normed AS (
  SELECT doc_id,
    greatest(CAST(0 AS DOUBLE), least(CAST(1 AS DOUBLE),
      CASE WHEN shi - slo > 1e-9 THEN (sim - slo) / (shi - slo)
           WHEN cnt = 1 AND sim > 1e-9 THEN CAST(1 AS DOUBLE)
           WHEN shi - slo <= 1e-9 AND shi <= 1e-9 THEN CAST(0 AS DOUBLE)
           ELSE CAST(0.5 AS DOUBLE) END)) AS ns,
    greatest(CAST(0 AS DOUBLE), least(CAST(1 AS DOUBLE),
      CASE WHEN phi - plo > 1e-9 THEN (pr - plo) / (phi - plo)
           WHEN phi > 1e-9 THEN CAST(1 AS DOUBLE)
           ELSE CAST(0 AS DOUBLE) END)) AS npr,
    greatest(CAST(0 AS DOUBLE), least(CAST(1 AS DOUBLE),
      CASE WHEN bhi - blo > 1e-9 THEN (bm25 - blo) / (bhi - blo)
           WHEN bhi > 1e-9 THEN CAST(1 AS DOUBLE)
           ELSE CAST(0 AS DOUBLE) END)) AS nb
  FROM cand CROSS JOIN agg
)
SELECT doc_id,
       round(CAST(1.0 AS DOUBLE) * ns + CAST(0.2 AS DOUBLE) * npr
             + CAST(1.0 AS DOUBLE) * nb, 6) AS final_score,
       round(ns, 6) AS norm_similarity,
       round(npr, 6) AS norm_pagerank,
       round(nb, 6) AS norm_bm25
FROM normed
ORDER BY round(CAST(1.0 AS DOUBLE) * ns + CAST(0.2 AS DOUBLE) * npr
               + CAST(1.0 AS DOUBLE) * nb, 6) DESC, doc_id ASC
LIMIT {HYBRID_LIMIT}
"""

# text analysis ---------------------------------------------------------

_STOPWORD_VALUES = ",".join(
    f"('{lang}','{w}')" for lang, ws in T.STOPWORDS.items() for w in ws
)

_LANG_ID_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\w+')) AS tok
  FROM documents
),
sw(lang, tok) AS (VALUES {_STOPWORD_VALUES}),
hits AS (
  SELECT doc_id, lang, count(*) AS hits
  FROM tok JOIN sw USING (tok)
  GROUP BY doc_id, lang
),
best AS (
  SELECT doc_id, lang, hits,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY hits DESC, lang ASC) AS rn
  FROM hits
)
SELECT d.doc_id,
       coalesce(b.lang, 'und') AS pred_lang,
       coalesce(b.hits, 0) AS hits
FROM documents d LEFT JOIN best b ON b.doc_id = d.doc_id AND b.rn = 1
"""

_EN_SW = ",".join(f"'{w}'" for w in T.STOPWORDS["en"])

_QUALITY_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\w+')) AS tok
  FROM documents
),
agg AS (
  SELECT doc_id, count(*) AS n_tokens, sum(length(tok)) AS tc,
         count(*) FILTER (WHERE tok IN ({_EN_SW})) AS sh
  FROM tok GROUP BY doc_id
),
base AS (
  SELECT d.doc_id, length(d.text) AS n_chars,
         coalesce(a.n_tokens, 0) AS n_tokens,
         coalesce(a.tc, 0) AS tc, coalesce(a.sh, 0) AS sh,
         length(regexp_replace(d.text, '[A-Za-z0-9_\\s]', '', 'g')) AS pc
  FROM documents d LEFT JOIN agg a USING (doc_id)
)
SELECT doc_id, n_chars, n_tokens,
  round(CASE WHEN n_tokens > 0 THEN tc / n_tokens ELSE 0.0 END, 6)
    AS mean_token_len,
  round(CASE WHEN n_chars > 0 THEN pc / n_chars ELSE 0.0 END, 6)
    AS punct_ratio,
  round(CASE WHEN n_tokens > 0 THEN sh / n_tokens ELSE 0.0 END, 6)
    AS stop_ratio,
  round(1.0 - (CASE WHEN n_chars > 0 THEN pc / n_chars ELSE 0.0 END)
        + 0.5 * (CASE WHEN n_tokens > 0 THEN sh / n_tokens ELSE 0.0 END)
        - (CASE WHEN n_tokens < 10 THEN 0.5 ELSE 0.0 END), 6) AS quality
FROM base
"""

# deterministic hash sampling: the md5 fold is the same 15-hex-digit
# trick as everywhere else; rates must match the queries() literals
_STRAT_SAMPLE_SQL = """
WITH digits AS (SELECT unnest(generate_series(1, 15)) AS i),
hx AS (
  SELECT doc_id, lang,
         CAST(sum((strpos('0123456789abcdef',
               substr(md5('s0:' || CAST(doc_id AS VARCHAR)), i, 1)) - 1)
             * (CAST(1 AS BIGINT) << (4 * (15 - i)))) AS BIGINT) % 1000 AS h
  FROM documents CROSS JOIN digits
  GROUP BY doc_id, lang
)
SELECT doc_id, lang FROM hx
WHERE h < (CASE lang WHEN 'en' THEN 200 WHEN 'de' THEN 500
           WHEN 'zh' THEN 1000 ELSE 100 END)
"""

# top-k by 6dp-rounded quality per language; rank ties break by doc_id
# (the quality CTE nests the full quality_score oracle as a subquery)
_QUALITY_TOPK_SQL = f"""
WITH q AS ({_QUALITY_SQL}),
ranked AS (
  SELECT q.doc_id, d.lang, q.quality,
         row_number() OVER (
           PARTITION BY d.lang ORDER BY q.quality DESC, q.doc_id ASC
         ) AS rnk
  FROM q JOIN documents d USING (doc_id)
)
SELECT doc_id, lang, quality, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= 25
"""

_TOKEN_COUNTS_SQL = f"""
SELECT doc_id,
  CAST(length(regexp_extract_all(text, '\\S+')) AS BIGINT) AS ws_tokens,
  CAST(length(regexp_extract_all(lower(text), '\\w+')) AS BIGINT)
    AS word_tokens,
  CAST(length(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]'))
    AS BIGINT) AS bpe_ish_tokens
FROM documents
"""

_FINGERPRINT_SQL = """
WITH grams AS (
  -- DISTINCT: duplicate grams would double the digit-fold sum below
  SELECT DISTINCT doc_id, substr(text, i, 8) AS g
  FROM documents,
       unnest(generate_series(1, greatest(length(text) - 7, 1))) AS t(i)
),
digits AS (SELECT unnest(generate_series(1, 15)) AS i),
hx AS (
  SELECT doc_id, g,
         CAST(sum((strpos('0123456789abcdef', substr(md5(g), i, 1)) - 1)
             * (CAST(1 AS BIGINT) << (4 * (15 - i)))) AS BIGINT) AS h
  FROM grams CROSS JOIN digits
  GROUP BY doc_id, g
)
SELECT doc_id, min(h) AS fp FROM hx GROUP BY doc_id
"""

# relational ------------------------------------------------------------

_REGION_ROLLUP_SQL = """
SELECT r.r_name, count(*) AS customers, round(avg(c.c_acctbal), 6)
  AS avg_acctbal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
"""

_NO_ORDERS_SQL = """
SELECT c.c_nationkey, count(*) AS n_customers
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c.c_nationkey
"""

_TOP_ORDERS_SQL = """
SELECT o_custkey, o_orderkey, round(o_totalprice, 6) AS o_totalprice, rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC)
           AS rn
  FROM orders
)
WHERE rn <= 2
"""

_SHIPMENTS_SQL = """
SELECT o.o_orderpriority, count(*) AS n_lineitems
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= o.o_orderdate
  AND l.l_shipdate <= o.o_orderdate + INTERVAL 30 DAY
GROUP BY o.o_orderpriority
"""

_MINMAX_SQL = """
SELECT c_custkey, c_nationkey,
  round(CASE WHEN hi - lo > 0 THEN (c_acctbal - lo) / (hi - lo)
        ELSE 0.0 END, 6) AS norm_acctbal
FROM (
  SELECT c_custkey, c_nationkey, c_acctbal,
         min(c_acctbal) OVER (PARTITION BY c_nationkey) AS lo,
         max(c_acctbal) OVER (PARTITION BY c_nationkey) AS hi
  FROM customer
)
"""

_PRICING_SQL = """
SELECT l_returnflag, l_linestatus,
  round(sum(l_quantity), 6) AS sum_qty,
  round(sum(l_extendedprice), 6) AS sum_base_price,
  round(sum(l_extendedprice * (1 - l_discount)), 6) AS sum_disc_price,
  round(avg(l_discount), 6) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2025-06-30'
GROUP BY l_returnflag, l_linestatus
"""

# exact integer microsecond gaps (epoch_us) — r1 used epoch() DOUBLE
# with fractional seconds vs Spark's truncating unix_timestamp, and an
# uncast HUGEINT sum; both fixed (gap semantics now µs-exact, matching
# relational.event_sessionization's timestampdiff(MICROSECOND, ...))
_SESSIONS_SQL = """
WITH e AS (
  SELECT user_id, event_id, ts,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id) AS gap
  FROM events WHERE user_id < 200
)
SELECT user_id,
       CAST(sum(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM e GROUP BY user_id
"""

# fixed-iteration PageRank unrolled as chained CTEs (tol=0 on the
# Spark side pins the same iteration count; see graph.pagerank)


def _pagerank_sql(iters: int, alpha: float = 0.85) -> str:
    # AS MATERIALIZED: inlined CTEs would re-evaluate edges/r{k} per
    # reference (exponential re-scans of lineitem; duckdb runs out of
    # file handles before it runs out of patience)
    sql = """
WITH edges AS MATERIALIZED (
  SELECT DISTINCT l_suppkey AS src,
         l_partkey + 1000000 AS dst
  FROM lineitem
),
nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
cnt AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
outdeg AS MATERIALIZED (SELECT src, count(*) AS deg FROM edges GROUP BY src),
weighted AS MATERIALIZED (
  SELECT e.src, e.dst, CAST(1 AS DOUBLE) / o.deg AS w
  FROM edges e JOIN outdeg o USING (src)
),
r0 AS MATERIALIZED (SELECT node, CAST(1 AS DOUBLE) / cnt.n AS rank FROM nodes CROSS JOIN cnt)
"""
    a = f"CAST({alpha} AS DOUBLE)"
    for k in range(iters):
        sql += f""",
d{k} AS MATERIALIZED (
  SELECT coalesce(sum(r.rank), CAST(0 AS DOUBLE)) AS dm
  FROM r{k} r
  WHERE NOT EXISTS (SELECT 1 FROM outdeg o WHERE o.src = r.node)
),
s{k} AS MATERIALIZED (
  SELECT w.dst AS node, sum(w.w * r.rank) AS in_sum
  FROM weighted w JOIN r{k} r ON w.src = r.node
  GROUP BY w.dst
),
r{k + 1} AS MATERIALIZED (
  SELECT n.node,
         (CAST(1 AS DOUBLE) - {a}) / cnt.n
           + {a} * (coalesce(s.in_sum, CAST(0 AS DOUBLE)) + d.dm / cnt.n)
           AS rank
  FROM nodes n
  LEFT JOIN s{k} s USING (node)
  CROSS JOIN d{k} d CROSS JOIN cnt
)"""
    return sql + f"\nSELECT node, round(rank, 8) AS rank FROM r{iters}"


_PAGERANK_SQL = _pagerank_sql(G.CONTRACT_PR_ITERS)

# fake-media arithmetic is a pure function of media_id (multimodal.
# generate_media: kind = kinds[i%3], n_frames = 16 + i%9 for video)
_FRAME_SAMPLE_SQL = """
WITH media AS (
  SELECT i AS media_id, 16 + i % 9 AS n_frames
  FROM unnest(generate_series(0, 299)) AS t(i)
  WHERE i % 3 = 2
)
SELECT media_id,
       CAST(unnest(generate_series(0, n_frames - 1, 4)) AS BIGINT)
         AS frame_idx
FROM media
"""


def _hexbyte(k: str) -> str:
    """SQL expr: payload byte at offset ``k`` — the fake payload is
    sha256(seed:media_id) repeated, so byte k = digest[k % 32], folded
    from the hex string exactly like the md5 folds above."""
    return (
        f"((strpos('0123456789abcdef', substr(hx, 2 * (({k}) % 32) + 1, 1))"
        " - 1) * 16 + "
        f"(strpos('0123456789abcdef', substr(hx, 2 * (({k}) % 32) + 2, 1))"
        " - 1))"
    )


# int16-LE PCM features over the deterministic payload; every aggregate
# is exact-integer (sum of squares < 2^53) so both engines agree
# bit-for-bit, rms rounded 6dp after one double division + sqrt
_AUDIO_SQL = f"""
WITH aud AS (
  SELECT i AS media_id,
         sha256('42:' || CAST(i AS VARCHAR)) AS hx,
         least(1024 + (i % 7) * 256, 2048) // 2 AS n_samples
  FROM unnest(generate_series(0, 299)) AS t(i)
  WHERE i % 3 = 1
),
samp0 AS (
  SELECT media_id, j,
         {_hexbyte('2 * j')} + 256 * {_hexbyte('2 * j + 1')} AS raw
  FROM aud, unnest(generate_series(0, n_samples - 1)) AS u(j)
),
samp AS (
  SELECT media_id, j,
         CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS s
  FROM samp0
),
lagd AS (
  SELECT media_id, s,
         lag(s) OVER (PARTITION BY media_id ORDER BY j) AS prev_s
  FROM samp
)
SELECT media_id,
       CAST(count(*) AS BIGINT) AS n_samples,
       round(sqrt(CAST(sum(s * s) AS DOUBLE) / count(*)), 6) AS rms,
       CAST(max(abs(s)) AS BIGINT) AS peak,
       CAST(sum(CASE WHEN prev_s IS NOT NULL AND ((s < 0) <> (prev_s < 0))
                THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
FROM lagd GROUP BY media_id
"""


# image features over the deterministic payload (r2 VERDICT #5: the
# kernel is now 16 EXACT-INTEGER aggregates of the fake-decoded 8×8×3
# pixels — per-channel sums, per-channel sums of squares, 9-bin
# histogram (bin = px·9 div 256), payload length — L2-normalized by
# one double division, so both engines agree bit-for-bit)
_IMAGE_FEATURES_SQL = f"""
WITH img AS (
  SELECT i AS media_id,
         sha256('42:' || CAST(i AS VARCHAR)) AS hx,
         least(1024 + (i % 7) * 256, 2048) AS plen
  FROM unnest(generate_series(0, 299)) AS t(i)
  WHERE i % 3 = 0
),
b AS (
  SELECT media_id, j, {_hexbyte('j')} AS v
  FROM img, unnest(generate_series(0, 191)) AS u(j)
),
f1 AS (
  SELECT media_id, j % 3 AS dim, CAST(sum(v) AS BIGINT) AS fv
  FROM b GROUP BY media_id, j % 3
),
f2 AS (
  SELECT media_id, 3 + (j % 3) AS dim, CAST(sum(v * v) AS BIGINT) AS fv
  FROM b GROUP BY media_id, j % 3
),
f3a AS (
  SELECT media_id, 6 + ((v * 9) // 256) AS dim,
         CAST(count(*) AS BIGINT) AS fv
  FROM b GROUP BY media_id, (v * 9) // 256
),
f3 AS (
  SELECT img.media_id, 6 + k AS dim, coalesce(f3a.fv, 0) AS fv
  FROM img CROSS JOIN unnest(generate_series(0, 8)) AS g(k)
  LEFT JOIN f3a ON f3a.media_id = img.media_id AND f3a.dim = 6 + k
),
f4 AS (SELECT media_id, 15 AS dim, CAST(plen AS BIGINT) AS fv FROM img),
feat AS (
  SELECT * FROM f1 UNION ALL SELECT * FROM f2
  UNION ALL SELECT * FROM f3 UNION ALL SELECT * FROM f4
),
ssq AS (
  SELECT media_id, CAST(sum(fv * fv) AS BIGINT) AS ss
  FROM feat GROUP BY media_id
)
SELECT feat.media_id, CAST(feat.dim AS BIGINT) AS dim,
       round(CAST(CAST(CAST(fv AS DOUBLE) / sqrt(CAST(ss AS DOUBLE))
             AS REAL) AS DOUBLE), 6) AS value
FROM feat JOIN ssq USING (media_id)
"""

# embed_texts: md5-integer unit-vector kernel (operators/embed.py
# md5_unit_vector) — c_j = fold15(md5(md5hex(text):j)) mod P − (P−1)/2,
# v = c/sqrt(Σc²); Σc² is exact int64 in both engines, the division and
# float32 cast are single IEEE ops (r2 VERDICT #5: was rows-only)
_EMBED_TEXTS_SQL = """
WITH h0 AS (SELECT doc_id, md5(text) AS h FROM documents),
dims AS (SELECT unnest(generate_series(0, 63)) AS dim),
digits AS (SELECT unnest(generate_series(1, 15)) AS i),
xs AS (
  SELECT doc_id, dim,
         CAST(sum((strpos('0123456789abcdef',
               substr(md5(h || ':' || CAST(dim AS VARCHAR)), i, 1)) - 1)
             * (CAST(1 AS BIGINT) << (4 * (15 - i)))) AS BIGINT) AS x
  FROM h0 CROSS JOIN dims CROSS JOIN digits
  GROUP BY doc_id, dim, h
),
cs AS (SELECT doc_id, dim, x % 2000003 - 1000001 AS c FROM xs),
ssq AS (
  SELECT doc_id, CAST(sum(c * c) AS BIGINT) AS ss FROM cs GROUP BY doc_id
)
SELECT cs.doc_id AS vec_id, CAST(cs.dim AS BIGINT) AS dim,
       round(CAST(CAST(CAST(c AS DOUBLE) / sqrt(CAST(ss AS DOUBLE))
             AS REAL) AS DOUBLE), 6) AS value
FROM cs JOIN ssq USING (doc_id)
"""


ORACLE_SF_DIR = os.environ.get(
    "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
)


def _ivf_oracle_sql(sf_dir: str = ORACLE_SF_DIR) -> str | None:
    """IVF oracle with the TRAINED centroids inlined as SQL literals
    (r2 VERDICT #5): k-means is iterative and not SQL-expressible, but
    its OUTPUT is 8×64 floats — this helper replays exactly what
    q_ivf_topk's ivf_build does (sorted-by-vec_id sample, same
    similarity._kmeans call, same numpy) from the parquet directly and
    emits the centroid/probe/query literals into pure SQL.

    The path is keyed on the scale factor the gate compares against
    (ADVICE r3: it was hardcoded sf0.01, so any other gate sf trained
    the oracle on the wrong data): the driver's gate runs at sf0.01;
    run it elsewhere by setting $SPARK_GRAFT_ORACLE_SF_DIR to that sf
    dir.  Returns None (→ the documented rows-only fallback) when the
    keyed parquet is unavailable."""
    import numpy as np

    try:
        import duckdb as _dd

        rows = _dd.sql(
            "SELECT vec_id, embedding FROM"
            f" '{sf_dir}/embeddings.parquet' ORDER BY vec_id"
        ).fetchall()
    except Exception:
        return None
    if not rows:
        return None
    sample = np.array([r[1] for r in rows], dtype=np.float64)
    sample = sample / np.linalg.norm(sample, axis=1, keepdims=True)
    nlist = min(8, len(sample))
    cent = S._kmeans(sample, nlist, iters=20, seed=7)
    by_id = {int(r[0]): r[1] for r in rows}
    if QUERY_VEC_ID not in by_id:
        return None
    q = np.asarray(by_id[QUERY_VEC_ID], dtype=np.float64)
    qunit = q / np.linalg.norm(q)
    d = -2.0 * (cent @ qunit) + (cent * cent).sum(axis=1)
    probes = [int(i) for i in np.argsort(d)[:4]]

    cent_vals = ",".join(
        f"({li},{dim},{cent[li, dim]!r})"
        for li in range(nlist)
        for dim in range(cent.shape[1])
    )
    # centroid self-dots as literals too — computed with the SAME numpy
    # reduction the assignment kernel uses, so no cross-engine
    # accumulation-order noise enters the argmin
    c2 = (cent * cent).sum(axis=1)
    c2_vals = ",".join(f"({li},{c2[li]!r})" for li in range(nlist))
    q_vals = ",".join(f"({j},{qunit[j]!r})" for j in range(len(qunit)))
    probe_list = ",".join(str(p) for p in probes)

    return f"""
WITH cent(list_id, dim, c) AS (VALUES {cent_vals}),
cn(list_id, c2) AS (VALUES {c2_vals}),
q(dim, qv) AS (VALUES {q_vals}),
ev0 AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
         unnest(generate_series(1, len(embedding))) AS pos
  FROM embeddings
),
ev AS (SELECT vec_id, x, pos - 1 AS dim FROM ev0),
nv AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ev GROUP BY vec_id),
dist AS (
  SELECT ev.vec_id, cent.list_id,
         sum(-2.0 * (ev.x / nv.nrm) * cent.c) + min(cn.c2) AS d
  FROM ev
  JOIN cent USING (dim)
  JOIN nv USING (vec_id)
  JOIN cn ON cn.list_id = cent.list_id
  GROUP BY ev.vec_id, cent.list_id
),
assign AS (
  SELECT vec_id, list_id,
         row_number() OVER (PARTITION BY vec_id ORDER BY d, list_id) AS rn
  FROM dist
),
cand AS (
  SELECT vec_id FROM assign WHERE rn = 1 AND list_id IN ({probe_list})
),
sc AS (
  SELECT ev.vec_id, sum(ev.x * q.qv) / min(nv.nrm) AS cos
  FROM ev
  JOIN q USING (dim)
  JOIN nv USING (vec_id)
  WHERE ev.vec_id IN (SELECT vec_id FROM cand)
  GROUP BY ev.vec_id
),
topk AS (
  SELECT vec_id, round(cos, 6) AS cos FROM sc
  ORDER BY round(cos, 6) DESC, vec_id ASC
  LIMIT 21
)
SELECT vec_id, cos FROM topk WHERE vec_id <> {QUERY_VEC_ID}
ORDER BY cos DESC, vec_id ASC
LIMIT 20
"""


# as-of join: DuckDB's native ASOF LEFT JOIN is the oracle for our
# union+window composition; right side deduped per (key, ts) with the
# same max-value tie rule on both sides
_ASOF_SQL = """
WITH v AS (
  SELECT event_id, user_id, ts FROM events
  WHERE event_type = 'view' AND user_id < 100
),
p AS (
  SELECT user_id, ts, max(value) AS value FROM events
  WHERE event_type = 'purchase' AND user_id < 100
  GROUP BY user_id, ts
)
SELECT v.event_id, v.user_id,
       round(coalesce(p.value, CAST(-1 AS DOUBLE)), 6) AS asof_value
FROM v ASOF LEFT JOIN p
  ON v.user_id = p.user_id AND v.ts >= p.ts
"""

# KMV distinct sketch: k smallest distinct 60-bit hashes per group,
# estimate (k-1)·2^60/h_k — deterministic integer hashes → bit-equal
_KMV_SQL = """
WITH tok AS (
  SELECT lang, unnest(regexp_extract_all(lower(text), '\\w+')) AS term
  FROM documents
),
ut AS (SELECT DISTINCT lang, term FROM tok),
digits AS (SELECT unnest(generate_series(1, 15)) AS i),
hx AS (
  SELECT lang, term,
         CAST(sum((strpos('0123456789abcdef', substr(md5(term), i, 1)) - 1)
             * (CAST(1 AS BIGINT) << (4 * (15 - i)))) AS BIGINT) AS h
  FROM ut CROSS JOIN digits
  GROUP BY lang, term
),
hd AS (SELECT DISTINCT lang, h FROM hx),
rk AS (
  SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
  FROM hd
),
st AS (
  SELECT lang, count(*) AS n_exact,
         max(CASE WHEN rn = 32 THEN h END) AS hk
  FROM rk GROUP BY lang
)
SELECT lang, n_exact,
       round(CASE WHEN hk IS NOT NULL
             THEN CAST(31 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
                  / CAST(hk AS DOUBLE)
             ELSE CAST(n_exact AS DOUBLE) END, 6) AS kmv_estimate
FROM st
"""

_SNAPSHOT_MERGE_SQL = """
WITH prev AS (
  SELECT sha256(regexp_replace(text, '\\r\\n', chr(10), 'g')) AS k,
         min('desc-' || doc_id) AS description
  FROM documents WHERE doc_id % 3 = 0
  GROUP BY 1
)
SELECT d.doc_id, coalesce(prev.description, '') AS description
FROM documents d
LEFT JOIN prev
  ON sha256(regexp_replace(d.text, '\\r\\n', chr(10), 'g')) = prev.k
"""

_STALE_SQL = """
SELECT d.doc_id, d.lang
FROM documents d
WHERE d.doc_id % 5 = 0
"""


# webnorm.canonical_url's 7 rules re-expressed in DuckDB list/regexp
# SQL over the SAME synthesized raw urls (component lists shared with
# q_url_canonical via the module constants)
def _url_list_sql(options: list[str]) -> str:
    return "[" + ",".join(f"'{o}'" for o in options) + "]"


_URL_CANONICAL_SQL = f"""
WITH raw AS (
  SELECT doc_id,
    list_extract({_url_list_sql(_URL_SCHEMES)}, CAST(doc_id % 4 + 1 AS BIGINT))
    || '://' ||
    list_extract({_url_list_sql(_URL_HOSTS)}, CAST((doc_id // 4) % 5 + 1 AS BIGINT))
    || list_extract({_url_list_sql(_URL_PATHS)}, CAST((doc_id // 20) % 5 + 1 AS BIGINT))
    || list_extract({_url_list_sql(_URL_QUERIES)}, CAST((doc_id // 100) % 5 + 1 AS BIGINT))
    || list_extract({_url_list_sql(_URL_FRAGS)}, CAST((doc_id // 500) % 2 + 1 AS BIGINT))
    AS url
  FROM documents
),
s1 AS (SELECT doc_id, regexp_replace(trim(url), '#.*$', '') AS u FROM raw),
parts AS (
  SELECT doc_id,
         lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS after
  FROM s1
),
auth0 AS (
  SELECT *, lower(regexp_extract(after, '^([^/?]*)', 1)) AS auth1,
         regexp_replace(after, '^[^/?]*', '') AS rest
  FROM parts
),
auth AS (
  SELECT *, CASE WHEN scheme = 'http'  THEN regexp_replace(auth1, ':80$', '')
                 WHEN scheme = 'https' THEN regexp_replace(auth1, ':443$', '')
                 ELSE auth1 END AS a
  FROM auth0
),
pq AS (
  SELECT *, regexp_extract(rest, '^([^?]*)', 1) AS path0,
         CASE WHEN contains(rest, '?')
              THEN regexp_replace(rest, '^[^?]*\\?', '') END AS query
  FROM auth
),
par AS (
  SELECT *, CASE WHEN query IS NOT NULL THEN
    list_sort(list_filter(string_split(query, '&'),
      p -> p <> '' AND NOT starts_with(lower(p), 'utm_')
        AND NOT regexp_matches(lower(p), '^(fbclid|gclid)='))) END AS ps
  FROM pq
)
SELECT doc_id,
  scheme || '://' || a ||
  CASE WHEN regexp_replace(path0, '/+$', '') = '' THEN '/'
       ELSE regexp_replace(path0, '/+$', '') END ||
  CASE WHEN ps IS NOT NULL AND len(ps) > 0
       THEN '?' || array_to_string(ps, '&') ELSE '' END AS canonical_url
FROM par
"""

# webnorm.host_stats over the SAME synthesized raw urls: host =
# lowercase(authority minus userinfo/port), then one group-by.
_HOST_STATS_SQL = f"""
WITH raw AS (
  SELECT doc_id, lang, length(text) AS chars,
    list_extract({_url_list_sql(_URL_SCHEMES)}, CAST(doc_id % 4 + 1 AS BIGINT))
    || '://' ||
    list_extract({_url_list_sql(_URL_HOSTS)}, CAST((doc_id // 4) % 5 + 1 AS BIGINT))
    || list_extract({_url_list_sql(_URL_PATHS)}, CAST((doc_id // 20) % 5 + 1 AS BIGINT))
    || list_extract({_url_list_sql(_URL_QUERIES)}, CAST((doc_id // 100) % 5 + 1 AS BIGINT))
    || list_extract({_url_list_sql(_URL_FRAGS)}, CAST((doc_id // 500) % 2 + 1 AS BIGINT))
    AS url
  FROM documents
),
hosts AS (
  SELECT lang, chars,
    lower(regexp_replace(regexp_replace(
      regexp_extract(
        regexp_replace(trim(url), '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
        '^([^/?#]*)', 1),
      '^[^@/]*@', ''), ':[0-9]*$', '')) AS host
  FROM raw
)
SELECT host,
  CAST(count(*) AS BIGINT) AS n_pages,
  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
  CAST(sum(chars) AS BIGINT) AS total_chars
FROM hosts GROUP BY host
"""


def oracle_sql() -> dict[str, str]:
    return {
        "tokens_tf": f"WITH {_TOK} SELECT term, doc_id, tf FROM tf",
        "doc_stats": f"WITH {_TOK} SELECT doc_id, doc_len FROM docs",
        "term_df": (
            f"WITH {_TOK} SELECT term, count(*) AS df FROM tf GROUP BY term"
        ),
        "corpus_stats": (
            f"WITH {_TOK} SELECT count(*) AS n_docs, avg(doc_len) AS avgdl"
            " FROM docs"
        ),
        "bm25_topk": _BM25_SQL,
        "dedup_exact": (
            "SELECT sha256(regexp_replace(text, '\\r\\n', chr(10), 'g'))"
            " AS text_hash, count(*) AS dup_count,"
            " min(doc_id) AS canonical_doc_id FROM documents GROUP BY 1"
        ),
        "minhash_signatures": _MINHASH_SIG_SQL,
        "minhash_pairs": _MINHASH_PAIRS_SQL,
        "simhash": _SIMHASH_SQL,
        "simhash_hamming": _SIMHASH_HAMMING_SQL,
        "ngram_jaccard": _JACCARD_SQL,
        "dup_spans": _DUP_SPANS_SQL,
        "dup_spans_cut": _DUP_SPANS_CUT_SQL,
        "dup_spans_keep_first": _DUP_SPANS_KEEP_FIRST_SQL,
        "jaccard_refined": _JACCARD_REFINED_SQL,
        "dedup_clusters": _DUP_CLUSTERS_SQL,
        "dedup_canonical": _DEDUP_CANONICAL_SQL,
        "cosine_topk": _COSINE_SQL,
        "lsh_buckets": _LSH_BUCKETS_SQL,
        "embedding_near_dup": _NEAR_DUP_SQL,
        "ann_lsh_topk": _ANN_LSH_SQL,
        "lang_id": _LANG_ID_SQL,
        "quality_score": _QUALITY_SQL,
        "gopher_repetition": _GOPHER_SQL,
        "gopher_quality": _GOPHER_QUALITY_SQL,
        "c4_quality": _C4_QUALITY_SQL,
        "unigram_nll": _UNIGRAM_NLL_SQL,
        "classifier_score": _CLASSIFIER_SCORE_SQL,
        "line_dedup": _LINE_DEDUP_SQL,
        "line_dedup_doc": _LINE_DEDUP_DOC_SQL,
        "domain_mix": _DOMAIN_MIX_SQL,
        "shuffle_rank": _SHUFFLE_RANK_SQL,
        "length_quantiles": _LENGTH_QUANTILES_SQL,
        "bpe_histogram": _BPE_HISTOGRAM_SQL,
        "packed_ids": _PACKED_IDS_SQL,
        "chunk_passages": _CHUNK_PASSAGES_SQL,
        "novel_docs": _NOVEL_DOCS_SQL,
        "decontaminate": _DECONTAMINATE_SQL,
        "pack_sequences": _PACK_SEQUENCES_SQL,
        "stratified_sample": _STRAT_SAMPLE_SQL,
        "quality_topk": _QUALITY_TOPK_SQL,
        "token_counts": _TOKEN_COUNTS_SQL,
        "fingerprint": _FINGERPRINT_SQL,
        "region_rollup": _REGION_ROLLUP_SQL,
        "customers_without_orders": _NO_ORDERS_SQL,
        "top_orders_per_customer": _TOP_ORDERS_SQL,
        "shipments_in_window": _SHIPMENTS_SQL,
        "acctbal_minmax_norm": _MINMAX_SQL,
        "pricing_summary": _PRICING_SQL,
        "event_sessionization": _SESSIONS_SQL,
        "salted_count": (
            "SELECT event_type, count(*) AS n FROM events GROUP BY event_type"
        ),
        "url_canonical": _URL_CANONICAL_SQL,
        "host_stats": _HOST_STATS_SQL,
        "pii_scrub": _PII_SCRUB_SQL,
        "topo_levels": """
WITH RECURSIVE e AS (
  SELECT doc_id AS src, doc_id // 2 AS dst FROM documents
  WHERE doc_id > 0 AND (doc_id // 2) IN (SELECT doc_id FROM documents)
),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
paths AS (
  SELECT node, 0 AS level FROM nodes
  WHERE node NOT IN (SELECT dst FROM e)
  UNION ALL
  SELECT e.dst AS node, p.level + 1 AS level
  FROM paths p JOIN e ON e.src = p.node
)
SELECT node, CAST(max(level) AS BIGINT) AS level FROM paths GROUP BY node
""",
        "windowed_counts": """
SELECT epoch_us(time_bucket(INTERVAL 10 MINUTE, ts)) AS win_start_us,
       epoch_us(time_bucket(INTERVAL 10 MINUTE, ts) + INTERVAL 10 MINUTE)
         AS win_end_us,
       event_type,
       count(*) AS n_events,
       round(sum(value), 6) AS total_value
FROM events
GROUP BY 1, 2, 3
""",
        "asof_attribution": _ASOF_SQL,
        "kmv_distinct": _KMV_SQL,
        "sql_revenue_by_nation": (
            "SELECT n.n_name, count(*) AS n_orders,"
            " round(sum(o.o_totalprice), 2) AS revenue"
            " FROM orders o"
            " JOIN customer c ON o.o_custkey = c.c_custkey"
            " JOIN nation n ON c.c_nationkey = n.n_nationkey"
            " GROUP BY n.n_name"
        ),
        "sql_lang_doc_stats": (
            "SELECT lang, count(*) AS n_docs,"
            " round(avg(n_chars), 6) AS avg_chars, max(n_chars) AS max_chars"
            " FROM documents GROUP BY lang"
        ),
        "snapshot_merge": _SNAPSHOT_MERGE_SQL,
        "stale_docs": _STALE_SQL,
        "hybrid_topk": _HYBRID_SQL,
        "pagerank_supplier_part": _PAGERANK_SQL,
        "video_frame_sample": _FRAME_SAMPLE_SQL,
        "audio_features": _AUDIO_SQL,
        "image_features": _IMAGE_FEATURES_SQL,
        "embed_texts": _EMBED_TEXTS_SQL,
        **(
            {"ivf_topk": _ivf}
            if (_ivf := _ivf_oracle_sql()) is not None
            else {}
        ),
    }
