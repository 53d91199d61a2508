"""Deduplication operators for large-scale training-data pipelines.

Exact dedup mirrors the reference's content-hash grouping
(dev_tools/population/phase3_tasks.py:160-173 LF-normalized SHA-256;
:425-441 first-writer-wins canonicalization).  The near-dup family
(MinHash+LSH, SimHash, n-gram Jaccard) is the standard web-scale
recipe the reference never needed at its corpus size — implemented
Spark-first: every step is built-in JVM column arithmetic
(regexp/md5/conv/windows/aggregations), NO Python UDFs, so whole-stage
codegen applies and the same math is expressible in the DuckDB oracle
SQL for the correctness gate.

Scale shapes:
* exact: one groupBy(hash) — partial-aggregated, skew-free (hashes
  are uniform).
* minhash: shingling+dedup fold INSIDE the row (r3: array transform +
  array_distinct — no window shuffle, no distinct shuffle), md5 int
  once per shingle in codegen, then one groupBy(doc, hash_i) min —
  shuffle volume = docs × num_hashes, shingle-count independent; the
  band join groups by (band, key) so candidates never go quadratic.
* n-gram Jaccard: exact pairwise via shingle equi-join — correct but
  O(pairs sharing a shingle); the documented scale path is
  minhash_candidate_pairs as the pre-filter.

Tokenization here is the SQL analyzer (lower + ``\\w+`` via JVM
regexp_extract_all) — ASCII-equivalent to the Python analyzer on this
corpus and exactly mirrorable in DuckDB; the BM25 path keeps the
Python analyzer for Unicode parity (SURVEY.md §7).
"""

from __future__ import annotations

from typing import List, Tuple

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

MERSENNE31 = 2_147_483_647  # 2^31 - 1

# deterministic LCG-derived MinHash parameters, shared verbatim with
# the oracle SQL (built from the same constants)
NUM_HASHES = 16
BAND_ROWS = 4


def _hash_params(n: int = NUM_HASHES) -> List[Tuple[int, int, int]]:
    out = []
    a, b = 1, 0
    for i in range(n):
        a = (1103515245 * a + 12345) % MERSENNE31
        b = (1103515245 * b + 54321) % MERSENNE31
        out.append((i, a or 1, b))
    return out


HASH_PARAMS = _hash_params()

SQL_TOKENS = "regexp_extract_all(lower(text), '\\\\w+', 0)"


def exact_dup_groups(docs: DataFrame) -> DataFrame:
    """LF-normalized SHA-256 content groups (A2/F5): one row per
    distinct content with dup_count and first-writer canonical id."""
    h = F.sha2(F.regexp_replace(F.col("text"), "\r\n", "\n"), 256)
    return (
        docs.select(h.alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(
            F.count("*").alias("dup_count"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
    )


def shingle_array(n: int = 3):
    """Column expr: DISTINCT word n-gram shingles of ``text`` as an
    in-row array — the doc is the grouping key, so dedup
    (array_distinct) and gram assembly fold INSIDE the row: no window
    shuffle, no distinct shuffle (r2 shape: posexplode → window lead →
    distinct = two exchanges per dedup query before any real work).
    Memory bound: the per-row array is O(doc tokens) — fine for web
    pages (the input_hint corpus); for unbounded documents pre-truncate
    or fall back to an explode shape."""
    # array_join(slice(...)) = 2 interpreted nodes per gram vs the
    # n+2 of the old concat_ws(element_at…) chain — HOF lambda bodies
    # are interpreted per NODE (CLAUDE.md / gopher lesson; r9).  Same
    # string for non-null tokens, and regexp_extract_all never yields
    # nulls.
    gram = f"array_join(slice(_toks, j, {n}), ' ')"
    return F.expr(
        f"CASE WHEN size(_toks) >= {n} THEN array_distinct("
        f"transform(sequence(1, size(_toks) - {n - 1}), j -> {gram}))"
        " ELSE array() END"
    )


def shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc: (doc_id, shingle).

    Shape (r9): one Arrow batch kernel per partition — tokenize,
    assemble and first-occurrence-dedup the grams in Python (guide
    §4.2).  The old in-row ``explode(array_distinct(transform(...)))``
    evaluated the gram-assembly lambda INTERPRETED per gram and the
    distinct per element; the kernel emits identical strings
    (``re.ASCII \\w+`` over ``str.lower`` ≡ the JVM ``\\w+``/lower on
    ASCII — both classes are [A-Za-z0-9_]; CLAUDE.md tokenizer rule)
    at ~4× less CPU, measured 7.8 s → 2 s for the sf1.0 shingle-cache
    materialization.  Conditional fan-out keeps the kernel parallel on
    single-split bench inputs (no-op at scale).  Memory bound: the
    per-doc gram set is O(doc tokens), same as the array it replaces."""
    sc = docs.sparkSession.sparkContext
    if docs.rdd.getNumPartitions() < sc.defaultParallelism:
        docs = docs.repartition(sc.defaultParallelism)

    nn = int(n)

    def kern(it):
        import re as _re

        import pandas as _pd

        pat = _re.compile(r"\w+", _re.ASCII)
        for pdf in it:
            ids: list = []
            grams: list = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = pat.findall((text or "").lower())
                if len(toks) < nn:
                    continue
                seen = set()
                for j in range(len(toks) - nn + 1):
                    g = " ".join(toks[j : j + nn])
                    if g not in seen:
                        seen.add(g)
                        ids.append(doc_id)
                        grams.append(g)
            yield _pd.DataFrame(
                {"doc_id": _pd.Series(ids, dtype="int64"), "shingle": grams}
            )

    return docs.select("doc_id", "text").mapInPandas(
        kern, "doc_id long, shingle string"
    )


def _shingle_int(col: str = "shingle"):
    """First 15 hex chars of md5 → bigint (< 2^60), JVM-side; the
    DuckDB oracle folds the same hex digits with shifts.

    Collision bound (VERDICT r6 #3): 60-bit keys are COLLISION-SILENT.
    At n distinct inputs the expected number of colliding pairs is
    ~n^2 / 2^61 — negligible at contract/bench scale, but at a 100 TB
    corpus (~1e13 grams) it is ~1e8 pairs, i.e. a ~1e-5 fraction of
    grams spuriously merged.  For gram-frequency counting
    (:func:`dup_span_runs`) a collision only inflates a count — a cold
    gram can be falsely "hot", adding noise a curation pipeline
    tolerates.  Where a false merge would CUT real text (the
    keep-first span key in :func:`cut_dup_spans`), pass
    ``wide_keys=True`` for a 120-bit two-column key (~1e-10 expected
    colliding pairs at 1e13 spans).  Forced-collision behavior is
    pinned in tests/test_repetition_ops.py."""
    return F.conv(F.substring(F.md5(F.col(col)), 1, 15), 16, 10).cast("long")


def _shingle_int_expr(expr: str):
    """Same md5→60-bit-int collapse over an arbitrary SQL expression
    (string) instead of a named column."""
    return F.conv(
        F.substring(F.md5(F.expr(expr)), 1, 15), 16, 10
    ).cast("long")


def minhash_wide(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = NUM_HASHES,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, m0..m{num_hashes−1}): the whole MinHash signature in
    ONE partial-aggregated groupBy(doc_id) with ``num_hashes``
    conditional-free min columns (r9, guide §2.3 "aggregate before
    you shuffle"): every h_i is a codegen multiply-add-mod on the SAME
    shingle int, so the ×num_hashes row expansion of the old
    broadcast-params-join shape (shingles × 16 rows through the
    exchange) disappears — the shuffle is one combined row per doc per
    map partition, 16 longs wide.  Same integer math, same mins.

    h_i(x) = (a_i·x + b_i) mod (2^31−1) over 60-bit shingle ints;
    a_i·x < 2^62 so no bigint overflow (ANSI-safe).  (An all-in-row
    array variant — array_min(transform) per hash — measured 30×
    SLOWER at sf0.1: projection collapse inlines the shingle-int
    array into every min expression, recomputing md5 ×num_hashes per
    shingle, and HOF lambdas evaluate interpreted.  The row shape
    stays; only the hash expansion moved from rows to columns.)
    """
    sh = (shingles_df if shingles_df is not None else shingles(docs, n)).select(
        "doc_id", (_shingle_int() % MERSENNE31).alias("x")
    )
    mins = [
        F.min(
            (F.lit(a) * F.col("x") + F.lit(b)) % F.lit(MERSENNE31)
        ).alias(f"m{i}")
        for i, a, b in HASH_PARAMS[:num_hashes]
    ]
    return sh.groupBy("doc_id").agg(*mins)


def minhash_signatures(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = NUM_HASHES,
    shingles_df: DataFrame | None = None,
    wide_df: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, i, minhash): MinHash signature rows — the narrow
    unpivot of :func:`minhash_wide` (``wide_df`` reuses a precomputed
    wide signature; zero extra shuffle either way)."""
    wide = (
        wide_df
        if wide_df is not None
        else minhash_wide(docs, n, num_hashes, shingles_df=shingles_df)
    )
    stack_args = ", ".join(f"{i}, m{i}" for i in range(num_hashes))
    return wide.select(
        "doc_id",
        F.expr(f"stack({num_hashes}, {stack_args})").alias("i", "minhash"),
    ).select("doc_id", "i", "minhash")


def _band_keys(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = NUM_HASHES,
    band_rows: int = BAND_ROWS,
    shingles_df: DataFrame | None = None,
    wide_df: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, band, band_key): LSH band keys of the MinHash
    signature — a narrow in-row stack over :func:`minhash_wide` (r9:
    the old shape re-aggregated signature ROWS per (doc, band); the
    wide signature already holds all slots, so band keys need no
    exchange at all).  Shared by within-corpus pair generation and the
    cross-corpus ``novel_docs`` path; at scale the existing corpus's
    output of this function IS the stored artifact an incremental
    pipeline band-joins against."""
    wide = (
        wide_df
        if wide_df is not None
        else minhash_wide(docs, n, num_hashes, shingles_df=shingles_df)
    )
    n_bands = -(-num_hashes // band_rows)  # ceil: partial last band kept
    stack_args = ", ".join(
        "{b}, concat_ws(',', {slots})".format(
            b=b,
            slots=", ".join(
                f"m{b * band_rows + r}"
                for r in range(band_rows)
                if b * band_rows + r < num_hashes
            ),
        )
        for b in range(n_bands)
    )
    return wide.select(
        "doc_id",
        F.expr(f"stack({n_bands}, {stack_args})").alias("band", "band_key"),
    ).select("doc_id", "band", "band_key")


def minhash_candidate_pairs(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = NUM_HASHES,
    band_rows: int = BAND_ROWS,
    shingles_df: DataFrame | None = None,
    wide_df: DataFrame | None = None,
) -> DataFrame:
    """LSH banding: docs sharing any band of the signature.

    Output (doc_a, doc_b), doc_a < doc_b, distinct.  Band keys stack
    in-row from the wide signature (``wide_df`` reuses a precomputed /
    cached one — without it the wide aggregation runs once per join
    side unless the optimizer reuses the exchange).
    """
    keyed = _band_keys(docs, n, num_hashes, band_rows, shingles_df, wide_df)
    a = keyed.alias("a")
    b = keyed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


NGRAM_JACCARD_MAX_DOCS = 100_000


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    shingles_df: DataFrame | None = None,
    max_docs: int | None = NGRAM_JACCARD_MAX_DOCS,
    on_overflow: str = "error",
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs ≥ threshold.

    (doc_a, doc_b, jaccard) — jaccard rounded to 6dp.  Exact-but-
    quadratic-in-collisions; at scale run after minhash_candidate_pairs.

    Guard (VERDICT r7 #6): the self-join is O(collisions²) by design
    and nothing else stops a caller pointing it at 10⁶ docs, so above
    ``max_docs`` input docs it refuses (``on_overflow='error'``) or
    auto-routes to the candidate-bounded exact pipeline
    (``on_overflow='refine'`` → :func:`jaccard_refined_pairs`, which
    returns IDENTICAL pairs for any threshold the LSH bands can recall
    — same exact-jaccard refine, candidates instead of all-pairs).
    The probe is a cheap ``limit(max_docs+1)`` count, the same
    two-regime pattern as graph.topological_levels; ``max_docs=None``
    opts out explicitly.
    """
    if max_docs is not None:
        probed = docs.select("doc_id").limit(int(max_docs) + 1).count()
        if probed > max_docs:
            if on_overflow == "refine":
                return jaccard_refined_pairs(
                    docs, n, threshold, shingles_df=shingles_df
                )
            raise ValueError(
                f"ngram_jaccard_pairs: input exceeds max_docs={max_docs} "
                "and is exact-but-quadratic — use jaccard_refined_pairs "
                "(LSH candidates + exact refine), pass "
                "on_overflow='refine' to auto-route, or max_docs=None "
                "to force the all-pairs join"
            )
    sh = shingles_df if shingles_df is not None else shingles(docs, n)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    # EXACT integer dictionary for the self-join key (r9): the
    # collision-prone shingle strings are replaced by dense ids from a
    # row_number over the DISTINCT gram vocabulary — bounded by the
    # max_docs guard above, so the single-partition window is the same
    # documented exception as length_quantiles' histogram.  The join
    # then compares 4-byte ints instead of ~30-char strings across the
    # |collisions|-sized join output (identical pairs: the id map is a
    # bijection, no hashing).
    from pyspark.sql import Window

    sid = sh.select("shingle").distinct().withColumn(
        "sid", F.row_number().over(Window.orderBy("shingle"))
    )
    shi = sh.join(F.broadcast(sid), "shingle").join(
        sizes, "doc_id"
    ).select("doc_id", "sid", "n_sh")
    # size-compatibility prune (exact, recall 1): jaccard(a,b) ≤
    # min(na,nb)/max(na,nb), so j ≥ t requires t·max ≤ min — drop
    # incompatible pairs INSIDE the join, before the pair aggregation
    # (the 1e-9 slack makes float rounding err on the keep side).
    t = float(threshold)
    a = shi.alias("a")
    b = shi.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.sid") == F.col("b.sid"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.n_sh") >= F.lit(t) * F.col("b.n_sh") - F.lit(1e-9))
            & (F.col("b.n_sh") >= F.lit(t) * F.col("a.n_sh") - F.lit(1e-9)),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("common"))
    )
    j = (
        common.join(
            sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
                "n_sh", "na"
            ),
            "doc_a",
        )
        .join(
            sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "n_sh", "nb"
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("common")
                / (F.col("na") + F.col("nb") - F.col("common"))
            ).alias("jac"),
        )
    )
    return j.where(F.col("jac") >= threshold).select(
        "doc_a", "doc_b", F.round("jac", 6).alias("jaccard")
    )


SIMHASH_BITS = 48


def simhash(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """(doc_id, simhash): tf-weighted SimHash over unigram tokens.

    Token → 60-bit md5 int; bit j votes ±tf; simhash = Σ (sum_j>0)<<j.

    Shape (r3): tf·sign per (doc, term) ≡ one ±1 vote per token
    OCCURRENCE, so the tf pre-aggregation is unnecessary — one token
    explode, md5 in codegen, then a SINGLE partial-aggregated
    groupBy(doc) carrying ``bits`` sum columns with LITERAL shift
    amounts (stays in whole-stage codegen; no HOF lambdas).  The r2
    shape exploded docs×terms×bits vote ROWS through the shuffle and
    grouped twice; this shuffles one combined row per doc per map
    partition.
    """
    toks = docs.select(
        "doc_id", F.explode(F.expr(SQL_TOKENS)).alias("tok")
    )
    hashed = toks.select(
        "doc_id",
        F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10)
        .cast("long")
        .alias("x"),
    )
    votes = [
        F.sum(F.expr(f"(shiftright(x, {j}) % 2) * 2 - 1")).alias(f"v{j}")
        for j in range(bits)
    ]
    sig = " + ".join(
        f"IF(v{j} > 0, shiftleft(cast(1 as bigint), {j}), cast(0 as bigint))"
        for j in range(bits)
    )
    return (
        hashed.groupBy("doc_id")
        .agg(*votes)
        .select("doc_id", F.expr(sig).alias("simhash"))
    )


def _components_numpy(ia, ib, n_nodes: int):
    """Vectorized connected components over dense node indices
    (min-label hooking + pointer jumping, Shiloach–Vishkin shape):
    each round scatter-mins edge labels into both endpoints, then
    flattens label chains.  Labels are elementwise non-increasing
    integers, so the fixpoint exists; at fixpoint labels are equal
    across every edge and flat — i.e. the component MINIMUM node
    index.  Dense indices come from np.unique (ascending), so min
    index == min doc_id: identical labels to the union-find it
    replaced, ~100× faster than a per-pair Python loop at 10⁶ pairs."""
    import numpy as np

    # one-time sort of the symmetric edge list groups each node's
    # neighbor slots contiguously: per round the scatter-min is a
    # gather + ONE np.minimum.reduceat (ufunc.at is ~10× slower)
    t = np.concatenate([ia, ib])
    nbr = np.concatenate([ib, ia])
    order = np.argsort(t, kind="stable")
    t_s = t[order]
    nbr_s = nbr[order]
    starts = np.flatnonzero(np.r_[True, t_s[1:] != t_s[:-1]])
    targets = t_s[starts]

    labels = np.arange(n_nodes, dtype=np.int64)
    while True:
        before = labels.copy()
        mins = np.minimum.reduceat(labels[nbr_s], starts)
        # hook ROOTS, not just nodes (labels are flat here, so
        # labels[u] IS u's root): tree-onto-tree hooking + jumping is
        # what makes rounds O(log n) instead of O(diameter) — a
        # critical-density random graph measured 173 rounds with
        # node-hooking vs 9 with root-hooking
        imp = mins < labels[targets]
        u = targets[imp]
        m = mins[imp]
        np.minimum.at(labels, labels[u], m)
        labels[u] = np.minimum(labels[u], m)
        while True:  # pointer jumping: flatten chains
            nxt = labels[labels]
            if np.array_equal(nxt, labels):
                break
            labels = nxt
        if np.array_equal(labels, before):
            return labels


def _persistent_rdd_ids(sc) -> set:
    """Ids of currently persisted RDD blocks (best-effort, via the
    JVM context — localCheckpoint storage is not reachable through the
    public DataFrame API).

    SINGLE-THREADED-DRIVER ASSUMPTION (ADVICE r5, low): callers use
    snapshot DIFFS of this set to find the RDDs their own
    localCheckpoint calls persisted.  In a driver that runs OTHER jobs
    concurrently on the same SparkContext, an RDD persisted by another
    thread between two snapshots lands in the diff and gets
    unpersisted here — never wrong answers, but a silent cache
    eviction (recompute cost) for the other job.  dup_clusters /
    topological_levels therefore assume no concurrent persisting
    threads while they run; schedule them exclusively in
    multi-threaded drivers."""
    try:
        return {int(i) for i in sc._jsc.getPersistentRDDs().keySet().toArray()}
    except Exception:
        return set()


def _unpersist_rdds(sc, ids) -> None:
    try:
        jmap = sc._jsc.getPersistentRDDs()
        for i in ids:
            rdd = jmap.get(i)
            if rdd is not None:
                rdd.unpersist(False)
    except Exception:
        pass  # best-effort: leaked blocks only cost executor storage


def dup_clusters(
    pairs: DataFrame,
    max_iter: int = 50,
    driver_threshold: int = 5_000_000,
) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, cluster_id)
    with cluster_id = MIN doc_id in the component (the canonical
    "keep this one" representative every dedup pipeline needs after
    pair generation).

    Two regimes (same split as graph.pagerank):

    * pair set fits the driver (≤ ``driver_threshold`` edges — the
      near-dup pair volume, NOT the corpus): collect once and run
      union-find — O(E·α) and exact, no per-round Spark jobs (the
      distributed loop's per-round scheduling overhead dominated on
      small graphs: 10 s for 477 nodes at sf0.1).
    * larger: distributed min-label propagation — each round every
      node takes the least label among itself and its neighbours;
      converges in O(component diameter) rounds (near-dup components
      are shallow), ``max_iter`` bounds pathology.  One shuffled join
      + partial-agg min per round, labels localCheckpoint each round
      (constant-size plans), convergence count as the driver action.

    Both are deterministic (min is order-free) and produce identical
    labels — asserted in tests/test_dedup_clusters.py.
    """
    spark = pairs.sparkSession
    # regime probe + data fetch in ONE pass: limit(threshold+1) — if
    # the limit isn't hit we already hold every pair and the expensive
    # pair-generation pipeline ran exactly once (count()+collect()
    # would run it twice).  toPandas = Arrow transfer (r3 VERDICT #3:
    # at the 5M-pair threshold, py4j Row deserialization is ~GBs and
    # minutes; Arrow + the vectorized component solver keep the whole
    # driver step sub-second — measured in tests/test_dedup_clusters).
    import numpy as np

    probe = pairs.select("doc_a", "doc_b").limit(driver_threshold + 1).toPandas()
    if probe.empty:
        return spark.createDataFrame([], "doc_id long, cluster_id long")
    if len(probe) <= driver_threshold:
        a = probe["doc_a"].to_numpy(dtype=np.int64)
        b = probe["doc_b"].to_numpy(dtype=np.int64)
        nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
        roots = _components_numpy(inv[: len(a)], inv[len(a):], len(nodes))
        import pandas as pd

        out = pd.DataFrame({"doc_id": nodes, "cluster_id": nodes[roots]})
        return spark.createDataFrame(out, "doc_id long, cluster_id long")

    sc = spark.sparkContext
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .distinct()
        .cache()
    )
    # executor-storage hygiene (ADVICE r3): each round's eager
    # localCheckpoint persists a labels snapshot; once the next round
    # is materialized the previous snapshot backs nothing — release it
    # instead of accumulating one corpus-sized block set per round in
    # a long-lived session.  Only the FINAL labels stay persisted (the
    # caller consumes them); edges unpersist before return.
    #
    # Materialize the edges cache BEFORE snapshotting base_ids (ADVICE
    # r4 medium): the cached RDD only registers in getPersistentRDDs on
    # its first job, which used to be the first labels checkpoint — so
    # it landed in prev_ids and round 1's _unpersist_rdds dropped it,
    # recomputing the full pair-generation pipeline every round.
    edges.count()
    base_ids = _persistent_rdd_ids(sc)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    prev_ids = _persistent_rdd_ids(sc) - base_ids
    for _ in range(max_iter):
        nbr = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nl"))
        )
        pre_ids = _persistent_rdd_ids(sc)
        new_labels = (
            labels.join(nbr, labels.node == nbr.src, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nl"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        new_ids = _persistent_rdd_ids(sc) - pre_ids
        changed = (
            new_labels.alias("a")
            .join(labels.alias("b"), "node")
            .where(F.col("a.label") != F.col("b.label"))
            .count()
        )
        labels = new_labels
        _unpersist_rdds(sc, prev_ids)  # superseded snapshot
        prev_ids = new_ids
        if changed == 0:
            break
    edges.unpersist()
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def canonicalize(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Corpus after near-dup removal: keep every doc that is its own
    cluster representative (min doc_id per component) plus all
    singletons.  Anti-join on doc_id — at web scale the loser set is a
    large fraction of the corpus, so this is a shuffled (or AQE-chosen)
    anti join, NOT a broadcast."""
    losers = dup_clusters(pairs).where(F.col("doc_id") != F.col("cluster_id"))
    return docs.join(losers.select("doc_id"), "doc_id", "left_anti")


def jaccard_refined_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = NUM_HASHES,
    band_rows: int = BAND_ROWS,
    shingles_df: DataFrame | None = None,
    wide_df: DataFrame | None = None,
    cand_df: DataFrame | None = None,
) -> DataFrame:
    """THE near-dup pipeline at scale: MinHash-LSH band candidates →
    exact n-gram Jaccard computed for the CANDIDATE PAIRS ONLY.

    ngram_jaccard_pairs is exact but quadratic in shingle collisions;
    this composition bounds the refine stage to |candidates| pairs
    (r1 VERDICT called the composition out as the intended 100 TB
    shape).  Output (doc_a, doc_b, jaccard ≥ threshold), 6dp.
    ``cand_df`` reuses a precomputed candidate-pair relation (the r9
    entry cache shares one across the refined/clusters/canonical
    contract queries — same reuse pattern as the shingle relation).
    """
    cand = (
        cand_df
        if cand_df is not None
        else minhash_candidate_pairs(
            docs, n, num_hashes, band_rows,
            shingles_df=shingles_df, wide_df=wide_df,
        )
    )
    sh = shingles_df if shingles_df is not None else shingles(docs, n)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    # candidate-pruned intersection: shingles of doc_a joined to
    # doc_b's shingles only for candidate pairs
    common = (
        cand.join(sh.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(
            sh.select(
                F.col("doc_id").alias("doc_b"), F.col("shingle")
            ),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("common"))
    )
    j = (
        common.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("common")
                / (F.col("na") + F.col("nb") - F.col("common"))
            ).alias("jac"),
        )
    )
    return j.where(F.col("jac") >= threshold).select(
        "doc_a", "doc_b", F.round("jac", 6).alias("jaccard")
    )


def simhash_hamming_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    n_bands: int = 4,
    bits: int = SIMHASH_BITS,
    sig_df: DataFrame | None = None,
) -> DataFrame:
    """EXACT SimHash near-dup pairs: hamming(simhash_a, simhash_b) ≤ k
    via the pigeonhole band join (HmSearch shape).

    With ``n_bands > max_hamming``, any pair within k differing bits
    must agree EXACTLY on ≥ n_bands − k ≥ 1 band → the band equi-join
    is a recall-1.0 prefilter (never quadratic: buckets are
    (band, 12-bit value) groups), and ``bit_count(xor)`` then filters
    exactly.  Output (doc_a, doc_b, hamming).
    """
    if n_bands <= max_hamming:
        raise ValueError("pigeonhole needs n_bands > max_hamming")
    width = bits // n_bands
    mask = (1 << width) - 1
    # BOTH sides of the band self-join consume the signature relation
    # and the optimizer cannot reuse it (one side sits under a
    # BroadcastExchange — verified in the r9 before-plan: the whole
    # token-explode + 48-column aggregate ran twice).  Persist unless
    # the caller passes a precomputed/cached one.
    sh = sig_df if sig_df is not None else simhash(docs, bits).persist()
    stack_args = ", ".join(
        f"{b}, shiftright(simhash, {b * width}) & {mask}"
        for b in range(n_bands)
    )
    banded = sh.select(
        "doc_id", "simhash",
        F.expr(f"stack({n_bands}, {stack_args})").alias("band", "v"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            # filter BEFORE the dedup exchange (r9): the hamming test
            # is a per-row codegen expression, and (sa, sb) are
            # functionally determined by the doc ids, so
            # filter-then-distinct ≡ distinct-then-filter — but the
            # distinct now shuffles only the surviving pairs, not
            # every band collision
            F.expr("cast(bit_count(a.simhash ^ b.simhash) as bigint)")
            .alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return cand


def _positioned_grams(docs: DataFrame, l: int) -> DataFrame:
    """(doc_id, pos, gram_h): every OVERLAPPING word ``l``-gram with
    its 1-based start token position, the gram already collapsed to
    the md5-derived 60-bit int so only 8-byte keys ever shuffle,
    never gram text.

    Shape (r9): one Arrow batch kernel — tokenize, slide the window,
    md5-fold (hashlib md5 == the JVM md5; identical 15-hex prefix
    folds) in Python per partition instead of an interpreted
    gram-assembly lambda + per-gram JVM md5 (guide §4.2; same ASCII
    tokenizer-parity argument as :func:`shingles`).  Conditional
    fan-out keeps single-split bench inputs parallel (no-op at
    scale)."""
    sc = docs.sparkSession.sparkContext
    if docs.rdd.getNumPartitions() < sc.defaultParallelism:
        docs = docs.repartition(sc.defaultParallelism)
    ll = int(l)

    def kern(it):
        import hashlib as _hl
        import re as _re

        import pandas as _pd

        pat = _re.compile(r"\w+", _re.ASCII)
        for pdf in it:
            ids: list = []
            poss: list = []
            hs: list = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = pat.findall((text or "").lower())
                for j in range(len(toks) - ll + 1):
                    g = " ".join(toks[j : j + ll])
                    ids.append(doc_id)
                    poss.append(j + 1)
                    hs.append(int(_hl.md5(g.encode()).hexdigest()[:15], 16))
            yield _pd.DataFrame(
                {
                    "doc_id": _pd.Series(ids, dtype="int64"),
                    "pos": _pd.Series(poss, dtype="int64"),
                    "gram_h": _pd.Series(hs, dtype="int64"),
                }
            )

    return docs.select("doc_id", "text").mapInPandas(
        kern, "doc_id long, pos long, gram_h long"
    )


def dup_span_runs(
    docs: DataFrame, l: int = 8, min_count: int = 2
) -> DataFrame:
    """Exact substring deduplication (the Lee et al. 2022 "Deduplicating
    Training Data Makes Language Models Better" operator family): every
    MAXIMAL token span whose ``l``-grams each occur >= ``min_count``
    times corpus-wide (self-repeats within one document count).
    Returns (doc_id, span_start, span_end, n_grams) with 1-based
    inclusive token positions — the spans a training pipeline would cut
    or down-weight.

    Scale shape: positioned grams are one narrow codegen stage;
    corpus-wide gram frequency is ONE partial-aggregated
    groupBy(gram_h) (uniform 60-bit keys — skew-free); the hot-gram
    semi-join shuffles 8-byte keys; the maximal-run merge
    (gaps-and-islands: pos - row_number) is one window exchange
    partitioned by doc_id.  Nothing is ever pairwise-quadratic and no
    gram TEXT survives past the first projection, so this runs at
    suffix-array-replacement scale — the 100 TB variant swaps the
    exact count for a >=2-occurrence Bloom/count-min prefilter with
    identical downstream algebra."""
    from pyspark.sql import Window

    # grams feed BOTH the frequency aggregate and the hot-gram join —
    # persist so the opaque gram kernel runs once, not per consumer
    grams = _positioned_grams(docs, l).persist()
    hot = (
        grams.groupBy("gram_h")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") >= min_count)
        .select("gram_h")
    )
    dup = grams.join(hot, "gram_h").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = dup.withColumn("rid", F.col("pos") - F.row_number().over(w))
    return (
        runs.groupBy("doc_id", "rid")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(l - 1)).cast("long").alias("span_end"),
            F.count("*").cast("long").alias("n_grams"),
        )
        .select("doc_id", "span_start", "span_end", "n_grams")
    )


def _span_key_cols(expr: str, wide: bool, hex_chars: int = 15) -> list:
    """md5-derived INTEGER key column(s) for a span-text SQL
    expression.  Narrow (default): one bigint over the first
    ``hex_chars`` md5 hex chars (60 bits at the default) — collision-
    silent; see :func:`_shingle_int` for the birthday bound.  Wide:
    TWO bigints covering 120 md5 bits, for the keep-first span key
    where a hash collision would falsely merge two DISTINCT span
    texts and cut real text.  Keys stay integers in both modes so
    only 8/16 bytes shuffle per span and bucket identity can't flip
    across engines.  ``hex_chars`` < 15 exists ONLY so tests can
    force collisions cheaply (md5 preimages at 60 bits aren't
    craftable in a unit test)."""
    md5 = F.md5(F.expr(expr))
    first = (
        F.conv(F.substring(md5, 1, hex_chars), 16, 10)
        .cast("long")
        .alias("span_key")
    )
    if not wide:
        return [first]
    second = (
        F.conv(F.substring(md5, 16, 15), 16, 10)
        .cast("long")
        .alias("span_key2")
    )
    return [first, second]


def cut_dup_spans(
    docs: DataFrame, l: int = 8, min_count: int = 2,
    spans: DataFrame | None = None, keep: str = "none",
    wide_keys: bool = False, _key_hex_chars: int = 15,
) -> DataFrame:
    """The corpus-cleaning payoff of :func:`dup_span_runs` (Lee et al.
    2022 ExactSubstr removal): excise tokens covered by duplicated
    spans and rebuild each document from its surviving token stream.
    ``keep="none"`` (conservative) cuts EVERY occurrence;
    ``keep="first"`` (the paper's default policy) keeps the globally
    first occurrence of each DISTINCT duplicated span text — ordered
    by (doc_id, span_start) — and cuts the rest.  Returns (doc_id,
    clean_text, n_removed_tokens); documents with no cut spans pass
    through with ``n_removed_tokens = 0``.  ``clean_text`` is the
    space-joined TOKEN stream (lowercased, punctuation-free) — the
    shape a training pipeline tokenizes anyway; original formatting is
    already gone at this stage by design.  Note partially-overlapping
    repeats yield different maximal spans (different texts), so each
    text group keeps its own first occurrence — the standard
    ExactSubstr behavior.

    Scale shape: spans are maximal runs of gram START positions, so
    two runs whose starts are closer than ``l`` (e.g. hot grams at p
    and p+2 with p+1 cold) cover OVERLAPPING token ranges — the kill
    list may therefore contain duplicate (doc_id, pos) rows (ADVICE
    r6, low).  That is harmless by construction: left_anti join
    semantics are duplicate-insensitive, and the kill-row count is
    bounded by total span coverage INCLUDING overlaps — at most
    ``l``× the duplicated-gram count, still linear in corpus size
    (no distinct() pass is spent making it tight); the kill-list
    anti-join keys on (doc_id, pos) — uniform, 8+8 bytes; the
    rebuild is one partial-agg-free groupBy(doc_id)
    whose collect_list is bounded by the document length (the same
    per-row bound the gram arrays already carry).  keep="first" adds
    one doc_id join to recover span text plus a partial-aggregable
    min(struct) + equi-join over the md5-int span key (8-byte
    shuffles; span text never shuffles; r7: no row_number window, so
    a viral span duplicated 1e9 times can't become an unsplittable
    window straggler) — span-count-sized relations, tiny next to the
    corpus.  The default
    60-bit span key is collision-silent (a collision falsely merges
    two distinct span texts and cuts one that should survive — see
    :func:`_shingle_int` for the 1e13-scale bound); pass
    ``wide_keys=True`` to key on 120 md5 bits as two bigints when
    cutting at that scale."""
    if keep not in ("none", "first"):
        raise ValueError(f"unknown keep policy {keep!r}")
    if spans is None:
        spans = dup_span_runs(docs, l=l, min_count=min_count)
    if keep == "first":

        toks0 = docs.select("doc_id", F.expr(SQL_TOKENS).alias("_toks"))
        key_cols = _span_key_cols(
            "array_join(slice(_toks, cast(span_start as int),"
            " cast(span_end - span_start + 1 as int)), ' ')",
            wide_keys,
            _key_hex_chars,
        )
        keyed = spans.join(toks0, "doc_id").select(
            "doc_id", "span_start", "span_end", *key_cols
        )
        key_names = [c for c in keyed.columns if c.startswith("span_key")]
        # keep-first via partial-aggregable min(struct) + equi-join —
        # NOT a row_number window: a viral paragraph duplicated 1e9
        # times would pile into one window partition (unsplittable
        # straggler), while the min combines map-side and AQE
        # skew-join splits the hot key on the join (r7; same shape as
        # dedup_lines)
        firsts = keyed.groupBy(*key_names).agg(
            F.min(F.struct("doc_id", "span_start")).alias("f"),
            F.count("*").alias("c"),
        )
        spans = (
            keyed.join(firsts.where(F.col("c") >= 2), key_names)
            .where(
                (F.col("doc_id") != F.col("f.doc_id"))
                | (F.col("span_start") != F.col("f.span_start"))
            )
            .select("doc_id", "span_start", "span_end")
        )
    kill = spans.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("span_start"), F.col("span_end"))
        ).alias("pos"),
    )
    toks = (
        docs.select("doc_id", F.expr(SQL_TOKENS).alias("_toks"))
        .select(
            "doc_id",
            F.posexplode_outer("_toks").alias("pos0", "term"),
        )
        .select(
            "doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "term"
        )
    )
    kept = toks.join(kill, ["doc_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.expr("transform(array_sort(collect_list(struct(pos, term))),"
                   " x -> x.term)"),
            " ",
        ).alias("clean_text"),
        F.count("term").cast("long").alias("n_kept"),
    )
    # left join keeps empty/fully-cut docs; n_tokens from the source
    n_tok = docs.select(
        "doc_id", F.size(F.expr(SQL_TOKENS)).cast("long").alias("n_tokens")
    )
    return (
        n_tok.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_removed_tokens"),
        )
    )


def dedup_lines(
    docs: DataFrame, keep: str = "first", scope: str = "corpus"
) -> DataFrame:
    """Corpus-wide duplicate-LINE removal — the CCNet / RefinedWeb
    boilerplate filter (Wenzek et al. 2019 dedups paragraphs by hash
    before anything else; cookie banners and nav junk are cross-site
    duplicated lines).  A line is duplicated when its exact text
    occurs >= 2 times corpus-wide (self-repeats within one document
    count).  ``keep="first"`` (the stream-order CCNet policy) keeps
    the globally first occurrence — ordered by (doc_id, line_no) —
    and cuts the rest; ``keep="none"`` cuts every occurrence of a
    duplicated line (boilerplate is junk even once).  Returns
    (doc_id, clean_text, n_removed_lines) with surviving lines
    rejoined by '\\n' in original order; documents with no duplicated
    lines pass through verbatim.

    Scale shape: the duplicate decision shuffles ONLY 8-byte md5-int
    line keys plus (doc_id, line_no); line TEXT moves once, in the
    final doc_id-keyed rebuild groupBy, which is the output's own
    volume and therefore the minimum possible.  keep="first" is a
    PARTIAL-AGGREGABLE ``min(struct(doc_id, line_no))`` per key + an
    equi-join back — deliberately NOT a row_number window: a
    corpus-wide hot line (a cookie banner on 1e11 documents) would
    pile every occurrence into one window partition, a straggler AQE
    cannot split, whereas the min combines map-side and the join's
    hot key is exactly what AQE skew-join splits.  The 60-bit key is
    collision-silent like the span key (:func:`_shingle_int` bound) —
    a collision wrongly cuts one line per ~2^61 line pairs.

    ``scope="doc"`` restricts the duplicate decision to WITHIN each
    document (FineWeb's intra-doc repetition cleanup: a nav block
    pasted twice in one page) — a line is cut only when its text
    repeats inside the SAME doc.  The grouping key becomes
    (doc_id, line_key), which is perfectly distributed by
    construction (no corpus-wide hot key can exist), so the plan is
    the same shape with strictly better skew properties."""
    if keep not in ("none", "first"):
        raise ValueError(f"unknown keep policy {keep!r}")
    if scope not in ("corpus", "doc"):
        raise ValueError(f"unknown scope {scope!r}")
    lines = docs.select(
        "doc_id",
        F.posexplode(F.expr("split(text, '\n')")).alias("line_no", "line"),
    )
    keyed = lines.select(
        "doc_id",
        "line_no",
        _shingle_int("line").alias("line_key"),
    )
    grp = ["line_key"] if scope == "corpus" else ["doc_id", "line_key"]
    firsts = keyed.groupBy(*grp).agg(
        F.min(F.struct("doc_id", "line_no")).alias("f"),
        F.count("*").alias("c"),
    )
    if keep == "first":
        kill = (
            keyed.join(firsts.where(F.col("c") >= 2), grp)
            .where(
                (F.col("doc_id") != F.col("f.doc_id"))
                | (F.col("line_no") != F.col("f.line_no"))
            )
            .select("doc_id", "line_no")
        )
    else:
        kill = keyed.join(
            firsts.where(F.col("c") >= 2).select(*grp), grp
        ).select("doc_id", "line_no")
    kept = lines.join(kill, ["doc_id", "line_no"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.expr(
                "transform(array_sort(collect_list(struct(line_no, line))),"
                " x -> x.line)"
            ),
            "\n",
        ).alias("clean_text"),
        F.count("*").cast("long").alias("n_kept"),
    )
    n_lines = docs.select(
        "doc_id",
        F.size(F.expr("split(text, '\n')")).cast("long").alias("n_lines"),
    )
    return (
        n_lines.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            (F.col("n_lines") - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_removed_lines"),
        )
    )


def decontaminate(
    docs: DataFrame, probes: DataFrame, l: int = 8
) -> DataFrame:
    """Benchmark decontamination — flag corpus documents sharing any
    word ``l``-gram with a probe/eval set (the standard LLM-pipeline
    step that removes test-set leakage before training; e.g. GPT-3
    appendix C / PaLM's 8-gram overlap rule).  ``probes`` is any
    (doc_id, text) relation — held-out benchmarks, eval suites.
    Returns one row per CORPUS doc: (doc_id, hit_grams, contaminated)
    where ``hit_grams`` counts the doc's gram POSITIONS matching any
    probe gram (0 for clean docs) and ``contaminated`` is the 0/1 kill
    flag a pipeline anti-joins on.

    Scale shape: corpus grams assemble in-row and collapse to 60-bit
    md5 ints before any join (gram text never shuffles; same
    collision-silent bound as :func:`_shingle_int` — a collision
    false-flags ~1e-5 of docs at 1e13 grams, conservative in the safe
    direction for decontamination); the probe side is DISTINCT gram
    ints — benchmarks are tiny next to the corpus, so the join
    BROADCASTS and the whole operator is one narrow pass over the
    corpus plus a per-doc partial aggregation.  With a probe set too
    large to broadcast, drop the hint and AQE picks a shuffle join."""
    corpus = _positioned_grams(docs, l)
    probe_grams = F.broadcast(
        _positioned_grams(probes, l).select("gram_h").distinct()
    )
    hits = (
        corpus.join(probe_grams, "gram_h")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("hit_grams"))
    )
    return (
        docs.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("hit_grams", F.lit(0)).cast("long").alias(
                "hit_grams"
            ),
            F.when(F.col("hit_grams").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("contaminated"),
        )
    )


def novel_docs(
    new_docs: DataFrame,
    old_docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    refine: bool = True,
    num_hashes: int = NUM_HASHES,
    band_rows: int = BAND_ROWS,
    old_shingles: DataFrame | None = None,
    old_band_keys: DataFrame | None = None,
) -> DataFrame:
    """Incremental-crawl near-dup gate: the NEW docs that have no
    near-duplicate (exact n-gram Jaccard ≥ ``threshold``) in the
    EXISTING corpus.  The workflow every periodically-refreshed corpus
    needs — each crawl snapshot dedups against the live corpus without
    reprocessing it (CCNet/RefinedWeb run per-snapshot; cross-snapshot
    URL dedup is webnorm.latest_page_per_url, this is the CONTENT-level
    twin).

    Only (new, old) CROSS pairs are considered; duplicates WITHIN the
    new batch are a separate pass (dedup_canonical).  Docs too short to
    produce an n-shingle never band-match and pass through — pair with
    ``dedup_exact`` over the union for tiny/exact copies, as the
    within-corpus pipeline does.

    Scale shape: the existing corpus appears ONLY through its band-key
    table (``_band_keys`` output — precompute it once, store it, and
    at refresh time band-join the new batch against the STORED table;
    this function recomputes it from ``old_docs`` for self-containment)
    and, when ``refine=True``, through the shingles of candidate-
    matched old docs (a semi-joined subset, never the whole old
    corpus).  Candidates come from band equi-joins — never all-pairs —
    and the Jaccard refine touches candidate pairs only, exactly the
    jaccard_refined_pairs economics.  ``refine=False`` drops any
    band-collision candidate unrefined: cheaper (old shingles never
    read), strictly more conservative (LSH false positives discard
    borderline-novel docs).
    """
    # the new-batch shingle relation feeds THREE subtrees (band keys,
    # sizes, the refine intersection) and the old side two — persist
    # both so the explode+md5 pass runs once per side, not once per
    # consumer (r9; the plan-level exchange reuse cannot fire here
    # because each consumer's downstream differs).  Lazy persist: the
    # first subtree evaluated materializes it.  ``old_shingles`` /
    # ``old_band_keys`` plug in the stored/cached corpus-side
    # artifacts (the at-scale form — novel_docs_stored — and the
    # entry-level cache both use this).
    new_sh = shingles(new_docs, n).persist()
    old_sh = (
        old_shingles if old_shingles is not None else shingles(old_docs, n)
    )
    if old_shingles is None and refine:
        old_sh = old_sh.persist()
    kn = _band_keys(
        new_docs, n, num_hashes, band_rows, shingles_df=new_sh
    ).alias("kn")
    ko = (
        old_band_keys
        if old_band_keys is not None
        else _band_keys(
            old_docs, n, num_hashes, band_rows, shingles_df=old_sh
        )
    ).alias("ko")
    cand = (
        kn.join(
            ko,
            (F.col("kn.band") == F.col("ko.band"))
            & (F.col("kn.band_key") == F.col("ko.band_key")),
        )
        .select(
            F.col("kn.doc_id").alias("new_id"),
            F.col("ko.doc_id").alias("old_id"),
        )
        .distinct()
    )
    if refine:
        new_sizes = new_sh.groupBy("doc_id").agg(F.count("*").alias("na"))
        old_sizes = old_sh.groupBy("doc_id").agg(F.count("*").alias("nb"))
        a = new_sh.alias("a")
        b = old_sh.alias("b")
        common = (
            cand.join(a, F.col("a.doc_id") == F.col("new_id"))
            .join(
                b,
                (F.col("b.doc_id") == F.col("old_id"))
                & (F.col("b.shingle") == F.col("a.shingle")),
            )
            .groupBy("new_id", "old_id")
            .agg(F.count("*").alias("common"))
        )
        matched = (
            common.join(
                new_sizes, F.col("doc_id") == F.col("new_id")
            )
            .drop("doc_id")
            .join(old_sizes, F.col("doc_id") == F.col("old_id"))
            .where(
                F.col("common")
                / (F.col("na") + F.col("nb") - F.col("common"))
                >= F.lit(float(threshold))
            )
            .select("new_id")
        )
    else:
        matched = cand.select("new_id")
    return new_docs.join(
        matched.distinct().withColumnRenamed("new_id", "doc_id"),
        "doc_id",
        "left_anti",
    )


# ---------------------------------------------------------------------
# Stored near-dup artifact (VERDICT r7 #2): the incremental gate's
# at-scale form.  The live corpus moves only as two small index-
# adjacent parquet tables, written once at build/segment time; every
# refresh batch pays its own side only — the old corpus TEXT is never
# rescanned.
# ---------------------------------------------------------------------

NEAR_DUP_META = "near_dup_meta.json"


def write_near_dup_artifact(
    docs: DataFrame,
    path: str,
    n: int = 3,
    num_hashes: int = NUM_HASHES,
    band_rows: int = BAND_ROWS,
) -> dict:
    """Persist the corpus-side state of the incremental near-dup gate
    under ``path``: ``band_keys/`` (doc_id, band, band_key — the LSH
    candidate index, ~num_bands short rows per doc) and
    ``shingle_ints/`` (doc_id, x — distinct 60-bit shingle hashes, the
    refine side, ~8 bytes per token before parquet encoding; the raw
    shingle STRINGS are n× the corpus text and are deliberately not
    stored — the 60-bit collision bound is the documented
    :func:`_shingle_int` one).  ``near_dup_meta.json`` pins the
    parameters; :func:`novel_docs_stored` reads n/num_hashes/band_rows
    from the meta, so the batch side can never band-join with keys
    computed under different parameters.

    Meta is written LAST (atomic os.replace) so readers gated on it
    never see a half-written artifact — the same app-marker visibility
    rule as the index builder's staging marker (CLAUDE.md).
    """
    import json as _json
    import os
    from pathlib import Path

    root = Path(path)
    root.mkdir(parents=True, exist_ok=True)
    sh = shingles(docs, n)
    _band_keys(docs, n, num_hashes, band_rows, shingles_df=sh).write.mode(
        "overwrite"
    ).parquet(str(root / "band_keys"))
    sh.select("doc_id", _shingle_int().alias("x")).distinct().write.mode(
        "overwrite"
    ).parquet(str(root / "shingle_ints"))
    meta = {
        "n": int(n),
        "num_hashes": int(num_hashes),
        "band_rows": int(band_rows),
    }
    tmp = root / (NEAR_DUP_META + ".tmp")
    tmp.write_text(_json.dumps(meta, indent=1))
    os.replace(tmp, root / NEAR_DUP_META)
    return meta


def append_near_dup_delta(
    docs: DataFrame, artifact_path: str, epoch: int
) -> None:
    """Extend a stored near-dup artifact with an accepted batch's
    band keys + shingle ints, as an EPOCH DELTA — the streaming-ingest
    hook (r8): once a micro-batch passes the gate, later batches must
    dedup against it too, without rebuilding the base artifact.

    Idempotent under exactly-once foreachBatch replay: the delta lives
    at ``delta/epoch=<n>/`` and a re-run of the same epoch overwrites
    it; readers see a delta only after its ``_DELTA_DONE`` marker
    lands (written last, atomic os.replace — the repo's app-marker
    visibility rule), so a crash mid-write leaves an invisible dir
    that the replay overwrites.  Parameters come from the artifact
    meta, so delta keys can never disagree with the base."""
    import json as _json
    import os
    from pathlib import Path

    root = Path(artifact_path)
    meta = _json.loads((root / NEAR_DUP_META).read_text())
    n, num_hashes, band_rows = (
        meta["n"], meta["num_hashes"], meta["band_rows"]
    )
    d = root / "delta" / f"epoch={int(epoch)}"
    marker = d / "_DELTA_DONE"
    if marker.exists():
        marker.unlink()  # replay: hide while rewriting
    sh = shingles(docs, n)
    _band_keys(docs, n, num_hashes, band_rows, shingles_df=sh).write.mode(
        "overwrite"
    ).parquet(str(d / "band_keys"))
    sh.select("doc_id", _shingle_int().alias("x")).distinct().write.mode(
        "overwrite"
    ).parquet(str(d / "shingle_ints"))
    tmp = d / "_DELTA_DONE.tmp"
    tmp.write_text("")
    os.replace(tmp, marker)


def _gate_tables_dir(root, meta):
    """Current base-table directory: generation 0 lives at the root
    (write_near_dup_artifact's layout); consolidations write
    ``gen=<g>/`` directories and flip ``meta["gen"]`` atomically."""
    g = int(meta.get("gen", 0))
    return root if g == 0 else root / f"gen={g}"


def _committed_deltas(root, meta, exclude_epochs=()):
    """Committed delta dirs that still APPLY: marker present, epoch not
    in ``exclude_epochs`` (replay guard) and not in the meta's
    ``consumed_epochs`` (explicit list of deltas folded into the
    current generation — a crash after the meta flip but before the
    delta sweep leaves consumed dirs on disk, and re-reading them
    would DOUBLE shingle counts; per the repo's manifest discipline
    the consumed set is recorded explicitly, never inferred)."""
    excl = {int(e) for e in exclude_epochs}
    excl |= {int(e) for e in meta.get("consumed_epochs", [])}
    out = []
    delta_root = root / "delta"
    if delta_root.exists():
        for d in sorted(delta_root.iterdir()):
            if not d.name.startswith("epoch="):
                continue
            if int(d.name.split("=", 1)[1]) in excl:
                continue
            if not (d / "_DELTA_DONE").exists():
                continue
            out.append(d)
    return out


def _stored_gate_tables(spark, artifact_path: str, exclude_epochs=()):
    """(meta, band_keys_df, shingle_ints_df) over the current base
    generation plus every committed, still-applicable delta (see
    :func:`_committed_deltas`); ``exclude_epochs`` is the foreachBatch
    replay guard: a batch re-gating itself after a crash-between-
    delta-and-registration must not see its own delta, or every doc
    would match itself and the whole batch would be dropped."""
    import json as _json
    from pathlib import Path

    root = Path(artifact_path)
    meta = _json.loads((root / NEAR_DUP_META).read_text())
    tdir = _gate_tables_dir(root, meta)
    keys = spark.read.parquet(str(tdir / "band_keys"))
    ints = spark.read.parquet(str(tdir / "shingle_ints"))
    for d in _committed_deltas(root, meta, exclude_epochs):
        keys = keys.unionByName(spark.read.parquet(str(d / "band_keys")))
        ints = ints.unionByName(
            spark.read.parquet(str(d / "shingle_ints"))
        )
    return meta, keys, ints


def consolidate_near_dup_artifact(spark, artifact_path: str) -> dict:
    """Fold committed deltas into a NEW base generation — the artifact
    lifecycle's compaction step (run it whenever the index compacts;
    without it a long-lived stream accumulates one delta per epoch
    forever and every gate pays a union over all of them).

    Crash-safe visibility, mirroring the segment-manifest discipline:
    1. snapshot the committed deltas (concurrent sink appends AFTER
       the snapshot survive untouched and still apply to the new
       generation via the delta union);
    2. write ``gen=<g+1>/`` tables = current tables ∪ snapshot deltas;
    3. atomically flip the meta to the new generation, recording the
       snapshot epochs in ``consumed_epochs`` (readers ignore those
       delta dirs from this instant, whether or not they still exist);
    4. only then delete the old generation and the consumed delta
       dirs — a crash between 3 and 4 leaks directories, never
       correctness, and the next consolidation's sweep retries them
       (consumed_epochs entries are dropped once their dir is
       verifiably gone).
    """
    import json as _json
    import os
    import shutil
    from pathlib import Path

    root = Path(artifact_path)
    meta = _json.loads((root / NEAR_DUP_META).read_text())
    old_gen = int(meta.get("gen", 0))
    old_dir = _gate_tables_dir(root, meta)
    deltas = _committed_deltas(root, meta)
    prior_consumed = {int(e) for e in meta.get("consumed_epochs", [])}
    if not deltas and not prior_consumed:
        return {"gen": old_gen, "consolidated": 0}

    keys = spark.read.parquet(str(old_dir / "band_keys"))
    ints = spark.read.parquet(str(old_dir / "shingle_ints"))
    for d in deltas:
        keys = keys.unionByName(spark.read.parquet(str(d / "band_keys")))
        ints = ints.unionByName(
            spark.read.parquet(str(d / "shingle_ints"))
        )
    new_gen = old_gen + 1
    new_dir = root / f"gen={new_gen}"
    keys.write.mode("overwrite").parquet(str(new_dir / "band_keys"))
    ints.write.mode("overwrite").parquet(str(new_dir / "shingle_ints"))

    consumed_now = {
        int(d.name.split("=", 1)[1]) for d in deltas
    }
    new_meta = dict(meta)
    new_meta["gen"] = new_gen
    new_meta["consumed_epochs"] = sorted(prior_consumed | consumed_now)
    tmp = root / (NEAR_DUP_META + ".tmp")
    tmp.write_text(_json.dumps(new_meta, indent=1))
    os.replace(tmp, root / NEAR_DUP_META)

    # sweep AFTER the flip; failures leak dirs readers already ignore
    if old_gen > 0:
        shutil.rmtree(old_dir, ignore_errors=True)
    else:
        shutil.rmtree(old_dir / "band_keys", ignore_errors=True)
        shutil.rmtree(old_dir / "shingle_ints", ignore_errors=True)
    still_consumed = []
    for e in new_meta["consumed_epochs"]:
        d = root / "delta" / f"epoch={e}"
        shutil.rmtree(d, ignore_errors=True)
        if d.exists():
            still_consumed.append(e)  # retry next consolidation
    if still_consumed != new_meta["consumed_epochs"]:
        new_meta["consumed_epochs"] = still_consumed
        tmp = root / (NEAR_DUP_META + ".tmp")
        tmp.write_text(_json.dumps(new_meta, indent=1))
        os.replace(tmp, root / NEAR_DUP_META)
    return {"gen": new_gen, "consolidated": len(consumed_now)}


def novel_docs_stored(
    new_docs: DataFrame,
    artifact_path: str,
    threshold: float = 0.5,
    refine: bool = True,
    exclude_epochs=(),
) -> DataFrame:
    """:func:`novel_docs` against a STORED corpus artifact — the
    refresh-time entry point.  Returns the new docs with no stored
    near-duplicate (same semantics as the recompute path; equality is
    pinned in tests/test_incremental_gate.py).

    Recurring cost is the NEW-BATCH side only: shingle + band-key the
    batch, band equi-join against the stored key table, then refine
    candidate pairs against the stored shingle ints — the stored
    shingle scan is pruned by a semi-join on the candidate old ids (a
    naturally small set: old docs that near-collide with this batch),
    which AQE turns into a broadcast filter ahead of the scan's
    shuffle.  The old corpus text is never read.

    The stored side is the base artifact plus every COMMITTED
    streaming delta (:func:`append_near_dup_delta`); ``exclude_epochs``
    is the foreachBatch replay guard (see :func:`_stored_gate_tables`).
    """
    spark = new_docs.sparkSession
    meta, ko, old_x = _stored_gate_tables(
        spark, artifact_path, exclude_epochs
    )
    n, num_hashes, band_rows = (
        meta["n"], meta["num_hashes"], meta["band_rows"]
    )

    new_sh = shingles(new_docs, n)
    kn = _band_keys(
        new_docs, n, num_hashes, band_rows, shingles_df=new_sh
    ).alias("kn")
    cand = (
        kn.join(
            ko.alias("ko"),
            (F.col("kn.band") == F.col("ko.band"))
            & (F.col("kn.band_key") == F.col("ko.band_key")),
        )
        .select(
            F.col("kn.doc_id").alias("new_id"),
            F.col("ko.doc_id").alias("old_id"),
        )
        .distinct()
    )
    if refine:
        new_x = new_sh.select(
            "doc_id", _shingle_int().alias("x")
        ).distinct()
        new_sizes = new_x.groupBy("doc_id").agg(F.count("*").alias("na"))
        # prune the stored scan to candidate old docs BEFORE it
        # shuffles — the candidate id set is small by nature
        old_ids = cand.select(F.col("old_id").alias("doc_id")).distinct()
        old_sub = old_x.join(old_ids, "doc_id", "semi")
        old_sizes = old_sub.groupBy("doc_id").agg(F.count("*").alias("nb"))
        a = new_x.alias("a")
        b = old_sub.alias("b")
        common = (
            cand.join(a, F.col("a.doc_id") == F.col("new_id"))
            .join(
                b,
                (F.col("b.doc_id") == F.col("old_id"))
                & (F.col("b.x") == F.col("a.x")),
            )
            .groupBy("new_id", "old_id")
            .agg(F.count("*").alias("common"))
        )
        matched = (
            common.join(new_sizes, F.col("doc_id") == F.col("new_id"))
            .drop("doc_id")
            .join(old_sizes, F.col("doc_id") == F.col("old_id"))
            .where(
                F.col("common")
                / (F.col("na") + F.col("nb") - F.col("common"))
                >= F.lit(float(threshold))
            )
            .select("new_id")
        )
    else:
        matched = cand.select("new_id")
    return new_docs.join(
        matched.distinct().withColumnRenamed("new_id", "doc_id"),
        "doc_id",
        "left_anti",
    )
