"""Seeded benchmark inputs: Zipf pages, query streams and oracle answers.

Everything here is a pure function of the seed and the workload's sizes.
Page tables are written as parquet in the ``PAGES_SCHEMA`` shape
(url, warc_ts, html, text, lang); the program under test receives only
these files.  Oracle answers come from ``oracle/bm25.py`` over the same
pages, with doc ids computed the way ``assign_doc_ids`` defines them
(``xxhash64(url) >>> 2``, re-implemented here so the oracle does not
depend on the code that assigns ids).

Results are cached per seed under ``.perfbench_cache/`` in the checkout,
keyed on this file's content; the oracle answers are also keyed on the
source of the oracle and the analyzer, so they are recomputed whenever
the specification changes.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
from pathlib import Path

import numpy as np

ROOT = Path(__file__).resolve().parent.parent
CACHE = ROOT / ".perfbench_cache"
K = 50
ZIPF_A = 1.1
# files whose content defines the oracle's answers
SPEC_FILES = [
    "lean_explore_spark/oracle/bm25.py",
    "lean_explore_spark/functions/tokenizer.py",
    "lean_explore_spark/functions/porter.py",
]
_SYLLABLES = [
    c + v
    for c in "bcdfghklmnprstvz"
    for v in ("a", "e", "i", "o", "u", "ar", "en", "is", "on")
]


def vocabulary() -> list:
    """A fixed ~20k-word vocabulary: plain words, camelCase, digit and
    underscore forms, and a few non-ASCII words.  Every entry is one
    ``\\w+`` token, so a page's tokens are exactly its words."""
    words = []
    for i, a in enumerate(_SYLLABLES):
        for j, b in enumerate(_SYLLABLES):
            w = a + b
            if (i * 7 + j) % 5 == 0:
                w = a + b.capitalize()  # camelCase
            elif (i + j) % 11 == 0:
                w = f"{w}{(i * j) % 97}"
            elif (i * 3 + j) % 13 == 0:
                w = f"{a}_{b}"
            words.append(w)
    words += ["über", "naïve", "café", "straße", "日本語", "числа"]
    seen, out = set(), []
    for w in words:
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


VOCAB = vocabulary()


def _zipf_p(n: int, a: float) -> np.ndarray:
    p = np.arange(1, n + 1, dtype=np.float64) ** -a
    return p / p.sum()


# -- xxhash64 as Spark computes it (seed 42 over the UTF-8 bytes) ------

_M = (1 << 64) - 1
_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def xxhash64(data: bytes, seed: int = 42) -> int:
    """Unsigned XXH64 of ``data``."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed & _M, (seed - _P1) & _M]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _round(v[j], int.from_bytes(data[i + 8 * j : i + 8 * j + 8], "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for lane in v:
            h = ((h ^ _round(0, lane)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    return h ^ (h >> 32)


def doc_id_of(url: str) -> int:
    """``assign_doc_ids`` default: ``shiftrightunsigned(xxhash64(url), 2)``."""
    return xxhash64(url.encode("utf-8")) >> 2


# -- pages ---------------------------------------------------------------


def _pages(seed: int, start: int, n: int):
    """Rows [start, start+n) of the seed's page stream as word-index
    arrays plus per-row metadata."""
    rng = np.random.Generator(np.random.Philox(key=[seed, start]))
    lens = np.clip(rng.lognormal(4.0, 0.8, size=n), 5, 2000).astype(np.int64)
    words = rng.choice(len(VOCAB), size=int(lens.sum()), p=_zipf_p(len(VOCAB), ZIPF_A))
    langs = rng.choice(["en"] * 9 + ["de", "fr", "zh"], size=n)
    ts = rng.integers(0, 365 * 24 * 3600, size=n)
    bounds = np.concatenate([[0], np.cumsum(lens)])
    urls = [f"https://s{seed}.bench.example/p/{start + i}" for i in range(n)]
    return urls, [words[bounds[i] : bounds[i + 1]] for i in range(n)], langs, ts


def _write_pages(path: Path, urls, docs, langs, ts) -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    texts = [" ".join(VOCAB[w] for w in d) for d in docs]
    html = [
        f"<html><head><title>{u}</title></head><body>{t}</body></html>".encode()
        for u, t in zip(urls, texts)
    ]
    base = np.datetime64("2025-01-01T00:00:00", "us")
    table = pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array(base + ts.astype("timedelta64[s]"), pa.timestamp("us")),
            "html": pa.array(html, pa.binary()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([str(x) for x in langs], pa.string()),
        }
    )
    tmp = path.with_suffix(".tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    return sum(len(t.encode("utf-8")) for t in texts)


# -- queries ---------------------------------------------------------------


def query_stream(seed: int, n: int, repeats: bool) -> list:
    """``n`` queries of 1-5 terms drawn by corpus frequency (hot and
    rare terms mix).  With ``repeats`` popularity is Zipf over a pool,
    so about a third of requests repeat an earlier query; otherwise
    every query is distinct."""
    rng = np.random.Generator(np.random.Philox(key=[seed, 7]))
    p = _zipf_p(len(VOCAB), ZIPF_A)

    def fresh(seen):
        while True:
            q = " ".join(VOCAB[w] for w in rng.choice(len(VOCAB), size=int(rng.integers(1, 6)), p=p))
            if q not in seen:
                seen.add(q)
                return q

    seen: set = set()
    if not repeats:
        return [fresh(seen) for _ in range(n)]
    pool = [fresh(seen) for _ in range(2 * n)]
    pick = rng.choice(2 * n, size=n, p=_zipf_p(2 * n, 0.6))
    return [pool[i] for i in pick]


def rare_queries(seed: int, oracle: "Oracle", n: int) -> list:
    """``n`` distinct queries of 1-3 terms from the rare half of the
    vocabulary that match fewer than K docs of the oracle's corpus, so
    top-k needs every matched doc and no pruning.  ``SegmentedSearch``
    scores segments with block maxima computed at each segment's own
    avgdl, which can prune a doc that belongs in a full top-k once the
    global avgdl differs; queries that fill k from all matched docs check
    visibility, global statistics and the delta-floor merge across
    segments without depending on that bound.  A query that matches
    fewer than K docs of a corpus does so in every prefix of it too."""
    rng = np.random.Generator(np.random.Philox(key=[seed, 11]))
    out: list = []
    while len(out) < n:
        q = " ".join(VOCAB[w] for w in rng.integers(len(VOCAB) // 2, len(VOCAB), size=int(rng.integers(1, 4))))
        if q not in out and 0 < oracle.matched(q) < K:
            out.append(q)
    return out


# -- oracle -------------------------------------------------------------------


def _digest(files) -> str:
    h = hashlib.md5()
    for f in files:
        h.update((ROOT / f).read_bytes())
    return h.hexdigest()[:12]


class Oracle:
    """BM25 top-k answers of ``oracle/bm25.py`` over a page set."""

    def __init__(self, urls, docs):
        from lean_explore_spark.functions.tokenizer import tokenize_stem
        from lean_explore_spark.oracle import bm25

        self._bm25 = bm25
        self._tok = tokenize_stem
        stems = [tokenize_stem(w) for w in VOCAB]
        self.stats = bm25.build_stats(
            [doc_id_of(u) for u in urls],
            ([t for w in d for t in stems[w]] for d in docs),
        )

    def top_k(self, query: str, rows: int | None = None) -> list:
        """Top-K over the whole corpus, or over its first ``rows`` docs
        (the corpus as it stood before later batches were ingested)."""
        toks = self._tok(query)
        stats = self.stats if rows is None else self._prefix(rows, toks)
        return [[d, s] for d, s in self._bm25.top_k(stats, toks, K)]

    def _prefix(self, rows: int, terms):
        """Statistics of the first ``rows`` docs, restricted to ``terms``
        (scoring reads no other postings)."""
        s = self.stats
        dl = s.doc_len[:rows]
        return self._bm25.Bm25Stats(
            n_docs=rows,
            avgdl=float(dl.sum()) / rows,
            doc_len=dl,
            doc_ids=s.doc_ids[:rows],
            postings={
                t: {r: tf for r, tf in s.postings.get(t, {}).items() if r < rows}
                for t in set(terms)
            },
        )

    def matched(self, query: str) -> int:
        """Docs that contain at least one of the query's terms."""
        rows: set = set()
        for t in self._tok(query):
            rows.update(self.stats.postings.get(t, {}))
        return len(rows)

    def sum_df(self) -> int:
        return sum(len(m) for m in self.stats.postings.values())


def prepare(workload: str, cfg: dict, seed: int, n_requests: int) -> dict:
    """Write (or reuse) the seed's page files, query streams and oracle
    answers; returns paths plus everything the checks need."""
    spec = json.dumps(dict(cfg, seed=seed, n_requests=n_requests), sort_keys=True)
    key = hashlib.md5(spec.encode()).hexdigest()[:12]
    d = CACHE / f"{workload}-s{seed}-{key}-{_digest(['perfbench/inputs.py'])}"
    answers_file = d / f"answers-{_digest(SPEC_FILES)}.pkl"
    meta_file = d / "meta.json"
    if meta_file.exists() and answers_file.exists():
        meta = json.loads(meta_file.read_text())
        with open(answers_file, "rb") as f:
            meta.update(pickle.load(f))
        return meta
    d.mkdir(parents=True, exist_ok=True)
    n_base, n_b = cfg["base_docs"], cfg["batch_docs"]
    urls, docs, langs, ts = _pages(seed, 0, n_base)
    meta = {"dir": str(d), "base": str(d / "base.parquet"), "batches": []}
    meta["base_text_bytes"] = _write_pages(d / "base.parquet", urls, docs, langs, ts)
    all_urls, all_docs = list(urls), list(docs)
    for b in range(cfg["batches"]):
        u, dd, lg, t = _pages(seed, n_base + b * n_b, n_b)
        path = d / f"batch{b}.parquet"
        _write_pages(path, u, dd, lg, t)
        meta["batches"].append(str(path))
        all_urls += u
        all_docs += dd
    meta["serve_queries"] = query_stream(seed, n_requests, cfg["repeats"])
    meta["cold_queries"] = query_stream(seed + 2_000_003, cfg["cold_queries"], False)
    meta["warm_query"] = " ".join(VOCAB[:3])  # the three most frequent words
    base = Oracle(urls, docs)
    final = Oracle(all_urls, all_docs)
    rare = rare_queries(seed, final, cfg["final_queries"] + cfg["client_queries"])
    meta["final_queries"] = rare[: cfg["final_queries"]]
    meta["client_queries"] = rare[cfg["final_queries"] :]
    meta_file.write_text(json.dumps(meta))

    answers = {
        "base_sum_df": base.sum_df(),
        "serve_answers": {q: base.top_k(q) for q in dict.fromkeys(meta["serve_queries"])},
        "cold_answers": [base.top_k(q) for q in meta["cold_queries"]],
        "final_answers": [final.top_k(q) for q in meta["final_queries"]],
        # client_answers[g][i]: query i after g batches were ingested
        "client_answers": [
            [final.top_k(q, n_base + g * n_b) for q in meta["client_queries"]]
            for g in range(cfg["batches"] + 1)
        ],
    }
    with open(answers_file.with_suffix(".tmp"), "wb") as f:
        pickle.dump(answers, f)
    os.replace(answers_file.with_suffix(".tmp"), answers_file)
    meta.update(answers)
    return meta
