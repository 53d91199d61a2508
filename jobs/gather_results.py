"""Multi-engine search-result dumper (r3 VERDICT #8): run every query
through each serving path — classic WAND, the auto per-shard picker,
forced bulk, forced block-max, the candidate-free DataFrame scorer,
and the distributed per-shard-task path — and emit one JSON line per
(query, engine) with the top-k (doc_id, score) pairs.

The analog of the reference's ``benchmarking/gather_search_data.py``
(:34-40), which dumps per-query results from multiple engines for an
offline ranking study; here the engines are this repo's own serving
paths, so the dump doubles as a turnkey side-by-side comparison (all
lines for a query should carry identical results — rank-identity made
inspectable).

Usage:
    python jobs/gather_results.py --sf-dir /root/testdata/sf0.001 \
        [--queries /root/reference/benchmarking/queries.txt] \
        [--k 10] [--engines wand,auto,bulk,blockmax,df,distributed,distributed_batch] \
        [--out /tmp/results.jsonl]
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

DEFAULT_QUERIES = [
    "fast table scan merge join",
    "customer orders data",
    "compress encode block",
    "theorem definition group",
    "the data page",
]


def run(
    sf_dir: str,
    queries: list[str],
    k: int,
    engines: list[str],
    out_path: str | None,
    workdir: str,
) -> list[dict]:
    from lean_explore_spark.functions.tokenizer import tokenize_stem
    from lean_explore_spark.index.builder import IndexBuilder
    from lean_explore_spark.operators import analyze as A
    from lean_explore_spark.pyfiles import ensure_py_files
    from lean_explore_spark.query import df_scorer
    from lean_explore_spark.query.search import SearchEngine
    from lean_explore_spark.session import get_spark

    spark = get_spark(app_name="gather_results")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_py_files(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    idx = Path(workdir) / "idx"
    if not (idx / "stats.json").exists():
        IndexBuilder(spark, str(idx), num_shards=4, num_buckets=8).build(
            docs, resume=False
        )
    engine = SearchEngine(spark, str(idx), preload=True)
    analyzed = A.analyze(docs, stem=True).cache()
    tdf = A.term_doc_tf(analyzed)
    stats = A.doc_stats(analyzed)

    def run_engine(name: str, tokens: list[str]):
        if name in ("wand", "bulk", "blockmax", "auto"):
            # names map 1:1 to SearchEngine modes — 'wand' really is
            # the classic document-at-a-time WAND loop, 'auto' the
            # per-shard bulk/block-max picker (ADVICE r4: 'wand' used
            # to silently alias 'auto', so dumps never exercised the
            # loop they were labeled with)
            return engine.search_tokens(tokens, k, mode=name)
        if name == "df":
            rows = df_scorer.score_query(spark, tdf, stats, tokens, k).collect()
            return [(int(r["doc_id"]), float(r["score"])) for r in rows]
        if name == "distributed":
            return engine.search_tokens_distributed_batch([tokens], k)[0]
        raise ValueError(f"unknown engine {name!r}")

    # 'distributed_batch' (r5 VERDICT #7): ALL queries through ONE
    # Spark job — the offline-sweep engine; per-line sec is the batch
    # wall amortized over Q (per-query latency inside one job is
    # meaningless), with the true wall on every line as batch_sec
    token_lists = [tokenize_stem(q) for q in queries]
    batch_results = None
    batch_wall = 0.0
    if "distributed_batch" in engines:
        t0 = time.time()
        batch_results = engine.search_tokens_distributed_batch(
            token_lists, k
        )
        batch_wall = time.time() - t0

    lines = []
    for qi, q in enumerate(queries):
        tokens = token_lists[qi]
        for name in engines:
            if name == "distributed_batch":
                topk = batch_results[qi]
                lines.append(
                    {
                        "query": q,
                        "engine": name,
                        "k": k,
                        "sec": round(batch_wall / max(1, len(queries)), 4),
                        "batch_sec": round(batch_wall, 4),
                        "results": [
                            {"doc_id": int(d), "score": float(s)}
                            for d, s in topk
                        ],
                    }
                )
                continue
            t0 = time.time()
            topk = run_engine(name, tokens)
            lines.append(
                {
                    "query": q,
                    "engine": name,
                    "k": k,
                    "sec": round(time.time() - t0, 4),
                    "results": [
                        {"doc_id": int(d), "score": float(s)} for d, s in topk
                    ],
                }
            )
    if out_path:
        with open(out_path, "w") as fh:
            for ln in lines:
                fh.write(json.dumps(ln) + "\n")
    return lines


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--queries", default=None, help="one query per line")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument(
        "--engines",
        default="wand,auto,bulk,blockmax,df,distributed,distributed_batch",
    )
    ap.add_argument("--out", default=None)
    ap.add_argument("--workdir", default="/tmp/gather_results")
    ap.add_argument("--limit", type=int, default=None)
    args = ap.parse_args()

    if args.queries:
        queries = [
            q.strip()
            for q in Path(args.queries).read_text().splitlines()
            if q.strip()
        ]
    else:
        queries = DEFAULT_QUERIES
    if args.limit:
        queries = queries[: args.limit]

    lines = run(
        args.sf_dir,
        queries,
        args.k,
        args.engines.split(","),
        args.out,
        args.workdir,
    )
    # summary line: queries where engines disagree (should be zero —
    # the index paths are bit-exact; the DataFrame scorer sums in
    # shuffle order, so compare at its documented 1e-9 noise floor)
    by_q: dict = {}
    for ln in lines:
        by_q.setdefault(ln["query"], set()).add(
            tuple((r["doc_id"], round(r["score"], 9)) for r in ln["results"])
        )
    disagree = [q for q, v in by_q.items() if len(v) > 1]
    print(
        json.dumps(
            {
                "queries": len(by_q),
                "engines": args.engines.split(","),
                "k": args.k,
                "lines": len(lines),
                "disagreeing_queries": disagree,
                "out": args.out,
            }
        )
    )


if __name__ == "__main__":
    main()
