"""CLI entry point — reference parity for ``leanexplore ...``
(src/lean_explore/cli/main.py: typer app with search / data commands).

    python -m lean_explore_spark build  --input docs.parquet --output IDX
    python -m lean_explore_spark search --index IDX --query "..." [--limit N]
    python -m lean_explore_spark verify --index IDX
    python -m lean_explore_spark serve  --index IDX --embeddings E.parquet
                                        [--port P]
    python -m lean_explore_spark bench-agreement [--sf-dir D] [--k N]
                                        [--engines ...] [--baseline wand]

stdlib argparse (no typer in this container); every subcommand prints
one JSON document to stdout, mirroring the reference's
machine-readable output mode.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="lean_explore_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build the inverted index")
    b.add_argument("--input", required=True)
    b.add_argument("--output", required=True)
    b.add_argument("--shards", type=int, default=16)
    b.add_argument("--buckets", type=int, default=16)
    b.add_argument("--no-stem", action="store_true")
    b.add_argument("--resume", action="store_true")

    s = sub.add_parser("search", help="top-k BM25 query")
    s.add_argument("--index", required=True)
    s.add_argument("--query", required=True)
    s.add_argument("--limit", type=int, default=50)
    s.add_argument("--distributed", action="store_true")

    v = sub.add_parser("verify", help="manifest/fingerprint fsck")
    v.add_argument("--index", required=True)

    sv = sub.add_parser(
        "serve", help="HTTP API (default) or MCP-over-stdio (--mcp)"
    )
    sv.add_argument("--index", required=True)
    sv.add_argument("--embeddings", required=True)
    sv.add_argument("--docs", default=None)
    sv.add_argument("--host", default="127.0.0.1")
    sv.add_argument("--port", type=int, default=8000)
    sv.add_argument(
        "--mcp",
        action="store_true",
        help="serve MCP tools (search/get_by_id/get_dependencies) over"
        " stdio JSON-RPC instead of HTTP (reference cli/main.py:640+)",
    )

    ba = sub.add_parser(
        "bench-agreement",
        help="dump every query through each serving engine and report"
        " rank-agreement metrics (tau/RBO/overlap) vs a baseline —"
        " the reference's gather_search_data + analyze_rankings"
        " benchmarking entry points (r4 VERDICT #8)",
    )
    ba.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ba.add_argument("--queries", default=None, help="one query per line")
    ba.add_argument("--k", type=int, default=10)
    ba.add_argument(
        "--engines", default="wand,auto,bulk,blockmax,df,distributed"
    )
    ba.add_argument("--baseline", default="wand")
    ba.add_argument("--out", default=None, help="also write the JSONL dump")
    ba.add_argument("--workdir", default="/tmp/gather_results")
    ba.add_argument("--limit", type=int, default=None)

    args = ap.parse_args(argv)

    if args.cmd == "bench-agreement":
        from pathlib import Path

        sys.path.insert(0, str(Path(__file__).parents[1] / "jobs"))
        from analyze_rankings import analyze
        from gather_results import DEFAULT_QUERIES, run

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
        print(json.dumps(analyze(lines, baseline=args.baseline)))
        return 0

    from lean_explore_spark.session import get_spark

    spark = get_spark(app_name=f"cli_{args.cmd}")
    spark.sparkContext.setLogLevel("ERROR")

    if args.cmd == "build":
        from lean_explore_spark.index.builder import IndexBuilder

        stats = IndexBuilder(
            spark,
            args.output,
            stem=not args.no_stem,
            num_shards=args.shards,
            num_buckets=args.buckets,
        ).build(spark.read.parquet(args.input), resume=args.resume)
        print(json.dumps(stats))
        return 0

    if args.cmd == "search":
        from lean_explore_spark.query.search import SearchEngine

        eng = SearchEngine(spark, args.index, preload=not args.distributed)
        hits = (
            eng.search_tokens_distributed_batch(
                [eng.analyze_query(args.query)], args.limit
            )[0]
            if args.distributed
            else eng.search(args.query, args.limit)
        )
        print(
            json.dumps(
                {
                    "query": args.query,
                    "count": len(hits),
                    "results": [
                        {"doc_id": d, "score": s} for d, s in hits
                    ],
                }
            )
        )
        return 0

    if args.cmd == "verify":
        sys.path.insert(0, str(__import__("pathlib").Path(__file__).parents[1] / "jobs"))
        from verify_index import verify

        out = verify(spark, args.index)
        print(json.dumps(out))
        return 0 if out["ok"] else 1

    if args.cmd == "serve":
        from lean_explore_spark.api.server import APIServer, SearchAPI
        from lean_explore_spark.query.service import SearchService

        emb = spark.read.parquet(args.embeddings)
        docs = spark.read.parquet(args.docs) if args.docs else None
        svc = SearchService(spark, args.index, emb, doc_meta=docs)
        api = SearchAPI(svc, doc_meta=docs)
        if args.mcp:
            from lean_explore_spark.mcp.server import MCPServer

            MCPServer(api).serve()  # blocks on stdin EOF
            return 0
        srv = APIServer(api, host=args.host, port=args.port).start()
        print(json.dumps({"serving": srv.url}), flush=True)
        try:
            srv._thread.join()
        except KeyboardInterrupt:
            srv.stop()
        return 0

    return 2


if __name__ == "__main__":
    sys.exit(main())
