"""spark-submit entry point: build the inverted index.

Usage (north_rule: runs via spark-submit --py-files on a cluster):

    spark-submit --py-files $(python -c 'from lean_explore_spark.pyfiles \
        import build_zip; print(build_zip())') \
        jobs/build_index_job.py --input /root/testdata/sf0.1/documents.parquet \
        --output /tmp/index --shards 16 --buckets 16

Also runnable as plain ``python jobs/build_index_job.py`` (creates its
own local session).  Prints one JSON line with wall time, docs/sec and
manifest totals — the per-round throughput evidence.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from lean_explore_spark.index.builder import IndexBuilder  # noqa: E402
from lean_explore_spark.session import get_spark  # noqa: E402


def main(argv=None) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--shards", type=int, default=16)
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--no-stem", action="store_true")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument(
        "--wave-size",
        type=int,
        default=None,
        help="shards packed+committed per Spark job (finer-grained "
        "resume checkpoints; default = all pending in one job)",
    )
    args = ap.parse_args(argv)

    master = f"local[{args.cpus}]" if args.cpus else None
    spark = get_spark(app_name="build_index", master=master)
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(args.input)

    # warm executor threads + Python UDF workers (pandas/numpy imports)
    # before the timed section — measures the pipeline, not cold start
    from lean_explore_spark.operators.analyze import analyze

    cpus = spark.sparkContext.defaultParallelism
    analyze(
        spark.range(0, cpus * 4).selectExpr(
            "id as doc_id", "repeat('warm up ', 4) as text"
        )
    ).count()

    t0 = time.time()
    stats = IndexBuilder(
        spark,
        args.output,
        stem=not args.no_stem,
        num_shards=args.shards,
        num_buckets=args.buckets,
    ).build(docs, resume=args.resume, wave_size=args.wave_size)
    wall = time.time() - t0

    # the builder writes its manifest on the driver; read it the same way
    m = pq.read_table(
        f"{args.output}/manifest", columns=["n_postings", "payload_bytes"]
    ).to_pydict()
    out = {
        "wall_sec": round(wall, 3),
        "n_docs": stats["n_docs"],
        "docs_per_sec": round(stats["n_docs"] / wall, 1),
        "total_tokens": stats["total_tokens"],
        "tokens_per_sec": round(stats["total_tokens"] / wall, 1),
        "n_postings": sum(m["n_postings"]),
        "payload_bytes": sum(m["payload_bytes"]),
        "stage_timings": stats.get("stage_timings", {}),
    }
    print(json.dumps(out))
    return out


if __name__ == "__main__":
    main()
