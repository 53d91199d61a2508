"""Index fsck: recompute per-shard lineage from the postings actually
on disk and compare against the committed manifest (ops parity with
the reference's release integrity checks, scripts/release_data.py —
there the check is an md5 per uploaded artifact; here it is the
order-independent payload fingerprint per shard partition).

Usage: python jobs/verify_index.py --index /path/to/index [--cpus N]

Prints one JSON line: {"ok": bool, "shards": N, "mismatches": [...]}
Exit code 1 on any mismatch — wire into release pipelines.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import pyspark.sql.functions as F  # noqa: E402

from lean_explore_spark.session import get_spark  # noqa: E402


def verify(spark, index_dir: str) -> dict:
    root = Path(index_dir)
    manifest = (
        spark.read.parquet(str(root / "manifest"))
        .where(F.col("status") == "committed")
        .groupBy("shard")
        .agg(  # latest commit wins per shard (resume appends); ONE
            # max_by of a struct so all four fields come from the SAME
            # manifest row even on committed_at ties (same-second
            # commits from a crashed-then-resumed wave must not mix)
            F.max_by(
                F.struct("n_terms", "n_postings", "payload_bytes", "fingerprint"),
                "committed_at",
            ).alias("m"),
        )
        .select("shard", "m.n_terms", "m.n_postings", "m.payload_bytes", "m.fingerprint")
        .collect()
    )
    # recompute from the payload bytes themselves, never from what the
    # packer counted while writing — an fsck must not trust the thing
    # it checks
    actual = (
        spark.read.parquet(str(root / "postings"))
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_terms"),
            F.sum("df_shard").alias("n_postings"),
            F.sum(F.length("payload")).alias("payload_bytes"),
            F.expr(
                "bit_xor(cast(conv(substring(md5(payload), 1, 15), 16, 10)"
                " as bigint))"
            ).alias("fingerprint"),
        )
        .collect()
    )
    want = {int(r["shard"]): r for r in manifest}
    got = {int(r["shard"]): r for r in actual}
    mismatches = []
    for shard in sorted(set(want) | set(got)):
        w, g = want.get(shard), got.get(shard)
        if w is None or g is None:
            mismatches.append({"shard": shard, "missing_in": "postings" if g is None else "manifest"})
            continue
        for fld in ("n_terms", "n_postings", "payload_bytes", "fingerprint"):
            if int(w[fld]) != int(g[fld]):
                mismatches.append(
                    {
                        "shard": shard,
                        "field": fld,
                        "manifest": int(w[fld]),
                        "actual": int(g[fld]),
                    }
                )
    return {"ok": not mismatches, "shards": len(got), "mismatches": mismatches}


def verify_segments(spark, index_root: str) -> dict:
    """Segment-root fsck (VERDICT r6 #8): run the per-shard payload-
    fingerprint check on EVERY manifest-live segment (each segment dir
    is a full index layout with its own commit manifest) plus the base
    index when present, and cross-check each segment's stats.json
    doc count against the forward store actually on disk.  The
    authority for which segments exist is segments/MANIFEST.json —
    never a seg=* glob (CLAUDE.md invariant); unregistered seg= dirs
    are reported informationally (out-of-band builds that never called
    register_segment), not failed.

    Returns {"ok": bool, "segments": N, "results": {name: {...}},
    "unregistered": [names]}; ok requires every live segment (and
    base) to pass."""
    from lean_explore_spark.streaming.incremental import live_segments

    root = Path(index_root)
    seg_root = root / "segments"
    live = live_segments(root)
    results: dict = {}
    for name in live:
        d = seg_root / name
        if not (d / "stats.json").exists():
            results[name] = {
                "ok": False,
                "error": "live segment missing on disk (or no stats.json)",
            }
            continue
        r = verify(spark, str(d))
        n_docs_stats = json.loads((d / "stats.json").read_text())["n_docs"]
        n_docs_fwd = spark.read.parquet(str(d / "forward")).count()
        if n_docs_fwd != n_docs_stats:
            r["ok"] = False
            r["mismatches"].append(
                {
                    "field": "n_docs",
                    "stats_json": int(n_docs_stats),
                    "forward": int(n_docs_fwd),
                }
            )
        results[name] = r
    if (root / "base" / "stats.json").exists():
        results["base"] = verify(spark, str(root / "base"))
    unregistered = (
        sorted(
            p.name
            for p in seg_root.iterdir()
            if p.is_dir()
            and p.name.startswith("seg=")
            and p.name not in set(live)
        )
        if seg_root.exists()
        else []
    )
    return {
        "ok": all(r.get("ok") for r in results.values()),
        "segments": len(live),
        "results": results,
        "unregistered": unregistered,
    }


def verify_shards(spark, shards_dir: str) -> dict:
    """fsck for an emitted training-shard set (pipeline_demo
    --emit-shards / mixing.shuffle_rank): the global rank column must
    be a COMPLETE permutation 0..n-1 with unique doc_ids, and every
    row's shard directory must equal ``rank div shard_docs`` (inferred
    from shard 0's row count — shards are fixed-size by construction
    except the last).  One aggregation pass, no collect of the data.
    """
    df = spark.read.parquet(shards_dir)
    shard_docs = df.where(F.col("shard") == 0).count()
    agg = df.agg(
        F.count("*").alias("n"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.countDistinct("shuffle_rank").alias("n_ranks"),
        F.min("shuffle_rank").alias("rmin"),
        F.max("shuffle_rank").alias("rmax"),
        F.sum(
            (
                F.col("shard")
                != F.expr(f"shuffle_rank div {max(shard_docs, 1)}")
            ).cast("long")
        ).alias("misplaced"),
    ).collect()[0]
    mismatches = []
    n = agg["n"]
    if agg["n_docs"] != n:
        mismatches.append(f"duplicate doc_ids: {n - agg['n_docs']}")
    if not (agg["n_ranks"] == n and agg["rmin"] == 0 and agg["rmax"] == n - 1):
        mismatches.append(
            f"rank set is not 0..{n - 1}: distinct={agg['n_ranks']} "
            f"min={agg['rmin']} max={agg['rmax']}"
        )
    if agg["misplaced"]:
        mismatches.append(f"rows in the wrong shard dir: {agg['misplaced']}")
    return {
        "ok": not mismatches,
        "rows": n,
        "shard_docs": shard_docs,
        "mismatches": mismatches,
    }


def verify_packed(spark, packed_dir: str) -> dict:
    """fsck for a packed-token-sequence set (pipeline_demo --bpe:
    textstats.pack_token_ids output written as fixed-size shards).
    Checks sequence-token CONSERVATION against _PACKED_META.json —
    sum of on-disk shard tokens == the packed total the pipeline
    observed — plus structural invariants: seq_id is a complete range
    0..n-1, every sequence except the last carries exactly ``budget``
    tokens, every row's array length equals its n_tokens column, no
    OOV (-1) ids, and every row sits in shard ``seq_id div
    seqs_per_shard``.  One aggregation pass, no collect of the data.
    """
    root = Path(packed_dir)
    meta = json.loads((root / "_PACKED_META.json").read_text())
    df = spark.read.parquet(packed_dir)
    b = int(meta["budget"])
    sps = int(meta["seqs_per_shard"])
    agg = df.agg(
        F.count("*").alias("n"),
        F.countDistinct("seq_id").alias("n_seqs"),
        F.min("seq_id").alias("smin"),
        F.max("seq_id").alias("smax"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum((F.size("token_ids") != F.col("n_tokens")).cast("long")).alias(
            "len_mismatch"
        ),
        F.sum((F.col("n_tokens") != F.lit(b)).cast("long")).alias(
            "n_short"
        ),
        F.max(
            F.when(F.col("n_tokens") != F.lit(b), F.col("seq_id"))
        ).alias("short_seq"),
        F.sum(F.expr("cast(array_contains(token_ids, -1) as long)")).alias(
            "oov_rows"
        ),
        F.sum(
            (F.col("shard") != F.expr(f"seq_id div {sps}")).cast("long")
        ).alias("misplaced"),
    ).collect()[0]
    mismatches = []
    n = int(agg["n"])
    if n != int(meta["n_sequences"]):
        mismatches.append(
            f"sequence count {n} != meta {meta['n_sequences']}"
        )
    if int(agg["total_tokens"] or 0) != int(meta["total_tokens"]):
        mismatches.append(
            f"token sum {agg['total_tokens']} != meta "
            f"{meta['total_tokens']} (conservation broken)"
        )
    if not (agg["n_seqs"] == n and agg["smin"] == 0 and agg["smax"] == n - 1):
        mismatches.append(
            f"seq_id set is not 0..{n - 1}: distinct={agg['n_seqs']} "
            f"min={agg['smin']} max={agg['smax']}"
        )
    n_short = int(agg["n_short"] or 0)
    if n_short > 1 or (
        n_short == 1 and int(agg["short_seq"]) != int(agg["smax"])
    ):
        mismatches.append(
            f"{n_short} sequences shorter than budget {b} "
            f"(only the final one may be; shortest at seq "
            f"{agg['short_seq']})"
        )
    for fld in ("len_mismatch", "oov_rows", "misplaced"):
        if int(agg[fld] or 0):
            mismatches.append(f"{fld}: {int(agg[fld])}")
    return {
        "ok": not mismatches,
        "sequences": n,
        "total_tokens": int(agg["total_tokens"] or 0),
        "budget": b,
        "mismatches": mismatches,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument(
        "--segments",
        action="store_true",
        help="treat --index as a segmented index root: fsck every "
        "manifest-live segment (and base) instead of one monolithic "
        "index",
    )
    ap.add_argument(
        "--shards",
        action="store_true",
        help="treat --index as an emitted training-shard directory "
        "(pipeline_demo --emit-shards): verify the global shuffle "
        "permutation and shard placement",
    )
    ap.add_argument(
        "--packed",
        action="store_true",
        help="treat --index as a packed-token-sequence directory "
        "(pipeline_demo --bpe): verify sequence-token conservation "
        "against _PACKED_META.json and fixed-size structure",
    )
    args = ap.parse_args()
    spark = get_spark(
        app_name="verify_index",
        master=f"local[{args.cpus}]" if args.cpus else None,
    )
    spark.sparkContext.setLogLevel("ERROR")
    if args.packed:
        out = verify_packed(spark, args.index)
    elif args.shards:
        out = verify_shards(spark, args.index)
    elif args.segments:
        out = verify_segments(spark, args.index)
    else:
        out = verify(spark, args.index)
    print(json.dumps(out))
    if not out["ok"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
