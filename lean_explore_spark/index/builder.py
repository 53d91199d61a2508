"""Inverted-index builder: documents → compressed posting-list partitions.

Spark-first pipeline (SURVEY.md §3.3 rebuild of the reference's
populate_db phases, scripts/populate_db.py:366-494):

  docs ──analyze (one Arrow UDF pass: tokenize+stem+tf map)──►
  staging "forward index" parquet, partitioned by doc-shard ──►
    (a) doc_stats + corpus stats (narrow agg)
    (b) per-shard packing jobs: explode tf maps →
        groupBy(term) within shard → applyInPandas pack
        (delta-gap varint blocks + block-max metadata) →
        postings/shard=S/bucket=B parquet  + manifest row
    (c) dictionary: groupBy(term).sum(shard df) over packed metadata

Scale rationale (the 100 TB story):

* Hot-term skew: a global groupBy(term) puts ~N postings for "the"
  on one reducer.  Sharding by doc-range (shard = doc_id // span)
  bounds every (term, shard) group to ``span`` postings — this is the
  north_rule's "salted repartition by term", with the salt chosen as
  the doc-range so shards of one term stay doc-ordered and concatenate
  at query time with no merge stage at all.
* One tokenization pass: the staging forward index is written once;
  doc stats and every packing wave read from it (columnar, pruned to
  their shard partition — no re-tokenization, no full-input rescans).
* Checkpointed resume (north_rule): each wave of shards commits
  independently — postings partition dirs written with dynamic
  partition overwrite, then ONE manifest file per wave, written by the
  driver (no Spark job) and made visible by an atomic rename: a row
  per shard with counts, payload bytes and an order-independent
  content fingerprint, folded by the pack job itself.  A killed build
  resumes by skipping manifest-committed shards; rewriting a shard is
  idempotent.
* Compaction is a build over forward rows: only this module writes an
  index's files.
* The final top-k query engine reads these partitions with shard +
  term-bucket pruning (query/search.py).

Reference parity anchors: doc identity is deterministic
(merge_db.py:104-126 keys by content hash, not autoincrement); our
doc_ids come from the input table and the index is byte-identical
across parallelism levels (tested at local[8] vs local[32]).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import time
import uuid
from dataclasses import dataclass
from pathlib import Path
from typing import List, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from lean_explore_spark.index import codec
from lean_explore_spark.operators import analyze as A
from lean_explore_spark.pyfiles import ensure_py_files

# The postings row, declared once.  The packer's Arrow schema and every
# reader's column list derive from it; its list columns are the block
# directory, named as the ``codec.PackedPostings`` fields they fill.
POSTINGS_SCHEMA = StructType(
    [
        StructField("term", StringType()),
        StructField("bucket", IntegerType()),
        StructField("df_shard", LongType()),
        StructField("block_first", ArrayType(LongType())),
        StructField("block_last", ArrayType(LongType())),
        StructField("block_count", ArrayType(IntegerType())),
        StructField("block_gap_bytes", ArrayType(IntegerType())),
        StructField("block_tf_bytes", ArrayType(IntegerType())),
        StructField("block_max_score", ArrayType(DoubleType())),
        StructField("payload", BinaryType()),
    ]
)


def read_doc_lens(index_root: str, shard: int) -> Tuple[np.ndarray, np.ndarray]:
    """One shard's doc_stats slice → (doc ids ascending, doc lengths),
    int64: a single-directory pyarrow read, no Spark.  The packer (via
    ``_worker_doc_lens``) and every query-side reader use it."""
    tbl = pq.read_table(
        f"{index_root}/doc_stats/shard={shard}", columns=["doc_id", "doc_len"]
    )
    ids = tbl.column("doc_id").to_numpy().astype(np.int64, copy=False)
    order = ids.argsort()
    lens = tbl.column("doc_len").to_numpy().astype(np.int64, copy=False)
    return ids[order], lens[order]


# per-PYTHON-WORKER doc-stats cache: executors reuse worker processes
# across tasks, so each (index_root, shard) slice is read from
# parquet once per worker instead of once per pack task (512 tasks ×
# pq.read_table was a measurable slice of the pack stage).
# The key carries a BUILD-UNIQUE token (stats.json mtime+hash, captured
# in the pack closure — ADVICE r2): workers persist across jobs, so a
# rebuild at the SAME path with different docs (build(resume=False)
# after a prior build, compact() to a reused out_dir) must not serve
# the previous build's doc-id/doc-len slices to the packer.
_DL_WORKER_CACHE: dict = {}


def _worker_doc_lens(index_root: str, shard: int, build_token: str = ""):
    key = (index_root, shard, build_token)
    if key not in _DL_WORKER_CACHE:
        if len(_DL_WORKER_CACHE) >= 64:  # bound worker memory across waves
            _DL_WORKER_CACHE.clear()
        _DL_WORKER_CACHE[key] = read_doc_lens(index_root, shard)
    return _DL_WORKER_CACHE[key]


class _LineageParam(AccumulatorParam):
    """Per-shard manifest lineage, ``{shard: (n_terms, n_postings,
    payload_bytes, fingerprint)}``: counts add, fingerprints XOR (an
    order-independent fold, so task order cannot change it)."""

    def zero(self, value):
        return {}

    def addInPlace(self, acc, other):
        for shard, (t, n, nb, fp) in other.items():
            t0, n0, nb0, fp0 = acc.get(shard, (0, 0, 0, 0))
            acc[shard] = (t0 + t, n0 + n, nb0 + nb, fp0 ^ fp)
        return acc


def term_bucket(term: str, num_buckets: int) -> int:
    """Deterministic term→bucket, identical in Python (query-time
    driver lookups) and as the JVM expression
    ``conv(substring(md5(term),1,8),16,10) % B`` (build-time shuffle
    key) — big-endian first 4 md5 bytes."""
    h = hashlib.md5(term.encode("utf-8")).hexdigest()
    return int(h[:8], 16) % num_buckets


def term_bucket_col(num_buckets: int):
    """JVM column twin of term_bucket (whole-stage codegen, no UDF)."""
    return (
        F.conv(F.substring(F.md5(F.col("term")), 1, 8), 16, 10).cast("long")
        % num_buckets
    ).cast("int")


@dataclass
class IndexPaths:
    root: Path

    @property
    def staging(self) -> Path:
        return self.root / "forward"

    @property
    def postings(self) -> Path:
        return self.root / "postings"

    @property
    def doc_stats(self) -> Path:
        return self.root / "doc_stats"

    @property
    def dictionary(self) -> Path:
        return self.root / "dictionary"

    @property
    def manifest(self) -> Path:
        return self.root / "manifest"

    @property
    def stats_json(self) -> Path:
        return self.root / "stats.json"


class IndexBuilder:
    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        *,
        stem: bool = True,
        num_shards: int | None = 8,
        num_buckets: int = 8,
        block_size: int = codec.BLOCK_SIZE,
        span_target: int = 250_000,
    ) -> None:
        """``num_shards=None`` auto-sizes: shards = ceil(docs/span_target),
        keeping every (term, shard) pack group and every per-shard
        doc-length slice bounded by ``span_target`` regardless of
        corpus size — the scale-correct default for unknown inputs."""
        self.spark = spark
        self.paths = IndexPaths(Path(out_dir))
        self.stem = stem
        self.num_shards = num_shards
        self.num_buckets = num_buckets
        self.block_size = block_size
        self.span_target = span_target
        ensure_py_files(spark)

    # -- stage A: forward index ---------------------------------------

    def write_staging(self, docs: DataFrame) -> dict:
        """Tokenize once; write the forward index partitioned by shard.
        Forward rows (a ``tf_map`` column: compaction) stage as they are."""
        marker = self.paths.staging / "_STAGING_DONE.json"
        if marker.exists():
            info = json.loads(marker.read_text())
            self.num_shards = info.get("num_shards", self.num_shards)
            return info

        # bounds come from the raw input (no tokenization) so the
        # expensive analyze pass runs exactly once, at write time
        bounds = docs.agg(
            F.count("*").alias("n"), F.max("doc_id").alias("max_id")
        ).collect()[0]
        n_docs, max_id = int(bounds["n"]), int(bounds["max_id"])
        if self.num_shards is None:
            # size shards by COUNT, not id range: hash doc-ids span
            # [0, 2^62) uniformly, so ceil(n/span_target) shards each
            # hold ~span_target docs; dense ids give the same answer
            self.num_shards = max(1, math.ceil(n_docs / self.span_target))
        # INTEGER ceil-div: math.ceil(x / n) goes through a float and
        # at 2^62-scale ids rounds DOWN, making max_id div span ==
        # num_shards — a phantom shard that is never packed
        span = max(1, -((max_id + 1) // -self.num_shards))
        if "tf_map" in docs.columns:
            forward = docs.select("doc_id", "doc_len", "tf_map")
        else:
            forward = A.analyze(docs, stem=self.stem)
        (
            forward.withColumn(
                # integer `div`, NOT floor(double /): at 2^62-scale
                # hash ids the double quotient rounds across shard
                # boundaries (a doc near max_id landed in a phantom
                # shard == num_shards and was never packed)
                "shard", F.expr(f"cast(doc_id div {span} as int)")
            )
            .write.partitionBy("shard")
            .mode("overwrite")
            .parquet(str(self.paths.staging))
        )
        info = {
            "n_docs": n_docs,
            "max_doc_id": max_id,
            "span": span,
            "num_shards": self.num_shards,
        }
        marker.write_text(json.dumps(info))
        return info

    # -- stage B: doc stats -------------------------------------------

    def write_doc_stats(self, staging_info: dict) -> dict:
        if self.paths.stats_json.exists():
            return json.loads(self.paths.stats_json.read_text())
        from pyspark.sql import Observation

        staged = self.spark.read.parquet(str(self.paths.staging))
        stats = staged.select(
            "shard", "doc_id", F.col("doc_len").cast("long").alias("doc_len")
        )
        # corpus aggregates ride the write job itself (Observation) —
        # no second read of what was just written
        obs = Observation("doc_stats")
        stats = stats.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.avg("doc_len").alias("avgdl"),
            F.sum("doc_len").alias("total_tokens"),
            # the occupied shard list rides the same job: serving
            # discovers shards from stats.json, never from a
            # filesystem listing (object-store-safe, r3 VERDICT #7)
            F.array_sort(F.collect_set("shard")).alias("shards"),
        )
        # partitioned by shard: WAND tasks load only their shard's
        # doc-length slice (span-bounded), never the global array
        (
            stats.repartition("shard")
            .sortWithinPartitions("doc_id")
            .write.partitionBy("shard")
            .mode("overwrite")
            .parquet(str(self.paths.doc_stats))
        )
        row = obs.get
        info = {
            "n_docs": int(row["n"]),
            "avgdl": float(row["avgdl"]),
            "total_tokens": int(row["total_tokens"]),
            "span": staging_info["span"],
            "max_doc_id": staging_info["max_doc_id"],
            "num_shards": self.num_shards,
            "num_buckets": self.num_buckets,
            "block_size": self.block_size,
            "stem": self.stem,
            "shards": [int(s) for s in row["shards"]],
        }
        self.paths.stats_json.write_text(json.dumps(info))
        return info

    # -- stage C: per-shard packing with manifest checkpoints ----------

    def _completed_shards(self) -> set[int]:
        if not self.paths.manifest.exists():
            return set()
        try:
            rows = pq.read_table(
                str(self.paths.manifest), columns=["shard", "status"]
            ).to_pylist()
        except pa.ArrowInvalid:  # no wave committed yet: an empty dir
            return set()
        return {int(r["shard"]) for r in rows if r["status"] == "committed"}

    def _pack_plan(
        self, shards: List[int], avgdl: float, lineage=None
    ) -> DataFrame:
        """The pack DataFrame for a wave of doc-shards (no action).

        Shuffle shape: ONE exchange — ``repartition(shard, bucket)`` +
        ``sortWithinPartitions(shard, bucket, term, doc_id)`` — then a
        fully VECTORIZED mapInArrow packer (see pack_stream).  No
        groupBy: a per-term applyInPandas pays pandas-group overhead
        per term (~1 ms × |vocab × shards| groups dominated the r0
        build); per-task state is bounded by span × bucket share (the
        skew defuse).

        Each task adds its per-shard lineage fold to ``lineage`` (a
        ``_LineageParam`` accumulator); a plan built only to be
        inspected gets a throwaway one.
        """
        spark = self.spark
        num_buckets = self.num_buckets
        block_size = self.block_size
        span = json.loads(self.paths.stats_json.read_text())["span"]
        if lineage is None:
            lineage = spark.sparkContext.accumulator({}, _LineageParam())
        # build-unique worker-cache token: mtime_ns + content hash of
        # stats.json identifies THIS build's doc_stats at this path
        _sj = self.paths.stats_json
        build_token = (
            f"{_sj.stat().st_mtime_ns}:"
            f"{hashlib.md5(_sj.read_bytes()).hexdigest()[:16]}"
        )

        staged = spark.read.parquet(str(self.paths.staging)).where(
            F.col("shard").isin([int(s) for s in shards])
        )
        # ONLY (doc_id, term, tf) crosses the JVM→Python Arrow channel:
        # doc_len is pure redundancy (8 B × every posting — the packer
        # loads each shard's span-bounded doc-length slice from
        # doc_stats instead), and shard/bucket are recomputed
        # Python-side (doc_id div span; md5 once per run) — they ride
        # the shuffle only as partitioning EXPRESSIONS, never as
        # materialized channel columns (~30% of the hand-off bytes)
        exploded = staged.select(
            F.col("doc_id"),
            F.explode("tf_map").alias("term", "tf"),
        )
        shard_expr = F.expr(f"cast(doc_id div {span} as int)")
        index_root = str(self.paths.root)

        # the written row: the shard partition column, then the postings
        pack_schema = StructType(
            [StructField("shard", IntegerType())] + POSTINGS_SCHEMA.fields
        )
        arrow_schema = to_arrow_schema(pack_schema)

        def pack_stream(batches):
            # FULLY VECTORIZED packer (r2): the r1 streaming variant ran
            # ~60µs of per-(shard,term)-run Python (pack_postings call,
            # small-array allocs, two varint_encode calls per block) —
            # at 166k runs that WAS the pack stage (~10s of its 13s).
            # A task's input is bounded (each (shard,bucket) group ≤
            # span × its bucket share), so we accumulate the task's
            # Arrow batches, then compute run/block boundaries, ranks,
            # gaps, block metadata (np.maximum.reduceat) and ONE varint
            # encode for every payload; the only per-run Python left is
            # the term's bucket and the payload's md5.
            import hashlib as _hl

            import numpy as np
            import pyarrow as pa
            import pyarrow.compute as pc

            got = [rb for rb in batches if rb.num_rows]
            if not got:
                return
            tbl = pa.Table.from_batches(got).combine_chunks()
            del got
            # 2 GiB guard (ADVICE r2): a task whose term column
            # exceeds the 32-bit-offset Arrow limit stays multi-chunk
            # after combine_chunks, which would break the single-chunk
            # run-boundary slice below — recombine via 64-bit offsets.
            # CONDITIONAL: the cast is a full column copy, so the
            # normal path (every task ≤ span × bucket share) pays
            # nothing.
            if tbl.column("term").num_chunks > 1:
                ti = tbl.schema.get_field_index("term")
                tbl = tbl.set_column(
                    ti, "term", tbl.column("term").cast(pa.large_string())
                ).combine_chunks()
            n = tbl.num_rows
            ids = tbl.column("doc_id").to_numpy()
            shard_np = (ids // span).astype(np.int32)
            tfs_np = tbl.column("tf").to_numpy().astype(np.int64, copy=False)
            terms = tbl.column("term").chunk(0)

            # run boundaries: term change or shard change (input sorted
            # by shard, bucket, term, doc_id)
            change = np.ones(n, dtype=bool)
            if n > 1:
                neq = pc.not_equal(
                    terms.slice(1), terms.slice(0, n - 1)
                ).to_numpy(zero_copy_only=False)
                change[1:] = neq | (shard_np[1:] != shard_np[:-1])
            run_start = np.flatnonzero(change)
            run_of_row = np.cumsum(change) - 1
            run_end = np.append(run_start[1:], n)

            # ranks + doc lens: one searchsorted per shard segment,
            # doc-stats slice from the per-worker cache
            from lean_explore_spark.index.builder import _worker_doc_lens

            ranks = np.empty(n, dtype=np.int64)
            dls = np.empty(n, dtype=np.int64)
            for shard in np.unique(shard_np):
                d_ids, d_lens = _worker_doc_lens(
                    index_root, int(shard), build_token
                )
                m = shard_np == shard
                pos = np.searchsorted(d_ids, ids[m])
                ranks[m] = pos
                dls[m] = d_lens[pos]

            x = codec.bm25_tf_part(tfs_np, dls, avgdl)

            # block boundaries within runs
            offset_in_run = np.arange(n, dtype=np.int64) - run_start[run_of_row]
            block_start = (offset_in_run % block_size) == 0
            bstart = np.flatnonzero(block_start)
            bend = np.append(bstart[1:], n)
            block_count = (bend - bstart).astype(np.int32)

            # rank gaps (0 at block starts → blocks decode independently)
            d = np.zeros(n, dtype=np.int64)
            if n > 1:
                d[1:] = ranks[1:] - ranks[:-1]
            d[block_start] = 0
            # payload layout (codec): each block's gaps, then its tfs.
            # Posting i of the block starting at posting h holds value
            # slots h+i (gap) and h+count+i (tf), so ONE encode of the
            # interleaved values yields every run's payload in order
            blk = np.cumsum(block_start) - 1  # each posting's block
            slot = np.arange(n, dtype=np.int64) + bstart[blk]
            vals = np.empty(2 * n, dtype=np.uint64)
            vals[slot] = d
            vals[slot + block_count[blk]] = tfs_np
            payload, v_sz = codec.varint_encode_sized(vals)
            v_off = np.zeros(2 * n + 1, dtype=np.int64)
            np.cumsum(v_sz, out=v_off[1:])
            tf_at = v_off[2 * bstart + block_count]  # each block's tf bytes
            p_off = v_off[2 * np.append(run_start, n)]  # each run's payload

            run_shard = shard_np[run_start]
            run_terms = terms.take(pa.array(run_start)).to_pylist()
            run_len = run_end - run_start
            run_bytes = np.diff(p_off)
            mv = memoryview(payload)
            # same 15-hex-digit fold as jobs/verify_index.py's SQL
            # (conv(substring(md5(payload),1,15),16,10))
            fps = np.array(
                [
                    int(_hl.md5(mv[a:b]).hexdigest()[:15], 16)
                    for a, b in zip(p_off[:-1].tolist(), p_off[1:].tolist())
                ],
                dtype=np.int64,
            )
            # Manifest lineage rides this task, not a read-back job.
            # The packer runs in the write job's result stage (after
            # the repartition exchange), and Spark applies a result
            # task's accumulator update once per partition, so a
            # retried or speculative task cannot count twice.
            fold = {}
            for s in np.unique(run_shard).tolist():
                m = run_shard == s
                fold[s] = (
                    int(m.sum()),
                    int(run_len[m].sum()),
                    int(run_bytes[m].sum()),
                    int(np.bitwise_xor.reduce(fps[m])),
                )
            lineage.add(fold)

            # one list entry per run, over its blocks
            run_blocks = pa.array(
                np.append(np.searchsorted(bstart, run_start), len(bstart)),
                pa.int32(),
            )
            cols = {
                "shard": run_shard,
                "term": run_terms,
                "bucket": [term_bucket(t, num_buckets) for t in run_terms],
                "df_shard": run_len,
                "block_first": ids[bstart],
                "block_last": ids[bend - 1],
                "block_count": block_count,
                "block_gap_bytes": tf_at - v_off[2 * bstart],
                "block_tf_bytes": v_off[2 * bend] - tf_at,
                "block_max_score": np.maximum.reduceat(x, bstart),
                # 64-bit offsets, then a checked cast: a task's payload
                # past 2 GiB fails here instead of wrapping
                "payload": pa.LargeBinaryArray.from_buffers(
                    pa.large_binary(),
                    len(run_start),
                    [None, pa.py_buffer(p_off), pa.py_buffer(payload)],
                ),
            }

            def column(field):
                if pa.types.is_list(field.type):
                    return pa.ListArray.from_arrays(
                        run_blocks,
                        pa.array(cols[field.name], field.type.value_type),
                        type=field.type,
                    )
                return pa.array(cols[field.name]).cast(field.type)

            yield pa.RecordBatch.from_arrays(
                [column(f) for f in arrow_schema], schema=arrow_schema
            )

        # explicit partition count: without it AQE coalesces this
        # shuffle toward 64MB partitions, capping pack parallelism well
        # below the core count (observed 2x loss at local[32])
        n_part = max(
            spark.sparkContext.defaultParallelism * 2,
            min(len(shards) * num_buckets, 512),
        )
        return (
            exploded.repartition(
                n_part, shard_expr, term_bucket_col(num_buckets)
            )
            .sortWithinPartitions(shard_expr, "term", "doc_id")
            .mapInArrow(pack_stream, schema=pack_schema)
        )

    def pack_shards(self, shards: List[int], avgdl: float) -> List[dict]:
        """Pack a wave of doc-shards in ONE Spark job: write the pack
        plan's output with dynamic partition overwrite (only this
        wave's shard=/bucket= dirs are replaced; each (shard, bucket)
        lands in exactly one task → one file per partition dir).  The
        per-shard manifest lineage comes back from the same job's
        tasks through an accumulator."""
        lineage = self.spark.sparkContext.accumulator({}, _LineageParam())
        (
            self._pack_plan(shards, avgdl, lineage)
            .write.partitionBy("shard", "bucket")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(str(self.paths.postings))
        )
        committed_at = time.time()
        out: List[dict] = []
        for shard in shards:
            n_terms, n_postings, payload_bytes, fingerprint = lineage.value.get(
                int(shard), (0, 0, 0, 0)
            )
            out.append(
                {
                    "shard": int(shard),
                    "n_terms": n_terms,
                    "n_postings": n_postings,
                    "payload_bytes": payload_bytes,
                    "fingerprint": fingerprint,
                    "status": "committed",
                    "committed_at": committed_at,
                }
            )
        return out

    def _append_manifest(self, rows: List[dict]) -> None:
        """Commit a wave as ONE file: written under a hidden name, which
        parquet readers skip, then renamed — visible whole or not at all.
        Written without the embedded Arrow schema and column statistics,
        which halve a one-row file and which no reader uses: the parquet
        types alone read back as the same columns."""
        self.paths.manifest.mkdir(parents=True, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = self.paths.manifest / f".{name}.tmp"
        pq.write_table(
            pa.Table.from_pylist(rows), tmp,
            store_schema=False, write_statistics=False,
        )
        os.replace(tmp, self.paths.manifest / name)

    # -- stage D: dictionary -------------------------------------------

    def write_dictionary(self) -> None:
        postings = self.spark.read.parquet(str(self.paths.postings))
        # column pruning: payload never read — only term + df_shard
        dictionary = (
            postings.groupBy("term")
            .agg(F.sum("df_shard").alias("df"))
            .withColumn("bucket", term_bucket_col(self.num_buckets))
        )
        (
            dictionary.repartition("bucket")
            .sortWithinPartitions("term")
            .write.partitionBy("bucket")
            .mode("overwrite")
            .parquet(str(self.paths.dictionary))
        )

    # -- orchestration ---------------------------------------------------

    def build(
        self,
        docs: DataFrame,
        resume: bool = True,
        wave_size: int | None = None,
        near_dup_artifact: bool = False,
    ) -> dict:
        """``wave_size`` = shards packed (and committed) per Spark job;
        None packs all pending shards in one job — fastest, coarsest
        checkpoint.  Smaller waves give finer-grained resume.

        ``near_dup_artifact=True`` additionally persists the corpus's
        incremental-gate state (dedup.write_near_dup_artifact) under
        ``<index>/near_dup`` so refresh batches can run
        dedup.novel_docs_stored without rescanning this corpus (opt-in:
        it adds a shingle+minhash pass over the corpus to build time)."""
        if not resume and self.paths.root.exists():
            shutil.rmtree(self.paths.root)
        self.paths.root.mkdir(parents=True, exist_ok=True)

        timings: dict = {}
        t0 = time.time()
        staging_info = self.write_staging(docs)
        timings["staging_sec"] = round(time.time() - t0, 2)
        t0 = time.time()
        stats = self.write_doc_stats(staging_info)
        timings["doc_stats_sec"] = round(time.time() - t0, 2)

        done = self._completed_shards() if resume else set()
        pending = [
            s
            for s in range(self.num_shards)
            if s * stats["span"] <= stats["max_doc_id"] and s not in done
        ]
        wave = wave_size or len(pending) or 1
        t0 = time.time()
        for i in range(0, len(pending), wave):
            rows = self.pack_shards(pending[i : i + wave], avgdl=stats["avgdl"])
            self._append_manifest(rows)
        timings["pack_sec"] = round(time.time() - t0, 2)
        t0 = time.time()
        self.write_dictionary()
        timings["dictionary_sec"] = round(time.time() - t0, 2)
        if near_dup_artifact:
            from lean_explore_spark.operators import dedup as _dedup

            t0 = time.time()
            _dedup.write_near_dup_artifact(
                docs, str(self.paths.root / "near_dup")
            )
            timings["near_dup_artifact_sec"] = round(time.time() - t0, 2)
        stats["stage_timings"] = timings
        return stats

    @staticmethod
    def is_complete(index_dir) -> bool:
        """``build`` finished at ``index_dir``: the dictionary is its LAST
        stage (stats.json and the manifest exist mid-build)."""
        p = IndexPaths(Path(index_dir))
        return all(d.exists() for d in (p.stats_json, p.manifest, p.dictionary))
