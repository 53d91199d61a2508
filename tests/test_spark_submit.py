"""North-rule launch path, literally: the documented

    spark-submit --py-files <package.zip> jobs/build_index_job.py ...

command runs in a fresh JVM and produces a byte-identical index to an
in-process build (same input, shards, buckets) — launch mode is not
allowed to affect the bytes (BASELINE.json north_rule: "run via
spark-submit --py-files on a multi-executor cluster")."""

from __future__ import annotations

import json
import shutil
import subprocess

import pytest

from lean_explore_spark.index.builder import IndexBuilder
from tests.conftest import REPO, SF_SMOKE

SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


@pytest.mark.skipif(
    not shutil.which("spark-submit")
    and not __import__("pathlib").Path(SPARK_SUBMIT).exists(),
    reason="spark-submit not on this machine",
)
def test_spark_submit_pyfiles_build_matches_in_process(spark, tmp_path):
    from lean_explore_spark.pyfiles import build_zip

    out = tmp_path / "idx_submit"
    cmd = [
        SPARK_SUBMIT,
        "--master",
        "local[4]",
        "--py-files",
        build_zip(),
        str(REPO / "jobs" / "build_index_job.py"),
        "--input",
        f"{SF_SMOKE}/documents.parquet",
        "--output",
        str(out),
        "--shards",
        "2",
        "--buckets",
        "4",
        "--cpus",
        "4",
    ]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=420)
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert res["n_docs"] == 500 and res["docs_per_sec"] > 0

    # same build in-process → identical manifest fingerprints
    ref = tmp_path / "idx_inproc"
    IndexBuilder(spark, str(ref), num_shards=2, num_buckets=4).build(
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet"), resume=False
    )

    def fps(d):
        return sorted(
            (int(r["shard"]), int(r["fingerprint"]), int(r["payload_bytes"]))
            for r in spark.read.parquet(str(d / "manifest")).collect()
        )

    assert fps(out) == fps(ref)


def test_sigkill_mid_build_then_resume_is_byte_identical(spark, tmp_path):
    """North-rule resumability under a REAL kill: SIGKILL the build
    subprocess after at least one pack wave committed to the manifest,
    rerun with --resume (packs only the remaining shards per the
    per-partition lineage), and assert the final index fingerprints
    equal a clean single-shot build's."""
    import os
    import signal
    import sys
    import time as _t

    from tests.conftest import SF_ORACLE

    out = tmp_path / "killidx"
    cmd = [
        sys.executable,
        str(REPO / "jobs" / "build_index_job.py"),
        "--input", f"{SF_ORACLE}/documents.parquet",
        "--output", str(out),
        "--shards", "8",
        "--buckets", "4",
        "--cpus", "2",
        "--wave-size", "2",
    ]
    proc = subprocess.Popen(
        cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL
    )
    killed = False
    deadline = _t.time() + 300
    manifest = out / "manifest"
    while _t.time() < deadline and proc.poll() is None:
        if manifest.exists() and any(manifest.glob("*.parquet")):
            os.kill(proc.pid, signal.SIGKILL)
            killed = True
            break
        _t.sleep(0.1)
    proc.wait(timeout=60)

    before = set()
    if manifest.exists():
        before = {
            int(r["shard"])
            for r in spark.read.parquet(str(manifest)).collect()
            if r["status"] == "committed"
        }
    if killed:
        # the kill landed mid-pack: some but not all 8 shards committed
        assert before, "kill raced ahead of the first wave"
        assert len(before) < 8, "build finished before the kill landed"

    # resume: packs only the missing shards, then completes normally
    res = subprocess.run(
        cmd + ["--resume"], capture_output=True, text=True, timeout=420
    )
    assert res.returncode == 0, res.stderr[-3000:]

    ref = tmp_path / "cleanidx"
    IndexBuilder(spark, str(ref), num_shards=8, num_buckets=4).build(
        spark.read.parquet(f"{SF_ORACLE}/documents.parquet"), resume=False
    )

    def fps(d):
        return sorted(
            (int(r["shard"]), int(r["fingerprint"]), int(r["payload_bytes"]))
            for r in spark.read.parquet(str(d / "manifest")).collect()
            if r["status"] == "committed"
        )

    assert fps(out) == fps(ref)
    # resumed run preserved the pre-kill waves (lineage, not redo)
    resumed = {s for s, _, _ in fps(out)}
    assert before <= resumed and len(resumed) == 8
