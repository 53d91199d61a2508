"""Self-tests of the benchmark at tiny scale (a few hundred pages).

    python3 -m pytest perfbench/test_perfbench.py -q

Each test runs the real command end to end (Spark included) with
shrunken workloads, so the whole file takes a few minutes.
"""

from __future__ import annotations

import json
import pickle
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

import inputs  # noqa: E402
import run  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
TINY = dict(base_docs=400, shards=2, buckets=2, batch_docs=60, cold_queries=2, final_queries=3)


@pytest.fixture
def tiny(monkeypatch, tmp_path):
    """Shrink every workload and keep caches out of the checkout."""
    for name, cfg in run.WORKLOADS.items():
        monkeypatch.setitem(run.WORKLOADS, name, dict(cfg, **TINY))
    monkeypatch.setattr(inputs, "CACHE", tmp_path / "cache")
    monkeypatch.setattr(run, "WORK", tmp_path / "work")
    return tmp_path


def test_spec_matches_code():
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER


def test_xxhash64_matches_known_vectors():
    assert inputs.xxhash64(b"", 0) == 0xEF46DB3751D8E999
    assert inputs.xxhash64(b"Nobody inspects the spammish repetition", 0) == 0xFBCEA83C8A378BF1


@pytest.mark.parametrize("workload", list(run.WORKLOADS))
@pytest.mark.parametrize("trace", [False, True])
def test_workload_prints_every_metric(tiny, workload, trace):
    res = run.run(workload, seed=3, seconds=1, trace=trace)
    assert res["correct"], res
    assert res["failed"] == 0 and res["attempted"] > 0
    names = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in res["metrics"].items()} == names
    for k, v in res["metrics"].items():
        assert isinstance(v["value"], (int, float)), k
        if not trace:
            assert v["value"] > 0, k


@pytest.mark.parametrize("target", ["serve", "refresh_client"])
def test_corrupted_oracle_answer_fails_the_run(tiny, target):
    cfg = run.WORKLOADS["refresh"]
    data = inputs.prepare("refresh", cfg, 4, int(cfg["rate"]))
    answers = next(Path(data["dir"]).glob("answers-*.pkl"))
    saved = pickle.loads(answers.read_bytes())
    if target == "serve":
        first = saved["serve_answers"][data["serve_queries"][0]]
    else:  # checked at least by the visibility probe after the first batch
        first = saved["client_answers"][1][0]
    first[0] = [first[0][0], first[0][1] + 1e-9]  # a 1e-9 change to one score
    answers.write_bytes(pickle.dumps(saved))
    res = run.run("refresh", seed=4, seconds=1, trace=False)
    assert not res["correct"]
    assert res["failed"] == 1 if target == "serve" else res["failed"] >= 1


def test_command_fails_without_the_program(tmp_path):
    (tmp_path / "perfbench").mkdir()
    for f in HERE.glob("*.py"):
        (tmp_path / "perfbench" / f.name).write_bytes(f.read_bytes())
    (tmp_path / "BENCHMARK.json").write_bytes((ROOT / "BENCHMARK.json").read_bytes())
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "refresh", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert r.returncode != 0 and r.stdout == ""
