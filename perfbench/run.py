"""Seeded end-to-end benchmark of the BM25 engine.

    python3 perfbench/run.py --workload serve_hot --seed 1 --seconds 5 --trace 0

Run from the repository root.  The seed fixes every input (pages, query
streams, refresh batches); the engine runs in a child process
(``host.py``) on ``local[4]`` and receives only the generated page
files.  The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` -- end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``.  Every answer
is compared bit-for-bit (doc ids and float64 scores) with
``oracle/bm25.py``; any mismatch, timeout (> 2 s) or error makes the
run incorrect and the exit code 1.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import urllib.parse
import urllib.request
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CPUS = 4  # local[4] and at most 4 load threads: the 4-core target box
DEADLINE_S = 170
TIMEOUT_S = 2.0

# Every workload runs the whole life cycle (build, serve, refresh); the
# sizes decide which part dominates.  Queries ask for k=50.
WORKLOADS = {
    # open-loop serving of a Zipf-popular stream (about a third of
    # requests repeat an earlier query); two refresh batches, so that the
    # lag is a median of two, and no compaction
    "serve_hot": dict(
        base_docs=2000, shards=4, buckets=4, rate=40, repeats=True,
        batches=2, batch_docs=250, compact_every=0,
        cold_queries=4, final_queries=8, client_queries=40,
    ),
    # every query distinct, and two refresh batches with a compaction
    "refresh": dict(
        base_docs=2000, shards=2, buckets=2, rate=30, repeats=False,
        batches=2, batch_docs=250, compact_every=2,
        cold_queries=4, final_queries=8, client_queries=40,
    ),
}
SETUP_REPS = 2
PROBE_QUERIES = 16  # traced runs force the fan-out and block-max paths on these
WORK = ROOT / ".perfbench_work"

END_TO_END = {
    "setup_s": "s",
    "build_docs_per_s": "docs/s",
    "index_bytes_per_posting": "B",
    "query_p50_ms": "ms",
    "server_rss_mb": "MiB",
    "ingest_docs_per_s": "docs/s",
    "visible_lag_s": "s",
}
PER_LAYER = {
    "pages.doc_ids_s": "s",
    "analyze.tokenize_s": "s",
    "tokenizer.query_us": "us",
    "builder.staging_s": "s",
    "builder.doc_stats_s": "s",
    "builder.pack_s": "s",
    "builder.dictionary_s": "s",
    "builder.postings": "count",
    "builder.terms": "count",
    "builder.payload_bytes": "B",
    "builder.staging_bytes": "B",
    "builder.bytes_written_per_input_byte": "ratio",
    "builder.spark_jobs": "count",
    "builder.segment_spark_jobs": "count",
    "codec.unpack_calls": "count",
    "codec.unpack_s": "s",
    "codec.postings_decoded": "count",
    "codec.blocks_decoded_frac": "fraction",
    "wand.score_s": "s",
    "wand.shard_calls": "count",
    "wand.finalize_s": "s",
    "wand.fill_frac": "fraction",
    "search.self_ms": "ms",
    "search.spark_jobs_per_query": "count",
    "search.cold_query_ms": "ms",
    "search.routed_frac": "fraction",
    "search.fanout_ms": "ms",
    "search.preload_s": "s",
    "api.handler_ms": "ms",
    "api.overhead_ms": "ms",
    "api.inflight_max": "count",
    "loadgen.p90_ms": "ms",
    "loadgen.late_ms": "ms",
    "loadgen.repeat_frac": "fraction",
    "incremental.register_s": "s",
    "incremental.compact_s": "s",
    "incremental.compacted_docs": "count",
    "incremental.open_s": "s",
    "incremental.live_segments": "count",
    "incremental.query_p50_ms": "ms",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "trace.spans": "count",
    "trace.span_cost_us": "us",
    "trace.overhead_frac": "fraction",
}


def _pct(xs, q) -> float:
    import numpy as np

    return float(np.percentile(np.asarray(xs, dtype=np.float64), q))


class Host:
    """The child process running the engine, with a deadline on every
    event it owes."""

    def __init__(self, cfg: dict, work: Path, deadline: float) -> None:
        self.deadline = deadline
        env = dict(os.environ)
        tmp = work / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        env.update(
            SPARK_GRAFT_CPUS=str(CPUS),
            # session.py defaults to 24g, more than the 15 GiB box
            SPARK_DRIVER_MEM="3g",
            SPARK_LOCAL_DIRS=str(work / "spark-local"),
            TMPDIR=str(tmp),
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            PYTHONPATH=str(ROOT),
            PYSPARK_PYTHON=sys.executable,
            PYSPARK_DRIVER_PYTHON=sys.executable,
        )
        self.log = open(work / "host.log", "wb")
        self.t0 = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, str(HERE / "host.py"), json.dumps(cfg)],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=self.log,
            cwd=str(work),
            env=env,
            start_new_session=True,
        )
        self.events: queue.Queue = queue.Queue()
        threading.Thread(target=self._read, daemon=True).start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            self.events.put(json.loads(line))
        self.events.put(None)

    def expect(self, name: str) -> dict:
        left = self.deadline - time.perf_counter()
        try:
            ev = self.events.get(timeout=max(0.1, left))
        except queue.Empty:
            raise RuntimeError(f"host: no {name!r} event before the deadline")
        if ev is None or ev.get("event") != name:
            raise RuntimeError(f"host: expected {name!r}, got {ev!r} (see host.log)")
        return ev

    def send(self, **cmd) -> None:
        self.proc.stdin.write((json.dumps(cmd) + "\n").encode())
        self.proc.stdin.flush()

    def close(self) -> None:
        """Wait for the host to exit, then kill whatever it left: the JVM,
        Python workers (the pyspark daemon runs in a process group of
        its own) and the fork pool; wait until all of them are gone."""
        try:
            self.proc.wait(timeout=max(1.0, min(30.0, self.deadline - time.perf_counter())))
        except subprocess.TimeoutExpired:
            pass
        left = _descendants(self.proc.pid)
        for pid in [self.proc.pid, *left]:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        self.proc.wait()
        for _ in range(200):
            if not any(Path(f"/proc/{p}").exists() for p in left):
                break
            time.sleep(0.05)
        self.log.close()


def _descendants(pid: int) -> list:
    """Every live process below ``pid`` (orphans re-parented to init are
    found through the host's process group instead)."""
    children: dict = {}
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            fields = stat.read_text().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        children.setdefault(int(fields[1]), []).append(int(stat.parent.name))
        if int(fields[2]) == pid:  # same process group as the host
            children.setdefault(pid, []).append(int(stat.parent.name))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in out and c != pid:
                out.add(c)
                todo.append(c)
    return sorted(out)


def open_loop(url: str, queries: list, rate: float) -> list:
    """Send ``queries`` on a fixed schedule (request i due at i/rate)
    from ``CPUS`` sender threads.  Latency counts from the due time, so
    a stall also charges the requests queued behind it."""
    n = len(queries)
    out: list = [None] * n
    nxt = [0]
    lock = threading.Lock()
    t0 = time.perf_counter() + 0.05

    def sender() -> None:
        while True:
            with lock:
                i = nxt[0]
                nxt[0] += 1
            if i >= n:
                return
            due = t0 + i / rate
            time.sleep(max(0.0, due - time.perf_counter()))
            sent = time.perf_counter()
            q = urllib.parse.quote(queries[i])
            hits, err = None, None
            try:
                with urllib.request.urlopen(
                    f"{url}/lexical_search?q={q}&k=50&routed=true", timeout=TIMEOUT_S
                ) as r:
                    hits = [[h["id"], h["score"]] for h in json.loads(r.read())["results"]]
            except Exception as e:  # a failed request is counted, not raised
                err = repr(e)
            done = time.perf_counter()
            out[i] = {"due": due, "sent": sent, "done": done, "hits": hits, "err": err}

    threads = [threading.Thread(target=sender) for _ in range(CPUS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return out


def run(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    sys.path.insert(0, str(ROOT))
    import inputs

    cfg = dict(WORKLOADS[workload])
    n_req = int(cfg["rate"] * seconds)
    data = inputs.prepare(workload, cfg, seed, n_req)
    probe_queries = list(dict.fromkeys(data["serve_queries"]))[:PROBE_QUERIES]
    work = WORK / f"{workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    trace_file = WORK / f"trace-{workload}.json"
    deadline = time.perf_counter() + DEADLINE_S
    host = Host(
        dict(
            cfg,
            trace=trace,
            work=str(work),
            reps=SETUP_REPS,
            base=data["base"],
            batches=data["batches"],
            warm_query=data["warm_query"],
            client_queries=data["client_queries"],
            probe_queries=probe_queries,
            cold_queries=data["cold_queries"],
            final_queries=data["final_queries"],
            trace_file=str(trace_file),
        ),
        work,
        deadline,
    )

    def log(msg: str) -> None:
        print(f"[{time.perf_counter() - host.t0:6.1f}s] {msg}", file=sys.stderr)

    try:
        session_s = host.expect("session")["t"]
        log("session up")
        ready = host.expect("ready")
        log(f"base built in {ready['build_s']:.1f}s, opened in {ready['open_s']}")
        # the load is served in two halves 15-20 s apart, so one stretch
        # of a slow shared machine weighs on half the samples
        qs = data["serve_queries"]
        sent = open_loop(ready["url"], qs[: len(qs) // 2], cfg["rate"])
        host.send(cmd="continue")
        host.expect("refreshed")
        sent += open_loop(ready["url"], qs[len(qs) // 2 :], cfg["rate"])
        log(f"served {len(sent)} requests")
        host.send(cmd="continue")
        done = host.expect("done")
        log(f"cold {done['cold_ms']} ms, lags {done['lags']}, compactions {done['compactions']}")
    finally:
        host.close()
        shutil.rmtree(work, ignore_errors=True)

    # -- correctness -----------------------------------------------------
    failures: list = []
    attempted = 0

    def check(what, got, want) -> None:
        nonlocal attempted
        attempted += 1
        if got != want:
            diff = next((i for i, (a, b) in enumerate(zip(got, want)) if a != b), None)
            if diff is None:
                failures.append(f"{what}: {len(got)} results, want {len(want)}")
            else:
                failures.append(f"{what}: rank {diff} is {got[diff]}, want {want[diff]}")

    answers = data["serve_answers"]
    lat_ms = []
    for q, r in zip(data["serve_queries"], sent):
        if r["err"] is not None or r["done"] - r["sent"] > TIMEOUT_S:
            attempted += 1
            failures.append(f"serve {q!r}: {r['err'] or 'timeout'}")
            lat_ms.append(TIMEOUT_S * 1e3)
            continue
        check(f"serve {q!r}", r["hits"], answers[q])
        lat_ms.append((r["done"] - r["due"]) * 1e3)
    check("answer counts (probe, cold, final)",
          [len(done["kernel"]), len(done["cold"]), len(done["final"])],
          [len(probe_queries) * trace, len(data["cold_queries"]) * trace, len(data["final_queries"])])
    for q, (fan, bm) in zip(probe_queries, done["kernel"]):
        check(f"fan-out probe {q!r}", [list(h) for h in fan], answers[q])
        check(f"block-max probe {q!r}", [list(h) for h in bm], answers[q])
    for q, got, want in zip(data["cold_queries"], done["cold"], data["cold_answers"]):
        check(f"cold {q!r}", [list(h) for h in got], want)
    for q, got, want in zip(data["final_queries"], done["final"], data["final_answers"]):
        check(f"final {q!r}", [list(h) for h in got], want)
    check("build: sum n_postings == oracle sum df", ready["index"]["postings"], data["base_sum_df"])
    for b, (seen, want) in enumerate(done["n_docs_seen"]):
        check(f"refresh batch {b}: n_docs", seen, want)
    client_answers = data["client_answers"]
    for gen, got in done["probes"]:
        check(f"refresh probe after {gen} batches", [list(h) for h in got], client_answers[gen][0])
    for i, gen, got, _ in done["client"]:
        q = data["client_queries"][i]
        check(f"refresh client {q!r} after {gen} batches", [list(h) for h in got], client_answers[gen][i])
    for err in done["client_errors"]:
        attempted += 1
        failures.append(f"refresh client: {err}")

    n_ingested = cfg["batches"] * cfg["batch_docs"]
    e2e = {
        "setup_s": session_s + statistics.median(ready["open_s"]),
        "build_docs_per_s": cfg["base_docs"] / ready["build_s"],
        "index_bytes_per_posting": ready["index"]["bytes"] / ready["index"]["postings"],
        "query_p50_ms": _pct(lat_ms, 50),
        "server_rss_mb": ready["rss_mb"],
        "ingest_docs_per_s": n_ingested / done["ingest_s"],
        "visible_lag_s": statistics.median(done["lags"]),
    }
    if trace:
        m = dict(done["layers"])
        m["builder.bytes_written_per_input_byte"] = ready["index"]["bytes"] / data["base_text_bytes"]
        m["api.overhead_ms"] = e2e["query_p50_ms"] - m["api.handler_ms"]
        m["loadgen.p90_ms"] = _pct(lat_ms, 90)
        m["loadgen.late_ms"] = _pct([(r["sent"] - r["due"]) * 1e3 for r in sent], 99)
        m["loadgen.repeat_frac"] = 1 - len(set(data["serve_queries"])) / len(data["serve_queries"])
        # spans recorded per served request times the cost of one span,
        # as a share of the traced median latency
        m["trace.overhead_frac"] = (
            m["trace.span_cost_us"] * 1e-3 * done["serve_spans_per_request"] / e2e["query_p50_ms"]
        )
        metrics = {k: (m[k], u) for k, u in PER_LAYER.items()}
    else:
        metrics = {k: (e2e[k], u) for k, u in END_TO_END.items()}
    for f in failures[:10]:
        print(f"MISMATCH {f}", file=sys.stderr)
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (ROOT / "lean_explore_spark").is_dir():
        print(f"perfbench: no lean_explore_spark package under {ROOT}", file=sys.stderr)
        return 2
    result = run(a.workload, a.seed, a.seconds, bool(a.trace))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
