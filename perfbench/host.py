"""Program host: the one process that runs the engine under test.

Started by ``run.py`` with a JSON config as its only argument.  It talks
to the benchmark process over a line protocol: JSON events on stdout,
commands on stdin.  Everything the engine prints goes to stderr.

Life cycle of one run (every workload runs all of it; the sizes in the
config decide which part dominates):

1. ``session``  Spark session up (``session.get_spark``), first job done.
2. ``build``    pages table -> ``extract_text`` -> ``assign_doc_ids`` ->
                ``IndexBuilder.build`` into ``root/base``.
3. ``ready``    the base index opened ``reps`` times as a preloaded
                ``SearchService`` with the routed fork pool warmed by one
                hot query; the last one is served by ``APIServer``.  The
                benchmark process now sends the first half of its
                open-loop load over HTTP and then writes ``continue``.
4. (refresh)    in traced runs, a kernel probe (a query sample forced
                through the routed fan-out and the block-max kernel) and
                a cold (``preload=False``) query sample; then the refresh
                loop: each batch built as a segment, registered, and made
                visible by reopening ``SegmentedSearch``, with
                ``compact_tiered`` after every ``compact_every``-th batch
                (if set), while one
                closed-loop client queries the latest reopened search.
5. ``refreshed`` the server is still up; the benchmark process sends
                the second half of its load and writes ``continue``.
6. ``done``     answers (each refresh client answer with the number of
                batches its search held), timings and Spark job counts.
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import threading
import time
from pathlib import Path

T_START = time.perf_counter()
SEGMENT_BUCKETS = 2
CLIENT_THINK_S = 0.025  # the refresh client pauses between queries


def _emit(stream, **event) -> None:
    stream.write(json.dumps(event) + "\n")
    stream.flush()


def _du(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def _rss_mb() -> float:
    for line in Path("/proc/self/status").read_text().splitlines():
        if line.startswith("VmRSS:"):
            return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmRSS not found")


class JobCounter:
    """Spark jobs, tasks and failed tasks per job group, read through the
    status tracker (job groups are per Python thread)."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.groups: list = []

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)
        self.groups.append(name)

    def jobs(self, name) -> list:
        return list(self.sc.statusTracker().getJobIdsForGroup(name))

    def totals(self) -> dict:
        st = self.sc.statusTracker()
        jobs = tasks = failed = 0
        for g in set(self.groups) | {None}:
            for j in st.getJobIdsForGroup(g):
                jobs += 1
                info = st.getJobInfo(j)
                for s in (info.stageIds if info else []):
                    si = st.getStageInfo(s)
                    if si is not None:
                        tasks += si.numTasks
                        failed += si.numFailedTasks
        return {"jobs": jobs, "tasks": tasks, "tasks_failed": failed}


def _index_stats(root: Path) -> dict:
    import pyarrow.parquet as pq

    man = pq.read_table(root / "manifest").to_pylist()
    man = [r for r in man if r["status"] == "committed"]
    return {
        "bytes": _du(root),
        "staging_bytes": _du(root / "forward"),
        "postings": sum(r["n_postings"] for r in man),
        "terms": sum(r["n_terms"] for r in man),
        "payload_bytes": sum(r["payload_bytes"] for r in man),
    }


def _await_continue() -> None:
    line = sys.stdin.readline()
    if json.loads(line or "{}").get("cmd") != "continue":
        raise SystemExit("host: expected continue")


def main() -> None:
    cfg = json.loads(sys.argv[1])
    # protocol on the original stdout; everything else to stderr
    proto = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    tracer = None
    if cfg["trace"]:
        import spans  # perfbench/ is sys.path[0] when run as a script

        tracer = spans.Tracer()
        spans.install(tracer)

    def phase(name: str) -> None:
        if tracer is not None:
            tracer.phase = name

    from lean_explore_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    spark.range(1).count()
    _emit(proto, event="session", t=time.perf_counter() - T_START)

    from lean_explore_spark.api.server import APIServer, SearchAPI
    from lean_explore_spark.index.builder import IndexBuilder
    from lean_explore_spark.query.search import SearchEngine
    from lean_explore_spark.query.service import SearchService
    from lean_explore_spark.sources import pages as P
    from lean_explore_spark.streaming import incremental as I

    jc = JobCounter(sc)
    root = Path(cfg["work"]) / "root"

    def docs_of(path: str):
        extracted = P.extract_text(spark.read.parquet(path))
        return P.assign_doc_ids(extracted).selectExpr("doc_id", "extracted_text AS text")

    # -- build ---------------------------------------------------------
    phase("build")
    jc.group("build")
    t = time.perf_counter()
    IndexBuilder(
        spark, str(root / "base"), num_shards=cfg["shards"], num_buckets=cfg["buckets"]
    ).build(docs_of(cfg["base"]), resume=False)
    build_s = time.perf_counter() - t
    out = {"build_s": build_s, "index": _index_stats(root / "base")}
    out["build_jobs"] = len(jc.jobs("build"))
    if tracer is not None:
        # tokenize-only probe: the analyze UDF pass into a no-op sink
        from lean_explore_spark.operators import analyze as A

        jc.group("probe")
        t = time.perf_counter()
        A.analyze(docs_of(cfg["base"])).write.format("noop").mode("overwrite").save()
        out["analyze_probe_s"] = time.perf_counter() - t

    # -- setup: open + preload + warm-up, several times ----------------
    phase("setup")
    jc.group("setup")
    emb = spark.createDataFrame([(0, [1.0, 0.0])], "vec_id long, embedding array<double>")
    hot = cfg["warm_query"]
    opens, svc = [], None
    for r in range(cfg["reps"]):
        if svc is not None:
            svc.engine.close_pool()
            svc = None
            gc.collect()
        t = time.perf_counter()
        svc = SearchService(spark, str(root / "base"), emb, preload=True)
        # fork the routed pool before any traffic: forking lazily
        # mid-traffic is what the warm-up exists to avoid
        svc.engine.search_tokens_parallel(svc.engine.analyze_query(hot), 50)
        svc.lexical_search(hot, 50, routed=True)
        opens.append(time.perf_counter() - t)
        if r == 0:
            gc.collect()
            out["rss_mb"] = _rss_mb()
    out["open_s"] = opens
    srv = APIServer(SearchAPI(svc)).start()
    phase("serve")
    _emit(proto, event="ready", url=srv.url, **out)

    _await_continue()  # first serve window done
    res: dict = {"kernel": [], "cold": [], "cold_ms": [], "cold_jobs": []}
    if tracer is not None:
        # kernel probe: at these sizes no served query crosses the routing
        # mass or the block-max posting threshold, so both paths are
        # forced through their public parameters on a query sample
        eng = svc.engine
        for q in cfg["probe_queries"]:
            toks = eng.analyze_query(q)
            phase("fanout")
            fan = eng.search_tokens_routed(toks, 50, mass_threshold=0)
            phase("blockmax")
            res["kernel"].append([fan, eng.search_tokens(toks, 50, mode="blockmax")])

    if tracer is not None:
        # cold probe: per-query Spark reads of query.search, nothing pinned
        phase("cold")
        cold = SearchEngine(spark, str(root / "base"), preload=False)
        for i, q in enumerate(cfg["cold_queries"]):
            jc.group(f"cold{i}")
            t = time.perf_counter()
            res["cold"].append(cold.search(q, 50))
            res["cold_ms"].append((time.perf_counter() - t) * 1e3)
            res["cold_jobs"].append(len(jc.jobs(f"cold{i}")))

    # -- refresh: segments + compaction + reopen, with a live client ------
    phase("refresh")
    jc.group("refresh")
    # the search the client queries, and how many batches it holds
    current = {"snap": (I.SegmentedSearch(spark, str(root), preload=True), 0)}
    stop = threading.Event()
    client: list = []  # [query index, batches visible, hits, ms]
    client_errors: list = []

    def client_loop() -> None:
        qs = cfg["client_queries"]
        i = 0
        while not stop.is_set():
            ss, gen = current["snap"]
            t0 = time.perf_counter()
            try:
                hits = ss.search(qs[i % len(qs)], 50)
            except Exception as e:  # counted as a failed operation
                client_errors.append(repr(e))
            else:
                client.append([i % len(qs), gen, hits, (time.perf_counter() - t0) * 1e3])
            i += 1
            stop.wait(CLIENT_THINK_S)

    th = threading.Thread(target=client_loop, daemon=True)
    th.start()
    expected = current["snap"][0].n_docs
    lags, probes, n_docs_seen, seg_jobs, compactions = [], [], [], [], []
    t_loop = time.perf_counter()
    for b, path in enumerate(cfg["batches"]):
        jc.group(f"seg{b}")
        t = time.perf_counter()
        IndexBuilder(
            spark, str(root / "segments" / f"seg={b}"), num_shards=1, num_buckets=SEGMENT_BUCKETS
        ).build(docs_of(path), resume=False)
        I.register_segment(str(root), f"seg={b}")
        seg_jobs.append(len(jc.jobs(f"seg{b}")))
        jc.group(f"open{b}")
        ss = I.SegmentedSearch(spark, str(root), preload=True)
        probes.append([b + 1, ss.search(cfg["client_queries"][0], 50)])
        lags.append(time.perf_counter() - t)
        expected += cfg["batch_docs"]
        n_docs_seen.append([ss.n_docs, expected])
        current["snap"] = (ss, b + 1)
        if cfg["compact_every"] and (b + 1) % cfg["compact_every"] == 0:
            jc.group(f"compact{b}")
            t = time.perf_counter()
            merged = I.compact_tiered(
                spark, str(root), max_segments=1, num_shards=1, num_buckets=SEGMENT_BUCKETS
            )
            compactions.append(
                [time.perf_counter() - t, merged.get("stats", {}).get("n_docs", 0)]
            )
            current["snap"] = (I.SegmentedSearch(spark, str(root), preload=True), b + 1)
    ingest_s = time.perf_counter() - t_loop
    stop.set()
    th.join(timeout=60)
    final = current["snap"][0]
    res.update(
        lags=lags,
        probes=probes,
        ingest_s=ingest_s,
        n_docs_seen=n_docs_seen,
        seg_jobs=seg_jobs,
        compactions=compactions,
        client=client,
        client_errors=client_errors,
        live_segments=len(I.live_segments(str(root))),
        final=[final.search(q, 50) for q in cfg["final_queries"]],
    )
    # second serve window: the same server, idle since the first
    phase("serve")
    _emit(proto, event="refreshed")
    _await_continue()
    srv.stop()
    svc.engine.close_pool()
    if tracer is not None:
        res["spark"] = jc.totals()
        res["layers"] = layer_metrics(tracer, out, res)
        handled = len(tracer.select("api.lexical_search", "serve"))
        res["serve_spans_per_request"] = len([s for s in tracer.spans if s.phase == "serve"]) / max(1, handled)
        tracer.dump(cfg["trace_file"])
    _emit(proto, event="done", **res)
    # the benchmark process kills the JVM and the workers left behind;
    # a clean spark.stop() would add seconds to every run
    os._exit(0)


def _med(xs, default=0.0) -> float:
    return float(statistics.median(xs)) if xs else default


def layer_metrics(tracer, out: dict, res: dict) -> dict:
    """Per-layer numbers from the recorded spans (trace runs only)."""
    sel = tracer.select
    serve = [s for s in tracer.spans if s.phase == "serve"]
    by = lambda name: [s for s in serve if s.name == name]  # noqa: E731
    unpack, score, fin = by("codec.unpack"), by("wand.score"), by("wand.finalize")
    routed = by("search.search_tokens_routed")
    par = by("search.search_tokens_parallel")  # served queries routed to the fan-out
    per_req: dict = {}
    for s in serve:
        if s.name.startswith("search.search_tokens"):
            per_req[s.rid] = per_req.get(s.rid, 0.0) + s.self_time
    idx = out["index"]
    m = {
        "pages.doc_ids_s": sum(s.dur for s in sel("pages.assign_doc_ids", "build")),
        "analyze.tokenize_s": out["analyze_probe_s"],
        "tokenizer.query_us": _med([s.dur * 1e6 for s in by("tokenizer.analyze_query")]),
        "builder.staging_s": sum(s.dur for s in sel("builder.write_staging", "build")),
        "builder.doc_stats_s": sum(s.dur for s in sel("builder.write_doc_stats", "build")),
        "builder.pack_s": sum(s.dur for s in sel("builder.pack_shards", "build")),
        "builder.dictionary_s": sum(s.dur for s in sel("builder.write_dictionary", "build")),
        "builder.postings": idx["postings"],
        "builder.terms": idx["terms"],
        "builder.payload_bytes": idx["payload_bytes"],
        "builder.staging_bytes": idx["staging_bytes"],
        "builder.spark_jobs": out["build_jobs"],
        "builder.segment_spark_jobs": _med(res["seg_jobs"]),
        "codec.unpack_calls": len(unpack),
        "codec.unpack_s": sum(s.self_time for s in unpack),
        "codec.postings_decoded": sum(s.attrs["postings"] for s in unpack),
        "codec.blocks_decoded_frac": sum(s.attrs["blocks"] for s in sel("codec.unpack", "blockmax"))
        / max(1, sum(s.attrs["blocks_in_lists"] for s in sel("wand.score", "blockmax"))),
        "wand.score_s": sum(s.self_time for s in score),
        "wand.shard_calls": len(score),
        "wand.finalize_s": sum(s.dur for s in fin),
        "wand.fill_frac": sum(s.attrs["filled"] for s in fin) / max(1, sum(s.attrs["k"] for s in fin)),
        "search.self_ms": _med([v * 1e3 for v in per_req.values()]),
        "search.spark_jobs_per_query": _med(res["cold_jobs"]),
        "search.cold_query_ms": _med(res["cold_ms"]),
        "search.routed_frac": len(par) / max(1, len(routed)),
        "search.fanout_ms": _med([s.dur * 1e3 for s in sel("search.search_tokens_parallel", "fanout")]),
        "search.preload_s": _med([s.dur for s in sel("search.open", "setup")]),
        "api.handler_ms": _med([s.dur * 1e3 for s in by("api.lexical_search")]),
        "api.inflight_max": tracer.inflight_max,
        "incremental.register_s": _med([s.dur for s in sel("incremental.register_segment")]),
        "incremental.compact_s": sum(c[0] for c in res["compactions"]),
        "incremental.compacted_docs": sum(c[1] for c in res["compactions"]),
        "incremental.open_s": _med([s.dur for s in sel("incremental.open", "refresh")]),
        "incremental.live_segments": res["live_segments"],
        "incremental.query_p50_ms": _med([c[3] for c in res["client"]]),
        "spark.jobs": res["spark"]["jobs"],
        "spark.tasks": res["spark"]["tasks"],
        "spark.tasks_failed": res["spark"]["tasks_failed"],
        "trace.spans": len(tracer.spans),
        "trace.span_cost_us": tracer.span_cost_s() * 1e6,
    }
    return m


if __name__ == "__main__":
    main()
