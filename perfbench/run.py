#!/usr/bin/env python3
"""Crawl benchmark: one workload per invocation, outputs checked against
the oracle.

    python3 perfbench/run.py --workload fresh --seed 1 --seconds 15 --trace 0

Run from the repo root. Forks the oracle on the seeded inputs, starts a
``local[nproc]`` Spark session and warms the workload's own engine path
until consecutive warm-up crawls agree while the oracle runs, then:

- ``--trace 0``: crawls the seeded workload until the crawl walls add up to
  about ``--seconds`` (at least one crawl) and reports the end-to-end
  metrics, medians over those crawls;
- ``--trace 1``: runs a warm-up crawl input untraced and traced, in turn,
  three times each (the tracing overhead), then the seeded crawl traced,
  then the layer probes, and reports the per-layer metrics; the span file
  is kept under ``.bench_work/traces/``.

Every crawl is checked against the oracle; a crawl that fails a check
counts as failed. The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it records the
pinned configuration and each crawl.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WARM_MIN, WARM_MAX, WARM_AGREE = 3, 4, 0.15
OVERHEAD_REPS = 3  # untraced/traced pairs behind trace.overhead_frac
ORACLE_TIMEOUT = 120  # seconds the set-up waits for the oracle
PROBE_URLS = 300  # urls fed to the in-process UDF probes
HTTP_PROBE_REQUESTS = 1000  # enough for a p99 with ten samples above it


def contract_units(section: str) -> dict[str, str]:
    """Metric name -> unit for one section of BENCHMARK.json, the
    benchmark's contract at the repo root."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("fresh", "live"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def timed_crawl(spark, crawl, workdir, max_rounds=64, stages=None, **engine_kw):
    """Run one crawl, inside the *stages* context if given; returns
    (engine, summary, wall seconds, cpu seconds)."""
    from perfbench import host

    with stages or nullcontext():
        eng = crawl.engine(spark, workdir, **engine_kw)
        jvm = host.jvm_pid()
        c0 = host.cpu_seconds(jvm)
        t0 = time.perf_counter()
        summary = eng.run(crawl.program, max_rounds=max_rounds)
        wall = time.perf_counter() - t0
    return eng, summary, wall, host.cpu_seconds(jvm) - c0


def warm_up(spark, wl, seed, srv, run_dir) -> list[float]:
    """Small crawls on the workload's own path until two consecutive ones
    agree within WARM_AGREE (at least WARM_MIN, at most WARM_MAX). The
    first (cold) crawl runs two rounds, so every round shape of the path
    runs once; the rest run one round."""
    walls = []
    for i in range(WARM_MAX):
        wd = tempfile.mkdtemp(prefix="warm-", dir=run_dir)
        _, _, wall, _ = timed_crawl(spark, wl.warm(seed, srv, i), wd, max_rounds=2 if i == 0 else 1)
        shutil.rmtree(wd)
        walls.append(wall)
        if len(walls) >= WARM_MIN and abs(walls[-1] - walls[-2]) <= WARM_AGREE * walls[-2]:
            break
    return walls


def crawl_record(eng, summary, wall, cpu) -> dict:
    from perfbench import checks

    got = checks.observe(eng)
    return {
        "summary": summary,
        "wall": wall,
        "cpu": cpu,
        "round_walls": [eng.table.round_metrics(r)["wall_s"] for r in range(summary.rounds)],
        "got": got,
    }


def e2e_metrics(records, peak_rss, setup_s) -> dict:
    med = statistics.median
    return {
        "urls_per_s": med(r["summary"].fetched / r["wall"] for r in records),
        "round_s_p50": med(med(r["round_walls"]) for r in records),
        "cpu_s_per_kurl": med(1000 * r["cpu"] / r["summary"].fetched for r in records),
        "peak_rss_mb": peak_rss,
        "fetch_fail_frac": med(r["got"]["failed_fetches"] / r["got"]["fetched"] for r in records),
        "setup_s": setup_s,
    }


def traced_engine_kw(spark, run_dir, name):
    """Seams for a traced crawl: the timing table format, the span-writing
    fetch wrapper (callable fetchers only) and the worker-stage wrappers.
    Returns (workdir, span dir, ``timed_crawl`` keywords)."""
    from perfbench import trace

    span_dir = tempfile.mkdtemp(prefix=f"{name}-spans-", dir=run_dir)
    wd = tempfile.mkdtemp(prefix=f"{name}-", dir=run_dir)
    kw = dict(
        table_format=trace.TimingFormat(spark, wd),
        fetch_wrap=lambda fn: trace.TimedFetch(fn, span_dir),
        stages=trace.timed_stages(span_dir),
    )
    return wd, span_dir, kw


def tracing_overhead(spark, wl, args, srv, run_dir) -> float:
    """Median wall of a warm-up crawl input run traced over the median wall
    of the same input run untraced, minus one; the two runs alternate."""
    crawl = wl.warm(args.seed, srv, WARM_MAX)
    walls = {False: [], True: []}
    for _ in range(OVERHEAD_REPS):
        for traced in (False, True):
            if traced:
                wd, _, kw = traced_engine_kw(spark, run_dir, "overhead")
            else:
                wd, kw = tempfile.mkdtemp(prefix="overhead-", dir=run_dir), {}
            walls[traced].append(timed_crawl(spark, crawl, wd, max_rounds=1, **kw)[2])
            shutil.rmtree(wd)
    return statistics.median(walls[True]) / statistics.median(walls[False]) - 1


def traced_crawl(spark, crawl, srv, run_dir, args, expected, cores) -> tuple[dict, dict]:
    """The measured crawl, traced, plus the layer probes; returns
    (record, per-layer metrics)."""
    from perfbench import trace, workloads

    tr = trace.Trace(f"{args.workload}-seed{args.seed}")
    root_id = tr.add("workload", time.time(), 0.0, None, workload=args.workload, seed=args.seed)
    wd, span_dir, kw = traced_engine_kw(spark, run_dir, "traced")
    job0 = trace.last_job_id(spark)
    log0 = srv.log_size() if srv is not None else 0
    t_c0 = time.time()
    eng, summary, wall, cpu = timed_crawl(spark, crawl, wd, **kw)
    t_c1 = time.time()
    log1 = srv.log_size() if srv is not None else 0
    jobs, stages, tasks = trace.spark_counts(spark, job0)
    record = crawl_record(eng, summary, wall, cpu)
    fetch_spans = trace.read_fetch_spans(span_dir)
    stage_spans = trace.read_stage_spans(span_dir)
    m = tr.fold_crawl(root_id, t_c0, t_c1, kw["table_format"].calls, fetch_spans, stage_spans)
    for label in ("udfs.fused", "fetch.http"):
        # worker seconds in the stage over the crawl's core-seconds
        busy = sum(self_s for lb, _, _, self_s, _ in stage_spans if lb == label)
        m[f"{label}_share"] = busy / (cores * wall)
    rounds = summary.rounds
    frontier_rows = sum(eng.table.delta_rows("frontier", r) for r in range(rounds))
    oracle_ups = len(expected.seen) / expected.cpu_s
    m.update({
        "crawler.rounds": rounds,
        "crawler.spark_jobs_per_round": jobs / rounds,
        "crawler.spark_stages_per_round": stages / rounds,
        "crawler.spark_tasks_per_round": tasks / rounds,
        "crawler.frontier_rows": frontier_rows,
        "crawler.fetch_yield": summary.fetched / frontier_rows,
        "tableformat.bytes_per_url": trace.dir_bytes(wd) / summary.fetched,
        "oracle.urls_per_s": oracle_ups,
        "engine_speedup_vs_oracle": summary.fetched / wall / oracle_ups,
    })

    req, store, n_urls = trace.udf_inputs(eng.table, rounds, PROBE_URLS)
    probe_spans = os.path.join(run_dir, "probe-spans")
    os.makedirs(probe_spans)
    if srv is None:
        fetch_fn = crawl.engine_kw["fetch_fn"]
    else:
        fetch_fn = trace.HttpBatchFetch(dict(zip(req["url_canon"], req["url_full"])))
    t_p0 = time.time()
    m.update(trace.probe_udfs(
        crawl.program, trace.TimedFetch(fetch_fn, probe_spans), req, store, n_urls,
        os.path.join(run_dir, "probe-store"),
    ))
    m.update(trace.probe_kernel(store, workloads.LINKS))
    tr.add("probe.udfs+kernel", t_p0, time.time(), root_id)
    # callable fetch cost: the crawl's worker spans when the crawl used a
    # callable fetcher, else the fused-UDF probe's HTTP fetch_fn spans
    spans = fetch_spans or trace.read_fetch_spans(probe_spans)
    m["fetch.callable_ms_per_url"] = (
        1000 * sum(b - a for a, b, _ in spans) / sum(n for _, _, n in spans)
    )
    shutil.rmtree(wd)

    # HTTP: against the workload's server on live (request pacing from the
    # traced crawl's log lines), else against a server of its own (pacing
    # from the probe's own requests)
    own = srv is None
    with workloads.LiveServer(ROOT, run_dir, workloads.LIVE_PAGES_PER_HOST) if own \
            else nullcontext(srv) as live:
        t_h0 = time.time()
        pages = [
            f"http://{h}:{live.port}/p/{i}"
            for i in range(workloads.LIVE_PAGES_PER_HOST)
            for h in workloads.live_hosts(workloads.LIVE_HOSTS)
        ]
        urls = [pages[i % len(pages)] for i in range(HTTP_PROBE_REQUESTS)]
        m.update(trace.probe_http(urls, cores))
        tr.add("probe.http", t_h0, time.time(), root_id)
        m["fetch.server_req_per_host_s"] = (
            trace.server_req_per_host_s(live.logfile, 0, live.log_size()) if own
            else trace.server_req_per_host_s(live.logfile, log0, log1)
        )
    tr.spans[root_id]["end"] = time.time()
    tr.write(os.path.join(ROOT, ".bench_work", "traces", f"{tr.run_id}.jsonl"))
    return record, m


def run(args) -> tuple[dict, dict]:
    t_start = time.perf_counter()
    if not os.path.isdir(os.path.join(ROOT, "boris_spark")):
        raise SystemExit(f"boris_spark not found under {ROOT}: run from a repo checkout")
    sys.path.insert(0, ROOT)
    from perfbench import host

    run_dir = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    config = host.pin_environment(ROOT, run_dir)
    from perfbench import checks, workloads

    wl = workloads.WORKLOADS[args.workload]
    server = (
        workloads.LiveServer(ROOT, run_dir, workloads.LIVE_PAGES_PER_HOST)
        if wl.needs_server else nullcontext()
    )
    spark = None
    try:
        with server as srv:
            crawl = wl.measured(args.seed, srv)
            oracle = checks.OracleRun(crawl)
            try:
                spark = host.start_spark(config, run_dir)
                warm = warm_up(spark, wl, args.seed, srv, run_dir)
                expected = oracle.result(ORACLE_TIMEOUT)
            finally:
                oracle.close()
            config["warm_walls_s"] = warm
            setup_s = time.perf_counter() - t_start
            if args.trace:
                overhead = tracing_overhead(spark, wl, args, srv, run_dir)
                record, metrics = traced_crawl(
                    spark, crawl, srv, run_dir, args, expected, config["cores"],
                )
                metrics["trace.overhead_frac"] = overhead
                records = [record]
            else:
                records = []
                with host.RssSampler(host.jvm_pid()) as rss:
                    while True:
                        wd = tempfile.mkdtemp(prefix="crawl-", dir=run_dir)
                        records.append(crawl_record(*timed_crawl(spark, crawl, wd)))
                        shutil.rmtree(wd)
                        walls = [r["wall"] for r in records]
                        if sum(walls) + statistics.median(walls) > args.seconds:
                            break
                metrics = e2e_metrics(records, rss.peak, setup_s)
                config["peak_rss_split_mb"] = [round(x) for x in rss.at_peak]
    finally:
        try:
            if spark is not None:
                host.stop_spark(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)

    found = [checks.problems(expected, r["got"], r["summary"]) for r in records]
    failures = [f"crawl {i}: {p}" for i, ps in enumerate(found) for p in ps]
    n_failed = sum(1 for ps in found if ps)
    config.update(
        workload=args.workload, seed=args.seed, trace=args.trace,
        setup_s=setup_s,
        crawls=[
            {"fetched": r["summary"].fetched, "extractions": r["summary"].results,
             "rounds": r["summary"].rounds, "wall_s": r["wall"],
             "round_walls_s": r["round_walls"]}
            for r in records
        ],
        oracle_cpu_s=expected.cpu_s,
        check_failures=failures,
    )
    units = contract_units("per_layer" if args.trace else "end_to_end")
    return config, {
        "correct": n_failed == 0,
        "attempted": len(records),
        "failed": n_failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and the live server (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    config, result = run(args)
    for f in config["check_failures"]:
        print("check failed:", f, file=sys.stderr)
    print(json.dumps({"config": config}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
