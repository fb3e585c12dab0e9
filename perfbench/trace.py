"""The traced run: spans around calls into each layer's public functions,
timed from outside the engine, folded into the per-layer metrics.

Span chain: workload run → ``CrawlEngine.run`` → round (from the start of
``delta_df("frontier", r)`` to the end of ``commit_round(r)``) → table-format
calls and worker spans (the fused stage, the HTTP fetch stage and
``fetch_fn`` calls); a worker span's parent is the round whose interval
contains it. Spans are held in memory (worker spans in per-pid files under
the run directory) and written out when the run ends.

Layer probes run in-process after the traced crawl, on that crawl's own
data: the fused and replay UDFs of ``engine.udfs`` over frontier rows read
back with ``read_delta_pandas``, the HTML/URL kernel over fetched bodies,
and ``fetch_one`` against the live server.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

import pandas as pd

from boris_spark.engine.tableformat import ParquetManifestFormat

TIMED_METHODS = (
    "write_delta", "read_sink", "delta_df", "adopt_delta", "adopt_parts",
    "commit_round",
)


def _timed(name):
    base = getattr(ParquetManifestFormat, name)

    def method(self, *args, **kw):
        t0 = time.time()
        try:
            return base(self, *args, **kw)
        finally:
            self.calls.append((name, t0, time.time(), args[:2]))

    method.__name__ = name
    return method


class TimingFormat(ParquetManifestFormat):
    """``ParquetManifestFormat`` that records (method, start, end, args)
    for each seam call; passed in through ``CrawlEngine(table_format=...)``.
    Calls come from the driver thread and the engine's commit threads;
    ``list.append`` is atomic under the interpreter lock."""

    def __init__(self, spark, workdir):
        super().__init__(spark, workdir)
        self.calls: list[tuple] = []


for _m in TIMED_METHODS:
    setattr(TimingFormat, _m, _timed(_m))


class TimedFetch:
    """Picklable ``fetch_fn`` wrapper: each call appends one
    ``start end n_urls`` line to a per-pid file in *span_dir*."""

    def __init__(self, fetch_fn, span_dir: str):
        self.fetch_fn = fetch_fn
        self.span_dir = span_dir

    def __call__(self, urls):
        t0 = time.time()
        out = self.fetch_fn(urls)
        t1 = time.time()
        with open(os.path.join(self.span_dir, f"fetch-{os.getpid()}.txt"), "a") as f:
            f.write(f"{t0!r} {t1!r} {len(urls)}\n")
        return out


def read_fetch_spans(span_dir: str) -> list[tuple[float, float, int]]:
    out = []
    for name in sorted(os.listdir(span_dir)):
        if name.startswith("fetch-"):
            with open(os.path.join(span_dir, name)) as f:
                for line in f:
                    a, b, n = line.split()
                    out.append((float(a), float(b), int(n)))
    return out


def timed_stage(fn, span_dir: str, label: str):
    """Wrap a ``mapInPandas`` function: each call (one partition in a
    Python worker) appends ``label start end self_s rows_in`` to a per-pid
    file in *span_dir*. ``self_s`` is the time spent producing output
    batches less the time spent waiting for input batches from the JVM."""

    def stage(batches):
        waited, rows = 0.0, 0

        def pull():
            nonlocal waited, rows
            it = iter(batches)
            while True:
                t = time.perf_counter()
                try:
                    b = next(it)
                except StopIteration:
                    waited += time.perf_counter() - t
                    return
                waited += time.perf_counter() - t
                rows += len(b)
                yield b

        start = time.time()
        t = time.perf_counter()
        out = iter(fn(pull()))
        busy = time.perf_counter() - t
        while True:
            t = time.perf_counter()
            try:
                b = next(out)
            except StopIteration:
                busy += time.perf_counter() - t
                break
            busy += time.perf_counter() - t
            yield b
        with open(os.path.join(span_dir, f"stage-{os.getpid()}.txt"), "a") as f:
            f.write(f"{label} {start!r} {time.time()!r} {busy - waited!r} {rows}\n")

    return stage


@contextmanager
def timed_stages(span_dir: str):
    """While active, the engine's fused-stage and HTTP-fetch factories
    (``make_fused_fn`` as the crawler holds it, ``make_http_fetch_fn`` as
    the crawler imports it per round) return ``timed_stage`` wrappers. An
    engine built inside the block keeps its wrapped fused function."""
    from boris_spark.engine import crawler, fetch

    seams = [(crawler, "make_fused_fn", "udfs.fused"),
             (fetch, "make_http_fetch_fn", "fetch.http")]
    saved = [getattr(mod, name) for mod, name, _ in seams]

    def wrap(factory, label):
        return lambda *a, **kw: timed_stage(factory(*a, **kw), span_dir, label)

    for (mod, name, label), factory in zip(seams, saved):
        setattr(mod, name, wrap(factory, label))
    try:
        yield
    finally:
        for (mod, name, _), factory in zip(seams, saved):
            setattr(mod, name, factory)


def read_stage_spans(span_dir: str) -> list[tuple[str, float, float, float, int]]:
    out = []
    for name in sorted(os.listdir(span_dir)):
        if name.startswith("stage-"):
            with open(os.path.join(span_dir, name)) as f:
                for line in f:
                    label, a, b, self_s, n = line.split()
                    out.append((label, float(a), float(b), float(self_s), int(n)))
    return out


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of *intervals* clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Trace:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        self.spans.append(dict(
            id=len(self.spans), name=name, start=start, end=end,
            parent=parent, run=self.run_id, **attrs,
        ))
        return len(self.spans) - 1

    def fold_crawl(self, root_id: int, crawl_t0: float, crawl_t1: float,
                   calls: list[tuple], fetch_spans: list[tuple],
                   stage_spans: list[tuple]) -> dict:
        """Build the crawl → round → call/worker spans; return per-layer
        metrics of the table-format seam and the rounds' coverage."""
        crawl_id = self.add("CrawlEngine.run", crawl_t0, crawl_t1, root_id)
        starts, ends = {}, {}
        for name, a, b, args in calls:
            if name == "delta_df" and args[0] == "frontier":
                starts.setdefault(args[1], a)
            if name == "commit_round":
                ends[args[0]] = b
        rounds = [(r, starts[r], ends[r]) for r in sorted(ends) if r in starts]
        children = [(f"tableformat.{n}", a, b) for n, a, b, _ in calls]
        children += [("fetch.callable", a, b) for a, b, _ in fetch_spans]
        children += [(label, a, b) for label, a, b, _, _ in stage_spans]
        round_ids = [
            (self.add("round", a, b, crawl_id, round=r), a, b) for r, a, b in rounds
        ]
        by_round: dict[int, list[tuple[float, float]]] = {}
        for name, a, b in children:
            parent = next((rid for rid, lo, hi in round_ids if lo <= a <= hi), crawl_id)
            self.add(name, a, b, parent)
            by_round.setdefault(parent, []).append((a, b))
        wall = sum(hi - lo for _, lo, hi in round_ids)
        covered = sum(_covered(by_round.get(rid, []), lo, hi) for rid, lo, hi in round_ids)
        out = {"trace.round_coverage": covered / wall if wall else 0.0}
        for m in TIMED_METHODS:
            durs = [b - a for n, a, b, _ in calls if n == m]
            out[f"tableformat.{m}.calls"] = len(durs)
            out[f"tableformat.{m}.s"] = sum(durs)
        return out

    def write(self, path: str) -> None:
        """One JSON line per span, with its self time (duration minus the
        union of its children's intervals)."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                dur = s["end"] - s["start"]
                self_s = dur - _covered(kids.get(s["id"], []), s["start"], s["end"])
                f.write(json.dumps({**s, "self_s": self_s}) + "\n")


# ----------------------------------------------------------------- probes


def spark_counts(spark, job0: int) -> tuple[int, int, int]:
    """(jobs, stages, tasks) run since job id *job0*, from the status
    tracker."""
    st = spark.sparkContext.statusTracker()
    jobs = [j for j in st.getJobIdsForGroup(None) if j > job0]
    stages = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    ran = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None and info.numCompletedTasks:
            ran += 1
            tasks += info.numCompletedTasks
    return len(jobs), ran, tasks


def last_job_id(spark) -> int:
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(None), default=-1)


def _busiest_round(table, rounds: int) -> int:
    return max(range(rounds), key=lambda r: table.delta_rows("seen", r))


def _frontier_pandas(table, rnd: int) -> pd.DataFrame:
    from boris_spark.engine.crawler import REQUEST_SCHEMA

    cols = [c.split()[0] for c in REQUEST_SCHEMA.split(", ")]
    return table.read_delta_pandas("frontier", rnd, columns=cols)


def udf_inputs(table, rounds: int, max_urls: int):
    """The busiest round's fresh request rows (rows whose url was fetched
    in that round), limited to the first *max_urls* urls in url order, and
    the store rows of those urls."""
    r = _busiest_round(table, rounds)
    store = table.read_delta_pandas("store", r, columns=["url_canon", "body", "status", "head"])
    urls = sorted(store["url_canon"])[:max_urls]
    keep = set(urls)
    req = _frontier_pandas(table, r)
    req = req[req["url_canon"].isin(keep)].sort_values(
        ["url_canon", "pc", "bindings"], na_position="first", kind="stable"
    ).reset_index(drop=True)
    store = store[store["url_canon"].isin(keep)].reset_index(drop=True)
    return req, store, len(urls)


def probe_udfs(program, fetch_fn, req: pd.DataFrame, store: pd.DataFrame,
               n_urls: int, store_dir: str) -> dict:
    from boris_spark.engine.compiler import compile_program
    from boris_spark.engine.udfs import MEMO_JOINABLE_KINDS, make_fused_fn, make_replay_fn

    node_table = compile_program(program)
    memo = all(s.kind in MEMO_JOINABLE_KINDS for s in node_table.values())
    fused = make_fused_fn(node_table, fetch_fn, emit_memo=memo, store_dir=store_dir)
    batch = 2048  # spark.sql.execution.arrow.maxRecordsPerBatch (session.py)
    batches = [req.iloc[i:i + batch] for i in range(0, len(req), batch)]
    t0 = time.perf_counter()
    rows_out = sum(len(f) for f in fused(iter(batches)))
    t_fused = time.perf_counter() - t0

    replay = make_replay_fn(node_table)
    left = req[["pc", "url_canon", "url_full", "bindings", "path_key", "method", "cookies"]].assign(_blk=False)
    groups = [(g, store[store["url_canon"] == u]) for u, g in left.groupby("url_canon", sort=True)]
    t0 = time.perf_counter()
    for g, right in groups:
        replay(g, right)
    t_replay = time.perf_counter() - t0
    return {
        "udfs.fused_ms_per_url": 1000 * t_fused / n_urls,
        "udfs.fused_rows_out_per_url": rows_out / n_urls,
        "udfs.replay_ms_per_url": 1000 * t_replay / n_urls,
    }


def probe_kernel(store: pd.DataFrame, links_query: str, max_pages: int = 200) -> dict:
    from boris_spark.kernel import htmlkit, resolve2, url_hash

    pages = [
        (u, b) for u, b, s in zip(store["url_canon"], store["body"], store["status"])
        if s == 200 and isinstance(b, str) and b
    ][:max_pages]
    t_parse = t_prof = t_xp = t_url = 0.0
    n_links = 0
    for url, html in pages:
        t0 = time.perf_counter()
        htmlkit.parse_html(html)
        t1 = time.perf_counter()
        htmlkit.page_profile(html)  # includes the cached parse, as in a crawl
        t2 = time.perf_counter()
        links = htmlkit.xpath(html, links_query)  # selector on the cached tree
        t3 = time.perf_counter()
        for link in links:
            canon, _full = resolve2(url, link)
            url_hash(canon)
        t4 = time.perf_counter()
        t_parse += t1 - t0
        t_prof += t2 - t1
        t_xp += t3 - t2
        t_url += t4 - t3
        n_links += len(links)
    n = max(1, len(pages))
    return {
        "kernel.parse_ms": 1000 * t_parse / n,
        "kernel.page_profile_ms": 1000 * t_prof / n,
        "kernel.xpath_ms": 1000 * t_xp / n,
        "kernel.url_us": 1e6 * t_url / max(1, n_links),
    }


class HttpBatchFetch:
    """Batch ``fetch_fn`` over live HTTP, one ``fetch_one`` per url. The
    fused stage hands ``fetch_fn`` canonical urls, which drop the port, so
    each is mapped back to the full url it was requested under."""

    def __init__(self, full_of: dict[str, str]):
        self.full_of = full_of

    def __call__(self, urls):
        from boris_spark.engine.fetch import fetch_one

        out = []
        for u in urls:
            status, body, head = fetch_one(self.full_of.get(u, u))
            out.append((body, status, head))
        return out


def probe_http(urls: list[str], threads: int) -> dict:
    from boris_spark.engine.fetch import fetch_one

    def timed(u):
        t0 = time.perf_counter()
        fetch_one(u)
        return 1000 * (time.perf_counter() - t0)

    with ThreadPoolExecutor(max_workers=threads) as pool:
        ms = sorted(pool.map(timed, urls))
    return {
        "fetch.http_ms_p50": statistics.median(ms),
        "fetch.http_ms_p99": ms[min(len(ms) - 1, int(0.99 * len(ms)))],
    }


def server_req_per_host_s(logfile: str, start: int, end: int) -> float:
    """Median over hosts of requests / (last - first request time), from
    bytes [start, end) of the live server's log."""
    per: dict[str, list[float]] = {}
    with open(logfile, "rb") as f:
        f.seek(start)
        text = f.read(end - start).decode()
        for line in text.splitlines():
            parts = line.split()
            if len(parts) == 2:
                per.setdefault(parts[0], []).append(float(parts[1]))
    rates = [len(ts) / (max(ts) - min(ts)) for ts in per.values() if len(ts) > 1 and max(ts) > min(ts)]
    return statistics.median(rates) if rates else 0.0


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )
