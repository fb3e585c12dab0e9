"""The benchmark's workloads: inputs generated from the workload seed.

The engine receives only a seed-URL list, a crawl program and a fetcher.

- ``fresh``: callable fetcher over a ``synth.webgen`` zipf web of ~4.6 KB
  pages; the politeness budget never binds, so the crawl is three wide
  rounds, sized so that per-URL work (the fused fetch+parse+select+featurize
  Python stage and Spark's per-row shuffle, join and write work) outweighs
  the fixed cost of a round.
- ``live``: ``fetch_mode="http"`` against ``synth.liveserver`` in a
  subprocess — real sockets, the snapshot/HTTP round tail and the cogroup
  replay — walking every host's page tree with ``Label``/``Recur`` under a
  binding per-host budget.

Every workload's seed list also carries a fixed number of dead seeds (404s,
and on ``live`` refused connections), so failed fetches are always counted
and ``fetch_fail_frac`` is never zero.
"""

from __future__ import annotations

import os
import random
import socket
import subprocess
import sys
import time
from dataclasses import dataclass

from boris_spark.engine.crawler import CrawlEngine
from boris_spark.oracle.program import (
    Extract, First, Go, Label, ListE, Lit, PageProfileE, Recur, UrlE, XpathE,
    XpathTextE,
)
from boris_spark.synth import webgen

LINKS = "//td[@class='title']/a/@href/text()"

FRESH_PAGES = 7000
PAGE_WEIGHT = 8  # ~4.6 KB pages
# the first 1/8 of the pages are the seeds: two hops reach the whole web,
# and a contiguous block keeps each round's size the same for every seed
SEED_SHARE = 8
DEAD_SEEDS = 32
NEVER_BINDS = 20000  # per-host budget above any host's page count

# warm-up webs: a first round wide enough (>= 64 rows per core) to run on
# every core, so all Python workers are started before measuring
WARM_PAGES = 512

LIVE_HOSTS = 32
LIVE_PAGES_PER_HOST = 7  # a 3-level binary tree per host
LIVE_BUDGET = 3  # binds on each tree's third level: four rounds
LIVE_DEAD = 4  # per kind: refused connections and 404s


@dataclass
class Crawl:
    """One crawl's inputs: the program both the engine and the oracle run,
    the engine's fetcher settings and the oracle's fetcher."""

    program: object
    engine_kw: dict
    oracle_fetcher: object
    budget: int

    def engine(self, spark, workdir: str, table_format=None, fetch_wrap=None):
        kw = dict(self.engine_kw)
        if fetch_wrap is not None and "fetch_fn" in kw:
            kw["fetch_fn"] = fetch_wrap(kw["fetch_fn"])
        return CrawlEngine(spark, None, workdir, table_format=table_format, **kw)


class WebgenFetcher:
    """Oracle fetcher over the same closed-form web the engine fetches."""

    def __init__(self, fetch_fn):
        self.fetch_fn = fetch_fn

    def fetch(self, url_canon, method="GET", form_data=None, url_full=None, jar=None):
        body, status = self.fetch_fn([url_canon])[0]
        return (status, body or "")


class HttpFetcher:
    """Oracle fetcher: one ``fetch_one`` per URL against the live server."""

    def fetch(self, url_canon, method="GET", form_data=None, url_full=None, jar=None):
        from boris_spark.engine.fetch import fetch_one

        return fetch_one(url_full or url_canon, method)


def _profile_program(seeds: list[str]):
    ex = Extract(PageProfileE())
    return Go(Lit(seeds), ex, Go(XpathE(LINKS), ex, Go(XpathE(LINKS), ex)))


def webgen_crawl(n_pages: int, seed: int, dead: int = DEAD_SEEDS,
                 share: int = SEED_SHARE) -> Crawl:
    seeds = [webgen.page_url(i, n_pages, seed) for i in range(n_pages // share)]
    # a host outside the web: every fetch there is a 404
    seeds += [f"http://gone.site{seed}.test/p/{j}" for j in range(dead)]
    fetch_fn = webgen.make_fetcher(n_pages, seed, PAGE_WEIGHT)
    return Crawl(
        program=_profile_program(seeds),
        engine_kw=dict(
            fetch_mode="callable", fetch_fn=fetch_fn,
            politeness_k=NEVER_BINDS, n_buckets=64, use_bloom=True,
        ),
        oracle_fetcher=WebgenFetcher(fetch_fn),
        budget=NEVER_BINDS,
    )


def _walk_program(seeds: list[str]):
    return Go(
        Lit(seeds),
        Label(
            "walk",
            Extract(ListE([UrlE(), First(XpathTextE("//title"))])),
            Go(XpathE(LINKS), Recur("walk")),
        ),
    )


def live_crawl(port: int, refused_port: int, seed: int, hosts: list[str], budget: int,
               n_dead: int = LIVE_DEAD) -> Crawl:
    """Walk every host's tree from its root. The host order is shuffled by
    *seed*; dead seeds go to hosts chosen by *seed* (404: a page past the
    tree) and to distinct addresses on a port nobody listens on."""
    rng = random.Random(seed)
    order = list(hosts)
    rng.shuffle(order)
    seeds = [f"http://{h}:{port}/p/0" for h in order]
    seeds += [
        f"http://{h}:{port}/p/{LIVE_PAGES_PER_HOST + j}"
        for j, h in enumerate(rng.sample(order, n_dead))
    ]
    seeds += [f"http://127.0.2.{j + 1}:{refused_port}/p/0" for j in range(n_dead)]
    return Crawl(
        program=_walk_program(seeds),
        engine_kw=dict(
            fetch_mode="http", politeness_k=budget, use_bloom=True, n_buckets=16,
        ),
        oracle_fetcher=HttpFetcher(),
        budget=budget,
    )


def live_hosts(n: int, block: int = 0) -> list[str]:
    return [f"127.0.{block}.{k + 1}" for k in range(n)]


# ------------------------------------------------------------ live server


class LiveServer:
    """``synth.liveserver`` as one subprocess. Start-up waits a bounded
    time and raises if the server dies or never reports its port; the
    process is always terminated and reaped on exit. Also holds a bound,
    never-listening socket: connections to its port are refused."""

    def __init__(self, root: str, workdir: str, pages_per_host: int,
                 start_timeout: float = 20.0):
        self.root = root
        self.portfile = os.path.join(workdir, "server.port")
        self.logfile = os.path.join(workdir, "server.log")
        self.pages_per_host = pages_per_host
        self.start_timeout = start_timeout
        self.proc = None
        self.port = None
        self._refuser = None

    def __enter__(self):
        self._refuser = socket.socket()
        self._refuser.bind(("0.0.0.0", 0))
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "boris_spark.synth.liveserver",
             self.portfile, self.logfile, str(self.pages_per_host)],
            cwd=self.root, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
        )
        try:
            deadline = time.monotonic() + self.start_timeout
            while self.port is None:
                if self.proc.poll() is not None:
                    raise RuntimeError(f"live server exited with code {self.proc.returncode}")
                if time.monotonic() > deadline:
                    raise TimeoutError(f"live server gave no port in {self.start_timeout} s")
                try:
                    with open(self.portfile) as f:
                        txt = f.read().strip()
                except FileNotFoundError:
                    txt = ""
                if txt.isdigit():
                    self.port = int(txt)
                else:
                    time.sleep(0.05)
        except BaseException:
            self.__exit__()
            raise
        return self

    @property
    def refused_port(self) -> int:
        return self._refuser.getsockname()[1]

    def log_size(self) -> int:
        return os.path.getsize(self.logfile) if os.path.exists(self.logfile) else 0

    def __exit__(self, *exc):
        if self.proc is not None and self.proc.poll() is None:
            self.proc.terminate()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        if self._refuser is not None:
            self._refuser.close()


# ------------------------------------------------------------ workloads


@dataclass
class Workload:
    needs_server: bool
    measured: object  # (seed, server) -> Crawl
    warm: object  # (seed, server, i) -> Crawl, a small crawl on the same path


WORKLOADS = {
    "fresh": Workload(
        False,
        measured=lambda seed, srv: webgen_crawl(FRESH_PAGES, seed),
        warm=lambda seed, srv, i: webgen_crawl(
            WARM_PAGES, 1_000_003 + 7 * seed + i, dead=2, share=2,
        ),
    ),
    "live": Workload(
        True,
        measured=lambda seed, srv: live_crawl(
            srv.port, srv.refused_port, seed, live_hosts(LIVE_HOSTS), LIVE_BUDGET,
        ),
        # other addresses than the measured hosts, so nothing is cached
        warm=lambda seed, srv, i: live_crawl(
            srv.port, srv.refused_port, seed, live_hosts(LIVE_HOSTS // 2, block=10 + i), 1,
            n_dead=1,
        ),
    ),
}
