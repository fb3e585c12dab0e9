"""Per-crawl output checks against the single-process oracle.

The comparison has the shape of ``tests/test_engine_parity.py``'s
``assert_parity``: extraction stream in path-key order, URL-seen set and
first-visit order, read through ``results_df`` / ``seen_df`` /
``visit_order_df``. Extracted values are compared by SHA-256 of
``path_key + "\\t" + value`` (computed by Spark on the engine side), so page
texts never travel to the driver. On top of parity: exact fetched and
extraction counts, and no host fetched more than its budget in one round.
"""

from __future__ import annotations

import hashlib
import multiprocessing
import time
from collections import Counter

from boris_spark.engine.udfs import encode_value
from boris_spark.oracle import Spider
from boris_spark.oracle.program import path_key_hex


class Expected:
    """The oracle's outputs for one crawl, plus the oracle's CPU seconds
    (it runs single-threaded, so this is its single-core time)."""

    def __init__(self, crawl):
        t0 = time.process_time()
        res = Spider(crawl.program, crawl.oracle_fetcher).run()
        self.cpu_s = time.process_time() - t0
        self.stream = []
        for f in res.flies:
            pk = path_key_hex(f.path)
            line = pk + "\t" + encode_value(f.value)
            self.stream.append((pk, hashlib.sha256(line.encode()).hexdigest()))
        self.seen = res.seen
        self.visits = res.visits
        self.budget = crawl.budget


def _oracle_child(crawl, conn) -> None:
    try:
        conn.send(Expected(crawl))
    except Exception as e:  # noqa: BLE001 — re-raised in the parent
        conn.send(e)
    conn.close()


class OracleRun:
    """``Expected(crawl)`` in a forked child process, so the oracle runs
    while Spark starts and warms up. Fork before the JVM starts: the child
    needs no pickling of the crawl (its fetcher is a closure) and inherits
    no threads. ``result`` waits for it; ``close`` always reaps it."""

    def __init__(self, crawl):
        ctx = multiprocessing.get_context("fork")
        self._conn, send = ctx.Pipe(duplex=False)
        self._proc = ctx.Process(target=_oracle_child, args=(crawl, send))
        self._proc.start()
        send.close()

    def result(self, timeout: float) -> Expected:
        if not self._conn.poll(timeout):
            raise TimeoutError(f"oracle gave no result in {timeout} s")
        out = self._conn.recv()
        if isinstance(out, Exception):
            raise out
        return out

    def close(self) -> None:
        if self._proc.is_alive():
            self._proc.terminate()
        self._proc.join()
        self._conn.close()


def observe(eng) -> dict:
    """What a finished crawl left in its sinks (three Spark jobs)."""
    from pyspark.sql import functions as F

    stream = [
        (r[0], r[1]) for r in eng.results_df().select(
            "path_key",
            F.sha2(F.concat_ws("\t", "path_key", "value"), 256),
        ).collect()
    ]
    seen_rows = eng.seen_df().select("url_canon", "host", "round", "status").collect()
    visits = [r["url_canon"] for r in eng.visit_order_df().collect()]
    fetched = [r for r in seen_rows if r["status"] != 999]
    per_host_round = Counter((r["host"], r["round"]) for r in fetched)
    return {
        "stream": stream,
        "seen": {r["url_canon"] for r in seen_rows},
        "visits": visits,
        "fetched": len(fetched),
        "failed_fetches": sum(r["status"] != 200 for r in fetched),
        "max_host_round": max(per_host_round.values(), default=0),
    }


def problems(expected: Expected, got: dict, summary) -> list[str]:
    """Empty when the crawl matches the oracle; else one line per failure."""
    out = []
    if got["stream"] != expected.stream:
        out.append(
            f"extraction stream differs ({len(got['stream'])} vs "
            f"{len(expected.stream)} oracle rows)"
        )
    if got["seen"] != expected.seen:
        out.append(
            f"seen set differs ({len(got['seen'])} vs {len(expected.seen)} oracle urls)"
        )
    if got["visits"] != expected.visits:
        out.append("first-visit order differs")
    if summary.fetched != len(expected.seen):
        out.append(f"fetched {summary.fetched} != oracle {len(expected.seen)}")
    if summary.results != len(expected.stream):
        out.append(f"extractions {summary.results} != oracle {len(expected.stream)}")
    if expected.budget is not None and got["max_host_round"] > expected.budget:
        out.append(
            f"politeness: {got['max_host_round']} fetches of one host in one "
            f"round > budget {expected.budget}"
        )
    return out
