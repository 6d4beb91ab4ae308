"""HN Firebase API sources (SURVEY.md §2.1, S1-S6) — Spark-first.

The reference fetches with a thread pool and a bounded buffer
(hnarchive.py:139-148); here ``parallelism`` keeps its meaning, the number
of requests in flight.  The ids are split over ``min(parallelism,
defaultParallelism)`` ``mapInPandas`` tasks, so executors do the HTTP
fan-out, and each task fetches through a thread pool of the remaining
factor (one thread per task on a cluster with enough cores); Arrow batching
replaces the 250-item buffer.  Retry semantics (quadratic backoff,
retryable-vs-fatal classification, hnarchive.py:98-117) live INSIDE the
fetch kernel; Spark task retry is the blunt outer layer.

Transports are injectable and picklable so tests replay recorded fixtures
(FIXTURES.md §A2/§A3) without any network; the real HTTP transport is
import-gated (requests is absent in this container).
"""

from __future__ import annotations

import json
import time
from collections.abc import Iterator
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from hnarchive_spark.schema import normalize_wire, parse_wire_json

HN_API_BASE = "https://hacker-news.firebaseio.com/v0"


class FetchBackoff:
    """Quadratic retry backoff: 0.2*x^2 + 1, capped at 10 s
    (hnarchive.py:99 Quadratic(a=0.2, b=0, c=1, max=10))."""

    def __init__(self, a: float = 0.2, c: float = 1.0, max_s: float = 10.0):
        self.a, self.c, self.max_s = a, c, max_s
        self.x = 0

    def next(self) -> float:
        v = min(self.a * self.x * self.x + self.c, self.max_s)
        self.x += 1
        return v

    def reset(self) -> None:
        self.x = 0


class IdleBackoff:
    """Linear idle-poll backoff: 2*x + 5 capped at 60 s, rewound 2 steps on
    success (hnarchive.py:163 Linear(m=2, b=5, max=60); rewind at :194)."""

    def __init__(self, m: float = 2.0, b: float = 5.0, max_s: float = 60.0):
        self.m, self.b, self.max_s = m, b, max_s
        self.x = 0

    def next(self) -> float:
        v = min(self.m * self.x + self.b, self.max_s)
        self.x += 1
        return v

    def rewind(self, steps: int = 2) -> None:
        self.x = max(0, self.x - steps)


@dataclass
class MockTransport:
    """Dict-backed transport for tests: id -> wire dict, None (API null), or
    absent (also null). ``max_id`` plays maxitem.json (S6)."""

    items: dict[int, dict | None]
    max_id: int = 0
    # ids that raise a retryable error the first N times (id -> N)
    flaky: dict[int, int] = field(default_factory=dict)
    calls: list[int] = field(default_factory=list)

    def get_item(self, item_id: int) -> dict | None:
        self.calls.append(item_id)
        if self.flaky.get(item_id, 0) > 0:
            self.flaky[item_id] -= 1
            raise TimeoutError(f"mock retryable failure for {item_id}")
        # tombstone: payload without 'time' is treated as nonexistent
        # (hnarchive.py:125-130) — normalize_wire filters it downstream
        return self.items.get(item_id)

    def max_item(self) -> int:
        return self.max_id


class HttpTransport:
    """Real Firebase transport (S1/S2/S6). Import-gated: requests is not in
    this container, so construction raises unless it is available.

    Classification per hnarchive.py:106-112: retry on 429/5xx/connection/
    read-timeout; fail fast on other 4xx; raise after retries exhausted."""

    RETRYABLE = {429}

    def __init__(self, timeout_s: float = 2.0, retries: int = 8):
        try:
            import requests  # noqa: F401
        except ImportError as exc:  # pragma: no cover
            raise NotImplementedError(
                "requests is not installed in this environment; "
                "use MockTransport or install requests"
            ) from exc
        self._requests = __import__("requests")
        self.timeout_s = timeout_s
        self.retries = retries

    def _get(self, url: str):  # pragma: no cover (no network in tests)
        rq = self._requests
        bo = FetchBackoff()
        last = None
        for _ in range(self.retries):
            try:
                resp = rq.get(url, timeout=self.timeout_s)
                if resp.status_code == 200:
                    return resp.json()
                if resp.status_code in self.RETRYABLE or resp.status_code >= 500:
                    last = RuntimeError(f"HTTP {resp.status_code}")
                else:
                    resp.raise_for_status()
            except (rq.exceptions.ConnectionError, rq.exceptions.ReadTimeout) as exc:
                last = exc
            time.sleep(bo.next())
        raise last or RuntimeError("retries exhausted")

    def get_item(self, item_id: int):  # pragma: no cover
        return self._get(f"{HN_API_BASE}/item/{item_id}.json")

    def max_item(self) -> int:  # pragma: no cover
        return int(self._get(f"{HN_API_BASE}/maxitem.json"))


def _is_retryable(exc: Exception) -> bool:
    """Retry classification per hnarchive.py:106-112: retry 429/5xx/
    connection/timeout; fail fast on any other HTTP 4xx.  Duck-typed on
    ``exc.response.status_code`` so it works with requests.HTTPError without
    importing requests."""
    status = getattr(getattr(exc, "response", None), "status_code", None)
    if status is not None:
        return status == 429 or status >= 500
    # no HTTP status -> connection/timeout-shaped failure: retryable
    return True


FETCH_THREAD_PREFIX = "hn-fetch"  # names the kernel's pool threads


def _fetch_kernel(
    transport, retries: int = 8, sleep_cap: float | None = None, threads: int = 1
):
    """Per-partition fetch kernel: id batches in, wire-JSON payloads out.

    App-level retry with quadratic backoff runs here (S1); non-retryable
    errors (HTTP 4xx other than 429) re-raise immediately, and a worker
    exception after exhaustion fails the task -> fail-fast re-raise like
    hnarchive.py:145-146. API-nulls/absences yield no row (U2).

    Each batch is fetched through a pool of ``threads`` threads (the
    reference's hnarchive.py:139 executor), keeping the ids' order.  The
    first error cancels the fetches not yet started; the pool is shut down
    and its threads joined on every exit path, so none outlives the task.
    ``sleep_cap`` exists for tests only; production uses the full backoff."""

    def fetch_one(item_id: int):
        bo = FetchBackoff()
        for attempt in range(retries):
            try:
                return transport.get_item(int(item_id))
            except Exception as exc:
                if not _is_retryable(exc) or attempt == retries - 1:
                    raise
                delay = bo.next()
                time.sleep(delay if sleep_cap is None else min(delay, sleep_cap))

    def frame(results) -> pd.DataFrame:
        payloads = [json.dumps(d) for d in results if d is not None]
        return pd.DataFrame({"payload": pd.Series(payloads, dtype="object")})

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pool = ThreadPoolExecutor(threads, thread_name_prefix=FETCH_THREAD_PREFIX)
        try:
            for pdf in batches:
                yield frame(pool.map(fetch_one, pdf["id"]))
        finally:
            pool.shutdown(wait=True, cancel_futures=True)

    return kernel


def _fetch_plan(spark: SparkSession, parallelism: int, n_ids: int) -> tuple[int, int]:
    """(tasks, threads per task) for ``parallelism`` requests in flight: no
    more tasks than the cluster runs at once, nor than there are ids; the
    rest of the fan-out runs as threads inside each task."""
    parallelism = max(1, parallelism)
    tasks = max(1, min(parallelism, spark.sparkContext.defaultParallelism, n_ids))
    return tasks, -(-parallelism // tasks)


def _fetch(ids: DataFrame, transport, retrieved_at, sleep_cap, threads: int = 1) -> DataFrame:
    if retrieved_at is None:
        retrieved_at = int(time.time())
    kernel = _fetch_kernel(transport, sleep_cap=sleep_cap, threads=threads)
    raw = ids.mapInPandas(kernel, "payload string")
    return normalize_wire(parse_wire_json(raw), retrieved_at=retrieved_at)


def fetch_items(
    spark: SparkSession,
    lower: int,
    upper: int,
    transport,
    parallelism: int = 8,
    retrieved_at: int | None = None,
    sleep_cap: float | None = None,
) -> DataFrame:
    """S3/S4/S5: fetch ids [lower, upper] -> normalized items DataFrame.

    ``parallelism`` is the number of requests in flight, the reference's
    thread count (hnarchive.py:133-137): ``spark.range`` builds the id
    range directly in ``tasks`` partitions (no shuffle) and each task runs
    ``threads`` fetches at a time.  Arrow batch size plays the 250-item
    result buffer (hnarchive.py:144)."""
    tasks, threads = _fetch_plan(spark, parallelism, upper - lower + 1)
    ids = spark.range(lower, upper + 1, 1, tasks)
    return _fetch(ids, transport, retrieved_at, sleep_cap, threads)


def fetch_ids_df(
    ids_df: DataFrame,
    transport,
    retrieved_at: int | None = None,
    sleep_cap: float | None = None,
) -> DataFrame:
    """Fetch the ids in a DataFrame column ``id`` — the distributed id-source
    shape (E4 staleness scan feeds this directly; no driver collect)."""
    from pyspark.sql import functions as F

    ids = ids_df.select(F.col("id").cast("long").alias("id"))
    return _fetch(ids, transport, retrieved_at, sleep_cap)


def fetch_id_list(
    spark: SparkSession,
    ids: list[int],
    transport,
    parallelism: int = 8,
    retrieved_at: int | None = None,
    sleep_cap: float | None = None,
) -> DataFrame:
    """Fetch an explicit id set — the livestream shape, where the id source
    is a pending list, not a dense range.  Only the given ids are requested
    (a permanently skipped id is never fetched again)."""
    tasks, threads = _fetch_plan(spark, parallelism, len(ids))
    # the list is parallelized into at most defaultParallelism partitions,
    # so the narrow coalesce reaches ``tasks`` without a shuffle
    ids_df = spark.createDataFrame([(int(i),) for i in ids], "id long").coalesce(tasks)
    return _fetch(ids_df, transport, retrieved_at, sleep_cap, threads)
