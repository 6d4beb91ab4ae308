"""The fetch kernel's in-task thread pool: ``parallelism`` requests in
flight over at most ``defaultParallelism`` tasks, with the same rows, the
same fail-fast behaviour and no thread left behind."""

from __future__ import annotations

import threading
import time

import pandas as pd
import pytest

from hnarchive_spark.sources.hn_api import (
    FETCH_THREAD_PREFIX,
    MockTransport,
    _fetch_kernel,
    fetch_id_list,
    fetch_items,
)

T0 = 1_700_000_000


def _transport():
    items = {}
    for i in range(1, 121):
        if i % 7 == 0:
            items[i] = None  # API null
        elif i % 11 == 0:
            items[i] = {"id": i, "type": "story"}  # tombstone: no time
        elif i % 13 != 0:  # multiples of 13 are absent
            items[i] = {"id": i, "type": "comment", "time": T0 + i, "parent": i // 2}
    flaky = {i: 2 for i in range(5, 121, 17)}
    return MockTransport(items=items, max_id=120, flaky=flaky)


def _fetch_threads() -> list[str]:
    return [t.name for t in threading.enumerate() if t.name.startswith(FETCH_THREAD_PREFIX)]


def _slow_transport(fatal: int, delay: float):
    """Every fetch takes ``delay`` seconds; id ``fatal`` raises HTTP 404.
    The classes are local so Spark ships them by value."""

    class NotFound(Exception):
        class response:  # noqa: N801  (duck-typed requests.HTTPError)
            status_code = 404

    class SlowTransport(MockTransport):
        def get_item(self, item_id):
            self.calls.append(item_id)
            if item_id == fatal:
                raise NotFound("HTTP 404")
            time.sleep(delay)
            return {"id": item_id, "type": "story", "time": T0}

    return SlowTransport(items={})


def test_threaded_fetch_rows_equal_single_request_rows(spark):
    dp = spark.sparkContext.defaultParallelism
    wide = 3 * dp + 1  # several threads in each task
    one = fetch_items(spark, 1, 120, _transport(), 1, T0, sleep_cap=0.001).collect()
    many = fetch_items(spark, 1, 120, _transport(), wide, T0, sleep_cap=0.001).collect()
    assert many == one  # same rows in the same order
    assert [r["id"] for r in one] == [
        i for i in range(1, 121) if i % 7 and i % 11 and i % 13
    ]
    ids = list(range(120, 0, -3))
    listed = fetch_id_list(spark, ids, _transport(), wide, T0, sleep_cap=0.001).collect()
    assert sorted(listed) == sorted(r for r in one if r["id"] in set(ids))


def test_fetch_plan_has_no_shuffle_and_at_most_default_parallelism_tasks(spark):
    dp = spark.sparkContext.defaultParallelism
    ranged = fetch_items(spark, 1, 500, _transport(), 4 * dp, T0)
    listed = fetch_id_list(spark, list(range(500, 0, -7)), _transport(), 4 * dp, T0)
    for df, source in ((ranged, "Range ("), (listed, "Scan ExistingRDD")):
        lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
        top = next(i for i, ln in enumerate(lines) if "MapInPandas" in ln)
        bottom = next(i for i, ln in enumerate(lines) if source in ln)
        assert top < bottom
        assert not any("Exchange" in ln for ln in lines[top:bottom])
        assert df.rdd.getNumPartitions() <= dp


def test_non_retryable_error_fails_fast_and_cancels_pending():
    t = _slow_transport(fatal=1, delay=0.2)
    kernel = _fetch_kernel(t, threads=4)
    with pytest.raises(Exception, match="404"):
        list(kernel(iter([pd.DataFrame({"id": range(1, 41)})])))
    # the fetches in flight finish, the queued ones are cancelled
    assert len(t.calls) < 20
    assert not _fetch_threads()


def test_no_kernel_thread_outlives_its_task(spark):
    # driver side: a consumer that stops after the first batch
    kernel = _fetch_kernel(_slow_transport(fatal=-1, delay=0), threads=4)
    out = kernel(iter([pd.DataFrame({"id": range(1, 50)}), pd.DataFrame({"id": [60]})]))
    assert len(next(out)) == 49
    out.close()
    assert not _fetch_threads()

    # executor side: each task counts the kernel threads alive in its
    # Python worker once the kernel has finished
    transport = _transport()

    def probe(batches):
        import threading as th

        rows = sum(len(pdf) for pdf in _fetch_kernel(transport, 8, 0.001, threads=4)(batches))
        alive = sum(t.name.startswith(FETCH_THREAD_PREFIX) for t in th.enumerate())
        yield pd.DataFrame({"rows": [rows], "alive": [alive]})

    dp = spark.sparkContext.defaultParallelism
    got = spark.range(1, 121, 1, dp).mapInPandas(probe, "rows long, alive long").collect()
    assert sum(r["rows"] for r in got) == sum(v is not None for v in transport.items.values())
    assert all(r["alive"] == 0 for r in got)
