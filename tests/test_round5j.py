"""q163 (sliding-window rate-limit audit): pure-Python re-implementation
over the raw parquet — guarding the RANGE-frame peer semantics (equal
timestamps count together) and the per-user max-rate reduction."""

import os

import pytest

from sparkextract.spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    s = get_spark("sparkextract-r5j-tests", master="local[4]", shuffle_partitions=8)
    yield s


def test_q163_matches_pure_python(spark):
    import pyarrow.parquet as pq

    from sparkextract.queries.planning import (
        _Q163_LIMIT,
        _Q163_WINDOW_US,
        q163_rate_limit_audit,
    )

    got = {
        r["user_id"]: (r["n_events"], r["max_rate_60s"], r["violates"])
        for r in q163_rate_limit_audit(spark, SF_DIR).collect()
    }
    from datetime import datetime

    epoch = datetime(1970, 1, 1)
    t = pq.read_table(os.path.join(SF_DIR, "events.parquet"))
    per_user = {}
    for uid, ts in zip(t.column("user_id").to_pylist(), t.column("ts").to_pylist()):
        # naive timestamps are UTC by convention (session tz is pinned
        # to UTC in spark/session.py); exact integer microseconds
        d = ts - epoch
        us = (d.days * 86400 + d.seconds) * 10**6 + d.microseconds
        per_user.setdefault(uid, []).append(us)
    assert set(got) == set(per_user)
    import bisect

    for uid, times in per_user.items():
        times.sort()
        # RANGE frame: for each event, count events in [t - W, t] —
        # INCLUDING later-sorted peers with the identical timestamp
        max_rate = 0
        for x in times:
            lo = bisect.bisect_left(times, x - _Q163_WINDOW_US)
            hi = bisect.bisect_right(times, x)
            max_rate = max(max_rate, hi - lo)
        assert got[uid] == (len(times), max_rate, max_rate > _Q163_LIMIT), uid
