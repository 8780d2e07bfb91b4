"""q183 (watermark late-event audit): pure-Python re-derivation at
sf0.001."""

import os
from collections import defaultdict

import pyarrow.parquet as pq
import pytest

from sparkextract.spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    s = get_spark("sparkextract-r5s-tests", master="local[4]")
    yield s


def test_q183_matches_python_watermark_replay(spark):
    from sparkextract.queries.incremental import (
        _Q183_DELAY_US,
        q183_watermark_late_events,
    )

    rows = {r["event_type"]: r for r in q183_watermark_late_events(spark, SF_DIR).collect()}
    ev = pq.read_table(
        os.path.join(SF_DIR, "events.parquet"),
        columns=["event_type", "event_id", "ts"],
    ).to_pylist()
    streams = defaultdict(list)
    for r in ev:
        # only differences of event times matter, so any fixed epoch
        # convention works
        streams[r["event_type"]].append(
            (r["event_id"], int(r["ts"].timestamp() * 1e6))
        )
    for et, events in streams.items():
        events.sort()
        seen_max = None
        on_time = late = dropped = 0
        max_late = 0
        for _eid, t in events:
            if seen_max is None or t >= seen_max:
                on_time += 1
            elif t >= seen_max - _Q183_DELAY_US:
                late += 1
            else:
                dropped += 1
            if seen_max is not None:
                max_late = max(max_late, max(seen_max - t, 0))
            seen_max = t if seen_max is None else max(seen_max, t)
        r = rows[et]
        assert r["n_events"] == len(events)
        assert (r["n_on_time"], r["n_late_accepted"], r["n_dropped"]) == (
            on_time,
            late,
            dropped,
        )
        assert r["max_lateness_us"] == max_late
        assert r["n_on_time"] + r["n_late_accepted"] + r["n_dropped"] == len(events)
