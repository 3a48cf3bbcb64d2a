"""One chunk loop: ``BatchChunker.execute`` and ``ConcurrentChunker`` run
the same rolling loop (``BatchChunker._run``), so the concurrent form gets
the serial loop's COUNT probe, resize ladder and ``process_past_max``, and
the serial form gets the concurrent one's retry wrap and error-safe
write-back. The last test is a differential property: on generated gappy
tables with a hot id, every loop configuration touches every row exactly
once."""

from __future__ import annotations

import collections
import random
import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from dbix_batchchunker_spark import BatchChunker, ConcurrentChunker
from tests.helpers import FakeClock


@pytest.fixture(scope="module")
def spark():
    from dbix_batchchunker_spark.session import get_spark

    return get_spark(master="local[4]", shuffle_partitions=8)


# --------------------------------------------------------------------------- #
# Spark-free regressions                                                      #
# --------------------------------------------------------------------------- #


def test_concurrent_process_past_max_follows_a_growing_max():
    """When the cut reaches ``max_id``, the concurrent loop re-queries
    ``max_fn`` and processes the ids appended past the original max."""
    calls = []
    bc = BatchChunker(
        coderef=lambda bc, s, e: calls.append((s, e)), min_id=1, max_id=100,
        chunk_size=10, target_time=0, sleep=0, process_past_max=True,
        max_fn=lambda: 150,
    )
    ConcurrentChunker(bc, max_in_flight=2).execute()
    assert bc.max_id == 150
    assert {i for s, e in calls for i in range(s, e + 1)} == set(range(1, 151))
    assert any("New max ID set from 100 to 150" in m for m in bc.messages)
    assert bc.min_id == 150


def test_serial_diy_chunk_runs_under_retry():
    """A DIY chunk that fails once completes on its second attempt."""
    failures = {"left": 1}
    calls = []

    def flaky(bc, start, end):
        if start == 21 and failures["left"]:
            failures["left"] -= 1
            raise RuntimeError("transient")
        calls.append((start, end))

    bc = BatchChunker(
        coderef=flaky, min_id=1, max_id=50, chunk_size=10, target_time=0,
        sleep=0, retry_opts={"max_attempts": 2},
    )
    bc.execute()
    assert (21, 30) in calls and len(calls) == 5
    assert any("Retrying after error" in m for m in bc.messages)
    assert bc.min_id == 50


def test_serial_failure_keeps_the_processed_cursor():
    """A chunk failure propagates and leaves ``min_id`` at the end of the
    last processed chunk, so a re-run resumes right there."""

    def work(bc, start, end):
        if start == 21:
            raise RuntimeError("permanent")

    bc = BatchChunker(
        coderef=work, min_id=1, max_id=50, chunk_size=10, target_time=0, sleep=0,
    )
    with pytest.raises(RuntimeError, match="permanent"):
        bc.execute()
    assert bc.min_id == 20


# --------------------------------------------------------------------------- #
# the concurrent ladder on a gappy table with a hot id                       #
# --------------------------------------------------------------------------- #

_PROCESSED = re.compile(r"IDs\s+(\d+) to\s+(\d+) processed,\s+(\S+) rows found")


def _gappy_hot_rows():
    """ids in 0-4,999: three dense islands, a sprinkle of lone ids, and a
    300-row hot id."""
    rng = random.Random(9)
    ids = [*range(0, 300), *range(1200, 1450), *range(4700, 5000)]
    ids += rng.sample(range(2000, 4500), 150)
    ids += [3333] * 300
    return sorted(ids)


def test_concurrent_ladder_cuts_by_rows(spark):
    """``ConcurrentChunker(4)`` probes and resizes like the serial loop:
    the same chunks, none empty, no multi-id chunk above
    (1 + ``min_chunk_percent``) × ``chunk_size`` rows, and status lines
    with counts instead of "?"."""
    rows = _gappy_hot_rows()
    df = spark.createDataFrame([(i,) for i in rows], "id long").coalesce(1).cache()
    try:
        def run(max_in_flight):
            seen = []
            bc = BatchChunker(
                df=df, id_name="id", chunk_size=40, sleep=0,
                coderef=lambda bc, cdf: seen.append(
                    # bounded: one chunk of ≤ 300 ids
                    sorted(r.id for r in cdf.select("id").collect())
                ),
                time_source=lambda: 0.0,
            )
            bc.calculate_ranges()
            if max_in_flight:
                ConcurrentChunker(bc, max_in_flight).execute()
            else:
                bc.execute()
            lines = [m for m in bc.messages if " processed," in m]
            return seen, lines

        serial_seen, serial_lines = run(None)
        seen, lines = run(4)
    finally:
        df.unpersist()

    assert sorted(seen) == sorted(serial_seen)
    assert sorted(lines) == sorted(serial_lines)
    assert sorted(i for chunk in seen for i in chunk) == rows
    assert all(chunk for chunk in seen), "an empty chunk was dispatched"
    assert all(len(c) <= 1.5 * 40 for c in seen if len(set(c)) > 1)
    assert len(lines) == len(seen)
    for line in lines:
        start, end, count = _PROCESSED.search(line).groups()
        assert count != "?"
        assert int(count) == sum(int(start) <= i <= int(end) for i in rows)


# --------------------------------------------------------------------------- #
# differential property over loop configurations                              #
# --------------------------------------------------------------------------- #


@st.composite
def _tables(draw):
    """Sorted row ids of a gappy table: islands of ids with one to three
    rows each, separated by gaps, plus one hot id."""
    ids, cur = [], draw(st.integers(0, 40))
    for _ in range(draw(st.integers(1, 4))):
        width = draw(st.integers(1, 30))
        reps = draw(st.lists(st.integers(1, 3), min_size=width, max_size=width))
        for i, r in enumerate(reps):
            ids += [cur + i] * r
        cur += width + draw(st.integers(1, 120))
    ids += [draw(st.sampled_from(ids))] * draw(st.integers(5, 60))
    return sorted(ids)


@given(rows=_tables(), chunk_size=st.integers(4, 30), budget=st.integers(1, 4))
@settings(max_examples=8, deadline=None)
def test_every_loop_configuration_touches_every_row_once(
    spark, rows, chunk_size, budget
):
    """Serial, ``ConcurrentChunker`` at 1 and 4 in flight, ``max_runtime``
    slices resumed after the written-back cursor, and a 7-id index window
    each touch every row exactly once and never dispatch an empty chunk.
    Under a frozen clock the serial loop and ``ConcurrentChunker(1)`` print
    identical messages, a 7-id window decides as the default window does,
    and 4 in flight cut the serial chunks."""
    frame = spark.createDataFrame([(i,) for i in rows], "id long").coalesce(1).cache()
    want = collections.Counter(rows)

    def run(max_in_flight=None, clock=lambda: 0.0, **kw):
        chunks = []

        def work(bc, start, end):
            chunks.append((start, end))
            if isinstance(clock, FakeClock):
                clock.advance(1.0)

        bc = BatchChunker(
            count_df=frame, id_name="id", coderef=work, min_id=rows[0],
            max_id=rows[-1], chunk_size=chunk_size, sleep=0, time_source=clock,
            **kw,
        )
        execute = ConcurrentChunker(bc, max_in_flight).execute if max_in_flight else bc.execute
        execute()
        while kw.get("max_runtime") and bc.min_id < bc.max_id:
            bc.min_id += 1  # the cursor is the last processed id
            execute()
        touched = collections.Counter(
            i for s, e in chunks for i in rows if s <= i <= e
        )
        assert touched == want
        assert all(any(s <= i <= e for i in rows) for s, e in chunks)
        return sorted(chunks), bc.messages

    try:
        serial, serial_msgs = run()
        assert run(max_in_flight=1)[1] == serial_msgs
        assert run(histogram_max_buckets=7)[1] == serial_msgs
        assert run(max_in_flight=4)[0] == serial
        run(clock=FakeClock(), max_runtime=budget - 0.5)
    finally:
        frame.unpersist()
