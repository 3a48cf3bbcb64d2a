"""DIY-mode loop invariants — mirrors t/dbic.t ppm/DIY shapes and
t/dbic.t:504-544 (max_runtime + cursor resume) with a fake clock."""

from dbix_batchchunker_spark import BatchChunker
from tests.helpers import FakeClock


def collect_ranges(**kw):
    calls = []
    bc = BatchChunker(
        coderef=lambda bc, start, end: calls.append((start, end)),
        sleep=0,
        target_time=0,
        **kw,
    )
    bc.execute()
    return bc, calls


def test_exact_chunk_count_and_coverage():
    # expected calls = ceil((range+1)/chunk_size)  (t/dbic.t:80-88)
    bc, calls = collect_ranges(min_id=1, max_id=100, chunk_size=10)
    assert len(calls) == 10
    assert calls[0] == (1, 10)
    assert calls[-1] == (91, 100)
    # contiguous, non-overlapping, full coverage
    for (s1, e1), (s2, e2) in zip(calls, calls[1:]):
        assert s2 == e1 + 1
    assert bc.min_id == 100  # cursor write-back for resume


def test_uneven_final_chunk():
    _, calls = collect_ranges(min_id=1, max_id=105, chunk_size=10)
    assert len(calls) == 11
    assert calls[-1] == (101, 105)


def test_single_chunk():
    _, calls = collect_ranges(min_id=7, max_id=9, chunk_size=100)
    assert calls == [(7, 9)]


def test_empty_range_noop():
    bc = BatchChunker(coderef=lambda *a: 1 / 0, min_id=None, max_id=None,
                      target_time=0, chunk_size=10, sleep=0)
    bc.execute()  # no ids → no calls, no error
    assert any("nothing to process" in m for m in bc.messages)


def test_max_runtime_and_resume():
    # ≤3 s budget / 0.5 s per chunk ⇒ ≤6-7 coderef calls, cursor resumable
    clock = FakeClock()
    calls = []

    def work(bc, start, end):
        calls.append((start, end))
        clock.advance(0.5)

    bc = BatchChunker(
        coderef=work, min_id=1, max_id=1000, chunk_size=10,
        target_time=0, sleep=0, max_runtime=3,
        time_source=clock, sleep_func=clock.sleep,
    )
    bc.execute()
    assert 1 <= len(calls) <= 7
    assert any("maximum run time" in m for m in bc.messages)
    # resume: min_id is the last processed end; re-execute continues from there
    resumed_from = bc.min_id
    assert resumed_from == calls[-1][1]
    bc.max_runtime = 0
    bc.execute()
    assert calls[-1][1] == 1000
    # resume restarts AT the stored cursor (reference re-sets min_id=prev_end,
    # BatchChunker.pm:1228 — the boundary id is re-processed, which is why the
    # reference demands idempotent work)
    starts = [s for s, _ in calls]
    assert resumed_from in starts
    covered = set()
    for s, e in calls:
        covered.update(range(s, e + 1))
    assert covered == set(range(1, 1001))


def test_sleep_applied_per_chunk():
    clock = FakeClock()
    slept = []

    def fake_sleep(dt):
        slept.append(dt)
        clock.advance(dt)

    bc = BatchChunker(
        coderef=lambda *a: None, min_id=1, max_id=50, chunk_size=10,
        target_time=0, sleep=0.1, time_source=clock, sleep_func=fake_sleep,
    )
    bc.execute()
    # one sleep per processed chunk; total within [n*0.1, n*0.5) (t/dbh.t:89-95)
    assert slept == [0.1] * 5
    assert 5 * 0.1 <= sum(slept) < 5 * 0.5


def test_process_past_max_pads_extra_chunk_without_source():
    # DIY with no max source: one extra chunk past max (BatchChunker.pm:1402-1407)
    calls = []
    bc = BatchChunker(
        coderef=lambda bc, s, e: calls.append((s, e)),
        min_id=1, max_id=20, chunk_size=10,
        target_time=0, sleep=0, process_past_max=True,
    )
    bc.execute()
    assert calls[-1][1] > 20  # padded past max
    assert calls[-1] == (11, 30)


def test_big_ids_python_int_cursor_math():
    # 41-digit ids (t/big-id.t analog): Python ints are arbitrary precision
    base = int("9" + "0" * 40)
    calls = []
    bc = BatchChunker(
        coderef=lambda bc, s, e: calls.append((s, e)),
        min_id=base + 1, max_id=base + 100, chunk_size=30,
        target_time=0, sleep=0,
    )
    bc.execute()
    assert len(calls) == 4
    assert calls[0] == (base + 1, base + 30)
    assert calls[-1] == (base + 91, base + 100)
    assert bc.min_id == base + 100


def test_static_chunk_ranges_iterator():
    bc = BatchChunker(coderef=lambda *a: None, min_id=1, max_id=25,
                      chunk_size=10, target_time=0, sleep=0)
    assert list(bc.chunk_ranges()) == [(1, 10), (11, 20), (21, 25)]


def test_process_past_max_stops_when_the_max_is_gone():
    # the re-checked max returns None (the table was emptied): the loop
    # stops instead of re-cutting the same range and re-querying forever
    calls, queries = [], []

    def max_fn():
        queries.append(1)
        if len(queries) >= 3:
            raise AssertionError("max re-queried without end")
        return None

    bc = BatchChunker(
        coderef=lambda bc, s, e: calls.append((s, e)),
        min_id=1, max_id=50, chunk_size=10,
        target_time=0, sleep=0, process_past_max=True, max_fn=max_fn,
    )
    bc.execute()
    assert calls == [(1, 10), (11, 20), (21, 30), (31, 40)]
    assert len(queries) == 1
