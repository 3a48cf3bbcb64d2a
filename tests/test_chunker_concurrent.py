"""ConcurrentChunker parity with the serial loop (round-7 verdict "Next
round #3"): the reference's budget/throttle/progress/retry semantics
(BatchChunker.pm:591-634 max_runtime/sleep; the BlockRunner retry wrap)
must not silently vanish when a user switches to the concurrent form.

All DIY-mode (no Spark) — the guarantees under test live in the driver
loop, not in dispatch."""

from __future__ import annotations

import sys
import threading

import pytest

from dbix_batchchunker_spark import BatchChunker, ConcurrentChunker
from tests.helpers import FakeClock


def test_concurrent_max_runtime_stops_and_resumes():
    """≤3 s budget / 0.5 s per chunk ⇒ submissions stop once the budget is
    spent (checked before each submission, like the serial loop's
    before-each-chunk check), the reference's message is emitted, and the
    cursor resumes exactly where the stop left it — the same contract
    test_chunker_diy.py pins for the serial loop."""
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
    # max_in_flight=1 keeps the fake clock single-threaded-deterministic
    ConcurrentChunker(bc, max_in_flight=1).execute()
    assert 1 <= len(calls) <= 7
    assert any("maximum run time" in m for m in bc.messages)
    resumed_from = bc.min_id
    assert resumed_from == calls[-1][1]
    bc.max_runtime = 0
    ConcurrentChunker(bc, max_in_flight=1).execute()
    assert calls[-1][1] == 1000
    covered = set()
    for s, e in calls:
        covered.update(range(s, e + 1))
    # resume restarts AT the stored cursor (boundary id re-processed —
    # the reference's idempotent-work contract), so coverage is total
    assert covered == set(range(1, 1001))


def test_concurrent_sleep_throttles_submissions():
    """The throttle paces submissions as it paces the serial loop: one
    sleep per processed chunk, on the calling thread before the next cut
    (n sleeps for n chunks, t/dbh.t:89-95 idiom)."""
    clock = FakeClock()
    slept = []

    def fake_sleep(dt):
        slept.append(dt)
        clock.advance(dt)

    bc = BatchChunker(
        coderef=lambda *a: None, min_id=1, max_id=50, chunk_size=10,
        target_time=0, sleep=0.1, time_source=clock, sleep_func=fake_sleep,
    )
    ConcurrentChunker(bc, max_in_flight=2).execute()
    assert slept == [0.1] * 5
    assert bc.min_id == 50


def test_concurrent_diy_path_runs_under_retry():
    """The DIY coderef goes through bc._retry exactly like the DataFrame
    path (it previously bypassed it): a once-failing chunk succeeds on the
    retry attempt and the loop completes."""
    failures = {"left": 1}
    calls = []

    def flaky(bc, start, end):
        if start == 21 and failures["left"]:
            failures["left"] -= 1
            raise RuntimeError("transient")
        calls.append((start, end))

    bc = BatchChunker(
        coderef=flaky, min_id=1, max_id=50, chunk_size=10,
        target_time=0, sleep=0,
        retry_opts={"max_attempts": 2},
    )
    ConcurrentChunker(bc, max_in_flight=2).execute()
    assert (21, 30) in calls
    assert len(calls) == 5
    assert bc.min_id == 50
    assert any("Retrying after error" in m for m in bc.messages)


def test_concurrent_on_progress_reports_contiguous_prefix():
    """on_progress fires with the CONTIGUOUS completed id count — monotone
    and resume-safe (a completed chunk whose predecessor is unfinished is
    not counted), ending at the full total."""
    reports = []
    bc = BatchChunker(
        coderef=lambda *a: None, min_id=1, max_id=100, chunk_size=10,
        target_time=0, sleep=0,
        on_progress=lambda done, total: reports.append((done, total)),
    )
    ConcurrentChunker(bc, max_in_flight=3).execute()
    assert reports, "on_progress never fired"
    dones = [d for d, _ in reports]
    assert dones == sorted(dones)  # monotone
    assert all(t == 100 for _, t in reports)
    assert dones[-1] == 100


def test_concurrent_failed_chunk_still_raises_and_keeps_cursor():
    """Retry exhaustion propagates (the serial contract) and the cursor
    still lands at the contiguous prefix before the failure."""
    def work(bc, start, end):
        if start == 21:
            raise RuntimeError("permanent")

    bc = BatchChunker(
        coderef=work, min_id=1, max_id=50, chunk_size=10,
        target_time=0, sleep=0, retry_opts={"max_attempts": 2},
    )
    with pytest.raises(RuntimeError, match="permanent"):
        ConcurrentChunker(bc, max_in_flight=1).execute()
    assert bc.min_id == 20


def test_concurrent_budget_expiring_during_sleep_blocks_submission():
    """ADVICE r8: the budget is re-checked AFTER the throttle sleep (the
    serial loop's order is chunk -> sleep -> loop-top check), so a budget
    that expires while sleep_func runs cannot admit one more chunk."""
    clock = FakeClock()
    calls = []

    def work(bc, start, end):
        calls.append((start, end))
        clock.advance(0.5)

    bc = BatchChunker(
        coderef=work, min_id=1, max_id=1000, chunk_size=10,
        target_time=0, sleep=0.6, max_runtime=1,
        time_source=clock, sleep_func=clock.sleep,
    )
    ConcurrentChunker(bc, max_in_flight=1).execute()
    # chunk 0: elapsed 0.5 (inside budget); sleep 0.6 -> elapsed 1.1 —
    # the post-sleep check must now stop BEFORE submitting chunk 1.
    assert len(calls) == 1
    assert any("maximum run time" in m for m in bc.messages)


def test_wave_adaptive_grows_chunk_size_too_fast():
    """Concurrent analog of the serial too-fast targeting (t/dbic.t:255-352
    idiom): 0.1 s chunks against a 10 s target must double chunk_size after
    every 5 under-target samples, with the growth applied to the ranges
    cut after it. Deterministic even with 3 live workers: every runtime
    is far under target regardless of fake-clock interleaving, so the 5/5
    gate and the min(2, factor) = 2 doubling never flip."""
    clock = FakeClock()
    calls = []

    def work(bc, start, end):
        calls.append((start, end))
        clock.advance(0.1)

    bc = BatchChunker(
        coderef=work, min_id=1, max_id=2000, chunk_size=10,
        target_time=10, sleep=0,
        time_source=clock, sleep_func=clock.sleep,
    )
    ConcurrentChunker(bc, max_in_flight=3).execute()
    widths = [e - s + 1 for s, e in sorted(calls)]
    assert widths[0] == 10
    assert max(widths) >= 40, widths  # doubled at least twice
    # growth only ever doubles: widths are 10 * 2^k
    assert all(w in (10, 20, 40, 80, 160, 320, 640, 1280) or w == widths[-1]
               for w in widths), widths
    assert any("Processing too fast" in m for m in bc.messages)
    # full contiguous coverage, cursor at the end
    covered = set()
    for s, e in calls:
        covered.update(range(s, e + 1))
    assert covered == set(range(1, 2001))
    assert bc.min_id == 2000
    assert bc.chunk_size > 10  # converged size survives for resume


def test_wave_adaptive_shrinks_chunk_size_too_slow():
    """3 s chunks against a 1 s target (>3x over) shrink by the full
    adjust factor — later ranges are cut smaller, never below 1."""
    clock = FakeClock()
    calls = []

    def work(bc, start, end):
        calls.append((start, end))
        clock.advance(3.0)

    bc = BatchChunker(
        coderef=work, min_id=1, max_id=120, chunk_size=30,
        target_time=1, sleep=0,
        time_source=clock, sleep_func=clock.sleep,
    )
    ConcurrentChunker(bc, max_in_flight=2).execute()
    widths = [e - s + 1 for s, e in sorted(calls)]
    assert widths[0] == 30
    assert min(widths) < 30, widths
    assert all(w >= 1 for w in widths)
    assert any("Processing too slow" in m for m in bc.messages)
    covered = set()
    for s, e in calls:
        covered.update(range(s, e + 1))
    assert covered == set(range(1, 121))


def test_wave_adaptive_keeps_budget_and_throttle():
    """max_runtime + sleep semantics hold while adapting: the budget is
    re-checked after each throttle sleep and stops submissions; the cursor
    resumes at the contiguous prefix."""
    clock = FakeClock()
    calls = []

    def work(bc, start, end):
        calls.append((start, end))
        clock.advance(0.5)

    bc = BatchChunker(
        coderef=work, min_id=1, max_id=1000, chunk_size=10,
        target_time=10, sleep=0.6, max_runtime=1,
        time_source=clock, sleep_func=clock.sleep,
    )
    ConcurrentChunker(bc, max_in_flight=1).execute()
    assert len(calls) == 1
    assert any("maximum run time" in m for m in bc.messages)
    assert bc.min_id == calls[-1][1]


def test_wave_adaptive_converges_not_oscillates():
    """Round-9 review: in-flight runtimes must be attributed to the width
    the chunk was CUT at, not the post-resize chunk_size — without the
    chunk_count normalization this scenario oscillated 1 <-> 200 forever.
    With it, the loop must land on the serial loop's ideal width (100 ids
    at 0.02 s/id against a 2 s target) and STAY there."""
    clock = FakeClock()
    calls = []

    def work(bc, start, end):
        calls.append((start, end))
        clock.advance(0.02 * (end - start + 1))

    bc = BatchChunker(
        coderef=work, min_id=1, max_id=20000, chunk_size=10,
        target_time=2.0, sleep=0,
        time_source=clock, sleep_func=clock.sleep,
    )
    ConcurrentChunker(bc, max_in_flight=12).execute()
    widths = [e - s + 1 for s, e in calls]
    tail = widths[-20:]
    # converged: the tail MEDIAN sits within 25% of the ideal width.
    # Median, not all(): the shared FakeClock is advanced from 12 worker
    # threads, so a rare GIL preemption between a chunk's t0 read and its
    # advance can misattribute another chunk's time and perturb ONE
    # sample; oscillation (the bug this test pins) flips the whole tail
    # 1 <-> 200 and still fails the median.
    import statistics

    assert 75 <= statistics.median(tail) <= 125, tail
    covered = set()
    for s, e in calls:
        covered.update(range(s, e + 1))
    assert covered == set(range(1, 20001))


def test_callbacks_run_on_the_calling_thread():
    """Status lines (on_message), workers' retry notices and on_progress
    all fire on the thread that called execute(), never on a worker. More
    workers than cores and a short switch interval stress the hand-off."""
    clock = FakeClock()
    msg_threads, progress_threads = set(), set()
    failed = set()

    def work(bc, start, end):
        if start not in failed:  # every chunk fails once, then succeeds
            failed.add(start)
            raise RuntimeError("transient")
        clock.advance(0.1)

    bc = BatchChunker(
        coderef=work, min_id=1, max_id=100, chunk_size=10,
        target_time=0, sleep=0, verbose=True, retry_opts={"max_attempts": 2},
        time_source=clock, sleep_func=clock.sleep,
        on_message=lambda m: msg_threads.add(threading.get_ident()),
        on_progress=lambda d, t: progress_threads.add(threading.get_ident()),
    )
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        ConcurrentChunker(bc, max_in_flight=8).execute()
    finally:
        sys.setswitchinterval(interval)
    assert sum("processed" in m for m in bc.messages) == 10
    assert sum("Retrying after error" in m for m in bc.messages) == 10
    assert msg_threads == {threading.get_ident()}
    assert progress_threads == {threading.get_ident()}
    assert bc.min_id == 100


def test_adaptive_loop_has_no_wave_barrier():
    """With target_time > 0 a free slot is refilled at once: chunk 3 starts
    while chunk 1 is still running (a barrier per max_in_flight chunks would
    hold chunk 3 until chunk 1 finished)."""
    third_started = threading.Event()
    waited = []

    def work(bc, start, end):
        if start == 1:
            waited.append(third_started.wait(timeout=5))
        elif start == 21:
            third_started.set()

    bc = BatchChunker(
        coderef=work, min_id=1, max_id=40, chunk_size=10,
        target_time=10, sleep=0, verbose=False,
    )
    ConcurrentChunker(bc, max_in_flight=2).execute()
    assert waited == [True]
    assert bc.min_id == 40
