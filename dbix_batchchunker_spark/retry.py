"""Retry wrapper for per-chunk work.

Re-expression of the reference's retry semantics
(/root/reference/lib/DBIx/BatchChunker.pm:264-288): every DB touch runs
under a retry runner with ``max_attempts`` (default 10 when retry options
are supplied) and an always-retry handler by default; single-row chunks
are transactional units that restart whole on failure.

On Spark, task-level retries (``spark.task.maxFailures``) already cover
executor-side work; this wrapper covers the *driver-side* chunk loop and
user callables, which Spark does not retry.
"""

from __future__ import annotations

from typing import Callable, Optional, TypeVar

T = TypeVar("T")


def run_with_retry(
    fn: Callable[[], T],
    max_attempts: int = 1,
    retry_handler: Optional[Callable[[BaseException, int], bool]] = None,
    on_retry: Optional[Callable[[BaseException, int], None]] = None,
) -> T:
    """Run ``fn`` up to ``max_attempts`` times; once they run out (or the
    handler vetoes), the last error is re-raised unchanged.

    ``retry_handler(exc, attempt)`` may veto further attempts by returning
    a falsy value (mirrors DBIx::Connector::Retry's ``retry_handler``).
    ``on_retry(exc, next_attempt)`` is a hook for resetting timers, mirroring
    the reference's chunk-timer reset on retries (BatchChunker.pm:1309 etc.).
    """
    attempt = 1
    while True:
        try:
            return fn()
        except BaseException as exc:  # noqa: BLE001 - deliberate broad retry
            if attempt >= max_attempts:
                raise
            if retry_handler is not None and not retry_handler(exc, attempt):
                raise
            attempt += 1
            if on_retry is not None:
                on_retry(exc, attempt)
