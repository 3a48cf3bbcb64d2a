"""Per-run mutable loop state for the adaptive chunk loop.

Re-expression (not a port) of the reference's loop-state semantics
(/root/reference/lib/DBIx/BatchChunker/LoopState.pm:100-328): cursor
bookkeeping (start / end / prev_end), the multiplier bisection used for
chunk resizing, and the 5-sample timing ring buffer used for runtime
targeting.

All of this is pure driver-side Python. Python integers are
arbitrary-precision, so the reference's BigInt autopromotion machinery
(BatchChunker.pm:739-804, exercised with 41-digit IDs in t/big-id.t)
is unnecessary here: cursor math on 41-digit ids Just Works.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Callable, Optional


@dataclass
class Timing:
    """One processed chunk's timing sample (reference: BatchChunker.pm:1597-1607)."""

    runtime: float
    chunk_count: float
    chunk_per: float
    rowtime: float


@dataclass
class LoopState:
    """Mutable state for one :meth:`BatchChunker.execute` run.

    Reference semantics: LoopState.pm:109-155 (cursor), 219-245
    (bisection multiplier), 170-183 (timing ring), 311-326 (reset).
    """

    chunk_size: int
    time_source: Callable[[], float] = time.monotonic

    total_timer: float = field(default=None)  # type: ignore[assignment]
    chunk_timer: float = field(default=None)  # type: ignore[assignment]

    # Cursor. ``start`` survives iterations while chunk resizing probes a
    # range; ``prev_end`` is the last processed-or-skipped end.
    start: Optional[int] = None
    end: Optional[int] = None
    prev_end: Optional[int] = None

    # Bisection state, measured in chunk_size multiples.
    last_range_min: Optional[float] = None
    last_range_max: Optional[float] = None
    multiplier_range: float = 0.0
    multiplier_step: float = 1.0

    checked_count: int = 0
    chunk_count: Optional[int] = None
    prev_check: str = ""

    last_timings: list = field(default_factory=list)

    def __post_init__(self) -> None:
        now = self.time_source()
        if self.total_timer is None:
            self.total_timer = now
        if self.chunk_timer is None:
            self.chunk_timer = now

    # -- timers ---------------------------------------------------------
    def mark_chunk_timer(self) -> None:
        self.chunk_timer = self.time_source()

    # -- bisection (LoopState.pm:219-245) --------------------------------
    def increase_multiplier(self) -> None:
        """Too few rows: raise the lower bound; bisect if bounded, else
        accelerate the step (double it)."""
        if self.last_range_min is None or self.multiplier_range > self.last_range_min:
            self.last_range_min = self.multiplier_range
        if self.last_range_max is not None:
            self.multiplier_step = (self.last_range_max - self.last_range_min) / 2
        else:
            self.multiplier_step = self.multiplier_step * 2

    def decrease_multiplier(self) -> None:
        """Too many rows: lower the upper bound; walk back to the previous
        range midpoint (or decelerate if no lower bound is known yet)."""
        if self.last_range_max is None or self.multiplier_range < self.last_range_max:
            self.last_range_max = self.multiplier_range
        self.multiplier_range = (
            self.last_range_min
            if self.last_range_min
            else self.multiplier_range - self.multiplier_step
        )
        if self.last_range_min is not None:
            self.multiplier_step = (self.last_range_max - self.last_range_min) / 2
        else:
            self.multiplier_step = self.multiplier_step / 2

    # -- timing ring (LoopState.pm:170-183) -------------------------------
    def push_timing(self, timing: Timing) -> None:
        self.last_timings.append(timing)
        if len(self.last_timings) > 5:
            self.last_timings.pop(0)

    def reset_last_timings(self) -> None:
        self.last_timings = []

    # -- per-block reset (LoopState.pm:311-326) ---------------------------
    def reset_chunk_state(self, skipped: bool = False) -> None:
        """Advance the cursor past the current chunk; after a skipped
        (empty) one, double the step to cross empty id space faster."""
        self.start = None
        self.prev_end = self.end
        self.mark_chunk_timer()
        self.last_range_min = None
        self.last_range_max = None
        self.multiplier_range = 0.0
        self.multiplier_step = self.multiplier_step * 2 if skipped else 1.0
        self.checked_count = 0

    @property
    def chunk(self) -> tuple:
        """The current cut: ``(start, end, chunk_count, chunk_size)``."""
        return self.start, self.end, self.chunk_count, self.chunk_size
