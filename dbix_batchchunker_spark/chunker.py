"""BatchChunker: adaptive chunked-batch orchestration over Spark DataFrames.

A PySpark-native re-expression (NOT a port) of the reference engine
GrantStreetGroup/DBIx-BatchChunker (/root/reference/lib/DBIx/BatchChunker.pm).
The reference splits one huge keyed operation into many small id ranges,
sizes those ranges adaptively from row-count and runtime feedback, throttles,
retries, tracks progress, and dispatches each chunk to one of four modes.

Spark mapping (SURVEY.md §1.4 / §3.4):

* chunk ``[start, end]``      → ``df.filter(F.col(id).between(start, end))``
  (partition pruning + parquet predicate pushdown make this a cheap range
  scan, not a full pass), or a JDBC pushdown predicate.
* min/max range scan          → one ``agg(F.min(id), F.max(id))`` job.
* COUNT probe                 → an exact snapshot: an **id-count index**
  over a window of ≤ ``histogram_max_buckets`` ids (one groupBy job, taken
  at the first probe of each ``execute()`` and again each time the cursor
  passes the window) answers probes driver-side, instead of a ~100 ms
  ``count()`` job per chunk. A ``df_fn`` source keeps per-probe live
  ``count()`` jobs.
* single_rows                 → ``toLocalIterator()`` over the chunk, with
  chunk-level replay on failure (Spark has no multi-row transactions; the
  reference already demands idempotent work, BatchChunker.pm:109-112).
* BigInt ids (t/big-id.t)     → free: Python ints are arbitrary precision,
  so all cursor math works on 41-digit ids with no special casing.

Dispatch modes (reference BatchChunker.pm:70-178):

================  =========================  ==================================
reference mode    constructor args            per-chunk behavior
================  =========================  ==================================
DBIC bulk         ``df`` + ``coderef``        ``coderef(bc, chunk_df)``
DBIC single_rows  + ``single_rows=True``      ``coderef(bc, row)`` per Row
Active DBI        ``dbapi_connector``+``stmt``  execute DML stmt with
                                              ``(*binds, start, end)``
Query DBI         + ``coderef``               ``coderef(bc, cursor)``; with
                                              ``single_rows``: dict per row,
                                              lowercased keys, in a txn
DIY               ``coderef`` only            ``coderef(bc, start, end)``
================  =========================  ==================================

``dbapi_connector`` is any zero-arg callable returning a PEP 249 connection
(sqlite3, duckdb, a JDBC bridge, ...) — the analog of the reference's
``dbi_connector``. For cluster-side DML at scale, see
``sources/jdbc.py`` (per-partition connections inside ``foreachPartition``).

All adaptive control flow lives on the driver; every heavy operation is a
declarative Spark job that Catalyst optimizes independently.
"""

from __future__ import annotations

import collections
import concurrent.futures as cf
import math
import time
import warnings
from typing import Any, Callable, Dict, Iterator, Optional, Sequence, Tuple

import numpy as np

from .loop_state import LoopState, Timing
from .retry import run_with_retry

try:  # allow pure-driver tests (DBAPI / DIY modes) without a JVM
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F
except ImportError:  # pragma: no cover
    DataFrame = None  # type: ignore[assignment]
    F = None  # type: ignore[assignment]

__all__ = ["BatchChunker"]

_KNOWN_ATTRS = {
    # Spark / DataFrame mode
    "df", "df_fn", "count_df", "range_df", "id_name",
    # DBAPI mode
    "dbapi_connector", "stmt", "count_stmt", "min_stmt", "max_stmt",
    # live max re-query hook (process_past_max on growing sources)
    "max_fn",
    # dispatch
    "coderef", "single_rows",
    # loop behavior
    "chunk_size", "target_time", "sleep", "max_runtime",
    "min_chunk_percent", "process_past_max",
    "min_id", "max_id",
    # probes
    "histogram_max_buckets",
    # retry
    "retry_opts",
    # reporting / testability
    "verbose", "progress_name", "on_message", "on_progress",
    "time_source", "sleep_func", "locale",
}


class BatchChunker:
    """Adaptive chunked-batch orchestrator (see module docstring).

    Constructor is strict (unknown attributes raise ``TypeError``, mirroring
    the reference's MooX::StrictConstructor; t/construct.t:118-128) and
    validates mode requirements up front (BatchChunker.pm:913-929).

    COUNT probes over a static ``df`` or ``count_df`` are an exact snapshot
    taken when the probe's index window is built, even when the frame reads
    a live database (``spark.read.jdbc``, ``spark.table``). Pass ``df_fn``
    to COUNT the live source at every probe.
    """

    def __init__(self, **kwargs: Any) -> None:
        kwargs = _migrate_legacy_args(kwargs)
        unknown = set(kwargs) - _KNOWN_ATTRS
        if unknown:
            raise TypeError(
                "Found unknown attribute(s) passed to the constructor: "
                + ", ".join(sorted(unknown))
            )

        # --- Spark sources -------------------------------------------------
        self.df: Optional[DataFrame] = kwargs.get("df")
        # Live-source factory: a parquet-backed DataFrame pins its file
        # listing at read time, so a GROWING table is invisible through a
        # static df. df_fn() is called for every range calc / probe / chunk
        # dispatch — the analog of the reference's per-chunk DB query against
        # the live database (its ResultSet re-executes each time).
        self.df_fn: Optional[Callable[[], DataFrame]] = kwargs.get("df_fn")
        if self.df is None and self.df_fn is not None:
            self.df = self.df_fn()
        self.range_df: Optional[DataFrame] = kwargs.get("range_df")
        # count_df defaults to df (reference: count_rs defaults to rs,
        # BatchChunker.pm:854); pass count_df=False to disable probing.
        cdf = kwargs.get("count_df", None)
        self._count_is_default = cdf is None
        if cdf is None:
            cdf = self.df
        elif cdf is False:
            cdf = None
        self.count_df: Optional[DataFrame] = cdf
        self.id_name: Optional[str] = kwargs.get("id_name")

        # --- DBAPI sources -------------------------------------------------
        self.dbapi_connector = kwargs.get("dbapi_connector")
        self.stmt = _normalize_stmt(kwargs.get("stmt"))
        self.count_stmt = _normalize_stmt(kwargs.get("count_stmt"))
        self.min_stmt = _normalize_stmt(kwargs.get("min_stmt"))
        self.max_stmt = _normalize_stmt(kwargs.get("max_stmt"))
        # A parquet-backed DataFrame pins its file listing at read time, so
        # re-running agg(max) on it CANNOT see rows appended later. For
        # process_past_max over growing file sources, supply max_fn — a
        # zero-arg callable doing a FRESH read (the analog of the reference
        # re-running its MAX statement against the live DB).
        self.max_fn: Optional[Callable[[], Optional[int]]] = kwargs.get("max_fn")

        # --- dispatch ------------------------------------------------------
        self.coderef: Optional[Callable] = kwargs.get("coderef")
        self.single_rows: bool = bool(kwargs.get("single_rows", False))

        # --- loop knobs (defaults mirror the reference v1.0.x) --------------
        self.chunk_size: int = int(kwargs.get("chunk_size") or 1)
        self.target_time: float = float(
            kwargs["target_time"] if kwargs.get("target_time") is not None else 5
        )
        self.sleep: float = float(kwargs.get("sleep", 0.5))
        self.max_runtime: float = float(kwargs.get("max_runtime", 0))
        self.min_chunk_percent: float = float(kwargs.get("min_chunk_percent", 0.5))
        self.process_past_max: bool = bool(kwargs.get("process_past_max", False))
        self.min_id: Optional[int] = _opt_int(kwargs.get("min_id"))
        self.max_id: Optional[int] = _opt_int(kwargs.get("max_id"))

        # --- COUNT probes ----------------------------------------------------
        # Probes read an exact id-count index over a window of at most
        # histogram_max_buckets ids (_probe_count), rebuilt as the cursor
        # passes it and dropped when execute() starts and exits.
        # No count source (count_df=False, no count_stmt) → never probe.
        self.histogram_max_buckets: int = int(kwargs.get("histogram_max_buckets", 1 << 20))
        self._index: Optional[Tuple[int, int, Any, Any]] = None

        # --- retry -----------------------------------------------------------
        # Reference: BlockRunner defaults max_attempts=10 + always-retry handler
        # when retry opts are given (BatchChunker.pm:245-248); no opts → one try.
        retry_opts = kwargs.get("retry_opts") or {}
        self.max_attempts: int = int(retry_opts.get("max_attempts", 10)) if retry_opts else 1
        self.retry_handler = retry_opts.get("retry_handler")

        # --- reporting / testability -----------------------------------------
        self.verbose: bool = bool(kwargs.get("verbose", True))
        # Status-line number formatting (reference `cldr` attr,
        # BatchChunker.pm:452-465: a CLDR::Number, default locale 'en').
        # A locale code from progress.CLDR_LOCALES or a NumberLocale.
        # Validated HERE (strict-constructor posture): an unknown locale
        # must not surface mid-run at the first status line, after chunks
        # have already committed work.
        self.locale = kwargs.get("locale", "en")
        from .progress import _locale as _check_locale

        _check_locale(self.locale)
        self.progress_name: str = kwargs.get("progress_name", "Processing")
        self.on_message: Optional[Callable[[str], None]] = kwargs.get("on_message")
        self.on_progress: Optional[Callable[[int, int], None]] = kwargs.get("on_progress")
        self.time_source: Callable[[], float] = kwargs.get("time_source", time.monotonic)
        self.sleep_func: Callable[[float], None] = kwargs.get("sleep_func", time.sleep)
        self.messages: list[str] = []

        self._ls: Optional[LoopState] = None
        self._validate()

    # ------------------------------------------------------------------ #
    # construction & validation                                           #
    # ------------------------------------------------------------------ #

    def _validate(self) -> None:
        has_dbapi_stmt = any(
            s is not None for s in (self.stmt, self.count_stmt, self.min_stmt, self.max_stmt)
        )
        if has_dbapi_stmt and self.dbapi_connector is None:
            raise ValueError("DBAPI processing requires a dbapi_connector attribute!")

        if (self.df is not None or self.range_df is not None) and not self.id_name:
            raise ValueError(
                "DataFrame processing requires an id_name attribute "
                "(Spark has no primary-key metadata to introspect)"
            )

        # Range calculation requirements (BatchChunker.pm:913-918); DIY mode
        # (coderef with no sources) is exempt: user sets min_id/max_id manually.
        can_range = (
            self.df is not None
            or self.range_df is not None
            or (self.min_stmt is not None and self.max_stmt is not None)
            or (self.dbapi_connector is None and self.df is None and self.coderef is not None)
        )
        if not can_range:
            raise ValueError(
                "Range calculations require one of these attr sets: "
                "df|range_df, or dbapi_connector + min_stmt + max_stmt"
            )

        # Block execution requirements (BatchChunker.pm:920-924)
        can_execute = (
            self.stmt is not None
            or (self.df is not None and self.coderef is not None)
            or self.coderef is not None
        )
        if not can_execute:
            raise ValueError(
                "Block execution requires one of these attr sets: "
                "dbapi_connector + stmt, df + coderef, or coderef"
            )

        if self.target_time == 0 and self.chunk_size == 1:
            warnings.warn(
                "Dynamic chunk resizing is turned off and the chunk_size is still set to "
                "its default of 1. This is probably not desirable; find an appropriate "
                "static chunk size for your workload.",
                stacklevel=3,
            )

    @classmethod
    def construct_and_execute(cls, **kwargs: Any) -> "BatchChunker":
        """One-shot constructor + range calc + execute (BatchChunker.pm:975-983)."""
        bc = cls(**kwargs)
        bc.calculate_ranges()
        bc.execute()
        return bc

    # ------------------------------------------------------------------ #
    # range calculation (A1)                                              #
    # ------------------------------------------------------------------ #

    def calculate_ranges(self) -> bool:
        """Fill ``min_id``/``max_id`` from the source; False if empty.

        Reference: BatchChunker.pm:1019-1093. On Spark this is one
        ``agg(min, max)`` job — parquet footer statistics usually make it
        metadata-only.
        """
        mm_df = self.range_df if self.range_df is not None else self._current_df()
        if mm_df is not None:
            mn, mx = self._retry(
                lambda: tuple(
                    mm_df.agg(
                        F.min(self.id_name).alias("mn"), F.max(self.id_name).alias("mx")
                    ).first()
                )
            )
        elif self.min_stmt is not None and self.max_stmt is not None:
            mn = self._dbapi_scalar(self.min_stmt)
            mx = self._dbapi_scalar(self.max_stmt)
        else:
            raise ValueError("no range source: need df/range_df or min_stmt+max_stmt")

        if mn is None or mx is None:
            return False
        self.min_id, self.max_id = int(mn), int(mx)
        return True

    # ------------------------------------------------------------------ #
    # the execute loop (A2, A13, A14; BatchChunker.pm:1143-1236)          #
    # ------------------------------------------------------------------ #

    def execute(self) -> None:
        self._run(1)

    def _run(self, max_in_flight: int) -> None:
        """The chunk loop, with up to ``max_in_flight`` chunks in flight
        (``execute`` runs one; :class:`ConcurrentChunker` more).

        The calling thread cuts each chunk, checks ``max_runtime`` and
        ``process_past_max``, probes its COUNT and walks the resize ladder,
        then dispatches it: inline with one in flight, else on a thread
        pool. Dispatched and skipped chunks queue in cut order and drain
        along the contiguous completed prefix, on the calling thread: per
        processed chunk the loop sleeps, prints the status line, fires
        ``on_progress`` and feeds the runtime targeting. On exit, an error
        included, ``min_id`` is the end of the drained prefix and
        ``chunk_size`` the adapted size, so a re-run resumes without
        skipping an unfinished chunk.
        """
        if self.min_id is None or self.max_id is None or self.max_id < self.min_id:
            self._message("No chunks; nothing to process...")
            return
        total = self.max_id - self.min_id + 1

        if self.verbose:
            from .progress import format_int

            self._message(
                f"({format_int(math.ceil(total / self.chunk_size), locale=self.locale)}"
                f" total chunks; {format_int(total, locale=self.locale)} total ids)"
            )

        ls = LoopState(chunk_size=self.chunk_size, time_source=self.time_source)
        self._ls = ls
        self._index = None  # index only what remains from the cursor
        queue: collections.deque = collections.deque()  # (future, start, end, count, size)
        notes: collections.deque = collections.deque()  # workers' retry notices
        inline = max_in_flight == 1
        drained: Optional[int] = None

        def drain(block: bool) -> None:
            nonlocal drained
            if block:
                cf.wait([f for f, *_ in queue if not f.done()], return_when=cf.FIRST_COMPLETED)
            while notes:
                self._message(notes.popleft())
            while queue and queue[0][0].done():
                fut, start, end, count, size = queue.popleft()
                runtime = fut.result()  # re-raises the chunk's error
                if runtime is not None:  # None: a skipped range
                    if self.sleep:
                        self.sleep_func(self.sleep)
                    self._print_chunk_status("processed", start, end, count, size, runtime)
                drained = end
                self._increment_progress(end)
                if runtime is not None:
                    self._runtime_checker(runtime, count or size)

        try:
            with _Inline() if inline else cf.ThreadPoolExecutor(max_in_flight) as pool:
                while (
                    ls.prev_end is None  # first chunk
                    or ls.start is not None  # mid chunk-resize
                    or ls.prev_end < self.max_id  # more to go
                ):
                    if any(f.done() and f.exception() for f, *_ in queue):
                        break  # a failed chunk stops new cuts; it raises once drained
                    ls.multiplier_range += ls.multiplier_step
                    if ls.start is None:
                        ls.start = ls.prev_end + 1 if ls.prev_end is not None else self.min_id
                    ls.end = min(
                        # ceil: multiplier may be fractional mid-bisection
                        ls.start + math.ceil(ls.multiplier_range * ls.chunk_size) - 1,
                        self.max_id,
                    )
                    ls.chunk_count = None

                    if self.max_runtime and self.time_source() - ls.total_timer > self.max_runtime:
                        self._message("Ran past the maximum run time")
                        break

                    if not self._process_past_max_checker():
                        break  # the max is gone: nothing left to process
                    if self._probe_and_check():
                        fut = pool.submit(
                            self._dispatch, ls.start, ls.end, None if inline else notes.append
                        )
                    elif ls.prev_check == "skipped rows":
                        fut = _SKIPPED
                    else:
                        continue  # resized: cut again
                    queue.append((fut, *ls.chunk))
                    drain(sum(not f.done() for f, *_ in queue) >= max_in_flight)
                    ls.reset_chunk_state(skipped=fut is _SKIPPED)
                while queue:
                    drain(True)
        finally:
            while notes:
                self._message(notes.popleft())
            # cursor write-back for resumability (BatchChunker.pm:1228)
            if drained is not None:
                self.min_id = drained
            self.chunk_size = ls.chunk_size
            self._ls = self._index = None

    def chunk_ranges(self) -> Iterator[Tuple[int, int]]:
        """Static (non-adaptive) ranges covering [min_id, max_id].

        The distributed counterpart of the driver loop: feed these to
        ``sources.jdbc.read_chunked`` as pushdown predicates (one Spark
        partition per chunk) when per-chunk driver control isn't needed.
        """
        if self.min_id is None or self.max_id is None:
            return
        start = self.min_id
        while start <= self.max_id:
            end = min(start + self.chunk_size - 1, self.max_id)
            yield (start, end)
            start = end + 1

    # ------------------------------------------------------------------ #
    # process_past_max (A7; BatchChunker.pm:1394-1460)                    #
    # ------------------------------------------------------------------ #

    def _process_past_max_checker(self) -> bool:
        ls = self._ls
        assert ls is not None
        if not self.process_past_max:
            return True
        if ls.end < self.max_id:
            return True

        has_max_source = (
            self.max_fn is not None
            or self.range_df is not None
            or self.df is not None
            or self.max_stmt is not None
        )
        if not has_max_source:
            # No way to size this: pad one more chunk (BatchChunker.pm:1402-1407)
            ls.end = self.max_id + ls.chunk_size
            return True

        if self.verbose:
            self._message("Reached end; re-checking max ID")
        mm_df = self.range_df if self.range_df is not None else self._current_df()
        if self.max_fn is not None:
            new_max = self._retry(self.max_fn)
        elif mm_df is not None:
            new_max = self._retry(lambda: mm_df.agg(F.max(self.id_name)).first()[0])
        else:
            new_max = self._dbapi_scalar(self.max_stmt)
        ls.mark_chunk_timer()  # the max query shouldn't impact runtimes

        if new_max is None:
            if self.verbose:
                self._message("No max ID found; nothing left to process...")
            ls.end = self.max_id
            ls.prev_check = "no max"
            return False
        new_max = int(new_max)
        if new_max > self.max_id:
            if self.verbose:
                self._message(f"New max ID set from {self.max_id} to {new_max}")
            self.max_id = new_max
        elif new_max == self.max_id:
            if self.verbose:
                self._message(f"Found max ID {new_max}; same as end")
        else:
            if self.verbose:
                self._message(f"Found max ID {new_max}; ignoring...")

        ls.end = min(ls.end, self.max_id)
        return True

    # ------------------------------------------------------------------ #
    # block processing & dispatch (A3, A8-A11; BatchChunker.pm:1247-1385) #
    # ------------------------------------------------------------------ #

    def _probe_and_check(self) -> bool:
        """COUNT-probe the current cut and run the resize ladder on it;
        True when the cut is to be dispatched."""
        ls = self._ls
        assert ls is not None

        # COUNT probe (A3). Divergence from the reference (which always
        # probes when a count source exists): a COUNT on an indexed RDBMS is
        # ~free, but on Spark each probe is a full job launch — so skip it
        # when nothing consumes the result (resize checker disabled AND no
        # runtime targeting).
        probe_useful = self.min_chunk_percent > 0 or self.target_time > 0
        chunk_count: Optional[int] = None
        if probe_useful:
            if self.count_stmt is not None:
                chunk_count = self._dbapi_scalar(
                    self.count_stmt, extra_binds=(ls.start, ls.end)
                )
                chunk_count = int(chunk_count or 0)
            elif self.count_df is not None:
                chunk_count = self._probe_count(ls.start, ls.end)
        ls.chunk_count = chunk_count

        return self._chunk_count_checker()

    def _current_df(self) -> Optional[DataFrame]:
        """The base DataFrame — re-resolved through df_fn for live sources."""
        return self.df_fn() if self.df_fn is not None else self.df

    def _count_is_live(self) -> bool:
        """Whether probes COUNT a live source: ``df_fn`` with the default
        count source."""
        return self._count_is_default and self.df_fn is not None

    def _current_count_df(self) -> Optional[DataFrame]:
        return self.df_fn() if self._count_is_live() else self.count_df

    def _between(self, start: int, end: int):
        """The filter ``id BETWEEN start AND end`` — the chunk frame is
        ``df.filter(self._between(start, end))`` (the reference injects
        ``-between`` into the ResultSet, BatchChunker.pm:1279-1286,
        1352-1374)."""
        return F.col(self.id_name).between(_id_lit(start), _id_lit(end))

    def _dispatch(
        self, start: int, end: int, message: Optional[Callable[[str], None]] = None
    ) -> float:
        """Run chunk ``[start, end]`` in its dispatch mode under ``_retry``
        (retry notices go to ``message``) and return the duration of its
        last attempt. DataFrame mode calls ``coderef(bc, chunk_df)``, or
        with ``single_rows`` ``coderef(bc, row)`` per Row through
        ``toLocalIterator``; DIY mode calls ``coderef(bc, start, end)``."""
        t0 = 0.0

        def begin() -> None:
            nonlocal t0
            t0 = self.time_source()

        if self.stmt is not None:
            self._dispatch_dbapi(start, end, begin)
            return self.time_source() - t0
        chunk_df = None if self.df is None else self._current_df().filter(self._between(start, end))

        def work() -> None:
            begin()
            if chunk_df is None:
                self.coderef(self, start, end)
            elif self.single_rows:
                for row in chunk_df.toLocalIterator():
                    self.coderef(self, row)
            else:
                self.coderef(self, chunk_df)

        self._retry(work, message)
        return self.time_source() - t0

    def _dispatch_dbapi(self, start: int, end: int, begin: Callable[[], None]) -> None:
        """Active/Query DBAPI dispatch (BatchChunker.pm:1297-1350);
        ``begin`` starts each attempt's clock."""
        sql, binds = self.stmt
        execute_args = (*binds, start, end)

        if self.single_rows and self.coderef is not None:
            # Transactional per-row work
            def work(conn: Any) -> None:
                begin()
                cur = conn.cursor()
                cur.execute(sql, execute_args)
                cols = [d[0].lower() for d in cur.description]
                for raw in cur:
                    self.coderef(self, dict(zip(cols, raw)))

            self._dbapi_txn(work)
        else:
            def work(conn: Any) -> None:
                begin()
                cur = conn.cursor()
                cur.execute(sql, execute_args)
                if self.coderef is not None:
                    self.coderef(self, cur)

            self._dbapi_run(work)

    # ------------------------------------------------------------------ #
    # COUNT probes: exact id-count index windows                         #
    # ------------------------------------------------------------------ #

    def _probe_count(self, start: int, end: int) -> int:
        """Exact count of count-source rows with ids in ``[start, end]``.

        On an indexed RDBMS the reference's COUNT is nearly free; on Spark
        each is a job launch. So a probe builds an id-count index over a
        window of up to ``histogram_max_buckets`` ids from its start, cut
        at ``max_id`` (``_build_index``), and every later probe inside that
        window is a difference of two ``searchsorted`` lookups; a probe
        past it rebuilds the window from its own start. A probe wider than
        half a window, or on a live source (``df_fn`` with the default
        count source), is one COUNT job as before, so no run submits more
        probe jobs than one COUNT per probe would."""
        width = self.histogram_max_buckets
        if self._count_is_live() or 2 * (end - start + 1) > width:
            return int(self._retry(
                lambda: self._current_count_df().filter(self._between(start, end)).count()
            ))
        if self._index is None or not self._index[0] <= start <= end <= self._index[1]:
            last = end if self.max_id is None else max(end, self.max_id)
            hi = min(start + width - 1, last)
            self._index = self._build_index(start, hi)
            if self._ls is not None:
                self._ls.mark_chunk_timer()  # the build is not the COUNT's cost
        lo, _, keys, cum = self._index
        a, b = np.searchsorted(keys, [start - lo, end - lo + 1])
        return int(cum[b] - cum[a])

    def _build_index(self, lo: int, hi: int) -> Tuple[int, int, Any, Any]:
        """One groupBy job: the count source's rows per id ``lo + key`` for
        ids in ``[lo, hi]``. Returns ``(lo, hi, keys, cum)``: sorted int64
        keys and cumulative counts, ``cum[0] == 0``."""
        key = (F.col(self.id_name) - _id_lit(lo)).cast("long")
        # bounded: at most histogram_max_buckets rows, one per id in [lo, hi]
        tbl = self._retry(
            lambda: self._current_count_df().filter(self._between(lo, hi))
            .groupBy(key.alias("k")).count().toArrow()
        )
        keys = tbl.column("k").to_numpy()
        order = np.argsort(keys)
        counts = tbl.column("count").to_numpy()[order]
        return lo, hi, keys[order], np.concatenate(([0], np.cumsum(counts)))

    # ------------------------------------------------------------------ #
    # chunk count checker (A4; BatchChunker.pm:1475-1570)                 #
    # Decision ladder order matters: skip > single-ID > too-many >        #
    # slow-COUNT > check-cap > at-max > too-few.                          #
    # ------------------------------------------------------------------ #

    def _chunk_count_checker(self) -> bool:
        ls = self._ls
        assert ls is not None

        if self.min_chunk_percent <= 0 or ls.chunk_count is None:
            ls.prev_check = "disabled"
            return True

        chunk_percent = ls.chunk_count / ls.chunk_size
        count_check_time = self.time_source() - ls.chunk_timer
        ls.checked_count += 1

        if ls.chunk_count == 0:
            # Skip the block entirely; the loop accelerates the stepping
            self._print_chunk_status("skipped", *ls.chunk)
            ls.prev_check = "skipped rows"
            return False

        if ls.end - ls.start <= 0:
            # Single ID: must process it
            ls.prev_check = "at a single ID"
            if ls.chunk_count > 1:
                self._message(
                    "WARNING: Processing a single ID with many rows attached because "
                    "resizing cannot proceed any further."
                )
                self._message(
                    "Consider flipping the relationship so that IDs and row counts are 1:1."
                )
            return True

        if chunk_percent > 1 + self.min_chunk_percent:
            self._print_chunk_status("shrunk", *ls.chunk)
            ls.mark_chunk_timer()
            ls.decrease_multiplier()
            ls.prev_check = "too many rows"
            return False

        if self.target_time and count_check_time > self.target_time * 1.05:
            self._message(
                f"WARNING: COUNT statement was too slow; took {count_check_time:.2f} sec "
                f"to return {ls.chunk_count:,} rows."
            )
            self._print_chunk_status("shrunk", *ls.chunk)
            ls.mark_chunk_timer()
            ls.decrease_multiplier()
            ls.prev_check = "COUNT too slow"
            return False

        # Better too few rows than too many; the checks below are vetoes on
        # *further resizing*, not on processing.
        if ls.checked_count > 10:
            ls.prev_check = "too many checks"
            return True

        if ls.end >= self.max_id:
            ls.prev_check = "at max_id"
            return True

        if chunk_percent < self.min_chunk_percent:
            self._print_chunk_status("expanded", *ls.chunk)
            ls.mark_chunk_timer()
            ls.increase_multiplier()
            ls.prev_check = "too few rows"
            return False

        ls.prev_check = "nothing wrong"
        return True

    # ------------------------------------------------------------------ #
    # runtime targeting (A6; BatchChunker.pm:1581-1655)                   #
    # ------------------------------------------------------------------ #

    def _runtime_checker(self, runtime: float, chunk_count: int) -> Optional[bool]:
        """Feed one processed chunk's ``runtime`` and row count (its probed
        count, else the ``chunk_size`` it was cut at) to the targeting; it
        resizes the live ``chunk_size``."""
        if not self.target_time:
            return None
        ls = self._ls
        assert ls is not None
        if not ls.chunk_size or not runtime:
            return None

        chunk_per = chunk_count / ls.chunk_size
        # rowtime: how much of the chunk_size actually impacted the runtime
        ls.push_timing(
            Timing(
                runtime=runtime,
                chunk_count=chunk_count,
                chunk_per=chunk_per,
                rowtime=runtime / chunk_per,
            )
        )
        timings = ls.last_timings
        ttl = len(timings)
        avg_rowtime = sum(t.rowtime for t in timings) / ttl
        adjust_factor = self.target_time / avg_rowtime

        new_size: float = ls.chunk_size
        adjective = None
        if adjust_factor > 1.05:
            # Too fast: raise chunk size, only with 5/5 under-target samples,
            # never more than double
            if ttl < 5:
                return None
            if any(t.runtime >= self.target_time for t in timings):
                return None
            new_size *= min(2.0, adjust_factor)
            adjective = "fast"
        elif adjust_factor < 0.95:
            # Too slow: lower chunk size; never less than half unless the
            # last runtime was way (>3×) over
            if not runtime > self.target_time:
                return None
            if runtime < self.target_time * 3:
                new_size *= max(0.5, adjust_factor)
            else:
                new_size *= adjust_factor
            if new_size < 1:
                new_size = 1
            adjective = "slow"
        else:
            return None

        new_size_int = int(new_size)
        if new_size_int == ls.chunk_size or new_size_int < 1:
            return None

        if self.verbose:
            self._message(
                f"Processing too {adjective}, avg {1 / adjust_factor:.0%} of target time, "
                f"adjusting chunk size from {ls.chunk_size:,} to {new_size_int:,}"
            )
        ls.chunk_size = new_size_int
        if adjective == "fast":
            ls.reset_last_timings()  # never snowball too quickly
        return True

    # ------------------------------------------------------------------ #
    # DBAPI plumbing (dbi_connector analog)                               #
    # ------------------------------------------------------------------ #

    _conn: Any = None

    def _get_conn(self) -> Any:
        if self._conn is None:
            self._conn = self.dbapi_connector()
        return self._conn

    def _invalidate_conn(self) -> None:
        try:
            if self._conn is not None:
                self._conn.close()
        except Exception:
            pass
        self._conn = None

    def _dbapi_run(self, fn: Callable[[Any], Any]) -> Any:
        def attempt() -> Any:
            return fn(self._get_conn())

        return self._retry(attempt)

    def _dbapi_txn(self, fn: Callable[[Any], Any]) -> Any:
        def attempt() -> Any:
            conn = self._get_conn()
            try:
                result = fn(conn)
                conn.commit()
                return result
            except BaseException:
                try:
                    conn.rollback()
                except Exception:
                    self._invalidate_conn()
                raise

        return self._retry(attempt)

    def _dbapi_scalar(self, stmt: Tuple[str, Sequence[Any]], extra_binds: Tuple = ()) -> Any:
        sql, binds = stmt

        def work(conn: Any) -> Any:
            cur = conn.cursor()
            cur.execute(sql, (*binds, *extra_binds))
            row = cur.fetchone()
            return row[0] if row is not None else None

        return self._dbapi_run(work)

    def _retry(
        self, fn: Callable[[], Any], message: Optional[Callable[[str], None]] = None
    ) -> Any:
        """``fn`` under the retry options; retry notices go to ``message``
        (default ``_message``)."""
        say = message or self._message
        return run_with_retry(
            fn,
            max_attempts=self.max_attempts,
            retry_handler=self.retry_handler,
            on_retry=lambda exc, attempt: say(
                f"Retrying after error (attempt {attempt}): {exc}"
            ),
        )

    # ------------------------------------------------------------------ #
    # progress & verbose reporting (A15; BatchChunker.pm:1663-1745)       #
    # ------------------------------------------------------------------ #

    def _message(self, msg: str) -> None:
        self.messages.append(msg)
        if self.on_message is not None:
            self.on_message(msg)

    def _print_chunk_status(
        self,
        action: str,
        start: int,
        end: int,
        chunk_count: Optional[int],
        chunk_size: int,
        runtime: Optional[float] = None,
    ) -> None:
        """One chunk's status line; ``runtime`` defaults to the time since
        the chunk timer (a ladder decision's)."""
        # Reference-uniform status line incl. the ≥1e9 wide-ID compaction
        # (BatchChunker.pm:1676-1745); formatting lives in progress.py.
        if not self.verbose:
            return
        from .progress import chunk_status_line

        if runtime is None:
            runtime = self.time_source() - self._ls.chunk_timer
        self._message(
            chunk_status_line(
                start,
                end,
                action,
                chunk_count,
                chunk_size,
                runtime=runtime,
                sleep=self.sleep or 0.0,
                locale=self.locale,
            )
        )

    def _increment_progress(self, end: int) -> None:
        if self.on_progress is None or self.min_id is None or self.max_id is None:
            return
        done = min(end, self.max_id) - self.min_id + 1
        self.on_progress(done, self.max_id - self.min_id + 1)


class _Inline(cf.Executor):
    """Runs each submission on the calling thread, so a one-in-flight loop
    keeps sqlite's thread affinity and its coderefs may read ``bc._ls``;
    an error propagates at once."""

    def submit(self, fn: Callable, /, *args: Any) -> cf.Future:
        fut: cf.Future = cf.Future()
        fut.set_result(fn(*args))
        return fut


_SKIPPED: cf.Future = cf.Future()  # a skipped range's queue entry
_SKIPPED.set_result(None)


def _opt_int(v: Any) -> Optional[int]:
    return None if v is None else int(v)


def _id_lit(v: int):
    """An id literal. Cursor math is arbitrary-precision Python int (the
    reference's 41-digit-id case, t/big-id.t); values beyond int64 cross
    py4j as Decimal — DecimalType(38,0) columns compare fine, which caps
    *column* ids at 38 digits (cursor math itself is unbounded)."""
    if -(2**63) <= v < 2**63:
        return F.lit(v)
    import decimal

    return F.lit(decimal.Decimal(v))


# --------------------------------------------------------------------------- #
# legacy *_sth argument migration (A16; BatchChunker.pm:862-910,              #
# t/dbh-legacy.t:33-244)                                                      #
# --------------------------------------------------------------------------- #
_LEGACY_TO_NEW = {
    "sth": "stmt",
    "min_sth": "min_stmt",
    "max_sth": "max_stmt",
    "count_sth": "count_stmt",
}


def _legacy_statement_parts(name: str, value: Any) -> Tuple[Any, str]:
    """(connection, sql) out of a legacy prepared-statement-shaped value.

    The reference reads ``$sth->{Statement}`` and ``$sth->{Database}`` off a
    live DBI statement handle. PEP 249 has no portable prepared-statement
    object, so the accepted shapes are the two things Python code actually
    holds: a ``(connection, sql)`` pair, or any object exposing
    ``.connection`` and ``.statement`` attributes (several driver wrappers
    do). A bare cursor is rejected with a pointer to the pair form —
    sqlite3 cursors know their connection but not their SQL text.
    """
    if isinstance(value, (tuple, list)) and len(value) == 2:
        conn, sql = value
        if isinstance(sql, str):
            return conn, sql
    conn = getattr(value, "connection", None)
    sql = getattr(value, "statement", None)
    if conn is not None and isinstance(sql, str):
        return conn, sql
    raise TypeError(
        f"legacy {name} must be a (connection, sql) pair or an object with "
        ".connection and .statement attributes; a bare cursor does not "
        "carry its SQL text — pass (cursor.connection, sql) instead"
    )


def _migrate_legacy_args(kwargs: Dict[str, Any]) -> Dict[str, Any]:
    """Warn-and-migrate the deprecated ``*_sth`` constructor args.

    Mirrors BatchChunker.pm:862-910: each legacy handle's SQL text becomes
    the matching ``*_stmt`` (unless the caller already passed the modern
    attr, which wins), and when no ``dbapi_connector`` was given one is
    fabricated around the FIRST legacy handle's live connection. The
    fabricated connector hands back that same connection forever — it
    cannot truly reconnect (the reference has the identical caveat: it
    cannot re-acquire the password), which is exactly why the warning tells
    the caller to switch to ``dbapi_connector`` + ``stmt``/``*_stmt``.
    """
    present = [k for k in _LEGACY_TO_NEW if kwargs.get(k) is not None]
    if not present:
        return kwargs
    warnings.warn(
        "The sth/*_sth options are considered legacy usage in BatchChunker. "
        "The fabricated connector reuses the handle's live connection and "
        "cannot reconnect after a failure; please use dbapi_connector and "
        "stmt/*_stmt instead for reconnection support.",
        DeprecationWarning,
        # warn → _migrate_legacy_args → __init__ → caller: 3 attributes the
        # warning to the direct BatchChunker(...) call site (the
        # construct_and_execute wrapper shows its own forwarding line, which
        # is still inside user-actionable code).
        stacklevel=3,
    )
    kwargs = dict(kwargs)
    if kwargs.get("dbapi_connector") is None:
        conn, _sql = _legacy_statement_parts(present[0], kwargs[present[0]])
        kwargs["dbapi_connector"] = lambda: conn
    for old in present:
        _conn, sql = _legacy_statement_parts(old, kwargs.pop(old))
        new = _LEGACY_TO_NEW[old]
        if kwargs.get(new) is None:  # modern attr wins (reference: ||=)
            kwargs[new] = sql
    return kwargs


def _normalize_stmt(stmt: Any) -> Optional[Tuple[str, Sequence[Any]]]:
    """str → (sql, ()); (sql, *binds) → (sql, binds). Mirrors the reference's
    ``stmt`` arrayref-with-binds convention (BatchChunker.pm:330-401)."""
    if stmt is None:
        return None
    if isinstance(stmt, str):
        return (stmt, ())
    seq = list(stmt)
    return (seq[0], tuple(seq[1:]))


class ConcurrentChunker:
    """Runs a :class:`BatchChunker`'s chunks with up to ``max_in_flight``
    in flight — the Spark-first extension the strictly serial reference
    cannot offer; keeping several chunk jobs running is what saturates a
    many-executor cluster.

    It runs the serial loop itself (``BatchChunker._run``): each chunk is
    cut, COUNT-probed and resized through the ladder on the calling thread
    from the live ``LoopState``, exactly as serially, and only its dispatch
    runs on a worker. Completions drain in submission order along the
    contiguous completed prefix; for each drained chunk the calling thread
    sleeps, prints the status line, fires ``on_progress`` and feeds the
    runtime targeting its probed count (else the ``chunk_size`` it was cut
    at). So ``on_message`` and ``on_progress`` fire only on the thread that
    called :meth:`execute`, ``sleep`` paces submissions as it paces the
    serial loop, and ``max_runtime`` and ``process_past_max`` hold. A
    failed chunk stops new cuts and raises once drained. On exit, an error
    included, ``min_id`` is the end of the drained prefix and ``chunk_size``
    the adapted size, so a re-run resumes without skipping an unfinished
    chunk; work must be idempotent, as in the serial loop. With
    ``max_in_flight=1`` the run is the serial loop.

    DBAPI stmt mode is rejected at construction: the chunker holds one
    DBAPI connection, which is not thread-safe across workers. Run
    stmt-mode loops serially, or use
    :func:`sources.jdbc.execute_dml_per_chunk`, which opens one connection
    per Spark partition on the executors instead.
    """

    def __init__(self, bc: BatchChunker, max_in_flight: int = 4) -> None:
        if bc.stmt is not None:
            raise ValueError(
                "ConcurrentChunker does not support DBAPI stmt mode: the "
                "chunker's single DBAPI connection is not thread-safe across "
                "workers. Use the serial loop, or executor-side DML via "
                "sources.jdbc.execute_dml_per_chunk."
            )
        if bc.coderef is None:
            raise ValueError(
                "ConcurrentChunker requires a coderef (DataFrame or DIY mode)."
            )
        self.bc = bc
        self.max_in_flight = max_in_flight

    def execute(self) -> None:
        self.bc._run(self.max_in_flight)
