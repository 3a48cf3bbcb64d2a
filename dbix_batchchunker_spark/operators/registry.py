"""Query registry: every implemented operator registers a (spark, sf_dir) →
DataFrame callable and, when SQL-expressible, a DuckDB oracle SQL string.

The driver's correctness gate runs both sides at sf0.01 and compares
row-count + schema + order-insensitive value hash, so:

* every computed column is aliased IDENTICALLY in Spark code and oracle SQL;
* money aggregates are summed as DECIMAL (per-row cast) — exact and
  order-independent, immune to Spark's nondeterministic partial-agg order;
* double outputs only where per-row deterministic (or integral-valued).
"""

from __future__ import annotations

import os
from typing import Callable, Dict, Optional

from pyspark.sql import DataFrame, SparkSession

from . import store_fs

QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: Dict[str, str] = {}


def query(name: str, oracle: Optional[str] = None):
    """Register a query implementation and its DuckDB oracle (None for
    non-SQL-expressible operators → driver runs a rows-only check)."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        fn.__query_name__ = name
        return fn

    return deco


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """THE events timestamp rule, shared by every read path (batch ``t()``
    and the streaming source). The testdata generator has shipped
    ``events.ts`` in two physical forms, both naive (no UTC adjustment):

    * TIMESTAMP(NANOS) parquet — Spark rejects it outright; with
      ``nanosAsLong`` set it arrives as int64 nanos, truncated here to
      microseconds via ``timestamp_micros`` (raw-micros → instant, no
      timezone involved, so downstream ``unix_micros`` is session-tz-proof);
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) parquet — Spark surfaces it
      as TIMESTAMP_NTZ, which already matches DuckDB's naive TIMESTAMP (µs)
      wall-clock for wall-clock; left untouched.

    Epoch arithmetic on the resulting column must go through
    :func:`epoch_us`, never a bare ``unix_micros`` (which rejects NTZ and,
    after an NTZ→TIMESTAMP cast, silently shifts by the session timezone)."""
    from pyspark.sql import functions as F

    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def epoch_us(df: DataFrame, col: str = "ts"):
    """Microseconds since epoch of a naive timestamp column, identical to
    DuckDB's ``epoch_us(ts)`` REGARDLESS of the Spark session timezone (the
    driver's gate session sets its own): TIMESTAMP_NTZ goes through pure
    NTZ date arithmetic (``timestampdiff`` against an NTZ epoch literal —
    no timezone in the expression at all); TIMESTAMP (only produced by the
    legacy nanos path, where the instant IS the naive value) through
    ``unix_micros``. An NTZ→TIMESTAMP cast + ``unix_micros`` would be off
    by the session-tz offset — measured +5 h under America/New_York."""
    from pyspark.sql import functions as F

    if dict(df.dtypes).get(col) == "timestamp_ntz":
        return F.expr(
            f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {col})"
        )
    return F.unix_micros(F.col(col))


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table (column-pruned/filter-pushed by Catalyst).
    ``events`` goes through :func:`normalize_event_ts` (nanos → µs)."""
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return normalize_event_ts(
            spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        )
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# Money columns are exact 2-decimal values stored as doubles. Casting the BASE
# column to decimal recovers the exact value identically in Spark and DuckDB;
# all arithmetic then stays in decimal (exact, order-independent). Casting a
# double PRODUCT to decimal is NOT cross-engine deterministic (Java shortest-
# repr vs full binary expansion round differently) — never do that.
# NOTE (measured, do not revive): a `widen()` helper that repartition()ed
# narrow single-file scans to defaultParallelism before CPU-heavy stages made
# the dedup family ~1.7× SLOWER in aggregate (39s → 67s at sf0.1): the fixed
# -width Exchange lands before column pruning, carries full rows, and opts
# the subtree out of AQE coalescing. Spark's own scan parallelism + AQE is
# the right default; fix narrow-input hotspots at the source (file layout /
# maxPartitionBytes), not with a blanket reshuffle. `spread_probe_side`
# below is NOT that helper revived — it is the targeted fix the note
# points at, applied only where round-18 profiling showed a broadcast
# join's STREAMED side running a whole Θ(block²) pair enumeration in one
# scan task (dd02 6.3 s, sim03 4.6 s, q29 2×2.4 s single-task jobs on 32
# idle cores): the exchange sits AFTER the projection (narrow rows only),
# and the partition count is explicit precisely so AQE's byte-based
# coalescing cannot re-serialize a CPU-bound stage whose bytes are tiny.


def _parse_bytes(s: str, default: int) -> int:
    """Spark byte-size conf strings ('134217728b', '128m', '4g')."""
    import re as _re

    m = _re.fullmatch(r"\s*(\d+)\s*([kmgt]?)b?\s*", str(s).lower())
    if not m:
        return default
    return int(m.group(1)) * 1024 ** " kmgt".index(m.group(2) or " ")


#: (file tuple, conf triple) -> estimated split count; scans of the same
#: files re-probe for free across the many query builds of one session.
_SCAN_WIDTH_MEMO: dict = {}


def scan_width(df: DataFrame) -> int:
    """Estimated partition count of a scan-rooted frame from FILE
    METADATA only — no ``.rdd`` (which forces a full analyze+physical-
    plan build on the driver per call: measured 6-38 ms, times every
    spread call of every query build). Replicates FilePartition's
    split arithmetic exactly for ≤256 files: maxSplit =
    min(maxPartitionBytes, max(openCost, weightedBytes/minPartitionNum)),
    files cut into maxSplit pieces, pieces packed size-descending with
    openCost padding, a partition closing when the next piece would
    overflow — validated piece-for-piece against the ``.rdd`` count on
    every testdata table at three SFs. Past 256 files the count is
    extrapolated (such scans are wide and pass the spread check either
    way).

    Precondition: ``df`` is SCAN-ROOTED — a file scan under narrow
    operators only (filter, project), so its width is the scan's split
    count. A frame with an exchange, join or union above its scans still
    lists ``inputFiles()``, but its width is not theirs, and the
    estimate is meaningless for it. A frame with no input files (an
    in-memory ``createDataFrame`` fixture) falls back to the exact
    ``.rdd`` count."""
    import math

    try:
        files = df.inputFiles()
    except Exception:  # pragma: no cover — exotic plans
        files = []
    if not files:
        return df.rdd.getNumPartitions()  # plan-time metadata, no job
    spark = df.sparkSession
    conf = spark.conf
    max_pb = _parse_bytes(
        conf.get("spark.sql.files.maxPartitionBytes", "128m"), 128 << 20
    )
    open_cost = _parse_bytes(
        conf.get("spark.sql.files.openCostInBytes", "4m"), 4 << 20
    )
    min_pn = int(
        conf.get("spark.sql.files.minPartitionNum", None)
        or conf.get("spark.sql.leafNodeDefaultParallelism", None)
        or spark.sparkContext.defaultParallelism
    )
    key = (tuple(sorted(files)), max_pb, open_cost, min_pn)
    w = _SCAN_WIDTH_MEMO.get(key)
    if w is not None:
        return w
    sizes = []
    for f in files[:256]:
        fs, p = store_fs.fs_for(spark, f)
        sizes.append(fs.getFileStatus(p).getLen())
    weighted = sum(sizes) + len(sizes) * open_cost
    max_split = min(max_pb, max(open_cost, weighted // max(min_pn, 1)))
    pieces = []
    for sz in sizes:  # FilePartition.splitFiles: cut each file
        n_whole, rem = divmod(sz, max(max_split, 1))
        pieces.extend([max_split] * int(n_whole))
        if rem or sz == 0:
            pieces.append(rem)
    pieces.sort(reverse=True)
    w, current = 1, 0  # FilePartition.getFilePartitions: greedy pack
    for pc in pieces:
        if current + pc > max_split and current > 0:
            w, current = w + 1, 0
        current += pc + open_cost
    if len(files) > 256:  # metadata cap: extrapolate — big scans are wide
        w = math.ceil(w * len(files) / 256)
    _SCAN_WIDTH_MEMO[key] = w
    return w


def spread_probe_side(df: DataFrame, factor: int = 1) -> DataFrame:
    """Spread the streamed (probe) side of a CPU-bound broadcast join
    across the cluster's cores. Blocked-EXACT pair operators (dd02/dd08/
    dd11/sim03/q29) enumerate a block's whole pair space while *probing*
    a broadcast build side, so their wall time is the probe side's scan
    parallelism — which for a small single-file input is ONE task no
    matter how many cores are idle. A round-robin repartition to
    ``defaultParallelism * factor`` (scale-adaptive: total cores locally
    AND on a cluster) spreads the enumeration; inputs already wider than
    that are left alone, so a 100 TB scan keeps its own parallelism. The
    count is explicit because AQE's advisory-size coalescing sees only
    bytes (tiny here) and would fold the stage back to one task."""
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism * factor
    if scan_width(df) >= n:  # file metadata only (r19) — no plan build
        return df
    return df.repartition(n)


def ordered_small(df: DataFrame, *cols) -> DataFrame:
    """Total order for a BOUNDED result set without a range exchange.

    A trailing ``.orderBy`` plans as Exchange rangepartitioning, and its
    range-boundary SAMPLING job re-runs the entire reduce-side stage
    below it before the sort job runs it again — the r19 job profile
    showed sim13's cosine-verify stage executing twice (28 s + 22 s task
    CPU) under a 111-row listing's sort. The guide (§2.4) names "an
    orderBy used only to make output deterministic" as an accidental
    shuffle; the order here is part of the declared result, so instead
    of removing it, carry the RESULT rows once through a single-partition
    round-robin exchange and sort within: no sampling job, one compute,
    identical rows in identical order (one sorted partition IS the total
    order; measured equal including order on sim12). Only for results
    bounded at any corpus scale (pair listings, accounting rows,
    top-k/grouped summaries); corpus-sized outputs use
    :func:`barriered_order`."""
    return df.repartition(1).sortWithinPartitions(*cols)


def barriered_order(df: DataFrame, *cols) -> DataFrame:
    """Total order for a CORPUS-SIZED result with the expensive subtree
    materialized first: a keyless round-robin exchange at the cluster's
    parallelism makes the computation below it its own query stage, so
    the following ``orderBy``'s range-boundary sampling job re-reads the
    materialized shuffle output instead of re-running the computation
    (AQE reuses the stage). Costs one extra exchange of the result rows;
    wins whenever the stage feeding the sort is compute-heavy (measured:
    sim12 4.81 s → 4.03 s). Scale-adaptive: defaultParallelism, not a
    local constant."""
    return df.repartition(
        df.sparkSession.sparkContext.defaultParallelism
    ).orderBy(*cols)


def dec2(name: str):
    from pyspark.sql import functions as F

    return F.col(name).cast("decimal(12,2)")


def one_minus(name: str):
    """(1 - col) in exact decimal, e.g. (1 - l_discount)."""
    from pyspark.sql import functions as F

    return F.lit(1).cast("decimal(4,2)") - F.col(name).cast("decimal(4,2)")


def one_plus(name: str):
    from pyspark.sql import functions as F

    return F.lit(1).cast("decimal(4,2)") + F.col(name).cast("decimal(4,2)")
