"""Registered Structured Streaming query — the streaming analog of the
chunk loop as a first-class ``queries()`` entry, not just library code.

The reference's whole loop is "process what's new, remember where you
stopped" (BatchChunker.pm:1228 cursor write-back; :1394-1460
process_past_max). Structured Streaming is Spark's native form of that
contract: the checkpoint is the durable cursor, ``Trigger.AvailableNow``
is "drain to current max and stop", and a watermark bounds the state the
engine must keep for late rows. ``streaming/incremental.py`` holds the
library surface (file streams, foreachBatch chunk dispatch, session
windows, applyInPandasWithState running totals) with cross-drain resume
tests in tests/test_streaming.py; this module registers one end-to-end
query so the driver inventory exercises the path.

A DuckDB oracle cannot run a streaming DRAIN — but it can adjudicate the
drained RESULT whenever that result is deterministic and integer/string
shaped: since round 9, st03 (exactly-once dedup), st05 (stream-static
enrichment counts), st06 (two-sided interval-join pairs), st09
(tumbling-window counts on an integer epoch-hour domain), st10
(custom-stateful per-user counts) and st11 (merging session-window
counts) sit on the driver's oracle track, each equal to its plain batch
relation. Since round 11 so do st01/st02/st04 themselves: timestamps
project to epoch-micros integers and the value sums ride an exact
FLOOR(value*100)-cents domain through the streaming state, so the VALUE
paths — windowed sum, custom-stateful accumulation, full session rows —
are adjudicated too, not just their counts. Only the sink-layout/
ingest-loop drains (st07/st08) remain rows-only, with batch equivalence
asserted in tests/test_streaming.py instead.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.driver_rows import driver_rows_df
from ..streaming.incremental import windowed_counts
from . import store_fs
from .registry import normalize_event_ts, query


class _state_partitions:
    """Temporarily pin ``spark.sql.shuffle.partitions`` while a STATEFUL
    streaming query starts.

    A stateful operator materializes one state-store instance PER shuffle
    partition, and every micro-batch pays a fixed open/commit cost per
    instance regardless of how little state it holds. Whether fewer
    partitions help depends on which cost dominates — measured at sf0.1,
    min-of-2: the stream-stream join (TWO buffered sides → 2× stores,
    trivial per-row work) went 6.6 s → 3.0 s at 8 partitions, while the
    Python-heavy applyInPandasWithState totals (1.7 → 3.1 s) and the
    session-window merge (1.9 → 5.2 s) REGRESSED — their cost is the
    parallel per-row work 32 partitions spread out. (Round-10 idle
    re-measurement: the session-window merge is actually INSENSITIVE in
    4..32 at idle — 1.31-1.68 s, shallow optimum at 16; the round-8
    regression was full-suite memory pressure. Sweep table in
    SCALING.md §Streaming.) So the knob is
    opt-in per drain (``n=None`` leaves the session value), and a
    deployment sizes it so per-store state fits in executor memory (the
    count is then FROZEN by the checkpoint: Spark refuses to re-shard
    existing state, so size for the target volume up front — at 100 TB
    that is hundreds). Batch queries are unaffected: the session value
    is restored on exit.

    SINGLE-THREADED ASSUMPTION (round-7 advice): this mutates the
    SESSION conf for the duration of the stream start, so any batch
    query planned CONCURRENTLY on the same SparkSession would silently
    pick up the narrowed partition count. Spark's stream start path
    reads the session conf (there is no per-writeStream override for
    ``spark.sql.shuffle.partitions``), so the scope-per-query fix does
    not exist upstream; a deployment driving streams and batch from one
    session concurrently should pin the count with a dedicated
    ``spark.newSession()`` for the streams instead of this helper.
    """

    def __init__(self, spark, n):
        self.spark, self.n = spark, n

    def __enter__(self):
        if self.n is not None:
            self.saved = self.spark.conf.get("spark.sql.shuffle.partitions")
            self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))

    def __exit__(self, *exc):
        if self.n is not None:
            self.spark.conf.set("spark.sql.shuffle.partitions", self.saved)


def _drain_memory_sink(
    agg, prefix, output_mode, finalize, arrow=False, state_partitions=None
):
    """Run a bounded ``availableNow`` drain of ``agg`` into a memory sink
    and hand back the finalized result as a standalone batch DataFrame.

    ONE copy of the drain lifecycle for every registered stream query: the
    memory sink pins its rows on the driver for the session's lifetime and
    the checkpoint dir is per-call garbage, so the result is copied out
    (``arrow=True`` for large results — row-object collect measured ~2 s
    slower at ~100k rows) and both are dropped; repeated calls (bench runs
    each query several times) don't accumulate. ``finalize`` maps the raw
    sink table to the output shape (projection/ordering)."""
    spark = agg.sparkSession
    sink = f"{prefix}_sink_{uuid.uuid4().hex}"
    ckpt = tempfile.mkdtemp(prefix=f"{prefix}_ckpt_")
    try:
        with _state_partitions(spark, state_partitions):
            q = (
                agg.writeStream.format("memory")
                .queryName(sink)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        result = finalize(spark.table(sink))
        # bounded: memory-sink results are aggregate/window cardinality by
        # each drain's construction (see per-drain docstrings)
        if arrow:
            # pandas + Arrow slices by record batch already
            return spark.createDataFrame(result.toPandas(), result.schema)
        return driver_rows_df(spark, result.collect(), result.schema)
    finally:
        spark.catalog.dropTempView(sink)
        shutil.rmtree(ckpt, ignore_errors=True)


def hourly_rollup_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain ``events`` through a watermarked tumbling-window aggregation
    and return the final windows as a batch DataFrame.

    Complete output mode + memory sink: with ``availableNow`` the run is a
    bounded drain, and complete mode emits every window at the end — append
    mode would hold back windows the final watermark hasn't passed, i.e.
    silently drop the tail of a bounded input. The memory sink is the
    demo/return-value path only (driver-sized: #windows × #event_types
    rows); a deployment points ``writeStream`` at parquet/Kafka instead.
    """
    path = os.path.join(sf_dir, "events.parquet")
    # TIMESTAMP(NANOS) parquet: same nanosAsLong read + µs truncation as the
    # batch reader — one shared rule (registry.normalize_event_ts), so the
    # batch plan st01 is pinned equal to cannot drift from this one.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        # no maxFilesPerTrigger: one-file-per-trigger multiplies the fixed
        # per-micro-batch cost by the file count at scale (see st09's note;
        # measured 34.8 s vs 1.9 s at the sf1 rehearsal for the same result)
        # testdata tables are single parquet FILES; the file-stream source
        # needs a directory-rooted GLOB (a bare file path makes it treat the
        # file itself as basePath and die with "'basePath' must be a
        # directory") — the glob anchors basePath at sf_dir instead.
        .parquet(os.path.join(sf_dir, "events.*"))
    )
    stream = normalize_event_ts(stream)
    agg = windowed_counts(stream, ts_col="ts", window="1 hour", watermark="2 hours")
    return _drain_memory_sink(
        agg,
        "st01",
        "complete",
        lambda sink_df: sink_df.select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            F.round("total_value", 6).alias("total_value"),
        ).orderBy("window_start", "event_type"),
    )


# --------------------------------------------------------------------------- #
# st01 on the ORACLE track (round-10 verdict #3): st09 adjudicates the        #
# windowed state operator's COUNTS; the blocker for the rest of st01 was its  #
# order-dependent double VALUE sum and timestamp window bounds. Neither is    #
# inherent: carry the sum as FLOOR(value*100) cents — integer addition is     #
# associative, so micro-batch arrival order cannot perturb it — and project   #
# the window to the epoch-hour integer (st09's rule). The timestamp-shaped    #
# demo output remains hourly_rollup_streamed (batch equivalence pinned in     #
# tests/test_streaming.py); the REGISTERED query is the exact-domain rollup.  #
# --------------------------------------------------------------------------- #
@query(
    "st01_stream_hourly_rollup",
    oracle="""
    SELECT epoch_us(ts) // 3600000000 AS window_hour,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
               AS total_value_cents
    FROM events
    GROUP BY window_hour, event_type
    ORDER BY window_hour, event_type
    """,
)
def st01_stream_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.incremental import stream_table, windowed_exact_rollup

    path = os.path.join(sf_dir, "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema
    # glob-anchored path + unset maxFilesPerTrigger: see st09's notes.
    stream = normalize_event_ts(
        stream_table(spark, os.path.join(sf_dir, "events.*"), schema=schema)
    )
    agg = windowed_exact_rollup(
        stream, ts_col="ts", window="1 hour", watermark="2 hours"
    )
    return _drain_memory_sink(
        agg,
        "st01",
        "complete",
        lambda sink_df: sink_df.select(
            F.expr(
                "CAST(unix_micros(window.start) div 3600000000 AS BIGINT)"
            ).alias("window_hour"),
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
            "total_value_cents",
        ).orderBy("window_hour", "event_type"),
    )


def user_totals_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain ``events`` through the applyInPandasWithState running-totals
    operator (streaming/incremental.py) and return each user's final
    totals — the registered end-to-end of SURVEY.md §2.C's "custom stateful
    operator" pattern: arbitrary per-key Python state, Arrow-batched,
    exactly-once via the checkpoint.

    The foreachBatch sink keeps the LAST emission per user (update mode
    re-emits a key's totals each micro-batch it appears in); the driver-side
    dict is bounded by #users — the same cardinality st01's window sink
    holds — not by #events. A deployment would point foreachBatch at an
    upsert-capable store (JDBC MERGE, Delta) instead.
    """
    from ..streaming.incremental import running_user_totals, stream_table

    path = os.path.join(sf_dir, "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema
    # glob-anchored path: see the basePath note in hourly_rollup_streamed
    stream = normalize_event_ts(
        stream_table(spark, os.path.join(sf_dir, "events.*"), schema=schema)
    )

    latest: dict = {}

    def sink(batch_df, _batch_id):
        # Arrow-batched transfer + one bulk dict update — no per-Row Python
        # loop, bounded by #users (round-6 verdict flagged the collect()
        # row loop as the last one in the package). The real-deployment
        # shape — foreachBatch upserting into a keyed store — is
        # streaming/sinks.py.
        pdf = batch_df.toPandas()
        # .tolist() yields Python natives (createDataFrame rejects numpy
        # scalars in verifySchema paths)
        latest.update(
            zip(
                pdf["user_id"].tolist(),
                zip(pdf["n_events"].tolist(), pdf["total_value"].tolist()),
            )
        )

    ckpt = tempfile.mkdtemp(prefix="st02_ckpt_")
    try:
        # session-default partitions on purpose: the Arrow/pandas per-row
        # work dominates here and narrowing to 8 measured 1.7 → 3.1 s
        # (see _state_partitions)
        q = (
            running_user_totals(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    rows = [(u, n, v) for u, (n, v) in sorted(latest.items())]
    return driver_rows_df(
        spark, rows, "user_id long, n_events long, total_value double"
    ).orderBy("user_id")


# --------------------------------------------------------------------------- #
# st02 on the ORACLE track (round-10 verdict #3): st10 adjudicates the        #
# custom-stateful operator's COUNT half; the VALUE half was rows-only         #
# because the Python state accumulated a double in arrival order. The exact   #
# sibling (running_user_totals_exact) computes value_cents Spark-side and     #
# carries int64 cents in state, so the full applyInPandasWithState path —     #
# Arrow state transfer, update-mode re-emission, last-emission-wins sink —    #
# lands on the batch GROUP BY bit-for-bit. The double-shaped demo remains     #
# user_totals_streamed (pinned to float tolerance in tests).                  #
# --------------------------------------------------------------------------- #
@query(
    "st02_stream_user_totals",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
               AS total_value_cents
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def st02_stream_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.incremental import running_user_totals_exact, stream_table

    path = os.path.join(sf_dir, "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema
    stream = normalize_event_ts(
        stream_table(spark, os.path.join(sf_dir, "events.*"), schema=schema)
    )

    latest: dict = {}

    def sink(batch_df, _batch_id):
        # Arrow-batched transfer + one bulk dict update, bounded by #users
        # (same last-emission-wins shape as user_totals_streamed).
        pdf = batch_df.toPandas()
        latest.update(
            zip(
                pdf["user_id"].tolist(),
                zip(pdf["n_events"].tolist(), pdf["total_value_cents"].tolist()),
            )
        )

    ckpt = tempfile.mkdtemp(prefix="st02_ckpt_")
    try:
        # session-default partitions: the Arrow/pandas per-row work dominates
        # (see _state_partitions — narrowing measured 1.7 → 3.1 s here)
        q = (
            running_user_totals_exact(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    rows = [(u, n, c) for u, (n, c) in sorted(latest.items())]
    return driver_rows_df(
        spark, rows, "user_id long, n_events long, total_value_cents long"
    ).orderBy("user_id")


def stream_dedup_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup: union the events stream WITH ITSELF
    (every row arrives twice) and drain through ``dropDuplicates`` on the
    key — the engine's dedup state must emit each event exactly once for
    the result to equal the batch distinct. This is the streaming form of
    dd01's exact dedup: at-least-once upstream delivery (replayed files,
    Kafka redeliveries) collapsed to exactly-once downstream.

    No watermark on purpose: the drain is bounded, so unbounded dedup
    state is the corpus's key set — the memory sink likewise holds the
    deduped table on the driver for the return value only. A deployment
    bounds state with ``withWatermark`` + ``dropDuplicatesWithinWatermark``
    and points writeStream at parquet/Kafka.
    """
    path = os.path.join(sf_dir, "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema
    glob = os.path.join(sf_dir, "events.*")
    one = normalize_event_ts(spark.readStream.schema(schema).parquet(glob))
    two = normalize_event_ts(spark.readStream.schema(schema).parquet(glob))
    doubled = one.union(two)
    deduped = doubled.dropDuplicates(["event_id"]).select(
        "event_id", "user_id", "event_type"
    )
    # arrow: ~100k deduped events at sf0.1.
    return _drain_memory_sink(
        deduped,
        "st03",
        "append",
        lambda sink_df: sink_df.orderBy("event_id"),
        arrow=True,
    )


@query(
    "st03_stream_dedup",
    # ORACLE-track since round 9 (st09 proved the pattern): the drained
    # output is timestamp-free and event_id is unique in the base table at
    # every gate scale, so the exactly-once dedup of the self-doubled
    # stream must reproduce the plain batch relation bit-for-bit — the
    # engine's dedup state is what's on trial, adjudicated by DuckDB.
    oracle="""
    SELECT event_id, user_id, event_type
    FROM events
    ORDER BY event_id
    """,
)
def st03_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact equality with the batch distinct over the same (doubled) input
    # is additionally pinned in tests/test_streaming.py.
    return stream_dedup_drain(spark, sf_dir)


def stream_sessions_drain(
    spark: SparkSession, sf_dir: str, exact: bool = False
) -> DataFrame:
    """Drain ``events`` through a gap-based SESSION-window aggregation
    (``F.session_window`` — Spark's native merging-window state operator,
    the streaming counterpart of q30's batch lag-cumsum sessionization).

    Unlike tumbling windows, session windows MERGE as rows arrive: the
    state store keeps open sessions per user and the watermark closes
    them. Complete mode + availableNow makes the bounded drain emit every
    closed session; the memory sink holds (user × session) rows — bounded
    by the batch result's own cardinality, same caveat as st01.
    """
    from ..streaming.incremental import sessionized, stream_table

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema
    # glob-anchored path: see the basePath note in hourly_rollup_streamed
    stream = normalize_event_ts(
        stream_table(spark, os.path.join(sf_dir, "events.*"), schema=schema)
    )
    agg = sessionized(stream, gap="30 minutes", watermark="2 hours")
    if exact:
        # Integer projection for the ORACLE track: session bounds as epoch
        # micros (the as-if-UTC instants — unix_micros is the session-tz-
        # proof rule every batch consumer shares, see st09). session.start
        # equals MIN(ts) by session_window construction, so the bounds plus
        # count ARE the full session row.
        finalize = lambda sink_df: sink_df.select(  # noqa: E731
            "user_id",
            F.unix_micros("session_start").alias("session_start_us"),
            F.unix_micros("session_end").alias("session_end_us"),
            F.col("n_events").cast("long").alias("n_events"),
        ).orderBy("user_id", "session_start_us")
    else:
        finalize = lambda sink_df: sink_df.select(  # noqa: E731
            "user_id",
            F.col("session.start").alias("session_window_start"),
            "n_events",
            "session_start",
            "session_end",
        ).orderBy("user_id", "session_window_start")
    # arrow: ~100k (user × session) rows at sf0.1; timestamps survive
    # because the helper passes the schema explicitly.
    return _drain_memory_sink(
        agg,
        "st04",
        "complete",
        finalize,
        arrow=True,
    )


# --------------------------------------------------------------------------- #
# st04 on the ORACLE track (round-10 verdict #3): st11 adjudicates per-user   #
# session COUNTS; the full session rows were rows-only because their bounds   #
# are timestamps. Projected to epoch micros they are pure BIGINTs, and        #
# st11's lag-scan recipe extends to whole rows: a session starts where the    #
# inter-event gap is >= 30 min (session_window's strict-overlap rule), a      #
# running sum of the starts numbers the sessions, and per-session MIN/MAX/    #
# COUNT reproduce (start, end, n_events) exactly. Both window clauses order   #
# by (us, event_id) so tied timestamps can't flip a session id. The           #
# timestamp-shaped demo remains stream_sessions_drain(exact=False), pinned    #
# equal to the batch session_window aggregation in tests.                     #
# --------------------------------------------------------------------------- #
@query(
    "st04_stream_sessions",
    oracle="""
    WITH e AS (
        SELECT user_id, epoch_us(ts) AS us, event_id FROM events
    ), m AS (
        SELECT user_id, us, event_id,
               CASE WHEN LAG(us) OVER w IS NULL
                         OR us - LAG(us) OVER w >= 1800000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ), s AS (
        SELECT user_id, us,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM m
    )
    SELECT user_id,
           CAST(MIN(us) AS BIGINT) AS session_start_us,
           CAST(MAX(us) AS BIGINT) AS session_end_us,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s
    GROUP BY user_id, sess_id
    ORDER BY user_id, session_start_us
    """,
)
def st04_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact equality with the BATCH session_window aggregation over the same
    # input (same Catalyst operator) is additionally pinned in
    # tests/test_streaming.py on the timestamp-shaped sibling.
    return stream_sessions_drain(spark, sf_dir, exact=True)


def stream_enrich_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC join: enrich the events stream with the customer
    dimension — the lookup-table pattern every streaming pipeline runs.

    The static side is a plain batch DataFrame; Spark broadcasts it into
    each micro-batch with no state store involvement (unlike
    stream-stream joins there is nothing to buffer — the dimension is
    re-resolvable at any time, so a late event still enriches correctly).
    Aggregated per (nation, event_type) so the memory sink stays
    dimension-bounded. user_id maps onto the customer key by modulus —
    the testdata's two id spaces are disjoint; a real deployment joins on
    the shared key directly.
    """
    from ..streaming.incremental import stream_table

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema
    stream = normalize_event_ts(
        stream_table(spark, os.path.join(sf_dir, "events.*"), schema=schema)
    )
    customers = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    n_cust = customers.count()
    # c_custkey is 0-based (0..n_cust-1) in the testdata, so the residue
    # maps directly — a +1 would orphan residue n_cust-1 and customer 0.
    enriched = stream.withColumn(
        "c_custkey", F.pmod(F.col("user_id"), F.lit(n_cust))
    ).join(F.broadcast(customers.select("c_custkey", "c_nationkey")), "c_custkey")
    agg = enriched.groupBy("c_nationkey", "event_type").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return _drain_memory_sink(
        agg,
        "st05",
        "complete",
        lambda sink_df: sink_df.orderBy("c_nationkey", "event_type"),
    )


@query(
    "st05_stream_enrich",
    # ORACLE-track since round 9: the (nation, event_type) counts are pure
    # integers/strings — user_id >= 0 in the testdata so pmod == %, and the
    # dimension join is deterministic — so the per-micro-batch broadcast
    # enrichment must reproduce the one-shot batch join+aggregate exactly.
    oracle="""
    SELECT c.c_nationkey, e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events e
    JOIN customer c
      ON c.c_custkey = e.user_id % (SELECT COUNT(*) FROM customer)
    GROUP BY c.c_nationkey, e.event_type
    ORDER BY c.c_nationkey, e.event_type
    """,
)
def st05_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    # equality with the equivalent BATCH broadcast join + aggregate is
    # additionally pinned in tests/test_streaming.py.
    return stream_enrich_drain(spark, sf_dir)


def stream_stream_join_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join: each user's purchase events joined to
    the click events that preceded them by ≤ 1 hour — attribution, the
    canonical two-stream pattern.

    Unlike the stream-static join (st05) BOTH sides buffer in the state
    store; the watermarks plus the time-range predicate bound that state —
    the engine evicts a buffered click once the purchase-side watermark
    passes click_ts + 1 hour, so state is O(events per watermark window),
    not O(stream). Inner join + append mode: matches emit as both sides
    arrive; availableNow drains to the final watermark.
    """
    from ..streaming.incremental import as_event_time, stream_table

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema
    glob = os.path.join(sf_dir, "events.*")

    def side(event_type: str, prefix: str):
        df = as_event_time(
            normalize_event_ts(stream_table(spark, glob, schema=schema)), "ts"
        )
        return (
            df.where(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", "2 hours")
        )

    clicks, purchases = side("click", "c"), side("purchase", "p")
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(F.col("c_user").alias("user_id"), "c_id", "p_id")
    return _drain_memory_sink(
        joined,
        "st06",
        "append",
        lambda sink_df: sink_df.orderBy("user_id", "c_id", "p_id"),
        arrow=True,
        # TWO buffered sides → 2 state stores per partition and trivial
        # per-row work: store overhead dominates (6.6 → 3.0 s at 8,
        # measured — see _state_partitions for the sizing rule)
        state_partitions=8,
    )


@query(
    "st06_stream_stream_join",
    # ORACLE-track since round 9: (user, click_id, purchase_id) matches
    # are pure integers and the attribution predicate is closed-form, so
    # the two-sided buffered state join — watermark eviction and all —
    # must emit exactly the batch interval self-join's pairs.
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) AS us, event_type
        FROM events
    )
    SELECT c.user_id, c.event_id AS c_id, p.event_id AS p_id
    FROM e c JOIN e p
      ON c.event_type = 'click' AND p.event_type = 'purchase'
     AND c.user_id = p.user_id
     AND p.us >= c.us AND p.us <= c.us + 3600000000
    ORDER BY c.user_id, c_id, p_id
    """,
)
def st06_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # equality with the equivalent BATCH interval self-join is additionally
    # pinned in tests/test_streaming.py.
    return stream_stream_join_drain(spark, sf_dir)


#: st07 ingest geometry — shared by the query and its oracle so the
#: closed form cannot drift from the drain parameters.
ST07_DRAINS = 2
ST07_BATCH_ROWS = 50
ST07_DOC_TOKENS = 40  # the corpusfeed default: every doc is exactly 40 words
ST07_BUDGET = 256


# ORACLE-gated since round 11 (mm02's stated-closed-form pattern applied to
# the ingest loop): the corpusfeed generates exactly ST07_DOC_TOKENS
# whitespace words per doc, so after two exactly-once drains the pack
# layout is a pure function of doc_id — start_tok = 40·i, packs =
# floor-division by the budget — and DuckDB states it from range(). What a
# green row adjudicates is everything that could break the equality: a
# cursor that re-processes or skips a batch shifts/duplicates spans, a
# packer that loses the persisted offset restarts the stream at 0, a
# non-deterministic connector changes the doc set. The replay-idempotence
# contract stays pinned in tests/test_streaming.py.
@query(
    "st07_stream_incremental_packing",
    oracle=f"""
    SELECT r.i AS doc_id,
           CAST({ST07_DOC_TOKENS} AS INT) AS n_tokens,
           CAST({ST07_DOC_TOKENS} * r.i AS BIGINT) AS start_tok,
           CAST({ST07_DOC_TOKENS} * (r.i + 1) AS BIGINT) AS end_tok,
           CAST(({ST07_DOC_TOKENS} * r.i) // {ST07_BUDGET} AS BIGINT)
               AS first_pack,
           CAST(({ST07_DOC_TOKENS} * (r.i + 1) - 1) // {ST07_BUDGET} AS BIGINT)
               AS last_pack
    FROM range({ST07_DRAINS * ST07_BATCH_ROWS}) r(i)
    ORDER BY doc_id
    """,
)
def st07_stream_incremental_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO availableNow drains of the corpusfeed connector through
    incremental sequence packing (streaming/incremental.py): the second
    drain must append to the global token stream exactly where the first
    stopped, so the returned layout is one contiguous packing of both
    drains' documents — early packs never move as the corpus grows. The
    batch-equivalence and replay-idempotence contracts are pinned in
    tests/test_streaming.py; this registers the operator so the ingest
    loop a 100 TB corpus actually runs has a registry entry and a bench
    number. (sf_dir is unused: the feed connector generates the corpus —
    deterministic, cursor in the checkpoint.)"""
    from ..sources.pydatasource import register_feed
    from ..streaming.incremental import incremental_pack_assign
    from .text import _tokens_spark

    register_feed(spark)
    base = tempfile.mkdtemp(prefix="st07_")
    out = os.path.join(base, "spans")
    state = os.path.join(base, "state.json")
    ck = os.path.join(base, "ck")

    def drain() -> None:
        feed = (
            spark.readStream.format("corpusfeed")
            .option("batchrows", ST07_BATCH_ROWS)
            .load()
            .select("doc_id", F.size(_tokens_spark("text")).alias("n_tokens"))
        )
        # batch geometry is known (the feed's batchrows), so the sink
        # computes each batch at a size-proportional partition count and
        # scans the Python source ONCE per batch (r18, guide §4) — the
        # count rows are two numerics, so thousands per task; capped at
        # cluster parallelism for production batch sizes.
        incremental_pack_assign(
            feed, out, state, ck, budget=ST07_BUDGET,
            batch_partitions=max(
                1,
                min(
                    spark.sparkContext.defaultParallelism,
                    ST07_BATCH_ROWS // 4096,
                ),
            ),
        )

    drain()
    drain()
    spans = spark.read.parquet(out).select(
        "doc_id", "n_tokens", "start_tok", "end_tok", "first_pack", "last_pack"
    )
    # Materialize before the tempdir is reclaimed: the drain is demo-sized
    # (two 50-doc batches — bounded), so an eager localCheckpoint holds the
    # 100 rows and the parquet/checkpoint dirs can go.
    spans = spans.localCheckpoint(eager=True)
    shutil.rmtree(base, ignore_errors=True)
    return spans.orderBy("doc_id")


#: st08 ingest geometry — shared by the query and its oracle so the
#: closed form cannot drift from the drain parameters (st07's device).
ST08_DRAINS = 2
ST08_BATCH_ROWS = 50
ST08_DOC_TOKENS = 40


# ORACLE-gated since round 12 (the round-11 verdict's ask #4): the sink's
# FILE layout is byte-size-dependent (write_sized_parquet splits on a
# measured bytes/row estimate — not statable), but everything the sink
# must not corrupt IS: after two exactly-once drains the table holds
# exactly docs [0, drains·batch_rows), each once, in batch = doc_id //
# batch_rows, with its text intact (token count 40 — the corpusfeed
# closed form). A green row therefore adjudicates the layout-invariant
# half of the sized sink end to end: the checkpoint cursor resuming drain
# 2 where drain 1 stopped, the per-batch overwrite dirs unioning into one
# hive-discovered table with no loss or duplication across files, and the
# text surviving the size-targeted split/write/read-back. The per-file
# split points and the replay-idempotence of a single batch dir stay
# pinned in tests/test_streaming.py.
@query(
    "st08_stream_sized_sink",
    oracle=f"""
    SELECT r.i AS doc_id,
           CAST(r.i // {ST08_BATCH_ROWS} AS BIGINT) AS batch,
           CAST({ST08_DOC_TOKENS} AS INT) AS n_tokens
    FROM range({ST08_DRAINS * ST08_BATCH_ROWS}) r(i)
    ORDER BY doc_id
    """,
)
def st08_stream_sized_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO availableNow drains of the corpusfeed through the SIZED parquet
    sink (streaming/sinks.sized_parquet_sink): streaming ingest whose
    output files are target-sized at write time — the small-files
    problem handled at the sink instead of by a nightly compactor.
    Exactly-once via per-batch overwrite dirs (same idempotency key as
    st07's packer). Returns the layout-invariant per-doc relation read
    back from the written table (doc_id, batch, token count) — the
    byte-size-dependent file split points are deliberately excluded
    (see the oracle note above). (sf_dir unused: the feed connector
    generates the corpus.)"""
    from ..sources.pydatasource import register_feed
    from ..streaming.sinks import sized_parquet_sink
    from .text import _tokens_spark

    register_feed(spark)
    base = tempfile.mkdtemp(prefix="st08_")
    out = os.path.join(base, "table")
    ck = os.path.join(base, "ck")

    def drain() -> None:
        feed = (
            spark.readStream.format("corpusfeed")
            .option("batchrows", ST08_BATCH_ROWS)
            .load()
            .select("doc_id", "text")
        )
        # known batch geometry → one Python-source scan per batch at a
        # size-proportional partition count (r18, guide §4); ~256 docs
        # per task keeps the short text rows vectorized, capped at
        # cluster parallelism for production batch sizes.
        sized_parquet_sink(
            feed, out, ck, target_mb=0.002,
            batch_partitions=max(
                1,
                min(
                    spark.sparkContext.defaultParallelism,
                    ST08_BATCH_ROWS // 256,
                ),
            ),
        )

    drain()
    drain()
    docs = (
        spark.read.option("basePath", out)
        .parquet(out)
        .select(
            "doc_id",
            F.col("batch").cast("long").alias("batch"),
            F.size(_tokens_spark("text")).alias("n_tokens"),
        )
    )
    # Materialize before the tempdir is reclaimed (bounded: two
    # batch_rows-sized drains — 100 rows at the demo geometry).
    docs = docs.localCheckpoint(eager=True)
    shutil.rmtree(base, ignore_errors=True)
    return docs.orderBy("doc_id")


# --------------------------------------------------------------------------- #
# st09: the FIRST streaming query on the ORACLE track. Streaming has been     #
# rows-only because window bounds are timestamps (session-tz stringification  #
# hazards) and total_value is an order-dependent double sum — but neither is  #
# inherent: after a bounded availableNow drain in complete mode the final    #
# windowed COUNTS are exactly the batch counts, and projecting the window    #
# to an INTEGER epoch-hour (unix_micros of the as-if-UTC window start —     #
# the same session-tz-proof rule every batch consumer uses) leaves nothing   #
# but BIGINTs for DuckDB to adjudicate. A green row certifies the whole     #
# streaming path — source, watermark, tumbling window, state store, drain   #
# — against the plain batch GROUP BY.                                        #
# --------------------------------------------------------------------------- #
@query(
    "st09_stream_hourly_counts",
    oracle="""
    SELECT epoch_us(ts) // 3600000000 AS window_hour,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY window_hour, event_type
    ORDER BY window_hour, event_type
    """,
)
def st09_stream_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.incremental import stream_table

    path = os.path.join(sf_dir, "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema
    # glob-anchored path: see the basePath note in hourly_rollup_streamed.
    # max_files_per_trigger stays UNSET: each micro-batch carries a fixed
    # ~0.3-3 s cost (trigger planning + state-store commit), so slicing a
    # bounded availableNow drain one file per batch multiplies that cost by
    # the file count — the sf1 rehearsal measured 34.8 s at mfpt=1 vs 4.0 s
    # at mfpt=8 vs 1.9 s unset for the identical final result (SCALING.md
    # "One-decade rehearsal"). mfpt is a CHUNKING knob: size it so a batch
    # is seconds-to-minutes of work (the reference's chunk-duration target
    # applied to trigger sizing), never 1-file-per-trigger at scale.
    stream = normalize_event_ts(
        stream_table(spark, os.path.join(sf_dir, "events.*"), schema=schema)
    )
    agg = windowed_counts(
        stream, ts_col="ts", window="1 hour", watermark="2 hours"
    )
    return _drain_memory_sink(
        agg,
        "st09",
        "complete",
        lambda sink_df: sink_df.select(
            # window.start is the as-if-UTC instant (as_event_time), so
            # unix_micros here is the same session-tz-proof epoch the
            # oracle's epoch_us(ts) computes
            F.expr(
                "CAST(unix_micros(window.start) div 3600000000 AS BIGINT)"
            ).alias("window_hour"),
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
        ).orderBy("window_hour", "event_type"),
    )


# --------------------------------------------------------------------------- #
# st10: the CUSTOM STATEFUL operator (applyInPandasWithState) on the ORACLE   #
# track — st02's integer half. st02's total_value is an order-dependent      #
# double sum, but its n_events is exact: per-user event counts carried in    #
# arbitrary Python state across micro-batches must land on the plain batch   #
# GROUP BY. A green row certifies the §2.C custom-stateful-operator path —  #
# Arrow state transfer, update-mode re-emission, last-emission-wins sink —  #
# end to end against DuckDB.                                                 #
# --------------------------------------------------------------------------- #
@query(
    "st10_stream_user_counts",
    oracle="""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def st10_stream_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return user_totals_streamed(spark, sf_dir).select(
        "user_id", "n_events"
    ).orderBy("user_id")


# --------------------------------------------------------------------------- #
# st11: the MERGING session-window state operator on the ORACLE track —       #
# st04's integer half. Per-user SESSION COUNTS under a 30-minute gap are     #
# pure integers, and the session_window merge rule is exactly expressible    #
# as a lag scan: windows [t, t+gap) overlap iff the inter-event gap is       #
# STRICTLY under the gap, so a new session starts at diff >= gap (note the   #
# >=; q30's batch sessionization uses the >-rule — one more reason the      #
# boundary semantics deserve a driver-adjudicated pin). A green row          #
# certifies state merging across micro-batches against DuckDB's closed      #
# form.                                                                      #
# --------------------------------------------------------------------------- #
@query(
    "st11_stream_session_counts",
    oracle="""
    WITH e AS (
        SELECT user_id, epoch_us(ts) AS us, event_id FROM events
    ), m AS (
        SELECT user_id,
               CASE WHEN LAG(us) OVER w IS NULL
                         OR us - LAG(us) OVER w >= 1800000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    )
    SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions
    FROM m GROUP BY user_id ORDER BY user_id
    """,
)
def st11_stream_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        stream_sessions_drain(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy("user_id")
    )


#: st12 ingest geometry — shared by the query and its oracle (st07's
#: device). Gram width 6 is measured collision-free on the corpusfeed:
#: zero natural cross-doc duplicate 6-grams among the first 200 docs
#: (deterministic corpus, so a fixed fact), while the planted copies
#: duplicate ENTIRE documents — so n_removed is exactly 40 for a copy
#: and exactly 0 otherwise, a pure function of doc_id.
ST12_DRAINS = 2
ST12_BATCH_ROWS = 50
ST12_DOC_TOKENS = 40
ST12_GRAM_N = 6
ST12_PLANT_MOD = 5


def _pre_batch_store_dirs(
    store: str, bid: int, spark: "SparkSession | None" = None
) -> "list[str]":
    """The gram-store dirs a batch may read: seed + batches STRICTLY
    earlier. Replay safety (round-13 advisor, medium): a foreachBatch
    replay after the store write but BEFORE the checkpoint commit finds
    the batch's own b{bid} dir in store/* — reading it would count the
    batch's own grams as "already ingested", cut every doc, and commit a
    DIFFERENT output than the first attempt. Restricting the read to the
    pre-batch store makes the replayed batch see exactly what the crashed
    attempt saw. Listing goes through the path's own FileSystem when a
    session is passed (the fold-path rule below); the os.listdir fallback
    stays for session-less unit tests on local paths."""
    if spark is not None:
        names = sorted(_out_names(spark, store))
    else:
        names = sorted(os.listdir(store))
    return [
        os.path.join(store, d)
        for d in names
        if d == "seed" or (d.startswith("b") and d[1:].isdigit()
                           and int(d[1:]) < bid)
    ]


# ORACLE-gated from birth (round 13): the streaming form of the tx36
# substring-dedup ingest loop. The corpusfeed's planted-duplicate mode
# re-serves an earlier document's text for every doc_id ≡ 4 (mod 5) —
# source id-4 in the first drain (the WITHIN-batch first-occurrence
# rule), id-50 in the second (the PERSISTED gram store, written by drain
# one and read back across the restart). What a green row adjudicates:
# the checkpoint cursor feeding each doc exactly once across two
# separate availableNow drains, the gram store surviving the parquet
# round-trip between drains (a lost store batch flips a second-drain
# copy's n_removed from 40 to 0), the per-batch overwrite dirs unioning
# into one table with no loss or duplication, and the dedup joins
# themselves. kept_text is deliberately NOT in the relation — the
# corpusfeed's LCG word streams are not SQL-statable; the integer halves
# are (the st03/st05 projection rule).
@query(
    "st12_stream_gram_store_ingest",
    oracle=f"""
    SELECT r.i AS doc_id,
           CAST(r.i // {ST12_BATCH_ROWS} AS BIGINT) AS batch,
           CAST({ST12_DOC_TOKENS} AS INT) AS n_tokens,
           CAST(CASE WHEN r.i % {ST12_PLANT_MOD} = {ST12_PLANT_MOD - 1}
                     THEN {ST12_DOC_TOKENS} ELSE 0 END AS INT) AS n_removed,
           CAST(CASE WHEN r.i % {ST12_PLANT_MOD} = {ST12_PLANT_MOD - 1}
                     THEN 0 ELSE {ST12_DOC_TOKENS} END AS INT) AS n_kept
    FROM range({ST12_DRAINS * ST12_BATCH_ROWS}) r(i)
    ORDER BY doc_id
    """,
)
def st12_stream_gram_store_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TWO availableNow drains of the planted-duplicate corpusfeed through
    the incremental substring-dedup ingest loop (tx36's machinery as a
    stream): per micro-batch, spans duplicating the persisted gram store
    or an earlier same-batch document are cut, kept docs land in a
    per-batch overwrite dir (exactly-once under replay), and the batch's
    new distinct grams append to the store for every later batch to probe.
    (sf_dir unused: the feed connector generates the corpus.)

    Round-13 contract, kept adjudicated as-is; st13 below is the SAME
    loop re-seated on the round-14 bucketed postings store, which is
    what a persisted deployment should use (flat per-batch probes,
    purge/compact — gram_store.py, SCALING.md).

    COMPARISON-ONLY since round 15 (round-14 verdict #6): this is the
    measured-worse "old" arm of the store-decade comparison (probe
    1.24-1.6×/decade vs the bucketed store's 0.94×) — kept oracle-green
    in the local gate replica as the contract anchor, but excluded from
    the per-round bench artifact (bench.py _BENCH_COMPARISON_ONLY); st13
    times the same loop on the deployment-grade store."""
    from ..sources.pydatasource import register_feed
    from ..streaming.incremental import process_available
    from .text import (
        _positional_grams,
        incremental_substring_dedup,
    )

    register_feed(spark)
    base = tempfile.mkdtemp(prefix="st12_")
    out = os.path.join(base, "docs")
    store = os.path.join(base, "grams")
    ck = os.path.join(base, "ck")
    # seed an empty store so the first batch's semi join has a table
    driver_rows_df(spark, [], "gram string").write.options(
        **store_fs.STORE_PARQUET_OPTIONS
    ).parquet(os.path.join(store, "seed"))

    def ingest(batch_df: DataFrame, bid: int) -> None:
        docs = batch_df.select("doc_id", "text")
        gram_store = spark.read.parquet(
            *_pre_batch_store_dirs(store, bid, spark)
        ).select("gram")
        res = incremental_substring_dedup(
            docs, gram_store, n=ST12_GRAM_N
        ).withColumn("batch", F.lit(int(bid)).cast("long"))
        res.write.mode("overwrite").options(
            **store_fs.STORE_PARQUET_OPTIONS
        ).parquet(os.path.join(out, f"b{bid}"))
        # the store extension derives from the COMMITTED output (re-read,
        # not recomputed), so a replayed batch re-derives the identical
        # gram set into the same overwrite dir
        kept = (
            spark.read.parquet(os.path.join(out, f"b{bid}"))
            .where(F.col("n_kept") > 0)
            .select("doc_id", F.col("kept_text").alias("text"))
        )
        (
            _positional_grams(kept, ST12_GRAM_N)
            .select("gram")
            .distinct()
            .write.mode("overwrite")
            .options(**store_fs.STORE_PARQUET_OPTIONS)
            .parquet(os.path.join(store, f"b{bid}"))
        )

    def drain() -> None:
        feed = (
            spark.readStream.format("corpusfeed")
            .option("batchrows", ST12_BATCH_ROWS)
            .option("doctokens", ST12_DOC_TOKENS)
            .option("plantmod", ST12_PLANT_MOD)
            .option("plantspan", ST12_BATCH_ROWS)
            .load()
        )
        process_available(feed, ingest, ck)

    for _ in range(ST12_DRAINS):
        drain()
    result = spark.read.parquet(os.path.join(out, "*")).select(
        "doc_id", "batch", "n_tokens", "n_removed", "n_kept"
    )
    # Materialize before the tempdir goes (bounded: 100 rows — the st07
    # demo-geometry rule)
    result = result.localCheckpoint(eager=True)
    shutil.rmtree(base, ignore_errors=True)
    return result.orderBy("doc_id")


# --------------------------------------------------------------------------- #
# Versioned output folding for per-batch ingest sinks (round-13 verdict #3). #
# The exactly-once ingest loop writes one overwrite dir per micro-batch      #
# (out/b0, out/b1, …) — replay-safe, but file count grows with stream AGE.   #
# fold_outputs() bin-packs every batch dir below a high-water mark into ONE  #
# sized parquet dir whose NAME carries the mark (compacted_v{upto}); the     #
# dir's _SUCCESS is the commit marker, so the fold is idempotent under       #
# crash/replay (a re-run of a committed fold only sweeps leftovers), and     #
# readers never double-count: they take the newest committed fold plus the  #
# batch dirs AT OR ABOVE its mark, ignoring folded-but-unswept b dirs.      #
# --------------------------------------------------------------------------- #


def _out_names(spark: SparkSession, out: str) -> "list[str]":
    """Child names of ``out`` (empty if it does not exist yet). Like all
    fold/read maintenance IO here it goes through ``out``'s own
    FileSystem (:mod:`store_fs`), so the ingest sink round-trips on
    hdfs:// and s3a:// exactly like the stores do."""
    fs, jp = store_fs.fs_for(spark, out)
    if not fs.exists(jp):
        return []
    return [st.getPath().getName() for st in fs.listStatus(jp)]


def _fs_rm(spark: SparkSession, path: str) -> None:
    """Best-effort recursive delete (the sweep half of the fold: a failed
    sweep leaves only leftovers that readers already ignore)."""
    try:
        store_fs.delete(spark, path)
    except Exception:  # noqa: BLE001 — sweep is advisory, like rmtree(ignore_errors=True)
        pass


def _committed_folds(spark: SparkSession, out: str) -> "list[int]":
    """Versions of committed fold dirs (ascending). Commit = _SUCCESS."""
    fs, _ = store_fs.fs_for(spark, out)
    vs = []
    for d in _out_names(spark, out):
        if d.startswith("compacted_v") and d[11:].isdigit() and fs.exists(
            spark._jvm.org.apache.hadoop.fs.Path(
                os.path.join(out, d, "_SUCCESS")
            )
        ):
            vs.append(int(d[11:]))
    return sorted(vs)


def _batch_dirs(spark: SparkSession, out: str) -> "dict[int, str]":
    return {
        int(d[1:]): os.path.join(out, d)
        for d in _out_names(spark, out)
        if d.startswith("b") and d[1:].isdigit()
    }


def fold_outputs(
    spark: SparkSession, out: str, upto: int, target_mb: float = 128.0
) -> None:
    """Fold batch dirs ``b{i}`` for i < ``upto`` (plus any prior fold) into
    ``compacted_v{upto}`` at ~target_mb files, then sweep the folded
    sources. Run from the ingest loop's maintenance window (between
    drains / every K batches — the reference's between-chunk idle time).
    Safe orderings only: the versioned dir is WRITTEN AND COMMITTED before
    anything is deleted, a torn write is healed by the re-run's overwrite,
    and a crash after commit leaves only sweepable leftovers that readers
    already ignore. All IO goes through ``out``'s own Hadoop FileSystem —
    the output dirs of a real ingest loop live on object storage."""
    from ..sources.maintenance import write_sized_parquet

    folds = _committed_folds(spark, out)
    done = folds[-1] if folds else 0
    if upto > done:
        srcs = [os.path.join(out, f"compacted_v{done}")] if done else []
        srcs += [
            p
            for i, p in sorted(_batch_dirs(spark, out).items())
            if done <= i < upto
        ]
        if srcs:
            write_sized_parquet(
                spark.read.parquet(*srcs),
                os.path.join(out, f"compacted_v{upto}"),
                target_mb,
            )
            folds = _committed_folds(spark, out)
    # sweep everything a committed fold covers (also heals prior crashes)
    done = folds[-1] if folds else 0
    for v in folds[:-1]:
        _fs_rm(spark, os.path.join(out, f"compacted_v{v}"))
    for i, p in _batch_dirs(spark, out).items():
        if i < done:
            _fs_rm(spark, p)


def read_outputs(spark: SparkSession, out: str) -> DataFrame:
    """The ingest sink's table: newest committed fold + batch dirs at or
    above its mark (folded-but-unswept dirs are excluded by the version
    arithmetic, so a crashed sweep can never double-count)."""
    folds = _committed_folds(spark, out)
    done = folds[-1] if folds else 0
    dirs = [os.path.join(out, f"compacted_v{done}")] if done else []
    dirs += [
        p for i, p in sorted(_batch_dirs(spark, out).items()) if i >= done
    ]
    return spark.read.parquet(*dirs)


ST13_DRAINS = 2
ST13_BATCH_ROWS = 50
ST13_DOC_TOKENS = 40
ST13_GRAM_N = 6
ST13_PLANT_MOD = 5
ST13_PURGE_STRIDE = 10


# ORACLE-gated from birth (round 14): st12's ingest loop re-seated on the
# DELETION-CAPABLE bucketed postings store (gram_store.py), with the store
# purged + compacted and the output dirs folded INSIDE the between-drain
# maintenance window. Planting geometry (R=50, mod 5, span R): drain-2
# copy j ∈ {54,59,…,99} resolves transitively to source j-54 ∈ {0,5,…,45}.
# Between drains the sources ≡ 0 (mod 10) are purged and the store
# compacted, so drain-2 copies split in half: j % 10 == 4 → source purged,
# its grams un-claimed, n_removed flips 40 → 0 (the round-13 verdict-#2
# adjudication device, inverted st12); j % 10 == 9 → source LIVE and
# probed through the compacted base partition, n_removed stays 40 — which
# is what proves compaction RETAINED the live half, not just dropped the
# purged one. The fold means drain-2's batch also replays correctly
# against a table that is now one compacted dir + its own overwrite dir.
@query(
    "st13_stream_purged_store_ingest",
    oracle=f"""
    SELECT r.i AS doc_id,
           CAST(r.i // {ST13_BATCH_ROWS} AS BIGINT) AS batch,
           CAST({ST13_DOC_TOKENS} AS INT) AS n_tokens,
           CAST(CASE
                WHEN r.i % {ST13_PLANT_MOD} != {ST13_PLANT_MOD - 1} THEN 0
                WHEN r.i < {ST13_BATCH_ROWS} THEN {ST13_DOC_TOKENS}
                WHEN r.i % {ST13_PURGE_STRIDE} = {ST13_PLANT_MOD - 1} THEN 0
                ELSE {ST13_DOC_TOKENS} END AS INT) AS n_removed,
           CAST({ST13_DOC_TOKENS} - CASE
                WHEN r.i % {ST13_PLANT_MOD} != {ST13_PLANT_MOD - 1} THEN 0
                WHEN r.i < {ST13_BATCH_ROWS} THEN {ST13_DOC_TOKENS}
                WHEN r.i % {ST13_PURGE_STRIDE} = {ST13_PLANT_MOD - 1} THEN 0
                ELSE {ST13_DOC_TOKENS} END AS INT) AS n_kept
    FROM range({ST13_DRAINS * ST13_BATCH_ROWS}) r(i)
    ORDER BY doc_id
    """,
)
def st13_stream_purged_store_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TWO availableNow drains of the planted-duplicate corpusfeed through
    the POSTINGS-store ingest loop, with the full maintenance window
    exercised between them: purge (tombstone) the sources of drain-2's
    planted copies at stride 10, compact the store (fold to the base
    partition, physical delete), and fold drain-1's output dir into a
    sized parquet (fold_outputs). (sf_dir unused: the feed generates the
    corpus.)"""
    from ..sources.pydatasource import register_feed
    from ..streaming.incremental import process_available
    from .gram_store import GramPostingsStore

    register_feed(spark)
    base = tempfile.mkdtemp(prefix="st13_")
    out = os.path.join(base, "docs")
    ck = os.path.join(base, "ck")
    store = GramPostingsStore(
        spark,
        f"gs_st13_{uuid.uuid4().hex[:10]}",
        os.path.join(base, "postings"),
    ).create()

    def ingest(batch_df: DataFrame, bid: int) -> None:
        docs = batch_df.select("doc_id", "text")
        res = store.ingest_batch(docs, bid, n=ST13_GRAM_N).withColumn(
            "batch", F.lit(int(bid)).cast("long")
        )
        res.write.mode("overwrite").options(
            **store_fs.STORE_PARQUET_OPTIONS
        ).parquet(os.path.join(out, f"b{bid}"))

    def drain() -> None:
        feed = (
            spark.readStream.format("corpusfeed")
            .option("batchrows", ST13_BATCH_ROWS)
            .option("doctokens", ST13_DOC_TOKENS)
            .option("plantmod", ST13_PLANT_MOD)
            .option("plantspan", ST13_BATCH_ROWS)
            .load()
        )
        process_available(feed, ingest, ck)

    drain()
    # -- maintenance window (between-chunk idle, reference discipline) ----
    store.purge(
        spark.range(0, ST13_BATCH_ROWS, ST13_PURGE_STRIDE).select(
            F.col("id").alias("doc_id")
        )
    )
    store.compact()
    fold_outputs(spark, out, upto=1)
    drain()
    result = read_outputs(spark, out).select(
        "doc_id", "batch", "n_tokens", "n_removed", "n_kept"
    )
    # Materialize before the tempdir goes (bounded: 100 rows — the st07
    # demo-geometry rule)
    result = result.localCheckpoint(eager=True)
    store.drop()
    shutil.rmtree(base, ignore_errors=True)
    return result.orderBy("doc_id")


ST14_DIMS = 16
ST14_BATCH_ROWS = 48  # must be a multiple of ST14_DIMS (see the oracle)


# ORACLE-gated from birth (round 17): st13's streaming ingest loop
# re-seated on the SECOND persisted store — the embedding/IVF store gets
# its streaming arm, completing the streaming × store matrix cell the
# gram store closed in round 14. The vecfeed plants one-hot residue
# vectors (same residue = exact duplicate, cos 1.0; cross-residue
# orthogonal, cos 0.0 — both labels and cosines are pure id arithmetic),
# so every dedup-on-arrival outcome is closed-form:
#   drain 1 (ids 0..R-1): the first arrival of each residue survives —
#     ids 0..D-1 — and BOOTSTRAPS the store (train on survivors, save
#     under the lease, watermark established);
#   maintenance window: the EVEN-residue survivors are physically purged
#     (compact_persisted_embedding_store: write-aside, checked swap);
#   drain 2 (ids R..2R-1, R ≡ 0 mod D): odd-residue arrivals are dups of
#     the live store (dropped — compaction RETAINED the odd half), while
#     even residues are un-claimed, so the first batch-2 arrival R + r
#     survives and is appended THROUGH the reloaded routing state past
#     the watermark.
# The adjudicated relation is the live vectors half after the second
# drain — a purge that missed a row, an append that lost one, a stream
# cursor that replayed batch 1, or a load that repaired wrongly each
# changes the 2·D-row id set. Recall is exact on this geometry: identical
# vectors probe identical cells through any trained centroids.
@query(
    "st14_stream_embedding_store_ingest",
    oracle=f"""
    SELECT CAST(CASE WHEN r.i % 2 = 1 THEN r.i
                ELSE {ST14_BATCH_ROWS} + r.i END AS BIGINT) AS vec_id,
           CAST(r.i AS BIGINT) AS label
    FROM range({ST14_DIMS}) r(i)
    ORDER BY vec_id
    """,
)
def st14_stream_embedding_store_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TWO availableNow drains of the planted one-hot vector feed through
    the PERSISTED embedding store's ingest loop — bootstrap save on the
    first batch, leased dedup-on-arrival appends after — with the full
    maintenance window between them: physically purge the even-residue
    survivors and compact the store. (sf_dir unused: the feed generates
    the vectors.) Per-batch cost is O(increment + touched cells); the
    production continuation of this loop is ivf_drift_stats /
    ivf_needs_retrain feeding retrain_embedding_store once appends
    outgrow the trained geometry.

    Replay contract: a crash between the foreachBatch commit and the
    checkpoint commit re-delivers the batch, and the loop is idempotent
    THROUGH the dedup — every replayed arrival is a dup of its own
    committed copy, the survivor set comes back empty, and
    append_embedding_store no-ops an empty batch without advancing the
    watermark (pinned in tests/test_gram_store.py). A cleared
    checkpoint replaying PRE-PURGE ids is the one replay the store
    refuses: purged ids are never reclaimable (the keyset discipline),
    and the refusal is loud."""
    from ..sources.pydatasource import register_vecfeed
    from ..streaming.incremental import process_available
    from .similarity import (
        EMBED_DIM,
        SIM06_NPROBE,
        IvfIndex,
        _probe_entries,
        append_embedding_store,
        build_ivf_index,
        compact_persisted_embedding_store,
        incremental_embedding_near_dups,
        load_embedding_store,
        norm,
        save_embedding_store,
    )

    register_vecfeed(spark)
    base = tempfile.mkdtemp(prefix="st14_")
    store_path = os.path.join(base, "store")
    ck = os.path.join(base, "ck")
    jp = spark._jvm.org.apache.hadoop.fs.Path

    def ingest(batch_df: DataFrame, bid: int) -> None:
        from .gram_store import _free_local_checkpoint

        # ONE Python-source scan per micro-batch (r18, guide §4): the
        # vecfeed batch is re-planned per ACTION otherwise, and this loop
        # runs many — the bootstrap's kmeans passes, the dedup probe, the
        # verify join, the survivor anti-join, both half writes. Each
        # re-plan is a fresh BatchEvalPython scan through the Python
        # worker. Bounded: one micro-batch of rows; freed on exit.
        # Partitioning is made batch-size-proportional (the simple stream
        # reader hands the batch over at cluster default parallelism — 32
        # near-empty partitions for a 48-row batch, so every downstream
        # job paid 32x its per-task fixed cost): ~16 vectors per task,
        # capped at the cluster's parallelism for production batch sizes.
        nparts = max(
            1,
            min(
                spark.sparkContext.defaultParallelism,
                ST14_BATCH_ROWS // 16,
            ),
        )
        emb = (
            batch_df.coalesce(nparts)
            .withColumn("nrm", norm(F.col("embedding")))
            .localCheckpoint(eager=True)
        )
        try:
            _ingest_checkpointed(emb)
        finally:
            _free_local_checkpoint(emb)

    def _ingest_checkpointed(emb: DataFrame) -> None:
        fs, _ = store_fs.fs_for(spark, store_path)
        if not fs.exists(jp(f"{store_path}/vectors")):
            # bootstrap: dedup WITHIN the first batch (empty store side),
            # save the survivors — one lease spans the store. ONE
            # training, reused for the saved routing state: candidacy is
            # by identical vectors probing identical cells, which holds
            # through ANY trained centroids, so retraining on the
            # survivor subset buys nothing here (floor trim: the batch
            # size is known, so clusters is passed and the sizing
            # count() job skipped).
            trained = build_ivf_index(emb, clusters=16)
            # materialize the trained centroids once: every downstream
            # action (probe, verify join, both half writes) would
            # otherwise re-run the kmeans DAG (bounded: 16 rows)
            index = IvfIndex(
                trained.centroids.localCheckpoint(eager=True),
                trained.supers,
                trained.k_child,
            )
            empty_e = driver_rows_df(
                spark, [], "vec_id long, centroid_id long"
            )
            empty_v = driver_rows_df(
                spark,
                [],
                "vec_id long, label long, embedding array<float>, "
                "nrm double",
            )
            pairs = incremental_embedding_near_dups(
                emb, index, empty_e, empty_v
            )
            dup = pairs.select(F.col("vec_b").alias("vec_id")).distinct()
            # materialize the survivors once: the save's two half writes
            # + watermark agg would each re-run the dedup join pipeline
            # (bounded: <= one batch of rows)
            surv = emb.join(dup, "vec_id", "left_anti").localCheckpoint(
                eager=True
            )
            entries = _probe_entries(surv, index, SIM06_NPROBE).select(
                F.col("doc_id").alias("vec_id"),
                F.col("bucket").alias("centroid_id"),
            )
            save_embedding_store(store_path, index, entries, surv)
            return
        loaded, e_store, v_store = load_embedding_store(spark, store_path)
        # store count from the maintained stats file + the feed's max
        # batch rows: an exact-or-over bound for the verify side's
        # broadcast gate — skips the per-batch size-probe job (r19)
        n_store = store_fs.read_int(spark, f"{store_path}/n_vecs")
        pairs = incremental_embedding_near_dups(
            emb, loaded, e_store, v_store, n_vecs=n_store + ST14_BATCH_ROWS
        )
        dup = pairs.select(F.col("vec_b").alias("vec_id")).distinct()
        # same one-materialization rule for the append path (bounded)
        surv = emb.join(dup, "vec_id", "left_anti").localCheckpoint(
            eager=True
        )
        append_embedding_store(
            store_path,
            _probe_entries(surv, loaded, SIM06_NPROBE).select(
                F.col("doc_id").alias("vec_id"),
                F.col("bucket").alias("centroid_id"),
            ),
            surv,
        )

    def drain() -> None:
        feed = (
            spark.readStream.format("vecfeed")
            .option("batchrows", ST14_BATCH_ROWS)
            .option("dims", EMBED_DIM)  # index build is EMBED_DIM-wide
            .option("classes", ST14_DIMS)
            .load()
        )
        process_available(feed, ingest, ck)

    drain()
    # -- maintenance window: physical purge of the even-residue
    # survivors + compact (write-aside, checked swap, under the lease) --
    compact_persisted_embedding_store(
        spark,
        store_path,
        spark.range(0, ST14_DIMS, 2).select(F.col("id").alias("vec_id")),
        n_deleted=ST14_DIMS // 2,  # known by construction: skip the sizing scan
    )
    drain()
    _, _, v_live = load_embedding_store(spark, store_path)
    result = v_live.select("vec_id", "label").orderBy("vec_id")
    # Materialize before the tempdir goes (bounded: 2·D = 32 rows)
    result = result.localCheckpoint(eager=True)
    shutil.rmtree(base, ignore_errors=True)
    return result
