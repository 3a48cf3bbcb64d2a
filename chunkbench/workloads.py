"""The three chunk-loop workloads.

Each workload owns its inputs under ``work_dir``.  ``setup()`` generates
them from the seed (timed by the caller, repeated for a median), ``rep()``
runs the operation once, closed-loop with one client, and checks its
output; the check itself is outside the timed region.  Every call into a
library layer goes through ``tracer.span``.
"""

from __future__ import annotations

import os
import re
import shutil
import time
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbix_batchchunker_spark import BatchChunker, ConcurrentChunker
from dbix_batchchunker_spark.operators.dedup import near_dup_pairs
from dbix_batchchunker_spark.operators.gram_store import GramPostingsStore
from dbix_batchchunker_spark.sources.parquet import (
    committed_chunks,
    compensating_chunk_overwrite,
    read_committed,
    uncommitted_residue,
)

from . import inputs as I
from .envstamp import steal_s, tree_cpu_s
from .stats import busy_ratio, median
from .tracing import Tracer


class Stopwatch:
    """Wall seconds, process-tree CPU seconds and the machine's steal
    seconds of one timed region."""

    def __init__(self) -> None:
        self._start = self._read()

    @staticmethod
    def _read() -> "tuple[float, float, float]":
        return time.perf_counter(), tree_cpu_s(), steal_s()

    def stop(self) -> "tuple[float, float, float]":
        """``(wall_s, cpu_s, steal_s)`` since construction."""
        return tuple(b - a for a, b in zip(self._start, self._read()))


@dataclass
class RepResult:
    wall_s: float
    cpu_s: float
    steal_s: float
    chunk_s: "list[float]"  # per-chunk latency samples
    ops: int  # chunk operations attempted
    retries: int
    ok: bool
    stored_bytes: int = 0
    layer: "dict[str, float]" = field(default_factory=dict)


class Hooks:
    """``on_message``/``on_progress`` receivers: ladder counts and retries."""

    _ACTION = re.compile(r"\b(processed|skipped|shrunk|expanded), ")

    def __init__(self) -> None:
        self.ladder = {k: 0 for k in ("processed", "skipped", "shrunk", "expanded", "single_id")}
        self.retries = 0
        self.progress = 0.0
        self.hook_s = 0.0  # time spent inside the hooks

    def on_message(self, msg: str) -> None:
        t0 = time.perf_counter()
        m = self._ACTION.search(msg)
        if m:
            self.ladder[m.group(1)] += 1
        elif msg.startswith("WARNING: Processing a single ID"):
            self.ladder["single_id"] += 1
        elif msg.startswith("Retrying after error"):
            self.retries += 1
        self.hook_s += time.perf_counter() - t0

    def on_progress(self, done: int, total: int) -> None:
        t0 = time.perf_counter()
        self.progress = done / total
        self.hook_s += time.perf_counter() - t0


def _serial_loop_layer(hooks: Hooks, range_s: float, loop_s: float, coderef_s: float,
                       chunks: int) -> "dict[str, float]":
    """The chunker layer's metrics for the serial loop: ``loop_s`` of
    ``execute`` minus ``coderef_s`` spent in the coderef is the loop's own
    time; the ladder counts come from the ``on_message`` status lines."""
    lad = hooks.ladder
    decisions = lad["processed"] + lad["skipped"] + lad["shrunk"] + lad["expanded"]
    return {
        "chunker.range_s": range_s,
        "chunker.loop_self_s": loop_s - coderef_s,
        "chunker.loop_self_ms_per_chunk": 1000 * (loop_s - coderef_s) / max(1, chunks),
        **{f"chunker.ladder.{k}": v for k, v in lad.items()},
        "chunker.useful_probe_ratio": lad["processed"] / max(1, decisions),
        "chunker.retries": hooks.retries,
        "chunker.hook_s": hooks.hook_s,
    }


def _completion_intervals(start: float, ends: "list[float]") -> "list[float]":
    out, prev = [], start
    for e in ends:
        out.append(e - prev)
        prev = e
    return out


class Workload:
    name = ""
    why = ""
    #: Unreported reps before measuring.  The JIT keeps making the JVM's
    #: code faster for a minute; the count takes each workload past the
    #: steepest part of that (about 20 s on 4 cores).
    warm_reps = 2

    def __init__(self, spark, work_dir: str, cache_dir: str, seed: int, scale: I.Scale) -> None:
        self.spark = spark
        self.work = work_dir
        self.cache_dir = cache_dir
        self.seed = seed
        self.scale = scale
        self.rows = 0
        self.input_bytes = 0
        self.expected: dict = {}

    def fresh_dir(self, *parts: str) -> str:
        path = os.path.join(self.work, *parts)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        return path

    def cache_key(self) -> str:
        return f"{self.name}-{I.fingerprint(self.scale)}-{self.seed}"


# --------------------------------------------------------------------------- #
class AdaptiveSparseScan(Workload):
    name = "adaptive_sparse_scan"
    why = ("clustered sparse keys with a hot id: the COUNT probe and resize "
           "ladder do most of the work; read-only")

    def setup(self) -> None:
        cols = I.sparse_table(self.seed, self.scale)
        self.path = self.fresh_dir("input", "sparse")
        I.write_sparse(cols, self.path)
        self.expected = I.cached(self.cache_dir, self.cache_key(), lambda: I.sparse_expected(cols))
        self.rows = self.expected["rows"]
        self.input_bytes = 16 * self.rows  # two int64 columns
        self.df = self.spark.read.parquet(self.path)
        self.df.agg(F.count(F.lit(1))).first()

    def rep(self, tr: Tracer) -> RepResult:
        hooks = Hooks()
        acc = {"count": 0, "sum_id": 0}
        ends: "list[float]" = []
        coderef_s = [0.0]

        def coderef(_bc, chunk_df) -> None:
            with tr.span("coderef") as s:
                r = chunk_df.where(F.col("val") % I.SPARSE_FILTER_MOD != 0).agg(
                    F.count(F.lit(1)), F.sum("id")
                ).first()
            acc["count"] += r[0]
            acc["sum_id"] += r[1] or 0
            coderef_s[0] += s.wall
            ends.append(time.perf_counter())

        bc = BatchChunker(
            df=self.df, id_name="id", coderef=coderef,
            chunk_size=self.scale.sparse_chunk, target_time=0, sleep=0,
            on_message=hooks.on_message, on_progress=hooks.on_progress,
        )
        sw = Stopwatch()
        with tr.span("chunker.range") as rs:
            bc.calculate_ranges()
        t1 = time.perf_counter()
        with tr.span("chunker.loop") as ls:
            bc.execute()
        wall, cpu, steal = sw.stop()
        ok = acc["count"] == self.expected["count"] and acc["sum_id"] == self.expected["sum_id"]
        return RepResult(
            wall_s=wall,
            cpu_s=cpu,
            steal_s=steal,
            chunk_s=_completion_intervals(t1, ends),
            ops=len(ends),
            retries=hooks.retries,
            ok=ok,
            stored_bytes=I.dir_bytes(self.path),
            layer=_serial_loop_layer(hooks, rs.wall, ls.wall, coderef_s[0], len(ends)),
        )


# --------------------------------------------------------------------------- #
class ChunkedUpdateCommit(Workload):
    name = "chunked_update_commit"
    why = ("dense keys, ~4 rows per key, UPDATE...JOIN committed per chunk "
           "through two in-flight workers: the parquet sink and the concurrent "
           "dispatcher work, the probe does not")

    warm_reps = 3
    MAX_IN_FLIGHT = 2
    #: Buckets of the committed table per chunk: the commit's atomic unit.
    BUCKETS_PER_CHUNK = 2

    def setup(self) -> None:
        lineitem, orders = I.lineitem_orders(self.seed, self.scale)
        root = self.fresh_dir("input", "update")
        I.write_lineitem_orders(lineitem, orders, root)
        self.expected = I.cached(
            self.cache_dir, self.cache_key(), lambda: I.update_expected(lineitem, orders)
        )
        self.rows = self.expected["rows"]
        self.input_bytes = 25 * self.rows  # 8+4+4+8+1 bytes of column values
        self.li = self.spark.read.parquet(os.path.join(root, "lineitem"))
        self.orders = self.spark.read.parquet(os.path.join(root, "orders"))
        self.li.agg(F.count(F.lit(1))).first()
        self._rep = 0

    def rep(self, tr: Tracer) -> RepResult:
        sc = self.scale
        chunk = sc.orders // sc.update_chunks
        width = chunk // self.BUCKETS_PER_CHUNK
        self._rep += 1
        path = self.fresh_dir("out", f"lineitem_committed_{self._rep}")
        deprecated = self.orders.where(
            (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") < I.DEPRECATED_MAX_PRICE)
        ).select(F.col("o_orderkey").alias("dep_key"))
        hooks = Hooks()
        durations: "list[float]" = []
        build_s: "list[float]" = []
        commit_s: "list[float]" = []

        def commit_chunk(_bc, start: int, end: int) -> None:
            # runs on a ConcurrentChunker worker thread
            with tr.span("coderef", parent=dispatch) as cs:
                with tr.span("parquet.plan_build") as ps:
                    chunk_df = self.li.where(F.col("l_orderkey").between(start, end))
                    updated = chunk_df.join(
                        F.broadcast(deprecated), F.col("l_orderkey") == F.col("dep_key"), "left"
                    ).select(
                        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice_cents",
                        F.when(F.col("dep_key").isNotNull(), "D")
                        .otherwise(F.col("l_returnflag")).alias("l_returnflag"),
                    )
                with tr.span("parquet.commit") as ms:
                    compensating_chunk_overwrite(
                        updated, path, f"{start}-{end}", "l_orderkey", width, min_id=1,
                        id_range=(start, end), is_tail=end == sc.orders,
                    )
            build_s.append(ps.wall)
            commit_s.append(ms.wall)
            durations.append(cs.wall)

        bc = BatchChunker(
            coderef=commit_chunk, chunk_size=chunk, min_id=1, max_id=sc.orders,
            target_time=0, min_chunk_percent=0, sleep=0,
            on_message=hooks.on_message, on_progress=hooks.on_progress,
        )
        cc = ConcurrentChunker(bc, max_in_flight=self.MAX_IN_FLIGHT)
        sw = Stopwatch()
        with tr.span("concurrent.execute") as dispatch:
            cc.execute()
        wall, cpu, steal = sw.stop()

        got = read_committed(self.spark, path).agg(
            F.count(F.lit(1)),
            F.sum(F.when(F.col("l_returnflag") == "D", 1).otherwise(0)),
            F.sum(F.crc32(F.concat_ws("|", *I.UPDATE_COLUMNS))),
        ).first()
        ok = (
            tuple(got) == (self.expected["rows"], self.expected["flagged"], self.expected["crc_sum"])
            and uncommitted_residue(path) == []
            and len(committed_chunks(path)) == sc.update_chunks
        )
        stored = I.dir_bytes(path)
        files = I.dir_files(path)
        shutil.rmtree(path, ignore_errors=True)
        return RepResult(
            wall_s=wall, cpu_s=cpu, steal_s=steal, chunk_s=durations, ops=len(durations),
            retries=hooks.retries,
            ok=ok, stored_bytes=stored,
            layer={
                "concurrent.busy_ratio": busy_ratio(durations, wall, self.MAX_IN_FLIGHT),
                "parquet.plan_build_s": sum(build_s),
                "parquet.commit_s": sum(commit_s),
                "parquet.commit_p50_s": median(commit_s),
                "parquet.bytes_written": stored,
                "parquet.files_written": files,
                "chunker.retries": hooks.retries,
                "chunker.hook_s": hooks.hook_s,
            },
        )


# --------------------------------------------------------------------------- #
class CorpusDedupPipeline(Workload):
    name = "corpus_dedup_pipeline"
    why = ("two corpus drops onboarded into one gram store, purge+compact "
           "between them, near-dup pairs over two planted clusters (~5k pairs): "
           "store IO and the LSH shuffle dominate, the chunk loop is negligible")

    #: Its first rep is as long as the other workloads' two warm-up reps.
    warm_reps = 1
    #: Store buckets: one per core here, not the 16 sized for a large corpus.
    N_BUCKETS = 4

    def setup(self) -> None:
        c = I.corpus(self.seed, self.scale)
        root = self.fresh_dir("input", "corpus")
        I.write_corpus(c, root)
        self.expected = I.cached(
            self.cache_dir, self.cache_key(), lambda: I.corpus_expected(c)
        )
        self.purged = c["purged"]
        self.rows = self.expected["docs"]
        self.input_bytes = self.expected["input_bytes"]
        self.drops = [self.spark.read.parquet(os.path.join(root, d)) for d in ("drop1", "drop2")]
        for d in self.drops:
            d.agg(F.count(F.lit(1))).first()
        self._rep = 0

    def rep(self, tr: Tracer) -> RepResult:
        self._rep += 1
        base = self.fresh_dir("out", f"corpus_{self._rep}")
        results: "list[DataFrame]" = []  # ingest_batch returns them checkpointed
        hooks = Hooks()
        ends: "list[list[float]]" = []
        ingest_s: "list[list[float]]" = []
        layer: "dict[str, float]" = {}
        bid = [0]
        loop = {"range_s": 0.0, "loop_s": 0.0, "coderef_s": 0.0}

        def ingest(_bc, chunk_df) -> None:
            bid[0] += 1
            with tr.span("coderef") as cs:
                with tr.span("gram_store.ingest") as s:
                    results.append(store.ingest_batch(chunk_df, bid=bid[0]))
            loop["coderef_s"] += cs.wall
            ingest_s[-1].append(s.wall)
            ends[-1].append(time.perf_counter())

        sw = Stopwatch()
        store = GramPostingsStore(
            self.spark, f"bench_grams_{self._rep}", os.path.join(base, "postings"),
            n_buckets=self.N_BUCKETS,
        ).create()
        samples: "list[float]" = []
        for i, drop in enumerate(self.drops):
            if i == 1:  # maintenance window between the drops
                with tr.span("gram_store.purge") as s:
                    store.purge(self.spark.createDataFrame([(d,) for d in self.purged], "doc_id long"))
                layer["gram_store.purge_s"] = s.wall
                with tr.span("gram_store.compact") as s:
                    store.compact()
                layer["gram_store.compact_s"] = s.wall
                bid[0] = store.max_real_batch()
            ends.append([])
            ingest_s.append([])
            bc = BatchChunker(
                df=drop, id_name="doc_id", coderef=ingest, chunk_size=self.scale.drop_docs,
                target_time=0, min_chunk_percent=0, sleep=0,
                on_message=hooks.on_message, on_progress=hooks.on_progress,
            )
            with tr.span("chunker.range") as rs:
                bc.calculate_ranges()
            t_loop = time.perf_counter()
            with tr.span("chunker.loop") as ls:
                bc.execute()
            loop["range_s"] += rs.wall
            loop["loop_s"] += ls.wall
            samples += _completion_intervals(t_loop, ends[-1])
        result = reduce(DataFrame.unionByName, results)
        kept = result.where(
            (F.col("n_kept") > 0) & ~F.col("doc_id").isin(self.purged)
        ).select("doc_id", F.col("kept_text").alias("text"))
        with tr.span("dedup.near_dup") as s:
            pairs = near_dup_pairs(kept).select("doc_a", "doc_b").collect()
        layer["dedup.near_dup_s"] = s.wall
        wall, cpu, steal = sw.stop()

        # bounded: one row per input document
        rows = result.select("doc_id", "n_removed", "n_kept").collect()
        got = {r[0]: (r[1], r[2]) for r in rows}
        ok = (
            len(rows) == self.expected["docs"]
            and I.result_crc(got) == self.expected["result_crc"]
            and sorted([a, b] for a, b in pairs) == self.expected["pairs"]
        )
        store_bytes = I.dir_bytes(store.path)
        chunks = sum(map(len, ends))
        layer.update(_serial_loop_layer(hooks, chunks=chunks, **loop))
        layer.update({
            "gram_store.ingest_s": sum(map(sum, ingest_s)),
            "gram_store.ingest_p50_s": median(ingest_s[0] + ingest_s[1]),
            "gram_store.ingest_growth": median(ingest_s[1]) / median(ingest_s[0]),
            "gram_store.bytes_on_disk": store_bytes,
            "gram_store.files": I.dir_files(store.path),
            "dedup.pairs_out": len(pairs),
        })
        store.drop()
        shutil.rmtree(base, ignore_errors=True)
        return RepResult(
            wall_s=wall, cpu_s=cpu, steal_s=steal, chunk_s=samples, ops=chunks,
            retries=hooks.retries,
            ok=ok, stored_bytes=store_bytes, layer=layer,
        )


WORKLOADS = {w.name: w for w in (AdaptiveSparseScan, ChunkedUpdateCommit, CorpusDedupPipeline)}
