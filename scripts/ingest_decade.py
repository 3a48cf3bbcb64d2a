"""Ingest-loop store-decade rehearsal (round-13 verdict #6, closing #1's
"done =" clause): the incremental substring-dedup ingest loop is the newest
100 TB-critical path, and the round-14 bucketed postings store
(operators/gram_store.py) exists precisely to stop its per-batch cost
growing with corpus AGE. This script MEASURES that claim: a FIXED batch is
ingested against a store at two sizes a decade apart, through

* ``old``  — the round-13 st12 layout: distinct grams in a plain
  (unbucketed) parquet dir, probed with ``incremental_substring_dedup``'s
  ``pos ⋉ store`` left-semi join, which shuffles/sorts the CORPUS-scale
  store side on every batch;
* ``new``  — ``GramPostingsStore.ingest_batch``: the bucketed scan feeds
  ``live_grams``/``probe_hits`` with zero store-side Exchange (plan pinned
  in tests/plan_fingerprints.json), so only the batch side shuffles —
  AND the new path's number includes the work the old number omits
  (localCheckpoint of the result + the postings claim write), so the
  comparison under-sells the new path rather than flattering it.

Honest-measurement rules inherited from SCALING.md:
* the decade-2 corpus uses a per-shard-disjoint vocab transform (token
  suffix ``~k``) so gram volume truly scales x10 and cross-shard grams
  never collide (the q23/tx35 amplification lesson);
* every timed run ends in ``sum(n_removed)/sum(n_kept)`` — a join-FORCING
  aggregate, never a bare count() Catalyst could eliminate joins under;
* the batch duplicates shard-0 docs (present in BOTH store sizes), so the
  removal volume is an INVARIANT across scales and paths — printed and
  asserted, a wrong join silently changing semantics fails the rehearsal;
* repeat attempts of the new path reuse the SAME batch id: the probe reads
  partitions ``batch < bid`` (the replay rule), so attempt k sees the
  identical pre-batch store attempt 1 did.

Usage (idle container):

    python scripts/ingest_decade.py              # build (once) + measure
    python scripts/ingest_decade.py --rebuild    # force store rebuild

Results: .scale/ingest_decade.json + per-row prints for SCALING.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SRC = "/root/testdata/sf0.1/documents.parquet"
BASE = os.path.join(REPO, ".scale", "ingest_decade")
SCALES = {1: 10, 10: 100}  # decade label -> shard count (5k docs/shard)
BATCH_ID_BASE = 1_000_000_000
ATTEMPTS = 3


def _store_docs(spark, n_shards):
    """Shard-preserving amplification of the sf0.1 documents: shard 0 is
    the raw corpus; shard k suffixes every token with ``~k`` (disjoint
    vocab => gram volume scales with shards) and shifts doc_id."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(SRC).select("doc_id", "text")
    max_id = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    shards = [docs]
    for k in range(1, n_shards):
        shards.append(
            docs.select(
                (F.col("doc_id") + F.lit(k * max_id)).alias("doc_id"),
                F.array_join(
                    F.transform(
                        F.split("text", " "),
                        lambda w: F.concat(w, F.lit(f"~{k}")),
                    ),
                    " ",
                ).alias("text"),
            )
        )
    out = shards[0]
    for s in shards[1:]:
        out = out.unionByName(s)
    return out


def _batch_docs(spark):
    """The FIXED probe batch: every shard-0 doc with even id, re-keyed
    above all store ids (=> fully-duplicated against EITHER store size),
    plus every odd-id doc with novel ``^n``-suffixed vocab (=> zero store
    hits). Same frame at both scales."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(SRC).select("doc_id", "text")
    copies = docs.where(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + F.lit(BATCH_ID_BASE)).alias("doc_id"), "text"
    )
    fresh = docs.where(F.col("doc_id") % 2 == 1).select(
        (F.col("doc_id") + F.lit(BATCH_ID_BASE)).alias("doc_id"),
        F.array_join(
            F.transform(
                F.split("text", " "), lambda w: F.concat(w, F.lit("^n"))
            ),
            " ",
        ).alias("text"),
    )
    return copies.unionByName(fresh)


def _onboard_docs(spark):
    """The onboarding-arm corpus: like ``_batch_docs`` but CHAIN-FREE, so
    serial and wave onboarding must agree EXACTLY (the fuzz-pinned
    contract). ``_batch_docs``' fresh docs share the source corpus's
    natural vocabulary — odd docs DO duplicate each other's grams, so a
    chunked onboarding's removals depend on chunk layout (measured live:
    1-batch 169056 / 6-chunk serial 166668 / wave 168525 removed). Here
    every fresh doc gets a doc-UNIQUE suffix, so the only duplication is
    copies-vs-store: every copy is removed in full through the store
    probe no matter the chunking, making sum_removed a closed-form
    invariant (total copy tokens)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(SRC).select("doc_id", "text")
    copies = docs.where(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + F.lit(BATCH_ID_BASE)).alias("doc_id"), "text"
    )
    fresh = docs.where(F.col("doc_id") % 2 == 1).select(
        (F.col("doc_id") + F.lit(BATCH_ID_BASE)).alias("doc_id"),
        F.array_join(
            F.transform(
                F.split("text", " "),
                lambda w: F.concat(
                    w, F.lit("^f"), F.col("doc_id").cast("string")
                ),
            ),
            " ",
        ).alias("text"),
    )
    expected_removed = (
        copies.select(
            F.sum(F.size(F.split("text", " "))).alias("s")
        ).collect()[0]["s"]
    )
    return copies.unionByName(fresh), int(expected_removed)


def _agg(df):
    from pyspark.sql import functions as F

    row = df.agg(
        F.sum("n_removed").alias("r"), F.sum("n_kept").alias("k")
    ).collect()[0]
    return int(row["r"]), int(row["k"])


def main():
    from pyspark.sql import functions as F

    from dbix_batchchunker_spark.operators.gram_store import (
        GramPostingsStore,
    )
    from dbix_batchchunker_spark.operators.text import (
        _SSD_N,
        _positional_grams,
        incremental_substring_dedup,
    )
    from dbix_batchchunker_spark.session import get_spark

    spark = get_spark(
        master="local[32]",
        shuffle_partitions=32,
        extra_conf={
            "spark.driver.memory": os.environ.get(
                "SPARK_DRIVER_MEMORY", "24g"
            ),
        },
    )

    if "--rebuild" in sys.argv and os.path.isdir(BASE):
        shutil.rmtree(BASE)
    os.makedirs(BASE, exist_ok=True)

    results = {"scales": {}}
    batch = _batch_docs(spark).localCheckpoint(eager=True)
    results["batch_docs"] = batch.count()

    for decade, n_shards in SCALES.items():
        tag = f"x{decade}"
        old_dir = os.path.join(BASE, f"old_grams_{tag}")
        new_dir = os.path.join(BASE, f"postings_{tag}")
        store = GramPostingsStore(
            spark, f"gs_decade_{tag}", os.path.join(new_dir, "postings")
        )
        built = {}
        if not os.path.exists(os.path.join(old_dir, "_SUCCESS")):
            sd = _store_docs(spark, n_shards)
            t0 = time.monotonic()
            # old layout: distinct grams, plain parquet (st12 round-13)
            _positional_grams(sd, _SSD_N).select(
                "gram"
            ).distinct().write.mode("overwrite").parquet(old_dir)
            built["old_build_s"] = round(time.monotonic() - t0, 2)
            shutil.rmtree(new_dir, ignore_errors=True)
            t0 = time.monotonic()
            store.create()
            store.add_postings(sd, bid=0)
            built["new_build_s"] = round(time.monotonic() - t0, 2)
        else:
            store.register()
        store_grams = spark.read.parquet(old_dir)
        n_grams = store_grams.count()
        n_postings = store.postings().count()

        # Three measured paths, attempts INTERLEAVED old→probe→new per
        # round (the bench.py A/B leader-alternation rule: a fixed order
        # of whole blocks lets JVM warmup systematically flatter whichever
        # path runs last; interleaving spreads it).
        from dbix_batchchunker_spark.operators.text import (
            _apply_span_removal,
        )

        def run_old():
            # old path: unbucketed semi join (probe only, no claim write)
            return _agg(incremental_substring_dedup(batch, store_grams))

        def run_probe():
            # new path, probe only: apples-to-apples with the old number
            pos = _positional_grams(batch, _SSD_N)
            store_hits = store.probe_hits(pos, before_batch=1).select(
                "doc_id", "nt", "p"
            )
            firsts = pos.groupBy("gram").agg(
                F.min("doc_id").alias("first_doc")
            )
            batch_hits = (
                pos.join(firsts, "gram")
                .where(F.col("doc_id") > F.col("first_doc"))
                .select("doc_id", "nt", "p")
            )
            return _agg(
                _apply_span_removal(
                    batch, store_hits.unionByName(batch_hits), _SSD_N
                )
            )

        def run_new():
            # new path: full ingest_batch (probe + checkpoint + claim)
            return _agg(store.ingest_batch(batch, bid=1))

        old_times, probe_times, new_times = [], [], []
        old_sums, probe_sums, new_sums = set(), set(), set()
        for _ in range(ATTEMPTS):
            for times, sums, fn in (
                (old_times, old_sums, run_old),
                (probe_times, probe_sums, run_probe),
                (new_times, new_sums, run_new),
            ):
                t0 = time.monotonic()
                sums.add(fn())
                times.append(time.monotonic() - t0)

        assert len(old_sums) == 1 and old_sums == new_sums == probe_sums, (
            f"semantics drift at {tag}: old={old_sums} "
            f"probe={probe_sums} new={new_sums}"
        )
        removed, kept = next(iter(old_sums))

        # ---- onboarding arm (round-14 verdict #5): a CHAIN-FREE corpus
        # (see _onboard_docs — the probe corpus above is NOT chain-free:
        # its fresh docs share natural vocabulary) split into chunks and
        # onboarded INTO the existing store, serial (tx38's BatchChunker
        # loop) vs wave-parallel (tx40's ConcurrentChunker + reconcile).
        # Chain-free ⇒ the compositions must agree EXACTLY (the
        # fuzz-pinned contract) and sum_removed is closed-form (total
        # copy tokens). Since round 16 the onboard operators offset bids
        # past max_real_batch() and probe the true pre-run snapshot (the
        # verdict-#1 non-fresh-store fix), so a LEFTOVER partition from a
        # previous attempt WOULD contaminate the next one's probe — the
        # onboarded partitions are therefore dropped after EVERY attempt
        # (outside the timed window), restoring the cached store each
        # time. Wave phase 1 is eager (ingest_batch checkpoints), the
        # reconcile join is lazy — timing the construction vs the
        # aggregate splits the two phases.
        from dbix_batchchunker_spark.operators.gram_store import (
            onboard_corpus_serial,
            onboard_corpus_wave,
        )

        ONBOARD_CHUNKS = 6
        ob_docs, ob_expected_removed = _onboard_docs(spark)
        ob_docs = ob_docs.localCheckpoint(eager=True)

        def run_serial_onboard():
            return _agg(
                onboard_corpus_serial(
                    ob_docs, store, target_chunks=ONBOARD_CHUNKS
                )
            ), None

        def run_wave_onboard():
            t0 = time.monotonic()
            out = onboard_corpus_wave(
                ob_docs, store, target_chunks=ONBOARD_CHUNKS, max_in_flight=4
            )
            phase1_s = time.monotonic() - t0
            return _agg(out), phase1_s

        def run_wave_fixpoint():
            # chain-free corpus: fixpoint == once, so the delta vs the
            # wave row is the pure cost of the convergence machinery
            # (one extra cut-nothing verification pass + its bookkeeping)
            return _agg(
                onboard_corpus_wave(
                    ob_docs,
                    store,
                    target_chunks=ONBOARD_CHUNKS,
                    max_in_flight=4,
                    reconcile="fixpoint",
                )
            ), None

        def restore_store():
            # restore the cached store: drop every onboarded partition —
            # after EVERY attempt now that bids offset past the live
            # partition list (see the arm comment above)
            store.drop_batches_above(0)

        # drop run_new's batch=1 before the onboarding arm: the offset-
        # aware onboard operators would otherwise fold it into base_bid
        # and probe it, shifting the measured read set
        restore_store()

        serial_times, wave_times, fix_times, phase1_times = [], [], [], []
        serial_sums, wave_sums, fix_sums = set(), set(), set()
        for _ in range(ATTEMPTS):
            for times, sums, fn in (
                (serial_times, serial_sums, run_serial_onboard),
                (wave_times, wave_sums, run_wave_onboard),
                (fix_times, fix_sums, run_wave_fixpoint),
            ):
                t0 = time.monotonic()
                s, phase1_s = fn()
                times.append(time.monotonic() - t0)
                sums.add(s)
                if phase1_s is not None:
                    phase1_times.append(phase1_s)
                restore_store()
        assert serial_sums == wave_sums == fix_sums, (
            f"onboard semantics drift at {tag}: serial={serial_sums} "
            f"wave={wave_sums} fixpoint={fix_sums}"
        )
        ob_removed = next(iter(serial_sums))[0]
        assert ob_removed == ob_expected_removed, (
            f"onboard removal invariant broke at {tag}: "
            f"{ob_removed} != {ob_expected_removed}"
        )

        # ---- high-chunk-count arm (round-15 verdict #5): the SAME wave
        # onboarding at target_chunks=64 through BOTH result paths — the
        # in-memory union (a 64-ary driver plan) vs the per-chunk sink +
        # read_outputs (one parquet scan). Identical aggregates are
        # asserted; the wall split shows what the plan-size tax costs and
        # what the sink buys back at chunk counts a 100 TB onboarding
        # actually has. x10 only: the arm measures per-chunk overhead ×
        # plan size, which does not change with store age — one scale
        # suffices and keeps the rehearsal's wall bounded.
        import tempfile as _tf

        hc_union_times, hc_sink_times, hc_sums = [], [], set()
        for _ in range(ATTEMPTS if decade == 10 else 0):
            t0 = time.monotonic()
            hc_sums.add(
                _agg(
                    onboard_corpus_wave(
                        ob_docs, store, target_chunks=64, max_in_flight=4
                    )
                )
            )
            hc_union_times.append(time.monotonic() - t0)
            restore_store()
            sink_root = _tf.mkdtemp(prefix="ob_sink_")
            t0 = time.monotonic()
            hc_sums.add(
                _agg(
                    onboard_corpus_wave(
                        ob_docs,
                        store,
                        target_chunks=64,
                        max_in_flight=4,
                        sink_dir=os.path.join(sink_root, "out"),
                    )
                )
            )
            hc_sink_times.append(time.monotonic() - t0)
            restore_store()
            shutil.rmtree(sink_root, ignore_errors=True)
        assert not hc_sums or hc_sums == {next(iter(serial_sums))}, (
            f"high-chunk-count drift at {tag}: {hc_sums}"
        )

        row = {
            "shards": n_shards,
            "store_grams": n_grams,
            "store_postings": n_postings,
            "sum_removed": removed,
            "sum_kept": kept,
            "old_probe_s": round(min(old_times), 2),
            "new_probe_s": round(min(probe_times), 2),
            "new_ingest_s": round(min(new_times), 2),
            "serial_onboard_s": round(min(serial_times), 2),
            "wave_onboard_s": round(min(wave_times), 2),
            "wave_fixpoint_s": round(min(fix_times), 2),
            **(
                {
                    "wave64_union_s": round(min(hc_union_times), 2),
                    "wave64_sink_s": round(min(hc_sink_times), 2),
                }
                if hc_union_times
                else {}
            ),
            "wave_phase1_s": round(min(phase1_times), 2),
            # reconcile share of the BEST wave attempt's wall
            "wave_reconcile_s": round(
                wave_times[phase1_times.index(min(phase1_times))]
                - min(phase1_times),
                2,
            ),
            **built,
        }
        if "--compact" in sys.argv:
            # maintenance-window cost: purge 1% of store docs, compact.
            # DESTRUCTIVE (the fold rewrites the store and absorbs the
            # timed batch's claims), so it runs last and invalidates the
            # cached stores for the next rehearsal run.
            store.purge(
                store.postings()
                .select("doc_id")
                .where(F.col("doc_id") % 100 == 0)
                .distinct()
            )
            t0 = time.monotonic()
            store.compact()
            row["compact_s"] = round(time.monotonic() - t0, 2)
            row["post_compact_postings"] = store.postings().count()
            shutil.rmtree(old_dir, ignore_errors=True)  # force rebuild
        results["scales"][tag] = row
        print(tag, json.dumps(row))
        store.drop()
        if "--compact" in sys.argv:
            shutil.rmtree(new_dir, ignore_errors=True)

    r1 = results["scales"]["x1"]
    r10 = results["scales"]["x10"]
    results["old_decade_ratio"] = round(
        r10["old_probe_s"] / r1["old_probe_s"], 2
    )
    results["new_probe_decade_ratio"] = round(
        r10["new_probe_s"] / r1["new_probe_s"], 2
    )
    results["new_decade_ratio"] = round(
        r10["new_ingest_s"] / r1["new_ingest_s"], 2
    )
    results["serial_onboard_decade_ratio"] = round(
        r10["serial_onboard_s"] / r1["serial_onboard_s"], 2
    )
    results["wave_onboard_decade_ratio"] = round(
        r10["wave_onboard_s"] / r1["wave_onboard_s"], 2
    )
    results["wave_vs_serial_x10"] = round(
        r10["wave_onboard_s"] / r10["serial_onboard_s"], 2
    )
    results["wave_fixpoint_decade_ratio"] = round(
        r10["wave_fixpoint_s"] / r1["wave_fixpoint_s"], 2
    )
    assert r1["sum_removed"] == r10["sum_removed"], "removal invariant broke"
    with open(os.path.join(BASE, "ingest_decade.json"), "w") as f:
        json.dump(results, f, indent=2)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
