#!/usr/bin/env python
"""Multi-drop corpus onboarding — the production lifecycle end to end.

The natural production cadence is NOT one onboarding run: it is a corpus
drop every day/week into the SAME deduplicated store. Round 16 made that
first-class (reference posture: preconditions validated loudly,
BatchChunker.pm:913-929):

* ``onboard_corpus_serial`` / ``onboard_corpus_wave`` offset their batch
  ids past ``store.max_real_batch()`` and probe the TRUE pre-run
  snapshot, so a second drop extends yesterday's store — compacted or
  not — instead of overwriting its claim partitions (the
  tx42-adjudicated contract);
* ``sink_dir`` is the production result path: each chunk's per-doc
  result lands as an overwrite dir ``b{bid}`` and the return value reads
  them back as ONE parquet scan — a 10k-chunk onboarding never builds a
  10k-ary driver plan, and ``fold_outputs`` bin-packs the dirs between
  drops;
* maintenance (purge + compact) runs under the two-sided handshake:
  compact holds the lease, writers hold in-progress markers, and
  whichever side arrives second refuses loudly instead of corrupting
  (per-scheme guarantees: SCALING.md "Maintenance-lease guarantee").

Flow below: drop 1 (serial) → maintenance window (purge + compact +
fold) → drop 2 (wave, against the COMPACTED store — but the uncompacted
order is equally correct, tx42 adjudicates exactly that) → a CRASHED
drop 3 repaired with ``repair_crashed_onboarding`` and re-run → one
table. The crash repair is the part operators meet at 3am: a dead run's
retained ``run_guard`` marker keeps ``compact()`` refusing (so nothing
folds the crashed claims), and the repair is one call — drop the
crashed claim partitions, drop the crashed sink dirs, clear the marker
— then re-run the drop.

Run: python examples/multi_drop_onboarding.py [sf_dir]
"""

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from dbix_batchchunker_spark.operators.gram_store import (
    GramPostingsStore,
    StoreMaintenanceLockError,
    onboard_corpus_serial,
    onboard_corpus_wave,
    repair_crashed_onboarding,
)
from dbix_batchchunker_spark.operators.registry import t
from dbix_batchchunker_spark.operators.store_fs import touch
from dbix_batchchunker_spark.operators.stream import fold_outputs, read_outputs
from dbix_batchchunker_spark.session import get_spark

DROP2_OFFSET = 1_000_000_000  # keyset discipline: ids are never reused


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(master="local[8]", shuffle_partitions=16)
    base = tempfile.mkdtemp(prefix="multi_drop_")
    store = GramPostingsStore(
        spark, "multi_drop_grams", os.path.join(base, "postings")
    ).create()
    out = os.path.join(base, "docs")

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")

    # ---- drop 1: yesterday's corpus, serial loop, sunk per chunk -------
    drop1 = docs.where(F.col("doc_id") % 2 == 0).localCheckpoint(eager=True)
    r1 = onboard_corpus_serial(drop1, store, target_chunks=4, sink_dir=out)
    n1 = r1.count()

    # ---- maintenance window (the reference's between-chunk idle time) --
    store.purge(drop1.limit(5).select("doc_id"))
    if store.needs_compact():
        print("tombstone backlog past the broadcast ceiling — compacting")
    store.compact()  # lease + writer-marker handshake enforce single-writer
    fold_outputs(spark, out, upto=store.max_real_batch() + 1)

    # ---- drop 2: today's corpus, wave-parallel, SAME store and sink ----
    drop2 = (
        docs.where(F.col("doc_id") % 2 == 1)
        .select((F.col("doc_id") + DROP2_OFFSET).alias("doc_id"), "text")
        .localCheckpoint(eager=True)
    )
    r2 = onboard_corpus_wave(
        drop2, store, target_chunks=4, max_in_flight=4, sink_dir=out
    )
    n2 = r2.count()

    # ---- drop 3 CRASHES mid-run; the 3am repair, then the re-run -------
    drop3 = (
        docs.where(F.col("doc_id") % 2 == 1)
        .select((F.col("doc_id") + 2 * DROP2_OFFSET).alias("doc_id"), "text")
        .localCheckpoint(eager=True)
    )
    pre = store.max_real_batch()  # record BEFORE the run — the repair key
    # simulate the crash: a completed run is a superset of any crash
    # point, and a real crash skips run_guard's clean-exit delete, so
    # plant the marker the dead run would leave
    onboard_corpus_wave(drop3, store, target_chunks=4, sink_dir=out)
    touch(spark, store.writers_path + "/dead")
    try:
        store.compact()
        raise AssertionError("compact must refuse over a dead run")
    except StoreMaintenanceLockError:
        print("compact refused while the crashed drop is unrepaired — good")
    repair_crashed_onboarding(store, pre, sink_dir=out)  # one call, safe order
    r3 = onboard_corpus_wave(  # the re-run, any geometry
        drop3, store, target_chunks=2, max_in_flight=4, sink_dir=out
    )
    n3 = r3.count()

    table = read_outputs(spark, out)
    stats = table.agg(
        F.count("*").alias("docs"),
        F.sum("n_removed").alias("removed_tokens"),
        F.sum("n_kept").alias("kept_tokens"),
    ).first()
    row = store.stats().first()
    print(
        f"drop1={n1} drop2={n2} drop3={n3} table_docs={stats['docs']} "
        f"removed={stats['removed_tokens']} kept={stats['kept_tokens']} "
        f"store_live_docs={row['n_docs_live']} "
        f"store_live_grams={row['n_grams_live']}"
    )
    assert stats["docs"] == n1 + n2 + n3

    store.drop()
    shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
