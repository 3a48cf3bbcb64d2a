#!/usr/bin/env python
"""Versioned corpus ingest — the round-9 surface composed end-to-end:

  1. snapshot diff          (q55 operator: classify added/removed/changed
                             between corpus versions in ONE full-outer
                             join — decide what to re-process BEFORE
                             touching 100 TB)
  2. adaptive chunking       (ConcurrentChunker with target_time > 0:
                             validate the delta max_in_flight wide, chunk
                             size converging on target_time as chunks
                             complete — the READ side, where ranges can
                             be any width)
  3. compensating commits    (compensating_chunk_overwrite: each chunk
                             stages, promotes, and commit-markers its
                             buckets. The protocol's atomic unit is the
                             BUCKET, so the WRITE side uses ranges
                             aligned to bucket boundaries — validated by
                             id_range — and a crashed run is repaired by
                             roll-forward replay; a committed chunk
                             replays as a no-op)

Run: python examples/versioned_ingest.py  (uses /root/testdata/sf0.001)
"""

import sys
import tempfile

from pyspark.sql import functions as F

sys.path.insert(0, ".")

from dbix_batchchunker_spark import BatchChunker, ConcurrentChunker
from dbix_batchchunker_spark.operators.advanced import snapshot_diff
from dbix_batchchunker_spark.session import get_spark
from dbix_batchchunker_spark.sources.parquet import (
    committed_chunks,
    compensating_chunk_overwrite,
    read_committed,
)

SF = "/root/testdata/sf0.001"
BUCKET = 500


def main() -> None:
    spark = get_spark(master="local[4]", shuffle_partitions=8)
    out = tempfile.mkdtemp(prefix="versioned_ingest_")

    # --- version 1 and a drifted version 2 of the orders table ----------
    v1 = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    v2 = v1.where(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 89 == 0, F.col("o_totalprice") + 1.0)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderstatus",
    )

    # --- 1. what changed? -----------------------------------------------
    delta = snapshot_diff(
        v1, v2, "o_orderkey", ["o_totalprice", "o_orderstatus"]
    ).cache()
    by_status = {r["status"]: r["n"] for r in
                 delta.groupBy("status").agg(F.count("*").alias("n")).collect()}
    print(f"delta: {by_status}")

    # --- 2. adaptive READ pass over the touched range -------------------
    touched = delta.where(F.col("status") != "added")
    lo, hi = touched.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    validated = []
    bc = BatchChunker(
        coderef=lambda bc, s, e: validated.append(
            v2.where(F.col("o_orderkey").between(s, e)).count()
        ),
        min_id=int(lo), max_id=int(hi),
        chunk_size=200, target_time=2.0, sleep=0,
    )
    ConcurrentChunker(bc, max_in_flight=4).execute()
    print(f"validated {sum(validated)} rows in {len(validated)} adaptive "
          f"chunks (converged chunk_size={bc.chunk_size})")

    # --- 3. transactional WRITE pass: bucket-ALIGNED static ranges ------
    # snap the touched range outward to bucket boundaries, then commit
    # whole buckets — the unit the protocol replaces atomically
    start = (int(lo) // BUCKET) * BUCKET
    stop = ((int(hi) // BUCKET) + 1) * BUCKET - 1
    committed = []
    for s in range(start, stop + 1, BUCKET):
        e = s + BUCKET - 1
        state = compensating_chunk_overwrite(
            v2.where(F.col("o_orderkey").between(s, e)), out,
            f"{s}-{e}", "o_orderkey", bucket_width=BUCKET,
            id_range=(s, e),
        )
        committed.append((s, e, state))
    print(f"chunks committed: {len(committed_chunks(out))}")

    # a replayed chunk is an observable no-op
    s, e, _ = committed[0]
    assert compensating_chunk_overwrite(
        v2.where(F.col("o_orderkey").between(s, e)), out,
        f"{s}-{e}", "o_orderkey", bucket_width=BUCKET, id_range=(s, e),
    ) == "already-committed"

    # the live table holds EXACTLY v2's rows for the committed range —
    # this assertion is what round 9's review added (a misaligned write
    # silently lost 60% of rows before the id_range validation existed)
    expect = v2.where(F.col("o_orderkey").between(start, stop)).count()
    n = read_committed(spark, out).count()
    print(f"live table rows: {n} (expected {expect})")
    assert n == expect, (n, expect)
    delta.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
