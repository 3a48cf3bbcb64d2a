"""Persisted-embedding-store decade rehearsal (round-16 verdict #5): the
round-16 lifecycle API (save_embedding_store / append_embedding_store /
compact_persisted_embedding_store / load_embedding_store +
incremental_embedding_near_dups) carries the similarity family's 100 TB
claim, which until this script rested on plan shape alone — and the
round-14 lesson ("zero Exchange is necessary, not sufficient") says scale
claims need a measured decade RATIO. This script builds the store at two
sizes a decade apart and measures every lifecycle arm:

* ``probe_s``   — a FIXED 2k-vector increment's near-dup probe
  (``incremental_embedding_near_dups``) against the persisted store.
  The flatness claim: entries are partitioned by centroid_id and the
  probe prunes to its touched cells, so a 10x store should NOT cost
  ~10x per fixed increment (cells grow in COUNT, not population — the
  adaptive ``ivf_cluster_count`` keeps ~125 vectors/cell).
* ``append_s``  — the FIXED increment's leased append (entries half +
  vectors half + watermark). Expected flat: the write volume is the
  increment's own.
* ``save_s`` / ``compact_s`` — full-store writes BY DESIGN (compact is a
  physical rewrite of both halves); the honest metric is THROUGHPUT
  (rows/s), expected ~flat across the decade, not wall flatness.
* ``pairs_s``   — the post-compact audit pass (``store_near_dup_pairs``,
  the full live pair listing from posting lists alone). Candidate volume
  is per-cell population² x cell count; with constant cell population it
  scales ~linearly with the store — the measured ratio states it.

Honest-measurement rules inherited from SCALING.md / ingest_decade.py:
* synthetic vectors are DETERMINISTIC (hash-based, executor-side — no
  driver RNG), labels sized so same-label groups hold ~100 members at
  BOTH scales (10x store => 10x label groups, not 10x group size), so
  verify volume scales with the store and never quadratically;
* every timed probe ends in a join-FORCING aggregate
  (count + sum(cos_sim)), never a bare count() Catalyst could prune;
* probe/append attempts are interleaved across scales where possible and
  each timed arm reports min-of-ATTEMPTS (the bench.py discipline);
* append attempts use DISJOINT ascending id ranges — the watermark
  refusal (round-17) makes id reuse a hard error, so the rehearsal
  exercises the production keyset discipline too.

Usage (idle container):

    python scripts/embedding_store_decade.py             # build + measure
    python scripts/embedding_store_decade.py --rebuild   # force rebuild

Results: .scale/embedding_store_decade.json + per-row prints for
SCALING.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BASE = os.path.join(REPO, ".scale", "embedding_store_decade")
SCALES = {1: 20_000, 10: 200_000}  # decade label -> store vectors
DIM = 64
INC_N = 2_000  # fixed increment size at every scale
INC_ID_BASE = 10_000_000  # append ranges start here (above store ids)
PROBE_ID_BASE = 50_000_000  # probe-only increment: never stored, ids disjoint
ATTEMPTS = 3


def _synth(spark, n, id_base=0, label_groups=None, salt=0):
    """n deterministic unit vectors: component j of vector i is a
    hash-derived value in [-1, 1] (executor-side, no driver RNG, no
    Date/random — reproducible across runs). ``label_groups`` sizes the
    same-label verify blocks (~100 members/label keeps verify volume
    linear in the store)."""
    from pyspark.sql import functions as F

    from dbix_batchchunker_spark.operators.similarity import norm

    if label_groups is None:
        label_groups = max(1, n // 100)
    raw = F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda j: (
            (
                F.pmod(
                    F.hash(F.col("id"), j, F.lit(salt)), F.lit(2001)
                )
                - F.lit(1000)
            ).cast("float")
            / F.lit(1000.0)
        ),
    )
    return (
        spark.range(n)
        .select(
            (F.col("id") + F.lit(id_base)).alias("vec_id"),
            (F.col("id") % F.lit(label_groups)).alias("label"),
            raw.alias("embedding"),
        )
        .withColumn("nrm", norm(F.col("embedding")))
    )


def _force_pairs(df):
    """Join-forcing materialization of a pair frame: count + sum over the
    verified cosine column (Catalyst cannot eliminate the verify join
    under a sum of its output)."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"), F.sum("cos_sim").alias("s")
    ).collect()[0]
    return int(row["n"])


def main():
    from pyspark.sql import functions as F

    from dbix_batchchunker_spark.operators.similarity import (
        SIM06_NPROBE,
        _probe_entries,
        append_embedding_store,
        build_ivf_index,
        compact_persisted_embedding_store,
        incremental_embedding_near_dups,
        load_embedding_store,
        save_embedding_store,
        store_near_dup_pairs,
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

    results: dict = {"scales": {}, "inc_n": INC_N, "dim": DIM}

    for decade, n_vecs in SCALES.items():
        tag = f"x{decade}"
        store_path = os.path.join(BASE, f"store_{tag}")
        row: dict = {"n_vecs": n_vecs}

        if not os.path.exists(os.path.join(store_path, "vec_id_hwm")):
            shutil.rmtree(store_path, ignore_errors=True)
            vectors = _synth(spark, n_vecs).localCheckpoint(eager=True)
            t0 = time.monotonic()
            index = build_ivf_index(vectors)
            row["build_index_s"] = round(time.monotonic() - t0, 2)
            entries = _probe_entries(vectors, index, SIM06_NPROBE).select(
                F.col("doc_id").alias("vec_id"),
                F.col("bucket").alias("centroid_id"),
            )
            t0 = time.monotonic()
            save_embedding_store(store_path, index, entries, vectors)
            row["save_s"] = round(time.monotonic() - t0, 2)
            row["save_rows_per_s"] = round(n_vecs / row["save_s"])
            # free the checkpoint blocks: the persisted store is now the
            # source of truth
            vectors.unpersist()

        index, store_entries, store_vectors = load_embedding_store(
            spark, store_path
        )

        # --- fixed-increment PROBE (the flatness claim) ------------------
        inc = _synth(
            spark, INC_N, id_base=PROBE_ID_BASE, label_groups=n_vecs // 100,
            salt=7,
        ).localCheckpoint(eager=True)
        probes = []
        for _ in range(ATTEMPTS):
            t0 = time.monotonic()
            n_pairs = _force_pairs(
                incremental_embedding_near_dups(
                    inc, index, store_entries, store_vectors
                )
            )
            probes.append(time.monotonic() - t0)
        row["probe_s"] = round(min(probes), 2)
        row["probe_pairs"] = n_pairs

        # --- fixed-increment APPEND (flat claim; disjoint id ranges — the
        # watermark refuses reuse, so every range starts past the CURRENT
        # mark: a cached-store re-run keys past its prior appends) --------
        from dbix_batchchunker_spark.operators.store_fs import read_int

        hwm0 = max(read_int(spark, f"{store_path}/vec_id_hwm"), INC_ID_BASE)
        appends = []
        first_batch_lo = None
        for k in range(ATTEMPTS):
            lo = hwm0 + 1 + k * INC_N
            if first_batch_lo is None:
                first_batch_lo = lo
            batch = _synth(
                spark, INC_N, id_base=lo, label_groups=n_vecs // 100,
                salt=100 + k,
            ).localCheckpoint(eager=True)
            batch_entries = _probe_entries(
                batch, index, SIM06_NPROBE
            ).select(
                F.col("doc_id").alias("vec_id"),
                F.col("bucket").alias("centroid_id"),
            )
            t0 = time.monotonic()
            append_embedding_store(store_path, batch_entries, batch)
            appends.append(time.monotonic() - t0)
            batch.unpersist()
        row["append_s"] = round(min(appends), 2)

        # --- COMPACT: physically purge the first appended batch ----------
        purge = spark.range(first_batch_lo, first_batch_lo + INC_N).select(
            F.col("id").alias("vec_id")
        )
        t0 = time.monotonic()
        compact_persisted_embedding_store(
            spark, store_path, purge, n_deleted=INC_N
        )
        row["compact_s"] = round(time.monotonic() - t0, 2)
        live_n = n_vecs + (ATTEMPTS - 1) * INC_N
        row["compact_rows_per_s"] = round(live_n / row["compact_s"])

        # --- post-compact: probe again (repair/swap left a healthy store)
        # and the full pair-listing audit ---------------------------------
        index, store_entries, store_vectors = load_embedding_store(
            spark, store_path
        )
        post_probes = []
        for _ in range(ATTEMPTS):
            t0 = time.monotonic()
            n_pairs_post = _force_pairs(
                incremental_embedding_near_dups(
                    inc, index, store_entries, store_vectors
                )
            )
            post_probes.append(time.monotonic() - t0)
        row["post_compact_probe_s"] = round(min(post_probes), 2)
        row["post_compact_probe_pairs"] = n_pairs_post
        t0 = time.monotonic()
        row["pairs_audit_n"] = _force_pairs(
            store_near_dup_pairs(store_entries, store_vectors)
        )
        row["pairs_s"] = round(time.monotonic() - t0, 2)
        row["live_vectors"] = store_vectors.count()

        # --- RETRAIN (round 17: append-grown routing state rebuilt into a
        # fresh store). A full re-index + re-probe BY DESIGN, so the honest
        # wall metric is THROUGHPUT (rows/s, expected ~flat like save); the
        # post-retrain fixed-increment probe states that the fresh geometry
        # probes like a store BUILT at this size -------------------------
        from dbix_batchchunker_spark.operators.similarity import (
            retrain_embedding_store,
        )

        rt_path = store_path + "_rt"
        shutil.rmtree(rt_path, ignore_errors=True)
        t0 = time.monotonic()
        retrain_embedding_store(spark, store_path, rt_path)
        row["retrain_s"] = round(time.monotonic() - t0, 2)
        row["retrain_rows_per_s"] = round(
            row["live_vectors"] / row["retrain_s"]
        )
        ix_rt, e_rt, v_rt = load_embedding_store(spark, rt_path)
        rt_probes = []
        for _ in range(ATTEMPTS):
            t0 = time.monotonic()
            n_rt = _force_pairs(
                incremental_embedding_near_dups(inc, ix_rt, e_rt, v_rt)
            )
            rt_probes.append(time.monotonic() - t0)
        row["post_retrain_probe_s"] = round(min(rt_probes), 2)
        row["post_retrain_probe_pairs"] = n_rt
        shutil.rmtree(rt_path, ignore_errors=True)
        inc.unpersist()

        results["scales"][tag] = row
        print(tag, json.dumps(row))

    x1, x10 = results["scales"]["x1"], results["scales"]["x10"]
    results["ratios"] = {
        "probe_decade": round(x10["probe_s"] / x1["probe_s"], 2),
        "append_decade": round(x10["append_s"] / x1["append_s"], 2),
        "post_compact_probe_decade": round(
            x10["post_compact_probe_s"] / x1["post_compact_probe_s"], 2
        ),
        "pairs_audit_decade": round(x10["pairs_s"] / x1["pairs_s"], 2),
        "compact_throughput_decade": round(
            x10["compact_rows_per_s"] / x1["compact_rows_per_s"], 2
        ),
        "retrain_throughput_decade": round(
            x10["retrain_rows_per_s"] / x1["retrain_rows_per_s"], 2
        ),
        "post_retrain_probe_decade": round(
            x10["post_retrain_probe_s"] / x1["post_retrain_probe_s"], 2
        ),
    }
    if "save_rows_per_s" in x1 and "save_rows_per_s" in x10:
        results["ratios"]["save_throughput_decade"] = round(
            x10["save_rows_per_s"] / x1["save_rows_per_s"], 2
        )
    print("ratios", json.dumps(results["ratios"]))

    out = os.path.join(REPO, ".scale", "embedding_store_decade.json")
    with open(out, "w") as fh:
        json.dump(results, fh, indent=1)
    print("wrote", out)


if __name__ == "__main__":
    main()
