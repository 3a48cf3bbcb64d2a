"""Streaming-arm batch-size sweep (round 17): the st14 ingest loop —
the persisted embedding store's Structured Streaming arm — re-run at
1x/10x/100x its device batch size, to separate the loop's FIXED
per-micro-batch machinery from per-row work. The claim it measures
(SCALING.md "Streaming-arm batch-size sweep"): drain wall is dominated
by availableNow setup (~1.9 s, the noop-ingest control) plus the dedup
pipeline's barrier jobs, so a 10x batch costs nothing and a 100x batch
costs under 2x while throughput rises ~50x — at production batch sizes
the per-row cost is the store's decade-measured probe/append walls
(scripts/embedding_store_decade.py), not the stream's.

Geometry: the vecfeed one-hot device (same-residue rows are exact
duplicates), dims fixed at EMBED_DIM (the index build is EMBED_DIM-wide
— _lloyd_step element_at's every component), classes capped at 64 (the
device's distinct-vector ceiling), so past the first drain EVERY arrival
dedups against the live store and the steady-state drain-2 wall times
dedup + (empty) append at the full arrival rate.

Run: python scripts/streaming_batch_sweep.py
Prints one line per (arm, trial): batchrows, both drain walls, live
count, and drain-2 rows/s.
"""

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from dbix_batchchunker_spark.session import get_spark  # noqa: E402


def run_arm(spark, batchrows: int, classes: int, clusters: int):
    """One sweep arm: two availableNow drains of st14's ingest loop at
    the given batch size; returns ([drain1_s, drain2_s], live_count)."""
    from dbix_batchchunker_spark.operators.similarity import (
        SIM06_NPROBE,
        IvfIndex,
        _probe_entries,
        append_embedding_store,
        build_ivf_index,
        incremental_embedding_near_dups,
        load_embedding_store,
        norm,
        save_embedding_store,
    )
    from dbix_batchchunker_spark.operators.store_fs import fs_for
    from dbix_batchchunker_spark.streaming.incremental import (
        process_available,
    )

    base = tempfile.mkdtemp(prefix="stream_sweep_")
    store_path = os.path.join(base, "store")
    ck = os.path.join(base, "ck")
    jp = spark._jvm.org.apache.hadoop.fs.Path

    def ingest(batch_df, bid):
        emb = batch_df.withColumn("nrm", norm(F.col("embedding")))
        fs, _ = fs_for(spark, store_path)
        if not fs.exists(jp(f"{store_path}/vectors")):
            trained = build_ivf_index(emb, clusters=clusters)
            index = IvfIndex(
                trained.centroids.localCheckpoint(eager=True),
                trained.supers,
                trained.k_child,
            )
            empty_e = spark.createDataFrame(
                [], "vec_id long, centroid_id long"
            )
            empty_v = spark.createDataFrame(
                [],
                "vec_id long, label long, embedding array<float>, "
                "nrm double",
            )
            pairs = incremental_embedding_near_dups(
                emb, index, empty_e, empty_v
            )
            dup = pairs.select(F.col("vec_b").alias("vec_id")).distinct()
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
        pairs = incremental_embedding_near_dups(
            emb, loaded, e_store, v_store
        )
        dup = pairs.select(F.col("vec_b").alias("vec_id")).distinct()
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

    from dbix_batchchunker_spark.operators.similarity import EMBED_DIM

    walls = []
    for _drain in range(2):
        feed = (
            spark.readStream.format("vecfeed")
            .option("batchrows", batchrows)
            .option("dims", EMBED_DIM)
            .option("classes", classes)
            .load()
        )
        t0 = time.monotonic()
        process_available(feed, ingest, ck)
        walls.append(round(time.monotonic() - t0, 2))
    _, _e, v_live = load_embedding_store(spark, store_path)
    n_live = v_live.count()  # bounded: <= classes rows
    shutil.rmtree(base, ignore_errors=True)
    return walls, n_live


def main() -> None:
    from dbix_batchchunker_spark.sources.pydatasource import (
        register_vecfeed,
    )

    spark = get_spark(
        app_name="streaming-batch-sweep",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    register_vecfeed(spark)
    spark.range(10).count()  # session warm-up
    # clusters follows ivf_cluster_count's shape (~125 rows/cell,
    # floored at 16) without paying its count(): rows are known here.
    for batchrows, classes, clusters in (
        (48, 16, 16),
        (480, 64, 16),
        (4800, 64, 38),
    ):
        for trial in range(2):
            walls, n_live = run_arm(spark, batchrows, classes, clusters)
            print(
                f"batchrows={batchrows} classes={classes} trial={trial} "
                f"drains={walls} live={n_live} "
                f"rows_per_s_drain2={batchrows / walls[1]:.0f}"
            )
    spark.stop()


if __name__ == "__main__":
    main()
