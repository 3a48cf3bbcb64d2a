"""GramPostingsStore lifecycle net: the bucketed, deletion-capable gram
store (round-13 verdict #1/#2/#3) — plan shape, purge/compact round-trip,
replay idempotency, crash repair, re-registration, file discipline."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from dbix_batchchunker_spark.operators import store_fs
from dbix_batchchunker_spark.operators.gram_store import (
    COMPACT_PARTITION,
    GramPostingsStore,
    cleanup_store,
    temp_store,
)
from dbix_batchchunker_spark.operators.store_fs import fs_for, read_int
from dbix_batchchunker_spark.operators.text import (
    _positional_grams,
    incremental_substring_dedup,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from dbix_batchchunker_spark.session import get_spark

    return get_spark(master="local[4]", shuffle_partitions=8)


@pytest.fixture()
def docs(spark):
    from dbix_batchchunker_spark.operators.registry import t

    return t(spark, SF, "documents").select("doc_id", "text")


def _executed(df) -> str:
    df.write.format("noop").mode("overwrite").save()
    return df._jdf.queryExecution().executedPlan().toString()


def _n_shuffles(plan: str) -> int:
    return len(re.findall(r"Exchange hashpartitioning", plan))


def test_live_grams_plan_zero_store_exchange(spark, docs):
    """The verdict-#1 done-criterion: the store side of every per-batch
    read is Exchange-FREE — bucketed scan feeds the tombstone anti-join
    and the distinct in place."""
    store = temp_store(spark, "gs_t1_")
    try:
        store.add_postings(docs.where("doc_id % 5 != 4"), bid=0)
        store.purge(docs.where("doc_id % 20 == 0").select("doc_id"))
        plan = _executed(store.live_grams(before_batch=1))
        assert "Bucketed: true" in plan
        assert _n_shuffles(plan) == 0, plan
    finally:
        cleanup_store(store)


def test_probe_plan_streams_store_single_batch_shuffle(spark, docs):
    """probe_hits: exactly ONE shuffle (the batch side, to the bucket
    count), SHJ streaming the store scan — never a sort-merge join, never
    a store-side Exchange, at any store size by construction."""
    store = temp_store(spark, "gs_t2_")
    try:
        store.add_postings(docs.where("doc_id % 5 != 4"), bid=0)
        pos = _positional_grams(docs.where("doc_id % 5 = 4"), 4)
        plan = _executed(store.probe_hits(pos, before_batch=1))
        assert "Bucketed: true" in plan
        assert "ShuffledHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert _n_shuffles(plan) == 1, plan
    finally:
        cleanup_store(store)


def test_purge_compact_equals_rebuild_from_live_docs(spark, docs):
    """Deletion exactness: ingest → purge → compact must equal a store
    REBUILT from only the live docs — grams co-claimed by a live doc
    survive, exclusively-claimed grams vanish, and the increment dedups
    identically through either store (the compact_near_dup_store
    round-trip property, ported to the gram modality)."""
    live_pred = "doc_id % 5 != 4 AND doc_id % 20 != 0"
    store = temp_store(spark, "gs_t3_")
    try:
        store.add_postings(docs.where("doc_id % 5 != 4"), bid=0)
        store.purge(docs.where("doc_id % 20 == 0").select("doc_id"))
        store.compact()
        got = sorted(
            r.gram for r in store.live_grams().collect()
        )  # bounded: distinct grams of the sf0.001 gate corpus
        want = sorted(
            r.gram
            for r in _positional_grams(docs.where(live_pred), 4)
            .select("gram")
            .distinct()
            .collect()
        )  # bounded: same gate-scale gram set
        assert got == want
        # post-compact layout: only the base partition remains
        parts = [
            int(r[0].split("=", 1)[1])
            for r in spark.sql(f"SHOW PARTITIONS {store.name}").collect()
        ]
        assert parts == [COMPACT_PARTITION]
        # and the increment dedups identically through the compacted store
        inc = docs.where("doc_id % 5 = 4")
        via_store = store.ingest_batch(inc, bid=1).drop("kept_text")
        rebuilt = incremental_substring_dedup(
            inc,
            _positional_grams(docs.where(live_pred), 4)
            .select("gram")
            .distinct(),
        ).drop("kept_text")
        assert via_store.exceptAll(rebuilt).count() == 0
        assert rebuilt.exceptAll(via_store).count() == 0
    finally:
        cleanup_store(store)


def test_add_postings_replay_is_idempotent(spark, docs):
    """Dynamic partition overwrite: re-running a batch's claim rewrites
    the same partition with the same rows — the exactly-once half."""
    store = temp_store(spark, "gs_t4_")
    try:
        batch = docs.where("doc_id % 7 = 0")
        store.add_postings(batch, bid=0)
        first = store.postings().count()
        store.add_postings(batch, bid=0)  # replay
        assert store.postings().count() == first
    finally:
        cleanup_store(store)


def test_ingest_replay_reads_pre_batch_store(spark, docs):
    """The round-13 advisor's replay hazard, closed at the metadata level:
    a replayed ingest_batch (own partition ALREADY written by the crashed
    attempt) must produce the identical result — the partition filter
    batch < bid excludes the batch's own claims."""
    store = temp_store(spark, "gs_t5_")
    try:
        store.add_postings(docs.where("doc_id % 5 != 4"), bid=0)
        inc = docs.where("doc_id % 5 = 4")
        first = store.ingest_batch(inc, bid=1).orderBy("doc_id").collect()
        # bounded: one row per gate-corpus increment doc
        replay = store.ingest_batch(inc, bid=1).orderBy("doc_id").collect()
        assert first == replay
        # a doc with removals must exist or the assertion is vacuous
        assert any(r.n_removed > 0 for r in first)
    finally:
        cleanup_store(store)


def test_compact_crash_repair_by_rerun(spark, docs):
    """compact()'s documented idempotence: a crash between the base fold
    and the partition drops leaves batch=-1 ∪ old partitions (duplicated
    postings); RE-RUNNING compact converges to the clean base."""
    store = temp_store(spark, "gs_t6_")
    try:
        store.add_postings(docs.where("doc_id % 5 != 4"), bid=0)
        store.purge(docs.where("doc_id % 20 == 0").select("doc_id"))
        clean = sorted(
            r.gram
            for r in _positional_grams(
                docs.where("doc_id % 5 != 4 AND doc_id % 20 != 0"), 4
            )
            .select("gram")
            .distinct()
            .collect()
        )  # bounded: gate-scale distinct gram set
        # simulate the torn compact: fold into the base partition but
        # "crash" before dropping the old partitions or the tombstones
        base = (
            store.live_postings()
            .select("gram", "doc_id")
            .distinct()
            .withColumn("batch", F.lit(COMPACT_PARTITION).cast("long"))
        )
        store._insert(base)
        parts = [
            int(r[0].split("=", 1)[1])
            for r in spark.sql(f"SHOW PARTITIONS {store.name}").collect()
        ]
        assert sorted(parts) == [COMPACT_PARTITION, 0]  # torn state on disk
        # repair = re-run
        store.compact()
        parts = [
            int(r[0].split("=", 1)[1])
            for r in spark.sql(f"SHOW PARTITIONS {store.name}").collect()
        ]
        assert parts == [COMPACT_PARTITION]
        got = sorted(r.gram for r in store.live_grams().collect())  # bounded
        assert got == clean
        # tombstones drained
        assert store._tombstones() is None
    finally:
        cleanup_store(store)


def test_register_reattaches_existing_store(spark, docs):
    """Cross-session story: a fresh table name over the same path sees
    the same live grams (partition recovery + bucket spec from DDL),
    and its probe still plans the bucketed scan."""
    store = temp_store(spark, "gs_t7_")
    try:
        store.add_postings(docs.where("doc_id % 3 = 0"), bid=0)
        store.add_postings(docs.where("doc_id % 3 = 1"), bid=1)
        n = store.live_grams().count()
        re_store = GramPostingsStore(
            spark, store.name + "_re", store.path, store.n_buckets
        ).register()
        assert re_store.live_grams().count() == n
        plan = _executed(re_store.live_grams())
        assert "Bucketed: true" in plan and _n_shuffles(plan) == 0
        re_store.drop()
    finally:
        cleanup_store(store)


def test_one_file_per_bucket_per_partition(spark, docs):
    """File discipline (verdict #3's small-file concern at the store
    layer): each batch partition holds exactly n_buckets parquet files."""
    store = temp_store(spark, "gs_t8_", n_buckets=4)
    try:
        store.add_postings(docs.where("doc_id % 5 != 4"), bid=0)
        files = [
            f
            for f in os.listdir(os.path.join(store.path, "batch=0"))
            if f.endswith(".parquet")
        ]
        assert len(files) == 4, files
    finally:
        cleanup_store(store)


def test_stats_empty_store_and_double_purge(spark, docs):
    """Round-14 advisor pair: (a) stats() on a FRESH store must report
    non-null zero bigints (F.sum over zero rows is NULL without the
    coalesce); (b) a doc purged in two separate purge() calls appears
    twice in the tombstone dir — the marking join must not fan its
    postings out (verified-live bug: 6 reported vs 4 stored)."""
    store = temp_store(spark, "gs_t9_")
    try:
        row = store.stats().collect()[0]  # bounded: one accounting row
        assert row.asDict() == {
            "n_postings_total": 0,
            "n_postings_live": 0,
            "n_grams_total": 0,
            "n_grams_live": 0,
            "n_docs_live": 0,
            "n_docs_tombstoned": 0,
        }
        store.add_postings(docs.where("doc_id % 5 = 0"), bid=0)
        stored = store.postings().count()
        one = docs.where("doc_id % 25 = 0").select("doc_id")
        store.purge(one)
        store.purge(one)  # second call re-appends the same ids
        row = store.stats().collect()[0]  # bounded: one accounting row
        assert row.n_postings_total == stored
        assert row.n_postings_live == store.live_postings().count()
    finally:
        cleanup_store(store)


def test_tombstone_backlog_shuffle_fallback(spark, docs, monkeypatch):
    """Round-14 verdict #3: past TOMBSTONE_BROADCAST_MAX_BYTES the
    tombstone anti-join must degrade to a SHUFFLE_HASH join (bounded
    memory) instead of broadcasting an arbitrarily large purge list, and
    needs_compact() must report the same condition — with identical
    results through either plan."""
    from dbix_batchchunker_spark.operators import gram_store as gs_mod

    store = temp_store(spark, "gs_t10_")
    try:
        store.add_postings(docs.where("doc_id % 5 != 4"), bid=0)
        store.purge(docs.where("doc_id % 20 == 0").select("doc_id"))
        assert not store.needs_compact()
        via_broadcast = sorted(
            r.gram for r in store.live_grams().collect()
        )  # bounded: gate-scale distinct gram set
        plan = _executed(store.live_grams())
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan

        # force the backlog over the ceiling: every byte counts as huge
        monkeypatch.setattr(gs_mod, "TOMBSTONE_BROADCAST_MAX_BYTES", 1)
        assert store.needs_compact()
        plan = _executed(store.live_grams())
        assert "ShuffledHashJoin" in plan and "LeftAnti" in plan
        assert "BroadcastHashJoin" not in plan
        got = sorted(
            r.gram for r in store.live_grams().collect()
        )  # bounded: same gate-scale set
        assert got == via_broadcast
        # stats' marking join degrades the same way, same numbers
        row = store.stats().collect()[0]  # bounded: one row
        assert row.n_postings_live == len(
            store.live_postings().collect()
        )  # bounded: gate-scale postings
    finally:
        cleanup_store(store)


def test_compact_lease_refuses_second_writer(spark, docs):
    """Round-14 verdict #8: single-writer compaction is enforced by an
    atomically-created lease file, not docstring discipline — a second
    compact, an ingest, or a purge racing a held lease refuses LOUDLY;
    break_lease()/compact(force=True) is the documented crash repair."""
    from dbix_batchchunker_spark.operators.gram_store import (
        StoreMaintenanceLockError,
    )

    store = temp_store(spark, "gs_t11_")
    try:
        store.add_postings(docs.where("doc_id % 5 != 4"), bid=0)
        # a SECOND handle on the same path (another session/process in
        # production) holds the lease, as a crashed compact would
        other = GramPostingsStore(
            spark, store.name + "_w2", store.path, store.n_buckets
        )
        other._lease.acquire()
        with pytest.raises(StoreMaintenanceLockError):
            store.compact()
        with pytest.raises(StoreMaintenanceLockError):
            store.add_postings(docs.where("doc_id % 5 = 4"), bid=1)
        with pytest.raises(StoreMaintenanceLockError):
            store.purge(docs.limit(1).select("doc_id"))
        # crash repair path 1: break, then compact normally
        store.break_lease()
        store.purge(docs.where("doc_id % 20 == 0").select("doc_id"))
        store.compact()
        assert store._tombstones() is None
        # crash repair path 2: a stale lease + force=True in one call
        other._lease.acquire()
        store.compact(force=True)
        # the lease is released after a successful compact
        fs, jp = fs_for(spark, store.lease_path)
        assert not fs.exists(jp)
    finally:
        cleanup_store(store)


def test_reingest_purged_doc_after_compact(spark):
    """The purge contract's positive half: re-ingesting a purged doc_id
    is unsupported only UNTIL compact() clears the tombstone — afterwards
    the id claims grams again (the docstring states this boundary; the
    lifecycle fuzz never reuses ids, so nothing executed it)."""
    store = temp_store(spark, "gs_t12_")
    one = spark.createDataFrame(
        [(7, "aa bb cc dd ee")], "doc_id long, text string"
    )
    try:
        store.add_postings(one, bid=0)
        store.purge(one.select("doc_id"))
        # before compact: tombstone suppresses even NEW claims under id 7
        store.add_postings(one, bid=1)
        assert store.live_grams().count() == 0
        store.compact()  # physical delete, tombstones cleared
        assert store.live_grams().count() == 0
        store.add_postings(one, bid=2)  # id 7 reingested post-compact
        got = sorted(r.gram for r in store.live_grams().collect())  # bounded
        assert got == ["aa bb cc dd", "bb cc dd ee"]
        row = store.stats().collect()[0]  # bounded: one row
        assert row.n_docs_live == 1 and row.n_docs_tombstoned == 0
    finally:
        cleanup_store(store)


def test_store_lifecycle_through_filesystem_api_uri(spark, docs, tmp_path):
    """The store's scheme-agnostic claim, actually driven: the FULL
    lifecycle (create → ingest → purge → needs_compact → compact → stats
    → re-register) on an EXPLICIT file:// URI, the path shape every
    hdfs:///s3a:// deployment presents. Any maintenance step that fell
    back to driver-local IO (os.listdir/open/shutil) would throw here."""
    path = f"file://{tmp_path}/postings"
    store = GramPostingsStore(spark, "gs_uri_t", path).create()
    try:
        store.add_postings(docs.where("doc_id % 5 != 4"), bid=0)
        store.purge(docs.where("doc_id % 20 == 0").select("doc_id"))
        assert not store.needs_compact()  # FS metadata via the URI
        n_live = store.live_postings().count()
        store.compact()
        assert store._tombstones() is None
        assert store.postings().count() == n_live
        row = store.stats().collect()[0]  # bounded: one accounting row
        assert row.n_postings_live == n_live
        re_store = GramPostingsStore(spark, "gs_uri_t_re", path).register()
        assert re_store.live_postings().count() == n_live
        re_store.drop()
        inc = store.ingest_batch(docs.where("doc_id % 5 = 4"), bid=1)
        assert inc.where("n_removed > 0").count() > 0
        # round-16: the bid high-water mark round-trips through the URI's
        # own FileSystem too — compact folds batch=1 away but
        # max_real_batch() must not move backwards (monotone bids)
        assert store.max_real_batch() == 1
        store.compact()
        assert store.max_real_batch() == 1
        re2 = GramPostingsStore(spark, "gs_uri_t_re2", path).register()
        assert re2.max_real_batch() == 1  # hwm survives re-registration
        re2.drop()
    finally:
        store.drop()


GRAM_N = 4


def _gen_onboard_corpus(rng, n_docs: int, allow_chains: bool):
    """Random corpus with CONTROLLED collisions: every doc's own tokens
    carry a doc-unique suffix, so the only cross-doc duplicate content is
    what the generator plants (exact copies and partial copies — a source
    doc embedded in fresh per-doc context). With ``allow_chains`` sources
    may themselves be derived docs (copy-of-a-copy, copy-of-a-partial):
    the removal-chain corpora whose wave-vs-serial behavior the planted
    tx38/tx40 oracle corpus cannot reach (it is chain-free by
    construction — round-14 verdict gap #2). Returns (doc_id -> tokens,
    doc_id -> derivation depth); occasional doc_id gaps exercise the
    empty-chunk path."""
    docs: dict[int, list] = {}
    depth: dict[int, int] = {}
    ids: list[int] = []
    did = 0
    for _ in range(n_docs):
        pool = [
            i
            for i in ids
            if len(docs[i]) >= GRAM_N and (allow_chains or depth[i] == 0)
        ]
        r = rng.random()
        if r < 0.45 or not pool:
            toks = [f"t{k}x{did}" for k in range(rng.randint(0, 10))]
            d = 0
        else:
            src = rng.choice(pool)
            d = depth[src] + 1
            if r < 0.75:
                toks = list(docs[src])  # exact copy
            else:  # partial: source embedded in fresh unique context
                toks = (
                    [f"p{k}x{did}" for k in range(rng.randint(0, 3))]
                    + list(docs[src])
                    + [f"q{k}x{did}" for k in range(rng.randint(0, 3))]
                )
        if rng.random() < 0.15:
            did += rng.randint(1, 12)
        docs[did] = toks
        depth[did] = d
        ids.append(did)
        did += 1
    return docs, depth


def _onboard(spark, docs: dict, mode: str, tag: str, **kw):
    from dbix_batchchunker_spark.operators.gram_store import (
        onboard_corpus_serial,
        onboard_corpus_wave,
    )

    df = spark.createDataFrame(
        sorted((i, " ".join(t)) for i, t in docs.items()),
        "doc_id long, text string",
    ).localCheckpoint(eager=True)
    store = temp_store(spark, f"gs_wf{tag}_", n_buckets=4)
    try:
        fn = (
            onboard_corpus_serial if mode == "serial" else onboard_corpus_wave
        )
        out = fn(df, store, target_chunks=4, n=GRAM_N, **kw)
        return {
            r.doc_id: (r.n_tokens, r.n_removed, r.n_kept, r.kept_text)
            for r in out.collect()  # bounded: one row per fuzz-corpus doc
        }
    finally:
        cleanup_store(store)


@pytest.mark.parametrize("seed", [3, 11])
def test_wave_vs_serial_onboarding_contract(spark, seed):
    """Pin the wave composition's REAL contract against the serial loop
    on randomized corpora (round-14 verdict gap #2 — the adjudicated
    oracle corpus is chain-free by construction, so the chained behavior
    was documented but never executed). What this net established — and
    what it CORRECTED: the round-14 docstring claimed chains only ever
    over-remove ("the conservative direction"); fuzzing found BOTH
    directions (≈560 docs/14 seeds: 10 over-removals, 2 UNDER-removals).
    Mechanism of the under-removal: serial claims derive from each doc's
    kept text AT ITS BATCH TIME — including seam grams created by span
    surgery — and a later doc's removal can depend on a claimant the
    wave composition removes entirely, losing the claim. The pinned
    contract is therefore:

    (a) chain-free corpora (every duplicate's source is an underived
        doc): wave == serial EXACTLY, all columns — the premise tx40's
        closed-form oracle rests on;
    (b) chained corpora: wave is ORDER-INDEPENDENT — identical results
        at max_in_flight 1 and 4 (phase 1 probes a pinned snapshot;
        phase 2 is deterministic), i.e. a well-defined semantics of its
        own, not a race;
    (c) chained corpora: divergence vs serial is CONFINED to docs of
        derivation depth >= 2 — depth-0/1 docs (bases, direct copies and
        direct partials of bases) match serial row-for-row;
    (d) either composition's rows are structurally sound
        (n_removed + n_kept == n_tokens, same doc set);
    (e) reconcile="fixpoint" (the stable chained-corpus contract): equal
        to once/serial on chain-free corpora; on chains its removals are
        a SUPERSET of the once pass's per doc (kept text a subsequence)."""
    import random as _random

    rng = _random.Random(seed)

    # (a) chain-free: exact equality (fixpoint included — a second pass
    # finds nothing to cut when no chain exists)
    docs, _ = _gen_onboard_corpus(rng, 30, allow_chains=False)
    s = _onboard(spark, docs, "serial", f"a{seed}s")
    w = _onboard(spark, docs, "wave", f"a{seed}w")
    wf = _onboard(spark, docs, "wave", f"a{seed}wf", reconcile="fixpoint")
    assert s == w == wf

    # (b)(c)(d)(e) chained
    docs, depth = _gen_onboard_corpus(rng, 35, allow_chains=True)
    s = _onboard(spark, docs, "serial", f"c{seed}s")
    w = _onboard(spark, docs, "wave", f"c{seed}w")
    w1 = _onboard(spark, docs, "wave", f"c{seed}w1", max_in_flight=1)
    wf = _onboard(spark, docs, "wave", f"c{seed}wf", reconcile="fixpoint")
    assert w == w1  # (b) order independence
    assert set(s) == set(w) == set(wf) == set(docs)  # (d) same doc set

    def _subseq(a, b):
        it = iter(b)
        return all(x in it for x in a)

    for i in docs:
        assert s[i][0] == w[i][0] == wf[i][0] == len(docs[i])
        for r in (s[i], w[i], wf[i]):
            assert r[1] + r[2] == r[0]
        if depth[i] <= 1:
            assert s[i] == w[i], (seed, i, depth[i])  # (c)
        # (e) fixpoint only ever removes MORE than the once pass
        assert wf[i][1] >= w[i][1], (seed, i)
        assert _subseq(
            wf[i][3].split() if wf[i][3] else [],
            w[i][3].split() if w[i][3] else [],
        ), (seed, i)


@pytest.mark.parametrize("seed", [13, 47, 88, 101, 222])
def test_randomized_lifecycle_matches_model(spark, seed):
    """Randomized lifecycle fuzz (the round-13 lesson applied to the
    store itself): a seeded sequence of add_postings / purge / compact /
    re-register ops, checked after EVERY op against a pure-Python
    postings model — live_grams must equal { gram : some live doc claims
    it } no matter how the ops interleave. Catches the ordering classes
    the fixed-scenario tests can't reach: purge after compact before the
    next compact, double purge, purge of never-ingested or already-purged
    docs, empty batches, re-registration mid-sequence with tombstones
    outstanding. Round-15 strengthening: after every op, stats()' full
    accounting row is ALSO checked against the model (live AND
    dead-but-stored postings) — the integer surface the round-14 advisor
    caught over-counting under double purge."""
    import random as _random

    rng = _random.Random(seed)
    vocab = ["aa", "bb", "cc", "dd", "ee", "ff"]
    store = temp_store(spark, f"gs_fz{seed}_", n_buckets=4)
    model: dict[int, set] = {}  # doc_id -> claimed gram set (live docs)
    dead: dict[int, set] = {}  # tombstoned docs whose postings still stored
    purged: set = set()  # tombstoned ids: suppress ALL claims til compact
    next_doc, next_bid = 0, 0
    max_committed_bid = 0  # max bid of any NON-EMPTY batch ever written
    try:
        for _step in range(10):
            op = rng.choice(
                ["add", "add", "purge", "compact", "reregister", "locked"]
            )
            if op == "locked":
                # interleaved-compact refusal (round-14 verdict #8): a
                # foreign writer's lease blocks EVERY mutation loudly and
                # changes nothing; break_lease restores service
                from dbix_batchchunker_spark.operators.gram_store import (
                    StoreMaintenanceLockError,
                )

                holder = GramPostingsStore(
                    spark, store.name + "_h", store.path, store.n_buckets
                )
                holder._lease.acquire()
                one = spark.createDataFrame([(0, "aa bb cc dd")],
                                            "doc_id long, text string")
                with pytest.raises(StoreMaintenanceLockError):
                    store.add_postings(one, bid=next_bid)
                with pytest.raises(StoreMaintenanceLockError):
                    store.purge(one.select("doc_id"))
                with pytest.raises(StoreMaintenanceLockError):
                    store.compact()
                store.break_lease()
            elif op == "add":
                rows, grams = [], {}
                for _ in range(rng.randint(0, 6)):
                    toks = [
                        rng.choice(vocab) for _ in range(rng.randint(0, 7))
                    ]
                    rows.append((next_doc, " ".join(toks)))
                    if toks:  # sub-width docs emit one truncated gram
                        grams[next_doc] = {
                            " ".join(toks[i : i + 4])
                            for i in range(max(len(toks) - 4, 0) + 1)
                        }
                    next_doc += 1
                df = spark.createDataFrame(
                    rows or [(None, None)], "doc_id long, text string"
                )
                if not rows:
                    df = df.where("doc_id is not null")
                store.add_postings(df, bid=next_bid)
                if grams:  # a batch with zero POSTINGS (no rows, or all
                    # docs token-less) writes no partition dir at all
                    max_committed_bid = max(max_committed_bid, next_bid)
                # purge contract: an outstanding tombstone suppresses even
                # later-ingested claims under that id until compact() —
                # the postings are STORED (dead) either way
                for i, g in grams.items():
                    (dead if i in purged else model)[i] = g
                next_bid += 1
            elif op == "purge":
                # mix of live, already-purged, and never-ingested ids
                ids = [
                    rng.randrange(0, max(next_doc, 1) + 3)
                    for _ in range(rng.randint(0, 4))
                ]
                store.purge(
                    spark.createDataFrame(
                        [(i,) for i in ids] or [(None,)], "doc_id long"
                    ).where("doc_id is not null")
                )
                for i in ids:
                    if i in model:
                        dead[i] = model.pop(i)
                purged.update(ids)
            elif op == "compact":
                store.compact()
                purged.clear()
                dead.clear()  # physical deletion
            else:
                store.drop()
                store = GramPostingsStore(
                    spark, store.name, store.path, store.n_buckets
                ).register()
            got = sorted(
                r.gram for r in store.live_grams().collect()
            )  # bounded: tiny-vocab fuzz corpus
            live_grams = set().union(*model.values()) if model else set()
            assert got == sorted(live_grams), (seed, _step, op)
            row = store.stats().collect()[0]  # bounded: one accounting row
            all_grams = live_grams.union(
                *dead.values()
            ) if dead else live_grams
            want_stats = {
                "n_postings_total": sum(len(g) for g in model.values())
                + sum(len(g) for g in dead.values()),
                "n_postings_live": sum(len(g) for g in model.values()),
                "n_grams_total": len(all_grams),
                "n_grams_live": len(live_grams),
                "n_docs_live": len(model),
                "n_docs_tombstoned": len(dead),
            }
            assert row.asDict() == want_stats, (seed, _step, op)
            # round-16 contract: batch ids are MONOTONE over the store's
            # LIFETIME — compact() persists a high-water mark before
            # folding partitions away, so max_real_batch() never moves
            # backwards through any compact/re-register interleaving
            # (bid recycling would collide a later onboarding's sink
            # dirs and probe snapshot)
            assert store.max_real_batch() == max_committed_bid, (
                seed, _step, op,
            )
    finally:
        cleanup_store(store)


def test_compact_refuses_in_flight_writer_marker(spark, docs):
    """Round-15 advisor (medium): the lease only stops writers that START
    after it lands — an ingest/purge whose Spark write is already in
    flight when compact() acquires the lease was still silently
    folded-then-dropped. The two-sided handshake closes it: writers drop
    an in-progress marker before their lease check, compact refuses on a
    live marker at start AND again between its fold and its partition
    drops (the point of no return)."""
    from dbix_batchchunker_spark.operators.gram_store import (
        StoreMaintenanceLockError,
    )

    store = temp_store(spark, "gs_wm_")
    try:
        store.add_postings(docs.where("doc_id % 5 != 4"), bid=0)
        store.purge(docs.where("doc_id % 20 == 0").select("doc_id"))
        grams_before = set(
            r.gram for r in store.live_grams().collect()  # bounded corpus
        )
        # writers clean up after themselves: no marker survives a write
        assert store._writer_markers() == []
        # a FOREIGN writer's in-flight marker (exactly what its _writing
        # context holds mid-write): compact refuses at start
        fs, jdir = fs_for(spark, store.writers_path)
        fs.mkdirs(jdir)
        jm = spark._jvm.org.apache.hadoop.fs.Path(
            store.writers_path + "/inflight_test"
        )
        fs.createNewFile(jm)
        with pytest.raises(StoreMaintenanceLockError):
            store.compact()
        # the refusal released the lease — writers are not locked out
        lfs, jl = fs_for(spark, store.lease_path)
        assert not lfs.exists(jl)
        fs.delete(jm, False)

        # the PRE-DROP re-check: a writer that passed its lease check just
        # before the lease landed has a live marker by the time compact
        # reaches its partition drops — simulate by planting the marker
        # right after compact's own fold insert
        orig_insert = store._insert

        def insert_then_marker(postings):
            orig_insert(postings)
            fs.createNewFile(jm)

        store._insert = insert_then_marker
        with pytest.raises(StoreMaintenanceLockError):
            store.compact()
        store._insert = orig_insert
        # aborted BEFORE anything was dropped: tombstones intact, live
        # gram view unchanged (the fold's duplicate postings are the
        # documented harmless residue a re-run's distinct heals)
        assert store._tombstones() is not None
        assert (
            set(r.gram for r in store.live_grams().collect())  # bounded
            == grams_before
        )
        # crash repair: force clears stale markers and completes
        store.compact(force=True)
        assert store._writer_markers() == []
        assert store._tombstones() is None
        assert (
            set(r.gram for r in store.live_grams().collect())  # bounded
            == grams_before
        )
        # post-repair the store is physically deduped again
        assert store.postings().count() == store.live_postings().count()
    finally:
        cleanup_store(store)


def _two_drop(spark, docs1: dict, docs2: dict, modes, tag: str,
              compact_between: bool = False):
    """Onboard two corpus drops into ONE store (the round-15 verdict-#1
    production scenario), returning (merged results, integrity stats)."""
    from dbix_batchchunker_spark.operators.gram_store import (
        onboard_corpus_serial,
        onboard_corpus_wave,
    )

    fns = {
        "serial": onboard_corpus_serial,
        "wave": onboard_corpus_wave,
    }
    store = temp_store(spark, f"gs_2d{tag}_", n_buckets=4)
    out = {}
    try:
        for docs, mode in ((docs1, modes[0]), (docs2, modes[1])):
            df = spark.createDataFrame(
                sorted((i, " ".join(t)) for i, t in docs.items()),
                "doc_id long, text string",
            ).localCheckpoint(eager=True)
            res = fns[mode](df, store, target_chunks=3, n=GRAM_N)
            out.update(
                {
                    r.doc_id: (r.n_tokens, r.n_removed, r.n_kept, r.kept_text)
                    for r in res.collect()  # bounded: fuzz corpus
                }
            )
            if compact_between and docs is docs1:
                store.compact()
        row = store.stats().collect()[0]  # bounded: one accounting row
        return out, row
    finally:
        cleanup_store(store)


@pytest.mark.parametrize("seed", [5, 21])
def test_second_drop_onboarding_extends_store(spark, seed):
    """Round-15 verdict #1: a SECOND corpus drop onboarded into
    yesterday's store — the natural production call — must EXTEND the
    store, not silently overwrite its batch partitions and probe past its
    uncompacted claims. Pinned contract on chain-free corpora (where
    results are chunk-layout-invariant, contract (a) of the wave test):

    * two-drop results == one continuous onboarding of the union corpus,
      for serial+serial, wave+wave, and serial+wave — with NO compact
      between the drops (the formerly-lossy case);
    * compacting between the drops changes nothing;
    * store integrity: after both drops, every surviving doc across BOTH
      drops still holds a live claim (n_docs_live >= survivors, exact for
      serial+serial; wave modes legitimately retain the documented
      redundant phase-1 claims of reconcile-cut docs) — a drop-1 claim
      partition overwritten by drop 2 would drop below the floor."""
    import random as _random

    rng = _random.Random(seed)
    docs, _ = _gen_onboard_corpus(rng, 40, allow_chains=False)
    ids = sorted(docs)
    mid = ids[len(ids) // 2]
    docs1 = {i: t for i, t in docs.items() if i < mid}
    docs2 = {i: t for i, t in docs.items() if i >= mid}
    assert docs1 and docs2

    combined = _onboard(spark, docs, "serial", f"2d{seed}ref")
    n_survivors = sum(1 for v in combined.values() if v[2] > 0)

    for modes in (("serial", "serial"), ("wave", "wave"),
                  ("serial", "wave")):
        got, row = _two_drop(
            spark, docs1, docs2, modes, f"{seed}{modes[0][0]}{modes[1][0]}"
        )
        assert got == combined, (seed, modes)
        assert row.n_docs_live >= n_survivors, (seed, modes)
        if modes == ("serial", "serial"):
            assert row.n_docs_live == n_survivors, seed

    # compact between the drops: the already-legal order, same results
    got, row = _two_drop(
        spark, docs1, docs2, ("serial", "wave"), f"{seed}cb",
        compact_between=True,
    )
    assert got == combined, seed
    assert row.n_docs_live >= n_survivors, seed


def test_probe_before_stale_snapshot_contract(spark):
    """Round-15 verdict #7: ``probe_before`` is the wave's snapshot
    device, and a STALE value replays the under-removal mechanism the
    wave fuzz found. The stated contract, executed: the probe sees
    exactly the live claims in batches < probe_before — a mid-sequence
    batch probing an older snapshot deterministically MISSES claims from
    batches in [probe_before, bid) and dedups everything else
    identically. Fixed scenario plus a seeded net over copy-corpora where
    full-keep/full-removal is closed-form."""
    import random as _random

    # fixed scenario: batch 3 probes snapshot 1 — blind to batch 2 only
    store = temp_store(spark, "gs_pb_", n_buckets=4)
    try:
        b1 = spark.createDataFrame(
            [(1, "a1 a2 a3 a4 a5")], "doc_id long, text string"
        )
        b2 = spark.createDataFrame(
            [(2, "b1 b2 b3 b4 b5")], "doc_id long, text string"
        )
        b3 = spark.createDataFrame(
            [(3, "a1 a2 a3 a4 a5"), (4, "b1 b2 b3 b4 b5")],
            "doc_id long, text string",
        )
        store.ingest_batch(b1, bid=1, n=GRAM_N)
        store.ingest_batch(b2, bid=2, n=GRAM_N)
        res = {
            r.doc_id: r.n_removed
            for r in store.ingest_batch(
                b3, bid=3, n=GRAM_N, probe_before=2
            ).collect()  # bounded: 2 rows
        }
        # doc 3 duplicates batch-1 claims (visible): removed in full;
        # doc 4 duplicates batch-2 claims (the blind window): SURVIVES
        assert res == {3: 5, 4: 0}
    finally:
        cleanup_store(store)

    # seeded net: unique-or-exact-copy corpora (closed-form removal),
    # each batch probing a randomly stale snapshot. Model: docs form
    # FAMILIES (an underived unique-vocab doc and its exact copies; no
    # chains, so a family's gram set is constant). A family CLAIMS at
    # every batch where one of its members was kept. A copy in batch b
    # probing with probe_before=pb is removed iff the family has a claim
    # in some batch < pb (the visible-store rule), or an earlier member
    # of the same family shares its batch (the within-batch MIN rule —
    # which fires off the raw batch positions, so even a store-removed
    # earlier member triggers it). Everything else survives — and a
    # surviving copy itself claims, so a LATER batch's visibility depends
    # on claims, not on where the original source lives.
    for seed in (7, 19):
        rng = _random.Random(seed)
        store = temp_store(spark, f"gs_pbn{seed}_", n_buckets=4)
        try:
            next_id = 0
            # family id -> (tokens, set of batches holding a live claim)
            families: dict[int, tuple[list, set]] = {}
            for bid in range(1, 5):
                probe_before = rng.randint(1, bid)  # stale when < bid
                rows, expect, kept_members = [], {}, []
                batch_family: dict[int, int] = {}  # doc -> family
                for _ in range(rng.randint(1, 4)):
                    pool = [f for f, (t, _c) in families.items() if t]
                    if rng.random() < 0.55 or not pool:
                        toks = [
                            f"w{k}u{next_id}"
                            for k in range(rng.randint(1, 7))
                        ]
                        fam = next_id
                        families[fam] = (toks, set())
                        removed = False  # unique vocab: never removed
                    else:
                        fam = rng.choice(pool)
                        toks, claims = families[fam]
                        removed = any(
                            cb < probe_before for cb in claims
                        ) or fam in batch_family.values()
                    rows.append((next_id, " ".join(toks)))
                    expect[next_id] = len(toks) if removed else 0
                    if not removed:
                        kept_members.append(fam)
                    batch_family[next_id] = fam
                    next_id += 1
                df = spark.createDataFrame(
                    rows, "doc_id long, text string"
                )
                got = {
                    r.doc_id: r.n_removed
                    for r in store.ingest_batch(
                        df, bid=bid, n=GRAM_N, probe_before=probe_before
                    ).collect()  # bounded: fuzz batch
                }
                assert got == expect, (seed, bid, probe_before)
                for fam in kept_members:
                    families[fam][1].add(bid)
        finally:
            cleanup_store(store)


def test_embedding_store_lease_refuses_second_writer(spark, tmp_path):
    """Round-15 verdict #2: the persisted embedding/IVF store's
    save/compact swap was single-writer by DISCIPLINE — extend the gram
    store's lease to it (beside test_compact_lease_refuses_second_writer,
    as asked). A second maintainer's save refuses loudly while the lease
    is held; break_lease() is the crash repair; a caller-held lease runs
    save_ivf_index reentrantly; the round-trip stays intact throughout."""
    import numpy as np

    from dbix_batchchunker_spark.operators.gram_store import (
        StoreMaintenanceLockError,
    )
    from dbix_batchchunker_spark.operators.similarity import (
        EMBED_DIM,
        EmbeddingStoreLease,
        build_ivf_index,
        load_ivf_index,
        norm,
        save_ivf_index,
    )

    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(300, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(i, i % 3, [float(x) for x in vecs[i]]) for i in range(300)],
        "vec_id long, label long, embedding array<float>",
    ).withColumn("nrm", norm(F.col("embedding")))
    index = build_ivf_index(emb)
    path = str(tmp_path / "emb_store")

    # a FOREIGN maintainer (another job in production) holds the lease
    other = EmbeddingStoreLease(spark, path).acquire()
    with pytest.raises(StoreMaintenanceLockError):
        save_ivf_index(index, path)
    # and a second lease on the same store also refuses
    with pytest.raises(StoreMaintenanceLockError):
        EmbeddingStoreLease(spark, path).acquire()

    # crash repair: break, then save normally (own-lease path)
    other.break_lease()
    save_ivf_index(index, path)
    assert load_ivf_index(spark, path).centroids.count() > 0

    # reentrant path: one caller-held lease spans the whole save+swap
    with EmbeddingStoreLease(spark, path) as lease:
        save_ivf_index(index, path, lease=lease)
        # while held, a rival still refuses
        with pytest.raises(StoreMaintenanceLockError):
            save_ivf_index(index, path)
    # released on exit: the next maintainer proceeds
    save_ivf_index(index, path)

    # an UNHELD lease object is not a bypass token
    with pytest.raises(StoreMaintenanceLockError):
        save_ivf_index(index, path, lease=EmbeddingStoreLease(spark, path))

    loaded = load_ivf_index(spark, path)
    assert loaded.centroids.count() == index.centroids.count()


def test_onboarding_sink_path_equals_union(spark):
    """Round-15 verdict #5: the production result path — per-chunk sinks
    + read_outputs (the st13 layout) instead of a per-chunk driver union
    plan — must be result-identical to the in-memory union for every
    composition, and must lay down one b{bid} dir per non-empty chunk so
    fold_outputs can manage it between maintenance windows."""
    import random as _random
    import shutil
    import tempfile

    rng = _random.Random(17)
    docs, _ = _gen_onboard_corpus(rng, 35, allow_chains=True)

    for mode, kw in (
        ("serial", {}),
        ("wave", {}),
        ("wave", {"reconcile": "fixpoint"}),
    ):
        tag = f"sk{mode[0]}{len(kw)}"
        base = _onboard(spark, docs, mode, tag + "u", **kw)
        sink_root = tempfile.mkdtemp(prefix=f"gs_sink_{tag}_")
        try:
            out = os.path.join(sink_root, "out")
            sunk = _onboard(spark, docs, mode, tag + "s", sink_dir=out, **kw)
            assert sunk == base, (mode, kw)
            bdirs = [
                d for d in os.listdir(out) if d.startswith("b")
            ]
            # one per-chunk dir per non-empty chunk (target_chunks=4 in
            # the helper; id gaps can make a chunk empty)
            assert 1 <= len(bdirs) <= 5, bdirs
        finally:
            shutil.rmtree(sink_root, ignore_errors=True)


def test_shared_sink_dir_across_drops_and_fold(spark):
    """The shared-sink production composition (found while writing
    examples/multi_drop_onboarding.py, BEFORE it shipped wrong): two
    drops onboarded into ONE store with ONE sink_dir. Contract pinned:

    * each run's RETURN VALUE is its own docs only — phase 2 must not
      re-reconcile (or return) a prior drop's settled rows, even though
      the dirs coexist under one sink (the first sink implementation
      read the whole sink table into the wave's reconcile);
    * read_outputs over the shared sink is the union of both drops;
    * fold_outputs between the drops (the maintenance window) changes
      neither the later run's return nor the final table;
    * a store compact() between the drops changes nothing either —
      batch ids are MONOTONE over the store's lifetime (compact persists
      a high-water mark before folding partitions away), so drop 2's
      sink dirs can neither collide with unfolded drop-1 dirs nor fall
      below the fold mark (found live by the multi-drop example: a
      compacted store restarted bids at 1 and read_outputs silently
      dropped the second drop from the table)."""
    import random as _random
    import shutil
    import tempfile

    from dbix_batchchunker_spark.operators.gram_store import (
        onboard_corpus_serial,
        onboard_corpus_wave,
    )
    from dbix_batchchunker_spark.operators.stream import (
        fold_outputs,
        read_outputs,
    )

    rng = _random.Random(29)
    docs, _ = _gen_onboard_corpus(rng, 40, allow_chains=False)
    ids = sorted(docs)
    mid = ids[len(ids) // 2]
    docs1 = {i: t for i, t in docs.items() if i < mid}
    docs2 = {i: t for i, t in docs.items() if i >= mid}
    combined = _onboard(spark, docs, "serial", "ssref")

    for fold_between, compact_between in (
        (False, False), (True, False), (True, True)
    ):
        store = temp_store(
            spark, f"gs_ss{int(fold_between)}{int(compact_between)}_",
            n_buckets=4,
        )
        sink_root = tempfile.mkdtemp(prefix="gs_shared_sink_")
        out = os.path.join(sink_root, "out")
        try:
            def rows(df):
                return {
                    r.doc_id: (r.n_tokens, r.n_removed, r.n_kept,
                               r.kept_text)
                    for r in df.collect()  # bounded: fuzz corpus
                }

            df1 = spark.createDataFrame(
                sorted((i, " ".join(t)) for i, t in docs1.items()),
                "doc_id long, text string",
            ).localCheckpoint(eager=True)
            r1 = rows(onboard_corpus_serial(
                df1, store, target_chunks=3, n=GRAM_N, sink_dir=out
            ))
            assert set(r1) == set(docs1)  # own docs only
            if compact_between:
                store.purge(df1.limit(2).select("doc_id"))
                store.compact()  # must NOT recycle bids (hwm persisted)
            if fold_between:
                fold_outputs(spark, out, upto=store.max_real_batch() + 1)
            df2 = spark.createDataFrame(
                sorted((i, " ".join(t)) for i, t in docs2.items()),
                "doc_id long, text string",
            ).localCheckpoint(eager=True)
            r2 = rows(onboard_corpus_wave(
                df2, store, target_chunks=3, n=GRAM_N, sink_dir=out
            ))
            assert set(r2) == set(docs2)  # no drop-1 rows in the return
            # a compact purged 2 drop-1 docs' CLAIMS, not their already-
            # settled results — drop-2 dedup semantics shift only if a
            # purged doc was some drop-2 copy's only claimant, which the
            # unique-vocab fuzz geometry rules out for bases; skip the
            # exact-equality check only for the purged ids' dependents
            if not compact_between:
                assert {**r1, **r2} == combined, (fold_between,)
                # the shared sink IS the combined table
                assert rows(read_outputs(spark, out)) == combined
            else:
                table = rows(read_outputs(spark, out))
                assert table == {**r1, **r2}  # table == the two returns
                assert set(table) == set(docs)  # nothing lost to a fold
                # mark monotonicity: drop-2 dirs visible, above the mark
                assert set(r2) == set(docs2)
        finally:
            cleanup_store(store)
            shutil.rmtree(sink_root, ignore_errors=True)


@pytest.mark.parametrize("seed", [31])
def test_second_drop_onboarding_chained_structure(spark, seed):
    """Two-drop onboarding on CHAINED corpora (the geometry where serial
    results are chunk-layout-dependent, so no exact cross-composition
    equality exists). The structural half of the contract, pinned:
    same doc set, n_removed + n_kept == n_tokens everywhere, wave
    order-independence (max_in_flight 1 == 4) held ACROSS drops, and the
    fixpoint's per-doc removals remain a superset of the once pass's."""
    import random as _random

    rng = _random.Random(seed)
    docs, _ = _gen_onboard_corpus(rng, 36, allow_chains=True)
    ids = sorted(docs)
    mid = ids[len(ids) // 2]
    docs1 = {i: t for i, t in docs.items() if i < mid}
    docs2 = {i: t for i, t in docs.items() if i >= mid}

    def two_drop_wave(tag, **kw):
        from dbix_batchchunker_spark.operators.gram_store import (
            onboard_corpus_wave,
        )

        store = temp_store(spark, f"gs_2dc{tag}_", n_buckets=4)
        out = {}
        try:
            for dd in (docs1, docs2):
                df = spark.createDataFrame(
                    sorted((i, " ".join(t)) for i, t in dd.items()),
                    "doc_id long, text string",
                ).localCheckpoint(eager=True)
                res = onboard_corpus_wave(
                    df, store, target_chunks=3, n=GRAM_N, **kw
                )
                out.update(
                    {
                        r.doc_id: (r.n_tokens, r.n_removed, r.n_kept,
                                   r.kept_text)
                        for r in res.collect()  # bounded: fuzz corpus
                    }
                )
            return out
        finally:
            cleanup_store(store)

    w4 = two_drop_wave(f"{seed}w4", max_in_flight=4)
    w1 = two_drop_wave(f"{seed}w1", max_in_flight=1)
    wf = two_drop_wave(f"{seed}wf", reconcile="fixpoint")
    assert w4 == w1  # order independence survives the two-drop layout
    assert set(w4) == set(wf) == set(docs)
    for i in docs:
        assert w4[i][0] == wf[i][0] == len(docs[i])
        for r in (w4[i], wf[i]):
            assert r[1] + r[2] == r[0]
        assert wf[i][1] >= w4[i][1], (seed, i)


def test_onboarding_run_guard_blocks_compact_and_retains_on_failure(
    spark, monkeypatch
):
    """The run-level writer marker closes the maintenance handshake's
    between-chunk gap: per-write markers vanish between chunk writes, so
    a scheduled compact() could land mid-run (folding the run's earlier
    claims) or after a crash (folding the crashed claims into base and
    advancing the hwm — silently invalidating the drop_batches_above
    repair). Pin: (a) compact refuses BETWEEN chunk writes for the whole
    run; (b) a run that RAISES mid-way keeps its marker, so compact
    keeps refusing until the documented repair; (c) the repair sequence
    converges to the clean single-run result."""
    import random as _random

    from dbix_batchchunker_spark.operators.gram_store import (
        StoreMaintenanceLockError,
        onboard_corpus_serial,
    )

    rng = _random.Random(59)
    docs, _ = _gen_onboard_corpus(rng, 20, allow_chains=False)
    reference = _onboard(spark, docs, "serial", "rgref")

    # CONTROL for part (c): two clean drops of the same corpus into one
    # fresh store — what a repaired store must reproduce exactly
    ctl_df = spark.createDataFrame(
        sorted((i, " ".join(t)) for i, t in docs.items()),
        "doc_id long, text string",
    ).localCheckpoint(eager=True)
    from dbix_batchchunker_spark.operators.gram_store import (
        onboard_corpus_serial as _serial,
    )

    ctl_store = temp_store(spark, "gs_rgctl_", n_buckets=4)
    try:
        _serial(ctl_df, ctl_store, target_chunks=3, n=GRAM_N)
        ctl_store.compact()
        control = {
            r.doc_id: (r.n_tokens, r.n_removed, r.n_kept, r.kept_text)
            for r in _serial(
                ctl_df, ctl_store, target_chunks=3, n=GRAM_N
            ).collect()  # bounded: fuzz corpus
        }
    finally:
        cleanup_store(ctl_store)

    df = spark.createDataFrame(
        sorted((i, " ".join(t)) for i, t in docs.items()),
        "doc_id long, text string",
    ).localCheckpoint(eager=True)
    store = temp_store(spark, "gs_rg_", n_buckets=4)
    orig = GramPostingsStore.ingest_batch
    between_checks = []

    def spy(self, chunk_df, *a, **kw):
        r = orig(self, chunk_df, *a, **kw)
        # we are now BETWEEN chunk writes: no per-write marker is live,
        # only the run marker — compact must still refuse
        with pytest.raises(StoreMaintenanceLockError):
            self.compact()
        between_checks.append(kw.get("bid"))
        return r

    try:
        pre = store.max_real_batch()
        monkeypatch.setattr(GramPostingsStore, "ingest_batch", spy)
        got = {
            r.doc_id: (r.n_tokens, r.n_removed, r.n_kept, r.kept_text)
            for r in onboard_corpus_serial(
                df, store, target_chunks=3, n=GRAM_N
            ).collect()  # bounded: fuzz corpus
        }
        assert got == reference
        assert len(between_checks) >= 2
        monkeypatch.setattr(GramPostingsStore, "ingest_batch", orig)
        # clean exit removed the run marker: maintenance is allowed again
        store.compact()

        # (b) a FAILED run retains its marker (fail-safe lifetime)
        boom = [0]

        def failing(self, chunk_df, *a, **kw):
            boom[0] += 1
            if boom[0] == 2:
                raise RuntimeError("simulated mid-run failure")
            return orig(self, chunk_df, *a, **kw)

        pre_fail = store.max_real_batch()
        monkeypatch.setattr(GramPostingsStore, "ingest_batch", failing)
        with pytest.raises(RuntimeError, match="simulated"):
            onboard_corpus_serial(df, store, target_chunks=3, n=GRAM_N)
        monkeypatch.setattr(GramPostingsStore, "ingest_batch", orig)
        with pytest.raises(StoreMaintenanceLockError):
            store.compact()  # the failed run's claims are unrepaired
        # (c) documented repair: drop claims, clear the marker, re-run
        store.drop_batches_above(pre_fail)
        store.break_lease()
        got2 = {
            r.doc_id: (r.n_tokens, r.n_removed, r.n_kept, r.kept_text)
            for r in onboard_corpus_serial(
                df, store, target_chunks=3, n=GRAM_N
            ).collect()  # bounded: fuzz corpus
        }
        # the repaired store must reproduce the CONTROL exactly: a second
        # drop of the same corpus onto a store holding only the first
        # clean drop — proving the repair left drop 1 intact and made
        # the failed drop invisible (not full removal: a partially-cut
        # doc's kept remainder can be shorter than the gram width, claim
        # nothing in drop 1, and legitimately survive drop 2)
        assert got2 == control
    finally:
        cleanup_store(store)


def test_wave_refusal_leaks_no_conf_or_marker(spark):
    """A wave refused at START (maintenance lease in flight) must leave
    the session exactly as it found it: no partitionOverwriteMode on the
    session (the store's table OPTIONS declare its overwrite mode) and no
    retained run marker (refusing to start is not a failed run — nothing
    committed, nothing to repair)."""
    from dbix_batchchunker_spark.operators.gram_store import (
        StoreMaintenanceLockError,
        onboard_corpus_wave,
    )

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "f g h i j")], "doc_id long, text string"
    ).localCheckpoint(eager=True)
    store = temp_store(spark, "gs_leak_", n_buckets=4)
    conf = "spark.sql.sources.partitionOverwriteMode"
    prior = spark.conf.get(conf, None)
    # a FOREIGN maintainer's lease (another process's compact): the file,
    # not _lease.acquire on this instance — _lease.held would pass the
    # in-process compactor short-circuit and defeat the refusal
    fs, jp = fs_for(spark, store.lease_path)
    try:
        fs.createNewFile(jp)
        if prior is not None:
            spark.conf.unset(conf)
        with pytest.raises(StoreMaintenanceLockError):
            onboard_corpus_wave(df, store, target_chunks=2, n=GRAM_N)
        assert spark.conf.get(conf, None) is None  # no dynamic-mode leak
        assert store._writer_markers() == []  # no retained marker
    finally:
        if fs.exists(jp):
            fs.delete(jp, False)
        if prior is not None:
            spark.conf.set(conf, prior)
        cleanup_store(store)


def _parquet_files(root: str) -> "list[str]":
    return [
        os.path.join(d, f)
        for d, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    ]


def test_store_and_sink_files_are_zstd(spark, docs, tmp_path):
    """Storage format: ingest, purge, compact and a wave publish write
    every store, tombstone and sink file as zstd parquet
    (``store_fs.STORE_PARQUET_OPTIONS``) under the session's default
    snappy codec — and so does a compensating_chunk_overwrite table."""
    from dbix_batchchunker_spark.operators.gram_store import onboard_corpus_wave
    from dbix_batchchunker_spark.sources.parquet import (
        compensating_chunk_overwrite,
    )

    assert store_fs.STORE_PARQUET_OPTIONS == {"compression": "zstd"}
    store = temp_store(spark, "gs_zstd_", n_buckets=4)
    try:
        store.ingest_batch(docs.where("doc_id % 5 = 0"), bid=1, n=GRAM_N)
        store.purge(docs.where("doc_id % 25 = 0").select("doc_id"))
        store.compact()
        sink = str(tmp_path / "sink")
        onboard_corpus_wave(
            docs.where("doc_id % 5 = 1").localCheckpoint(eager=True),
            store, target_chunks=2, n=GRAM_N, sink_dir=sink,
        )
        store.purge(docs.where("doc_id % 25 = 1").select("doc_id"))
        files = {
            "store": _parquet_files(store.path),
            "tombstones": _parquet_files(store.tombstone_path),
            "sink": _parquet_files(sink),
        }
    finally:
        cleanup_store(store)
    table = str(tmp_path / "committed")
    compensating_chunk_overwrite(
        spark.range(0, 30).select("id", (F.col("id") * 2).alias("v")),
        table, "0-29", "id", bucket_width=10,
    )
    files["compensating"] = _parquet_files(table)
    for where, fs in files.items():
        assert fs, where
        assert all(f.endswith(".zstd.parquet") for f in fs), (where, fs)


def test_register_over_snappy_partition_reads_it_and_writes_zstd(
    spark, docs
):
    """A store whose batch 0 was written with snappy pages (a store
    persisted before the table declared zstd): ``register()`` reads its
    rows back unchanged, and a new batch lands as zstd beside it."""
    store = temp_store(spark, "gs_snap_", n_buckets=4)
    try:
        # batch 0 through a table without the format OPTIONS, at the
        # session's snappy default
        old = store.name + "_old"
        spark.sql(
            f"CREATE TABLE {old} (gram STRING, doc_id BIGINT, batch BIGINT) "
            "USING PARQUET PARTITIONED BY (batch) CLUSTERED BY (gram) "
            f"SORTED BY (gram) INTO 4 BUCKETS LOCATION '{store.path}'"
        )
        _positional_grams(docs.where("doc_id % 5 = 0"), GRAM_N).select(
            "gram", "doc_id", F.lit(0).cast("long").alias("batch")
        ).distinct().repartition(4, "gram").write.insertInto(old)
        spark.sql(f"DROP TABLE {old}")
        snappy = _parquet_files(os.path.join(store.path, "batch=0"))
        assert snappy and all(f.endswith(".snappy.parquet") for f in snappy)

        re_store = GramPostingsStore(
            spark, store.name + "_re", store.path, store.n_buckets
        ).register()
        want = sorted(
            spark.read.parquet(*snappy).select("gram", "doc_id").collect()
        )  # bounded: gate-scale postings
        got = sorted(
            re_store.postings().select("gram", "doc_id").collect()
        )  # bounded: same set
        assert got == want
        re_store.add_postings(docs.where("doc_id % 5 = 1"), bid=1, n=GRAM_N)
        new = _parquet_files(os.path.join(store.path, "batch=1"))
        assert new and all(f.endswith(".zstd.parquet") for f in new)
        assert _parquet_files(os.path.join(store.path, "batch=0")) == snappy
        re_store.drop()
    finally:
        cleanup_store(store)


def test_ingest_under_static_session_mode_keeps_other_batches(spark, docs):
    """The store's overwrite is dynamic by its table OPTIONS: with the
    session at ``static``, ingesting batch 2 leaves batch 1 intact, and
    the session conf is unchanged afterwards."""
    conf = "spark.sql.sources.partitionOverwriteMode"
    prior = spark.conf.get(conf, None)
    store = temp_store(spark, "gs_static_", n_buckets=4)
    try:
        spark.conf.set(conf, "static")
        store.add_postings(docs.where("doc_id % 5 = 0"), bid=1, n=GRAM_N)
        b1 = sorted(
            store.postings().where("batch = 1").collect()
        )  # bounded: gate-scale postings
        store.ingest_batch(docs.where("doc_id % 5 = 1"), bid=2, n=GRAM_N)
        assert spark.conf.get(conf) == "static"
        assert sorted(
            store.postings().where("batch = 1").collect()
        ) == b1  # bounded: same set
        assert store.postings().where("batch = 2").count() > 0
    finally:
        if prior is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, prior)
        cleanup_store(store)


def test_crashed_sink_onboarding_full_repair(spark, tmp_path):
    """The crashed-run repair's SINK half (drop_sink_batches_above): a
    crashed wave left b{bid} dirs + publish staging in a shared sink,
    and a re-run with DIFFERENT chunk geometry writes fewer bids — the
    leftovers would feed the shared sink table stale rows. Pin the full
    repair sequence: drop store claims, drop sink dirs, break the dead
    run's marker, re-run at a different geometry — the run's return AND
    the shared sink table both equal the clean single run."""
    import random as _random

    from dbix_batchchunker_spark.operators.gram_store import (
        StoreMaintenanceLockError,
        onboard_corpus_wave,
        repair_crashed_onboarding,
    )
    from dbix_batchchunker_spark.operators.stream import read_outputs

    rng = _random.Random(23)
    docs, _ = _gen_onboard_corpus(rng, 25, allow_chains=False)
    reference = _onboard(spark, docs, "wave", "skref")

    df = spark.createDataFrame(
        sorted((i, " ".join(t)) for i, t in docs.items()),
        "doc_id long, text string",
    ).localCheckpoint(eager=True)
    store = temp_store(spark, "gs_skrep_", n_buckets=4)
    sink = str(tmp_path / "sink")
    try:
        pre = store.max_real_batch()
        # "crashed" run at 4 chunks (a completed run is a superset of any
        # crash point for the leftover-dirs property): b1..b4 in the sink
        onboard_corpus_wave(
            df, store, target_chunks=4, n=GRAM_N, sink_dir=sink
        )
        # the dead run's retained run_guard marker (a real crash skips
        # the clean-exit delete; plant what it leaves)
        fs, jdir = fs_for(spark, store.writers_path)
        if not fs.exists(jdir):
            fs.mkdirs(jdir)
        fs.createNewFile(
            spark._jvm.org.apache.hadoop.fs.Path(
                store.writers_path + "/deadrun"
            )
        )
        # the trap the marker closes: an intervening scheduled compact
        # would fold the crashed claims into base (undroppable) and
        # advance the hwm past the repair — it must refuse
        with pytest.raises(StoreMaintenanceLockError):
            store.compact()
        # documented repair, in run_guard's stated order — as the one
        # call that encodes it
        repair_crashed_onboarding(store, pre, sink_dir=sink)
        out = onboard_corpus_wave(
            df, store, target_chunks=2, n=GRAM_N, sink_dir=sink
        )
        got = {
            r.doc_id: (r.n_tokens, r.n_removed, r.n_kept, r.kept_text)
            for r in out.collect()  # bounded: fuzz corpus
        }
        assert got == reference
        # the shared sink table reads EXACTLY the clean run — one final
        # row per doc, no orphan b3/b4 phase-1 rows from the dead run
        table = {
            r.doc_id: (r.n_tokens, r.n_removed, r.n_kept, r.kept_text)
            for r in read_outputs(spark, sink)
            .select("doc_id", "n_tokens", "n_removed", "n_kept", "kept_text")
            .collect()  # bounded: fuzz corpus
        }
        assert table == reference
        assert read_outputs(spark, sink).count() == len(docs)
    finally:
        cleanup_store(store)


def test_crashed_onboarding_rerun_after_drop_batches_above(spark):
    """The bid-offset fix's one sharp edge, pinned with its repair: a
    crashed onboarding run leaves claims in partitions above the pre-run
    max_real_batch(), and a NAIVE re-run folds them into its base offset
    — the corpus then dedups against its own crashed claims (every doc
    with any gram is removed in full, deterministically). The documented
    recovery: drop_batches_above(pre-run max), then re-run — result
    equals the clean single run."""
    import random as _random

    from dbix_batchchunker_spark.operators.gram_store import (
        onboard_corpus_wave,
    )

    rng = _random.Random(41)
    docs, _ = _gen_onboard_corpus(rng, 25, allow_chains=False)
    reference = _onboard(spark, docs, "wave", "crref")

    df = spark.createDataFrame(
        sorted((i, " ".join(t)) for i, t in docs.items()),
        "doc_id long, text string",
    ).localCheckpoint(eager=True)
    store = temp_store(spark, "gs_crash_", n_buckets=4)
    try:
        pre = store.max_real_batch()
        # "crashed" run: claims landed (a completed run is a superset of
        # any crash point for the self-collision property)
        onboard_corpus_wave(df, store, target_chunks=4, n=GRAM_N)
        # the naive re-run self-collides: every doc with any gram probes
        # its own crashed claims and is removed in full
        naive = onboard_corpus_wave(df, store, target_chunks=4, n=GRAM_N)
        for r in naive.collect():  # bounded: fuzz corpus
            if r.n_tokens > 0:
                assert r.n_removed == r.n_tokens, r
        # documented repair: drop the crashed claims, re-run clean
        store.drop_batches_above(pre)
        # (the naive run's claims are above `pre` too — both runs' are)
        repaired = onboard_corpus_wave(
            df, store, target_chunks=4, n=GRAM_N
        )
        got = {
            r.doc_id: (r.n_tokens, r.n_removed, r.n_kept, r.kept_text)
            for r in repaired.collect()  # bounded: fuzz corpus
        }
        assert got == reference
    finally:
        cleanup_store(store)


def test_persisted_embedding_store_compact_and_roundtrip(spark, tmp_path):
    """The persisted embedding store's full lifecycle as API (round-15
    verdict #2's 'caller's swap' completed): composite save (index +
    entries + vectors under ONE lease) → load round-trip → leased append
    → PHYSICAL compact (write-aside + swap under the lease) → purged ids
    gone from BOTH halves, survivors intact, stale __next residue from a
    simulated crash overwritten by the re-run, and a rival writer
    refused for the whole window."""
    import numpy as np

    from dbix_batchchunker_spark.operators.gram_store import (
        StoreMaintenanceLockError,
    )
    from dbix_batchchunker_spark.operators.similarity import (
        EMBED_DIM,
        SIM06_NPROBE,
        EmbeddingStoreLease,
        _probe_entries,
        build_ivf_index,
        compact_persisted_embedding_store,
        load_embedding_store,
        norm,
        save_embedding_store,
        append_embedding_store,
    )

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(400, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(i, i % 3, [float(x) for x in vecs[i]]) for i in range(400)],
        "vec_id long, label long, embedding array<float>",
    ).withColumn("nrm", norm(F.col("embedding")))
    index = build_ivf_index(emb)
    entries = _probe_entries(emb, index, SIM06_NPROBE).select(
        F.col("doc_id").alias("vec_id"),
        F.col("bucket").alias("centroid_id"),
    )
    path = str(tmp_path / "store")

    save_embedding_store(path, index, entries, emb)
    idx2, e2, v2 = load_embedding_store(spark, path)
    assert v2.count() == 400
    assert e2.count() == entries.count()
    assert idx2.centroids.count() == index.centroids.count()

    # leased append: a survivor batch under NEW ids
    inc = emb.where("vec_id < 20").select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        "label",
        "embedding",
        "nrm",
    )
    inc_entries = _probe_entries(inc, idx2, SIM06_NPROBE).select(
        F.col("doc_id").alias("vec_id"),
        F.col("bucket").alias("centroid_id"),
    )
    append_embedding_store(path, inc_entries, inc)
    _, e3, v3 = load_embedding_store(spark, path)
    assert v3.count() == 420

    # stale crash residue: a half-written __next must be overwritten,
    # not trusted, by the compacting re-run
    spark.range(1).selectExpr("id as junk").write.mode(
        "overwrite"
    ).parquet(f"{path}/vectors__next")

    purged = spark.range(0, 400, 5).select(F.col("id").alias("vec_id"))
    compact_persisted_embedding_store(spark, path, purged)
    _, e4, v4 = load_embedding_store(spark, path)
    kept_v = sorted(r.vec_id for r in v4.select("vec_id").collect())
    # bounded: 420-vector fixture store
    assert len(kept_v) == 420 - 80
    assert not any(v % 5 == 0 and v < 400 for v in kept_v)
    assert all(v >= 1000 or v % 5 != 0 for v in kept_v)
    kept_e = {r.vec_id for r in e4.select("vec_id").collect()}  # bounded
    assert not any(v % 5 == 0 and v < 400 for v in kept_e)
    # no swap residue left behind
    fs, _ = fs_for(spark, path)
    jp = spark._jvm.org.apache.hadoop.fs.Path
    for residue in ("entries__next", "vectors__next", "entries__old",
                    "vectors__old"):
        assert not fs.exists(jp(f"{path}/{residue}")), residue

    # idempotent: re-running the compact converges (purge list reapplied
    # to an already-clean store changes nothing)
    compact_persisted_embedding_store(spark, path, purged)
    _, _, v5 = load_embedding_store(spark, path)
    assert v5.count() == 340

    # two-writer refusal spans every mutation of the persisted store
    holder = EmbeddingStoreLease(spark, path).acquire()
    with pytest.raises(StoreMaintenanceLockError):
        save_embedding_store(path, index, entries, emb)
    with pytest.raises(StoreMaintenanceLockError):
        append_embedding_store(path, inc_entries, inc)
    with pytest.raises(StoreMaintenanceLockError):
        compact_persisted_embedding_store(spark, path, purged)
    holder.release()


def _mk_embedding_store(spark, tmp_path, n=300, seed=11):
    """A small persisted embedding store fixture: (path, index, entries,
    emb) with the store saved at <tmp_path>/store."""
    import numpy as np

    from dbix_batchchunker_spark.operators.similarity import (
        EMBED_DIM,
        SIM06_NPROBE,
        _probe_entries,
        build_ivf_index,
        norm,
        save_embedding_store,
    )

    rng = np.random.default_rng(seed)
    vecs = rng.normal(size=(n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(i, i % 3, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, label long, embedding array<float>",
    ).withColumn("nrm", norm(F.col("embedding")))
    index = build_ivf_index(emb)
    entries = _probe_entries(emb, index, SIM06_NPROBE).select(
        F.col("doc_id").alias("vec_id"),
        F.col("bucket").alias("centroid_id"),
    )
    path = str(tmp_path / "store")
    save_embedding_store(path, index, entries, emb)
    return path, index, entries, emb


def test_persisted_store_mid_swap_crash_converges(spark, tmp_path):
    """Round-16 verdict #1 (the round's top ask): a compact that crashes
    BETWEEN a half's two renames leaves the live dir absent with the data
    stranded in __old/__next — previously unrecoverable without
    reverse-engineering the layout. Both the compacting re-run and a
    plain load must now converge every crash point:

    - live absent + __old only        -> roll BACK  (restore __old)
    - live absent + __old AND __next  -> roll FORWARD (complete swap)
    """
    from dbix_batchchunker_spark.operators.similarity import (
        compact_persisted_embedding_store,
        load_embedding_store,
    )

    path, index, entries, emb = _mk_embedding_store(spark, tmp_path)
    fs, _ = fs_for(spark, path)
    jp = spark._jvm.org.apache.hadoop.fs.Path

    # --- crash point A: rename(live, old) done, rename(next, live) not,
    # and __next was fully written (the compact's ordering invariant):
    # simulate by writing a COMPLETE __next for vectors then moving live
    # aside exactly as the swap's first rename does.
    purged = spark.range(0, 300, 5).select(F.col("id").alias("vec_id"))
    survivors = emb.join(purged, "vec_id", "left_anti")
    survivors.write.mode("overwrite").parquet(f"{path}/vectors__next")
    assert fs.rename(jp(f"{path}/vectors"), jp(f"{path}/vectors__old"))
    assert not fs.exists(jp(f"{path}/vectors"))

    # load repairs (roll forward) and the store is readable again
    _, e_l, v_l = load_embedding_store(spark, path)
    assert v_l.count() == 240
    assert not fs.exists(jp(f"{path}/vectors__old"))
    assert not fs.exists(jp(f"{path}/vectors__next"))

    # --- crash point B: live moved aside, NO __next (e.g. the write-
    # aside itself was lost): roll back restores the pre-compact half.
    assert fs.rename(jp(f"{path}/entries"), jp(f"{path}/entries__old"))
    _, e_b, v_b = load_embedding_store(spark, path)
    assert e_b.count() == entries.count()
    assert not fs.exists(jp(f"{path}/entries__old"))

    # --- and the compacting RE-RUN converges from a mid-swap crash too:
    # plant crash point A again, then re-run the compact itself.
    emb.limit(250).write.mode("overwrite").parquet(f"{path}/vectors__next")
    assert fs.rename(jp(f"{path}/vectors"), jp(f"{path}/vectors__old"))
    compact_persisted_embedding_store(spark, path, purged)
    _, e_c, v_c = load_embedding_store(spark, path)
    # repair rolled the planted __next forward, then the compact re-ran
    # the purge on it: survivors of (limit 250) minus the purge list
    assert v_c.count() == 250 - 50
    for residue in ("vectors__next", "vectors__old",
                    "entries__next", "entries__old"):
        assert not fs.exists(jp(f"{path}/{residue}")), residue


def test_persisted_store_between_halves_window_pairs_correct(
    spark, tmp_path
):
    """The compact swap's BETWEEN-halves crash window — entries already
    swapped to the compacted half, vectors still pre-compact with
    ``vectors__next`` written aside — was ARGUED correct in
    compact_persisted_embedding_store's docstring (pair listings join
    entries->vectors, so a vector purged from entries never pairs) but
    never pinned. Plant that exact window and assert (a) the mixed-window
    pair listing EQUALS the fully-compacted listing and (b) the
    compacting re-run converges the store with no residue."""
    from dbix_batchchunker_spark.operators.similarity import (
        _write_entries,
        compact_embedding_store,
        compact_persisted_embedding_store,
        load_embedding_store,
        store_near_dup_pairs,
    )

    path, index, entries, emb = _mk_embedding_store(spark, tmp_path)
    fs, _ = fs_for(spark, path)
    jp = spark._jvm.org.apache.hadoop.fs.Path

    purged = spark.range(0, 300, 5).select(F.col("id").alias("vec_id"))
    e_live, v_live = compact_embedding_store(entries, emb, purged)
    expected = {
        (r.vec_a, r.vec_b)
        for r in store_near_dup_pairs(e_live, v_live).collect()
    }

    # plant the window exactly as the swap reaches it: both __next halves
    # fully written, the ENTRIES swap complete (old deleted), the vectors
    # swap not started.
    _write_entries(e_live, f"{path}/entries__next", "overwrite")
    v_live.select("vec_id", "label", "embedding", "nrm").write.mode(
        "overwrite"
    ).parquet(f"{path}/vectors__next")
    assert fs.rename(jp(f"{path}/entries"), jp(f"{path}/entries__old"))
    assert fs.rename(jp(f"{path}/entries__next"), jp(f"{path}/entries"))
    assert fs.delete(jp(f"{path}/entries__old"), True)

    # (a) a reader in the window sees the compacted listing already:
    # candidates come from entries alone, so the 60 purged ids still
    # present in the pre-compact vectors half can never pair.
    _, e_mix, v_mix = load_embedding_store(spark, path)
    assert v_mix.count() == 300  # the window is real: vectors pre-compact
    mixed = {
        (r.vec_a, r.vec_b)
        for r in store_near_dup_pairs(e_mix, v_mix).collect()
    }
    assert mixed == expected

    # (b) the re-run converges: fresh write-asides, both halves swapped,
    # residue cleared.
    compact_persisted_embedding_store(spark, path, purged)
    _, e_c, v_c = load_embedding_store(spark, path)
    assert v_c.count() == 240
    final = {
        (r.vec_a, r.vec_b)
        for r in store_near_dup_pairs(e_c, v_c).collect()
    }
    assert final == expected
    for residue in (
        "entries__next",
        "entries__old",
        "vectors__next",
        "vectors__old",
    ):
        assert not fs.exists(jp(f"{path}/{residue}")), residue


@pytest.mark.parametrize("crash_at", [1, 2, 3, 4])
def test_persisted_store_compact_crash_sweep_converges(
    spark, tmp_path, monkeypatch, crash_at
):
    """EVERY-crash-point sweep, mechanized: the hand-planted mid-swap
    tests pin points A/B by reconstructing the layout; this sweep drives
    the REAL compact and kills it at each of its four swap renames
    (entries live→old, entries next→live, vectors live→old, vectors
    next→live) via an injected store_fs.checked_rename failure. After every
    crash point: (a) a plain load succeeds (repairing as needed), and
    (b) an unpatched compacting re-run converges to the clean result —
    survivor count, full pair listing, zero swap residue. The aside
    writes are upstream of every injection, so the sweep also witnesses
    the ordering invariant (live untouched until both __next halves are
    complete)."""
    from dbix_batchchunker_spark.operators import similarity as sim

    path, index, entries, emb = _mk_embedding_store(spark, tmp_path)
    purged = spark.range(0, 300, 5).select(F.col("id").alias("vec_id"))

    # the clean expectation, computed on in-memory frames
    e_clean, v_clean = sim.compact_embedding_store(entries, emb, purged)
    expected = {
        (r.vec_a, r.vec_b)
        for r in sim.store_near_dup_pairs(e_clean, v_clean).collect()
    }

    real_rename = store_fs.checked_rename
    calls = {"n": 0}

    def dying_rename(fs, src, dst):
        calls["n"] += 1
        if calls["n"] == crash_at:
            raise RuntimeError(f"injected crash at swap rename {crash_at}")
        real_rename(fs, src, dst)

    monkeypatch.setattr(store_fs, "checked_rename", dying_rename)
    with pytest.raises(RuntimeError, match="injected crash"):
        sim.compact_persisted_embedding_store(spark, path, purged)
    monkeypatch.setattr(store_fs, "checked_rename", real_rename)

    # (a) the store is readable at every crash point (load repairs a
    # half whose live dir is absent)
    _, e_l, v_l = sim.load_embedding_store(spark, path)
    assert e_l.count() > 0 and v_l.count() > 0

    # (b) the re-run converges to the clean result with no residue
    sim.compact_persisted_embedding_store(spark, path, purged)
    _, e_c, v_c = sim.load_embedding_store(spark, path)
    assert v_c.count() == 240
    final = {
        (r.vec_a, r.vec_b)
        for r in sim.store_near_dup_pairs(e_c, v_c).collect()
    }
    assert final == expected
    fs, _ = fs_for(spark, path)
    jp = spark._jvm.org.apache.hadoop.fs.Path
    for residue in (
        "entries__next", "entries__old", "vectors__next", "vectors__old"
    ):
        assert not fs.exists(jp(f"{path}/{residue}")), residue


class _CondCreateFS:
    """Python proxy over the real local FileSystem that DECLARES the
    conditional-create capability — drives _atomic_create_if_absent's
    conditional branch against real builder create semantics (the local
    builder's overwrite(False) refuses an existing file exactly like
    s3a's conditional PUT surfaces FileAlreadyExists)."""

    def __init__(self, fs):
        self._fs = fs

    def hasPathCapability(self, jp, cap):
        return cap == store_fs.CONDITIONAL_CREATE_CAPABILITY

    def createFile(self, jp):
        return self._fs.createFile(jp)

    def createNewFile(self, jp):  # pragma: no cover - guards the routing
        raise AssertionError(
            "fallback createNewFile taken despite declared capability"
        )


def test_atomic_create_if_absent_routes_by_capability(spark, tmp_path):
    """The lease acquire's create-if-absent routes through the strongest
    primitive the FileSystem declares: conditional builder create when
    the capability is up (exactly one of two racing maintainers wins),
    createNewFile otherwise, and a NON-exists IO failure re-raises
    instead of reading as 'lease held'."""
    _atomic_create_if_absent = store_fs._atomic_create_if_absent
    jp = spark._jvm.org.apache.hadoop.fs.Path
    real = jp(str(tmp_path)).getFileSystem(
        spark._jsc.hadoopConfiguration()
    )

    # conditional branch: winner creates, rival refuses
    cond = _CondCreateFS(real)
    lease = jp(str(tmp_path / "lease"))
    assert _atomic_create_if_absent(cond, lease) is True
    assert real.exists(lease)
    assert _atomic_create_if_absent(cond, lease) is False

    # fallback branch on the raw local FS (capability not declared)
    lease2 = jp(str(tmp_path / "lease2"))
    assert _atomic_create_if_absent(real, lease2) is True
    assert _atomic_create_if_absent(real, lease2) is False

    # an unrelated failure re-raises — never masquerades as 'held'
    class _BrokenFS(_CondCreateFS):
        def createFile(self, jp_):
            raise RuntimeError("simulated network failure")

    with pytest.raises(RuntimeError, match="network"):
        _atomic_create_if_absent(_BrokenFS(real), jp(str(tmp_path / "x")))


def test_embedding_store_lease_release_is_noop_unless_held(
    spark, tmp_path
):
    """release() is public API: calling it on a lease object that never
    acquired must NOT delete a foreign maintainer's live lease file —
    that deliberate override is break_lease()."""
    from dbix_batchchunker_spark.operators.gram_store import (
        StoreMaintenanceLockError,
    )
    from dbix_batchchunker_spark.operators.similarity import (
        EmbeddingStoreLease,
    )

    path = str(tmp_path / "store")
    holder = EmbeddingStoreLease(spark, path).acquire()
    fs, _ = fs_for(spark, path)
    jp = spark._jvm.org.apache.hadoop.fs.Path(holder.lease_path)

    bystander = EmbeddingStoreLease(spark, path)
    bystander.release()  # never acquired — must not touch the file
    assert fs.exists(jp)
    with pytest.raises(StoreMaintenanceLockError):
        bystander.acquire()

    bystander.break_lease()  # the explicit crash-repair override
    assert not fs.exists(jp)
    holder.release()  # holder's release after a break is a clean no-op
    assert not fs.exists(jp)


def test_retrain_embedding_store_fresh_geometry_same_pairs(
    spark, tmp_path
):
    """Retrain rebuilds an append-grown store's routing state into a
    fresh store: the index is retrained on the LIVE vectors (appends
    included — the original index never saw them), the watermark carries
    over from the live max, and the pair listing is preserved — planted
    copies share every cell with their source under ANY centroid set
    (identical embeddings → identical distances), so the copy pairs must
    survive the retrain exactly. In-place retrain refuses."""
    from dbix_batchchunker_spark.operators.similarity import (
        SIM06_NPROBE,
        _probe_entries,
        append_embedding_store,
        load_embedding_store,
        load_ivf_index,
        retrain_embedding_store,
        store_near_dup_pairs,
    )

    path, index, entries, emb = _mk_embedding_store(spark, tmp_path)
    idx = load_ivf_index(spark, f"{path}/index")

    # grow the store by APPENDING copies (ids shifted, same vectors):
    # the persisted index never saw them — the retrain premise
    src = emb.where(F.col("vec_id") % 10 == 1)
    copies = src.select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        "label",
        "embedding",
        "nrm",
    ).localCheckpoint(eager=True)
    cp_entries = _probe_entries(copies, idx, SIM06_NPROBE).select(
        F.col("doc_id").alias("vec_id"),
        F.col("bucket").alias("centroid_id"),
    ).localCheckpoint(eager=True)
    append_embedding_store(path, cp_entries, copies)

    _, e0, v0 = load_embedding_store(spark, path)
    pre = {
        (r.vec_a, r.vec_b)
        for r in store_near_dup_pairs(e0, v0).collect()
    }
    # every copy pairs with its source (cos 1.0, same label)
    assert len(pre) >= copies.count()

    dst = str(tmp_path / "retrained")
    retrain_embedding_store(spark, path, dst)
    ix1, e1, v1 = load_embedding_store(spark, dst)
    assert v1.count() == v0.count()
    post = {
        (r.vec_a, r.vec_b)
        for r in store_near_dup_pairs(e1, v1).collect()
    }
    assert post == pre
    # the keyset discipline carries over: the fresh watermark equals the
    # live max, so an id-reusing append refuses on the retrained store
    assert read_int(spark, f"{dst}/vec_id_hwm") == 1291
    with pytest.raises(ValueError, match="reuses vec_ids"):
        append_embedding_store(dst, cp_entries, copies)
    # and the in-place form refuses up front
    with pytest.raises(ValueError, match="in-place"):
        retrain_embedding_store(spark, path, path + "/")
    # nesting refuses both directions: a dst inside the leased store
    # would write a store into the store's own layout, and a src inside
    # dst would be clobbered by the dst save
    with pytest.raises(ValueError, match="nested"):
        retrain_embedding_store(spark, path, f"{path}/retrained")
    with pytest.raises(ValueError, match="nested"):
        retrain_embedding_store(spark, f"{path}/vectors", path)


def test_streaming_append_replay_is_idempotent_through_dedup(
    spark, tmp_path
):
    """st14's replay contract: a re-delivered micro-batch (crash between
    the foreachBatch commit and the checkpoint commit) dedups ENTIRELY
    against its own committed copy — the survivor set is empty, and
    append_embedding_store no-ops an empty batch: no rows land in either
    half, the watermark does not advance, and no refusal fires (the
    empty batch has no min id to be at-or-below the mark)."""
    from dbix_batchchunker_spark.operators.similarity import (
        SIM06_NPROBE,
        _probe_entries,
        append_embedding_store,
        incremental_embedding_near_dups,
        load_embedding_store,
        load_ivf_index,
    )

    path, index, entries, emb = _mk_embedding_store(spark, tmp_path)
    loaded = load_ivf_index(spark, f"{path}/index")

    increment = emb.where(F.col("vec_id") % 10 == 1).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "label", "embedding",
        "nrm",
    )

    def dedup_and_append():
        _, e_s, v_s = load_embedding_store(spark, path)
        pairs = incremental_embedding_near_dups(increment, loaded, e_s, v_s)
        dup = pairs.select(F.col("vec_b").alias("vec_id")).distinct()
        surv = increment.join(dup, "vec_id", "left_anti")
        append_embedding_store(
            path,
            _probe_entries(surv, loaded, SIM06_NPROBE).select(
                F.col("doc_id").alias("vec_id"),
                F.col("bucket").alias("centroid_id"),
            ),
            surv,
        )
        return surv.count()

    # first delivery: the planted copies are near-dups of their sources
    # (dropped); any residue of the increment without a source survives —
    # on this device every copy HAS a source, so nothing survives and we
    # plant one genuinely-new row to make the append real
    import numpy as np

    rng = np.random.default_rng(99)
    fresh_vec = rng.normal(size=(64,))
    fresh_vec /= np.linalg.norm(fresh_vec)
    fresh = spark.createDataFrame(
        [(2000, 77, [float(x) for x in fresh_vec])],
        "vec_id long, label long, embedding array<float>",
    ).withColumn("nrm", F.lit(1.0))
    increment = increment.unionByName(fresh)

    n1 = dedup_and_append()
    assert n1 >= 1  # the fresh row survived and was appended
    hwm_after_first = read_int(spark, f"{path}/vec_id_hwm")
    _, e1, v1 = load_embedding_store(spark, path)
    count_e, count_v = e1.count(), v1.count()

    # replay: the SAME increment re-delivered — every row now dups
    # against its committed copy; the append must no-op, not refuse
    n2 = dedup_and_append()
    assert n2 == 0
    assert read_int(spark, f"{path}/vec_id_hwm") == hwm_after_first
    _, e2, v2 = load_embedding_store(spark, path)
    assert (e2.count(), v2.count()) == (count_e, count_v)


def test_repair_crashed_append_restores_then_rerun_succeeds(
    spark, tmp_path
):
    """A crashed append_embedding_store that committed ONE half before
    the watermark advanced leaves ids above the watermark a blind re-run
    would duplicate. repair_crashed_append encodes the documented flow:
    probe, purge exactly the committed residue from the LIVE halves,
    re-run — store equal to a clean single append."""
    from dbix_batchchunker_spark.operators.similarity import (
        SIM06_NPROBE,
        _probe_entries,
        _write_entries,
        append_embedding_store,
        load_embedding_store,
        load_ivf_index,
        repair_crashed_append,
        store_near_dup_pairs,
        verify_embedding_store_watermark,
    )

    path, index, entries, emb = _mk_embedding_store(spark, tmp_path)
    idx = load_ivf_index(spark, f"{path}/index")

    # the incoming batch: copies of vec_id % 9 == 2, shifted past the hwm
    src = emb.where(F.col("vec_id") % 9 == 2)
    batch_v = src.select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        "label",
        "embedding",
        "nrm",
    ).localCheckpoint(eager=True)
    batch_e = _probe_entries(batch_v, idx, SIM06_NPROBE).select(
        F.col("doc_id").alias("vec_id"),
        F.col("bucket").alias("centroid_id"),
    ).localCheckpoint(eager=True)

    # CLEAN control: the store after one successful append
    ctl = str(tmp_path / "ctl")
    import shutil

    shutil.copytree(path, ctl)
    append_embedding_store(ctl, batch_e, batch_v)
    _, ce, cv = load_embedding_store(spark, ctl)
    expected = (
        ce.count(),
        cv.count(),
        {
            (r.vec_a, r.vec_b)
            for r in store_near_dup_pairs(ce, cv).collect()
        },
    )

    # CRASHED append: the entries half committed, vectors + watermark not
    _write_entries(batch_e, f"{path}/entries", "append")
    probe = verify_embedding_store_watermark(spark, path)
    assert probe["residue"] is True and probe["watermark"] == 299

    repaired = repair_crashed_append(spark, path)
    assert repaired["residue"] is True
    after = verify_embedding_store_watermark(spark, path)
    assert after["residue"] is False  # store back to pre-append state
    _, e0, v0 = load_embedding_store(spark, path)
    assert e0.where(F.col("vec_id") > 299).count() == 0

    # the re-run (step the flow prescribes) — equals the clean control
    append_embedding_store(path, batch_e, batch_v)
    _, e1, v1 = load_embedding_store(spark, path)
    got = (
        e1.count(),
        v1.count(),
        {
            (r.vec_a, r.vec_b)
            for r in store_near_dup_pairs(e1, v1).collect()
        },
    )
    assert got == expected
    # idempotent: repairing a healthy store is a no-op probe
    assert repair_crashed_append(spark, path)["residue"] is False


def test_append_embedding_store_refuses_reused_vec_ids(spark, tmp_path):
    """Round-16 verdict #2: vec_ids are never reused — a reusing append
    refuses LOUDLY against the persisted watermark (the gram store's
    max_real_batch precedent), a fresh-keyed append advances it, and a
    store missing the watermark file refuses, naming the file."""
    from dbix_batchchunker_spark.operators.similarity import (
        SIM06_NPROBE,
        _probe_entries,
        append_embedding_store,
        load_embedding_store,
        load_ivf_index,
        verify_embedding_store_watermark,
    )

    path, index, entries, emb = _mk_embedding_store(spark, tmp_path)
    assert read_int(spark, f"{path}/vec_id_hwm") == 299

    idx = load_ivf_index(spark, f"{path}/index")

    def batch(offset, lo=0, hi=20):
        b = emb.where(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
        ).select(
            (F.col("vec_id") + offset).alias("vec_id"),
            "label", "embedding", "nrm",
        )
        e = _probe_entries(b, idx, SIM06_NPROBE).select(
            F.col("doc_id").alias("vec_id"),
            F.col("bucket").alias("centroid_id"),
        )
        return e, b

    # reuse (ids 100..119 are live) refuses, store untouched
    e_dup, b_dup = batch(100)
    with pytest.raises(ValueError, match="reuses vec_ids"):
        append_embedding_store(path, e_dup, b_dup)
    _, _, v = load_embedding_store(spark, path)
    assert v.count() == 300

    # boundary: min id == watermark also refuses (at-or-below)
    e_eq, b_eq = batch(299)
    with pytest.raises(ValueError, match="reuses vec_ids"):
        append_embedding_store(path, e_eq, b_eq)

    # fresh keys append and advance the watermark
    e_ok, b_ok = batch(1000)
    append_embedding_store(path, e_ok, b_ok)
    assert read_int(spark, f"{path}/vec_id_hwm") == 1019
    _, _, v2 = load_embedding_store(spark, path)
    assert v2.count() == 320

    # a missing watermark raises naming the file — never derived; the
    # store is untouched and a restored mark serves again
    fs, _ = fs_for(spark, path)
    jp = spark._jvm.org.apache.hadoop.fs.Path
    fs.delete(jp(f"{path}/vec_id_hwm"), False)
    e_new, b_new = batch(3000)
    with pytest.raises(FileNotFoundError, match="vec_id_hwm"):
        append_embedding_store(path, e_new, b_new)
    store_fs.write_int(spark, f"{path}/vec_id_hwm", 1019)

    # the crash-repair probe: no residue on a healthy store; after a
    # simulated half-committed append (vectors half landed, watermark
    # not updated), residue is flagged
    probe = verify_embedding_store_watermark(spark, path)
    assert probe == {"watermark": 1019, "live_max": 1019,
                     "residue": False}
    b_crash = batch(2000)[1]
    b_crash.select("vec_id", "label", "embedding", "nrm").write.mode(
        "append"
    ).parquet(f"{path}/vectors")
    probe2 = verify_embedding_store_watermark(spark, path)
    assert probe2["residue"] and probe2["live_max"] == 2019


def test_save_ivf_index_leases_composite_store_parent(spark, tmp_path):
    """Round-16 advisor (lease granularity): a direct
    save_ivf_index(ix, f"{store}/index") — the pre-round-16 call
    pattern, still public — must exclude the *_embedding_store
    maintainers on the same composite store, not lease a different
    file beside the index dir."""
    from dbix_batchchunker_spark.operators.gram_store import (
        StoreMaintenanceLockError,
    )
    from dbix_batchchunker_spark.operators.similarity import (
        EmbeddingStoreLease,
        load_ivf_index,
        save_ivf_index,
    )

    path, index, entries, emb = _mk_embedding_store(spark, tmp_path)

    # a store-level maintainer holds the lease: the index-dir save must
    # refuse (previously it took <store>/index__maintenance_lease and
    # raced straight past)
    holder = EmbeddingStoreLease(spark, path).acquire()
    with pytest.raises(StoreMaintenanceLockError):
        save_ivf_index(index, f"{path}/index")
    holder.release()

    # unheld: the parent-level self-lease is taken and released cleanly
    save_ivf_index(index, f"{path}/index")
    assert load_ivf_index(
        spark, f"{path}/index"
    ).centroids.count() == index.centroids.count()

    # a STANDALONE index dir (no composite layout around it) still
    # leases at its own path — granularity only widens inside a store
    solo = str(tmp_path / "solo_index")
    save_ivf_index(index, solo)
    fs, _ = fs_for(spark, solo)
    jp = spark._jvm.org.apache.hadoop.fs.Path
    assert not fs.exists(jp(str(tmp_path / "solo_index__maintenance_lease")))
    assert load_ivf_index(spark, solo).centroids.count() > 0


def test_bid_hwm_write_is_atomic_and_skips_no_advance(spark, docs):
    """Round-16 advisor (medium): the bid-hwm write used to truncate the mark
    in place — a crash mid-write during a no-new-batches compact (whose
    witnessing partitions a PRIOR compact already folded away) regressed
    max_real_batch() to 0, the exact bid-recycling hazard the mark
    prevents. Now: write-aside + rename, no __tmp residue, and the
    no-advance rewrite is skipped entirely (the only case where the file
    is the mark's sole witness)."""
    store = temp_store(spark, "gs_hwm_")
    try:
        fs, jp = fs_for(spark, store.hwm_path)
        tmp = spark._jvm.org.apache.hadoop.fs.Path(
            store.hwm_path + "__tmp"
        )

        store_fs.write_int(spark, store.hwm_path, 5)
        assert read_int(spark, store.hwm_path) == 5
        assert not fs.exists(tmp)

        # an advance lands atomically with no residue
        store_fs.write_int(spark, store.hwm_path, 9)
        assert read_int(spark, store.hwm_path) == 9
        assert not fs.exists(tmp)

        # end-to-end: compact persists the mark through the real path
        store.add_postings(docs.where("doc_id % 5 = 0"), bid=12)
        store.compact()
        assert read_int(spark, store.hwm_path) == 12
        assert store.max_real_batch() == 12
        assert not fs.exists(tmp)

        # no-advance rewrite is a no-op: a compact that adds no batch
        # never touches the file, so there is no crash window at all
        # (mtime pinned)
        mtime = fs.getFileStatus(jp).getModificationTime()
        store.compact()
        assert fs.getFileStatus(jp).getModificationTime() == mtime
        assert read_int(spark, store.hwm_path) == 12
    finally:
        cleanup_store(store)


@pytest.mark.parametrize("seed", [13, 48])
def test_handshake_interleaving_fuzz(spark, docs, seed):
    """Round-16 verdict #6: the two-sided maintenance handshake was
    tested at its deterministic points (writer-entry refusal, pre-drop
    refusal); this seeded fuzz injects the OTHER side's visible
    artifacts — a foreign writer's marker + committed write, or a
    foreign compact's lease — at randomized points between the real
    protocol stages (via wrapped ``_refuse_*`` hooks, the stages'
    actual check sites) and asserts, after every interleaving, that
    (a) exactly one side refused, (b) no committed postings were lost,
    and (c) the live set equals a from-scratch model of
    committed-batches-minus-purges."""
    import random

    from dbix_batchchunker_spark.operators.gram_store import (
        StoreMaintenanceLockError,
    )

    rng = random.Random(seed)
    corpus = docs.where("doc_id < 64").localCheckpoint(eager=True)
    store = temp_store(spark, f"gs_ilv{seed}_", n_buckets=4)
    # the FOREIGN writer: a second handle over the same path (its lease
    # and marker files are shared — path-derived), as a concurrent job
    # in production would hold
    writer = GramPostingsStore(
        spark, store.name + "_w", store.path, store.n_buckets
    ).register()

    committed: list = []  # (bid, residue) — batch = doc_id % 8 == residue
    purged: set = set()

    def batch_docs(residue):
        return corpus.where(f"doc_id % 8 = {residue}")

    def sync():
        # a partition added through the FOREIGN handle's table entry is
        # invisible to this handle until recovery — exactly what a
        # cross-session reader does via register() (its documented flow)
        spark.catalog.recoverPartitions(store.name)
        spark.catalog.refreshTable(store.name)

    def expected_live():
        """Model: distinct (gram, doc_id) over committed batches minus
        purged docs."""
        out = set()
        for _, residue in committed:
            g = _positional_grams(batch_docs(residue), 4)
            for r in g.select("gram", "doc_id").distinct().collect():
                if r.doc_id not in purged:
                    out.add((r.gram, r.doc_id))
        return out

    def live_set():
        # bounded: 64-doc fuzz corpus
        return {
            (r.gram, r.doc_id)
            for r in store.live_postings().select("gram", "doc_id").collect()
        }

    def fresh_bid():
        return store.max_real_batch() + 1

    try:
        # seed state: one committed batch so every scenario has stakes
        bid = fresh_bid()
        writer.add_postings(batch_docs(0), bid=bid)
        sync()
        committed.append((bid, 0))

        last_hwm = store.max_real_batch()
        for step in range(6):
            op = rng.choice(
                ["write", "purge", "compact",
                 "writer_mid_compact", "compact_mid_write"]
            )
            residue = rng.randrange(1, 8)
            if op == "write":
                bid = fresh_bid()
                writer.add_postings(batch_docs(residue), bid=bid)
                sync()
                committed.append((bid, residue))
            elif op == "purge":
                ids = [
                    r.doc_id
                    for r in batch_docs(rng.randrange(8))
                    .select("doc_id").collect()  # bounded fuzz corpus
                ][: rng.randrange(1, 4)]
                if ids:
                    store.purge(
                        spark.createDataFrame(
                            [(i,) for i in ids], "doc_id long"
                        )
                    )
                    purged.update(ids)
            elif op == "compact":
                store.compact()
            elif op == "writer_mid_compact":
                # a writer whose lease check passed just before the
                # lease landed: marker live + write committing, visible
                # at a RANDOM compact stage (start or pre-drop)
                stage = rng.choice(["start", "pre-drop"])
                bid = fresh_bid()
                jm = spark._jvm.org.apache.hadoop.fs.Path(
                    store.writers_path + f"/ilv_{step}"
                )
                fs, jdir = fs_for(spark, store.writers_path)
                orig_refuse = store._refuse_if_writers
                orig_lease_check = writer._refuse_if_maintenance

                def inject(st):
                    if st == stage:
                        if not fs.exists(jdir):
                            fs.mkdirs(jdir)
                        fs.createNewFile(jm)
                        # its lease check already passed (pre-lease):
                        # suppress it and land the write for real
                        writer._refuse_if_maintenance = lambda op: None
                        try:
                            writer.add_postings(batch_docs(residue), bid=bid)
                        finally:
                            writer._refuse_if_maintenance = orig_lease_check
                    orig_refuse(st)

                store._refuse_if_writers = inject
                try:
                    with pytest.raises(StoreMaintenanceLockError):
                        store.compact()
                finally:
                    store._refuse_if_writers = orig_refuse
                sync()
                committed.append((bid, residue))
                # the refused compact released its lease; writer finishes
                lfs, jl = fs_for(spark, store.lease_path)
                assert not lfs.exists(jl)
                fs.delete(jm, False)
                # nothing lost: the in-flight batch survived the abort
                assert {
                    (r.gram, r.doc_id)
                    for r in _positional_grams(batch_docs(residue), 4)
                    .select("gram", "doc_id").distinct().collect()
                    if r.doc_id not in purged
                } <= live_set()
            elif op == "compact_mid_write":
                # a compact's lease lands between the writer's marker
                # and its lease check: the WRITER refuses, cleans its
                # marker, and the store is untouched
                lfs, jl = fs_for(spark, store.lease_path)
                lfs.createNewFile(jl)
                before = live_set()
                orig_lease_check = writer._refuse_if_maintenance
                bid = fresh_bid()
                try:
                    with pytest.raises(StoreMaintenanceLockError):
                        writer.add_postings(batch_docs(residue), bid=bid)
                finally:
                    writer._refuse_if_maintenance = orig_lease_check
                assert store._writer_markers() == []
                assert live_set() == before
                lfs.delete(jl, False)
                # lease cleared: the retry lands
                writer.add_postings(batch_docs(residue), bid=bid)
                sync()
                committed.append((bid, residue))

            # invariants after EVERY interleaving
            assert live_set() == expected_live(), f"step {step} op {op}"
            hwm = store.max_real_batch()
            assert hwm >= last_hwm, f"hwm regressed at step {step}"
            last_hwm = hwm

        # convergence: a clean compact folds everything, model holds
        store.compact()
        assert live_set() == expected_live()
        assert store._writer_markers() == []
    finally:
        writer.drop()
        cleanup_store(store)


def test_checked_rename_raises_and_load_repair_respects_lease(
    spark, tmp_path
):
    """Two documented-but-otherwise-unexecuted edges of the round-17
    repair path: (a) a failed FileSystem.rename (boolean False, e.g.
    missing source) raises instead of silently no-oping the swap step;
    (b) load_embedding_store's crash repair REFUSES while the store
    lease is held — a mid-swap absence then belongs to the live
    maintainer, not to crash residue."""
    from dbix_batchchunker_spark.operators.gram_store import (
        StoreMaintenanceLockError,
    )
    from dbix_batchchunker_spark.operators.similarity import (
        EmbeddingStoreLease,
        load_embedding_store,
    )

    path, index, entries, emb = _mk_embedding_store(spark, tmp_path)
    fs, _ = fs_for(spark, path)
    jp = spark._jvm.org.apache.hadoop.fs.Path

    # the false-returning mode is FS-dependent (LocalFS throws on a
    # missing source; HDFS/S3A return false on an existing destination),
    # so pin the contract itself with a stub filesystem
    class _FalseFs:
        def rename(self, src, dst):
            return False

    with pytest.raises(RuntimeError, match="rename failed"):
        store_fs.checked_rename(_FalseFs(), "src_path", "dst_path")

    # plant a mid-swap absence, then hold the lease as a live compact
    # would: the load must refuse rather than repair under the
    # maintainer's feet
    assert fs.rename(jp(f"{path}/vectors"), jp(f"{path}/vectors__old"))
    holder = EmbeddingStoreLease(spark, path).acquire()
    try:
        with pytest.raises(StoreMaintenanceLockError):
            load_embedding_store(spark, path)
    finally:
        holder.release()
    # lease released (maintainer done/dead): the repair proceeds
    _, _, v = load_embedding_store(spark, path)
    assert v.count() == 300


@pytest.mark.parametrize("case", ["crash_at_rename", "garbage"])
@pytest.mark.parametrize("name", ["__bid_hwm", "vec_id_hwm", "n_vecs"])
def test_metadata_file_crash_at_rename_and_garbage(
    spark, tmp_path, monkeypatch, name, case
):
    """The stores' metadata files through a crash at the write's rename
    (final file already deleted, ``__tmp`` complete): the reader
    returns the NEW value, the next write succeeds, and no ``__tmp`` is
    left. Garbage content raises naming the file instead of reading as
    a value (the gram hwm used to read it as 0, regressing
    max_real_batch)."""
    store = None
    if name == "__bid_hwm":
        store = temp_store(spark, "gs_meta_", n_buckets=4)
        path, read = store.hwm_path, store.max_real_batch
    else:
        path = str(tmp_path / "store" / name)

        def read():
            return read_int(spark, path)

    fs, jp = fs_for(spark, path)
    tmp = spark._jvm.org.apache.hadoop.fs.Path(path + "__tmp")
    try:
        store_fs.write_int(spark, path, 5)
        if case == "garbage":
            out = fs.create(jp, True)
            out.write(bytearray(b"not-a-number"))
            out.close()
            with pytest.raises(ValueError, match=name):
                read()
            return

        def dying_rename(fs_, src, dst):
            raise RuntimeError("injected crash at rename")

        monkeypatch.setattr(store_fs, "checked_rename", dying_rename)
        with pytest.raises(RuntimeError, match="injected"):
            store_fs.write_int(spark, path, 7)
        monkeypatch.undo()
        assert not fs.exists(jp) and fs.exists(tmp)

        assert read() == 7
        assert not fs.exists(tmp)
        store_fs.write_int(spark, path, 8)
        assert read() == 8
        assert not fs.exists(tmp)
    finally:
        if store is not None:
            cleanup_store(store)


def test_save_ivf_index_resave_failure_keeps_meta(
    spark, tmp_path, monkeypatch
):
    """A re-save of an existing index that fails after the meta.json
    temp file is opened leaves the first save's meta.json intact: the
    write goes aside and renames, so load_ivf_index still routes with
    the first save's k_child (a truncate-in-place write left an empty
    meta.json and a JSON decode error)."""
    from dbix_batchchunker_spark.operators.similarity import (
        IvfIndex,
        load_ivf_index,
        save_ivf_index,
    )

    path = str(tmp_path / "ivf")
    cents = spark.createDataFrame(
        [(0, [0.0, 1.0])], "centroid_id long, centroid array<double>"
    )
    save_ivf_index(IvfIndex(cents, k_child=3), path)

    class _DyingStream:
        def __init__(self, out):
            self._out = out

        def write(self, data):
            raise RuntimeError("injected failure mid-write")

        def close(self):
            self._out.close()

    class _DyingCreateFS:
        def __init__(self, fs):
            self._fs = fs

        def create(self, jp_, overwrite):
            return _DyingStream(self._fs.create(jp_, overwrite))

        def __getattr__(self, attr):
            return getattr(self._fs, attr)

    real_fs_for = store_fs.fs_for

    def dying_fs_for(spark_, p):
        fs, jp_ = real_fs_for(spark_, p)
        return _DyingCreateFS(fs), jp_

    monkeypatch.setattr(store_fs, "fs_for", dying_fs_for)
    with pytest.raises(RuntimeError, match="injected"):
        save_ivf_index(IvfIndex(cents, k_child=7), path)
    monkeypatch.undo()
    assert load_ivf_index(spark, path).k_child == 3
