"""Seeded generators and the expected answers they are checked against."""

import numpy as np

from chunkbench import inputs as I

TINY = I.SCALES["tiny"]


def test_same_seed_same_inputs_other_seed_other_inputs():
    a, b, c = (I.sparse_table(s, TINY) for s in (5, 5, 6))
    assert all(np.array_equal(a[k], b[k]) for k in a)
    assert not np.array_equal(a["val"], c["val"])
    assert I.corpus(5, TINY) == I.corpus(5, TINY)
    assert I.corpus(5, TINY) != I.corpus(6, TINY)
    (li1, o1), (li2, o2) = I.lineitem_orders(5, TINY), I.lineitem_orders(5, TINY)
    assert all(np.array_equal(li1[k], li2[k]) for k in li1)


def test_sparse_layout_is_shifted_not_reshaped_by_the_seed():
    a, b = I.sparse_table(1, TINY), I.sparse_table(2, TINY)
    # same relative key layout; the hot id's row count may differ
    assert np.array_equal(np.unique(a["id"]) - a["id"].min(), np.unique(b["id"]) - b["id"].min())


def test_sparse_expected_is_the_filtered_count_and_sum():
    cols = {"id": np.array([1, 2, 3, 3], dtype=np.int64), "val": np.array([3, 4, 5, 6], dtype=np.int64)}
    assert I.sparse_expected(cols) == {"rows": 4, "count": 2, "sum_id": 5}


def test_lineitem_lines_are_numbered_per_order():
    li, orders = I.lineitem_orders(3, TINY)
    keys, lines = li["l_orderkey"], li["l_linenumber"]
    assert keys.min() == 1 and keys.max() == TINY.orders
    for k in (1, 2, TINY.orders):
        n = int((keys == k).sum())
        assert 1 <= n <= 7
        assert sorted(lines[keys == k].tolist()) == list(range(1, n + 1))
    assert I.update_expected(li, orders)["rows"] == keys.size


def test_corpus_copies_never_chain():
    """Documents with the same word set all copy one untouched source."""
    c = I.corpus(9, TINY)
    texts = dict(c["drop1"] + c["drop2"])
    groups = {}
    for d in sorted(texts):
        groups.setdefault(frozenset(texts[d].split()), []).append(d)
    for members in groups.values():
        source = texts[members[0]]
        for d in members[1:]:
            assert sorted(texts[d].split()) == sorted(source.split())
    sizes = sorted(len(m) for m in groups.values() if len(m) > 1)
    assert sizes[-2] > 0.25 * TINY.drop_docs, sizes  # the two near-dup clusters


def test_corpus_model_cuts_copies_and_pairs_clusters():
    c = I.corpus(9, TINY)
    texts = dict(c["drop1"] + c["drop2"])
    exp = I.corpus_expected(c)
    assert exp["docs"] == 2 * TINY.drop_docs
    assert exp["removed_tokens"] > 0
    pairs = {tuple(p) for p in exp["pairs"]}
    for a, b in pairs:
        assert a < b
        assert set(texts[a].split()) == set(texts[b].split())
    # every cluster is whole: the pair relation is transitive
    linked = {}
    for a, b in pairs:
        linked.setdefault(a, {a}).add(b)
        linked.setdefault(b, {b}).add(a)
    for group in linked.values():
        assert all(linked[d] == group for d in group)
    # two clusters of k documents give about k(k-1) pairs between them
    assert len(pairs) > 2 * (0.25 * TINY.drop_docs) ** 2
    # purged documents never pair
    purged = set(c["purged"])
    assert not any(a in purged or b in purged for a, b in pairs)


def test_cached_computes_once(tmp_path):
    calls = []
    f = lambda: calls.append(1) or {"x": 1}  # noqa: E731
    assert I.cached(str(tmp_path), "k", f) == {"x": 1}
    assert I.cached(str(tmp_path), "k", f) == {"x": 1}
    assert len(calls) == 1
