"""Seeded inputs and their expected answers.

Every generator is a pure function of ``(seed, scale)``: the same pair gives
byte-identical inputs.  Expected answers come from closed forms over the
generated arrays (numpy) or, for the corpus pipeline, from a pure-Python
model of the documented store semantics; they never touch Spark, so the
check is independent of the code under test.  ``cached`` memoises them per
seed on disk.

What the seed varies and what it holds fixed is chosen per workload so that
every seed asks the system the same amount of work:

* sparse keys: the run/gap/hot-key layout and the row count are fixed; the
  seed moves the base offset, the payload and so the filter's survivors.
  The chunk ladder therefore makes the same decisions on every seed.
* lineitem/orders: sizes fixed; lines per order, flags, prices and the
  deprecated set are drawn from the seed.
* corpus drops: sizes, planted-duplicate counts and cluster sizes fixed;
  the words, the planted sources and the purged documents are drawn from
  the seed.
"""

from __future__ import annotations

import hashlib
import json
import os
import zlib
from dataclasses import astuple, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


# --------------------------------------------------------------------------- #
# scales                                                                      #
# --------------------------------------------------------------------------- #
@dataclass(frozen=True)
class Scale:
    name: str
    # adaptive_sparse_scan
    sparse_chunk: int  # BatchChunker chunk_size, ids
    # chunked_update_commit
    orders: int  # dense order keys 1..orders
    update_chunks: int
    # corpus_dedup_pipeline: one ingest chunk per drop
    drop_docs: int  # documents per drop


SCALES = {
    "full": Scale("full", sparse_chunk=1000, orders=24_000, update_chunks=12, drop_docs=120),
    "tiny": Scale("tiny", sparse_chunk=100, orders=800, update_chunks=4, drop_docs=60),
}


def _write_parquet(table: pa.Table, path: str, files: int) -> None:
    """Write ``table`` as ``files`` contiguous parquet files under ``path``."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for i in range(files):
        lo, hi = n * i // files, n * (i + 1) // files
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{i:03d}.parquet"))


def dir_bytes(path: str) -> int:
    """Bytes of the regular files under ``path`` (recursive)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def dir_files(path: str) -> int:
    """Parquet files under ``path`` (recursive)."""
    return sum(1 for _r, _d, files in os.walk(path) for f in files if f.endswith(".parquet"))


# --------------------------------------------------------------------------- #
# adaptive_sparse_scan: clustered, sparse integer keys                        #
# --------------------------------------------------------------------------- #
#: Fixed layout generator seed: the SHAPE of the key space never depends on
#: the workload seed (see module docstring).
_LAYOUT_SEED = 20240917


def _sparse_layout(scale: Scale) -> "list[tuple[str, int, int]]":
    """(kind, offset, length) segments: a gap, a dense run, a 10%-dense run,
    a wide gap, one hot id, a short gap and a second dense run."""
    rng = np.random.default_rng(_LAYOUT_SEED)
    c = scale.sparse_chunk
    segs = []
    pos = 0
    for kind, gap, length in (
        ("dense", 11 * c, 2 * c), ("sparse", 2 * c, 3 * c),
        ("hot", 40 * c, 1), ("dense", 3 * c, 2 * c),
    ):
        pos += gap + int(rng.integers(0, c))
        if kind == "dense":
            length += int(rng.integers(0, c // 2))
        segs.append((kind, pos, length))
        pos += length
    return segs


def sparse_table(seed: int, scale: Scale) -> "dict[str, np.ndarray]":
    """Columns ``id`` (int64, sorted) and ``val`` (int64) of the sparse table."""
    rng = np.random.default_rng([seed, 1])
    c = scale.sparse_chunk
    base = int(rng.integers(1_000, 5_000_000))
    ids = []
    for kind, off, length in _sparse_layout(scale):
        start = base + off
        if kind == "dense":
            ids.append(np.arange(start, start + length, dtype=np.int64))
        elif kind == "sparse":
            ids.append(np.arange(start, start + length, 10, dtype=np.int64))
        else:  # hot: one id with four chunks' worth of rows
            ids.append(np.full(4 * c, start, dtype=np.int64))
    id_col = np.concatenate(ids)
    val = rng.integers(0, 1_000_000, size=id_col.size, dtype=np.int64)
    return {"id": id_col, "val": val}


#: Rows the W1 coderef keeps: ``val % SPARSE_FILTER_MOD != 0``.
SPARSE_FILTER_MOD = 3


def write_sparse(cols: "dict[str, np.ndarray]", path: str) -> None:
    _write_parquet(pa.table(cols), path, files=4)


def sparse_expected(cols: "dict[str, np.ndarray]") -> dict:
    keep = cols["val"] % SPARSE_FILTER_MOD != 0
    return {
        "rows": int(cols["id"].size),
        "count": int(keep.sum()),
        "sum_id": int(cols["id"][keep].sum()),
    }


# --------------------------------------------------------------------------- #
# chunked_update_commit: lineitem x deprecated orders (the q23 shape)         #
# --------------------------------------------------------------------------- #
#: Deprecated orders: status 'F' and total price below this.
DEPRECATED_MAX_PRICE = 50_000.0


def lineitem_orders(seed: int, scale: Scale) -> "tuple[dict, dict]":
    rng = np.random.default_rng([seed, 2])
    n = scale.orders
    okey = np.arange(1, n + 1, dtype=np.int64)
    status = rng.choice(np.array(["F", "O", "P"]), size=n, p=[0.49, 0.49, 0.02])
    price = np.round(rng.uniform(900.0, 450_000.0, size=n), 2)
    lines = rng.integers(1, 8, size=n)  # 1..7 lines per order, TPC-H-like
    l_orderkey = np.repeat(okey, lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_linenumber = (np.arange(l_orderkey.size) - starts + 1).astype(np.int32)
    m = l_orderkey.size
    lineitem = {
        "l_orderkey": l_orderkey,
        "l_linenumber": l_linenumber,
        "l_quantity": rng.integers(1, 51, size=m).astype(np.int32),
        "l_extendedprice_cents": rng.integers(90_000, 10_500_000, size=m),
        "l_returnflag": rng.choice(np.array(["R", "A", "N"]), size=m),
    }
    orders = {"o_orderkey": okey, "o_orderstatus": status, "o_totalprice": price}
    return lineitem, orders


def write_lineitem_orders(lineitem: dict, orders: dict, root: str) -> None:
    _write_parquet(pa.table(lineitem), os.path.join(root, "lineitem"), files=4)
    _write_parquet(pa.table(orders), os.path.join(root, "orders"), files=1)


#: The columns the committed table's value hash covers, in order.
UPDATE_COLUMNS = (
    "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice_cents", "l_returnflag"
)


def update_row_hash(orderkey, linenumber, quantity, cents, flag) -> int:
    """CRC-32 of one updated row as ``concat_ws('|', ...)`` renders it in Spark
    (integer columns only, so both sides render numbers identically)."""
    return zlib.crc32(f"{orderkey}|{linenumber}|{quantity}|{cents}|{flag}".encode())


def update_expected(lineitem: dict, orders: dict) -> dict:
    dep = (orders["o_orderstatus"] == "F") & (orders["o_totalprice"] < DEPRECATED_MAX_PRICE)
    dep_keys = orders["o_orderkey"][dep]
    flagged = np.isin(lineitem["l_orderkey"], dep_keys)
    flags = np.where(flagged, "D", lineitem["l_returnflag"])
    cols = [lineitem[c].tolist() for c in UPDATE_COLUMNS[:-1]] + [flags.tolist()]
    return {
        "rows": int(lineitem["l_orderkey"].size),
        "flagged": int(flagged.sum()),
        "crc_sum": sum(update_row_hash(*row) for row in zip(*cols)),
    }


# --------------------------------------------------------------------------- #
# corpus_dedup_pipeline: two planted, chain-free drops                        #
# --------------------------------------------------------------------------- #
#: Gram width of the store (operators.text._SSD_N); the reference model
#: below must cut spans with the same width.
GRAM_N = 4
_VOCAB = 400_000
#: Planted shares per drop: exact copies, copied spans, permuted copies in
#: the near-duplicate clusters, purged (drop 1 only).
_EXACT, _SPAN, _PERMUTED, _PURGED = 0.05, 0.10, 0.60, 0.04
#: Near-duplicate clusters: sources in drop 1, copies spread over both drops.
#: Every source has the same length, so every seed plants the same volume.
_CLUSTERS, _CLUSTER_WORDS = 2, 45


def corpus(seed: int, scale: Scale) -> dict:
    """Two drops of ``(doc_id, text)`` plus the drop-1 ids to purge between
    them.

    Exact and span copies each take a distinct pristine source (a document
    that is neither a copy nor a source of another copy).  The permuted
    copies form ``_CLUSTERS`` clusters, each a source in the first quarter
    of drop 1 and its word-permuted copies: same word set, Jaccard 1.0, so
    a cluster of k documents gives k(k-1)/2 near-duplicate pairs.  No
    permuted copy shares a GRAM_N-gram with any other document, so the
    store cuts none of it and every cluster stays whole: duplicates never
    chain."""
    rng = np.random.default_rng([seed, 3])
    n = scale.drop_docs
    texts: "list[list[str]]" = []
    for _ in range(2 * n):
        words = rng.integers(0, _VOCAB, size=int(rng.integers(30, 61)))
        texts.append([f"w{w}" for w in words.tolist()])
    ids = list(range(1, 2 * n + 1))
    pristine = set(ids)

    def take_source(lo: int, hi: int) -> int:
        """A random pristine doc in [lo, hi), which stops being pristine."""
        for _ in range(1000):
            s = int(rng.integers(lo, hi))
            if s in pristine:
                pristine.discard(s)
                return s
        raise RuntimeError("no pristine source left; lower the planted shares")

    plan = []
    for drop in (0, 1):
        lo = 1 + drop * n
        copies = rng.permutation(np.arange(lo + n // 4, lo + n))  # later docs copy
        k_exact, k_span, k_perm = (int(round(f * n)) for f in (_EXACT, _SPAN, _PERMUTED))
        pos = 0
        for kind, k in (("exact", k_exact), ("span", k_span), ("permuted", k_perm)):
            for d in copies[pos:pos + k].tolist():
                pristine.discard(d)
                plan.append((kind, d))
            pos += k
    clusters = [take_source(1, 1 + n // 4) for _ in range(_CLUSTERS)]
    for src in clusters:
        texts[src - 1] = [f"w{w}" for w in rng.integers(0, _VOCAB, size=_CLUSTER_WORDS).tolist()]
    used = {g for t in texts for g in _grams(t)}
    n_perm = 0
    for kind, d in plan:
        if kind == "permuted":
            st = texts[clusters[n_perm % _CLUSTERS] - 1]
            n_perm += 1
            for _ in range(1000):
                mine = [st[i] for i in rng.permutation(len(st)).tolist()]
                grams = _grams(mine)
                if used.isdisjoint(grams):
                    break
            else:
                raise RuntimeError("no gram-disjoint permutation found")
            used.update(grams)
            texts[d - 1] = mine
            continue
        st = texts[take_source(1, d) - 1]  # sources come earlier, possibly in drop 1
        if kind == "exact":
            texts[d - 1] = list(st)
        else:
            a = int(rng.integers(0, len(st) - 12))
            span = st[a:a + int(rng.integers(6, 13))]
            mine = texts[d - 1]
            cut = int(rng.integers(1, len(mine) - 1))
            texts[d - 1] = mine[:cut] + span + mine[cut:]
    purged = rng.choice(np.arange(1, n + 1), size=int(round(_PURGED * n)), replace=False)
    purged = sorted(int(x) for x in purged)
    docs = [(i, " ".join(texts[i - 1])) for i in ids]
    return {"drop1": docs[:n], "drop2": docs[n:], "purged": purged}


def write_corpus(c: dict, root: str) -> None:
    for name in ("drop1", "drop2"):
        ids, texts = zip(*c[name])
        table = pa.table({"doc_id": np.array(ids, dtype=np.int64), "text": list(texts)})
        _write_parquet(table, os.path.join(root, name), files=2)


def _grams(toks: "list[str]") -> "list[str]":
    return [" ".join(toks[p:p + GRAM_N]) for p in range(max(len(toks) - GRAM_N, 0) + 1)]


def corpus_expected(c: dict) -> dict:
    """Pure-Python model of the pipeline the workload drives:

    * each drop is one ingest chunk; it cuts every GRAM_N-gram span that is
      live in the store (claimed by a non-purged doc of the earlier drop) or
      that a smaller doc_id of the same drop also contains; a cut covers the
      gram's tokens;
    * the kept text of every doc with kept tokens claims its own grams;
    * purge + compact between the drops drops the purged docs' claims;
    * near-duplicate pairs are the kept, non-purged docs whose kept word sets
      have Jaccard >= 0.9.
    """
    purged = set(c["purged"])
    store: "dict[str, set[int]]" = {}
    result: "dict[int, tuple[int, int]]" = {}
    kept_text: "dict[int, str]" = {}
    for name in ("drop1", "drop2"):
        batch = [(d, text.split()) for d, text in c[name]]
        first: "dict[str, int]" = {}
        for d, toks in batch:
            for g in _grams(toks):
                first.setdefault(g, d)  # docs arrive in id order
        claims = []
        for d, toks in batch:
            nt = len(toks)
            cov = set()
            for p, g in enumerate(_grams(toks)):
                if g in store or first[g] < d:
                    cov.update(range(p, min(p + GRAM_N - 1, nt - 1) + 1))
            kept = [t for i, t in enumerate(toks) if i not in cov]
            result[d] = (len(cov), nt - len(cov))
            if kept:
                kept_text[d] = " ".join(kept)
                claims.append((d, kept))
        for d, kept in claims:
            for g in _grams(kept):
                store.setdefault(g, set()).add(d)
        if name == "drop1":  # maintenance window: purge + compact
            for g in list(store):
                store[g] -= purged
                if not store[g]:
                    del store[g]
    live = {d: set(t.split()) for d, t in kept_text.items() if d not in purged}
    index: "dict[str, list[int]]" = {}
    for d in sorted(live):
        for w in live[d]:
            index.setdefault(w, []).append(d)
    cand = {(a, b) for ds in index.values() for i, a in enumerate(ds) for b in ds[i + 1:]}
    pairs = sorted(
        [a, b] for a, b in cand
        if len(live[a] & live[b]) / len(live[a] | live[b]) >= 0.9
    )
    docs = c["drop1"] + c["drop2"]
    return {
        "docs": len(docs),
        "input_bytes": sum(len(t.encode()) for _d, t in docs),
        "removed_tokens": sum(r[0] for r in result.values()),
        "result_crc": result_crc(result),
        "kept_docs": len(live),
        "pairs": pairs,
    }


def result_crc(result: "dict[int, tuple[int, int]]") -> int:
    """Order-free digest of every doc's (removed, kept) token counts."""
    return zlib.crc32(json.dumps(sorted((d, r[0], r[1]) for d, r in result.items())).encode())


# --------------------------------------------------------------------------- #
# cache                                                                       #
# --------------------------------------------------------------------------- #
def fingerprint(scale: Scale) -> str:
    """Cache-key part that changes whenever the scale or this module (the
    generators and the reference model) changes."""
    with open(__file__, "rb") as fh:
        src = fh.read()
    return hashlib.sha256(src + repr(astuple(scale)).encode()).hexdigest()[:12]


def cached(cache_dir: str, key: str, compute) -> dict:
    """JSON-memoise ``compute()`` under ``cache_dir/key.json``."""
    path = os.path.join(cache_dir, f"{key}.json")
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        pass
    value = compute()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as fh:
        json.dump(value, fh)
    os.replace(tmp, path)
    return value
