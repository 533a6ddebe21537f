"""Seeded input generator for the graft benchmark.

Every input is drawn from the base tables in `perfbench/base/`, a cut of the
repository's sf0.1 test data (`make_base.py`), and laid out by the rules of
`MakeSf1`: each table is a stack of key-shifted blocks, primary and foreign
keys shifted by the same block offset, so joins stay inside a block. Each
block is a seeded sample of the base: a set of customers with all their
orders and line items, a set of users with all their events, a set of
documents, a set of vectors. Documents in block b > 0 carry the word suffix
`_b`, and vectors in block b > 0 are moved by b * 0.001, as in `MakeSf1`.

The documents carry a seeded share of near-duplicates on top of the ones the
base already holds: copies of an earlier document of the same block, and
copies of block-0 documents planted into block 1 (whose own words carry the
suffix, so only planted copies share shingles across blocks). A near-copy
changes one word half the time and appends `dup`, as the base's own
near-duplicates do.

The ingest feed is a seeded set of base users' events and a seeded set of
base documents, shifted to block 5 and cut into batches by time. Each batch
repeats some of its own rows and re-delivers part of the previous batch, the
at-least-once delivery an incremental sync must absorb.

The keep-longest slice does not depend on the seed: the first base
documents with near-copies planted from a fixed seed.

Output is cached per seed under `<cache>/seed-<n>/` with a manifest of
sha256 digests; `ensure()` regenerates when any file is missing or altered.
"""
import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "base")

# Bump when the generator's output changes for a given seed.
GEN_VERSION = 4

# Blocks per table family, and what each block samples from the base.
BLOCKS = {"tpch": 2, "events": 1, "documents": 2, "embeddings": 1}
SAMPLE = {"customers": 250, "users": 300, "documents": 300, "vectors": 1000}
C_STRIDE = 10_000_000      # customer / supplier / part / user key stride
O_STRIDE = 100_000_000     # order / document / vector key stride
E_STRIDE = 1_000_000_000   # event id stride
INGEST = {"block": 5, "batches": 2, "users": 90, "docs": 600, "redeliver": 0.10, "repeat": 0.05}
KEEP_LONGEST = {"docs": 100, "seed": 0}
NEAR_DUP_IN_BLOCK = 0.05
NEAR_DUP_ACROSS_BLOCKS = 0.02


def _base(name):
    return pq.read_table(f"{BASE}/{name}.parquet")


def _write(table, path):
    pq.write_table(table.replace_schema_metadata(None), path, compression="snappy")


def _shift(table, col, by):
    i = table.schema.get_field_index(col)
    return table.set_column(i, col, pc.add(table.column(col), pa.scalar(by, table.schema.field(col).type)))


def _isin(table, col, keys):
    return table.filter(pc.is_in(table.column(col), value_set=pa.array(keys)))


def _pick(rng, keys, n):
    return np.sort(rng.choice(np.asarray(keys), n, replace=False))


def _tpch(rng, out):
    _write(_base("region"), f"{out}/region.parquet")
    _write(_base("nation"), f"{out}/nation.parquet")
    cust, orders, items = _base("customer"), _base("orders"), _base("lineitem")
    parts = {"customer": [], "orders": [], "lineitem": []}
    for b in range(BLOCKS["tpch"]):
        keys = _pick(rng, cust.column("c_custkey"), SAMPLE["customers"])
        c = _isin(cust, "c_custkey", keys)
        o = _isin(orders, "o_custkey", keys)
        li = _isin(items, "l_orderkey", o.column("o_orderkey"))
        parts["customer"].append(_shift(c, "c_custkey", b * C_STRIDE))
        parts["orders"].append(_shift(_shift(o, "o_orderkey", b * O_STRIDE), "o_custkey", b * C_STRIDE))
        for col, by in (("l_orderkey", O_STRIDE), ("l_partkey", C_STRIDE), ("l_suppkey", C_STRIDE)):
            li = _shift(li, col, b * by)
        parts["lineitem"].append(li)
    for name, ts in parts.items():
        _write(pa.concat_tables(ts), f"{out}/{name}.parquet")


def _user_events(events, users, block):
    e = _isin(events, "user_id", users)
    return _shift(_shift(e, "event_id", block * E_STRIDE), "user_id", block * C_STRIDE)


def _near_copy(rng, words, vocab):
    w = list(words)
    if rng.random() < 0.5:
        w[rng.integers(0, len(w))] = vocab[rng.integers(0, len(vocab))]
    return w + ["dup"]


def _documents(rng, base, blocks, n, plant=True):
    """`blocks` key-shifted blocks of `n` sampled base documents each, with
    near-copies planted in and across blocks."""
    vocab = sorted({w for t in base.column("text").to_pylist() for w in t.split()} - {"dup"})
    cols = {"doc_id": [], "text": [], "lang": [], "source": []}
    block0 = None
    for b in range(blocks):
        rows = base.take(pa.array(np.sort(rng.choice(base.num_rows, n, replace=False))) if n < base.num_rows
                         else pa.array(np.arange(base.num_rows)))
        sfx = "" if b == 0 else f"_{b}"
        words = [[w + sfx for w in t.split()] for t in rows.column("text").to_pylist()]
        bvocab = [w + sfx for w in vocab]
        for i in range(len(words) if plant else 0):
            u = rng.random()
            if i > 0 and u < NEAR_DUP_IN_BLOCK:
                words[i] = _near_copy(rng, words[rng.integers(0, i)], bvocab)
            elif b > 0 and u < NEAR_DUP_IN_BLOCK + NEAR_DUP_ACROSS_BLOCKS:
                words[i] = _near_copy(rng, block0[rng.integers(0, len(block0))], vocab)
        if b == 0:
            block0 = words
        cols["doc_id"].extend(x + b * O_STRIDE for x in rows.column("doc_id").to_pylist())
        cols["text"].extend(" ".join(w) for w in words)
        cols["lang"].extend(rows.column("lang").to_pylist())
        cols["source"].extend(rows.column("source").to_pylist())
    # n_chars is the text's length, as in the base
    return pa.table({
        "doc_id": pa.array(cols["doc_id"], pa.int64()),
        "text": pa.array(cols["text"], pa.string()),
        "lang": pa.array(cols["lang"], pa.string()),
        "source": pa.array(cols["source"], pa.string()),
        "n_chars": pa.array([len(t) for t in cols["text"]], pa.int64())})


def _embeddings(rng, out):
    base = _base("embeddings")
    parts = []
    for b in range(BLOCKS["embeddings"]):
        e = base.take(pa.array(np.sort(rng.choice(base.num_rows, SAMPLE["vectors"], replace=False))))
        if b:
            vecs = e.column("embedding").combine_chunks()
            moved = pc.add(vecs.flatten(), pa.scalar(b * 0.001, pa.float32()))
            e = e.set_column(1, "embedding", pa.ListArray.from_arrays(vecs.offsets, moved))
        parts.append(_shift(e, "vec_id", b * O_STRIDE))
    _write(pa.concat_tables(parts), f"{out}/embeddings.parquet")


def _batches(rng, cuts):
    """Row indices of each batch: its own rows, a repeat of some of them,
    and a re-delivery of part of the previous batch."""
    prev = None
    for k in range(len(cuts) - 1):
        own = np.arange(cuts[k], cuts[k + 1])
        parts = [own, rng.choice(own, int(len(own) * INGEST["repeat"]), replace=False)]
        if prev is not None:
            parts.append(rng.choice(prev, int(len(prev) * INGEST["redeliver"]), replace=False))
        yield k, rng.permutation(np.concatenate(parts))
        prev = own


def _ingest(rng, out, events):
    os.makedirs(f"{out}/ingest", exist_ok=True)
    nb, blk = INGEST["batches"], INGEST["block"]
    users = _pick(rng, np.unique(events.column("user_id").to_numpy()), INGEST["users"])
    feed = _user_events(events, users, blk)
    feed = feed.take(pc.sort_indices(feed, [("ts", "ascending"), ("event_id", "ascending")]))
    ts = feed.column("ts").cast(pa.int64()).to_numpy()
    cuts = np.concatenate([[0], np.searchsorted(ts, np.linspace(ts[0], ts[-1] + 1, nb + 1)[1:-1]),
                           [feed.num_rows]])
    for k, rows in _batches(rng, cuts):
        _write(feed.take(pa.array(rows)), f"{out}/ingest/events_b{k:02d}.parquet")
    # participant lists the funnel removes, by the engagement flow's rules
    # over the whole feed (the reference reads them from a side table)
    err = pc.equal(feed.column("event_type"), "error")
    for name, thr in (("test_deny", 320.0), ("withdrawn", 250.0)):
        hit = feed.filter(pc.and_(err, pc.greater(feed.column("value"), thr)))
        ids = np.unique(hit.column("user_id").to_numpy())
        _write(pa.table({"user_id": pa.array(ids, pa.int64())}), f"{out}/ingest/{name}.parquet")

    docs = _documents(rng, _base("documents"), 1, INGEST["docs"], plant=False)
    docs = _shift(docs, "doc_id", blk * O_STRIDE)
    ids = docs.column("doc_id").to_numpy()
    _write(docs.filter(pa.array(ids % 50 == 0)), f"{out}/ingest/benchmark.parquet")
    feed_docs = docs.filter(pa.array(ids % 50 != 0))
    cuts = np.linspace(0, feed_docs.num_rows, nb + 1).astype(int)
    for k, rows in _batches(rng, cuts):
        _write(feed_docs.take(pa.array(rows)), f"{out}/ingest/docs_b{k:02d}.parquet")


def _generate(seed, out):
    rng = np.random.default_rng(seed)
    _tpch(rng, out)
    events = _base("events")
    all_users = np.unique(events.column("user_id").to_numpy())
    _write(pa.concat_tables([_user_events(events, _pick(rng, all_users, SAMPLE["users"]), b)
                             for b in range(BLOCKS["events"])]), f"{out}/events.parquet")
    docs = _base("documents")
    _write(_documents(rng, docs, BLOCKS["documents"], SAMPLE["documents"]), f"{out}/documents.parquet")
    _embeddings(rng, out)
    os.makedirs(f"{out}/keep_longest", exist_ok=True)
    _write(_documents(np.random.default_rng(KEEP_LONGEST["seed"]), docs.slice(0, KEEP_LONGEST["docs"]),
                      1, KEEP_LONGEST["docs"]), f"{out}/keep_longest/documents.parquet")
    _ingest(rng, out, events)


def _digest(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _files(out):
    for d, _, fs in os.walk(out):
        for f in fs:
            if f.endswith(".parquet"):
                yield os.path.relpath(os.path.join(d, f), out)


def _recipe():
    base = {f: _digest(os.path.join(BASE, f)) for f in sorted(os.listdir(BASE))}
    return {"version": GEN_VERSION, "blocks": BLOCKS, "sample": SAMPLE, "ingest": INGEST,
            "keep_longest": KEEP_LONGEST, "base": base}


def ensure(cache, seed):
    """Returns (input dir, seconds spent generating: 0 on a cache hit)."""
    out = os.path.join(cache, f"seed-{seed}")
    man = os.path.join(out, "manifest.json")
    recipe = _recipe()
    try:
        with open(man) as f:
            m = json.load(f)
        if m["recipe"] == json.loads(json.dumps(recipe)) and \
                sorted(m["files"]) == sorted(_files(out)) and \
                all(_digest(os.path.join(out, p)) == d for p, d in m["files"].items()):
            return out, 0.0
    except (OSError, ValueError, KeyError):
        pass
    t0 = time.monotonic()
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    _generate(seed, out)
    files = {p: _digest(os.path.join(out, p)) for p in _files(out)}
    with open(man, "w") as f:
        json.dump({"recipe": recipe, "seed": seed, "files": files}, f, indent=1)
    return out, time.monotonic() - t0
