"""Seeded input generator for the benchmark workloads.

Every table has the schema of the repository's sf0.1 fixtures (FIXTURES.md)
and is drawn from `--seed` alone, so the same seed always gives the same
bytes. Each workload's directory also holds `truth.json`: the ground truth
the checker compares the engine's outputs against (planted duplicate
groups, planted near-duplicate pairs, repeated spans, expected row counts).
Generation is not timed and is not part of set-up.
"""

import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 `documents` draw their words from a small technical vocabulary.
VOCAB = np.array(
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window row table stream merge data "
    "the join vector customer index shard token model graph node edge cache "
    "plan task".split())
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = np.array([0.41, 0.15, 0.14, 0.15, 0.15])
DIM = 64

# ExactSubstr window (tokens) used by curate; a footer this long repeats
# verbatim across documents and must be cut from each of them.
SUBSTR_K = 50
FOOTER_TOKENS = 60

SIZES = {
    "curate": {"docs": 3000, "exact_rate": 0.08, "near_rate": 0.08,
               "footer_rate": 0.04, "waves": 8, "wave_docs": 60,
               "wave_copy_rate": 0.1},
    "session": {"lineitem": 600000, "orders": 150000, "events": 100000,
                "vectors": 2000, "docs": 5000},
}


def rng_for(workload, seed, part):
    key = zlib.crc32(f"{workload}/{part}".encode())
    return np.random.default_rng([int(seed), key])


def write(table, path):
    pq.write_table(table, path, row_group_size=64 * 1024)


def doc_texts(rng, n, lo=10, hi=100):
    lens = rng.integers(lo, hi + 1, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    out, at = [], 0
    for ln in lens:
        out.append(" ".join(VOCAB[words[at:at + ln]]))
        at += ln
    return out


def docs_table(ids, texts, rng):
    n = len(ids)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(LANGS[rng.choice(len(LANGS), size=n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def near_copy(rng, text):
    """Substitute one token in every run of 25, so the copy keeps a high
    3-shingle Jaccard but shares no 50-token window with its source."""
    toks = text.split(" ")
    for start in range(0, len(toks), 25):
        pos = start + int(rng.integers(0, min(25, len(toks) - start)))
        choices = [w for w in VOCAB if w != toks[pos]]
        toks[pos] = str(choices[int(rng.integers(0, len(choices)))])
    return " ".join(toks)


def gen_curate(seed, out):
    cfg = SIZES["curate"]
    rng = rng_for("curate", seed, "docs")
    n = cfg["docs"]
    texts = doc_texts(rng, n, lo=20, hi=100)
    footer = " ".join(VOCAB[rng.integers(0, len(VOCAB), size=FOOTER_TOKENS)])
    order = rng.permutation(n)
    n_exact = int(n * cfg["exact_rate"])
    n_near = int(n * cfg["near_rate"])
    n_footer = int(n * cfg["footer_rate"])
    # disjoint roles: exact copies, near copies, footer docs, their sources
    exact_dst = order[:n_exact]
    near_dst = order[n_exact:n_exact + n_near]
    footer_ids = order[n_exact + n_near:n_exact + n_near + n_footer]
    src_pool = order[n_exact + n_near + n_footer:]
    srcs = rng.choice(src_pool, size=n_exact + n_near, replace=False)
    exact_groups = {}
    for d, s in zip(exact_dst, srcs[:n_exact]):
        texts[d] = texts[s]
        exact_groups.setdefault(int(s), [int(s)]).append(int(d))
    near_pairs = []
    for d, s in zip(near_dst, srcs[n_exact:]):
        texts[d] = near_copy(rng, texts[s])
        near_pairs.append(sorted([int(s), int(d)]))
    for d in footer_ids:
        # a token unique to the document ends its body, so the verbatim
        # repeat shared with other footer documents is the footer alone
        texts[d] = f"{texts[d]} ref{d} {footer}"
    ids = np.arange(n)
    write(docs_table(ids, texts, rng), os.path.join(out, "docs.parquet"))

    # arriving waves: fresh docs plus verbatim copies of indexed survivors
    # (ids of exact/near copies and footer docs are avoided as sources so
    # a copy's coverage is exactly the whole document)
    wrng = rng_for("curate", seed, "waves")
    plain = np.setdiff1d(src_pool, srcs)
    copy_src = wrng.permutation(plain)
    next_id, used = n, 0
    waves, wave_tables = [], []
    for w in range(cfg["waves"]):
        m = cfg["wave_docs"]
        n_copy = int(m * cfg["wave_copy_rate"])
        wt = doc_texts(wrng, m, lo=20, hi=100)
        copies = [int(s) for s in copy_src[used:used + n_copy]]
        used += n_copy
        for j, s in enumerate(copies):
            wt[j] = texts[s]
        wids = np.arange(next_id, next_id + m)
        next_id += m
        t = docs_table(wids, wt, wrng)
        wave_tables.append(t.append_column("wave", pa.array([w] * m, pa.int32())))
        waves.append({"ids": [int(wids[0]), int(wids[-1])],
                      "copies": [[int(wids[j]), s] for j, s in enumerate(copies)]})
    write(pa.concat_tables(wave_tables), os.path.join(out, "waves.parquet"))
    truth = {
        "docs": n, "substr_k": SUBSTR_K, "footer_tokens": FOOTER_TOKENS,
        "exact_groups": list(exact_groups.values()),
        "near_pairs": near_pairs, "footer_ids": sorted(int(i) for i in footer_ids),
        "waves": waves,
    }
    kernel_vectors(rng_for("curate", seed, "kernel"), 4000, out)
    return truth


def cluster_vectors(rng, n, labels=10):
    centers = rng.normal(size=(labels, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    lab = rng.integers(0, labels, size=n)
    v = centers[lab] * 1.0 + rng.normal(scale=0.35, size=(n, DIM))
    return v.astype(np.float32), lab


def vec_table(ids, vecs, labels=None, id_name="vec_id"):
    cols = {id_name: pa.array(ids, pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32()))}
    if labels is not None:
        cols["label"] = pa.array(labels, pa.int32())
    return pa.table(cols)


def gen_session(seed, out):
    cfg = SIZES["session"]
    rng = rng_for("session", seed, "tables")
    n_o, n_l, n_e = cfg["orders"], cfg["lineitem"], cfg["events"]
    day = np.datetime64("1995-01-02")
    odate = day + rng.integers(0, 2500, size=n_o).astype("timedelta64[D]")
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, 15000, size=n_o), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, size=n_o)]),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 500000, size=n_o), 2)),
        "o_orderdate": pa.array(odate.astype("datetime64[ms]"), pa.timestamp("ms", tz="UTC")),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
            [rng.integers(0, 5, size=n_o)]),
    })
    # lineitem rows in a seeded order (the seed sets row order)
    okey = np.sort(rng.integers(0, n_o, size=n_l))
    lnum = np.zeros(n_l, dtype=np.int32)
    same = np.r_[False, okey[1:] == okey[:-1]]
    run = np.cumsum(~same)
    first = np.r_[0, np.flatnonzero(~same[1:]) + 1]
    lnum = (np.arange(n_l) - first[run - 1] + 1).astype(np.int32)
    qty = rng.integers(1, 51, size=n_l).astype(np.float64)
    price = np.round(qty * rng.uniform(900, 2000, size=n_l), 2)
    ship = day + rng.integers(0, 2500, size=n_l).astype("timedelta64[D]")
    perm = rng.permutation(n_l)
    lineitem = pa.table({
        "l_orderkey": pa.array(okey[perm], pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20000, size=n_l)[perm], pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1000, size=n_l)[perm], pa.int64()),
        "l_linenumber": pa.array(lnum[perm], pa.int32()),
        "l_quantity": pa.array(qty[perm]),
        "l_extendedprice": pa.array(price[perm]),
        "l_discount": pa.array(rng.integers(0, 11, size=n_l)[perm] / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, size=n_l)[perm] / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, size=n_l)][perm]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, size=n_l)][perm]),
        "l_shipdate": pa.array(ship[perm].astype("datetime64[ms]"), pa.timestamp("ms", tz="UTC")),
    })
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = t0 + np.sort(rng.integers(0, 30 * 86400 * 10**6, size=n_e)).astype("timedelta64[us]")
    events = pa.table({
        "event_id": pa.array(np.arange(n_e), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(rng.integers(0, 1500, size=n_e), pa.int64()),
        "event_type": pa.array(np.array(["signup", "click", "error", "view", "purchase"])
                               [rng.integers(0, 5, size=n_e)]),
        "value": pa.array(np.round(rng.uniform(0, 200, size=n_e), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_e)]),
    })
    vecs, lab = cluster_vectors(rng, cfg["vectors"])
    write(orders, os.path.join(out, "orders.parquet"))
    write(lineitem, os.path.join(out, "lineitem.parquet"))
    write(events, os.path.join(out, "events.parquet"))
    write(vec_table(np.arange(cfg["vectors"]), vecs, lab), os.path.join(out, "embeddings.parquet"))
    write(docs_table(np.arange(cfg["docs"]), doc_texts(rng, cfg["docs"]), rng),
          os.path.join(out, "documents.parquet"))
    return {"lineitem": n_l, "orders": n_o, "events": n_e,
            "vectors": cfg["vectors"], "docs": cfg["docs"]}


def kernel_vectors(rng, n, out):
    vecs, lab = cluster_vectors(rng, n)
    write(vec_table(np.arange(n), vecs, lab), os.path.join(out, "kernel_vecs.parquet"))


GENERATORS = {"curate": gen_curate, "session": gen_session}


def generate(workload, seed, out):
    """Write the inputs for (workload, seed) under `out` once; later calls
    with the same seed reuse them."""
    done = os.path.join(out, "truth.json")
    if os.path.exists(done):
        with open(done) as f:
            return json.load(f)
    os.makedirs(out, exist_ok=True)
    truth = GENERATORS[workload](seed, out)
    truth["workload"], truth["seed"] = workload, int(seed)
    tmp = done + ".tmp"
    with open(tmp, "w") as f:
        json.dump(truth, f)
    os.replace(tmp, done)
    return truth
