"""Seeded input generator for the benchmark.

Every table follows the generative laws of the repository's star-schema
test data (TPC-H-like keys and value domains, a 30-day `events` stream)
and of `scripts/gen_scale.py` (documents: uniform 10-100 whitespace tokens
over a small vocabulary, 5% of documents paired with a near-duplicate
mutated in ~2% of positions, a sprinkle of exact duplicates; embeddings:
64-dim L2-normalised float32 vectors).  The same seed always gives the
same bytes of data.

    star(out, seed)          sf0.1 star schema for the `verbs` workload
    corpus(out, seed, ...)   documents + embeddings for `curate`
    feed(out, seed, ...)     base tables and micro-batches for `ingest`
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
US_PER_DAY = 86400 * 10**6


def _write(table, path, files=1):
    """Write `table` as `path` (one file) or as a directory of `files`
    parts, so a scan of it has that many input splits."""
    if files == 1:
        pq.write_table(table, path)
        return
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for i in range(files):
        lo, hi = n * i // files, n * (i + 1) // files
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def _days(rng, lo, hi, n):
    """`n` whole-day timestamps, uniform in [lo, hi] (numpy datetime64)."""
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((hi_d - lo_d).astype(int))
    return (lo_d + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def star(out, seed, sf=0.1):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    scale = sf / 0.1
    n_cust, n_supp = int(15000 * scale), int(1000 * scale)
    n_part, n_ord = int(20000 * scale), int(150000 * scale)

    _write(pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    }), f"{out}/nation.parquet")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    }), f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }), f"{out}/supplier.parquet")
    adj = "blue cold hot large new old red small".split()
    noun = "anvil bolt gear gizmo plate ring rod widget".split()
    names = np.array([f"{a} {b}" for a in adj for b in noun])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                      "STANDARD"])
    pk = np.arange(n_part, dtype=np.int64)
    _write(pa.table({
        "p_partkey": pa.array(pk),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    }), f"{out}/part.parquet")
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    }), f"{out}/orders.parquet")

    # 1-7 lines per order: (l_orderkey, l_linenumber) is a unique key, as
    # in TPC-H, so every window/sort over it is deterministic
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lnum = (np.arange(n_li) - starts + 1).astype(np.int32)
    perm = rng.permutation(n_li)
    _write(pa.table({
        "l_orderkey": pa.array(okey[perm]),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(lnum[perm]),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
    }), f"{out}/lineitem.parquet")

    n_ev = int(100000 * scale)
    base = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(base + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, 1500, n_ev)),
        "event_type": np.array(["view", "click", "purchase", "signup",
                                "error"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), f"{out}/events.parquet")


def documents(rng, n_docs, id_base=0, plant=True):
    """Documents by the `scripts/gen_scale.py` law (with `plant`, its
    near-duplicate pairs and exact duplicates); returns a pyarrow table
    with the repository's `documents` schema."""
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 101, n_docs)
    toks = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    docs = [list(t) for t in np.split(toks, cuts)]
    n_pairs = n_docs // 20 if plant else 0
    for i in range(n_pairs):
        base = list(docs[i * 2])
        for _ in range(max(1, len(base) // 50)):
            base[rng.integers(len(base))] = vocab[rng.integers(len(vocab))]
        docs[i * 2 + 1] = base
    for i in range(max(1, n_docs // 625) if plant else 0):
        docs[n_pairs * 2 + i * 2 + 1] = docs[n_pairs * 2 + i * 2]
    text = [" ".join(d) for d in docs]
    order = rng.permutation(n_docs)
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64) + id_base),
        "text": [text[i] for i in order],
        "lang": LANGS[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array(np.array([len(text[i]) for i in order],
                                     dtype=np.int64)),
    })


def embeddings(rng, n_vecs, id_base=0, plant=True):
    """64-dim L2-normalised vectors; with `plant`, 1% of them are
    near-copies (cosine > 0.999) of another vector, so near-duplicate
    search has hits."""
    v = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    n_dup = n_vecs // 100 if plant else 0
    src = rng.integers(0, n_vecs - n_dup, n_dup)
    v[n_vecs - n_dup:] = v[src] + 0.01 * rng.standard_normal(
        (n_dup, 64)).astype(np.float32) * np.linalg.norm(
            v[src], axis=1, keepdims=True) / 8.0
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64) + id_base),
        "embedding": pa.FixedSizeListArray.from_arrays(
            v.reshape(-1), 64).cast(pa.list_(pa.float32())),
        "label": pa.array((np.arange(n_vecs) % 10).astype(np.int32)),
    })


def corpus(out, seed, n_docs, n_vecs, files):
    """`documents.parquet` and (unless `n_vecs` is 0) `embeddings.parquet`
    as directories of `files` parts each."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    _write(documents(rng, n_docs), f"{out}/documents.parquet", files)
    if n_vecs:
        _write(embeddings(rng, n_vecs), f"{out}/embeddings.parquet", files)


def feed(out, seed, n_base_docs, n_base_vecs, batches, docs_per_batch,
         vecs_per_batch, rows_per_upsert, upsert_keys):
    """Base tables (documents, vectors, the lake's initial rows) plus
    `batches` single-file micro-batches per stream.
    Even rows of each document and vector batch are exact copies of base
    rows (a correct dedup drops them), odd rows are fresh (a correct dedup
    keeps them), so the expected survivors are known exactly.  Upsert
    batches carry distinct keys from a key space smaller than the rows
    sent over a run, so later batches replace earlier rows."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    base_docs = documents(rng, n_base_docs)
    base_vecs = embeddings(rng, n_base_vecs)
    _write(base_docs, f"{out}/base_docs.parquet")
    _write(base_vecs, f"{out}/base_vecs.parquet")
    _write(pa.table({
        "key": pa.array(np.arange(upsert_keys, dtype=np.int64)),
        "batch": pa.array(np.full(upsert_keys, -1, dtype=np.int64)),
        "value": np.zeros(upsert_keys),
    }), f"{out}/lake.parquet")
    for sub in ("docs", "vecs", "rows"):
        os.makedirs(f"{out}/{sub}", exist_ok=True)
    for b in range(batches):
        docs = documents(rng, docs_per_batch, plant=False,
                         id_base=n_base_docs + b * docs_per_batch)
        text = docs.column("text").to_pylist()
        copies = rng.integers(0, n_base_docs, docs_per_batch)
        base_text = base_docs.column("text").take(copies).to_pylist()
        text[0::2] = base_text[0::2]
        _write(docs.set_column(1, "text", pa.array(text)),
               f"{out}/docs/b{b:04d}.parquet")
        vecs = embeddings(rng, vecs_per_batch, plant=False,
                          id_base=n_base_vecs + b * vecs_per_batch)
        emb = vecs.column("embedding").to_pylist()
        copies = rng.integers(0, n_base_vecs, vecs_per_batch)
        base_emb = base_vecs.column("embedding").take(copies).to_pylist()
        emb[0::2] = base_emb[0::2]
        _write(vecs.set_column(1, "embedding",
                               pa.array(emb, pa.list_(pa.float32()))),
               f"{out}/vecs/b{b:04d}.parquet")
        _write(pa.table({
            "key": pa.array(rng.choice(upsert_keys, rows_per_upsert,
                                       replace=False)),
            "batch": pa.array(np.full(rows_per_upsert, b, dtype=np.int64)),
            "value": np.round(rng.uniform(0, 1000, rows_per_upsert), 2),
        }), f"{out}/rows/b{b:04d}.parquet")
