"""Output checks of the benchmark's operations.

Every check reads what the harness wrote under `<work>/check` during the
warm-up pass (or, for `ingest`, after the run) and compares it with a
reference computed here from the same generated inputs: DuckDB running the
library's own `SparkEntry.oracleSql`, or an independent computation in
numpy/python.  `run(...)` returns one message per failed check.
"""
import glob
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq


def output(work, name):
    files = sorted(glob.glob(os.path.join(work, "check", name, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"{name}: no output")
    return pq.ParquetDataset(files).read().to_pandas()


def duck(data):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
    return con


def canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), kind="mergesort",
                          na_position="first").reset_index(drop=True)


def same(got, exp):
    """Exact comparison, column- and row-order insensitive (the repository's
    oracle gate: floats are rounded on both sides, then compared exactly)."""
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns {sorted(got.columns)} != {sorted(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    g, e = canon(got), canon(exp)
    for c in g.columns:
        gv, ev = g[c], e[c]
        if gv.dtype.kind == "f" or ev.dtype.kind == "f":
            gv = pd.to_numeric(gv, errors="coerce").to_numpy(float)
            ev = pd.to_numeric(ev, errors="coerce").to_numpy(float)
            bad = ~((np.isnan(gv) & np.isnan(ev)) | (gv == ev))
        else:
            bad = (gv.astype(str).where(~gv.isna(), "<null>") !=
                   ev.astype(str).where(~ev.isna(), "<null>")).to_numpy()
        if bad.any():
            i = int(np.argmax(bad))
            return f"column {c} row {i}: {g[c].iloc[i]!r} != {e[c].iloc[i]!r}"
    return None


def oracle(con, work, queries):
    fails = []
    for name, sql in sorted(queries.items()):
        try:
            why = same(output(work, name), con.execute(sql).fetchdf())
        except Exception as e:  # a failing oracle or missing output fails
            why = str(e).splitlines()[0]
        if why:
            fails.append(f"{name}: {why}")
    return fails


def shingles(text):
    t = text.strip().lower().split()
    return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}


def jaccard(a, b):
    u = len(a | b)
    return len(a & b) / u if u else 0.0


def pairs_set(df):
    return {(min(a, b), max(a, b)) for a, b in zip(df["id_a"], df["id_b"])}


def corpus(con, raw, work):
    """Checks of the corpus operations that ran (all of `curate`, a subset
    on `verbs`); their `oracleSql` checks are in `raw["checks"]["oracle"]`."""
    ran = {o["name"] for o in raw["ops"]}
    fails = []
    docs = con.execute("SELECT doc_id, text FROM documents").fetchdf()
    text = dict(zip(docs["doc_id"], docs["text"]))
    sh = {i: shingles(t) for i, t in text.items()}
    groups = {}
    for i, t in text.items():
        groups.setdefault(t, []).append(i)
    exact = {(a, b) for ids in groups.values() for a in ids for b in ids
             if a < b and len(sh[a]) > 0}

    def check(name, fn):
        if name not in ran:
            return
        try:
            why = fn()
        except Exception as e:
            why = str(e).splitlines()[0]
        if why:
            fails.append(f"{name}: {why}")

    def sig_pass():
        out = output(work, "sig_pass")
        if len(out) != len(docs):
            return f"rows {len(out)} != {len(docs)}"
        if (out["sig"].map(lambda s: 0 if s is None else len(s)) != 64).any():
            return "a signature is not 64 hashes long"

    def verified(name, recall):
        out = output(work, name)
        for a, b, j in zip(out["id_a"], out["id_b"], out["jaccard"]):
            exact_j = jaccard(sh[a], sh[b])
            # the library rounds half up, python half to even
            if exact_j < 0.8 or abs(exact_j - j) > 5.000001e-5:
                return f"pair ({a}, {b}) reports {j}, exact Jaccard {exact_j}"
        if recall and not exact <= pairs_set(out):
            return f"{len(exact - pairs_set(out))} exact duplicates missed"

    def simhash():
        missed = exact - pairs_set(output(work, "simhash_pairs"))
        if missed:
            return f"{len(missed)} exact duplicates missed"

    def clusters():
        pairs = output(work, "minhash_pairs")
        parent = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x
        for a, b in zip(pairs["id_a"], pairs["id_b"]):
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
        exp = pd.DataFrame({"id": list(parent),
                            "cluster": [find(x) for x in parent]})
        got = output(work, "clusters")
        return same(got[["id", "cluster"]].astype("int64"),
                    exp.astype("int64"))

    def gopher():
        stats = con.execute(raw["checks"]["gopher_stats"]).fetchdf()
        want = set(stats.loc[stats["passes"] == 1, "doc_id"])
        got = set(output(work, "gopher")["doc_id"])
        if got != want:
            return f"{len(got ^ want)} documents differ from the d41 oracle"

    def vectors():
        emb = con.execute("SELECT vec_id, embedding FROM embeddings").fetchdf()
        return (emb["vec_id"].to_numpy(),
                np.stack(emb["embedding"].to_numpy()).astype(np.float64))

    def embedding_pairs():
        ids, x = vectors()
        u = x / np.linalg.norm(x, axis=1, keepdims=True)
        cos = u @ u.T
        i, j = np.nonzero(np.triu(cos >= 0.999, 1))
        want = {(min(a, b), max(a, b)) for a, b in zip(ids[i], ids[j])}
        got = pairs_set(output(work, "embedding_pairs"))
        if got != want:
            return f"{len(got ^ want)} pairs differ from brute-force cosine"

    def pca():
        _, x = vectors()
        out = output(work, "pca").sort_values("j")
        xc = x - x.mean(axis=0)
        val, vec = np.linalg.eigh(xc.T @ xc / (len(x) - 1))
        order = np.argsort(val)[::-1][:len(out)]
        var = out["variance"].to_numpy()
        if not np.allclose(var, val[order], rtol=1e-6, atol=0):
            return f"variances {var[:3]} != {val[order][:3]}"
        comp = np.stack(out["component"].to_numpy())
        dots = np.abs(np.sum(comp * vec[:, order].T, axis=1))
        if not np.allclose(dots, 1.0, atol=1e-6):
            return f"components differ (|cos| {dots.min()})"

    check("sig_pass", sig_pass)
    check("minhash_pairs", lambda: verified("minhash_pairs", recall=True))
    check("ngram_pairs", lambda: verified("ngram_pairs", recall=False))
    check("simhash_pairs", simhash)
    check("clusters", clusters)
    check("gopher", gopher)
    check("embedding_pairs", embedding_pairs)
    check("pca", pca)
    return fails


def ingest(raw, data, work):
    shipped = raw["checks"]["shipped"]
    fails = []
    for what, key in (("docs", "doc_id"), ("vecs", "vec_id")):
        want = set()
        for b in range(shipped):
            batch = pq.read_table(f"{data}/{what}/b{b:04d}.parquet",
                                  columns=[key]).column(key).to_pylist()
            want.update(batch[1::2])
        got = output(work, f"survivors_{what}")[key].tolist()
        if len(got) != len(set(got)) or set(got) != want:
            fails.append(f"survivors_{what}: {len(set(got) ^ want)} ids "
                         f"differ from the fresh rows shipped")
    base = pq.read_table(f"{data}/lake.parquet").to_pydict()
    latest = {k: (b, v) for k, b, v in
              zip(base["key"], base["batch"], base["value"])}
    for b in range(shipped):
        t = pq.read_table(f"{data}/rows/b{b:04d}.parquet").to_pydict()
        for k, v in zip(t["key"], t["value"]):
            latest[k] = (b, v)
    exp = pd.DataFrame({"key": list(latest),
                        "batch": [b for b, _ in latest.values()],
                        "value": [v for _, v in latest.values()]})
    got = output(work, "lake")
    why = same(got.astype({"key": "int64", "batch": "int64"}),
               exp.astype({"key": "int64", "batch": "int64"}))
    if why:
        fails.append(f"lake: {why}")
    return fails


def run(workload, raw, data, work):
    if workload == "ingest":
        return ingest(raw, data, work)
    con = duck(data)
    return (oracle(con, work, raw["checks"]["oracle"]) +
            corpus(con, raw, work))
