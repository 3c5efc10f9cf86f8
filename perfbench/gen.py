"""Seeded input generator for the scenario benchmark.

Writes the corpus tables graft's loaders read (`sources.Tables`), with the
column names and types of the committed test corpus, from a seed and a row
budget. The same seed and scale give the same bytes of data.

    python3 perfbench/gen.py <out_dir> --seed 7 --scale rag
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
SEGMENTS = ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"]
DIM = 64
N_LABELS = 10

# Row budgets per scale. `replicas` > 1 builds the StressGen-style tier:
# disjoint key-shifted copies of one base corpus (identical document text,
# so every document is a near-duplicate clique; embeddings perturbed).
SCALES = {
    # the RAG workload reads only documents and embeddings
    "rag": dict(docs=1000, vecs=800, orders=1000, customers=100, parts=100, replicas=1),
    # few parts: the co-purchase graph is one small-diameter component, so
    # label propagation takes the same number of rounds for every seed
    "curate": dict(docs=200, vecs=200, orders=6000, customers=600, parts=60, replicas=10),
}

LONG_OFF = 1_000_000_000
PERTURB_AMP = 0.1


def documents(rng, n):
    # one document in twenty is a near-duplicate of an earlier original, as
    # in the test corpus; a fixed count keeps the dedup work the same per seed
    dups = set(rng.choice(np.arange(n // 10, n), size=n // 20, replace=False).tolist())
    originals, texts = [], []
    for i in range(n):
        if i in dups:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
            originals.append(i)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, n):
    # unit vectors in random directions with a random label, like the test
    # corpus: pairwise cosines stay near 0, so near-duplicate counts are
    # set by the replica tier, not by the seed
    labels = rng.integers(0, N_LABELS, n)
    v = rng.normal(size=(n, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def customer(rng, n):
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
        "c_mktsegment": pa.array([SEGMENTS[j] for j in rng.integers(0, 5, n)]),
    })


def _dates(rng, n, lo="1995-01-01", days=2400):
    base = np.datetime64(lo, "us")
    return pa.array(base + rng.integers(0, days, n).astype("timedelta64[D]"),
                    type=pa.timestamp("us"))


def orders(rng, n, n_cust):
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n).astype(np.int64)),
        "o_orderstatus": pa.array([("P", "O", "F")[j] for j in rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n), 2)),
        "o_orderdate": _dates(rng, n),
        "o_orderpriority": pa.array([("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                      "5-LOW")[j] for j in rng.integers(0, 5, n)]),
    })


def lineitem(rng, n_orders, n_parts):
    n = n_orders * 4
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_parts, n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 100, n).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array([("R", "A", "N")[j] for j in rng.integers(0, 3, n)]),
        "l_linestatus": pa.array([("O", "F")[j] for j in rng.integers(0, 2, n)]),
        "l_shipdate": _dates(rng, n),
    })


SHIFTED = {
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
}


def perturb(emb, i):
    """Replica i's embeddings: every component times 1 + amp*u with integer
    hash noise u keyed on (replica, original vec_id, dim), as in StressGen."""
    if i == 0:
        return emb
    ids = emb.column("vec_id").to_numpy().astype(np.int64)[:, None]
    j = np.arange(DIM, dtype=np.int64)[None, :]
    u = ((i * 2654435761 + ids * 31 + j * 40503) % 1000003) / 1000003.0 - 0.5
    v = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False))
    v = (v * (1.0 + PERTURB_AMP * u)).astype(np.float32)
    return emb.set_column(1, "embedding", pa.array(list(v), type=pa.list_(pa.float32())))


def replicate(name, tbl, reps):
    parts = []
    for i in range(reps):
        t = perturb(tbl, i) if name == "embeddings" else tbl
        for c in SHIFTED[name]:
            idx = t.schema.get_field_index(c)
            t = t.set_column(idx, c, pa.array(t.column(c).to_numpy() + i * LONG_OFF))
        parts.append(t)
    return pa.concat_tables(parts)


def generate(out_dir, seed, scale):
    """Write the tables of one scale under out_dir; return their row counts."""
    p = SCALES[scale]
    rng = np.random.default_rng(seed)
    tables = {
        "documents": documents(rng, p["docs"]),
        "embeddings": embeddings(rng, p["vecs"]),
        "customer": customer(rng, p["customers"]),
        "orders": orders(rng, p["orders"], p["customers"]),
        "lineitem": lineitem(rng, p["orders"], p["parts"]),
    }
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, tbl in tables.items():
        if p["replicas"] > 1:
            tbl = replicate(name, tbl, p["replicas"])
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = tbl.num_rows
    return rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", choices=sorted(SCALES), required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.out_dir, a.seed, a.scale)))


if __name__ == "__main__":
    main()
