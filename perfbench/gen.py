"""Seeded input generator: a complete ten-table sfDir.

The same seed gives byte-identical parquet files. The star-schema and
events tables are small (they only make the directory complete for
tools/check.py); documents and embeddings are at sf0.1 size, the
inputs every workload reads.

Planted duplicates (recorded in PLANTED): about 5% of docs are exact
copies of an earlier doc and about 5% are near copies (an earlier
doc's text plus the token "dup"), so dedup has ~10% to find. Copies
always point at a LOWER doc_id, which makes every copy a cross-epoch
duplicate once docs arrive in doc_id order.
"""
import datetime
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

N_DOCS = 5000
N_VECS = 2000
DIM = 64
PLANTED = {"exact_dup_share": 0.05, "near_dup_share": 0.05}


def _write(table, path):
    # fixed writer settings so equal data gives equal bytes
    pq.write_table(table, path, compression="snappy", version="2.6",
                   write_statistics=True, store_schema=False)


def documents(rng, n=N_DOCS, first_id=0):
    texts = []
    kinds = rng.choice(3, size=n, p=[1 - sum(PLANTED.values()),
                                     PLANTED["exact_dup_share"],
                                     PLANTED["near_dup_share"]])
    for i in range(n):
        if i > 0 and kinds[i] == 1:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 0 and kinds[i] == 2:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[j] for j in rng.choice(5, size=n, p=LANG_P)],
                         pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, n=N_VECS, dim=DIM):
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32), pa.int32()),
    })


def _ts(base, secs):
    return pa.array([base + datetime.timedelta(seconds=float(s)) for s in secs],
                    pa.timestamp("us"))


def star(rng):
    """Star schema + events at sf0.001 size."""
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    n_cust, n_supp, n_part, n_ord, n_line, n_ev = 150, 10, 200, 1500, 6000, 1000
    d0 = datetime.datetime(1995, 1, 1)
    out = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": pa.array(regions)}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
            "c_mktsegment": pa.array(rng.choice(
                ["FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD", "AUTOMOBILE"],
                n_cust).tolist())}),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2))}),
        "part": pa.table({
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": pa.array([f"{a} widget" for a in rng.choice(
                ["cold", "small", "big", "red", "blue"], n_part)]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(rng.choice(
                ["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD"], n_part).tolist()),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900 + np.arange(n_part) * 0.1, 2))}),
        "orders": pa.table({
            "o_orderkey": pa.array(range(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_ord).tolist()),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 400000, n_ord), 2)),
            "o_orderdate": _ts(d0, rng.integers(0, 2404, n_ord) * 86400),
            "o_orderpriority": pa.array(rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                n_ord).tolist())}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n_line), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(rng.choice(["N", "A", "R"], n_line).tolist()),
            "l_linestatus": pa.array(rng.choice(["O", "F"], n_line).tolist()),
            "l_shipdate": _ts(d0, rng.integers(1, 2500, n_line) * 86400)}),
        "events": pa.table({
            "event_id": pa.array(range(n_ev), pa.int64()),
            "ts": _ts(datetime.datetime(2024, 1, 1),
                      np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev)) / 1e6),
            "user_id": pa.array(rng.integers(0, 15, n_ev), pa.int64()),
            "event_type": pa.array(rng.choice(
                ["error", "signup", "purchase", "view", "click"], n_ev).tolist()),
            "value": pa.array(np.round(rng.exponential(50, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])}),
    }
    return out


def generate(out_dir, seed, n_docs=N_DOCS):
    """Write the ten tables under out_dir; return the sha256 of their bytes."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 0x6a7f])
    tables = star(rng)
    tables["documents"] = documents(rng, n=n_docs)
    tables["embeddings"] = embeddings(rng)
    h = hashlib.sha256()
    for name in TABLES:
        path = os.path.join(out_dir, f"{name}.parquet")
        _write(tables[name], path)
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def ingest_epochs(seconds, trace):
    """Epochs ingest_serve runs for a --seconds budget: a fixed schedule
    (not a deadline), so a faster engine does the same work and the
    growing lake state is the same at the end. A traced run needs 3,
    so that its traced epoch 1 lies between two untraced ones."""
    return max(3 if trace else 2, min(12, seconds // 5))


EPOCH_DOCS = 500


def ingest_pool(out_dir, seed, epochs):
    """The docs ingest_serve streams in, EPOCH_DOCS per epoch in doc_id
    order; planted copies point at earlier docs, so most of them are
    duplicates against EARLIER epochs."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 0x1a9e])
    _write(documents(rng, n=epochs * EPOCH_DOCS), os.path.join(out_dir, "documents.parquet"))


if __name__ == "__main__":
    import sys
    print(generate(sys.argv[1], int(sys.argv[2])))
