"""Seeded input generator for the graft benchmark.

Writes the ten tables `graft.sources.Tables` reads (TPC-H-like star
schema, events, documents, embeddings) as one parquet file each, with the
column names and value shapes of the repository's test data. Everything
is derived from the seed: the same seed writes the same rows.

Scale-ups follow `graft.tools.MakeBigSf`'s id-remap scheme, with the seed
choosing each replica's transform:
  - embeddings ×E: vec_id + rep·10⁷, vector circularly rotated by a
    seeded per-replica offset (norm-preserving, decorrelates replicas);
  - documents ×D: doc_id + rep·10⁷, every token of a non-zero replica
    mapped through a seeded per-replica vocabulary permutation and
    tagged `r<rep>_` (cross-replica docs share no tokens).

Usage: python3 gen.py OUT_DIR SEED BASE_SF EMB_FACTOR DOC_FACTOR TABLES
  (TABLES is a comma-separated subset of the table names, or `all`).
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the spark window merge table column vector stream value data "
         "small join filter big group hash customer sort order slow line "
         "part fast row agg key query scan batch").split()
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
ALL_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]
DIM = 64
US_PER_DAY = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000      # 1995-01-01T00:00:00Z
EPOCH_2024_US = 1_704_067_200_000_000    # 2024-01-01T00:00:00Z


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def ts_us(values):
    return pa.array(values.astype("int64"), type=pa.timestamp("us"))


def relational(rng, sf):
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
    }
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "BUILDING",
                                    "HOUSEHOLD", "FURNITURE"], n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    adj = rng.choice(["large", "hot", "blue", "old", "cold", "red"], n_part)
    noun = rng.choice(["ring", "bolt", "plate", "gear", "widget", "rod",
                       "anvil"], n_part)
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "SMALL",
                              "MEDIUM", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    odate = EPOCH_1995_US + rng.integers(0, 2404, n_ord) * US_PER_DAY
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": ts_us(odate),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lnum = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    li = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": ts_us(np.repeat(odate, lines)
                            + rng.integers(1, 122, n_li) * US_PER_DAY)})
    out["lineitem"] = li.take(rng.permutation(n_li))
    return out


def events(rng, sf):
    n = int(1_000_000 * sf)
    ts = np.sort(EPOCH_2024_US + rng.integers(0, 30 * US_PER_DAY, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts_us(ts),
        "user_id": rng.integers(0, max(int(15_000 * sf), 10), n),
        "event_type": rng.choice(["signup", "click", "error", "view",
                                  "purchase"], n),
        "value": np.round(rng.exponential(60.0, n).clip(0, 560.21), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def base_documents(rng, n):
    """Token lists of n documents; about 5% are near copies of an earlier
    one (a few tokens swapped, tagged `dup`) so dedup keys find pairs."""
    docs = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            toks = list(docs[rng.integers(0, i)])
            for _ in range(int(rng.integers(1, 3))):
                toks[rng.integers(0, len(toks))] = VOCAB[rng.integers(0, len(VOCAB))]
            toks.append("dup")
        else:
            toks = [VOCAB[j] for j in rng.integers(0, len(VOCAB), rng.integers(10, 101))]
        docs.append(toks)
    return docs


def documents(rng, n_base, factor):
    base = base_documents(rng, n_base)
    langs = rng.choice(LANGS, n_base, p=LANG_P)
    ids, texts, lang, source = [], [], [], []
    words = VOCAB + ["dup"]
    for rep in range(factor):
        if rep == 0:
            mapping = {w: w for w in words}
        else:
            perm = rng.permutation(len(words))
            mapping = {w: f"r{rep}_{words[p]}" for w, p in zip(words, perm)}
        for i, toks in enumerate(base):
            ids.append(i + rep * 10_000_000)
            texts.append(" ".join(mapping[t] for t in toks))
            lang.append(langs[i])
            source.append(f"src{i % 20}")
    return pa.table({
        "doc_id": np.array(ids, dtype=np.int64), "text": texts,
        "lang": lang, "source": source,
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def embeddings(rng, n_base, factor):
    labels = rng.integers(0, 10, n_base)
    centers = rng.normal(0.0, 1.0, (10, DIM))
    base = centers[labels] * 0.35 + rng.normal(0.0, 1.0, (n_base, DIM))
    base = (base / np.linalg.norm(base, axis=1, keepdims=True)).astype(np.float32)
    shifts = [0] + [int(s) for s in rng.integers(1, DIM, factor - 1)]
    vecs = np.concatenate([np.roll(base, -s, axis=1) for s in shifts])
    ids = np.concatenate([np.arange(n_base, dtype=np.int64) + r * 10_000_000
                          for r in range(factor)])
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, len(vecs) * DIM + 1, DIM, dtype=np.int32)),
        pa.array(vecs.reshape(-1), pa.float32()))
    return pa.table({"vec_id": ids, "embedding": emb,
                     "label": pa.array(np.tile(labels, factor), pa.int32())})


def generate(out_dir, seed, base_sf, emb_factor, doc_factor, tables):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    # Each table family draws from its own child stream, so a subset
    # of tables is the same subset of rows whichever others are written.
    r_rel, r_ev, r_doc, r_emb = (np.random.default_rng(s)
                                 for s in rng.integers(0, 2**63, 4))
    n_docs = 5000 if base_sf >= 0.1 else 500
    n_emb = 2000 if base_sf >= 0.1 else 500
    out = {}
    if {"region", "nation", "customer", "supplier", "part", "orders",
            "lineitem"} & set(tables):
        out.update(relational(r_rel, base_sf))
    if "events" in tables:
        out["events"] = events(r_ev, base_sf)
    if "documents" in tables:
        out["documents"] = documents(r_doc, n_docs, doc_factor)
    if "embeddings" in tables:
        out["embeddings"] = embeddings(r_emb, n_emb, emb_factor)
    for name in tables:
        pq.write_table(out[name], os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    if len(sys.argv) != 7:
        sys.exit(__doc__)
    out, seed, sf, ef, df, tabs = sys.argv[1:]
    generate(out, int(seed), float(sf), int(ef), int(df),
             ALL_TABLES if tabs == "all" else tabs.split(","))
