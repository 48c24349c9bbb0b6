#!/usr/bin/env python3
"""Deterministic synthetic corpus for the benchmark.

Writes the ten tables the graft queries read (a TPC-H-ish star schema
plus `events`, `documents` and `embeddings`), one parquet file each.
At scale 0.1 and seed 42 it reproduces the repository's sf0.1 test
corpus value for value in every column except `documents.lang` and
`embeddings.embedding`/`label`, which match it in distribution only
(perfbench/README.md, "Corpus", lists the measured figures). The same
scale and seed always give byte-identical tables.

Usage: python3 perfbench/corpus.py <out_dir> [--scale 0.1] [--seed 42]
       python3 perfbench/corpus.py <corpus_dir> --compare
"""
import argparse
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# List order matters: a value is drawn as an index into its list.
WORDS = ("the a spark query table join group filter window data order customer "
         "part line fast slow big small hash sort merge scan agg stream batch "
         "vector key value row column").split()
ADJ = "red blue small large hot cold old new".split()
NOUN = "anvil widget gizmo bolt gear plate rod ring".split()


def _dates(rng, n, start, end):
    days = (np.datetime64(end) - np.datetime64(start)).astype(int)
    return (np.datetime64(start) + rng.integers(0, days + 1, n)).astype("datetime64[us]")


def tables(scale, seed):
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_li, n_ev = int(1_500_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale)
    n_doc, n_vec = int(50_000 * scale), int(20_000 * scale)
    out = {}
    out["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    out["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"], n_cust)})
    out["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    out["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, n_part), rng.choice(NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _dates(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": rng.choice(["R", "A", "N"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _dates(rng, n_li, "1995-01-02", "2001-11-04")})
    # 30 days of events at nanosecond resolution, stored in microseconds
    ts_ns = (np.sort(rng.uniform(0, 30 * 86400, n_ev)) * 1e9).astype(np.int64)
    out["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": (np.datetime64("2024-01-01T00:00:00", "ns") + ts_ns.astype("timedelta64[ns]"))
        .astype("datetime64[us]"),
        "user_id": rng.integers(0, 1500, n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 100))) for _ in range(n_doc)]
    # one doc in twenty is a near-duplicate: another doc's text plus a marker token
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    out["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "fr", "de"], n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    v = rng.standard_normal((n_vec, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": list(v),
        "label": rng.integers(0, 10, n_vec).astype(np.int32)})
    return out


def arrow_tables(scale=0.1, seed=42):
    for name, df in tables(scale, seed).items():
        tbl = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            tbl = tbl.set_column(1, "embedding", pa.array(df["embedding"].map(list), pa.list_(pa.float32())))
        yield name, tbl


def write(out_dir, scale=0.1, seed=42):
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in arrow_tables(scale, seed):
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


def _shape(col):
    """A column's distribution in one line: value shares, or mean and std."""
    if pa.types.is_list(col.type):
        col = pa.chunked_array([c.flatten() for c in col.chunks])
    if pa.types.is_string(col.type):
        vc = pd.Series(col.to_pylist()).value_counts(normalize=True)
        return f"{len(vc)} values, top {', '.join(f'{k}={v:.4f}' for k, v in vc.head(5).items())}"
    v = np.asarray(col.to_numpy(), dtype=np.float64)
    return f"mean {v.mean():.5f} std {v.std():.5f}"


def compare(ref_dir, scale=0.1, seed=42):
    """Print, per column, whether the generated table equals the one in
    `ref_dir` (type and every value) and, where not, both distributions."""
    for name, tbl in arrow_tables(scale, seed):
        ref = pq.read_table(os.path.join(ref_dir, f"{name}.parquet"))
        print(f"{name}: {tbl.num_rows} rows generated, {ref.num_rows} in reference")
        for field in ref.schema:
            got = tbl.column(field.name) if field.name in tbl.column_names else None
            if got is None or got.type != field.type:
                print(f"  {field.name}: type {field.type} in reference, "
                      f"{got.type if got is not None else 'missing'} generated")
            elif got.equals(ref.column(field.name)):
                print(f"  {field.name} {field.type}: equal")
            else:
                print(f"  {field.name} {field.type}: differs\n"
                      f"    reference  {_shape(ref.column(field.name))}\n"
                      f"    generated  {_shape(got)}")


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir", help="where to write the tables")
    ap.add_argument("--scale", type=float, default=0.1)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--compare", action="store_true",
                    help="write nothing; compare with the corpus already in out_dir")
    a = ap.parse_args()
    if a.compare:
        compare(a.out_dir, a.scale, a.seed)
    else:
        write(a.out_dir, a.scale, a.seed)
