"""Deterministic TPC-H-ish tables for the query_mix workload.

Writes region, nation, customer, supplier, part, orders, lineitem, events,
documents and embeddings as one parquet file each, with the column names,
types and value domains the registry queries read (timestamps are
microsecond, not UTC-adjusted; embeddings are 64-dim unit float vectors).

Usage: python3 perfbench/gendata.py <out_dir> <scale>
Row counts follow TPC-H proportions: scale 0.01 gives 60,000 lineitems.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
REGIONS = ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST']
SEGMENTS = ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY']
ADJ = ['blue', 'cold', 'hot', 'large', 'new', 'old', 'red', 'small']
NOUN = ['anvil', 'bolt', 'gear', 'gizmo', 'plate', 'ring', 'rod', 'widget']
PTYPES = ['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD']
PRIOS = ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW']
EVENTS = ['click', 'error', 'purchase', 'signup', 'view']
LANGS = ['en', 'en', 'en', 'de', 'es', 'fr', 'zh']
WORDS = ('a agg batch big column customer data fast filter group hash join '
         'key line merge order part query row scan slow small sort spark '
         'stream table the value vector window').split()
DIM = 64


def ts_us(base, seconds):
    return pa.array(np.datetime64(base, 'us') + seconds.astype('timedelta64[s]'),
                    pa.timestamp('us'))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(scale):
    rng = np.random.RandomState(SEED)
    n_cust = max(150, int(150000 * scale))
    n_supp = max(10, int(10000 * scale))
    n_part = max(200, int(200000 * scale))
    n_ord = max(1500, int(1500000 * scale))
    n_li = 4 * n_ord
    n_ev = max(1000, int(1000000 * scale))
    n_doc = max(50, int(50000 * scale))
    i32, i64 = pa.int32(), pa.int64()
    out = {}
    out['region'] = pa.table({'r_regionkey': pa.array(range(5), i32),
                              'r_name': REGIONS})
    out['nation'] = pa.table({
        'n_nationkey': pa.array(range(25), i32),
        'n_name': [f'NATION_{i}' for i in range(25)],
        'n_regionkey': pa.array([i % 5 for i in range(25)], i32)})
    out['customer'] = pa.table({
        'c_custkey': pa.array(np.arange(n_cust), i64),
        'c_name': [f'Customer#{i:09d}' for i in range(n_cust)],
        'c_nationkey': pa.array(rng.randint(0, 25, n_cust), i32),
        'c_acctbal': money(rng, -999.99, 9999.99, n_cust),
        'c_mktsegment': [SEGMENTS[i] for i in rng.randint(0, 5, n_cust)]})
    out['supplier'] = pa.table({
        's_suppkey': pa.array(np.arange(n_supp), i64),
        's_name': [f'Supplier#{i:09d}' for i in range(n_supp)],
        's_nationkey': pa.array(rng.randint(0, 25, n_supp), i32),
        's_acctbal': money(rng, -999.99, 9999.99, n_supp)})
    out['part'] = pa.table({
        'p_partkey': pa.array(np.arange(n_part), i64),
        'p_name': [f'{ADJ[a]} {NOUN[b]}' for a, b in
                   zip(rng.randint(0, 8, n_part), rng.randint(0, 8, n_part))],
        'p_brand': [f'Brand#{i}' for i in rng.randint(1, 26, n_part)],
        'p_type': [PTYPES[i] for i in rng.randint(0, 6, n_part)],
        'p_size': pa.array(rng.randint(1, 51, n_part), i32),
        'p_retailprice': np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    out['orders'] = pa.table({
        'o_orderkey': pa.array(np.arange(n_ord), i64),
        'o_custkey': pa.array(rng.randint(0, n_cust, n_ord), i64),
        'o_orderstatus': [('F', 'O', 'P')[i] for i in rng.randint(0, 3, n_ord)],
        'o_totalprice': money(rng, 1000.0, 500000.0, n_ord),
        'o_orderdate': ts_us('1995-01-01', rng.randint(0, 2404, n_ord) * 86400),
        'o_orderpriority': [PRIOS[i] for i in rng.randint(0, 5, n_ord)]})
    qty = rng.randint(1, 51, n_li).astype(np.float64)
    out['lineitem'] = pa.table({
        'l_orderkey': pa.array(np.sort(rng.randint(0, n_ord, n_li)), i64),
        'l_partkey': pa.array(rng.randint(0, n_part, n_li), i64),
        'l_suppkey': pa.array(rng.randint(0, n_supp, n_li), i64),
        'l_linenumber': pa.array(rng.randint(1, 8, n_li), i32),
        'l_quantity': qty,
        'l_extendedprice': money(rng, 900.0, 105000.0, n_li),
        'l_discount': rng.randint(0, 11, n_li) / 100.0,
        'l_tax': rng.randint(0, 9, n_li) / 100.0,
        'l_returnflag': [('A', 'N', 'R')[i] for i in rng.randint(0, 3, n_li)],
        'l_linestatus': [('F', 'O')[i] for i in rng.randint(0, 2, n_li)],
        'l_shipdate': ts_us('1995-01-02', rng.randint(0, 2499, n_li) * 86400)})
    gaps = rng.exponential(30 * 86400 / n_ev, n_ev)
    ev_us = np.cumsum(np.round(gaps * 1e6).astype(np.int64))
    out['events'] = pa.table({
        'event_id': pa.array(np.arange(n_ev), i64),
        'ts': pa.array(np.datetime64('2024-01-01', 'us') + ev_us.astype('timedelta64[us]'),
                       pa.timestamp('us')),
        'user_id': pa.array(rng.randint(0, max(15, n_ev // 66), n_ev), i64),
        'event_type': [EVENTS[i] for i in rng.randint(0, 5, n_ev)],
        'value': np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
        'props': [f'{{"k": {i}}}' for i in rng.randint(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i >= 10 and rng.rand() < 0.1:
            # near-duplicate of an earlier document: the dedup operators' target
            words = texts[rng.randint(0, i)].split()
            words[rng.randint(0, len(words))] = 'dup'
            texts.append(' '.join(words))
        else:
            texts.append(' '.join(WORDS[w] for w in rng.randint(0, len(WORDS), rng.randint(10, 90))))
    out['documents'] = pa.table({
        'doc_id': pa.array(np.arange(n_doc), i64),
        'text': texts,
        'lang': [LANGS[i] for i in rng.randint(0, len(LANGS), n_doc)],
        'source': [f'src{i}' for i in rng.randint(0, 20, n_doc)],
        'n_chars': pa.array([len(t) for t in texts], i64)})
    labels = rng.randint(0, 10, n_doc)
    centers = rng.normal(0, 1, (10, DIM))
    vecs = centers[labels] + rng.normal(0, 1.5, (n_doc, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out['embeddings'] = pa.table({
        'vec_id': pa.array(np.arange(n_doc), i64),
        'embedding': pa.array(list(vecs), pa.list_(pa.float32())),
        'label': pa.array(labels, i32)})
    return out


def main():
    out_dir, scale = sys.argv[1], float(sys.argv[2])
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(scale).items():
        pq.write_table(table, os.path.join(out_dir, f'{name}.parquet'))


if __name__ == '__main__':
    main()
