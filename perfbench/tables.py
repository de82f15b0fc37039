"""Seeded tables for the `queries` workload: the star schema and the events,
documents and embeddings tables the query suite reads, at the row counts of
scale factor 0.01, with the value ranges and
shapes of the suite's test data
(uniform keys and measures, a 30-word document vocabulary with 5% near
duplicates, unit-norm 64-d embeddings in 10 labels). Same seed, same files."""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {'region': 5, 'nation': 25, 'customer': 1500, 'supplier': 100, 'part': 2000,
        'orders': 15000, 'lineitem': 60000, 'events': 10000, 'documents': 500,
        'embeddings': 500}
VOCAB = ('spark window merge table column vector stream value data small join filter big '
         'group hash customer sort order slow line part fast row the agg key query a scan '
         'batch').split()
DAY_US = 86400 * 10**6


def _dates(rng, n, lo, hi):
    """Midnight timestamps (microseconds) uniform in [lo, hi] as numpy dates."""
    lo, hi = np.datetime64(lo, 'D').astype(np.int64), np.datetime64(hi, 'D').astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * DAY_US).astype('datetime64[us]')


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out_dir, seed):
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = ROWS
    t = {}
    t['region'] = {'r_regionkey': np.arange(5, dtype=np.int32),
                   'r_name': ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST']}
    t['nation'] = {'n_nationkey': np.arange(25, dtype=np.int32),
                   'n_name': [f'NATION_{i}' for i in range(25)],
                   'n_regionkey': (np.arange(25) % 5).astype(np.int32)}
    c = n['customer']
    t['customer'] = {'c_custkey': np.arange(c, dtype=np.int64),
                     'c_name': [f'Customer#{i:09d}' for i in range(c)],
                     'c_nationkey': rng.integers(0, 25, c).astype(np.int32),
                     'c_acctbal': _money(rng, c, -999.99, 9999.99),
                     'c_mktsegment': rng.choice(['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD',
                                                 'MACHINERY'], c)}
    s = n['supplier']
    t['supplier'] = {'s_suppkey': np.arange(s, dtype=np.int64),
                     's_name': [f'Supplier#{i:09d}' for i in range(s)],
                     's_nationkey': rng.integers(0, 25, s).astype(np.int32),
                     's_acctbal': _money(rng, s, -999.99, 9999.99)}
    p = n['part']
    adj = ['small', 'red', 'blue', 'hot', 'old', 'new', 'big', 'green']
    noun = ['ring', 'widget', 'bolt', 'gear', 'anvil', 'nut', 'pipe', 'valve']
    t['part'] = {'p_partkey': np.arange(p, dtype=np.int64),
                 'p_name': [f'{adj[i]} {noun[j]}' for i, j in zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
                 'p_brand': [f'Brand#{b}' for b in rng.integers(1, 26, p)],
                 'p_type': rng.choice(['ECONOMY', 'STANDARD', 'LARGE', 'SMALL', 'MEDIUM', 'PROMO'], p),
                 'p_size': rng.integers(1, 51, p).astype(np.int32),
                 'p_retailprice': np.round(900 + (np.arange(p) % 1000) * 0.1, 2)}
    o = n['orders']
    t['orders'] = {'o_orderkey': np.arange(o, dtype=np.int64),
                   'o_custkey': rng.integers(0, c, o).astype(np.int64),
                   'o_orderstatus': rng.choice(['F', 'O', 'P'], o),
                   'o_totalprice': _money(rng, o, 1000, 500000),
                   'o_orderdate': _dates(rng, o, '1995-01-01', '2001-08-01'),
                   'o_orderpriority': rng.choice(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED',
                                                  '5-LOW'], o)}
    li = n['lineitem']
    t['lineitem'] = {'l_orderkey': rng.integers(0, o, li).astype(np.int64),
                     'l_partkey': rng.integers(0, p, li).astype(np.int64),
                     'l_suppkey': rng.integers(0, s, li).astype(np.int64),
                     'l_linenumber': rng.integers(1, 8, li).astype(np.int32),
                     'l_quantity': rng.integers(1, 51, li).astype(np.float64),
                     'l_extendedprice': _money(rng, li, 900, 105000),
                     'l_discount': rng.integers(0, 11, li) / 100.0,
                     'l_tax': rng.integers(0, 9, li) / 100.0,
                     'l_returnflag': rng.choice(['A', 'N', 'R'], li),
                     'l_linestatus': rng.choice(['F', 'O'], li),
                     'l_shipdate': _dates(rng, li, '1995-01-02', '2001-11-04')}
    e = n['events']
    start = np.datetime64('2024-01-01T00:00:00', 'us').astype(np.int64)
    ts = np.sort(rng.choice(30 * DAY_US, e, replace=False)) + start
    t['events'] = {'event_id': np.arange(e, dtype=np.int64),
                   'ts': ts.astype('datetime64[us]'),
                   'user_id': rng.integers(0, 150, e).astype(np.int64),
                   'event_type': rng.choice(['click', 'signup', 'error', 'view', 'purchase'], e),
                   'value': _money(rng, e, 0.01, 490.0),
                   'props': [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]}
    d = n['documents']
    texts = [' '.join(rng.choice(VOCAB, rng.integers(10, 101))) for _ in range(d)]
    for i in rng.choice(d, d // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, d))] + ' dup'
    t['documents'] = {'doc_id': np.arange(d, dtype=np.int64), 'text': texts,
                      'lang': rng.choice(['en', 'zh', 'es', 'fr', 'de'], d, p=[.41, .15, .15, .15, .14]),
                      'source': [f'src{k}' for k in rng.integers(0, 20, d)],
                      'n_chars': np.array([len(x) for x in texts], dtype=np.int64)}
    m = n['embeddings']
    labels = rng.integers(0, 10, m)
    centers = rng.normal(0, 1, (10, 64))
    vec = rng.normal(0, 1, (m, 64)) + 0.07 * centers[labels]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t['embeddings'] = {'vec_id': np.arange(m, dtype=np.int64),
                       'embedding': pa.array(list(vec), type=pa.list_(pa.float32())),
                       'label': labels.astype(np.int32)}
    for name, cols in t.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f'{name}.parquet'))
