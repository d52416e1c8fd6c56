"""Input generators for the benchmark.

Every table is a pure function of (seed, sf): the same arguments give
byte-identical parquet files. The tables follow the schema of graft's test
tables (FIXTURES.md section B): a TPC-H-like star schema plus `events`,
`documents` and `embeddings`, with the same column types, value grids and
near-duplicate structure, so that every query of the mix runs the same plan
shapes it runs on the project's own fixtures.
"""
import datetime as _dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark sort window line small big join order data column query "
         "customer stream filter group vector").split()
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
_EPOCH = _dt.datetime(1970, 1, 1)


def _us(d: _dt.datetime) -> int:
    return int((d - _EPOCH).total_seconds()) * 1_000_000


def _write(tbl: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(tbl, tmp)
    os.replace(tmp, path)


def _cents(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _days(rng, start: _dt.datetime, end: _dt.datetime, n):
    span = (end - start).days
    d = rng.integers(0, span + 1, n).astype(np.int64)
    return pa.array(_us(start) + d * 86_400_000_000, pa.timestamp("us"))


def events_table(seed: int, n: int, n_users: int) -> pa.Table:
    """`events`: ids in order, timestamps rising with the id over 30 days,
    users uniform, five event types, exponential values on a cent grid."""
    rng = np.random.default_rng([seed, 7])
    gaps = rng.exponential(30 * 86400e6 / max(n, 1), n).astype(np.int64) + 1
    ts = _us(_dt.datetime(2024, 1, 1)) + np.cumsum(gaps)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents_table(seed: int, n: int) -> pa.Table:
    """`documents`: 10-100 words from a 30-word vocabulary; one doc in 20 is
    another doc's text plus " dup" (the near-duplicates the dedup family
    finds)."""
    rng = np.random.default_rng([seed, 8])
    lens = rng.integers(10, 101, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
    for i in rng.choice(n, n // 20, replace=False):
        j = int(rng.integers(0, n))
        texts[i] = texts[j] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings_table(seed: int, n: int) -> pa.Table:
    """`embeddings`: unit-norm 64-dim float vectors, labels 0-9."""
    rng = np.random.default_rng([seed, 9])
    v = rng.normal(size=(n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), 64).cast(pa.list_(pa.float32()))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write all ten tables at scale factor `sf` into `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))

    _write(pa.table({
        "r_regionkey": i32(range(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32([i % 5 for i in range(25)]),
    }), f"{out_dir}/nation.parquet")
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
    _write(pa.table({
        "c_custkey": i64(np.arange(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    }), f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": i64(np.arange(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
    }), f"{out_dir}/supplier.parquet")
    colors = np.array(["large", "hot", "blue", "old", "small", "red", "cold", "green"])
    nouns = np.array(["ring", "bolt", "plate", "gizmo", "anvil", "widget", "gear", "spring"])
    types = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
    pk = np.arange(n_part)
    _write(pa.table({
        "p_partkey": i64(pk),
        "p_name": np.char.add(np.char.add(colors[rng.integers(0, 8, n_part)], " "),
                              nouns[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    }), f"{out_dir}/part.parquet")
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(pa.table({
        "o_orderkey": i64(np.arange(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, _dt.datetime(1995, 1, 1), _dt.datetime(2001, 8, 1), n_ord),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)],
    }), f"{out_dir}/orders.parquet")
    _write(pa.table({
        "l_orderkey": i64(rng.integers(0, n_ord, n_li)),
        "l_partkey": i64(rng.integers(0, n_part, n_li)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_li)),
        "l_linenumber": i32(rng.integers(1, 8, n_li)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105000.0, n_li),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, _dt.datetime(1995, 1, 2), _dt.datetime(2001, 11, 4), n_li),
    }), f"{out_dir}/lineitem.parquet")
    _write(events_table(seed, int(1_000_000 * sf), int(15_000 * sf)),
           f"{out_dir}/events.parquet")
    _write(documents_table(seed, max(500, int(50_000 * sf))), f"{out_dir}/documents.parquet")
    _write(embeddings_table(seed, max(500, int(20_000 * sf))), f"{out_dir}/embeddings.parquet")


def fsm_events(path: str, seed: int, n: int, n_keys: int, hot_share: float) -> None:
    """Keyed events for the DSL FSM path: key 0 holds `hot_share` of the rows,
    the rest spread uniformly over keys 1..n_keys-1; `seq` is the global
    arrival order."""
    rng = np.random.default_rng([seed, 11])
    hot = rng.random(n) < hot_share
    keys = np.where(hot, 0, rng.integers(1, n_keys, n)).astype(np.int64)
    _write(pa.table({
        "key": pa.array(keys),
        "seq": pa.array(np.arange(n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
    }), path)


def split_events(events_path: str, out_dir: str, n_files: int) -> int:
    """Split `events` by event_id range into `n_files` parquet files whose
    names sort in id order (the file source admits them in that order)."""
    os.makedirs(out_dir, exist_ok=True)
    tbl = pq.read_table(events_path).sort_by("event_id")
    per = -(-tbl.num_rows // n_files)
    for i in range(n_files):
        _write(tbl.slice(i * per, per), f"{out_dir}/part-{i:05d}.parquet")
    return tbl.num_rows
