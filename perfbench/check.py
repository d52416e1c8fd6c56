"""Output checker: compares what graft produced in a benchmark run with
computations made outside the program (DuckDB SQL and closed forms).

`compare` is the core: two Arrow tables match when they have the same
column names, the same normalised type per column, and the same multiset
of rows, compared exactly (floats included, as graft's oracle convention
requires bit-identical results). Each workload has a `check_*` function
that returns a list of problems; an empty list means correct.
"""
import glob
import math
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import oracle


def norm_type(t: pa.DataType) -> str:
    """Arrow type with storage-only variants folded (string/large_string,
    timestamp units and Spark's int96 timestamps); widths, signedness and
    decimal precision are kept, so a widened type is a mismatch."""
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_timestamp(t) or pa.types.is_date(t):
        return "datetime"
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return f"list<{norm_type(t.value_type)}>"
    if pa.types.is_struct(t):
        return "struct<" + ",".join(f"{f.name}:{norm_type(f.type)}" for f in t) + ">"
    if pa.types.is_map(t):
        return f"map<{norm_type(t.key_type)},{norm_type(t.item_type)}>"
    return str(t)


def _cell(v):
    """A hashable, exactly comparable form of one cell (nested values
    included; NaN equals NaN)."""
    if isinstance(v, float):
        return ("nan",) if math.isnan(v) else ("f", v.hex())
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if hasattr(v, "isoformat"):
        return ("t", v.isoformat())
    return v


def _rows(tbl: pa.Table, cols):
    data = [tbl.column(c).to_pylist() for c in cols]
    return sorted((tuple(_cell(x) for x in r) for r in zip(*data)), key=repr)


def compare(got: pa.Table, want: pa.Table, label: str = "") -> list:
    """Problems found comparing `got` with `want` (empty when they match)."""
    p = []
    if sorted(got.column_names) != sorted(want.column_names):
        return [f"{label}: columns {sorted(got.column_names)} != {sorted(want.column_names)}"]
    cols = sorted(got.column_names)
    for c in cols:
        a, b = norm_type(got.schema.field(c).type), norm_type(want.schema.field(c).type)
        if a != b:
            p.append(f"{label}: column {c} has type {a}, oracle {b}")
    if got.num_rows != want.num_rows:
        p.append(f"{label}: {got.num_rows} rows, oracle {want.num_rows}")
        return p
    g, w = _rows(got, cols), _rows(want, cols)
    if g != w:
        bad = next(i for i, (x, y) in enumerate(zip(g, w)) if x != y)
        p.append(f"{label}: values differ, first at sorted row {bad}: {g[bad]} != {w[bad]}")
    return p


def read_dir(path: str) -> pa.Table:
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet output in {path}")
    return pa.concat_tables([pq.read_table(f) for f in files])


# ---- analytics_mix ---------------------------------------------------------

# Queries of the mix whose result is known to be wrong on the benchmark's
# tables. Their operations count as failed while the result stays wrong; any
# other mismatch makes the run incorrect.
KNOWN_FAULTS = {
    "d19_crosslingual_mirrors": "n_docs of ('de', 'en', 1) is 1115 where DuckDB gives 1119",
}


def check_mix(rec: dict, work: str, mix_dir: str, small_dir: str) -> dict:
    """Problems per query that ran: values and dtypes equal its DuckDB
    oracle, at sf0.1, or at sf0.01 for the queries whose oracle cannot
    finish at sf0.1 (their sf0.1 result must still be non-empty)."""
    chk = rec["check"]
    sql, small = chk["oracles"], set(chk["small_checked"])
    problems = {}
    for name, path in chk["outputs"].items():
        p = problems[name] = []
        if name not in sql:
            p.append(f"{name}: no oracle SQL")
            continue
        if name in small:
            if read_dir(path).num_rows == 0:
                p.append(f"{name}: empty result at sf0.1")
            if name not in chk["outputs_small"]:
                p.append(f"{name}: sf0.01 check did not run")
                continue
            got, want = read_dir(chk["outputs_small"][name]), oracle.result(sql[name], small_dir, work)
            p += compare(got, want, f"{name}@sf0.01")
        else:
            p += compare(read_dir(path), oracle.result(sql[name], mix_dir, work), name)
    return problems


# ---- dsl_paths ---------------------------------------------------------------

LOAD_OUT = {0: 2, 2: 3, 4: 25, 6: 721, 8: 40321}  # x! + 1 for the even x


def load_closed_form(n: int, off: int):
    """(count, sum) of filter(even), map(factorial), map(+1) over
    (i + off) % 10 for i in [0, n)."""
    cnt = tot = 0
    for r, v in LOAD_OUT.items():
        # i in [0, n) with (i + off) % 10 == r
        first = (r - off) % 10
        k = 0 if first >= n else (n - 1 - first) // 10 + 1
        cnt += k
        tot += k * v
    return cnt, tot


FSM_SQL = """
SELECT {key} AS key, {id} AS event_id, CAST(floor(value * 100) AS BIGINT) AS value_c
FROM (
  SELECT {key}, {id}, event_type, value,
         sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
           OVER (PARTITION BY {key} ORDER BY {id}
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_signups
  FROM read_parquet('{path}'))
WHERE event_type = 'purchase' AND n_signups % 2 = 1"""


def check_fsm_output(out: pa.Table, events_path: str, key: str, id_col: str, label: str) -> list:
    """The toggle machine's rows equal DuckDB's window SQL over the same
    input; no (key, event_id) pair repeats; each key's emission index runs
    0..n-1 in event order with no gap."""
    want = duckdb.sql(FSM_SQL.format(key=key, id=id_col, path=events_path)).arrow()
    p = compare(out.select(["key", "event_id", "value_c"]), want, label)
    k = np.asarray(out.column("key").to_numpy(), dtype=np.int64)
    e = np.asarray(out.column("event_id").to_numpy(), dtype=np.int64)
    s = np.asarray(out.column("seq").to_numpy(), dtype=np.int64)
    order = np.lexsort((e, k))
    k, e, s = k[order], e[order], s[order]
    if len(k) and np.any((k[1:] == k[:-1]) & (e[1:] == e[:-1])):
        p.append(f"{label}: duplicated (key, event_id)")
    if len(k):
        starts = np.r_[0, np.flatnonzero(k[1:] != k[:-1]) + 1]
        rank = np.arange(len(k)) - np.repeat(starts, np.diff(np.r_[starts, len(k)]))
        if not np.array_equal(s, rank):
            p.append(f"{label}: emission index is not 0..n-1 in event order")
    return p


def check_dsl(rec: dict, fsm_events: str) -> list:
    chk = rec["check"]
    off, keys, vol, res = chk["offset"], chk["keys"], chk["volumes"], chk["results"]
    p = []
    for path in ("expr", "typed"):
        want = list(load_closed_form(vol[path], off))
        for got in res.get(path, []):
            if list(got) != want:
                p.append(f"dsl.{path}: (count, sum) {got} != closed form {want}")
    if res.get("interp"):
        n = vol["interp"]
        i = np.arange(n, dtype=np.int64)
        x = (i + i // keys + off) % 10
        even = x % 2 == 0
        v = np.zeros(n, dtype=np.int64)
        for r, o in LOAD_OUT.items():
            v[x == r] = o
        want_n = np.bincount((i % keys)[even], minlength=keys)
        want_sum = np.bincount((i % keys)[even], weights=v[even], minlength=keys)
        for rows in res["interp"]:
            for key, cnt, tot, max_seq, sum_seq in rows:
                if cnt != want_n[key] or tot != int(want_sum[key]):
                    p.append(f"dsl.interp: key {key} gives ({cnt}, {tot}), closed form "
                             f"({want_n[key]}, {int(want_sum[key])})")
                    break
                if max_seq != cnt - 1 or sum_seq != cnt * (cnt - 1) // 2:
                    p.append(f"dsl.interp: key {key} emission index is not 0..n-1")
                    break
            if len(rows) != int(np.count_nonzero(want_n)):
                p.append(f"dsl.interp: {len(rows)} keys emitted, expected {np.count_nonzero(want_n)}")
    if "fsm_out" in chk:
        out = read_dir(chk["fsm_out"])
        p += check_fsm_output(out, fsm_events, "key", "seq", "dsl.fsm")
        if any(n != [out.num_rows] for n in res.get("fsm", [])):
            p.append(f"dsl.fsm: repetitions emitted {res['fsm']} rows, first {out.num_rows}")
    return p


# ---- the stream replay of dsl_paths ------------------------------------------

def check_stream(rec: dict, events_path: str) -> list:
    """The streamed rows equal DuckDB's r05 SQL over the whole `events`
    table, with no duplicate and gap-free per-key emission indices."""
    chk = rec["check"]
    if "stream_out" not in chk:
        return ["stream: no output"]
    return check_fsm_output(read_dir(chk["stream_out"]), events_path, "user_id", "event_id", "stream")
