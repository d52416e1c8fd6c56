"""DuckDB oracle results, cached on disk.

A cached result is keyed by the SQL text and a digest of the input files,
so a changed query, oracle or table never reuses a stale answer. Rebuild
the whole cache for the analytics mix with

    python3 perfbench/oracle.py --rebuild
"""
import hashlib
import os
import shutil
import sys

import duckdb
import pyarrow.parquet as pq

import gen


def data_digest(data_dir: str) -> str:
    """Digest of every input table of `data_dir` (cached beside them)."""
    stamp = os.path.join(data_dir, "DIGEST")
    if os.path.exists(stamp):
        return open(stamp).read().strip()
    h = hashlib.sha256()
    for t in gen.TABLES:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
            h.update(t.encode())
            h.update(hashlib.sha256(f.read()).digest())
    d = h.hexdigest()
    with open(stamp, "w") as f:
        f.write(d)
    return d


def connect(data_dir: str, work: str):
    con = duckdb.connect(config={"threads": os.cpu_count() or 4, "memory_limit": "4GB",
                                 "temp_directory": os.path.join(work, "duckdb-tmp")})
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def result(sql: str, data_dir: str, work: str):
    """The oracle's result table, computed once per (SQL, inputs)."""
    key = hashlib.sha256((sql + "\0" + data_digest(data_dir)).encode()).hexdigest()[:32]
    path = os.path.join(work, "oracle", f"{key}.parquet")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        con = connect(data_dir, work)
        try:
            tbl = con.execute(sql).arrow()
        finally:
            con.close()
        pq.write_table(tbl, path + ".tmp")
        os.replace(path + ".tmp", path)
    return pq.read_table(path)


def main() -> int:
    if sys.argv[1:] != ["--rebuild"]:
        print(__doc__, file=sys.stderr)
        return 2
    import run
    shutil.rmtree(os.path.join(run.WORK, "oracle"), ignore_errors=True)
    run.require_repo()
    run.build()
    run.prepare_mix()
    return 0


if __name__ == "__main__":
    sys.exit(main())
