"""Run every declared query on Spark and its oracle on DuckDB, and
compare schema (column names), row count and an order-insensitive
value hash. tests/test_oracles.py runs the same comparison at sf0.001.

Usage: python scripts/check_correctness.py [sf_dir] [query ...]
(sf_dir defaults to the sf0.01 tables in ../testdata beside the repo)
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    return str(v)


def value_hash(rows, colnames) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def connect(sf_dir: str):
    """A DuckDB connection with one view per testdata table."""
    con = duckdb.connect()
    # DuckDB shares the process (and the host) with the Spark JVM and
    # its Arrow python workers. Its default memory limit is 80% of RAM,
    # so under host pressure its allocator failed on oracles that pass
    # in isolation ("Failed to allocate block of 4096 bytes"). Bound
    # the limit below the contended zone and give it a spill directory
    # so heavy oracles degrade to disk instead of failing.
    con.execute("SET memory_limit='12GB'")
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def run_oracle(con, sql: str):
    """(column names, rows) of an oracle query. Retries once: the only
    DuckDB failures seen here are transient allocator OOMs."""
    try:
        cur = con.execute(sql)
    except Exception as e:
        time.sleep(2)
        try:
            cur = con.execute(sql)
        except Exception as e2:
            # report both attempts: a retry that dies differently (a
            # binder error after an OOM) must not hide the first error
            first, second = f"{type(e).__name__}: {e}", f"{type(e2).__name__}: {e2}"
            raise RuntimeError(
                first + (f" | retry: {second}" if second != first else " (retry: same)")
            ) from e2
    return [d[0] for d in cur.description], cur.fetchall()


def compare(scols, srows, ocols, orows) -> "list[str]":
    """Problems of a Spark result against its oracle; empty when they
    match. A hash mismatch lists up to three rows found on one side
    only."""
    problems = []
    if sorted(scols) != sorted(ocols):
        problems.append(f"schema {sorted(scols)} != {sorted(ocols)}")
    if len(srows) != len(orows):
        problems.append(f"rowcount {len(srows)} != {len(orows)}")
    if not problems and value_hash(srows, scols) != value_hash(orows, ocols):
        sset = {tuple(canon(v) for v in r) for r in srows}
        oset = {tuple(canon(v) for v in r) for r in orows}
        problems.append(
            "value-hash mismatch"
            + "".join(f"\n        spark-only: {x}" for x in list(sset - oset)[:3])
            + "".join(f"\n        duck-only:  {x}" for x in list(oset - sset)[:3])
        )
    return problems


def main():
    sf_dir = (
        sys.argv[1] if len(sys.argv) > 1
        else os.path.join(os.path.dirname(REPO), "testdata", "sf0.01")
    )
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from vicinity_spark.session import get_spark

    spark = get_spark("correctness-check")
    con = connect(sf_dir)
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (no oracle — rows-only)")
            continue
        try:
            ocols, orows = run_oracle(con, oracles[name])
        except RuntimeError as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        problems = compare(scols, srows, ocols, orows)
        dt = time.time() - t0
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}  [{dt:.1f}s]")
        else:
            print(f"OK    {name}: {len(srows)} rows  [{dt:.1f}s]")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
