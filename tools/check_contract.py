"""Correctness gate: run each queries() entry on Spark and its
oracle_sql() twin on DuckDB over the same parquet tables; compare row
count, column names, type families and an order-insensitive value hash.
A query without an oracle must return at least one row.

``check_query`` is the comparison; tests/test_oracles.py runs it over
the whole registry at sf0.001, and this CLI runs it on any scale factor.

Usage: python tools/check_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def type_family(t: str) -> str:
    """Canonical type family, strict enough to catch the driver's
    type-sensitive hash: DuckDB sum(INTEGER) -> HUGEINT must NOT pass
    against Spark's BIGINT, so int widths above 64 bits get their own
    family. All <=64-bit ints collapse to 'int64' (the driver accepts
    those); floats collapse; decimals collapse to one family; every
    container spelling (Spark 'array<...>', DuckDB 'float[]') collapses
    to 'nested'."""
    t = t.strip().lower()
    if t.endswith("[]"):  # DuckDB list spelling
        return "nested"
    if t in ("tinyint", "smallint", "integer", "int", "bigint", "int8",
             "int16", "int32", "int64", "utinyint", "usmallint", "uinteger"):
        return "int64"
    if t in ("hugeint", "int128", "ubigint", "uhugeint"):
        return "int128"
    if t in ("float", "real", "double", "float32", "float64"):
        return "float64"
    if t in ("varchar", "string", "text"):
        return "string"
    if t in ("blob", "binary", "bytea"):
        return "binary"
    if t in ("boolean", "bool"):
        return "bool"
    if t.startswith("timestamp"):
        return "timestamp"
    if t.startswith("decimal") or t.startswith("numeric"):
        return "decimal"
    if t.startswith(("array", "list", "struct", "map")):
        return "nested"
    return t


def norm_cell(v):
    import datetime as dt
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def _cell_lines(cols: list[str], rows: list[tuple]) -> list[str]:
    """Rows as sorted lines of normalized cells in column-name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("\x1f".join(norm_cell(row[i]) for i in order) for row in rows)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    h = hashlib.sha256()
    for line in _cell_lines(cols, rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def check_query(spark, con, fn, oracle_sql: str | None, sf_dir: str) -> list[str]:
    """Run one registry query ``fn`` on Spark and, if it has one, its
    oracle on DuckDB; return the problems found (empty: the query
    passed)."""
    try:
        sdf = fn(spark, sf_dir)
        s_cols = sdf.columns
        s_types = dict(sdf.dtypes)
        s_rows = [tuple(r) for r in sdf.collect()]
    except Exception as exc:
        return [f"spark error: {exc}"]
    if oracle_sql is None:
        return [] if s_rows else ["no rows (rows-only query)"]
    try:
        rel = con.sql(oracle_sql)
        d_cols = list(rel.columns)
        d_types = dict(zip(d_cols, (str(t) for t in rel.types)))
        d_rows = rel.fetchall()
    except Exception as exc:
        return [f"duckdb error: {exc}"]
    problems = []
    if len(s_rows) != len(d_rows):
        problems.append(f"rows {len(s_rows)} vs {len(d_rows)}")
    if sorted(s_cols) != sorted(d_cols):
        problems.append(f"cols {sorted(s_cols)} vs {sorted(d_cols)}")
    else:
        type_diffs = [
            f"{c}: spark {s_types[c]} vs duckdb {d_types[c]}"
            for c in s_cols
            if type_family(s_types[c]) != type_family(d_types[c])
        ]
        if type_diffs:
            problems.append("type families: " + "; ".join(type_diffs))
    if not problems:
        sh, dh = value_hash(s_cols, s_rows), value_hash(d_cols, d_rows)
        if sh != dh:
            # name the first differing row pair for debugging
            diff = next(
                ((a, b) for a, b in zip(_cell_lines(s_cols, s_rows),
                                        _cell_lines(d_cols, d_rows))
                 if a != b),
                ("", ""),
            )
            problems.append(f"value hash {sh} vs {dh}; first differing "
                            f"row spark {diff[0][:200]!r} duckdb "
                            f"{diff[1][:200]!r}")
    return problems


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from open_ocr_spark.pipeline.session import get_spark

    registry = entry_mod.queries()
    unknown = only - registry.keys()
    if unknown:
        sys.exit(f"unknown queries: {sorted(unknown)}")
    cores = os.cpu_count() or 1
    spark = get_spark(app_name="contract-check", master=f"local[{cores}]",
                      shuffle_partitions=2 * cores)
    con = oracle_connection(sf_dir)
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in registry.items():
        if only and name not in only:
            continue
        t0 = time.time()
        problems = check_query(spark, con, fn, oracles.get(name), sf_dir)
        if problems:
            failures.append(name)
        status = "FAIL" if problems else "ok" if name in oracles else "rows"
        print(f"{status:<5} {name}: {'; '.join(problems) or 'passed'} "
              f"[{time.time() - t0:.1f}s]")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
