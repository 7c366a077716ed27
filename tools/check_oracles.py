"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB at sf0.01; compare row count, schema
arity, and order-insensitive values (columns sorted by name, rows sorted).

Usage: python tools/check_oracles.py [sf_dir] [query ...]

A query without an oracle prints its row count and the sha256 of its sorted
rows (rows_sha256), so two trees can be compared on it.
"""

from __future__ import annotations

import hashlib
import sys
import time

sys.path.insert(0, ".")

import duckdb
import numpy as np
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def dtype_kinds(df: pd.DataFrame) -> dict[str, str]:
    """Column -> canonical dtype kind ('int' / 'float' / 'bool' / 'obj').

    The driver's hasher is dtype-sensitive: a DuckDB HUGEINT (from an uncast
    window/plain sum) or DECIMAL comes back as float64/object and hash-fails
    against Spark's int64 even when every value prints identically.  The
    str() canonicalization in normalize() used to mask exactly that class of
    drift (round-4 verdict wrong #1), so kinds are compared first.
    """
    kinds = {}
    for c in df.columns:
        k = df[c].dtype.kind
        kinds[c] = {"i": "int", "u": "int", "f": "float", "b": "bool"}.get(
            k, "obj"
        )
    return kinds


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.astype(object).where(pd.notnull(df), None)

    def canon(v):
        if isinstance(v, float):
            return f"{v:.6g}"
        return str(v)

    out = df.map(canon)
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def rows_sha256(df: pd.DataFrame) -> str:
    """sha256 of the rows as sorted full-precision reprs, columns sorted by
    name and array cells as lists (numpy's repr rounds and elides): two
    trees agree on it only when every value is bit-equal."""
    df = df.reindex(sorted(df.columns), axis=1)
    rows = sorted(
        repr([v.tolist() if isinstance(v, np.ndarray) else v for v in r])
        for r in df.itertuples(index=False, name=None)
    )
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    import __spark_entry__ as entrymod
    from mindocr_spark.session import get_spark

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    spark = get_spark(cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_fail = n_pass = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error {type(e).__name__}: {str(e)[:200]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(
                f"ok?  {name}: rows-only, {len(sdf)} rows "
                f"sha256={rows_sha256(sdf)} ({time.time()-t0:.1f}s)"
            )
            n_rows_only += 1
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error {type(e).__name__}: {str(e)[:200]}")
            n_fail += 1
            continue
        ka, kb = dtype_kinds(sdf), dtype_kinds(odf)
        a, b = normalize(sdf), normalize(odf)
        status = "PASS"
        detail = ""
        if len(a) != len(b):
            status, detail = "FAIL", f"rowcount {len(a)} vs {len(b)}"
        elif sorted(ka) == sorted(kb) and any(
            ka[c] != kb[c] for c in ka
        ):
            status = "FAIL"
            detail = "dtype drift " + ", ".join(
                f"{c}: spark={ka[c]} duck={kb[c]}"
                for c in sorted(ka)
                if ka[c] != kb[c]
            )
        elif list(a.columns) != list(b.columns):
            status, detail = "FAIL", f"cols {list(a.columns)} vs {list(b.columns)}"
        elif not a.equals(b):
            status = "FAIL"
            diff = (a != b).any(axis=1)
            idx = diff[diff].index[:3]
            detail = "; ".join(
                f"row{i}: spark={a.loc[i].tolist()} duck={b.loc[i].tolist()}"
                for i in idx
            )
        if status == "FAIL":
            n_fail += 1
        else:
            n_pass += 1
        print(f"{status} {name}: {len(a)} rows ({time.time()-t0:.1f}s) {detail[:400]}")
    spark.stop()
    # on its own line: Spark's console progress bar (stderr, carriage-return
    # updates) can share a line with any earlier print in a merged log
    print(f"\nTOTAL {n_pass} PASS, {n_rows_only} rows-only, {n_fail} FAIL", flush=True)
    return n_fail


if __name__ == "__main__":
    raise SystemExit(main())
