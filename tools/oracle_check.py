"""Local replica of the driver's t2 correctness gate (FIXTURES.md §4).

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
over the same parquet tables, canonicalizes (sort columns by name, sort rows,
round doubles, uppercase column names), and hash-compares.

Usage: python tools/oracle_check.py [name ...] [--sf DIR]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Python UDF workers import the package too: hand them this tree first
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, (ROOT, os.environ.get("PYTHONPATH"))))

import __spark_entry__ as entry  # noqa: E402

SF = "/root/testdata/sf0.01"
ROUND = 9


def _canon_array(v) -> tuple:
    a = np.asarray(v)
    if np.issubdtype(a.dtype, np.number):
        return tuple(a.round(6))
    return tuple(a.tolist())  # string/mixed arrays: compare verbatim


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df.columns = [c.upper() for c in df.columns]
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype == object:
            # normalize bytes/lists for hashing
            df[c] = df[c].map(
                lambda v: v.hex() if isinstance(v, (bytes, bytearray)) else (
                    _canon_array(v) if isinstance(v, (list, np.ndarray)) else v
                )
            )
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(ROUND)
        elif str(df[c].dtype).startswith("datetime64"):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif np.issubdtype(df[c].dtype, np.integer):
            df[c] = df[c].astype("int64")
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def table_hash(df: pd.DataFrame) -> str:
    return hashlib.md5(
        pd.util.hash_pandas_object(df.astype(str), index=False).values.tobytes()
    ).hexdigest()


def main(argv):
    names = [a for a in argv if not a.startswith("--")]
    sf = SF
    for i, a in enumerate(argv):
        if a == "--sf":
            sf = argv[i + 1]
            names.remove(sf) if sf in names else None

    import rasgoql_spark as rql

    spark = rql.default_spark(shuffle_partitions=8)
    con = duckdb.connect()
    for t in entry.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    targets = names or list(qs)
    passed, failed, rows_only = [], [], []
    for name in targets:
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf).toPandas()
        except Exception as e:
            failed.append((name, f"SPARK ERROR: {type(e).__name__}: {e}"))
            print(f"FAIL  {name}: spark error {e}", flush=True)
            continue
        # Driver-faithfulness: the driver's canonicalizer crashes on
        # list-valued columns (pandas sort_values -> "unhashable type:
        # 'list'", see CORRECTNESS_r07 dedup_embedding_filter). Our
        # _canon_array tuple-izing used to hide that, so fail loudly here
        # instead of passing locally and going red on the driver.
        bad_cols = [
            c for c in sdf.columns
            if sdf[c].dtype == object and any(
                isinstance(v, (list, np.ndarray)) for v in sdf[c]
            )
        ]
        if bad_cols:
            failed.append((name, f"DRIVER-UNSORTABLE list columns: {bad_cols}"))
            print(
                f"FAIL  {name}: list-valued columns {bad_cols} would crash "
                "the driver canonicalizer — array_join or drop them",
                flush=True,
            )
            continue
        if name not in oracles:
            rows_only.append(name)
            print(f"rows  {name}: {len(sdf)} rows (no oracle)", flush=True)
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            failed.append((name, f"ORACLE ERROR: {type(e).__name__}: {e}"))
            print(f"FAIL  {name}: oracle error {e}", flush=True)
            continue
        cs, co = canonicalize(sdf), canonicalize(odf)
        status = []
        if len(cs) != len(co):
            status.append(f"rowcount {len(cs)} vs {len(co)}")
        if list(cs.columns) != list(co.columns):
            status.append(f"columns {list(cs.columns)} vs {list(co.columns)}")
        if not status and table_hash(cs) != table_hash(co):
            diff_cols = []
            for c in cs.columns:
                if not cs[c].astype(str).equals(co[c].astype(str)):
                    diff_cols.append(c)
            status.append(f"value mismatch in {diff_cols}")
            # show first differing rows
            for c in diff_cols[:2]:
                neq = cs[c].astype(str) != co[c].astype(str)
                idx = neq[neq].index[:3]
                for i in idx:
                    status.append(f"  {c}[{i}]: spark={cs[c][i]!r} oracle={co[c][i]!r}")
        if status:
            failed.append((name, "; ".join(status)))
            print(f"FAIL  {name}: {'; '.join(status)}", flush=True)
        else:
            passed.append(name)
            print(f"ok    {name}  ({len(cs)} rows, {time.time()-t0:.1f}s)", flush=True)

    print(f"\n{len(passed)} passed, {len(failed)} failed, {len(rows_only)} rows-only")
    if failed:
        print("failures:")
        for n, msg in failed:
            print(f"  {n}: {msg[:300]}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
