"""Local differential checker — mimics the driver's DuckDB oracle gate.

Runs every ``queries()`` entry at the given sf_dir, runs the paired
``oracle_sql()`` in DuckDB over the same parquet files, and compares:
row count, sorted column names, and order-insensitive values (exact for
ints/strings, 1e-6-tolerant for floats — both sides already round to 6).

Usage:  python tools/diffcheck.py [--strict] [sf_dir] [query ...]

The last line reads ``passed/checked checked, N skipped``: ``checked``
counts the queries compared against their oracle, ``N`` the registered
queries left out (not named on the command line, or without an oracle),
listed by name when there are at most 10. An unknown query name is an
error.

Each status line ends with two peak-RSS high-water marks, in MB, taken
after the query ran: ``py`` is this process (``ru_maxrss``; DuckDB and
the pandas frames live here) and ``jvm`` is the Spark driver JVM
(``VmHWM`` in ``/proc/<pid>/status``). Both only grow, so the query whose
line shows the jump is the one that set the mark.

``--strict`` mirrors the driver's dtype-sensitive exact value hash: a
DuckDB HUGEINT (materialized float64, ``216.0``) vs a Spark BIGINT
(``216``) is a FAIL even when numerically equal, and float columns must
match bit-exactly (no 1e-6 tolerance).
"""

from __future__ import annotations

import os
import resource
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _kind(s: pd.Series) -> str:
    """Dtype class as the driver's hash sees it: int / float / bool / other."""
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    return "other"


def compare(spark_df: pd.DataFrame, duck_df: pd.DataFrame, strict: bool = False) -> list[str]:
    issues = []
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        issues.append(
            f"schema mismatch: spark={sorted(spark_df.columns)} duck={sorted(duck_df.columns)}"
        )
        return issues
    if len(spark_df) != len(duck_df):
        issues.append(f"rowcount mismatch: spark={len(spark_df)} duck={len(duck_df)}")
        return issues
    s, d = normalize(spark_df), normalize(duck_df)
    for c in s.columns:
        sv, dv = s[c], d[c]
        if strict and _kind(sv) != _kind(dv):
            issues.append(f"col {c}: dtype-class mismatch spark={sv.dtype} duck={dv.dtype}")
            continue
        if pd.api.types.is_float_dtype(sv) or pd.api.types.is_float_dtype(dv):
            a = pd.to_numeric(sv, errors="coerce").to_numpy(dtype=float)
            b = pd.to_numeric(dv, errors="coerce").to_numpy(dtype=float)
            tol = 0.0 if strict else 1e-6
            ok = (np.isnan(a) & np.isnan(b)) | (np.abs(a - b) <= tol)
            if not ok.all():
                i = int(np.argmin(ok))
                issues.append(f"col {c}: {int((~ok).sum())} diffs, e.g. row {i}: {a[i]} vs {b[i]}")
        else:
            ok = (sv.astype(str) == dv.astype(str)) | (sv.isna() & dv.isna())
            if not ok.all():
                i = int(np.argmin(ok.to_numpy()))
                issues.append(
                    f"col {c}: {int((~ok).sum())} diffs, e.g. row {i}: {sv.iloc[i]!r} vs {dv.iloc[i]!r}"
                )
    return issues


def peak_rss(jvm_pid: int) -> str:
    """Peak RSS so far of this process and of the driver JVM, in MB."""
    py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss // 1024  # KB on Linux
    with open(f"/proc/{jvm_pid}/status") as f:
        hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return f"rss py {py_mb} MB, jvm {hwm_kb // 1024} MB"


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--strict"]
    strict = "--strict" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as entrymod
    from portofolio_maximizer_spark.plans.queries import ORACLE, render_oracle
    from portofolio_maximizer_spark.session import get_spark

    qs = entrymod.queries()
    unknown = sorted(only - set(qs))
    if unknown:
        print(f"unknown queries: {', '.join(unknown)}")
        return 1
    spark = get_spark("diffcheck")
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    # render the staged-oracle path templates for THIS sf_dir (the driver
    # contract's oracle_sql() renders for its fixed sf0.01 run)
    oracles = {k: render_oracle(v, sf_dir) for k, v in ORACLE.items()}
    con = duck_connection(sf_dir)
    failed, skipped = [], []
    for name, fn in qs.items():
        if only and name not in only:
            skipped.append(name)
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e} [{peak_rss(jvm_pid)}]")
            failed.append(name)
            continue
        if name not in oracles:
            print(
                f"ROWS  {name}: {len(sdf)} rows (no oracle)"
                f" [{time.time()-t0:.1f}s, {peak_rss(jvm_pid)}]"
            )
            skipped.append(name)
            continue
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e} [{peak_rss(jvm_pid)}]")
            failed.append(name)
            continue
        issues = compare(sdf, ddf, strict=strict)
        status = "OK" if not issues else "FAIL"
        print(f"{status:5} {name}: {len(sdf)} rows [{time.time()-t0:.1f}s, {peak_rss(jvm_pid)}]")
        for msg in issues:
            print(f"      - {msg}")
        if issues:
            failed.append(name)
    checked = len(qs) - len(skipped)
    names = f": {', '.join(skipped)}" if 0 < len(skipped) <= 10 else ""
    print(f"\n{checked - len(failed)}/{checked} checked, {len(skipped)} skipped{names}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
