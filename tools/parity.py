"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` counterpart on DuckDB over the same parquet tables,
then compares row count, column set, and values (sorted by all columns).
Stricter than the driver: flags float columns that are not bit-identical
even when they compare equal under tolerance, because the driver hashes
values.

Usage:  python tools/parity.py [--sf /root/testdata/sf0.01] [name ...]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # Array/struct-typed result columns arrive as numpy arrays / lists /
    # dicts, which the DRIVER's canonicalizer cannot sort or factorize
    # ("unhashable type: numpy.ndarray" — pipe_embed_text's r07 ERR row).
    # The gate replica must fail the same way the gate does, not paper over
    # it: query faces owe SCALAR columns (posexplode / to_json the nested
    # value).  Library operators may of course return arrays — only the
    # registered driver faces are constrained.
    for col in df.columns:
        if df[col].dtype == object and df[col].map(
            lambda v: isinstance(v, (list, dict, np.ndarray))
        ).any():
            raise TypeError(
                f"column {col!r} holds array/struct cells — the driver "
                "canonicalizer cannot hash these; emit scalar columns "
                "(posexplode / to_json) from the query face"
            )
    if len(df):
        df = df.sort_values(by=list(df.columns), na_position="first", kind="mergesort")
    return df.reset_index(drop=True)


def compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        return [f"columns differ: spark={sorted(spark_df.columns)} duck={sorted(duck_df.columns)}"]
    if len(spark_df) != len(duck_df):
        problems.append(f"row count: spark={len(spark_df)} duck={len(duck_df)}")
        return problems
    try:
        s, d = normalize(spark_df), normalize(duck_df)
    except TypeError as exc:  # array/struct cells — the driver gate errors too
        return [str(exc)]
    for col in s.columns:
        sv, dv = s[col].to_numpy(), d[col].to_numpy()
        sk, dk = np.asarray(sv).dtype.kind, np.asarray(dv).dtype.kind
        # The driver hashes values type-sensitively: an int64 8 and a float64
        # 8.0 hash differently.  Coercing both sides to float (below) would
        # mask that skew — exactly how rel_scalar_math's BIGINT-vs-DOUBLE
        # ceil/floor passed here while failing the driver.  Fail fast when one
        # side is a float kind and the other a bool/int/uint kind.
        if sk != dk and "f" in (sk, dk) and {sk, dk} <= set("biuf"):
            problems.append(
                f"col {col}: dtype kind mismatch spark={np.asarray(sv).dtype} "
                f"duck={np.asarray(dv).dtype} — driver hashes these differently"
            )
            continue
        if np.issubdtype(np.asarray(sv).dtype, np.floating) or np.issubdtype(
            np.asarray(dv).dtype, np.floating
        ):
            sv = np.asarray(sv, dtype=np.float64)
            dv = np.asarray(dv, dtype=np.float64)
            both_nan = np.isnan(sv) & np.isnan(dv)
            exact = (sv == dv) | both_nan
            if not exact.all():
                bad = ~exact
                diff = np.nanmax(np.abs(sv[bad] - dv[bad])) if bad.any() else 0.0
                problems.append(
                    f"col {col}: {int(bad.sum())}/{len(sv)} values differ "
                    f"(max abs diff {diff:.3e}) — NOT hash-safe"
                )
        else:
            sv_obj = pd.Series(sv).astype(object).where(pd.Series(sv).notna(), None)
            dv_obj = pd.Series(dv).astype(object).where(pd.Series(dv).notna(), None)
            neq = [
                i
                for i, (a, b) in enumerate(zip(sv_obj, dv_obj))
                if a != b and not (a is None and b is None)
            ]
            if neq:
                i = neq[0]
                problems.append(
                    f"col {col}: {len(neq)}/{len(sv)} values differ "
                    f"(first at row {i}: spark={sv_obj[i]!r} duck={dv_obj[i]!r})"
                )
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--cpus", default="8", help="parallelism + shuffle partitions")
    ap.add_argument(
        "--tz",
        default="UTC",
        help="session timezone to START the session with — queries must force "
        "UTC themselves (util.table/use_utc), so a hostile non-UTC value "
        "here proves invariance to the driver's session config",
    )
    ap.add_argument(
        "--window",
        action="store_true",
        help="sweep only the FIRST 50 queries() entries — exactly the set "
        "the driver's correctness gate grades",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as e
    from lightfusion_spark.session import start_spark

    spark = start_spark(
        args.cpus,
        **{
            "spark.sql.session.timeZone": args.tz,
            # the compare collects full result sets; pair-emitting queries
            # at sf0.1 return millions of rows (pipe_simhash_pairs: ~6M),
            # which default driver sizing drops with TaskResultLost
            "spark.driver.memory": "16g",
            "spark.driver.maxResultSize": "8g",
        },
    )
    con = duck_connection(args.sf)

    qs = e.queries()
    oracles = e.oracle_sql()
    names = args.names or (list(qs)[:50] if args.window else list(qs))
    failed, rows_only = [], []
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, args.sf).toPandas()
        except Exception as exc:  # noqa: BLE001
            failed.append(name)
            print(f"FAIL  {name}: spark error: {type(exc).__name__}: {str(exc)[:300]}")
            continue
        if name not in oracles:
            rows_only.append(name)
            print(f"rows  {name}: {len(sdf)} rows (no oracle)")
            continue
        try:
            ddf = con.execute(oracles[name]).fetchdf()
        except Exception as exc:  # noqa: BLE001
            failed.append(name)
            print(f"FAIL  {name}: duckdb error: {type(exc).__name__}: {str(exc)[:300]}")
            continue
        problems = compare(name, sdf, ddf)
        if problems:
            failed.append(name)
            print(f"FAIL  {name} ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            for p in problems:
                print(f"      {p}")
        else:
            print(f"ok    {name} ({len(sdf)} rows, {time.time()-t0:.1f}s)")
    print(
        f"\n{len(names) - len(failed) - len(rows_only)} ok, "
        f"{len(rows_only)} rows-only, {len(failed)} failed of {len(names)}"
    )
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
