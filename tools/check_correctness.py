"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry at sf0.01 and compares against
``oracle_sql()`` via DuckDB: row count + sorted-column value comparison
(order-insensitive).  Usage::

    python tools/check_correctness.py [--permute SEED] [name_substring ...]

``--permute SEED`` runs the same check on a row-permuted copy of the
input: every table is rewritten, rows in a seeded random order, to a
temporary directory that both engines then read.  A query whose result
depends on its input's row order (a LIMIT or window over ties) fails
there while it may pass on the original files.

Env: ``SPARK_GRAFT_CHECK_SF_DIR`` overrides the scale factor (e.g.
``/root/testdata/sf0.1`` for a 10x replay of the gate).
"""

from __future__ import annotations

import argparse
import math
import shutil
import sys
import tempfile
import time
import traceback

import duckdb
import pandas as pd

import os

SF_DIR = os.environ.get("SPARK_GRAFT_CHECK_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def permuted_copy(src: str, dst: str, seed: int) -> None:
    """Write each of ``TABLES`` from ``src`` to ``dst`` with its rows in
    a random order drawn from ``seed``.  ``Table.take`` keeps every
    column's Arrow type, and the copy is written at the source file's
    Parquet format version with its Arrow schema, so every column reads
    back with the type it had."""
    import numpy as np
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    for t in TABLES:
        f = pq.ParquetFile(f"{src}/{t}.parquet")
        table = f.read()
        pq.write_table(
            table.take(rng.permutation(table.num_rows)),
            f"{dst}/{t}.parquet",
            version=f.metadata.format_version,
        )


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    import datetime as _dt

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            sample = df[c].dropna()
            first = sample.iloc[0] if len(sample) else None
            if isinstance(first, (_dt.date, _dt.datetime)):
                df[c] = pd.to_datetime(df[c])
            else:
                try:
                    df[c] = pd.to_numeric(df[c])
                except (ValueError, TypeError):
                    pass
        if str(df[c].dtype).startswith("float"):
            df[c] = df[c].map(
                lambda v: None
                if v is None or (isinstance(v, float) and math.isnan(v))
                else float(f"{v:.9g}")
            )
        if "datetime" in str(df[c].dtype):
            df[c] = df[c].astype("datetime64[us]").astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("patterns", nargs="*", help="query name substrings")
    ap.add_argument("--permute", type=int, metavar="SEED",
                    help="check over a row-permuted copy of the input")
    args = ap.parse_args()
    if args.permute is None:
        return check(SF_DIR, args.patterns)
    tmp = tempfile.mkdtemp(prefix="check_permuted_")
    try:
        permuted_copy(SF_DIR, tmp, args.permute)
        print(f"input: {SF_DIR} rows permuted with seed {args.permute}")
        return check(tmp, args.patterns)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def check(sf_dir: str, patterns: list[str]) -> int:
    """Run every query matching ``patterns`` (all if empty) over the
    tables in ``sf_dir`` and compare each with its oracle."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    import __spark_entry__ as entrymod
    from bertrand_spark.session import build_session

    spark = build_session(8, "check_correctness")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if patterns and not any(p in name for p in patterns):
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            actual = sdf.toPandas()
        except Exception:
            print(f"FAIL {name}: spark error\n{traceback.format_exc()}")
            n_fail += 1
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"rows {name}: {len(actual)} rows in {dt:.1f}s (rows-only)")
            n_rows_only += 1
            continue
        try:
            expected = con.execute(oracles[name]).fetchdf()
        except Exception:
            print(f"FAIL {name}: oracle error\n{traceback.format_exc()}")
            n_fail += 1
            continue
        if len(actual) != len(expected):
            print(f"FAIL {name}: rows {len(actual)} vs oracle {len(expected)} ({dt:.1f}s)")
            n_fail += 1
            continue
        a, e = _norm(actual), _norm(expected)
        if list(a.columns) != list(e.columns):
            print(f"FAIL {name}: columns {list(a.columns)} vs {list(e.columns)}")
            n_fail += 1
            continue
        try:
            pd.testing.assert_frame_equal(a, e, check_dtype=False, check_exact=False, rtol=1e-6)
            print(f"PASS {name} ({len(a)} rows, {dt:.1f}s)")
            n_pass += 1
        except AssertionError as ex:
            print(f"FAIL {name}: value mismatch ({dt:.1f}s)\n  {str(ex)[:500]}")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
