"""Dev replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same sf dir, then compares row count, column names, and
order-insensitive values. Usage:

    python scripts/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from audio_feature_extraction_spark.core.session import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Driver-accurate canonicalization (VERDICT r01 'What's wrong' #1/#2).

    The driver sorts the raw pandas frame with a plain ``sort_values`` over
    all columns — any array/struct column raises ``TypeError: unhashable
    type`` there, which the driver records as ERR.  Round 1's replica
    silently rescued lists by converting them to tuples first, masking 17
    such ERRs; this version sorts FIRST, exactly like the driver, so a
    non-scalar column crashes here too.  Scalar dtype normalization (np
    ints/floats, NaN) happens only after the sort, for the comparison.
    """
    df = df[sorted(df.columns)].copy()
    df = df.sort_values(list(df.columns)).reset_index(drop=True)
    for c in df.columns:
        df[c] = df[c].map(_norm_val)
    return df


def _norm_val(v):
    import numpy as np

    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, np.floating):
        return float(v)
    return v


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("local[8]")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"[FAIL] {name}: spark error {type(e).__name__}: {e}")
            continue
        if name not in os_:
            print(f"[rows-only] {name}: {len(sdf)} rows")
            continue
        try:
            ddf = con.sql(os_[name]).df()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"[FAIL] {name}: duckdb error {type(e).__name__}: {e}")
            continue
        if sorted(sdf.columns) != sorted(ddf.columns):
            failures.append(name)
            print(f"[FAIL] {name}: columns {sorted(sdf.columns)} vs {sorted(ddf.columns)}")
            continue
        # dtype-kind parity (int vs float vs object/bool/datetime): the
        # driver's schema check would flag e.g. DuckDB DECIMAL sums that
        # pandas renders as float where Spark yields int
        kind_bad = [
            c
            for c in sdf.columns
            if sdf[c].dtype.kind != ddf[c].dtype.kind
            and {sdf[c].dtype.kind, ddf[c].dtype.kind} != {"O"}  # objects vary
            and "O" not in (sdf[c].dtype.kind, ddf[c].dtype.kind)
        ]
        if kind_bad:
            failures.append(name)
            print(
                f"[FAIL] {name}: dtype-kind mismatch "
                f"{[(c, sdf[c].dtype.kind, ddf[c].dtype.kind) for c in kind_bad]}"
            )
            continue
        if len(sdf) != len(ddf):
            failures.append(name)
            print(f"[FAIL] {name}: rows {len(sdf)} vs {len(ddf)}")
            continue
        try:
            a, b = normalize(sdf), normalize(ddf)
        except TypeError as e:  # driver records these as ERR (unhashable column)
            failures.append(name)
            print(f"[FAIL] {name}: canonicalizer {type(e).__name__}: {e}")
            continue
        if a.equals(b):
            print(f"[OK]   {name}: {len(sdf)} rows")
        else:
            neq = (a != b).any(axis=1)
            idx = neq[neq].index[:3].tolist()
            failures.append(name)
            print(f"[FAIL] {name}: value mismatch at sorted rows {idx}")
            for i in idx[:1]:
                for c in a.columns:
                    if a.at[i, c] != b.at[i, c]:
                        print(f"    col {c}: spark={a.at[i, c]!r} duck={b.at[i, c]!r}")
    spark.stop()
    print("FAILURES:", failures or "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
