"""Mimic the grading driver: run each __spark_entry__ query against its
DuckDB oracle at a given SF and compare row count, schema width, and an
order-insensitive value hash (columns sorted by name, rows sorted).

Usage: python tools/check_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def value_hash(pdf: pd.DataFrame) -> str:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    pdf = pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)
    return hashlib.sha256(
        pd.util.hash_pandas_object(pdf, index=False).values.tobytes()
    ).hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from motive_spark.session import get_spark

    spark = get_spark("contract_check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(sdf)} rows, cols={list(sdf.columns)}")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error {e}")
            failures += 1
            continue
        ok_rows = len(sdf) == len(odf)
        ok_cols = sorted(sdf.columns) == sorted(odf.columns)
        # unify dtypes: ints → int64, floats → float64
        for df in (sdf, odf):
            for c in df.columns:
                if pd.api.types.is_integer_dtype(df[c]):
                    df[c] = df[c].astype("int64")
                elif pd.api.types.is_float_dtype(df[c]):
                    df[c] = df[c].astype("float64")
        ok_hash = ok_rows and ok_cols and value_hash(sdf) == value_hash(odf)
        status = "OK  " if (ok_rows and ok_cols and ok_hash) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(
            f"{status} {name}: rows {len(sdf)}/{len(odf)} cols_match={ok_cols} "
            f"hash_match={ok_hash}"
        )
        if not ok_hash and ok_rows and ok_cols and len(sdf) > 0:
            s = sdf[sorted(sdf.columns)].sort_values(by=sorted(sdf.columns)).reset_index(drop=True)
            o = odf[sorted(odf.columns)].sort_values(by=sorted(odf.columns)).reset_index(drop=True)
            diff = (s != o).any(axis=1)
            print("  first diffs:\n", s[diff].head(3), "\n  vs\n", o[diff].head(3))
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
