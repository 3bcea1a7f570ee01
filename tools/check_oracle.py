"""Local replica of the driver's correctness gate.

Runs every registered query at sf0.01 on Spark AND its DuckDB
oracle, compares row count, column names, and order-insensitive
values (columns sorted by name, rows sorted by all columns,
stringified). Usage:

    python tools/check_oracle.py [query_name ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def normalize(pdf):
    import pandas as pd

    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        col = pdf[c]
        if col.dtype == object:
            pdf[c] = col.map(lambda v: "NULL" if v is None else str(v))
        elif str(col.dtype).startswith(("float", "Float")):
            # strict mode (default, matches the driver): fixed 6dp.
            # ORACLE_SIG_DIGITS=N relaxes to N significant digits for
            # cross-SCALE re-checks, where money sums >= 1e11 sit at
            # double's resolution and 2dp rounding legitimately flips
            # on accumulation order (measured: 5 cents on 3.2e11).
            sig = os.environ.get("ORACLE_SIG_DIGITS")
            fmt = (lambda v: f"{v:.{int(sig)}g}") if sig else (lambda v: f"{v:.6f}")

            # signed-zero normalization AFTER formatting: engines
            # disagree on the sign of a ±1e-20, and under fixed 6dp
            # BOTH ±1e-20 and -0.0 format to "-0.000000"/"0.000000".
            # Any string that parses back to zero drops its sign, so
            # every value that ROUNDS to zero hashes identically.
            def _fmtz(v, _fmt=fmt):
                s = _fmt(v)
                if s.startswith("-") and float(s) == 0.0:
                    s = s.lstrip("-")
                return s

            pdf[c] = col.map(lambda v: "NULL" if pd.isna(v) else _fmtz(v))
        elif str(col.dtype).startswith(("datetime", "date")):
            pdf[c] = col.map(lambda v: "NULL" if pd.isna(v) else str(v))
        else:
            pdf[c] = col.map(lambda v: "NULL" if pd.isna(v) else str(v))
    rows = sorted(map(tuple, pdf.values.tolist()))
    return rows


def main() -> int:
    import duckdb

    from parquet_pipeline_spark import registry
    from parquet_pipeline_spark.session import get_spark

    registry.load_all()

    names = sys.argv[1:] or sorted(registry.QUERIES)
    spark = get_spark("oracle-check")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            # fixture tables are single files; Spark-written scaled
            # tables are directories of part files — glob those
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet"
            + ("/*.parquet')" if os.path.isdir(f"{SF_DIR}/{t}.parquet") else "')")
        )

    n_pass = n_fail = n_rows_only = 0
    for name in names:
        fn = registry.QUERIES[name]
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            spdf = sdf.toPandas()
        except Exception:
            print(f"FAIL  {name}: spark error")
            traceback.print_exc()
            n_fail += 1
            continue
        dt = time.time() - t0
        sql = registry.ORACLES.get(name)
        if sql is None:
            print(f"rows  {name}: {len(spdf)} rows ({dt:.1f}s) [rows-only]")
            n_rows_only += 1
            continue
        try:
            opdf = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {e}")
            n_fail += 1
            continue
        ok_cols = sorted(spdf.columns) == sorted(opdf.columns)
        ok_count = len(spdf) == len(opdf)
        ok_vals = False
        if ok_cols and ok_count:
            ok_vals = normalize(spdf) == normalize(opdf)
        if ok_cols and ok_count and ok_vals:
            print(f"PASS  {name}: {len(spdf)} rows ({dt:.1f}s)")
            n_pass += 1
        else:
            print(
                f"FAIL  {name}: cols={ok_cols} count={ok_count} "
                f"({len(spdf)} vs {len(opdf)}) vals={ok_vals}"
            )
            if not ok_cols:
                print(f"      spark cols: {sorted(spdf.columns)}")
                print(f"      duck  cols: {sorted(opdf.columns)}")
            elif not ok_vals:
                s, o = normalize(spdf), normalize(opdf)
                diffs = [(a, b) for a, b in zip(s, o) if a != b][:3]
                for a, b in diffs:
                    print(f"      spark: {a}\n      duck : {b}")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
