"""Regenerate ``expected.json``: the result digest of every query of the
``queries`` workload on the sf0.1 fixtures in ``fixtures/sf0.1``.

    python3 perfbench/make_expected.py

Each query with a registered oracle is digested from DuckDB running its
``registry.ORACLES`` SQL, and the script refuses to write unless Spark's
result has the same digest. ``d03_minhash_lsh_neardup`` has no oracle;
its row count and digest are taken from the current Spark code. Run it
only when the fixtures or a query's defined result change.
"""

from __future__ import annotations

import json
import os
import sys

import run


def main() -> int:
    sys.path.insert(0, run.ROOT)
    import duckdb

    import data
    import workloads
    from parquet_pipeline_spark import registry
    from parquet_pipeline_spark.session import get_spark

    run.pin_environment()
    base = data.FIXTURES
    registry.load_all()
    con = duckdb.connect(config={"temp_directory": os.path.join(run.WORK, "duckdb-tmp")})
    for t in data.BASE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{base}/{t}.parquet')")
    spark = get_spark("perfbench-expected", extra_conf=run.spark_conf())
    out, bad = {}, []
    try:
        for name in workloads.QUERIES:
            got = workloads.digest(registry.QUERIES[name](spark, base).toPandas())
            sql = registry.ORACLES.get(name)
            if sql is None:
                out[name] = got
                print(f"{name}: {got['rows']} rows (current code, no oracle)")
                continue
            want = workloads.digest(con.execute(sql).fetchdf())
            print(f"{name}: {want['rows']} rows, spark {'==' if got == want else '!='} duckdb")
            if got != want:
                bad.append(name)
            out[name] = want
    finally:
        spark.stop()
    if bad:
        print(f"not written: Spark disagrees with DuckDB on {bad}", file=sys.stderr)
        return 1
    with open(workloads.EXPECTED_PATH, "w") as fh:
        json.dump({"duckdb": duckdb.__version__, **out}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {os.path.relpath(workloads.EXPECTED_PATH, run.ROOT)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
