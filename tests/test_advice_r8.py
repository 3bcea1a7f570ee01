"""Regression tests for the round-7 ADVICE findings (round 8).

Pins: (1) q93's month spine includes months whose only orders carry
a NULL o_custkey (spine derives from the date filter alone, matching
the oracle's months CTE), (2) table_diff fingerprints survive ANSI
mode on doubles a DECIMAL(38,6) can't hold (>=1e32, NaN, ±Inf) —
degrading to distinct engine-native strings instead of aborting or
colliding with the NULL sentinel, (3) the oracle comparator drops
the sign of ANY float that formats to zero (±1e-20, not just exact
-0.0), (4) persisted-index operators allocate scratch dirs under one
atexit-cleaned process root instead of leaking /tmp trees per call.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# (1) q93 spine vs NULL-custkey months
# ---------------------------------------------------------------------------
def test_q93_spine_keeps_null_custkey_months(spark, tmp_path):
    """A month whose only orders have NULL o_custkey must appear in
    the output with the running cum_users — the oracle's months CTE
    filters on the date alone."""
    import duckdb

    from parquet_pipeline_spark import registry

    registry.load_all()

    rows = [
        (1, 101, "1995-01-05", 10.0),
        (2, 102, "1995-01-20", 10.0),
        (3, None, "1995-02-10", 10.0),  # the NULL-custkey-only month
        (4, 101, "1995-03-01", 10.0),   # repeat user: no new_users
        (5, None, None, 10.0),          # dateless: excluded entirely
    ]
    df = spark.createDataFrame(
        rows, "o_orderkey INT, o_custkey INT, o_orderdate STRING, o_totalprice DOUBLE"
    ).withColumn("o_orderdate", F.to_date("o_orderdate"))
    sf = str(tmp_path / "sf")
    df.write.parquet(os.path.join(sf, "orders.parquet"))

    out = {
        r["month"]: r["cum_users"]
        for r in registry.QUERIES["q93_cumulative_distinct_users"](
            spark, sf
        ).collect()
    }
    assert out == {"1995-01": 2, "1995-02": 2, "1995-03": 2}

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM read_parquet("
        f"'{os.path.join(sf, 'orders.parquet')}/*.parquet')"
    )
    oracle = dict(
        con.execute(registry.ORACLES["q93_cumulative_distinct_users"]).fetchall()
    )
    assert out == {k: int(v) for k, v in oracle.items()}


# ---------------------------------------------------------------------------
# (2) table_diff fingerprint vs decimal-overflow doubles under ANSI
# ---------------------------------------------------------------------------
def test_table_diff_survives_decimal_overflow_and_nan(spark):
    """Values DECIMAL(38,6) can't hold must neither abort the job
    (ANSI cast) nor collide with each other or the NULL sentinel."""
    from parquet_pipeline_spark.operators.advanced import table_diff

    schema = "k INT, v DOUBLE"
    old = spark.createDataFrame(
        [
            (1, 1e35),          # decimal overflow
            (2, float("nan")),  # not representable
            (3, float("inf")),
            (4, 2.5),           # in-range: decimal path
            (5, None),          # NULL sentinel
            (6, 1e35),
        ],
        schema,
    )
    new = spark.createDataFrame(
        [
            (1, -1e35),          # changed (sign)
            (2, float("nan")),   # unchanged (NaN == NaN per fingerprint)
            (3, float("-inf")),  # changed
            (4, 2.5),            # unchanged
            (5, 0.0),            # NULL -> value must read as changed
            (6, 1e35),           # unchanged at overflow magnitude
        ],
        schema,
    )
    status = {
        r["k"]: r["status"]
        for r in table_diff(old, new, "k", ["v"]).collect()
    }
    assert status == {
        1: "changed",
        2: "unchanged",
        3: "changed",
        4: "unchanged",
        5: "changed",
        6: "unchanged",
    }


def test_table_diff_quantization_documented_and_tunable(spark):
    """Two doubles differing beyond float_scale decimals fingerprint
    as unchanged at the default, and as changed when the caller
    raises the scale — the documented trade-off is a real knob."""
    from parquet_pipeline_spark.operators.advanced import table_diff

    schema = "k INT, v DOUBLE"
    old = spark.createDataFrame([(1, 1.00000004)], schema)
    new = spark.createDataFrame([(1, 1.00000005)], schema)
    assert table_diff(old, new, "k", ["v"]).collect()[0]["status"] == "unchanged"
    assert (
        table_diff(old, new, "k", ["v"], float_scale=9).collect()[0]["status"]
        == "changed"
    )


# ---------------------------------------------------------------------------
# (3) comparator signed-zero normalization after formatting
# ---------------------------------------------------------------------------
def test_comparator_normalizes_tiny_negative_to_zero():
    import importlib

    from tools import check_oracle

    importlib.reload(check_oracle)
    import pandas as pd

    a = check_oracle.normalize(pd.DataFrame({"x": [-1e-20, -0.0, 0.42]}))
    b = check_oracle.normalize(pd.DataFrame({"x": [1e-20, 0.0, 0.42]}))
    assert a == b
    # sanity: a genuinely negative value keeps its sign
    c = check_oracle.normalize(pd.DataFrame({"x": [-0.5]}))
    assert c[0][0].startswith("-")


def test_comparator_sig_digits_mode_keeps_tiny_magnitudes():
    """Under ORACLE_SIG_DIGITS, ±1e-20 formats as a nonzero string
    ('±1e-20') — the normalization must NOT erase a real magnitude,
    only signs of strings that parse back to zero."""
    import importlib

    from tools import check_oracle

    os.environ["ORACLE_SIG_DIGITS"] = "9"
    try:
        importlib.reload(check_oracle)
        import pandas as pd

        a = check_oracle.normalize(pd.DataFrame({"x": [-1e-20]}))
        assert a[0][0] == "-1e-20"
    finally:
        del os.environ["ORACLE_SIG_DIGITS"]
        importlib.reload(check_oracle)


# ---------------------------------------------------------------------------
# (4) scratch dirs nest under one atexit-cleaned root
# ---------------------------------------------------------------------------
def test_scratch_dirs_share_one_cleanable_root():
    from parquet_pipeline_spark import scratch

    d1 = scratch.scratch_dir("t_a_")
    d2 = scratch.scratch_dir("t_b_")
    root = scratch._ROOT
    assert root is not None
    assert d1 != d2
    assert os.path.dirname(d1) == root and os.path.dirname(d2) == root
    # the root (not each call site) is what atexit removes
    import shutil

    shutil.rmtree(root)
    scratch._ROOT = None  # reset for later tests in this process
    assert not os.path.exists(d1) and not os.path.exists(d2)


def test_persisted_index_queries_use_scratch_root(spark, sf_dir):
    """d11/a09 allocate under the shared root — repeated gate runs
    can't accumulate orphan trees directly in /tmp anymore."""
    import glob

    from parquet_pipeline_spark import registry, scratch

    registry.load_all()
    before = set(glob.glob("/tmp/d11_minhash_idx_*")) | set(
        glob.glob("/tmp/a09_ivf_idx_*")
    )
    registry.QUERIES["d11_incremental_dedup_indexed"](spark, sf_dir).collect()
    registry.QUERIES["a09_ivf_knn_join"](spark, sf_dir).collect()
    after = set(glob.glob("/tmp/d11_minhash_idx_*")) | set(
        glob.glob("/tmp/a09_ivf_idx_*")
    )
    assert after == before  # nothing new directly under /tmp
    root = scratch._ROOT
    assert root is not None
    assert glob.glob(os.path.join(root, "d11_minhash_idx_*"))
    assert glob.glob(os.path.join(root, "a09_ivf_idx_*"))
