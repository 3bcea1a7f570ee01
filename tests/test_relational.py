"""Smoke tests for the relational surface. Full correctness runs via
tools/check_oracle.py (Spark vs DuckDB at sf0.01) — these tests keep
the driver-contract shape healthy and fast at sf0.001."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_entry_contract(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_every_query_runs_at_smallest_sf(spark, sf_dir):
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 40
    # spot-run a representative subset end-to-end at sf0.001
    for name in (
        "q02_filter_project",
        "q08_join_multiway",
        "q21_rollup",
        "v01_cosine_topk",
        "d01_exact_dedup",
        "t03_langid",
    ):
        df = qs[name](spark, sf_dir)
        assert df.count() >= 0


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    """The q02 plan must push both predicates into the parquet scan
    and prune the schema to the 5 selected columns."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["q02_filter_project"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "GreaterThan(l_quantity" in plan
    assert "l_returnflag" not in plan.split("ReadSchema")[1][:400]


def test_broadcast_join_for_dims(spark, sf_dir):
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["q09_join_broadcast_dim"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_describe_surface(spark, sf_dir):
    """SURVEY §2B: DESCRIBE is part of the demanded SQL surface."""
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").createOrReplaceTempView(
        "li_describe"
    )
    rows = {r["col_name"]: r["data_type"] for r in spark.sql("DESCRIBE li_describe").collect()}
    assert rows["l_quantity"] == "double"
    assert rows["l_orderkey"] == "bigint"


def test_partition_pruning(spark, sf_dir, tmp_path):
    """Hive-partitioned writes → a partition filter prunes at plan
    time (PartitionFilters in the scan, not a post-scan filter)."""
    from pyspark.sql import functions as F

    from parquet_pipeline_spark.operators.relational import _events
    from parquet_pipeline_spark.sources.writers import write_parquet

    ev = _events(spark, sf_dir).withColumn("day", F.to_date("ts"))
    dest = str(tmp_path / "events_by_day")
    write_parquet(ev, dest, partition_by=["day"])

    filtered = spark.read.parquet(dest).filter(F.col("day") == "2024-01-15")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(day" in plan
    n_days = ev.select("day").distinct().count()
    assert filtered.count() < ev.count() / max(n_days - 5, 1)


def test_scd2_intervals_chain_and_current(spark, sf_dir):
    """q79: per user, validity intervals must chain exactly (each
    valid_to equals the next record's valid_from), exactly one
    current (open-ended) record per user, and no interval inverted."""
    from parquet_pipeline_spark.operators.relational import q79_scd2_intervals

    rows = q79_scd2_intervals(spark, sf_dir).collect()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    assert by_user, "no SCD2 rows produced"
    for uid, recs in by_user.items():
        recs.sort(key=lambda r: (r["valid_from"], r["event_id"]))
        open_ended = [r for r in recs if r["valid_to"] is None]
        assert len(open_ended) == 1 and recs[-1]["valid_to"] is None, uid
        assert all(r["is_current"] == (r["valid_to"] is None) for r in recs)
        for a, b in zip(recs, recs[1:]):
            assert a["valid_to"] == b["valid_from"], (uid, a, b)
            assert a["valid_from"] <= a["valid_to"], (uid, a)


def test_q100_basket_pairs_multiplicity_and_nulls(spark, tmp_path):
    """The basket-array rewrite must keep the self-join's exact
    semantics: a part appearing k times in an order pairs k times
    with each greater part, and NULL partkeys drop (x < y three-
    valued, like the join predicate). Verified against the DuckDB
    oracle on a crafted fixture."""
    import os

    import duckdb

    from parquet_pipeline_spark import registry

    registry.load_all()
    rows = [
        (1, 10), (1, 10), (1, 20), (1, None),   # dup part + null
        (2, 10), (2, 20), (2, 30),
        (3, None), (3, None),                    # null-only order
        (4, 5),                                  # singleton order
    ]
    df = spark.createDataFrame(rows, "l_orderkey LONG, l_partkey LONG")
    sf = str(tmp_path / "sf")
    df.coalesce(1).write.parquet(os.path.join(sf, "lineitem.parquet"))

    got = sorted(
        tuple(r) for r in registry.QUERIES["q100_basket_pairs"](spark, sf).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM read_parquet("
        f"'{os.path.join(sf, 'lineitem.parquet')}/*.parquet')"
    )
    want = sorted(tuple(r) for r in con.execute(
        registry.ORACLES["q100_basket_pairs"]
    ).fetchall())
    assert got == want
    # the duplicated 10 in order 1 pairs TWICE with 20
    assert (10, 20, 3) in got  # order1 ×2 + order2 ×1


def test_q60_latest_per_key_null_dates(spark, tmp_path):
    """The sort-free max-struct rewrite must match the window's DESC
    NULLS LAST semantics: dated rows beat null dates; an all-null-date
    key falls back to the highest orderkey. Checked against the
    DuckDB oracle."""
    import os

    import duckdb

    from parquet_pipeline_spark import registry

    registry.load_all()
    from pyspark.sql import functions as F

    rows = [
        (1, 100, None, 5.0), (1, 101, None, 6.0),          # all-null dates
        (2, 200, "1995-01-01", 1.0), (2, 201, None, 2.0),  # mixed
        (3, 300, "1995-01-01", 3.0), (3, 301, "1995-01-01", 4.0),  # date tie
    ]
    df = spark.createDataFrame(
        rows, "o_custkey LONG, o_orderkey LONG, o_orderdate STRING, o_totalprice DOUBLE"
    ).withColumn("o_orderdate", F.to_date("o_orderdate"))
    sf = str(tmp_path / "sf")
    df.coalesce(1).write.parquet(os.path.join(sf, "orders.parquet"))

    got = sorted(
        tuple(r) for r in registry.QUERIES["q60_latest_per_key"](spark, sf).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM read_parquet("
        f"'{os.path.join(sf, 'orders.parquet')}/*.parquet')"
    )
    want = sorted(
        tuple(r) for r in con.execute(registry.ORACLES["q60_latest_per_key"]).fetchall()
    )
    assert got == want
    assert (1, 101, None, 6.0) in got and (2, 200, "1995-01-01", 1.0) in got
