"""Regression tests for the round-8 ADVICE findings (round 9).

Pins: (1) the v08 MMR oracle's ANCHOR selection orders by the same
quantized integer key as every later step (raw-score order can
disagree exactly at a 1e-6 rounding boundary), (2) t24/t07 oracles
recurse through a NULL-source group via IS NOT DISTINCT FROM —
matching Spark's groupBy, which puts all NULL keys in one group,
(3) connected_components(strict=True) RAISES on non-convergence so
an oracle-gated caller fails loudly instead of handing a silently
split labeling to a hash gate, (4) the dirty-table batteries select
oracles by word-boundary regex (substring probes dropped `part,` /
`part)` / trailing `FROM part`, or matched aliases like `n_orders`),
(5) bench calibration is emitted only for the full default HEADLINE
composition at sf0.1 — subset runs aren't comparable to the pinned
full-suite medians.
"""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F


def _norm(rows):
    out = []
    for r in rows:
        out.append(
            tuple(
                None
                if v is None
                else (round(float(v), 6) if isinstance(v, float) else v)
                for v in r
            )
        )
    return sorted(out, key=lambda t: tuple((x is None, x) for x in t))


# ---------------------------------------------------------------------------
# (2) t24 / t07 oracles must pack the NULL-source group fully
# ---------------------------------------------------------------------------
@pytest.mark.parametrize("name", ["t24_sequence_packing", "t07_greedy_chunks"])
def test_null_source_group_packs_fully(spark, tmp_path, name):
    """A NULL-source group with several rows must contribute ALL its
    rows to the recursion, not just rn=1 — and Spark's single
    NULL-key group must land on identical sequence/chunk boundaries."""
    import duckdb

    from parquet_pipeline_spark import registry

    registry.load_all()

    rows = [
        # NULL-source group: 4 docs, lengths force >1 sequence/chunk
        (1, "x" * 900, "en", None, 900),
        (2, "y" * 900, "en", None, 900),
        (3, "z" * 300, "en", None, 300),
        (4, "w" * 40, "en", None, 40),
        # a normal group beside it
        (5, "a" * 500, "en", "s1", 500),
        (6, "b" * 700, "en", "s1", 700),
    ]
    df = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    )
    sf = str(tmp_path / "sf")
    df.coalesce(1).write.parquet(os.path.join(sf, "documents.parquet"))

    got = _norm([tuple(r) for r in registry.QUERIES[name](spark, sf).collect()])

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{os.path.join(sf, 'documents.parquet')}/*.parquet')"
    )
    want = _norm(con.execute(registry.ORACLES[name]).fetchall())
    assert got == want
    # the NULL group really recursed: it owns >1 output row
    assert sum(1 for r in got if r[0] is None) > 1


# ---------------------------------------------------------------------------
# (3) connected_components strict mode
# ---------------------------------------------------------------------------
def test_connected_components_strict_raises_on_nonconvergence(spark):
    """A 6-node chain can't converge in one round; strict mode must
    raise (an oracle-gated caller needs a loud error, not a warning
    plus a silently split labeling)."""
    from parquet_pipeline_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "id_a LONG, id_b LONG"
    )
    with pytest.raises(RuntimeError, match="max_iterations"):
        connected_components(chain, max_iterations=1, strict=True).collect()
    # default stays a warning: same input must still return labels
    labels = connected_components(chain, max_iterations=1, strict=False)
    assert labels.count() == 6


# ---------------------------------------------------------------------------
# (1) v08 oracle anchor ordered by the quantized key
# ---------------------------------------------------------------------------
def test_mmr_oracle_anchor_uses_quantized_order():
    """Two pool candidates whose raw scores differ but round to the
    same 1e-6 micro-unit: the anchor pick must follow (quantized
    DESC, vec_id) — the implementation's order — not raw score."""
    import duckdb

    from parquet_pipeline_spark import registry

    registry.load_all()
    sql = registry.ORACLES["v08_mmr_rerank"]
    # the anchor subquery orders by the quantized key, not raw score
    anchor = sql.split("UNION ALL")[0]
    assert re.search(
        r"ORDER BY CAST\(ROUND\(score \* 1000000, 0\) AS BIGINT\) DESC,\s*vec_id",
        anchor,
    ), "anchor must order by the quantized integer key"

    # and that ordering resolves the boundary class correctly:
    # 0.1234564 (vec 5) and 0.1234560 (vec 2) quantize equal → vec 2
    picked = duckdb.sql(
        """
        WITH pool(vec_id, score) AS (VALUES (5, 0.1234564), (2, 0.1234560))
        SELECT vec_id FROM pool
        ORDER BY CAST(ROUND(score * 1000000, 0) AS BIGINT) DESC, vec_id
        LIMIT 1
        """
    ).fetchone()[0]
    assert picked == 2  # raw-score order would have picked 5


# ---------------------------------------------------------------------------
# (4) dirty-table batteries' word-boundary oracle selection
# ---------------------------------------------------------------------------
def test_dims_probe_word_boundary(monkeypatch):
    from parquet_pipeline_spark import registry
    from tools.adversarial_tables import dirty_tables, oracled_touching

    registry.load_all()
    # the aliases exact_orders / n_orders name no table: the orders
    # battery must skip these queries, the lineitem battery they do
    # read must keep them
    alias_only = {"a11_hll_accuracy", "q04_global_aggs", "q100_basket_pairs"}
    assert alias_only.isdisjoint(oracled_touching(dirty_tables("orders")))
    assert alias_only <= set(oracled_touching(dirty_tables("lineitem")))

    tables = dirty_tables("all")
    assert set(tables) == {
        "documents", "embeddings", "lineitem", "events", "orders",
        "customer", "supplier", "part",
    }
    for table in tables:
        fake = {
            "hit_comma": f"SELECT 1 FROM {table}, nation",
            "hit_paren": f"SELECT 1 FROM (SELECT * FROM {table})",
            "hit_eos": f"SELECT 1 FROM {table}",
            "hit_upper": f"SELECT 1 FROM {table.upper()}",
            "miss_col": f"SELECT x_{table}key FROM region",
            "miss_substr": f"SELECT 1 FROM {table}supp_like",
            "miss_alias": f"SELECT COUNT(*) AS n_{table} FROM nation",
        }
        monkeypatch.setattr(registry, "ORACLES", fake)
        got = set(oracled_touching([table]))
        assert got == {"hit_comma", "hit_paren", "hit_eos", "hit_upper"}, table

    # a column name with a dimension's name inside it reads no dimension
    fake = {
        "hit_comma": "SELECT 1 FROM part, nation",
        "hit_paren": "SELECT 1 FROM (SELECT * FROM part)",
        "hit_eos": "SELECT 1 FROM part",
        "hit_upper": "SELECT 1 FROM CUSTOMER",
        "miss_col": "SELECT p_partkey FROM lineitem",
        "miss_substr": "SELECT 1 FROM partsupp_like",
    }
    monkeypatch.setattr(registry, "ORACLES", fake)
    got = set(oracled_touching(dirty_tables("dims")))
    assert got == {"hit_comma", "hit_paren", "hit_eos", "hit_upper"}

    # a battery selects on every table it dirties, and only those
    fake = {
        "alias": "SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM lineitem",
        "join": "SELECT 1 FROM orders JOIN customer ON o_custkey = c_custkey",
        "dim": "SELECT 1 FROM supplier",
    }
    monkeypatch.setattr(registry, "ORACLES", fake)
    assert oracled_touching(dirty_tables("orders")) == ["join"]
    assert oracled_touching(dirty_tables("lineitem")) == ["alias"]
    assert oracled_touching(dirty_tables("dims")) == ["dim", "join"]


# ---------------------------------------------------------------------------
# (5) bench calibration requires the full default composition
# ---------------------------------------------------------------------------
def test_bench_calibration_requires_full_suite():
    import bench

    full = {n: 1.0 for n in bench.HEADLINE}
    full.update({"e2e_engine_ask": 0.2, "e2e_engine_ask_multi": 0.5})
    groups = {n: i // 5 for i, n in enumerate(full)}
    # r12 schema: samples are RAW per-pin times (dicts), not factors
    samples = [
        {n: v * s for n, v in bench.CALIBRATION_PINS.items()}
        for s in (1.0, 1.1, 0.9, 1.0, 1.0, 1.05)
    ]
    out = bench.calibration(full, 0.1, samples, groups)
    assert "calibration_factor" in out and "value_normalized" in out
    # fewer than 2 samples → no local normalization, nothing emitted
    out2 = bench.calibration(full, 0.1, [], {})
    assert out2 == {}

    # subset that still contains all five pins → NOT comparable
    subset = {n: 1.0 for n in bench.CALIBRATION_PINS}
    assert bench.calibration(subset, 0.1, samples, groups) == {}
    # wrong sf → not comparable either
    assert bench.calibration(full, 0.01, samples, groups) == {}
