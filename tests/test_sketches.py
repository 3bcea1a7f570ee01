from pyspark.sql import functions as F

from parquet_pipeline_spark.operators.vectors import (
    _query_vector,
    exact_knn_join,
    ivf_centroids,
    ivf_knn_join,
    write_ivf_index,
)


def _ivf_probe(spark, path, cents, qv, nprobe):
    """Top-10 (vec_id, score) of a one-row probe through the persisted
    IVF index at ``path``."""
    return sorted(
        tuple(r)[1:]
        for r in ivf_knn_join(spark, path, cents, [(0, qv)], k=10, nprobe=nprobe).collect()
    )


def test_approx_distinct_within_rsd(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    row = li.agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx"),
        F.countDistinct("l_orderkey").alias("exact"),
    ).first()
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.06  # 3x rsd


def test_percentile_approx_close_to_exact(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    row = li.agg(
        F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000)).alias("ap"),
        F.percentile("l_extendedprice", F.lit(0.5)).alias("ex"),
    ).first()
    assert abs(row["ap"] - row["ex"]) / row["ex"] < 0.01


def test_ivf_recall_vs_exact(spark, sf_dir, tmp_path):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") != 0
    )
    qv = _query_vector(spark, sf_dir, vec_id=0)
    exact = sorted(tuple(r)[1:] for r in exact_knn_join(emb, [(0, qv)], k=10).collect())
    cents = ivf_centroids(emb, k=8)
    path = str(tmp_path / "ivf")
    write_ivf_index(emb, cents, path)
    approx = _ivf_probe(spark, path, cents, qv, 4)
    # probing half the cells must recover a meaningful share of the
    # true top-10 (the synthetic vectors are near-orthogonal — a lax
    # bound keeps the test meaningful without being flaky)
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.3, f"IVF recall too low: {recall}"
    # and with all cells probed it must equal exact
    assert _ivf_probe(spark, path, cents, qv, 8) == exact


def test_kmeans_refinement_reduces_inertia_and_preserves_exactness(spark, sf_dir, tmp_path):
    from parquet_pipeline_spark.operators.vectors import (
        ivf_centroids,
        kmeans_inertia,
        kmeans_refine,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") != 0
    )
    init = ivf_centroids(emb, k=8)
    refined = kmeans_refine(emb, init, iterations=2)
    assert kmeans_inertia(emb, refined) <= kmeans_inertia(emb, init) + 1e-9

    # full-probe top-k with refined cells still equals exact top-k
    qv = _query_vector(spark, sf_dir, vec_id=0)
    exact = sorted(tuple(r)[1:] for r in exact_knn_join(emb, [(0, qv)], k=10).collect())
    path = str(tmp_path / "ivf")
    write_ivf_index(emb, refined, path)
    assert _ivf_probe(spark, path, refined, qv, 8) == exact


import pytest


@pytest.mark.parametrize(
    "seed,n,card",
    [(2, 40_000, 997), (11, 40_000, 25_000), (29, 40_000, 39_999)],
)
def test_approx_distinct_generated_cardinalities(spark, seed, n, card):
    """The HLL error bound must hold across cardinality regimes the
    fixture never exercises — low (heavy repeats), medium, and
    near-unique — on generated data, not just the lineitem column
    (stretch: floors must not be fixture-tuned)."""
    import random

    rng = random.Random(seed)
    rows = [(rng.randrange(card),) for _ in range(n)]
    df = spark.createDataFrame(rows, "v long")
    row = df.agg(
        F.approx_count_distinct("v", rsd=0.02).alias("approx"),
        F.countDistinct("v").alias("exact"),
    ).first()
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.06  # 3x rsd


@pytest.mark.parametrize(
    "seed,dist",
    [(3, "uniform"), (17, "lognormal"), (41, "bimodal")],
)
def test_percentile_approx_generated_distributions(spark, seed, dist):
    """percentile_approx must stay near exact across distribution
    shapes — uniform, heavy-tailed lognormal, and bimodal — where
    quantile sketches typically degrade, not just on lineitem
    prices."""
    import math
    import random

    rng = random.Random(seed)
    if dist == "uniform":
        vals = [rng.uniform(0, 1000) for _ in range(30_000)]
    elif dist == "lognormal":
        vals = [math.exp(rng.gauss(0, 2)) for _ in range(30_000)]
    else:
        vals = [
            rng.gauss(10, 1) if rng.random() < 0.5 else rng.gauss(1000, 50)
            for _ in range(30_000)
        ]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    for q in (0.1, 0.5, 0.9):
        row = df.agg(
            F.percentile_approx("v", F.lit(q), F.lit(10000)).alias("ap"),
            F.percentile("v", F.lit(q)).alias("ex"),
        ).first()
        # rank-error sketch: compare by rank displacement, robust to
        # scale — the approx value must sit within 1% of n ranks of
        # the exact quantile position
        svals = sorted(vals)
        import bisect

        rank_ap = bisect.bisect_left(svals, row["ap"])
        assert abs(rank_ap - q * len(svals)) <= 0.01 * len(svals) + 1, (dist, q)


def test_a11_a12_accuracy_rows_keep_null_group(spark, tmp_path):
    """The graduated accuracy-assertion rows must keep a NULL group
    key: a plain `=` join back onto the fact table silently drops the
    NULL l_returnflag group (the dirty-lineitem battery class) — the
    join is null-safe by contract."""
    import os

    from parquet_pipeline_spark import registry

    registry.load_all()
    rows = [(i, i % 50, float(900 + (i * 37) % 200), None if i % 3 == 0 else "R")
            for i in range(300)]
    df = spark.createDataFrame(
        rows, "l_orderkey LONG, l_partkey LONG, l_extendedprice DOUBLE, l_returnflag STRING"
    )
    sf = str(tmp_path / "sf")
    df.write.parquet(os.path.join(sf, "lineitem.parquet"))

    for name in ("a11_hll_accuracy", "a12_tdigest_accuracy"):
        out = registry.QUERIES[name](spark, sf).collect()
        keys = {r["l_returnflag"] for r in out}
        assert keys == {None, "R"}, (name, keys)
        bool_cols = [c for c in out[0].asDict() if c.endswith("_within")]
        assert all(r[c] for r in out for c in bool_cols), (name, out)
