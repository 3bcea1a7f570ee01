"""Empty-input contract for the operator API: at 100 TB, empty
slices are routine (a filter that matches nothing, an empty daily
batch, a new partition before first data) — every core operator must
return an EMPTY result with the right schema, never throw. The
streaming layer already guards empty micro-batches; this pins the
batch API.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string")


@pytest.fixture(scope="module")
def empty_emb(spark):
    return spark.createDataFrame(
        [], "vec_id long, embedding array<double>, label int"
    )


def test_dedup_ops_on_empty_docs(spark, sf_dir, empty_docs):
    from parquet_pipeline_spark.operators.dedup import (
        banded_minhash,
        incremental_near_dups,
        minhash_near_dups,
        verify_incremental_candidates,
    )

    assert banded_minhash(empty_docs).count() == 0
    assert minhash_near_dups(empty_docs).count() == 0

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    index = banded_minhash(docs)
    # empty batch against a real index
    flags = incremental_near_dups(empty_docs, index)
    assert flags.count() == 0
    assert flags.columns == ["doc_id", "dup_of", "is_dup"]
    # real batch against an empty index: everything comes back clean
    empty_index = banded_minhash(empty_docs)
    flags2 = incremental_near_dups(docs.limit(5), empty_index)
    assert flags2.count() == 5
    assert flags2.filter("is_dup = 1").count() == 0
    # empty flag set through the exact verifier
    assert (
        verify_incremental_candidates(flags, docs, empty_docs).count() == 0
    )


def test_semdedup_on_empty_embeddings(spark, empty_emb):
    from parquet_pipeline_spark.operators.dedup import (
        semdedup_pairs,
        semdedup_pairs_hierarchical,
    )

    out = semdedup_pairs(empty_emb, n_centroids=8)
    assert out.count() == 0
    assert out.columns == ["cluster_id", "keep_id", "dup_id", "cos_sim"]
    out2 = semdedup_pairs_hierarchical(empty_emb, coarse_cells=8)
    assert out2.count() == 0
    assert out2.columns == ["cluster_id", "keep_id", "dup_id", "cos_sim"]


def test_vector_ops_on_empty_corpus(spark, sf_dir, empty_emb, tmp_path):
    from parquet_pipeline_spark.operators.vectors import (
        ann_knn_join,
        exact_knn_join,
        ivf_assign,
        ivf_centroids,
        ivf_knn_join,
        kmeans_refine,
        topk,
        write_ivf_index,
    )

    qv = [1.0] + [0.0] * 63

    # centroid selection over nothing -> no centroids, not a crash
    cents = ivf_centroids(empty_emb, k=16)
    assert cents == []
    assert ivf_assign(empty_emb, cents).count() == 0
    assert kmeans_refine(empty_emb, cents) == []
    assert topk(empty_emb.select("vec_id", "embedding"), qv, k=5).count() == 0
    assert exact_knn_join(empty_emb, [(0, qv)], k=5).count() == 0
    queries = spark.createDataFrame(
        [(0, qv)], "q_id long, q_emb array<double>"
    )
    assert ann_knn_join(empty_emb, queries, dim=64, k=5).count() == 0

    # an EMPTY persisted index is still a queryable index
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    real_cents = ivf_centroids(emb, k=8)
    idx = str(tmp_path / "empty_ivf")
    write_ivf_index(
        emb.filter("vec_id < 0").select("vec_id", "embedding"), real_cents, idx
    )
    assert ivf_knn_join(spark, idx, real_cents, [(0, qv)], k=5).count() == 0


def test_text_ops_on_empty_docs(spark, empty_docs):
    from parquet_pipeline_spark.operators.text import greedy_chunk

    chunks = greedy_chunk(empty_docs.withColumn("grp", F.lit("g")), "grp", "doc_id", "text", max_chars=100)
    assert chunks.count() == 0


def test_temporal_ops_on_empty_events(spark):
    from parquet_pipeline_spark.operators.temporal import asof_join, sessionize

    probe = spark.createDataFrame(
        [], "user_id long, event_id long, ts timestamp"
    )
    quote = spark.createDataFrame([], "ts timestamp, px double")
    assert sessionize(probe, "user_id", "ts", gap_seconds=1800).count() == 0
    assert asof_join(probe, quote, "ts", "px").count() == 0


def test_day_zero_indexes(spark, sf_dir, tmp_path):
    """Indexes initialized from an EMPTY corpus (day zero of an
    incremental pipeline) write no parquet files; queries against
    them must mean 'zero vectors / zero fingerprints', not an
    UNABLE_TO_INFER_SCHEMA crash — and the first streamed batch must
    bootstrap the index into a readable state."""
    import json
    import os

    from parquet_pipeline_spark.operators.dedup import banded_minhash
    from parquet_pipeline_spark.operators.vectors import (
        ivf_centroids,
        ivf_knn_join,
        write_ivf_index,
    )
    from parquet_pipeline_spark.streaming.events import (
        streaming_incremental_dedup,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = ivf_centroids(emb, k=8)
    qv = [float(x) for x in emb.first()["embedding"]]

    ivf_idx = str(tmp_path / "ivf_day0")
    write_ivf_index(
        emb.filter("vec_id < 0").select("vec_id", "embedding"), cents, ivf_idx
    )
    assert ivf_knn_join(spark, ivf_idx, cents, [(0, qv)], k=3).count() == 0

    mh_idx = str(tmp_path / "mh_day0")
    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    banded_minhash(empty_docs, num_hashes=16, bands=4).write.partitionBy(
        "band_id"
    ).parquet(mh_idx)

    src = tmp_path / "day0_stream"
    src.mkdir()
    (src / "b0.jsonl").write_text(
        "\n".join(
            json.dumps({"doc_id": 100 + i, "text": f"day zero doc {i} " * 10})
            for i in range(3)
        )
    )
    stream = spark.readStream.schema("doc_id long, text string").json(str(src))
    dest = str(tmp_path / "day0_flags")
    q = streaming_incremental_dedup(
        stream, mh_idx, dest, str(tmp_path / "day0_ck"),
        num_hashes=16, bands=4,
    )
    assert q.awaitTermination(120)
    flags = spark.read.parquet(dest)
    assert flags.count() == 3
    assert flags.filter("is_dup = 1").count() == 0  # nothing to match
    # the batch's appends bootstrapped the index into a readable state
    assert spark.read.parquet(mh_idx).count() > 0
