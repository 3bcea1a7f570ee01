import json

from parquet_pipeline_spark.pipeline import run_ingestion_pipeline


def test_ingestion_pipeline_end_to_end(spark, tmp_path):
    csv = tmp_path / "sales data.csv"
    csv.write_text("Region,Amount $\nus,10.5\neu,20.0\nus,30.25\n")
    jl = tmp_path / "users.jsonl"
    jl.write_text('{"user id": 1, "name": "a"}\n{"user id": 2, "name": "b"}\n')
    out_dir = str(tmp_path / "lake")

    result = run_ingestion_pipeline(spark, [str(csv), str(jl)], out_dir)
    assert result["status"] == "completed"
    # 'sales data.csv' sanitizes to a valid view/table identifier
    assert set(result["tables"]) == {"sales_data", "users"}

    sales = result["tables"]["sales_data"]
    assert sales["columns"] == ["region", "amount"]
    assert sales["row_count"] == 3
    assert len(sales["sample"]) == 3

    users = result["tables"]["users"]
    assert set(users["columns"]) == {"user_id", "name"}
    assert users["row_count"] == 2


def test_ingestion_pipeline_resume_skips_converted(spark, tmp_path):
    """Rerunning an ingest skips inputs already in the completion
    manifest (unchanged mtime+size); a modified input is reconverted
    and the catalog reflects its new content."""
    import os

    csv = tmp_path / "a.csv"
    csv.write_text("x\n1\n2\n")
    jl = tmp_path / "b.jsonl"
    jl.write_text('{"y": 1}\n')
    out_dir = str(tmp_path / "lake_resume")

    r1 = run_ingestion_pipeline(spark, [str(csv), str(jl)], out_dir)
    assert r1["status"] == "completed" and r1["skipped_inputs"] == []

    # untouched rerun: both inputs skipped, outputs not rewritten
    mtime_before = os.path.getmtime(os.path.join(out_dir, "a.parquet"))
    r2 = run_ingestion_pipeline(spark, [str(csv), str(jl)], out_dir)
    assert sorted(r2["skipped_inputs"]) == sorted([str(csv), str(jl)])
    assert r2["status"] == "completed"
    assert set(r2["tables"]) == {"a", "b"}  # catalog still complete
    assert os.path.getmtime(os.path.join(out_dir, "a.parquet")) == mtime_before
    # a skipped input's entry is rebuilt from its stored profile
    assert r2["tables"] == r1["tables"]

    # a manifest entry without a stored profile (one written before
    # profiles were stored) is stale: that input reconverts
    manifest_path = os.path.join(out_dir, "_ingest_manifest.json")
    with open(manifest_path) as fh:
        manifest = json.load(fh)
    del manifest[str(jl)]["profiles"]
    with open(manifest_path, "w") as fh:
        json.dump(manifest, fh)
    r2b = run_ingestion_pipeline(spark, [str(csv), str(jl)], out_dir)
    assert r2b["skipped_inputs"] == [str(csv)]
    assert r2b["tables"] == r1["tables"]

    # modify one input → only that one reconverts
    os.utime(csv, None)
    csv.write_text("x\n1\n2\n3\n")
    r3 = run_ingestion_pipeline(spark, [str(csv), str(jl)], out_dir)
    assert r3["skipped_inputs"] == [str(jl)]
    assert r3["tables"]["a"]["row_count"] == 3

    # resume=False forces full reconversion
    r4 = run_ingestion_pipeline(spark, [str(csv), str(jl)], out_dir, resume=False)
    assert r4["skipped_inputs"] == []

    # in-place rewrite with IDENTICAL size and mtime (the coarse-
    # filesystem/fast-CI case): the small-file content hash in the
    # signature still catches it — no stale skip
    st = os.stat(csv)
    csv.write_text("x\n7\n8\n9\n")  # same byte length as "x\n1\n2\n3\n"
    os.utime(csv, (st.st_atime, st.st_mtime))
    r5 = run_ingestion_pipeline(spark, [str(csv), str(jl)], out_dir)
    assert r5["skipped_inputs"] == [str(jl)]
    assert r5["tables"]["a"]["row_count"] == 3


def test_ingestion_pipeline_resume_large_file_rewrite(spark, tmp_path):
    """A >4 MiB input rewritten in place with identical size and
    mtime must still reconvert: the signature's sampled head/middle/
    tail md5 catches what mtime+size alone would miss."""
    import os

    from parquet_pipeline_spark.pipeline import _SIG_HASH_MAX_BYTES, _input_sig

    rows = 900_000  # ~5.2 MB of csv — over the full-hash cutoff
    big = tmp_path / "big.csv"
    body = "\n".join(f"{i % 97},{i % 101}" for i in range(rows))
    big.write_text("x,y\n" + body + "\n")
    assert os.path.getsize(big) > _SIG_HASH_MAX_BYTES
    out_dir = str(tmp_path / "lake_big")

    r1 = run_ingestion_pipeline(spark, [str(big)], out_dir)
    assert r1["status"] == "completed" and r1["skipped_inputs"] == []
    n1 = r1["tables"]["big"]["row_count"]

    # unchanged rerun skips
    r2 = run_ingestion_pipeline(spark, [str(big)], out_dir)
    assert r2["skipped_inputs"] == [str(big)]

    # same-size same-mtime rewrite touching the tail block
    st = os.stat(big)
    with open(big, "r+b") as fh:
        fh.seek(st.st_size - 4)
        fh.write(b"9,9\n")
    os.utime(big, (st.st_atime, st.st_mtime))
    assert os.path.getsize(big) == st.st_size
    assert "md5_sampled" in _input_sig(str(big))
    r3 = run_ingestion_pipeline(spark, [str(big)], out_dir)
    assert r3["skipped_inputs"] == []
    assert r3["tables"]["big"]["row_count"] == n1


def test_ingestion_pipeline_partial_on_bad_input(spark, tmp_path):
    good = tmp_path / "ok.csv"
    good.write_text("a\n1\n")
    result = run_ingestion_pipeline(
        spark, [str(good), str(tmp_path / "missing.csv")], str(tmp_path / "lake2")
    )
    assert result["status"] == "partial"
    assert list(result["tables"]) == ["ok"]
    assert result["errors"] and "missing.csv" in result["errors"][0]["input"]


def _scanned_profile(spark, dest: str) -> dict:
    """The catalog's profile fields, recomputed by an explicit
    aggregate over the written parquet."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(dest)
    cols = df.columns
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(F.col(c).isNull().cast("int")).alias(f"nulls_{c}") for c in cols],
        *[F.approx_count_distinct(c).alias(f"dist_{c}") for c in cols],
        F.approx_count_distinct(F.struct(*cols)).alias("drows"),
    ).first()
    n = row["n"]
    nulls = {c: row[f"nulls_{c}"] or 0 for c in cols}
    pk, fks = None, []
    for c in cols:
        unique = n > 0 and nulls[c] == 0 and row[f"dist_{c}"] >= 0.95 * n
        keyish = c.lower().endswith(("id", "key"))
        if keyish and unique and pk is None:
            pk = c
        elif keyish and not unique:
            fks.append(c)
    cells = n * len(cols)
    return {
        "row_count": n,
        "nullable": {c: nulls[c] > 0 for c in cols},
        "primary_key": pk,
        "foreign_keys": fks,
        "has_duplicates": n > 0 and row["drows"] < 0.95 * n,
        "null_percentage": (
            round(100.0 * sum(nulls.values()) / cells, 2) if cells else 0.0
        ),
    }


def test_observed_profile_matches_a_scan(spark, tmp_path):
    """The profile observed during the write gives the same catalog
    fields as an aggregate over the written parquet — with NULLs, a
    duplicated row, key-like columns and a header-only input (an
    observation over zero rows)."""
    orders = tmp_path / "orders.csv"
    orders.write_text(
        "order_id,cust_id,amount,note\n"
        "1,10,5.5,a\n2,10,,b\n3,11,7.0,\n4,12,,c\n4,12,,c\n"
    )
    customers = tmp_path / "customers.csv"
    customers.write_text("cust_id,name\n10,ann\n11,\n12,cy\n")
    empty = tmp_path / "empty.csv"
    empty.write_text("row_id,label\n")
    result = run_ingestion_pipeline(
        spark, [str(orders), str(customers), str(empty)], str(tmp_path / "lake")
    )
    assert result["status"] == "completed"

    for name, entry in result["tables"].items():
        want = _scanned_profile(spark, entry["parquet_path"])
        tm = entry["table_metadata"]
        got = {
            "row_count": entry["row_count"],
            "nullable": {
                c: m["nullable"] for c, m in entry["column_metadata"].items()
            },
            "primary_key": tm["primary_key"],
            "foreign_keys": tm["foreign_keys"],
            "has_duplicates": tm["has_duplicates"],
            "null_percentage": tm["null_percentage"],
        }
        assert got == want, name

    t = result["tables"]
    assert t["orders"]["row_count"] == 5
    assert t["orders"]["table_metadata"]["has_duplicates"] is True
    assert t["orders"]["table_metadata"]["foreign_keys"] == ["order_id", "cust_id"]
    assert t["customers"]["table_metadata"]["primary_key"] == "cust_id"
    assert t["customers"]["column_metadata"]["name"]["nullable"] is True
    assert t["empty"]["row_count"] == 0
    assert t["empty"]["sample"] == []


def test_ingest_reads_back_only_the_sample(spark, tmp_path):
    """After the write, the catalog build reads each table's parquet
    twice — its schema and the 5-row sample, one Spark job each — with
    no count and no profiling scan, and an LLM client's prompt reuses
    the sample. A resumed ingest writes nothing, so its jobs are
    exactly those."""
    from parquet_pipeline_spark.plans import FakeClient

    a = tmp_path / "a.csv"
    a.write_text("k,v\n1,x\n2,y\n")
    b = tmp_path / "b.jsonl"
    b.write_text('{"k": 1}\n{"k": 2}\n')
    out_dir = str(tmp_path / "lake")
    run_ingestion_pipeline(spark, [str(a), str(b)], out_dir)

    sc = spark.sparkContext
    group = f"ingest-readback-{id(tmp_path)}"
    sc.setJobGroup(group, "resumed ingest")
    try:
        r = run_ingestion_pipeline(
            spark, [str(a), str(b)], out_dir, client=FakeClient([{}, {}])
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sorted(r["skipped_inputs"]) == sorted([str(a), str(b)])
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2 * 2


def test_catalog_register_and_describe(spark, sf_dir):
    from parquet_pipeline_spark.catalog import Catalog

    cat = Catalog(spark)
    cat.register_dir(sf_dir, names=["region", "nation"], with_count=True)
    assert cat.get("region").row_count == 5
    s = cat.catalog_string()
    assert "Logical Table: region (Columns: r_regionkey, r_name)" in s
    assert spark.table("nation").count() == 25


def test_error_frame_convention(spark):
    from parquet_pipeline_spark.errors import error_frame, is_error_frame, run_sql_safe

    ef = error_frame(spark, "boom")
    assert is_error_frame(ef) and ef.first()["Error"] == "boom"
    bad = run_sql_safe(spark, "SELECT FROM nowhere AT ALL")
    assert is_error_frame(bad)


def test_context_helpers(spark):
    from parquet_pipeline_spark.context import (
        df_to_json_records,
        json_records_to_df,
        sample_head,
        to_markdown,
        with_provenance,
    )

    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, None)], "id long, v string")
    assert sample_head(df, 2).count() == 2

    tagged = with_provenance(df, "T1:loans")
    assert tagged.columns[0] == "__TABLE__"
    assert tagged.first()["__TABLE__"] == "T1:loans"

    md = to_markdown(df)
    assert "id" in md and "|" in md

    payload = df_to_json_records(df)
    back = json_records_to_df(spark, payload)
    assert back.count() == 3
    assert sorted(back.columns) == ["id", "v"]

    assert json_records_to_df(spark, "[]").count() == 0


def test_engine_facade_end_to_end(spark, tmp_path):
    """The reference-user migration surface: ingest → ask → sql."""
    from parquet_pipeline_spark.engine import Engine

    csv = tmp_path / "loans.csv"
    csv.write_text(
        "Applicant,Loan Amount,Score\nalice,1000.5,700\nbob,2500.0,650\n"
    )
    eng = Engine(spark, warehouse_dir=str(tmp_path / "lake"))
    result = eng.ingest([str(csv)])
    assert result["status"] == "completed"
    assert "loans" in eng.catalog.tables

    res = eng.ask("What is the maximum loan_amount?")
    [df] = list(res.results.values())
    assert df.first()[0] == 2500.0

    direct = eng.sql("SELECT COUNT(*) AS n FROM loans")
    assert direct.first()["n"] == 2
    bad = eng.sql("SELECT broken FROM nowhere")
    assert bad.columns == ["Error"]


def test_engine_semantic_index(spark, tmp_path):
    from parquet_pipeline_spark.engine import Engine

    jl = tmp_path / "docs.jsonl"
    jl.write_text(
        '{"doc_id": 0, "text": "gregory red loan applicant file"}\n'
        '{"doc_id": 1, "text": "warehouse shipping schedule"}\n'
    )
    eng = Engine(spark, warehouse_dir=str(tmp_path / "lake2"))
    eng.ingest([str(jl)])
    eng.build_semantic_index("docs", "text", id_col="doc_id")
    res = eng.ask("who is gregory red loan applicant file")
    assert res.intents[res.sub_queries[0]] == "SEMANTIC_SEARCH"


def _docs_engine(spark, tmp_path):
    """An Engine over a two-row ``docs`` table (doc_id, text)."""
    from parquet_pipeline_spark.engine import Engine

    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(0, "gregory red loan applicant file"), (1, "warehouse shipping schedule")],
        "doc_id long, text string",
    ).write.parquet(path)
    eng = Engine(spark, warehouse_dir=str(tmp_path / "lake"))
    eng.catalog.register_path(path, "docs")
    return eng


def _top_node(df) -> str:
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.inputPlan()
    return plan.nodeName()


def test_engine_semantic_index_is_cached(spark, tmp_path):
    """build_semantic_index embeds once: both frames are in the cache
    manager and loaded when it returns, and the index reads them
    through InMemoryTableScan instead of re-running the embedder."""
    eng = _docs_engine(spark, tmp_path)
    eng.build_semantic_index("docs", "text", id_col="doc_id")
    cache = spark._jsparkSession.sharedState().cacheManager()
    for frame in (eng._documents, eng._embeddings):
        cached = cache.lookupCachedData(frame._jdf)
        assert cached.isDefined()
        relation = cached.get().cachedRepresentation()
        assert relation.cacheBuilder().isCachedColumnBuffersLoaded()
        assert _top_node(frame) == "InMemoryTableScan"
    eng.close()


def test_engine_reindex_replaces_table(spark, tmp_path):
    """Indexing a table twice replaces its pair: no doubled rows or
    hits, and the first pair's cached RDDs are released; close()
    releases the rest."""
    from parquet_pipeline_spark.pipeline import semantic_search

    eng = _docs_engine(spark, tmp_path)
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    eng.build_semantic_index("docs", "text", id_col="doc_id")
    after_first = persistent().size()
    eng.build_semantic_index("docs", "text", id_col="doc_id")
    assert persistent().size() == after_first
    assert eng._embeddings.count() == 2
    assert eng._documents.count() == 2
    _tables, context, hits = semantic_search(
        "warehouse shipping", eng._embeddings, eng._documents, threshold=0.0
    )
    assert hits.count() == 2
    assert context.count("[Source: docs]") == 2
    eng.close()
    assert persistent().size() == before
    assert eng._documents is None and eng._embeddings is None


def test_engine_semantic_index_failure_releases(spark, tmp_path):
    """An embedder that raises leaves no cached frame and no index."""
    import pytest as _pytest

    def broken(texts):
        raise RuntimeError("embedder down")

    eng = _docs_engine(spark, tmp_path)
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    with _pytest.raises(Exception, match="embedder down"):
        eng.build_semantic_index("docs", "text", id_col="doc_id", embedder=broken)
    assert persistent().size() == before
    assert eng._documents is None and eng._embeddings is None


def test_engine_semantic_index_matches_lazy_form(spark, tmp_path, sf_dir):
    """The cached index answers exactly as the lazy form it replaced:
    embed_text over the table and two independent dropDuplicates."""
    import os

    from pyspark.sql import functions as F

    from parquet_pipeline_spark.engine import Engine
    from parquet_pipeline_spark.operators.embedding import embed_text
    from parquet_pipeline_spark.pipeline import semantic_search

    path = os.path.join(os.path.dirname(sf_dir), "sf0.1", "documents.parquet")
    eng = Engine(spark, warehouse_dir=str(tmp_path / "lake"))
    eng.catalog.register_path(path, "documents")
    eng.build_semantic_index("documents", "text")

    df = eng.catalog.df("documents").withColumn("_row_id", F.xxhash64("text"))
    keys = ["source_table", "vec_id"]
    lazy_docs = (
        df.select(F.col("_row_id").alias("vec_id"), "text")
        .withColumn("source_table", F.lit("documents"))
        .dropDuplicates(keys)
    )
    lazy_emb = (
        embed_text(df, "text", "_row_id", dim=64)
        .withColumnRenamed("_row_id", "vec_id")
        .withColumn("source_table", F.lit("documents"))
        .dropDuplicates(keys)
    )
    assert eng._embeddings.count() == lazy_emb.count()

    own_text = df.orderBy("doc_id").first()["text"]
    for q in ("spark window sort", "who ships the warehouse orders", own_text):
        for threshold in (0.0, 0.5):
            got = semantic_search(q, eng._embeddings, eng._documents, threshold=threshold)
            want = semantic_search(q, lazy_emb, lazy_docs, threshold=threshold)
            assert got[:2] == want[:2], (q, threshold)
            assert {(r["vec_id"], r["score"]) for r in got[2].collect()} == {
                (r["vec_id"], r["score"]) for r in want[2].collect()
            }
    eng.close()


def test_validate_rules(spark):
    from parquet_pipeline_spark.operators.quality import validate

    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, None, -5.0), (2, "c", 2000.0)],
        "id long, name string, amount double",
    )
    out = {
        (r["rule"], r["column"]): (r["n_violations"], r["passed"])
        for r in validate(
            df,
            [
                ("not_null", "name"),
                ("range", "amount", 0, 100),
                ("unique", "id"),
                ("in_set", "name", ["a", "c"]),
            ],
        ).collect()
    }
    assert out[("not_null", "name")] == (1, False)
    assert out[("range", "amount")] == (2, False)   # -5 and 2000
    assert out[("unique", "id")] == (2, False)      # id=2 twice
    assert out[("in_set", "name")] == (1, False)    # the NULL


def test_rich_catalog_metadata_shape(spark, tmp_path):
    """Catalog entries carry the reference's rich-metadata slots
    (column_metadata / table_metadata / llm_tags / language /
    main_topics / summary), filled deterministically when keyless."""
    csv = tmp_path / "loans.csv"
    csv.write_text(
        "loan_id,amount,borrower\n1,100.5,alice\n2,200.0,bob\n3,,carol\n"
    )
    result = run_ingestion_pipeline(spark, [str(csv)], str(tmp_path / "out"))
    entry = result["tables"]["loans"]

    cm = entry["column_metadata"]
    assert set(cm) == {"loan_id", "amount", "borrower"}
    assert cm["loan_id"]["is_primary_key"] is True
    assert cm["amount"]["nullable"] is True
    assert cm["loan_id"]["nullable"] is False
    tm = entry["table_metadata"]
    assert tm["primary_key"] == "loan_id"
    assert tm["has_duplicates"] is False
    assert 0 < tm["null_percentage"] < 100
    assert 0.0 <= tm["data_quality_score"] <= 1.0
    assert entry["language"] == "en"
    assert entry["llm_tags"] and entry["main_topics"] and entry["summary"]


def test_rich_catalog_llm_overlay(spark, tmp_path):
    """An LLMClient upgrades the free-text slots; malformed fields
    are ignored in favor of the deterministic profile."""
    from parquet_pipeline_spark.plans import FakeClient

    csv = tmp_path / "t.csv"
    csv.write_text("id,v\n1,a\n2,b\n")
    client = FakeClient(
        [
            {
                "columns": {"id": {"description": "row identifier"}},
                "table_metadata": {"data_quality_score": 0.9},
                "tags": ["demo", "tiny"],
                "language": "fr",
                "main_topics": ["testing"],
                "summary": "Two demo rows.",
            }
        ]
    )
    result = run_ingestion_pipeline(
        spark, [str(csv)], str(tmp_path / "out2"), client=client
    )
    entry = result["tables"]["t"]
    assert entry["column_metadata"]["id"]["description"] == "row identifier"
    assert entry["column_metadata"]["id"]["is_primary_key"] is True  # kept
    assert entry["table_metadata"]["data_quality_score"] == 0.9
    assert entry["llm_tags"] == ["demo", "tiny"]
    assert entry["language"] == "fr"
    assert entry["summary"] == "Two demo rows."

    # one call, whose prompt renders the rows the entry's sample holds
    import pandas as pd

    assert len(client.calls) == 1
    prompt = client.calls[0][1]
    assert len(entry["sample"]) == 2
    assert pd.DataFrame(entry["sample"]).to_string(index=False) in prompt


def test_engine_curate_matches_t20_query(spark):
    """The facade's curate() verb must produce exactly the
    driver-verified t20 pipeline's rows for the same table."""
    from parquet_pipeline_spark.engine import Engine
    from parquet_pipeline_spark.registry import QUERIES, load_all

    load_all()
    sf_dir = "/root/testdata/sf0.001"
    eng = Engine(spark)
    eng.attach_dir(sf_dir)
    got = {
        (r["doc_id"], r["n_tokens"], r["kept_spans"], r["split"])
        for r in eng.curate("documents").collect()
    }
    expected = {
        (r["doc_id"], r["n_tokens"], r["kept_spans"], r["split"])
        for r in QUERIES["t20_curation_pipeline"](spark, sf_dir).collect()
    }
    assert got == expected and got


def test_engine_hybrid_search(spark, tmp_path, sf_dir):
    """Engine.search (r16): the hybrid verb equals the hand-composed
    bm25_rank + topk + rrf_fuse over the same index, carries the doc
    text back, and refuses before an index exists / on an empty
    query."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from parquet_pipeline_spark.engine import Engine
    from parquet_pipeline_spark.operators.embedding import embed_query
    from parquet_pipeline_spark.operators.text import bm25_rank
    from parquet_pipeline_spark.operators.vectors import rrf_fuse, topk

    eng = Engine(spark, warehouse_dir=str(tmp_path / "lake3"))
    with _pytest.raises(ValueError, match="build_semantic_index"):
        eng.search("anything")

    eng.catalog.register_path(f"{sf_dir}/documents.parquet", "documents")
    eng.build_semantic_index("documents", "text", id_col="doc_id")
    with _pytest.raises(ValueError, match="empty query"):
        eng.search("   ")

    got = eng.search("spark window sort", k=10).collect()
    assert 0 < len(got) <= 10
    assert [c for c in got[0].asDict()] == [
        "vec_id", "source_table", "text", "score_rrf"
    ]
    assert all(r["source_table"] == "documents" for r in got)
    assert all(r["text"] for r in got)

    # equals the hand-composed pipeline on the same snapshot
    docs, emb = eng._documents, eng._embeddings
    kw = (
        bm25_rank(docs, ["spark", "window", "sort"], id_col="vec_id",
                  text_col="text", max_df_ratio=0.5)
        .orderBy(F.col("score_bm25").desc(), "vec_id").limit(10)
    )
    qv = embed_query("spark window sort", None, dim=64)
    vec = topk(emb, qv, k=10).select("vec_id", "score")
    want = {
        (r["vec_id"], r["score_rrf"])
        for r in rrf_fuse([kw, vec], id_col="vec_id").limit(10).collect()
    }
    assert {(r["vec_id"], r["score_rrf"]) for r in got} == want
