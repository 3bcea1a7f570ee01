"""Pipeline orchestration (SURVEY §2 A44-A46, §3.1-3.2).

The reference wires these flows as LangGraph state machines; the
idiomatic Spark shape is a plain driver loop — each sub-query builds
a lazy DataFrame plan and Catalyst/AQE handle the execution.

Query path (reference graph: langgraph_pipeline.py:652-751):
  decompose → per sub-query: identify tables → register/choose views
  → route → generate SQL → execute (error-as-data) → summary.

Ingestion path (reference graph:
ingestion_pipeline_langgraph.py:1189-1228): per input file:
format-dispatch read → clean columns → zstd parquet → catalog entry.
The catalog profile (row count, per-column null and approx-distinct
counts, approx-distinct rows) is observed during the parquet write,
so each table is scanned once; the catalog entry then reads only the
written schema and a 5-row sample. File conversions run on a small
driver thread pool like the reference's ThreadPool(4) — each Spark
job is itself cluster-parallel, the pool just overlaps job
scheduling.
"""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession

from parquet_pipeline_spark.context import (
    sample_head,
    summarize_result,
    to_markdown,
)
from parquet_pipeline_spark.errors import error_frame, run_sql_safe
from parquet_pipeline_spark.plans.client import LLMClient
from parquet_pipeline_spark.plans.planner import (
    choose_strategy,
    decompose_query,
    generate_sql,
    identify_tables,
    route_intent,
)
from parquet_pipeline_spark.sources.readers import read_any
from parquet_pipeline_spark.sources.writers import write_parquet


@dataclass
class QueryResult:
    question: str
    sub_queries: list[str] = field(default_factory=list)
    results: dict[str, DataFrame] = field(default_factory=dict)
    sql: dict[str, str] = field(default_factory=dict)
    intents: dict[str, str] = field(default_factory=dict)
    summary: str = ""


def _catalog_columns(views: dict[str, DataFrame]) -> dict[str, list[str]]:
    return {name: list(df.columns) for name, df in views.items()}


def _union_view(spark: SparkSession, views: dict[str, DataFrame], name: str) -> None:
    """UNION-by-name over all selected tables (reference:
    duckdb_util.py:166-182): union of column sets, NULLs where a
    table lacks a column."""
    dfs = list(views.values())
    out = dfs[0]
    for other in dfs[1:]:
        out = out.unionByName(other, allowMissingColumns=True)
    out.createOrReplaceTempView(name)


def semantic_search(
    question: str,
    embeddings: DataFrame,
    documents: DataFrame | None = None,
    table_col: str = "source_table",
    id_col: str = "vec_id",
    embedder=None,
    k: int = 10,
    threshold: float = 0.2,
    top_tables: int = 10,
    diversify: bool = False,
    mmr_lambda: float = 0.7,
) -> tuple[list[str], str, DataFrame]:
    """The reference's semantic-search node (A30-A35, A49): embed the
    question, score each "collection" (``table_col``) by its max
    cosine, keep score ≥ threshold / top-N tables (reference
    defaults 0.5 / 10, chroma_retrieval_util.py:148-150), take the
    global top-k hits, and assemble attributed context. One scan +
    one hash-aggregate — no per-collection probe loop.

    Returns (relevant_tables, context_string, hits_df)."""
    from pyspark.sql import functions as F

    from parquet_pipeline_spark.operators.embedding import embed_query
    from parquet_pipeline_spark.operators.vectors import scored

    first = embeddings.select("embedding").first()
    dim = len(first["embedding"]) if first else 64
    qv = embed_query(question, embedder, dim=dim)

    s = scored(embeddings, qv)
    tables = [
        r[table_col]
        for r in s.groupBy(table_col)
        .agg(F.max("score").alias("best"))
        .filter(F.col("best") >= threshold)
        .orderBy(F.col("best").desc(), F.col(table_col))
        .limit(top_tables)
        .collect()
    ]
    if diversify:
        # MMR re-rank: distributed top-5k pool, bounded greedy
        # driver-side selection — trades a little relevance for
        # context diversity (near-duplicate chunks crowd out
        # information in a fixed-k context)
        from parquet_pipeline_spark.operators.vectors import mmr_rerank

        picked = mmr_rerank(
            embeddings.withColumnRenamed(id_col, "vec_id"),
            qv,
            k=k,
            pool=5 * k,
            lam=mmr_lambda,
        )
        ids = [v for v, _, _ in picked]
        hits = s.filter(F.col(id_col).isin(ids))
    else:
        hits = s.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)
    if documents is not None:
        # join on (table, id) when the documents side carries the
        # table column — per-table ids (xxhash64 of the text, or
        # caller-supplied) are only unique WITHIN a table, so an
        # id-only join could attribute another table's text
        keys = [table_col, id_col] if table_col in documents.columns else [id_col]
        docs = documents.select(*keys, F.col("text").alias("_chunk"))
        hits = hits.join(docs, keys, "left")
        rows = hits.collect()
        context = "\n\n".join(
            f"[Source: {r[table_col]}]\n{r['_chunk']}" for r in rows
        )
    else:
        context = ""
    return tables, context, hits


def run_query_pipeline(
    spark: SparkSession,
    question: str,
    views: dict[str, DataFrame],
    client: LLMClient | None = None,
    embeddings: DataFrame | None = None,
    documents: DataFrame | None = None,
    embedder=None,
    table_col: str = "source_table",
    semantic_threshold: float = 0.5,
    preregistered: bool = False,
) -> QueryResult:
    """The reference's RAG query loop, Spark-first and keyless-safe.

    ``views``: logical tables already registered (name → DataFrame).
    ``embeddings``/``documents``: optional semantic layer — when a
    sub-query routes to SEMANTIC_SEARCH, retrieval narrows the table
    set (A49) and injects attributed context.
    ``preregistered``: the caller guarantees every entry in ``views``
    is ALREADY live as a temp view under its key on this session
    (the Engine's catalog registers views at attach/ingest time), so
    the re-registration loop — ~20 ms of py4j per view, paid per
    question — is skipped (r16, guide §5 driver costs).
    """
    if not preregistered:
        for name, df in views.items():
            df.createOrReplaceTempView(name)
    catalog = _catalog_columns(views)
    res = QueryResult(question=question)
    if not views:
        # zero registered tables: error-as-data, not a StopIteration
        # out of the table-selection loop (found while wiring the r10
        # planner battery)
        res.sub_queries = [question]
        res.results[question] = error_frame(
            spark, "no logical tables registered — ingest or attach data first"
        )
        res.summary = summarize_result(question, res.results[question])
        return res
    res.sub_queries = decompose_query(question, client)

    for sub in res.sub_queries:
        tables, join_key = identify_tables(sub, catalog, client)
        strategy = choose_strategy(tables, join_key)
        selected = (
            dict(views)
            if tables == ["*"]
            else {t: views[t] for t in tables if t in views}
        ) or dict(views)

        intent_early = route_intent(sub, client)
        semantic_context = ""
        if intent_early == "SEMANTIC_SEARCH" and embeddings is not None:
            rel_tables, semantic_context, _hits = semantic_search(
                sub,
                embeddings,
                documents,
                table_col=table_col,
                embedder=embedder,
                threshold=semantic_threshold,
            )
            narrowed = {t: views[t] for t in rel_tables if t in views}
            if narrowed:  # A49: retrieval replaces the target set
                selected = narrowed
                strategy = choose_strategy(list(narrowed), join_key)

        if strategy == "union" and len(selected) > 1:
            _union_view(spark, selected, "unified_data")
            sql_tables = {"unified_data": sorted(
                {c for df in selected.values() for c in df.columns}
            )}
        elif strategy == "join" and len(selected) > 1 and join_key:
            # JOIN mode (reference: aliased tables + LLM-written join,
            # duckdb_util.py:184-225): the keyless-deterministic analog
            # pre-joins on the inferred key and exposes one view
            dfs = list(selected.values())
            joined = dfs[0]
            for other in dfs[1:]:
                joined = joined.join(other, join_key, "inner")
            joined.createOrReplaceTempView("joined_data")
            sql_tables = {"joined_data": list(joined.columns)}
        else:
            sql_tables = {t: list(df.columns) for t, df in selected.items()}

        res.intents[sub] = intent_early

        schema_ctx = "\n".join(
            f"Logical Table: {t} (Columns: {', '.join(cols)})"
            for t, cols in sql_tables.items()
        )
        if semantic_context:
            # the reference embeds retrieved chunks in the SQL prompt
            # (langgraph_pipeline.py:433-437) so generated predicates
            # can use exact retrieved values
            schema_ctx = f"{schema_ctx}\n\nSemantic context:\n{semantic_context}"
        first = next(iter(selected.values()))
        # The 10-row sample feeds the LLM prompt only; the keyless
        # fallback grammar never reads it, so don't pay a Spark job
        # per sub-query to fetch context nobody consumes (r16, guide
        # §5: driver-side work on the query path). With a client the
        # sample is fetched exactly as before.
        sample_md = (
            to_markdown(sample_head(first, 10)) if client is not None else ""
        )
        sql = generate_sql(sub, sql_tables, client, schema_ctx, sample_md)
        res.sql[sub] = sql
        res.results[sub] = run_sql_safe(spark, sql)

    res.summary = "\n\n".join(
        summarize_result(sub, df) for sub, df in res.results.items()
    )
    return res


def profile_aggs(cols: list[str]) -> list:
    """The catalog profile as aggregate expressions over a table with
    columns ``cols``: ``_n`` rows, ``_nulls_i``/``_dist_i`` null and
    approx-distinct counts of column i, ``_drows`` approx-distinct
    whole rows. Ingestion observes them during the parquet write
    (``DataFrame.observe``), so no extra scan computes them."""
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1)).alias("_n")]
    for i, c in enumerate(cols):
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"_nulls_{i}")
        )
        aggs.append(F.approx_count_distinct(c).alias(f"_dist_{i}"))
    aggs.append(
        F.approx_count_distinct(F.struct(*[F.col(c) for c in cols])).alias("_drows")
    )
    return aggs


def enrich_catalog_entry(
    dtypes: dict[str, str],
    name: str,
    profile: dict,
    sample: list[dict],
    client=None,
) -> dict:
    """Rich catalog metadata in the reference's output shape
    (ingestion_pipeline_langgraph.py:580-592): per-column
    description/nullable/is_primary_key, table primary/foreign keys,
    quality score, tags/language/topics/summary.

    Every slot is filled DETERMINISTICALLY from the table's schema
    (``dtypes``, column → type in column order) and its ``profile``
    — the values of ``profile_aggs``, observed while the table was
    written — so building the entry scans no data. An ``LLMClient`` upgrades the free-text slots
    (descriptions, tags, topics, summary) when configured, reference
    prompt contract (ingestion_pipeline_langgraph.py:428-526); its
    prompt shows the ``sample`` rows the catalog entry already holds.
    LLM failure falls back to the deterministic values —
    error-as-degradation, never raise."""
    cols = list(dtypes)
    n = profile["_n"] or 0

    column_metadata: dict[str, dict] = {}
    pk = None
    fks: list[str] = []
    total_nulls = 0
    for i, c in enumerate(cols):
        nulls = profile[f"_nulls_{i}"] or 0
        dist = profile[f"_dist_{i}"] or 0
        total_nulls += nulls
        # approx_count_distinct has ~2% default error — 0.95 margin
        unique = n > 0 and nulls == 0 and dist >= 0.95 * n
        keyish = c.lower().endswith(("id", "key")) or c.lower() == "id"
        if keyish and unique and pk is None:
            pk = c
        elif keyish and not unique:
            fks.append(c)
        column_metadata[c] = {
            "description": f"{dtypes[c]} column '{c}'",
            "nullable": bool(nulls > 0),
            "is_primary_key": False,
        }
    if pk:
        column_metadata[pk]["is_primary_key"] = True
    cells = n * len(cols)
    null_pct = round(100.0 * total_nulls / cells, 2) if cells else 0.0
    has_dups = bool(n > 0 and (profile["_drows"] or 0) < 0.95 * n)
    tags = sorted(
        {
            "time-series" if any("timestamp" in t or t == "date" for t in dtypes.values()) else "tabular",
            "text" if any(t == "string" for t in dtypes.values()) else "tabular",
        }
    )
    entry = {
        "column_metadata": column_metadata,
        "table_metadata": {
            "primary_key": pk,
            "foreign_keys": fks,
            "data_quality_score": round(1.0 - null_pct / 100.0, 4),
            "has_duplicates": has_dups,
            "null_percentage": null_pct,
        },
        "llm_tags": tags,
        "language": "en",
        "main_topics": [name.replace("_", "-")],
        "summary": f"Table '{name}' with {n} rows and {len(cols)} columns.",
    }

    if client is not None:
        try:
            import pandas as pd

            rows = pd.DataFrame(sample, columns=cols).to_string(index=False)[:2000]
            col_info = "\n".join(f"- {c}: {dtypes[c]}" for c in cols)
            raw = client.complete(
                "You annotate dataset catalogs. Respond with JSON only.",
                "Analyze this dataset and provide metadata as JSON with keys "
                "'columns' ({name: {description, nullable, is_primary_key}}), "
                "'table_metadata' ({primary_key, foreign_keys, "
                "data_quality_score, has_duplicates, null_percentage}), "
                "'tags' (3-7 lowercase strings), 'language' (ISO 639-1), "
                "'main_topics' (2-4 keywords), 'summary' (one sentence).\n"
                f"Table: {name}\nColumns:\n{col_info}\nSample rows:\n{rows}",
                json_mode=True,
            )
            llm = json.loads(raw)
            for c, meta in (llm.get("columns") or {}).items():
                if c in column_metadata and isinstance(meta, dict):
                    column_metadata[c].update(meta)
            if isinstance(llm.get("table_metadata"), dict):
                entry["table_metadata"].update(llm["table_metadata"])
            for key, field_ in (("tags", "llm_tags"), ("language", "language"),
                                ("main_topics", "main_topics"), ("summary", "summary")):
                if llm.get(key):
                    entry[field_] = llm[key]
        except Exception:
            pass  # deterministic profile stands
    return entry


MANIFEST_NAME = "_ingest_manifest.json"


_SIG_HASH_MAX_BYTES = 4 * 1024 * 1024


def _input_sig(path: str) -> dict | None:
    """Staleness signature of a local input; None when unstattable
    (remote URL) — such inputs are never skipped on resume.

    mtime+size alone can miss an in-place rewrite of identical size
    within one mtime tick (coarse-granularity filesystems, fast CI
    writes), so inputs up to 4 MiB carry a full content md5 — cheap
    relative to converting them. Larger inputs carry a SAMPLED md5
    over the first/middle/last 1 MiB blocks: O(1) I/O regardless of
    size, and an in-place rewrite that preserves size must now also
    preserve all three sampled regions to be missed — the residual
    blind spot is a same-size edit confined to unsampled middle
    bytes within one mtime tick."""
    try:
        st = os.stat(path)
        sig: dict = {"mtime": st.st_mtime, "size": st.st_size}
        if os.path.isfile(path):
            import hashlib

            h = hashlib.md5()
            if st.st_size <= _SIG_HASH_MAX_BYTES:
                with open(path, "rb") as fh:
                    for block in iter(lambda: fh.read(1 << 20), b""):
                        h.update(block)
                sig["md5"] = h.hexdigest()
            else:
                block = 1 << 20
                with open(path, "rb") as fh:
                    for off in (0, max(0, st.st_size // 2 - block // 2),
                                max(0, st.st_size - block)):
                        fh.seek(off)
                        h.update(fh.read(block))
                sig["md5_sampled"] = h.hexdigest()
        return sig
    except OSError:
        return None


def run_ingestion_pipeline(
    spark: SparkSession,
    input_paths: list[str],
    output_dir: str,
    max_workers: int = 4,
    client=None,
    resume: bool = True,
) -> dict:
    """Convert heterogeneous inputs to cleaned zstd parquet + build
    the catalog JSON (reference output shape:
    ingestion_pipeline_langgraph.py:913-1121; rich metadata slots
    via ``enrich_catalog_entry`` — deterministic profiling, LLM
    overlay when a client is configured).

    One pass per table: the write observes ``profile_aggs`` (row
    count, null and approx-distinct counts), and the catalog entry is
    built from that profile, the written schema and one 5-row sample
    — the written data is never scanned again.

    Resumable: a per-file completion manifest (``_ingest_manifest
    .json`` in ``output_dir``, updated as each conversion lands)
    records input signature → produced tables and their observed
    profiles, so a crashed or re-run ingest skips inputs already
    converted whose signature is unchanged — the durable-checkpoint
    role the reference's MemorySaver plays
    (ingestion_pipeline_langgraph.py:1222-1223), without a
    process-lifetime-bound store. An entry without a profile for
    every table is stale and its input is reconverted."""
    import threading

    os.makedirs(output_dir, exist_ok=True)
    catalog: dict[str, dict] = {}
    errors: list[dict] = []

    manifest_path = os.path.join(output_dir, MANIFEST_NAME)
    manifest: dict[str, dict] = {}
    if resume and os.path.exists(manifest_path):
        try:
            with open(manifest_path) as fh:
                manifest = json.load(fh)
        except (OSError, ValueError):
            manifest = {}
    m_lock = threading.Lock()

    # (table name, parquet dir, observed profile) per produced table
    produced: list[tuple[str, str, dict]] = []
    skipped: list[str] = []
    to_convert: list[str] = []
    for path in input_paths:
        entry = manifest.get(path) or {}
        sig = _input_sig(path)
        tables = entry.get("tables", [])
        profiles = entry.get("profiles") or {}
        if (
            entry
            and sig is not None
            and entry.get("sig") == sig
            and all(os.path.exists(d) and n in profiles for n, d in tables)
        ):
            produced.extend((n, d, profiles[n]) for n, d in tables)
            skipped.append(path)
        else:
            to_convert.append(path)

    def convert(path: str) -> list[tuple[str, str, dict]]:
        sig = _input_sig(path)
        tables = read_any(spark, path)
        out = []
        profiles = {}
        for name, df in tables.items():
            dest = os.path.join(output_dir, f"{name}.parquet")
            obs = Observation()
            write_parquet(df.observe(obs, *profile_aggs(df.columns)), dest)
            out.append((name, dest))
            profiles[name] = obs.get
        # checkpoint this input as done the moment its outputs land
        with m_lock:
            manifest[path] = {"sig": sig, "tables": out, "profiles": profiles}
            tmp = manifest_path + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(manifest, fh, indent=1)
            os.replace(tmp, manifest_path)
        return [(n, d, profiles[n]) for n, d in out]

    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        futures = {pool.submit(convert, p): p for p in to_convert}
        for fut, path in futures.items():
            try:
                produced.extend(fut.result())
            except Exception as e:  # error-as-data at the file level
                errors.append({"input": path, "error": str(e)})

    # serial, in ``produced`` order, so LLM calls keep a fixed order
    for name, dest, profile in produced:
        df = spark.read.parquet(dest)
        dtypes = dict(df.dtypes)
        sample = json.loads(
            json.dumps(
                [r.asDict(recursive=True) for r in df.limit(5).collect()],
                default=str,
            )
        )
        catalog[name] = {
            "parquet_path": dest,
            "columns": df.columns,
            "dtypes": dtypes,
            "row_count": profile["_n"],
            "sample": sample,
            **enrich_catalog_entry(dtypes, name, profile, sample, client=client),
        }

    return {
        "status": "completed" if not errors else ("partial" if catalog else "failed"),
        "tables": catalog,
        "errors": errors,
        "skipped_inputs": skipped,
    }
