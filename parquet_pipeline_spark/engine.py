"""User-facing facade — the reference-user migration surface.

A user of the reference calls ``run_ingestion_pipeline(files)`` then
``run_rag_pipeline(question)`` (reference:
ingestion_pipeline_langgraph.py:1231-1306;
langgraph_pipeline.py:755-851). ``Engine`` exposes the same two
verbs on Spark with the same defaults — keyless deterministic
planning out of the box, an ``LLMClient`` plugged in when available,
and an optional semantic layer built from any text column. The
semantic index is embedded once, when ``build_semantic_index`` runs,
and held in Spark's cache for the Engine's life, so ``ask`` and
``search`` only embed the question; re-indexing a table replaces its
cached frames and releases the old ones, and ``close`` releases all.

    >>> eng = Engine.local()
    >>> eng.ingest(["data/loans.xlsx", "data/events.jsonl"])
    >>> eng.attach_dir("/lake")                # or attach parquet dirs
    >>> eng.build_semantic_index("documents", "text")   # optional
    >>> result = eng.ask("What is the maximum loan amount?")
    >>> result.summary
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession

from parquet_pipeline_spark.catalog import Catalog
from parquet_pipeline_spark.operators.embedding import embed_text
from parquet_pipeline_spark.pipeline import (
    QueryResult,
    run_ingestion_pipeline,
    run_query_pipeline,
)
from parquet_pipeline_spark.plans.client import LLMClient
from parquet_pipeline_spark.session import get_spark


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        warehouse_dir: str = "./lake",
        client: LLMClient | None = None,
    ):
        self.spark = spark
        self.warehouse_dir = warehouse_dir
        self.client = client
        self.catalog = Catalog(spark)
        # table -> its persisted (documents, embeddings) pair;
        # _documents/_embeddings are the unions over these pairs
        self._index: dict[str, tuple[DataFrame, DataFrame]] = {}
        self._embeddings: DataFrame | None = None
        self._documents: DataFrame | None = None
        # ask()-path views cache (r16): key = catalog (name, path)
        # snapshot, value = {name: DataFrame} resolved once. Temp
        # views are registered by the catalog at attach/ingest time;
        # resolving + re-registering them on every question cost
        # ~0.3 s of pure driver/py4j work per ask().
        self._views_key: tuple | None = None
        self._views_cache: dict[str, DataFrame] = {}

    @classmethod
    def local(cls, **kwargs) -> "Engine":
        return cls(get_spark(), **kwargs)

    # -- ingestion (reference: run_ingestion_pipeline) -----------------
    def ingest(self, input_paths: list[str]) -> dict:
        """Convert files/URLs to cleaned zstd parquet in the
        warehouse and register them as logical tables."""
        result = run_ingestion_pipeline(self.spark, input_paths, self.warehouse_dir)
        for name, entry in result["tables"].items():
            self.catalog.register_path(entry["parquet_path"], name)
        return result

    def attach_dir(self, directory: str) -> list[str]:
        """Register every parquet table under a directory."""
        return [e.name for e in self.catalog.register_dir(directory)]

    # -- semantic layer (reference: vector ingestion + retrieval) ------
    def build_semantic_index(
        self,
        table: str,
        text_col: str,
        id_col: str | None = None,
        dim: int = 64,
        embedder=None,
    ) -> None:
        """Embed one table's text column into the retrieval index.
        ``embedder=None`` resolves via ``default_embedder`` (keyless
        hash embedder, or the HTTP adapter when
        ``$EMBEDDINGS_BASE_URL`` is set — dim-checked); pass an
        explicit embedder to pin the behavior regardless of env.

        The index is built here, not per question: the table's
        (vec_id, text, source_table) rows are deduplicated on
        (source_table, vec_id) and persisted, then embedded from that
        cached frame and persisted again, each with one action. Both
        frames stay cached until ``close``, so every ``ask`` and
        ``search`` reads stored vectors; the text and the vector of one
        vec_id come from the same deduplicated row. Indexing a table
        again unpersists its previous pair and replaces it.

        Row ids default to ``xxhash64(text)``, a pure function of the
        row. Ids are only unique per table; retrieval joins on
        (source_table, vec_id)."""
        from pyspark.sql import functions as F

        df = self.catalog.df(table)
        if id_col is None:
            df = df.withColumn("_row_id", F.xxhash64(F.col(text_col)))
            id_col = "_row_id"
        # release the old pair first: a rebuilt frame with the same plan
        # would otherwise reuse its cache entry and be dropped with it
        for old in self._index.pop(table, ()):
            old.unpersist()
        held: list[DataFrame] = []
        try:
            docs = (
                df.select(F.col(id_col).alias("vec_id"), F.col(text_col).alias("text"))
                .withColumn("source_table", F.lit(table))
                .dropDuplicates(["source_table", "vec_id"])
                .persist()
            )
            held.append(docs)
            docs.count()
            emb = (
                embed_text(docs, "text", "vec_id", embedder=embedder, dim=dim)
                .withColumn("source_table", F.lit(table))
                .persist()
            )
            held.append(emb)
            emb.count()
            self._index[table] = (docs, emb)
        except BaseException:
            for frame in held:
                frame.unpersist()
            raise
        finally:
            pairs = list(self._index.values())
            self._documents = (
                reduce(DataFrame.unionByName, [d for d, _ in pairs]) if pairs else None
            )
            self._embeddings = (
                reduce(DataFrame.unionByName, [e for _, e in pairs]) if pairs else None
            )

    def close(self) -> None:
        """Release the cached semantic index of every table."""
        for pair in self._index.values():
            for frame in pair:
                frame.unpersist()
        self._index.clear()
        self._documents = self._embeddings = None

    # -- query (reference: run_rag_pipeline) ---------------------------
    def ask(self, question: str) -> QueryResult:
        key = tuple(sorted((n, e.path) for n, e in self.catalog.tables.items()))
        if key != self._views_key:
            self._views_cache = {
                name: self.catalog.df(name) for name in self.catalog.tables
            }
            self._views_key = key
        return run_query_pipeline(
            self.spark,
            question,
            self._views_cache,
            client=self.client,
            embeddings=self._embeddings,
            documents=self._documents,
            table_col="source_table",
            # the catalog registered every view at attach/ingest time
            preregistered=True,
        )


    # -- hybrid retrieval (north-star; the t25/v09 machinery) ----------
    def search(
        self,
        query: str,
        table: str | None = None,
        k: int = 10,
        k_rrf: int = 60,
        max_df_ratio: float | None = 0.5,
        embedder=None,
        dim: int = 64,
    ) -> DataFrame:
        """Hybrid retrieval over the semantic index (r16): BM25
        keyword ranking × cosine vector ranking, fused by reciprocal
        rank (``rrf_fuse``) — the engine verb over the machinery the
        t25/v09 driver rows value-hash-verify. The query string is
        both the keyword bag (whitespace-tokenized, stopword-grade
        terms dropped past ``max_df_ratio``) and the embedded
        semantic query (same embedder/dim contract as
        ``build_semantic_index``). ``table`` scopes to one indexed
        source table. Returns (vec_id, source_table, text,
        score_rrf), fused-score desc, ≤ k rows."""
        from pyspark.sql import functions as F

        from parquet_pipeline_spark.operators.embedding import embed_query
        from parquet_pipeline_spark.operators.text import bm25_rank
        from parquet_pipeline_spark.operators.vectors import rrf_fuse, topk

        if self._documents is None or self._embeddings is None:
            raise ValueError("search: call build_semantic_index first")
        terms = [t for t in query.lower().split() if t]
        if not terms:
            raise ValueError("search: empty query")
        docs, emb = self._documents, self._embeddings
        if table is not None:
            docs = docs.filter(F.col("source_table") == table)
            emb = emb.filter(F.col("source_table") == table)
        kw = (
            bm25_rank(
                docs,
                terms,
                id_col="vec_id",
                text_col="text",
                max_df_ratio=max_df_ratio,
            )
            .orderBy(F.col("score_bm25").desc(), "vec_id")
            .limit(k)
        )
        qv = embed_query(query, embedder, dim=dim)
        vec = topk(emb, qv, k=k).select("vec_id", "score")
        fused = rrf_fuse([kw, vec], id_col="vec_id").limit(k)
        return (
            fused.join(
                docs.select("vec_id", "source_table", "text"),
                "vec_id",
                "left",
            )
            .select("vec_id", "source_table", "text", "score_rrf")
            .orderBy(F.col("score_rrf").desc(), "vec_id")
        )

    # -- corpus curation (north-star training-data surface) ------------
    def curate(
        self,
        table: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        span_words: int = 15,
        min_tokens: int = 30,
    ) -> DataFrame:
        """Run the standard curation chain on a registered table:
        corpus-wide span dedup -> token-count gate -> deterministic
        md5 train/val/test split (keyed on the CLEANED text, so
        post-dedup twins land in the same split). Returns
        (id, clean_text, n_tokens, kept_spans, split) ready to
        write as training shards — the same chain the t20 driver
        query value-hash-verifies end to end."""
        from pyspark.sql import functions as F

        from parquet_pipeline_spark.operators.corpus import span_dedup
        from parquet_pipeline_spark.operators.dedup import deterministic_split

        df = self.catalog.df(table)
        cleaned = span_dedup(df, text_col, id_col, span_words)
        gated = cleaned.withColumn(
            "n_tokens",
            F.when(F.col("clean_text") == "", F.lit(0).cast("long")).otherwise(
                F.size(F.split("clean_text", " ")).cast("long")
            ),
        ).filter(F.col("n_tokens") >= min_tokens)
        return deterministic_split(gated, "clean_text").select(
            id_col, "clean_text", "n_tokens", "kept_spans", "split"
        )

    def sql(self, query: str) -> DataFrame:
        """Direct SQL over the registered logical tables (the
        reference's execute_duckdb_query analog, error-as-data)."""
        from parquet_pipeline_spark.errors import run_sql_safe

        return run_sql_safe(self.spark, query)
