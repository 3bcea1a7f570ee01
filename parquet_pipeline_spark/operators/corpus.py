"""Corpus-curation operators (round-5 continuation).

Large-scale training-data cleaning steps beyond the per-document
filters in text.py / the pair-based dedup in dedup.py:

- ``span_dedup`` — C4-style duplicate-span removal: the corpus is
  cut into fixed-width word spans (C4 uses three-sentence windows;
  this corpus has no sentence punctuation, so spans are N-word
  windows) and every span that occurs anywhere else in the corpus is
  removed EXCEPT its first occurrence in (doc_id, span_idx) order.
  Unlike document-level dedup (d01/d03) this rewrites documents
  in place, which is how C4 actually removed boilerplate.

Scale design: spans are content-addressed by md5, so the
first-occurrence decision is one shuffle on the span hash followed
by a row_number window inside each hash group (group size = the
duplication factor of that exact span, tiny). Reassembly is one
groupBy on doc_id — the same key the scan is naturally clustered
by. No crossJoin, no driver-side state; both shuffles are linear in
corpus spans. At 100 TB the span-hash shuffle dominates and is the
theoretical minimum for exact global dedup.

Reference parity: the reference has no corpus-cleaning stage (it is
a RAG ingestion pipeline); these operators extend the training-data
surface the north-star calls for.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from parquet_pipeline_spark import tables
from parquet_pipeline_spark.registry import register


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cached handle (schema + listing), not cached data — see tables.py
    return tables.table(spark, sf_dir, "documents")


def explode_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_words: int = 15,
) -> DataFrame:
    """One row per N-word span: (id, span_idx, span).

    The trailing partial span (< N words) is kept as its own span so
    reassembly is lossless.
    """
    # string-form plan build (r16 round 2): the Column-API chain cost
    # ~570 py4j round-trips per t18 build (tools/py4j_count.py);
    # these parse server-side to the identical expressions (pinned by
    # the t18/t20/t23 oracle rows + the span_dedup property tests)
    return (
        df.selectExpr(
            id_col,
            f"split({text_col}, ' ') AS _words",
            f"CAST(ceil(size(split({text_col}, ' ')) / {span_words}) AS INT) AS _n",
        )
        .selectExpr(id_col, "_words", "explode(sequence(0, _n - 1)) AS span_idx")
        .selectExpr(
            id_col,
            "span_idx",
            f"array_join(slice(_words, span_idx * {span_words} + 1, "
            f"{span_words}), ' ') AS span",
        )
    )


def span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_words: int = 15,
) -> DataFrame:
    """Remove every duplicate span corpus-wide, keeping only the
    first occurrence in (id, span_idx) order; rewrite each document
    from its surviving spans.

    Returns (id, n_spans, kept_spans, clean_text). Documents whose
    spans were ALL removed stay in the output with clean_text = ''.
    """
    # Proxy-shuffle form (r17, VERDICT r16 item 7 — guide §8 "decide
    # with small rows, move big rows once"): the old form exploded
    # spans and shuffled the SPAN TEXT twice (md5-partitioned window,
    # then the groupBy(id) reassembly collect_list). Every decision
    # here depends only on (id, span_idx, md5(span)) — fixed-width
    # proxy rows — so the decision pass shuffles those, aggregates the
    # few DROPPED indexes per document (planted near-dups make ~4% of
    # spans repeats; most docs drop nothing), and re-attaches them to
    # the original document rows with a left join whose small side is
    # the dropped table (AQE broadcasts it; even if it outgrows the
    # broadcast threshold, the doc-id SMJ ships the text ONCE vs the
    # old form's twice). The rewrite re-derives the spans from the
    # document row with the exact explode_spans slicing expressions,
    # so the output is row-identical (pinned by the t18 SQL oracle,
    # the span_dedup property tests, and an exact 250k-row A/B at sf5:
    # OPTIMIZATION_r17.md item 7 — sf5 medians 1.392→1.166, sf0.1 a
    # wash).
    # Precondition (unchanged from the old form's groupBy semantics):
    # ``id_col`` is a key — one row per document.
    n = int(span_words)
    spans = explode_spans(df, text_col, id_col, span_words)
    # content-address by md5 so the dedup shuffle key is fixed-width
    # even for long spans; the window inside a hash group orders the
    # (typically 1-3) occurrences of one exact span. Only the proxy
    # columns enter the exchange — the span text itself is folded to
    # its md5 before the shuffle.
    dropped = (
        spans.selectExpr(
            id_col,
            "span_idx",
            "md5(span) AS _h",
        )
        .selectExpr(
            id_col,
            "span_idx",
            f"(row_number() OVER (PARTITION BY _h "
            f"ORDER BY {id_col}, span_idx) = 1) AS kept",
        )
        .where("NOT kept")
        .groupBy(id_col)
        .agg(F.expr("collect_list(span_idx) AS _dropped"))
    )
    docs = (
        df.selectExpr(id_col, f"split({text_col}, ' ') AS _words")
        .selectExpr(
            id_col,
            "_words",
            f"CAST(ceil(size(_words) / {n}) AS INT) AS _n",
        )
        # explode_spans' sequence(0, _n-1) yields no rows for NULL
        # text, so those documents never reached the old groupBy
        # either — the filter keeps the two forms row-identical
        .where("_n IS NOT NULL")
    )
    return docs.join(dropped, id_col, "left").selectExpr(
        id_col,
        "CAST(_n AS BIGINT) AS n_spans",
        "CAST(_n - coalesce(size(_dropped), 0) AS BIGINT) AS kept_spans",
        "array_join(transform("
        "  filter(sequence(0, _n - 1), "
        "         i -> _dropped IS NULL OR NOT array_contains(_dropped, i)), "
        f" i -> array_join(slice(_words, i * {n} + 1, {n}), ' ')), ' ') "
        "AS clean_text",
    )


# ---------------------------------------------------------------------------
# t18 — driver query: C4-style span dedup over the documents table.
# Spans of 15 words; the synthetic corpus's planted near-duplicates
# make ~4% of spans corpus-wide repeats, so the rewrite is
# non-trivial and every byte of it is value-hash-checked.
# ---------------------------------------------------------------------------
@register(
    "t18_span_dedup",
    oracle="""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), spans AS (
      SELECT doc_id, i AS span_idx,
             array_to_string(w[(i*15+1):((i+1)*15)], ' ') AS span
      FROM words, LATERAL (
        SELECT unnest(range(0, CAST(ceil(len(w)/15.0) AS INT))) AS i)
    ), flagged AS (
      SELECT doc_id, span_idx, span,
             ROW_NUMBER() OVER (PARTITION BY md5(span)
                                ORDER BY doc_id, span_idx) = 1 AS kept
      FROM spans
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS kept_spans,
           COALESCE(string_agg(span, ' ' ORDER BY span_idx)
                      FILTER (WHERE kept), '') AS clean_text
    FROM flagged
    GROUP BY doc_id
    """,
)
def t18_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return span_dedup(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# t20 — end-to-end curation pipeline: span-dedup -> quality gate ->
# deterministic split, composed from the verified building blocks
# (t18's rewrite, a token-count floor, t11's md5 split keyed on the
# CLEANED text so near-identical docs that clean to the same bytes
# land in the same split — leakage-safe after dedup). One query =
# the full "raw corpus in, training shards out" path, value-hashed
# end to end.
#
# Scale: t18's two linear shuffles dominate; the gate and split are
# pure expressions fused into the reassembly output.
# ---------------------------------------------------------------------------
@register(
    "t20_curation_pipeline",
    oracle="""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), spans AS (
      SELECT doc_id, i AS span_idx,
             array_to_string(w[(i*15+1):((i+1)*15)], ' ') AS span
      FROM words, LATERAL (
        SELECT unnest(range(0, CAST(ceil(len(w)/15.0) AS INT))) AS i)
    ), flagged AS (
      SELECT doc_id, span_idx, span,
             ROW_NUMBER() OVER (PARTITION BY md5(span)
                                ORDER BY doc_id, span_idx) = 1 AS kept
      FROM spans
    ), cleaned AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS kept_spans,
             COALESCE(string_agg(span, ' ' ORDER BY span_idx)
                        FILTER (WHERE kept), '') AS clean_text
      FROM flagged GROUP BY doc_id
    ), gated AS (
      SELECT doc_id, kept_spans, clean_text,
             CASE WHEN clean_text = '' THEN 0
                  ELSE CAST(len(string_split(clean_text, ' ')) AS BIGINT)
             END AS n_tokens
      FROM cleaned
    )
    SELECT doc_id, n_tokens, kept_spans,
           CASE WHEN substr(md5(clean_text), 1, 1) BETWEEN '0' AND 'b' THEN 'train'
                WHEN substr(md5(clean_text), 1, 1) BETWEEN 'c' AND 'd' THEN 'val'
                ELSE 'test' END AS split
    FROM gated
    WHERE n_tokens >= 30
    """,
)
def t20_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_pipeline_spark.operators.dedup import deterministic_split

    cleaned = span_dedup(_docs(spark, sf_dir))
    gated = cleaned.withColumn(
        "n_tokens",
        F.when(F.col("clean_text") == "", F.lit(0).cast("long")).otherwise(
            F.size(F.split("clean_text", " ")).cast("long")
        ),
    ).filter(F.col("n_tokens") >= 30)
    return deterministic_split(gated, "clean_text").select(
        "doc_id", "n_tokens", "kept_spans", "split"
    )


# ---------------------------------------------------------------------------
# t23 — WITHIN-document consecutive-duplicate-span removal (the
# `uniq` of corpus cleaning: stuttered boilerplate, repeated nav
# blocks, copy-paste doubling). Complements t18, which dedups
# ACROSS the corpus: here only a span equal to its immediate
# predecessor in the same document is dropped. One lag window per
# document + the same reassembly aggregate — both shuffles key on
# the doc id.
# ---------------------------------------------------------------------------
@register(
    "t23_uniq_spans",
    oracle="""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), spans AS (
      SELECT doc_id, i AS span_idx,
             array_to_string(w[(i*15+1):((i+1)*15)], ' ') AS span
      FROM words, LATERAL (
        SELECT unnest(range(0, CAST(ceil(len(w)/15.0) AS INT))) AS i)
    ), flagged AS (
      SELECT doc_id, span_idx, span,
             span IS DISTINCT FROM LAG(span) OVER (
               PARTITION BY doc_id ORDER BY span_idx) AS kept
      FROM spans
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS kept_spans,
           COALESCE(string_agg(span, ' ' ORDER BY span_idx)
                      FILTER (WHERE kept), '') AS clean_text
    FROM flagged
    GROUP BY doc_id
    """,
)
def t23_uniq_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    spans = explode_spans(_docs(spark, sf_dir))
    w = W.partitionBy("doc_id").orderBy("span_idx")
    flagged = spans.withColumn(
        "kept", ~F.col("span").eqNullSafe(F.lag("span").over(w))
    )

    def _is_kept(s: Column) -> Column:
        return s["kept"]

    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.col("kept").cast("int")).alias("kept_spans"),
        F.array_join(
            F.transform(
                F.filter(
                    F.sort_array(F.collect_list(F.struct("span_idx", "kept", "span"))),
                    _is_kept,
                ),
                lambda s: s["span"],
            ),
            " ",
        ).alias("clean_text"),
    )
