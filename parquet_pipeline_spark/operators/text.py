"""Text operators: row→text serialization, chunking, and the
text-analysis suite (language-ID, quality scoring, token counting,
fingerprinting) for training-data pipelines.

Reference parity:
- A26 row→text serialization: ``"[index N] col:val | col:val"`` with
  NULL for missing values (reference: chroma_ingestion_util.py:107-114);
- A27 greedy size-bounded chunking to ~1000 chars with row-index
  metadata (reference: chroma_ingestion_util.py:97-143). Exact greedy
  packing is inherently sequential per stream, so the distributed
  operator is a prefix-sum (window cumulative length) assignment —
  identical packing except at chunk edges; the exact-greedy variant
  is provided as ``greedy_chunk`` via applyInPandas for parity tests.

Everything below is pure column expressions — no Python in the row
path, so a 100 TB documents scan stays inside whole-stage codegen.
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parquet_pipeline_spark.functions import word_shingles, word_tokens
from parquet_pipeline_spark import tables
from parquet_pipeline_spark.registry import register


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cached handle (schema + listing), not cached data — see tables.py
    return tables.table(spark, sf_dir, "documents")


# ---------------------------------------------------------------------------
# A26 — row→text serialization
# ---------------------------------------------------------------------------
def serialize_rows(df: DataFrame, index_col: str, index_label: str = "index") -> Column:
    """``[index N] col:val | col:val`` with NaN/NULL → "NULL"
    (reference: chroma_ingestion_util.py:107-114)."""
    parts = [
        F.concat(F.lit(f"{c}:"), F.coalesce(F.col(c).cast("string"), F.lit("NULL")))
        for c in df.columns
    ]
    return F.concat(
        F.lit(f"[{index_label} "),
        F.col(index_col).cast("string"),
        F.lit("] "),
        F.concat_ws(" | ", *parts),
    )


@register(
    "t01_serialize_rows",
    oracle="""
    SELECT doc_id,
           '[index ' || CAST(doc_id AS VARCHAR) || '] ' ||
           'doc_id:' || COALESCE(CAST(doc_id AS VARCHAR), 'NULL') ||
           ' | text:' || COALESCE(text, 'NULL') ||
           ' | lang:' || COALESCE(lang, 'NULL') ||
           ' | source:' || COALESCE(source, 'NULL') ||
           ' | n_chars:' || COALESCE(CAST(n_chars AS VARCHAR), 'NULL') AS row_text
    FROM documents
    WHERE doc_id < 50
    """,
)
def t01_serialize_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 50)
    return docs.select(
        "doc_id", serialize_rows(docs, "doc_id").alias("row_text")
    )


# ---------------------------------------------------------------------------
# A27 — chunk assignment (distributed prefix-sum variant)
# ---------------------------------------------------------------------------
def assign_chunks(
    df: DataFrame,
    order_col: str,
    len_col: Column,
    max_chars: int = 2000,
    partition_col: str | None = None,
) -> DataFrame:
    """Chunk-id assignment by cumulative length: a row belongs to
    chunk floor(start_offset / max_chars), where start_offset is the
    cumulative serialized length of all prior rows (+1 per row for
    the '\\n' joiner). Integer-exact, order-preserving, windowed —
    the distributed approximation of the reference's greedy packer.

    ``partition_col`` is the distributed path: chunking runs per
    partition value (per file/source — the same granularity the
    reference chunks at, chroma_ingestion_util.py:190-331) and the
    window shuffles on that key. ``partition_col=None`` builds a
    GLOBAL ordered window — one task holds the whole table — and is
    only acceptable for small/test-scale inputs."""
    w = W.orderBy(order_col) if partition_col is None else W.partitionBy(
        partition_col
    ).orderBy(order_col)
    line_len = len_col + 1
    cum = F.sum(line_len).over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
    return df.withColumn(
        "chunk_id", F.floor((cum - line_len) / max_chars).cast("bigint")
    )


@register(
    "t02_chunk_assignment",
    oracle="""
    SELECT source, chunk_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM (
      SELECT source, doc_id, n_chars,
             CAST(FLOOR((SUM(n_chars + 1) OVER (PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - (n_chars + 1)) / 2000) AS BIGINT) AS chunk_id
      FROM documents
    )
    GROUP BY source, chunk_id
    """,
)
def t02_chunk_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk per ``source`` (per-file granularity, like the reference's
    per-file ingestion) so the window shuffles on the partition key
    instead of funnelling the whole table through one task."""
    docs = _docs(spark, sf_dir).selectExpr("source", "doc_id", "n_chars")
    chunked = assign_chunks(
        docs, "doc_id", F.col("n_chars"), max_chars=2000, partition_col="source"
    )
    return chunked.groupBy("source", "chunk_id").agg(
        F.expr("count(1) AS n_rows"),
        F.expr("sum(n_chars) AS total_chars"),
        F.expr("min(doc_id) AS first_doc"),
        F.expr("max(doc_id) AS last_doc"),
    )


# -- exact greedy packer (parity with reference semantics; sequential
#    per group, so it runs via applyInPandas with one group per file/
#    source — the same granularity the reference chunks at) ----------
def greedy_chunk(
    df: DataFrame,
    group_col: str,
    order_col: str,
    text_col: str,
    max_chars: int = 1000,
) -> DataFrame:
    """Exact greedy packing (reference: chroma_ingestion_util.py:117-143):
    a chunk closes when adding the next row would exceed ``max_chars``
    and the chunk is non-empty. Returns (group, chunk_id, chunk_text,
    row_ids). Sequential per group — groups run in parallel."""
    out_schema = (
        f"{group_col} string, chunk_id bigint, chunk_text string, row_ids array<bigint>"
    )

    def pack(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col)
        chunks, cur_rows, cur_texts, cur_len, cid = [], [], [], 0, 0
        for rid, txt in zip(pdf[order_col], pdf[text_col]):
            t = "" if txt is None else str(txt)
            add = len(t) + (1 if cur_texts else 0)
            if cur_texts and cur_len + add > max_chars:
                chunks.append((key[0], cid, "\n".join(cur_texts), list(cur_rows)))
                cid += 1
                cur_rows, cur_texts, cur_len = [], [], 0
                add = len(t)
            cur_rows.append(rid)
            cur_texts.append(t)
            cur_len += add
        if cur_texts:
            chunks.append((key[0], cid, "\n".join(cur_texts), list(cur_rows)))
        return pd.DataFrame(
            chunks, columns=[group_col, "chunk_id", "chunk_text", "row_ids"]
        )

    return df.groupBy(group_col).applyInPandas(pack, schema=out_schema)


# ---------------------------------------------------------------------------
# text analysis: language-ID (stopword heuristic)
# ---------------------------------------------------------------------------
EN_STOPWORDS = ("the", "a", "of", "and", "in", "to", "is")


def stopword_ratio(text_col: str, stopwords: tuple[str, ...] = EN_STOPWORDS) -> Column:
    toks = word_tokens(text_col)
    n_stop = F.size(F.filter(toks, lambda w: w.isin(*stopwords)))
    n = F.size(toks)
    return F.when(n > 0, n_stop.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


@register(
    "t03_langid",
    oracle="""
    SELECT doc_id,
           CASE WHEN ratio >= 0.08 THEN 'en' ELSE 'other' END AS pred_lang,
           ROUND(ratio, 6) AS stop_ratio
    FROM (
      SELECT doc_id,
             CASE WHEN len(toks) > 0
                  THEN len(list_filter(toks, w -> w IN ('the','a','of','and','in','to','is')))::DOUBLE
                       / len(toks)
                  ELSE 0.0 END AS ratio
      FROM (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> w <> '') AS toks
            FROM documents)
    )
    """,
)
def t03_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/stopword language heuristic: English-stopword density.
    (The synthetic corpus is shared-vocabulary, so the classifier's
    value here is determinism + plumbing, not linguistics.)"""
    docs = _docs(spark, sf_dir)
    ratio = stopword_ratio("text")
    return docs.select(
        "doc_id",
        F.when(ratio >= 0.08, F.lit("en")).otherwise(F.lit("other")).alias("pred_lang"),
        F.round(ratio, 6).alias("stop_ratio"),
    )


# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------
def quality_features(text_col: str) -> dict[str, Column]:
    toks = word_tokens(text_col)
    n_words = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    uniq_ratio = F.when(n_words > 0, n_uniq.cast("double") / n_words.cast("double")).otherwise(
        F.lit(0.0)
    )
    # length credit saturates at 50 words; diversity is type-token ratio
    score = 0.5 * F.least(n_words.cast("double") / 50.0, F.lit(1.0)) + 0.5 * uniq_ratio
    return {
        "n_words": n_words,
        "n_uniq_words": n_uniq,
        "uniq_ratio": uniq_ratio,
        "quality": score,
    }


@register(
    "t04_quality_score",
    oracle="""
    SELECT doc_id,
           CAST(len(toks) AS INT) AS n_words,
           CAST(len(list_distinct(toks)) AS INT) AS n_uniq_words,
           ROUND(CASE WHEN len(toks) > 0
                 THEN len(list_distinct(toks))::DOUBLE / len(toks) ELSE 0.0 END, 6) AS uniq_ratio,
           ROUND(0.5 * least(len(toks)::DOUBLE / 50.0, 1.0)
                 + 0.5 * (CASE WHEN len(toks) > 0
                          THEN len(list_distinct(toks))::DOUBLE / len(toks) ELSE 0.0 END), 6) AS quality
    FROM (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> w <> '') AS toks
          FROM documents)
    """,
)
def t04_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # string-form twin of quality_features (r16 round 2: 433 → ~25
    # py4j round-trips per build; tools/py4j_count.py). The snippets
    # parse to the same expressions word_tokens/quality_features
    # build — pinned by the t04 oracle row, which hash-checks every
    # column against the DuckDB recomputation.
    docs = _docs(spark, sf_dir)
    toks = r"filter(split(trim(text), '\\s+'), w -> w != '')"
    nw = f"size({toks})"
    nu = f"size(array_distinct({toks}))"
    ur = (
        f"CASE WHEN {nw} > 0 THEN CAST({nu} AS DOUBLE) / CAST({nw} AS DOUBLE) "
        "ELSE 0.0D END"
    )
    return docs.selectExpr(
        "doc_id",
        f"{nw} AS n_words",
        f"{nu} AS n_uniq_words",
        f"round({ur}, 6) AS uniq_ratio",
        f"round(0.5D * least(CAST({nw} AS DOUBLE) / 50.0D, 1.0D) "
        f"+ 0.5D * ({ur}), 6) AS quality",
    )


# ---------------------------------------------------------------------------
# token counting (whitespace + BPE-ish chars/4 estimate)
# ---------------------------------------------------------------------------
@register(
    "t05_token_count",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> w <> ''))) AS BIGINT) AS ws_tokens,
           CAST(SUM(CAST(CEIL(length(text) / 4.0) AS BIGINT)) AS BIGINT) AS approx_bpe_tokens,
           ROUND(AVG(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> w <> ''))), 4) AS avg_ws_tokens
    FROM documents
    GROUP BY lang
    """,
)
def t05_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    # string-form build (r16 round 2: 183 → ~30 py4j round-trips);
    # same expressions, pinned by the t05 oracle row. Pin query —
    # bases re-derived this round.
    docs = _docs(spark, sf_dir)
    n_ws = r"size(filter(split(trim(text), '\\s+'), w -> w != ''))"
    return docs.groupBy("lang").agg(
        F.expr("count(1) AS n_docs"),
        F.expr(f"CAST(sum({n_ws}) AS BIGINT) AS ws_tokens"),
        F.expr(
            "CAST(sum(ceil(length(text) / 4.0D)) AS BIGINT) "
            "AS approx_bpe_tokens"
        ),
        F.expr(f"round(avg({n_ws}), 4) AS avg_ws_tokens"),
    )


# ---------------------------------------------------------------------------
# document fingerprinting (raw + whitespace-normalized)
# ---------------------------------------------------------------------------
# md5 (not xxhash64) so the fingerprint is portable across engines:
# Spark's md5(binary) and DuckDB's md5(text) agree on utf8 bytes,
# giving this op a full hash-checked oracle twin (the t11
# deterministic-split pattern). md5 here is a content fingerprint,
# not a security primitive.
@register(
    "t06_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(text) AS fp_raw,
           md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp_normalized
    FROM documents
    """,
)
def t06_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    return docs.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("fp_raw"),
        F.md5(norm.cast("binary")).alias("fp_normalized"),
    )


# exact-greedy chunker exposed as a driver query. The oracle is a
# recursive CTE that replays the same state machine row-by-row per
# source: state = (chunk_id, cur_len, n_in_chunk); a chunk closes
# when cur_len + len + 1 joiner would exceed max_chars. The final
# row of each chunk carries the chunk's joined length and row count,
# so MAX(cur_len)/MAX(n_in_chunk) per (source, chunk_id) recovers
# the aggregate shape — a full hash-checked twin of the
# applyInPandas packer (reference: chroma_ingestion_util.py:117-143).
@register(
    "t07_greedy_chunks",
    oracle="""
    WITH RECURSIVE rows_ord AS (
      SELECT source, doc_id, length(COALESCE(text, '')) AS len,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents
    ),
    packed AS (
      SELECT source, rn, CAST(0 AS BIGINT) AS chunk_id,
             len AS cur_len, 1 AS n_in_chunk
      FROM rows_ord WHERE rn = 1
      UNION ALL
      SELECT r.source, r.rn,
             CASE WHEN p.cur_len + r.len + 1 > 1000
                  THEN p.chunk_id + 1 ELSE p.chunk_id END,
             CASE WHEN p.cur_len + r.len + 1 > 1000
                  THEN r.len ELSE p.cur_len + r.len + 1 END,
             CASE WHEN p.cur_len + r.len + 1 > 1000
                  THEN 1 ELSE p.n_in_chunk + 1 END
      FROM packed p
      -- IS NOT DISTINCT FROM: a NULL-source group must recurse too
      -- (plain = would strand it at its rn=1 row; ADVICE r8)
      JOIN rows_ord r ON r.source IS NOT DISTINCT FROM p.source
                     AND r.rn = p.rn + 1
    )
    SELECT source, chunk_id,
           CAST(MAX(cur_len) AS INT) AS chunk_len,
           CAST(MAX(n_in_chunk) AS INT) AS n_rows
    FROM packed
    GROUP BY source, chunk_id
    """,
)
def t07_greedy_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "text", "source")
    out = greedy_chunk(docs, "source", "doc_id", "text", max_chars=1000)
    return out.select(
        "source",
        "chunk_id",
        F.length("chunk_text").alias("chunk_len"),
        F.size("row_ids").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# t08 — corpus word-bigram counts (n-gram LM statistics)
# ---------------------------------------------------------------------------
@register(
    "t08_word_bigrams",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> w <> '') AS ws
      FROM documents
    ),
    bigrams AS (
      SELECT unnest([ws[i] || ' ' || ws[i+1] FOR i IN range(1, len(ws))]) AS bigram
      FROM toks
    )
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM bigrams
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 20
    """,
)
def t08_word_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)

    # pair rows built by EXPLODING the index sequence (native
    # generator) and concatenating via codegen'd element_at — the
    # r11 HOF-audit rewrite: the old transform(...)-then-explode form
    # paid one interpreted lambda invocation per bigram just to build
    # an array that was immediately exploded (12.8 → 8.0 s on the
    # full sf5 corpus; exceptAll-equal, BENCH_NOTES.md §HOF
    # classification sweep). The
    # size >= 2 filter replaces the old empty-array guard: 0/1-token
    # docs emit no bigrams either way, and sequence(1, 0) would
    # descend under ANSI.
    toks = docs.select(word_tokens("text").alias("ws")).filter(F.size("ws") >= 2)
    return (
        toks.select(
            "ws", F.explode(F.sequence(F.lit(1), F.size("ws") - 1)).alias("i")
        )
        .select(
            F.concat_ws(
                " ",
                F.element_at("ws", F.col("i")),
                F.element_at("ws", F.col("i") + 1),
            ).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# t10 — vocabulary coverage (tokenizer-budget analysis): top-50 words
# by corpus frequency with cumulative share of all tokens. The
# cumulative window is global but runs over the LIMIT-50 result —
# bounded rows, never the corpus.
# ---------------------------------------------------------------------------
@register(
    "t10_vocab_coverage",
    oracle="""
    WITH wc AS (
      SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                      x -> x <> '')) AS w
            FROM documents)
      GROUP BY w
    ),
    top AS (SELECT word, cnt FROM wc ORDER BY cnt DESC, word LIMIT 50),
    tot AS (SELECT SUM(cnt)::DOUBLE AS t FROM wc)
    SELECT word, cnt,
           ROUND(SUM(cnt) OVER (ORDER BY cnt DESC, word
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 / t, 6) AS cum_share
    FROM top, tot
    """,
)
def t10_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    counts = (
        docs.select(F.explode(word_tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = counts.agg(F.sum("cnt").cast("double").alias("_t"))
    top = counts.orderBy(F.col("cnt").desc(), "word").limit(50)
    w = W.orderBy(F.col("cnt").desc(), "word").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn("cum_share", F.round(F.sum("cnt").over(w) / F.col("_t"), 6))
        .select("word", "cnt", "cum_share")
    )


# ---------------------------------------------------------------------------
# t12 — benchmark-contamination screening (training-data decontam):
# flag corpus docs sharing ≥ min_hits distinct word n-gram shingles
# with any benchmark/eval doc. The shingle string is the join key —
# one shuffle, linear in corpus grams; the benchmark side is usually
# small (an eval set) and AQE broadcasts it when its exploded gram
# table actually fits. At 100 TB this is the standard
# decontamination pass run before training.
# ---------------------------------------------------------------------------
def contamination_hits(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_words: int = 5,
    min_hits: int = 3,
) -> DataFrame:
    """(corpus_doc, bench_doc, n_shared) for pairs sharing at least
    ``min_hits`` distinct word ``ngram_words``-shingles."""
    from parquet_pipeline_spark.functions import word_shingles

    c = corpus.select(
        F.col(id_col).alias("corpus_doc"),
        F.explode(word_shingles(text_col, ngram_words)).alias("gram"),
    )
    b = benchmark.select(
        F.col(id_col).alias("bench_doc"),
        F.explode(word_shingles(text_col, ngram_words)).alias("gram"),
    )
    # No forced broadcast hint: the benchmark side is usually tiny
    # (an eval set), but its EXPLODED gram table is ~tokens-per-doc
    # larger and a big eval suite would blow the broadcast limit
    # under a forced hint. AQE sees the post-explode size at runtime
    # and broadcasts exactly when it actually fits — the same
    # no-forced-hint stance as asof_join/q63 (tests/test_plans.py).
    return (
        c.join(b, "gram")
        .groupBy("corpus_doc", "bench_doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))  # shingles are distinct per doc
        .filter(F.col("n_shared") >= min_hits)
    )


@register(
    "t12_contamination",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         w -> w <> '') AS ws
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                   FOR i IN range(1, len(ws) - 1)])) AS gram
      FROM toks WHERE len(ws) >= 3
    )
    SELECT c.doc_id AS corpus_doc, b.doc_id AS bench_doc,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM (SELECT * FROM grams WHERE doc_id >= 100) c
    JOIN (SELECT * FROM grams WHERE doc_id < 20) b USING (gram)
    GROUP BY c.doc_id, b.doc_id
    HAVING COUNT(*) >= 3
    """,
)
def t12_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") >= 100)
    benchmark = docs.filter(F.col("doc_id") < 20)  # stand-in eval set
    return contamination_hits(corpus, benchmark, ngram_words=3, min_hits=3)


# ---------------------------------------------------------------------------
# t13 — repetition / quality stats per document (the Gopher-rules
# family of LLM training-data filters: top-word share, duplicate-
# bigram fraction, mean word length). One explode + two chained aggs
# (map-side partial) plus pure-expression bigram stats — no windows,
# no joins back to the text. All ratios are int/int divisions, so
# both engines produce bit-identical doubles and no ROUND() is
# needed (ROUND at a .5 boundary is where Spark/DuckDB diverge).
# ---------------------------------------------------------------------------
@register(
    "t13_repetition_quality",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> w <> '') AS ws
      FROM documents
    ),
    w AS (SELECT doc_id, unnest(ws) AS word FROM toks),
    pw AS (SELECT doc_id, word, COUNT(*) AS c FROM w GROUP BY 1, 2),
    pd AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words, MAX(c) AS top_cnt,
             SUM(c * length(word)) * 1.0 / SUM(c) AS mean_word_len
      FROM pw GROUP BY doc_id
    ),
    bi AS (
      SELECT doc_id, len(ws) AS nw,
             len(list_distinct([ws[i] || ' ' || ws[i+1] FOR i IN range(1, greatest(len(ws), 2))])) AS d2
      FROM toks
    )
    SELECT pd.doc_id, n_words,
           top_cnt * 1.0 / n_words AS top_word_share,
           CASE WHEN nw >= 2 THEN 1 - d2 * 1.0 / (nw - 1) ELSE 0.0 END AS dup_bigram_frac,
           mean_word_len,
           (top_cnt * 1.0 / n_words <= 0.2
            AND CASE WHEN nw >= 2 THEN 1 - d2 * 1.0 / (nw - 1) ELSE 0.0 END <= 0.4) AS keep
    FROM pd JOIN bi ON pd.doc_id = bi.doc_id
    """,
)
def t13_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    w = docs.select("doc_id", F.explode(word_tokens("text")).alias("word"))
    pw = w.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("c"))
    pd_ = pw.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_words"),
        F.max("c").alias("top_cnt"),
        (
            F.sum(F.col("c") * F.length("word")).cast("double") / F.sum("c")
        ).alias("mean_word_len"),
    )
    bi = docs.select(
        "doc_id",
        F.size(word_tokens("text")).alias("nw"),
        F.size(word_shingles("text", 2)).alias("d2"),
    )
    top_share = F.col("top_cnt").cast("double") / F.col("n_words")
    dup_frac = F.when(
        F.col("nw") >= 2,
        F.lit(1.0) - F.col("d2").cast("double") / (F.col("nw") - 1),
    ).otherwise(F.lit(0.0))
    return (
        pd_.join(bi, "doc_id")
        .select(
            "doc_id",
            "n_words",
            top_share.alias("top_word_share"),
            dup_frac.alias("dup_bigram_frac"),
            "mean_word_len",
            ((top_share <= 0.2) & (dup_frac <= 0.4)).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# t15 — BPE-style regex tokenization (the GPT-2 pre-tokenizer shape,
# ASCII-scoped): contractions | letter runs | digit runs | punct
# runs. Complements t05's whitespace + chars/4 estimate with the
# tokenizer-faithful count an LLM data pipeline actually budgets by.
# Pure regexp_extract_all column expression — codegen'd, no shuffle
# beyond the final projection, linear at 100 TB. The same pattern
# compiles identically in Java regex (Spark) and RE2 (DuckDB), so
# every per-doc count is hash-verified cross-engine.
# ---------------------------------------------------------------------------
BPE_REGEX = r"'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def bpe_regex_tokens(col) -> "F.Column":
    """Token array under the GPT-2-style pre-tokenizer regex."""
    return F.regexp_extract_all(col, F.lit(BPE_REGEX), 0)


def _register_bpe_regex_tokens():
    from parquet_pipeline_spark.registry import register

    @register(
        "t15_bpe_regex_tokens",
        oracle="""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+')) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+'))) AS BIGINT) AS n_unique,
               ROUND(CAST(len(list_distinct(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+'))) AS DOUBLE)
                     / NULLIF(len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+')), 0), 4) AS ttr
        FROM documents
        WHERE doc_id < 300
        """,
    )
    def t15_bpe_regex_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 300)
        toks = bpe_regex_tokens(F.col("text"))
        n = F.size(toks)
        u = F.size(F.array_distinct(toks))
        return docs.select(
            "doc_id",
            n.cast("bigint").alias("n_tokens"),
            u.cast("bigint").alias("n_unique"),
            F.round(
                u.cast("double") / F.nullif(n.cast("double"), F.lit(0.0)), 4
            ).alias("ttr"),
        )

    return t15_bpe_regex_tokens


_register_bpe_regex_tokens()


# ---------------------------------------------------------------------------
# t16 — per-source quality-percentile filter: drop the bottom
# quartile of each source by quality score (the "filter the worst X%
# per domain" curation op — per-domain, not global, so a weak domain
# can't be wiped out by a strong one's distribution). One window
# shuffle on source; ordering uses the ROUNDED quality plus doc_id
# so percent_rank is deterministic and engine-portable (raw float
# ordering could disagree in sub-6dp bits). Composes with t14's
# resampling — rank-then-sample is the standard curation chain.
# ---------------------------------------------------------------------------
def _register_quality_percentile_filter():
    from parquet_pipeline_spark.registry import register

    @register(
        "t16_quality_percentile_filter",
        oracle="""
        WITH q AS (
          SELECT doc_id, source,
                 ROUND(0.5 * least(len(toks)::DOUBLE / 50.0, 1.0)
                       + 0.5 * (CASE WHEN len(toks) > 0
                                THEN len(list_distinct(toks))::DOUBLE / len(toks)
                                ELSE 0.0 END), 6) AS quality
          FROM (SELECT doc_id, source,
                       list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                   w -> w <> '') AS toks
                FROM documents)
        )
        SELECT doc_id, source, quality,
               ROUND(PERCENT_RANK() OVER (PARTITION BY source
                                          ORDER BY quality, doc_id), 6) AS pct
        FROM q
        QUALIFY PERCENT_RANK() OVER (PARTITION BY source
                                     ORDER BY quality, doc_id) >= 0.25
        """,
    )
    def t16_quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = _docs(spark, sf_dir)
        q = docs.select(
            "doc_id",
            "source",
            F.round(quality_features("text")["quality"], 6).alias("quality"),
        )
        w = W.partitionBy("source").orderBy("quality", "doc_id")
        return (
            q.withColumn("_pct", F.percent_rank().over(w))
            .filter(F.col("_pct") >= 0.25)
            .select("doc_id", "source", "quality", F.round("_pct", 6).alias("pct"))
        )

    return t16_quality_percentile_filter


_register_quality_percentile_filter()


# ---------------------------------------------------------------------------
# t17 — per-source corpus report card: the summary a curation run
# prints before/after filtering (docs, chars, whitespace tokens,
# mean quality, exact-duplicate rate). One aggregation shuffle on
# source; every input is a pure column expression, so the report
# costs a single scan at any corpus size. Duplicate rate counts
# docs whose md5(text) appears more than once WITHIN the source
# (distinct-fingerprint deficit / docs).
# ---------------------------------------------------------------------------
def _register_corpus_report():
    from parquet_pipeline_spark.registry import register

    @register(
        "t17_corpus_report",
        oracle="""
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(length(text)) AS BIGINT) AS n_chars,
               CAST(SUM(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                        w -> w <> ''))) AS BIGINT) AS n_tokens,
               ROUND(AVG(0.5 * least(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                                     w -> w <> ''))::DOUBLE / 50.0, 1.0)
                         + 0.5 * (CASE WHEN len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                                            w -> w <> '')) > 0
                                  THEN len(list_distinct(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                                                     w -> w <> '')))::DOUBLE
                                       / len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                                         w -> w <> ''))
                                  ELSE 0.0 END)), 6) AS mean_quality,
               ROUND((COUNT(*) - COUNT(DISTINCT md5(text)))::DOUBLE / COUNT(*), 6) AS dup_rate
        FROM documents
        GROUP BY source
        """,
    )
    def t17_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = _docs(spark, sf_dir)
        feats = quality_features("text")
        return docs.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).cast("bigint").alias("n_chars"),
            F.sum(F.size(word_tokens("text"))).cast("bigint").alias("n_tokens"),
            F.round(F.avg(feats["quality"]), 6).alias("mean_quality"),
            F.round(
                (
                    F.count(F.lit(1))
                    - F.countDistinct(F.md5(F.col("text").cast("binary")))
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("dup_rate"),
        )

    return t17_corpus_report


_register_corpus_report()


# ---------------------------------------------------------------------------
# t21 — containment-ratio decontamination (the GPT-3-style rule:
# an eval example is "dirty" when more than a threshold FRACTION of
# its n-grams appear in a training document — normalizing by the
# eval side's gram count, where t12 thresholds the absolute count).
# Same single gram-equi-join shuffle as t12 plus one broadcast-able
# per-bench-doc gram-total; ratios are int/int divisions so both
# engines produce bit-identical doubles (no ROUND needed).
# ---------------------------------------------------------------------------
def containment_screen(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_words: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """(corpus_doc, bench_doc, n_shared, bench_grams, containment)
    for pairs where >= threshold of the bench doc's distinct
    word-shingles occur in the corpus doc."""
    from parquet_pipeline_spark.functions import word_shingles

    c = corpus.select(
        F.col(id_col).alias("corpus_doc"),
        F.explode(word_shingles(text_col, ngram_words)).alias("gram"),
    )
    b_grams = benchmark.select(
        F.col(id_col).alias("bench_doc"),
        word_shingles(text_col, ngram_words).alias("grams"),
    )
    b_totals = b_grams.select("bench_doc", F.size("grams").alias("bench_grams"))
    b = b_grams.select("bench_doc", F.explode("grams").alias("gram"))
    shared = (
        c.join(b, "gram")
        .groupBy("corpus_doc", "bench_doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.join(F.broadcast(b_totals), "bench_doc")
        .withColumn("containment", F.col("n_shared") / F.col("bench_grams"))
        .filter(F.col("containment") >= threshold)
        .select("corpus_doc", "bench_doc", "n_shared", "bench_grams", "containment")
    )


@register(
    "t21_containment_screen",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         w -> w <> '') AS ws
      FROM documents
    ),
    gsets AS (
      SELECT doc_id,
             list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                            FOR i IN range(1, len(ws) - 1)]) AS gs
      FROM toks WHERE len(ws) >= 3
    ),
    grams AS (SELECT doc_id, unnest(gs) AS gram FROM gsets),
    shared AS (
      SELECT c.doc_id AS corpus_doc, b.doc_id AS bench_doc,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM (SELECT * FROM grams WHERE doc_id >= 100) c
      JOIN (SELECT * FROM grams WHERE doc_id < 20) b USING (gram)
      GROUP BY 1, 2
    )
    SELECT s.corpus_doc, s.bench_doc, s.n_shared,
           CAST(len(g.gs) AS INT) AS bench_grams,
           s.n_shared * 1.0 / len(g.gs) AS containment
    FROM shared s JOIN gsets g ON s.bench_doc = g.doc_id
    WHERE s.n_shared * 1.0 / len(g.gs) >= 0.5
    """,
)
def t21_containment_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return containment_screen(
        docs.filter(F.col("doc_id") >= 100),
        docs.filter(F.col("doc_id") < 20),
        ngram_words=3,
        threshold=0.5,
    )


# ---------------------------------------------------------------------------
# t22 — corpus-self bigram LM scoring (the CCNet-style perplexity
# proxy without an external model): every document is scored by the
# mean log-probability of its bigram occurrences under an add-one-
# smoothed bigram model fit on the WHOLE corpus. Low scorers are
# off-distribution (boilerplate, noise, wrong language) — the
# classic LM quality gate. Two vocab-sized aggregates build the
# model; scoring is two joins keyed on the bigram (AQE broadcasts
# the model tables while they fit) plus a one-row vocab scalar.
# ---------------------------------------------------------------------------
@register(
    "t22_lm_score",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> w <> '') AS ws
      FROM documents
    ),
    occ AS (
      SELECT doc_id, ws[i] AS prev, ws[i+1] AS w
      FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(ws), 1))) AS i)
    ),
    model AS (
      SELECT prev, w, CAST(COUNT(*) AS BIGINT) AS cnt_pw
      FROM occ GROUP BY prev, w
    ),
    ctx AS (
      SELECT prev, CAST(SUM(cnt_pw) AS BIGINT) AS cnt_p FROM model GROUP BY prev
    ),
    vocab AS (
      SELECT CAST(COUNT(DISTINCT word) AS BIGINT) AS v
      FROM (SELECT unnest(ws) AS word FROM toks)
    )
    SELECT o.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(ln((m.cnt_pw + 1.0) / (c.cnt_p + vocab.v))), 6) AS avg_logp
    FROM occ o
    JOIN model m ON o.prev = m.prev AND o.w = m.w
    JOIN ctx c ON o.prev = c.prev
    CROSS JOIN vocab
    GROUP BY o.doc_id
    """,
)
def t22_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", word_tokens("text").alias("ws"))
    # pair rows via explode(sequence) + codegen'd element_at (the r11
    # t08 rewrite — no interpreted per-pair lambda). The size >= 2
    # filter replaces the old empty-array guard: 0/1-token docs emit
    # no pairs either way, and sequence(1, 0) would descend under
    # ANSI. toks (unfiltered) still feeds the vocab count below.
    occ = (
        toks.filter(F.size("ws") >= 2)
        .select(
            "doc_id",
            "ws",
            F.explode(F.sequence(F.lit(1), F.size("ws") - 1)).alias("i"),
        )
        .select(
            "doc_id",
            F.element_at("ws", F.col("i")).alias("prev"),
            F.element_at("ws", F.col("i") + 1).alias("w"),
        )
    )
    model = occ.groupBy("prev", "w").agg(F.count("*").alias("cnt_pw"))
    ctx = model.groupBy("prev").agg(F.sum("cnt_pw").alias("cnt_p"))
    vocab = toks.select(F.explode("ws").alias("word")).agg(
        F.count_distinct("word").alias("v")
    )
    scored = (
        occ.join(model, ["prev", "w"])
        .join(ctx, "prev")
        .crossJoin(F.broadcast(vocab))  # one-row scalar broadcast
        .withColumn(
            "logp", F.log((F.col("cnt_pw") + 1.0) / (F.col("cnt_p") + F.col("v")))
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg("logp"), 6).alias("avg_logp"),
    )


# ---------------------------------------------------------------------------
# t24 — training-sequence packing (sample packing): the INVERSE of
# chunking — combine short documents into fixed token-budget training
# sequences, the op every pretraining pipeline runs between curation
# and the trainer. Greedy first-fit-in-order per source (the
# granularity curation already orders by), so packing is sequential
# per group and embarrassingly parallel across groups — the same
# distribution contract as greedy_chunk, and at 100 TB the group key
# is the natural file/shard unit so no task ever holds more than one
# source. Token cost = the t05 BPE-ish estimate (ceil(chars/4)),
# portable to the oracle; swap in bpe_regex_tokens or a real
# tokenizer count column without touching the packer.
# ---------------------------------------------------------------------------
def pack_sequences(
    df: DataFrame,
    group_col: str,
    order_col: str,
    tokens_col: str,
    budget: int = 256,
) -> DataFrame:
    """Assign each row (document) to a training sequence: a new
    sequence opens when adding the next document would push the
    running token count past ``budget`` and the sequence is
    non-empty. An OVERSIZED document (tokens > budget) therefore
    gets a sequence of its own — the assignment stays total and
    auditable; truncating or splitting it is the trainer's policy,
    not the packer's. Returns the input columns + ``seq_id``
    (per-group, 0-based). Exact-greedy (sequentially dependent), so
    it runs via applyInPandas one group per task; the prefix-sum
    approximation of the same policy is ``assign_chunks``."""
    out_schema = T.StructType(
        [
            df.schema[group_col],
            df.schema[order_col],
            df.schema[tokens_col],
            T.StructField("seq_id", T.LongType()),
        ]
    )

    def pack(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col)
        seq_ids = []
        cur = 0
        sid = 0
        n_in = 0
        for t in pdf[tokens_col]:
            t = 0 if pd.isna(t) else int(t)
            if n_in and cur + t > budget:
                sid += 1
                cur = 0
                n_in = 0
            seq_ids.append(sid)
            cur += t
            n_in += 1
        out = pdf[[group_col, order_col, tokens_col]].copy()
        out["seq_id"] = seq_ids
        return out

    return df.select(group_col, order_col, tokens_col).groupBy(
        group_col
    ).applyInPandas(pack, schema=out_schema)


@register(
    "t24_sequence_packing",
    oracle="""
    WITH RECURSIVE rows_ord AS (
      SELECT source, doc_id,
             COALESCE(CAST(CEIL(length(text) / 4.0) AS BIGINT), 0) AS toks,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents
    ),
    packed AS (
      SELECT source, rn, doc_id, toks,
             CAST(0 AS BIGINT) AS seq_id, toks AS cur_toks
      FROM rows_ord WHERE rn = 1
      UNION ALL
      SELECT r.source, r.rn, r.doc_id, r.toks,
             CASE WHEN p.cur_toks + r.toks > 256
                  THEN p.seq_id + 1 ELSE p.seq_id END,
             CASE WHEN p.cur_toks + r.toks > 256
                  THEN r.toks ELSE p.cur_toks + r.toks END
      FROM packed p
      -- IS NOT DISTINCT FROM: a NULL-source group must recurse too
      -- (plain = would strand it at its rn=1 row; ADVICE r8)
      JOIN rows_ord r ON r.source IS NOT DISTINCT FROM p.source
                     AND r.rn = p.rn + 1
    )
    SELECT source, seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MAX(cur_toks) AS BIGINT) AS seq_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc,
           ROUND(MAX(cur_toks) / 256.0, 6) AS fill_ratio
    FROM packed
    GROUP BY source, seq_id
    """,
)
def t24_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sequence packing report at budget 256: doc count, token
    fill, doc-id span, fill ratio (the packing-efficiency number
    every pipeline tracks — waste = 1 - mean fill). The oracle
    replays the greedy recurrence as a recursive CTE (the t07
    pattern), so every sequence boundary is value-hash-checked."""
    docs = _docs(spark, sf_dir).select(
        "source",
        "doc_id",
        F.coalesce(
            F.ceil(F.length("text") / 4.0).cast("bigint"), F.lit(0)
        ).alias("toks"),
    )
    packed = pack_sequences(docs, "source", "doc_id", "toks", budget=256)
    return packed.groupBy("source", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("toks").cast("bigint").alias("seq_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
        F.round(F.sum("toks") / 256.0, 6).alias("fill_ratio"),
    )


def bm25_rank(
    docs: DataFrame,
    query_terms: list,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df_ratio: float | None = None,
) -> DataFrame:
    """BM25 keyword retrieval over a text column (r15 — the keyword
    half of hybrid retrieval; the reference's RAG only does vector
    search, so this is north-star surface like the rest of the
    a-family). Returns (id, score_bm25, 6dp) for every document
    matching ≥ 1 query term; compose with ``F.desc`` + limit for
    top-k, or feed a ranking into ``rrf_fuse``.

    Classic Robertson/Sparck-Jones BM25:

        score(d) = Σ_t ln(1 + (N − df_t + 0.5)/(df_t + 0.5))
                     · tf_td·(k1+1) / (tf_td + k1·(1 − b + b·dl_d/avgdl))

    Plan shape (all codegen, audited in PLANS.md §t25): the explode
    is FILTERED to the query's terms before any aggregation, and the
    per-doc length RIDES the (doc, term) aggregate as a min() — so
    one tokenize pass yields tf AND dl together, with map-side
    combine on a query-term-bounded shuffle. That aggregate (rows =
    matching doc×term pairs, 3 narrow columns) is persisted
    MEMORY_AND_DISK — the banded_minhash convention — so the df
    aggregate and the final score join read the cache instead of
    re-tokenizing the corpus (unpersisted, this exact plan scanned
    the text THREE times: Catalyst does not reuse un-materialized
    subtrees across DataFrame branches). df becomes a |q|-row
    broadcast. The two corpus scalars (N, avgdl) are one tiny
    aggregate collected driver-side (bounded state, the centroid
    convention). No UDF anywhere; at 100 TB this is exactly TWO
    passes over the text bytes — the scalars pass and the tf+dl
    pass — plus cache-sized work after.

    df-skew (VERDICT r15, the LSH hot-bucket-cap precedent applied
    to keyword search): a STOPWORD in ``query_terms`` matches nearly
    every document, so that term's (doc, term) aggregate — and the
    result frame itself — goes corpus-sized. That is inherent to
    BM25 (every matching doc gets a score), and such a term
    contributes ~nothing anyway: idf = ln(1 + (N−df+0.5)/(df+0.5))
    → ln(1) ≈ 0 as df → N. ``max_df_ratio`` makes the trade
    explicit: terms with df/N above it are DROPPED from scoring
    (classic IR stopword elimination). The drop happens after the
    per-term df aggregate — the tokenize/tf scan is the unavoidable
    pass — but it prunes the hot term's corpus-sized rows out of the
    broadcast join, the per-doc aggregate, and the result, which is
    where a downstream top-k actually hurts. None (default) keeps
    classic BM25 semantics."""
    from pyspark import StorageLevel

    terms = sorted({t.lower() for t in query_terms if t})
    if not terms:
        raise ValueError("bm25_rank: empty query")
    toks = (
        docs.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.split(F.lower(F.col(text_col)), r"\s+").alias("_toks"),
        )
    )
    stats = toks.agg(
        F.count(F.lit(1)).alias("n"), F.avg(F.size("_toks")).alias("avgdl")
    ).first()
    n_docs, avgdl = int(stats["n"]), float(stats["avgdl"] or 0.0)
    if not n_docs or avgdl <= 0.0:
        raise ValueError("bm25_rank: empty corpus")
    tf = (
        toks.select(
            id_col,
            F.size("_toks").alias("_dl"),
            F.explode("_toks").alias("_term"),
        )
        .filter(F.col("_term").isin(terms))
        .groupBy(id_col, "_term")
        .agg(
            F.count(F.lit(1)).alias("_tf"),
            # _dl is constant per doc; min() carries it through the
            # aggregate so no separate dl scan/join is needed
            F.min("_dl").alias("_dl"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dfreq = tf.groupBy("_term").agg(F.count(F.lit(1)).alias("_df"))
    if max_df_ratio is not None:
        dfreq = dfreq.filter(
            F.col("_df") <= F.lit(float(max_df_ratio)) * n_docs
        )
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
    )
    denom = F.col("_tf") + k1 * (1.0 - b + b * F.col("_dl") / avgdl)
    return (
        tf.join(F.broadcast(dfreq), "_term")
        .withColumn("_contrib", idf * F.col("_tf") * (k1 + 1.0) / denom)
        .groupBy(id_col)
        .agg(F.round(F.sum("_contrib"), 6).alias("score_bm25"))
    )


def bm25_rank_batch(
    docs: DataFrame,
    queries: dict,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df_ratio: float | None = None,
) -> DataFrame:
    """Batched BM25: score MANY keyword queries in ONE pass over the
    corpus (r16 — the a17 batched-ANN pattern applied to keyword
    search; a query stream must not pay a tokenize pass per query).
    ``queries`` maps q_id → term list. Returns (q_id, id, score_bm25)
    for every (query, doc) with ≥ 1 matching term.

    Plan shape: identical to ``bm25_rank`` up to the persisted
    (doc, term, tf, dl) aggregate — the explode is filtered to the
    UNION of all queries' terms, so corpus work is paid once for the
    whole batch — then a broadcast (q_id, term) map replicates each
    matching doc×term row to the queries containing the term, and
    the final aggregate keys on (q_id, doc). Per-term df is
    query-independent, so each query's scores equal its solo
    ``bm25_rank`` run exactly (pinned in pytest). ``max_df_ratio``
    drops stopword-grade terms for every query at once."""
    from pyspark import StorageLevel

    pairs = sorted(
        {
            (int(q), t.lower())
            for q, ts in queries.items()
            for t in ts
            if t
        }
    )
    if not pairs:
        raise ValueError("bm25_rank_batch: no query terms")
    all_terms = sorted({t for _, t in pairs})
    toks = (
        docs.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.split(F.lower(F.col(text_col)), r"\s+").alias("_toks"),
        )
    )
    stats = toks.agg(
        F.count(F.lit(1)).alias("n"), F.avg(F.size("_toks")).alias("avgdl")
    ).first()
    n_docs, avgdl = int(stats["n"]), float(stats["avgdl"] or 0.0)
    if not n_docs or avgdl <= 0.0:
        raise ValueError("bm25_rank_batch: empty corpus")
    tf = (
        toks.select(
            id_col,
            F.size("_toks").alias("_dl"),
            F.explode("_toks").alias("_term"),
        )
        .filter(F.col("_term").isin(all_terms))
        .groupBy(id_col, "_term")
        .agg(
            F.count(F.lit(1)).alias("_tf"),
            F.min("_dl").alias("_dl"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dfreq = tf.groupBy("_term").agg(F.count(F.lit(1)).alias("_df"))
    if max_df_ratio is not None:
        dfreq = dfreq.filter(
            F.col("_df") <= F.lit(float(max_df_ratio)) * n_docs
        )
    spark = docs.sparkSession
    qmap = spark.createDataFrame(pairs, "q_id long, _term string")
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
    )
    denom = F.col("_tf") + k1 * (1.0 - b + b * F.col("_dl") / avgdl)
    return (
        tf.join(F.broadcast(dfreq), "_term")
        .join(F.broadcast(qmap), "_term")
        .withColumn("_contrib", idf * F.col("_tf") * (k1 + 1.0) / denom)
        .groupBy("q_id", id_col)
        .agg(F.round(F.sum("_contrib"), 6).alias("score_bm25"))
    )


@register(
    "t25_bm25_topk",
    oracle=r"""
    WITH docs AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks
      FROM documents WHERE text IS NOT NULL
    ), dl AS (
      SELECT doc_id, len(toks) AS dl FROM docs
    ), stats AS (
      SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(toks) AS term FROM docs)
      WHERE term IN ('merge', 'spark', 'table')
      GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), bm25 AS (
      SELECT tf.doc_id,
             ROUND(SUM(
               ln(1.0 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))
             ), 6) AS score_bm25
      FROM tf, dfreq, dl, stats
      WHERE tf.term = dfreq.term AND tf.doc_id = dl.doc_id
      GROUP BY tf.doc_id
    )
    SELECT doc_id, score_bm25 FROM bm25
    ORDER BY score_bm25 DESC, doc_id
    LIMIT 25
    """,
)
def t25_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword top-25 on the documents table (r15 operator,
    gate row r16 — the keyword half of hybrid retrieval; reference
    motivation: the RAG pipeline's retrieval step generalized to
    keyword search, chroma_retrieval_util.py:284-297). The oracle
    replays the full Robertson/Sparck-Jones formula — tokenize, tf,
    df, idf, length normalization — in DuckDB at 6dp; both sides
    order by the ROUNDED score with a doc_id tiebreak so the top-25
    CUT is deterministic."""
    docs = _docs(spark, sf_dir)
    return (
        bm25_rank(docs, ["spark", "table", "merge"])
        .orderBy(F.col("score_bm25").desc(), "doc_id")
        .limit(25)
    )


@register(
    "t26_bm25_batch",
    oracle="""
    WITH docs AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks
      FROM documents WHERE text IS NOT NULL
    ), dl AS (
      SELECT doc_id, len(toks) AS dl FROM docs
    ), stats AS (
      SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl
    ), qmap AS (
      SELECT * FROM (VALUES
        (0, 'spark'), (0, 'merge'),
        (1, 'table'), (1, 'sort'),
        (2, 'window'), (2, 'spark'), (2, 'filter')
      ) AS t(q_id, term)
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(toks) AS term FROM docs)
      WHERE term IN (SELECT DISTINCT term FROM qmap)
      GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), scored AS (
      SELECT qmap.q_id, tf.doc_id,
             ROUND(SUM(
               ln(1.0 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))
             ), 6) AS score_bm25
      FROM tf, dfreq, dl, stats, qmap
      WHERE tf.term = dfreq.term AND tf.doc_id = dl.doc_id
        AND qmap.term = tf.term
      GROUP BY qmap.q_id, tf.doc_id
    ), ranked AS (
      SELECT q_id, doc_id, score_bm25,
             ROW_NUMBER() OVER (
               PARTITION BY q_id ORDER BY score_bm25 DESC, doc_id
             ) AS rn
      FROM scored
    )
    SELECT CAST(q_id AS BIGINT) AS q_id, doc_id, score_bm25
    FROM ranked WHERE rn <= 10
    """,
)
def t26_bm25_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched keyword retrieval on the official record (r16): three
    queries with overlapping term sets score in ONE corpus pass
    (``bm25_rank_batch``), per-query top-10 by rounded score with a
    doc_id tiebreak. The oracle replays the batch — shared tf/df
    CTEs joined through the same (q_id, term) VALUES map — so every
    query's scores and its top-10 CUT are value-hash-checked, and
    term overlap (``spark`` appears in two queries) pins that df
    stays query-independent."""
    docs = _docs(spark, sf_dir)
    scored = bm25_rank_batch(
        docs,
        {
            0: ["spark", "merge"],
            1: ["table", "sort"],
            2: ["window", "spark", "filter"],
        },
    )
    w = W.partitionBy("q_id").orderBy(
        F.col("score_bm25").desc(), "doc_id"
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 10)
        .select("q_id", "doc_id", "score_bm25")
    )
