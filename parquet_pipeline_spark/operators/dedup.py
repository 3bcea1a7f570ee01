"""Deduplication operators for LLM training-data pipelines.

Beyond the reference's surface (BASELINE.json north star): exact
dedup, MinHash+LSH near-dedup, SimHash, n-gram Jaccard, and
embedding-cosine near-dup — all over the ``documents`` /
``embeddings`` tables.

Design for 100 TB:
- exact dedup is a hash-aggregate on the dedup key — one shuffle,
  map-side partial aggregation, no data skew beyond the dup clusters
  themselves;
- pairwise-exact methods (n-gram Jaccard, cosine all-pairs) are
  O(n²) and exist as *correctness baselines* — the scale path is
  MinHash-LSH (d03), where cost is O(n·bands) + bucket-local joins,
  and buckets are the shuffle key so candidate generation never
  materializes the n² pair space;
- every hash is a JVM-side deterministic expression (``xxhash64``
  for engine-internal bucketing, ``md5`` where the value must be
  reproducible in the DuckDB oracle), never a Python UDF.
"""

from __future__ import annotations

import math
import os

import logging

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

logger = logging.getLogger(__name__)

from parquet_pipeline_spark.functions import char_ngrams, jaccard, cosine_similarity
from parquet_pipeline_spark import tables
from parquet_pipeline_spark.registry import register


# text→hashed-gram-array blowup of the verify join's build side
# against the optimizer's (compressed-file-based) scan estimate:
# ~8 B of gram-long per text char × ~2-4× parquet-zstd compression
# ⇒ 16× is the conservative low end (minhash_near_dups docstring)
_GRAM_EXPANSION = 16


def _broadcast_threshold_bytes(spark: SparkSession) -> int:
    """The session's autoBroadcastJoinThreshold in bytes; -1
    (auto-broadcast disabled) means NOTHING broadcasts, so any
    positive estimate should prune."""
    raw = str(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    ).lower()
    mult = 1
    for suffix, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30)):
        if raw.rstrip("b").endswith(suffix):
            raw = raw.rstrip("b")[: -len(suffix)]
            mult = m
            break
    val = int(raw) * mult
    return 0 if val < 0 else val


def _nonzero_vec(vec_col: str) -> Column:
    """Zero-norm guard for the semantic-dedup paths (zero vectors
    have no direction): exists() short-circuits at the first nonzero
    element, so the guard costs ~1 comparison per row instead of a
    full dot product."""
    return F.exists(F.col(vec_col), lambda x: x != F.lit(0.0))


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cached handle (schema + listing), not cached data — see tables.py
    return tables.table(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cached handle (schema + listing), not cached data — see tables.py
    return tables.table(spark, sf_dir, "embeddings")


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Spread a narrow input across the cluster before expression-
    heavy per-row work (minhash/shingling runs interpreted, not
    codegen'd — a single small parquet file would otherwise pin the
    whole corpus to one task). No-op when the input already has
    enough partitions, so a 100 TB scan is never gratuitously
    reshuffled."""
    target = df.sparkSession.sparkContext.defaultParallelism
    # file count is the partitioning proxy: one small parquet file
    # scans as one task. (df.rdd.getNumPartitions() would answer
    # exactly, but converting the plan to an RDD forces analysis and
    # disables later pushdown reuse — too heavy for a heuristic.)
    n_files = len(df.inputFiles())
    if n_files == 0:
        # not file-backed (createDataFrame, post-shuffle plan):
        # inputFiles() can't answer, so fall back to the exact RDD
        # partition count — these plans are already materialized, so
        # the conversion costs no pushdown
        n_files = df.rdd.getNumPartitions()
    if 0 < n_files < max(2, target // 2):
        return df.repartition(target)
    return df


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------
def dedup_exact(df: DataFrame, cols: list[str]) -> DataFrame:
    """Idiomatic exact dedup (keeps an arbitrary row per key)."""
    return df.dropDuplicates(cols)


def dedup_exact_keep_min(df: DataFrame, key: str, id_col: str) -> DataFrame:
    """Deterministic exact dedup: keep the lowest id per key and
    count the copies (used by the driver query so results are
    order-stable)."""
    return df.groupBy(key).agg(
        F.min(id_col).alias(id_col),
        F.count(F.lit(1)).alias("n_copies"),
    )


@register(
    "d01_exact_dedup",
    oracle="""
    SELECT doc_id, n_copies FROM (
      SELECT MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_copies
      FROM (SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id, text FROM documents)
      GROUP BY text
    )
    """,
)
def d01_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over a self-union (guaranteed duplicates): every
    text appears twice; dedup keeps the min doc_id with n_copies=2."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    doubled = docs.unionByName(docs)
    return dedup_exact_keep_min(doubled, key="text", id_col="doc_id").select(
        "doc_id", "n_copies"
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup (exact pairwise baseline)
# ---------------------------------------------------------------------------
@register(
    "d02_ngram_jaccard_pairs",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             list_distinct([text[i:i+2] FOR i IN range(1, greatest(length(text)-1, 2))]) AS gs
      FROM documents WHERE doc_id < 200
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(len(list_intersect(a.gs, b.gs))::DOUBLE
                 / len(list_distinct(list_concat(a.gs, b.gs))), 6) AS jac
    FROM g a, g b
    WHERE a.doc_id < b.doc_id
      AND len(list_intersect(a.gs, b.gs))::DOUBLE
          / len(list_distinct(list_concat(a.gs, b.gs))) >= 0.62
    """,
)
def d02_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs character-3-gram Jaccard ≥ 0.62 on a bounded id
    range — the exact baseline that d03's MinHash-LSH approximates.
    Grams are xxhash64-hashed to bigints before the pairwise
    intersect (the d03-verify trick): set sizes — and therefore the
    Jaccard values the oracle checks — are preserved (distinct grams,
    64-bit collisions negligible) while the per-pair intersect drops
    from string compares to long compares."""
    docs = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") < 200)
        .select(
            "doc_id",
            F.transform(char_ngrams("text", 3), lambda g: F.xxhash64(g)).alias("gs"),
        )
    )
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("gs").alias("gs_a"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("gs").alias("gs_b"))
    pairs = a.join(b, F.col("doc_a") < F.col("doc_b"))
    jac = jaccard(F.col("gs_a"), F.col("gs_b"))
    return (
        pairs.withColumn("jac", jac)
        .filter(F.col("jac") >= 0.62)
        .select("doc_a", "doc_b", F.round("jac", 6).alias("jac"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH (the scale path)
# ---------------------------------------------------------------------------
def _md5_long(col: Column) -> Column:
    """First 8 md5 hex chars of a string column as a BIGINT — the
    cross-engine-portable hash (DuckDB recomputes it exactly; same
    construction as simhash/t06)."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 8), 16, 10).cast("long")


def minhash_signature(
    grams: Column, num_hashes: int = 32, hash_fn: str = "xxhash64"
) -> Column:
    """MinHash signature as an array<long>: element i is
    min(hash(gram, i)) over the document's shingle set.
    Pure expression — per-row, no shuffle, codegen'd.

    ``hash_fn``: 'xxhash64' (default — fastest, engine-internal) or
    'md5' (first 8 hex chars as BIGINT — reproducible in DuckDB SQL,
    used by the oracle-checked d07 twin).

    Built as one nested ``transform(sequence(...))`` so the (large)
    grams expression appears exactly once in the plan — an
    ``F.array(*[...])`` of per-seed mins would inline the shingle
    computation num_hashes times and blow up codegen.

    This per-row formulation is the SPEC (and what property tests
    exercise); ``banded_minhash`` computes the byte-identical
    signature via explode + codegen'd min-aggregates instead, because
    Catalyst evaluates HOF lambdas interpreted — 9.5× slower on a
    full corpus (r10 measurement in banded_minhash's docstring)."""
    seeds = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    if hash_fn == "md5":
        return F.transform(
            seeds,
            lambda i: F.array_min(
                F.transform(
                    grams,
                    lambda g: _md5_long(F.concat_ws("_", g, i.cast("string"))),
                )
            ),
        )
    return F.transform(
        seeds, lambda i: F.array_min(F.transform(grams, lambda g: F.xxhash64(g, i)))
    )


def minhash_sig_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    ngram: int = 3,
    grams_col: str | None = None,
    hash_fn: str = "xxhash64",
    as_array: bool = False,
) -> DataFrame:
    """Per-document minhash signature as ``num_hashes`` LONG COLUMNS
    (``_h0.._h{n-1}``), one row per id — the explode + codegen'd
    min-aggregate formulation ``banded_minhash`` builds its bands
    from (byte-identical to ``minhash_signature``'s HOF spec; see
    that docstring for the r10 measurement). Kept as columns rather
    than an array so downstream per-position comparisons (the
    signature-similarity prefilter) stay whole-stage-codegen'd
    integer expressions instead of interpreted HOF lambdas.

    ``as_array=True`` returns the signature as ONE array<long>
    column ``sig`` instead (element i = the ``_h{i}`` value): callers
    that only band the signature (``banded_minhash`` with no
    prefilter, i.e. the d03 path) never touch the per-position
    columns, and the array form builds the whole aggregation in a
    SINGLE SQL parse instead of ``num_hashes`` F.expr parses —
    ~64 py4j round-trips (~4 ms each) of pure plan-construction
    latency removed per query build (r16 round 2; the
    seed_hash_sql rationale below). Catalyst extracts the same
    ``num_hashes`` min-aggregates from the array constructor, so the
    physical aggregation (partial min per seed before the exchange)
    is unchanged — only the result expression differs."""
    if grams_col is None:
        df = _ensure_parallelism(df)
        grams = char_ngrams(text_col, ngram)
    else:
        grams = F.col(grams_col)

    exploded = df.select(F.col(id_col), F.explode_outer(grams).alias("_g"))

    # Aggregates are built as ONE SQL-parsed expression each instead
    # of ~8 nested Column-API calls (r16 optimization, the a08 r11
    # "JVM-side literal" precedent): every Column call is a py4j
    # round-trip costing ~4 ms on the bench box, so 32 seeds built
    # via F.min(F.when(...F.xxhash64(...))) cost ~0.9 s of plan-
    # construction time PER QUERY BUILD — pure driver latency, zero
    # executor work. The strings parse to byte-identical expressions
    # (pinned by the exceptAll equality tests in tests/test_dedup.py):
    # CASE WHEN _g IS NOT NULL guards the NULL-gram min exactly as
    # the F.when form did.
    def seed_hash_sql(i: int) -> str:
        if hash_fn == "md5":
            e = (
                f"CAST(conv(substring(md5(CAST(concat_ws('_', _g, '{i}') "
                f"AS BINARY)), 1, 8), 16, 10) AS BIGINT)"
            )
        else:
            e = f"xxhash64(_g, {i})"
        return f"min(CASE WHEN _g IS NOT NULL THEN {e} END)"

    if as_array:
        sig_sql = (
            "array(" + ",".join(seed_hash_sql(i) for i in range(num_hashes)) + ")"
        )
        return exploded.groupBy(id_col).agg(F.expr(sig_sql).alias("sig"))
    return exploded.groupBy(id_col).agg(
        *[
            F.expr(seed_hash_sql(i)).alias(f"_h{i}")
            for i in range(num_hashes)
        ]
    )


def banded_minhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    ngram: int = 3,
    grams_col: str | None = None,
    hash_fn: str = "xxhash64",
    sigs: DataFrame | None = None,
) -> DataFrame:
    """The banded-minhash fingerprint projection: one row per
    (id, band_id, band_hash). This IS the persistable dedup index —
    write it to parquet once per corpus snapshot and later batches
    dedup against it via ``incremental_near_dups`` without ever
    re-reading the old corpus text (index rows are ~20 bytes vs
    multi-KiB documents).

    The signature mins are computed by EXPLODING the shingle array
    and aggregating ``min(hash(gram, seed))`` per id — num_hashes
    codegen'd hash aggregates with map-side partial combine — NOT by
    ``minhash_signature``'s nested higher-order transforms. The two
    formulations are byte-identical (r10: verified via exceptAll for
    both hash_fns), but Catalyst evaluates HOF lambdas interpreted,
    one closure call per (gram × seed): 56 s for 250k docs at sf5 vs
    5.9 s exploded (9.5×). The price is one small shuffle on
    ``id_col`` (num_hashes longs per doc ≈ 140 B — partial aggs
    collapse the exploded grams before the exchange), which the
    bucket-key shuffle downstream dwarfs at any scale. NULL grams
    (null/absent text) survive via explode_outer with a null-guarded
    hash, so degenerate docs keep their all-NULL signature and the
    md5('')-class band hashes the oracles pin.

    Shared by ``lsh_candidate_pairs`` (self-dedup) so the in-snapshot
    and cross-snapshot paths compute byte-identical fingerprints.
    Assumes one row per ``id_col`` (duplicate ids would merge into
    one signature) — true for every document-table caller.

    ``sigs``: an already-computed ``minhash_sig_table`` projection
    (id, _h0.._h{n-1}) to band instead of recomputing — callers that
    also consume the signatures directly (the similarity prefilter)
    compute them once, persist, and share.
    """
    rows_per_band = num_hashes // bands
    if sigs is not None:
        # caller shares a columns-form signature table (the prefilter
        # path needs per-position columns): band from those columns
        base = sigs.select(
            F.col(id_col),
            F.expr(
                "array(" + ",".join(f"_h{i}" for i in range(num_hashes)) + ")"
            ).alias("sig"),
        )
    else:
        # no downstream column consumer: build the signature directly
        # as ONE array aggregate — a single SQL parse for the whole
        # 32-seed aggregation instead of 32 F.expr parses + the array
        # rebuild (r16 round 2; see minhash_sig_table.as_array).
        base = minhash_sig_table(
            df,
            id_col=id_col,
            text_col=text_col,
            num_hashes=num_hashes,
            ngram=ngram,
            grams_col=grams_col,
            hash_fn=hash_fn,
            as_array=True,
        )
    sl = f"slice(sig, b * {rows_per_band} + 1, {rows_per_band})"
    if hash_fn == "md5":
        # hash the comma-joined decimal rendering — reproducible
        # as array_to_string(...) in the DuckDB oracle
        bh = (
            f"CAST(conv(substring(md5(CAST(concat_ws(',', "
            f"transform({sl}, x -> CAST(x AS STRING))) AS BINARY)), "
            f"1, 8), 16, 10) AS BIGINT)"
        )
    else:
        bh = f"xxhash64({sl})"
    band_structs = F.expr(
        f"transform(sequence(0, {bands - 1}), "
        f"b -> named_struct('band_id', b, 'band_hash', {bh}))"
    )
    return base.select(id_col, F.explode(band_structs).alias("band")).select(
        id_col, "band.band_id", "band.band_hash"
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    ngram: int = 3,
    bucket_cap: int = 64,
    log_overflow: bool = False,
    grams_col: str | None = None,
    hash_fn: str = "xxhash64",
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Banded-LSH candidate pairs: shingle → minhash → split the
    signature into ``bands`` bands → hash each band → self-join on
    (band_id, band_hash). Only same-bucket docs ever meet, so the
    shuffle key is the bucket and the n² pair space is never built.
    Returns distinct candidate (id_a < id_b) pairs.

    Hot buckets are CAPPED at ``bucket_cap`` members: boilerplate
    duplicates (license headers, templated pages) put thousands of
    docs in one (band_id, band_hash) bucket, and an uncapped
    ``collect_set`` would hold the whole mega-bucket in one task and
    emit O(n²) pairs from it. The ``bucket_cap`` LOWEST ids per
    bucket (deterministic, rerun-stable, ranked by a row_number
    window on the bucket key — the same shuffle partitioning the
    groupBy needs) pair all-with-all as usual; every member BEYOND
    the cap emits exactly one pair ``(bucket_min_id, member)``
    instead — O(overflow) rows, streamed with no buffering — so
    capped-out docs stay transitively reachable from the bucket's
    min id (the dedup survivor) and are never silently dropped.
    The head and overflow branches shuffle on the same key, so
    Spark's ReuseExchange computes the minhash pipeline and its
    shuffle once. Normal buckets (≤ cap) are untouched.
    ``log_overflow=True`` runs one extra small aggregate to count
    truncated buckets.

    ``grams_col``: name of a precomputed shingle-array column on
    ``df``. When given, the signature is built from that column
    instead of re-shingling ``text_col`` — callers that also need
    the grams downstream (``minhash_near_dups``'s Jaccard verify)
    compute them once, persist, and share one projection across
    candidate generation and verify. The caller owns parallelism in
    that case (``_ensure_parallelism`` here would shuffle the
    cached projection and defeat the reuse)."""
    banded = banded_minhash(
        df,
        id_col=id_col,
        text_col=text_col,
        num_hashes=num_hashes,
        bands=bands,
        ngram=ngram,
        grams_col=grams_col,
        hash_fn=hash_fn,
        sigs=sigs,
    )
    if log_overflow:
        n_hot = (
            banded.groupBy("band_id", "band_hash")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > bucket_cap)
            .count()
        )
        if n_hot:
            logger.warning(
                "lsh_candidate_pairs: %d hot bucket(s) truncated to %d members",
                n_hot,
                bucket_cap,
            )
    # bucket-then-enumerate instead of a self-join: one shuffle on the
    # bucket key, signatures computed once, and the n² pair space is
    # only ever enumerated *inside* a bucket. (A self-join would
    # recompute the whole minhash pipeline for both sides.) The
    # row_number cap below bounds what collect_set holds per task;
    # its window partitions on the same key the groupBy shuffles on.
    # _min_id rides the same window as the rank (running first ==
    # partition min under this ordering) — one WindowExec computes
    # both columns. Both window expressions ride ONE selectExpr call
    # (two SQL parses server-side) instead of the Window-spec +
    # row_number/first/over Column-API chain (~15 py4j round-trips;
    # r16 round 2, the minhash_sig_table rationale).
    #
    # PERSISTED (r16 optimization, guide §2.4): the head and overflow
    # branches were meant to share one exchange via ReuseExchange,
    # but Spark 3.5+'s rank-filter pushdown inserts a map-side
    # WindowGroupLimit under the HEAD branch's exchange only (the
    # overflow filter `_rn > cap` is not a group limit), so the two
    # exchange subtrees stop being canonical-equal and the ENTIRE
    # minhash pipeline — shingle explode, num_hashes min-aggregates,
    # band explode, bucket shuffle — ran twice (plan-audited: two
    # full HashAggregate+Exchange chains under the Union at r16
    # start). Materializing the ranked projection once makes both
    # branches cache reads: rows are (id, band_id, band_hash, _rn,
    # _min_id) ≈ 40 B × bands per doc — far smaller than the text
    # being re-shingled; MEMORY_AND_DISK so oversized corpora spill
    # instead of failing (the grams-projection convention).
    over = f"OVER (PARTITION BY band_id, band_hash ORDER BY {id_col})"
    ranked = banded.selectExpr(
        "*",
        f"row_number() {over} AS _rn",
        f"first({id_col}) {over} AS _min_id",
    ).persist(StorageLevel.MEMORY_AND_DISK)
    buckets = (
        ranked.where(f"_rn <= {int(bucket_cap)}")
        .groupBy("band_id", "band_hash")
        .agg(F.expr(f"collect_set({id_col}) AS ids"))
        .where("size(ids) > 1")
    )
    # one SQL parse instead of ~15 Column-API py4j round-trips
    # (identical expression; the minhash_sig_table rationale).
    # inline() = explode + struct-field projection in one generator.
    head_pairs = buckets.selectExpr(
        "inline(filter(flatten(transform(ids, a -> transform(ids, "
        "b -> named_struct('id_a', a, 'id_b', b)))), "
        "p -> p.id_a < p.id_b))"
    )
    # Overflow rows (_rn > cap): one direct pair to the bucket's min
    # id each. id_a < id_b holds by construction (the min sorts first).
    overflow_pairs = ranked.where(f"_rn > {int(bucket_cap)}").selectExpr(
        "_min_id AS id_a", f"{id_col} AS id_b"
    )
    return head_pairs.unionByName(overflow_pairs).distinct()


def minhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.62,
    num_hashes: int = 32,
    bands: int = 8,
    ngram: int = 3,
    bucket_cap: int = 64,
    sig_prefilter: float | None = None,
    verify_prune: bool | None = None,
) -> DataFrame:
    """MinHash-LSH near-dedup: candidates from banded LSH, then an
    exact Jaccard verify on just the candidate pairs.

    ``verify_prune`` (r17, VERDICT r16 item 4 — guide §3.2): prune
    each grams side of the verify join to the ids that actually
    appear in candidates (left-semi against the persisted candidate
    pairs) BEFORE the join. At corpus scale the verify join's big
    side is the corpus-wide gram-array projection; once it exceeds
    the broadcast threshold AQE picks a sort-merge join and the gram
    arrays shuffle twice — the semi prune cuts that shuffle to the
    candidate-touched fraction (ids are 16 B/pair; candidate counts
    are bucket_cap-bounded). Below the broadcast regime the prune is
    pure overhead (one extra persist + two broadcast semi joins:
    measured 1.14→1.44 s median at the sf0.1 bench slice, while the
    25k-doc sf5 slice measured 20.7→17.8 s median in its favor), so
    ``None`` auto-decides from the driver-side optimizer estimate:
    prune iff est_input_bytes × _GRAM_EXPANSION exceeds the session's
    autoBroadcastJoinThreshold (the exact condition under which the
    un-pruned join stops broadcasting). _GRAM_EXPANSION models the
    text→hashed-gram-array blowup against the (compressed) scan
    estimate: ~8 B/char of distinct-gram longs × ~2-4× parquet-zstd
    text compression ⇒ 16× as the conservative low end. Purely a
    join-strategy lever: the inner verify join applies the same id
    equality afterwards, so the output is row-identical either way
    (pinned by the oracle rows of d07/d14 that flow through here and
    the d03 byte-identity A/B in OPTIMIZATION_r17.md item 4).

    The shingle arrays are computed ONCE into a persisted
    (id, grams) projection shared by candidate generation and both
    sides of the verify join — previously three independent
    ``char_ngrams`` pipelines (one per scan), the suite's single
    most expensive redundancy at sf0.1 and 2 extra full scans +
    large-array shuffles at 100 TB. MEMORY_AND_DISK so a corpus
    partition that doesn't fit executor memory spills instead of
    failing; the cache is populated by the first stage of the one
    job that consumes this plan and evicted LRU afterwards (no
    explicit unpersist — the returned DataFrame is lazy, and
    unpersisting before the caller's action would defeat the
    reuse).

    The projection stores xxhash64-HASHED shingles (array<bigint>),
    not the shingle strings: the verify join ships two gram arrays
    per candidate pair, so at sf1 (3.4M candidates × ~200 grams a
    side) the hashed form cuts the shuffle ~2.5× and the per-pair
    ``array_intersect`` runs on longs instead of strings. Jaccard
    over hashed distinct shingles equals Jaccard over the shingles
    up to 64-bit collisions (≪1e-9 per pair at these set sizes);
    minhash signatures hash the gram again with the seed, which is
    as pairwise-independent from a long as from a string."""
    from pyspark import StorageLevel

    if verify_prune is None:
        est = int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
        verify_prune = est * _GRAM_EXPANSION > _broadcast_threshold_bytes(
            df.sparkSession
        )
    df = _ensure_parallelism(df)
    # one SQL parse for the shingle+hash projection instead of the
    # char_ngrams/transform Column-API chain (~15 py4j round-trips;
    # r16 round 2) — parses to the same expressions char_ngrams
    # builds (substring/greatest/sequence/array_distinct), pinned by
    # the twin-path equality tests in tests/test_dedup.py
    grams = df.selectExpr(
        id_col,
        f"transform(array_distinct(transform("
        f"sequence(1, greatest(length({text_col}) - {ngram - 1}, 1)), "
        f"i -> substring({text_col}, i, {ngram}))), "
        f"g -> xxhash64(g)) AS gs",
    ).persist(StorageLevel.MEMORY_AND_DISK)
    sigs = None
    if sig_prefilter is not None:
        sigs = minhash_sig_table(
            grams, id_col, num_hashes=num_hashes, grams_col="gs"
        ).persist(StorageLevel.MEMORY_AND_DISK)
    cands = lsh_candidate_pairs(
        grams,
        id_col,
        num_hashes=num_hashes,
        bands=bands,
        bucket_cap=bucket_cap,
        grams_col="gs",
        sigs=sigs,
    )
    if sig_prefilter is not None:
        # Signature-similarity prefilter (VERDICT r10 item 3): at sf5
        # the banded candidates outnumber true near-dups ~12×, and
        # ~80% of d03's cost is the exact-verify join shipping two
        # ~200-long gram arrays per candidate. The minhash signature
        # is ALREADY computed and 6× smaller, and the fraction of
        # equal positions is an unbiased Jaccard estimator (std
        # ≈ sqrt(j(1-j)/num_hashes) ≈ 0.086 at 32 hashes), so pairs
        # whose estimate falls below ``sig_prefilter`` skip the
        # exact verify. Per-position equality on the _h columns is
        # pure codegen'd long arithmetic (the r10 stop-rules: no HOF,
        # no float fold). NOT exact: with margin m = threshold −
        # sig_prefilter, a true pair at j = threshold survives with
        # P ≈ Φ(m/0.086) — 0.40 under a 0.62 threshold keeps ≈99.5%
        # and kills candidates near the ~0.15 FP mode. Opt-in (None
        # = off) precisely because the default contract is
        # exact-equal-to-plain-verify; the measured candidate-rate /
        # recall / wall-time curve at sf5 lives in BENCH_NOTES
        # §d03 banding-precision lever.
        # selectExpr / F.expr: one SQL parse instead of ~100 Column-
        # API py4j round-trips each (the minhash_sig_table rationale;
        # identical expressions — `<=>` IS eqNullSafe)
        sa = sigs.selectExpr(
            f"{id_col} AS id_a",
            *[f"_h{i} AS _ha{i}" for i in range(num_hashes)],
        )
        sb = sigs.selectExpr(
            f"{id_col} AS id_b",
            *[f"_h{i} AS _hb{i}" for i in range(num_hashes)],
        )
        # eqNullSafe: degenerate all-NULL signatures (empty/null text)
        # estimate 1.0 against each other and reach the exact verify,
        # which rejects them the same way the unprefiltered path does
        # (jaccard of empty gram sets is NULL)
        matches = F.expr(
            " + ".join(
                f"(CASE WHEN _ha{i} <=> _hb{i} THEN 1 ELSE 0 END)"
                for i in range(num_hashes)
            )
        )
        cands = (
            cands.join(sa, "id_a")
            .join(sb, "id_b")
            .filter(matches >= F.lit(int(math.ceil(sig_prefilter * num_hashes))))
            .select("id_a", "id_b")
        )
    # string-form verify tail (r16 round 2: ~290 of d03's py4j round
    # trips lived here; these parse to the identical jaccard
    # expressions — the same shared-subtree shape, since a repeated
    # Column object and repeated SQL text both canonicalize to the
    # same expression — pinned by test_jaccard_* + the d07/d14 oracle
    # rows that flow through this code)
    if verify_prune:
        # persist the pair set so the two semi probes below don't
        # re-run the candidate pipeline (bounded: 16 B/pair, pair
        # count bucket_cap-bounded)
        cands = cands.persist(StorageLevel.MEMORY_AND_DISK)
        ga = grams.join(
            cands.selectExpr(f"id_a AS {id_col}"), id_col, "left_semi"
        )
        gb = grams.join(
            cands.selectExpr(f"id_b AS {id_col}"), id_col, "left_semi"
        )
    else:
        ga = gb = grams
    ga = ga.selectExpr(f"{id_col} AS id_a", "gs AS gs_a")
    gb = gb.selectExpr(f"{id_col} AS id_b", "gs AS gs_b")
    inter = "CAST(size(array_intersect(gs_a, gs_b)) AS DOUBLE)"
    union = f"(CAST(size(gs_a) AS DOUBLE) + CAST(size(gs_b) AS DOUBLE) - {inter})"
    jac_sql = (
        f"CASE WHEN {union} > 0 THEN {inter} / {union} ELSE 0.0D END"
    )
    verified = (
        cands.join(ga, "id_a")
        .join(gb, "id_b")
        .selectExpr("id_a", "id_b", f"({jac_sql}) AS jac")
        .where(f"jac >= CAST({float(threshold)!r} AS DOUBLE)")
    )
    return verified.selectExpr("id_a", "id_b", "round(jac, 6) AS jac")


@register("d03_minhash_lsh_neardup")  # rows-only: xxhash64-based, not SQL-portable
def d03_minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 200).select("doc_id", "text")
    return minhash_near_dups(docs, threshold=0.62)


# ---------------------------------------------------------------------------
# SimHash (near-dup fingerprint; hamming-close docs are candidates)
# ---------------------------------------------------------------------------
def simhash(text_col: str, bits: int = 32) -> Column:
    """SimHash over whitespace tokens of ``text_col``: bit j of the
    fingerprint is 1 iff the majority of token hashes have bit j set.

    Token hash = first 8 hex chars of md5 (32 bits, so ``bits`` <=
    32) rather than xxhash64: md5 is computable identically in
    DuckDB, which graduates d04 from rows-only to a full
    hash-checked oracle (the same portability move as t06's
    fingerprint). md5 here is a mixing function, not a security
    primitive.

    Written as a SQL expression because bit j is a lambda variable —
    the PySpark ``shiftleft``/``shiftright`` wrappers only accept
    Python-int bit counts, while the underlying SQL functions accept
    any integral expression. One expression, no Python in the row
    path. The HASHED token array is let-bound (one-element-array
    transform) before the per-bit loop: inlining the tokenize+hash
    expression inside the per-bit lambda re-ran it ``bits`` times
    per document (no CSE across lambda scopes — the word_shingles
    bug class, 32× wasted work here)."""
    assert bits <= 32, "simhash bit source is 32 bits (md5 first 8 hex chars)"
    toks = f"filter(split(trim({text_col}), '\\\\s+'), w -> w != '')"
    return F.expr(
        f"""
        element_at(transform(array(transform({toks},
          t -> CAST(conv(substr(md5(t), 1, 8), 16, 10) AS BIGINT))), hs ->
          aggregate(
            transform(sequence(0, {bits - 1}), j ->
              CASE WHEN size(filter(hs, h -> (shiftright(h, j) & 1) = 1)) * 2
                        >= size(hs)
                   THEN shiftleft(CAST(1 AS BIGINT), j)
                   ELSE CAST(0 AS BIGINT) END),
            CAST(0 AS BIGINT), (acc, x) -> acc + x)), 1)
        """
    )


def simhash_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    out_col: str = "simhash32",
) -> DataFrame:
    """``simhash`` as a table transform: explode the tokens and
    compute the per-bit majorities as ``bits`` codegen'd integer SUM
    aggregates instead of the Column form's per-bit interpreted
    ``filter`` passes (32 HOF scans per document). Byte-identical to
    ``simhash(text_col, bits)`` — bit counts are integer and
    order-insensitive, the same argument as banded_minhash's r10
    rewrite — including the degenerate rows: empty text (zero
    tokens, ``_n = 0``) sets every bit (0 ≥ 0 majority), NULL text
    (``_n`` NULL) yields fingerprint 0. Verified by exceptAll in
    tests/test_dedup.py. Measured 45 → ~6 s for the full sf5 corpus.

    The price is one num-bits-longs-per-doc shuffle on ``id_col``
    (map-side partial combine collapses the exploded tokens first);
    the Column form remains the spec and the right shape for
    row-local uses."""
    from parquet_pipeline_spark.functions import word_tokens

    assert bits <= 32, "simhash bit source is 32 bits (md5 first 8 hex chars)"
    pre = df.select(F.col(id_col), word_tokens(text_col).alias("_t"))
    exploded = pre.select(
        id_col, F.size("_t").alias("_n"), F.explode_outer("_t").alias("_tok")
    ).select(
        id_col,
        "_n",
        F.when(
            F.col("_tok").isNotNull(),
            F.conv(F.substring(F.md5("_tok"), 1, 8), 16, 10).cast("long"),
        ).alias("_h"),
    )
    per_doc = exploded.groupBy(id_col, "_n").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("_h"), j).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(0)
            ).alias(f"_c{j}")
            for j in range(bits)
        ]
    )
    fp = None
    for j in range(bits):
        term = (
            F.when(F.col(f"_c{j}") * 2 >= F.col("_n"), F.lit(1 << j).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
        fp = term if fp is None else fp + term
    return per_doc.select(F.col(id_col), fp.alias(out_col))


@register(
    "d04_simhash",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> w <> '') AS ws
      FROM documents WHERE doc_id < 200
    ),
    hs AS (
      SELECT doc_id,
             [CAST(list_sum([(strpos('0123456789abcdef', substr(md5(t), i, 1)) - 1)
                              * 16 ** (8 - i) FOR i IN range(1, 9)]) AS BIGINT)
              FOR t IN ws] AS hv
      FROM toks
    )
    SELECT doc_id,
           CAST(list_sum([CASE WHEN 2 * len(list_filter(hv,
                               h -> CAST(floor(h / 2 ** j) AS BIGINT) % 2 = 1)) >= len(hv)
                          THEN 2 ** j ELSE 0 END FOR j IN range(0, 32)]) AS BIGINT) AS simhash32
    FROM hs
    """,
)
def d04_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    return simhash_table(docs, "doc_id", "text", bits=32, out_col="simhash32")


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------
@register(
    "d05_embedding_neardup",
    oracle="""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos_sim
    FROM embeddings a, embeddings b
    WHERE a.vec_id < b.vec_id AND a.vec_id < 100 AND b.vec_id < 100
      AND list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]) > 0
      AND list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]) > 0
    ORDER BY list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) DESC,
             a.vec_id, b.vec_id
    LIMIT 20
    """,
)
def d05_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most-similar embedding pairs (bounded id range) — the
    exact form of embedding near-dedup; at scale candidates come from
    a01's LSH buckets instead of the all-pairs join."""
    emb = _emb(spark, sf_dir).filter(F.col("vec_id") < 100)
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"))
    return (
        # zero-norm: not comparable (input-side exists guard — a
        # filter on the computed cos_sim would duplicate the dot
        # product into the pushed-down predicate)
        a.filter(_nonzero_vec("emb_a"))
        .join(b.filter(_nonzero_vec("emb_b")), F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos_sim", cosine_similarity(F.col("emb_a"), F.col("emb_b")))
        .orderBy(F.col("cos_sim").desc(), "vec_a", "vec_b")
        .limit(20)
        .select("vec_a", "vec_b", F.round("cos_sim", 6).alias("cos_sim"))
    )


# ---------------------------------------------------------------------------
# transitive dedup: near-dup PAIRS → connected-component clusters →
# one survivor per cluster. (Pairs alone can't deduplicate: if a~b
# and b~c, dropping per-pair keeps either a or c twice.)
# ---------------------------------------------------------------------------
def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
    strict: bool = False,
) -> DataFrame:
    """Min-label propagation over the similarity graph: every node
    starts as its own label; each iteration every node adopts the
    smallest label among itself and its neighbors, then POINTER-JUMPS
    once (component ← label(component) — path compression, the
    Shiloach-Vishkin shortcut); converged when no label changes.
    Iterations are join+aggregate rounds; the jump cuts rounds from
    O(diameter) to ~O(log diameter) — measured at sf5's chain-heavy
    LSH graph (250k nodes / 2.5M directed edges): 19 → 10 rounds,
    38.4 → 27.2 s, identical labels (r10). Exactly ONE jump per
    round: the jump self-joins the not-yet-checkpointed `updated`
    plan, so chaining a second jump doubles the unmaterialized
    neighbor-min lineage and costs far more than the rounds it saves
    (measured: 2 jumps/round never finished the sf5 probe inside
    10 min). Returns (node, component).

    If the label propagation is still changing after
    ``max_iterations`` (a near-dup chain longer than the cap), a
    warning is logged — the returned labels would silently split
    such a cluster otherwise. With ``strict=True`` non-convergence
    RAISES instead (ADVICE r8): an oracle-checked caller must fail
    loudly, not hand a silently-split labeling to a hash gate."""
    # materialize the edge set ONCE: `pairs` is typically the whole
    # LSH candidate pipeline (shingle → minhash → band → bucket-join),
    # and without this checkpoint every iteration's joins + the
    # convergence count re-run that pipeline 2-3× per round — measured
    # 39 s for a 5k-doc corpus at sf0.1 vs ~2 s with the pin
    # (BENCH_NOTES.md §r8-registration probes + persisted-index
    # refresh, r9)
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_min"))
        )
        updated = labels.join(
            neighbor_min, labels.node == neighbor_min.src, "left"
        ).select(
            "node",
            F.least(
                F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
            ).alias("component"),
        )
        # pointer jump: component ← label(component). Every component
        # value is itself a node id present in `updated`, so the left
        # join's coalesce only fires mid-plan; at the fixed point
        # label(label(n)) == label(n) and the jump is a no-op — same
        # fixed point as plain propagation, reached in ~half the rounds.
        jump = updated.select(
            F.col("node").alias("_jnode"), F.col("component").alias("_jcomp")
        )
        updated = (
            updated.join(jump, updated.component == jump._jnode, "left")
            .select(
                "node", F.coalesce("_jcomp", "component").alias("component")
            )
            # checkpoint BEFORE the convergence count so the count is a
            # cheap join of two materialized label sets, not a re-derive
            .localCheckpoint(eager=True)  # truncate lineage per round
        )
        changed = (
            updated.alias("u")
            .join(labels.alias("l"), "node")
            .filter(F.col("u.component") != F.col("l.component"))
            .limit(1)
            .count()
        )
        labels = updated
        if changed == 0:
            break
    else:
        msg = (
            "connected_components: hit max_iterations=%d without converging; "
            "labels may split long near-dup chains (raise max_iterations)"
        )
        if strict:
            raise RuntimeError(msg % max_iterations)
        logger.warning(msg, max_iterations)
    return labels


def dedup_transitive(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Keep one row per near-dup cluster (the min id — deterministic)
    plus every row that appears in no pair."""
    comp = connected_components(pairs)
    survivors = comp.groupBy("component").agg(F.min("node").alias("keep_id"))
    drop = (
        comp.join(survivors, "component")
        .filter(F.col("node") != F.col("keep_id"))
        .select(F.col("node").alias(id_col))
    )
    return df.join(drop, id_col, "left_anti")


# ---------------------------------------------------------------------------
# stratified / class-balanced sampling (training-data pipelines):
# deterministic hash-based per-class fractions — reproducible across
# runs and engines, unlike RNG TABLESAMPLE
# ---------------------------------------------------------------------------
def stratified_sample(
    df: DataFrame,
    label_col: str,
    fractions: dict,
    id_col: str,
    salt: int = 0,
) -> DataFrame:
    """Keep ~fraction of each class, chosen by xxhash64(id, salt)
    bucketing — membership is a pure function of the row id, so the
    sample is stable under reruns, repartitioning, and incremental
    appends (new rows don't reshuffle old members)."""
    bucket = F.pmod(F.xxhash64(F.col(id_col), F.lit(salt)), F.lit(10_000))
    cond = None
    for label, frac in fractions.items():
        this = (F.col(label_col) == label) & (bucket < int(frac * 10_000))
        cond = this if cond is None else (cond | this)
    return df.filter(cond)


# ---------------------------------------------------------------------------
# d06 — word-shingle (token-level) Jaccard pairs: the 2-word-shingle
# twin of d02's character-3-gram baseline. Token shingles are what
# production near-dedup pipelines typically minhash (robust to
# whitespace/markup noise that char-grams absorb); this bounded
# all-pairs form is the exact baseline, with d03's banded-LSH as the
# scale path (swap char_ngrams → word_shingles in the signature).
# ---------------------------------------------------------------------------
def _register_word_shingle():
    from parquet_pipeline_spark.registry import register
    from parquet_pipeline_spark.functions import word_shingles

    @register(
        "d06_word_shingle_jaccard",
        oracle="""
        WITH t AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(trim(text), '\\s+'),
                             w -> w <> '') AS ws
          FROM documents WHERE doc_id < 200
        ),
        g AS (
          SELECT doc_id,
                 list_distinct([ws[i] || ' ' || ws[i+1]
                                FOR i IN range(1, len(ws))]) AS gs
          FROM t WHERE len(ws) >= 2
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               ROUND(len(list_intersect(a.gs, b.gs))::DOUBLE
                     / len(list_distinct(list_concat(a.gs, b.gs))), 6) AS jac
        FROM g a, g b
        WHERE a.doc_id < b.doc_id
          AND len(list_intersect(a.gs, b.gs))::DOUBLE
              / len(list_distinct(list_concat(a.gs, b.gs))) >= 0.3
        """,
    )
    def d06_word_shingle_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
        from parquet_pipeline_spark.functions import jaccard as _jac

        docs = (
            _docs(spark, sf_dir)
            .filter(F.col("doc_id") < 200)
            # shingles hashed to bigints before the pairwise intersect
            # (same size-preserving trick as d02) — Jaccard values and
            # the oracle hash are unchanged, long compares are cheaper
            .select(
                "doc_id",
                F.transform(
                    word_shingles("text", 2), lambda g: F.xxhash64(g)
                ).alias("gs"),
            )
            .filter(F.size("gs") > 0)
        )
        a = docs.select(F.col("doc_id").alias("doc_a"), F.col("gs").alias("gs_a"))
        b = docs.select(F.col("doc_id").alias("doc_b"), F.col("gs").alias("gs_b"))
        return (
            a.join(b, F.col("doc_a") < F.col("doc_b"))
            .withColumn("jac", _jac(F.col("gs_a"), F.col("gs_b")))
            .filter(F.col("jac") >= 0.3)
            .select("doc_a", "doc_b", F.round("jac", 6).alias("jac"))
        )


_register_word_shingle()


# ---------------------------------------------------------------------------
# t11 — deterministic train/val/test split: assignment keyed on
# md5(content) so it is (a) stable across reruns and engines, (b)
# independent of row order/partitioning, (c) leakage-safe — exact
# duplicate texts always land in the SAME split. Buckets by the
# first hex nibble: 0-b train (12/16), c-d val (2/16), e-f test
# (2/16). md5(utf8 bytes) is identical in Spark and DuckDB, so the
# per-row assignment itself is hash-verified by the driver.
# ---------------------------------------------------------------------------
def deterministic_split(
    df: DataFrame,
    content_col: str = "text",
    train_nibbles: str = "0123456789ab",
    val_nibbles: str = "cd",
) -> DataFrame:
    """Adds a ``split`` column ('train'|'val'|'test') keyed on
    md5(content). Pure expression — no shuffle, no RNG state."""
    nib = F.substring(F.md5(F.col(content_col).cast("binary")), 1, 1)
    return df.withColumn(
        "split",
        F.when(nib.isin(*list(train_nibbles)), "train")
        .when(nib.isin(*list(val_nibbles)), "val")
        .otherwise("test"),
    )


def _register_hash_split():
    from parquet_pipeline_spark.registry import register

    @register(
        "t11_hash_split",
        oracle="""
        SELECT doc_id,
               CASE WHEN substr(md5(text), 1, 1) BETWEEN '0' AND 'b' THEN 'train'
                    WHEN substr(md5(text), 1, 1) BETWEEN 'c' AND 'd' THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
        WHERE doc_id < 500
        """,
    )
    def t11_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 500)
        return deterministic_split(docs, "text").select("doc_id", "split")


_register_hash_split()


# ---------------------------------------------------------------------------
# t14 — deterministic source-weighted resampling: the "mix your
# training corpus at per-source rates" op (e.g. upweight curated
# sources, downsample crawl). Keep probability is a pure function of
# md5(text), so (a) reruns and engines agree row-for-row, (b) exact
# duplicate texts are kept/dropped together (consistent with the t11
# split, same hash key), (c) no RNG state, no sampleBy() seed
# dependence. The hex-nibble comparison gives weights in 1/16
# granularity, exactly the t11 mechanism; weight per source here is
# a deterministic demo policy (even source index 12/16 = 0.75, odd
# 4/16 = 0.25). Pure filter expression — no shuffle, trivially
# linear at 100 TB, and composes with any downstream op.
# ---------------------------------------------------------------------------
def source_weighted_resample(
    df: DataFrame,
    weight_nibbles: dict[str, str] | None = None,
    content_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Keeps a row iff the first hex nibble of md5(content) is
    strictly below the source's threshold nibble (weight = idx/16).
    ``weight_nibbles`` maps source -> threshold nibble char; missing
    sources keep everything ('g' > 'f' sorts above every nibble)."""
    nib = F.substring(F.md5(F.col(content_col).cast("binary")), 1, 1)
    if weight_nibbles is None:
        thresh = F.when(
            F.substring(F.col(source_col), 4, 10).cast("int") % 2 == 0,
            F.lit("c"),
        ).otherwise(F.lit("4"))
    else:
        mapping = F.create_map(
            *[F.lit(x) for kv in weight_nibbles.items() for x in kv]
        )
        thresh = F.coalesce(mapping[F.col(source_col)], F.lit("g"))
    return df.filter(nib < thresh)


def _register_source_resample():
    from parquet_pipeline_spark.registry import register

    @register(
        "t14_source_resample",
        oracle="""
        SELECT doc_id,
               source,
               CAST(CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
                         THEN 0.75 ELSE 0.25 END AS DOUBLE) AS weight
        FROM documents
        WHERE substr(md5(text), 1, 1) <
              CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
                   THEN 'c' ELSE '4' END
        """,
    )
    def t14_source_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = _docs(spark, sf_dir)
        even = F.substring("source", 4, 10).cast("int") % 2 == 0
        return source_weighted_resample(docs).select(
            "doc_id",
            "source",
            F.when(even, F.lit(0.75)).otherwise(F.lit(0.25)).alias("weight"),
        )

    return t14_source_resample


_register_source_resample()


# ---------------------------------------------------------------------------
# d07 — oracle-checked LSH twin: the SAME banding / bucket-cap /
# overflow-chain machinery as d03's candidate generation, run with
# the md5-portable hash on a bounded id range so DuckDB can recompute
# every candidate pair EXACTLY (signatures via nested list
# comprehensions, banding via array_to_string+md5, the cap via the
# identical row_number-by-doc_id rank, overflow pairs to the bucket
# min). d03 itself keeps xxhash64 — fastest for the 100-TB hot path
# — with this query pinning the shared pipeline logic against SQL.
# bucket_cap=8 is deliberately small so the overflow branch is
# exercised on the test corpus, not just in unit tests.
# ---------------------------------------------------------------------------
def _register_lsh_oracle_twin():
    @register(
        "d07_lsh_bucket_pairs",
        oracle="""
        WITH g AS (
          SELECT doc_id,
                 list_distinct([text[i:i+2] FOR i IN range(1, greatest(length(text)-1, 2))]) AS gs
          FROM documents WHERE doc_id < 200
        ),
        sigs AS (
          SELECT doc_id,
                 [list_min([CAST(list_sum([(strpos('0123456789abcdef',
                                                   substr(md5(gr || '_' || s), i, 1)) - 1)
                                            * 16 ** (8 - i) FOR i IN range(1, 9)]) AS BIGINT)
                            FOR gr IN gs]) FOR s IN range(0, 16)] AS sig
          FROM g
        ),
        exploded AS (
          SELECT doc_id, b AS band_id,
                 CAST(list_sum([(strpos('0123456789abcdef',
                                        substr(md5(array_to_string(sig[b*4+1 : b*4+4], ',')), i, 1)) - 1)
                                 * 16 ** (8 - i) FOR i IN range(1, 9)]) AS BIGINT) AS band_val
          FROM sigs, unnest(range(0, 4)) AS t(b)
        ),
        ranked AS (
          SELECT doc_id, band_id, band_val,
                 ROW_NUMBER() OVER (PARTITION BY band_id, band_val ORDER BY doc_id) AS rn,
                 MIN(doc_id) OVER (PARTITION BY band_id, band_val) AS min_id
          FROM exploded
        ),
        head AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM ranked a JOIN ranked b
            ON a.band_id = b.band_id AND a.band_val = b.band_val
          WHERE a.rn < b.rn AND b.rn <= 8
        ),
        overflow AS (
          SELECT min_id AS doc_a, doc_id AS doc_b FROM ranked WHERE rn > 8
        )
        SELECT DISTINCT doc_a, doc_b FROM (
          SELECT * FROM head UNION ALL SELECT * FROM overflow
        )
        """,
    )
    def d07_lsh_bucket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
        return lsh_candidate_pairs(
            docs,
            num_hashes=16,
            bands=4,
            ngram=3,
            bucket_cap=8,
            hash_fn="md5",
        ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))

    return d07_lsh_bucket_pairs


_register_lsh_oracle_twin()


# ---------------------------------------------------------------------------
# d14 — the r11 banding-precision lever on the official record: d07's
# md5-portable LSH chain extended with the SIGNATURE-SIMILARITY
# PREFILTER (matching-position count on the already-computed minhash
# sigs, codegen'd integer equality — no HOF, no float) and the exact
# Jaccard verify. The oracle replays all three stages — signatures,
# banded candidates with cap/overflow, the ≥8/16 position-match
# prefilter, then exact 3-gram Jaccard ≥ 0.62 — so every pair the
# prefilter keeps OR drops is cross-engine-checked, not just counted.
# The measured cost/recall curve for the lever at sf5 lives in
# BENCH_NOTES §d03 banding-precision lever.
# ---------------------------------------------------------------------------
def _register_prefilter_twin():
    @register(
        "d14_minhash_prefilter_verified",
        oracle="""
        WITH g AS (
          SELECT doc_id,
                 list_distinct([text[i:i+2] FOR i IN range(1, greatest(length(text)-1, 2))]) AS gs
          FROM documents WHERE doc_id < 200
        ),
        sigs AS (
          SELECT doc_id,
                 [list_min([CAST(list_sum([(strpos('0123456789abcdef',
                                                   substr(md5(gr || '_' || s), i, 1)) - 1)
                                            * 16 ** (8 - i) FOR i IN range(1, 9)]) AS BIGINT)
                            FOR gr IN gs]) FOR s IN range(0, 16)] AS sig
          FROM g
        ),
        exploded AS (
          SELECT doc_id, b AS band_id,
                 CAST(list_sum([(strpos('0123456789abcdef',
                                        substr(md5(array_to_string(sig[b*4+1 : b*4+4], ',')), i, 1)) - 1)
                                 * 16 ** (8 - i) FOR i IN range(1, 9)]) AS BIGINT) AS band_val
          FROM sigs, unnest(range(0, 4)) AS t(b)
        ),
        ranked AS (
          SELECT doc_id, band_id, band_val,
                 ROW_NUMBER() OVER (PARTITION BY band_id, band_val ORDER BY doc_id) AS rn,
                 MIN(doc_id) OVER (PARTITION BY band_id, band_val) AS min_id
          FROM exploded
        ),
        head AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM ranked a JOIN ranked b
            ON a.band_id = b.band_id AND a.band_val = b.band_val
          WHERE a.rn < b.rn AND b.rn <= 8
        ),
        overflow AS (
          SELECT min_id AS doc_a, doc_id AS doc_b FROM ranked WHERE rn > 8
        ),
        cands AS (
          SELECT DISTINCT doc_a, doc_b FROM (
            SELECT * FROM head UNION ALL SELECT * FROM overflow
          )
        ),
        kept AS (
          SELECT c.doc_a, c.doc_b
          FROM cands c
          JOIN sigs sa ON sa.doc_id = c.doc_a
          JOIN sigs sb ON sb.doc_id = c.doc_b
          WHERE list_sum([CASE WHEN sa.sig[i] IS NOT DISTINCT FROM sb.sig[i]
                               THEN 1 ELSE 0 END FOR i IN range(1, 17)]) >= 8
        )
        SELECT k.doc_a, k.doc_b,
               ROUND(len(list_intersect(a.gs, b.gs))::DOUBLE
                     / len(list_distinct(list_concat(a.gs, b.gs))), 6) AS jac
        FROM kept k
        JOIN g a ON a.doc_id = k.doc_a
        JOIN g b ON b.doc_id = k.doc_b
        WHERE len(list_intersect(a.gs, b.gs))::DOUBLE
              / len(list_distinct(list_concat(a.gs, b.gs))) >= 0.62
        """,
    )
    def d14_minhash_prefilter_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
        grams = docs.select("doc_id", char_ngrams("text", 3).alias("g"))
        sigs = minhash_sig_table(
            grams, "doc_id", num_hashes=16, grams_col="g", hash_fn="md5"
        )
        cands = lsh_candidate_pairs(
            grams,
            "doc_id",
            num_hashes=16,
            bands=4,
            bucket_cap=8,
            grams_col="g",
            hash_fn="md5",
            sigs=sigs,
        )
        sa = sigs.select(
            F.col("doc_id").alias("id_a"),
            *[F.col(f"_h{i}").alias(f"_ha{i}") for i in range(16)],
        )
        sb = sigs.select(
            F.col("doc_id").alias("id_b"),
            *[F.col(f"_h{i}").alias(f"_hb{i}") for i in range(16)],
        )
        matches = sum(
            F.when(F.col(f"_ha{i}").eqNullSafe(F.col(f"_hb{i}")), 1).otherwise(0)
            for i in range(16)
        )
        kept = (
            cands.join(sa, "id_a").join(sb, "id_b").filter(matches >= 8)
            .select("id_a", "id_b")
        )
        ga = grams.select(F.col("doc_id").alias("id_a"), F.col("g").alias("gs_a"))
        gb = grams.select(F.col("doc_id").alias("id_b"), F.col("g").alias("gs_b"))
        jac = jaccard(F.col("gs_a"), F.col("gs_b"))
        return (
            kept.join(ga, "id_a")
            .join(gb, "id_b")
            .withColumn("jac", jac)
            .filter(F.col("jac") >= 0.62)
            .select(
                F.col("id_a").alias("doc_a"),
                F.col("id_b").alias("doc_b"),
                F.round("jac", 6).alias("jac"),
            )
        )

    return d14_minhash_prefilter_verified


_register_prefilter_twin()


# ---------------------------------------------------------------------------
# d13 — transitive dedup GRADUATED to hash-green (r8): the iterative
# min-label propagation (connected_components — join+aggregate
# rounds, the standard large-graph pattern) over d07's md5 LSH pair
# graph, with the ORACLE computing the same components via a
# recursive reachability closure + per-node min. Pytest pinned the
# chain/cluster semantics since r2; this makes the component labels
# themselves part of the official cross-engine record. The closure
# formulation is oracle-only — quadratic in cluster size, which is
# fine for DuckDB on bounded fixtures and exactly the thing the
# iterative Spark operator exists to avoid at scale.
# ---------------------------------------------------------------------------
def _register_transitive_components():
    @register(
        "d13_transitive_components",
        oracle="""
        WITH RECURSIVE g AS (
          SELECT doc_id,
                 list_distinct([text[i:i+2] FOR i IN range(1, greatest(length(text)-1, 2))]) AS gs
          FROM documents WHERE doc_id < 200
        ),
        sigs AS (
          SELECT doc_id,
                 [list_min([CAST(list_sum([(strpos('0123456789abcdef',
                                                   substr(md5(gr || '_' || s), i, 1)) - 1)
                                            * 16 ** (8 - i) FOR i IN range(1, 9)]) AS BIGINT)
                            FOR gr IN gs]) FOR s IN range(0, 16)] AS sig
          FROM g
        ),
        exploded AS (
          SELECT doc_id, b AS band_id,
                 CAST(list_sum([(strpos('0123456789abcdef',
                                        substr(md5(array_to_string(sig[b*4+1 : b*4+4], ',')), i, 1)) - 1)
                                 * 16 ** (8 - i) FOR i IN range(1, 9)]) AS BIGINT) AS band_val
          FROM sigs, unnest(range(0, 4)) AS t(b)
        ),
        ranked AS (
          SELECT doc_id, band_id, band_val,
                 ROW_NUMBER() OVER (PARTITION BY band_id, band_val ORDER BY doc_id) AS rn,
                 MIN(doc_id) OVER (PARTITION BY band_id, band_val) AS min_id
          FROM exploded
        ),
        head AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM ranked a JOIN ranked b
            ON a.band_id = b.band_id AND a.band_val = b.band_val
          WHERE a.rn < b.rn AND b.rn <= 8
        ),
        overflow AS (
          SELECT min_id AS doc_a, doc_id AS doc_b FROM ranked WHERE rn > 8
        ),
        pairs AS (
          SELECT DISTINCT doc_a, doc_b FROM (
            SELECT * FROM head UNION ALL SELECT * FROM overflow
          )
        ),
        edges AS (
          SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION
          SELECT doc_b AS a, doc_a AS b FROM pairs
        ),
        reach AS (
          -- transitive closure (UNION dedup = cycle-safe); component
          -- of a node = min id it can reach, including itself
          SELECT a, b FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        )
        SELECT a AS node, LEAST(a, MIN(b)) AS component
        FROM reach GROUP BY a
        """,
    )
    def d13_transitive_components(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
        pairs = lsh_candidate_pairs(
            docs,
            num_hashes=16,
            bands=4,
            ngram=3,
            bucket_cap=8,
            hash_fn="md5",
        )
        # strict + a generous cap: divergence must be a loud error,
        # never a puzzling hash mismatch (ADVICE r8); dedup-cluster
        # diameter is tiny, so 50 rounds is far past any real chain
        return connected_components(
            pairs, "id_a", "id_b", max_iterations=50, strict=True
        )

    return d13_transitive_components


_register_transitive_components()


# ---------------------------------------------------------------------------
# d10 — INCREMENTAL cross-snapshot dedup: flag a NEW document batch
# against an EXISTING corpus fingerprint index (the banded_minhash
# projection, persisted as parquet at snapshot time) without
# re-reading — or re-shingling — any old corpus text. This is the
# operational shape every continuously-ingesting training pipeline
# needs: at 100 TB the corpus text is petascale-cold, but its index
# is ~bands×20 bytes/doc, and each day's batch only pays
#   O(shingle+hash the batch) + O(scan the index once).
# The batch's banded fingerprints are BROADCAST (a batch is small by
# definition), so the index scan is shuffle-free; writing the index
# partitioned by band_id additionally prunes the scan to the bands
# the batch actually hits.
# ---------------------------------------------------------------------------
def incremental_near_dups(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    ngram: int = 3,
    hash_fn: str = "xxhash64",
    broadcast_new: bool = True,
    new_banded: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, dup_of, is_dup) for every row of ``new_docs``:
    ``dup_of`` is the LOWEST corpus id sharing at least one LSH band
    with the new doc (-1 when no collision — kept non-null so the
    output stays int64 end-to-end), ``is_dup`` mirrors it as 0/1.

    ``index`` must be a ``banded_minhash`` projection built with the
    SAME (num_hashes, bands, ngram, hash_fn) — typically
    ``spark.read.parquet(<snapshot index path>)``.

    ``broadcast_new=True`` (default) is the daily-batch shape: the
    batch's fingerprints ship to every executor and the index scan
    is shuffle-free. A batch of fingerprints is ~bands×20 B/doc, so
    this holds into the millions of docs; for a backfill-sized batch
    that would not fit the broadcast limit, pass False to fall back
    to a shuffle join on (band_id, band_hash) — still
    index-scan-once, just with an exchange.

    Degenerate documents (null / empty / shorter than one shingle)
    all hash to the SAME constant fingerprints, so they flag each
    other as near-dups — semantically defensible (two empty docs are
    exact dups), but at corpus scale millions of them form one giant
    (band_id, band_hash) bucket and the collision join fans out
    quadratically. Route such docs through exact dedup first
    (d01-style content hash handles them in one shuffle) and feed
    this operator real text; tests/test_null_inputs.py pins the
    small-scale behavior.

    ``new_banded``: optionally the precomputed ``banded_minhash``
    projection of ``new_docs`` (SAME parameters) — callers that also
    persist the batch's fingerprints (the streaming index append)
    compute them once and share, instead of this function
    re-deriving them (r17: halves the per-trigger fingerprint work;
    identical rows either way since it is the same function of the
    same input, pinned by the d10/d11/s01/s02/s04 gate rows).
    """
    if new_banded is None:
        new_banded = banded_minhash(
            new_docs,
            id_col=id_col,
            text_col=text_col,
            num_hashes=num_hashes,
            bands=bands,
            ngram=ngram,
            hash_fn=hash_fn,
        )
    new_banded = new_banded.withColumnRenamed(id_col, "_new_id")
    new_side = F.broadcast(new_banded) if broadcast_new else new_banded
    hits = (
        index.join(new_side, ["band_id", "band_hash"])
        # a re-ingested id must not match its own old fingerprints
        .filter(F.col(id_col) != F.col("_new_id"))
        .groupBy("_new_id")
        .agg(F.min(id_col).alias("_dup_of"))
    )
    return (
        new_docs.select(id_col)
        .join(hits.withColumnRenamed("_new_id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("_dup_of", F.lit(-1)).alias("dup_of"),
            F.col("_dup_of").isNotNull().cast("int").alias("is_dup"),
        )
    )


def verify_incremental_candidates(
    flags: DataFrame,
    corpus_docs: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    threshold: float = 0.62,
) -> DataFrame:
    """Exact-Jaccard verification of ``incremental_near_dups``
    candidates — still with NO corpus rescan: the flagged
    (batch id, corpus id) pairs are batch-sized, so the only corpus
    text touched is a ``left_semi`` point-fetch of the matched ids
    (broadcast of the id set; parquet scans prune on the pushed
    semi-join filter). Same shingle/Jaccard semantics as the
    in-snapshot verifier (``minhash_near_dups``): char n-gram sets,
    hashed to bigints before the intersect.

    Returns (id, dup_of, jaccard) for pairs with
    jaccard >= threshold — band-collision candidates that fail the
    exact check (LSH false positives) are dropped here.
    """
    from parquet_pipeline_spark.functions import jaccard as _jac

    cand = flags.filter(F.col("is_dup") == 1).select(id_col, "dup_of")
    matched_ids = cand.select(F.col("dup_of").alias(id_col)).distinct()

    def grams_of(df, out):
        return df.select(
            F.col(id_col),
            F.transform(char_ngrams(text_col, ngram), lambda g: F.xxhash64(g)).alias(
                out
            ),
        )

    corpus_g = grams_of(
        corpus_docs.join(F.broadcast(matched_ids), id_col, "left_semi"), "gs_c"
    ).withColumnRenamed(id_col, "dup_of")
    new_g = grams_of(new_docs, "gs_n")
    return (
        cand.join(new_g, id_col)
        .join(F.broadcast(corpus_g), "dup_of")
        .withColumn("jaccard", F.round(_jac(F.col("gs_n"), F.col("gs_c")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select(id_col, "dup_of", "jaccard")
    )


# DuckDB recomputes the whole cross-snapshot pipeline with the
# md5-portable hash: shingles → 16-hash minhash → 4-band
# fingerprints for BOTH the corpus snapshot (doc_id % 5 <> 0) and
# the new batch (doc_id % 5 = 0), then the band-collision join and
# min-id attribution. Same sig/band formulas as d07. Shared by d10
# (inline index) and d11 (index round-tripped through parquet) —
# the persisted layout must not change any flag, so both pin to the
# identical SQL.
_INCREMENTAL_DEDUP_ORACLE = """
        WITH g AS (
          SELECT doc_id,
                 list_distinct([text[i:i+2] FOR i IN range(1, greatest(length(text)-1, 2))]) AS gs
          FROM documents WHERE doc_id < 300
        ),
        sigs AS (
          SELECT doc_id,
                 [list_min([CAST(list_sum([(strpos('0123456789abcdef',
                                                   substr(md5(gr || '_' || s), i, 1)) - 1)
                                            * 16 ** (8 - i) FOR i IN range(1, 9)]) AS BIGINT)
                            FOR gr IN gs]) FOR s IN range(0, 16)] AS sig
          FROM g
        ),
        exploded AS (
          SELECT doc_id, b AS band_id,
                 CAST(list_sum([(strpos('0123456789abcdef',
                                        substr(md5(array_to_string(sig[b*4+1 : b*4+4], ',')), i, 1)) - 1)
                                 * 16 ** (8 - i) FOR i IN range(1, 9)]) AS BIGINT) AS band_val
          FROM sigs, unnest(range(0, 4)) AS t(b)
        ),
        hits AS (
          SELECT n.doc_id, MIN(c.doc_id) AS dup_of
          FROM exploded n
          JOIN exploded c
            ON n.band_id = c.band_id AND n.band_val = c.band_val
          WHERE n.doc_id % 5 = 0 AND c.doc_id % 5 <> 0
          GROUP BY n.doc_id
        )
        SELECT d.doc_id,
               COALESCE(h.dup_of, -1) AS dup_of,
               CAST(h.dup_of IS NOT NULL AS INT) AS is_dup
        FROM documents d
        LEFT JOIN hits h ON d.doc_id = h.doc_id
        WHERE d.doc_id < 300 AND d.doc_id % 5 = 0
        """


def _register_incremental_dedup():
    @register("d10_incremental_dedup", oracle=_INCREMENTAL_DEDUP_ORACLE)
    def d10_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 300)
        corpus = docs.filter(F.col("doc_id") % 5 != 0)
        batch = docs.filter(F.col("doc_id") % 5 == 0)
        # in production the index is read back from a snapshot
        # parquet; building it inline here keeps the gate hermetic
        # (tests/test_dedup.py covers the persisted round-trip)
        index = banded_minhash(corpus, num_hashes=16, bands=4, hash_fn="md5")
        return incremental_near_dups(
            batch, index, num_hashes=16, bands=4, hash_fn="md5"
        )

    return d10_incremental_dedup


_register_incremental_dedup()


def _register_incremental_dedup_indexed():
    @register("d11_incremental_dedup_indexed", oracle=_INCREMENTAL_DEDUP_ORACLE)
    def d11_incremental_dedup_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
        """d10's pipeline with the index ROUND-TRIPPED through
        parquet — the shape users actually run (build the snapshot
        fingerprint index once, read it back per batch): the corpus
        fingerprints are written band_id-partitioned to a scratch
        dir and re-read via spark.read.parquet before the flag join,
        so parquet type round-trips and partition discovery are
        inside the hash-checked path. Oracle identical to d10 —
        the persisted layout must not change a single flag."""
        import os as _os
        from parquet_pipeline_spark.scratch import scratch_dir

        docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 300)
        corpus = docs.filter(F.col("doc_id") % 5 != 0)
        batch = docs.filter(F.col("doc_id") % 5 == 0)
        idx_path = _os.path.join(
            scratch_dir("d11_minhash_idx_"), "idx"
        )
        banded_minhash(
            corpus, num_hashes=16, bands=4, hash_fn="md5"
        ).write.partitionBy("band_id").parquet(idx_path)
        index = spark.read.parquet(idx_path)
        return incremental_near_dups(
            batch, index, num_hashes=16, bands=4, hash_fn="md5"
        )

    return d11_incremental_dedup_indexed


_register_incremental_dedup_indexed()


@register("s01_streaming_incremental_dedup")  # rows-only: streaming sink
def s01_streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING shape of d10/d11 as an official driver entry
    (rows-only by design — the flags land via a foreachBatch
    streaming sink, not a SQL-expressible plan; the flag math itself
    is hash-pinned by d10/d11): corpus fingerprints persist as the
    band-partitioned index, then the batch docs (doc_id % 5 = 0)
    arrive as TWO file micro-batches — the second batch's docs dedup
    against corpus AND first-batch appends, proving the index grows
    in-stream. Returns one flag row per batch doc, exactly-once via
    _batch_id dynamic partition overwrite."""
    import json as _json
    import os as _os
    import time as _time

    from parquet_pipeline_spark.scratch import scratch_dir
    from parquet_pipeline_spark.streaming.events import (
        streaming_incremental_dedup,
    )

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 300)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    tmp = scratch_dir("s01_stream_dedup_")
    idx = _os.path.join(tmp, "idx")
    banded_minhash(corpus, num_hashes=16, bands=4).write.partitionBy(
        "band_id"
    ).parquet(idx)

    rows = sorted(
        (
            (r["doc_id"], r["text"])
            for r in docs.filter(F.col("doc_id") % 5 == 0)
            .select("doc_id", "text")
            .collect()  # bounded: <= 60 rows at any sf (doc_id < 300)
        )
    )
    src = _os.path.join(tmp, "src")
    _os.makedirs(src)
    half = len(rows) // 2
    now = _time.time()
    for i, chunk in enumerate((rows[:half], rows[half:])):
        p = _os.path.join(src, f"b{i}.jsonl")
        with open(p, "w") as fh:
            fh.write(
                "\n".join(
                    _json.dumps({"doc_id": d, "text": t}) for d, t in chunk
                )
            )
        # strictly increasing mtimes: FileStreamSource batch order
        _os.utime(p, (now + i, now + i))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    dest = _os.path.join(tmp, "flags")
    q = streaming_incremental_dedup(
        stream, idx, dest, _os.path.join(tmp, "ckpt"),
        num_hashes=16, bands=4,
    )
    if not q.awaitTermination(300):
        # never return a partially-written flags table: a silent
        # timeout would surface as a flapping row count at the gate
        q.stop()
        raise TimeoutError("s01 streaming dedup did not finish in 300s")
    return spark.read.parquet(dest).select("doc_id", "dup_of", "is_dup")


@register("s02_streaming_batch_equivalence", oracle=_INCREMENTAL_DEDUP_ORACLE)
def s02_streaming_batch_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming≡batch equivalence as a HASH-GREEN driver row
    (r8, VERDICT item 4): the same corpus/batch split as d10/d11,
    but the flags are computed by the STREAMING sink — two file
    micro-batches through foreachBatch, exactly-once _batch_id
    dynamic partition overwrite — and hash-compared against the
    d10/d11 SQL oracle verbatim. ``update_index=False`` pins both
    micro-batches to the corpus-only index so the stream's flags are
    by-contract identical to the batch operator's (the growing-index
    variant, whose flags legitimately depend on micro-batch
    boundaries, remains s01's rows-only entry). md5 fingerprints for
    cross-engine portability, exactly like d10/d11."""
    import json as _json
    import os as _os
    import time as _time

    from parquet_pipeline_spark.scratch import scratch_dir
    from parquet_pipeline_spark.streaming.events import (
        streaming_incremental_dedup,
    )

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 300)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    tmp = scratch_dir("s02_stream_equiv_")
    idx = _os.path.join(tmp, "idx")
    banded_minhash(corpus, num_hashes=16, bands=4, hash_fn="md5").write.partitionBy(
        "band_id"
    ).parquet(idx)

    rows = sorted(
        (
            (r["doc_id"], r["text"])
            for r in docs.filter(F.col("doc_id") % 5 == 0)
            .select("doc_id", "text")
            .collect()  # bounded: <= 60 rows at any sf (doc_id < 300)
        )
    )
    src = _os.path.join(tmp, "src")
    _os.makedirs(src)
    half = len(rows) // 2
    now = _time.time()
    for i, chunk in enumerate((rows[:half], rows[half:])):
        p = _os.path.join(src, f"b{i}.jsonl")
        with open(p, "w") as fh:
            fh.write(
                "\n".join(
                    _json.dumps({"doc_id": d, "text": t}) for d, t in chunk
                )
            )
        # strictly increasing mtimes: FileStreamSource batch order
        _os.utime(p, (now + i, now + i))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    dest = _os.path.join(tmp, "flags")
    q = streaming_incremental_dedup(
        stream, idx, dest, _os.path.join(tmp, "ckpt"),
        num_hashes=16, bands=4, hash_fn="md5", update_index=False,
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("s02 streaming dedup did not finish in 300s")
    return spark.read.parquet(dest).select("doc_id", "dup_of", "is_dup")


@register(
    "d12_semdedup_hierarchical",
    oracle="""
    WITH nz AS (
      -- null/zero-norm rows are not dedupable (no direction) —
      -- matches the Spark-side guard in semdedup_pairs_hierarchical
      SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
      WHERE embedding IS NOT NULL
        AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
    ), ccents AS (
      -- 16 fixed coarse centroids: the TRUE lowest ids (matches
      -- orderBy(vec_id).limit(16) even for sparse id layouts)
      SELECT vec_id AS ccid, emb AS cv
      FROM (SELECT vec_id, emb FROM nz ORDER BY vec_id LIMIT 16)
    ), cassign AS (
      -- coarse assign: argmax cosine, ties -> lowest ccid (numpy
      -- first-max over centroids sorted by id)
      SELECT vec_id, ccid FROM (
        SELECT e.vec_id, c.ccid,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.emb, c.cv) DESC,
                          c.ccid) AS rn
        FROM nz e, ccents c
      ) WHERE rn = 1
    ), cells AS (
      SELECT a.vec_id, a.ccid, n.emb,
             ROW_NUMBER() OVER (PARTITION BY a.ccid ORDER BY a.vec_id)
               AS id_rank,
             COUNT(*) OVER (PARTITION BY a.ccid) AS cell_n
      FROM cassign a JOIN nz n USING (vec_id)
    ), fcents AS (
      -- fine centroids: the cell's lowest ids, one per 32 members
      -- (kernel: m[:max(len//32, 1)] on the id-sorted cell)
      SELECT ccid, vec_id AS fcid, emb AS fv
      FROM cells WHERE id_rank <= GREATEST(cell_n // 32, 1)
    ), fassign AS (
      -- fine assign WITHIN the cell: ties -> lowest fine index,
      -- which is id order (centroids are the cell's lowest ids)
      SELECT vec_id, ccid, fcid FROM (
        SELECT e.vec_id, e.ccid, f.fcid,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.emb, f.fv) DESC,
                          f.fcid) AS rn
        FROM cells e JOIN fcents f USING (ccid)
      ) WHERE rn = 1
    )
    SELECT a.fcid AS cluster_id, a.vec_id AS keep_id, b.vec_id AS dup_id,
           ROUND(list_cosine_similarity(x.emb, y.emb), 6) AS cos_sim
    FROM fassign a
    JOIN fassign b
      ON a.ccid = b.ccid AND a.fcid = b.fcid AND a.vec_id < b.vec_id
    JOIN nz x ON a.vec_id = x.vec_id
    JOIN nz y ON b.vec_id = y.vec_id
    WHERE list_cosine_similarity(x.emb, y.emb) >= 0.30
    """,
)
def d12_semdedup_hierarchical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The billions-of-vectors SemDeDup shape as an official driver
    entry — GRADUATED to hash-green in r8: with all parameters
    pinned (16 fixed coarse cells, one fine centroid per 32 members,
    fine centroids = the cell's lowest ids), the whole coarse-assign
    → fine-split → within-cluster-pairs machinery is deterministic
    and SQL-expressible, so the oracle above replays both
    quantization levels in DuckDB and value-hashes the pairs
    (the d08/a10 twin pattern applied in place — no separate twin
    needed since d12's own params were already fixed). Pair-recall
    floors vs flat clustering are asserted in tests/test_dedup.py.
    Assignment is n·16 flops — linear where d09's n/64 policy is
    n²/64."""
    emb = _emb(spark, sf_dir)
    return semdedup_pairs_hierarchical(
        emb, coarse_cells=16, cluster_size=32, threshold=0.30
    )


# ---------------------------------------------------------------------------
# d08 — SemDeDup-shaped semantic dedup (Abbas et al. 2023): cluster
# the embedding space, then do pairwise cosine ONLY within each
# cluster. This is the standard way to make embedding-cosine dedup
# (d05's bounded all-pairs baseline) scale: the quadratic term is
# confined to one cluster, and n_centroids GROWS with the corpus so
# cluster size stays bounded (the sf1 sweep caught the fixed-k=8
# version going quadratic: 400 s at 10x the vectors). Centroids are
# the n lowest-id vectors (deterministic, SQL-expressible — a04's
# k-means would refine them; the pipeline shape is identical), so
# the whole operator is value-hash-checked cross-engine.
#
# Scale path: assignment is a linear broadcast fan-out (one
# row_number window per vector); the within-cluster pairwise pass
# is ONE applyInPandas per cluster doing a numpy float64 matmul —
# dense linear algebra is the case the built-in expression layer
# genuinely can't do efficiently (zip_with/aggregate lambdas are
# interpreted, measured ~250 us per 64-dim cosine vs ~100 ns in
# BLAS). State per task = one cluster's matrix.
# ---------------------------------------------------------------------------
def semdedup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    threshold: float = 0.30,
) -> DataFrame:
    """Near-duplicate pairs (cluster_id, keep_id, dup_id, cos_sim)
    with keep_id < dup_id, cosine >= threshold, comparisons confined
    to same-centroid clusters. Choose n_centroids ~ n_vectors/64 at
    scale so per-cluster work stays constant."""
    import numpy as np
    import pandas as pd

    # centroid matrix: bounded collect of n_centroids rows (same
    # bounded-k pattern as a04's k-means), sorted by cid so numpy's
    # first-max argmax == "ties to lowest cid"
    cent_rows = (
        emb.filter(F.col(vec_col).isNotNull())
        .filter(_nonzero_vec(vec_col))
        .orderBy(id_col)
        .limit(n_centroids)
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
        .collect()
    )
    if not cent_rows:
        # empty corpus (a filter that matched nothing): no centroids
        # to assign against — empty pair set, never a numpy shape error
        return emb.sparkSession.createDataFrame(
            [], "cluster_id bigint, keep_id bigint, dup_id bigint, cos_sim double"
        )
    cids = np.array([r["cid"] for r in cent_rows], dtype=np.int64)
    cmat = np.array([list(r["cv"]) for r in cent_rows], dtype=np.float64)
    cnorm = np.sqrt((cmat * cmat).sum(axis=1))
    cnorm[cnorm == 0.0] = 1.0
    cmat = cmat / cnorm[:, None]

    # null or zero-norm embedding rows would break / distort the
    # assignment matmul; drop them JVM-side — a vector that doesn't
    # exist (or has no direction) can't be a semantic duplicate
    src = emb.filter(F.col(vec_col).isNotNull()).filter(
        _nonzero_vec(vec_col)
    ).select(id_col, vec_col)
    assign_schema = T.StructType(
        [
            src.schema[id_col],
            T.StructField("cluster_id", T.LongType()),
            src.schema[vec_col],
        ]
    )

    def assign_batches(batches):
        for pdf in batches:
            if not len(pdf):  # empty Arrow batch (r13 guard)
                continue
            m = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            norms = np.sqrt((m * m).sum(axis=1))
            norms[norms == 0.0] = 1.0
            sims = (m / norms[:, None]) @ cmat.T
            best = sims.argmax(axis=1)  # first max -> lowest cid on ties
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "cluster_id": cids[best],
                    vec_col: pdf[vec_col],
                }
            )

    assign = src.mapInPandas(assign_batches, assign_schema)

    out_schema = (
        "cluster_id bigint, keep_id bigint, dup_id bigint, cos_sim double"
    )

    def cluster_pairs(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        if len(ids) < 2:
            return pd.DataFrame(
                {"cluster_id": [], "keep_id": [], "dup_id": [], "cos_sim": []}
            )
        m = np.array(pdf[vec_col].tolist(), dtype=np.float64)
        norms = np.sqrt((m * m).sum(axis=1))
        norms[norms == 0.0] = 1.0
        sims = (m / norms[:, None]) @ (m / norms[:, None]).T
        iu, ju = np.triu_indices(len(ids), k=1)
        hit = sims[iu, ju] >= threshold
        return pd.DataFrame(
            {
                "cluster_id": np.full(int(hit.sum()), key[0], dtype=np.int64),
                "keep_id": ids[iu[hit]],
                "dup_id": ids[ju[hit]],
                "cos_sim": sims[iu[hit], ju[hit]],
            }
        )

    return (
        assign.groupBy("cluster_id")
        .applyInPandas(cluster_pairs, out_schema)
        .select("cluster_id", "keep_id", "dup_id", F.round("cos_sim", 6).alias("cos_sim"))
    )


def semdedup_pairs_hierarchical(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_cells: int = 64,
    cluster_size: int = 64,
    threshold: float = 0.30,
) -> DataFrame:
    """Two-level SemDeDup — the extreme-scale path d09's docstring
    points at. Flat semdedup's assignment is n·k flops with
    k = n/64, i.e. n²/64; here the driver-side centroid set stays
    FIXED at ``coarse_cells`` (assignment is n·coarse_cells — truly
    linear), and the fine clustering happens INSIDE each coarse
    cell: the task picks the cell's lowest-id vectors as local
    centroids (one per ``cluster_size`` members, same n/64 policy
    applied cell-locally), sub-assigns, and runs the pairwise pass
    per sub-cluster. State per task = one coarse cell; no second
    shuffle — the sub-clustering rides the cell groupBy.

    Same output contract as ``semdedup_pairs``: (cluster_id,
    keep_id, dup_id, cos_sim), keep_id < dup_id, cos >= threshold,
    comparisons confined to one (coarse, fine) cluster; cluster_id
    is the FINE centroid's vector id (globally unique, since fine
    centroids are real vectors)."""
    import numpy as np
    import pandas as pd

    coarse = (
        emb.filter(F.col(vec_col).isNotNull())
        .filter(_nonzero_vec(vec_col))
        .orderBy(id_col)
        .limit(coarse_cells)
        .select(id_col, vec_col)
        .collect()
    )
    if not coarse:
        # empty corpus: same guard as semdedup_pairs
        return emb.sparkSession.createDataFrame(
            [], "cluster_id bigint, keep_id bigint, dup_id bigint, cos_sim double"
        )
    ccids = np.array([r[id_col] for r in coarse], dtype=np.int64)
    cmat = np.array([list(r[vec_col]) for r in coarse], dtype=np.float64)
    cn = np.sqrt((cmat * cmat).sum(axis=1))
    cn[cn == 0.0] = 1.0
    cmat = cmat / cn[:, None]

    # same null/zero-norm guard as semdedup_pairs
    src = emb.filter(F.col(vec_col).isNotNull()).filter(
        _nonzero_vec(vec_col)
    ).select(id_col, vec_col)
    assign_schema = T.StructType(
        [
            src.schema[id_col],
            T.StructField("_coarse", T.LongType()),
            src.schema[vec_col],
        ]
    )

    def assign_batches(batches):
        for pdf in batches:
            if not len(pdf):  # empty Arrow batch (r13 guard)
                continue
            m = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            norms = np.sqrt((m * m).sum(axis=1))
            norms[norms == 0.0] = 1.0
            best = ((m / norms[:, None]) @ cmat.T).argmax(axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "_coarse": ccids[best], vec_col: pdf[vec_col]}
            )

    assigned = src.mapInPandas(assign_batches, assign_schema)
    out_schema = "cluster_id bigint, keep_id bigint, dup_id bigint, cos_sim double"

    def cell_pairs(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        if len(ids) < 2:
            return pd.DataFrame(
                {"cluster_id": [], "keep_id": [], "dup_id": [], "cos_sim": []}
            )
        m = np.array(pdf[vec_col].tolist(), dtype=np.float64)
        norms = np.sqrt((m * m).sum(axis=1))
        norms[norms == 0.0] = 1.0
        m = m / norms[:, None]
        # fine centroids: the cell's lowest ids, one per cluster_size
        n_fine = max(len(ids) // cluster_size, 1)
        fine = (m[:n_fine] @ m.T).argmax(axis=0)  # ties -> lowest fine idx
        out = {"cluster_id": [], "keep_id": [], "dup_id": [], "cos_sim": []}
        for f in range(n_fine):
            sel = np.nonzero(fine == f)[0]
            if len(sel) < 2:
                continue
            sims = m[sel] @ m[sel].T
            iu, ju = np.triu_indices(len(sel), k=1)
            hit = sims[iu, ju] >= threshold
            out["cluster_id"].extend([int(ids[f])] * int(hit.sum()))
            out["keep_id"].extend(ids[sel[iu[hit]]].tolist())
            out["dup_id"].extend(ids[sel[ju[hit]]].tolist())
            out["cos_sim"].extend(sims[iu[hit], ju[hit]].tolist())
        return pd.DataFrame(out)

    return (
        assigned.groupBy("_coarse")
        .applyInPandas(cell_pairs, out_schema)
        .select(
            "cluster_id", "keep_id", "dup_id", F.round("cos_sim", 6).alias("cos_sim")
        )
    )


@register(
    "d08_semdedup_pairs",
    oracle="""
    WITH nz AS (
      -- null/zero-norm rows are not dedupable (no direction) —
      -- matches the Spark-side guard in semdedup_pairs
      SELECT vec_id, embedding FROM embeddings
      WHERE embedding IS NOT NULL
        AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
    ), cents AS (
      -- the TRUE 8 lowest ids (matches orderBy(vec_id).limit(8) on
      -- the Spark side even for offset/sparse id layouts; a
      -- vec_id < 8 pin would only coincide for contiguous-from-0)
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
      FROM (SELECT vec_id, embedding FROM nz
            ORDER BY vec_id LIMIT 8)
    ), scored AS (
      SELECT e.vec_id, c.cid,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cv) DESC,
                        c.cid) AS rn
      FROM nz e, cents c
    ), assign AS (
      SELECT vec_id, cid AS cluster_id FROM scored WHERE rn = 1
    )
    SELECT a.cluster_id, a.vec_id AS keep_id, b.vec_id AS dup_id,
           ROUND(list_cosine_similarity(x.embedding::DOUBLE[],
                                        y.embedding::DOUBLE[]), 6) AS cos_sim
    FROM assign a
    JOIN nz x ON a.vec_id = x.vec_id
    JOIN assign b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
    JOIN nz y ON b.vec_id = y.vec_id
    WHERE list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[]) >= 0.30
    """,
)
def d08_semdedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query pins n_centroids=8 for oracle comparability at
    sf0.01 (the oracle's cents CTE is the 8 lowest ids); scale usage
    grows n_centroids with the corpus — that policy is what d09
    exercises."""
    emb = tables.table(spark, sf_dir, "embeddings")
    return semdedup_pairs(emb, n_centroids=8, threshold=0.30)


@register("d09_semdedup_scaled")  # rows-only: n_centroids is data-dependent
def d09_semdedup_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-POLICY variant of d08: n_centroids = max(n/64, 8)
    so per-cluster pairwise work stays O(64²) regardless of corpus
    size — the sf1/sf5 sweep measured the fixed-k=8 pin going
    quadratic (e=1.42) while this policy stays linear (BENCH_NOTES
    r5/r6). Rows-only by design: the centroid COUNT depends on a
    distributed count(), so the oracle twin (d08) pins k instead;
    the machinery (assignment, within-cluster pairs, tie-breaks) is
    identical and hash-checked there. Pair-level invariants
    (cos >= threshold, keep_id < dup_id, same-cluster confinement)
    are asserted in tests/test_dedup.py.

    Honest asymptotics: the within-cluster pair stage is linear
    under this policy, but centroid ASSIGNMENT is n·k BLAS flops
    (k = n/64 → n²/64 flops); measured fine through sf5 (250k
    vectors → ~2 s of matmul) and far beyond on a cluster, but at
    billions of vectors assignment itself needs a hierarchy —
    that path is implemented as ``semdedup_pairs_hierarchical``
    (fixed coarse cells, cell-local fine centroids; measured
    3.7×/2.6× faster at sf1/sf5 with ~15% boundary-pair recall
    trade, BENCH_NOTES r6)."""
    emb = tables.table(spark, sf_dir, "embeddings")
    n = emb.count()
    return semdedup_pairs(emb, n_centroids=max(n // 64, 8), threshold=0.30)


# ---------------------------------------------------------------------------
# q97 — deterministic exact-k-per-group sample: "take exactly k eval
# docs per source", reproducible across runs/engines because the
# order key is md5 of the row id (not RNG state, not partition
# order). One window shuffle on the group key. Complements
# stratified_sample (rate-based) when downstream needs exact counts.
# ---------------------------------------------------------------------------
def sample_k_per_group(
    df: DataFrame, group_col: str, id_col: str, k: int
) -> DataFrame:
    w = W.partitionBy(group_col).orderBy(F.md5(F.col(id_col).cast("string")), id_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def _register_sample_k():
    @register(
        "q97_eval_sample",
        oracle="""
        SELECT source, doc_id, lang FROM (
          SELECT source, doc_id, lang,
                 ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
          FROM documents
        ) WHERE rn <= 3
        """,
    )
    def q97_eval_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = _docs(spark, sf_dir).select("source", "doc_id", "lang")
        return sample_k_per_group(docs, "source", "doc_id", k=3)

    return q97_eval_sample


_register_sample_k()
