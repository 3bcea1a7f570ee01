"""Property-based tests (hypothesis) for the pure-python kernels and
the trickiest distributed invariants on randomized small inputs."""

import pytest

import datetime as dt

from hypothesis import given, settings, strategies as st

from parquet_pipeline_spark.operators.embedding import sanitize_collection_name
from parquet_pipeline_spark.sources.cleaning import clean_column_names


# ---------------------------------------------------------------------------
# clean_column_names: output is always unique, lower_snake, non-empty
# ---------------------------------------------------------------------------
@given(st.lists(st.text(max_size=30), max_size=15))
def test_clean_names_unique_and_wellformed(names):
    out = clean_column_names(names)
    assert len(out) == len(names)
    assert len(set(out)) == len(out), "no collisions after dedup"
    for c in out:
        assert c and c == c.lower()
        assert " " not in c and "__" not in c
        assert not c.startswith("_") and not c.endswith("_")


@given(st.lists(st.text(alphabet=st.characters(categories=("Ll", "Nd")), min_size=1, max_size=10), max_size=10))
def test_clean_names_idempotent_on_clean_input(names):
    once = clean_column_names(names)
    twice = clean_column_names(once)
    assert once == twice


# ---------------------------------------------------------------------------
# sanitize_collection_name: reference charset/length/ends contract
# ---------------------------------------------------------------------------
@given(st.text(max_size=600))
def test_sanitize_collection_contract(name):
    s = sanitize_collection_name(name)
    assert 3 <= len(s) <= 512
    assert all(c.isalnum() or c in "._-" for c in s)
    assert s[0].isalnum() and s[-1].isalnum()


# ---------------------------------------------------------------------------
# greedy chunker (pure-python reimplementation of its loop is the
# spec; here we check the real operator on random inputs via Spark)
# ---------------------------------------------------------------------------
@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.text(alphabet=st.characters(categories=("Ll",)), min_size=1, max_size=120),
        min_size=1,
        max_size=25,
    )
)
def test_greedy_chunk_properties(texts):
    from tests.conftest import SF_DIR  # noqa: F401 (session already up)
    from parquet_pipeline_spark.session import get_spark
    from parquet_pipeline_spark.operators.text import greedy_chunk

    spark = get_spark("tests")
    rows = [(i, t, "g") for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    chunks = sorted(
        greedy_chunk(df, "source", "doc_id", "text", max_chars=100).collect(),
        key=lambda r: r["chunk_id"],
    )
    seen = [rid for c in chunks for rid in c["row_ids"]]
    assert seen == list(range(len(texts))), "each row exactly once, in order"
    for c in chunks:
        if len(c["row_ids"]) > 1:
            assert len(c["chunk_text"]) <= 100
    # greedy property: a chunk only closes because the next row would
    # not fit (i.e. merging any chunk with its successor's first row
    # must overflow)
    for a, b in zip(chunks, chunks[1:]):
        first_next = texts[b["row_ids"][0]]
        assert len(a["chunk_text"]) + 1 + len(first_next) > 100


# ---------------------------------------------------------------------------
# asof_join equals the naive per-row definition on random data
# ---------------------------------------------------------------------------
@settings(max_examples=5, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=20),
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),
            st.floats(min_value=-100, max_value=100, allow_nan=False),
        ),
        min_size=1,
        max_size=20,
        unique_by=lambda t: t[0],
    ),
)
@pytest.mark.slow
def test_asof_join_matches_naive(probe_secs, quotes_raw):
    from parquet_pipeline_spark.session import get_spark
    from parquet_pipeline_spark.operators.temporal import asof_join

    spark = get_spark("tests")
    base = dt.datetime(2024, 1, 1)
    probes = spark.createDataFrame(
        [(i, base + dt.timedelta(seconds=s)) for i, s in enumerate(probe_secs)],
        "id long, ts timestamp",
    )
    quotes = spark.createDataFrame(
        [(base + dt.timedelta(seconds=s), v) for s, v in quotes_raw],
        "ts timestamp, rate double",
    )
    got = {r["id"]: r["rate"] for r in asof_join(probes, quotes, "ts", "rate", bucket="1 hour").collect()}

    def naive(s):
        eligible = [(qs, v) for qs, v in quotes_raw if qs <= s]
        return max(eligible)[1] if eligible else None

    expected = {i: naive(s) for i, s in enumerate(probe_secs)}
    assert got == expected


@pytest.mark.slow
def test_fuzz_differential_vs_duckdb(spark):
    """30 randomized filter+aggregate queries must agree with DuckDB
    (numeric tolerance). Seeded — deterministic in CI."""
    import tools.fuzz_oracle as fz

    assert fz.run(n=30, seed=123, quiet=True) == 0


# ---------------------------------------------------------------------------
# t15 BPE-regex pre-tokenizer: tokens tile the non-whitespace chars
# exactly (no char lost, none duplicated, order preserved) — the
# invariant that makes token counts a faithful budget of the text
# ---------------------------------------------------------------------------
@given(
    st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126),
        max_size=120,
    )
)
@settings(max_examples=60, deadline=None)
def test_bpe_regex_tokens_tile_nonspace(text):
    import re

    from parquet_pipeline_spark.operators.text import BPE_REGEX

    toks = re.findall(BPE_REGEX, text)
    assert "".join(toks) == re.sub(r"\s+", "", text)
    assert all(t for t in toks)


# ---------------------------------------------------------------------------
# hash_embedder: unit-norm, deterministic, dim-correct on arbitrary
# text (the spec the e01 oracle recomputes in SQL)
# ---------------------------------------------------------------------------
@given(st.text(max_size=200), st.sampled_from([4, 16, 64]))
@settings(max_examples=40, deadline=None)
def test_hash_embedder_unit_norm_deterministic(text, dim):
    import math

    from parquet_pipeline_spark.operators.embedding import hash_embedder

    emb = hash_embedder(dim)
    v1 = emb([text])[0]
    v2 = emb([text])[0]
    assert v1 == v2
    assert len(v1) == dim
    assert abs(math.sqrt(sum(x * x for x in v1)) - 1.0) < 1e-9
    assert all(-1.5 <= x <= 1.5 for x in v1)


# ---------------------------------------------------------------------------
# span_dedup invariants on random corpora: each document's clean_text
# is exactly the concatenation of its kept spans; the global kept-span
# multiset equals the distinct-span set; dedup is idempotent
# ---------------------------------------------------------------------------
@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["alpha", "beta", "gamma", "delta"]),
            min_size=1,
            max_size=24,
        ),
        min_size=1,
        max_size=12,
    )
)
def test_span_dedup_properties(docs_words):
    from tests.conftest import SF_DIR  # noqa: F401 (session already up)
    from parquet_pipeline_spark.session import get_spark
    from parquet_pipeline_spark.operators.corpus import span_dedup

    spark = get_spark("tests")
    n = 4  # small spans so duplicates actually occur
    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs_words)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in span_dedup(df, span_words=n).collect()}

    # recompute expected first-occurrence dedup in plain python
    seen: set[str] = set()
    for i, ws in enumerate(rows):
        doc_id, text = ws
        words = text.split(" ")
        spans = [
            " ".join(words[j * n : (j + 1) * n])
            for j in range((len(words) + n - 1) // n)
        ]
        kept = []
        for s in spans:
            if s not in seen:
                seen.add(s)
                kept.append(s)
        r = out[doc_id]
        assert r["n_spans"] == len(spans)
        assert r["kept_spans"] == len(kept)
        assert r["clean_text"] == " ".join(kept)


# ---------------------------------------------------------------------------
# bloom filter: no false negatives on arbitrary keysets; bounded
# false-positive rate
# ---------------------------------------------------------------------------
@settings(max_examples=5, deadline=None)
@given(
    st.lists(st.integers(min_value=-(2**40), max_value=2**40),
             min_size=1, max_size=300, unique=True)
)
def test_bloom_no_false_negatives_any_keys(keys):
    from tests.conftest import SF_DIR  # noqa: F401 (session already up)
    from parquet_pipeline_spark.functions.bloom import build_bloom, with_bloom_hit
    from parquet_pipeline_spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark("tests")
    members = spark.createDataFrame([(k,) for k in keys], "k long")
    bitmap = build_bloom(members, "k")
    hits = with_bloom_hit(members, bitmap, "k").filter(F.col("_bloom_hit")).count()
    assert hits == len(keys)  # every member passes, whatever the keys


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.one_of(st.none(), st.integers(min_value=0, max_value=10_000)),
        min_size=1,
        max_size=20,
    ),
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=0, max_value=10_000)),
            st.one_of(
                st.none(),
                st.floats(min_value=-100, max_value=100, allow_nan=False),
            ),
        ),
        min_size=1,
        max_size=20,
        unique_by=lambda t: t[0],
    ),
)
def test_asof_join_null_contract_matches_naive(probe_secs, quotes_raw):
    """The r7 dirty-data contract under random dirt: null-ts probes
    are excluded, null-ts or null-valued quotes are never matched —
    checked against a contract-aware naive reference on arbitrary
    (possibly degenerate) inputs."""
    from parquet_pipeline_spark.operators.temporal import asof_join
    from parquet_pipeline_spark.session import get_spark

    spark = get_spark("tests")
    base = dt.datetime(2024, 1, 1)

    def to_ts(s):
        return None if s is None else base + dt.timedelta(seconds=s)

    probes = spark.createDataFrame(
        [(i, to_ts(s)) for i, s in enumerate(probe_secs)],
        "id long, ts timestamp",
    )
    quotes = spark.createDataFrame(
        [(to_ts(s), v) for s, v in quotes_raw],
        "ts timestamp, rate double",
    )
    got = {
        r["id"]: r["rate"]
        for r in asof_join(probes, quotes, "ts", "rate", bucket="1 hour").collect()
    }

    real_quotes = [(qs, v) for qs, v in quotes_raw if qs is not None and v is not None]

    def naive(s):
        eligible = [(qs, v) for qs, v in real_quotes if qs <= s]
        return max(eligible)[1] if eligible else None

    expected = {
        i: naive(s) for i, s in enumerate(probe_secs) if s is not None
    }
    assert got == expected


# ---------------------------------------------------------------------------
# pq_knn_join (r14): batched flat-ADC retrieval over randomized query
# batches must agree per-query with one-row calls. Every stage is
# per-query (LUT, masked cut, shortlist window, pair-wise refine), so
# the agreement is exact — a masking bug, shortlist bug or LUT mixup
# across co-batched queries shows up as a differing row.
# ---------------------------------------------------------------------------
_PQ_PROP_CACHE: dict = {}


def _pq_prop_fixture():
    """Tiny deterministic corpus + trained PQ model, built once per
    process (hypothesis re-invokes the test body per example)."""
    if "x" in _PQ_PROP_CACHE:
        return _PQ_PROP_CACHE["x"]
    import numpy as np

    from parquet_pipeline_spark.operators.vectors import pq_encode, pq_train
    from parquet_pipeline_spark.session import get_spark

    spark = get_spark("tests")
    rs = np.random.RandomState(11)
    vecs = rs.normal(size=(60, 8)).round(2)  # 2dp keeps inputs tame
    corpus = spark.createDataFrame(
        [(int(i), [float(v) for v in row]) for i, row in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    ).persist()
    books = pq_train(corpus, m=4, k_codes=8, sample=60)
    codes = pq_encode(corpus, books).persist()
    codes.count()
    _PQ_PROP_CACHE["x"] = (spark, corpus, books, codes)
    return _PQ_PROP_CACHE["x"]


@settings(max_examples=5, deadline=None)
@given(
    qvecs=st.lists(
        st.lists(
            st.integers(min_value=-6, max_value=6).map(float),
            min_size=8,
            max_size=8,
        ),
        min_size=1,
        max_size=3,
    )
)
def test_pq_knn_join_property_matches_solo(qvecs):
    from parquet_pipeline_spark.operators.vectors import pq_knn_join

    spark, corpus, books, codes = _pq_prop_fixture()
    k, sl = 5, 12  # shortlist < corpus: the ADC cut is real
    qrows = [(100 + i, v) for i, v in enumerate(qvecs)]
    batched: dict[int, dict] = {}
    for r in pq_knn_join(
        codes, books, corpus, qrows, k=k, shortlist=sl, dedup_ids=False
    ).collect():
        batched.setdefault(r["q_id"], {})[r["vec_id"]] = r["score"]
    for q_id, qv in qrows:
        solo = {
            r["vec_id"]: r["score"]
            for r in pq_knn_join(
                codes, books, corpus, [(q_id, qv)], k=k, shortlist=sl,
                dedup_ids=False,
            ).collect()
        }
        got = batched.get(q_id, {})
        if all(float(x) == 0.0 for x in qv):
            assert got == {} and solo == {}  # zero-norm query drops
            continue
        assert got == solo, (q_id, got, solo)