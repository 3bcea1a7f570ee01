"""Inputs of the benchmark.

* The base tables (``region`` … ``embeddings``): the engine's sf0.1
  fixtures, one parquet file per table — a TPC-H-like star schema plus an
  ``events`` stream, a ``documents`` text corpus and an ``embeddings``
  vector table. They ship in ``fixtures/sf0.1`` so a run reads nothing
  outside its checkout; ``expected.json`` holds the query digests on them.
* The ``lake`` exports: CSV/JSONL files of five base tables with noisy
  headers and about 1% NULL cells, plus the question mix and the stand-in
  LLM client's responses. These depend on the workload ``--seed``.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "sf0.1")
BASE_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# Words of the documents' vocabulary that semantic questions are drawn
# from: none of them is a SQL routing hint, a table name or a column name.
SEMANTIC_WORDS = [
    "spark", "stream", "window", "vector", "hash", "merge", "scan",
    "filter", "query", "batch", "sort", "join", "agg", "line",
]


# -- lake exports -------------------------------------------------------------

# (table, format) pairs the lake workload ingests
LAKE_TABLES = [
    ("customer", "csv"),
    ("orders", "csv"),
    ("lineitem", "csv"),
    ("events", "jsonl"),
    ("documents", "jsonl"),
]
# rows exported per table (None: all); keeps one lake pass near 14 s on
# 4 cores, so a run fits the benchmark's time budget
LAKE_ROWS = {"lineitem": 60_000, "orders": 60_000, "events": 40_000,
             "documents": 1_000}
# columns that stay NULL-free (keys and the text the index embeds)
_NOT_NULL = {"c_custkey", "o_orderkey", "o_custkey", "l_orderkey", "event_id",
             "doc_id", "text"}
NULL_SHARE = 0.01


def noisy_header(col: str, rng) -> str:
    """A raw header that the engine's column cleaning maps back to ``col``."""
    parts = col.split("_")
    style = int(rng.integers(0, 4))
    if style == 0:
        return col.upper()
    if style == 1:
        return " " + " ".join(p.capitalize() for p in parts) + " "
    if style == 2:
        return ".".join(parts)
    return "-".join(p.upper() for p in parts)


def _with_nulls(table: pa.Table, rng) -> pa.Table:
    cols = []
    for name, col in zip(table.column_names, table.columns):
        if name not in _NOT_NULL:
            mask = pa.array(rng.random(len(table)) < NULL_SHARE)
            col = pc.if_else(mask, pa.scalar(None, col.type), col)
        cols.append(col)
    return pa.table(cols, names=table.column_names)


def write_lake_exports(base_dir: str, out_dir: str, seed: int) -> dict:
    """Write the seeded CSV/JSONL exports; return their manifest:
    ``{table: {"path", "format", "rows", "bytes", "columns": {clean: raw}}}``."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    manifest: dict[str, dict] = {}
    for name, fmt in LAKE_TABLES:
        table = pq.read_table(os.path.join(base_dir, f"{name}.parquet"))
        order = rng.permutation(len(table))[: LAKE_ROWS.get(name)]
        table = table.take(pa.array(order))
        table = _with_nulls(table, rng)
        raw = {c: noisy_header(c, rng) for c in table.column_names}
        path = os.path.join(out_dir, f"{name}.{'csv' if fmt == 'csv' else 'jsonl'}")
        renamed = table.rename_columns([raw[c] for c in table.column_names])
        if fmt == "csv":
            pacsv.write_csv(renamed, path)
        else:
            _write_jsonl(renamed, path)
        manifest[name] = {
            "path": path,
            "format": fmt,
            "rows": len(table),
            "bytes": os.path.getsize(path),
            "columns": raw,
        }
    return manifest


def _write_jsonl(table: pa.Table, path: str) -> None:
    cols = table.column_names
    types = table.schema.types
    data = [
        c.to_pylist() if not pa.types.is_timestamp(t)
        else [None if v is None else v.isoformat(sep=" ") for v in c.to_pylist()]
        for c, t in zip(table.columns, types)
    ]
    with open(path, "w") as fh:
        for row in zip(*data):
            fh.write(json.dumps(dict(zip(cols, row))))
            fh.write("\n")


# -- the lake question mix ----------------------------------------------------

# Keyless asks: "What is the <agg> <column> in <table>?", which the
# planner's fallback grammar turns into one aggregate. The table slots are
# fixed so every seed asks the same amount of work; the seed picks the
# aggregate and the column.
_KEYLESS_COLUMNS = {
    "orders": ["o_totalprice"],
    "lineitem": ["l_extendedprice", "l_quantity", "l_discount"],
    "customer": ["c_acctbal"],
    "events": ["value"],
    "documents": ["n_chars"],
}
_KEYLESS_ASKS = [["orders"], ["lineitem"], ["customer", "events", "documents"],
                 ["orders", "lineitem", "customer"]]
_AGG_SQL = {"average": "AVG", "maximum": "MAX", "minimum": "MIN", "total": "SUM"}

# stand-in client sub-questions: (question, tables the client selects, SQL)
_CLIENT = [
    ("Revenue and order count for each order priority",
     ["orders"],
     "SELECT o_orderpriority, COUNT(*) AS n_orders, SUM(o_totalprice) AS revenue "
     "FROM orders GROUP BY o_orderpriority"),
    ("Mean account balance for each market segment",
     ["customer"],
     "SELECT c_mktsegment, AVG(c_acctbal) AS avg_acctbal "
     "FROM customer GROUP BY c_mktsegment"),
    ("Event volume and value for each event type",
     ["events"],
     "SELECT event_type, COUNT(*) AS n_events, SUM(value) AS total_value "
     "FROM events GROUP BY event_type"),
    ("Gross line value for each return flag and line status",
     ["lineitem"],
     "SELECT l_returnflag, l_linestatus, SUM(l_extendedprice) AS gross, "
     "COUNT(*) AS n_lines FROM lineitem GROUP BY l_returnflag, l_linestatus"),
    ("Orders placed by each market segment",
     ["orders", "customer"],
     "SELECT c.c_mktsegment, COUNT(*) AS n_orders, SUM(o.o_totalprice) AS revenue "
     "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
     "GROUP BY c.c_mktsegment"),
    ("Gross line value for each order status",
     ["lineitem", "orders"],
     "SELECT o.o_orderstatus, SUM(l.l_extendedprice) AS gross, COUNT(*) AS n_lines "
     "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
     "GROUP BY o.o_orderstatus"),
    ("Documents and characters for each language",
     ["documents"],
     "SELECT lang, COUNT(*) AS n_docs, SUM(n_chars) AS chars "
     "FROM documents GROUP BY lang"),
]
_CLIENT_ASKS = [[0], [3], [1, 2, 6], [4, 5, 0]]
N_SEMANTIC = 2  # semantic-routed asks per pass


def _keyless_part(table: str, rng) -> tuple[str, str]:
    agg = list(_AGG_SQL)[int(rng.integers(0, len(_AGG_SQL)))]
    cols = _KEYLESS_COLUMNS[table]
    col = cols[int(rng.integers(0, len(cols)))]
    fn = _AGG_SQL[agg]
    question = f"What is the {agg} {col} in {table}?"
    return question, f"SELECT {fn}({col}) AS {fn.lower()}_{col} FROM {table}"


def ask_mix(seed: int) -> dict:
    """The seeded question mix of one lake pass, with the SQL each
    sub-question must produce and the stand-in client's responses.

    Every seed asks 4 keyless and 4 client asks (2 single-intent and 2
    3-part each) over the same tables, plus 2 semantic asks; the seed
    picks the keyless aggregates and columns, the semantic topics and the
    order."""
    rng = np.random.default_rng([seed, 2])
    asks: list[dict] = []
    decompose: dict[str, list[str]] = {}
    subs_plan: dict[str, dict] = {}
    for tables in _KEYLESS_ASKS:
        subs = [_keyless_part(t, rng) for t in tables]
        asks.append({"kind": "sql", "mode": "keyless",
                     "question": " ".join(q for q, _ in subs),
                     "subs": [q for q, _ in subs], "sql": [s for _, s in subs]})
    for idxs in _CLIENT_ASKS:
        subs = []
        for i in idxs:
            q, tables, sql = _CLIENT[i]
            q = f"{q} ({len(subs_plan)})?"  # unique text per sub-question
            subs_plan[q] = {"tables": tables, "sql": sql}
            subs.append((q, sql))
        question = " ".join(q for q, _ in subs)
        decompose[question] = [q for q, _ in subs]
        asks.append({"kind": "sql", "mode": "client", "question": question,
                     "subs": [q for q, _ in subs], "sql": [s for _, s in subs]})
    words = np.array(SEMANTIC_WORDS)
    for _ in range(N_SEMANTIC):
        topic = " ".join(words[rng.choice(len(words), size=3, replace=False)])
        q = f"Tell me about {topic}"
        asks.append({"kind": "semantic", "mode": "keyless", "question": q,
                     "subs": [q], "sql": [None]})
    order = rng.permutation(len(asks))
    return {
        "asks": [asks[i] for i in order],
        "responses": {"decompose": decompose, "subs": subs_plan},
    }
