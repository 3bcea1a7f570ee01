"""The two workloads: what one pass runs, and how its outputs are checked.

* ``queries``: 9 headline registry queries (``QUERIES``), each timed
  from plan build through a full ``count()``.
* ``lake``: the reference user's flow — ``Engine.ingest`` of seeded
  CSV/JSONL exports into a fresh warehouse, ``build_semantic_index`` and a
  seeded mix of SQL-routed and semantic-routed ``Engine.ask`` calls.

A pass is a list of operations. ``run_op`` times one operation and
returns what the checks need; checks run outside the timed window.
"""

from __future__ import annotations

import hashlib
import json
import math
import numbers
import os
import shutil
import time
from dataclasses import dataclass

import numpy as np

import data

# The headline registry queries the benchmark runs: one per operator
# module (two relational), taken from the ones the open performance items
# name (d03, a08, q63, q08, the vector tiers, t18).
QUERIES = [
    "q01_pricing_summary",  # operators.relational: scan + aggregate
    "q08_join_multiway",  # operators.relational: 5-way join
    "q63_local_supplier_volume",  # operators.advanced
    "x06_interval_overlap",  # operators.temporal
    "a08_bloom_prejoin",  # operators.sketches
    "v02_collection_scores",  # operators.vectors
    "d03_minhash_lsh_neardup",  # operators.dedup
    "t02_chunk_assignment",  # operators.text
    "t18_span_dedup",  # operators.corpus
]

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def digest(pdf) -> dict:
    """Row count and an order-insensitive value digest of a result,
    through the repository's oracle normalization."""
    from tools.check_oracle import normalize

    rows = normalize(pdf)
    h = hashlib.sha256()
    h.update(json.dumps(sorted(pdf.columns)).encode())
    h.update(json.dumps(rows).encode())
    return {"rows": len(rows), "digest": h.hexdigest()}


@dataclass
class Op:
    """One timed operation of a pass."""

    key: str  # stable identity across passes (query name, ask index, ...)
    kind: str  # "query" | "ingest" | "index" | "ask_sql" | "ask_semantic"
    module: str = ""  # operator module of a registry query
    arg: object = None


@dataclass
class OpResult:
    op: Op
    seconds: float
    out: object = None  # what the checks read
    cpu_s: float = 0.0  # CPU seconds of the driver process tree
    t0: float = 0.0  # epoch seconds of a traced operation, for job attribution
    t1: float = 0.0
    op_id: int = -1  # position in a traced pass
    span: int = -1  # index of the operation's span in the tracer


class QueryWorkload:
    """A list of registry queries; the seed shuffles their order per pass.

    The warm-up pass is a full pass that materializes every result
    (``toPandas``) for the output checks; timed passes ``count()``."""

    # Minimum of timed passes, for a box so slow that a pass takes a
    # third of --seconds or more (a pass takes 3-7 s on 4 cores)
    min_passes = 3

    def __init__(self, queries: list[str], spark, data_dir: str, seed: int):
        from parquet_pipeline_spark import registry

        registry.load_all()
        self.spark = spark
        self.data_dir = data_dir
        self.seed = seed
        self.fns = {q: registry.QUERIES[q] for q in queries}
        self.modules = {
            q: fn.__module__.rsplit(".", 1)[-1] for q, fn in self.fns.items()
        }

    def prepare(self, work_dir: str) -> None:
        pass

    def ops(self, pass_idx: int, deadline: float | None = None) -> list[Op]:
        rng = np.random.default_rng([self.seed, 3, pass_idx])
        names = list(self.fns)
        return [
            Op(names[i], "query", self.modules[names[i]])
            for i in rng.permutation(len(names))
        ]

    def run_op(self, op: Op, check: bool = False) -> OpResult:
        a = time.perf_counter()
        df = self.fns[op.key](self.spark, self.data_dir)
        # the warm-up pass materializes the full result for its digest;
        # timed passes count it, as bench.py does
        out = df.toPandas() if check else df.count()
        return OpResult(op, time.perf_counter() - a, out)

    def check(self, res: OpResult) -> list[str]:
        with open(EXPECTED_PATH) as fh:
            want = json.load(fh)[res.op.key]
        got = digest(res.out)
        if got != want:
            return [f"{res.op.key}: got {got}, expected {want}"]
        return []

    def finish_pass(self) -> None:
        pass

    def close(self) -> None:
        pass


# -- lake ----------------------------------------------------------------------


class StandInClient:
    """Deterministic ``LLMClient`` stand-in: answers each planner prompt
    from the responses the generator wrote, with no added latency."""

    def __init__(self, responses: dict):
        self.decompose = responses["decompose"]
        self.subs = responses["subs"]

    @staticmethod
    def _question(user: str) -> str:
        return user.rsplit("Question: ", 1)[-1].strip()

    def complete(self, system: str, user: str, json_mode: bool = False) -> str:
        if system.startswith("Split the user question"):
            return json.dumps({"queries": self.decompose[user]})
        if system.startswith("Given a catalog"):
            plan = self.subs[self._question(user)]
            return json.dumps({"tables_required": plan["tables"], "join_key": None})
        if system.startswith("Classify the question"):
            return json.dumps({"intent": "SQL_QUERY"})
        if system.startswith("Generate a valid Spark SQL"):
            plan = self.subs[self._question(user)]
            return json.dumps({"sql_query": plan["sql"], "explanation": "stand-in"})
        raise RuntimeError(f"stand-in client: unexpected prompt {system[:40]!r}")


def _rows_close(got, want, rel: float = 1e-9) -> bool:
    """Order-insensitive equality of two result frames; floats within ``rel``."""
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False
    cols = sorted(got.columns)

    def rows(pdf):
        out = []
        for rec in pdf[cols].itertuples(index=False):
            out.append(tuple(
                None if (v is None or (isinstance(v, float) and math.isnan(v))) else v
                for v in rec
            ))
        # numbers sort as numbers: one engine may return an integer sum
        # as int64 and the other as float64
        return sorted(out, key=lambda r: tuple(
            (x is None, "" if x is None else
             float(x) if isinstance(x, numbers.Real) else str(x))
            for x in r
        ))

    for a, b in zip(rows(got), rows(want)):
        for x, y in zip(a, b):
            if x is None or y is None:
                if x is not y:
                    return False
            elif isinstance(x, (float, np.floating)) or isinstance(y, (float, np.floating)):
                if not math.isclose(float(x), float(y), rel_tol=rel, abs_tol=1e-9):
                    return False
            elif str(x) != str(y):
                return False
    return True


# Rounds of the SQL-routed asks per lake pass (semantic asks run once).
# An ask takes 0.1-1 s and one sample of it varies by up to half from
# pass to pass; three samples a pass steady each ask's median at a
# fifth of the cost of a second pass.
# Rounds of the SQL-routed asks in a pass: at least this many, and a
# timed pass adds rounds until its deadline.
SQL_ASK_ROUNDS = 3


class LakeWorkload:
    """Ingest → index → ask, over the files the ingest just wrote. The
    output checks of the warm-up pass run after each operation's timer has
    stopped."""

    # one timed pass: one ingest, its ask rounds filling --seconds
    min_passes = 1

    def __init__(self, spark, data_dir: str, seed: int):
        self.spark = spark
        self.data_dir = data_dir
        self.seed = seed
        self.engine = None
        self.n_ingests = 0

    def prepare(self, work_dir: str) -> None:
        # per process, so two runs in one checkout cannot share a warehouse
        self.root = os.path.join(work_dir, f"lake-{os.getpid()}")
        shutil.rmtree(self.root, ignore_errors=True)
        inputs = os.path.join(self.root, "inputs")
        self.manifest = data.write_lake_exports(self.data_dir, inputs, self.seed)
        self.mix = data.ask_mix(self.seed)
        with open(os.path.join(self.root, "asks.json"), "w") as fh:
            json.dump(self.mix, fh, indent=1)
        self.client = StandInClient(self.mix["responses"])
        self.paths = [m["path"] for m in self.manifest.values()]
        self.input_bytes = sum(m["bytes"] for m in self.manifest.values())

    def ops(self, pass_idx: int, deadline: float | None = None):
        """Ingest, index, then rounds of the asks in a seeded order each:
        the first round has every ask, later ones the SQL-routed asks.
        ``SQL_ASK_ROUNDS`` rounds, and with a ``deadline``
        (``time.perf_counter()``) more until it has passed. A generator:
        whether a round starts is decided when the previous one ends."""
        rng = np.random.default_rng([self.seed, 4, pass_idx])
        asks = self.mix["asks"]
        yield Op("ingest", "ingest")
        yield Op("index", "index")
        rnd = 0
        while rnd < SQL_ASK_ROUNDS or (
            deadline is not None and time.perf_counter() < deadline
        ):
            for i in rng.permutation(len(asks)):
                if asks[i]["kind"] == "sql":
                    yield Op(f"ask{i}", "ask_sql", arg=asks[i])
                elif rnd == 0:
                    yield Op(f"ask{i}", "ask_semantic", arg=asks[i])
            rnd += 1

    def run_op(self, op: Op, check: bool = False) -> OpResult:
        from parquet_pipeline_spark.engine import Engine

        a = time.perf_counter()
        if op.kind == "ingest":
            self.n_ingests += 1
            self.warehouse = os.path.join(self.root, f"warehouse{self.n_ingests}")
            self.engine = Engine(self.spark, warehouse_dir=self.warehouse)
            out = self.engine.ingest(self.paths)
        elif op.kind == "index":
            out = self.engine.build_semantic_index("documents", "text")
        else:
            self.engine.client = self.client if op.arg["mode"] == "client" else None
            out = self.engine.ask(op.arg["question"])
        return OpResult(op, time.perf_counter() - a, out)

    def stored_bytes(self) -> tuple[int, int]:
        """(parquet bytes, parquet files) in the current warehouse."""
        size = files = 0
        for dirpath, _dirs, names in os.walk(self.warehouse):
            for n in names:
                if n.endswith(".parquet"):
                    size += os.path.getsize(os.path.join(dirpath, n))
                    files += 1
        return size, files

    def check(self, res: OpResult) -> list[str]:
        op = res.op
        if op.kind == "ingest":
            return self._check_ingest(res.out)
        if op.kind == "index":
            return []
        return self._check_ask(op.arg, res.out)

    def _check_ingest(self, out: dict) -> list[str]:
        errs = []
        if out.get("skipped_inputs"):
            errs.append(f"ingest skipped inputs {out['skipped_inputs']}")
        if out.get("errors"):
            errs.append(f"ingest errors {out['errors']}")
        for name, m in self.manifest.items():
            entry = out["tables"].get(name)
            if entry is None:
                errs.append(f"ingest: table {name} missing")
            elif entry["row_count"] != m["rows"]:
                errs.append(f"ingest: {name} has {entry['row_count']} rows, input {m['rows']}")
            elif sorted(entry["columns"]) != sorted(m["columns"]):
                errs.append(f"ingest: {name} columns {entry['columns']}")
        return errs

    def _duck(self):
        """DuckDB over the input files, loaded once per run."""
        if getattr(self, "_con", None) is None:
            import duckdb

            # spill files, if any, stay in the checkout's work dir
            con = duckdb.connect(
                config={"temp_directory": os.path.join(self.root, "duckdb-tmp")}
            )
            for name, m in self.manifest.items():
                if m["format"] == "csv":
                    # header row skipped; columns named in file order
                    names = ", ".join(f"'{c}'" for c in m["columns"])
                    src = f"read_csv('{m['path']}', header = true, names = [{names}])"
                    cols = "*"
                else:
                    src = f"read_json('{m['path']}', format = 'newline_delimited')"
                    cols = ", ".join(
                        f'"{raw}" AS {clean}' for clean, raw in m["columns"].items()
                    )
                con.execute(f"CREATE TABLE {name} AS SELECT {cols} FROM {src}")
            self._con = con
        return self._con

    def _check_ask(self, ask: dict, res) -> list[str]:
        from parquet_pipeline_spark.errors import is_error_frame

        errs = []
        q = ask["question"]
        if list(res.sub_queries) != ask["subs"]:
            return [f"ask {q!r}: sub-queries {res.sub_queries}"]
        for sub, sql in zip(ask["subs"], ask["sql"]):
            df = res.results.get(sub)
            if df is None or is_error_frame(df):
                errs.append(f"ask {sub!r}: error frame")
                continue
            if ask["kind"] == "semantic":
                if res.intents.get(sub) != "SEMANTIC_SEARCH":
                    errs.append(f"ask {sub!r}: routed {res.intents.get(sub)}")
                continue
            if res.sql.get(sub) != sql:
                errs.append(f"ask {sub!r}: SQL {res.sql.get(sub)!r}, expected {sql!r}")
                continue
            if not _rows_close(df.toPandas(), self._duck().execute(sql).fetchdf()):
                errs.append(f"ask {sub!r}: answer differs from DuckDB over the inputs")
        return errs

    def finish_pass(self) -> None:
        """Drop the pass's engine; the next ingest gets a fresh warehouse."""
        self.engine = None
        for n in range(1, self.n_ingests):
            shutil.rmtree(os.path.join(self.root, f"warehouse{n}"), ignore_errors=True)

    def close(self) -> None:
        if getattr(self, "_con", None) is not None:
            self._con.close()
            self._con = None
        shutil.rmtree(self.root, ignore_errors=True)


WORKLOADS = ("queries", "lake")


def make(name: str, spark, data_dir: str, seed: int):
    if name == "queries":
        return QueryWorkload(QUERIES, spark, data_dir, seed)
    if name == "lake":
        return LakeWorkload(spark, data_dir, seed)
    raise ValueError(f"unknown workload {name!r}")
