"""Tracing for the per-layer run.

Spans (name, start, end, parent, request id) are recorded around the
package's public functions by patching module attributes from here; the
package itself is not changed. Spans stay in memory and are aggregated
when the run ends. Py4J commands are counted by patching
``send_command`` on both connection classes, the way
``tools/py4j_count.py`` does. Spark job, stage and task figures are read
from the driver's status store after the traced pass, outside any
timed window.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

from stats import self_time


@dataclass
class Span:
    name: str
    start: float
    parent: int | None  # index of the enclosing span
    request: int | None  # the traced operation the span belongs to
    end: float = 0.0
    py4j: int = 0  # Py4J commands sent from the span's thread


class Tracer:
    """Records spans for a single closed-loop client.

    The main thread keeps a stack of open spans. A span opened on another
    thread (the ingest pipeline's file-conversion pool) with nothing open
    on that thread is parented to the innermost span open on the main
    thread at that moment, so self time stays correct.
    """

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.request: int | None = None
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ----------------------------------------------------------
    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def _py4j_here(self) -> int:
        return getattr(self._local, "py4j", 0)

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        sp = Span(name, time.perf_counter(), parent, self.request)
        with self._lock:
            self.spans.append(sp)
            idx = len(self.spans) - 1
        stack.append(idx)
        calls0 = self._py4j_here()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.py4j = self._py4j_here() - calls0
            stack.pop()

    def wrap(self, fn, name: str):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def patch(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a traced wrapper until ``unpatch``."""
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(orig, name))

    def count_py4j(self) -> None:
        from py4j.clientserver import ClientServerConnection
        from py4j.java_gateway import GatewayConnection

        tracer = self
        for cls in (ClientServerConnection, GatewayConnection):
            orig = cls.send_command

            def counted(conn, *a, _orig=orig, **kw):
                tracer._local.py4j = getattr(tracer._local, "py4j", 0) + 1
                return _orig(conn, *a, **kw)

            self._patched.append((cls, "send_command", orig))
            cls.send_command = counted

    def unpatch(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # -- aggregation ----------------------------------------------------
    def children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = {}
        for i, sp in enumerate(self.spans):
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(i)
        return kids

    def totals(self) -> dict[str, dict]:
        """Per span name: count, total ms, self ms and py4j calls."""
        kids = self.children()
        out: dict[str, dict] = {}
        for i, sp in enumerate(self.spans):
            child = [(self.spans[k].start, self.spans[k].end) for k in kids.get(i, [])]
            row = out.setdefault(sp.name, {"n": 0, "ms": 0.0, "self_ms": 0.0, "py4j": 0})
            row["n"] += 1
            row["ms"] += (sp.end - sp.start) * 1000
            row["self_ms"] += self_time(sp.start, sp.end, child) * 1000
            row["py4j"] += sp.py4j
        return out


def install_package_spans(tracer: Tracer) -> None:
    """Patch the package's layer boundaries.

    ``pipeline.py`` and ``engine.py`` bind their collaborators with
    ``from … import``, so the patch targets the name in the importing
    module (``parquet_pipeline_spark.pipeline.<name>``), not the defining
    one.
    """
    from parquet_pipeline_spark import catalog, engine, pipeline

    for attr, name in [
        ("decompose_query", "plans.decompose"),
        ("identify_tables", "plans.identify"),
        ("route_intent", "plans.route"),
        ("generate_sql", "plans.generate_sql"),
        ("run_sql_safe", "errors.run_sql_safe"),
        ("summarize_result", "context.summarize"),
        ("sample_head", "context.sample"),
        ("to_markdown", "context.sample"),
        ("semantic_search", "pipeline.semantic_search"),
        ("read_any", "sources.read_any"),
        ("write_parquet", "sources.write_parquet"),
        ("enrich_catalog_entry", "pipeline.enrich_catalog_entry"),
    ]:
        tracer.patch(pipeline, attr, name)
    tracer.patch(engine, "run_query_pipeline", "pipeline.ask")
    tracer.patch(engine, "run_ingestion_pipeline", "pipeline.ingest")
    tracer.patch(catalog.Catalog, "register_path", "catalog.register")


# -- Spark status store ---------------------------------------------------------


def _mapper(sc):
    jvm = sc._jvm
    scala_module = getattr(
        jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
    ).__getattr__("MODULE$")
    om = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(scala_module)
    om.configure(
        jvm.com.fasterxml.jackson.databind.SerializationFeature.FAIL_ON_EMPTY_BEANS,
        False,
    )
    return om


def read_status_store(sc) -> tuple[list[dict], dict[int, dict]]:
    """All retained jobs and the last attempt of every retained stage,
    as the status REST API would render them (two Py4J round trips)."""
    store = sc._jsc.sc().statusStore()
    om = _mapper(sc)
    jobs = json.loads(om.writeValueAsString(store.jobsList(None)))
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    stages = json.loads(
        om.writeValueAsString(store.stageList(None, False, False, no_quantiles, None))
    )
    last: dict[int, dict] = {}
    for st in stages:
        prev = last.get(st["stageId"])
        if prev is None or st["attemptId"] > prev["attemptId"]:
            last[st["stageId"]] = st
    return jobs, last


JOB_KEYS = ("jobs", "tasks", "failed_tasks", "executor_run_ms", "executor_cpu_ms",
            "shuffle_bytes", "spill_bytes", "gc_ms")


def job_figures(job: dict, stages: dict[int, dict]) -> dict:
    """One job's counters; skipped stages (reused shuffle output) count 0."""
    out = dict.fromkeys(JOB_KEYS, 0)
    out["jobs"] = 1
    out["tasks"] = job.get("numCompletedTasks", 0)
    out["failed_tasks"] = job.get("numFailedTasks", 0)
    for sid in job.get("stageIds", []):
        st = stages.get(sid)
        if st is None or st.get("status") == "SKIPPED":
            continue
        out["executor_run_ms"] += st.get("executorRunTime", 0)
        out["executor_cpu_ms"] += st.get("executorCpuTime", 0) / 1e6
        out["shuffle_bytes"] += st.get("shuffleWriteBytes", 0)
        out["spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
        out["gc_ms"] += st.get("jvmGcTime", 0)
    return out


def attribute_jobs(
    jobs: list[dict], ops: list[dict], group_prefix: str
) -> dict[int, list[dict]]:
    """Map each job to the traced operation that caused it.

    Operations run one at a time, each under the job group
    ``<group_prefix><op id>``. Jobs submitted from threads that do not
    inherit the group (the ingest conversion pool) fall back to the
    operation whose wall-clock window holds the job's submission time.
    ``ops`` items carry ``id``, ``t0`` and ``t1`` (epoch seconds).
    """
    by_op: dict[int, list[dict]] = {op["id"]: [] for op in ops}
    for job in jobs:
        group = job.get("jobGroup") or ""
        if group.startswith(group_prefix):
            op_id = int(group[len(group_prefix):])
            if op_id in by_op:
                by_op[op_id].append(job)
                continue
        submitted = job.get("submissionTime")
        if submitted is None:
            continue
        t = submitted / 1000.0
        for op in ops:
            if op["t0"] - 0.001 <= t <= op["t1"] + 0.001:
                by_op[op["id"]].append(job)
                break
    return by_op
