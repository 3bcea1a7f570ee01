"""Fast tests of the benchmark's own code (no Spark session).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import threading
import time

import pandas as pd
import pytest

import data
import metrics
import stats
import tracing
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# -- percentiles and the sample-count rule ------------------------------------


def test_tail_percentile_needs_ten_samples_beyond():
    assert stats.tail_percentile(19) is None
    assert stats.tail_percentile(20) == 0.5
    assert stats.tail_percentile(39) == 0.5
    assert stats.tail_percentile(40) == 0.75
    assert stats.tail_percentile(100) == 0.9
    assert stats.tail_percentile(199) == 0.9
    assert stats.tail_percentile(200) == 0.95
    assert stats.tail_percentile(1000) == 0.99


def test_summarize_states_sample_count_and_supported_tail():
    vals = [float(i) for i in range(1, 101)]
    out = stats.summarize(vals)
    assert out["n"] == 100
    assert out["p50"] == pytest.approx(50.5)
    assert out["p90"] == pytest.approx(90.1)
    assert "p95" not in out
    small = stats.summarize([3.0, 1.0, 2.0])
    assert small == {"n": 3, "p50": 2.0}


def test_percentile_interpolates_and_rejects_empty():
    assert stats.percentile([1.0, 3.0], 0.5) == 2.0
    assert stats.percentile([5.0], 0.9) == 5.0
    with pytest.raises(ValueError):
        stats.percentile([], 0.5)


# -- self time ------------------------------------------------------------------


def test_self_time_subtracts_children():
    assert stats.self_time(0.0, 10.0, []) == 10.0
    assert stats.self_time(0.0, 10.0, [(1.0, 3.0), (5.0, 6.0)]) == pytest.approx(7.0)


def test_self_time_counts_overlapping_children_once():
    # two pool threads' spans overlap inside the parent
    assert stats.self_time(0.0, 10.0, [(1.0, 5.0), (3.0, 7.0)]) == pytest.approx(4.0)
    # a child sticking out of the parent is clipped to it
    assert stats.self_time(2.0, 4.0, [(1.0, 3.0)]) == pytest.approx(1.0)
    assert stats.self_time(0.0, 1.0, [(0.0, 1.0), (0.2, 0.4)]) == 0.0


def test_tracer_self_time_and_cross_thread_parent():
    tr = tracing.Tracer()
    with tr.span("outer"):
        with tr.span("inner"):
            pass

        def worker():
            with tr.span("pooled"):
                pass

        t = threading.Thread(target=worker)
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    names = [s.name for s in tr.spans]
    assert names == ["outer", "inner", "pooled"]
    assert tr.spans[1].parent == 0
    assert tr.spans[2].parent == 0  # parented to the main thread's open span
    tot = tr.totals()
    outer = tr.spans[0]
    kids = [(s.start, s.end) for s in tr.spans[1:]]
    assert tot["outer"]["self_ms"] == pytest.approx(
        stats.self_time(outer.start, outer.end, kids) * 1000
    )


def test_patch_and_unpatch_restore_the_attribute():
    class Owner:
        @staticmethod
        def f(x):
            return x + 1

    orig = Owner.f
    tr = tracing.Tracer()
    tr.patch(Owner, "f", "layer.f")
    assert Owner.f(1) == 2
    assert [s.name for s in tr.spans] == ["layer.f"]
    tr.unpatch()
    assert Owner.f is orig


def test_jobs_attributed_by_group_then_by_time():
    ops = [{"id": 0, "t0": 100.0, "t1": 101.0}, {"id": 1, "t0": 101.5, "t1": 103.0}]
    jobs = [
        {"jobId": 1, "jobGroup": "g-0", "submissionTime": 100_500},
        {"jobId": 2, "jobGroup": None, "submissionTime": 102_000},  # pool thread
        {"jobId": 3, "jobGroup": None, "submissionTime": 50_000},  # before the pass
    ]
    by_op = tracing.attribute_jobs(jobs, ops, "g-")
    assert [j["jobId"] for j in by_op[0]] == [1]
    assert [j["jobId"] for j in by_op[1]] == [2]


def test_job_figures_skip_skipped_stages():
    stages = {
        1: {"status": "COMPLETE", "executorRunTime": 40, "executorCpuTime": 3e7,
            "shuffleWriteBytes": 10, "memoryBytesSpilled": 1, "diskBytesSpilled": 2,
            "jvmGcTime": 5},
        2: {"status": "SKIPPED", "executorRunTime": 99, "executorCpuTime": 0},
    }
    job = {"stageIds": [1, 2], "numCompletedTasks": 4, "numFailedTasks": 0}
    f = tracing.job_figures(job, stages)
    assert f["executor_run_ms"] == 40
    assert f["executor_cpu_ms"] == pytest.approx(30.0)
    assert f["shuffle_bytes"] == 10 and f["spill_bytes"] == 3 and f["gc_ms"] == 5
    assert f["jobs"] == 1 and f["tasks"] == 4


# -- digests -------------------------------------------------------------------


def test_digest_ignores_row_and_column_order():
    a = pd.DataFrame({"k": ["x", "y"], "v": [1.0, 2.5]})
    b = pd.DataFrame({"v": [2.5, 1.0], "k": ["y", "x"]})
    assert workloads.digest(a) == workloads.digest(b)


def test_digest_normalizes_floats_to_six_places_and_nulls():
    a = pd.DataFrame({"v": [0.1 + 0.2, None], "s": ["a", None]})
    b = pd.DataFrame({"v": [0.3, float("nan")], "s": ["a", None]})
    assert workloads.digest(a) == workloads.digest(b)
    c = pd.DataFrame({"v": [0.300001, None], "s": ["a", None]})
    assert workloads.digest(a) != workloads.digest(c)
    assert workloads.digest(a)["rows"] == 2


def test_lake_answer_compare_is_order_and_int_float_insensitive():
    spark_side = pd.DataFrame({"chars": [10, 9], "lang": ["x", "y"]})
    duck_side = pd.DataFrame({"lang": ["y", "x"], "chars": [9.0, 10.0]})
    assert workloads._rows_close(spark_side, duck_side)
    assert not workloads._rows_close(spark_side, duck_side.assign(chars=[9.0, 11.0]))
    with_null = pd.DataFrame({"k": ["a", None], "v": [1.0, float("nan")]})
    assert workloads._rows_close(with_null, with_null.iloc[::-1])
    assert not workloads._rows_close(with_null, with_null.assign(v=[1.0, 2.0]))


def test_expected_digests_cover_every_query():
    with open(workloads.EXPECTED_PATH) as fh:
        want = json.load(fh)
    for q in workloads.QUERIES:
        assert set(want[q]) == {"rows", "digest"}


# -- the generator -----------------------------------------------------------------


def test_fixtures_hold_every_base_table():
    import pyarrow.parquet as pq

    rows = {t: pq.read_metadata(os.path.join(data.FIXTURES, f"{t}.parquet")).num_rows
            for t in data.BASE_TABLES}
    assert rows["lineitem"] == 600_000 and rows["documents"] == 5_000


def _exports(out, seed):
    m = data.write_lake_exports(data.FIXTURES, str(out), seed)
    return [m[t]["path"] for t, _ in data.LAKE_TABLES], m


def _sha256(paths):
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def test_generator_is_byte_identical_for_one_seed(tmp_path):
    p1, m1 = _exports(tmp_path / "a", 7)
    p2, _ = _exports(tmp_path / "b", 7)
    assert _sha256(p1) == _sha256(p2)
    assert data.ask_mix(7) == data.ask_mix(7)
    p3, m3 = _exports(tmp_path / "c", 8)
    assert _sha256(p1) != _sha256(p3)
    assert data.ask_mix(7) != data.ask_mix(8)
    # sizes stay fixed across seeds
    assert {t: v["rows"] for t, v in m1.items()} == {t: v["rows"] for t, v in m3.items()}


def test_noisy_headers_clean_back_to_the_column():
    import numpy as np

    from parquet_pipeline_spark.sources.cleaning import clean_column_names

    rng = np.random.default_rng(0)
    cols = ["c_custkey", "o_orderpriority", "l_extendedprice", "value", "n_chars"]
    for _ in range(20):
        raw = [data.noisy_header(c, rng) for c in cols]
        assert clean_column_names(raw) == cols


def test_semantic_questions_avoid_sql_hints():
    from parquet_pipeline_spark.plans.planner import route_intent

    for seed in range(20):
        for ask in data.ask_mix(seed)["asks"]:
            want = "SEMANTIC_SEARCH" if ask["kind"] == "semantic" else "SQL_QUERY"
            if ask["mode"] == "keyless":
                for sub in ask["subs"]:
                    assert route_intent(sub) == want, sub


def test_keyless_asks_record_the_planner_sql():
    import pyarrow.parquet as pq

    from parquet_pipeline_spark.plans.planner import generate_sql, identify_tables

    catalog = {
        t: pq.read_schema(os.path.join(data.FIXTURES, f"{t}.parquet")).names
        for t, _ in data.LAKE_TABLES
    }
    for seed in range(5):
        for ask in data.ask_mix(seed)["asks"]:
            if ask["kind"] != "sql" or ask["mode"] != "keyless":
                continue
            for sub, sql in zip(ask["subs"], ask["sql"]):
                tables, _ = identify_tables(sub, catalog)
                assert len(tables) == 1
                assert generate_sql(sub, {t: catalog[t] for t in tables}) == sql


def test_stand_in_client_answers_each_planner_prompt():
    from parquet_pipeline_spark.plans import planner

    mix = data.ask_mix(5)
    client = workloads.StandInClient(mix["responses"])
    ask = next(a for a in mix["asks"] if a["mode"] == "client" and len(a["subs"]) == 3)
    assert planner.decompose_query(ask["question"], client) == ask["subs"]
    catalog = {"orders": ["o_custkey"], "customer": ["c_custkey"], "lineitem": ["x"],
               "events": ["y"], "documents": ["z"]}
    for sub, sql in zip(ask["subs"], ask["sql"]):
        assert planner.route_intent(sub, client) == "SQL_QUERY"
        tables, _ = planner.identify_tables(sub, catalog, client)
        assert tables == mix["responses"]["subs"][sub]["tables"]
        assert planner.generate_sql(sub, {}, client, "ctx") == sql


def test_lake_pass_repeats_only_the_sql_asks():
    from collections import Counter

    wl = workloads.LakeWorkload(None, data.FIXTURES, 5)
    wl.mix = data.ask_mix(5)
    for deadline, rounds in ((None, workloads.SQL_ASK_ROUNDS),
                             (time.perf_counter() - 1, workloads.SQL_ASK_ROUNDS)):
        ops = list(wl.ops(1, deadline))
        assert [op.kind for op in ops[:2]] == ["ingest", "index"]
        runs = Counter((op.key, op.kind) for op in ops[2:])
        assert len(runs) == len(wl.mix["asks"])
        for (_key, kind), n in runs.items():
            assert n == (rounds if kind == "ask_sql" else 1)


def test_lake_pass_adds_ask_rounds_until_its_deadline():
    wl = workloads.LakeWorkload(None, data.FIXTURES, 5)
    wl.mix = data.ask_mix(5)
    n_sql = sum(a["kind"] == "sql" for a in wl.mix["asks"])
    deadline = time.perf_counter() + 3600
    ops = wl.ops(1, deadline)
    taken = [next(ops) for _ in range(2 + len(wl.mix["asks"]) + 10 * n_sql)]
    assert sum(op.kind == "ask_sql" for op in taken) == 11 * n_sql


def test_pin_environment_clears_digest_formatting(monkeypatch):
    import run

    for var in ("ORACLE_SIG_DIGITS", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM",
                "SPARK_LOCAL_DIRS", "TMPDIR", "PYSPARK_PYTHON"):
        monkeypatch.setenv(var, os.environ.get(var, "3"))
    run.pin_environment()
    assert "ORACLE_SIG_DIGITS" not in os.environ


# -- BENCHMARK.json ------------------------------------------------------------------


def test_benchmark_json_names_the_metrics_the_code_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert tuple(w["name"] for w in spec["workloads"]) == workloads.WORKLOADS
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25
