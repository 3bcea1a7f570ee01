"""Benchmark entry point.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 20 --trace 0

Runs one workload in one process with one closed-loop client on
``local[<nproc>]``, from the root of a checkout. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it carries the
details (box, pinned settings, sample counts, set-up parts). Everything
the run writes stays under ``.perfbench_work/`` in the checkout. See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import sys
import time
import traceback

import data
import metrics
import tracing
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

DRIVER_MEM = "4g"
GROUP = "perfbench-op-"  # Spark job-group prefix of a traced operation


def pin_environment() -> dict:
    """Pin the Spark CPU count, driver memory and every scratch location
    before anything starts a JVM; return the pinned values."""
    cpus = len(os.sched_getaffinity(0))
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # keyless embedder and planner, and the default digest formatting of
    # tools.check_oracle.normalize, whatever the caller's environment says
    for var in ("EMBEDDINGS_BASE_URL", "LLM_BASE_URL", "SPARK_UI", "ORACLE_SIG_DIGITS"):
        os.environ.pop(var, None)
    return {
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.relpath(os.environ["SPARK_LOCAL_DIRS"], ROOT),
        "master": f"local[{cpus}]",
    }


def spark_conf() -> dict[str, str]:
    tmp = os.path.join(WORK, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
        # C1 only: with tiered compilation the C2 compiler threads spent
        # more CPU than the executor tasks through a whole run, and a
        # pass's CPU time kept falling for 15+ passes by amounts that
        # differed from run to run; at tier 1 it is flat from the first
        # timed pass (perfbench/README.md, "Why the JIT is pinned")
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1",
        # keep every job and stage of a run for the traced read-out
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def box_record(spark) -> dict:
    import pyspark

    with open("/proc/meminfo") as fh:
        mem_kb = int(next(ln for ln in fh if ln.startswith("MemTotal")).split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
    }


def vm_hwm_mb(pid) -> float:
    """Peak resident set size of a process, from ``/proc/<pid>/status``."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


CLK_TCK = os.sysconf("SC_CLK_TCK")


def steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine, from ``/proc/stat``:
    the share a hypervisor gave to other guests."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and every live
    descendant, plus what their already-reaped children used. The delta
    between two readings is the CPU the process tree spent in between:
    a child reaped in between moves from its own counters into its
    parent's ``cutime``/``cstime``."""
    procs: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while listing
        fields = stat[stat.rindex(")") + 2:].split()
        # fields[1] ppid; fields[11:15] utime stime cutime cstime
        procs[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        if pid in procs:
            total += procs[pid][1]
            stack.extend(kids.get(pid, []))
    return total / CLK_TCK


class Bench:
    def __init__(self, args, pinned: dict, data_dir: str):
        self.args = args
        self.pinned = pinned
        self.data_dir = data_dir
        self.spark = None
        self.jvm = None
        self.pid = os.getpid()
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def fail(self, messages: list[str]) -> None:
        """Count one failed operation; its messages go to standard error."""
        self.failed += 1
        self.failures.extend(messages)
        for m in messages:
            print(f"perfbench: FAILED {m}", file=sys.stderr)

    # -- passes ---------------------------------------------------------
    def run_pass(self, wl, ops, check: bool = False, tracer=None):
        """Run one pass of ``ops``; return the results of the operations
        that succeeded. Checks run after an operation's timer stops."""
        results = []
        for i, op in enumerate(ops):
            self.attempted += 1
            try:
                cpu0 = tree_cpu_s(self.pid)
                if tracer is None:
                    res = wl.run_op(op, check=check)
                else:
                    res = self.traced_op(wl, op, tracer, i)
                res.cpu_s = tree_cpu_s(self.pid) - cpu0
            except Exception:  # an operation that raises is a failed one
                self.fail([f"{op.key}: {traceback.format_exc(limit=4)}"])
                continue
            if check:
                try:
                    errs = wl.check(res)
                except Exception:
                    errs = [f"{op.key}: check raised {traceback.format_exc(limit=4)}"]
                if errs:
                    self.fail(errs)
                    continue
            results.append(res)
        wl.finish_pass()
        return results

    def traced_op(self, wl, op, tracer, op_id: int):
        sc = self.spark.sparkContext
        tracer.request = op_id
        a = time.perf_counter()
        t0 = time.time()
        sc.setJobGroup(f"{GROUP}{op_id}", op.key)
        span_idx = len(tracer.spans)  # no other thread traces between operations
        with tracer.span("op." + op.kind):
            if op.kind == "query":
                with tracer.span("query.build"):
                    df = wl.fns[op.key](self.spark, self.data_dir)
                with tracer.span("query.action"):
                    df.count()
                res = workloads.OpResult(op, 0.0)
            else:
                res = wl.run_op(op)
        res.t0, res.t1 = t0, time.time()
        res.seconds = time.perf_counter() - a
        res.op_id = op_id
        res.span = span_idx
        return res

    # -- the run ----------------------------------------------------------
    def run(self) -> tuple[dict, dict]:
        from parquet_pipeline_spark.session import get_spark, warm_up

        args = self.args
        # set-up: the cold session start (JVM launch, conf, context) and
        # its warm-up, once
        a = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=spark_conf())
        b = time.perf_counter()
        if not warm_up(self.spark):
            self.fail(["session.warm_up returned False"])
        get_s, warm_s = b - a, time.perf_counter() - b
        self.attempted += 1
        self.jvm = self.spark.sparkContext._gateway.proc
        cores = self.spark.sparkContext.defaultParallelism

        wl = workloads.make(args.workload, self.spark, self.data_dir, args.seed)
        wl.prepare(WORK)
        # warm-up pass: every operation once, each followed by its output
        # check outside its timer
        warm = self.run_pass(wl, wl.ops(0), check=True)
        warm_ops_s = sum(r.seconds for r in warm)

        # timed passes: at least --seconds, and at least the workload's
        # minimum number of passes
        timed: list[list] = []  # results of each timed pass
        steal0, total0 = steal_ticks()
        start = time.perf_counter()
        k = 1
        while True:
            timed.append(self.run_pass(wl, wl.ops(k, deadline=start + args.seconds)))
            k += 1
            if len(timed) >= wl.min_passes and time.perf_counter() - start >= args.seconds:
                break
        measured_s = time.perf_counter() - start
        steal1, total1 = steal_ticks()

        samples = [r.seconds for res in timed for r in res
                   if r.op.kind in metrics.LATENCY_KINDS]
        op_s = metrics.medians_by_op(timed, "seconds")
        pass_s = sum(op_s.values())
        wall = {
            "pass_s": pass_s,
            "query_geomean_ms": 1000 * metrics.geomean(
                metrics.medians_by_op(timed, "seconds", metrics.LATENCY_KINDS).values()
            ),
        }
        setup_s = get_s + warm_s + warm_ops_s
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "box": box_record(self.spark),
            "pinned": self.pinned,
            "cores": cores,
            "setup": {"get_spark_s": get_s, "warm_up_s": warm_s,
                      "warm_pass_s": warm_ops_s},
            "timed_passes": len(timed),
            "measured_s": measured_s,
            "steal_share": (steal1 - steal0) / max(1, total1 - total0),
            "pass_op_s": [sum(r.seconds for r in res) for res in timed],
            "op_s": {key: [round(r.seconds, 4) for res in timed for r in res
                           if r.op.key == key] for key in op_s},
            "op_cpu_s": {key: [round(r.cpu_s, 2) for res in timed for r in res
                               if r.op.key == key] for key in op_s},
            "warm_op_s": {r.op.key: round(r.seconds, 4) for r in warm},
            "query_latency_ms": metrics.latency(samples),
            **wall,
        }

        if args.workload == "lake":
            lake = self.lake_figures(wl, timed)
            detail["lake"] = lake
        if args.trace:
            values = self.traced(wl, wl.ops(k), pass_s, cores, get_s, warm_s,
                                 lake if args.workload == "lake" else {})
            values.update(wall)
            detail["trace_rows"] = os.path.relpath(self.rows_path, ROOT)
        else:
            values = {
                "setup_s": setup_s,
                "pass_cpu_s": sum(metrics.medians_by_op(timed, "cpu_s").values()),
                "query_cpu_geomean_ms": 1000 * metrics.geomean(
                    metrics.medians_by_op(timed, "cpu_s", metrics.LATENCY_KINDS).values()
                ),
            }
        detail["peak_rss_mb"] = values["peak_rss_mb"] = (
            vm_hwm_mb("self") + vm_hwm_mb(self.jvm.pid)
        )
        wl.close()
        return detail, values

    def lake_figures(self, wl, timed) -> dict:
        ingest = [r.seconds for res in timed for r in res if r.op.kind == "ingest"]
        asks = [r.seconds for res in timed for r in res if r.op.kind == "ask_sql"]
        sem = [r.seconds for res in timed for r in res if r.op.kind == "ask_semantic"]
        stored, files = wl.stored_bytes()
        return {
            "ingest_s": statistics.median(ingest) if ingest else 0.0,
            "stored_bytes_ratio": stored / wl.input_bytes,
            "stored_bytes": stored,
            "stored_files": files,
            "input_bytes": wl.input_bytes,
            "ask_latency_ms": metrics.latency(asks),
            "semantic_ask_latency_ms": metrics.latency(sem),
        }

    def traced(self, wl, ops, pass_s, cores, get_s, warm_s, lake) -> dict:
        tracer = tracing.Tracer()
        tracer.count_py4j()
        tracing.install_package_spans(tracer)
        try:
            traced = self.run_pass(wl, ops, tracer=tracer)
        finally:
            tracer.unpatch()
        # outside any timed window: read the status store and aggregate
        jobs, stages = tracing.read_status_store(self.spark.sparkContext)
        rows = metrics.op_rows(traced, tracer, jobs, stages, GROUP)
        extra = {
            "session.get_spark_s": get_s,
            "session.warm_up_s": warm_s,
            "trace.overhead_ratio": sum(
                metrics.medians_by_op([traced], "seconds").values()) / pass_s,
        }
        if lake:
            results = [r.out for r in traced if r.op.kind.startswith("ask")]
            subs = [df for res in results for df in res.results.values()]
            from parquet_pipeline_spark.errors import is_error_frame

            ok = sum(not is_error_frame(df) for df in subs)
            ingest = next((r.out for r in traced if r.op.kind == "ingest"), None)
            stored, files = wl.stored_bytes()
            extra.update({
                "plans.sql_ok_ratio": ok / len(subs) if subs else 0.0,
                "sources.rows_written": sum(
                    t["row_count"] for t in ingest["tables"].values()) if ingest else 0,
                "sources.bytes_written": stored,
                "sources.files_written": files,
                "ingest_s": lake["ingest_s"],
                "stored_bytes_ratio": lake["stored_bytes_ratio"],
                "ask_p50_ms": lake["ask_latency_ms"].get("p50", 0.0),
                "semantic_ask_p50_ms": lake["semantic_ask_latency_ms"].get("p50", 0.0),
            })
        self.rows_path = os.path.join(
            WORK, f"trace-{self.args.workload}-seed{self.args.seed}.json")
        with open(self.rows_path, "w") as fh:
            json.dump({"ops": rows, "spans": tracer.totals()}, fh, indent=1)
        return metrics.per_layer(rows, tracer, cores, extra)

    def shutdown(self) -> None:
        """Stop Spark and the JVM the session launched; wait for it."""
        if self.spark is not None:
            try:
                self.spark.stop()
            finally:
                proc = self.jvm
                if proc is not None and proc.poll() is None:
                    proc.terminate()
                    try:
                        proc.wait(timeout=30)
                    except Exception:
                        proc.kill()
                        proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="perfbench: the engine's benchmark")
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import parquet_pipeline_spark  # noqa: F401
        import tools.check_oracle  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable here: {e}", file=sys.stderr)
        return 2

    pinned = pin_environment()
    bench = Bench(args, pinned, data.FIXTURES)
    try:
        detail, values = bench.run()
    finally:
        bench.shutdown()

    units = metrics.PER_LAYER if args.trace else metrics.END_TO_END
    detail["failures"] = bench.failures[:20]
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
