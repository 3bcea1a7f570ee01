"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

The FINAL stdout line is the compact headline JSON the driver records
(hard-capped under its 2000-byte stdout-tail window — see
HEADLINE_LINE_BUDGET):
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"q01_...": sec, ...}, "queries_min": {...},
   "runs": 3, "sf": 0.1, "calibration_factor": ..., ...}
The bulky calibration payload (raw pin samples) prints on a
separate earlier line and the full record is also written
to BENCH_CALIB.json beside this file.

Each query is timed to full materialization (count of the result),
after a session warm-up so JVM startup isn't attributed to the first
query. Every query runs BENCH_REPEAT times (default 3): ``queries``
reports the per-query MEDIAN (robust to shared-sandbox noise — r2 vs
r1 showed ±11% run-to-run drift on untouched plans), ``queries_min``
the per-query min (closest to true engine cost). The headline total
sums medians. Set BENCH_QUERIES=name1,name2 to run a subset.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# breadth over the operator families: scan/agg, filter pushdown,
# top-k, fact-fact + broadcast joins, window, time bucket, JSON,
# vector top-k + collection scoring, dedup (exact, minhash-LSH),
# text analysis, chunking
HEADLINE = [
    "q01_pricing_summary",
    "q02_filter_project",
    "q06_topk_orders",
    "q08_join_multiway",
    "q09_join_broadcast_dim",
    "q19_window_rank",
    "q24_events_json",
    "q25_events_hourly",
    "v01_cosine_topk",
    "v02_collection_scores",
    "d01_exact_dedup",
    "d03_minhash_lsh_neardup",
    "t04_quality_score",
    "t05_token_count",
    "t02_chunk_assignment",
    "x02_sessionize",
    "q33_shipping_priority",
    "q63_local_supplier_volume",
    "q66_waiting_supplier",
    "x06_interval_overlap",
    "t18_span_dedup",
    "a08_bloom_prejoin",
]

# Calibration normalization (VERDICT r7 item 3): two rounds in a row
# the driver-battery total moved ±20% while solo re-runs were flat —
# shared-box concurrency, not code. Five probe queries' medians are
# pinned here; any uniform movement in them measures the BOX, not
# the code: value_normalized = value ÷ median(measured_pin /
# pinned_pin). Valid only for the default suite at sf0.1 (pins are
# full-suite composition at that sf — BENCH_NOTES §Methodology:
# subset runs are not comparable); omitted otherwise.
#
# Bases are the r16 recalibration campaign's medians (3 burst-clean
# solo runs; BENCH_NOTES §r16 recalibration). The r12 bases were
# invalidated by the r16 optimization round's CODE wins inside the
# pin set itself (table-handle memo + SQL-parsed expression building
# sped up all five pins: q01 0.322→0.226, q08 0.772→0.433 are real
# plan/driver improvements — dividing by the r12 bases made them
# read as "fast box" and inflated value_normalized, factor 0.61 on a
# quiet idle box).
# Standing rule: a code change that touches a pin query's plan
# invalidates that pin's base — re-derive it in the same round or
# the factor starts measuring the diff instead of the box.
CALIBRATION_PINS = {
    "q01_pricing_summary": 0.226,
    "q08_join_multiway": 0.433,
    "d01_exact_dedup": 0.161,
    "t05_token_count": 0.134,
    "v01_cosine_topk": 0.251,
}

# sf5 pin set (VERDICT r8 item 2): the sf0.1 pins only probe the
# small-working-set regime, and the sf5 headline total drifted
# +10-15% across r7→r8 on untouched code. These are r9 full-suite
# sf5 medians of the same five untouched operators, measured solo
# (BENCH_NOTES §sf5 calibration pins) — a uniform movement in them
# measures large-working-set box pressure (page cache, memory
# bandwidth), normalizing the sf5 total the same way the sf0.1
# pins normalize the driver battery.
CALIBRATION_PINS_BY_SF = {
    0.1: CALIBRATION_PINS,
    # r12 base: campaign medians from five burst-clean solo headline
    # runs at .scaledata/sf5 (BENCH_NOTES §r12 recalibration). The r9
    # bases carried the pre-r11 q01/q08/v01 plans; the same code wins
    # that invalidated the sf0.1 pins invalidated these.
    # NOTE (r16): the r16 code wins invalidate these too (same five
    # queries); the sf5 re-derivation campaign is deferred to the
    # next round (BENCH_NOTES §r16 recalibration) — treat sf5
    # value_normalized as stale-based until then, read sf5 raw.
    5.0: {
        "q01_pricing_summary": 1.397,
        "q08_join_multiway": 8.561,
        "d01_exact_dedup": 0.861,
        "t05_token_count": 0.184,
        "v01_cosine_topk": 1.336,
    },
}

# The published normalized band per sf (BENCH_NOTES §r12
# recalibration): min−5%…max+5% of the burst-clean campaign runs'
# new-base normalized totals. Emitted with each row so a BENCH_r*
# record is self-describing — a reader never has to guess which
# band generation a value_normalized belongs to.
NORMALIZED_BAND_BY_SF = {
    # sf0.1: r16 campaign (3 burst-clean solo runs; BENCH_NOTES §r16
    # recalibration). The r12 band was 11.3–14.4; the drop is the r16
    # optimization round's measured code win, not a box change.
    0.1: (8.3, 9.48),
    # sf5: still the r12 band — stale alongside the sf5 pins (see
    # CALIBRATION_PINS_BY_SF note); re-derived next round.
    5.0: (56.2, 68.5),
}

# How many suite queries run between interleaved pin samples. Wider
# at sf5 because one pin-set pass costs ~15 s there (q08 alone is
# ~10.6 s) vs ~2.2 s at sf0.1.
PIN_SAMPLE_EVERY_BY_SF = {0.1: 5, 5.0: 8}


def _pin_sample(spark, sf_dir: str, pins: dict, registry) -> dict:
    """One calibration sample: run the pin set NOW and return the
    median of measured/pinned ratios. Sampled repeatedly
    through the run (VERDICT r10 item 1): the five pins used to run
    only at their own positions in the suite, so a load burst during
    the OTHER queries was invisible to the factor and the official
    normalized total could read above-band while solo runs were flat
    (BENCH_r10: official 14.53 vs three in-band solo runs). Spreading
    samples across the same wall-clock window the measured queries
    occupy makes the factor see the same load they did.

    Each pin runs TWICE per sample and the MIN is used: the pin BASE
    values are suite medians-of-3 (warm), while a single shot right
    after another query's heavy work pays adjacency costs (GC debt,
    shuffle cleanup) the base never did — on a quiet sf5 box,
    single-shot samples read ~1.2 while the pins' own suite medians
    read ~1.0. The min of two back-to-back runs matches the base's
    warmth and still reflects sustained external load, which slows
    both runs.

    Returns the RAW per-pin times (r12): ratio-making lives in
    ``calibration``, so a recalibration campaign can re-normalize a
    recorded run against candidate bases offline."""
    times: dict[str, float] = {}
    for name in pins:
        fn = registry.QUERIES[name]
        best = None
        for _ in range(2):
            t0 = time.time()
            fn(spark, sf_dir).count()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        times[name] = best
    return times


def _sample_factor(times: dict[str, float], pins: dict[str, float]) -> float:
    """median of measured/base ratios for one interleaved sample."""
    ratios = sorted(times[n] / base for n, base in pins.items())
    return ratios[len(ratios) // 2]


def calibration(
    timings: dict,
    sf: float,
    samples: list[dict],
    groups: dict[str, int],
) -> dict:
    """Normalized-total fields, or {} when the run is not comparable.

    Guard (ADVICE r8): the pins are FULL-SUITE medians — a subset run
    that happens to include the five pins would normalize against
    incomparable numbers (cold codegen, different cache pressure), so
    the timed set must cover the whole default HEADLINE composition
    at a pinned sf before calibration_factor/value_normalized are
    emitted, and at least two interleaved pin samples must bracket
    its query groups.

    Normalization is LOCAL (VERDICT r10 item 1): the pin set runs
    interleaved with the suite, so each query group is bracketed by
    a load sample before and after, and the group's timings divide
    by the geometric mean of its bracketing samples. A load burst
    that covers only part of the run therefore corrects only the
    queries that ran inside it — the failure mode of the r5–r10
    endpoint mechanism, where the pins sampled one time window and
    BENCH_r10 normalized above-band on a bursty box while three solo
    runs were flat. The chronological samples and the global
    median-sample factor are emitted alongside (BENCH_NOTES
    §Interleaved local calibration).
    """
    pins = CALIBRATION_PINS_BY_SF.get(sf)
    if pins is None or not set(HEADLINE) <= set(timings):
        return {}
    if not all(n in timings for n in pins) or len(samples) < 2 or not groups:
        return {}
    out = {
        # raw per-pin sample times (r12): lets a recalibration
        # campaign re-normalize recorded runs against CANDIDATE bases
        # offline instead of re-running the suite per candidate
        "calibration_pin_raw": [
            {n: round(t, 3) for n, t in s.items()} for s in samples
        ],
        # Versioned (ADVICE r11): calibration_factor/value_normalized
        # changed SEMANTICS in r11 (endpoint factor → interleaved
        # local normalization) while keeping their historical keys, so
        # band comparisons across rounds could silently mix the two
        # definitions. Schema 2 = interleaved-local over the r12 pin
        # bases; rows without the field are schema 1 (endpoint, r5/r9
        # bases, kept in the committed BENCH_r*.json). Downstream
        # checks must compare within one schema — the old-vs-new
        # mapping lives in BENCH_NOTES §Recalibration.
        "calibration_schema": 2,
    }
    facs = [_sample_factor(s, pins) for s in samples]

    # group g is bracketed by samples[g] (taken just before it)
    # and samples[g+1]; a missing tail sample falls back to the
    # last one available
    def local(g: int) -> float:
        lo = facs[min(g, len(facs) - 1)]
        hi = facs[min(g + 1, len(facs) - 1)]
        return (lo * hi) ** 0.5

    norm_total = sum(t / local(groups[n]) for n, t in timings.items())
    out.update(
        {
            "calibration_factor": round(statistics.median(facs), 3),
            "value_normalized": round(norm_total, 3),
            "calibration_samples": [round(s, 3) for s in facs],
        }
    )
    band = NORMALIZED_BAND_BY_SF.get(sf)
    if band:
        out["calibration_band"] = list(band)
    out.update(
        {
            "calibration_groups": max(groups.values()) + 1,
            # a sub-minute burst between two samples is
            # UNRECOVERABLE at this sampling granularity (no
            # mechanism can know which of a query's 3 repeats it
            # hit) — but it IS detectable. Flagged runs should be
            # discounted and re-run rather than trusted.
            "calibration_burst_detected": max(facs) / min(facs) > 1.5,
        }
    )
    return out


# Driver-record budget (VERDICT r12 finding 2): the driver keeps only
# the LAST ~2000 bytes of bench stdout and parses the final JSON line
# inside that tail. The r12 line grew past the window when
# calibration_pin_raw + the old-base continuity fields landed, so the
# FRONT of the JSON — including the headline raw value — was truncated
# out of the official record (BENCH_r12.json parsed: null). Fix: the
# bulky calibration payload rides on a SEPARATE earlier stdout line
# and in BENCH_CALIB.json next to this file; the final line carries
# only the compact headline fields and is hard-capped below the tail
# window with margin for the line-boundary scan.
HEADLINE_LINE_BUDGET = 1900

# Fields whose size grows with sample count / pin count — never on
# the final line. Everything here is recoverable from BENCH_CALIB.json
# and the detail stdout line.
DETAIL_KEYS = ("calibration_pin_raw",)


def split_record(out: dict) -> tuple[dict, dict]:
    """(headline, detail): detail takes the bulky fields,
    headline keeps everything a band comparison needs (metric, value,
    queries, queries_min, factor, normalized, band, schema, burst)."""
    detail = {k: out[k] for k in DETAIL_KEYS if k in out}
    headline = {k: v for k, v in out.items() if k not in detail}
    return headline, detail


def headline_line(headline: dict, budget: int = HEADLINE_LINE_BUDGET) -> str:
    """Serialize the final stdout line under the driver's tail budget.

    Should fit as-is for the default suite (r11's equivalent line was
    1,813 bytes; test_bench_calibration pins the margin with a
    realistic payload). If a future suite outgrows the budget anyway,
    strip progressively rather than lose the headline: queries_min
    first, then calibration_samples — both recoverable from
    BENCH_CALIB.json."""
    line = json.dumps(headline)
    for victim in ("queries_min", "calibration_samples"):
        if len(line) <= budget:
            break
        headline = {k: v for k, v in headline.items() if k != victim}
        line = json.dumps(headline)
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from parquet_pipeline_spark import registry
    from parquet_pipeline_spark.session import get_spark, warm_up

    registry.load_all()
    spark = get_spark("bench")
    warm_up(spark)
    # compile the hot code paths (parquet reader, hash-agg, broadcast
    # join codegen) on a 1k-row slice so JVM/codegen warm-up isn't
    # charged to the first timed query — timings then reflect
    # steady-state engine throughput, the comparable quantity
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1000)
    pt = spark.read.parquet(f"{sf_dir}/part.parquet").limit(1000)
    (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy("l_returnflag")
        .agg(F.sum("l_extendedprice"))
        .count()
    )

    if os.environ.get("BENCH_QUERIES"):
        names = os.environ["BENCH_QUERIES"].split(",")
    elif os.environ.get("BENCH_ALL"):
        names = sorted(registry.QUERIES)
    else:
        names = HEADLINE
    repeat = int(os.environ.get("BENCH_REPEAT", "3"))
    timings: dict[str, float] = {}
    timings_min: dict[str, float] = {}

    # interleaved calibration sampling (only when this run's shape is
    # one the pins are valid for — same guard calibration() applies)
    pins = CALIBRATION_PINS_BY_SF.get(sf)
    sample_pins = pins if (pins and set(HEADLINE) <= set(names)) else None
    pin_every = PIN_SAMPLE_EVERY_BY_SF.get(sf, 5)
    pin_samples: list[dict] = []
    groups: dict[str, int] = {}  # query name -> sample-bracketed group
    if sample_pins:
        # untimed pin pass: compiles the five pin plans so the first
        # REAL sample doesn't charge plan construction + codegen to
        # the box (observed: a cold first sample read 1.18 while the
        # first suite queries ran at factor <1)
        _pin_sample(spark, sf_dir, sample_pins, registry)

    for qi, name in enumerate(names):
        if sample_pins and qi % pin_every == 0:
            pin_samples.append(_pin_sample(spark, sf_dir, sample_pins, registry))
        groups[name] = qi // pin_every
        fn = registry.QUERIES[name]
        runs = []
        for _ in range(repeat):
            t0 = time.time()
            df = fn(spark, sf_dir)
            df.count()  # materialize fully (not collect: keep result distributed)
            runs.append(time.time() - t0)
        timings[name] = round(statistics.median(runs), 3)
        timings_min[name] = round(min(runs), 3)

    # e2e migration-surface smoke: the keyless Engine.ask() loop
    # (decompose → identify → route → SQL-gen → execute) over the
    # attached sf tables — the reference's end-to-end unit, timed so
    # the facade has a perf number alongside the engine queries
    from parquet_pipeline_spark.engine import Engine

    eng = Engine(spark)
    eng.attach_dir(sf_dir)
    e2e_ok = True
    runs = []
    for _ in range(repeat):
        t0 = time.time()
        res = eng.ask("What is the total o_totalprice per o_orderpriority?")
        runs.append(time.time() - t0)
        e2e_ok = e2e_ok and any(
            df.columns != ["Error"] for df in res.results.values()
        )
    # real elapsed always recorded; failure surfaced in its own field
    # (a -1 sentinel would deflate the headline total)
    timings["e2e_engine_ask"] = round(statistics.median(runs), 3)
    timings_min["e2e_engine_ask"] = round(min(runs), 3)
    groups["e2e_engine_ask"] = (len(names) - 1) // pin_every

    # multi-intent e2e: a 3-sub-query question through the same loop
    # (decompose fans out to three plan→execute rounds). Reference
    # baseline for complex/multi-part questions: 10-20 s
    # (BASELINE.md / reference README.md:375), LLM-bound; this is the
    # engine-side floor for the same shape.
    multi_q = (
        "What is the total o_totalprice per o_orderpriority? "
        "How many orders per o_orderstatus? "
        "What is the average c_acctbal per c_mktsegment?"
    )
    multi_ok = True
    runs = []
    for _ in range(repeat):
        t0 = time.time()
        res = eng.ask(multi_q)
        runs.append(time.time() - t0)
        multi_ok = multi_ok and len(res.results) == 3 and all(
            df.columns != ["Error"] for df in res.results.values()
        )
    timings["e2e_engine_ask_multi"] = round(statistics.median(runs), 3)
    timings_min["e2e_engine_ask_multi"] = round(min(runs), 3)
    groups["e2e_engine_ask_multi"] = (len(names) - 1) // pin_every

    # closing sample so the e2e tail of the window is covered too
    if sample_pins:
        pin_samples.append(_pin_sample(spark, sf_dir, sample_pins, registry))

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_suite_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_min": timings_min,
        "runs": repeat,
        "e2e_engine_ask_ok": e2e_ok,
        "e2e_engine_ask_multi_ok": multi_ok,
        "sf": sf,
    }
    out.update(calibration(timings, sf, pin_samples, groups))
    headline, detail = split_record(out)
    # the FULL record (headline ∪ detail) survives in the side file
    # regardless of what the stdout tail captures
    calib_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_CALIB.json"
    )
    with open(calib_path, "w") as fh:
        json.dump(out, fh, indent=1)
    if detail:
        print(json.dumps({"metric": "calibration_detail", **detail}))
    print(headline_line(headline))


if __name__ == "__main__":
    main()
