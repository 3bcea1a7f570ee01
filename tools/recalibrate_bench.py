"""Bench pin-base recalibration campaign (VERDICT r11 item 1).

Two rounds running, the official normalized bench read "above band"
while per-query raw was the fastest on record: nonuniform box drift
since r5 (sf0.1) / r9 (sf5) decoupled the PIN queries' speed from the
SUITE's, so dividing by a pin-derived factor now penalizes genuine
improvement. Fix = re-derive the pin bases from a fresh multi-run
quiet-box campaign under the final (interleaved, schema-2) mechanism,
and publish a new normalized band.

Usage:
    # run N solo bench runs, appending one JSON line each to OUT
    python tools/recalibrate_bench.py run N OUT [SF_DIR]

    # aggregate a campaign file into proposed bases + band
    python tools/recalibrate_bench.py aggregate OUT

``aggregate`` reports, per pin query:
  - the suite median (timings[pin]) per run and its campaign median
    → the PROPOSED NEW BASE (same derivation as the r5/r9 bases:
      full-suite warm medians, so sample-vs-base comparisons stay
      like-for-like),
and for the whole campaign:
  - normalized totals recomputed offline under the proposed bases via
    bench.calibration() itself (the runs carry raw interleaved pin
    samples since r12), burst-flagged runs excluded,
  - a proposed band: [min-5%, max+5%] of those normalized totals —
    the same spread-plus-margin convention BENCH_NOTES r5 used.
"""

from __future__ import annotations

import importlib.util
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_bench():
    spec = importlib.util.spec_from_file_location(
        "bench_for_recal", os.path.join(HERE, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def run(n: int, out_path: str, sf_dir: str | None) -> int:
    env = dict(os.environ)
    if sf_dir:
        env["SPARK_GRAFT_SF_DIR"] = sf_dir
    for i in range(n):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "bench.py")],
            env=env,
            cwd=HERE,
            capture_output=True,
            text=True,
        )
        line = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
        if proc.returncode != 0 or not line.startswith("{"):
            sys.stderr.write(f"run {i + 1}/{n} FAILED:\n{proc.stderr[-2000:]}\n")
            return 1
        with open(out_path, "a") as fh:
            fh.write(line + "\n")
        row = json.loads(line)
        sys.stderr.write(
            f"run {i + 1}/{n}: raw={row['value']} "
            f"norm={row.get('value_normalized')} "
            f"burst={row.get('calibration_burst_detected')}\n"
        )
    return 0


def _groups(bench, n_queries_plus_e2e: int, pin_every: int) -> dict[str, int]:
    # reconstruct bench.main()'s group assignment: HEADLINE order,
    # e2e queries share the last headline group
    groups = {n: i // pin_every for i, n in enumerate(bench.HEADLINE)}
    tail = (len(bench.HEADLINE) - 1) // pin_every
    groups["e2e_engine_ask"] = tail
    groups["e2e_engine_ask_multi"] = tail
    return groups


def aggregate(out_path: str) -> int:
    bench = _load_bench()
    rows = [json.loads(l) for l in open(out_path) if l.strip()]
    if not rows:
        sys.stderr.write("no runs recorded\n")
        return 1
    sf = rows[0]["sf"]
    pins = bench.CALIBRATION_PINS_BY_SF[sf]
    pin_every = bench.PIN_SAMPLE_EVERY_BY_SF[sf]
    clean = [r for r in rows if not r.get("calibration_burst_detected")]
    sys.stderr.write(f"{len(rows)} runs, {len(clean)} burst-clean\n")

    proposed = {}
    for name in pins:
        meds = [r["queries"][name] for r in clean]
        proposed[name] = round(statistics.median(meds), 3)

    # recompute every clean run's normalized total under the proposed
    # bases, through bench.calibration() itself (same code path the
    # official metric uses)
    bench.CALIBRATION_PINS_BY_SF[sf] = proposed
    norm, raw = [], []
    for r in clean:
        if "calibration_pin_raw" not in r:
            sys.stderr.write("run lacks calibration_pin_raw; skipped\n")
            continue
        groups = _groups(bench, len(r["queries"]), pin_every)
        out = bench.calibration(r["queries"], sf, r["calibration_pin_raw"], groups)
        norm.append(out["value_normalized"])
        raw.append(r["value"])

    report = {
        "sf": sf,
        "runs": len(rows),
        "burst_clean": len(clean),
        "proposed_bases": proposed,
        "raw_totals": raw,
        "normalized_under_proposed": norm,
        "proposed_band": [
            round(min(norm) * 0.95, 2),
            round(max(norm) * 1.05, 2),
        ]
        if norm
        else None,
    }
    print(json.dumps(report, indent=2))
    return 0


def main() -> int:
    if len(sys.argv) < 3:
        sys.stderr.write(__doc__ + "\n")
        return 2
    mode = sys.argv[1]
    if mode == "run":
        n = int(sys.argv[2])
        out_path = sys.argv[3]
        sf_dir = sys.argv[4] if len(sys.argv) > 4 else None
        return run(n, out_path, sf_dir)
    if mode == "aggregate":
        return aggregate(sys.argv[2])
    sys.stderr.write(f"unknown mode {mode}\n")
    return 2


if __name__ == "__main__":
    sys.exit(main())
