"""Unit pins for bench.py's calibration schema (ADVICE r11 / VERDICT
r11 item 1): versioned output, the band, and the burst flag.
Pure-python — no SparkSession."""

from __future__ import annotations

import importlib.util
import os

_spec = importlib.util.spec_from_file_location(
    "bench_for_tests",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py"),
)
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)


def _fake_run(pin_scale=1.0):
    timings = {n: 1.0 for n in bench.HEADLINE}
    pins = bench.CALIBRATION_PINS_BY_SF[0.1]
    samples = [
        {n: v * pin_scale for n, v in pins.items()},
        {n: v * pin_scale for n, v in pins.items()},
        {n: v * pin_scale for n, v in pins.items()},
    ]
    groups = {n: i // 5 for i, n in enumerate(bench.HEADLINE)}
    return timings, samples, groups


def test_schema_version_and_all_three_normalizations_emitted():
    timings, samples, groups = _fake_run()
    out = bench.calibration(timings, 0.1, samples, groups)
    assert out["calibration_schema"] == 2
    for key in (
        "value_normalized",
        "calibration_factor",
    ):
        assert key in out, key


def test_band_emitted_and_self_describing():
    timings, samples, groups = _fake_run()
    out = bench.calibration(timings, 0.1, samples, groups)
    assert out["calibration_band"] == list(bench.NORMALIZED_BAND_BY_SF[0.1])
    # raw per-pin samples ride along for offline recalibration
    assert len(out["calibration_pin_raw"]) == len(samples)
    assert set(out["calibration_pin_raw"][0]) == set(bench.CALIBRATION_PINS)


def test_factor_scales_normalized_total_inversely():
    timings, samples, groups = _fake_run(pin_scale=2.0)
    total = sum(timings.values())
    out = bench.calibration(timings, 0.1, samples, groups)
    # pins ran 2x their base -> box half speed -> normalized halves
    assert abs(out["value_normalized"] - total / 2.0) < 1e-6
    assert out["calibration_burst_detected"] is False


def test_burst_detection_flags_flapping_samples():
    timings, samples, groups = _fake_run()
    pins = bench.CALIBRATION_PINS_BY_SF[0.1]
    samples[1] = {n: v * 2.0 for n, v in pins.items()}  # mid-run burst
    out = bench.calibration(timings, 0.1, samples, groups)
    assert out["calibration_burst_detected"] is True


def test_subset_runs_emit_no_calibration():
    timings = {"q01_pricing_summary": 1.0}
    out = bench.calibration(timings, 0.1, [], {})
    assert out == {}


def test_unpinned_sf_emits_no_calibration():
    timings = {n: 1.0 for n in bench.HEADLINE}
    out = bench.calibration(timings, 0.5, [], {})
    assert out == {}


# ---------------------------------------------------------------------------
# VERDICT r12 finding 2 / item 1: the driver records only the LAST
# ~2000 bytes of bench stdout; the final line must fit with margin.
# ---------------------------------------------------------------------------
def _realistic_full_record():
    """A full output dict shaped like a real sf0.1 run: every headline
    query plus the two e2e rows, all calibration fields populated with
    worst-case-width floats (three decimals, two integer digits)."""
    timings, samples, groups = _fake_run()
    names = list(bench.HEADLINE) + ["e2e_engine_ask", "e2e_engine_ask_multi"]
    q = {n: 99.999 for n in names}
    out = {
        "metric": "headline_suite_total",
        "value": 9999.999,
        "unit": "sec",
        "queries": q,
        "queries_min": dict(q),
        "runs": 3,
        "e2e_engine_ask_ok": True,
        "e2e_engine_ask_multi_ok": True,
        "sf": 0.1,
    }
    # 8 samples: sf0.1 runs 24 queries / pin_every=5 + closing sample
    samples = samples * 3
    out.update(bench.calibration(timings, 0.1, samples, groups))
    return out


def test_headline_line_fits_driver_tail_without_stripping():
    out = _realistic_full_record()
    headline, _detail = bench.split_record(out)
    line = bench.headline_line(headline)
    assert len(line) <= bench.HEADLINE_LINE_BUDGET <= 1900
    # nothing was stripped to get there: the budget holds as-is
    kept = set(__import__("json").loads(line))
    assert "queries_min" in kept and "queries" in kept
    assert "value" in kept and "calibration_factor" in kept
    assert "calibration_band" in kept and "calibration_schema" in kept


def test_split_record_moves_bulk_and_loses_nothing():
    out = _realistic_full_record()
    headline, detail = bench.split_record(out)
    # the growing-with-samples field is off the final line
    assert "calibration_pin_raw" in detail
    assert "calibration_pin_raw" not in headline
    # union reconstructs the full record
    merged = {**headline, **detail}
    assert merged == out


def test_headline_line_strips_progressively_when_over_budget():
    import json as _json

    out = _realistic_full_record()
    headline, _ = bench.split_record(out)
    # force an over-budget payload: a tiny budget must still yield a
    # parseable line that keeps the headline value
    line = bench.headline_line(headline, budget=400)
    parsed = _json.loads(line)
    assert parsed["value"] == out["value"]
    assert "queries_min" not in parsed
