#!/usr/bin/env bash
# Full validation battery — run before closing a round.
set -uo pipefail
cd "$(dirname "$0")/.."

fail=0

echo "=== 1/10 oracle gate (sf0.01) ==="
python tools/check_oracle.py | tail -1 || fail=1

echo "=== 2/10 test suite ==="
python -m pytest tests/ -q 2>&1 | tail -1 || fail=1

echo "=== 3/10 differential fuzz (100 cases) ==="
python tools/fuzz_oracle.py 100 "${FUZZ_SEED:-7}" 2>/dev/null | tail -1 || fail=1

echo "=== 4/10 adversarial all-dirty fixture (full oracled registry) ==="
# composes every dirty table; `tools/adversarial_tables.py <table>` runs
# one table's battery for failure isolation
python tools/adversarial_tables.py all "${FUZZ_SEED:-7}" 2>/dev/null | tail -1 || fail=1

echo "=== 5/10 adversarial dirty SOURCE files (readers) ==="
python tools/adversarial_sources_check.py "${FUZZ_SEED:-7}" 2>/dev/null | tail -1 || fail=1

echo "=== 6/10 adversarial NL-planner fuzz ==="
python tools/adversarial_planner_check.py "${FUZZ_SEED:-7}" 2>/dev/null | tail -1 || fail=1

echo "=== 7/10 adversarial hostile OOXML/zip containers ==="
python tools/adversarial_zip_check.py "${FUZZ_SEED:-7}" 2>/dev/null | tail -1 || fail=1

echo "=== 8/10 adversarial hostile persisted-index artifacts ==="
python tools/adversarial_index_check.py "${FUZZ_SEED:-7}" 2>/dev/null | tail -1 || fail=1

echo "=== 9/10 benchmark tests ==="
python -m pytest perfbench -q 2>&1 | tail -1 || fail=1

echo "=== 10/10 bench (after cool-down: a sample taken right after a
full-CPU pytest reads ~45% slow with a calibration factor of only
~1.13 — the r15 box lesson) ==="
# 120 s proved insufficient after the ~40-min battery (r16: the
# in-battery sample read 14.65 normalized vs a 13.60 solo median
# minutes later) — default to 5 min; the drift rule's 3-sample solo
# median remains the authoritative number either way
sleep "${BENCH_COOLDOWN_SECS:-300}"
python bench.py 2>/dev/null | tail -1 || fail=1

exit $fail
