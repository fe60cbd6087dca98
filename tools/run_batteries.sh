#!/usr/bin/env bash
# End-of-session battery: full gate sweeps + test suite + a quiet bench
# sample, each logged under /tmp.  Run from the repo root; takes ~45 min
# at sf0.01 scope, longer with SWEEP_SF01=1 (adds the sf0.1 gate sweep).
set -uo pipefail
cd "$(dirname "$0")/.."

rc=0
run() {
  local name="$1"; shift
  echo "=== $name: $* ==="
  if "$@" > "/tmp/battery_${name}.log" 2>&1; then
    echo "    OK ($(tail -1 "/tmp/battery_${name}.log" | cut -c1-120))"
  else
    echo "    FAILED — see /tmp/battery_${name}.log"
    rc=1
  fi
}

run sweep_sf0001 python tools/check_entry.py /root/testdata/sf0.001
run sweep_sf001  python tools/check_entry.py /root/testdata/sf0.01
if [ "${SWEEP_SF01:-0}" = "1" ]; then
  run sweep_sf01 python tools/check_entry.py /root/testdata/sf0.1
fi
run pytest python -m pytest tests/ -q
run bench python bench.py
exit $rc
