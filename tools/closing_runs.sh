#!/bin/bash
# Round-closing evidence protocol (r11): N full bench runs back to back,
# each calibration-stamped by bench.py itself; JSON lines appended to
# the given output file (default plans/r11/bench_closing_runs.jsonl)
# with a run_tag. Usage: tools/closing_runs.sh [N] [tag] [outfile]
#
# A run is appended only when bench.py exits 0 AND its last stdout line
# parses as JSON; otherwise the run is reported on stderr, nothing is
# appended, and the script exits 1 after the remaining runs. bench.py's
# own stderr passes through to the terminal. bench.py's defaults (the
# sf0.1 data set on local[32]) apply unless SPARK_GRAFT_SF_DIR /
# SPARK_GRAFT_CPUS are set in the caller's environment.
set -u
N="${1:-5}"
TAG="${2:-r11_closing}"
OUT="${3:-plans/r11/bench_closing_runs.jsonl}"
cd "$(dirname "$0")/.."
status=0
for i in $(seq 1 "$N"); do
  if ! out=$(python bench.py); then
    echo "run $i: bench.py failed; nothing appended" >&2
    status=1
    continue
  fi
  line=$(printf '%s\n' "$out" | tail -1)
  if ! printf '%s' "$line" | python -c 'import json, sys; json.load(sys.stdin)' 2>/dev/null; then
    echo "run $i: last stdout line is not JSON; nothing appended" >&2
    status=1
    continue
  fi
  printf '{"run_tag": "%s_run%s", "bench": %s}\n' "$TAG" "$i" "$line" >> "$OUT"
  echo "run $i done"
done
exit "$status"
