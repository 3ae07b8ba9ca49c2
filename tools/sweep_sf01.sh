#!/bin/bash
# Chunked full-registry parity sweep at sf0.1 (10x driver scale).
#
# Why chunked: a single-process sweep at sf0.1 OOMs (concurrent
# million-row pandas collects in the compare step) and DuckDB's
# out-of-core oracle runs can spill tens of GB of temp files. Each
# chunk runs in a fresh process (memory resets) and spill dirs are
# swept between chunks.
#
# Usage: bash tools/sweep_sf01.sh [out_log] [chunk] [name_list]
# With name_list (a file, one query name per line) only those queries
# are swept and out_log is appended to, not truncated: the way to
# resume a sweep that stopped part-way.
set -u
REPO=$(cd "$(dirname "$0")/.." && pwd)
SF=/root/testdata/sf0.1
OUT=${1:-$REPO/sweep_sf01.log}
CHUNK=${2:-30}
LIST=${3:-}
if [ -n "$LIST" ]; then
  mapfile -t ALL < "$LIST"
else
  : > "$OUT"
  NAMES=$(cd "$REPO" && python -c \
    'import __spark_entry__ as e; print("\n".join(e.queries()))')
  mapfile -t ALL <<< "$NAMES"
fi
TOTAL=${#ALL[@]}
echo "sweep: $TOTAL queries${LIST:+ from $LIST}, chunks of $CHUNK" >> "$OUT"
for ((i = 0; i < TOTAL; i += CHUNK)); do
  chunk=("${ALL[@]:i:CHUNK}")
  echo "--- chunk $((i / CHUNK)) (${chunk[0]}..${chunk[$((${#chunk[@]} - 1))]})" >> "$OUT"
  timeout 3000 python "$REPO/tools/check_parity.py" \
    --jobs 2 "$SF" "${chunk[@]}" 2>/dev/null \
    | grep -E "^(OK|FAIL|ROWS|[0-9]+ pass)" >> "$OUT"
  # DuckDB spill only, plus arcon scratch STALE >90min - deleting
  # live /tmp/arcon_* kills concurrent pytest/parity processes
  # (DuckDB aborts when its temp vanishes; tempfile.mkdir races)
  rm -rf "$REPO/.tmp" /tmp/duckdb_* 2>/dev/null
  find /tmp -maxdepth 1 -name 'arcon_*' -mmin +90 -exec rm -rf {} + 2>/dev/null
done
echo "SWEEP DONE" >> "$OUT"
