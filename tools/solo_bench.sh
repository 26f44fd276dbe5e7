#!/bin/bash
# Solo subset bench with artifact restore (the r7 gotcha): runs
# bench.py on the named queries, prints the JSON line, then puts back
# the BENCH_FULL.json it found (from a snapshot, so uncommitted results
# survive) and trims the appended BENCH_HISTORY.jsonl line, so smoke
# runs never pollute the artifacts. The restore also runs when bench.py
# fails or is interrupted.
# Usage: tools/solo_bench.sh [SF_DIR] QUERY [QUERY...]
#   SF_DIR is taken only when the first argument is a directory; a
#   first argument with a '/' that is not a directory is an error.
set -u
cd "$(dirname "$0")/.."
usage() {
  echo "usage: $0 [SF_DIR] QUERY [QUERY...]" >&2
  exit 2
}
if [[ "${1:-}" == */* && ! -d "$1" ]]; then
  echo "$0: $1 is not a directory" >&2
  usage
fi
[ -d "${1:-}" ] || set -- "" "$@"
SF="${1:-/root/testdata/sf0.1}"
shift
[ $# -gt 0 ] || usage
SNAPSHOT=$(mktemp)
cp BENCH_FULL.json "$SNAPSHOT"
NLINES_BEFORE=$(wc -l < BENCH_HISTORY.jsonl)
restore() {
  cp "$SNAPSHOT" BENCH_FULL.json
  rm -f "$SNAPSHOT"
  if [ "$(wc -l < BENCH_HISTORY.jsonl)" -gt "$NLINES_BEFORE" ]; then
    local trimmed
    trimmed=$(mktemp)
    head -n "$NLINES_BEFORE" BENCH_HISTORY.jsonl > "$trimmed"
    mv "$trimmed" BENCH_HISTORY.jsonl
  fi
}
trap restore EXIT
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" python bench.py "$SF" "$@" 2>/dev/null
