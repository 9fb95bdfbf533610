#!/usr/bin/env bash
# Same-window A/B of the repository benchmark between two commits.
#
#   scripts/perf_ab.sh <base-ref> <workload> <pairs> [new-ref]
#
# Exports <base-ref> and <new-ref> (default HEAD; pass the output of
# `git stash create` to measure uncommitted changes) into two fresh
# checkouts under $PERF_AB_DIR (default .bench_ab/ at the repository
# root), then runs `perfbench/run.py --workload <workload> --seconds 10`
# in <pairs> pairs, one seed per pair, alternating which side runs
# first so a drift in host load splits evenly between the sides. Seeds
# count up from 501, a range kept apart from the seeds used while
# developing a change. Each checkout builds the
# engine once (run.py builds on first use); each run's stdout lands in
# <dir>/runs_base and <dir>/runs_new, its progress line on stderr ends
# with the share of host CPU stolen during the run (run.py's summary),
# and the script ends with the comparison report of
# `perfbench/compare.py`.
set -euo pipefail

if [ $# -lt 3 ] || [ $# -gt 4 ]; then
  echo "usage: $0 <base-ref> <workload> <pairs> [new-ref]" >&2
  exit 2
fi
base_ref=$1
workload=$2
pairs=$3
new_ref=${4:-HEAD}
repo=$(git rev-parse --show-toplevel)
dir=${PERF_AB_DIR:-$repo/.bench_ab}

checkout() { # <ref> <side>
  rm -rf "$dir/$2" "$dir/runs_$2"
  mkdir -p "$dir/$2" "$dir/runs_$2"
  git -C "$repo" archive "$1" | tar -x -C "$dir/$2"
  echo "$2: $(git -C "$repo" rev-parse "$1")" >> "$dir/refs.txt"
}

mkdir -p "$dir"
: > "$dir/refs.txt"
checkout "$base_ref" base
checkout "$new_ref" new

run() { # <side> <seed>
  local out
  out="$dir/runs_$1/${workload}__seed$(printf '%05d' "$2").out"
  printf '%s %s seed %s' "$(date -u +%H:%M:%S)" "$1" "$2" >&2
  (cd "$dir/$1" && python3 perfbench/run.py --workload "$workload" \
    --seed "$2" --seconds 10 --trace 0) > "$out"
  echo ", $(grep -o 'host CPU stolen [0-9.]*%' "$out" || echo 'host CPU stolen ?')" >&2
}

for i in $(seq 0 $((pairs - 1))); do
  seed=$((501 + i))
  if [ $((i % 2)) -eq 0 ]; then
    run base "$seed"; run new "$seed"
  else
    run new "$seed"; run base "$seed"
  fi
done

python3 "$dir/new/perfbench/compare.py" "$dir/runs_base" "$dir/runs_new"
