#!/usr/bin/env bash
# Paired perfbench A/B: this checkout (the change) against <parent-rev>,
# one untraced run of each side per seed, the order flipped every pair so
# drift in host load falls on both sides alike.
#
# Usage: dev/perf_pairs.sh <parent-rev> <workload> <seed>...
#
# The parent is exported from git (`git archive`, tracked files only) into
# a fresh directory and built there by its own perfbench/run.py. No
# checkout's target/ is ever copied: sbt's incremental compiler, handed a
# target/ compiled from another tree, can delete that tree's classes, and
# every later run of that tree then fails.
#
# Environment:
#   PERF_PAIRS_DIR      where the parent tree and the results go
#                       (default: a new directory under ${TMPDIR:-/tmp})
#   PERF_PAIRS_SECONDS  --seconds of every run (default 10)
#
# Prints one line per run while it goes, then for every end-to-end metric
# of BENCHMARK.json: each side's median and q1–q3, the change/parent ratio
# of the medians, and in how many pairs the change was ahead. Every run's
# JSON line is kept in $PERF_PAIRS_DIR/runs.jsonl.
set -euo pipefail

if [ "$#" -lt 3 ]; then
  echo "usage: $0 <parent-rev> <workload> <seed>..." >&2
  exit 2
fi
rev="$1"; workload="$2"; shift 2
root="$(cd "$(dirname "$0")/.." && pwd)"
work="${PERF_PAIRS_DIR:-$(mktemp -d "${TMPDIR:-/tmp}/perf_pairs.XXXXXX")}"
seconds="${PERF_PAIRS_SECONDS:-10}"
parent="$work/parent"

rm -rf "$parent"
mkdir -p "$parent"
git -C "$root" archive --format=tar "$(git -C "$root" rev-parse --verify "$rev^{commit}")" \
  | tar -x -C "$parent"
runs="$work/runs.jsonl"
: > "$runs"
echo "perf_pairs: parent $rev in $parent, change $root, results $runs" >&2

run() { # side tree seed
  local line
  line="$(cd "$2" && python3 perfbench/run.py --workload "$workload" --seed "$3" \
    --seconds "$seconds" --trace 0 | tail -n 1)"
  printf '{"side": "%s", "seed": %s, "result": %s}\n' "$1" "$3" "$line" >> "$runs"
  echo "perf_pairs: $1 seed $3: $line" >&2
}

i=0
for seed in "$@"; do
  if [ $((i % 2)) -eq 0 ]; then
    run parent "$parent" "$seed"; run change "$root" "$seed"
  else
    run change "$root" "$seed"; run parent "$parent" "$seed"
  fi
  i=$((i + 1))
done

python3 - "$runs" "$root/BENCHMARK.json" <<'EOF'
import json, statistics, sys

runs = [json.loads(l) for l in open(sys.argv[1]) if l.strip()]
metrics = json.load(open(sys.argv[2]))["end_to_end"]
by = {(r["side"], r["seed"]): r["result"] for r in runs}
seeds = sorted({r["seed"] for r in runs})


def quartiles(xs):
    return statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else [xs[0]] * 3


for side in ("parent", "change"):
    failed = sum(by[(side, s)]["failed"] for s in seeds)
    attempted = sum(by[(side, s)]["attempted"] for s in seeds)
    print(f"{side}: {failed} failed ops of {attempted}")
print(f"{'metric':<18} {'parent median [q1-q3]':>30} {'change median [q1-q3]':>30} {'ratio':>6}  ahead")
for m in metrics:
    name, lower = m["name"], m["better"] == "lower"
    vals = {side: [by[(side, s)]["metrics"][name]["value"] for s in seeds] for side in ("parent", "change")}
    if any(v is None for xs in vals.values() for v in xs):
        print(f"{name:<18} missing on some run")
        continue
    ahead = sum((c < p) if lower else (c > p) for p, c in zip(vals["parent"], vals["change"]))
    cols = []
    for side in ("parent", "change"):
        q1, q2, q3 = quartiles(vals[side])
        cols.append(f"{q2:.4g} [{q1:.4g}-{q3:.4g}]")
    ratio = statistics.median(vals["change"]) / statistics.median(vals["parent"])
    print(f"{name:<18} {cols[0]:>30} {cols[1]:>30} {ratio:>6.3f}  {ahead}/{len(seeds)}")
EOF
