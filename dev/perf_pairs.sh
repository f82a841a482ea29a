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
# of the medians, in how many pairs the change was ahead, the gain (the
# gap between the medians, positive when the change is better), the
# parent's spread (q3 - q1) and whether gain > spread. A claimed gain
# holds when the change is ahead in at least 9 of 10 pairs and its gain
# exceeds the parent's spread. Every run's JSON line is kept in
# $PERF_PAIRS_DIR/runs.jsonl, with the path of the artifact that run wrote
# (run.py names it on stderr; its stderr goes to $PERF_PAIRS_DIR/<side>-seed<N>.log).
# Last, for every seed, the ops whose (rows, digest) differ between the
# parent's and the change's run: a change that must not move any output
# shows "all equal" on every seed.
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
  local line log art
  log="$work/$1-seed$3.log"
  if ! line="$(cd "$2" && python3 perfbench/run.py --workload "$workload" --seed "$3" \
      --seconds "$seconds" --trace 0 2> "$log" | tail -n 1)"; then
    cat "$log" >&2
    exit 1
  fi
  art="$(sed -n 's/^perfbench: artifact //p' "$log" | tail -n 1)"
  printf '{"side": "%s", "seed": %s, "artifact": "%s", "result": %s}\n' \
    "$1" "$3" "${art:+$2/$art}" "$line" >> "$runs"
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
print(f"{'metric':<18} {'parent median [q1-q3]':>30} {'change median [q1-q3]':>30} {'ratio':>6}  {'ahead':>5}"
      f" {'gain':>9} {'spread':>9}  gain>spread")
for m in metrics:
    name, lower = m["name"], m["better"] == "lower"
    vals = {side: [by[(side, s)]["metrics"][name]["value"] for s in seeds] for side in ("parent", "change")}
    if any(v is None for xs in vals.values() for v in xs):
        print(f"{name:<18} missing on some run")
        continue
    ahead = sum((c < p) if lower else (c > p) for p, c in zip(vals["parent"], vals["change"]))
    q = {side: quartiles(vals[side]) for side in ("parent", "change")}
    cols = [f"{q[side][1]:.4g} [{q[side][0]:.4g}-{q[side][2]:.4g}]" for side in ("parent", "change")]
    ratio = q["change"][1] / q["parent"][1]
    gain = (q["parent"][1] - q["change"][1]) if lower else (q["change"][1] - q["parent"][1])
    spread = q["parent"][2] - q["parent"][0]
    print(f"{name:<18} {cols[0]:>30} {cols[1]:>30} {ratio:>6.3f}  {f'{ahead}/{len(seeds)}':>5}"
          f" {gain:>9.4g} {spread:>9.4g}  {'yes' if gain > spread else 'no'}")

print("outputs: ops whose (rows, digest) differ between parent and change")
arts = {(r["side"], r["seed"]): r.get("artifact") for r in runs}
for s in seeds:
    paths = {side: arts.get((side, s)) for side in ("parent", "change")}
    if not all(paths.values()):
        print(f"seed {s}: no artifact for {[side for side, p in paths.items() if not p]}")
        continue
    ops = {side: {(o["op"], o["pass"]): (o["rows"], o["digest"]) for o in json.load(open(p))["ops"]}
           for side, p in paths.items()}
    diff = sorted(k for k in ops["parent"].keys() | ops["change"].keys()
                  if ops["parent"].get(k) != ops["change"].get(k))
    print(f"seed {s}: {len(ops['change'])} ops, " +
          ("all equal" if not diff else f"{len(diff)} differ: " + ", ".join(
              f"{op} pass {p} {ops['parent'].get((op, p))} -> {ops['change'].get((op, p))}"
              for op, p in diff)))
EOF
