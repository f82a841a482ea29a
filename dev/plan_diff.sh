#!/usr/bin/env bash
# Which Bench cells' plans differ between two commits.
#
# Usage: dev/plan_diff.sh <commit-a> <commit-b> [cell...]
#   (no cells = DumpPlans' full headline + extras set)
#
# Each commit is exported with `git archive` (tracked files only) into its
# own tree under the work dir, built there, and dumped with its own
# `graft.tools.DumpPlans`; this checkout's `graft.tools.PlanDiff` then
# normalises both dumps (expression, RDD, plan and broadcast ids, lambda
# counters, source lines, `Location:` paths, bucketed table names) and
# prints `same` or `DIFF` per cell. A tree whose `.rev` stamp already
# names its commit is reused, so a second run at another core count
# rebuilds nothing.
#
# A commit of uncommitted work: `git add -A && git stash create`.
#
# Environment:
#   PLAN_DIFF_DIR        where the trees and dumps go
#                        (default: a new directory under ${TMPDIR:-/tmp})
#   SPARK_GRAFT_SF_DIR   data dir DumpPlans reads (its default: sf0.1)
#   SPARK_GRAFT_CPUS     master width of Bench.session (its default: 32)
#   COURSIER_MODE, SBT_OPTS  passed to sbt as set (offline builds)
set -euo pipefail

if [ "$#" -lt 2 ]; then
  echo "usage: $0 <commit-a> <commit-b> [cell...]" >&2
  exit 2
fi
a="$1"; b="$2"; shift 2
root="$(cd "$(dirname "$0")/.." && pwd)"
work="${PLAN_DIFF_DIR:-$(mktemp -d "${TMPDIR:-/tmp}/plan_diff.XXXXXX")}"
sbt_run() { # dir sbt-command
  (cd "$1" && sbt --batch -Dsbt.log.noformat=true "$2")
}

for side in a b; do
  rev="$(git -C "$root" rev-parse --verify "$([ "$side" = a ] && echo "$a" || echo "$b")^{commit}")"
  tree="$work/$side"
  if [ "$(cat "$tree/.rev" 2>/dev/null)" != "$rev" ]; then
    rm -rf "$tree"
    mkdir -p "$tree"
    git -C "$root" archive --format=tar "$rev" | tar -x -C "$tree"
    echo "$rev" > "$tree/.rev"
  fi
  rm -rf "$work/plans_$side"
  echo "plan_diff: $side = $rev" >&2
  sbt_run "$tree" "runMain graft.tools.DumpPlans $work/plans_$side $side $*" | grep '^\[plans\]' >&2
done
sbt_run "$root" "runMain graft.tools.PlanDiff $work/plans_a $work/plans_b" | grep -E '^(same|DIFF|only|  [ab]:|[0-9]+ of)'
