#!/bin/bash
# A/B timing of the ER benchmark: this checkout against a parent commit.
#
# Usage: tools/perf_ab.sh <parent-ref> <workload> <seed>...
#
# Extracts <parent-ref> (git archive) into a temporary directory under
# ${TMPDIR:-/tmp}, removed on exit, so the repository gains no worktree
# entry. Then, for each seed, runs `perfbench/run.py --workload <workload>
# --seed <seed> --seconds 8 --trace 0` once in each checkout. The side that
# runs first flips on every pair, so a drift in host speed does not favour
# one side. Prints each pair's e2e_s, each side's median and quartiles, and
# how many pairs the change won (lower e2e_s). A gain counts when the change
# wins at least 9 of 10 pairs and the medians differ by more than the
# parent's interquartile range.
#
# The first run in each checkout also builds it (outside the timed region).
set -euo pipefail
[ $# -ge 3 ] || { echo "usage: $0 <parent-ref> <workload> <seed>..." >&2; exit 2; }
ref=$1 workload=$2
shift 2
change=$(git -C "$(dirname "$0")" rev-parse --show-toplevel)
parent=$(mktemp -d "${TMPDIR:-/tmp}/perf_ab.XXXXXX")
trap 'rm -rf "$parent"' EXIT
git -C "$change" archive "$ref" | tar -x -C "$parent"

# e2e_s of one run in checkout $1 with seed $2; aborts if the run fails.
e2e() {
  local out
  out=$(cd "$1" && python3 perfbench/run.py --workload "$workload" --seed "$2" \
    --seconds 8 --trace 0) || { echo "run failed in $1 (seed $2)" >&2; exit 1; }
  tail -n 1 <<<"$out" | python3 -c '
import json, sys
r = json.load(sys.stdin)
if not r["correct"]:
    sys.exit("run reported incorrect results")
print(r["metrics"]["e2e_s"]["value"])'
}

results=()
i=0
for seed in "$@"; do
  if (( i % 2 == 0 )); then
    p=$(e2e "$parent" "$seed"); c=$(e2e "$change" "$seed"); first=parent
  else
    c=$(e2e "$change" "$seed"); p=$(e2e "$parent" "$seed"); first=change
  fi
  echo "pair $((i + 1)) seed $seed first=$first parent_e2e_s=$p change_e2e_s=$c"
  results+=("$p,$c")
  i=$((i + 1))
done

printf '%s\n' "${results[@]}" | python3 -c '
import statistics, sys
pairs = [tuple(map(float, l.split(","))) for l in sys.stdin if l.strip()]
def summary(xs):
    if len(xs) < 2:
        return f"median {xs[0]:.3f}"
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return f"median {med:.3f} (q1 {q1:.3f}, q3 {q3:.3f}, iqr {q3 - q1:.3f})"
par, chg = [p for p, _ in pairs], [c for _, c in pairs]
print("parent e2e_s:", summary(par))
print("change e2e_s:", summary(chg))
delta = statistics.median(chg) / statistics.median(par) - 1
print(f"median change {delta:+.1%}; change wins {sum(c < p for p, c in pairs)}/{len(pairs)} pairs")'
