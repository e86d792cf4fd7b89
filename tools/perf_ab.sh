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
# It also prints, per pair and as medians, every end-to-end metric that
# BENCHMARK.json lists, with that metric's direction and bound. A metric is
# flagged WORSE when the change median is worse than the parent median by more
# than its bound (a share of the parent median), and UNRESOLVED when either
# side's spread (interquartile range over median) exceeds its bound.
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

# End-to-end metrics of one run in checkout $1 with seed $2, as one compact
# JSON object; aborts if the run fails.
metrics() {
  local out
  out=$(cd "$1" && python3 perfbench/run.py --workload "$workload" --seed "$2" \
    --seconds 8 --trace 0) || { echo "run failed in $1 (seed $2)" >&2; exit 1; }
  tail -n 1 <<<"$out" | python3 -c '
import json, sys
r = json.load(sys.stdin)
if not r["correct"]:
    sys.exit("run reported incorrect results")
print(json.dumps({k: v["value"] for k, v in r["metrics"].items()}, separators=(",", ":")))'
}

# The value of metric $2 in metrics JSON $1.
value() { python3 -c 'import json, sys; print(json.loads(sys.argv[1])[sys.argv[2]])' "$1" "$2"; }

results=()
i=0
for seed in "$@"; do
  if (( i % 2 == 0 )); then
    p=$(metrics "$parent" "$seed"); c=$(metrics "$change" "$seed"); first=parent
  else
    c=$(metrics "$change" "$seed"); p=$(metrics "$parent" "$seed"); first=change
  fi
  echo "pair $((i + 1)) seed $seed first=$first parent_e2e_s=$(value "$p" e2e_s) change_e2e_s=$(value "$c" e2e_s)"
  echo "  parent $p"
  echo "  change $c"
  results+=("$p $c")
  i=$((i + 1))
done

printf '%s\n' "${results[@]}" | python3 -c '
import json, math, statistics, sys
runs = [tuple(map(json.loads, l.split())) for l in sys.stdin if l.strip()]
pairs = [(p["e2e_s"], c["e2e_s"]) for p, c in runs]
def summary(xs):
    if len(xs) < 2:
        return f"median {xs[0]:.3f}"
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return f"median {med:.3f} (q1 {q1:.3f}, q3 {q3:.3f}, iqr {q3 - q1:.3f})"
par, chg = [p for p, _ in pairs], [c for _, c in pairs]
print("parent e2e_s:", summary(par))
print("change e2e_s:", summary(chg))
delta = statistics.median(chg) / statistics.median(par) - 1
print(f"median change {delta:+.1%}; change wins {sum(c < p for p, c in pairs)}/{len(pairs)} pairs")

def spread(xs):
    if len(xs) < 2:
        return 0.0
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return (q3 - q1) / abs(med) if med else 0.0
bench = json.load(open(sys.argv[1]))
for m in bench["end_to_end"]:
    name, better, bound = m["name"], m["better"], m["bound"]
    lower = better == "lower"
    par = [p[name] for p, _ in runs if isinstance(p.get(name), (int, float)) and not math.isnan(p[name])]
    chg = [c[name] for _, c in runs if isinstance(c.get(name), (int, float)) and not math.isnan(c[name])]
    if not par or not chg:
        print(f"{name}: no values")
        continue
    pm, cm = statistics.median(par), statistics.median(chg)
    worse = (cm - pm) if lower else (pm - cm)
    rel = worse / abs(pm) if pm else (math.inf if worse > 0 else 0.0)
    sp, sc = spread(par), spread(chg)
    flags = (["WORSE"] if rel > bound else []) + (["UNRESOLVED"] if max(sp, sc) > bound else [])
    verdict = " ".join(flags) or "ok"
    print(f"{name} ({better} is better, bound {bound}): parent median {pm:.4g} "
          f"(spread {sp:.3f}), change median {cm:.4g} (spread {sc:.3f}), "
          f"worse by {rel:+.1%} {verdict}")' "$change/BENCHMARK.json"
