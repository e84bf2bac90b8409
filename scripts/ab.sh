#!/usr/bin/env bash
# Interleaved A/B of the graft benchmark: a parent revision against a
# change revision, on one box in one window.
#
#   scripts/ab.sh PARENT_REV WORKLOAD PAIRS SEED [CHANGE_REV]
#
# CHANGE_REV defaults to HEAD; to measure uncommitted work, pass
# "$(git stash create)". Both revisions are exported with
# `git archive` into $AB_DIR (default ${TMPDIR:-/tmp}/graft-ab), so the
# repository itself is never touched, and each tree is built once before
# any run is timed. Then PAIRS pairs of
#
#   python3 graftbench/run.py --workload WORKLOAD --seed SEED --seconds 12
#
# run back to back, alternating which side goes first (pair 1: parent
# first, pair 2: change first, ...). Each run's log is kept under
# $AB_DIR/logs. From the last-line JSON of every run the script prints,
# per end-to-end metric of BENCHMARK.json: the median, q1 and q3 of each
# side, each side's IQR, the pairs the change wins (its value is better
# in the metric's direction), and a verdict against the metric's `bound`,
# read as a fraction of the parent's median (bound 0.25 on a 14.4 s
# parent median allows the change 3.6 s worse):
#
#   within bound      the change's median is worse by at most the bound
#   worse than bound  the change's median is worse by more than the bound
#   unresolved        the parent's IQR is wider than the bound, so these
#                     runs cannot tell a move of that size from the box
#                     (unless every change run beats every parent run:
#                     then within bound)
#
# Last it prints each side's `failed` (failed operations over its runs; a
# run that prints no JSON line counts one). Quartiles are Python's
# statistics.quantiles(n=4, method="inclusive").
# Exits non-zero when either side's `failed` is not 0.
#
# The script only reads graftbench/ and BENCHMARK.json and edits no
# file in either tree; the runs write only their build cache and reports
# (graftbench/.build, graftbench/.work) inside the exported trees.
set -euo pipefail

if [ $# -lt 4 ] || [ $# -gt 5 ]; then
  sed -n '2,12p' "$0" >&2
  exit 2
fi
parent_rev=$1 workload=$2 pairs=$3 seed=$4 change_rev=${5:-HEAD}
repo=$(git rev-parse --show-toplevel)
ab_dir=${AB_DIR:-${TMPDIR:-/tmp}/graft-ab}
parent_sha=$(git -C "$repo" rev-parse --verify "$parent_rev^{commit}")
change_sha=$(git -C "$repo" rev-parse --verify "$change_rev^{commit}")

export_tree() { # sha dir
  if [ ! -f "$2/.ab-sha" ] || [ "$(cat "$2/.ab-sha")" != "$1" ]; then
    rm -rf "$2"
    mkdir -p "$2"
    git -C "$repo" archive "$1" | tar -x -C "$2"
    echo "$1" > "$2/.ab-sha"
  fi
}
export_tree "$parent_sha" "$ab_dir/parent"
export_tree "$change_sha" "$ab_dir/change"
mkdir -p "$ab_dir/logs"

for side in parent change; do
  echo "ab: building $side" >&2
  (cd "$ab_dir/$side" &&
    python3 -c 'import sys; sys.path.insert(0, "graftbench"); import run; run.build()')
done

run_one() { # side pair
  local log="$ab_dir/logs/$workload-s$seed-p$2-$1.log"
  echo "ab: pair $2 $1" >&2
  (cd "$ab_dir/$1" &&
    python3 graftbench/run.py --workload "$workload" --seed "$seed" --seconds 12) \
    > "$log" 2>&1 || true
  tail -n 1 "$log" > "$ab_dir/logs/$workload-s$seed-p$2-$1.json"
}

for i in $(seq 1 "$pairs"); do
  if [ $((i % 2)) -eq 1 ]; then
    run_one parent "$i"; run_one change "$i"
  else
    run_one change "$i"; run_one parent "$i"
  fi
done

python3 - "$ab_dir/logs" "$workload" "$seed" "$pairs" "$repo/BENCHMARK.json" \
  "$parent_sha" "$change_sha" <<'EOF'
import json, os, statistics, sys

logs, workload, seed, pairs, bench, parent, change = sys.argv[1:]
pairs = int(pairs)
spec = json.load(open(bench))["end_to_end"]


def load(side, i):
    path = os.path.join(logs, "%s-s%s-p%d-%s.json" % (workload, seed, i, side))
    try:
        with open(path) as f:
            return json.loads(f.read())
    except (OSError, ValueError):
        return None


runs = {s: [load(s, i) for i in range(1, pairs + 1)] for s in ("parent", "change")}


def quart(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


print("ab %s seed %s: parent %s vs change %s, %d pairs"
      % (workload, seed, parent[:10], change[:10], pairs))
rep = os.path.join(logs, os.pardir, "change", "graftbench", ".work",
                   "last-%s-trace0.json" % workload)
n_cpu = json.load(open(rep))["env"]["n_cpu"] if os.path.exists(rep) else None
print("n_cpu %s" % n_cpu)
print("%-16s %-28s %-28s %-7s %-10s %-10s %-8s %s" % (
    "metric", "parent med (q1-q3)", "change med (q1-q3)", "wins",
    "parent IQR", "change IQR", "bound", "verdict"))
for m in spec:
    name, lower = m["name"], m["better"] == "lower"
    both = [(p["metrics"][name]["value"], c["metrics"][name]["value"])
            for p, c in zip(runs["parent"], runs["change"])
            if p is not None and c is not None
            and name in p.get("metrics", {}) and name in c.get("metrics", {})]
    if not both:
        print("%-16s no paired values" % name)
        continue
    ps = [p for p, _ in both]
    cs = [c for _, c in both]
    wins = sum(1 for p, c in both if (c < p if lower else c > p))
    pq, cq = quart(ps), quart(cs)
    bound = m["bound"] * abs(pq[1])
    worse = (cq[1] - pq[1]) if lower else (pq[1] - cq[1])
    all_better = (max(cs) < min(ps)) if lower else (min(cs) > max(ps))
    if pq[2] - pq[0] > bound and not all_better:
        verdict = "unresolved"
    elif worse > bound:
        verdict = "worse than bound"
    else:
        verdict = "within bound"
    print("%-16s %-28s %-28s %-7s %-10.4g %-10.4g %-8.4g %s" % (
        name, "%.4g (%.4g-%.4g)" % (pq[1], pq[0], pq[2]),
        "%.4g (%.4g-%.4g)" % (cq[1], cq[0], cq[2]),
        "%d/%d" % (wins, len(both)), pq[2] - pq[0], cq[2] - cq[0], bound,
        verdict))
# `failed`: failed operations summed over a side's runs; a run with no
# JSON line counts as one
fails = {s: sum(1 if r is None else r.get("failed", 1) for r in runs[s])
         for s in runs}
print("failed parent %d, change %d" % (fails["parent"], fails["change"]))
sys.exit(1 if any(fails.values()) else 0)
EOF
