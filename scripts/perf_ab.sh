#!/bin/bash
# Interleaved A/B of one perfbench workload: a parent commit against the
# working tree, seed by seed.
#
#   scripts/perf_ab.sh <parent-ref> <workload> <seed>...
#
# The parent is exported with `git archive` into a fresh temporary directory
# (mktemp -d, so under $TMPDIR or /tmp), removed on exit. For each seed the
# script runs `perfbench/run.py` on the parent and on the working tree back
# to back, so the two sides share the host's drift; which side goes first
# alternates from seed to seed (the parent for the 1st, 3rd, ... seed), so
# neither side always runs second. Each run uses BENCHMARK.json's
# run_seconds, untraced. Prints per seed, for both sides, every end-to-end
# metric BENCHMARK.json lists plus fail_ratio; then per metric a verdict,
# the two medians and quartiles, the pairs the change wins (by the
# metric's "better" direction; ties count for neither side) and the IQR of
# the parent's runs. The verdict, checked in this order: "gain" when the
# change wins at least 9 of 10 pairs and the medians differ by more than
# the parent's IQR; "worse" when the change's median is worse than the
# parent's by more than the metric's BENCHMARK.json bound (a fraction of
# the parent's median; any rise for fail_ratio); "unresolved" when the
# parent's IQR is wider than that bound; "flat" otherwise. Writes
# nothing tracked: the working tree's build and runs land under
# perfbench/target/ as for any perfbench run.
set -e
set -o pipefail
if [ $# -lt 3 ]; then
  echo "usage: $0 <parent-ref> <workload> <seed>..." >&2
  exit 2
fi
REF=$1
WORKLOAD=$2
shift 2
HERE=$(git rev-parse --show-toplevel)
SECONDS_PER_RUN=$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' "$HERE/BENCHMARK.json")
# the end-to-end metric names, in BENCHMARK.json order, then fail_ratio
METRICS=$(python3 -c 'import json,sys; print(" ".join([m["name"] for m in json.load(open(sys.argv[1]))["end_to_end"]] + ["fail_ratio"]))' "$HERE/BENCHMARK.json")
PARENT=$(mktemp -d)
RESULTS=$(mktemp)
trap 'rm -rf "$PARENT" "$RESULTS"' EXIT
git -C "$HERE" archive "$REF" | tar -x -C "$PARENT"
echo "parent $(git -C "$HERE" rev-parse --short "$REF") in $PARENT; change = working tree of $HERE"

# one run; echoes the value of each of $METRICS
run() {
  local dir=$1 seed=$2 log
  log=$(mktemp)
  (cd "$dir" && python3 perfbench/run.py --workload "$WORKLOAD" --seed "$seed" \
      --seconds "$SECONDS_PER_RUN" --trace 0) > "$log" 2>&1 || true
  python3 - "$log" $METRICS <<'EOF'
import json, sys
names = sys.argv[2:]
lines = [l for l in open(sys.argv[1]) if l.startswith("{")]
if not lines:
    print(" ".join("nan" for _ in names))
    sys.exit()
r = json.loads(lines[-1])
m = r.get("metrics", {})
fail = r.get("failed", 0) / max(1, r.get("attempted", 0))
vals = [fail if k == "fail_ratio" else m.get(k, {}).get("value", float("nan")) for k in names]
print(" ".join(f"{v:.4f}" for v in vals))
EOF
  rm -f "$log"
}

printf '%-6s %-6s' seed side; printf ' %12s' $METRICS; echo
i=0
for seed in "$@"; do
  if [ $((i % 2)) -eq 0 ]; then order="parent change"; else order="change parent"; fi
  i=$((i + 1))
  for side in $order; do
    if [ $side = parent ]; then dir=$PARENT; else dir=$HERE; fi
    vals=$(run "$dir" "$seed")
    echo "$seed $side $vals" >> "$RESULTS"
    printf '%-6s %-6s' "$seed" $side; printf ' %12s' $vals; echo
  done
done
python3 - "$RESULTS" "$HERE/BENCHMARK.json" $METRICS <<'EOF'
import json, statistics, sys
names = sys.argv[3:]
spec = {m["name"]: m for m in json.load(open(sys.argv[2]))["end_to_end"]}
# a larger share of failed operations is worse by any amount
spec["fail_ratio"] = {"better": "lower", "bound": 0.0}
rows = [l.split() for l in open(sys.argv[1])]
side = {s: {k: [float(r[2 + c]) for r in rows if r[1] == s] for c, k in enumerate(names)}
        for s in ("parent", "change")}

def quartiles(xs):
    return statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3

for k in names:
    p, c = side["parent"][k], side["change"][k]
    lower = spec[k]["better"] == "lower"
    bound = spec[k]["bound"]
    # pairs the change wins (ties count for neither side), and the spread
    # of the parent's own runs
    wins = sum((cv < pv) if lower else (cv > pv) for pv, cv in zip(p, c))
    pq, cq = quartiles(p), quartiles(c)
    pm, cm = statistics.median(p), statistics.median(c)
    iqr = pq[2] - pq[0]
    gain_by = (pm - cm) if lower else (cm - pm)  # > 0: the change is better
    # the bound is a fraction of the parent's median (of 1 where that is 0)
    scale = abs(pm) if pm else 1.0
    if wins >= 0.9 * len(p) and gain_by > iqr:
        verdict = "gain"
    elif -gain_by > bound * scale:
        verdict = "worse"
    elif iqr > bound * scale:
        verdict = "unresolved"
    else:
        verdict = "flat"
    print(f"{k}: {verdict}; median parent {pm:.4f} change {cm:.4f} ({spec[k]['better']} is better, "
          f"bound {bound:g}); quartiles parent {pq[0]:.4f}-{pq[2]:.4f} change {cq[0]:.4f}-{cq[2]:.4f}; "
          f"change wins {wins} of {len(p)} pairs; parent IQR {iqr:.4f}")
EOF
