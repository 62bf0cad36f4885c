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
# run_seconds, untraced. Prints per-seed pass_per_ref / setup_s /
# peak_heap_mb / fail_ratio for both sides and the medians. Writes nothing
# tracked: the working tree's build and runs land under perfbench/target/
# as for any perfbench run.
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
PARENT=$(mktemp -d)
RESULTS=$(mktemp)
trap 'rm -rf "$PARENT" "$RESULTS"' EXIT
git -C "$HERE" archive "$REF" | tar -x -C "$PARENT"
echo "parent $(git -C "$HERE" rev-parse --short "$REF") in $PARENT; change = working tree of $HERE"

# one run; echoes "pass_per_ref setup_s peak_heap_mb fail_ratio"
run() {
  local dir=$1 seed=$2 log
  log=$(mktemp)
  (cd "$dir" && python3 perfbench/run.py --workload "$WORKLOAD" --seed "$seed" \
      --seconds "$SECONDS_PER_RUN" --trace 0) > "$log" 2>&1 || true
  python3 - "$log" <<'EOF'
import json, sys
lines = [l for l in open(sys.argv[1]) if l.startswith("{")]
if not lines:
    print("nan nan nan nan")
    sys.exit()
r = json.loads(lines[-1])
m = r.get("metrics", {})
get = lambda k: m.get(k, {}).get("value", float("nan"))
fail = r.get("failed", 0) / max(1, r.get("attempted", 0))
print(f"{get('pass_per_ref'):.4f} {get('setup_s'):.2f} {get('peak_heap_mb'):.1f} {fail:.4f}")
EOF
  rm -f "$log"
}

printf '%-6s %-6s %12s %9s %12s %10s\n' seed side pass_per_ref setup_s peak_heap_mb fail_ratio
i=0
for seed in "$@"; do
  if [ $((i % 2)) -eq 0 ]; then order="parent change"; else order="change parent"; fi
  i=$((i + 1))
  for side in $order; do
    if [ $side = parent ]; then dir=$PARENT; else dir=$HERE; fi
    vals=$(run "$dir" "$seed")
    echo "$seed $side $vals" >> "$RESULTS"
    read -r ppr setup heap fail <<< "$vals"
    printf '%-6s %-6s %12s %9s %12s %10s\n' "$seed" $side "$ppr" "$setup" "$heap" "$fail"
  done
done
python3 - "$RESULTS" <<'EOF'
import statistics, sys
rows = [l.split() for l in open(sys.argv[1])]
side_vals = {}
for side in ("parent", "change"):
    cols = list(zip(*[[float(x) for x in r[2:]] for r in rows if r[1] == side]))
    side_vals[side] = cols
    med = [statistics.median(c) for c in cols]
    print(f"median {side:6s} pass_per_ref {med[0]:.4f}  setup_s {med[1]:.2f}  "
          f"peak_heap_mb {med[2]:.1f}  fail_ratio {med[3]:.4f}")
# pairs the change wins on pass_per_ref (lower is better; ties count for
# neither side), and the spread of the parent's own runs
pairs = list(zip(side_vals["parent"][0], side_vals["change"][0]))
wins = sum(c < p for p, c in pairs)
q = statistics.quantiles(side_vals["parent"][0], n=4) if len(pairs) > 1 else [0, 0, 0]
print(f"pass_per_ref: change wins {wins} of {len(pairs)} pairs; parent IQR {q[2] - q[0]:.4f}")
EOF
