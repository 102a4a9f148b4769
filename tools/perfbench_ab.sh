#!/bin/bash
# Interleaved A/B of perfbench between a parent commit and this tree.
#
#   tools/perfbench_ab.sh PARENT WORKLOAD [PAIRS] [run.py args...]
#   tools/perfbench_ab.sh HEAD~1 tiles_dp_hotspot 10
#   tools/perfbench_ab.sh HEAD~1 tiles_sherbend_uniform 3 --scale 4.28572
#   tools/perfbench_ab.sh HEAD~1 tiles_dp_hotspot 1 --trace 1
#
# PARENT (any commit-ish) is exported with `git archive` into a fresh
# directory; the change side is the working tree this script lives in.
# Pair i runs `python3 perfbench/run.py --workload WORKLOAD --seed
# SEED0+i --seconds SECONDS` once in each tree, one run at a time, with
# the side that goes first alternating (even pairs: parent first).
# Every run's JSON result line is kept under OUT.  At the end it prints,
# per metric: both medians, change/parent, the pairs the change won
# (direction from BENCHMARK.json), and the parent's IQR/median.
#
# Environment: SECONDS_PER_RUN (20), SEED0 (5001), OUT (a new temp dir).
# Run nothing else on the machine meanwhile.
set -eu -o pipefail

if [ $# -lt 2 ]; then
    sed -n '2,19p' "$0" | sed 's/^# \{0,1\}//'
    exit 2
fi
PARENT=$1 WORKLOAD=$2 PAIRS=${3:-10}
shift $(($# < 3 ? $# : 3))
CHANGE_DIR=$(cd "$(dirname "$0")/.." && pwd)
SECONDS_PER_RUN=${SECONDS_PER_RUN:-20}
SEED0=${SEED0:-5001}
OUT=${OUT:-$(mktemp -d "${TMPDIR:-/tmp}/perfbench_ab.XXXXXX")}
mkdir -p "$OUT"

PARENT_DIR=$(mktemp -d "${TMPDIR:-/tmp}/perfbench_ab_parent.XXXXXX")
trap 'rm -rf "$PARENT_DIR"' EXIT
git -C "$CHANGE_DIR" archive "$PARENT" | tar -x -C "$PARENT_DIR"
echo "parent $(git -C "$CHANGE_DIR" rev-parse --short "$PARENT") in $PARENT_DIR," \
     "change = working tree $CHANGE_DIR, results in $OUT" >&2

EXTRA=("$@")

run_side() {  # side pair seed
    local dir=$PARENT_DIR
    [ "$1" = change ] && dir=$CHANGE_DIR
    local res="$OUT/$1-$2.json"
    if (cd "$dir" && env -u PYTHONPATH python3 perfbench/run.py --workload "$WORKLOAD" \
            --seed "$3" --seconds "$SECONDS_PER_RUN" "${EXTRA[@]+"${EXTRA[@]}"}" \
            2> "$OUT/$1-$2.err" | tail -n 1 > "$res") && [ -s "$res" ]; then
        echo "pair $2 $1: $(head -c 160 "$res")" >&2
    else
        echo "pair $2 $1: FAILED (see $OUT/$1-$2.err)" >&2
        rm -f "$res"
    fi
}

for ((i = 0; i < PAIRS; i++)); do
    if ((i % 2 == 0)); then order="parent change"; else order="change parent"; fi
    for side in $order; do
        run_side "$side" "$i" $((SEED0 + i))
    done
done

python3 - "$OUT" "$PAIRS" "$CHANGE_DIR/BENCHMARK.json" <<'EOF'
import json, os, statistics, sys

out, pairs, bench = sys.argv[1], int(sys.argv[2]), sys.argv[3]
spec = json.load(open(bench))
better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
bound = {m["name"]: m["bound"] for m in spec["end_to_end"]}


def load(side, i):
    path = os.path.join(out, f"{side}-{i}.json")
    if not os.path.exists(path):
        return None
    res = json.load(open(path))
    return {k: v["value"] for k, v in res["metrics"].items()}


runs = [(load("parent", i), load("change", i)) for i in range(pairs)]
full = [(p, c) for p, c in runs if p is not None and c is not None]
print(f"{len(full)} complete pairs of {pairs}; failed runs: parent "
      f"{sum(p is None for p, _ in runs)}, change {sum(c is None for _, c in runs)}")
if not full:
    sys.exit(1)
print("| metric | parent median | change median | change/parent | bound "
      "| pairs change won | parent IQR/median |")
print("|---|---|---|---|---|---|---|")
for name in full[0][0]:
    ps = [p[name] for p, _ in full]
    cs = [c[name] for _, c in full]
    pm, cm = statistics.median(ps), statistics.median(cs)
    lower = better.get(name, "lower") == "lower"
    won = sum((c < p) if lower else (c > p) for p, c in zip(ps, cs))
    q1, _, q3 = statistics.quantiles(ps, n=4, method="inclusive") if len(ps) > 1 else (pm, pm, pm)
    ratio = f"{cm / pm:.3f}" if pm else "-"
    iqr = f"{100 * (q3 - q1) / pm:.1f}%" if pm else "-"
    print(f"| {name} | {pm:.4g} | {cm:.4g} | {ratio} | {bound.get(name, '-')} "
          f"| {won}/{len(full)} | {iqr} |")
EOF
