#!/bin/bash
# Paired A/B of the benchmark (BENCHMARK.json, perfbench/) between two
# checkouts on one host. For each seed it runs
#
#   python3 perfbench/run.py --workload W --seed s --trace 0
#
# once in each checkout, alternating which side goes first (odd seeds A
# first, even seeds B first) so host drift hits both sides alike. Then it
# prints, per end-to-end metric of A's BENCHMARK.json: each side's median
# and quartiles, the median of the per-pair ratios B/A, how many pairs B
# won (by the metric's "better" direction; ties count for neither), and
# whether |median(B) - median(A)| exceeds A's interquartile range.
#
#   scripts/ab_bench.sh <checkoutA> <checkoutB> [workload=geostore-api] [pairs=10] [firstSeed=1]
#
# A checkout's first run builds it (perfbench/run.py does, into its own
# .bench_build/), so a fresh copy of a commit is enough:
#   git archive <commit> | tar -x -C <dir>
# Every run's JSON result line is appended to ab_<workload>.jsonl in the
# current directory as {"side", "seed", "result"}; re-summarize a finished
# file with: scripts/ab_bench.sh --summary ab_<workload>.jsonl <checkoutA>
set -euo pipefail

summarize() { # <jsonl> <checkoutA>
  python3 - "$1" "$2/BENCHMARK.json" <<'EOF'
import json, statistics, sys
runs = [json.loads(l) for l in open(sys.argv[1]) if l.strip()]
bench = json.load(open(sys.argv[2]))
by = {}
for r in runs:
    by.setdefault(r["seed"], {})[r["side"]] = r["result"]
pairs = sorted(s for s, d in by.items() if "A" in d and "B" in d)
bad = [(s, side) for s in pairs for side in "AB" if not by[s][side].get("correct")]
print(f"{len(pairs)} complete pairs (seeds {pairs[0] if pairs else '-'}..{pairs[-1] if pairs else '-'})"
      + (f"; runs not correct: {bad}" if bad else "; every run correct"))
def quart(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else [xs[0]] * 3
    return q[0], statistics.median(xs), q[2]
print(f"{'metric':16s} {'A median [q1, q3]':>28s} {'B median [q1, q3]':>28s} "
      f"{'B/A':>7s} {'B wins':>7s}  beyond A's IQR")
for m in bench["end_to_end"]:
    name, lower = m["name"], m["better"] == "lower"
    a = [by[s]["A"]["metrics"][name]["value"] for s in pairs]
    b = [by[s]["B"]["metrics"][name]["value"] for s in pairs]
    if not a:
        continue
    (a1, am, a3), (b1, bm, b3) = quart(a), quart(b)
    ratios = [y / x for x, y in zip(a, b) if x]
    wins = sum(1 for x, y in zip(a, b) if (y < x if lower else y > x))
    print(f"{name:16s} {am:10.1f} [{a1:7.1f}, {a3:7.1f}] {bm:10.1f} [{b1:7.1f}, {b3:7.1f}] "
          f"{statistics.median(ratios) if ratios else float('nan'):7.3f} "
          f"{wins:3d}/{len(pairs):<3d}  {'yes' if abs(bm - am) > a3 - a1 else 'no'}")
EOF
}

if [ "${1:-}" = "--summary" ]; then
  summarize "$2" "$3"
  exit 0
fi

A=$(cd "$1" && pwd); B=$(cd "$2" && pwd)
W=${3:-geostore-api}
PAIRS=${4:-10}
FIRST=${5:-1}
OUT="$PWD/ab_$W.jsonl"
: > "$OUT"

run() { # <side> <checkout> <seed>
  local line
  if line=$(cd "$2" && python3 perfbench/run.py --workload "$W" --seed "$3" --trace 0 \
              2>>"$OUT.log" | tail -1); then
    printf '{"side":"%s","seed":%d,"result":%s}\n' "$1" "$3" "$line" >> "$OUT"
  else
    echo "  $1 seed $3 failed; see $OUT.log" >&2
  fi
}

for s in $(seq "$FIRST" $((FIRST + PAIRS - 1))); do
  echo "=== seed $s $(date +%T) load=$(cut -d' ' -f1 /proc/loadavg)" >&2
  if [ $((s % 2)) -eq 1 ]; then run A "$A" "$s"; run B "$B" "$s"
  else run B "$B" "$s"; run A "$A" "$s"; fi
done
summarize "$OUT" "$A"
