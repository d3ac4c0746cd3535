#!/bin/bash
# Interleaved A/B of one perfbench workload: the engine at <parent-rev>
# against this checkout's working tree.
#
#   tools/perfbench_ab.sh <parent-rev> <workload> <n>
#
# Clones <parent-rev> into a scratch directory (reused when it is already
# there), then runs n pairs of `perfbench/run.py --trace 0`, one run per
# side per pair. Both runs of pair i use seed AB_SEED0 + i, and the side
# that runs first alternates from pair to pair. Every result line is kept
# in <scratch>/<workload>.jsonl. At the end, for each end-to-end metric of
# BENCHMARK.json, it prints the median and quartiles of each side, the
# change of the medians, and in how many pairs the working tree was better.
# With n = 0 it runs nothing and prints that summary for the results kept
# from the last run.
#
# Env: AB_DIR (scratch directory, default ${TMPDIR:-/tmp}/perfbench_ab),
#      AB_SECONDS (measured window per run, default 10),
#      AB_SEED0 (first seed, default 901).
set -euo pipefail
if [ $# -ne 3 ]; then
  echo "usage: $0 <parent-rev> <workload> <n>" >&2
  exit 2
fi
REV=$1; WORKLOAD=$2; N=$3
HERE=$(cd "$(dirname "$0")/.." && pwd)
AB_DIR=${AB_DIR:-${TMPDIR:-/tmp}/perfbench_ab}
SECONDS_PER_RUN=${AB_SECONDS:-10}
SEED0=${AB_SEED0:-901}
SHA=$(git -C "$HERE" rev-parse --verify "$REV^{commit}")
PARENT="$AB_DIR/parent-${SHA:0:12}"
OUT="$AB_DIR/$WORKLOAD.jsonl"

mkdir -p "$AB_DIR"
if [ ! -d "$PARENT/.git" ]; then
  git clone -q "$HERE" "$PARENT"
  git -C "$PARENT" checkout -q "$SHA"
fi
if [ "$N" -gt 0 ]; then : > "$OUT"; fi

# run <side> <tree> <seed>: one run, its JSON result line appended to $OUT
run() {
  local line
  line=$(cd "$2" && python3 perfbench/run.py --workload "$WORKLOAD" --seed "$3" \
    --seconds "$SECONDS_PER_RUN" --trace 0 2>/dev/null | grep '^{' | tail -1) || true
  if [ -z "$line" ]; then line='{"correct":false,"metrics":{}}'; fi
  echo "{\"side\":\"$1\",\"seed\":$3,\"result\":$line}" >> "$OUT"
  echo "[ab] $1 seed $3: $line" >&2
}

for ((i = 0; i < N; i++)); do
  seed=$((SEED0 + i))
  if ((i % 2 == 0)); then
    run parent "$PARENT" "$seed"; run change "$HERE" "$seed"
  else
    run change "$HERE" "$seed"; run parent "$PARENT" "$seed"
  fi
done

python3 - "$HERE/BENCHMARK.json" "$OUT" <<'EOF'
import json, statistics, sys

spec = json.load(open(sys.argv[1]))
runs = [json.loads(l) for l in open(sys.argv[2]) if l.strip()]
by = {}
for r in runs:
    by.setdefault(r["seed"], {})[r["side"]] = r["result"]
pairs = [p for p in by.values() if "parent" in p and "change" in p]
bad = sum(1 for p in pairs for s in p.values() if not s.get("correct") or s.get("failed", 0))
print(f"pairs: {len(pairs)}; runs incorrect or with failed ops: {bad}")

def value(result, name):
    v = result["metrics"].get(name)
    return v["value"] if isinstance(v, dict) else v

def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3

for m in spec["end_to_end"]:
    name, higher = m["name"], m["better"] == "higher"
    both = [(value(p["parent"], name), value(p["change"], name)) for p in pairs]
    both = [(a, b) for a, b in both if a is not None and b is not None]
    if not both:
        print(f"{name}: no data")
        continue
    pa, ch = [a for a, _ in both], [b for _, b in both]
    p1, pm, p3 = quartiles(pa)
    c1, cm, c3 = quartiles(ch)
    wins = sum(1 for a, b in both if (b > a if higher else b < a))
    rel = (cm - pm) / pm * 100 if pm else float("nan")
    print(f"{name} ({m['unit']}, {m['better']} is better): parent {pm:.4g} [{p1:.4g}, {p3:.4g}]"
          f" -> change {cm:.4g} [{c1:.4g}, {c3:.4g}] ({rel:+.1f} %),"
          f" change better {wins}/{len(both)}")
EOF
