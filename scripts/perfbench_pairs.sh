#!/usr/bin/env bash
# Interleaved parent/change perfbench pairs: for every seed and workload,
# run perfbench/run.py once in each checkout, alternating which side goes
# first, so drift of the shared host lands on both sides alike.
#
#   scripts/perfbench_pairs.sh <parent_checkout> <change_checkout> <seed>...
#
# Each run appends one JSON line to $OUT (default perfbench_pairs.jsonl):
#   {"side": "parent"|"change", "wl", "seed", "res": <run.py's result line>}
# or, when a run fails, "error" in place of "res". After the runs it prints
# one summary line per workload and end-to-end metric to stdout, over every
# line in $OUT: both medians, change/parent, and in how many pairs the
# change was lower. With no seeds it only prints the summary of $OUT.
#
# Each run lasts the benchmark's own run_seconds from the change checkout's
# BENCHMARK.json. Env: OUT, WORKLOADS (default "rules chain"), TRACE
# (default 0).
set -euo pipefail
PARENT=${1:?usage: perfbench_pairs.sh <parent_checkout> <change_checkout> <seed>...}
CHANGE=${2:?usage: perfbench_pairs.sh <parent_checkout> <change_checkout> <seed>...}
shift 2
OUT=${OUT:-perfbench_pairs.jsonl}
WORKLOADS=${WORKLOADS:-rules chain}
RUN_SECONDS=$(python3 -c 'import json, sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$CHANGE/BENCHMARK.json")
TRACE=${TRACE:-0}

run_one() { # side checkout workload seed
  local line
  if line=$(cd "$2" && python3 perfbench/run.py --workload "$3" --seed "$4" \
      --seconds "$RUN_SECONDS" --trace "$TRACE" | tail -n 1) && [ -n "$line" ]; then
    printf '{"side": "%s", "wl": "%s", "seed": %s, "res": %s}\n' "$1" "$3" "$4" "$line" >> "$OUT"
  else
    printf '{"side": "%s", "wl": "%s", "seed": %s, "error": "run.py failed"}\n' "$1" "$3" "$4" >> "$OUT"
  fi
}

# the side that goes first alternates from seed to seed within each
# workload (and between workloads within a seed)
i=0
for seed in "$@"; do
  w=0
  for wl in $WORKLOADS; do
    if [ $(((i + w) % 2)) -eq 0 ]; then
      run_one parent "$PARENT" "$wl" "$seed"; run_one change "$CHANGE" "$wl" "$seed"
    else
      run_one change "$CHANGE" "$wl" "$seed"; run_one parent "$PARENT" "$wl" "$seed"
    fi
    w=$((w + 1))
  done
  i=$((i + 1))
done

python3 - "$OUT" <<'EOF'
import json, statistics, sys
runs = [json.loads(l) for l in open(sys.argv[1]) if l.strip()]
by = {}
for r in runs:
    by.setdefault((r["wl"], r["seed"]), {})[r["side"]] = r
for wl in sorted({k[0] for k in by}):
    pairs = [v for k, v in sorted(by.items()) if k[0] == wl and len(v) == 2]
    ok = [p for p in pairs if all("res" in s for s in p.values())]
    bad = sum(1 for p in pairs for s in p.values()
              if "res" not in s or not s["res"]["correct"] or s["res"]["failed"])
    metrics = sorted({m for p in ok for s in p.values() for m in s["res"]["metrics"]})
    for m in metrics:
        vals = [(p["parent"]["res"]["metrics"][m]["value"], p["change"]["res"]["metrics"][m]["value"])
                for p in ok if all(m in s["res"]["metrics"] for s in p.values())]
        if not vals:
            continue
        pm = statistics.median(v[0] for v in vals)
        cm = statistics.median(v[1] for v in vals)
        print(json.dumps({"wl": wl, "metric": m, "pairs": len(vals),
                          "parent_median": pm, "change_median": cm,
                          "ratio": cm / pm if pm else None,
                          "change_lower": sum(1 for p, c in vals if c < p),
                          "bad_runs": bad}))
EOF
