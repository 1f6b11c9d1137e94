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
# line in $OUT: both medians and quartiles (statistics.quantiles, exclusive
# method), the parent's IQR, change/parent, in how many pairs the change was
# lower, and two verdicts against the change checkout's BENCHMARK.json:
#   claim_met     the change is better in at least 9 of 10 pairs (a tie
#                 counts for neither side) and its median beats the
#                 parent's by more than the parent's IQR;
#   within_bound  the change's median is no worse than the parent's by more
#                 than the metric's relative bound.
# With no seeds it only prints the summary of $OUT.
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

python3 - "$OUT" "$CHANGE/BENCHMARK.json" <<'EOF'
import json, statistics, sys
runs = [json.loads(l) for l in open(sys.argv[1]) if l.strip()]
spec = {m["name"]: m for m in json.load(open(sys.argv[2]))["end_to_end"]}
by = {}
for r in runs:
    by.setdefault((r["wl"], r["seed"]), {})[r["side"]] = r


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


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
        pq1, pq3 = quartiles([v[0] for v in vals])
        cq1, cq3 = quartiles([v[1] for v in vals])
        line = {"wl": wl, "metric": m, "pairs": len(vals),
                "parent_median": pm, "change_median": cm,
                "parent_q1": pq1, "parent_q3": pq3, "change_q1": cq1, "change_q3": cq3,
                "parent_iqr": pq3 - pq1,
                "ratio": cm / pm if pm else None,
                "change_lower": sum(1 for p, c in vals if c < p),
                "bad_runs": bad}
        if m in spec:
            sign = 1 if spec[m]["better"] == "lower" else -1
            wins = sum(1 for p, c in vals if sign * (p - c) > 0)
            line["claim_met"] = 10 * wins >= 9 * len(vals) and sign * (pm - cm) > pq3 - pq1
            line["within_bound"] = sign * (cm - pm) <= spec[m]["bound"] * abs(pm)
        print(json.dumps(line))
EOF
