#!/bin/bash
# Alternating-pair A/B of perfbench's end-to-end metrics: a committed ref
# (side A, e.g. the parent commit) against the working tree (side B), on
# one workload, with the pairing and the gain rule of the choosing-metrics
# guide (section 8).
#
# Usage: tools/perfbench_ab.sh <ref> <workload> [pairs] [seed0]
#   ref       git ref for side A
#   workload  a perfbench workload (pipeline_full, gates, ...)
#   pairs     number of pairs (default 10)
#   seed0     seed of pair 1; pair i runs seed0+i-1 on both sides
#             (default 1). Pick seeds not used while writing the change.
#
# The ref's committed files are exported with `git archive` into a temp
# dir that an EXIT trap removes, so the ref is benchmarked as committed
# and no worktree entry is left in .git. Each side builds into its own
# git-ignored perfbench/target/; nothing under perfbench/ is edited. Pair
# i runs the ref first when i is odd, the working tree first when i is
# even. Every run is `python3 perfbench/run.py --trace 0`.
#
# Prints, per end-to-end metric of BENCHMARK.json: each side's median and
# quartiles, the ref's IQR, the pairs the working tree wins (ties count for
# neither), the median change against the metric's bound, and whether the
# gain rule holds (wins >= 9/10 of the pairs and a median difference, in
# the better direction, larger than the ref's IQR). Writes the runs and
# that summary to perfbench_ab_<workload>.json (OUT overrides the path).
# Exits 1 if any run failed or was not `correct`.
set -euo pipefail
cd "$(dirname "$0")/.."
REF="${1:?usage: perfbench_ab.sh <ref> <workload> [pairs] [seed0]}"
WORKLOAD="${2:?usage: perfbench_ab.sh <ref> <workload> [pairs] [seed0]}"
PAIRS="${3:-10}"
SEED0="${4:-1}"
OUT="${OUT:-perfbench_ab_${WORKLOAD}.json}"
REPO=$(pwd)
REFSHA=$(git rev-parse --short "$REF^{commit}")
# a short path: sbt binds a unix socket under the ref's build dir, and
# such a path is limited to 108 bytes
TMP=$(mktemp -d "${TMPDIR:-/tmp}/pab.XXXX")
trap 'rm -rf "$TMP"' EXIT
WT="$TMP/r"
RUNS="$TMP/runs.jsonl"
mkdir "$WT"
git archive "$REF" | tar -x -C "$WT"

# run <side> <dir> <pair> <seed>: one untraced run, one JSON line to $RUNS
run() {
  local side=$1 dir=$2 pair=$3 seed=$4 out err="$TMP/stderr" rc=0
  out=$(cd "$dir" && python3 perfbench/run.py --workload "$WORKLOAD" --seed "$seed" \
    --seconds 30 --trace 0 2>"$err" | tail -n 1) || rc=$?
  python3 - "$side" "$pair" "$seed" "$rc" "$out" "$err" >>"$RUNS" <<'EOF'
import json, sys
side, pair, seed, rc, out, err = sys.argv[1:]
host = [l for l in open(err).read().splitlines() if l.startswith("[perfbench] ") and " host=" in l]
try:
    r = json.loads(out)
except ValueError:
    r = {"correct": False, "failed": None, "metrics": {}}
r.update(side=side, pair=int(pair), seed=int(seed), exit=int(rc),
         host=host[-1] if host else open(err).read()[-2000:])
print(json.dumps(r))
EOF
  echo "[perfbench_ab] pair $pair seed $seed $side: exit $rc $(tail -n 1 "$RUNS" | cut -c1-160)" >&2
}

for ((i = 1; i <= PAIRS; i++)); do
  seed=$((SEED0 + i - 1))
  if ((i % 2)); then
    run ref "$WT" "$i" "$seed"; run tree "$REPO" "$i" "$seed"
  else
    run tree "$REPO" "$i" "$seed"; run ref "$WT" "$i" "$seed"
  fi
done

python3 - "$RUNS" "$OUT" "$REF" "$REFSHA" "$WORKLOAD" <<'EOF'
import json, statistics, sys
runs_path, out, ref, refsha, workload = sys.argv[1:]
runs = [json.loads(l) for l in open(runs_path)]
spec = json.load(open("BENCHMARK.json"))["end_to_end"]

def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else (xs * 3)
    return q1, q2, q3

summary = {}
print(f"{workload}: ref {ref} ({refsha}) vs working tree, {len(runs) // 2} pairs")
print(f"{'metric':<18}{'ref median [q1, q3]':>28}{'tree median [q1, q3]':>28}"
      f"{'ref IQR':>10}{'change':>9}{'bound':>7}{'won':>7}  rule")
for m in spec:
    name, lower = m["name"], m["better"] == "lower"
    val = {(r["side"], r["pair"]): r["metrics"].get(name, {}).get("value") for r in runs}
    pairs = sorted({p for _, p in val})
    both = [p for p in pairs if val.get(("ref", p)) is not None and val.get(("tree", p)) is not None]
    if not both:
        continue
    a = [val[("ref", p)] for p in both]
    b = [val[("tree", p)] for p in both]
    (a1, am, a3), (b1, bm, b3) = quartiles(a), quartiles(b)
    iqr = a3 - a1
    sign = 1 if lower else -1
    won = sum(1 for x, y in zip(a, b) if sign * (x - y) > 0)
    gain = sign * (am - bm)
    holds = won >= 0.9 * len(both) and gain > iqr
    change = (bm - am) / am if am else float("nan")
    summary[name] = {"unit": m["unit"], "better": m["better"], "bound": m["bound"],
                     "ref": {"median": am, "q1": a1, "q3": a3, "runs": a},
                     "tree": {"median": bm, "q1": b1, "q3": b3, "runs": b},
                     "ref_iqr": iqr, "change": change, "pairs": len(both), "won": won,
                     "gain_rule_holds": holds,
                     "worse_than_bound": sign * change > m["bound"]}
    print(f"{name:<18}{am:>10.3f} [{a1:.3f}, {a3:.3f}]{bm:>10.3f} [{b1:.3f}, {b3:.3f}]"
          f"{iqr:>10.3f}{change:>+9.1%}{m['bound']:>7.2f}{won:>4}/{len(both):<2}  "
          f"{'holds' if holds else 'does not hold'}")
bad = [r for r in runs if not r.get("correct") or r.get("failed") or r["exit"]]
for r in bad:
    print(f"NOT CORRECT: {r['side']} pair {r['pair']} seed {r['seed']} exit {r['exit']}: {r['host'][-300:]}")
json.dump({"workload": workload, "ref": ref, "ref_sha": refsha, "runs": runs,
           "summary": summary, "all_correct": not bad}, open(out, "w"), indent=1)
print(f"artifact: {out}")
sys.exit(1 if bad else 0)
EOF
