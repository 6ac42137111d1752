#!/usr/bin/env bash
# Paired A/B run of one benchmark workload: a parent revision against the
# working tree.
#
# Usage: tools/perf_ab.sh <parent-rev> <workload> <seeds>
#   tools/perf_ab.sh HEAD~1 etl_load 1-6
#   tools/perf_ab.sh main llm_iterative 1,3,5
#
# The parent is checked out into a temporary `git worktree` outside the
# repository. For each seed, `perfbench/run.py --trace 0` runs once on each
# side; the side that runs first alternates from seed to seed, so a slow
# spell on the host does not always land on the same side. Every run lasts
# BENCHMARK.json's `run_seconds`, the length its bounds were set for.
#
# Prints, for each end-to-end metric of BENCHMARK.json: both medians, the
# distance between the parent's quartiles, the median of the per-pair ratios
# (change / parent), how many pairs moved in the metric's better direction,
# and each pair's ratio. Effects smaller than a metric's bound need this
# pairing (perfbench/LAYERS.md).
#
# The worktree and every temp dir are removed on exit. Exit code 0 only when
# every run was correct.
set -euo pipefail
cd "$(dirname "$0")/.."

if [ $# -ne 3 ]; then
  sed -n 's/^# //; 5,7p' "$0" >&2
  exit 2
fi
REV="$1"; WORKLOAD="$2"; SEEDS="$3"
SECS="$(python3 -c 'import json; print(json.load(open("BENCHMARK.json"))["run_seconds"])')"
REPO="$PWD"
SHA="$(git rev-parse --verify "$REV^{commit}")"

TMP="$(mktemp -d "${TMPDIR:-/tmp}/graft_perf_ab.XXXXXX")"
cleanup() {
  git -C "$REPO" worktree remove --force "$TMP/parent" >/dev/null 2>&1 || true
  git -C "$REPO" worktree prune >/dev/null 2>&1 || true
  rm -rf "$TMP"
}
trap cleanup EXIT
trap 'exit 130' INT TERM

# the seed-range parser and the median/quartile summary come from
# perfbench/steady.py, imported without writing bytecode under perfbench/
seed_list="$(python3 - "$SEEDS" <<'EOF'
import sys; sys.dont_write_bytecode = True; sys.path.insert(0, "perfbench")
from steady import seeds
print(" ".join(map(str, seeds(sys.argv[1]))))
EOF
)"

git worktree add --quiet --detach "$TMP/parent" "$SHA"
mkdir -p "$TMP/out"

run_side() { # side dir seed
  local side="$1" dir="$2" seed="$3" rc=0
  echo "[perf_ab] seed $seed: $side" >&2
  (cd "$dir" && python3 perfbench/run.py --workload "$WORKLOAD" --seed "$seed" \
      --seconds "$SECS" --trace 0 2>"$TMP/out/$side-$seed.err") \
    | tail -n 1 >"$TMP/out/$side-$seed.json" || rc=$?
  [ "$rc" -eq 0 ] || echo "[perf_ab] seed $seed: $side exited $rc" >&2
}

i=0
for seed in $seed_list; do
  if [ $((i % 2)) -eq 0 ]; then
    run_side parent "$TMP/parent" "$seed"; run_side change "$REPO" "$seed"
  else
    run_side change "$REPO" "$seed"; run_side parent "$TMP/parent" "$seed"
  fi
  i=$((i + 1))
done

python3 - "$TMP/out" "$SHA" "$WORKLOAD" $seed_list <<'EOF'
import sys; sys.dont_write_bytecode = True; sys.path.insert(0, "perfbench")
import json, statistics
from steady import summary

out, sha, workload, seeds = sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4:]
spec = json.load(open("BENCHMARK.json"))["end_to_end"]

def load(side, seed):
    try:
        with open(f"{out}/{side}-{seed}.json") as fh:
            return json.loads(fh.read())
    except (OSError, ValueError):
        return None

runs = {s: (load("parent", s), load("change", s)) for s in seeds}
bad = [f"{side} seed {s}" for s, pair in runs.items()
       for side, r in zip(("parent", "change"), pair) if not (r and r.get("correct"))]
pairs = {s: p for s, p in runs.items() if all(r and r.get("correct") for r in p)}
print(f"{workload}: parent {sha[:10]} vs working tree, {len(pairs)} correct pairs "
      f"of {len(seeds)} (seeds {' '.join(seeds)})")
print(f"{'metric':14s} {'better':6s} {'parent':>11s} {'change':>11s} {'parent IQR':>11s} "
      f"{'ratio':>7s} {'better in':>9s}  per-pair ratio")
for m in spec:
    name, higher = m["name"], m["better"] == "higher"
    rows = [(p["metrics"][name]["value"], c["metrics"][name]["value"])
            for p, c in pairs.values() if name in p["metrics"] and name in c["metrics"]]
    if not rows:
        continue
    parent_med, q1, q3, _ = summary([p for p, _ in rows])
    change_med = summary([c for _, c in rows])[0]
    ratios = [c / p if p else float("nan") for p, c in rows]
    wins = sum((c > p) if higher else (c < p) for p, c in rows)
    print(f"{name:14s} {m['better']:6s} {parent_med:11.4g} {change_med:11.4g} {q3 - q1:11.4g} "
          f"{statistics.median(ratios):7.3f} {wins:>4d}/{len(rows):<4d}  "
          + " ".join(f"{r:.3f}" for r in ratios))
if bad:
    print("failed or incorrect runs: " + ", ".join(bad))
sys.exit(1 if bad else 0)
EOF
