#!/usr/bin/env python3
"""Steadiness tool for the graft benchmark.

Run a workload on a series of seeds and summarise each metric:

    python3 perfbench/steady.py run --workload etl_load --seeds 1-10 \
        [--trace 0] [--out perfbench/results/etl_load-a.json]

prints, per metric, the median, the first and third quartiles
(statistics.quantiles(values, n=4)) and the spread (Q3 - Q1) / median,
flagged against the metric's bound in BENCHMARK.json. The raw values are
saved to --out.

Compare two sets of runs of the same commit (or a parent and a change):

    python3 perfbench/steady.py compare A.json B.json

checks, for every end-to-end metric, that each set's spread is within the
metric's bound (setup_s excepted) and that B's median is not worse than A's
by more than the bound. Exit code 1 if any check fails.

Run from the root of a graft checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))


def spec():
    with open("BENCHMARK.json") as fh:
        b = json.load(fh)
    metrics = {m["name"]: m for m in b["end_to_end"] + b["per_layer"]}
    return b, metrics


def seeds(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def summary(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def run(args):
    b, metrics = spec()
    rows = []
    for seed in seeds(args.seeds):
        cmd = b["command"] + ["--workload", args.workload, "--seed", str(seed),
                              "--seconds", str(b["run_seconds"]),
                              "--trace", str(args.trace)]
        t0 = time.time()
        p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        wall = time.time() - t0
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
        try:
            res = json.loads(last)
        except json.JSONDecodeError:
            res = {}
        ok = p.returncode == 0 and res.get("correct")
        print(f"seed {seed}: rc={p.returncode} correct={res.get('correct')} "
              f"attempted={res.get('attempted')} failed={res.get('failed')} wall={wall:.1f}s",
              flush=True)
        if not ok:
            print(p.stderr[-2000:], file=sys.stderr)
        rows.append({"seed": seed, "rc": p.returncode, "wall_s": wall, "result": res})
    out = args.out or os.path.join(BENCH, "results", f"{args.workload}-trace{args.trace}.json")
    os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
    with open(out, "w") as fh:
        json.dump({"workload": args.workload, "trace": args.trace, "runs": rows}, fh, indent=1)
    report(rows, metrics)
    print(f"saved {out}")
    return 0 if all(r["rc"] == 0 for r in rows) else 1


def values_of(rows):
    vals = {}
    for r in rows:
        for k, m in r["result"].get("metrics", {}).items():
            vals.setdefault(k, []).append(m["value"])
    return vals


def report(rows, metrics):
    print(f"{'metric':44s} {'n':>3s} {'median':>14s} {'q1':>14s} {'q3':>14s} {'spread':>8s} bound")
    for k, vs in values_of(rows).items():
        med, q1, q3, sp = summary(vs)
        bound = metrics.get(k, {}).get("bound")
        flag = "" if bound is None else (" ok" if sp <= bound / 3 else
                                         " within" if sp <= bound else " OVER")
        print(f"{k:44s} {len(vs):3d} {med:14.4f} {q1:14.4f} {q3:14.4f} {sp:8.3f} "
              f"{'' if bound is None else bound}{flag}")


def compare(args):
    _, metrics = spec()
    sets = []
    for path in (args.a, args.b):
        with open(path) as fh:
            sets.append(values_of(json.load(fh)["runs"]))
    bad = 0
    for k, m in metrics.items():
        if "bound" not in m or k not in sets[0] or k not in sets[1]:
            continue
        (ma, _, _, sa), (mb, _, _, sb) = summary(sets[0][k]), summary(sets[1][k])
        worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
        checks = [worse <= m["bound"]]
        if k != "setup_s":
            checks += [sa <= m["bound"], sb <= m["bound"]]
        bad += not all(checks)
        print(f"{k:16s} median {ma:12.4f} -> {mb:12.4f} worse by {worse:+.3f}; "
              f"spreads {sa:.3f} / {sb:.3f}; bound {m['bound']} "
              f"{'ok' if all(checks) else 'FAIL'}")
    return 1 if bad else 0


def main():
    ap = argparse.ArgumentParser(description="graft benchmark steadiness tool")
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--trace", type=int, default=0)
    r.add_argument("--out")
    c = sub.add_parser("compare")
    c.add_argument("a")
    c.add_argument("b")
    args = ap.parse_args()
    sys.exit(run(args) if args.cmd == "run" else compare(args))


if __name__ == "__main__":
    main()
