#!/usr/bin/env bash
# Driver-facing bench entry point.
#
# Runs the sbt bench main and then re-prints the recorded BENCH_OUT.json
# content as the FINAL stdout line. Rationale: sbt appends its own
# "[success] Total time: ..." line to stdout AFTER the bench main's JSON
# line, so a tail-parse of raw `sbt "runMain graft.Bench"` output sees the
# sbt epilogue instead of the JSON (BENCH_r0{1..4}.json all recorded
# "parsed": null because of this). Tail-parsing THIS script's output always
# yields the bench JSON.
#
# The artifact also carries a `layers` object: per leg (and per probe
# row and sf1 query) the best sample's jobs, job wall, driver gap, stages,
# tasks and shuffle bytes, plus the cause of a failed leg. The compact line
# graft.Bench prints before it keeps seconds only.
#
# Env (all optional, passed through to graft.Bench):
#   SPARK_GRAFT_SF_DIR      testdata dir (default /root/testdata/sf0.1)
#   SPARK_GRAFT_BENCH_ONLY  comma-separated query-name prefixes to run
#   SPARK_GRAFT_BENCH_OUT   where the JSON artifact is written
#   SPARK_GRAFT_CPUS        local[] parallelism override
#   SPARK_GRAFT_BENCH_BEST  timed samples per query, best-of-N (default 5
#                           since r8 — the committed protocol; the r7
#                           driver re-run at the old default 3 read 1.39x
#                           the committed artifact from VM noise alone)
#   SPARK_GRAFT_BENCH_BUDGET_S  wall-clock budget in seconds (DEFAULT 1800
#                           since r13; set 0 to disable): past 60%/85% of
#                           it remaining queries sample best-of-3/best-of-1
#                           so the run finishes inside a wrapper timeout;
#                           the artifact is also re-published atomically
#                           after EVERY query, so even a hard kill leaves a
#                           parseable "partial":true artifact with the
#                           completed prefix. Sections run probes -> sf1 ->
#                           per-query legs so a kill can only blank the
#                           leg tail.
set -u
cd "$(dirname "$0")/.."
OUT="${SPARK_GRAFT_BENCH_OUT:-$PWD/BENCH_OUT.json}"
export SPARK_GRAFT_BENCH_OUT="$OUT"

sbt -batch "runMain graft.Bench"
status=$?
if [ $status -ne 0 ]; then
  echo "bench.sh: sbt bench failed with status $status" >&2
  exit $status
fi
if [ ! -s "$OUT" ]; then
  echo "bench.sh: no bench artifact at $OUT" >&2
  exit 1
fi
# the artifact is a single JSON object; emit it as one final line
tr -d '\n' < "$OUT"
echo
