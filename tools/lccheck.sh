#!/usr/bin/env bash
# Executor-JVM check: the oracle run with executors in their own JVMs.
#
# Usage: tools/lccheck.sh <sf_dir>
#   tools/lccheck.sh testdata/sf0.001
#
# Packages graft (`sbt package`), runs graft.Verify over <sf_dir> inside
# `spark-shell --master 'local-cluster[2,2,2048]'` with the graft jar passed
# as `--jars`, then compares the results with DuckDB (tools/check.py).
# `local-cluster[W,C,MB]` is Spark's own multi-JVM test master: W executor
# JVMs of C cores and MB megabytes each, so whatever runs inside a task
# (writer confs, executor caches, counters, broadcasts) runs in a JVM other
# than the driver's. graft.Verify's GraftSession.local reuses the shell's
# session. Two executors, fixed.
#
# Needs SPARK_HOME (a Spark 4.1 distribution). Its bin/ and jars/ are linked
# into a temporary Spark home, so the executors' work dirs land there and
# nothing is written into the distribution. About 8 minutes on 4 vCPU at
# sf0.001; not part of `sbt test`. Exit code 0 only when every query ran and
# every result matched.
set -euo pipefail
cd "$(dirname "$0")/.."

if [ $# -ne 1 ]; then
  sed -n 's/^# //; 4,5p' "$0" >&2
  exit 2
fi
SF="$(cd "$1" && pwd)"
REPO="$PWD"
TMP="$(mktemp -d "${TMPDIR:-/tmp}/graft_lccheck.XXXXXX")"
trap 'rm -rf "$TMP"' EXIT
trap 'exit 130' INT TERM

sbt -batch package
JAR="$(ls "$REPO"/target/scala-2.13/*.jar)"

mkdir -p "$TMP/spark"
for d in "${SPARK_HOME:?SPARK_HOME must name a Spark distribution}"/*; do
  ln -s "$d" "$TMP/spark/"
done

echo "[lccheck] graft.Verify over $SF on local-cluster[2,2,2048]" >&2
(cd "$TMP" && SPARK_HOME="$TMP/spark" "$TMP/spark/bin/spark-shell" \
    --master 'local-cluster[2,2,2048]' --jars "$JAR" \
    --conf spark.sql.catalogImplementation=in-memory \
    --conf spark.sql.session.timeZone=UTC --conf spark.ui.enabled=false \
    --conf spark.ui.showConsoleProgress=false \
    >"$TMP/verify.log" 2>&1 <<EOF
graft.Verify.main(Array("$SF", "$TMP/out"))
:quit
EOF
)
if grep '\[verify\] .* failed:' "$TMP/verify.log"; then
  echo "[lccheck] queries failed under local-cluster" >&2
  exit 1
fi
python3 tools/check.py "$SF" "$TMP/out" || { tail -n 20 "$TMP/verify.log" >&2; exit 1; }
