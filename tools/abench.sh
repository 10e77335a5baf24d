#!/bin/bash
# BenchChild-grade A/B: ./tools/abench.sh q_a q_b ...
# Runs the named queries in ONE fresh child JVM with the bench's exact
# timing discipline and prints the TSV (name, sec, ok, leaked, fw, fr, allsec).
# SPARK_GRAFT_SF_DIR and SPARK_GRAFT_CPUS default as in graft.Bench. The
# child's stderr is kept in a temp log and its tail printed only on failure.
set -e
cd "$(dirname "$0")/.."
OUT=$(mktemp /tmp/abench_XXXX.tsv)
LOG=$(mktemp /tmp/abench_XXXX.log)
trap 'rm -f "$OUT" "$LOG"' EXIT
CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
java $(for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util java.util.concurrent java.util.concurrent.atomic; do echo --add-opens java.base/$p=ALL-UNNAMED; done) \
  --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED \
  -Xmx16g -Xmn2g \
  -cp "$CP" graft.BenchChild "$OUT" "${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" \
  "${SPARK_GRAFT_CPUS:-4}" "$@" 2>"$LOG" || {
  rc=$?
  echo "abench: child exited $rc; last lines of its stderr:" >&2
  tail -n 40 "$LOG" >&2
  exit $rc
}
cat "$OUT"
