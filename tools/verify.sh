#!/bin/bash
# Build the jar, run graft.Verify on a scale factor, compare vs DuckDB.
# Usage: tools/verify.sh [sfDir] [outDir]
# Checks the checkout this script belongs to. The outputs go to outDir (a
# fresh temporary directory by default), the build and run logs to a
# fresh temporary directory, so two checkouts can be checked side by side.
set -e
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-$(mktemp -d)}
LOGS=$(mktemp -d)
echo "logs: $LOGS" >&2
sbt -batch package > "$LOGS/sbt_package.log" 2>&1 || { tail -40 "$LOGS/sbt_package.log"; exit 1; }
rm -rf "$OUT"
/opt/spark/bin/spark-submit \
  --driver-memory "${SPARK_DRIVER_MEM:-8g}" \
  --conf spark.ui.enabled=false \
  --conf spark.sql.session.timeZone=UTC \
  --class graft.Verify \
  target/scala-2.13/icebergrestcatalogspark_2.13-0.1.0.jar \
  "$SF" "$OUT" > "$LOGS/verify_run.log" 2>&1 || { tail -40 "$LOGS/verify_run.log"; exit 1; }
grep '\[verify\]' "$LOGS/verify_run.log" || true
python3 tools/compare.py "$SF" "$OUT"
