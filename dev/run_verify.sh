#!/bin/bash
# Dev-only: compile, run graft.Verify on a sf dir, then DuckDB-compare.
# Usage: dev/run_verify.sh [sfDir] [outDir]
set -e
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# --print-opens: emit the JVM flags for hand-run java commands (SKILL.md)
if [ "$1" = "--print-opens" ]; then echo "$ADD_OPENS"; exit 0; fi
cd /root/repo
sbt -batch package 2>&1 | grep -E 'error|warn.*deprecat|success' | head -20
rm -rf "$OUT"
java $ADD_OPENS -Xmx8g \
  -cp "target/scala-2.13/queensspark_2.13-0.1.0.jar:/opt/spark/jars/*" \
  graft.Verify "$SF" "$OUT" 2>&1 | grep -v '^2[0-9/]*' | tail -5
python3 dev/compare.py "$SF" "$OUT"
