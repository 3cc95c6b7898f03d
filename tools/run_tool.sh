#!/usr/bin/env bash
# Run a graft dev tool main directly (no sbt lock). Usage:
#   run_tool.sh <mainClass> [args...]
# Env: JVM_MEM (default 8g), SPARK_GRAFT_CPUS passed through.
#
# Executor-shape knobs (single-box stand-ins for a cluster's per-node
# cores x memory): SPARK_GRAFT_CPUS sets task concurrency, JVM_MEM the
# shared heap. Concurrency multiplies live join/agg state — the
# measured sf30 LPA boundary (BENCH_sf100_r12.json): 32 cores need
# ~100g heap (completes, 1314 s); 32 cores at 64g OOMs the heap;
# r11's 16 cores at 100g also completed (1468 s). Scratch is no longer
# the binding constraint since eager checkpoint release (r12).
set -euo pipefail
cd "$(dirname "$0")/.."
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${JVM_MEM:-8g}" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
