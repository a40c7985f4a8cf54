#!/bin/bash
# Launch a graft main class in a fresh JVM, replicating build.sbt's
# forked `run` JVM exactly (add-opens set, -Xmx, spark props) without
# paying sbt startup or contending for the sbt build lock. The classes
# come from THIS checkout's target/ (run `sbt compile` in it first), so
# a copy launched from a second worktree runs that worktree's code.
#
#   tools/run_main.sh <MainClass> [args...]
#   EXTRA_JAVA_OPTS   extra JVM flags (e.g. -Dspark.sql.shuffle.partitions=8);
#                     they come after the default -Djava.io.tmpdir, so
#                     they can override it
#   SPARK_DRIVER_MEM  heap (default 8g, same default as build.sbt)
#   SPARK_HOME        Spark install whose jars/ go on the classpath
#                     (default /opt/spark)
#
# Cold-JVM A/B of named queries between two commits: check each out in
# its own worktree, compile both, then from each worktree run
#
#   printf 'q_a\nq_b\n' > /tmp/ab_manifest.txt
#   SPARK_GRAFT_BENCH_MANIFEST=/tmp/ab_manifest.txt \
#   SPARK_GRAFT_BENCH_REPS=3 \
#   SPARK_GRAFT_BENCH_HISTORY=/tmp/ab_history_<side>.jsonl \
#     tools/run_main.sh graft.Bench
#
# alternating which side runs first, and compare the per-query medians.
#
# The JVM's java.io.tmpdir is this checkout's target/tmp, so the state
# the engine writes under <tmpdir>/graft (fixtures, oracle dumps,
# warehouse) is per checkout: two worktrees never share fixtures.
# oracle_sql.json carries absolute dump paths, so tools/check_oracle.py
# needs no flag to find them.
set -euo pipefail
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
mkdir -p "$ROOT/target/tmp"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Djava.io.tmpdir="$ROOT/target/tmp" \
  ${EXTRA_JAVA_OPTS:-} \
  -cp "$ROOT/target/scala-2.13/classes:${SPARK_HOME:-/opt/spark}/jars/*" \
  "$@"
