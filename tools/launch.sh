#!/usr/bin/env bash
# Run a graft main off the compiled classes, without sbt (so it can run
# alongside an sbt session). Build first: `sbt compile`.
#
#   tools/launch.sh <main> [args...]     e.g. tools/launch.sh graft.Bench
#
# Heap: SPARK_DRIVER_MEM, else half of MemTotal clamped to 2-8g. Cores:
# graft.Exec reads SPARK_GRAFT_CPUS and falls back to the host's core count.
set -euo pipefail
cd "$(dirname "$0")/.."
main="${1:?usage: tools/launch.sh <main> [args...]}"; shift

# The full org.apache.spark.launcher.JavaModuleOptions set. With a shorter
# list the custom-Aggregator queries (q_value_log_histogram,
# q_doc_heavy_hitters, q_value_qdigest) fail with EXPRESSION_ENCODING_FAILED:
# jdk.internal.ref and native access are what their encoders need.
opens=(--enable-native-access=ALL-UNNAMED
       --add-opens java.security.jgss/sun.security.krb5=ALL-UNNAMED)
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         jdk.internal.ref jdk.internal.misc \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  opens+=(--add-opens "java.base/$p=ALL-UNNAMED")
done

# the jars of the Spark installation whose spark-submit is on the PATH
jars="$(dirname "$(readlink -f "$(command -v spark-submit)")")/../jars"
heap="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo)}"
exec java "${opens[@]}" "-Xmx$heap" \
  -cp "$jars/*:target/scala-2.13/classes" "$main" "$@"
