#!/usr/bin/env bash
# Full-registry benchmark off the compiled classes (no sbt lock), through
# tools/launch.sh, which carries the JDK-17 module opens Spark needs. Build
# first: `sbt compile`. Env passthrough: SPARK_GRAFT_SF_DIR (default sf0.1),
# SPARK_GRAFT_CPUS (default: host cores), SPARK_DRIVER_MEM, SPARK_GRAFT_ONLY,
# SPARK_GRAFT_PASSES. Every run makes one discarded warm-up pass first.
exec "$(dirname "$0")/launch.sh" graft.Bench
