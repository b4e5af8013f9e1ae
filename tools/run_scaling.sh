#!/usr/bin/env bash
# Isolated scaling run: the graft.Scaling dev tool (compiled with the tests)
# in a fresh plain-java JVM (tools/java_main.sh).
# Usage: tools/run_scaling.sh [out.json] [sf_dir]
set -euo pipefail
OUT="$(realpath -m "${1:-SCALING_LAST.json}")"
SPARK_GRAFT_CLASSES="${SPARK_GRAFT_CLASSES:-target/scala-2.13/classes:target/scala-2.13/test-classes}" \
SPARK_GRAFT_SF_DIR="${2:-/root/testdata/sf0.01}" SPARK_GRAFT_SCALING_OUT="$OUT" \
exec "$(dirname "$0")/java_main.sh" graft.Scaling
