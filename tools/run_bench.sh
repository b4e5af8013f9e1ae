#!/usr/bin/env bash
# Isolated bench run: graft.Bench in a fresh plain-java JVM
# (tools/java_main.sh). Usage: tools/run_bench.sh [out.json] [sf_dir]
set -euo pipefail
OUT="$(realpath -m "${1:-BENCH_LAST.json}")"
SPARK_GRAFT_SF_DIR="${2:-/root/testdata/sf0.1}" SPARK_GRAFT_BENCH_OUT="$OUT" \
exec "$(dirname "$0")/java_main.sh" graft.Bench
