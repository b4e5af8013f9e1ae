#!/usr/bin/env bash
# Plain-java launcher for this repo's mains: a fresh JVM with no sbt in the
# process, run from the repo root (relative paths in args resolve there).
# Compile first with `sbt Test/compile`.
# Usage: tools/java_main.sh <main class> [args...]
# Env: SPARK_GRAFT_CLASSES  ':'-separated classes dirs (default
#                           target/scala-2.13/classes; point it at a snapshot
#                           copy so a concurrent compile can't mutate bytecode
#                           under a running measurement)
#      SPARK_DRIVER_MEM     -Xmx (default 32g)
set -euo pipefail
cd "$(dirname "$0")/.."
CLASSES="${SPARK_GRAFT_CLASSES:-target/scala-2.13/classes}"
IFS=: read -ra dirs <<<"$CLASSES"
for d in "${dirs[@]}"; do
  [ -d "$d" ] || { echo "$d missing: run 'sbt Test/compile' first" >&2; exit 2; }
done
# --add-opens list: single source of truth in tools/add_opens.txt (shared
# with build.sbt's jdk17AddOpens — the sbt-side forked-JVM equivalent).
ADD_OPENS=""
while IFS= read -r p || [ -n "$p" ]; do
  case "$p" in ''|'#'*) continue;; esac
  ADD_OPENS="$ADD_OPENS --add-opens $p=ALL-UNNAMED"
done < tools/add_opens.txt
exec java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-32g}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CLASSES:/opt/spark/jars/*" "$@"
