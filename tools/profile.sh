#!/bin/bash
# Per-stage profile of one or more queries (graft.tools.ProfileQuery) —
# same JVM flags as tools/bench.sh. Usage:
#   SPARK_GRAFT_ONLY=q93_pagerank tools/profile.sh [passes]
set -e
cd "$(dirname "$0")/.."
REPO="$PWD"
. "$REPO/tools/jvm_flags.sh"
MEM="${SPARK_DRIVER_MEM:-16g}"
cd "$(mktemp -d /tmp/graft-prof-XXXX)"
exec java "${GRAFT_JVM_FLAGS[@]}" \
  -Xmx$MEM -Xms$MEM -XX:ReservedCodeCacheSize=1g \
  -cp "$GRAFT_CP" \
  graft.tools.ProfileQuery "$@"
