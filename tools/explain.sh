#!/bin/bash
# Capture explain("formatted") for queries into files. Usage:
#   SPARK_GRAFT_ONLY=q93_pagerank tools/explain.sh plans/r12 before
set -e
cd "$(dirname "$0")/.."
REPO="$PWD"
OUT="${1:?outdir}"
SUFFIX="${2:?suffix}"
mkdir -p "$OUT"
OUT="$(cd "$OUT" && pwd)"
. "$REPO/tools/jvm_flags.sh"
cd "$(mktemp -d /tmp/graft-explain-XXXX)"
exec java "${GRAFT_JVM_FLAGS[@]}" \
  -Xmx8g -XX:ReservedCodeCacheSize=512m \
  -cp "$GRAFT_CP" \
  graft.tools.ExplainQuery "$OUT" "$SUFFIX"
