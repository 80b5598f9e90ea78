#!/bin/bash
# Count the child processes the JVM starts while profiling queries: puts
# logging shims for chmod, readlink, rm, stat, ls and bash first on PATH,
# runs tools/profile.sh with the caller's environment (SPARK_GRAFT_ONLY,
# SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_DRIVER_MEM), then prints
# forks per command, in total and per pass (total / passes, so one-time
# startup forks are spread over the passes). Usage:
#   SPARK_GRAFT_ONLY=q104_stream_tws_counts,q224_index_vacuum \
#     tools/forkcount.sh [passes]
# The profile's own output goes to profile.log in the shim directory.
set -e
cd "$(dirname "$0")/.."
PASSES="${1:-3}"
SHIMS="$(mktemp -d /tmp/graft-forks-XXXX)"
CMDS="chmod readlink rm stat ls bash"
for c in $CMDS; do
  real="$(command -v "$c")"
  printf '#!/bin/sh\necho %s >> "%s/forks.log"\nexec %s "$@"\n' "$c" "$SHIMS" "$real" > "$SHIMS/$c"
  chmod +x "$SHIMS/$c"
done
: > "$SHIMS/forks.log"
PATH="$SHIMS:$PATH" tools/profile.sh "$PASSES" > "$SHIMS/profile.log" 2>&1 \
  || { echo "forkcount: tools/profile.sh failed, see $SHIMS/profile.log" >&2; exit 1; }
echo "forks over $PASSES passes (profile output: $SHIMS/profile.log)"
printf '%-9s %8s %9s\n' command total per_pass
for c in $CMDS; do
  n="$(grep -cx "$c" "$SHIMS/forks.log" || true)"
  awk -v c="$c" -v n="$n" -v p="$PASSES" 'BEGIN { printf "%-9s %8d %9.1f\n", c, n, n / p }'
done
