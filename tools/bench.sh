#!/bin/bash
# Direct-JVM bench runner — same JVM flags as `sbt "runMain graft.Bench"`
# (build.sbt javaOptions) without sbt's lock/startup. Usage:
#   SPARK_GRAFT_ONLY=q170_hits tools/bench.sh [workdir]
# Writes bench_full.json into the workdir (default: a fresh temp dir).
set -e
cd "$(dirname "$0")/.."
REPO="$PWD"
WORK="${1:-$(mktemp -d /tmp/graft-bench-XXXX)}"
. "$REPO/tools/jvm_flags.sh"
MEM="${SPARK_DRIVER_MEM:-16g}"
cd "$WORK"
java "${GRAFT_JVM_FLAGS[@]}" \
  -Xmx$MEM -Xms$MEM -XX:+AlwaysPreTouch -XX:ReservedCodeCacheSize=1g \
  -cp "$GRAFT_CP" graft.Bench
RC=$?
[ $RC -ne 0 ] && exit $RC
# Quiet-window gate (round 13): the in-band calibration probes bracket the
# run; when the post probe reads >1.2x the pre probe the host degraded
# MID-RUN and the numbers cannot support a before/after claim — exit 3 so
# a measurement script refuses to record them (the json is still written,
# labeled noisy, for forensics).
python3 - "$WORK/bench_full.json" <<'EOF'
import json, sys
d = json.load(open(sys.argv[1]))
pre, post = d.get("calibration_pre", -1), d.get("calibration_post", -1)
ratio = (post / pre) if pre and pre > 0 else float("nan")
quiet = pre > 0 and post > 0 and ratio <= 1.2 and ratio >= 1 / 1.2
print(f"[bench.sh] calibration pre={pre} post={post} ratio={ratio:.2f} "
      + ("QUIET" if quiet else "NOISY — do not record before/after from this run"))
sys.exit(0 if quiet else 3)
EOF
