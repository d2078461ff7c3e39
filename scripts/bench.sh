#!/bin/bash
# One graft.Bench run under the quiet-box protocol, its JSON metric line
# captured to <out.json>.
#
# Usage: scripts/bench.sh <out.json> <heap> [ENV=VAL...]
#   e.g. scripts/bench.sh BENCH_local.json 24g \
#          SPARK_GRAFT_SF_DIR=<sf0.1 dir> SPARK_GRAFT_CPUS=32
#
# Quiet box: per-query noise is large enough that a number taken next to
# other work cannot be attributed, so before the run
#   - the persistent sbt shell (tmux session `sbt`) is killed: an idle
#     sbt+zinc JVM holds 2-4 GB resident and wakes up unpredictably;
#   - other graft JVMs are waited out, not killed: a bench must never
#     overlap another;
#   - /proc/loadavg is written to the <out>.load sidecar under target/,
#     so the artifact is adjudicable on its own (Bench's health object
#     reports load at the END of the run).
# Build first (`sbt compile`); the run uses target/scala-2.13/classes and
# the Spark jars under $SPARK_HOME.
set -u
if [ $# -lt 2 ]; then
  echo "usage: $0 <out.json> <heap> [ENV=VAL...]" >&2; exit 2
fi
out="$1" heap="$2"; shift 2
cd "$(dirname "$0")/.."
. scripts/java_opts.sh
CP="target/scala-2.13/classes:${SPARK_HOME:?SPARK_HOME must name the Spark install}/jars/*"

tmux kill-session -t sbt 2>/dev/null && echo "killed tmux sbt session"
for _ in $(seq 1 60); do
  n=$(pgrep -fc 'java.*graft\.' 2>/dev/null || true)
  [ "${n:-0}" -le 1 ] && break   # 1 = possibly this script's pgrep noise
  echo "waiting on $n graft java procs"; sleep 10
done

mkdir -p target
cat /proc/loadavg > "target/$(basename "$out" .json).load"
echo "== $(date +%H:%M:%S) $out load=$(cut -d' ' -f1-3 /proc/loadavg) =="
env "$@" java $GRAFT_JAVA_OPTS -Xmx"$heap" -cp "$CP" graft.Bench 2>/dev/null \
  | grep '^{' > "$out"
tail -c 500 "$out"; echo
