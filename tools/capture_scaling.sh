#!/usr/bin/env bash
# N -> 4N scaling capture (ROADMAP aim 1: efficiency >= 0.8 from N to 4N
# cores): interleaved 4N/N pairs of graft.tools.ScalingBench, 4N side first,
# so each pair shares one box window. Stored and decoded get two pairs each,
# encoded one. Every point is its own JVM, forked by sbt's `run` so it gets
# build.sbt's javaOptions, and runs the same 20M-page corpus (scale factor
# 0.1 x 1000; ScalingBench reads only the scale factor from its sf argument),
# best of two reps.
#
# Usage: tools/capture_scaling.sh <N> [out.jsonl]
set -uo pipefail
cd "$(dirname "$0")/.."
N=${1:?usage: tools/capture_scaling.sh <N> [out.jsonl]}
OUT=${2:-/tmp/scaling_${N}x4.jsonl}
HI=$((4 * N))
CORES=$(env -u OMP_NUM_THREADS nproc)
if (( HI > CORES )); then
  echo "capture_scaling: 4N = $HI cores exceeds nproc = $CORES" >&2
  exit 1
fi
: > "$OUT"
run() { # cores mode
  echo "{\"start\":\"$(date -u +%H:%M:%S)\",\"cores\":$1,\"mode\":\"$2\"}" >> "$OUT"
  sbt --batch "runMain graft.tools.ScalingBench $1 sf0.1 1000 2 $2" 2>/dev/null \
    | grep scaling_point >> "$OUT"
}
for mode in stored stored decoded decoded encoded; do
  run "$HI" "$mode"
  run "$N" "$mode"
done
echo '{"done":true}' >> "$OUT"
