#!/bin/bash
# Scale-probe launcher: the tools/jvm.sh recipe, like run_bench.sh (its
# default 8 GB heap is the canonical bench heap, so driver-memory readings
# are comparable), 32 cores.
#   tools/run_scale.sh <sfDir> <outJson> [shufflePartitions]
set -euo pipefail
SF_DIR="${1:?usage: run_scale.sh <sfDir> <outJson> [shuffleParts]}"
OUT="${2:?usage: run_scale.sh <sfDir> <outJson> [shuffleParts]}"
SHUF="${3:-64}"
SPARK_GRAFT_CPUS=32 SPARK_GRAFT_SHUFFLE="$SHUF" \
exec "$(dirname "$0")/jvm.sh" graft.tools.ScaleR19 "$SF_DIR" "$OUT"
