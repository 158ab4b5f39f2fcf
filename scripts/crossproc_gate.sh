#!/bin/bash
# Cross-process proof gate (r18 verdict #5): the LocalClusterProof /
# ExecutorDeathProof / ObjectStoreProof artifacts are deliberately outside
# `sbt test` (multi-JVM launch cost, port sensitivity), but nothing used
# to re-run them when the surfaces they guard moved. This script is the
# RocksDB-refresh-style discipline: whenever the commit protocol, the
# direct parquet sink, or the replay harness changes relative to the last
# proof commit, re-drive all three proofs and write fresh round artifacts.
#
# Usage: scripts/crossproc_gate.sh [roundTag] [baseRef]
#   roundTag  suffix for the artifacts (default: rX)
#   baseRef   git ref to diff against (default: the commit that last
#             touched a LOCALCLUSTER_*.json artifact)
#
# Exit 0 with no runs when the guarded surface is unchanged; exit non-zero
# if any proof fails. Record the outcome in COVERAGE.md each round.
set -euo pipefail
cd "$(dirname "$0")/.."

GUARDED=(
  src/main/scala/graft/sources/pbf/OsmPbf.scala
  src/main/scala/graft/sources/pbf/DirectParquet.scala
  src/main/scala/graft/streaming/StreamReplay.scala
  src/main/scala/graft/tools/LocalClusterProof.scala
  src/main/scala/graft/tools/ExecutorDeathProof.scala
  src/main/scala/graft/tools/ObjectStoreProof.scala
  src/main/scala/graft/tools/HostileObjectStoreFs.scala
)

TAG=${1:-rX}
BASE=${2:-$(git log -n1 --format=%H -- 'LOCALCLUSTER_*.json')}

if [ -z "$BASE" ]; then
  echo "[crossproc] no prior proof artifact commit found — running all proofs"
elif git diff --quiet "$BASE" -- "${GUARDED[@]}"; then
  echo "[crossproc] guarded surface unchanged since ${BASE:0:12} — proofs stand"
  exit 0
else
  echo "[crossproc] guarded surface changed since ${BASE:0:12}:"
  git diff --name-only "$BASE" -- "${GUARDED[@]}" | sed 's/^/  /'
fi

export SPARK_SCALA_VERSION=2.13
scripts/run.sh graft.tools.LocalClusterProof "LOCALCLUSTER_${TAG}.json"
scripts/run.sh graft.tools.ExecutorDeathProof "EXECDEATH_${TAG}.json"
scripts/run.sh graft.tools.ObjectStoreProof "OBJSTORE_${TAG}.json"
echo "[crossproc] all proofs green: LOCALCLUSTER_${TAG}.json EXECDEATH_${TAG}.json OBJSTORE_${TAG}.json"
