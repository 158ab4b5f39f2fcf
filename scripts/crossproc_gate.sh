#!/bin/bash
# Cross-process proof gate (r18 verdict #5): the LocalClusterProof /
# ExecutorDeathProof / ObjectStoreProof artifacts are deliberately outside
# `sbt test` (multi-JVM launch cost, port sensitivity), but nothing used
# to re-run them when the surfaces they guard moved. This script is the
# RocksDB-refresh-style discipline: whenever the commit protocol, the
# direct parquet sink, the PBF blob catalog and scan (whose catalog job
# runs on executors while a pruned scan is planned), or the replay harness
# changes relative to the last proof commit, re-drive all three proofs and
# write fresh round artifacts.
#
# Usage: scripts/crossproc_gate.sh [roundTag] [baseRef]
#   roundTag  suffix for the artifacts (default: rX), written to
#             artifacts/crossproc/
#   baseRef   git ref to diff against (default: the commit that last
#             touched a LOCALCLUSTER_*.json artifact, there or at the
#             repository root, where earlier rounds wrote them)
#
# Exit 0 with no runs when the guarded surface is unchanged; exit non-zero
# if any proof fails. Record the outcome in COVERAGE.md each round.
set -euo pipefail
cd "$(dirname "$0")/.."

GUARDED=(
  src/main/scala/graft/sources/pbf/OsmPbf.scala
  src/main/scala/graft/sources/pbf/DirectParquet.scala
  src/main/scala/graft/sources/pbf/IndexedPbf.scala
  src/main/scala/graft/sources/pbf/OsmPbfDataSource.scala
  src/main/scala/graft/streaming/StreamReplay.scala
  src/main/scala/graft/tools/LocalClusterProof.scala
  src/main/scala/graft/tools/ExecutorDeathProof.scala
  src/main/scala/graft/tools/ObjectStoreProof.scala
  src/main/scala/graft/tools/HostileObjectStoreFs.scala
)

TAG=${1:-rX}
OUT=artifacts/crossproc
BASE=${2:-$(git log -n1 --format=%H -- "$OUT/LOCALCLUSTER_*.json" 'LOCALCLUSTER_*.json')}

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
mkdir -p "$OUT"
scripts/run.sh graft.tools.LocalClusterProof "$OUT/LOCALCLUSTER_${TAG}.json"
scripts/run.sh graft.tools.ExecutorDeathProof "$OUT/EXECDEATH_${TAG}.json"
scripts/run.sh graft.tools.ObjectStoreProof "$OUT/OBJSTORE_${TAG}.json"
echo "[crossproc] all proofs green: $OUT/{LOCALCLUSTER,EXECDEATH,OBJSTORE}_${TAG}.json"
