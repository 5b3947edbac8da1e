#!/usr/bin/env bash
# Spark version-bump preflight.
#
# These seams reach into PRIVATE Spark internals (`org.apache.spark.sql.
# classic`, package-private planner nodes) and are the first things a jar
# upgrade breaks — re-prove them BEFORE trusting anything else on a new
# Spark:
#
#   1. org/apache/spark/sql/graftbridge/CheckpointBridge.scala
#      (classic.Dataset cast + LogicalRDD partitioning/ordering rebuild)
#      -> gated by graft.core.CheckpointBridgeSpec
#   2. org/apache/spark/sql/graftbridge/ExprBridge.scala
#      (classic.ExpressionUtils + the internal CollectTopK aggregate)
#      -> gated by graft.operators.TopKSpec (TopK.perGroup consumes it)
#   3. PlanShapeSpec re-checks the physical-plan invariants (pushdown,
#      broadcast, exchange counts) that a new optimizer can silently
#      change without breaking results.
#   4. graft/sources/ZipCsvTable.scala, the pipeline's only zip reader,
#      implements the DSv2 read interfaces and column pruning
#      (SupportsPushDownRequiredColumns) -> gated by graft.sources.ZipCsvSpec,
#      which also pins its rows against Spark's own CSV reader.
#   5. graft/operators/Bloom.scala constructs the internal
#      BloomFilterAggregate and BloomFilterMightContain directly (q97,
#      q143) -> gated by graft.operators.BloomSpec.
#
# All five fail LOUDLY on an incompatible Spark (cast/linkage errors or
# assertion failures), never silently degrade. After these pass, run the
# full `sbt test` + the Verify/check_oracle loop per CLAUDE.md.
set -euo pipefail
cd "$(dirname "$0")/.."
exec sbt -batch "testOnly graft.core.CheckpointBridgeSpec graft.operators.TopKSpec graft.queries.PlanShapeSpec graft.sources.ZipCsvSpec graft.operators.BloomSpec"
