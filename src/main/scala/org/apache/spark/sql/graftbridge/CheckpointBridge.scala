package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioningLike
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.storage.StorageLevel

/** Partitioning-preserving local checkpoint.
  *
  * `Dataset.localCheckpoint` in this Spark build wraps the materialized
  * RDD in a `LogicalRDD` WITHOUT an output partitioning (measured: a
  * groupBy over a checkpointed `repartition(n, key)` re-shuffles), so a
  * relation that several key-clustered consumers share pays its exchange
  * once per consumer unless ReuseExchange happens to cover the subtree —
  * and ReuseExchange can't cover it when Catalyst pushes consumer
  * filters below the repartition, specializing each copy (the q122
  * funnel shape), nor when consumers sit above a window (the q113
  * shape). A cache() barrier doesn't work either: under AQE the cached
  * plan is its own AdaptiveSparkPlan, so InMemoryTableScan reports
  * unknown partitioning and every consumer re-shuffles (also measured).
  *
  * [[checkpointPartitioned]] re-does what `Dataset.localCheckpoint`
  * does — materialize the physical RDD, pin it in block storage — but
  * constructs the `LogicalRDD` with the hash partitioning AND the
  * partition-local ordering THE EXECUTED PLAN ITSELF REPORTS, so every
  * downstream operator that needs only that clustering (groupBy on the
  * keys, equi-join on the keys, distinct on a key superset) plans
  * exchange-free, and a sort-merge join on a prefix of the captured
  * ordering skips its sort too.
  *
  * Safety: the declared layout is read from the FINAL adaptive physical
  * plan AFTER materialization — Spark's own description of the blocks
  * just produced — never asserted by the caller. If the final plan
  * reports anything other than a concrete `HashPartitioning` over
  * output attributes (e.g. AQE skew-split or coalesce reported as
  * unknown), the helper fails loudly rather than declaring a layout the
  * blocks don't have. In practice: end the plan in an explicit-count
  * `repartition(n, keys…)` (AQE never re-plans user-specified counts)
  * or any ENSURE_REQUIREMENTS exchange whose read AQE left whole.
  */
object CheckpointBridge {

  /** Materialize `df` to local block storage (memory, spill to disk) and
    * return a DataFrame whose relation advertises the hash partitioning
    * and partition-local ordering the executed plan reports.
    */
  def checkpointPartitioned(
      df0: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    checkpointCore(df0, requirePartitioning = true)

  /** [[checkpointPartitioned]] minus the partitioning guarantee: when the
    * executed plan's layout can't be re-expressed over the analyzed
    * output (optimizer-rewritten attributes), fall back to UNKNOWN
    * partitioning instead of throwing — the materialization, lineage
    * truncation and SIZE STATS still carry. For consumers that only need
    * the stats (so joins on OTHER keys can broadcast in the initial
    * plan), not the clustering.
    */
  def checkpointWithStats(
      df0: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    checkpointCore(df0, requirePartitioning = false)

  private def checkpointCore(df0: org.apache.spark.sql.DataFrame,
      requirePartitioning: Boolean): org.apache.spark.sql.DataFrame = {
    val df = df0.asInstanceOf[Dataset[org.apache.spark.sql.Row]]
    val spark = df.sparkSession
    val qe = df.queryExecution
    val rdd = qe.toRdd.map(_.copy())
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    val rowCount = rdd.count() // materialize eagerly, like localCheckpoint(true)
    // AQE has finalized by now: read the layout the blocks actually have
    val finalPlan = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val output: Seq[Attribute] = qe.analyzed.output
    val outIds = output.map(_.exprId).toSet
    // HashPartitioningLike covers both the plain case and AQE's
    // CoalescedHashPartitioning (a coalesced read over a hash shuffle —
    // still clusters every key, just into merged partitions)
    val part = finalPlan.outputPartitioning match {
      case h: HashPartitioningLike
          if h.references.forall(a => outIds.contains(a.exprId)) => h
      case other if requirePartitioning =>
        throw new IllegalArgumentException(
          "checkpointPartitioned: executed plan must report a hash " +
            s"partitioning over output attributes, got $other — end " +
            "the plan in repartition(n, keys…)")
      case _ => org.apache.spark.sql.catalyst.plans.physical
        .UnknownPartitioning(rdd.getNumPartitions)
    }
    // partition-local ordering is free to carry when present (lets a
    // downstream SMJ on an ordering prefix skip its sort); like the
    // partitioning it must only reference output attributes
    val ordering: Seq[SortOrder] = finalPlan.outputOrdering
      .takeWhile(_.references.forall(a => outIds.contains(a.exprId)))
    // report the MATERIALIZED size as the relation's stats: a bare
    // LogicalRDD falls back to defaultSizeInBytes (effectively infinite),
    // so everything derived from a checkpoint lost auto-broadcast in the
    // initial plan — q115's per-doc size relation planned a sort-merge
    // join that re-shuffled the checkpoint by doc_id until AQE's runtime
    // stats undid it (measured). Block sizes come from the storage info
    // of the rdd just persisted — Spark's own accounting, not a guess;
    // if the blocks aren't visible (all-disk eviction race), fall back
    // to declaring nothing rather than a wrong size.
    val stats = spark.sparkContext.getRDDStorageInfo
      .find(_.id == rdd.id)
      .map(i => math.max(i.memSize + i.diskSize, 1L))
      .map(bytes => org.apache.spark.sql.catalyst.plans.logical.Statistics(
        sizeInBytes = BigInt(bytes), rowCount = Some(BigInt(rowCount))))
    val plan =
      LogicalRDD(output, rdd, part, ordering, isStreaming = false)(
        spark, originStats = stats)
    Dataset.ofRows(spark, plan)
  }
}
