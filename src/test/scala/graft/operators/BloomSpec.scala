package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class BloomSpec extends SparkSpec {
  import spark.implicits._

  test("semiJoin == plain semi-join (nulls, dup fact rows, empty " +
      "key set) and the bloom builds as a scalar subquery, not a " +
      "separate driver job") {
    val big = Seq(
      ("a", 1), ("b", 2), ("c", 3), ("d", 4), (null, 5), ("e", 6),
      ("a", 7), ("zz", 8)).toDF("k", "v")
    val small = Seq("a", "c", "e", "nope").toDF("sk")
    val got = Bloom.semiJoin(big, small, "k", "sk")
      .orderBy("v").collect().map(r => (r.getString(0), r.getInt(1)))
    val expect = big.join(small, col("k") === col("sk"), "left_semi")
      .orderBy("v").collect().map(r => (r.getString(0), r.getInt(1)))
    assert(got.toSeq == expect.toSeq)
    // empty key set: no rows survive, no crash
    val none = Bloom.semiJoin(big,
      small.where(col("sk") === "absent"), "k", "sk").count()
    assert(none == 0L)
    // plan shape: the might_contain filter references a scalar subquery
    // (ONE action: build rides the probe's execution, no driver
    // round-trip between an index job and the probe job)
    val q = Bloom.semiJoin(big, small, "k", "sk")
    val planStr = q.queryExecution.executedPlan.toString
    assert(planStr.contains("might_contain") ||
      planStr.contains("BloomFilterMightContain"),
      s"expected a bloom membership test in the plan:\n$planStr")
    assert(planStr.contains("scalar-subquery") ||
      planStr.contains("Subquery"),
      s"expected the bloom build as a subquery:\n$planStr")
  }

  test("sort-merge plan shape: the bloom prefilter sits BELOW the fact " +
      "side's exchange (the semi-join sees pre-filtered input)") {
    // range sources, not local relations — Catalyst eagerly evaluates a
    // Filter over a LocalRelation and the prefilter would vanish from
    // the plan under test
    val big = spark.range(1, 5001).select(col("id").as("k"))
    val small = spark.range(1, 5001, 7).select(col("id").as("sk"))
    // walk the physical tree, not string offsets: an indexOf over the
    // explain text keys on print order, and a plan change that prints the
    // build side's exchange first would let the gate pass vacuously.
    // executedPlan carries EnsureRequirements' exchanges (sparkPlan is
    // pre-preparation and has none); unwrap AQE to its initial plan —
    // the shape Catalyst chose, which is what carries to a cluster.
    // Broadcast joins off: the key side is "too large to broadcast", the
    // 100 TB case, so Catalyst must plan a sort-merge semi-join
    val plan = withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      Bloom.semiJoin(big, small, "k", "sk")
        .queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive
              .AdaptiveSparkPlanExec => a.initialPlan
          case p => p
        }
    }
    val smj = plan.collectFirst {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.isDefined, s"expected a sort-merge join:\n$plan")
    assert(smj.get.joinType.sql == "LEFT SEMI", s"expected left semi:\n$plan")
    // the FACT side is the semi join's left child; its exchange must have
    // the bloom filter BENEATH it (prefiltered shuffle input)
    val factExch = smj.get.left.collectFirst {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(factExch.isDefined, s"expected the fact-side exchange:\n$plan")
    val bloomBelow = factExch.get.child.find(n => n.expressions.exists(
      _.find(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions
        .BloomFilterMightContain]).isDefined))
    assert(bloomBelow.isDefined,
      s"bloom filter must sit below the fact exchange (prefilter):\n$plan")
  }
}
