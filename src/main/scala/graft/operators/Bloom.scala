package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ExprBridge

/** Bloom-filter semi-join prefilter — the 100 TB pattern for "probe a fact
  * table against a key set too large to broadcast as a hash relation but
  * whose *bit signature* fits in memory".
  *
  * The filter is Spark's own: `BloomFilterAggregate` builds it over the
  * key side inside a SCALAR SUBQUERY, and `BloomFilterMightContain` tests
  * the fact side's keys with it BEFORE the fact side's exchange. Build,
  * probe and exact join therefore plan and execute as ONE action, with no
  * driver round trip between an index-build job and the probe job. Rows
  * that fail the bloom test can never join; rows that pass are re-checked
  * by the exact semi-join, so the RESULT is the plain semi-join's (which
  * is exactly what the q97 oracle certifies) while the shuffle volume of
  * the big side drops by the key set's selectivity. When the key side is
  * past the broadcast threshold, Catalyst plans a sort-merge semi-join
  * and the prefilter sits below the fact side's exchange (`BloomSpec`
  * gates that placement).
  *
  * Reference anchor: the reference's ODS merge probes an import batch
  * against the national organization table (dags/ODSImport.py:140-155) —
  * at 100 TB that probe is this operator.
  */
object Bloom {

  /** Hard cap on the filter size: 2^26 bits = 8 MB in the subquery result.
    */
  private val maxBits: Int = 1 << 26

  /** ~10 bits per key: Spark derives its hash count from the bits per
    * expected item, which gives a ~1% false-positive rate at this size.
    */
  private val bitsPerKey = 10

  /** Exact semi-join with a bloom prefilter on the big side: identical
    * result to `big.join(small, bigKey === smallKey, "left_semi")`. The
    * subquery runs once per action (SubqueryExec) and its sketch flows to
    * the filter as a scalar.
    *
    * Sizing is static — `estKeys` keys at [[bitsPerKey]] bits each,
    * capped at [[maxBits]] — because a sizing job would reintroduce the
    * round trip this form exists to avoid; an undersized estimate only
    * raises the false-positive rate (more exact-join work), never
    * correctness.
    */
  def semiJoin(big: DataFrame, small: DataFrame, bigKey: String,
      smallKey: String, estKeys: Long = 1L << 20): DataFrame = {
    val numBits = math.min(maxBits.toLong, estKeys * bitsPerKey)
    val bf = small
      .agg(ExprBridge.column(new BloomFilterAggregate(
          ExprBridge.expr(xxhash64(col(smallKey))),
          Literal(estKeys), Literal(numBits))
        .toAggregateExpression()).as("bf"))
      .scalar()
    val test = ExprBridge.column(BloomFilterMightContain(
      ExprBridge.expr(bf), ExprBridge.expr(xxhash64(col(bigKey)))))
    big.where(test)
      .join(small, col(bigKey) === col(smallKey), "left_semi")
  }
}
