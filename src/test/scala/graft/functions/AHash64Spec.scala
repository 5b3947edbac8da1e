package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Multimodal

/** Property gate for the fused aHash loop: row-identical to the composed
  * aggregate/transform/pack-fold chain on random thumbs, NULL arrays,
  * NULL elements (composed null-propagation → hash 0), empty arrays,
  * and off-size (not-64) arrays.
  */
class AHash64Spec extends SparkSpec {
  import spark.implicits._

  test("fused aHash == composed HOF chain on hostile thumbs") {
    val rng = new scala.util.Random(53L)
    val rows: Seq[Option[Seq[Option[Long]]]] = (1 to 400).map { _ =>
      val n = Seq(64, 64, 64, 0, 1, 32, 63, 65, 80)(rng.nextInt(9))
      Some((0 until n).map(_ =>
        if (rng.nextInt(40) == 0) Option.empty[Long]
        else Some(rng.nextInt(1114112).toLong)))
    } ++ Seq(None, Some(Seq.empty[Option[Long]]),
      Some(Seq(Some(0L))), Some((0 until 64).map(_ => Some(7L))))
    val df = rows.toDF("thumb").localCheckpoint(true)
    def mismatches(thumbs: org.apache.spark.sql.DataFrame): Long =
      thumbs.select(
          Multimodal.aHash(col("thumb")).as("fused"),
          Multimodal.aHashComposed(col("thumb")).as("composed"))
        .where(!(col("fused") <=> col("composed")))
        .count()
    assert(mismatches(df) == 0L, "array<bigint> flavor diverged")
    // q134's decoder yields array<int> thumbs: the fused int branch
    val dfi = df.select(col("thumb").cast("array<int>").as("thumb"))
      .localCheckpoint(true)
    assert(mismatches(dfi) == 0L, "array<int> flavor diverged")
  }
}
