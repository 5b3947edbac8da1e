package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Similarity

/** Property gates for the r13 vector-path fusions: int8 quantization and
  * the ADC lookup-sum must be ROW-IDENTICAL to the composed HOF chains
  * they replace, on hostile shapes — NaN/±Infinity elements (Spark's
  * NaN-as-largest ordering in least/greatest and array_max), NULL
  * vectors/elements, zero and empty vectors, shortest-decimal HALF_UP
  * rounding edges, and NULL/mismatched-length code/LUT arrays.
  */
class VectorFusionSpec extends SparkSpec {
  import spark.implicits._

  test("int8Quantize fused == composed on hostile vectors") {
    val rng = new scala.util.Random(61L)
    val rows: Seq[Option[Seq[Option[Double]]]] = (1 to 600).map { _ =>
      val n = rng.nextInt(12)
      Some((0 until n).map { _ =>
        rng.nextInt(12) match {
          case 0 => Option.empty[Double]
          case 1 => Some(Double.NaN)
          case 2 => Some(Double.PositiveInfinity)
          case 3 => Some(Double.NegativeInfinity)
          case 4 => Some(0.0)
          case 5 => Some(-0.0)
          // .5-boundary quotients probe the HALF_UP edge
          case 6 => Some((rng.nextInt(255) - 127) / 2.0)
          case _ => Some((rng.nextDouble() - 0.5) * 200.0)
        }
      })
    } ++ Seq(None, Some(Seq.empty[Option[Double]]),
      Some(Seq(Option.empty[Double])), Some(Seq(Some(0.0), Some(-0.0))))
    val df = rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding").localCheckpoint(true)
    val fused = Similarity.int8Quantize(df)
    val composed = Similarity.int8QuantizeComposed(df)
    val joined = fused.as("f").join(composed.as("c"), Seq("vec_id"))
      .where(!(col("f.qscale") <=> col("c.qscale")) ||
        !(col("f.qvec") <=> col("c.qvec")))
    assert(joined.count() == 0L)
  }

  test("quantize fused == composed on hostile vectors (incl. NaN/Inf " +
      "saturation of Spark's double->long floor) — double and float") {
    val rng = new scala.util.Random(71L)
    val rows: Seq[Option[Seq[Option[Double]]]] = (1 to 500).map { _ =>
      val n = rng.nextInt(10)
      Some((0 until n).map { _ =>
        rng.nextInt(10) match {
          case 0 => Option.empty[Double]
          case 1 => Some(Double.NaN)
          case 2 => Some(Double.PositiveInfinity)
          case 3 => Some(Double.NegativeInfinity)
          case 4 => Some(1e300)
          case _ => Some((rng.nextDouble() - 0.5) * 4.0)
        }
      })
    } ++ Seq(None, Some(Seq.empty[Option[Double]]))
    val df = rows.toDF("v").localCheckpoint(true)
    val badD = df.select(Similarity.quantize(col("v")).as("f"),
        Similarity.quantizeComposed(col("v")).as("c"))
      .where(!(col("f") <=> col("c"))).count()
    assert(badD == 0L, "double flavor diverged")
    val dff = df.select(col("v").cast("array<float>").as("v"))
      .localCheckpoint(true)
    val badF = dff.select(Similarity.quantize(col("v")).as("f"),
        Similarity.quantizeComposed(col("v")).as("c"))
      .where(!(col("f") <=> col("c"))).count()
    assert(badF == 0L, "float flavor diverged")
  }

  test("adc score fused == composed on hostile code/LUT arrays") {
    val rng = new scala.util.Random(67L)
    val m = 8
    val rows: Seq[(Long, Option[Seq[Option[Long]]],
        Option[Seq[Option[Seq[Option[Double]]]]])] =
      (1 to 400).map { i =>
        val codes =
          if (rng.nextInt(20) == 0) Option.empty[Seq[Option[Long]]]
          else Some((0 until m).map(_ =>
            if (rng.nextInt(25) == 0) Option.empty[Long]
            else Some(rng.nextInt(16).toLong)))
        val lutLen = if (rng.nextInt(20) == 0) m - 1 else m
        val lut =
          if (rng.nextInt(20) == 0)
            Option.empty[Seq[Option[Seq[Option[Double]]]]]
          else Some((0 until lutLen).map { _ =>
            if (rng.nextInt(25) == 0) Option.empty[Seq[Option[Double]]]
            else Some((0 until 16).map(_ =>
              if (rng.nextInt(50) == 0) Option.empty[Double]
              else Some(rng.nextDouble() * 10 - 5)))
          })
        (i.toLong, codes, lut)
      }
    val df = rows.toDF("id", "codes", "lut").localCheckpoint(true)
    import org.apache.spark.sql.graftbridge.ExprBridge
    val fused = ExprBridge.column(graft.functions.AdcScoreExpr(
      ExprBridge.expr(col("codes")), ExprBridge.expr(col("lut"))))
    val bad = df.select(fused.as("f"),
        Similarity.adcScoreComposed(col("codes"), col("lut")).as("c"))
      .where(!(col("f") <=> col("c")))
      .count()
    assert(bad == 0L)
  }

  test("adc score throws on a negative or overflowing code, under codegen " +
      "and interpreted eval") {
    import org.apache.spark.sql.graftbridge.ExprBridge
    val lut = Seq(Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))
    // 2^32 + 1 truncates to the valid index 1; -2 is a from-the-end index
    // to element_at
    val bad = Seq(Seq(0L, -2L), Seq((1L << 32) + 1, 0L))
    def score(codes: Seq[Long]): Unit = {
      val df = Seq((codes, lut)).toDF("codes", "lut").localCheckpoint(true)
      df.select(ExprBridge.column(graft.functions.AdcScoreExpr(
        ExprBridge.expr(col("codes")), ExprBridge.expr(col("lut")))))
        .collect()
    }
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => String.valueOf(e.getMessage)).mkString(" | ")
    val modes = Seq(
      "codegen" -> Seq.empty[(String, String)],
      "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    for ((mode, conf) <- modes; codes <- bad) withConf(conf: _*) {
      val e = intercept[Exception](score(codes))
      assert(messages(e).contains("out of range"), s"$mode $codes")
    }
    withConf(modes(1)._2: _*)(score(Seq(2L, 0L))) // in range: no throw
  }

  test("pq_encode reads each row's own codebook when the scan reuses " +
      "its row buffer (a cached frame)") {
    import org.apache.spark.sql.graftbridge.ExprBridge
    // one subspace, two codes; odd ids swap which code_id owns (1, 0),
    // so the code nearest to the vector (1, 0) alternates 0, 1, 0, 1, …
    def code(id: org.apache.spark.sql.Column, x: Double, y: Double) =
      struct(id.as("code_id"), array(lit(x), lit(y)).as("sv"),
        lit(1.0).as("c2"))
    val df = spark.range(8).select(col("id"),
      array(lit(1.0), lit(0.0)).as("v"),
      array(struct(lit(0L).as("sub_id"), array(
        code(col("id") % 2, 1.0, 0.0),
        code(lit(1L) - col("id") % 2, 0.0, 1.0)).as("codes"))).as("cb"))
    def encode(in: org.apache.spark.sql.DataFrame): Seq[Long] =
      in.select(col("id"), ExprBridge.column(PqEncodeExpr(
          ExprBridge.expr(col("v")), ExprBridge.expr(col("cb")), 1, 6))
          .as("codes"))
        .orderBy("id").collect().map(_.getSeq[Long](1).head).toSeq
    val want = Seq(0L, 1L, 0L, 1L, 0L, 1L, 0L, 1L)
    assert(encode(df) == want)
    val cached = df.cache()
    try assert(encode(cached) == want)
    finally cached.unpersist(blocking = true)
  }
}
