package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Times each fused expression's public builder on a cached sf0.1 input,
  * sinking to `noop`: the cost of the expression alone, apart from the
  * queries that call it. Runs in every traced run. The fixture ships each
  * table as one row group, so the inputs are split into `cpus` partitions
  * before caching, as `Layout.benchLayout` splits the tables the queries
  * read.
  */
object Functions {
  val Dims = 64
  val M = 8

  def run(spark: SparkSession, a: Args, tracer: Tracer, out: Outcome): Unit = {
    val sf01 = java.nio.file.Paths.get(a.sfDir).getParent.resolve("sf0.1")
    val dir = if (java.nio.file.Files.isDirectory(sf01)) sf01.toString
      else a.sfDir
    def cached(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); c }
    val docs = cached(Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).repartition(a.cpus))
    val emb = cached(Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding")).repartition(a.cpus))
    // 8x8 luma-like thumbs from the text's code points
    val thumbs = cached(docs.select(col("doc_id"), expr(
      "transform(sequence(1, 64), i -> ascii(substr(rpad(coalesce(text, ''), " +
        "64, ' '), i, 1)) % 256)").as("thumb")))
    val codebook = cached(Similarity.pqCodebook(emb, Dims, M, codes = 16))
    val codes = cached(Similarity.pqEncode(emb, codebook, Dims, M))
    val query = cached(emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv")))
    val centroids = cached(emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cv")))

    val cases: Seq[(String, () => DataFrame)] = Seq(
      "shingle_hashes" -> (() => Dedup.hashedShingles(docs, col("doc_id"),
        col("text"))),
      "char_shingles" -> (() => docs.select(
        TextAnalysis.charShingles(col("text")))),
      "ngrams" -> (() => docs.select(
        TextAnalysis.ngrams(TextAnalysis.tokens(col("text")), 3))),
      "simhash" -> (() => Dedup.simhash(docs, col("doc_id"), col("text"))),
      "minhash_signatures" -> (() => Dedup.minhashSignatures(docs,
        col("doc_id"), col("text"))),
      "ahash64" -> (() => thumbs.select(Multimodal.aHash(col("thumb")))),
      "int8_quantize" -> (() => Similarity.int8Quantize(emb)),
      "quantize" -> (() => emb.select(Similarity.quantize(
        col("embedding").cast("array<double>")))),
      "adc_score" -> (() => Similarity.pqSearch(codes, codebook, query,
        Dims, M, k = 10)),
      "pq_encode" -> (() => Similarity.pqEncode(emb, codebook, Dims, M)),
      "ivf_argmax" -> (() => Similarity.ivfAssign(emb, centroids)))

    val reps = 5
    cases.foreach { case (name, df) =>
      val times = (0 until reps).map { _ =>
        val t0 = Stats.now
        tracer.op(s"functions.$name") {
          df().write.format("noop").mode("overwrite").save()
        }
        Stats.secs(t0)
      }
      // the first repetition compiles; the rest are the steady cost
      out.layers(s"functions.$name.s", "s") = Stats.median(times.drop(1))
    }
    Seq(docs, emb, thumbs, codebook, codes, query, centroids)
      .foreach(_.unpersist(blocking = true))
  }
}
