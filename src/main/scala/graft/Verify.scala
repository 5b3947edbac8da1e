package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    */
  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Dump each query's result to `outDir/<name>` parquet. Failures must be
    * LOUD in the artifact, not just stderr: a thrown query gets (a) a row
    * in the returned error map → `<out>/errors.json` and (b) an
    * `_ERROR.txt` marker inside its (scrubbed, parquet-less) out dir, so
    * any downstream compare that iterates result dirs sees an explicit
    * error instead of the query silently vanishing from the correctness
    * report (round-5 postmortem: 9 failures shipped invisible).
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)])
      : Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg.linesIterator.take(3).mkString(" | ").take(500)
        val dir = new java.io.File(s"$outDir/$name")
        // scrub any partial parquet output so the marker is unambiguous
        if (dir.isDirectory) dir.listFiles().foreach(_.delete())
        dir.mkdirs()
        Files.writeString(Paths.get(s"$outDir/$name/_ERROR.txt"), msg)
      }
    }
    val errJson = errors
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(
        s"[verify] ${errors.size} FAILED: ${errors.keys.mkString(", ")}")
    errors.toMap
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (local iteration
    // on one query without the 100-query wall; the driver passes 2 args)
    val only = args.lift(2).map(_.split(',').toSet)
    def keep(name: String): Boolean = only.forall(_.contains(name))
    val spark = graft.core.Graft.session("graft-verify")
    dump(spark, sfDir, outDir,
      SparkEntry.queries.toSeq.filter(q => keep(q._1)))
    val json = SparkEntry.oracleSql
      .filter(q => keep(q._1))
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
