package graft

import org.apache.spark.sql.execution.FormattedMode

/** Diagnostic main: print the formatted physical plan of named manifest
  * queries (all of them with no names) without executing them — the
  * plan-shape review loop (`PushedFilters`, `ReadSchema`, broadcast vs
  * shuffle, WholeStageCodegen spans) without editing code. Names may be
  * separated by spaces, commas or both.
  *
  * Usage: scripts/run_main.sh graft.Explain [sfDir] [query[,query…] …]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val (dir, rest) = args.toSeq match {
      case d +: rest if d.startsWith("/") => (d, rest)
      case rest =>
        ("/root/testdata/sf0.001",
          rest)
    }
    val named = rest.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val names =
      if (named.nonEmpty) named else SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.core.Graft.session("graft-explain")
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      println(SparkEntry.queries(n)(spark, dir)
        .queryExecution.explainString(FormattedMode))
    }
    spark.stop()
  }
}
