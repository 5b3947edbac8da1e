package graft

/** Plan-iteration utility: execute one or more declared queries and print
  * row count + wall time — the companion to [[Explain]] for checking
  * intermediate-result volumes while tuning a plan.
  *
  * Usage: scripts/run_main.sh graft.RunQuery <sf_dir> <query>[,query…]
  */
object RunQuery {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: RunQuery <sf_dir> <q1>[,q2…]")
    val spark = graft.core.Graft.session("graft-runquery")
    args(1).split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, args(0)).count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"$name%-24s $n%12d rows  $dt%8.2f s")
    }
    spark.stop()
  }
}
