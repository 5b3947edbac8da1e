package graft.sources

import java.io.{File, FileOutputStream}
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipFile, ZipOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

import graft.SparkSpec
import graft.etl.OdsImport

class ZipCsvSpec extends SparkSpec {
  import spark.implicits._

  private def writeZip(dir: File, name: String,
      entries: (String, String)*): Unit = {
    val zos = new ZipOutputStream(new FileOutputStream(new File(dir, name)))
    entries.foreach { case (member, content) =>
      zos.putNextEntry(new ZipEntry(member))
      zos.write(content.getBytes("UTF-8"))
    }
    zos.close()
  }

  private def makeZip(member: String, content: String): String = {
    val dir = Files.createTempDirectory("zipcsv").toFile
    writeZip(dir, "epraccur.zip", "readme.txt" -> "ignore me",
      member -> content)
    new File(dir, "epraccur.zip").getAbsolutePath
  }

  /** The independent oracle: every `.csv` member of the archive at `path`
    * (or of every archive in the directory `path`) written out as a plain
    * file, then read by Spark's own CSV reader with `escape='"'` — RFC4180
    * doubled-quote escaping, the reference's pandas parse.
    */
  private def sparkCsv(path: String, schema: StructType): DataFrame = {
    val out = Files.createTempDirectory("zipcsv-oracle")
    val src = new File(path)
    val zips = if (src.isDirectory) src.listFiles().toSeq else Seq(src)
    zips.filter(_.getName.endsWith(".zip")).foreach { z =>
      val zf = new ZipFile(z)
      try zf.entries().asScala.filter(_.getName.endsWith(".csv")).foreach {
        e => Files.copy(zf.getInputStream(e),
          out.resolve(s"${z.getName}-${e.getName}"))
      } finally zf.close()
    }
    spark.read.schema(schema).option("header", "false")
      .option("escape", "\"").csv(out.toString)
  }

  private def rows(df: DataFrame): Seq[(Option[String], Option[String],
      Option[String])] =
    df.as[(Option[String], Option[String], Option[String])]
      .collect().sortBy(_._1).toSeq

  test("S1: unzips the csv member in executors and applies the schema") {
    val csv = (Seq.fill(24)("") match { case pad =>
      Seq(
        ("B86030" +: "THE SURGERY" +: "Y56" +: pad).take(26).mkString(","),
        ("C55555" +: "OTHER" +: "" +: pad).take(26).mkString(","))
    }).mkString("\n")
    val path = makeZip("epraccur.csv", csv)
    val df = ZipCsv.read(spark, path, OdsImport.epraccurSchema)
    assert(df.count() == 2)
    val got = df.select("ODS", "Organisation_Name", "NationalGrouping")
      .as[(String, String, Option[String])].collect().sortBy(_._1)
    assert(got(0) == (("B86030", "THE SURGERY", Some("Y56"))))
    assert(got(1)._1 == "C55555")
  }

  test("S1: non-matching members are skipped") {
    val path = makeZip("data.bin", "garbage,bytes")
    val df = ZipCsv.read(spark, path, OdsImport.epraccurSchema)
    assert(df.count() == 0)
  }

  // ---- the DSv2 connector (spark.read.format("zipcsv")) ----

  /** A directory of two archives with quoted/escaped/empty fields and a
    * skipped non-csv member — the DSv2 rows must match Spark's CSV reader
    * on the same member bytes, field for field.
    */
  private def makeZipDir(): String = {
    val dir = Files.createTempDirectory("zipcsv-v2").toFile
    writeZip(dir, "a.zip",
      "skip.bin" -> "not,csv",
      "a.csv" -> Seq(
        "A1,\"Name, with comma\",x",
        "A2,\"He said \"\"hi\"\"\",", // escaped quotes + trailing empty
        "A3,,plain").mkString("\n"))
    writeZip(dir, "b.zip", "b.csv" -> "B1,second archive,y")
    dir.getAbsolutePath
  }

  private val v2Schema = StructType(Seq(StructField("k", StringType),
    StructField("name", StringType), StructField("v", StringType)))

  test("DSv2 zipcsv: short-name registration, one partition per archive, " +
      "rows identical to Spark's CSV reader on quoted/escaped/empty " +
      "fields and CRLF line ends") {
    val dir = makeZipDir()
    // CRLF line ends; a doubled quote around an embedded comma
    writeZip(new File(dir), "c.zip", "c.csv" -> Seq(
      "C1,\"say \"\"a, b\"\"\",z",
      "C2,\"x,y\",").mkString("", "\r\n", "\r\n"))
    val v2 = spark.read.format("zipcsv").schema(v2Schema).load(dir)
    assert(v2.rdd.getNumPartitions == 3) // one task per archive
    val a = rows(v2)
    val b = rows(sparkCsv(dir, v2Schema))
    assert(a == b, s"zipcsv $a vs Spark CSV $b")
    assert(rows(ZipCsv.read(spark, dir + "/*", v2Schema)) == b)
    assert(a.map(_._1.get) == Seq("A1", "A2", "A3", "B1", "C1", "C2"))
    assert(a(0)._2.contains("Name, with comma"))
    assert(a(1)._2.contains("He said \"hi\""))
    assert(a(2)._2.isEmpty) // unquoted empty -> NULL
    assert(a(4) == ((Some("C1"), Some("say \"a, b\""), Some("z"))))
    assert(a(5) == ((Some("C2"), Some("x,y"), None))) // no stray CR
  }

  test("DSv2 zipcsv: column pruning reaches the reader's positional split") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val dir = makeZipDir()
    val df = spark.read.format("zipcsv").schema(v2Schema).load(dir)
      .select("v").limit(2)
    val scan = df.queryExecution.executedPlan
      .collect { case b: BatchScanExec => b }.head
      .scan.asInstanceOf[ZipCsvScan]
    assert(scan.readSchema().fieldNames.toSeq == Seq("v"),
      s"expected pruned read schema, got ${scan.readSchema()}")
    assert(df.as[String].collect().length == 2)
    // pruning is positional: reading only column k (position 0) must
    // never touch the malformed tail of a line — split stops at field 1
    val kOnly = spark.read.format("zipcsv").schema(v2Schema).load(dir)
      .select("k")
    assert(kOnly.as[String].collect().sorted.toSeq ==
      Seq("A1", "A2", "A3", "B1"))
  }

  test("DSv2 zipcsv: glob path (dir/*.zip) resolves at planning time, " +
      "same rows as the v1 glob read") {
    val dir = makeZipDir()
    val v2 = spark.read.format("zipcsv").schema(v2Schema)
      .load(dir + "/*.zip")
    assert(rows(v2) == rows(sparkCsv(dir, v2Schema)))
    assert(v2.count() == 4)
  }

  test("DSv2 zipcsv: blank interior lines and quoted-empty fields match " +
      "the v1 path (blank skipped, quoted-empty null like unquoted)") {
    val dir = Files.createTempDirectory("zipcsv-blank").toFile
    writeZip(dir, "x.zip", "x.csv" -> Seq(
      "A1,\"\",x", // quoted empty -> NULL (nullValue="" post-unquote)
      "",          // blank line -> skipped entirely, not an all-null row
      "A2,b,y").mkString("\n"))
    val p = dir.getAbsolutePath
    val a = rows(spark.read.format("zipcsv").schema(v2Schema).load(p))
    val b = rows(sparkCsv(p, v2Schema))
    assert(a == b, s"zipcsv $a vs Spark CSV $b")
    assert(a.size == 2) // the blank line yields NO row on either path
    assert(a(0)._2.isEmpty) // quoted empty -> NULL, both paths
  }

  test("DSv2 zipcsv: a missing schema or a non-string column fails at " +
      "planning") {
    val dir = makeZipDir()
    val noSchema = intercept[IllegalArgumentException](
      spark.read.format("zipcsv").load(dir))
    assert(noSchema.getMessage.contains("zipcsv"), noSchema.getMessage)
    val intSchema = v2Schema.add(StructField("n", IntegerType))
    val nonString = intercept[IllegalArgumentException](
      ZipCsv.read(spark, dir, intSchema))
    assert(nonString.getMessage.contains("zipcsv: column n is int"),
      nonString.getMessage)
  }

  test("DSv2 zipcsv: ODS epraccur end to end through the positional " +
      "schema, same result as the v1 source") {
    val pad = Seq.fill(24)("")
    val csv = Seq(
      ("B86030" +: "THE SURGERY" +: "Y56" +: pad).take(26).mkString(","),
      ("C55555" +: "OTHER" +: "" +: pad).take(26).mkString(",")).mkString("\n")
    val path = makeZip("epraccur.csv", csv)
    val df = spark.read.format("zipcsv")
      .schema(OdsImport.epraccurSchema).load(path)
    val got = df.select("ODS", "Organisation_Name", "NationalGrouping")
      .as[(String, String, Option[String])].collect().sortBy(_._1)
    assert(got(0) == (("B86030", "THE SURGERY", Some("Y56"))))
    assert(got(1) == (("C55555", "OTHER", None)))
    assert(df.collect().sortBy(_.getString(0)).toSeq ==
      sparkCsv(path, OdsImport.epraccurSchema).collect()
        .sortBy(_.getString(0)).toSeq)
  }
}
