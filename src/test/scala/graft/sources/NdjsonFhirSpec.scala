package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.TaskPoller

class NdjsonFhirSpec extends SparkSpec {
  import spark.implicits._

  private def writeNdjson(lines: Seq[String]): String = {
    val f = Files.createTempFile("graft-ndjson", ".ndjson")
    Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
    f.toString
  }

  private val tasks = Seq(
    """{"resourceType":"Task","id":"t1","status":"accepted","authoredOn":"2025-07-02T10:00:00+00:00","meta":{"versionId":"3"}}""",
    """{"resourceType":"Task","id":"t2","status":"accepted","authoredOn":"2025-07-03T10:00:00+00:00","meta":{"versionId":"2"}}""",
    """{"resourceType":"Task","id":"t3","status":"completed","authoredOn":"2025-07-04T10:00:00+00:00","meta":{"versionId":"1"}}""",
    """{"resourceType":"Task","id":"t4","status":"accepted","authoredOn":"2025-07-05T10:00:00+00:00","meta":{"versionId":"1044"}}""",
    """not json at all""",
    """{"resourceType":"Task","id":"t5","status":"accepted","authoredOn":"2025-07-06T10:00:00+00:00","meta":{"versionId":"oops"}}""")

  test("dual projection: raw line preserved byte-for-byte next to the " +
      "shredded struct; corrupt lines flagged, never dropped") {
    val path = writeNdjson(tasks)
    val df = NdjsonFhir.read(spark, path, TaskPoller.taskSchema)
    assert(df.count() == 6) // every line lands, including the corrupt one
    assert(df.filter(col("parse_error")).count() == 1)
    // the raw string survives untouched (FHIRPath / writeback contract)
    val raw = df.filter(col("r.id") === "t1")
      .select(col("resource_string")).as[String].head()
    assert(raw == tasks.head)
    // FHIRPath extraction runs over the preserved raw string
    val ver = df.filter(col("r.id") === "t1")
      .select(graft.functions.compat.getFhirPathOne(
        col("resource_string"), "meta.versionId")).as[String].head()
    assert(ver == "3")
  }

  test("pollTasks applies the S5 shape: status filter, runaway guard, " +
      "newest-first top-k; malformed versionId never throws") {
    val path = writeNdjson(tasks :+
      """{"resourceType":"Patient","id":"p1","status":"accepted","authoredOn":"2025-07-07T10:00:00+00:00"}""")
    val got = NdjsonFhir.pollTasks(spark, path, "2025-07-01", count = 2)
      .select(col("id")).as[String].collect().toSeq
    // t3 wrong status, t4 versionId 1044 > 1000 guarded, t5 malformed
    // version counts as 0 (pollable), p1 not a Task; newest-first -> t5
    // then t2
    assert(got == Seq("t5", "t2"))
  }

  test("bundle entries explode to typed rows with the union discriminator") {
    val path = writeNdjson(Seq(
      """{"resourceType":"Bundle","id":"b1","entry":[
        {"fullUrl":"urn:1","resource":{"resourceType":"Patient","id":"p1",
          "identifier":[{"system":"https://emis.com/Id/Patient/DBID","value":"d-1"}]}},
        {"fullUrl":"urn:2","resource":{"resourceType":"Encounter","id":"e1",
          "identifier":[{"system":"https://fhir.virtually.healthcare/Id/Encounter","value":"enc-1"}]}}]}"""
        .replaceAll("\n\\s*", "")))
    val got = NdjsonFhir.entries(spark, path)
      .select(col("entry_idx"), col("resource_type"), col("resource_id"))
      .as[(Int, String, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((0, "Patient", "p1"), (1, "Encounter", "e1")))
  }
}
