package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.connect.StoreRef
import graft.sources.NdjsonFhir

class TaskPollerSpec extends SparkSpec {
  import spark.implicits._

  private def task(id: String, status: String, authored: String,
      version: String): String =
    s"""{"resourceType":"Task","id":"$id","status":"$status",""" +
      s""""authoredOn":"$authored","meta":{"versionId":"$version"},""" +
      s""""focus":{"identifier":{"system":"sys","value":"enc-$id"}}}"""

  private def seedTasks(ref: StoreRef): Unit = {
    ref.store.update("Task", "a", task("a", "accepted", "2025-07-10T10:00:00", "3"))
    ref.store.update("Task", "b", task("b", "accepted", "2025-07-11T10:00:00", "2"))
    ref.store.update("Task", "c", task("c", "accepted", "2025-07-12T10:00:00", "2000")) // runaway
    ref.store.update("Task", "d", task("d", "completed", "2025-07-12T11:00:00", "1"))
    ref.store.update("Task", "e", task("e", "accepted", "2025-06-01T10:00:00", "1")) // pre-cutoff
  }

  // newest accepted Task, with a versionId that is not a number
  private val malformed =
    "m" -> task("m", "accepted", "2025-07-13T10:00:00", "oops")

  test("poll applies the S5 search shape against the store") {
    val ref = StoreRef("poller-batch")
    seedTasks(ref)
    val polled = TaskPoller.poll(spark, ref, "2025-07-01", count = 5)
      .select("id").as[String].collect()
    assert(polled.toSeq == Seq("b", "a")) // newest first; c/d/e excluded
  }

  test("an accepted Task with a malformed versionId is polled as " +
      "version 0, and classify does not throw on it") {
    val ref = StoreRef("poller-malformed")
    seedTasks(ref)
    ref.store.update("Task", malformed._1, malformed._2)
    val polled = TaskPoller.poll(spark, ref, "2025-07-01", count = 5)
    assert(polled.select("id").as[String].collect().toSeq ==
      Seq("m", "b", "a"))
    val noConsultations = Seq.empty[(String, String, String)]
      .toDF("encounterSystem", "encounterValue", "bundleJson")
    val noCompositions = Seq.empty[(String, String)]
      .toDF("patientId", "encounterId")
    val m = Writeback.classify(polled, noConsultations, noCompositions)
      .filter($"id" === "m").select("skip", "outcome")
      .as[(Boolean, String)].collect().toSeq
    assert(m == Seq((false, "cancelled"))) // not skipped as a runaway
  }

  test("poll parity: the store poll and the NDJSON poll return the same " +
      "ids in the same order") {
    // accepted (a, b, m with a malformed version), completed (d),
    // runaway (c), pre-cutoff (e) and a corrupt line (x)
    val fixture = Seq(
      "a" -> task("a", "accepted", "2025-07-10T10:00:00", "3"),
      "b" -> task("b", "accepted", "2025-07-11T10:00:00", "2"),
      "c" -> task("c", "accepted", "2025-07-12T10:00:00", "2000"),
      "d" -> task("d", "completed", "2025-07-12T11:00:00", "1"),
      "e" -> task("e", "accepted", "2025-06-01T10:00:00", "1"),
      malformed,
      "x" -> "not json at all")
    val ref = StoreRef("poller-parity")
    fixture.foreach { case (id, json) => ref.store.update("Task", id, json) }
    val path = java.nio.file.Files.createTempFile("tasks", ".ndjson")
    java.nio.file.Files.write(path,
      fixture.map(_._2).mkString("\n").getBytes("UTF-8"))
    val fromStore = TaskPoller.poll(spark, ref, "2025-07-01", count = 5)
      .select("id").as[String].collect().toSeq
    val fromFile = NdjsonFhir.pollTasks(spark, path.toString, "2025-07-01",
      count = 5).select("id").as[String].collect().toSeq
    assert(fromStore == Seq("m", "b", "a"))
    assert(fromFile == fromStore)
  }

  test("streaming loop re-polls per trigger and sees store changes") {
    val ref = StoreRef("poller-stream")
    seedTasks(ref)
    implicit val sqlCtx = spark.sqlContext
    val ticks = MemoryStream[Int]
    var polls = Vector.empty[Seq[String]]
    val q = TaskPoller.start(spark, ref, "2025-07-01", count = 5,
      sink = b => polls :+= b.select("id").as[String].collect().toSeq,
      checkpoint = java.nio.file.Files.createTempDirectory("poll-ckpt").toString,
      interval = "1 seconds",
      ticks = Some(ticks.toDF()))
    try {
      ticks.addData(1)
      q.processAllAvailable()
      // the workflow completes task b between polls
      ref.store.update("Task", "b",
        """{"resourceType":"Task","id":"b","status":"completed",
           "authoredOn":"2025-07-11T10:00:00","meta":{"versionId":"3"}}""")
      ticks.addData(2)
      q.processAllAvailable()
      assert(polls.head == Seq("b", "a"))
      assert(polls.last == Seq("a")) // b no longer accepted on re-poll
    } finally q.stop()
  }
}
