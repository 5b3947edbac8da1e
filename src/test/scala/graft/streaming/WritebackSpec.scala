package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

class WritebackSpec extends SparkSpec {
  import spark.implicits._

  private def bundleFor(patientId: String, encounterId: String): String =
    s"""{
      "resourceType": "Bundle",
      "entry": [
        {"fullUrl": "urn:p", "resource": {"resourceType": "Patient",
          "identifier": [{"system": "https://emis.com/Id/Patient/DBID",
                          "value": "$patientId"}]}},
        {"fullUrl": "urn:e", "resource": {"resourceType": "Encounter",
          "identifier": [{"system": "https://fhir.virtually.healthcare/Id/Encounter",
                          "value": "$encounterId"}]}},
        {"fullUrl": "urn:q", "resource": {"resourceType": "QuestionnaireResponse",
          "item": [{"linkId": "q", "answer": [{"valueString": "a"}]}]}}
      ]}"""

  private def tasks = Seq(
    // id, status, versionId, authoredOn, focusSystem, focusValue
    ("t1", "accepted", "3", "2025-07-10T10:00:00", "sys", "enc1"),  // normal
    ("t2", "accepted", "250", "2025-07-10T11:00:00", "sys", "enc2"), // skip: runaway
    ("t3", "completed", "2", "2025-07-10T12:00:00", "sys", "enc3"),  // skip: done
    ("t4", "accepted", "1", "2025-07-10T13:00:00", "sys", "enc-missing"), // cancelled
    ("t5", "accepted", "2", "2025-07-10T14:00:00", "sys", "enc5"))   // duplicate
    .toDF("id", "status", "versionId", "authoredOn", "focusSystem", "focusValue")
    .withColumn("note",
      lit(null).cast("array<struct<time:string,text:string>>"))

  private def consultations = Seq(
    ("sys", "enc1", bundleFor("pat1", "enc1")),
    ("sys", "enc2", bundleFor("pat2", "enc2")),
    ("sys", "enc3", bundleFor("pat3", "enc3")),
    ("sys", "enc5", bundleFor("pat5", "enc5")))
    .toDF("encounterSystem", "encounterValue", "bundleJson")

  private def compositions =
    Seq(("pat5", "enc5")).toDF("patientId", "encounterId")

  /** A Task resource as the FHIR store holds it. */
  private def storedTask(id: String, status: String, authored: String,
      version: String, enc: String): String =
    s"""{"resourceType":"Task","id":"$id","status":"$status",""" +
      s""""authoredOn":"$authored","meta":{"versionId":"$version"},""" +
      s""""focus":{"identifier":{"system":"sys","value":"$enc"}}}"""

  test("pollFilter: accepted + cutoff + runaway guard + newest-first top-k") {
    val polled = Writeback.pollFilter(tasks, "2025-07-01", count = 2)
      .select("id").as[String].collect()
    assert(polled.toSeq == Seq("t5", "t4")) // newest-first; t2 runaway-guarded, t3 not accepted
  }

  test("classify: outcome per branch") {
    val out = Writeback.classify(tasks, consultations, compositions)
      .select("id", "outcome", "skip", "duplicate", "sent_to_emis")
      .as[(String, String, Boolean, Boolean, Boolean)]
      .collect().sortBy(_._1)
    assert(out(0) == (("t1", "completed", false, false, true)))
    assert(out(1)._2 == "skipped" && out(1)._3)
    assert(out(2)._2 == "skipped")
    assert(out(3) == (("t4", "cancelled", false, false, false)))
    assert(out(4) == (("t5", "completed", false, true, false))) // dup short-circuit
  }

  test("classify: duplicate probe is an existence check — repeated " +
      "composition keys don't multiply task rows") {
    val repeated = Seq(("pat5", "enc5"), ("pat5", "enc5"), ("pat5", "enc5"))
      .toDF("patientId", "encounterId")
    val out = Writeback.classify(tasks, consultations, repeated)
    assert(out.count() == 5) // one row per task, not 5 + 2 extra t5 copies
    assert(out.filter(col("id") === "t5").count() == 1)
  }

  test("classify: message is a converted A04 for processed tasks") {
    val msg = Writeback.classify(tasks, consultations, compositions)
      .filter(col("id") === "t1").select("message").as[String].head()
    assert(msg.contains(""""code":"A04""""))
    assert(msg.contains("LOINC/61149-1")) // T5 ran inside T6 before T4
  }

  test("taskWriteback: skipped rows excluded, notes appended, outputs built") {
    val wb = Writeback.taskWriteback(
      Writeback.classify(tasks, consultations, compositions),
      utcNow = lit("2025-07-10T15:00:00+00:00"))
    val rows = wb.select("id", "status").as[(String, String)]
      .collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq("t1", "t4", "t5"))
    val t1 = wb.filter(col("id") === "t1")
      .select(col("note").getField("text"), size(col("output")))
      .as[(Seq[String], Int)].head()
    assert(t1._1 == Seq("Workflow completed"))
    assert(t1._2 == 1) // EMISOpen output entry
  }

  test("requeueCancelled resets status with audit note") {
    val t = Seq(("c1", "cancelled", "2025-07-01T00:00:00"),
      ("c2", "accepted", "2025-07-02T00:00:00"))
      .toDF("id", "status", "authoredOn")
      .withColumn("note", lit(null).cast("array<struct<time:string,text:string>>"))
    val r = Writeback.requeueCancelled(t, utcNow = lit("now"))
      .select("id", "status").as[(String, String)].collect()
    assert(r.toSeq == Seq(("c1", "accepted")))
  }

  test("X8/X9 end to end: a 503 dropped on the first PUT mid-batch is " +
      "retried, and both the completed and the cancelled outcomes land — " +
      "exact wire sequence through foreachBatch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.connect.{FhirSinks, HttpStoreRef, StubFhirServer}
    implicit val sqlCtx = spark.sqlContext
    val srv = new StubFhirServer
    try {
      srv.put("Task/t1",
        storedTask("t1", "accepted", "2025-07-10T10:00:00", "3", "enc1"))
      srv.put("Task/t4",
        storedTask("t4", "accepted", "2025-07-10T13:00:00", "1", "enc-missing"))
      val ref = HttpStoreRef(srv.baseUrl, retries = 2, retryDelayMs = 1)
      // the tick's poll is request 1; per task the wire order is GET
      // (version re-read) then PUT, so request 3 is t1's status PUT —
      // drop exactly it
      srv.failNth(3, code = 503)
      val ticks = MemoryStream[Int]
      val q = TaskPoller.start(spark, ref, cutoff = "2025-07-01", count = 5,
        // one partition + id order -> a deterministic wire sequence
        sink = polled => FhirSinks.writebackTasks(
          Writeback.taskWriteback(
            Writeback.classify(polled, consultations, compositions))
            .repartition(1).sortWithinPartitions("id"),
          ref),
        checkpoint = java.nio.file.Files
          .createTempDirectory("wb-ckpt-fail").toString,
        interval = "1 seconds", ticks = Some(ticks.toDF()))
      try { ticks.addData(1); q.processAllAvailable() } finally q.stop()
      // exact sequence: the poll, GET t1, PUT t1 (injected 503), PUT t1
      // (the X9 retry), GET t4, PUT t4 — the mid-batch failure neither
      // skips t1 nor disturbs t4
      assert(srv.log.map(r => (r.method, r.path)) == Seq(
        ("GET", "Task?status=accepted"),
        ("GET", "Task/t1"), ("PUT", "Task/t1"), ("PUT", "Task/t1"),
        ("GET", "Task/t4"), ("PUT", "Task/t4")),
        s"wire sequence was ${srv.log.map(r => (r.method, r.path))}")
      // X8 outcomes: normal task completed, missing-consultation task
      // cancelled, each with the workflow audit note
      assert(srv.contents("Task/t1").contains("\"completed\"") &&
        srv.contents("Task/t1").contains("Workflow completed"))
      assert(srv.contents("Task/t4").contains("\"cancelled\"") &&
        srv.contents("Task/t4").contains("Workflow cancelled"))
    } finally srv.stop()
  }

  test("X1-X12 closed loop over HTTP: each trigger re-polls the store, " +
      "the writeback transitions land over the wire, the next poll sees " +
      "them and the queue drains to steady state; a search response " +
      "slower than the request timeout is retried (X9) transparently") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.connect.{FhirSinks, HttpStoreRef, StubFhirServer}
    implicit val sqlCtx = spark.sqlContext
    val srv = new StubFhirServer
    try {
      srv.put("Task/t1",
        storedTask("t1", "accepted", "2025-07-10T10:00:00", "3", "enc1"))
      srv.put("Task/t2", // runaway guard: polled out, never touched
        storedTask("t2", "accepted", "2025-07-10T11:00:00", "250", "enc2"))
      srv.put("Task/t4", // no consultation -> cancelled
        storedTask("t4", "accepted", "2025-07-10T13:00:00", "1", "enc-missing"))
      srv.put("Task/t5", // EMIS duplicate -> completed, Diagnostics output
        storedTask("t5", "accepted", "2025-07-10T14:00:00", "2", "enc5"))
      val ref = HttpStoreRef(srv.baseUrl, retries = 2, retryDelayMs = 1,
        requestTimeoutSec = 1)
      // the FIRST poll's search response hangs past the 1 s request
      // timeout: HttpTimeoutException is an IOException, so the bounded
      // retry re-issues the search and the loop proceeds undisturbed
      srv.delayNextMs(1, 1500)
      val ticks = MemoryStream[Int]
      var batches = Vector.empty[Long]
      val q = TaskPoller.start(spark, ref, cutoff = "2025-07-01", count = 5,
        sink = polled => batches :+= FhirSinks.writebackTasks(
          Writeback.taskWriteback(
            Writeback.classify(polled, consultations, compositions),
            utcNow = lit("2025-07-10T15:00:00+00:00"))
            .repartition(1).sortWithinPartitions("id"),
          ref),
        checkpoint = java.nio.file.Files
          .createTempDirectory("wb-loop-ckpt").toString,
        interval = "1 seconds", ticks = Some(ticks.toDF()))
      try {
        ticks.addData(1); q.processAllAvailable()
        ticks.addData(2); q.processAllAvailable()
      } finally q.stop()
      // tick 1 transitions t1/t4/t5; tick 2 re-polls, finds no accepted
      // tasks under the guard, and writes NOTHING — the store's own state
      // is the queue (X12), so the drained loop is idempotent
      assert(batches == Vector(3L, 0L), s"writebacks per tick: $batches")
      // the timed-out search really was retried: the first two wire
      // requests are both the tick-1 search, status=accepted pushed down
      assert(srv.log.take(2).map(r => (r.method, r.path)) ==
        Seq.fill(2)(("GET", "Task?status=accepted")),
        s"wire head was ${srv.log.take(3)}")
      // wire truth of each branch's transition
      assert(srv.contents("Task/t1").contains("\"completed\"") &&
        srv.contents("Task/t1").contains("EMISOpen"))
      assert(srv.contents("Task/t4").contains("\"cancelled\"") &&
        srv.contents("Task/t4").contains("Workflow cancelled"))
      assert(srv.contents("Task/t5").contains("duplicate consultation"))
      assert(srv.contents("Task/t2").contains("\"accepted\"")) // untouched
    } finally srv.stop()
  }
}
