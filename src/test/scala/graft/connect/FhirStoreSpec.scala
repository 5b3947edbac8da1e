package graft.connect

import org.apache.spark.sql.functions._

import graft.SparkSpec

class FhirStoreSpec extends SparkSpec {
  import spark.implicits._

  test("S6 create-with-feedback returns new ids as a DataFrame") {
    val ref = StoreRef("create-test")
    val df = Seq(("B1", """{"a":1}"""), ("B2", """{"a":2}"""))
      .toDF("ods", "doc")
    val ids = FhirSinks.createReturningIds(df, "ods", "doc",
      "Organization", ref)
    assert(ids.count() == 2)
    assert(ids.columns.toSeq == Seq("ods", "new_id"))
    assert(ref.store.asInstanceOf[InMemoryFhirStore].size == 2)
    // feedback joins back into the pipeline (SURVEY §7.4 risk 4)
    val joined = df.join(ids, "ods")
    assert(joined.count() == 2)
  }

  test("S7 conditional update applies only marked rows") {
    val ref = StoreRef("update-test")
    ref.store.update("Organization", "9", """{"old":true}""")
    val updates = Seq(("9", """{"new":true}""")).toDF("id", "doc")
    val n = FhirSinks.updateWhere(updates, "id", "doc", "Organization", ref)
    assert(n == 1)
    assert(ref.store.read("Organization", "9").get.contains("new"))
  }

  test("S8 delete-duplicates sink") {
    val ref = StoreRef("delete-test")
    ref.store.update("Practitioner", "1", "{}")
    ref.store.update("Practitioner", "2", "{}")
    val n = FhirSinks.deleteAll(Seq("1").toDF("_id"), "_id",
      "Practitioner", ref)
    assert(n == 1)
    assert(ref.store.read("Practitioner", "1").isEmpty)
    assert(ref.store.read("Practitioner", "2").nonEmpty)
  }

  test("S9 task writeback serializes status+note+output") {
    val ref = StoreRef("task-test")
    val updates = Seq(("t1", "completed")).toDF("id", "status")
      .withColumn("note", array(struct(lit("ts").as("time"),
        lit("done").as("text"))))
      .withColumn("output", array(struct(lit("EMISOpen").as("name"),
        lit("...").as("valueString"))))
    val n = FhirSinks.writebackTasks(updates, ref)
    assert(n == 1)
    val stored = ref.store.read("Task", "t1").get
    assert(stored.contains("completed") && stored.contains("EMISOpen"))
  }

  test("search params are key-scoped: a value in an unrelated field " +
      "does not match") {
    val ref = StoreRef("scoped-search-test")
    ref.store.update("Task", "a",
      """{"status":"accepted","note":[{"text":"x"}]}""")
    ref.store.update("Task", "b",
      """{"status":"requested","note":[{"text":"was accepted earlier"}]}""")
    ref.store.update("Task", "c", """{"status":"accepted","priority":3}""")
    val hits = ref.store.search("Task", "status" -> "accepted")
    assert(hits.size == 2 && hits.forall(_.contains(""""status":"accepted"""")))
    assert(ref.store.search("Task", "priority" -> "3").size == 1)
    assert(ref.store.search("Task", "priority" -> "9").isEmpty)
    // nested fields with the same name must not match (top-level semantics)
    ref.store.update("Task", "d",
      """{"status":"requested","output":[{"status":"accepted"}]}""")
    assert(ref.store.search("Task", "status" -> "accepted").size == 2)
    // escaped characters in values compare unescaped
    ref.store.update("Task", "e", """{"owner":"O\"Brien"}""")
    assert(ref.store.search("Task", "owner" -> """O"Brien""").size == 1)
  }

  test("S4 search source returns every stored match as a resource row") {
    val ref = StoreRef("search-test")
    (1 to 5).foreach(i => ref.store.update("Task", i.toString,
      s"""{"n":$i,"status":"${if (i % 2 == 1) "accepted" else "completed"}"}"""))
    ref.store.update("Patient", "p", """{"status":"accepted"}""")
    val df = FhirSources.search(spark, ref, "Task", "status" -> "accepted")
    assert(df.columns.toSeq == Seq("resource"))
    val got = df.as[String].collect().sorted.toSeq
    assert(got == Seq(1, 3, 5).map(i => s"""{"n":$i,"status":"accepted"}"""),
      s"search rows: $got")
  }
}
