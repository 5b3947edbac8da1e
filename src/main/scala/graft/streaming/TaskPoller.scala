package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.connect.{FhirSources, StoreRef}

/** S5 — the polling Task source as a streaming query: a trigger clock
  * (rate source by default) fires every interval; each micro-batch
  * re-polls the store with the reference's search shape
  * (status=accepted, authored-on cutoff, newest-first top-N, runaway
  * versionId guard — dags/ConsultationNoteWritebackX.py:49,63-96) and
  * hands the polled batch to the sink, which is normally
  * `Writeback.classify` → `taskWriteback`.
  *
  * Poll-per-trigger (not incremental offsets) is deliberate: the
  * reference's queue state lives in the store (tasks change status when
  * processed), so re-polling IS the exactly-once story — X12's
  * visibility-lag note applies unchanged.
  */
object TaskPoller {

  /** The Task fields the S5/X3 workflow touches — the one Task schema,
    * whichever source the raw JSON comes from.
    */
  val taskSchema: StructType = StructType(Seq(
    StructField("resourceType", StringType),
    StructField("id", StringType), StructField("status", StringType),
    StructField("authoredOn", StringType),
    StructField("meta", StructType(Seq(
      StructField("versionId", StringType)))),
    StructField("focus", StructType(Seq(
      StructField("identifier", StructType(Seq(
        StructField("system", StringType),
        StructField("value", StringType))))))),
    StructField("note", ArrayType(StructType(Seq(
      StructField("time", StringType), StructField("text", StringType)))))))

  /** Raw Task JSON (column `json` of `raw`) → the columns
    * [[Writeback.pollFilter]] and [[Writeback.classify]] read. A line
    * that is not JSON parses to null fields, which the poll's status
    * filter drops; a resource that declares another type is not a Task.
    */
  def parse(raw: DataFrame, json: String): DataFrame =
    raw.select(from_json(col(json), taskSchema).as("t"))
      .filter(coalesce(col("t.resourceType"), lit("Task")) === "Task")
      .select(
        col("t.id").as("id"), col("t.status").as("status"),
        col("t.meta.versionId").as("versionId"),
        col("t.authoredOn").as("authoredOn"),
        col("t.focus.identifier.system").as("focusSystem"),
        col("t.focus.identifier.value").as("focusValue"),
        col("t.note").as("note"))

  /** One poll: the store search pushes `status=accepted` down, then the
    * S5 filter/sort/limit shape runs on the parsed Tasks —
    * [[Writeback.pollFilter]] stays the authoritative filter.
    */
  def poll(spark: SparkSession, ref: StoreRef, cutoff: String,
      count: Int): DataFrame =
    Writeback.pollFilter(
      parse(FhirSources.search(spark, ref, "Task", "status" -> "accepted"),
        "resource"),
      cutoff, count)

  /** The 1-minute poll loop. `ticks` defaults to a rate source; tests pass
    * a MemoryStream so the loop is fully deterministic.
    */
  def start(spark: SparkSession, ref: StoreRef, cutoff: String,
      count: Int, sink: DataFrame => Unit, checkpoint: String,
      interval: String = "60 seconds",
      ticks: Option[DataFrame] = None): StreamingQuery = {
    val clock = ticks.getOrElse(
      spark.readStream.format("rate").option("rowsPerSecond", "1").load())
    clock.writeStream
      .trigger(Trigger.ProcessingTime(interval))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (_: DataFrame, _: Long) =>
        sink(poll(spark, ref, cutoff, count))
      }
      .start()
  }
}
