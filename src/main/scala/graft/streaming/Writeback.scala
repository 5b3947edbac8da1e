package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.etl.{FhirBuilders, QuestionnaireRestructure, Validation}
import graft.functions.compat

/** The consultation-note writeback workflow
  * (dags/ConsultationNoteWritebackX.py) re-expressed Spark-first: the
  * Airflow DAG-per-task fan-out (X2) becomes rows of a micro-batch, each
  * branch operator (X3–X8) a filter/when column, XCom side-channels (X10)
  * plain carried columns. The 1-minute poll (X1/S5) is
  * [[TaskPoller.start]], which re-polls the store per trigger and hands
  * each batch to its sink:
  * `TaskPoller.start(sink = b => FhirSinks.writebackTasks(taskWriteback(classify(b, …)), ref))`
  * — one code path for streaming, batch and the X11 requeue job.
  *
  * Inputs are DataFrames wherever the reference calls REST mid-pipeline:
  * `consultations` = the `$extract-collection` results keyed by encounter
  * identifier (S4), `compositions` = the EMIS duplicate-probe corpus (J8).
  * The REST boundary lives in graft.connect, outside the plan.
  */
object Writeback {

  /** A Task's version as the poll policy reads it: a missing or malformed
    * `versionId` counts as 0 — pollable and never an ANSI cast error, as
    * the reference's int() guards only fire on numeric ids.
    */
  val taskVersion: Column = coalesce(col("versionId").try_cast("int"), lit(0))

  /** S5 poll shape: status=accepted, authored-on > cutoff, newest first,
    * top `count`, runaway guard version<=1000
    * (ConsultationNoteWritebackX.py:63-96).
    */
  def pollFilter(tasks: DataFrame, cutoff: String, count: Int = 5): DataFrame =
    tasks
      .filter(col("status") === "accepted" &&
        col("authoredOn") > lit(cutoff) &&
        taskVersion <= 1000)
      .orderBy(col("authoredOn").desc, col("id"))
      .limit(count)

  /** The per-task pipeline as one declarative plan.
    *
    * @param tasks columns: id, status, versionId, authoredOn,
    *              focusSystem, focusValue, note (array<struct<time,text>>)
    * @param consultations columns: encounterSystem, encounterValue,
    *              bundleJson — the `$extract-collection` response per task focus
    * @param compositions columns: patientId, encounterId — EMIS compositions
    *              (already shredded to the two probe keys)
    */
  def classify(
      tasks: DataFrame,
      consultations: DataFrame,
      compositions: DataFrame): DataFrame = {

    // X3 Already_Done branch (ConsultationNoteWritebackX.py:401-411)
    val withSkip = tasks.withColumn("skip",
      taskVersion > 100 || col("status") === "completed")

    // S4 join: fetch the consultation for the task's focus identifier
    val withBundle = withSkip.join(
      consultations,
      col("focusSystem") === col("encounterSystem") &&
        col("focusValue") === col("encounterValue"),
      "left")

    // T6/T5 legacy rewrite, then T4 message build (uuid pinned per task id
    // for reproducibility; the reference draws uuid4 per run)
    val withMessage = withBundle
      .withColumn("converted",
        when(col("bundleJson").isNotNull,
          QuestionnaireRestructure.restructureBundle(col("bundleJson"))))
      .withColumn("message",
        when(col("converted").isNotNull,
          FhirBuilders.bundleToMessageA04(col("converted"),
            md5(concat(lit("uuid:"), col("id"))))))

    // X6 duplicate probe (J8): patient DBID + encounter identifier from the
    // bundle, semi-join against EMIS compositions
    // the reference loops Bundle entries per resourceType collecting the
    // DBID / encounter identifiers (lines 306-322); parse the entries once
    // with a minimal schema, flatten the identifier pairs, filter by system
    val identSchema = "struct<entry:array<struct<resource:struct<" +
      "resourceType:string,identifier:array<struct<system:string,value:string>>>>>>"
    val identExpr = s"""
      flatten(transform(
        from_json(bundleJson, '$identSchema').entry,
        e -> coalesce(e.resource.identifier,
                      cast(array() as array<struct<system:string,value:string>>))))"""
    def identValue(system: String): String =
      s"get(filter($identExpr, x -> x.system = '$system').value, 0)"
    val withIds = withMessage
      .withColumn("patientId",
        expr(identValue("https://emis.com/Id/Patient/DBID")))
      .withColumn("encounterId",
        expr(identValue("https://fhir.virtually.healthcare/Id/Encounter")))

    // distinct() makes the probe an existence check: several stored
    // compositions can share one (patient, encounter) and the reference
    // returns on first match (check_consultation_not_already_present_in_EMIS,
    // dags/ConsultationNoteWritebackX.py:297-333) — without it each task row
    // is multiplied per matching composition and writeback emits duplicates.
    val dupKeys = compositions.select(
      col("patientId").as("dup_patient"), col("encounterId").as("dup_encounter"))
      .distinct()
    val withDup = withIds.join(dupKeys,
        col("patientId") === col("dup_patient") &&
          col("encounterId") === col("dup_encounter"),
        "left")
      .withColumn("duplicate", col("dup_patient").isNotNull)
      .drop("dup_patient", "dup_encounter")

    // X4 validation gate (T10) on the built message
    val withValid = withDup.withColumn("validation_failed",
      when(col("message").isNotNull,
        Validation.operationOutcomeFails(col("message")))
        .otherwise(lit(false)))

    // X5 endpoint routing — constant EMIS in the reference (line 293-295);
    // TPP / GPConnect stubs modeled as inert branches
    val withEndpoint = withValid.withColumn("endpoint", lit("EMIS"))

    // X7/X8 outcome union: precedence mirrors the DAG's failure routing
    withEndpoint.withColumn("outcome",
      when(col("skip"), "skipped")
        .when(col("bundleJson").isNull, "cancelled") // no consultation found
        .when(col("validation_failed"), "failed")
        .when(col("duplicate"), "completed")         // DUPLICATE short-circuits to done
        .otherwise("completed"))
      .withColumn("sent_to_emis",
        col("outcome") === "completed" && !col("duplicate") && !col("skip"))
  }

  /** S9/U5/T7: build the Task writeback rows — status transition, note
    * append, output[] rebuilt from the carried pipeline columns (the
    * reference's XCom values EMISOpen/SendEMIS/Diagnostics).
    */
  def taskWriteback(classified: DataFrame,
      utcNow: Column = compat.utcStamp()): DataFrame =
    classified
      .filter(!col("skip"))
      .select(
        col("id"),
        col("outcome").as("status"),
        FhirBuilders.appendNote(col("note"), utcNow,
          concat(lit("Workflow "), col("outcome"))).as("note"),
        array_compact(array(
          when(col("sent_to_emis"), struct(
            lit("EMISOpen").as("name"), col("message").as("valueString"))),
          when(col("duplicate"), struct(
            lit("Diagnostics").as("name"),
            lit("duplicate consultation").as("valueString")))))
          .as("output"))

  /** X11 manual requeue: cancelled → accepted with an audit note
    * (notebooks/Workflow-NOS.ipynb:30-50).
    */
  def requeueCancelled(tasks: DataFrame, top: Int = 300,
      utcNow: Column = compat.utcStamp()): DataFrame =
    tasks.filter(col("status") === "cancelled")
      .orderBy(col("authoredOn").desc, col("id"))
      .limit(top)
      .select(col("id"), lit("accepted").as("status"),
        FhirBuilders.appendNote(col("note"), utcNow,
          lit("Requeued by Workflow-NOS")).as("note"))
}
