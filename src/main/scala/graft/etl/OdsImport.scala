package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Upsert

/** The ODS MDM batch pipeline (dags/ODSImport.py) as composable plan legs:
  * S1 positional-CSV scans (the schemas below, read from the zipped feed
  * by [[graft.sources.ZipCsv.read]]) → P8 identifier extraction →
  * J4/J5/J6 merges → T1–T3 document builds → U1–U3 MERGE action
  * planning. Sinks (graft.connect.FhirSinks) apply the resulting action
  * frames.
  *
  * Scale shape: the national CSVs are dimension-sized (≈7k practices /
  * ≈50k GPs) — every merge broadcasts; nothing here shuffles the FHIR
  * store extract, which arrives pre-projected (P1) from the source.
  */
object OdsImport {

  /** epraccur.csv: headerless, 26 positional columns, named subset per
    * dags/ODSImport.py:85-96 (unnamed positions kept as c4, c13, ...).
    */
  val epraccurSchema: StructType = StructType(
    Seq("ODS", "Organisation_Name", "NationalGrouping", "c4",
      "AddressLine_1", "AddressLine_2", "AddressLine_3", "AddressLine_4",
      "AddressLine_5", "PostCode", "Opened", "Closed", "c13", "c14",
      "PRAC_ODS", "c16", "c17", "PhoneNumber", "c19", "c20", "c21", "c22",
      "c23", "c24", "c25", "c26").map(StructField(_, StringType, true)))

  /** egpcur.csv: named subset per dags/ODSImport.py:320-327. */
  val egpcurSchema: StructType = StructType(
    Seq("GMP", "Practitioner_Name", "c3", "c4",
      "AddressLine_1", "AddressLine_2", "AddressLine_3", "AddressLine_4",
      "AddressLine_5", "PostCode", "Started", "Ended", "Status", "c14",
      "ODS", "c16", "c17", "PhoneNumber", "c19", "c20", "c21", "c22",
      "c23", "c24", "c25", "c26").map(StructField(_, StringType, true)))

  /** P8: pull the code out of a comma-joined "system|value" identifier
    * list for the given system-regex (dags/ODSImport.py:129-135) — the
    * single-expression form of the reference's row loop.
    */
  def extractIdentifierCode(identifier: Column, systemPattern: String): Column =
    // get() (0-based) instead of element_at: under Spark 4 ANSI mode
    // element_at throws INVALID_ARRAY_INDEX_IN_ELEMENT_AT on an empty
    // filtered list; the reference's row loop just leaves the code empty
    // (dags/ODSImport.py:129-135), so a non-matching identifier list must
    // yield null, not crash the import job.
    get(
      transform(
        filter(split(identifier, ","), x => x.rlike(systemPattern)),
        x => get(split(x, "\\|"), lit(1))),
      lit(0))

  val OdsCodePattern = "^https:.*ods-organization-code[|][A-Za-z0-9].*$"
  val GmpCodePattern = "^https:.*gmp-number[|][A-Za-z0-9].*$"

  /** Merge leg (J4): new-file-is-master left merge of the ODS CSV against
    * the current FHIR-store extract, `_id` null→'' (dags/ODSImport.py:140-155).
    * `stored` columns: _id, Key, Identifier, ResourceString (P1 projection).
    */
  def mergeOrganisations(epraccur: DataFrame, stored: DataFrame): DataFrame = {
    val withOds = stored.withColumn("ODS",
      extractIdentifierCode(col("Identifier"), OdsCodePattern))
    epraccur.join(broadcast(withOds), Seq("ODS"), "left")
      .withColumn("_id", coalesce(col("_id").cast("string"), lit("")))
  }

  /** Practitioner merge (same shape on GMP, dags/ODSImport.py:371-383). */
  def mergePractitioners(egpcur: DataFrame, stored: DataFrame): DataFrame = {
    val withGmp = stored.withColumn("GMP",
      extractIdentifierCode(col("Identifier"), GmpCodePattern))
    egpcur
      .withColumn("Practitioner_Surname",
        graft.functions.compat.firstToken(col("Practitioner_Name")))
      .withColumn("Practitioner_Initials",
        graft.functions.compat.restTokens(col("Practitioner_Name")))
      .join(broadcast(withGmp), Seq("GMP"), "left")
      .withColumn("_id", coalesce(col("_id").cast("string"), lit("")))
  }

  /** Role synthesis (J5+J6, dags/ODSImport.py:461-520): inner-merge
    * practitioners × organisations on ODS (pandas `_id_x`/`_id_y`
    * suffixing becomes explicit renames), then left-merge stored roles on
    * the composite (ODS, GMP) business key.
    */
  def mergeRoles(practitioners: DataFrame, organisations: DataFrame,
      storedRoles: DataFrame): DataFrame = {
    val p = practitioners.select(
      col("GMP"), col("Practitioner_Name"), col("Started"), col("Ended"),
      col("ODS"), col("_id").as("_id_x"))
    val o = organisations.select(
      col("ODS"), col("Organisation_Name"), col("_id").as("_id_y"))
    p.join(broadcast(o), Seq("ODS"), "inner")
      .join(broadcast(storedRoles), Seq("ODS", "GMP"), "left")
      .withColumn("_id", coalesce(col("_id").cast("string"), lit("")))
  }

  /** U1: organization upsert action frame — create when `_id` empty, else
    * per-field diff against the stored resource (dags/ODSImport.py:258-292:
    * telecom only when stored telecom empty; address when postcode differs;
    * partOf when NationalGrouping differs; active when flag flips).
    */
  def planOrganisations(merged: DataFrame): DataFrame = {
    val doc = FhirBuilders.organization(
      col("ODS"), col("Organisation_Name"), col("PostCode"),
      col("NationalGrouping"), col("PhoneNumber"), col("AddressLine_1"),
      col("AddressLine_2"), col("AddressLine_3"), col("AddressLine_4"),
      col("Closed"), col("_id"))
    val stored = col("ResourceString")
    merged.withColumn("doc", doc)
      .withColumn("telecom_changed",
        get_json_object(stored, "$.telecom[0].value").isNull &&
          col("PhoneNumber").isNotNull && col("PhoneNumber") =!= "")
      .withColumn("address_changed",
        coalesce(get_json_object(stored, "$.address[0].postalCode"), lit("")) =!=
          coalesce(col("PostCode"), lit("")))
      .withColumn("partof_changed",
        coalesce(get_json_object(stored, "$.partOf.identifier.value"), lit("")) =!=
          coalesce(col("NationalGrouping"), lit("")))
      .withColumn("active_changed",
        coalesce(get_json_object(stored, "$.active"), lit("true")) =!=
          when(col("Closed").isNotNull && col("Closed") =!= "", "false")
            .otherwise("true"))
      .withColumn("action",
        when(col("_id") === "", "insert")
          .when(col("telecom_changed") || col("address_changed") ||
            col("partof_changed") || col("active_changed"), "update")
          .otherwise("noop"))
  }

  /** U2: practitioners are create-only (dags/ODSImport.py:432-456). */
  def planPractitioners(merged: DataFrame): DataFrame =
    merged
      .withColumn("doc", FhirBuilders.practitioner(
        col("GMP"), col("Practitioner_Surname"), col("Practitioner_Initials"),
        col("Status"), col("_id")))
      .withColumn("action", when(col("_id") === "", "insert").otherwise("noop"))

  /** U3: role upsert — active + period.start/end diffs
    * (dags/ODSImport.py:610-646).
    */
  def planRoles(merged: DataFrame): DataFrame = {
    val iso = (c: Column) => graft.functions.compat.yyyymmddToIso(c)
    merged
      .withColumn("doc", FhirBuilders.practitionerRole(
        col("GMP"), col("Practitioner_Name"), col("ODS"),
        col("Organisation_Name"), col("_id_x"), col("_id_y"),
        col("Started"), col("Ended"), col("_id")))
      .withColumn("active_changed",
        coalesce(get_json_object(col("ResourceString"), "$.active"), lit("true")) =!=
          when(col("Ended").isNotNull && col("Ended") =!= "", "false")
            .otherwise("true"))
      .withColumn("period_changed",
        coalesce(get_json_object(col("ResourceString"), "$.period.start"), lit("")) =!=
          coalesce(iso(col("Started")), lit("")) ||
        coalesce(get_json_object(col("ResourceString"), "$.period.end"), lit("")) =!=
          coalesce(iso(col("Ended")), lit("")))
      .withColumn("action",
        when(col("_id") === "", "insert")
          .when(col("active_changed") || col("period_changed"), "update")
          .otherwise("noop"))
  }

  /** A3/U4: duplicate practitioners by GMP extracted from the raw resource
    * (DeleteDuplicatesinIRISFHIRServer.ipynb:38-40) — returns every member
    * of each duplicate group (the reference deletes all, keep-one is the
    * documented variant).
    */
  def duplicatePractitioners(rsrc: DataFrame): DataFrame = {
    val withGmp = rsrc.withColumn("GMP",
      graft.functions.compat.getFhirPathOne(
        col("ResourceString"), "identifier[0].value"))
    val dupGroups = withGmp.groupBy(col("GMP"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
    withGmp.join(dupGroups.select(col("GMP")), Seq("GMP"), "left_semi")
      .select(col("GMP"), col("ID").as("_id"))
  }
}
