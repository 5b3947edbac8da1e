package graft.etl

import org.apache.spark.sql.functions._

import graft.SparkSpec

class OdsImportSpec extends SparkSpec {
  import spark.implicits._

  private val storedOrgs = Seq(
    // _id, Key, Identifier (comma-joined system|value), ResourceString
    ("11", "k1", "https://fhir.nhs.uk/Id/ods-organization-code|B86030,other|x",
      """{"resourceType":"Organization","active":true,"address":[{"postalCode":"N1 1AA"}],"partOf":{"identifier":{"value":"Y56"}},"telecom":[{"value":"0207"}]}"""),
    ("12", "k2", "https://fhir.nhs.uk/Id/ods-organization-code|C55555",
      """{"resourceType":"Organization","active":true}"""))
    .toDF("_id", "Key", "Identifier", "ResourceString")

  private val epraccur = Seq(
    // ODS, name, NG, pc, phone, addr, closed — existing unchanged
    ("B86030", "THE SURGERY", "Y56", "N1 1AA", "0207", ""),
    // existing with postcode change -> update
    ("C55555", "OTHER SURGERY", "", "E2 2BB", "", ""),
    // new practice -> insert
    ("D99999", "NEW SURGERY", "Y99", "W1 1CC", "", ""))
    .toDF("ODS", "Organisation_Name", "NationalGrouping", "PostCode",
      "PhoneNumber", "Closed")
    .withColumn("AddressLine_1", lit("1 HIGH ST"))
    .withColumn("AddressLine_2", lit(""))
    .withColumn("AddressLine_3", lit(""))
    .withColumn("AddressLine_4", lit(""))

  test("P8 identifier extraction pulls the ODS code from the list") {
    val got = storedOrgs.select(OdsImport.extractIdentifierCode(
      col("Identifier"), OdsImport.OdsCodePattern)).as[String].collect()
    assert(got.toSeq == Seq("B86030", "C55555"))
  }

  test("P8 identifier extraction yields null (not ANSI throw) when no " +
      "identifier matches the system pattern") {
    val noMatch = Seq("other|x,unrelated|y", "", "plain-no-pipe")
      .toDF("Identifier")
    val got = noMatch.select(OdsImport.extractIdentifierCode(
      col("Identifier"), OdsImport.OdsCodePattern)).as[Option[String]].collect()
    assert(got.toSeq == Seq(None, None, None))
  }

  test("U1 organisation plan: noop / update / insert with field diffs") {
    val merged = OdsImport.mergeOrganisations(epraccur, storedOrgs)
    val plan = OdsImport.planOrganisations(merged)
      .select("ODS", "action").as[(String, String)].collect().toMap
    assert(plan("B86030") == "noop")
    assert(plan("C55555") == "update")
    assert(plan("D99999") == "insert")
  }

  test("U1 docs build with the merged identity") {
    val merged = OdsImport.mergeOrganisations(epraccur, storedOrgs)
    val doc = OdsImport.planOrganisations(merged)
      .filter(col("ODS") === "B86030").select("doc").as[String].head()
    assert(doc.contains(""""id":"11"""")) // stored _id carried into the doc
    assert(doc.contains(""""value":"B86030""""))
  }

  test("U3 role plan diffs period and active") {
    val merged = Seq(
      // GMP, Practitioner_Name, Started, Ended, ODS, _id_x, Organisation_Name, _id_y, _id, ResourceString
      ("G1", "KOYA M R", "20200101", "", "B86030", "p1", "THE SURGERY", "o1",
        "31", """{"resourceType":"PractitionerRole","active":true,"period":{"start":"2020-01-01"}}"""),
      ("G2", "NEW DR", "20210101", "", "B86030", "p2", "THE SURGERY", "o1",
        "", null),
      ("G3", "GONE DR", "20150101", "20240101", "B86030", "p3", "THE SURGERY",
        "o1", "33", """{"resourceType":"PractitionerRole","active":true,"period":{"start":"2015-01-01"}}"""))
      .toDF("GMP", "Practitioner_Name", "Started", "Ended", "ODS", "_id_x",
        "Organisation_Name", "_id_y", "_id", "ResourceString")
    val plan = OdsImport.planRoles(merged)
      .select("GMP", "action").as[(String, String)].collect().toMap
    assert(plan("G1") == "noop")
    assert(plan("G2") == "insert")
    assert(plan("G3") == "update") // ended → active flip + period.end diff
  }

  test("J5+J6 role merge: inner on ODS, practitioner and organisation " +
      "ids carried, stored roles matched on (ODS, GMP)") {
    val practitioners = Seq(
      // GMP, Practitioner_Name, Started, Ended, ODS, _id (merged practitioner)
      ("G1", "KOYA M R", "20200101", "", "B86030", "p1"),
      ("G2", "NEW DR", "20210101", "", "B86030", "p2"),
      ("G9", "ORPHAN DR", "20190101", "", "Z00000", "p9")) // no such practice
      .toDF("GMP", "Practitioner_Name", "Started", "Ended", "ODS", "_id")
    val organisations = Seq(
      ("B86030", "THE SURGERY", "o1"), ("C55555", "OTHER SURGERY", "o2"))
      .toDF("ODS", "Organisation_Name", "_id")
    val storedRoles = Seq(
      // ODS, GMP, _id, ResourceString
      ("B86030", "G1", "31",
        """{"resourceType":"PractitionerRole","active":true,"period":{"start":"2020-01-01"}}"""),
      // same GMP at another practice: must not match G2 at B86030
      ("C55555", "G2", "32",
        """{"resourceType":"PractitionerRole","active":true}"""))
      .toDF("ODS", "GMP", "_id", "ResourceString")
    val merged = OdsImport.mergeRoles(practitioners, organisations, storedRoles)
    val ids = merged.select("GMP", "_id_x", "_id_y", "_id")
      .as[(String, String, String, String)].collect().sortBy(_._1).toSeq
    assert(ids == Seq(("G1", "p1", "o1", "31"), ("G2", "p2", "o1", "")),
      s"merged roles: $ids")
    val plan = OdsImport.planRoles(merged)
      .select("GMP", "action").as[(String, String)].collect().toMap
    assert(plan == Map("G1" -> "noop", "G2" -> "insert"))
  }

  test("A3/U4 duplicate practitioners returns all group members") {
    val rsrc = Seq(
      ("1", """{"identifier":[{"value":"G1"}]}"""),
      ("2", """{"identifier":[{"value":"G1"}]}"""),
      ("3", """{"identifier":[{"value":"G2"}]}"""))
      .toDF("ID", "ResourceString")
    val dups = OdsImport.duplicatePractitioners(rsrc)
      .select("_id").as[String].collect().sorted
    assert(dups.toSeq == Seq("1", "2"))
  }
}
