package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.{TaskPoller, Writeback}

/** Newline-delimited FHIR source (S10: the reference's Synthea bundle /
  * Task corpus shape, README.md:42-64 in the reference repo), reproducing
  * the IRIS DUAL PROJECTION the reference queries rely on (SURVEY §1.1):
  * every row carries BOTH the shredded search columns (from an explicit
  * schema over the fields queries touch) and the byte-identical raw
  * resource string (for `GetFHIRPath`/`GetJSON` extraction and lossless
  * writeback).
  *
  * Scale shape: `spark.read.text` splits NDJSON by line across executors
  * (a single file reads in parallel by byte range); `from_json` is a
  * per-row map. Unparseable lines are SURFACED in `parse_error`, never
  * silently dropped — at 100 TB a corrupt shard must show up in counts.
  */
object NdjsonFhir {

  private val identifierType: StructType = new StructType()
    .add("system", StringType).add("value", StringType)

  /** Bundle-entry resource fields the writeback pipeline shreds (P9). */
  val bundleSchema: StructType = new StructType()
    .add("resourceType", StringType)
    .add("id", StringType)
    .add("entry", ArrayType(new StructType()
      .add("fullUrl", StringType)
      .add("resource", new StructType()
        .add("resourceType", StringType)
        .add("id", StringType)
        .add("identifier", ArrayType(identifierType)))))

  /** Dual-projection read: one row per NDJSON line with the raw string,
    * the shredded struct, and a parse_error flag (a line that fails the
    * schema parses to a null struct — from_json never throws).
    */
  def read(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.read.textFile(path).toDF("resource_string")
      .filter(length(trim(col("resource_string"))) > 0)
      .select(
        col("resource_string"),
        from_json(col("resource_string"), schema).as("r"))
      .withColumn("parse_error", col("r").isNull ||
        col("r.resourceType").isNull)

  /** Tasks polled from an NDJSON file as a BATCH plan: the same parse
    * ([[TaskPoller.parse]]) and poll policy ([[Writeback.pollFilter]]) as
    * the store poll, reading the raw JSON from lines instead of a search.
    */
  def pollTasks(spark: SparkSession, path: String, cutoff: String,
      count: Int = 5): DataFrame =
    Writeback.pollFilter(
      TaskPoller.parse(spark.read.textFile(path).toDF("json"), "json"),
      cutoff, count)

  /** Bundle entries exploded to one row per resource, with the entry's
    * raw JSON rebuilt for downstream FHIRPath (the shredded child-table
    * view of SURVEY §1.1).
    */
  def entries(spark: SparkSession, path: String): DataFrame =
    read(spark, path, bundleSchema)
      .filter(!col("parse_error"))
      .select(col("r.id").as("bundle_id"),
        posexplode(col("r.entry")).as(Seq("entry_idx", "e")))
      .select(col("bundle_id"), col("entry_idx"),
        col("e.fullUrl").as("full_url"),
        col("e.resource.resourceType").as("resource_type"),
        col("e.resource.id").as("resource_id"),
        col("e.resource.identifier").as("identifier"))
}
