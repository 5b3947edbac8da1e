package graft.connect

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** S4–S9 — the FHIR REST boundary behind an interface (SURVEY.md §7.1
  * layer 5). The engine's plans never call HTTP; sources materialize
  * search results into DataFrames, sinks apply action frames per
  * partition. Tests (and the harness) run against [[InMemoryFhirStore]];
  * a production deployment implements [[FhirStore]] over its HTTP client
  * with per-partition connection reuse and bounded retry (X9).
  *
  * Design for the reference's sink-with-feedback quirk
  * (dags/ODSImport.py:246-256 — POST returns the new id, which later joins
  * need): [[FhirSinks.createReturningIds]] is a *transform*, not a terminal
  * sink: mapPartitions posts each document and yields (key, id) rows back
  * as a DataFrame.
  */
trait FhirStore extends Serializable {
  def create(resourceType: String, json: String): String // returns new id
  def update(resourceType: String, id: String, json: String): Unit
  def delete(resourceType: String, id: String): Unit
  def read(resourceType: String, id: String): Option[String]
  def search(resourceType: String, param: (String, String)*): Seq[String]
}

/** Deterministic, process-local store for tests/fixtures. Registered by
  * name so executor threads (local mode) resolve the same instance.
  */
class InMemoryFhirStore extends FhirStore {
  private val data = new ConcurrentHashMap[String, String]() // "Type/id" -> json
  private val seq = new AtomicLong(0)

  override def create(resourceType: String, json: String): String = {
    val id = seq.incrementAndGet().toString
    data.put(s"$resourceType/$id", json)
    id
  }
  override def update(resourceType: String, id: String, json: String): Unit =
    data.put(s"$resourceType/$id", json)
  override def delete(resourceType: String, id: String): Unit =
    data.remove(s"$resourceType/$id")
  override def read(resourceType: String, id: String): Option[String] =
    Option(data.get(s"$resourceType/$id"))
  /** Key-scoped match on the TOP-LEVEL field named `key` (FHIR search
    * parameter semantics): parsed comparison, so a value appearing in an
    * unrelated/nested field (a note mentioning 'accepted', an output
    * item's own `status`) can't false-positive, and escaped characters in
    * values compare correctly.
    */
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper
  private def fieldMatches(json: String, key: String, value: String): Boolean =
    if (key.isEmpty) true
    else
      try {
        val node = mapper.readTree(json).path(key)
        !node.isMissingNode && node.asText() == value
      } catch { case _: Exception => false }

  override def search(resourceType: String, param: (String, String)*): Seq[String] = {
    val prefix = s"$resourceType/"
    data.asScala.collect {
      case (k, v) if k.startsWith(prefix) &&
        param.forall { case (key, value) => fieldMatches(v, key, value) } => v
    }.toSeq.sorted
  }
  def size: Int = data.size
  def all: Map[String, String] = data.asScala.toMap
}

object InMemoryFhirStore {
  private val registry = new ConcurrentHashMap[String, InMemoryFhirStore]()
  def named(name: String): InMemoryFhirStore =
    registry.computeIfAbsent(name, _ => new InMemoryFhirStore)
}

/** A serializable handle that re-resolves the store on executors —
  * the indirection that lets a task deserialize cheap coordinates
  * (a fixture name, a base URL) and bind the per-JVM resources
  * (registry instance, pooled HTTP client) lazily on its own side.
  */
trait StoreRef extends Serializable { def store: FhirStore }

object StoreRef {
  /** Fixture store by registry name (the original StoreRef shape). */
  def apply(name: String): StoreRef = InMemoryStoreRef(name)
}

case class InMemoryStoreRef(name: String) extends StoreRef {
  def store: FhirStore = InMemoryFhirStore.named(name)
}

/** Production coordinates: resolves to an [[HttpFhirStore]] sharing the
  * executor-JVM-wide pooled client for `baseUrl`.
  */
case class HttpStoreRef(baseUrl: String, retries: Int = 3,
    retryDelayMs: Long = 0, requestTimeoutSec: Long = 30) extends StoreRef {
  def store: FhirStore =
    new HttpFhirStore(baseUrl, retries, retryDelayMs, requestTimeoutSec)
}

object FhirSources {
  /** S4: a FHIR search materialized as a DataFrame of resource JSON, one
    * `resource` row per match. Search params compile to pushed filters at
    * the store.
    */
  def search(spark: SparkSession, ref: StoreRef, resourceType: String,
      params: (String, String)*): DataFrame = {
    implicit val enc: Encoder[String] = Encoders.STRING
    spark.createDataset(ref.store.search(resourceType, params: _*))
      .toDF("resource")
  }
}

object FhirSinks {
  /** S6 with feedback: POST every row's `jsonCol`, return (key, new id).
    * Partition-parallel, one store handle per partition — the shape an
    * HTTP implementation needs for connection pooling.
    */
  def createReturningIds(df: DataFrame, keyCol: String, jsonCol: String,
      resourceType: String, ref: StoreRef): DataFrame = {
    val spark = df.sparkSession
    implicit val enc: Encoder[(String, String)] =
      Encoders.tuple(Encoders.STRING, Encoders.STRING)
    val ds = df.select(col(keyCol).cast("string"), col(jsonCol))
      .as[(String, String)](enc)
    ds.mapPartitions { rows =>
      val store = ref.store
      rows.map { case (k, json) => (k, store.create(resourceType, json)) }
    }.toDF(keyCol, "new_id")
  }

  /** S7: conditional PUT — apply only rows an Upsert plan marked `update`. */
  def updateWhere(df: DataFrame, idCol: String, jsonCol: String,
      resourceType: String, ref: StoreRef): Long = {
    val n = df.sparkSession.sparkContext.longAccumulator("updates")
    df.select(col(idCol).cast("string"), col(jsonCol)).foreachPartition {
      (rows: Iterator[org.apache.spark.sql.Row]) =>
        val store = ref.store
        rows.foreach { r => store.update(resourceType, r.getString(0), r.getString(1)); n.add(1) }
    }
    n.value
  }

  /** S8: DELETE each id (the dedup result set, U4). */
  def deleteAll(df: DataFrame, idCol: String, resourceType: String,
      ref: StoreRef): Long = {
    val n = df.sparkSession.sparkContext.longAccumulator("deletes")
    df.select(col(idCol).cast("string")).foreachPartition {
      (rows: Iterator[org.apache.spark.sql.Row]) =>
        val store = ref.store
        rows.foreach { r => store.delete(resourceType, r.getString(0)); n.add(1) }
    }
    n.value
  }

  /** S9: Task writeback — per row, GET the latest Task, then PUT the
    * `{status, note, output}` delta in its place. The GET's result is not
    * used: no version is re-checked and the delta replaces the whole
    * resource, so fields outside it are lost. The reference merges the
    * delta into the re-read Task and compares `versionId` before its PUT
    * (ConsultationNoteWritebackX.py:128-207).
    */
  def writebackTasks(updates: DataFrame, ref: StoreRef): Long = {
    val n = updates.sparkSession.sparkContext.longAccumulator("writebacks")
    updates.select(col("id").cast("string"), to_json(struct(
        col("status"), col("note"), col("output"))).as("delta"))
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        val store = ref.store
        rows.foreach { r =>
          val id = r.getString(0)
          store.read("Task", id) // latest-version re-read (state in store)
          store.update("Task", id, r.getString(1))
          n.add(1)
        }
      }
    n.value
  }
}
