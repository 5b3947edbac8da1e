package graft.sources

import java.util.zip.ZipInputStream

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** S1 — distributed ZIP+CSV source (dags/ODSImport.py:77-100: GET zip →
  * open member csv → headerless positional parse). The reference unzips
  * driver-side with pandas; this source unzips in executors, so a
  * directory of archives (the 100 TB shape: one archive per publication
  * cycle) fans out across the cluster. The HTTP fetch stays outside the
  * plan (download to storage, then scan), the fetch-then-load split the
  * reference uses.
  */
object ZipCsv {

  /** Every `.csv` member of every zip under `path` (a directory, a glob or
    * one archive) as a DataFrame with the given headerless schema of
    * string columns.
    */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
    // the provider by class, not by its "zipcsv" short name: the short
    // name needs META-INF/services on the classpath, which a bare
    // compile output directory lacks
    spark.read.format(classOf[ZipCsvTableProvider].getName)
      .schema(schema).load(path)
}

/** The DataSource V2 connector behind [[ZipCsv.read]]
  * (`spark.read.format("zipcsv")`).
  *
  * Scale shape and pushdown story:
  *  - one [[InputPartition]] per zip archive — a directory of publication
  *    cycles fans out one task per archive across the cluster, any
  *    Hadoop-compatible filesystem; members stream line by line, never
  *    buffered whole;
  *  - COLUMN PRUNING reaches the parser: the reader splits each CSV line
  *    only up to the last required position (a 2-column projection of the
  *    26-column epraccur row never materializes the other 24 fields).
  *
  * Parsing is RFC4180 with doubled-quote escaping — pandas read_csv's
  * default (doublequote=True) and therefore the reference's semantics
  * (dags/ODSImport.py:100). It is line-based: a quoted field cannot span
  * lines, which the NHS ODS files never need. Only members ending in
  * `.csv` are read.
  *
  * Schema: caller-supplied (`.schema(...)`, the headerless positional
  * contract), every column a string; a missing schema or a non-string
  * column fails at planning. Empty fields — quoted or not — read as NULL
  * and blank lines are skipped, as Spark's own CSV reader does with
  * `escape='"'` (`ZipCsvSpec` pins the rows against it).
  */
class ZipCsvTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "zipcsv"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new IllegalArgumentException(
      "zipcsv: a schema is required (.schema(...)): the source reads " +
        "headerless positional string columns")

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    schema.fields.find(_.dataType != StringType).foreach(f =>
      throw new IllegalArgumentException(
        s"zipcsv: column ${f.name} is ${f.dataType.simpleString}; " +
          "every column must be a string"))
    new ZipCsvTable(schema, new CaseInsensitiveStringMap(properties))
  }
}

object ZipCsvTable {
  private[sources] def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "zipcsv: option 'path' is required")
    p
  }
  /** Archive members read as CSV; every other member is skipped. */
  private[sources] val Suffix = ".csv"

  /** Planning-time listing: directory, glob, or a single file.
    * `globStatus` first — it resolves literal paths AND patterns (a
    * `getFileStatus` probe would throw FileNotFoundException on a glob
    * like `dir/&#42;.zip` before any pattern branch ran) — then any matched
    * directory expands one level.
    */
  private[sources] def listZips(path: String): Seq[String] = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val matched = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
    val statuses = matched.flatMap(st =>
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq else Seq(st))
    statuses.filter(_.isFile).map(_.getPath.toString).sorted
  }

  /** RFC4180 positional split, stopping after `maxFields` fields — the
    * column-pruning fast path: unread trailing positions are never
    * materialized. Empty -> null whether quoted or not (Spark applies
    * nullValue="" after unquoting); escaped "" inside non-empty quotes.
    * Matches Spark's CSV defaults on these inputs (spec-pinned).
    */
  private[sources] def splitCsv(line: String,
      maxFields: Int): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val n = line.length
    var i = 0
    while (i <= n && out.length < maxFields) {
      if (i == n) { // trailing empty field after a final comma
        out += null
        i += 1
      } else if (line.charAt(i) == '"') {
        val sb = new java.lang.StringBuilder()
        i += 1
        var closed = false
        while (!closed && i < n) {
          val c = line.charAt(i)
          if (c == '"') {
            if (i + 1 < n && line.charAt(i + 1) == '"') { sb.append('"'); i += 2 }
            else { closed = true; i += 1 }
          } else { sb.append(c); i += 1 }
        }
        // Spark CSV applies nullValue="" AFTER unquoting, so a quoted
        // empty field reads as NULL exactly like an unquoted one
        // (spec-pinned against Spark's CSV reader)
        out += (if (sb.length == 0) null else sb.toString)
        // skip to the delimiter (tolerate junk after the close quote)
        while (i < n && line.charAt(i) != ',') i += 1
        if (i < n) i += 1 // consume the comma
        else i = n + 1    // line ended AT the quote: no trailing field
      } else {
        val j = line.indexOf(',', i)
        val end = if (j < 0) n else j
        val field = line.substring(i, end)
        out += (if (field.isEmpty) null else field)
        i = if (j < 0) n + 1 else j + 1
      }
    }
    out.toArray
  }
}

class ZipCsvTable(tableSchema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = s"zipcsv(${ZipCsvTable.pathOf(options)})"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(
      caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder =
    new ZipCsvScanBuilder(tableSchema, options)
}

class ZipCsvScanBuilder(full: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = full

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = {
    // ship only the fs-relevant conf as a plain map (public-API-safe
    // serialization; SerializableConfiguration is spark-private)
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val confMap = conf.iterator().asScala
      .map(e => e.getKey -> e.getValue).toMap
    ZipCsvScan(full, required, ZipCsvTable.pathOf(options), confMap)
  }
}

case class ZipCsvScan(full: StructType, required: StructType, path: String,
    confMap: Map[String, String]) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"zipcsv $path, ReadSchema: ${required.simpleString}"

  override def planInputPartitions(): Array[InputPartition] =
    ZipCsvTable.listZips(path).map(f =>
      ZipCsvInputPartition(f): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    ZipCsvReaderFactory(full, required, confMap)
}

case class ZipCsvInputPartition(file: String) extends InputPartition

case class ZipCsvReaderFactory(full: StructType, required: StructType,
    confMap: Map[String, String]) extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] =
    new ZipCsvPartitionReader(
      partition.asInstanceOf[ZipCsvInputPartition].file,
      full, required, confMap)
}

/** One archive's reader: walks matching members, splits each line only up
  * to the last required position, emits the pruned row.
  */
class ZipCsvPartitionReader(file: String, full: StructType,
    required: StructType, confMap: Map[String, String])
    extends PartitionReader[InternalRow] {

  // required field -> its position in the full positional schema
  private val positions: Array[Int] =
    required.fields.map(f => full.fieldIndex(f.name))
  private val maxFields: Int =
    if (positions.isEmpty) 0 else positions.max + 1

  private var zis: ZipInputStream = _
  private var reader: java.io.BufferedReader = _
  private var current: InternalRow = _
  private var inMember = false

  private def ensureOpen(): Unit =
    if (zis == null) {
      val conf = new Configuration(false)
      confMap.foreach { case (k, v) => conf.set(k, v) }
      val p = new Path(file)
      zis = new ZipInputStream(p.getFileSystem(conf).open(p))
    }

  /** Advance to the next non-blank line across matching members (blank
    * lines are skipped, matching Spark's CSV reader's univocity
    * skipEmptyLines default — spec-pinned parity).
    */
  private def nextLine(): String = {
    ensureOpen()
    while (true) {
      if (inMember) {
        val line = reader.readLine()
        if (line != null) {
          if (line.nonEmpty) return line
          // blank: skip
        } else {
          inMember = false // member exhausted: do NOT close (zip stream)
        }
      } else {
        val entry = zis.getNextEntry
        if (entry == null) return null
        if (!entry.isDirectory && entry.getName.endsWith(ZipCsvTable.Suffix)) {
          reader = new java.io.BufferedReader(
            new java.io.InputStreamReader(zis, "UTF-8"))
          inMember = true
        }
      }
    }
    null // unreachable
  }

  override def next(): Boolean = {
    val line = nextLine()
    if (line == null) return false
    val fields = ZipCsvTable.splitCsv(line, maxFields)
    val values = new Array[Any](positions.length)
    var i = 0
    while (i < positions.length) {
      val pos = positions(i)
      if (pos < fields.length && fields(pos) != null)
        values(i) = UTF8String.fromString(fields(pos))
      i += 1
    }
    current = new GenericInternalRow(values)
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = if (zis != null) zis.close()
}
