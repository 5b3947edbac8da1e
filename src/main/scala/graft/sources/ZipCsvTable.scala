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
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{And, DataSourceRegister, EqualNullSafe, EqualTo, Filter, In, IsNotNull, IsNull, Not, Or, StringContains, StringEndsWith, StringStartsWith}
import org.apache.spark.sql.types._
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
    * one archive) as a DataFrame with the given headerless schema.
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
  *    26-column epraccur row never materializes the other 24 fields);
  *  - LIMIT pushdown stops each partition's read after `limit` rows
  *    (partial push — Spark applies the global limit on top), so
  *    `df.limit(5)` on a terabyte of archives opens each zip but decodes
  *    only 5 rows per archive rather than scanning them out;
  *  - FILTER pushdown (string columns: =, <=>, IN, IS [NOT] NULL,
  *    startswith/endswith/contains, AND/OR/NOT thereof) evaluates on the
  *    raw split fields — a row failing a pushed predicate never builds an
  *    InternalRow. Pushed filters stay residual in the plan, so the push
  *    is pure early pruning (the reference's predicate-at-source shape,
  *    dags/ODSImport.py:122,359).
  *
  * Parsing is RFC4180 with doubled-quote escaping — pandas read_csv's
  * default (doublequote=True) and therefore the reference's semantics
  * (dags/ODSImport.py:100). Only members ending in `.csv` are read.
  *
  * Schema: caller-supplied (`.schema(...)`, the headerless positional
  * contract), or inferred as all-string c1..cN by sniffing the first
  * matching member's first line. Empty fields — quoted or not — read as
  * NULL and blank lines are skipped, as Spark's own CSV reader does with
  * `escape='"'` (`ZipCsvSpec` pins the rows against it).
  */
class ZipCsvTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "zipcsv"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = ZipCsvTable.pathOf(options)
    val files = ZipCsvTable.listZips(path)
    require(files.nonEmpty, s"zipcsv: no archives under $path")
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val first = ZipCsvTable.firstLine(files.head, conf).getOrElse(
      throw new IllegalArgumentException(
        s"zipcsv: no '${ZipCsvTable.Suffix}' member with rows in ${files.head}"))
    val n = ZipCsvTable.splitCsv(first, Int.MaxValue).length
    StructType((1 to n).map(i => StructField(s"c$i", StringType, true)))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new ZipCsvTable(schema,
      new CaseInsensitiveStringMap(properties))
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

  private[sources] def firstLine(file: String,
      conf: Configuration): Option[String] = {
    val in = new Path(file).getFileSystem(conf).open(new Path(file))
    val zis = new ZipInputStream(in)
    try {
      var entry = zis.getNextEntry
      while (entry != null) {
        if (!entry.isDirectory && entry.getName.endsWith(Suffix)) {
          val r = new java.io.BufferedReader(
            new java.io.InputStreamReader(zis, "UTF-8"))
          var line = r.readLine()
          while (line != null && line.isEmpty) line = r.readLine()
          if (line != null) return Some(line)
        }
        entry = zis.getNextEntry
      }
      None
    } finally zis.close()
  }

  /** Can `f` be evaluated on the raw split fields? Only STRING columns
    * qualify (the raw field IS the value — no cast divergence to risk);
    * composites recurse. Pushed filters stay residual in the plan
    * (Spark's own FileScan convention), so pushdown only prunes rows
    * early — it can never change results.
    */
  private[sources] def supportedFilter(f: Filter, full: StructType): Boolean = {
    def isStr(attr: String): Boolean =
      full.fields.exists(fd => fd.name == attr && fd.dataType == StringType)
    f match {
      case EqualTo(a, _: String) => isStr(a)
      case EqualNullSafe(a, v) => isStr(a) && (v == null || v.isInstanceOf[String])
      case In(a, vs) =>
        isStr(a) && vs.forall(v => v == null || v.isInstanceOf[String])
      case IsNull(a) => full.fieldNames.contains(a)
      case IsNotNull(a) => full.fieldNames.contains(a)
      case StringStartsWith(a, _) => isStr(a)
      case StringEndsWith(a, _) => isStr(a)
      case StringContains(a, _) => isStr(a)
      case And(l, r) => supportedFilter(l, full) && supportedFilter(r, full)
      case Or(l, r) => supportedFilter(l, full) && supportedFilter(r, full)
      case Not(c) => supportedFilter(c, full)
      case _ => false
    }
  }

  /** Two-valued evaluation of a pushed filter over the raw fields (NULL
    * field ⇒ predicate false, like SQL's null⇒filtered). Under `Not` this
    * can only KEEP rows SQL would drop — never the reverse — and the
    * residual Filter node re-evaluates exactly, so over-keeping is safe.
    */
  private[sources] def evalFilter(f: Filter, pos: Map[String, Int],
      fields: Array[String]): Boolean = {
    def v(attr: String): String = {
      val p = pos(attr)
      if (p < fields.length) fields(p) else null
    }
    f match {
      case EqualTo(a, x) => val s = v(a); s != null && s == x
      case EqualNullSafe(a, x) =>
        val s = v(a); if (x == null) s == null else s == x
      case In(a, xs) => val s = v(a); s != null && xs.contains(s)
      case IsNull(a) => v(a) == null
      case IsNotNull(a) => v(a) != null
      case StringStartsWith(a, p) => val s = v(a); s != null && s.startsWith(p)
      case StringEndsWith(a, p) => val s = v(a); s != null && s.endsWith(p)
      case StringContains(a, p) => val s = v(a); s != null && s.contains(p)
      case And(l, r) => evalFilter(l, pos, fields) && evalFilter(r, pos, fields)
      case Or(l, r) => evalFilter(l, pos, fields) || evalFilter(r, pos, fields)
      case Not(c) => !evalFilter(c, pos, fields)
      case _ => true
    }
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
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownLimit {
  private var required: StructType = full
  private var limit: Int = -1
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def pushLimit(l: Int): Boolean = { limit = l; true }
  override def isPartiallyPushed(): Boolean = true // per-partition limit

  /** Push string-column predicates to the line parser (evaluated on the
    * raw split fields — rows failing them never build an InternalRow).
    * ALL filters are returned as residual: Spark keeps the exact Filter
    * node on top, so the push is pure early pruning (the same contract
    * Spark's own FileScanBuilder uses).
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => ZipCsvTable.supportedFilter(f, full))
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = {
    // ship only the fs-relevant conf as a plain map (public-API-safe
    // serialization; SerializableConfiguration is spark-private)
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val confMap = conf.iterator().asScala
      .map(e => e.getKey -> e.getValue).toMap
    ZipCsvScan(full, required, pushed, limit,
      ZipCsvTable.pathOf(options), confMap)
  }
}

case class ZipCsvScan(full: StructType, required: StructType,
    filters: Array[Filter], pushedLimit: Int, path: String,
    confMap: Map[String, String]) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"zipcsv $path, ReadSchema: ${required.simpleString}" +
      (if (filters.nonEmpty)
        s", PushedFilters: [${filters.mkString(", ")}]" else "") +
      (if (pushedLimit >= 0) s", PushedLimit: $pushedLimit" else "")

  override def planInputPartitions(): Array[InputPartition] =
    ZipCsvTable.listZips(path).map(f =>
      ZipCsvInputPartition(f): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    ZipCsvReaderFactory(full, required, filters, pushedLimit, confMap)
}

case class ZipCsvInputPartition(file: String) extends InputPartition

case class ZipCsvReaderFactory(full: StructType, required: StructType,
    filters: Array[Filter], pushedLimit: Int,
    confMap: Map[String, String]) extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] =
    new ZipCsvPartitionReader(
      partition.asInstanceOf[ZipCsvInputPartition].file,
      full, required, filters, pushedLimit, confMap)
}

/** One archive's reader: walks matching members, splits each line only up
  * to the last required position, emits the pruned row. Bounded by the
  * pushed limit.
  */
class ZipCsvPartitionReader(file: String, full: StructType,
    required: StructType, filters: Array[Filter], pushedLimit: Int,
    confMap: Map[String, String])
    extends PartitionReader[InternalRow] {

  // required field -> its position in the full positional schema
  private val positions: Array[Int] =
    required.fields.map(f => full.fieldIndex(f.name))
  // filter-referenced fields may sit beyond the projection: the split
  // must reach them too
  private val filterPos: Map[String, Int] =
    filters.flatMap(_.references).distinct
      .map(a => a -> full.fieldIndex(a)).toMap
  private val maxFields: Int =
    ((positions.toSeq ++ filterPos.values) match {
      case s if s.isEmpty => Seq(0)
      case s => s.map(_ + 1)
    }).max

  private var zis: ZipInputStream = _
  private var reader: java.io.BufferedReader = _
  private var current: InternalRow = _
  private var emitted = 0
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
    if (pushedLimit >= 0 && emitted >= pushedLimit) return false
    var fields: Array[String] = null
    var accepted = false
    while (!accepted) {
      val line = nextLine()
      if (line == null) return false
      fields = ZipCsvTable.splitCsv(line, maxFields)
      accepted = filters.forall(f =>
        ZipCsvTable.evalFilter(f, filterPos, fields))
    }
    val values = new Array[Any](positions.length)
    var i = 0
    while (i < positions.length) {
      val pos = positions(i)
      val raw = if (pos < fields.length) fields(pos) else null
      values(i) =
        if (raw == null) null
        else required.fields(i).dataType match {
          case StringType => UTF8String.fromString(raw)
          case IntegerType => tryNum(raw.trim.toInt)
          case LongType => tryNum(raw.trim.toLong)
          case DoubleType => tryNum(raw.trim.toDouble)
          case BooleanType => tryNum(raw.trim.toBoolean)
          case dt => throw new UnsupportedOperationException(
            s"zipcsv: unsupported read type $dt")
        }
      i += 1
    }
    current = new GenericInternalRow(values)
    emitted += 1
    true
  }

  // PERMISSIVE-mode convention: a malformed numeric field reads as NULL,
  // never kills the archive scan
  private def tryNum(v: => Any): Any =
    try v catch { case _: IllegalArgumentException => null }

  override def get(): InternalRow = current
  override def close(): Unit = if (zis != null) zis.close()
}
