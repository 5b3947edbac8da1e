package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory + canonical table loaders for the graft engine.
  *
  * Tuned for the harness topology (single-JVM `local[N]`) but configured the
  * way a 1000-executor cluster job would be: AQE on (runtime coalescing +
  * skew-join splitting), small-data-tuned shuffle partitions, UTC session
  * time zone (oracle parity), broadcast threshold left at default so Catalyst
  * auto-broadcasts the dimension tables (region/nation/customer at test SF).
  */
object Graft {

  /** `local[N]` width and shuffle partitions of every graft session:
    * SPARK_GRAFT_CPUS, else every core the JVM sees.
    */
  def defaultCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** The one session builder of every main (Bench, Verify, RunQuery,
    * Explain) and of the benchmark harness, so they all run one config.
    */
  def session(appName: String = "graft"): SparkSession = {
    val cpus = defaultCpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    init(spark)
  }

  /** Apply engine settings + function registry to a session built
    * elsewhere (tests, notebooks). Idempotent.
    */
  def init(spark: SparkSession): SparkSession = {
    // events.ts may be parquet TIMESTAMP(NANOS) depending on harness
    // generation; harmless no-op for MICROS data. See Tables.events.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // ObjectHashAggregate (bitmap aggs, typed aggregates like QuantMeanAgg)
    // silently switches to SORT-BASED aggregation once its hash map passes
    // this many groups — the default 128 is below the real grouping
    // cardinality of the bitmap-distinct level-1 (q49 ~10^3 buckets; q70's
    // (grp, orderkey-bucket) at sf10 ~5.7k — the 100-replica key islands
    // each occupy ~19 bitmap buckets) and the per-label centroid aggregates
    // (640 labels), which would sort the whole fact input per partition.
    // 16384 keeps those in the hash path; the map holds only buckets
    // PRESENT in the partition (file-contiguous scans see few replicas),
    // worst case ~16k × ~5 KB ≈ 80 MB per task, transient to the stage.
    spark.conf.set(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "16384")
    graft.functions.compat.registerAll(spark)
    spark
  }
}

/** Loaders for the driver-provided parquet tables (TESTDATA.md). */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** events.ts has shipped as parquet TIMESTAMP(NANOS) in some harness
    * generations and TIMESTAMP(MICROS, NTZ) in others, so the loader is
    * SCHEMA-ADAPTIVE: with `nanosAsLong` set, NANOS data surfaces as
    * BIGINT (rebuild a micros timestamp with exact integer division — no
    * double round-trip, nanos since epoch exceed 2^53), while MICROS data
    * surfaces as TIMESTAMP_NTZ (cast to the session timestamp type; the
    * session TZ is pinned UTC so wall-clock == instant, matching what the
    * nanos rebuild produced). Either way callers see a TimestampType `ts`.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
