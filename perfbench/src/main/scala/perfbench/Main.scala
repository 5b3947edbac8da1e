package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Options the benchmark's launcher (run.py) passes to the measured JVM. */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    sfDir: String,
    out: Path,
    cpus: Int,
    spawnEpochNs: Long,
    queries: Seq[String],
    scale: String,
    setups: Int,
    setupBlock: Int,
    minCycles: Int,
    layoutRoot: Path)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v
      case other => sys.error(s"malformed arguments: ${other.mkString(" ")}")
    }.toMap
    def get(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(
      workload = get("workload"),
      seed = get("seed").toLong,
      seconds = get("seconds").toDouble,
      trace = get("trace") == "1",
      sfDir = get("sf-dir"),
      out = Paths.get(get("out")),
      cpus = get("cpus").toInt,
      spawnEpochNs = get("spawn-ns").toLong,
      queries = m.get("queries").toSeq.flatMap(_.split(",")).filter(_.nonEmpty),
      scale = m.getOrElse("scale", "full"),
      setups = m.getOrElse("setups", "3").toInt,
      setupBlock = m.getOrElse("setup-block", "1").toInt,
      minCycles = m.getOrElse("min-cycles", "0").toInt,
      layoutRoot = Paths.get(m.getOrElse("layout-root", get("out"))))
  }
}

/** What a workload hands back: the operation counts, the end-to-end and
  * per-layer metrics, and whatever the launcher needs to check outputs.
  */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val e2e = new Metrics
  val layers = new Metrics
  val extra = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += ((name, ok, if (ok) "" else detail))
}

object Main {
  def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  /** Prints a progress line with the seconds since the JVM started. */
  def log(msg: String): Unit = System.err.println(
    f"[perfbench ${(epochNs() - t0Ns) / 1e9}%8.3f] $msg")
  private var t0Ns = 0L

  /** Builds the session `a.setups` times and keeps the last one. The first
    * set-up is timed from the launch of this JVM and is one sample. The
    * rest are timed in blocks of `a.setupBlock` set-ups, and each block's
    * mean is one sample, so that a set-up of a tenth of a second is not
    * read off a single interval. `setup_s` is the median sample.
    * `Layout.benchLayout` keeps its
    * re-layout under `java.io.tmpdir` and reuses it across processes, so
    * `java.io.tmpdir` points at the layout the launcher built before the
    * run: every set-up finds it and does the same work, the table cache.
    */
  def setUp(a: Args, tracer: Tracer, out: Outcome,
      layout: Boolean): (SparkSession, String) = {
    val setupS = mutable.ArrayBuffer.empty[Double]
    val sessionS = mutable.ArrayBuffer.empty[Double]
    val layoutS = mutable.ArrayBuffer.empty[Double]
    var result: (SparkSession, String) = null
    for (i <- 0 until a.setups) {
      // a block starts on a collected heap, so that it does not pay for
      // collecting the last set-up's table cache
      if (i > 0 && (i - 1) % a.setupBlock == 0) System.gc()
      val startNs = if (i == 0) a.spawnEpochNs else epochNs()
      System.setProperty("java.io.tmpdir", a.layoutRoot.toString)
      val t0 = Stats.now
      val spark = tracer("core.session") {
        graft.core.Graft.session("perfbench")
      }
      sessionS += Stats.secs(t0)
      spark.sparkContext.setLogLevel("ERROR")
      val t1 = Stats.now
      val dir = if (!layout) a.sfDir else tracer("core.layout") {
        graft.core.Layout.benchLayout(spark, a.sfDir, a.cpus)
      }
      layoutS += Stats.secs(t1)
      setupS += (epochNs() - startNs) / 1e9
      log(f"set-up $i: ${setupS.last}%.3f s")
      if (i < a.setups - 1) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      } else result = (spark, dir)
    }
    require((a.setups - 1) % a.setupBlock == 0,
      s"${a.setups - 1} warm set-ups do not fill blocks of ${a.setupBlock}")
    val samples = setupS.head +:
      setupS.drop(1).grouped(a.setupBlock).map(b => b.sum / b.length).toSeq
    out.e2e("setup_s", "s") = Stats.median(samples)
    out.layers("core.session_s", "s") = Stats.median(sessionS.toSeq)
    out.layers("core.layout_s", "s") =
      if (layout) Stats.median(layoutS.toSeq) else 0.0
    out.extra("setup_samples_s") = samples
    val storage = result._1.sparkContext.getRDDStorageInfo
    out.layers("core.cache_mb", "MB") =
      storage.map(_.memSize).sum / 1048576.0
    result
  }

  /** Live heap after full collections, in MB. Spark's context cleaner
    * drops the shuffles and broadcasts a collection found unreachable only
    * afterwards, so the reading is repeated every half second until two
    * agree within 1 MB. A single reading 0.5 s after the first collection
    * read 32 MB more on most pipeline runs than on the rest; the repeated
    * ones settle at the lower value on every run.
    */
  def liveHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def reading(): Double = {
      Thread.sleep(500); System.gc(); System.gc()
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }
    System.gc()
    var last = reading()
    var next = reading()
    var n = 2
    while (math.abs(next - last) >= 1.0 && n < 10) {
      last = next; next = reading(); n += 1
    }
    next
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    t0Ns = a.spawnEpochNs
    Files.createDirectories(a.out)
    if (a.workload == "layout") {
      // builds the re-layout `setUp` reuses; run once, before any timing
      System.setProperty("java.io.tmpdir", a.layoutRoot.toString)
      val spark = graft.core.Graft.session("perfbench-layout")
      graft.core.Layout.benchLayout(spark, a.sfDir, a.cpus)
      spark.stop()
      return
    }
    val tracer = new Tracer(a.trace)
    val out = new Outcome
    val spark = a.workload match {
      case "queries" => QueryWorkload.run(a, tracer, out)
      case "pipeline" => PipelineWorkload.run(a, tracer, out)
      case w => sys.error(s"unknown workload $w")
    }
    log("workload done")
    if (a.trace) {
      Functions.run(spark, a, tracer, out)
      val self = tracer.selfTimeByLayer
      Seq("core", "queries", "functions", "sources", "etl", "connect",
        "streaming").foreach { layer =>
        out.layers(s"self.${layer}_s", "s") = self.getOrElse(layer, 0.0) }
      tracer.write(a.out.resolve("spans.jsonl"))
    }
    out.e2e("heap_live_mb", "MB") = liveHeapMb()
    val result = mutable.LinkedHashMap[String, Any](
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "e2e" -> out.e2e.toJson,
      "layers" -> out.layers.toJson,
      "checks" -> out.checks.map { case (n, ok, d) =>
        mutable.LinkedHashMap[String, Any]("name" -> n, "ok" -> ok,
          "detail" -> d) },
      "extra" -> out.extra)
    val tmp = a.out.resolve("result.json.tmp")
    Files.write(tmp, Json(result).getBytes("UTF-8"))
    Files.move(tmp, a.out.resolve("result.json"))
    spark.stop()
  }
}
