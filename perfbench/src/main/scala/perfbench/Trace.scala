package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval at a layer boundary. Spans of one operation share
  * `op`; `parent` is the span open on the same thread when this one began.
  */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled (the untraced runs) it only runs the
  * body, so the end-to-end figures carry no tracing cost.
  */
final class Tracer(val enabled: Boolean) {
  private val nextId = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, Long)]] { // (span id, op id)
    override def initialValue(): List[(Long, Long)] = Nil
  }

  /** Starts a new operation: spans opened inside it share its id. */
  def op[T](name: String)(body: => T): T = span(name, newOp = true)(body)

  def apply[T](name: String)(body: => T): T = span(name, newOp = false)(body)

  private def span[T](name: String, newOp: Boolean)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.incrementAndGet()
      val outer = stack.get()
      val parent = outer.headOption.map(_._1).getOrElse(0L)
      val opId = if (newOp || outer.isEmpty) id else outer.head._2
      stack.set((id, opId) :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, opId, name, t0, System.nanoTime()))
        stack.set(outer)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  /** Busy time per span name, in seconds, of the spans begun after
    * `sinceNs`.
    */
  def totals(sinceNs: Long): Map[String, Double] =
    all.filter(_.startNs >= sinceNs).groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.endNs - s.startNs).sum / 1e9 }

  /** Self time per layer (the span name's first dot-separated part): each
    * span's duration minus the part of it that its children cover.
    */
  def selfTimeByLayer: Map[String, Double] = {
    val children = all.groupBy(_.parent)
    all.groupBy(_.name.takeWhile(_ != '.')).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = union(children.getOrElse(s.id, Nil)
          .map(c => (c.startNs max s.startNs, c.endNs min s.endNs)))
        (s.endNs - s.startNs - covered).max(0L)
      }.sum / 1e9
    }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += (curE - curS).max(0L); curS = s; curE = e }
      else curE = curE max e
    }
    total + (curE - curS).max(0L)
  }

  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      w.newLine()
    } finally w.close()
  }
}

/** Spark's own statistics, summed per tag. A tag is the `perfbench.tag`
  * local property of the thread that submitted the job (a query name, or a
  * pipeline step), so concurrent clients are attributed correctly.
  */
final class StatsListener extends SparkListener {
  final class Acc {
    val jobs = new AtomicInteger(); val stages = new AtomicInteger()
    val tasks = new AtomicInteger()
    val cpuNs = new AtomicLong(); val gcMs = new AtomicLong()
    val shuffleRead = new AtomicLong(); val shuffleWrite = new AtomicLong()
    val spill = new AtomicLong(); val peakMem = new AtomicLong()
    val waitNs = new AtomicLong(); val waitedJobs = new AtomicInteger()
  }
  val byTag = new ConcurrentHashMap[String, Acc]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val jobSubmitMs = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  private def acc(tag: String): Acc = byTag.computeIfAbsent(tag, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p =>
      Option(p.getProperty("perfbench.tag"))).getOrElse("untagged")
    val a = acc(tag)
    a.jobs.incrementAndGet()
    jobSubmitMs.put(e.jobId, e.time)
    e.stageIds.foreach { s => stageTag.put(s, tag); stageJob.put(s, e.jobId) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageTag.get(e.stageInfo.stageId)).foreach(t =>
      acc(t).stages.incrementAndGet())

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    for {
      job <- Option(stageJob.get(e.stageId)).map(_.intValue)
      submitted <- Option(jobSubmitMs.remove(job))
      tag <- Option(stageTag.get(e.stageId))
    } {
      val a = acc(tag)
      a.waitNs.addAndGet((e.taskInfo.launchTime - submitted) * 1000000L)
      a.waitedJobs.incrementAndGet()
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageTag.get(e.stageId)).foreach { t =>
      val a = acc(t)
      a.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        a.cpuNs.addAndGet(m.executorCpuTime)
        a.gcMs.addAndGet(m.jvmGCTime)
        a.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        a.peakMem.accumulateAndGet(m.peakExecutionMemory, math.max)
      }
    }
}

final case class PlanStats(exchanges: Int, candidates: Long, outRows: Long)

/** Plan-side statistics of every successful action: the Exchange count
  * of the final adaptive plan, and the candidate and output row counts that
  * give a pair-generating query its yield. Events arrive on the listener
  * bus thread, so the caller drains the bus after each query and takes the
  * events that query produced.
  */
final class PlanListener extends QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private val pending = new java.util.concurrent.ConcurrentLinkedQueue[PlanStats]()

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    // a write runs eagerly as a command; its plan sits under the result
    val plan = qe.executedPlan match {
      case c: CommandResultExec => c.commandPhysicalPlan
      case p => p
    }
    val exchanges = collectWithSubqueries(plan) { case e: Exchange => e }.size
    def rows(p: SparkPlan): Long =
      p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    // the candidate set of a pair-generating query is the widest join
    // output in its plan; the topmost row count is what reaches the sink
    val candidates = collectWithSubqueries(plan) { case j: BaseJoinExec =>
      rows(j) }.foldLeft(0L)(_ max _)
    val root = collectWithSubqueries(plan) { case p: SparkPlan
      if p.metrics.contains("numOutputRows") => rows(p) }.headOption
      .getOrElse(0L)
    pending.add(PlanStats(exchanges, candidates, root))
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** Every event since the last call, oldest first. */
  def take(): Seq[PlanStats] =
    Iterator.continually(pending.poll()).takeWhile(_ != null).toSeq
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted; val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def now: Long = System.nanoTime()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** Minimal JSON writer for the result file (numbers, strings, maps, seqs). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case o => quote(o.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** Ordered metric map with the result file's {"value", "unit"} shape. */
final class Metrics {
  val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  def update(name: String, unit: String, v: Double): Unit =
    values(name) = (v, unit)
  def toJson: mutable.LinkedHashMap[String, Any] = values.map {
    case (k, (v, u)) =>
      k -> mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> u)
  }
}
