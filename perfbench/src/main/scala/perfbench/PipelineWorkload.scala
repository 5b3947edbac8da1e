package perfbench

import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable
import scala.util.Random

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.connect.FhirSinks
import graft.etl.OdsImport
import graft.sources.ZipCsv
import graft.streaming.{TaskPoller, Writeback}

/** The ODS import and the Task writeback against the in-memory FHIR store.
  *
  * The store lives for the whole run, as the reference's FHIR server does:
  * practices, GPs and written-back Tasks accumulate in it. An epoch is one
  * import of the national files (round A), the poll cycles that drain the
  * Tasks planted after it, a repeat of the same import (round B, all noop)
  * and the poll cycles after that. Epoch 0 loads the initial files; every
  * later epoch's files carry planted changes on the previous epoch's.
  * Every epoch has the same shape, so the share of each operation kind is
  * the same in every run. Epoch 0 is the cold one; at least two more are
  * timed, in whole epochs, until `--seconds` have passed.
  */
object PipelineWorkload {
  /** Sizes are a tenth of SURVEY.md's ≈7k practices and ≈50k GPs. The
    * per-epoch changes and `cyclesPerRound` are assumptions: the reference
    * records no change rates, and only the poll cadence (1 minute) of the
    * import-to-poll ratio.
    */
  final case class Sizes(practices: Int, gps: Int, updates: Int,
      newPractices: Int, newGps: Int, changedGps: Int, cyclesPerRound: Int)

  val FullSizes = Sizes(practices = 700, gps = 5000, updates = 35,
    newPractices = 18, newGps = 125, changedGps = 50, cyclesPerRound = 6)
  val TinySizes = Sizes(practices = 20, gps = 60, updates = 3,
    newPractices = 2, newGps = 5, changedGps = 4, cyclesPerRound = 6)
  /** `_count` of the reference's poll (ConsultationNoteWritebackX.py:67). */
  val TasksPerPoll = 5
  val Cutoff = "2025-01-01"
  val TaskSystem = "https://fhir.virtually.healthcare/Id/Encounter"

  final case class Practice(ods: String, name: String, grouping: String,
      postcode: String, phone: String, closed: String)
  final case class Gp(gmp: String, name: String, ods: String, started: String)
  final case class PlantedTask(id: String, authoredOn: String,
      outcome: String, notes: Int)

  /** The national files epoch by epoch, all drawn from the seed: `next()`
    * plants one epoch's changes on the current files.
    */
  final class OdsFiles(seed: Long, s: Sizes) {
    private val rnd = new Random(seed)
    private def letters(n: Int) =
      (0 until n).map(_ => ('A' + rnd.nextInt(26)).toChar).mkString
    private def postcode() =
      s"${letters(2)}${rnd.nextInt(20) + 1} ${rnd.nextInt(10)}${letters(2)}"
    private val prefix = ('A' + rnd.nextInt(26)).toChar
    private def practice(i: Int) = Practice(f"$prefix$i%05d",
      // some names need CSV quoting: a comma, or a doubled quote
      rnd.nextInt(20) match {
        case 0 => s"THE ${letters(5)}, ${letters(4)} SURGERY"
        case 1 => s"""THE "${letters(5)}" PRACTICE"""
        case _ => s"${letters(6)} MEDICAL CENTRE"
      },
      if (rnd.nextInt(10) == 0) "" else f"Y${rnd.nextInt(90) + 10}%02d",
      postcode(),
      if (rnd.nextInt(4) == 0) "" else f"0${rnd.nextInt(1000000000)}%09d",
      if (rnd.nextInt(25) == 0) f"2024${rnd.nextInt(12) + 1}%02d01" else "")
    private def gp(i: Int) = Gp(f"G$i%07d",
      s"${letters(7)} ${letters(2)}",
      practices(rnd.nextInt(practices.length)).ods,
      f"20${rnd.nextInt(20) + 5}%02d${rnd.nextInt(12) + 1}%02d01")

    var practices: Vector[Practice] = (0 until s.practices).map(practice).toVector
    var gps: Vector[Gp] = (0 until s.gps).map(gp).toVector

    /** Moves practices to a new postcode, adds practices and GPs, and
      * renames GPs. Practitioners are create-only, so a rename stays a noop.
      */
    def next(): Unit = {
      val moved = rnd.shuffle(practices.indices.toVector).take(s.updates).toSet
      practices = practices.zipWithIndex.map { case (p, i) =>
        if (!moved(i)) p
        else Iterator.continually(postcode()).find(_ != p.postcode)
          .map(pc => p.copy(postcode = pc)).get
      } ++ (practices.length until practices.length + s.newPractices)
        .map(practice)
      val renamed = rnd.shuffle(gps.indices.toVector).take(s.changedGps).toSet
      gps = gps.zipWithIndex.map { case (g, i) =>
        if (renamed(i)) g.copy(name = s"${letters(7)} ${letters(2)}") else g
      } ++ (gps.length until gps.length + s.newGps).map(gp)
    }
  }

  /** Tasks planted after import round `round` of `epoch`: exactly the
    * polls' worth of pollable ones (the queue is full at every poll), plus
    * a runaway and a pre-cutoff Task no poll may return.
    */
  def tasks(seed: Long, epoch: Int, round: Int,
      s: Sizes): (Seq[PlantedTask], Seq[PlantedTask]) = {
    val rnd = new Random(seed * 1000003L + epoch * 2 + round)
    val pollable = (0 until s.cyclesPerRound * TasksPerPoll).map { i =>
      PlantedTask(f"t$epoch-$round-$i%03d",
        f"2025-0${round + 3}-${i / 24 + 1}%02dT${i % 24}%02d:00:00",
        rnd.nextInt(10) match {
          case 0 | 1 => "cancelled"  // no consultation for its focus
          case 2 | 3 => "duplicate"  // already present in EMIS
          case _ => "completed"
        },
        rnd.nextInt(2))
    }
    val held = Seq(
      PlantedTask(s"t$epoch-$round-runaway", "2025-09-01T00:00:00",
        "runaway", 0),
      PlantedTask(s"t$epoch-$round-old", "2024-06-01T00:00:00", "old", 0))
    (pollable, held)
  }

  def csvField(v: String): String =
    if (v.exists(c => c == ',' || c == '"')) "\"" + v.replace("\"", "\"\"") + "\""
    else v

  def epraccurLine(p: Practice): String = {
    val f = Array.fill(26)("")
    f(0) = p.ods; f(1) = p.name; f(2) = p.grouping; f(4) = "1 HIGH STREET"
    f(9) = p.postcode; f(10) = "19740401"; f(11) = p.closed
    f(17) = p.phone
    f.map(csvField).mkString(",")
  }

  def egpcurLine(g: Gp): String = {
    val f = Array.fill(26)("")
    f(0) = g.gmp; f(1) = g.name; f(4) = "1 HIGH STREET"; f(10) = g.started
    f(12) = "A"; f(14) = g.ods
    f.map(csvField).mkString(",")
  }

  def writeZip(dir: Path, member: String, lines: Seq[String]): Unit = {
    Files.createDirectories(dir)
    val zos = new ZipOutputStream(Files.newOutputStream(dir.resolve(
      member.stripSuffix(".csv") + ".zip")))
    try {
      zos.putNextEntry(new ZipEntry(member))
      zos.write(lines.mkString("", "\r\n", "\r\n").getBytes("UTF-8"))
      zos.closeEntry()
    } finally zos.close()
  }

  def taskJson(t: PlantedTask, versionId: Int): String = {
    val notes = (0 until t.notes).map(i =>
      s"""{"time":"2025-01-0${i + 1}T00:00:00Z","text":"note $i"}""")
      .mkString("[", ",", "]")
    s"""{"resourceType":"Task","id":"${t.id}","status":"accepted",""" +
      s""""authoredOn":"${t.authoredOn}","meta":{"versionId":"$versionId"},""" +
      s""""focus":{"identifier":{"system":"$TaskSystem",""" +
      s""""value":"enc-${t.id}"}},"note":$notes}"""
  }

  def bundleFor(t: PlantedTask): String =
    s"""{"resourceType":"Bundle","entry":[""" +
      s"""{"fullUrl":"urn:p","resource":{"resourceType":"Patient",""" +
      s""""identifier":[{"system":"https://emis.com/Id/Patient/DBID",""" +
      s""""value":"pat-${t.id}"}]}},""" +
      s"""{"fullUrl":"urn:e","resource":{"resourceType":"Encounter",""" +
      s""""identifier":[{"system":"$TaskSystem","value":"enc-${t.id}"}]}},""" +
      s"""{"fullUrl":"urn:q","resource":{"resourceType":"QuestionnaireResponse",""" +
      s""""item":[{"linkId":"q","answer":[{"valueString":"${t.id}"}]}]}}]}"""

  private val mapper = new ObjectMapper

  def run(a: Args, tracer: Tracer, out: Outcome): SparkSession = {
    val sizes = if (a.scale == "tiny") TinySizes else FullSizes
    val (spark, _) = Main.setUp(a, tracer, out, layout = false)
    import spark.implicits._
    val sc = spark.sparkContext
    val stats = new StatsListener
    if (a.trace) sc.addSparkListener(stats)
    val ref = BenchStoreRef(s"perfbench-${a.seed}", timedCalls = a.trace)
    val store = ref.inner

    // per step of an epoch (r1, r1.cycle0, ..., r3.cycleN): its latencies
    val stepTimes = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val cycleTimes = mutable.ArrayBuffer.empty[Double]
    val roundTimes = mutable.ArrayBuffer.empty[Double]
    var importRows = 0L
    var writtenBack = 0L
    val actions = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var failedCycles = 0L
    var ops = 0L
    var polledTasks = 0L
    val outcomes = mutable.Map.empty[String, Long].withDefaultValue(0L)

    /** Store extract as the S2 source delivers it: one row per stored
      * resource of `rt` with its id, key, "system|value" identifier and
      * JSON.
      */
    def extract(rt: String): DataFrame = tracer("connect.extract") {
      val rows = store.all.toSeq.collect {
        case (k, json) if k.startsWith(rt + "/") =>
          (k.stripPrefix(rt + "/"), k, json)
      }
      rows.toDF("_id", "Key", "ResourceString").withColumn("Identifier",
        concat(get_json_object(col("ResourceString"), "$.identifier[0].system"),
          lit("|"), get_json_object(col("ResourceString"),
            "$.identifier[0].value")))
    }

    /** Applies an action frame; returns (inserted, updated). */
    def applyActions(plan: DataFrame, key: String, rt: String): (Long, Long) = {
      val p = tracer("etl.merge") {
        if (a.trace) plan.localCheckpoint(eager = true) else plan.cache()
      }
      val ins = tracer("connect.sink") {
        FhirSinks.createReturningIds(p.filter(col("action") === "insert"),
          key, "doc", rt, ref).count()
      }
      val upd = tracer("connect.sink") {
        FhirSinks.updateWhere(p.filter(col("action") === "update")
          .withColumn("_target_id", col("_id")), "_target_id", "doc", rt, ref)
      }
      p.unpersist(blocking = false)
      (ins, upd)
    }

    def importRound(dir: Path, epoch: Int, round: String,
        expectOrg: (Long, Long, Long), expectGp: (Long, Long, Long),
        timed: Boolean): Double = {
      sc.setLocalProperty("perfbench.tag", "import")
      val t0 = Stats.now
      val (org, gp) = tracer.op("etl.round") {
        val epr = tracer("sources.zipcsv") {
          val d = ZipCsv.read(spark, dir.resolve("epraccur.zip").toString,
            OdsImport.epraccurSchema)
          if (a.trace) d.localCheckpoint(eager = true) else d
        }
        val egp = tracer("sources.zipcsv") {
          val d = ZipCsv.read(spark, dir.resolve("egpcur.zip").toString,
            OdsImport.egpcurSchema)
          if (a.trace) d.localCheckpoint(eager = true) else d
        }
        val org = applyActions(tracer("etl.merge") {
          OdsImport.planOrganisations(
            OdsImport.mergeOrganisations(epr, extract("Organization")))
        }, "ODS", "Organization")
        val gp = applyActions(tracer("etl.merge") {
          OdsImport.planPractitioners(
            OdsImport.mergePractitioners(egp, extract("Practitioner")))
        }, "GMP", "Practitioner")
        (org, gp)
      }
      val dt = Stats.secs(t0)
      sc.setLocalProperty("perfbench.tag", null)
      val (ein, eup, total) = expectOrg
      out.check(s"r$round.organisation actions", org == ((ein, eup)),
        s"epoch $epoch: inserted/updated $org, planted ($ein,$eup)")
      out.check(s"r$round.practitioner actions",
        gp == ((expectGp._1, expectGp._2)),
        s"epoch $epoch: inserted/updated $gp, planted $expectGp")
      if (timed) {
        actions("insert") += org._1 + gp._1
        actions("update") += org._2 + gp._2
        actions("noop") += total - org._1 - org._2 + expectGp._3 - gp._1 - gp._2
      }
      dt
    }

    def storedBy(rt: String): Map[String, Seq[JsonNode]] =
      store.all.toSeq.collect { case (k, json) if k.startsWith(rt + "/") =>
        mapper.readTree(json) }.groupBy(_.path("identifier").path(0)
        .path("value").asText())

    val files = new OdsFiles(a.seed, sizes)

    def runEpoch(epoch: Int, timed: Boolean): Unit = {
      // inputs are the benchmark's, outside the timing
      val before = (files.practices.length.toLong, files.gps.length.toLong)
      if (epoch > 0) files.next()
      val dir = a.out.resolve(s"ods-$epoch")
      writeZip(dir, "epraccur.csv", files.practices.map(epraccurLine))
      writeZip(dir, "egpcur.csv", files.gps.map(egpcurLine))
      val planted = Seq(0, 1).map(tasks(a.seed, epoch, _, sizes))
      val all = planted.flatMap { case (p, h) => p ++ h }
      val consultations = all.filter(t => t.outcome == "completed" ||
          t.outcome == "duplicate")
        .map(t => (TaskSystem, s"enc-${t.id}", bundleFor(t)))
        .toDF("encounterSystem", "encounterValue", "bundleJson")
      val compositions = all.filter(_.outcome == "duplicate")
        .map(t => (s"pat-${t.id}", s"enc-${t.id}"))
        .toDF("patientId", "encounterId")
      val p = files.practices.length.toLong; val g = files.gps.length.toLong
      // round A: epoch 0 inserts everything; later epochs insert the new
      // practices and GPs and update the moved practices. Round B repeats
      // round A's files: every row is a noop.
      val roundA = if (epoch == 0) ((p, 0L, p), (g, 0L, g))
        else ((p - before._1, sizes.updates.toLong, p), (g - before._2, 0L, g))
      val rounds = Seq(("A", roundA._1, roundA._2),
        ("B", (0L, 0L, p), (0L, 0L, g)))
      rounds.zip(planted).foreach { case ((round, eo, eg), (pollable, held)) =>
        val rt = importRound(dir, epoch, round, eo, eg, timed)
        ops += 1
        if (timed) {
          roundTimes += rt
          stepTimes.getOrElseUpdate(s"r$round", mutable.ArrayBuffer.empty) += rt
          importRows += eo._3 + eg._3
        }
        (pollable ++ held).foreach { t =>
          store.update("Task", t.id, taskJson(t,
            if (t.outcome == "runaway") 1500 else 1 + t.notes))
        }
        val byCycle = pollable.sortBy(t => (t.authoredOn, t.id)).reverse
          .grouped(TasksPerPoll).toSeq
        byCycle.zipWithIndex.foreach { case (expected, c) =>
          sc.setLocalProperty("perfbench.tag", "cycle")
          val t0 = Stats.now
          val n = tracer.op("streaming.cycle") {
            val polled = tracer("streaming.poll") {
              val d = TaskPoller.poll(spark, ref, Cutoff, TasksPerPoll)
              if (a.trace) d.localCheckpoint(eager = true) else d
            }
            val wb = tracer("streaming.classify") {
              val w = Writeback.taskWriteback(
                Writeback.classify(polled, consultations, compositions))
              if (a.trace) w.localCheckpoint(eager = true) else w
            }
            tracer("connect.sink")(FhirSinks.writebackTasks(wb, ref))
          }
          val dt = Stats.secs(t0)
          sc.setLocalProperty("perfbench.tag", null)
          ops += 1
          out.check(s"r$round.cycle writes one poll", n == expected.length,
            s"epoch $epoch cycle $c wrote $n, expected ${expected.length}")
          // a written-back Task must still be the Task it was: resourceType,
          // id, authoredOn, meta and focus survive the status transition
          val lost = expected.filter { t =>
            val j = mapper.readTree(store.read("Task", t.id).getOrElse("{}"))
            j.path("resourceType").asText() != "Task" ||
            j.path("id").asText() != t.id ||
            j.path("authoredOn").asText() != t.authoredOn ||
            j.path("meta").path("versionId").isMissingNode ||
            j.path("focus").path("identifier").path("value").asText() !=
              s"enc-${t.id}"
          }
          if (lost.nonEmpty) failedCycles += 1
          if (timed) {
            cycleTimes += dt
            stepTimes.getOrElseUpdate(s"r$round.c$c",
              mutable.ArrayBuffer.empty) += dt
            writtenBack += n
            polledTasks += expected.length
          }
        }
        // every pollable Task reached its planted status with exactly one
        // writeback note; the held ones were never touched
        pollable.foreach { t =>
          val j = mapper.readTree(store.read("Task", t.id).get)
          val want = if (t.outcome == "duplicate") "completed" else t.outcome
          val status = j.path("status").asText()
          val notes = j.path("note").size()
          out.check(s"r$round.task status", status == want,
            s"${t.id}: status $status, planted $want")
          out.check(s"r$round.single writeback", notes == t.notes + 1,
            s"${t.id}: ${notes - t.notes} writeback notes")
          if (timed) outcomes(status) += 1
        }
        held.foreach { t =>
          val j = mapper.readTree(store.read("Task", t.id).get)
          out.check(s"r$round.held task untouched",
            j.path("status").asText() == "accepted" &&
              j.path("note").size() == 0, s"${t.id} was written back")
        }
      }
      // each code stored once, with its latest values
      val orgs = storedBy("Organization")
      val latest = files.practices.map(p => p.ods -> p).toMap
      out.check("organisations stored once", orgs.size == latest.size &&
        orgs.values.forall(_.size == 1),
        s"epoch $epoch: ${orgs.size} codes for ${latest.size} practices")
      out.check("organisations hold latest values", orgs.forall {
        case (ods, Seq(j)) => latest.get(ods).exists(p =>
          j.path("address").path(0).path("postalCode").asText() == p.postcode)
        case _ => false
      }, s"epoch $epoch: a stored postcode is stale")
      val pracs = storedBy("Practitioner")
      out.check("practitioners stored once",
        pracs.size == files.gps.length && pracs.values.forall(_.size == 1),
        s"epoch $epoch: ${pracs.size} codes for ${files.gps.length} GPs")
      deleteTree(dir)
      Main.log(s"epoch $epoch done")
    }

    // cold epoch, then whole epochs for the measured time
    val coldStart = Stats.now
    runEpoch(0, timed = false)
    out.e2e("cold_s", "s") = Stats.secs(coldStart)
    // at least two timed epochs: the first is still warming, so a run that
    // timed one epoch on a slow host and two on a fast one would compare
    // different states; the traced run times enough cycles for a tail
    val cyclesPerEpoch = 2 * sizes.cyclesPerRound
    val minEpochs = math.max(2,
      (a.minCycles + cyclesPerEpoch - 1) / cyclesPerEpoch)
    val storeBase = StoreTimes.ops.map(op =>
      op -> ((StoreTimes.count(op), StoreTimes.seconds(op)))).toMap
    val rowsBase = StoreTimes.searchRows.sum()
    if (a.trace) { org.apache.spark.perfbench.Bus.drain(sc); stats.byTag.clear() }
    val start = Stats.now
    var epochs = 0
    while (epochs < minEpochs || Stats.secs(start) < a.seconds) {
      epochs += 1
      runEpoch(epochs, timed = true)
    }
    val busy = roundTimes.sum + cycleTimes.sum
    out.e2e("suite_s", "s") =
      stepTimes.values.map(xs => Stats.median(xs.toSeq)).sum
    out.e2e("ops_per_s", "1/s") = (roundTimes.length + cycleTimes.length) / busy
    out.attempted = ops
    out.failed = failedCycles
    out.extra("epochs") = epochs + 1
    out.extra("cycle_samples_s") = cycleTimes.toSeq

    if (a.trace) {
      // per round, cycle or epoch of the timed epochs
      org.apache.spark.perfbench.Bus.drain(sc)
      val l = out.layers
      val tot = tracer.totals(start)
      val rounds = roundTimes.length.toDouble
      val cycles = cycleTimes.length.toDouble
      l("sources.zipcsv_s", "s") = tot.getOrElse("sources.zipcsv", 0.0) / rounds
      l("sources.rows", "count") = importRows / rounds
      l("etl.merge_s", "s") = tot.getOrElse("etl.merge", 0.0) / rounds
      l("etl.round_s", "s") = Stats.median(roundTimes.toSeq)
      l("etl.rows_per_s", "1/s") = importRows / roundTimes.sum
      Seq("insert", "update", "noop").foreach { k =>
        l(s"etl.actions.$k", "count") = actions(k).toDouble / epochs }
      StoreTimes.ops.foreach { op =>
        val (n0, s0) = storeBase(op)
        l(s"connect.${op}_n", "count") = (StoreTimes.count(op) - n0) / epochs.toDouble
        l(s"connect.${op}_s", "s") = (StoreTimes.seconds(op) - s0) / epochs
      }
      l("connect.search_rows", "count") =
        (StoreTimes.searchRows.sum() - rowsBase) / epochs.toDouble
      l("connect.sink_s", "s") = tot.getOrElse("connect.sink", 0.0) / epochs
      l("connect.extract_s", "s") = tot.getOrElse("connect.extract", 0.0) / epochs
      l("streaming.poll_s", "s") = tot.getOrElse("streaming.poll", 0.0) / cycles
      l("streaming.classify_s", "s") =
        tot.getOrElse("streaming.classify", 0.0) / cycles
      l("streaming.cycles", "count") = cycles
      l("streaming.cycle_p50_s", "s") = Stats.median(cycleTimes.toSeq)
      l("streaming.tasks_per_s", "1/s") = writtenBack / cycleTimes.sum
      Seq("completed", "cancelled").foreach { k =>
        l(s"streaming.outcome.$k", "count") = outcomes(k) / epochs.toDouble }
      l("streaming.yield", "ratio") = writtenBack.toDouble / polledTasks
      val jobs = Seq("import", "cycle").flatMap(t => Option(stats.byTag.get(t)))
      l("spark.jobs", "count") = jobs.map(_.jobs.get).sum / epochs.toDouble
      l("spark.tasks", "count") = jobs.map(_.tasks.get).sum / epochs.toDouble
      l("spark.cpu_s", "s") = jobs.map(_.cpuNs.get).sum / 1e9 / epochs
    }
    spark
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    import scala.jdk.CollectionConverters._
    Files.walk(p).iterator().asScala.toSeq.sortBy(-_.getNameCount)
      .foreach(Files.deleteIfExists(_))
  }
}
