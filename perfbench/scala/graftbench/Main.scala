package graftbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.alerts.{AlertManager, InMemorySink}
import graft.core.{Catalog, Sessions, StepClock}
import graft.functions.GraftExtensions
import graft.pipeline.{MonitoringResult, TransformJob}
import graft.queries.Q
import graft.streaming.MonitoringLoop

/** The benchmark's JVM half. It times calls into graft's public surfaces only
  * (`Sessions.local`, `SparkEntry.benchQueries`, `MonitoringLoop.runBatch`,
  * `TransformJob.runHealed`, the SQL kernels of `GraftExtensions.register`)
  * and writes one raw JSON record; run.py turns it into metrics.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <run root> <out json>
  */
object Main {

  /** Spark's task slots, whatever the host's core count. Two slots on a
    * 4-vCPU host leave cores to the driver thread, the JIT and the GC, so a
    * virtual CPU that the host stalls does not hold up every stage. */
  val Slots = 2

  /** Shuffle partitions and default parallelism, pinned: they group the
    * partial sums of doubles, so the stored digests hold at this count only. */
  val Partitions = 4

  /** The relational and detector queries (q01–q23, q36–q38, q40, q41), whose
    * latency is per-query fixed overhead; llm_curation leaves them out. */
  val SqlFloor: Set[Int] = ((1 to 23) ++ Seq(36, 37, 38, 40, 41)).toSet

  def num(name: String): Int = name.drop(1).takeWhile(_.isDigit).toInt

  /** llm_curation's registry queries, q24–q67 outside SqlFloor, in registry
    * name order: q54 reads what q53 persists. */
  def queryOps: Seq[(String, (SparkSession, String) => DataFrame)] =
    SparkEntry.benchQueries.toSeq.sortBy(_._1).filter { q =>
      val n = num(q._1)
      n >= 24 && n <= 67 && !SqlFloor(n)
    }

  val Workloads = Seq("llm_curation", "monitor_stream")

  /** Batches per monitor_stream pass, and the mean events per batch. */
  val BatchesPerPass = 3
  val MeanBatch = 300
  /** monitor_stream's warm-up passes, after the two replays. */
  val WarmupPasses = 2
  /** Share of events that arrive one batch after their `ts` order places them. */
  val LateShare = 0.02

  final case class OpRec(name: String, pass: Int, phase: String, constructS: Double,
      executeS: Double, ok: Boolean, error: String, rows: Long, digest: String,
      leaked: Int, newFiles: Int, extra: String = "") {
    def json: String = Json.obj("name" -> Json.str(name), "pass" -> pass.toString,
      "phase" -> Json.str(phase), "construct_s" -> Json.num(constructS),
      "execute_s" -> Json.num(executeS), "ok" -> ok.toString,
      "error" -> Json.str(error), "rows" -> rows.toString,
      "digest" -> Json.str(digest), "leaked" -> leaked.toString,
      "new_files" -> newFiles.toString, "extra" -> (if (extra.isEmpty) "{}" else extra))
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, root, out) = args
    require(Workloads.contains(workload), s"unknown workload $workload")
    new Main(workload, seedS.toLong, secondsS.toDouble, traceS == "1", root).run(out)
  }

  def countFiles(dir: File): Int =
    if (!dir.exists) 0
    else if (dir.isFile) 1
    else Option(dir.listFiles).map(_.map(countFiles).sum).getOrElse(0)

  def bytesUnder(f: File): Long =
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(bytesUnder).sum).getOrElse(0L)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** The alert conditions MonitoringRunner guards its dispatch with, as
    * (type, severity, title) — replayed through a fresh AlertManager to check
    * the loop's alertsSent and to count the suppressed ones. */
  def triggered(r: MonitoringResult): Seq[(String, String, String)] = Seq(
    r.feeds.filter(_.missingFeeds.nonEmpty).map(s =>
      ("missing_feeds", s.severity, s"${s.missingFeeds.size} feeds missing")),
    r.revenue.filter(_.isAnomaly).map(s => ("revenue_anomaly", s.severity, "Revenue anomaly detected")),
    r.volume.filter(_.isAnomaly).map(s => ("volume_anomaly", s.severity, "Transaction volume anomaly")),
    r.freshness.filter(_.isStale).map(s => ("stale_data", s.severity, "Stale data sources")),
    r.patterns.filter(_.hasBreaks).map(s => ("pattern_break", s.severity, s"${s.breaks.size} pattern breaks")),
    r.recon.filter(!_.isReconciled).map(s => ("reconciliation", s.severity, "Source/destination mismatch")),
    r.sla.filter(_.willBreachSla).map(s => ("sla_breach", s.severity, "SLA breach projected")),
    r.quality.filter(_.hasDegradation).map(s => ("quality_degradation", s.severity, "Data quality degradation"))
  ).flatten
}

final class Main(workload: String, seed: Long, seconds: Double, trace: Boolean, root: String) {
  import Main._

  private val rec = new Recorder(false)
  private var listener: JobListener = _
  private val ops = mutable.ArrayBuffer.empty[OpRec]
  private val passes = mutable.ArrayBuffer.empty[(Int, String, Double)]
  private val problems = mutable.ArrayBuffer.empty[String]
  private var heapPeakMb = 0.0
  private var spark: SparkSession = _
  private val dataDir = s"$root/data"
  private val annRoot = s"$root/ann"
  private val catalogRoot = s"$root/catalog"
  private val extra = mutable.ArrayBuffer.empty[(String, String)]

  /** Heap in use after a full GC. The second GC follows the ContextCleaner,
    * which frees broadcast blocks and shuffle state only after the first GC
    * has cleared their references; one GC alone reads a timing-dependent
    * share of them. */
  private def heapAfterGc(): Unit = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    heapPeakMb = math.max(heapPeakMb, used / 1048576.0)
  }

  def run(out: String): Unit = {
    // set-up: session, SQL kernels, generated inputs, fresh roots, warm-up
    System.setProperty("graft.ann.root", annRoot)
    val t0 = System.nanoTime()
    // Sessions.local sizes the shuffle partitions by its slot count; the
    // digests need them, and the default parallelism, at Partitions.
    System.setProperty("spark.default.parallelism", Partitions.toString)
    spark = Sessions.local(Slots)
    spark.conf.set("spark.sql.shuffle.partitions", Partitions.toString)
    val sessionS = secondsSince(t0)
    GraftExtensions.register(spark)
    DataGen.write(spark, dataDir)
    val body: Body = if (workload == "monitor_stream") new MonitorBody else new QueryBody
    val tw = System.nanoTime()
    body.warmUp()
    val warmupS = secondsSince(tw)
    // JVM start to the first timed op
    val setupS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

    if (!trace) timedPasses(body, "timed", seconds)
    else {
      // One untraced pass first, then the traced passes: the difference in
      // pass time is the tracing overhead.
      timedPasses(body, "untraced", 0)
      listener = new JobListener
      spark.sparkContext.addSparkListener(listener)
      rec.enabled = true
      rec.span("run", "run")(timedPasses(body, "traced", seconds / 2))
      rec.span("kernels", "sweep")(extra += "kernels" -> Kernels.sweep(spark, seed, rec))
      extra += "heal" -> heal()
      org.apache.spark.sql.execution.BenchBridge.drainListenerBus(spark.sparkContext)
    }
    body.check()

    val json = Json.obj(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "slots" -> Slots.toString, "traced" -> trace.toString,
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "setup_s" -> Json.num(setupS),
      "session_start_s" -> Json.num(sessionS),
      "warmup_s" -> Json.num(warmupS),
      "passes" -> Json.arr(passes.map { case (p, ph, s) =>
        Json.obj("pass" -> p.toString, "phase" -> Json.str(ph), "seconds" -> Json.num(s)) }),
      "ops" -> Json.arr(ops.map(_.json)),
      "heap_peak_mb" -> Json.num(heapPeakMb),
      "final_files" -> body.tableFiles.toString,
      "problems" -> Json.arr(problems.map(Json.str)),
      "inputs" -> body.inputs,
      "reference" -> body.reference,
      "spans" -> Json.arr(rec.spans.map(_.json)),
      "listener" -> Option(listener).map(_.json).getOrElse("null"),
      "extra" -> Json.obj(extra.toSeq: _*))
    Files.writeString(Paths.get(out), json)
    spark.stop()
  }

  /** Closed loop, one client: ops back to back, pass after pass, until
    * `budget` seconds have gone and at least one pass is complete. A pass cut
    * short still contributes its ops but no pass time. */
  private def timedPasses(body: Body, phase: String, budget: Double): Unit = {
    val t0 = System.nanoTime()
    var p = 0
    var complete = false
    while (!complete || secondsSince(t0) < budget) {
      p += 1
      val tp = System.nanoTime()
      val done = rec.span(s"pass$p", "pass")(
        body.pass(p, phase, () => complete && secondsSince(t0) >= budget))
      if (done) passes += ((p, phase, secondsSince(tp)))
      complete ||= done
      heapAfterGc()
    }
  }

  private def heal(): String = {
    val cat = new Catalog(spark, s"$root/heal")
    val orders = Q.t(spark, dataDir, "orders")
    val expected = orders.count()
    cat.save(orders, "selfhealing.orders")
    val t0 = System.nanoTime()
    val (rows, attempts) = rec.span("heal", "heal")(
      new TransformJob(cat).runHealed("selfhealing..orders", "output.orders"))
    val s = secondsSince(t0)
    if (rows != expected || !attempts.exists(_.healed))
      problems += s"heal: $rows rows (expected $expected), attempts $attempts"
    Json.obj("seconds" -> Json.num(s), "attempts" -> attempts.size.toString)
  }

  private trait Body {
    def warmUp(): Unit
    /** Runs pass `p`, checking `stop` before each op; true when it ran every op. */
    def pass(p: Int, phase: String, stop: () => Boolean): Boolean
    def check(): Unit
    def inputs: String
    /** Files in the tables and artifacts the workload writes. */
    def tableFiles: Int
    /** The seed-independent result run.py compares with the stored one, as JSON. */
    def reference: String = "null"
  }

  /** llm_curation: each op is one registry query, constructed and then
    * executed by collecting its rows. The digest is computed after the timer
    * stops; run.py compares it with the stored one. */
  private final class QueryBody extends Body {
    private val list = queryOps

    def inputs: String = Json.obj(
      "tables" -> Json.obj(DataGen.Sizes.map { case (t, n) => t -> n.toString }: _*),
      "table_bytes" -> bytesUnder(new File(dataDir)).toString,
      "ops" -> list.size.toString)

    def tableFiles: Int = countFiles(new File(annRoot)) + countFiles(new File(catalogRoot))

    def warmUp(): Unit = list.foreach { case (name, fn) => ops += runOp(name, fn, 0, "warmup") }

    def pass(p: Int, phase: String, stop: () => Boolean): Boolean =
      list.forall { case (name, fn) => !stop() && { ops += runOp(name, fn, p, phase); true } }

    def check(): Unit = ()

    private def runOp(name: String, fn: (SparkSession, String) => DataFrame,
        p: Int, phase: String): OpRec = {
      val filesBefore = countFiles(new File(annRoot))
      val rddsBefore = spark.sparkContext.getPersistentRDDs.size
      var err = ""
      var rows: Array[Row] = null
      val t0 = System.nanoTime()
      var t1 = t0
      rec.span(name, "op") {
        try {
          val df = rec.span(s"$name:construct", "construct")(fn(spark, dataDir))
          t1 = System.nanoTime()
          rows = rec.span(s"$name:execute", "execute")(df.collect())
        } catch { case e: Throwable => err = e.toString }
      }
      val t2 = System.nanoTime()
      if (t1 == t0) t1 = t2
      val leaked = org.apache.spark.sql.execution.BenchBridge.cachedEntries(spark) +
        math.max(0, spark.sparkContext.getPersistentRDDs.size - rddsBefore)
      spark.sharedState.cacheManager.clearCache()
      val (n, digest) = if (rows == null) (0L, "") else (rows.length.toLong, Digest.of(rows))
      OpRec(name, p, phase, (t1 - t0) / 1e9, (t2 - t1) / 1e9, err.isEmpty, err, n,
        digest, leaked, countFiles(new File(annRoot)) - filesBefore)
    }
  }

  /** monitor_stream: the start of the events table, cut by the seed into
    * BatchesPerPass batches around MeanBatch events with a LateShare of
    * events arriving one batch late, replayed in `ts` order through
    * MonitoringLoop.runBatch. Every pass replays the same batches into a
    * fresh table with its own loop and AlertManager, so every pass, and every
    * commit, measures the same batches over the same table sizes however
    * fast they run. */
  private final class MonitorBody extends Body {
    private val events = Q.t(spark, dataDir, "events")
    private val schema = events.schema
    private val batches: IndexedSeq[IndexedSeq[Row]] = {
      val rows = events.orderBy("event_id").limit(BatchesPerPass * MeanBatch * 2)
        .collect().toIndexedSeq
      val r = new SplittableRandom(seed)
      var late = IndexedSeq.empty[Row]
      var i = 0
      // the events sent late from the last batch arrive after the pass
      (0 until BatchesPerPass).map { _ =>
        val size = MeanBatch * 3 / 4 + r.nextInt(MeanBatch / 2 + 1)
        val (deferred, now) = rows.slice(i, i + size).partition(_ => r.nextDouble() < LateShare)
        val b = late ++ now
        late = deferred
        i += size
        b
      }
    }
    private val catalog = new Catalog(spark, catalogRoot)
    private val expectedFeeds = DataGen.EventTypes.sorted
    private val eventBytes =
      bytesUnder(new File(s"$dataDir/events.parquet")).toDouble / DataGen.Sizes.toMap.apply("events")

    /** One pass's table, loop and alert state. `results` holds, per batch
      * that returned, its id, result, alert instant and index in `ops`. */
    private final class Stream(val table: String) {
      val clock = new StepClock(java.time.Instant.EPOCH)
      val sinks = Seq(new InMemorySink("log"), new InMemorySink("slack"), new InMemorySink("email"))
      val loop = new MonitoringLoop(catalog, table, new AlertManager(clock, sinks), expectedFeeds)
      val results = mutable.ArrayBuffer.empty[(Int, MonitoringResult, java.time.Instant, Int)]
      var ran = 0
    }
    private val streams = mutable.ArrayBuffer.empty[Stream]
    private var referenceJson = "null"

    def inputs: String = Json.obj(
      "events_table" -> DataGen.Sizes.toMap.apply("events").toString,
      "events_per_batch" -> Json.arr(batches.map(_.size.toString)),
      "batches_per_pass" -> BatchesPerPass.toString,
      "mean_batch" -> MeanBatch.toString, "late_share" -> Json.num(LateShare),
      "event_bytes" -> Json.num(eventBytes))

    def tableFiles: Int = streams.filter(_.ran == BatchesPerPass).lastOption
      .map(s => countFiles(new File(tablePath(s.table)))).getOrElse(0)

    override def reference: String = referenceJson

    private def tablePath(ref: String): String = {
      val (ns, t) = catalog.parseRef(ref)
      catalog.path(ns, t)
    }

    private def highWater(b: IndexedSeq[Row]): java.time.Instant =
      b.map(_.getAs[java.sql.Timestamp]("ts").toInstant).max

    private def runOne(s: Stream, id: Int, p: Int, phase: String): OpRec = {
      val b = batches(id)
      val at = highWater(b)
      s.clock.set(at)
      s.ran += 1
      val filesBefore = countFiles(new File(catalogRoot))
      val df = DataGen.frame(spark, schema, b)
      var err = ""
      var res: MonitoringResult = null
      val t0 = System.nanoTime()
      rec.span(s"batch$id", "batch") {
        try res = s.loop.runBatch(df, id.toLong)
        catch { case e: Throwable => err = e.toString }
      }
      val t = secondsSince(t0)
      val failedChecks =
        if (res == null) Nil
        else Seq("feeds" -> res.feeds, "revenue" -> res.revenue, "volume" -> res.volume,
          "freshness" -> res.freshness, "patterns" -> res.patterns, "recon" -> res.recon,
          "sla" -> res.sla, "quality" -> res.quality).collect { case (k, None) => k }
      if (failedChecks.nonEmpty) err = s"detector checks failed: ${failedChecks.mkString(",")}"
      if (res != null) s.results += ((id, res, at, ops.size))
      val ex = if (res == null) "" else Json.obj("batch" -> id.toString,
        "batch_rows" -> b.size.toString, "alerts_sent" -> res.alertsSent.toString,
        "alerts_triggered" -> triggered(res).size.toString,
        "ingested_bytes" -> Json.num(b.size * eventBytes))
      OpRec(s"batch$id", p, phase, 0.0, t, err.isEmpty, err, b.size.toLong, "", 0,
        countFiles(new File(catalogRoot)) - filesBefore, ex)
    }

    def pass(p: Int, phase: String, stop: () => Boolean): Boolean = {
      val s = new Stream(s"monitoring.$phase$p")
      streams += s
      batches.indices.forall(id => !stop() && { ops += runOne(s, id, p, phase); true })
    }

    private def body(report: String) =
      report.linesIterator.filterNot(_.contains("alerts sent")).mkString("\n")
    private var parityReport = ""

    /** Runs before the timed interval, so that the replays' batches also
      * warm the JIT:
      *  - the reference replay: the whole events table as one batch. Its
      *    statuses, alert count and report hash are compared by run.py with
      *    the stored ones; unlike the batches, it does not depend on the seed;
      *  - the parity replay: the pass's events as ONE batch, whose report
      *    every complete pass's last batch must give (checked after timing);
      *  - WarmupPasses passes. A batch is still getting faster after the
      *    first pass; these passes take most of that out of the timed ones. */
    def warmUp(): Unit = {
      val ref = new MonitoringLoop(catalog, "reference.events",
        new AlertManager(new StepClock(java.time.Instant.EPOCH), Nil), expectedFeeds)
        .runBatch(Q.t(spark, dataDir, "events"), 0L)
      val statuses = body(ref.report).linesIterator.drop(1).map(_.trim.split("\\s+", 2)).collect {
        case Array(k, v) => k -> Json.str(v)
      }.toSeq
      referenceJson = Json.obj("statuses" -> Json.obj(statuses: _*),
        "alerts_sent" -> ref.alertsSent.toString, "report_hash" -> Json.str(Digest.text(ref.report)))
      parityReport = body(new MonitoringLoop(catalog, "parity.events",
        new AlertManager(new StepClock(highWater(batches.last)), Nil), expectedFeeds)
        .runBatch(DataGen.frame(spark, schema, batches.flatten), 0L).report)
      (1 to WarmupPasses).foreach(p => pass(p, "warmup", () => false))
    }

    /** Checks after the timed interval:
      *  - each pass's table holds every event that pass ingested exactly once;
      *  - a fresh AlertManager fed the triggered conditions at the same
      *    instants sends exactly the alerts the loop sent, batch by batch;
      *  - each complete pass's last report equals the parity replay's. */
    def check(): Unit = {
      streams.filter(_.ran > 0).foreach { s =>
        val ingested = batches.take(s.ran).map(_.size).sum
        val stored = catalog.load(s.table)
        val storedRows = stored.count()
        val distinctIds = stored.select("event_id").distinct().count()
        if (storedRows != ingested || distinctIds != ingested)
          problems += s"monitor: ${s.table} holds $storedRows rows ($distinctIds ids), ingested $ingested"
        val replayClock = new StepClock(java.time.Instant.EPOCH)
        val replay = new AlertManager(replayClock, s.sinks.map(k => new InMemorySink(k.name)))
        s.results.foreach { case (id, r, at, op) =>
          replayClock.set(at)
          val sent = triggered(r).count { case (t, sev, title) => replay.sendAlert(t, sev, title) }
          if (sent != r.alertsSent) {
            problems += s"monitor: ${s.table} batch$id sent ${r.alertsSent} alerts, replay sends $sent"
            markFailed(op)
          }
        }
      }
      streams.filter(_.results.size == BatchesPerPass).foreach { s =>
        val (_, last, _, op) = s.results.last
        if (body(last.report) != parityReport) {
          problems += s"monitor: ${s.table}: batch-replay report differs from one-batch report:\n" +
            s"${body(last.report)}\n---\n$parityReport"
          markFailed(op)
        }
      }
    }

    private def markFailed(op: Int): Unit =
      ops(op) = ops(op).copy(ok = false, error = "output check failed")
  }
}
