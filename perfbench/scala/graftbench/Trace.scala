package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Minimal JSON writer for the raw record the harness hands to run.py. */
object Json {
  def str(s: String): String = {
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
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}

/** One span of the traced run: a layer boundary the harness crossed. Times
  * are epoch microseconds so they line up with the listener's job times. */
final case class Span(id: Int, parent: Int, name: String, kind: String,
    startUs: Long, endUs: Long) {
  def json: String = Json.obj("id" -> id.toString, "parent" -> parent.toString,
    "name" -> Json.str(name), "kind" -> Json.str(kind),
    "start_us" -> startUs.toString, "end_us" -> endUs.toString)
}

/** In-memory span recorder. Disabled, it only runs the body: the end-to-end
  * run carries no tracing cost. */
final class Recorder(var enabled: Boolean) {
  private val baseNanos = System.nanoTime()
  private val baseEpochUs = System.currentTimeMillis() * 1000L
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 1

  def nowUs: Long = baseEpochUs + (System.nanoTime() - baseNanos) / 1000L

  def span[T](name: String, kind: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      val start = nowUs
      try body
      finally {
        open = open.tail
        done += Span(id, parent, name, kind, start, nowUs)
      }
    }

  def spans: Seq[Span] = done.toSeq
}

/** Per-job record: which SQL execution (if any) ran it, when, and the call
  * sites of its stages — the two sources run.py maps to a graft module. */
final class JobRec(val jobId: Int, val execId: Long, val startMs: Long,
    val stageIds: Seq[Int], val stageSites: Seq[String]) {
  @volatile var endMs: Long = -1L
  @volatile var ok: Boolean = false
}

final class StageRec(val stageId: Int, val tasks: Int, val runMs: Long,
    val shuffleWriteBytes: Long, val shuffleReadRecords: Long,
    val spillBytes: Long, val inputRecords: Long, val outputBytes: Long)

/** Records every job, stage and SQL execution start. Attribution to graft
  * modules happens later, in run.py, from these raw call sites. */
final class JobListener extends SparkListener {
  val executions = new ConcurrentHashMap[Long, String]()
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => executions.put(e.executionId, e.details)
    case _ => ()
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val exec = Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs.put(j.jobId, new JobRec(j.jobId, exec, j.time,
      j.stageInfos.map(_.stageId), j.stageInfos.map(_.details)))
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit =
    Option(jobs.get(j.jobId)).foreach { r =>
      r.endMs = j.time
      r.ok = j.jobResult == JobSucceeded
    }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val i = s.stageInfo
    val m = i.taskMetrics
    if (m != null)
      stages.put(i.stageId, new StageRec(i.stageId, i.numTasks,
        m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.recordsRead,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten))
  }

  def json: String = {
    val js = jobs.values.asScala.toSeq.sortBy(_.jobId).map { r =>
      Json.obj("job" -> r.jobId.toString, "exec" -> r.execId.toString,
        "start_ms" -> r.startMs.toString, "end_ms" -> r.endMs.toString,
        "ok" -> r.ok.toString,
        "stages" -> Json.arr(r.stageIds.map(_.toString)),
        "stage_sites" -> Json.arr(r.stageSites.distinct.map(Json.str)))
    }
    val ss = stages.values.asScala.toSeq.sortBy(_.stageId).map { s =>
      Json.obj("stage" -> s.stageId.toString, "tasks" -> s.tasks.toString,
        "run_ms" -> s.runMs.toString,
        "shuffle_write_bytes" -> s.shuffleWriteBytes.toString,
        "shuffle_read_records" -> s.shuffleReadRecords.toString,
        "spill_bytes" -> s.spillBytes.toString,
        "input_records" -> s.inputRecords.toString,
        "output_bytes" -> s.outputBytes.toString)
    }
    val es = executions.asScala.toSeq.sortBy(_._1).map { case (id, d) =>
      Json.obj("exec" -> id.toString, "details" -> Json.str(d))
    }
    Json.obj("jobs" -> Json.arr(js), "stages" -> Json.arr(ss),
      "executions" -> Json.arr(es))
  }
}
