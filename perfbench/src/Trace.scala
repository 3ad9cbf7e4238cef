package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.SqlEnd

/** Totals for one layer (or for the whole timed window). */
final class Tally {
  var jobs = 0L; var jobMs = 0L; var stages = 0L; var tasks = 0L
  var taskMs = 0L; var gcMs = 0L; var shuffleBytes = 0L; var spillBytes = 0L
  var inputBytes = 0L; var exchanges = 0L
  var planMs = 0.0; var filesRead = 0L
}

/** Attributes Spark work to the benchmark's spans from outside the engine.
  *
  * Before each public engine call the benchmark sets a thread-local span
  * name with [[span]]; Spark copies local properties to every job the call
  * submits, including jobs from threads the call creates (`graft.Par`),
  * because its local properties are inherited by child threads. A
  * SparkListener keeps per-job and per-stage records in memory, and for
  * each SQL execution its planning time (the `QueryExecution.tracker`
  * phases) and scanned file count. [[layers]] folds them into per-layer totals at the end.
  *
  * A daemon tick is one span; its jobs are split by the call-site stack
  * Spark records for the job's SQL execution (or, outside SQL, in
  * `StageInfo.details`): a `graft.sources.NemCsv` frame makes a job a
  * split job, anything else in the tick is history bookkeeping (the
  * idempotency anti-joins and history appends). The execution's stack is
  * used because adaptive execution submits stage jobs from its own
  * threads, whose stacks hold no caller frames.
  */
final class Trace(spark: SparkSession) extends SparkListener with AdaptiveSparkPlanHelper {
  import Trace._

  private final case class Job(id: Int, span: String, callSite: String, execId: Long,
      start: Long, var end: Long, stageIds: Seq[Int])
  private final case class Stage(jobId: Int, numTasks: Int, runMs: Long, gcMs: Long,
      shuffleBytes: Long, spillBytes: Long, inputBytes: Long, shuffleMap: Boolean)
  private final case class Exec(execId: Long, planMs: Double, files: Long)

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageToJob = mutable.HashMap.empty[Int, Int]
  private val stageRecs = mutable.ArrayBuffer.empty[Stage]
  private val execs = mutable.ArrayBuffer.empty[Exec]
  private val execSite = mutable.HashMap.empty[Long, String]
  @volatile private var callbackNs = 0L
  @volatile private var lastEvent = System.nanoTime()

  spark.sparkContext.addSparkListener(this)

  /** Nanoseconds spent inside this tracer's callbacks: its own overhead. */
  def overheadS: Double = callbackNs / 1e9

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally {
      val t1 = System.nanoTime()
      callbackNs += t1 - t0
      lastEvent = t1
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(SpanKey))).getOrElse("")
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    val site = e.stageInfos.headOption.map(_.details).getOrElse("")
    synchronized {
      jobs(e.jobId) = Job(e.jobId, span, site, exec, e.time, -1L, e.stageIds)
      e.stageIds.foreach(s => stageToJob(s) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val si = e.stageInfo
    val m = si.taskMetrics
    synchronized {
      stageToJob.get(si.stageId).foreach { j =>
        stageRecs += (if (m == null) Stage(j, si.numTasks, 0, 0, 0, 0, 0, shuffleMap = false)
        else Stage(j, si.numTasks, m.executorRunTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead, shuffleMap = m.shuffleWriteMetrics.recordsWritten > 0))
      }
    }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => timed {
      synchronized { execSite(e.executionId) = e.details }
    }
    case e: SparkListenerSQLExecutionEnd => timed {
      SqlEnd.qe(e).foreach { qe =>
        val planMs = qe.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
        val files = try {
          collect(qe.executedPlan) { case s: FileSourceScanExec =>
            s.metrics.get("numFiles").map(_.value).getOrElse(0L)
          }.sum
        } catch { case scala.util.control.NonFatal(_) => 0L }
        synchronized { execs += Exec(e.executionId, planMs, files) }
      }
    }
    case _ =>
  }

  /** Wait until the listener bus has gone quiet: every started job has
    * ended and no event arrived for a short while. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    def pending = synchronized(jobs.values.exists(_.end < 0))
    while (System.nanoTime() < deadline &&
      (pending || System.nanoTime() - lastEvent < 300000000L)) Thread.sleep(50)
  }

  /** Layer of a job: its span's layer, with daemon ticks split by the
    * call-site stack. */
  private def layerOf(j: Job): String =
    if (j.span.isEmpty) Unattributed
    else if (j.span == "tick") {
      val site = execSite.getOrElse(j.execId, j.callSite)
      if (site.contains("graft.sources.NemCsv")) "sources.NemCsv"
      else "sources.HistoryTable"
    } else layerOfSpan(j.span)

  /** Per-layer totals over jobs submitted in [fromMs, toMs], plus the
    * key [[Window]] with the totals of every job in the window. */
  def layers(fromMs: Long, toMs: Long): Map[String, Tally] = synchronized {
    val out = mutable.HashMap.empty[String, Tally]
    def tally(k: String) = out.getOrElseUpdate(k, new Tally)
    val inWindow = jobs.values.filter(j => j.start >= fromMs && j.start <= toMs).toSeq
    val layerOfJob = inWindow.map(j => j.id -> layerOf(j)).toMap
    inWindow.foreach { j =>
      val dur = math.max(0L, (if (j.end < 0) toMs else j.end) - j.start)
      Seq(tally(layerOfJob(j.id)), tally(Window)).foreach { t => t.jobs += 1; t.jobMs += dur }
    }
    stageRecs.foreach { s =>
      layerOfJob.get(s.jobId).foreach { l =>
        Seq(tally(l), tally(Window)).foreach { t =>
          t.stages += 1; t.tasks += s.numTasks; t.taskMs += s.runMs; t.gcMs += s.gcMs
          t.shuffleBytes += s.shuffleBytes; t.spillBytes += s.spillBytes
          t.inputBytes += s.inputBytes
          if (s.shuffleMap) t.exchanges += 1
        }
      }
    }
    val execLayer = inWindow.filter(_.execId >= 0).map(j => j.execId -> layerOfJob(j.id)).toMap
    execs.foreach { x =>
      execLayer.get(x.execId).foreach { l =>
        Seq(tally(l), tally(Window)).foreach { t =>
          t.planMs += x.planMs; t.filesRead += x.files
        }
      }
    }
    out.toMap
  }

  /** Wall time in [fromMs, toMs] during which no job of the window ran. */
  def idleMs(fromMs: Long, toMs: Long): Long = synchronized {
    val iv = jobs.values.filter(j => j.start >= fromMs && j.start <= toMs)
      .map(j => (j.start, if (j.end < 0) toMs else math.min(j.end, toMs))).toSeq.sortBy(_._1)
    var busy = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) busy += curE - curS
    math.max(0L, toMs - fromMs - busy)
  }

  /** Every job as one JSON line: span, layer, start and end (epoch ms),
    * stages, tasks and executor run time. */
  def writeSpans(path: java.nio.file.Path): Unit = synchronized {
    val byJob = stageRecs.groupBy(_.jobId)
    val lines = jobs.values.map { j =>
      val st = byJob.getOrElse(j.id, Seq.empty)
      Json.render(Map("job" -> j.id, "span" -> j.span, "layer" -> layerOf(j),
        "execution" -> j.execId, "start_ms" -> j.start, "end_ms" -> j.end,
        "stages" -> st.size, "tasks" -> st.map(_.numTasks).sum, "task_ms" -> st.map(_.runMs).sum))
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(this)
}

object Trace {
  val SpanKey = "perfbench.span"
  val Window = "window"
  val Unattributed = "unattributed"

  /** Layer named by a span: the part before the first '.' picks the
    * module; registry spans keep their query family. */
  def layerOfSpan(span: String): String = span.split('.').toList match {
    case "sweep" :: _ => "plans.Compactor"
    case "vacuum" :: _ => "sources.HistoryTable"
    case "reconcile" :: _ => "pipeline.Reconcile"
    case "crunch" :: _ => "pipeline.Crunch"
    case "panel" :: _ => "queries"
    case "registry" :: fam :: _ => s"queries.Registry.$fam"
    case other :: _ => other
    case Nil => Unattributed
  }

  /** The active tracer, if this run traces; spans are no-ops otherwise. */
  @volatile var active: Option[Trace] = None

  /** Run `f` with span `name` set on this thread (and inherited by the
    * threads it starts). */
  def span[T](spark: SparkSession, name: String)(f: => T): T =
    if (active.isEmpty) f
    else {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, name)
      try f finally sc.setLocalProperty(SpanKey, prev)
    }
}
