package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** What one run records: named samples and values, operation counts and
  * failed checks. Written as JSON for `perfbench/run.py`, which turns the
  * samples into metrics. */
final class Rec {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val values = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def add(name: String, v: Double): Unit =
    synchronized { samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v }
  def set(name: String, v: Double): Unit = synchronized { values(name) = v }
  def check(ok: Boolean, msg: => String): Unit = if (!ok) synchronized { failures += msg }

  /** Run one counted operation (thread-safe). A failure is recorded and
    * counted; a designed bucket-guard refusal counts as attempted, not
    * failed. */
  def op[T](what: String)(f: => T): Option[T] = {
    synchronized { attempted += 1 }
    try Some(f) catch {
      case e: Throwable if graft.BenchGuard.isGuardRefusal(e) => None
      case scala.util.control.NonFatal(e) =>
        synchronized {
          failed += 1
          failures += s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        }
        System.err.println(s"[perfbench] $what failed")
        e.printStackTrace()
        None
    }
  }

  def json(extra: Map[String, Any]): String =
    Json.render(Map("attempted" -> attempted, "failed" -> failed, "failures" -> failures,
      "samples" -> samples, "values" -> values, "layers" -> layers) ++ extra)
}

/** Minimal JSON rendering of numbers, strings, maps and sequences. */
object Json {
  private def str(s: String) = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
  } + "\""

  def render(v: Any): String = v match {
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case l: Long => l.toString
    case i: Int => i.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case null => "null"
    case other => str(other.toString)
  }
}

/** One run's context: session, work directory, seed, length, tracer. */
final class Ctx(var spark: SparkSession, val work: Path, val seed: Long,
    val seconds: Int, val tracing: Boolean) {
  val rec = new Rec
  var trace: Option[Trace] = None

  def span[T](name: String)(f: => T): T = Trace.span(spark, name)(f)

  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  /** Log a phase boundary with the seconds since JVM start. */
  def mark(phase: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.1f s: $phase")

  def startTrace(): Unit = if (tracing) {
    val t = new Trace(spark)
    trace = Some(t); Trace.active = trace
  }

  /** Seconds taken by `f`, and its result. */
  def timed[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Used heap in MB after a full collection. */
  def heapRetainedMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
  }

  /** Spark-wide per-layer metrics for the timed window [fromMs, toMs]. */
  def sparkLayers(fromMs: Long, toMs: Long): Unit = trace.foreach { t =>
    t.drain()
    val ls = t.layers(fromMs, toMs)
    val w = ls.getOrElse(Trace.Window, new Tally)
    val wallS = (toMs - fromMs) / 1000.0
    val cores = spark.sparkContext.defaultParallelism
    val L = rec.layers
    L("spark.jobs") = w.jobs.toDouble
    L("spark.stages") = w.stages.toDouble
    L("spark.tasks") = w.tasks.toDouble
    L("spark.task_s") = w.taskMs / 1000.0
    L("spark.gc_s") = w.gcMs / 1000.0
    L("spark.shuffle_bytes") = w.shuffleBytes.toDouble
    L("spark.spill_bytes") = w.spillBytes.toDouble
    L("spark.busy_ratio") = if (wallS > 0) w.taskMs / 1000.0 / (wallS * cores) else 0.0
    L("spark.driver.idle_s") = t.idleMs(fromMs, toMs) / 1000.0
    L("spark.unattributed.job_s") = ls.get(Trace.Unattributed).map(_.jobMs / 1000.0).getOrElse(0.0)
    L("trace.overhead_s") = t.overheadS
  }

  def layerTally(fromMs: Long, toMs: Long): Map[String, Tally] =
    trace.map { t => t.drain(); t.layers(fromMs, toMs) }.getOrElse(Map.empty)
}

object Main {
  def session(): SparkSession = graft.GraftSession.local(4)

  def usage(): Nothing = {
    System.err.println("usage: perfbench.Main --workload ingest|analytics|registry " +
      "--seed N --seconds S --trace 0|1 --work DIR --out FILE [--data DIR]")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("selftest")) { SelfTest.main(args.drop(1)); return }
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", usage())
    val work = Paths.get(opts.getOrElse("work", usage()))
    val out = Paths.get(opts.getOrElse("out", usage()))
    Files.createDirectories(work)
    val ctx = new Ctx(null, work, opts.getOrElse("seed", "1").toLong,
      opts.getOrElse("seconds", "10").toInt, opts.getOrElse("trace", "0") == "1")
    val extra: Map[String, Any] = workload match {
      case "ingest" => Ingest.run(ctx)
      case "analytics" => Analytics.run(ctx)
      case "registry" => Registry.run(ctx, opts.getOrElse("data", usage()))
      case _ => usage()
    }
    Files.writeString(out, ctx.rec.json(extra))
    ctx.trace.foreach { t =>
      t.drain()
      t.writeSpans(out.resolveSibling("spans.jsonl"))
      t.close()
    }
    if (ctx.spark != null) ctx.spark.stop()
  }
}
