package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import graft.plans.Compactor
import graft.sources.{HistoryTable, ParquetMeta}
import graft.streaming.IngestDaemon

/** Write path: feed → download → split → history, with compaction sweeps.
  *
  * Set-up rounds: an earlier day landed by one daemon tick and a sweep,
  * then [[WarmTicks]] small ticks of the live day and a sweep. Timed:
  *  1. open loop — the live day's next zips are published at a fixed rate
  *     on their own thread while the daemon ticks back to back, waiting
  *     only while nothing new is published; a sweep runs on the daemon's
  *     thread after every [[SweepEvery]] landed zips and once at the end;
  *  2. backfill — [[BackfillDays]] times, one day of backlog is published
  *     at once, drained, and swept;
  *  3. `Reconcile` over every zip landed.
  */
object Ingest {
  val Units = 20
  val PreZips = 4
  val WarmTicks = 2
  val WarmZips = 1
  val Rate = 3.0
  val SweepEvery = 24
  val BackfillDays = 2
  val BackfillZips = 24

  private final case class FileKey(path: String, len: Long, mtime: Long)

  def run(ctx: Ctx): Map[String, Any] = {
    ctx.spark = Main.session()
    val spark = ctx.spark
    ctx.startTrace()
    val rec = ctx.rec
    val c = Corpus(ctx.seed, Units, drift = true)
    val dl = Files.createDirectories(ctx.work.resolve("downloads"))
    val lakeP = Files.createDirectories(ctx.work.resolve("lake"))
    val histP = Files.createDirectories(ctx.work.resolve("hist"))
    val lake = lakeP.toString
    val hist = histP.toString
    val compHist = HistoryTable.compacted(spark, hist)
    val feed = new Feed
    var csvBytes = 0L
    var zipsLanded = 0

    // every parquet file ever seen, so rewrites count as new writes
    val seen = mutable.HashSet.empty[FileKey]
    def parquet(root: Path): Seq[FileKey] = {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
        .map(p => FileKey(p.toString, Files.size(p), Files.getLastModifiedTime(p).toMillis)).toVector
      finally s.close()
    }
    def fresh(root: Path): Seq[FileKey] = {
      val n = parquet(root).filterNot(seen.contains)
      seen ++= n
      n
    }
    var splitBytes = 0L; var splitFiles = 0L; var histBytes = 0L

    def downloads(): Set[String] = Option(dl.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.endsWith(".tmp")).map(_.getName).toSet

    final case class Tick(startNs: Long, endNs: Long, startMs: Long, endMs: Long,
        landed: Set[String], dirFiles: Int)
    def tick(): (Tick, Option[IngestDaemon.TickResult]) = {
      val before = downloads()
      val sMs = System.currentTimeMillis()
      val s = System.nanoTime()
      val res = rec.op("tick") {
        ctx.span("tick") {
          IngestDaemon.runOnce(spark, feed.url, feed.page(), dl.toString, lake, hist)
        }
      }
      val e = System.nanoTime()
      val eMs = System.currentTimeMillis()
      val n = fresh(lakeP); splitBytes += n.map(_.len).sum; splitFiles += n.size
      histBytes += fresh(histP).map(_.len).sum
      (Tick(s, e, sMs, eMs, downloads() -- before, before.size), res)
    }

    var filesIn = 0L; var filesOut = 0L; var bytesRead = 0L; var bytesWritten = 0L
    var splitInBytes = 0L
    val widened = mutable.HashSet.empty[(String, String)]
    def noteWidening(): Unit = {
      // footer schemas of each partition about to be compacted: a column
      // whose physical type differs across files, or is missing from one,
      // goes through the widening path
      Compactor.discoverPartitions(spark, lake).foreach { case (t, p) =>
        val files = Option(lakeP.resolve(t).resolve(p).toFile.listFiles()).getOrElse(Array.empty)
          .filter(_.getName.endsWith(".parquet"))
        if (files.exists(_.getName != "compacted.parquet")) {
          val schemas = files.map(f => ParquetMeta.columnStats(spark, f.getPath)
            .map(cm => cm.column -> cm.physicalType).toMap)
          schemas.flatMap(_.keys).distinct.foreach { col =>
            if (schemas.map(_.get(col)).distinct.length > 1) widened += ((t, col))
          }
        }
      }
    }
    def sweep(sample: Boolean): Unit = {
      if (ctx.tracing) noteWidening()
      val before = parquet(lakeP).map(k => k.path -> k).toMap
      val (s, _) = ctx.timed(rec.op("sweep") {
        ctx.span("sweep") { Compactor.runOnce(spark, lake, compHist) }
      })
      val after = parquet(lakeP).map(k => k.path -> k).toMap
      val gone = before.values.filterNot(k => after.get(k.path).contains(k))
      val made = after.values.filterNot(k => before.get(k.path).contains(k))
      filesIn += gone.size; filesOut += made.size
      bytesRead += gone.map(_.len).sum; bytesWritten += made.map(_.len).sum
      splitInBytes += gone.filterNot(_.path.endsWith("compacted.parquet")).map(_.len).sum
      seen ++= made
      val (v, _) = ctx.timed(rec.op("vacuum") { ctx.span("vacuum") { compHist.vacuum() } })
      histBytes += fresh(histP).map(_.len).sum
      if (sample) { rec.add("sweep_s", s); rec.add("vacuum_s", v) }
    }

    def publishDay(date: java.time.LocalDate, n: Int): Seq[Zip] = {
      val zs = (0 until n).map(s => Gen.zip(c, date, s))
      zs.foreach(feed.publish)
      zs
    }
    def landAll(zs: Seq[Zip]): Unit = {
      csvBytes += zs.map(_.csvBytes).sum
      zipsLanded += zs.size
    }

    ctx.mark("session")
    // ---- set-up rounds: an earlier day landed by one tick and a sweep,
    // then small ticks of the next day, the shape of the open loop
    val (first, _) = ctx.timed {
      val zs = publishDay(Gen.day(0), PreZips)
      tick()
      sweep(sample = false)
      landAll(zs)
    }
    rec.add("setup_round_s", first)
    (0 until WarmTicks).foreach { i =>
      val zs = (i * WarmZips until (i + 1) * WarmZips).map(s => Gen.zip(c, Gen.day(1), s))
      val (s, _) = ctx.timed { zs.foreach(feed.publish); tick() }
      landAll(zs)
      rec.add("setup_round_s", s)
    }
    sweep(sample = false)
    val liveN = math.max(4, math.round(Rate * ctx.seconds).toInt)
    // the live day continues after the set-up ticks' slots, so its sweep
    // merges new files into the day's existing compacted file
    val live = (0 until liveN).map(s => Gen.zip(c, Gen.day(1), WarmTicks * WarmZips + s))
    val backlogs = (0 until BackfillDays).map(d =>
      (0 until BackfillZips).map(s => Gen.zip(c, Gen.day(2 + d), s)))
    ctx.mark("set-up done")
    val reqBefore = feed.requests.get; val bytesBefore = feed.bytes.get

    // ---- phase 1: open loop
    val fromMs = System.currentTimeMillis()
    val intervalNs = (1e9 / Rate).toLong
    val pub = new Publisher(live, System.nanoTime() + 50000000L, intervalNs, feed.publish)
    val dueByName = live.zipWithIndex.map { case (z, i) => z.name -> i }.toMap
    pub.start()
    var landed = 0
    var sinceSweep = 0
    var backlogMax = 0
    val ticks = mutable.ArrayBuffer.empty[Tick]
    val tickDeadline = System.nanoTime() + 120000000000L
    while (landed < liveN && System.nanoTime() < tickDeadline) {
      // with nothing published and not yet landed, wait for the next zip
      // rather than tick on an unchanged feed: an empty tick of varying
      // length would shift every later tick against the schedule
      while (pub.published <= landed && System.nanoTime() < tickDeadline)
        java.util.concurrent.locks.LockSupport.parkNanos(1000000L)
      backlogMax = math.max(backlogMax, pub.published - landed)
      val (t, _) = tick()
      ticks += t
      t.landed.foreach { n =>
        dueByName.get(n).foreach { i =>
          rec.add("freshness_ms", (t.endNs - pub.due(i)) / 1e6)
          landed += 1; sinceSweep += 1
        }
      }
      rec.add("tick_s", (t.endNs - t.startNs) / 1e9)
      if (sinceSweep >= SweepEvery) { sweep(sample = true); sinceSweep = 0 }
    }
    // the zips landed since the last sweep are compacted now, so every
    // backfill day's sweep finds the same partitions to merge
    if (sinceSweep > 0) sweep(sample = true)
    pub.join(10000)
    rec.attempted += liveN; rec.failed += liveN - landed
    rec.check(landed == liveN, s"open loop landed $landed of $liveN zips")
    landAll(live)
    rec.set("gen.late_s", pub.maxLateS)
    rec.set("backlog_max_zips", backlogMax)

    ctx.mark("open loop done")
    // ---- phase 2: backfill days, each drained and then swept
    backlogs.foreach { backlog =>
      val b0 = System.nanoTime()
      backlog.foreach(feed.publish)
      var drained = 0
      var b1 = b0
      while (drained < BackfillZips && System.nanoTime() < tickDeadline) {
        val (t, _) = tick()
        ticks += t
        drained += t.landed.size
        b1 = t.endNs
      }
      rec.attempted += BackfillZips; rec.failed += BackfillZips - drained
      rec.check(drained == BackfillZips, s"backfill landed $drained of $BackfillZips zips")
      landAll(backlog)
      rec.add("backfill_rows_per_s", Gen.expectedRows(c, BackfillZips).values.sum / ((b1 - b0) / 1e9))
      sweep(sample = true)
      rec.add("backfill_day_s", (System.nanoTime() - b0) / 1e9)
    }
    ctx.mark("backfill done")

    // ---- reconciliation
    val zipPaths = downloads().toSeq.sorted.map(n => dl.resolve(n).toString)
    val (recS, report) = ctx.timed(rec.op("reconcile") {
      ctx.span("reconcile") { graft.pipeline.Reconcile.run(spark, zipPaths, lake).collect() }
    })
    val toMs = System.currentTimeMillis()
    ctx.mark("timed phase done")
    rec.set("heap_retained_mb", ctx.heapRetainedMb())

    // ---- checks
    val expected = Gen.expectedRows(c, zipsLanded)
    val rows = report.getOrElse(Array.empty)
    val mismatches = rows.count(r => !r.getAs[Boolean]("matches"))
    rec.check(mismatches == 0, s"Reconcile reports $mismatches mismatching tables")
    rec.check(rows.map(_.getAs[String]("table")).toSet == expected.keySet,
      s"lake tables ${rows.map(_.getAs[String]("table")).mkString(",")}")
    rows.foreach { r =>
      val t = r.getAs[String]("table")
      rec.check(expected.get(t).contains(r.getAs[Long]("sourceRows")) &&
        expected.get(t).contains(r.getAs[Long]("lakeRows")),
        s"$t: source ${r.getAs[Long]("sourceRows")} lake ${r.getAs[Long]("lakeRows")} " +
          s"formula ${expected.get(t)}")
    }
    rec.check(zipPaths.size == zipsLanded, s"${zipPaths.size} zips downloaded, $zipsLanded published")
    val (_, again) = tick()
    rec.check(again.exists(r => r.downloaded == 0 && r.tablesWritten == 0),
      s"a repeated tick on the final feed did work: $again")
    rec.check(feed.retries == 0, s"${feed.retries} zips were downloaded more than once")
    feed.stop()

    val lakeBytes = parquet(lakeP).map(_.len).sum
    rec.set("lake_bytes_per_csv_byte", lakeBytes.toDouble / csvBytes)
    rec.set("write_amp", (splitBytes + bytesWritten + histBytes).toDouble / lakeBytes)

    ctx.mark("checks done")
    val L = rec.layers
    if (ctx.tracing) {
      ctx.sparkLayers(fromMs, toMs)
      val ls = ctx.layerTally(fromMs, toMs)
      def t(l: String) = ls.getOrElse(l, new Tally)
      val tr = ctx.trace.get
      L("streaming.IngestDaemon.driver_s") =
        ticks.map(k => tr.idleMs(k.startMs, k.endMs)).sum / 1000.0
      // history work per tick against the download directory's size, the
      // growth the daemon's full-directory listing implies
      ticks.foreach { k =>
        rec.add("tick.dir_files", k.dirFiles)
        rec.add("tick.history_job_s",
          tr.layers(k.startMs, k.endMs).get("sources.HistoryTable").map(_.jobMs / 1000.0).getOrElse(0.0))
      }
      L("sources.Fetch.requests") = (feed.requests.get - reqBefore).toDouble
      L("sources.Fetch.bytes") = (feed.bytes.get - bytesBefore).toDouble
      L("sources.Fetch.retries") = feed.retries.toDouble
      val h = t("sources.HistoryTable")
      L("sources.HistoryTable.jobs") = h.jobs.toDouble
      L("sources.HistoryTable.job_s") = h.jobMs / 1000.0
      L("sources.HistoryTable.files") = parquet(histP).size.toDouble
      L("sources.HistoryTable.vacuum_s") = rec.samples.get("vacuum_s").map(_.sum).getOrElse(0.0)
      val n = t("sources.NemCsv")
      L("sources.NemCsv.jobs") = n.jobs.toDouble
      L("sources.NemCsv.job_s") = n.jobMs / 1000.0
      L("sources.NemCsv.task_s") = n.taskMs / 1000.0
      L("sources.NemCsv.rows") = (Gen.expectedRows(c, liveN + BackfillDays * BackfillZips).values.sum).toDouble
      L("sources.NemCsv.files_written") = splitFiles.toDouble
      L("sources.NemCsv.bytes_written") = splitBytes.toDouble
      val k = t("plans.Compactor")
      L("plans.Compactor.sweeps") = rec.samples.get("sweep_s").map(_.size).getOrElse(0).toDouble
      L("plans.Compactor.jobs") = k.jobs.toDouble
      L("plans.Compactor.job_s") = k.jobMs / 1000.0
      L("plans.Compactor.files_in") = filesIn.toDouble
      L("plans.Compactor.files_out") = filesOut.toDouble
      L("plans.Compactor.bytes_read") = bytesRead.toDouble
      L("plans.Compactor.bytes_written") = bytesWritten.toDouble
      L("plans.Compactor.rewrite_amp") = if (splitInBytes > 0) bytesWritten.toDouble / splitInBytes else 0.0
      L("plans.SchemaEvolution.widened_cols") = widened.size.toDouble
      L("pipeline.Reconcile.run_s") = recS
    }
    L("pipeline.Reconcile.mismatches") = mismatches.toDouble
    Map("workload" -> "ingest")
  }
}
