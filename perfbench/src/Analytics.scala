package perfbench

import java.nio.file.Files
import java.util.concurrent.Executors
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.Crunch
import graft.sources.{HistoryTable, NemCsv}

/** Read path over a live-shaped lake: the FPP crunch per day, then a
  * single user's dashboard loads.
  *
  * Set-up lands [[Days]] days through `NemCsv.splitToLake` and compacts
  * them, then lands the current day in small batches that stay
  * uncompacted, as on a live lake; each landing is a set-up round. It
  * also writes the settlement inputs and the download/processed
  * histories. Timed: (a) per compacted day, `Crunch` steps 1-4 and
  * `settlement`, each step's output written as parquet and read back by
  * the next step; (b) for `--seconds`, back-to-back dashboard loads of
  * [[Panels]] issued concurrently on four threads, after [[WarmLoads]]
  * unsampled loads.
  */
object Analytics {
  val Units = 16
  val Days = 3
  val DaySlots = 12
  val CurrentSlots = 12
  val CurrentBatch = 4
  val Constraints = 3
  val PanelThreads = 4
  val WarmLoads = 4

  /** Dashboard panels over the lake, modelled on the reference's
    * Grafana dashboards (`SqlSurface` shapes on NEM tables). `%CUR%` is
    * the current (uncompacted) day. */
  val Panels: Seq[(String, String)] = Seq(
    "bucket5m" -> """
      SELECT timestamp_micros(CAST(unix_micros(MEASUREMENT_DATETIME) DIV 300000000 AS BIGINT) * 300000000) AS bucket,
             count(*) AS n, count(MEASURED_MW) AS n_mw, avg(MEASURED_MW) AS avg_mw, max(MEASURED_MW) AS max_mw
      FROM unit_mw WHERE date >= DATE'%PREV%' GROUP BY 1 ORDER BY 1""",
    "pivot" -> """
      SELECT timestamp_micros(CAST(unix_micros(MEASUREMENT_DATETIME) DIV 300000000 AS BIGINT) * 300000000) AS bucket,
             avg(FREQ_DEVIATION_HZ) FILTER (WHERE REGIONID = 'NSW1') AS nsw1,
             avg(FREQ_DEVIATION_HZ) FILTER (WHERE REGIONID = 'QLD1') AS qld1,
             avg(FREQ_DEVIATION_HZ) FILTER (WHERE REGIONID = 'SA1') AS sa1,
             avg(FREQ_DEVIATION_HZ) FILTER (WHERE REGIONID = 'TAS1') AS tas1,
             avg(FREQ_DEVIATION_HZ) FILTER (WHERE REGIONID = 'VIC1') AS vic1
      FROM freq WHERE date = DATE'%CUR%' AND HZ_QUALITY_FLAG = 1 GROUP BY 1 ORDER BY 1""",
    "percent" -> """
      SELECT (SELECT count(*) FROM processed) AS n_processed,
             (SELECT count(*) FROM downloaded) AS n_downloaded,
             CAST((SELECT count(*) FROM processed) AS DOUBLE)
               / CAST((SELECT count(*) FROM downloaded) AS DOUBLE) AS frac""",
    "timeline" -> """
      SELECT MEASUREMENT_DATETIME, FPP_UNITID, MEASURED_MW FROM unit_mw
      ORDER BY MEASUREMENT_DATETIME DESC, FPP_UNITID DESC LIMIT 5000""",
    "latest_forecast" -> """
      SELECT DUID, INTERVAL_DATETIME, RUN_DATETIME, FORECAST_POE50 FROM (
        SELECT DUID, INTERVAL_DATETIME, RUN_DATETIME, FORECAST_POE50,
               row_number() OVER (PARTITION BY DUID, INTERVAL_DATETIME
                                  ORDER BY RUN_DATETIME DESC, OFFERDATETIME DESC) AS rn
        FROM pred WHERE date = DATE'%CUR%' AND ORIGIN = 'AWEFS_ASEFS') r
      WHERE rn = 1 ORDER BY DUID, INTERVAL_DATETIME""",
    "fpp_perf" -> """
      SELECT duid, count(*) AS n, sum(p_raise) AS raise, sum(p_lower) AS lower
      FROM perf GROUP BY duid ORDER BY duid""")

  val SettleTables: Seq[(String, Seq[String])] = Seq(
    "cf" -> Seq("contribution_factor"),
    "default_cf" -> Seq("default_contribution_factor"),
    "residual_dcf" -> Seq("residual_dcf"),
    "perf_rates" -> Seq("fpp_payment_rate", "fpp_recovery_rate"),
    "res_rates" -> Seq("fpp", "used_fcas", "unused_fcas"))

  def day(i: Int): String = Gen.day(i).toString

  def run(ctx: Ctx): Map[String, Any] = {
    ctx.spark = Main.session()
    val spark = ctx.spark
    ctx.startTrace()
    val rec = ctx.rec
    val c = Corpus(ctx.seed, Units)
    val zipDir = Files.createDirectories(ctx.work.resolve("zips"))
    val lake = ctx.work.resolve("lake").toString
    val hist = ctx.work.resolve("hist").toString
    val settle = ctx.work.resolve("settle").toString
    val out = ctx.work.resolve("crunch").toString
    val downloaded = HistoryTable.downloaded(spark, hist)
    val processed = HistoryTable.processed(spark, hist)
    import spark.implicits._

    def land(zs: Seq[Zip], markProcessed: Boolean): Unit = {
      val paths = zs.map { z =>
        val p = zipDir.resolve(z.name); Files.write(p, z.bytes); p.toString
      }
      NemCsv.splitToLake(spark, paths, lake).collect()
      val now = new java.sql.Timestamp(0L)
      downloaded.add(zs.map(z => (z.name, "http://feed/" + z.name, z.bytes.length.toLong))
        .toDF("filename", "url", "size_bytes").withColumn("downloaded_at", lit(now)))
      if (markProcessed)
        processed.add(paths.toDF("filename").withColumn("processed_at", lit(now)))
    }

    ctx.mark("session")
    // ---- set-up rounds: the compacted days in one landing, then the
    // current day in small batches that stay uncompacted
    val (bulk, _) = ctx.timed(land((0 until Days).flatMap(d =>
      (0 until DaySlots).map(Gen.zip(c, Gen.day(d), _))), markProcessed = true))
    rec.add("setup_round_s", bulk)
    graft.plans.Compactor.runOnce(spark, lake, HistoryTable.compacted(spark, hist))
    val cur = day(Days)
    val batches = (0 until CurrentSlots).map(Gen.zip(c, Gen.day(Days), _)).grouped(CurrentBatch).toSeq
    batches.zipWithIndex.foreach { case (b, i) =>
      val (s, _) = ctx.timed(land(b, markProcessed = i < batches.size - 1))
      rec.add("setup_round_s", s)
    }
    writeSettlement(spark, settle, (0 until Days).map(day), ctx.seed)

    val fromLake = (t: String, d: String) => spark.read.parquet(s"$lake/$t/date=$d")
    val readSettle = (t: String, d: String) => spark.read.parquet(s"$settle/$t/date=$d")

    def write(df: DataFrame, step: String, d: String): DataFrame = {
      val p = s"$out/$step/date=$d"
      df.write.mode("overwrite").parquet(p)
      spark.read.parquet(p)
    }
    def crunch(d: String): Unit = {
      def step[T](name: String)(f: => T): T = {
        val (s, r) = ctx.timed(ctx.span(s"crunch.$name")(f))
        rec.add(s"crunch.${name}_s", s)
        r
      }
      val fm = step("step1")(write(Crunch.frequencyMeasure(fromLake(Gen.Freq, d)), "freq_measure", d))
      val traj = step("step2")(write(Crunch.hypotheticalTrajectory(spark, fromLake(Gen.Pred, d), d),
        "trajectory", d))
      val dev = step("step3")(write(Crunch.hypotheticalDeviations(traj, fromLake(Gen.UnitMw, d)),
        "deviations", d))
      val perf = step("step4")(write(Crunch.performance(dev, fm), "performance", d))
      step("settlement") {
        val split = perf.select(col("ts"), col("p_raise").as("raise_perf"), col("p_lower").as("lower_perf"))
        val (charges, summary) = Crunch.settlement(split, readSettle("cf", d),
          readSettle("default_cf", d), readSettle("residual_dcf", d),
          readSettle("perf_rates", d), readSettle("res_rates", d))
        write(charges, "charges", d)
        write(summary, "summary", d)
      }
    }

    def registerViews(): Unit = {
      spark.read.parquet(s"$lake/${Gen.UnitMw}").createOrReplaceTempView("unit_mw")
      spark.read.parquet(s"$lake/${Gen.Freq}").createOrReplaceTempView("freq")
      spark.read.parquet(s"$lake/${Gen.Pred}").createOrReplaceTempView("pred")
      spark.read.parquet(s"$hist/downloaded").createOrReplaceTempView("downloaded")
      spark.read.parquet(s"$hist/processed").createOrReplaceTempView("processed")
      spark.read.parquet(s"$out/performance").createOrReplaceTempView("perf")
    }
    val panels = Panels.map { case (n, q) =>
      n -> q.replace("%CUR%", cur).replace("%PREV%", day(Days - 1))
    }
    val pool = Executors.newFixedThreadPool(PanelThreads)
    def load(sample: Boolean): Double = {
      val t0 = System.nanoTime()
      val futs = panels.map { case (n, q) =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            val s = System.nanoTime()
            rec.op(s"panel $n")(ctx.span(s"panel.$n")(spark.sql(q).collect()))
            if (sample) rec.add(s"panel.$n", (System.nanoTime() - s) / 1e6)
          }
        })
      }
      futs.foreach(_.get())
      (System.nanoTime() - t0) / 1e6
    }

    ctx.mark("lake landed")

    ctx.mark("set-up done")
    // ---- timed (a): crunch every compacted day
    val fromMs = System.currentTimeMillis()
    (0 until Days).foreach { d =>
      val (s, _) = ctx.timed(rec.op(s"crunch ${day(d)}")(crunch(day(d))))
      rec.add("crunch_day_s", s)
      rec.add("crunch.cached_bytes",
        spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble)
    }
    val crunchEndMs = System.currentTimeMillis()
    ctx.mark("crunch done")
    // ---- timed (b): closed-loop dashboard loads, after unsampled warm-up loads
    registerViews()
    (1 to WarmLoads).foreach(_ => load(sample = false))
    val dashFromMs = System.currentTimeMillis()
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    var loads = 0
    while (loads < 3 || System.nanoTime() < deadline) {
      rec.add("dashboard_ms", load(sample = true))
      loads += 1
    }
    val toMs = System.currentTimeMillis()
    pool.shutdown()
    rec.set("panels_per_s", loads * panels.size / ((toMs - dashFromMs) / 1000.0))
    rec.set("heap_retained_mb", ctx.heapRetainedMb())

    ctx.mark("timed phase done")
    // ---- outputs for the DuckDB check, written after the timed phase
    val panelDir = ctx.work.resolve("panels").toString
    panels.foreach { case (n, q) =>
      rec.op(s"panel $n output")(ctx.span("check")(spark.sql(q).write.mode("overwrite").parquet(s"$panelDir/$n")))
    }

    ctx.mark("outputs written")
    val L = rec.layers
    if (ctx.tracing) {
      ctx.sparkLayers(fromMs, toMs)
      val cr = ctx.layerTally(fromMs, crunchEndMs).getOrElse("pipeline.Crunch", new Tally)
      L("pipeline.Crunch.jobs") = cr.jobs.toDouble
      L("pipeline.Crunch.exchanges") = cr.exchanges.toDouble
      L("pipeline.Crunch.shuffle_bytes") = cr.shuffleBytes.toDouble
      L("pipeline.Crunch.spill_bytes") = cr.spillBytes.toDouble
      L("pipeline.Crunch.cached_bytes_end") = rec.samples("crunch.cached_bytes").last
      val q = ctx.layerTally(dashFromMs, toMs).getOrElse("queries", new Tally)
      L("queries.plan_ms") = q.planMs / loads
      L("queries.jobs_per_load") = q.jobs.toDouble / loads
      L("queries.tasks_per_load") = q.tasks.toDouble / loads
      L("queries.files_read") = q.filesRead.toDouble / loads
      L("queries.bytes_read") = q.inputBytes.toDouble / loads
    }
    Map("workload" -> "analytics", "lake" -> lake, "hist" -> hist, "settle" -> settle,
      "crunch" -> out, "panels" -> panelDir, "days" -> (0 until Days).map(day),
      "current" -> cur, "previous" -> day(Days - 1))
  }

  /** Settlement inputs: per day and constraint, one row per 4 s of the
    * data window, values from a seeded hash. `residual_dcf` keeps about
    * half the rows so the default-CF fallback is exercised. */
  def writeSettlement(spark: SparkSession, root: String, days: Seq[String], seed: Long): Unit = {
    val perConstraint = DaySlots * Gen.Samples
    val perDay = Constraints.toLong * perConstraint
    val starts = days.map(d => java.time.LocalDate.parse(d)
      .atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond)
    val dayIdx = (col("id") / perDay).cast("int")
    val base = spark.range(0L, perDay * days.size, 1L, 1)
      .select(
        element_at(typedLit(days), dayIdx + 1).as("date"),
        concat(lit("C"), (col("id") % perDay / perConstraint).cast("long")).as("constraintid"),
        timestamp_seconds(element_at(typedLit(starts), dayIdx + 1) +
          (col("id") % perConstraint) * 4).as("ts"),
        col("id"))
    def v(k: Int) = (pmod(xxhash64(col("id"), lit(seed), lit(k)), lit(100000)) / 100000.0)
    SettleTables.zipWithIndex.foreach { case ((t, cols), i) =>
      val rows = if (t == "residual_dcf") base.filter(v(99) < 0.5) else base
      rows.select((Seq(col("date"), col("constraintid"), col("ts")) ++
        cols.zipWithIndex.map { case (cn, j) => v(10 * i + j).as(cn) }): _*)
        .write.mode("overwrite").partitionBy("date").parquet(s"$root/$t")
    }
  }
}
