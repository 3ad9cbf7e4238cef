package perfbench

import graft.{Bench, SparkEntry}

/** A fixed cross-section of the query registry (`SparkEntry.queries`),
  * one query per family, forced with `Bench.force` on the
  * bundled sf0.01 tables.
  *
  * A set-up round starts a session and resolves the input tables
  * through `graft.Tables`; the first round is the JVM's first session,
  * the others are restarts. Timed: a cold pass (each query's first execution in the
  * JVM, so it pays codegen), then at least [[MinWarmPasses]] warm passes
  * and until `--seconds` have gone by; a query's warm time is its fastest
  * warm execution, the least disturbed by other load on the host. Caches
  * are cleared after every execution, as `Bench` does.
  */
object Registry {
  val Queries: Seq[String] = Seq(
    "a07_keepfirst_dedup", "p13_ts_parse", "j07_multiway_chain",
    "u02_union_all_tagged", "w01_ewma", "dd_exact_groups", "ta_quality",
    "ann_topk_brute", "mm_image_pipeline", "nem_settlement",
    "sql_timeseries_panel")

  val SessionRounds = 3
  val MinWarmPasses = 2

  /** Family of a registry name: the leading letters of its first token. */
  def family(q: String): String = q.takeWhile(_ != '_').takeWhile(_.isLetter)

  def run(ctx: Ctx, data: String): Map[String, Any] = {
    val rec = ctx.rec
    (1 to SessionRounds).foreach { i =>
      if (ctx.spark != null) ctx.spark.stop()
      val (s, sp) = ctx.timed {
        val sp = Main.session()
        graft.Tables.all.foreach(t => graft.Tables(sp, data, t).schema)
        sp
      }
      ctx.spark = sp
      rec.add("setup_round_s", s)
    }
    val spark = ctx.spark
    ctx.startTrace()
    val fns = SparkEntry.queries
    val missing = Queries.filterNot(fns.contains)
    rec.check(missing.isEmpty, s"registry lacks ${missing.mkString(",")}")
    val qs = Queries.filter(fns.contains)

    def clear(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    def exec(q: String): Option[Double] = {
      val t0 = System.nanoTime()
      val ok = rec.op(q)(ctx.span(s"registry.${family(q)}.$q")(Bench.force(fns(q)(spark, data))))
      val s = (System.nanoTime() - t0) / 1e9
      clear()
      ok.map(_ => s)
    }

    ctx.mark("sessions")
    val fromMs = System.currentTimeMillis()
    qs.foreach(q => exec(q).foreach(s => rec.add(s"cold.$q", s)))
    ctx.mark("cold pass done")
    val warmFromMs = System.currentTimeMillis()
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    var passes = 0
    while (passes < MinWarmPasses || System.nanoTime() < deadline) {
      qs.foreach(q => exec(q).foreach(s => rec.add(s"warm.$q", s)))
      passes += 1
    }
    val toMs = System.currentTimeMillis()
    ctx.mark(s"$passes warm passes done")
    rec.set("warm_passes", passes)
    rec.set("heap_retained_mb", ctx.heapRetainedMb())

    // outputs for the digest check, written after the timed phase
    val outDir = ctx.work.resolve("out").toString
    qs.foreach { q =>
      rec.op(s"$q output")(ctx.span("check")(
        fns(q)(spark, data).write.mode("overwrite").parquet(s"$outDir/$q")))
      clear()
    }

    ctx.mark("outputs written")
    val oracle = SparkEntry.oracleSql.filter { case (q, _) => qs.contains(q) }
    java.nio.file.Files.writeString(ctx.work.resolve("out").resolve("oracle_sql.json"), Json.render(oracle))

    if (ctx.tracing) {
      ctx.sparkLayers(fromMs, toMs)
      val warm = ctx.layerTally(warmFromMs, toMs)
      qs.map(family).distinct.foreach { f =>
        val t = warm.getOrElse(s"queries.Registry.$f", new Tally)
        rec.layers(s"queries.Registry.$f.jobs") = t.jobs.toDouble / passes
        rec.layers(s"queries.Registry.$f.plan_ms") = t.planMs / passes
      }
    }
    Map("workload" -> "registry", "out" -> outDir, "queries" -> qs, "oracle" -> oracle.keys.toSeq.sorted,
      "families" -> qs.map(q => q -> family(q)).toMap)
  }
}
