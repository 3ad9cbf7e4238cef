package perfbench

import java.nio.file.Files

/** The benchmark's own JVM-side tests. Run through
  * `python3 -m unittest discover perfbench/tests`; prints one `ok`/`FAIL`
  * line per test and exits non-zero on a failure. */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok $name") } catch {
      case e: Throwable =>
        failures += 1
        println(s"FAIL $name: $e")
        e.printStackTrace()
    }

  private def expect(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new AssertionError(msg)

  def main(args: Array[String]): Unit = {
    test("publisher stamps due times open-loop and measures lateness") {
      // fake clock that advances one tick per read; publishing item 1
      // stalls 35 ticks. Items 2.. stay due on the original schedule, so
      // they go out late instead of shifting the schedule
      val items = 0 until 6
      var t = 0L
      val p = new Publisher[Int](items, t0 = 100L, intervalNs = 20L,
        publish = i => if (i == 1) t += 35L,
        clock = () => { t += 1; t })
      expect(items.map(p.due) == Seq(100L, 120L, 140L, 160L, 180L, 200L),
        s"due times ${items.map(p.due)}")
      p.run()
      val late = items.map(p.lateNs)
      expect(late.forall(_ >= 0), s"negative lateness $late")
      expect(late(1) >= 35L && late(2) >= 15L, s"stall did not make later items late: $late")
      expect(late.drop(3).forall(_ <= 2L), s"schedule did not recover after the stall: $late")
      expect(p.maxLateS > 0, "maxLateS")
    }

    test("generator is deterministic per seed and follows its row formula") {
      val c = Corpus(7L, units = 5, drift = true, driftSlot = 1)
      val a = Gen.zip(c, Gen.day(0), 0)
      val b = Gen.zip(c, Gen.day(0), 0)
      expect(java.util.Arrays.equals(a.bytes, b.bytes), "same seed, different zip bytes")
      val o = Gen.zip(c.copy(seed = 8L), Gen.day(0), 0)
      expect(!java.util.Arrays.equals(a.bytes, o.bytes), "different seeds, same zip bytes")
      (0 to 1).foreach { slot =>
        val text = Gen.csv(c, Gen.day(0), slot)
        val d = text.split('\n').filter(_.startsWith("D,")).groupBy { l =>
          val f = l.split(',')
          s"${f(1)}---${f(2)}---${f(3)}"
        }.map { case (k, v) => k -> v.length.toLong }
        expect(d == Gen.rowsPerZip(c), s"slot $slot rows $d vs formula ${Gen.rowsPerZip(c)}")
      }
      val early = Gen.csv(c, Gen.day(0), 0)
      val late = Gen.csv(c, Gen.day(0), 1)
      expect(!early.contains("MW_SOURCE") && late.contains("MW_SOURCE"), "drift column")
      expect(early.contains(",v1") && !late.contains(",v1"), "drifting VERSIONNO type")
    }

    test("spans attribute a graft.Par fan-out and split a tick by call site") {
      val spark = graft.GraftSession.local(2)
      val trace = new Trace(spark)
      Trace.active = Some(trace)
      try {
        val from = System.currentTimeMillis()
        Trace.span(spark, "sweep") {
          graft.Par.mapBounded(IndexedSeq(1, 2, 3), parallelism = 3) { i =>
            Some(spark.range(0, 100L * i, 1, 2).selectExpr("sum(id)").collect())
          }
        }
        val dir = Files.createTempDirectory("perfbench_selftest")
        val z = Gen.zip(Corpus(1L, units = 2), Gen.day(0), 0)
        val zp = dir.resolve(z.name)
        Files.write(zp, z.bytes)
        Trace.span(spark, "tick") {
          graft.sources.NemCsv.splitToLake(spark, Seq(zp.toString), dir.resolve("lake").toString).collect()
          spark.sparkContext.parallelize(1 to 10, 2).count()
        }
        spark.sparkContext.parallelize(1 to 5, 2).count()
        val to = System.currentTimeMillis()
        trace.drain()
        val ls = trace.layers(from, to)
        def jobs(l: String) = ls.get(l).map(_.jobs).getOrElse(0L)
        expect(jobs("plans.Compactor") >= 3, s"Par fan-out jobs: ${jobs("plans.Compactor")}")
        expect(jobs("sources.NemCsv") >= 2, s"split jobs: ${jobs("sources.NemCsv")}")
        expect(jobs("sources.HistoryTable") == 1, s"other tick jobs: ${jobs("sources.HistoryTable")}")
        expect(jobs(Trace.Unattributed) == 1, s"unattributed jobs: ${jobs(Trace.Unattributed)}")
        expect(ls(Trace.Window).jobs == ls.filter(_._1 != Trace.Window).values.map(_.jobs).sum,
          "window total differs from the sum of layers")
      } finally {
        Trace.active = None
        trace.close()
        spark.stop()
      }
    }

    if (failures > 0) sys.exit(1)
  }
}
