package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.time.LocalDate
import java.util.SplittableRandom
import java.util.zip.{ZipEntry, ZipOutputStream}

/** Shape of a generated NEM corpus. Every value is a seeded random walk,
  * so the same `seed` gives byte-identical zips.
  *
  * @param units      FPP units reporting `UNIT_MW` (and forecasts)
  * @param drift      plant schema drift: from `driftSlot` on, `VERSIONNO`
  *                   turns from text to numeric and `UNIT_MW` gains a
  *                   trailing `MW_SOURCE` column
  */
final case class Corpus(seed: Long, units: Int, drift: Boolean = false, driftSlot: Int = 6)

/** One generated report zip. `csvBytes` is the uncompressed CSV size. */
final case class Zip(name: String, bytes: Array[Byte], csvBytes: Long)

/** Deterministic generator of AEMO-style 5-minute FPP report zips. Each
  * zip holds three logical tables in the NEM C/I/D wire format:
  * `FPP,UNIT_MW` and `FPP,REGION_FREQ_MEASURE` at a 4 s cadence, and
  * `DEMAND,INTERMITTENT_DS_PRED` with several forecast revisions per
  * interval. A few % of rows carry `HZ_QUALITY_FLAG` 0 or an empty value.
  */
object Gen {
  val UnitMw = "FPP---UNIT_MW---1"
  val Freq = "FPP---REGION_FREQ_MEASURE---1"
  val Pred = "DEMAND---INTERMITTENT_DS_PRED---1"
  val Regions: IndexedSeq[String] = IndexedSeq("NSW1", "QLD1", "SA1", "TAS1", "VIC1")
  /** Measurements per table row key in one 5-minute zip (4 s cadence). */
  val Samples = 75
  val BaseDate: LocalDate = LocalDate.of(2025, 6, 1)
  /** Wall-clock (AEST) hour of slot 0; 5-min slots follow. */
  val StartHour = 10
  /** Forecast intervals per run. */
  val Ahead = 3
  /** Forecast revisions (offer times) per run and interval. */
  val Offers = 2

  def day(i: Int): LocalDate = BaseDate.plusDays(i.toLong)
  def unitId(u: Int): String = f"U$u%03d"

  /** D-rows per table in one zip — the formula the generator follows. */
  def rowsPerZip(c: Corpus): Map[String, Long] = Map(
    UnitMw -> Samples.toLong * c.units,
    Freq -> Samples.toLong * Regions.size,
    Pred -> c.units.toLong * Ahead * Offers)

  /** Expected D-rows per table for `zips` zips of corpus `c`. */
  def expectedRows(c: Corpus, zips: Int): Map[String, Long] =
    rowsPerZip(c).map { case (t, n) => t -> n * zips }

  def zipName(date: LocalDate, slot: Int): String = {
    val mins = StartHour * 60 + slot * 5
    f"PUBLIC_FPP_${date.getYear}%04d${date.getMonthValue}%02d${date.getDayOfMonth}%02d" +
      f"${mins / 60}%02d${mins % 60}%02d_${slot}%06d.zip"
  }

  private def rng(c: Corpus, parts: Long*): SplittableRandom = {
    var h = c.seed * 0x9E3779B97F4A7C15L
    parts.foreach { p => h = java.lang.Long.rotateLeft(h ^ p, 29) * 0xBF58476D1CE4E5B9L }
    new SplittableRandom(h)
  }

  /** Fixed-point decimal text, `d` digits after the point. */
  private def fmt(sb: java.lang.StringBuilder, v: Double, d: Int): Unit = {
    val scale = d match { case 2 => 100L; case 3 => 1000L; case _ => 100000L }
    val m = math.round(v * scale)
    if (m < 0) sb.append('-')
    val a = math.abs(m)
    sb.append(a / scale).append('.')
    val frac = (a % scale).toString
    var pad = d - frac.length
    while (pad > 0) { sb.append('0'); pad -= 1 }
    sb.append(frac)
  }

  private def wall(sb: java.lang.StringBuilder, date: LocalDate, secOfDay: Int): Unit = {
    sb.append('"').append(date.getYear).append('/')
    two(sb, date.getMonthValue); sb.append('/'); two(sb, date.getDayOfMonth)
    sb.append(' '); two(sb, secOfDay / 3600); sb.append(':')
    two(sb, secOfDay / 60 % 60); sb.append(':'); two(sb, secOfDay % 60); sb.append('"')
  }
  private def two(sb: java.lang.StringBuilder, v: Int): Unit = {
    if (v < 10) sb.append('0'); sb.append(v)
  }

  /** CSV text of the zip for (`date`, `slot`). */
  def csv(c: Corpus, date: LocalDate, slot: Int): String = {
    val dayKey = date.toEpochDay
    val sb = new java.lang.StringBuilder(Samples * (c.units + 5) * 96)
    val slotSec = StartHour * 3600 + slot * 300
    val drifted = c.drift && slot >= c.driftSlot
    sb.append("C,NEMP.WORLD,FPP,AEMO,PUBLIC,").append(date.getYear).append('/')
    two(sb, date.getMonthValue); sb.append('/'); two(sb, date.getDayOfMonth)
    sb.append(",00:00:00,0000000000000001,,0000000000000001\n")

    sb.append("I,FPP,UNIT_MW,1,MEASUREMENT_DATETIME,FPP_UNITID,PARTICIPANTID,MEASURED_MW,")
      .append("SCHEDULED_MW,DEVIATION_MW,MW_QUALITY_FLAG,INTERVAL_DATETIME,VERSIONNO")
    if (drifted) sb.append(",MW_SOURCE")
    sb.append('\n')
    for (u <- 0 until c.units) {
      val r = rng(c, 1, dayKey, slot, u)
      val base = 20.0 + 5.0 * ((u * 37) % 40)
      var mw = base + r.nextDouble() * 10.0
      val sched = mw + r.nextDouble() * 4.0 - 2.0
      for (k <- 0 until Samples) {
        mw = math.max(0.0, mw + r.nextGaussian() * 0.8)
        sb.append("D,FPP,UNIT_MW,1,")
        wall(sb, date, slotSec + 4 * k)
        sb.append(',').append(unitId(u)).append(",P").append(u % 9).append(',')
        val empty = r.nextInt(100) < 2
        if (!empty) fmt(sb, mw, 3)
        sb.append(','); fmt(sb, sched, 3); sb.append(',')
        if (!empty) fmt(sb, mw - sched, 3)
        sb.append(',').append(if (r.nextInt(100) < 3) 0 else 1).append(',')
        wall(sb, date, slotSec + 300)
        sb.append(',').append(if (c.drift && !drifted) "v1" else "1")
        if (drifted) sb.append(',').append(1 + r.nextInt(3))
        sb.append('\n')
      }
    }

    sb.append("I,FPP,REGION_FREQ_MEASURE,1,MEASUREMENT_DATETIME,REGIONID,FREQ_DEVIATION_HZ,")
      .append("FREQ_MEASURE_HZ,HZ_QUALITY_FLAG,INTERVAL_DATETIME,VERSIONNO\n")
    for (g <- Regions.indices) {
      val r = rng(c, 2, dayKey, slot, g)
      var dev = r.nextGaussian() * 0.01
      var meas = 0.0
      for (k <- 0 until Samples) {
        dev = 0.95 * dev + r.nextGaussian() * 0.004
        meas = 0.9 * meas + 0.1 * dev
        sb.append("D,FPP,REGION_FREQ_MEASURE,1,")
        wall(sb, date, slotSec + 4 * k)
        sb.append(',').append(Regions(g)).append(',')
        if (r.nextInt(100) >= 1) fmt(sb, dev, 5)
        sb.append(','); fmt(sb, meas, 5)
        sb.append(',').append(if (r.nextInt(100) < 4) 0 else 1).append(',')
        wall(sb, date, slotSec + 300)
        sb.append(",1\n")
      }
    }

    sb.append("I,DEMAND,INTERMITTENT_DS_PRED,1,RUN_DATETIME,DUID,OFFERDATETIME,")
      .append("INTERVAL_DATETIME,ORIGIN,FORECAST_PRIORITY,FORECAST_MEAN,FORECAST_POE10,")
      .append("FORECAST_POE50,FORECAST_POE90\n")
    for (u <- 0 until c.units; j <- 0 until Ahead; o <- 0 until Offers) {
      val r = rng(c, 3, dayKey, slot, u * 1000 + j * 10 + o)
      val level = 20.0 + 5.0 * ((u * 37) % 40) + r.nextGaussian() * 3.0
      sb.append("D,DEMAND,INTERMITTENT_DS_PRED,1,")
      wall(sb, date, slotSec)
      sb.append(',').append(unitId(u)).append(',')
      wall(sb, date, slotSec - 60 + 30 * o)
      sb.append(',')
      wall(sb, date, slotSec + 300 * (j + 1))
      sb.append(',').append(if (r.nextInt(100) < 10) "ASEFS_OTHER" else "AWEFS_ASEFS")
      sb.append(',').append(o + 1).append(',')
      fmt(sb, level, 3); sb.append(','); fmt(sb, level * 0.8, 3)
      sb.append(','); fmt(sb, level + r.nextGaussian(), 3); sb.append(',')
      fmt(sb, level * 1.2, 3); sb.append('\n')
    }
    sb.append("C,\"END OF REPORT\",").append(Samples * (c.units + Regions.size)).append('\n')
    sb.toString
  }

  /** The zip for (`date`, `slot`), with a fixed entry time so equal
    * inputs give byte-identical archives. */
  def zip(c: Corpus, date: LocalDate, slot: Int): Zip = {
    val name = zipName(date, slot)
    val text = csv(c, date, slot).getBytes(StandardCharsets.UTF_8)
    val bos = new ByteArrayOutputStream(text.length / 4)
    val zout = new ZipOutputStream(bos)
    try {
      val e = new ZipEntry(name.stripSuffix(".zip") + ".CSV")
      e.setTime(946684800000L)
      zout.putNextEntry(e)
      zout.write(text)
      zout.closeEntry()
    } finally zout.close()
    Zip(name, bos.toByteArray, text.length.toLong)
  }
}
