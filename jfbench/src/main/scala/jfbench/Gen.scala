package jfbench

import java.nio.file.{Files, Path}
import java.sql.Date
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.util.SplittableRandom

import graft.sources.Grib
import graft.sources.Grib2
import graft.sources.Grib2.{Chemical, GridSpec, Meteo}

/** One source's forecast shape: its grid, its GRIB products and the forecast
  * steps written per daily file.
  */
final case class Source(
    name: String,
    dataset: String,
    grid: GridSpec,
    products: Seq[(String, Grib2.Product)],
    stepHours: Seq[Int]) {

  /** Whether the point survives the source's transform: CAMS keeps every
    * point, ECMWF only those inside the Europe box.
    */
  def kept(lat: Float, lon: Float): Boolean = name == "cams" || {
    import graft.model.Constants._
    lat >= EuropeLatMin && lat <= EuropeLatMax && lon >= EuropeLonMin && lon <= EuropeLonMax
  }

  /** Stored rows per (variable, step). */
  lazy val storedPoints: Long = lats.indices.count(i => kept(lats(i), lons(i))).toLong

  /** Variables the transform stores, sorted (ECMWF derives humidity). */
  def storedVariables: Seq[String] =
    if (name == "cams") Seq("pm10", "pm2p5") else Seq("dewpoint", "humidity", "temperature")

  def rowsPerFile: Long = storedPoints * storedVariables.length * stepHours.length

  /** Flat index of the grid point at exactly (`lat`, `lon`). */
  def indexOf(lat: Float, lon: Float): Int = rowOf(lat) * grid.ni + colOf(lon)
  private lazy val rowOf: Map[Float, Int] = (0 until grid.nj).map(j => lats(j * grid.ni) -> j).toMap
  private lazy val colOf: Map[Float, Int] = (0 until grid.ni).map(i => lons(i) -> i).toMap

  /** Grid point coordinates exactly as the GRIB decoder yields them. */
  lazy val (lats, lons): (Array[Float], Array[Float]) = {
    val rows = grid.rowLats
    val la = new Array[Float](grid.numPoints)
    val lo = new Array[Float](grid.numPoints)
    var idx = 0
    for (j <- 0 until grid.nj; i <- 0 until grid.ni) {
      la(idx) = rows(j).toFloat
      lo(idx) = Grib.normalizeLon(grid.lon1Deg + i * grid.dLonDeg).toFloat
      idx += 1
    }
    (la, lo)
  }
}

object Sources {
  /** CAMS European air quality over the CAMS domain from 71.95°N, 24.95°W
    * (105 × 175 points at 0.4°), written across the prime meridian
    * (335.05°E → 44.65°E) as the real files are; pm2p5 and pm10 in kg m⁻³.
    */
  def cams(steps: Seq[Int], deg: Double = 0.4): Source = Source("cams", "cams-europe-air-quality-forecasts",
    GridSpec((70 / deg).toInt, (42 / deg).toInt, 71.95, 335.05, deg, deg),
    Seq("pm2p5" -> Chemical(40009), "pm10" -> Chemical(40008)), steps)

  /** ECMWF open data on a global grid (181 × 360 at 1.0°), 2t and 2d in K.
    * The Europe clip keeps 4.7 % of its points (43 × 71 at 1.0°), as it
    * does at the production 0.25°.
    */
  def ecmwf(steps: Seq[Int], deg: Double = 1.0): Source = Source("ecmwf", "ifs-weather-forecast",
    GridSpec((360 / deg).toInt, (180 / deg).toInt + 1, 90.0, 0.0, deg, deg),
    Seq("temperature" -> Meteo(0, 0), "dewpoint" -> Meteo(0, 6)), steps)

  /** The same source on a 10× coarser grid, for warming a JVM up. */
  def coarse(s: Source): Source = {
    val g = s.grid
    s.copy(grid = g.copy(ni = g.ni / 10, nj = g.nj / 10 + 1, dLatDeg = g.dLatDeg * 10, dLonDeg = g.dLonDeg * 10))
  }
}

/** The generating fields of one (source, date): smooth seeded waves, one
  * array per (GRIB variable, step), in the source's wire units. These are
  * the ground truth the output checks compare answers against.
  */
final class DayFields(val source: Source, val date: LocalDate, seed: Long) {

  private def rng(variable: String, step: Int) = new SplittableRandom(
    seed * 0x9e3779b97f4a7c15L ^ (source.name, date.toEpochDay, variable, step).hashCode.toLong)

  private def waves(r: SplittableRandom, base: Double, amp: Double): Array[Double] = {
    val k = Array.fill(6)(0.03 + 0.25 * r.nextDouble())
    val ph = Array.fill(3)(2 * math.Pi * r.nextDouble())
    val la = source.lats
    val lo = source.lons
    Array.tabulate(la.length) { i =>
      val y = la(i).toDouble
      val x = lo(i).toDouble
      base + amp * (0.5 * math.sin(k(0) * y + ph(0)) * math.cos(k(1) * x) +
        0.3 * math.sin(k(2) * y + k(3) * x + ph(1)) +
        0.2 * math.cos(k(4) * y - k(5) * x + ph(2)))
    }
  }

  private val cache = scala.collection.mutable.Map.empty[(String, Int), Array[Double]]

  /** The wire-unit field of `variable` at forecast `step`. */
  def field(variable: String, step: Int): Array[Double] = synchronized {
    cache.getOrElseUpdate((variable, step), variable match {
      case "pm2p5" => waves(rng(variable, step), 14e-9, 8e-9)
      case "pm10" => waves(rng(variable, step), 24e-9, 12e-9)
      case "temperature" => waves(rng(variable, step), 283.0, 14.0)
      case "dewpoint" =>
        // below the temperature by 1–9 K, so relative humidity stays < 100 %
        val t = field("temperature", step)
        val gap = waves(rng(variable, step), 5.0, 4.0)
        Array.tabulate(t.length)(i => t(i) - gap(i))
    })
  }

  /** Largest rounding error 16-bit complex packing allows on `variable`'s
    * field at `step`: half of 2^E, where 2^E < 2·range/(2^16 − 1).
    */
  def quantum(variable: String, step: Int): Double = {
    val f = field(variable, step)
    (f.max - f.min) / 65535.0 + 1e-7 * f.map(math.abs).max
  }

  /** Encodes the day's file (every step × variable, DRT 5.3) at `dir`. */
  def writeGrib(dir: Path): Path = {
    val ref = date.atStartOfDay()
    val out = dir.resolve(s"${source.name}_$date.grib2")
    val os = Files.newOutputStream(out)
    try for (step <- source.stepHours; (v, product) <- source.products)
      os.write(Grib2.encodeComplex(product, source.grid, ref, step, field(v, step)))
    finally os.close()
    out
  }

  def sqlDate: Date = Date.valueOf(date)
  /** The raw-file id `DailyJob.run` derives for this (source, date). */
  def runId: String = graft.functions.UuidV7.deterministic(sqlDate.getTime,
    (source.name + "/" + source.dataset).hashCode.toLong)
  def stepTime(step: Int): LocalDateTime = date.atStartOfDay().plusHours(step.toLong)
  def stepMillis(step: Int): Long = stepTime(step).toInstant(ZoneOffset.UTC).toEpochMilli
}
