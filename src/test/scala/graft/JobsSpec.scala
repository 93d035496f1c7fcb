package graft

import java.sql.{Date, Timestamp}

import graft.jobs.DailyJob
import graft.sources.{Grib, GribMessage, GribReader, SyntheticMessage}
import graft.store.{CatalogStore, GridStore}
import graft.transform.Transforms

/** T1–T5 — the daily batch driver: end-to-end run + the reference's core
  * idempotency claim ("delete the data, re-run the ETL, same results",
  * `docs/layer-2-transformation.md:307-313`).
  */
object JobsSpec {
  val date: Date = Date.valueOf("2026-01-01")
  val ts: Timestamp = Timestamp.valueOf("2026-01-01 00:00:00")

  /** ECMWF input: temperature + dewpoint at two points inside the Europe
    * clip — 6 stored rows (2 points × t, td, rh).
    */
  val reader: GribReader = new GribReader {
    def open(path: String): Iterator[GribMessage] = Seq[GribMessage](
      SyntheticMessage("temperature", "K", ts,
        values = Array(290.0, 291.0), lats = Array(50.0, 50.0), lons = Array(10.0, 10.25)),
      SyntheticMessage("dewpoint", "K", ts,
        values = Array(285.0, 286.0), lats = Array(50.0, 50.0), lons = Array(10.0, 10.25))
    ).iterator
  }
}

class JobsSpec extends SparkSpec {
  import JobsSpec._

  test("daily run materializes grid + catalogs; re-run is idempotent") {
    val base = tempDir("job")
    val grids = new GridStore(spark, s"$base/grid")
    val rawFiles = new CatalogStore(spark, s"$base/raw_files", "id")
    val curated = new CatalogStore(spark, s"$base/curated", "id")
    val job = new DailyJob(spark, grids, rawFiles, curated)

    val r1 = job.run("ecmwf", "ifs-weather-forecast", date, reader, "unused",
      Transforms.ecmwf, insertedAt = ts)
    assert(r1.insertedRows === 6L) // 2 points × 3 variables (t, td, rh)
    assert(r1.variablesProcessed === Seq("dewpoint", "humidity", "temperature"))
    assert(grids.finalView().count() === 6L)
    assert(rawFiles.read().count() === 1L)
    assert(curated.read().count() === 3L)

    // referential integrity: grid catalog ids == curated ids (the reference's
    // cross-system invariant, test_transform_cams.py:136-153)
    val gridIds = grids.finalView().select("catalogId").distinct()
      .collect().map(_.getString(0)).toSet
    val curIds = curated.read().select("id").collect().map(_.getString(0)).toSet
    assert(gridIds === curIds)

    // re-run same partition later: FINAL counts unchanged, catalogs stable
    val r2 = job.run("ecmwf", "ifs-weather-forecast", date, reader, "unused",
      Transforms.ecmwf, insertedAt = Timestamp.valueOf("2026-01-01 06:00:00"))
    assert(r2.runId === r1.runId, "run id is deterministic per (source,dataset,date)")
    assert(grids.finalView().count() === 6L)
    assert(grids.raw().count() === 6L, "compaction materialized the dedup")
    assert(rawFiles.read().count() === 1L, "K3 insert-if-absent held")
    assert(curated.read().count() === 3L, "K4 upsert held")

    // S6 — transform locates its input from the catalog, not an event log
    val key = job.locateRawFile("ifs-weather-forecast", date)
    assert(key === s"ecmwf/ifs-weather-forecast/2026-01-01/${r1.runId}.grib")
    intercept[IllegalArgumentException](
      job.locateRawFile("ifs-weather-forecast", Date.valueOf("2030-01-01")))
  }

  test("daily run from real GRIB2 binary: encode → decode → transform → store") {
    import java.time.LocalDateTime
    import graft.sources.Grib2
    // a CAMS-shaped file: pm2p5 + pm10 messages over a prime-meridian-
    // crossing Europe clip (the ADR-002 grid), real simple-packed binary
    val grid = Grib2.GridSpec(ni = 20, nj = 10, lat1Deg = 60.0, lon1Deg = 355.0,
      dLatDeg = 0.5, dLonDeg = 0.5)
    def f(base: Double) = Array.tabulate(grid.numPoints)(i => base * (1.0 + (i % 7) * 0.1))
    val bytes =
      Grib2.encode(Grib2.Chemical(40009), grid, LocalDateTime.of(2026, 1, 1, 0, 0), 0, f(5e-9)) ++
      Grib2.encode(Grib2.Chemical(40008), grid, LocalDateTime.of(2026, 1, 1, 0, 0), 0, f(9e-9))
    val gribFile = java.nio.file.Files.createTempFile("cams-daily", ".grib2")
    java.nio.file.Files.write(gribFile, bytes)

    val base = tempDir("jobgrib")
    val grids = new GridStore(spark, s"$base/grid")
    val rawFiles = new CatalogStore(spark, s"$base/raw_files", "id")
    val curated = new CatalogStore(spark, s"$base/curated", "id")
    val job = new DailyJob(spark, grids, rawFiles, curated)
    try {
      val r = job.run("cams", "eu-air-quality-forecast", date,
        Grib2.CamsGrib2Reader, gribFile.toString, Transforms.cams, insertedAt = ts)
      assert(r.variablesProcessed === Seq("pm10", "pm2p5"))
      assert(r.insertedRows === 2L * grid.numPoints)
      val stored = grids.finalView()
      assert(stored.count() === 2L * grid.numPoints)
      // unit conversion applied downstream of the real decode (C1)
      import org.apache.spark.sql.functions._
      val units = stored.select("unit").distinct().collect().map(_.getString(0)).toSet
      assert(units === Set("µg/m³"))
      // decode-boundary longitude normalization survived to storage
      val lonMinMax = stored.agg(min("lon"), max("lon")).collect()(0)
      assert(lonMinMax.getFloat(0) >= -5.0f && lonMinMax.getFloat(1) < 5.0f)
    } finally java.nio.file.Files.delete(gribFile)
  }

  test("daily run from a complex-packed + bitmapped file (the production CAMS shape)") {
    import java.time.LocalDateTime
    import graft.sources.Grib2
    // real files mix packings: one 5.3 (order-2 spatial differencing)
    // message with a bitmap masking a corner, one simple-packed message
    val grid = Grib2.GridSpec(ni = 20, nj = 10, lat1Deg = 60.0, lon1Deg = 355.0,
      dLatDeg = 0.5, dLonDeg = 0.5)
    val masked = Array.tabulate(grid.numPoints)(i =>
      if (i < 5) Double.NaN else 5e-9 * (1.0 + (i % 7) * 0.1))
    val full = Array.tabulate(grid.numPoints)(i => 9e-9 * (1.0 + (i % 7) * 0.1))
    val bytes =
      Grib2.encodeComplex(Grib2.Chemical(40009), grid,
        LocalDateTime.of(2026, 1, 1, 0, 0), 0, masked, nbits = 20, order = 2) ++
      Grib2.encode(Grib2.Chemical(40008), grid,
        LocalDateTime.of(2026, 1, 1, 0, 0), 0, full)
    val gribFile = java.nio.file.Files.createTempFile("cams-complex", ".grib2")
    java.nio.file.Files.write(gribFile, bytes)

    val base = tempDir("jobgribc")
    val grids = new GridStore(spark, s"$base/grid")
    val rawFiles = new CatalogStore(spark, s"$base/raw_files", "id")
    val curated = new CatalogStore(spark, s"$base/curated", "id")
    val job = new DailyJob(spark, grids, rawFiles, curated)
    try {
      val r = job.run("cams", "eu-air-quality-forecast", date,
        Grib2.CamsGrib2Reader, gribFile.toString, Transforms.cams, insertedAt = ts)
      assert(r.variablesProcessed === Seq("pm10", "pm2p5"))
      // the 5 masked points are DROPPED at the adapter, never stored
      assert(r.insertedRows === 2L * grid.numPoints - 5L)
      val stored = grids.finalView()
      assert(stored.count() === 2L * grid.numPoints - 5L)
      import org.apache.spark.sql.functions._
      assert(stored.filter(col("value").isNaN).count() === 0L,
        "no NaN may reach the store")
      // complex-packed values converted like any others (C1: ×1e9)
      val pm25 = stored.filter(col("variable") === "pm2p5")
      assert(pm25.count() === grid.numPoints - 5L)
      val mx = pm25.agg(max("value")).collect()(0).getFloat(0)
      assert(math.abs(mx - 5e-9 * 1.6 * 1e9) < 1e-3, s"max pm2p5 $mx")
    } finally java.nio.file.Files.delete(gribFile)
  }

  test("daily run from a CCSDS-packed file (the production ECMWF shape), then compaction") {
    import java.time.LocalDateTime
    import graft.sources.Grib2
    // the real ECMWF fixture's shape: DRT 5.42 messages; one carries a
    // bitmap-masked corner, mixed with a complex-packed sibling
    val grid = Grib2.GridSpec(ni = 24, nj = 12, lat1Deg = 62.0, lon1Deg = 352.0,
      dLatDeg = 0.5, dLonDeg = 0.5)
    val t2m = Array.tabulate(grid.numPoints)(i =>
      if (i % 50 == 3) Double.NaN else 273.15 + (i % 30) * 0.5)
    val d2m = Array.tabulate(grid.numPoints)(i => 263.15 + (i % 25) * 0.5)
    val bytes =
      Grib2.encodeCcsds(Grib2.Meteo(0, 0), grid,
        LocalDateTime.of(2026, 1, 1, 0, 0), 0, t2m, nbits = 14) ++
      Grib2.encodeComplex(Grib2.Meteo(0, 6), grid,
        LocalDateTime.of(2026, 1, 1, 0, 0), 0, d2m, nbits = 14, order = 2)
    val gribFile = java.nio.file.Files.createTempFile("ecmwf-ccsds", ".grib2")
    java.nio.file.Files.write(gribFile, bytes)

    val base = tempDir("jobgribz")
    val grids = new GridStore(spark, s"$base/grid")
    val rawFiles = new CatalogStore(spark, s"$base/raw_files", "id")
    val curated = new CatalogStore(spark, s"$base/curated", "id")
    val job = new DailyJob(spark, grids, rawFiles, curated)
    val nMasked = t2m.count(_.isNaN)
    try {
      val r = job.run("ecmwf", "ifs-weather-forecast", date,
        Grib2.EcmwfGrib2Reader, gribFile.toString, Transforms.ecmwf, insertedAt = ts)
      // ecmwf transform derives humidity from paired t/td points: 3 variables
      assert(r.variablesProcessed.toSet ===
        Set("temperature", "dewpoint", "humidity"))
      val before = grids.finalView().count()
      // masked temperature points drop at the adapter; the ecmwf transform
      // pairs t/td BEFORE deriving anything, so all three output variables
      // carry only the paired (unmasked) points
      assert(before === 3L * (grid.numPoints - nMasked))
      // OPTIMIZE FINAL over the CCSDS-sourced rows, then crash-recovery:
      // a no-crash recover() must be a no-op on a healthy store
      grids.compact()
      grids.recover()
      assert(grids.finalView().count() === before)
      import org.apache.spark.sql.functions._
      assert(grids.finalView().filter(col("value").isNaN).count() === 0L)
    } finally java.nio.file.Files.delete(gribFile)
  }

  test("a run that stores no rows compacts nothing") {
    val base = tempDir("jobempty")
    val grids = new GridStore(spark, s"$base/grid")
    val rawFiles = new CatalogStore(spark, s"$base/raw_files", "id")
    val curated = new CatalogStore(spark, s"$base/curated", "id")
    val job = new DailyJob(spark, grids, rawFiles, curated)
    job.run("ecmwf", "ifs-weather-forecast", date, reader, "unused",
      Transforms.ecmwf, insertedAt = ts)
    // an uncompacted second version of date A, as a crashed run leaves it
    grids.append(Transforms.ecmwf(
      Grib.toDataFrame(spark, reader.open("unused").toSeq),
      Timestamp.valueOf("2026-01-01 06:00:00")))
    assert(grids.raw().count() === 12L)
    // date B: every point lies outside the Europe clip
    val tsB = Timestamp.valueOf("2026-01-02 00:00:00")
    val outside = new GribReader {
      def open(path: String): Iterator[GribMessage] = Seq[GribMessage](
        SyntheticMessage("temperature", "K", tsB,
          values = Array(290.0, 291.0), lats = Array(0.0, 0.0), lons = Array(100.0, 100.25)),
        SyntheticMessage("dewpoint", "K", tsB,
          values = Array(285.0, 286.0), lats = Array(0.0, 0.0), lons = Array(100.0, 100.25))
      ).iterator
    }
    val r = job.run("ecmwf", "ifs-weather-forecast", Date.valueOf("2026-01-02"),
      outside, "unused", Transforms.ecmwf, insertedAt = tsB)
    assert(r.insertedRows === 0L)
    assert(r.variablesProcessed.isEmpty && r.curatedKeys.isEmpty)
    assert(grids.raw().count() === 12L, "an empty run must not compact date A")
    assert(grids.finalView().count() === 6L)
  }

  test("T5 fail-fast: a failing decode leaves grid and curated catalogs untouched") {
    val base = tempDir("jobfail")
    val grids = new GridStore(spark, s"$base/grid")
    val rawFiles = new CatalogStore(spark, s"$base/raw_files", "id")
    val curated = new CatalogStore(spark, s"$base/curated", "id")
    val job = new DailyJob(spark, grids, rawFiles, curated)
    val broken = new GribReader {
      def open(path: String): Iterator[GribMessage] =
        throw new RuntimeException("decode failure")
    }
    intercept[RuntimeException] {
      job.run("ecmwf", "ifs-weather-forecast", date, broken, "unused",
        Transforms.ecmwf, insertedAt = ts)
    }
    assert(!curated.exists, "no curated catalog rows on failure")
    // raw_files IS recorded first — the reference's own ordering (ingest
    // asset completes before transform starts); idempotent re-run recovers
    assert(rawFiles.read().count() === 1L)
    val ok = job.run("ecmwf", "ifs-weather-forecast", date, reader, "unused",
      Transforms.ecmwf, insertedAt = ts)
    assert(ok.insertedRows === 6L)
    assert(grids.finalView().count() === 6L)
    assert(rawFiles.read().count() === 1L, "recovery run reuses the recorded raw file")
  }
}
