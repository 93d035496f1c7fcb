package graft

import java.sql.{Date, Timestamp}
import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{GridFunctions, SliceId, UuidV7}
import graft.jobs.DailyJob
import graft.sources.{Grib, Grib2, GribMessage, GribReader, SyntheticMessage}
import graft.store.{CatalogStore, GridStore}
import graft.transform.Transforms

/** `DailyJob.run` as its former step sequence: persist the transform,
  * append it, upsert the curated rows derived from it, collect the touched
  * dates and compact them, collect the result metadata. The oracle the
  * one-pass run is checked against.
  */
object DailyJobOracle {
  def run(spark: SparkSession, grids: GridStore, rawFiles: CatalogStore,
      curated: CatalogStore, source: String, dataset: String, date: Date,
      reader: GribReader, path: String,
      transform: (DataFrame, Timestamp) => DataFrame,
      insertedAt: Timestamp): (String, Long, Seq[String], Seq[String]) = {
    import spark.implicits._
    val runId = UuidV7.deterministic(date.getTime,
      (source + "/" + dataset).hashCode.toLong)
    val raw = Seq((runId, source, dataset, date)).toDF("id", "source", "dataset", "date")
      .withColumn("s3Key", GridFunctions.s3Key(col("source"), col("dataset"),
        col("date"), col("id")))
      .withColumn("createdAt", lit(insertedAt))
    rawFiles.insertIfAbsent(raw)
    val decoded = Grib.toDataFrame(spark, reader.open(path).toSeq)
    val rows = transform(decoded, insertedAt)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = grids.append(rows)
      val curatedRows = Transforms.curatedRecords(rows, runId, insertedAt)
      curated.upsert(curatedRows, "createdAt")
      val touched = rows.select(to_date(col("timestamp")).as("d")).distinct()
        .as[Date].collect().toSeq
      grids.compact(touched)
      val meta = curatedRows.select("id", "variable").collect()
      (runId, n, meta.map(_.getString(1)).distinct.sorted.toSeq,
        meta.map(_.getString(0)).sorted.toSeq)
    } finally { rows.unpersist(); () }
  }
}

/** The one-pass daily run: slice ids minted in the plan, the slice set and
  * touched dates read off the grid write, GRIB exploded on the executors.
  */
class DailyJobPlanSpec extends SparkSpec {
  import spark.implicits._

  private def formula(v: String, ts: Timestamp): String =
    UuidV7.deterministic(ts.getTime, (v.hashCode.toLong << 20) ^ ts.getTime)

  /** Spark jobs started while `body` runs on this thread. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"daily-plan-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "daily plan")
      val out = try body finally sc.clearJobGroup()
      // listener delivery is async; give the bus a moment to drain
      Thread.sleep(1000)
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }

  private def stores(prefix: String): (GridStore, CatalogStore, CatalogStore) = {
    val base = tempDir(prefix)
    (new GridStore(spark, s"$base/grid"),
      new CatalogStore(spark, s"$base/raw_files", "id"),
      new CatalogStore(spark, s"$base/curated", "id"))
  }

  private val ts0 = JobsSpec.ts

  test("slice id expression == the collected-Timestamp formula, interpreted and generated") {
    val rnd = new scala.util.Random(20260101L)
    val fixedVars = Seq("temperature", "pm2p5", "température", "湿度", "🌡 t2m", "", "a\u0000b")
    val randomVars = Seq.fill(40)(new String(Array.fill(1 + rnd.nextInt(8))(
      rnd.nextInt(4) match {
        case 0 => (0x20 + rnd.nextInt(0x5f)).toChar
        case 1 => (0xa0 + rnd.nextInt(0x700)).toChar
        case 2 => (0x4e00 + rnd.nextInt(0x5000)).toChar
        case _ => (0xac00 + rnd.nextInt(0x2000)).toChar
      })))
    val fixedMicros = Seq(0L, 1L, -1L, 999L, -999L, 1000L, -1000L, -1001L,
      1767225600000000L, 1767225600000001L, 1767225600999999L,
      -86400000001L, -2208988800000000L - 123L, // 1900-01-01, minus a bit
      -12219292800000000L, -12219292800000001L, // 1582-10-15 Gregorian switch
      -30610224000000000L - 7L) // year 1000: Julian-rebased on collect
    val randomMicros = Seq.fill(60)(rnd.nextLong() % 4000000000000000L) ++
      Seq.fill(20)(-rnd.nextInt(Int.MaxValue).toLong * 1000L - rnd.nextInt(1000))
    val vars = fixedVars ++ randomVars
    val micros = fixedMicros ++ randomMicros
    val inputs = micros.zipWithIndex.map { case (us, i) => (vars(i % vars.length), us) } ++
      vars.map(v => (v, 1767225600123456L))

    val df = inputs.toDF("variable", "us")
      .select(col("variable"), timestamp_micros(col("us")).as("timestamp"), col("us"))
    val collected = df.collect().map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2)))
    val expected = collected.map { case (v, ts, us) => (v, us) -> formula(v, ts) }.toMap
    assert(expected.size === inputs.distinct.size)

    val expr = SliceId(BoundReference(0, StringType, nullable = true),
      BoundReference(1, TimestampType, nullable = true))
    val generated = GenerateUnsafeProjection.generate(Seq(expr))
    expected.foreach { case ((v, us), id) =>
      val row = InternalRow(UTF8String.fromString(v), us)
      assert(expr.eval(row).toString === id, s"interpreted ($v, $us)")
      assert(generated(row).getUTF8String(0).toString === id, s"generated ($v, $us)")
    }
    assert(expr.eval(InternalRow(null, 0L)) === null)
    assert(expr.eval(InternalRow(UTF8String.fromString("t"), null)) === null)

    // through the plan, with and without whole-stage and expression codegen
    for ((wholeStage, factory) <- Seq(("true", "CODEGEN_ONLY"), ("false", "NO_CODEGEN")))
      withSQLConf("spark.sql.codegen.wholeStage" -> wholeStage,
          "spark.sql.codegen.factoryMode" -> factory) {
        val got = Transforms.withCatalogIds(df, ts0)
          .select("variable", "us", "catalogId").collect()
          .map(r => (r.getString(0), r.getLong(1)) -> r.getString(2)).toMap
        assert(got === expected, s"wholeStage=$wholeStage factory=$factory")
      }
  }

  test("withCatalogIds drops rows whose variable or timestamp is NULL") {
    val t = Timestamp.valueOf("2026-01-01 03:00:00")
    val df = Seq[(String, Timestamp, Double)](
      ("temperature", t, 1.0), (null, t, 2.0), ("dewpoint", null, 3.0),
      (null, null, 4.0), ("dewpoint", t, 5.0))
      .toDF("variable", "timestamp", "value")
    val out = Transforms.withCatalogIds(df, ts0)
    assert(out.columns.toSeq === Seq("variable", "timestamp", "value", "catalogId", "insertedAt"))
    val got = out.collect().map(r => (r.getString(0), r.getDouble(2), r.getString(3)))
      .sortBy(_._2).toSeq
    assert(got === Seq(("temperature", 1.0, formula("temperature", t)),
      ("dewpoint", 5.0, formula("dewpoint", t))))
  }

  test("building the CAMS and ECMWF transforms runs no Spark job and plans no join") {
    val msgs = JobsSpec.reader.open("").toSeq ++ Seq(
      SyntheticMessage("pm2p5", "kg m-3", ts0, Array(1e-9, 2e-9), Array(50.0, 51.0), Array(1.0, 2.0)))
    val (plans, jobs) = jobsDuring {
      val decoded = Grib.toDataFrame(spark, msgs)
      Seq(Transforms.cams(decoded, ts0), Transforms.ecmwf(decoded, ts0))
        .map(_.queryExecution.optimizedPlan)
    }
    assert(jobs === 0, "building a transform must not evaluate it")
    plans.foreach { p =>
      assert(p.collect { case j: Join => j }.isEmpty, p)
      assert(!p.toString.contains("LocalRelation"), s"data-sized local relation in\n$p")
    }
  }

  test("a daily run is one pass: no persisted RDD left behind, at most 15 jobs") {
    val (grids, rawFiles, curated) = stores("daily-plan")
    val job = new DailyJob(spark, grids, rawFiles, curated)
    def ingest(at: Timestamp) = job.run("ecmwf", "ifs-weather-forecast",
      JobsSpec.date, JobsSpec.reader, "unused", Transforms.ecmwf, insertedAt = at)
    ingest(ts0) // warm, and make the re-ingest below compact a live date
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (r, jobs) = jobsDuring(ingest(Timestamp.valueOf("2026-01-01 06:00:00")))
    assert(r.insertedRows === 6L)
    assert(spark.sparkContext.getPersistentRDDs.keySet -- before === Set.empty)
    info(s"$jobs Spark jobs for one re-ingest")
    assert(jobs >= 1 && jobs <= 15, s"$jobs Spark jobs for one daily run")
  }

  test("DailyJob.run == the former step sequence: grid, FINAL, catalogs and RunResult") {
    // two dates: steps at 18:00 and 06:00 the next day; the ECMWF file's
    // third step carries temperature only (F5 drops it) and its grid
    // straddles the Europe clip
    val ref = LocalDateTime.of(2026, 3, 1, 18, 0)
    val grid = Grib2.GridSpec(ni = 12, nj = 8, lat1Deg = 75.0, lon1Deg = 350.0,
      dLatDeg = 1.5, dLonDeg = 2.0)
    def field(base: Double, scale: Double, k: Int) =
      Array.tabulate(grid.numPoints)(i => base + scale * ((i * 7 + k) % 23))
    val cams = Seq(0, 12).zipWithIndex.flatMap { case (h, k) => Seq(
      Grib2.encode(Grib2.Chemical(40009), grid, ref, h, field(4e-9, 1e-10, k)),
      Grib2.encode(Grib2.Chemical(40008), grid, ref, h, field(9e-9, 2e-10, k))) }
    val ecmwf = Seq(0, 12).zipWithIndex.flatMap { case (h, k) => Seq(
      Grib2.encode(Grib2.Meteo(0, 0), grid, ref, h, field(270.0, 0.5, k)),
      Grib2.encode(Grib2.Meteo(0, 6), grid, ref, h, field(260.0, 0.4, k))) } :+
      Grib2.encode(Grib2.Meteo(0, 0), grid, ref, 18, field(275.0, 0.5, 3))
    val dir = java.nio.file.Files.createTempDirectory("daily-diff")
    def write(name: String, msgs: Seq[Array[Byte]]): String = {
      val f = dir.resolve(name)
      java.nio.file.Files.write(f, msgs.reduce(_ ++ _))
      f.toString
    }
    val camsPath = write("cams.grib2", cams)
    val ecmwfPath = write("ecmwf.grib2", ecmwf)
    val date = Date.valueOf("2026-03-01")
    val runs = Seq(
      ("cams", "eu-air-quality-forecast", Grib2.CamsGrib2Reader, camsPath,
        Transforms.cams _, Timestamp.valueOf("2026-03-02 06:00:00")),
      ("ecmwf", "ifs-weather-forecast", Grib2.EcmwfGrib2Reader, ecmwfPath,
        Transforms.ecmwf _, Timestamp.valueOf("2026-03-02 06:00:00")),
      // re-ingest, later insertedAt: compaction must keep the newer copy
      ("ecmwf", "ifs-weather-forecast", Grib2.EcmwfGrib2Reader, ecmwfPath,
        Transforms.ecmwf _, Timestamp.valueOf("2026-03-02 09:30:00")),
      ("cams", "eu-air-quality-forecast", Grib2.CamsGrib2Reader, camsPath,
        Transforms.cams _, Timestamp.valueOf("2026-03-02 10:00:00")))

    val (gNew, rfNew, cNew) = stores("daily-new")
    val (gOld, rfOld, cOld) = stores("daily-old")
    val job = new DailyJob(spark, gNew, rfNew, cNew)
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
    try runs.foreach { case (src, ds, reader, path, tf, at) =>
      val r = job.run(src, ds, date, reader, path, tf, at)
      val o = DailyJobOracle.run(spark, gOld, rfOld, cOld, src, ds, date, reader, path, tf, at)
      assert((r.runId, r.insertedRows, r.variablesProcessed, r.curatedKeys) === o, s"$src @ $at")
      assert(rows(gNew.raw()) === rows(gOld.raw()), s"raw rows after $src @ $at")
      assert(rows(gNew.finalView()) === rows(gOld.finalView()), s"FINAL rows after $src @ $at")
      assert(rows(cNew.read()) === rows(cOld.read()), s"curated rows after $src @ $at")
      assert(rows(rfNew.read()) === rows(rfOld.read()), s"raw_files rows after $src @ $at")
    } finally {
      java.nio.file.Files.list(dir).forEach(f => java.nio.file.Files.delete(f))
      java.nio.file.Files.delete(dir)
    }

    // the inputs exercised what they were built for
    val dates = gNew.raw().select("date").distinct().as[Date].collect().map(_.toString).sorted
    assert(dates.toSeq === Seq("2026-03-01", "2026-03-02"))
    val ecmwfSteps = gNew.finalView().filter(col("variable") === "humidity")
      .select("timestamp").distinct().count()
    assert(ecmwfSteps === 2L, "the temperature-only step is dropped by F5")
    assert(gNew.raw().count() === gNew.finalView().count(), "compaction kept one copy per key")
    val catalog = cNew.read().select("id", "variable", "timestamp").collect()
    assert(catalog.length === 10) // CAMS 2 vars × 2 steps, ECMWF 3 vars × 2 steps
    catalog.foreach(r => assert(r.getString(0) === formula(r.getString(1), r.getTimestamp(2))))
  }
}
