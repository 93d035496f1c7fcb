package jfbench

import java.nio.file.Path
import java.sql.{Date, Timestamp}
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.GridFunctions
import graft.jobs.DailyJob
import graft.sources.{Grib, Grib2, GribMessage, GribReader}
import graft.store.{CatalogStore, GridStore}
import graft.transform.Transforms

/** A grid store with its two catalogs, all fresh under one directory. */
final class Stores(spark: SparkSession, val dir: Path) {
  val gridPath: Path = dir.resolve("grid")
  val grids = new GridStore(spark, gridPath.toString)
  val rawFiles = new CatalogStore(spark, dir.resolve("raw_files").toString, "id")
  val curated = new CatalogStore(spark, dir.resolve("curated").toString, "id")
  val job = new DailyJob(spark, grids, rawFiles, curated)

  def partitionBytes(d: Date): Long = Stats.dirBytes(gridPath.resolve(s"date=$d"))
}

/** What a daily run returns: rows stored, variables, curated ids. */
final case class RunOut(rows: Long, variables: Seq[String], curatedKeys: Seq[String])

/** One daily run: its inputs and what the program should store for them. */
final case class DayRun(fields: DayFields, path: String, insertedAt: Timestamp) {
  def source: Source = fields.source
  def reader: GribReader = source.name match {
    case "cams" => Grib2.CamsGrib2Reader
    case _ => Grib2.EcmwfGrib2Reader
  }
  def transform: (DataFrame, Timestamp) => DataFrame = source.name match {
    case "cams" => Transforms.cams
    case _ => Transforms.ecmwf
  }
  def runId: String = fields.runId

  def viaDailyJob(st: Stores): RunOut = {
    val r = st.job.run(source.name, source.dataset, fields.sqlDate, reader, path,
      transform, insertedAt)
    RunOut(r.insertedRows, r.variablesProcessed, r.curatedKeys)
  }
}

/** The `etl_day` workload: a closed loop of `DailyJob.run` calls, one CAMS and
  * one ECMWF run per date, into a fresh store. The traced run replays each
  * daily run step by step through the same public calls so every step gets
  * its own span.
  */
object EtlDay {

  /** Forecast steps written per daily file. */
  val Steps: Seq[Int] = Seq(0)

  /** First date of a run: the seed picks a day in 2025. */
  def baseDate(seed: Long): LocalDate = LocalDate.of(2025, 1, 1).plusDays(Math.floorMod(seed * 7919L, 360L))

  def insertedAt(date: LocalDate, hour: Int): Timestamp =
    Timestamp.valueOf(date.atStartOfDay().plusHours(30L + hour))

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val t0 = System.nanoTime()
    val cams = Sources.cams(Steps)
    val ecmwf = Sources.ecmwf(Steps)
    val gribDir = ctx.dir("grib")
    val base = baseDate(ctx.seed)
    def day(i: Int, src: Source, hour: Int): DayRun = {
      val f = new DayFields(src, base.plusDays(i.toLong), ctx.seed)
      DayRun(f, f.writeGrib(gribDir).toString, insertedAt(f.date, hour))
    }
    val st = new Stores(spark, ctx.dir("etl"))
    val checks = new Checks(ctx)
    val done = scala.collection.mutable.ArrayBuffer.empty[(DayRun, RunOut)]
    var attempted = 0L
    def timedRun(d: DayRun, totals: StepTotals): Double = {
      val s = System.nanoTime()
      attempted += 1
      try done += d -> (if (tr.enabled) replay(ctx, st, d, totals) else d.viaDailyJob(st))
      catch { case scala.util.control.NonFatal(e) => checks.fail(s"${d.source.name} ${d.fields.date}: $e") }
      val wall = (System.nanoTime() - s) / 1e9
      ctx.log(f"${d.source.name} ${d.fields.date}: $wall%.2f s")
      wall
    }
    // warm-up on the day before, on coarse grids: the first daily run of each
    // source pays class loading, JIT and codegen whatever its size
    Seq(cams, ecmwf).map(s => day(-1, Sources.coarse(s), 0)).foreach(timedRun(_, new StepTotals))
    val setupS = (System.nanoTime() - t0) / 1e9

    val heap = if (tr.enabled) Some(new HeapSampler) else None
    final case class Op(camsS: Double, ecmwfS: Double, rows: Long) { def wall: Double = camsS + ecmwfS }
    val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
    val totals = new StepTotals
    val w0 = System.nanoTime()
    tr.span("etl.window", root = true) {
      while ((System.nanoTime() - w0) / 1e9 < ctx.seconds || ops.length < 2) {
        // the second op ingests date 0 again, with a later insertedAt — the
        // reprocessing case, whose compaction has to keep the newer copy of
        // every key; every other op ingests a new date
        val (i, hour) = if (ops.length == 1) (0, 6) else (math.max(0, ops.length - 1), 0)
        val c = day(i, cams, hour)
        val e = day(i, ecmwf, hour)
        val n = done.length
        val cw = tr.span("jobs.day")(timedRun(c, totals))
        val ew = tr.span("jobs.day")(timedRun(e, totals))
        ops += Op(cw, ew, done.drop(n).map(_._2.rows).sum)
      }
    }
    heap.foreach(_.close())
    checks.runs(st, done.toSeq)
    if (tr.enabled) {
      // the replay must store what DailyJob.run stores for the same inputs
      val copy = new Stores(spark, ctx.dir("etl_copy"))
      val date0 = done.filter(_._1.fields.date == base).map(_._1).drop(2)
      date0.foreach(_.viaDailyJob(copy))
      date0.headOption.foreach(d => checks.sameRows(st, copy, d.fields.sqlDate))
    }

    val opMs = ops.map(_.wall * 1000).toSeq
    val rowsPerS = ops.map(_.rows).sum / ops.map(_.wall).sum
    val e2e = Map(
      "setup_s" -> Metric(setupS, "s"),
      "op_p50_ms" -> Metric(Stats.median(opMs), "ms"),
      "throughput" -> Metric(rowsPerS, "1/s"))
    val layers =
      if (!tr.enabled) Map.empty[String, Metric]
      else Layers.complete(totals.layers(ops.length) ++
        Layers.sparkAndCover(tr, _.name == "jobs.day") ++ Map(
          "jobs.cams_day_s" -> Stats.median(ops.map(_.camsS).toSeq),
          "jobs.ecmwf_day_s" -> Stats.median(ops.map(_.ecmwfS).toSeq),
          "jobs.reingest_s" -> ops(1).wall,
          "jvm.heap_peak_mb" -> heap.map(_.peakMb).getOrElse(0.0),
          "traced.setup_s" -> setupS,
          "traced.op_p50_ms" -> Stats.median(opMs),
          "traced.throughput" -> rowsPerS))
    Outcome(attempted, checks.failed, e2e, layers, Map(
      "dates" -> ops.length, "daily_runs" -> attempted,
      "stored_rows_per_date" -> ops.map(_.rows).headOption.getOrElse(0L),
      "decoded_points_per_date" -> Seq(cams, ecmwf).map(s =>
        s.grid.numPoints.toLong * s.products.length * s.stepHours.length).sum,
      "store_bytes" -> Stats.dirBytes(st.gridPath),
      "failures" -> checks.messages))
  }

  /** `DailyJob.run`'s sequence, one span per step. The persisted transform is
    * materialized inside its own span (DailyJob lets the grid append do it),
    * so transform time is not charged to the store.
    */
  def replay(ctx: Ctx, st: Stores, d: DayRun, totals: StepTotals): RunOut = {
    val spark = ctx.spark
    val tr = ctx.tracer
    import spark.implicits._
    def timed[T](key: String, span: String)(body: => T): T = {
      val s = System.nanoTime()
      try tr.span(span)(body)
      finally totals.add(key, (System.nanoTime() - s) / 1e9)
    }
    val src = d.source
    val date = d.fields.sqlDate
    val runId = d.runId
    timed("catalog", "store.catalog") {
      val raw = Seq((runId, src.name, src.dataset, date)).toDF("id", "source", "dataset", "date")
        .withColumn("s3Key", GridFunctions.s3Key(col("source"), col("dataset"),
          col("date"), col("id")))
        .withColumn("createdAt", lit(d.insertedAt))
      st.rawFiles.insertIfAbsent(raw)
    }
    val messages: Seq[GribMessage] = timed("decode", "sources.grib2_decode")(d.reader.open(d.path).toSeq)
    totals.add("points", messages.map(_.values.length.toDouble).sum)
    val decoded = timed("todf", "sources.to_dataframe")(Grib.toDataFrame(spark, messages))
    val rows = timed("transform", "transform.transform") {
      val r = d.transform(decoded, d.insertedAt).persist(StorageLevel.MEMORY_AND_DISK)
      r.count()
      r
    }
    try {
      val before = tr.span("bench.stat")(Stats.dirBytes(st.gridPath))
      val n = timed("append", "store.grid_append")(st.grids.append(rows))
      tr.span("bench.stat") {
        totals.add("rows", n.toDouble)
        totals.add("append_bytes", (Stats.dirBytes(st.gridPath) - before).toDouble)
      }
      val curatedRows = tr.span("transform.curated")(Transforms.curatedRecords(rows, runId, d.insertedAt))
      timed("catalog", "store.catalog")(st.curated.upsert(curatedRows, "createdAt"))
      val touched = tr.span("jobs.touched_dates") {
        rows.select(to_date(col("timestamp")).as("d")).distinct().as[Date].collect().toSeq
      }
      timed("compact", "store.grid_compact")(st.grids.compact(touched))
      tr.span("bench.stat")(totals.add("compact_bytes", touched.map(st.partitionBytes(_).toDouble).sum))
      val meta = tr.span("jobs.result_meta")(curatedRows.select("id", "variable").collect())
      RunOut(n, meta.map(_.getString(1)).distinct.sorted.toSeq, meta.map(_.getString(0)).sorted.toSeq)
    } finally { rows.unpersist(); () }
  }
}

/** Per-step totals the replay accumulates over the measured dates. */
final class StepTotals {
  private val m = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = m(k) += v

  /** Per-date means, plus the two ratios. */
  def layers(dates: Int): Map[String, Double] = {
    val n = math.max(1, dates).toDouble
    Map(
      "sources.grib2_decode_s" -> m("decode") / n,
      "sources.decoded_points" -> m("points") / n,
      "sources.to_dataframe_s" -> m("todf") / n,
      "transform.transform_s" -> m("transform") / n,
      "transform.kept_point_share" -> m("rows") / math.max(1.0, m("points")),
      "store.grid_append_s" -> m("append") / n,
      "store.grid_append_rows" -> m("rows") / n,
      "store.grid_append_bytes" -> m("append_bytes") / n,
      "store.catalog_s" -> m("catalog") / n,
      "store.grid_compact_s" -> m("compact") / n,
      "store.compact_write_amp" -> m("compact_bytes") / math.max(1.0, m("append_bytes")))
  }
}
