package graft

import java.sql.{Date, Timestamp}
import java.time.{Duration, Instant}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

import graft.jobs.DailyJob
import graft.model.{Lineage, VariableResult}
import graft.serve.{PointQuery, ServeError, Service}
import graft.serve.RequestValidation.EnvironmentalRequest
import graft.sources.{GribMessage, GribReader, SyntheticMessage}
import graft.store.{CatalogStore, GridStore}
import graft.transform.Transforms

/** The set-oriented serving formulation — broadcast probes into
  * [[PointQuery.getSamples]], left-join lineage through both catalogs,
  * fail if any variable is missing — kept as the executable spec
  * [[Service.getVariables]] must match.
  */
object ServeOracle {
  def withLineage(samples: DataFrame, curated: DataFrame, rawFiles: DataFrame): DataFrame =
    samples
      .join(broadcast(curated.select(col("id").as("catalogId"), col("rawFileId"))),
        Seq("catalogId"), "left")
      .join(broadcast(rawFiles.select(col("id").as("rawFileId"), col("source"), col("dataset"))),
        Seq("rawFileId"), "left")

  def getVariables(finalView: DataFrame, curated: DataFrame, rawFiles: DataFrame,
      maxStaleness: Option[Duration], req: EnvironmentalRequest)
      : Either[ServeError, Seq[VariableResult]] = {
    val spark = finalView.sparkSession
    import spark.implicits._
    val probes = req.variables
      .map(v => (v, v, Timestamp.from(req.timestamp), req.lat.toDouble, req.lon.toDouble))
      .toDF("probeId", "variable", "ts", "lat", "lon")
    val bounded = maxStaleness match {
      case Some(h) => finalView.filter(col("timestamp").between(
        lit(Timestamp.from(req.timestamp.minus(h))), lit(Timestamp.from(req.timestamp))))
      case None => finalView
    }
    val rows = withLineage(PointQuery.getSamples(bounded, probes, maxStaleness),
      curated.select(col("id"), col("rawFileId")),
      rawFiles.select(col("id"), col("source"), col("dataset"))).collect()
    val answered = rows.map { r =>
      def f(c: String): Float = r.getAs[Number](c).floatValue()
      r.getAs[String]("variable") -> VariableResult(
        name = r.getAs[String]("variable"),
        value = f("value"),
        unit = r.getAs[String]("unit"),
        refTimestamp = r.getAs[Timestamp]("refTimestamp"),
        actualLat = f("actualLat"),
        actualLon = f("actualLon"),
        catalogId = r.getAs[String]("catalogId"),
        lineage = Option(r.getAs[String]("source")).map(src =>
          Lineage(src, r.getAs[String]("dataset"), r.getAs[String]("rawFileId"))))
    }.toMap
    val missing = req.variables.filterNot(answered.contains)
    if (missing.nonEmpty) Left(ServeError.Missing(missing))
    else Right(req.variables.map(answered))
  }
}

/** Serving request path: [[Service.getVariables]] answers exactly what the
  * [[ServeOracle]] formulation answers on a `DailyJob`-built store, with one
  * aggregate per request — no join, no broadcast.
  */
class ServePlanSpec extends SparkSpec {

  // 4×4 patch at 0.25° around Berlin; ECMWF 3-hourly across a date
  // boundary, CAMS hourly for the evening of the first date
  private val lats = Seq(52.0, 52.25, 52.5, 52.75)
  private val lons = Seq(13.0, 13.25, 13.5, 13.75)
  private val ecmwfSteps = Seq("2026-01-01 15:00:00", "2026-01-01 18:00:00",
    "2026-01-01 21:00:00", "2026-01-02 00:00:00", "2026-01-02 03:00:00").map(Timestamp.valueOf)
  private val camsSteps = (19 to 23).map(h => Timestamp.valueOf(f"2026-01-01 $h%02d:00:00"))

  private def field(variable: String, ts: Timestamp, unit: String, base: Double,
      scale: Double): SyntheticMessage = {
    val pts = for (la <- lats; lo <- lons) yield (la, lo)
    val seed = (variable.hashCode.toLong * 31 + ts.getTime) % 97
    SyntheticMessage(variable, unit, ts,
      pts.zipWithIndex.map { case (_, i) => base + scale * ((i * 7 + seed) % 23) }.toArray,
      pts.map(_._1).toArray, pts.map(_._2).toArray)
  }

  private def reader(msgs: Seq[GribMessage]): GribReader = new GribReader {
    def open(path: String): Iterator[GribMessage] = msgs.iterator
  }

  /** The store as `DailyJob.run` leaves it — every date it wrote compacted —
    * and its FINAL view, taken before [[store]] appends to it.
    */
  private lazy val daily = {
    val base = tempDir("serve-plan")
    val grids = new GridStore(spark, s"$base/grid")
    val rawFiles = new CatalogStore(spark, s"$base/raw_files", "id")
    val curated = new CatalogStore(spark, s"$base/curated", "id")
    val job = new DailyJob(spark, grids, rawFiles, curated)
    job.run("ecmwf", "ifs-weather-forecast", Date.valueOf("2026-01-01"),
      reader(ecmwfSteps.flatMap(ts => Seq(field("temperature", ts, "K", 270.0, 0.5),
        field("dewpoint", ts, "K", 262.0, 0.25)))),
      "unused", Transforms.ecmwf, Timestamp.valueOf("2026-01-01 08:00:00"))
    job.run("cams", "cams-europe-air-quality-forecast", Date.valueOf("2026-01-01"),
      reader(camsSteps.map(ts => field("pm2p5", ts, "kg m-3", 1e-9, 1e-9))),
      "unused", Transforms.cams, Timestamp.valueOf("2026-01-01 08:05:00"))
    (grids, grids.finalView(), curated.read(), rawFiles.read())
  }

  private lazy val store = {
    val (grids, _, curated, rawFiles) = daily
    // An uncompacted second version of some keys: half the 18:00 and 00:00
    // temperature points re-appended with new values and a later insertedAt,
    // part under the slice's catalog id, part under an id with no curated row.
    val fresh = grids.finalView()
      .filter(col("variable") === "temperature" &&
        col("timestamp").isin(ecmwfSteps(1), ecmwfSteps(3)) && col("lat") <= 52.25f)
      .withColumn("value", col("value") + 40.0f)
      .withColumn("catalogId",
        when(col("lon") >= 13.5f, lit("cat-uncatalogued")).otherwise(col("catalogId")))
      .withColumn("insertedAt", lit(Timestamp.valueOf("2026-01-02 09:00:00")))
      .drop("date")
    assert(grids.append(fresh) === 16L)
    assert(grids.raw().count() > grids.finalView().count(), "second versions stay uncompacted")
    // CAMS catalog ids keep their curated rows but lose the raw-file row
    (grids.finalView(), curated, rawFiles.filter(col("source") =!= "cams"))
  }

  private def request(lat: Double, lon: Double, ts: Instant, vars: String*) =
    EnvironmentalRequest(lat.toFloat, lon.toFloat, ts, vars)

  /** Deliberate edge cases plus seeded random ones. */
  private def requests(seed: Long): Seq[EnvironmentalRequest] = {
    val steps = (ecmwfSteps ++ camsSteps).map(_.toInstant)
    val known = Seq("temperature", "dewpoint", "humidity", "pm2p5")
    val s18 = ecmwfSteps(1).toInstant
    val s00 = ecmwfSteps(3).toInstant
    val last = ecmwfSteps(4).toInstant
    val edge = Seq(
      request(52.25, 13.25, s18, "temperature", "humidity"),          // exact step, exact point
      request(52.1, 13.2, s18.plusSeconds(1800), "temperature"),      // snap back 30 min
      // the 3 h 0.5 s horizon's edge: whole seconds bound the INTERVAL side
      request(52.1, 13.6, last.plusSeconds(3 * 3600), "temperature"),
      request(52.1, 13.6, last.plusSeconds(3 * 3600).plusMillis(200), "temperature"),
      request(52.1, 13.6, last.plusSeconds(3 * 3600 + 1), "temperature"),
      request(52.5, 13.5, s18.plusNanos(999000), "dewpoint"),         // sub-second
      request(52.5, 13.5, s18.minusNanos(1000), "dewpoint"),          // a microsecond early
      request(52.5, 13.5, s18.minusNanos(1), "dewpoint"),             // a nanosecond early
      request(52.125, 13.125, s18, "temperature", "dewpoint"),        // four-way NN tie
      request(52.375, 13.5, s00.plusSeconds(60), "temperature"),      // two-way tie, new versions
      request(52.0, 13.375, camsSteps(2).toInstant, "pm2p5", "temperature"), // lineage None
      request(52.5, 13.5, s18, "temperature", "temperature", "humidity"),    // duplicate
      request(52.5, 13.5, s18, "temperature", "pm10"),                       // unknown
      request(52.5, 13.5, s18, "nope"),
      request(52.5, 13.5, ecmwfSteps.head.toInstant.minusSeconds(1), "temperature"), // before data
      request(52.5, 13.5, s00.plusSeconds(40 * 3600), "temperature"),                 // stale
      request(10.0, -170.0, s00, "humidity"))                                         // far away
    val r = new scala.util.Random(seed)
    val random = Seq.fill(12) {
      val ts = steps(r.nextInt(steps.length)).plusMillis(r.nextInt(12 * 3600 * 1000).toLong - 3600 * 1000L)
      val vars = Seq.fill(1 + r.nextInt(3))(
        if (r.nextInt(8) == 0) "pm10" else known(r.nextInt(known.length)))
      request(51.9 + r.nextDouble() * 1.0, 12.9 + r.nextDouble() * 1.0, ts, vars: _*)
    }
    edge ++ random
  }

  test("Service.getVariables == getSamples + lineage joins + missing-check on a DailyJob store") {
    val (view, curated, rawFiles) = store
    for ((horizon, seed) <- Seq(None -> 7L, Some(Duration.ofHours(3).plusMillis(500)) -> 11L)) {
      val svc = new Service(view, curated, rawFiles, maxStaleness = horizon)
      val reqs = requests(seed)
      val outcomes = reqs.map { req =>
        val got = svc.getVariables(req)
        assert(got === ServeOracle.getVariables(view, curated, rawFiles, horizon, req),
          s"horizon $horizon, request $req")
        got
      }
      // the edge cases reach every branch being compared
      val answers = outcomes.flatMap(_.toOption).flatten
      assert(answers.exists(_.lineage.isEmpty) && answers.exists(_.lineage.nonEmpty))
      assert(answers.exists(_.catalogId == "cat-uncatalogued"))
      assert(answers.exists(a => a.name == "temperature" && a.value > 30f), "new versions served")
      assert(outcomes.exists(_ == Left(ServeError.Missing(Seq("pm10")))))
      assert(answers.length >= 10)
    }
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Shuffles in the executed plan and Spark jobs of one warm request. */
  private def requestShape(svc: Service, req: EnvironmentalRequest): (Int, Int) = {
    val frame = svc.plan(req)
    assert(frame.queryExecution.optimizedPlan.collect { case j: Join => j }.isEmpty)
    assert(frame.collect().length === req.variables.length)
    val executed = nodes(frame.queryExecution.executedPlan)
    assert(executed.collect { case b: BroadcastExchangeExec => b }.isEmpty, executed.head)
    assert(executed.collect { case j: BaseJoinExec => j }.isEmpty, executed.head)
    val shuffles = executed.collect { case s: ShuffleExchangeExec => s }.length

    val sc = spark.sparkContext
    val group = s"serve-plan-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    svc.getVariables(req) // warm
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "one serving request")
      try assert(svc.getVariables(req).isRight) finally sc.clearJobGroup()
      // listener delivery is async; give the bus a moment to drain
      Thread.sleep(1000)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get() >= 1, "no Spark job ran for the request")
    (shuffles, jobs.get())
  }

  private val shapeRequest = request(52.3, 13.3, ecmwfSteps(1).toInstant.plusSeconds(600),
    "temperature", "humidity", "dewpoint")

  test("one request is one aggregate: no join, no broadcast, ≤2 shuffles, ≤3 jobs") {
    val (view, curated, rawFiles) = store
    val svc = new Service(view, curated, rawFiles, maxStaleness = Some(Duration.ofHours(6)))
    val (shuffles, jobs) = requestShape(svc, shapeRequest)
    assert(shuffles <= 2 && jobs <= 3, s"$shuffles shuffles, $jobs Spark jobs for one request")
  }

  test("on a DailyJob-built store FINAL has no aggregate: ≤1 shuffle, ≤2 jobs per request") {
    val (_, view, curated, rawFiles) = daily
    assert(view.queryExecution.optimizedPlan.collect { case a: Aggregate => a }.isEmpty)
    val svc = new Service(view, curated, rawFiles, maxStaleness = Some(Duration.ofHours(6)))
    val (shuffles, jobs) = requestShape(svc, shapeRequest)
    assert(shuffles <= 1 && jobs <= 2, s"$shuffles shuffles, $jobs Spark jobs for one request")
  }
}
