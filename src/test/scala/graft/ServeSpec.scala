package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.model.Lineage
import graft.serve.{PointQuery, RequestValidation, Service}

/** Serving read path — mirrors `serving-go/internal/grid/finder_integration_test.go`
  * (snap +30 min, NN +0.435° still return the seeded point with actual coords)
  * and `api/request_test.go` (validation).
  */
class ServeSpec extends SparkSpec {
  import spark.implicits._

  private val t12 = Timestamp.valueOf("2026-01-01 12:00:00")

  private def grid = Seq(
    ("temperature", t12, 52.5f, 13.4f, 21.5, "°C", "cat-t"),
    ("temperature", t12, 53.0f, 14.0f, 19.0, "°C", "cat-t"),
    ("temperature", Timestamp.valueOf("2026-01-01 09:00:00"), 52.5f, 13.4f, 20.0, "°C", "cat-old"),
    ("humidity", t12, 52.5f, 13.4f, 73.0, "%", "cat-h")
  ).toDF("variable", "timestamp", "lat", "lon", "value", "unit", "catalogId")

  test("A2+J3 scalar: +30min snaps back, +0.435 deg snaps to nearest point") {
    // probe (52.935, 13.4): d²(52.5,13.4)=0.189 < d²(53.0,14.0)=0.364
    val out = PointQuery.getSample(grid, "temperature",
      Timestamp.valueOf("2026-01-01 12:30:00"), 52.935f, 13.4f)
    val r = out.collect()(0)
    assert(r.getAs[Timestamp]("timestamp") === t12, "ref timestamp snapped to 12:00")
    assert(r.getAs[Float]("lat") === 52.5f && r.getAs[Float]("lon") === 13.4f)
    assert(r.getAs[Double]("value") === 21.5)
  }

  test("A2 scalar: no data at or before ts → None") {
    // no data is zero rows in the hit's shape (once emptyDataFrame, no columns)
    val out = PointQuery.getSample(grid, "temperature",
      Timestamp.valueOf("2020-01-01 00:00:00"), 52.5f, 13.4f)
    assert(out.collect().isEmpty)
    assert(out.columns.toSeq === Seq("value", "unit", "lat", "lon", "timestamp", "catalogId"))
  }

  test("set-oriented getSamples matches the scalar path per probe") {
    val probes = Seq(
      ("p1", "temperature", Timestamp.valueOf("2026-01-01 12:30:00"), 52.935, 13.4),
      ("p2", "temperature", Timestamp.valueOf("2026-01-01 10:00:00"), 52.5, 13.4),
      ("p3", "humidity", Timestamp.valueOf("2026-01-01 12:00:00"), 0.0, 0.0)
    ).toDF("probeId", "variable", "ts", "lat", "lon")
    val out = PointQuery.getSamples(grid, probes).collect()
      .map(r => r.getAs[String]("probeId") ->
        (r.getAs[Timestamp]("refTimestamp"), r.getAs[Double]("value"))).toMap
    assert(out("p1") === (t12, 21.5))
    assert(out("p2") === (Timestamp.valueOf("2026-01-01 09:00:00"), 20.0), "as-of snap to 09:00")
    assert(out("p3") === (t12, 73.0))
  }

  test("getSamples plans a broadcast join on variable — never a cartesian") {
    val probes = Seq(("p1", "temperature", t12, 52.5, 13.4))
      .toDF("probeId", "variable", "ts", "lat", "lon")
    val plan = PointQuery.getSamples(grid, probes).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"expected broadcast join in:\n$plan")
    assert(!plan.contains("CartesianProduct"), "cartesian product in serving path")
  }

  test("J1/J4: lineage joins resolve source/dataset via catalogId") {
    // cat-t has a curated row but no raw-file row; cat-old has neither
    val curated = Seq(("cat-h", "raw-1"), ("cat-t", "raw-9")).toDF("id", "rawFileId")
    val rawFiles = Seq(("raw-1", "ecmwf", "ifs-weather-forecast")).toDF("id", "source", "dataset")
    val svc = new Service(grid, curated, rawFiles)
    def lineageAt(ts: String, variable: String) = svc.getVariables(RequestValidation.parse(
      "52.5", "13.4", ts, variable).toOption.get).toOption.get.head.lineage
    assert(lineageAt("2026-01-01T12:00:00Z", "humidity") ===
      Some(Lineage("ecmwf", "ifs-weather-forecast", "raw-1")))
    assert(lineageAt("2026-01-01T12:00:00Z", "temperature") === None)
    assert(lineageAt("2026-01-01T10:00:00Z", "temperature") === None)
  }

  test("T6: Service answers all variables in one plan, fails if ANY missing") {
    val curated = Seq(("cat-t", "raw-1"), ("cat-h", "raw-1")).toDF("id", "rawFileId")
    val rawFiles = Seq(("raw-1", "ecmwf", "ifs-weather-forecast"))
      .toDF("id", "source", "dataset")
    val svc = new Service(grid, curated, rawFiles)
    val req = RequestValidation.parse(
      "52.5", "13.4", "2026-01-01T12:30:00Z", "temperature,humidity").toOption.get
    val ok = svc.getVariables(req)
    assert(ok.isRight)
    val results = ok.toOption.get
    assert(results.map(_.name) === Seq("temperature", "humidity"), "request order kept")
    assert(results.head.refTimestamp === t12)
    assert(results.head.lineage.get.source === "ecmwf")
    assert(results(1).unit === "%")

    val bad = svc.getVariables(req.copy(variables = Seq("temperature", "pm2p5")))
    assert(bad.left.map(_.message) === Left("no data for: pm2p5"), "no partial responses")
  }

  test("snap horizon: stale grid rows are out of reach, fresh ones still snap") {
    val h = Some(java.time.Duration.ofHours(2))
    // probe at 12:30 with 2h horizon: 12:00 row reachable, 09:00 row not
    val p1 = Seq(("p1", "temperature", Timestamp.valueOf("2026-01-01 12:30:00"), 52.5, 13.4))
      .toDF("probeId", "variable", "ts", "lat", "lon")
    val r1 = PointQuery.getSamples(grid, p1, h).collect()
    assert(r1.length === 1 && r1(0).getAs[Timestamp]("refTimestamp") === t12)
    // probe at 12:30 next day: freshest row (12:00 today) is >2h stale → no row
    val p2 = Seq(("p2", "temperature", Timestamp.valueOf("2026-01-02 12:30:00"), 52.5, 13.4))
      .toDF("probeId", "variable", "ts", "lat", "lon")
    assert(PointQuery.getSamples(grid, p2, h).collect().isEmpty)
    // same via the per-point path
    assert(PointQuery.atPoint(grid, Seq("temperature"),
      Timestamp.valueOf("2026-01-02 12:30:00"), 52.5, 13.4, h).collect().isEmpty)
    assert(PointQuery.atPoint(grid, Seq("temperature"),
      Timestamp.valueOf("2026-01-01 12:30:00"), 52.5, 13.4, h)
      .collect().map(_.getAs[Timestamp]("refTimestamp")).toSeq === Seq(t12))
  }

  test("Service with maxStaleness answers fresh requests, 404s stale ones") {
    val curated = Seq(("cat-t", "raw-1"), ("cat-h", "raw-1")).toDF("id", "rawFileId")
    val rawFiles = Seq(("raw-1", "ecmwf", "ifs")).toDF("id", "source", "dataset")
    val svc = new Service(grid, curated, rawFiles,
      maxStaleness = Some(java.time.Duration.ofHours(2)))
    val fresh = RequestValidation.parse(
      "52.5", "13.4", "2026-01-01T12:30:00Z", "temperature,humidity").toOption.get
    assert(svc.getVariables(fresh).isRight)
    val stale = RequestValidation.parse(
      "52.5", "13.4", "2026-01-03T12:30:00Z", "temperature").toOption.get
    assert(svc.getVariables(stale).left.map(_.message) ===
      Left("no data for: temperature"))
  }

  test("T7: a query that exceeds its budget is cancelled, not awaited") {
    // 40 B generated rows aggregated — far beyond a 1 s budget at local[*]
    val slowGrid = spark.range(0L, 40L * 1000 * 1000 * 1000, 1L, 8).select(
      lit("temperature").as("variable"),
      lit(t12).as("timestamp"),
      (col("id") % 180).cast("float").as("lat"),
      (col("id") % 360).cast("float").as("lon"),
      (col("id") % 100).cast("double").as("value"),
      lit("°C").as("unit"),
      lit("cat-slow").as("catalogId"))
    val svc = new Service(slowGrid,
      Seq(("cat-slow", "raw-1")).toDF("id", "rawFileId"),
      Seq(("raw-1", "ecmwf", "ifs")).toDF("id", "source", "dataset"),
      queryBudget = Some(java.time.Duration.ofSeconds(1)))
    val req = RequestValidation.parse(
      "52.5", "13.4", "2026-01-01T12:30:00Z", "temperature").toOption.get
    val t0n = System.nanoTime()
    val out = svc.getVariables(req)
    val elapsed = (System.nanoTime() - t0n) / 1e9
    assert(out === Left(serve.ServeError.Timeout(1)))
    assert(elapsed < 30.0, s"cancellation must not wait out the full scan ($elapsed s)")
  }

  test("T7: a sub-millisecond budget is an immediate deadline, not forever") {
    // Duration.toMillis == 0 used to hit Thread.join(0) == wait-indefinitely
    val t0n = System.nanoTime()
    val out = serve.Deadline.run(spark, java.time.Duration.ofNanos(500000)) {
      Thread.sleep(5000); 42
    }
    val elapsed = (System.nanoTime() - t0n) / 1e9
    assert(out.isLeft && out.swap.toOption.get.isInstanceOf[serve.ServeError.Timeout])
    assert(elapsed < 3.0, s"tightest budget must still deadline (took $elapsed s)")
  }

  test("F4/C9: request validation accepts valid, rejects each bad field") {
    val ok = RequestValidation.parse("52.5", "13.4", "2026-01-01T12:00:00Z", "temperature, humidity")
    assert(ok.toOption.get.variables === Seq("temperature", "humidity"))
    assert(RequestValidation.parse("91", "0", "2026-01-01T12:00:00Z", "t").isLeft)
    assert(RequestValidation.parse("0", "-181", "2026-01-01T12:00:00Z", "t").isLeft)
    assert(RequestValidation.parse("0", "0", "not-a-time", "t").isLeft)
    assert(RequestValidation.parse("0", "0", "2026-01-01T12:00:00Z", "").isLeft)
    assert(RequestValidation.parse("0", "0", "2026-01-01T12:00:00Z", "a,,b").isLeft)
  }
}
