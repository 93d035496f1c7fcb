package graft

import java.sql.{Date, Timestamp}

import graft.jobs.DailyJob
import graft.serve.PointQuery
import graft.sources.{GribMessage, GribReader, SyntheticMessage}
import graft.store.{CatalogStore, GridStore}
import graft.transform.Transforms

/** SURVEY.md §7.2 — the minimum end-to-end slice, mirroring the reference's
  * `grid/finder_integration_test.go:13-56`: synthetic ECMWF Kelvin pair →
  * transform → curated append (twice, proving dedup) → point query for
  * derived humidity at (52.52, 13.40) with +30 min snap → Magnus value at
  * the nearest grid point, actual coords, snapped ref timestamp, lineage.
  */
class EndToEndSpec extends SparkSpec {

  private val t12 = Timestamp.valueOf("2026-01-01 12:00:00")
  private val t15 = Timestamp.valueOf("2026-01-01 15:00:00")

  // 0.25° patch around Berlin; T=293.15K (20°C), Td=288.15K (15°C) → RH≈73%
  private def messages: Seq[GribMessage] = {
    val lats = Array(52.25, 52.25, 52.5, 52.5)
    val lons = Array(13.25, 13.5, 13.25, 13.5)
    Seq(t12, t15).flatMap { ts =>
      Seq(
        SyntheticMessage("temperature", "K", ts, Array.fill(4)(293.15), lats, lons),
        SyntheticMessage("dewpoint", "K", ts, Array.fill(4)(288.15), lats, lons))
    }
  }

  test("curation delivery: screen→quality→quota→sharded export, globally ordered") {
    import org.apache.spark.sql.functions._
    import graft.functions.{Sampling, Sharding}
    import graft.text.TextAnalysis
    val spark2 = spark
    import spark2.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val docs = graft.Tables(spark, sfDir, "documents")
    // screen the odd-id "increment" against the even-id "history"
    val verdicts = graft.dedup.Dedup.incrementalScreen(
      docs.filter($"doc_id" % 2 === 0), docs.filter($"doc_id" % 2 =!= 0),
      "doc_id", "text", threshold = 0.4)
    val keep = verdicts.filter($"verdict" === "new").select($"id".as("doc_id"))
    val curated = docs.join(keep, Seq("doc_id"), "left_semi")
      .filter(round(TextAnalysis.qualityScore($"text"), 4) >= 0.3)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")
          .orderBy($"n_chars".desc, $"doc_id")))
      .filter($"rk" <= 10).drop("rk")
      .withColumn("shard_key", Sharding.shuffleKey($"doc_id"))
    val out = tempDir("delivery")
    val nShards = Sharding.writeShards(curated, out, "shard_key",
      rowsPerShard = 16, tiebreakCols = Seq("doc_id"))
    val back = spark.read.parquet(out)
    assert(back.count() === curated.count() && back.count() > 0)
    // shards are range-disjoint: max key of file i < min key of file i+1
    val ranges = back
      .withColumn("f", input_file_name())
      .groupBy("f").agg(min($"shard_key").as("lo"), max($"shard_key").as("hi"))
      .orderBy("lo").collect()
    assert(ranges.length === nShards)
    ranges.sliding(2).foreach {
      case Array(a, b) => assert(a.getAs[Long]("hi") <= b.getAs[Long]("lo"),
        "shard files must cover disjoint, ordered key ranges")
      case _ =>
    }
    // deterministic: re-running the whole pipeline selects the same set
    val again = docs.join(
        verdicts.filter($"verdict" === "new").select($"id".as("doc_id")),
        Seq("doc_id"), "left_semi")
      .filter(round(TextAnalysis.qualityScore($"text"), 4) >= 0.3)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")
          .orderBy($"n_chars".desc, $"doc_id")))
      .filter($"rk" <= 10)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(back.select("doc_id").collect().map(_.getLong(0)).toSet === again)
  }

  test("§7.2: ingest→transform→store→serve answers the humidity point query") {
    val base = tempDir("e2e")
    val grids = new GridStore(spark, s"$base/grid")
    val rawFiles = new CatalogStore(spark, s"$base/raw_files", "id")
    val curated = new CatalogStore(spark, s"$base/curated", "id")
    val job = new DailyJob(spark, grids, rawFiles, curated)
    val reader = new GribReader {
      def open(path: String): Iterator[GribMessage] = messages.iterator
    }

    // run twice (T4 reprocessing) — FINAL counts must not change
    Seq("08:00:00", "09:30:00").foreach { hhmm =>
      job.run("ecmwf", "ifs-weather-forecast", Date.valueOf("2026-01-01"), reader,
        "unused", Transforms.ecmwf, Timestamp.valueOf(s"2026-01-01 $hhmm"))
    }
    assert(grids.finalView().count() === 24L, "2 ts × 3 vars × 4 points, deduped")

    // probe: Berlin (52.52, 13.40) at 15:30 → snap to 15:00, NN → (52.5, 13.5)
    val sample = PointQuery.getSample(grids.finalView(), "humidity",
      Timestamp.valueOf("2026-01-01 15:30:00"), 52.52f, 13.40f).collect()(0)
    assert(sample.getAs[Timestamp]("timestamp") === t15, "snapped ref timestamp")
    assert(sample.getAs[Float]("lat") === 52.5f)
    assert(sample.getAs[Float]("lon") === 13.5f || sample.getAs[Float]("lon") === 13.25f)
    assert(sample.getAs[String]("unit") === "%")
    val rh = sample.getAs[Float]("value")
    assert(math.abs(rh - 73.0f) < 0.5f, s"Magnus oracle ≈73%%, got $rh")

    // lineage resolves through curated → raw_files to the deterministic run
    val svc = new graft.serve.Service(grids.finalView(), curated.read(), rawFiles.read())
    val r = svc.getVariables(graft.serve.RequestValidation.parse(
      "52.52", "13.40", "2026-01-01T15:30:00Z", "humidity").toOption.get).toOption.get.head
    val lineage = r.lineage.get
    assert(lineage.source === "ecmwf")
    assert(lineage.dataset === "ifs-weather-forecast")
    assert(lineage.rawFileId !== null)
    // T=Td oracle: dewpoint==temperature would give 100%; here Td<T so RH<100
    assert(r.value < 100.0f)
  }

  test("§3.1 full stack: HTTP in, deadline armed, lineage joined — response.go contract") {
    // the a2j3 serving flagship THROUGH HttpFront over the REAL store:
    // DailyJob-ingested GridStore (T2/T3), FINAL dedup view, staleness
    // horizon + query budget armed (T7), one aggregate answering every
    // variable, lineage from the Service's catalog map (T6/J1/J4), and the exact
    // snake_case JSON contract of the reference's response.go:15-42.
    import com.fasterxml.jackson.databind.ObjectMapper
    import graft.serve.{HttpFront, Service}
    import java.net.{HttpURLConnection, URI}
    import java.nio.charset.StandardCharsets

    val base = tempDir("e2e_http")
    val grids = new GridStore(spark, s"$base/grid")
    val rawFiles = new CatalogStore(spark, s"$base/raw_files", "id")
    val curated = new CatalogStore(spark, s"$base/curated", "id")
    val job = new DailyJob(spark, grids, rawFiles, curated)
    val reader = new GribReader {
      def open(path: String): Iterator[GribMessage] = messages.iterator
    }
    job.run("ecmwf", "ifs-weather-forecast", Date.valueOf("2026-01-01"), reader,
      "unused", Transforms.ecmwf, Timestamp.valueOf("2026-01-01 08:00:00"))

    def serviceWith(budget: java.time.Duration) = new Service(
      grids.finalView(), curated.read(), rawFiles.read(),
      maxStaleness = Some(java.time.Duration.ofHours(6)),
      queryBudget = Some(budget))

    def get(port: Int, pathAndQuery: String): (Int, String) = {
      val conn = URI.create(s"http://127.0.0.1:$port$pathAndQuery").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("GET")
      val status = conn.getResponseCode
      val is = if (status >= 400) conn.getErrorStream else conn.getInputStream
      val body = if (is == null) "" else {
        try new String(is.readAllBytes(), StandardCharsets.UTF_8) finally is.close()
      }
      (status, body)
    }

    val front = new HttpFront(serviceWith(java.time.Duration.ofSeconds(30)))
    val port = front.start()
    try {
      val (status, body) = get(port,
        "/v1/environmental?lat=52.52&lon=13.40" +
          "&timestamp=2026-01-01T15:30:00Z&variables=humidity,temperature")
      assert(status === 200, s"body: $body")
      val root = new ObjectMapper().readTree(body)
      // top-level contract: exactly the response.go:15-20 field set
      val topKeys = {
        val it = root.fieldNames(); val b = Seq.newBuilder[String]
        while (it.hasNext) b += it.next(); b.result().toSet
      }
      assert(topKeys === Set("lat", "lon", "requested_timestamp", "variables"))
      assert(root.get("lat").floatValue() === 52.52f)
      assert(root.get("lon").floatValue() === 13.4f)
      assert(root.get("requested_timestamp").asText() === "2026-01-01T15:30:00Z")
      val vars = root.get("variables")
      assert(vars.size() === 2, "both variables answered, request order kept")
      assert(vars.get(0).get("name").asText() === "humidity")
      assert(vars.get(1).get("name").asText() === "temperature")
      // per-variable contract: response.go:23-30 + nested lineage :32-36
      val hum = vars.get(0)
      val varKeys = {
        val it = hum.fieldNames(); val b = Seq.newBuilder[String]
        while (it.hasNext) b += it.next(); b.result().toSet
      }
      assert(varKeys === Set("name", "value", "unit", "ref_timestamp",
        "actual_lat", "actual_lon", "lineage"))
      assert(math.abs(hum.get("value").doubleValue() - 73.0) < 0.5,
        "Magnus RH at T=20°C, Td=15°C")
      assert(hum.get("unit").asText() === "%")
      // +30 min snap back to the 15:00 forecast, within the 6 h horizon
      assert(hum.get("ref_timestamp").asText() === "2026-01-01T15:00:00Z")
      assert(hum.get("actual_lat").floatValue() === 52.5f)
      val lin = hum.get("lineage")
      assert(lin.get("source").asText() === "ecmwf")
      assert(lin.get("dataset").asText() === "ifs-weather-forecast")
      assert(lin.get("raw_file_id").asText().nonEmpty)
      assert(vars.get(1).get("unit").asText() === "°C")
      assert(math.abs(vars.get(1).get("value").doubleValue() - 20.0) < 1e-3)

      // 404 through the same full stack: one unknown variable fails the
      // whole request (no partial responses), error body is JSON
      val (s404, b404) = get(port,
        "/v1/environmental?lat=52.52&lon=13.40" +
          "&timestamp=2026-01-01T15:30:00Z&variables=humidity,ozone")
      assert(s404 === 404)
      assert(new ObjectMapper().readTree(b404).get("error").asText().contains("ozone"))
    } finally front.stop()

    // T7 over the same real store: an impossible budget answers 504 — the
    // deadline cancels the job group, the request does not hang
    val tight = new HttpFront(serviceWith(java.time.Duration.ofMillis(1)))
    val tightPort = tight.start()
    try {
      val (s504, b504) = get(tightPort,
        "/v1/environmental?lat=52.52&lon=13.40" +
          "&timestamp=2026-01-01T15:30:00Z&variables=humidity")
      assert(s504 === 504, s"body: $b504")
      assert(new ObjectMapper().readTree(b504).get("error").asText()
        .contains("timed out"))
    } finally tight.stop()
  }
}
