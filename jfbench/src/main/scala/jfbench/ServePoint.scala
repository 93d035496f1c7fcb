package jfbench

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets
import java.sql.Timestamp
import java.time.{Duration, Instant, ZoneOffset}
import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.serve.{HttpFront, PointQuery, RequestValidation, Service}

/** One generated request: the raw query parameters and what the answer must be. */
final case class Request(lat: String, lon: String, timestamp: String, variables: String,
    expect: Expect) {
  def query: String = Seq("lat" -> lat, "lon" -> lon, "timestamp" -> timestamp,
    "variables" -> variables).map { case (k, v) =>
    k + "=" + URLEncoder.encode(v, StandardCharsets.UTF_8) }.mkString("&")
}

sealed trait Expect
case object Invalid extends Expect
case object Stale extends Expect
/** Per requested variable, in request order. */
final case class Answers(vars: Seq[Answer]) extends Expect
final case class Answer(name: String, value: Double, tol: Double, unit: String,
    refTimestamp: Instant, lat: Float, lon: Float, source: String, dataset: String,
    rawFileId: String)

/** The served store's ground truth: two days of both sources. */
final class Truth(days: Seq[DayFields]) {
  val Horizon: Duration = Duration.ofHours(6)
  private val camsVars = Set("pm2p5", "pm10")
  val variables: Seq[String] = Seq("pm2p5", "pm10", "temperature", "dewpoint", "humidity")
  def source(v: String): String = if (camsVars(v)) "cams" else "ecmwf"

  /** Step instants per source, with their day. */
  private val steps: Map[String, Seq[(Instant, DayFields, Int)]] =
    days.groupBy(_.source.name).map { case (s, ds) =>
      s -> ds.flatMap(d => d.source.stepHours.map(h =>
        (d.stepTime(h).toInstant(ZoneOffset.UTC), d, h))).sortBy(_._1)
    }
  def allSteps: Seq[Instant] = steps.values.flatten.map(_._1).toSeq.distinct.sorted

  /** Nearest grid index along one axis of sorted values (ties: the lower). */
  private def nearest(axis: Array[Float], p: Double): Float = {
    val k = java.util.Arrays.binarySearch(axis, p.toFloat)
    val at = if (k >= 0) k else -k - 1
    Seq(at - 1, at, at + 1).filter(i => i >= 0 && i < axis.length).map(axis(_))
      .minBy(a => (math.abs(a.toDouble - p), a))
  }

  private val axes: Map[String, (Array[Float], Array[Float])] =
    days.map(_.source).distinct.map { s =>
      val keep = s.lats.indices.filter(i => s.kept(s.lats(i), s.lons(i)))
      s.name -> (keep.map(s.lats(_)).distinct.sorted.toArray, keep.map(s.lons(_)).distinct.sorted.toArray)
    }.toMap

  /** Distance from `p` to the nearest cell midpoint, in cells, on one axis —
    * the generator keeps it large so no nearest-point choice is a near tie.
    */
  def tieMargin(v: String, lat: Float, lon: Float): Double = {
    val (la, lo) = axes(source(v))
    def margin(axis: Array[Float], p: Double) = {
      val n = nearest(axis, p)
      val d = (axis(1) - axis(0)).toDouble
      math.abs(0.5 - math.abs(n - p) / d)
    }
    math.min(margin(la, lat.toDouble), margin(lo, lon.toDouble))
  }

  def answer(v: String, lat: Float, lon: Float, ts: Instant): Option[Answer] = {
    val src = source(v)
    steps(src).filter { case (t, _, _) => !t.isAfter(ts) && !t.isBefore(ts.minus(Horizon)) }
      .lastOption.map { case (t, day, h) =>
        val (la, lo) = axes(src)
        val nl = nearest(la, lat.toDouble)
        val no = nearest(lo, lon.toDouble)
        val s = day.source
        val idx = s.indexOf(nl, no)
        def q(x: String) = day.quantum(x, h)
        def f(x: String) = day.field(x, h)(idx)
        val (value, tol, unit) = v match {
          case "pm2p5" | "pm10" => (f(v) * 1e9, q(v) * 1e9, "µg/m³")
          case "temperature" | "dewpoint" => (f(v) - 273.15, q(v), "°C")
          case "humidity" =>
            val (t, td) = (f("temperature"), f("dewpoint"))
            def rh(a: Double, b: Double) = Truth.magnus(a - 273.15, b - 273.15)
            val err = math.abs(rh(t + q("temperature"), td) - rh(t, td)) +
              math.abs(rh(t, td + q("dewpoint")) - rh(t, td))
            (rh(t, td), err, "%")
        }
        Answer(v, value, tol + 1e-6 * math.abs(value) + 1e-6, unit, t, nl, no, src,
          s.dataset, day.runId)
      }
  }
}

object Truth {
  def magnus(t: Double, td: Double): Double = {
    def gamma(x: Double) = math.exp(17.625 * x / (243.04 + x))
    100.0 * gamma(td) / gamma(t)
  }
}

/** Seeded request mix, stratified so every block of 25 consecutive requests
  * has the same composition and a short run sees the mix the whole sequence
  * has: each variable count 1–5 five times; timestamps 10× on a forecast step,
  * 10× up to 6 h after one (snapped back to it), 5× 6–12 h after one (beyond
  * the staleness horizon: 404); one request with an invalid parameter (400);
  * 6 at hot points. The seed orders each block and draws points and steps.
  */
object Requests {
  val Block = 25
  private val VarCounts = (1 to 5).flatMap(Seq.fill(5)(_))
  private val TsKinds = Seq.fill(10)("step") ++ Seq.fill(10)("snap") ++ Seq.fill(5)("stale")
  private val Hot = Seq.fill(6)(true) ++ Seq.fill(Block - 6)(false)
  private val Bad = true +: Seq.fill(Block - 1)(false)

  def generate(truth: Truth, seed: Long, n: Int): IndexedSeq[Request] = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    val shuffler = new scala.util.Random(new java.util.Random(r.nextLong()))
    def point(): (Float, Float) = {
      var p = (0f, 0f)
      do p = ((30.3 + 41.4 * r.nextDouble()).toFloat, (-24.7 + 69.4 * r.nextDouble()).toFloat)
      while (truth.variables.exists(v => truth.tieMargin(v, p._1, p._2) < 0.05))
      p
    }
    val hot = IndexedSeq.fill(8)(point())
    val steps = truth.allSteps
    def minutes(a: Int, b: Int) = Duration.ofMinutes(a + r.nextInt(b - a + 1).toLong)
    (0 until (n + Block - 1) / Block).flatMap { _ =>
      val rows = shuffler.shuffle(VarCounts).lazyZip(shuffler.shuffle(TsKinds))
        .lazyZip(shuffler.shuffle(Hot)).lazyZip(shuffler.shuffle(Bad)).toSeq
      rows.map { case (k, kind, isHot, bad) =>
        val (lat, lon) = if (isHot) hot(r.nextInt(hot.length)) else point()
        val vars = shuffler.shuffle(truth.variables).take(k)
        val step = steps(r.nextInt(steps.length))
        val ts = kind match {
          case "step" => step
          case "snap" => step.plus(minutes(1, 359))
          case _ => step.plus(minutes(361, 719))
        }
        val ok = Request(lat.toString, lon.toString, ts.toString, vars.mkString(","), null)
        if (bad) r.nextInt(4) match {
          case 0 => ok.copy(lat = "91.5", expect = Invalid)
          case 1 => ok.copy(lon = "-181", expect = Invalid)
          case 2 => ok.copy(timestamp = ts.toString.replace("T", " "), expect = Invalid)
          case _ => ok.copy(variables = vars.mkString(",") + ",", expect = Invalid)
        } else {
          val answers = vars.map(v => truth.answer(v, lat, lon, ts))
          ok.copy(expect = if (answers.forall(_.isDefined)) Answers(answers.flatten) else Stale)
        }
      }
    }
  }
}

/** The `serve_point` workload: `GET /v1/environmental` through `HttpFront` →
  * `Service` over a store `DailyJob` built in set-up, from a closed loop of
  * client threads. The traced run also calls `Service.getVariables` and
  * `PointQuery.getSamples` directly, each on its own third of the requests.
  */
object ServePoint {
  /** Forecast steps of the one file per source: two days, daily. */
  def steps(smoke: Boolean): Seq[Int] = if (smoke) Seq(0) else Seq(0, 24)
  val Budget: Duration = Duration.ofSeconds(15)

  def clients(cpus: Int): Int = math.max(1, math.min(4, cpus / 2))

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val t0 = System.nanoTime()
    val base = EtlDay.baseDate(ctx.seed)
    val gribDir = ctx.dir("grib")
    val st = new Stores(spark, ctx.dir("serve"))
    // half etl_day's resolution: a store build is mostly the JVM's first
    // daily runs, and the store still spans two days and five variables
    val days = Seq(Sources.cams(steps(ctx.smoke), 0.8), Sources.ecmwf(steps(ctx.smoke), 2.0))
      .map(new DayFields(_, base, ctx.seed))
    days.foreach { f =>
      val s = System.nanoTime()
      DayRun(f, f.writeGrib(gribDir).toString, EtlDay.insertedAt(f.date, 0)).viaDailyJob(st)
      ctx.log(f"store: ${f.source.name} ${f.date} ${(System.nanoTime() - s) / 1e9}%.2f s")
    }
    val truth = new Truth(days)
    val finalView = st.grids.finalView()
    val service = new Service(finalView, st.curated.read(), st.rawFiles.read(),
      maxStaleness = Some(truth.Horizon), queryBudget = Some(Budget))
    val front = tr.detached(new HttpFront(service))
    val port = tr.detached(front.start())
    val reqs = Requests.generate(truth, ctx.seed, if (ctx.smoke) 40 else 1000)
    val nClients = clients(ctx.cpus)
    val checker = new AnswerCheck(ctx)
    val direct = new Direct(ctx, finalView, service, truth)
    try {
      // warm-up, two requests per client: the first requests pay codegen and JIT
      val warm = reqs.filter(_.expect.isInstanceOf[Answers]).take(2 * nClients).grouped(2)
        .map(qs => new Thread(() => qs.foreach(checker.http(port, _)))).toSeq
      warm.foreach(_.start())
      warm.foreach(_.join())
      val setupS = (System.nanoTime() - t0) / 1e9
      ctx.log(f"set-up done in $setupS%.2f s, $nClients clients")

      val heap = if (tr.enabled) Some(new HeapSampler) else None
      val next = new AtomicInteger
      val lat = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double)]
      val w0 = System.nanoTime()
      def elapsed = (System.nanoTime() - w0) / 1e9
      val minRequests = if (ctx.smoke) 6 else 24
      val threads = (0 until nClients).map { c =>
        new Thread(() => tr.span("serve.client", root = true) {
          while (elapsed < ctx.seconds || next.get < minRequests) {
            val i = next.getAndIncrement()
            val q = reqs(i % reqs.length)
            val kind = if (tr.enabled) i % 3 else 0
            val ms = tr.span(if (kind == 0) "serve.request.http" else "serve.request.direct") {
              tr.span("serve.validate")(RequestValidation.parse(q.lat, q.lon, q.timestamp, q.variables))
              kind match {
                case 0 => tr.span("serve.http")(checker.http(port, q))
                case 1 => tr.span("serve.service")(direct.service(q, checker))
                case _ => tr.span("serve.point_query")(direct.pointQuery(q, checker))
              }
            }
            lat.add(kind -> ms)
          }
        }, s"jfbench-client-$c")
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      val wall = elapsed
      heap.foreach(_.close())

      val all = lat.asScala.toSeq
      val httpMs = all.filter(_._1 == 0).map(_._2)
      val e2e = Map(
        "setup_s" -> Metric(setupS, "s"),
        "op_p50_ms" -> Metric(Stats.median(httpMs), "ms"),
        "throughput" -> Metric(all.length / wall, "1/s"))
      val layers =
        if (!tr.enabled) Map.empty[String, Metric]
        else {
          def meanOf(k: Int) = Stats.mean(all.filter(_._1 == k).map(_._2))
          val spans = tr.spans
          val validateUs = Stats.mean(spans.filter(_.name == "serve.validate").map(s => (s.end - s.start) / 1e3))
          Layers.complete(direct.layers ++ Layers.sparkAndCover(tr, _.name.startsWith("serve.request"),
            // HTTP worker threads carry no span, so only direct calls are charged jobs
            _.name == "serve.request.direct") ++ Map(
            "serve.validate_us" -> validateUs,
            "serve.service_ms" -> meanOf(1),
            "serve.point_query_ms" -> meanOf(2),
            "serve.lineage_ms" -> (meanOf(1) - meanOf(2)),
            "serve.http_ms" -> (meanOf(0) - meanOf(1)),
            "serve.p90_ms" -> Stats.quantile(httpMs, 0.9),
            "serve.requests" -> all.length.toDouble,
            "jvm.heap_peak_mb" -> heap.map(_.peakMb).getOrElse(0.0),
            "traced.setup_s" -> setupS,
            "traced.op_p50_ms" -> Stats.median(httpMs),
            "traced.throughput" -> all.length / wall))
        }
      Outcome(checker.attempted, checker.failed, e2e, layers, Map(
        "requests" -> all.length, "http_requests" -> httpMs.length, "clients" -> nClients,
        "p90_ms" -> Stats.quantile(httpMs, 0.9), "p90_samples_beyond" -> httpMs.length / 10,
        "store_rows" -> days.map(_.source.rowsPerFile).sum, "store_bytes" -> Stats.dirBytes(st.gridPath),
        "status_counts" -> checker.statusCounts, "failures" -> checker.messages,
        "latencies_ms" -> all.map(_._2)))
    } finally front.stop()
  }
}

/** Wall time from construction to the first `stop`, in ms. */
final class Lap {
  private val t0 = System.nanoTime()
  private var ms = Double.NaN
  def stop(): Double = { if (ms.isNaN) ms = (System.nanoTime() - t0) / 1e6; ms }
}

/** Sends requests and checks every answer against the ground truth. */
final class AnswerCheck(ctx: Ctx) {
  private val json = new ObjectMapper()
  private val attemptedN = new AtomicInteger
  private val failedN = new AtomicInteger
  private val msgs = new java.util.concurrent.ConcurrentLinkedQueue[String]
  private val statuses = new java.util.concurrent.ConcurrentHashMap[Int, Int]
  private val corruptNext = new java.util.concurrent.atomic.AtomicBoolean(ctx.corrupt)

  def attempted: Long = attemptedN.get.toLong
  def failed: Long = failedN.get.toLong
  def messages: Seq[String] = msgs.asScala.take(20).toSeq
  def statusCounts: Map[String, Int] = statuses.asScala.map { case (k, v) => k.toString -> v }.toMap

  private def fail(q: Request, msg: String): Unit = {
    failedN.incrementAndGet()
    if (msgs.size < 20) msgs.add(s"${q.query}: $msg")
  }

  /** Counts one attempt and returns its latency in ms. `body` stops the lap
    * once the program has answered (before checking the answer) and returns
    * an error message, or None when the answer is right.
    */
  def attempt(q: Request)(body: Lap => Option[String]): Double = {
    attemptedN.incrementAndGet()
    val lap = new Lap
    try body(lap).foreach(fail(q, _))
    catch { case scala.util.control.NonFatal(e) => fail(q, e.toString) }
    lap.stop()
  }

  /** Only the first answer of a `--corrupt` run is altered. */
  def corrupt(v: Double): Double = if (corruptNext.getAndSet(false)) v + 1.0 else v

  def http(port: Int, q: Request): Double = attempt(q) { lap =>
    val conn = URI.create(s"http://127.0.0.1:$port/v1/environmental?${q.query}").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(5000)
    conn.setReadTimeout(30000)
    val status = conn.getResponseCode
    val is = if (status >= 400) conn.getErrorStream else conn.getInputStream
    val body = if (is == null) "" else try new String(is.readAllBytes(), StandardCharsets.UTF_8) finally is.close()
    lap.stop()
    statuses.merge(status, 1, _ + _)
    (q.expect, status) match {
      case (Invalid, 400) | (Stale, 404) => None
      case (Answers(want), 200) =>
        val vars = json.readTree(body).get("variables")
        if (vars.size != want.length) Some(s"${vars.size} variables answered")
        else want.indices.flatMap { i =>
          val v = vars.get(i)
          val lin = v.get("lineage")
          compare(want(i), v.get("name").asText, corrupt(v.get("value").asDouble), v.get("unit").asText,
            Instant.parse(v.get("ref_timestamp").asText), v.get("actual_lat").floatValue,
            v.get("actual_lon").floatValue,
            Option(lin).map(l => (l.get("source").asText, l.get("dataset").asText, l.get("raw_file_id").asText)))
        }.headOption
      case (e, s) => Some(s"status $s, expected $e: ${body.take(200)}")
    }
  }

  def compare(a: Answer, name: String, value: Double, unit: String, ref: Instant,
      lat: Float, lon: Float, lineage: Option[(String, String, String)]): Option[String] =
    if (name != a.name) Some(s"variable $name, expected ${a.name}")
    else if (math.abs(value - a.value) > a.tol) Some(s"${a.name} = $value, expected ${a.value} ± ${a.tol}")
    else if (unit != a.unit) Some(s"${a.name} unit $unit")
    else if (ref != a.refTimestamp) Some(s"${a.name} ref_timestamp $ref, expected ${a.refTimestamp}")
    else if (lat != a.lat || lon != a.lon) Some(s"${a.name} at ($lat, $lon), expected (${a.lat}, ${a.lon})")
    else lineage.flatMap { case (src, ds, raw) =>
      if ((src, ds, raw) != ((a.source, a.dataset, a.rawFileId))) Some(s"${a.name} lineage ($src, $ds, $raw)")
      else None
    }
}

/** The traced run's direct calls into the serving layers, with the scan
  * counts of each point query's executed plan.
  */
final class Direct(ctx: Ctx, finalView: org.apache.spark.sql.DataFrame, service: Service, truth: Truth) {
  private val files = new java.util.concurrent.atomic.AtomicLong
  private val rows = new java.util.concurrent.atomic.AtomicLong
  private val queries = new AtomicInteger

  private def parse(q: Request) = RequestValidation.parse(q.lat, q.lon, q.timestamp, q.variables)

  def service(q: Request, c: AnswerCheck): Double = c.attempt(q) { lap =>
    val parsed = parse(q)
    val answer = parsed.map(service.getVariables)
    lap.stop()
    (q.expect, answer) match {
      case (Invalid, Left(_)) => None
      case (Stale, Right(r)) => r.fold(_ => None, r => Some(s"answered $r"))
      case (Answers(want), Right(r)) => r match {
        case Left(e) => Some(e.message)
        case Right(got) => want.zip(got).flatMap { case (a, g) =>
          c.compare(a, g.name, c.corrupt(g.value), g.unit, g.refTimestamp.toInstant, g.actualLat, g.actualLon,
            g.lineage.map(l => (l.source, l.dataset, l.rawFileId)))
        }.headOption
      }
      case (e, _) => Some(s"validation $parsed, expected $e")
    }
  }

  def pointQuery(q: Request, c: AnswerCheck): Double = c.attempt(q) { lap =>
    (q.expect, parse(q)) match {
      case (Invalid, Left(_)) => lap.stop(); None
      case (e, Right(req)) =>
        val spark = ctx.spark
        import spark.implicits._
        val probes = req.variables
          .map(v => (v, v, Timestamp.from(req.timestamp), req.lat.toDouble, req.lon.toDouble))
          .toDF("probeId", "variable", "ts", "lat", "lon")
        val bounded = finalView.filter(col("timestamp").between(
          lit(Timestamp.from(req.timestamp.minus(truth.Horizon))), lit(Timestamp.from(req.timestamp))))
        val frame = PointQuery.getSamples(bounded, probes, Some(truth.Horizon))
        val got = frame.collect().map(r => r.getAs[String]("probeId") -> r).toMap
        lap.stop()
        scans(frame.queryExecution.executedPlan)
        queries.incrementAndGet()
        e match {
          case Stale => if (req.variables.forall(got.contains)) Some("answered a stale request") else None
          case Answers(want) => want.flatMap { a =>
            got.get(a.name) match {
              case None => Some(s"${a.name} missing")
              case Some(r: Row) => c.compare(a, a.name, c.corrupt(r.getAs[Float]("value").toDouble),
                r.getAs[String]("unit"), r.getAs[Timestamp]("refTimestamp").toInstant,
                r.getAs[Float]("actualLat"), r.getAs[Float]("actualLon"), None)
            }
          }.headOption
          case Invalid => Some("validation passed an invalid request")
        }
      case (e, p) => Some(s"validation $p, expected $e")
    }
  }

  private def scans(p: SparkPlan): Unit = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case s: QueryStageExec => scans(s.plan)
    case f: FileSourceScanExec =>
      files.addAndGet(f.metrics.get("numFiles").map(_.value).getOrElse(0L))
      rows.addAndGet(f.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
    case other => (other.children ++ other.subqueries).foreach(scans)
  }

  def layers: Map[String, Double] = {
    val n = math.max(1, queries.get).toDouble
    Map(
      "store.rows_scanned_per_request" -> rows.get / n,
      "store.files_read_per_request" -> files.get / n)
  }
}
