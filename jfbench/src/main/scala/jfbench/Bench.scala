package jfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Metric(value: Double, unit: String)

/** What one workload run reports: the contract's counts, the end-to-end
  * metrics, the per-layer metrics (filled only when traced) and a free-form
  * detail object written next to the result.
  */
final case class Outcome(
    attempted: Long,
    failed: Long,
    e2e: Map[String, Metric],
    layers: Map[String, Metric],
    detail: Map[String, Any])

/** Settings shared by every workload of one invocation. */
final case class Ctx(
    spark: SparkSession,
    tracer: Tracer,
    seed: Long,
    seconds: Double,
    work: Path,
    smoke: Boolean,
    corrupt: Boolean,
    cpus: Int) {
  def dir(name: String): Path = Files.createDirectories(work.resolve(name))

  private val born = System.nanoTime()
  /** Progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(String.format(java.util.Locale.ROOT, "[jfbench %7.2fs] %s",
      Double.box((System.nanoTime() - born) / 1e9), msg))
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Bytes under `p` (0 when absent). */
  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}

/** Per-layer metrics. Every workload reports every one of them, so a layer
  * a workload never enters reads 0 there.
  */
object Layers {
  val units: Seq[(String, String)] = Seq(
    "sources.grib2_decode_s" -> "s",
    "sources.decoded_points" -> "count",
    "sources.to_dataframe_s" -> "s",
    "transform.transform_s" -> "s",
    "transform.kept_point_share" -> "ratio",
    "store.grid_append_s" -> "s",
    "store.grid_append_rows" -> "count",
    "store.grid_append_bytes" -> "bytes",
    "store.catalog_s" -> "s",
    "store.grid_compact_s" -> "s",
    "store.compact_write_amp" -> "ratio",
    "store.rows_scanned_per_request" -> "count",
    "store.files_read_per_request" -> "count",
    "jobs.cams_day_s" -> "s",
    "jobs.ecmwf_day_s" -> "s",
    "jobs.reingest_s" -> "s",
    "serve.validate_us" -> "us",
    "serve.service_ms" -> "ms",
    "serve.point_query_ms" -> "ms",
    "serve.lineage_ms" -> "ms",
    "serve.http_ms" -> "ms",
    "spark.queue_wait_ms" -> "ms",
    "serve.p90_ms" -> "ms",
    "serve.requests" -> "count",
    "spark.jobs" -> "count",
    "spark.task_s" -> "s",
    "spark.records_read" -> "count",
    "spark.shuffle_bytes" -> "bytes",
    "driver.residual_s" -> "s",
    "jvm.heap_peak_mb" -> "MB",
    "trace.self_cover" -> "ratio",
    "traced.setup_s" -> "s",
    "traced.op_p50_ms" -> "ms",
    "traced.throughput" -> "1/s",
  )

  def complete(measured: Map[String, Double]): Map[String, Metric] = {
    val unknown = measured.keySet -- units.map(_._1)
    require(unknown.isEmpty, s"undeclared layer metrics: $unknown")
    units.map { case (n, u) => n -> Metric(measured.getOrElse(n, 0.0), u) }.toMap
  }

  /** Spark totals per op, the driver residual per op (op wall minus the
    * union of its jobs' intervals), the time stages waited for a free core,
    * and the share of the ops' wall the layer spans' self times cover (an op
    * span's own self time is glue, so it counts as uncovered). Spark figures
    * come from the ops `charged` selects.
    */
  def sparkAndCover(tr: Tracer, isOp: Span => Boolean,
      charged: Span => Boolean = _ => true): Map[String, Double] = {
    tr.drain()
    val spans = tr.spans
    val self = Tracer.selfNanos(spans)
    val ops = spans.filter(s => isOp(s) && charged(s))
    val allOps = spans.filter(isOp).map(_.id).toSet
    val opOf = spans.map(s => s.id -> s.op).toMap
    val jobs = tr.jobs.values.asScala.toSeq.filter(j => opOf.get(j.span).exists(o => ops.exists(_.id == o)))
    val byOp = jobs.groupBy(j => opOf(j.span))
    val residual = ops.map { o =>
      val iv = byOp.getOrElse(o.id, Nil).map(j =>
        (math.max(j.start, o.start), math.min(if (j.end == 0L) o.end else j.end, o.end)))
      (o.end - o.start - Tracer.unionNanos(iv.filter(x => x._2 > x._1))) / 1e9
    }
    val layerSelf = spans.filter(s => allOps(s.op) && !isOp(s)).map(s => self(s.id)).sum
    val opWall = spans.filter(isOp).map(s => s.end - s.start).sum
    val n = math.max(1, ops.length).toDouble
    Map(
      "spark.jobs" -> jobs.length / n,
      "spark.task_s" -> jobs.map(_.taskNanos.get).sum / 1e9 / n,
      "spark.records_read" -> jobs.map(_.records.get).sum / n,
      "spark.shuffle_bytes" -> jobs.map(_.shuffleBytes.get).sum / n,
      "spark.queue_wait_ms" -> jobs.map(_.queueNanos.get).sum / 1e6 / n,
      "driver.residual_s" -> Stats.mean(residual),
      "trace.self_cover" -> layerSelf.toDouble / math.max(1L, opWall))
  }

  /** Per span name: count, total and self seconds — the trace summary file. */
  def spanTable(tr: Tracer): Seq[Map[String, Any]] = {
    val spans = tr.spans
    val self = Tracer.selfNanos(spans)
    spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      Map("span" -> name, "count" -> ss.length,
        "total_s" -> ss.map(s => s.end - s.start).sum / 1e9,
        "self_s" -> ss.map(s => self(s.id)).sum / 1e9)
    }
  }
}
