package jfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (run through `jfbench/run.py`, which builds the
  * classpath):
  *
  * {{{
  *   Main --workload etl_day|serve_point --seed N --seconds S --trace 0|1
  *        --work DIR [--smoke] [--corrupt]
  * }}}
  *
  * Prints one JSON object as the last stdout line:
  * `{"correct", "attempted", "failed", "metrics"}` — the end-to-end metrics
  * untraced, the per-layer metrics traced. The run's detail (input sizes,
  * failure messages, span table) goes to `DIR/detail.json`.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val flags = args.filter(_.startsWith("--")).map(_.drop(2)).toSet
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val cpus = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors))

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"jfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val startS = (System.nanoTime() - t0) / 1e9

    val ctx = Ctx(spark, new Tracer(spark.sparkContext, trace), opt("seed").toLong,
      opt("seconds").toDouble, work, flags("smoke"), flags("corrupt"), cpus)
    val out = try workload match {
      case "etl_day" => EtlDay.run(ctx)
      case "serve_point" => ServePoint.run(ctx)
      case other => sys.error(s"unknown workload $other")
    } finally spark.stop()

    // JVM and Spark start belong to set-up
    def withStart(m: Map[String, Metric], key: String) =
      m.get(key).fold(m)(s => m.updated(key, s.copy(value = s.value + startS)))
    val metrics = if (trace) withStart(out.layers, "traced.setup_s") else withStart(out.e2e, "setup_s")
    val detail = out.detail ++ Map("workload" -> workload, "seed" -> ctx.seed,
      "trace" -> trace, "cpus" -> cpus, "spark_start_s" -> startS,
      "spans" -> (if (trace) Layers.spanTable(ctx.tracer) else Nil),
      "metrics" -> metrics.map { case (k, m) => k -> Map("value" -> m.value, "unit" -> m.unit) })
    Files.write(work.resolve("detail.json"), Json(detail).getBytes(StandardCharsets.UTF_8))
    val line = Json(Map(
      "correct" -> (out.failed == 0),
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> metrics.toSeq.sortBy(_._1).map { case (k, m) =>
        k -> Map("value" -> m.value, "unit" -> m.unit) }))
    println(line)
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case kv: Seq[_] if kv.nonEmpty && kv.forall(_.isInstanceOf[(_, _)]) =>
      kv.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < 0x20 => b.append(String.format("\\u%04x", Int.box(c.toInt)))
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
