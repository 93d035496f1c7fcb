package graft.sources

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** GRIB source boundary (S1/S2 — SURVEY.md §2.1).
  *
  * Mirrors the reference's structural-typing contract
  * (`pipeline-python/src/pipeline_python/grib2/reader.py:16-37`): a message
  * exposes six members; a reader opens a path into an iterator of messages.
  * Concrete readers: [[Grib2.CamsGrib2Reader]] / [[Grib2.EcmwfGrib2Reader]]
  * decode real GRIB2 binary (templates 3.0 / 4.0 / 4.40 / 5.0 — the
  * reference's message shapes) with no external library; the synthetic
  * readers (FIXTURES.md) remain for the deterministic contract queries.
  */
trait GribMessage {
  def variableName: String
  def unit: String
  def timestamp: Timestamp
  /** Row-major flattened grid (the reference flattens with `.ravel()` at the
    * storage boundary too — `clickhouse_grid_store.py:55-68`). All three
    * arrays have equal length.
    */
  def values: Array[Double]
  def lats: Array[Double]
  def lons: Array[Double]
}

trait GribReader {
  def open(path: String): Iterator[GribMessage]
}

final case class SyntheticMessage(
    variableName: String,
    unit: String,
    timestamp: Timestamp,
    values: Array[Double],
    lats: Array[Double],
    lons: Array[Double]
) extends GribMessage

/** One decoded grid point — the row shape the rest of the engine consumes
  * (shared by the batch explode and the executor-side streaming decode).
  */
final case class GridPoint(variable: String, unit: String, timestamp: Timestamp,
    lat: Float, lon: Float, value: Double)

object Grib {

  /** Longitude normalization to [-180, 180) — a documented historical
    * data-corruption bug in the reference (`docs/ADR/002-grib-library.md:17`);
    * asserted at the source boundary (SURVEY.md §7.4).
    */
  def normalizeLon(lon: Double): Double = {
    val m = ((lon + 180.0) % 360.0 + 360.0) % 360.0 - 180.0
    m
  }

  /** Flatten one message to grid points (boundary normalization applied). */
  def messagePoints(m: GribMessage): IndexedSeq[GridPoint] = {
    requireSameLength(m)
    m.values.indices.map { i =>
      GridPoint(m.variableName, m.unit, m.timestamp,
        m.lats(i).toFloat, normalizeLon(m.lons(i)).toFloat, m.values(i))
    }
  }

  private def requireSameLength(m: GribMessage): Unit =
    require(m.values.length == m.lats.length && m.lats.length == m.lons.length,
      s"ragged grid in ${m.variableName}@${m.timestamp}")

  /** Explode decoded messages into the long row-per-gridpoint DataFrame the
    * rest of the engine consumes. Each message becomes `values.length` rows,
    * in message order. Decoding happens message-at-a-time on the driver
    * (messages are ≤~1M points); each message's arrays are then cut into
    * about `defaultParallelism` chunks and the explode runs on the
    * executors, so the plan holds an RDD scan rather than a data-sized
    * local relation the analyzer and optimizer would walk on every query.
    * For decode ON the executors too (the 100 TB ingest shape), see
    * [[graft.streaming.EventStream.gribLandingStream]].
    */
  def toDataFrame(spark: SparkSession, messages: Seq[GribMessage]): DataFrame = {
    import spark.implicits._
    val sc = spark.sparkContext
    val parts = sc.defaultParallelism
    val chunks = messages.flatMap { m =>
      requireSameLength(m)
      val n = m.values.length
      val step = math.max(1, (n + parts - 1) / parts)
      (0 until n by step).map { lo =>
        val hi = math.min(n, lo + step)
        SyntheticMessage(m.variableName, m.unit, m.timestamp,
          m.values.slice(lo, hi), m.lats.slice(lo, hi), m.lons.slice(lo, hi))
      }
    }
    sc.parallelize(chunks, math.max(1, math.min(parts, chunks.length)))
      .flatMap(messagePoints).toDF()
  }
}
