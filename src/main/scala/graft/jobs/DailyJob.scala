package graft.jobs

import java.sql.{Date, Timestamp}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.{GridFunctions, UuidV7}
import graft.sources.{Grib, GribReader}
import graft.store.{CatalogStore, GridStore}
import graft.transform.Transforms

/** T1–T5 — the daily-partition batch driver (SURVEY.md §2.8, §7.1 step 6).
  *
  * The reference's Dagster job materializes one date partition per source per
  * day (ingest → transform → optimize, `defs/schedules.py`, `defs/assets.py`);
  * here that is one parameterized batch run. Idempotency is structural, not
  * transactional (T4/T5): the run id is deterministic per (source, dataset,
  * date), so re-runs hit K3's insert-if-absent for `raw_files`, K4's upsert
  * for `curated_data`, and A1's keep-latest dedup for grid rows — "delete the
  * data, re-run the ETL, same results" (`docs/layer-2-transformation.md:307-313`).
  */
final class DailyJob(
    spark: SparkSession,
    grids: GridStore,
    rawFiles: CatalogStore,
    curated: CatalogStore) {

  final case class RunResult(
      runId: String,
      insertedRows: Long,          // A3 row-count accounting
      variablesProcessed: Seq[String], // A4 distinct-set collection
      curatedKeys: Seq[String])

  /** S6 — upstream-metadata scan: the transform stage locates its input by
    * reading the `raw_files` catalog for its (dataset, date) partition and
    * reconstructing the object key; absent → fail (reference:
    * `defs/assets.py:172-191` — the catalog IS our metadata store, no
    * separate event log).
    */
  def locateRawFile(dataset: String, date: Date): String = {
    val hits = rawFiles.read()
      .filter(col("dataset") === dataset && col("date") === date)
      .orderBy(col("createdAt").desc)
      .select("s3Key").limit(1).collect()
    require(hits.nonEmpty, s"no raw file recorded for $dataset @ $date")
    hits(0).getString(0)
  }

  /** One source's daily materialization for `date`. `transform` is one of
    * [[Transforms.cams]] / [[Transforms.ecmwf]]; `reader`+`path` stand in for
    * the object-store GET + GRIB decode (S1–S3).
    */
  def run(source: String, dataset: String, date: Date,
      reader: GribReader, path: String,
      transform: (DataFrame, Timestamp) => DataFrame,
      insertedAt: Timestamp): RunResult = {
    import spark.implicits._

    // ── ingest (S3/K2/K3): record the raw object, idempotently ──
    val runId = UuidV7.deterministic(date.getTime,
      (source + "/" + dataset).hashCode.toLong)
    val raw = Seq((runId, source, dataset, date)).toDF("id", "source", "dataset", "date")
      .withColumn("s3Key", GridFunctions.s3Key(col("source"), col("dataset"),
        col("date"), col("id")))
      .withColumn("createdAt", lit(insertedAt))
    rawFiles.insertIfAbsent(raw)

    // ── transform (S1/S2 → C1..C3 → K1/K4) ──
    val decoded = Grib.toDataFrame(spark, reader.open(path).toSeq)
    // one pass: the grid write is the run's only evaluation of the
    // transform, and it reports the run's slices and touched dates as
    // observed metrics (`to_date` in the session time zone, as the `date`
    // partition column) — no persist, no second job over the rows
    val sliceCols = Seq("catalogId", "variable", "unit", "timestamp")
    val obs = Observation()
    val rows = transform(decoded, insertedAt).observe(obs,
      collect_set(struct(sliceCols.map(col): _*)).as("slices"),
      collect_set(to_date(col("timestamp"))).as("dates"))
    val n = grids.append(rows)
    val seen = obs.get
    val slices = seen("slices").asInstanceOf[scala.collection.Seq[Row]].toSeq
    val touched = seen("dates").asInstanceOf[scala.collection.Seq[Date]].toSeq

    val sliceSchema = StructType(sliceCols.map(rows.schema(_)))
    val curatedRows = Transforms.curatedRecords(
      spark.createDataFrame(slices.asJava, sliceSchema), runId, insertedAt)
    curated.upsert(curatedRows, "createdAt")

    // ── optimize (K5): compact only the dates this run touched; a run that
    // stored nothing touched none (compact(Nil) would rewrite every date) ──
    if (touched.nonEmpty) grids.compact(touched)

    RunResult(runId, n,
      slices.map(_.getString(1)).distinct.sorted,
      slices.map(_.getString(0)).sorted)
  }
}
