package graft.transform

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{GridFunctions, UuidV7}

/** The two curated-data pipelines as pure DataFrame → DataFrame functions
  * (SURVEY.md §3.2, §3.3, §7.1 step 4).
  *
  * Input shape: long-form decoded grid rows
  * `(variable, unit, timestamp, lat, lon, value)` (from [[graft.sources.Grib]]).
  * Output shape: normalized GridRow columns ready for [[graft.store.GridStore.append]],
  * plus a small curated-catalog frame sharing the per-(variable,timestamp)
  * catalog ids.
  */
object Transforms {

  /** Assign one UUIDv7 per (variable, timestamp) slice — the reference
    * allocates ids per grid before explode (`defs/assets.py:206,390-416`).
    * The id is a pure function of the slice ([[UuidV7.sliceId]], a native
    * expression), so it is minted row by row inside the plan: building the
    * frame runs no Spark job and the plan has no join. Rows with a NULL
    * variable or timestamp belong to no slice and are dropped.
    *
    * Ids derive from the slice itself (variable + slice timestamp), NOT from
    * `insertedAt`: reprocessing a partition mints the same ids, so the K4
    * curated upsert and the grid⋈catalog referential-integrity invariant are
    * idempotent across re-runs (T4 — "delete the data, re-run the ETL, same
    * results", `docs/layer-2-transformation.md:307-313`).
    */
  def withCatalogIds(df: DataFrame, insertedAt: Timestamp): DataFrame =
    df.filter(col("variable").isNotNull && col("timestamp").isNotNull)
      .withColumn("catalogId", UuidV7.sliceId(col("variable"), col("timestamp")))
      .withColumn("insertedAt", lit(insertedAt))

  /** CAMS pipeline core (reference: `defs/assets.py:143-239`): particulate
    * grids arrive in kg m⁻³ and are converted ×1e9 to µg/m³ (C1), then
    * catalog-id'd. No clip — CAMS files are already the Europe domain.
    */
  def cams(decoded: DataFrame, insertedAt: Timestamp): DataFrame = {
    val (v, u) = GridFunctions.kgM3ToUgM3(col("value"), col("unit"))
    withCatalogIds(
      decoded.withColumn("value2", v).withColumn("unit", u)
        .drop("value").withColumnRenamed("value2", "value"),
      insertedAt)
  }

  /** ECMWF pipeline core (reference: `defs/assets.py:302-435`):
    * clip to Europe (F1) → pair temperature/dewpoint per (timestamp,lat,lon)
    * via pivot (J2) → completeness guard (F5) → K→°C (C2) → Magnus RH (C3) →
    * unpivot back to long form with per-slice catalog ids.
    *
    * The pivot shuffles once on (timestamp,lat,lon); everything after is
    * narrow. At 100 TB the shuffle is bounded by the clipped region
    * (~47k points/timestamp in the reference), and the date partitioning of
    * the store keeps it per-day.
    */
  def ecmwf(decoded: DataFrame, insertedAt: Timestamp): DataFrame = {
    val clipped = GridFunctions.clipToEurope(decoded)
    val paired = clipped
      .groupBy("timestamp", "lat", "lon")
      .pivot("variable", Seq("temperature", "dewpoint"))
      .agg(first("value"))
      // F5 — completeness guard: skip groups missing either variable
      // (reference warns + continues, `assets.py:373-377`)
      .filter(col("temperature").isNotNull && col("dewpoint").isNotNull)
    val celsius = paired
      .withColumn("t_c", GridFunctions.kelvinToCelsius(col("temperature")))
      .withColumn("td_c", GridFunctions.kelvinToCelsius(col("dewpoint")))
      .withColumn("rh", GridFunctions.magnusHumidity(col("t_c"), col("td_c")))
    val long = celsius.select(
      col("timestamp"), col("lat"), col("lon"),
      explode(map(
        lit("temperature"), struct(col("t_c").as("value"), lit("°C").as("unit")),
        lit("dewpoint"), struct(col("td_c").as("value"), lit("°C").as("unit")),
        lit("humidity"), struct(col("rh").as("value"), lit("%").as("unit"))
      )).as(Seq("variable", "vu")))
      .select(col("variable"), col("timestamp"), col("lat"), col("lon"),
        col("vu.value").as("value"), col("vu.unit").as("unit"))
    withCatalogIds(long, insertedAt)
  }

  /** Curated-catalog rows for a transformed frame: one per catalog id
    * (reference: `defs/assets.py:221-227` — K4 upsert into `curated_data`).
    */
  def curatedRecords(gridRows: DataFrame, rawFileId: String,
      createdAt: java.sql.Timestamp): DataFrame =
    gridRows.select("catalogId", "variable", "unit", "timestamp").distinct()
      .withColumnRenamed("catalogId", "id")
      .withColumn("rawFileId", lit(rawFileId))
      // caller-supplied, never current_timestamp(): createdAt orders the
      // catalog's keep-latest upsert, and a wall-clock stamp would make
      // "delete the data, re-run the ETL, same results" (T4) false
      .withColumn("createdAt", lit(createdAt))
}
