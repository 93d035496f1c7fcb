package graft.serve

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GridFunctions

/** The serving read path (SURVEY.md §3.1): snap-to-latest-timestamp (A2) +
  * nearest-neighbor top-1 (J3). Lineage (J1/J4) is a catalog lookup that
  * [[Service]] resolves once, not part of the plan.
  *
  * Both forms rank candidates with the same struct — latest timestamp (snap),
  * then smallest distance (NN), then coords, value and catalogId (pins ties) —
  * so one `max_by` does snap + NN together with map-side partial aggregation:
  *   - per-point [[atPoint]] — one request's variables at one (ts, lat, lon),
  *     the point passed as literals: one aggregate keyed by variable, no join
  *     (mirrors `serving-go/internal/grid/finder.go:24-60` per variable);
  *   - set-oriented [[getSamples]] — many probes × many variables in ONE plan,
  *     no per-probe collects (SURVEY.md §7.4 scale posture).
  */
object PointQuery {

  /** Picks the best candidate row of a group: max timestamp, then min
    * squared distance `dist`, then min lat, lon and value, then max catalogId.
    */
  private def nearestLatest(dist: Column): Column =
    max_by(
      struct(col("value"), col("unit"), col("lat").as("actualLat"),
        col("lon").as("actualLon"), col("timestamp").as("refTimestamp"),
        col("catalogId"), col("variable")),
      struct(col("timestamp"), (dist * -1).as("negd"),
        (col("lat") * -1).as("negLat"), (col("lon") * -1).as("negLon"),
        (col("value") * -1).as("negValue"), col("catalogId"))).as("r")

  private val resultCols = Seq("value", "unit", "actualLat", "actualLon", "refTimestamp",
    "catalogId").map(c => col(s"r.$c"))

  /** One point, several variables: per variable, the latest grid timestamp
    * ≤ `ts` (and ≥ `ts − maxStaleness`), then the grid point nearest to
    * (lat, lon) in that slice. Returns one row per variable that has data —
    * (variable, value, unit, actualLat, actualLon, refTimestamp, catalogId).
    *
    * The as-of window is static (all literals) and timestamp is a dedup key,
    * so Catalyst pushes it below the FINAL dedup aggregate to the scan's
    * row-group filters. The horizon also applies in whole seconds
    * as `ts − INTERVAL`, the bound [[getSamples]] puts in its join.
    */
  def atPoint(finalView: DataFrame, variables: Seq[String], ts: Timestamp,
      lat: Double, lon: Double,
      maxStaleness: Option[java.time.Duration] = None): DataFrame = {
    val t = lit(ts)
    val asOf = maxStaleness match {
      case Some(h) =>
        col("timestamp").between(lit(Timestamp.from(ts.toInstant.minus(h))), t) &&
          col("timestamp") >= t - expr(s"INTERVAL '${h.getSeconds}' SECOND")
      case None => col("timestamp") <= t
    }
    finalView
      .filter(col("variable").isin(variables: _*) && asOf)
      .groupBy("variable")
      .agg(nearestLatest(GridFunctions.sqDist(col("lat"), col("lon"), lit(lat), lit(lon))))
      .select(col("variable") +: resultCols: _*)
  }

  /** A2+J3 scalar form: the one-variable case of [[atPoint]], shaped like a
    * grid row (value, unit, lat, lon, timestamp, catalogId) — the nearest
    * point of the latest slice at or before `ts`; zero rows when none is.
    */
  def getSample(finalView: DataFrame, variable: String, ts: Timestamp,
      lat: Float, lon: Float): DataFrame =
    atPoint(finalView, Seq(variable), ts, lat.toDouble, lon.toDouble)
      .select(col("value"), col("unit"), col("actualLat").as("lat"),
        col("actualLon").as("lon"), col("refTimestamp").as("timestamp"), col("catalogId"))

  /** Set-oriented serving query: `probes(probeId, variable, ts, lat, lon)` →
    * one result row per probe (value, actual coords, snapped ref timestamp,
    * catalogId). Probes are assumed small relative to the grid → broadcast.
    *
    * Plan shape: grid ⋈ broadcast(probes) on variable with the as-of
    * predicate pushed into the join condition, then a single `max_by`
    * aggregation keyed by probe that picks (latest snapped timestamp, nearest
    * point) in one pass — partial aggregation runs map-side, so the shuffle
    * carries one row per (probe, input partition), not the grid.
    */
  def getSamples(finalView: DataFrame, probes: DataFrame,
      maxStaleness: Option[java.time.Duration] = None): DataFrame = {
    val g = finalView.select("variable", "timestamp", "lat", "lon", "value", "unit", "catalogId")
    val p = probes.select(
      col("probeId"), col("variable").as("p_variable"), col("ts").as("p_ts"),
      col("lat").as("p_lat"), col("lon").as("p_lon"))
    // Snap horizon: without a lower bound the as-of predicate makes every
    // probe scan ALL history ≤ its timestamp — years of partitions at scale.
    // The bound rides in the join condition (correct per-probe even with
    // heterogeneous probe times); pair it with a statically-bounded
    // finalView (GridStore.finalView(lo, hi)) for partition pruning.
    val asOf = maxStaleness match {
      case Some(h) =>
        g("timestamp") <= col("p_ts") &&
          g("timestamp") >= col("p_ts") - expr(s"INTERVAL '${h.getSeconds}' SECOND")
      case None => g("timestamp") <= col("p_ts")
    }
    g.join(broadcast(p), g("variable") === col("p_variable") && asOf)
      .groupBy("probeId")
      .agg(nearestLatest(
        GridFunctions.sqDist(col("lat"), col("lon"), col("p_lat"), col("p_lon"))))
      .select(col("probeId") +: col("r.variable").as("variable") +: resultCols: _*)
  }
}
