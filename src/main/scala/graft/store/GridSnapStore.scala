package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference grid pipeline's storage re-expressed ON the snapshot
  * table format (r17; the r16 verdict's composition ask — the serving
  * path should exercise the format that exists precisely to model the
  * reference's storage semantics). The ClickHouse table the reference
  * serves from (`migrations/clickhouse/init.sql:11-25`) maps clause by
  * clause:
  *
  *   - `PARTITION BY toYYYYMMDD(timestamp)` → a HIDDEN layout transform
  *     ([[SnapshotStore.setLayout]] on `date_trunc('day', timestamp)`):
  *     commits cluster by day, readers address only columns, and
  *     changing the granularity later rewrites no history;
  *   - `ORDER BY (variable, timestamp, lat, lon)` → the declared SORT
  *     ORDER ([[SnapshotStore.setSortOrder]]): files sort on the key,
  *     zone maps turn tight — `variable` is a STRING, zone-tracked
  *     through the r17 prefix projection, and also bloom-tracked for
  *     point probes;
  *   - `ReplacingMergeTree(inserted_at)` + `FINAL` → [[finalView]]
  *     (keep-latest at read) and [[compactFinal]] (the `OPTIMIZE …
  *     FINAL` analog: materialize the dedup as a shaped rewrite);
  *   - a GDPR/compliance takedown → [[takedown]]: a keyed
  *     merge-on-read delete — scattered hits mask behind delete
  *     vectors, metadata-only commits, zero rewrite amplification.
  *
  * Versus [[GridStore]] (bare date-partitioned parquet): same query
  * surface, plus versioned atomic commits, time travel, zone + bloom
  * scan planning, and O(hits) deletes — the posture a 100 TB grid
  * archive actually needs. [[graft.serve.PointQuery]] runs unchanged on
  * either store's frames.
  */
final class GridSnapStore(spark: SparkSession, val path: String,
    layoutFiles: Int = 8) {

  /** Dedup sorting key (reference: `init.sql:25`). */
  val keyCols: Seq[String] = Seq("variable", "timestamp", "lat", "lon")
  val versionCol = "insertedAt"

  // NO bloom sidecars: `variable` has a handful of distinct values, so
  // every sketch would contain every variable (pure commit-time cost,
  // zero skips); the sort order clusters variables into file RANGES and
  // the string-projection zones prune them exactly. Blooms earn their
  // keep on high-cardinality keys (see the k31/k35 stores).
  val store = new SnapshotStore(spark, path, "variable",
    secondaryStats = Seq("timestamp", "lat", "lon"))
  // idempotent declarations (overwrite-safe metadata writes)
  store.setLayout("date_trunc('day', timestamp)", layoutFiles)
  store.setSortOrder(keyCols)

  /** K1 — columnar batch append as one versioned commit: the commit path
    * clusters under the hidden day layout and sorts within files under
    * the declared key order, so every batch lands serving-shaped.
    */
  def append(rows: DataFrame): Long = store.commit(rows)

  /** The raw versioned read (may contain superseded key versions between
    * compactions, exactly like ReplacingMergeTree before FINAL).
    */
  def read(): DataFrame = store.read()

  /** The FINAL view — keep-latest per sorting key (A1/W2), the
    * hash-aggregate formulation (map-side partial `max_by`, no sort).
    */
  def finalView(): DataFrame =
    Replacing.latestAgg(read(), keyCols, versionCol,
      tiebreakCols = Seq("catalogId"))

  /** `OPTIMIZE TABLE … FINAL` — materialize the dedup as one shaped
    * rewrite (day-clustered, key-sorted, layout/sort stamped).
    */
  def compactFinal(): Long = store.commitRewriteShaped(finalView())

  /** Compliance takedown: merge-on-read delete of every row matching
    * `cond`. With a keyed predicate (equality/IN on `variable`, a
    * timestamp slice under the sort order) the hit scan is zone+bloom
    * bounded and the commit is metadata-only where hits scatter.
    */
  def takedown(cond: org.apache.spark.sql.Column): Option[Long] =
    store.deleteWhere(cond)
}
