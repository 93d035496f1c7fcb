package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._

/** The curated grid store: date-partitioned Parquet with
  * ReplacingMergeTree-equivalent semantics (SURVEY.md §7.1 step 2).
  *
  * Layout mirrors the reference's ClickHouse table
  * (`migrations/clickhouse/init.sql:14-25`):
  *   - `PARTITION BY toYYYYMMDD(timestamp)`  → Parquet `partitionBy("date")`,
  *     giving Catalyst partition pruning on date predicates for free;
  *   - `ORDER BY (variable,timestamp,lat,lon)` sparse index →
  *     `sortWithinPartitions` at write time, giving Parquet min/max row-group
  *     skipping on variable/timestamp slices;
  *   - `ReplacingMergeTree(inserted_at)` + `FINAL` → [[Replacing.latest]]
  *     applied by [[finalView]], partition by partition (ClickHouse's
  *     `do_not_merge_across_partitions_select_final`);
  *   - `OPTIMIZE TABLE … FINAL` (K5, `clickhouse_grid_store.py:70-72`) →
  *     [[compact]], which rewrites affected date partitions deduped and
  *     marks them merged by naming their data files `final-…`.
  *
  * Scale posture: appends never read existing data; dedup cost is deferred to
  * reads, and only for the dates that hold appended (`part-…`) files, until
  * compaction amortizes it — the same deferred-merge design ClickHouse uses,
  * re-expressed with Spark primitives.
  *
  * Exactness of the merged mark: a date whose data files are all `final-`
  * files holds exactly [[Replacing.latestAgg]]'s output for its rows (same
  * tiebreak, float keys normalized by the aggregate), so FINAL reads it as
  * is. This relies on every version of a key sitting in one date partition —
  * `date` is derived from `timestamp`, a key column, on every write here —
  * which is the same assumption a date-scoped [[compact]] makes.
  */
final class GridStore(spark: SparkSession, val path: String) {

  /** Dedup sorting key (reference: `init.sql:25`). */
  val keyCols: Seq[String] = Seq("variable", "timestamp", "lat", "lon")
  val versionCol = "insertedAt"

  private def exists: Boolean =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(new org.apache.hadoop.fs.Path(path))

  /** K1 — columnar batch append. Normalizes types at the boundary
    * (Float32 values/coords, second-truncated timestamps — SURVEY.md §7.4),
    * derives the `date` partition column, sorts within partitions to emulate
    * the CH primary key, appends. Returns the written row count (A3).
    */
  def append(rows: DataFrame): Long = append(rows, Nil)

  /** K11 — schema-evolved append: the canonical columns normalize exactly
    * as the plain [[append]]; declared `extras` ride along untouched. This
    * is the `ALTER TABLE … ADD COLUMN` analog for an append-only archive:
    * files written before the column existed simply lack it and read back
    * NULL under a merged schema ([[raw]]) — no history rewrite, which
    * is the only evolution discipline that survives a 100 TB store.
    */
  def append(rows: DataFrame, extras: Seq[String]): Long = {
    // Row count observed during the write job itself (no second scan).
    val obs = org.apache.spark.sql.Observation()
    val withExtras = rows.select(canonicalCols(rows) ++ extras.map(rows(_)): _*)
    withExtras
      .withColumn("date", to_date(col("timestamp")))
      .repartition(col("date"))
      .sortWithinPartitions(keyCols.map(col): _*)
      .observe(obs, count(lit(1)).as("n"))
      .write.mode("append").partitionBy("date").parquet(path)
    obs.get("n").asInstanceOf[Long]
  }

  /** Boundary normalization: CH stores Float32 + DateTime(second) +
    * DateTime64(3); equality semantics downstream depend on this
    * (`finder_integration_test.go:24-25`).
    */
  def normalize(rows: DataFrame): DataFrame =
    rows.select(canonicalCols(rows): _*)

  private def canonicalCols(rows: DataFrame): Seq[org.apache.spark.sql.Column] = Seq(
    rows("variable").cast("string").as("variable"),
    date_trunc("second", rows("timestamp")).as("timestamp"),
    rows("lat").cast("float").as("lat"),
    rows("lon").cast("float").as("lon"),
    rows("value").cast("float").as("value"),
    rows("unit").cast("string").as("unit"),
    rows("catalogId").cast("string").as("catalogId"),
    rows("insertedAt").cast("timestamp").as("insertedAt")
  )

  /** Raw read — may contain superseded versions between compactions.
    * Always under schema merge: without it, which footer Spark samples
    * decides whether a K11-evolved column exists, so the SAME store would
    * nondeterministically grow and lose columns between an evolved append
    * and the next compaction. Footer-merging is a per-file metadata read —
    * at archive scale a production deployment records the current schema
    * in the catalog and passes it to the reader instead; the semantics
    * (old files surface NULL) are identical.
    */
  def raw(): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** The FINAL view (A1): keep-latest per sorting key. ALL query paths go
    * through this. Dates marked merged by [[compact]] are read as they are;
    * the others go through the hash-aggregate formulation (map-side partial
    * `max_by`, no sort — see [[Replacing.latestAgg]]). When every date is
    * merged the plan has no aggregate; when none is, it is the aggregate
    * over the whole store.
    */
  def finalView(): DataFrame = perPartitionFinal(raw(), lit(true))

  /** FINAL view bounded to a timestamp window, applied BELOW the dedup
    * aggregate as both a `date` predicate (→ Parquet partition pruning: with
    * years of history a snap query must not list, let alone scan, every date
    * — the reference gets this bound from ClickHouse's primary-key index,
    * `serving-go/internal/grid/finder.go:38-41`) and a `timestamp` predicate
    * (→ row-group skipping inside the surviving dates). Filtering before the
    * dedup is exact: `timestamp` is part of the dedup key, so versions of a
    * key never straddle the window boundary.
    */
  def finalView(lo: java.sql.Timestamp, hi: java.sql.Timestamp): DataFrame =
    perPartitionFinal(raw(), col("date").between(to_date(lit(lo)), to_date(lit(hi))) &&
      col("timestamp").between(lit(lo), lit(hi)))

  private def dedup(rows: DataFrame): DataFrame =
    Replacing.latestAgg(rows, keyCols, versionCol, tiebreakCols = Seq("catalogId"))

  /** FINAL over `r.filter(cut)`, deduplicating only the unmerged dates.
    * The dates are classified from `r`'s own file listing — the index its
    * scan reads — so a file appended after `r` was built cannot land in the
    * wrong branch. The dedup branch is cut by `date IN (unmerged dates)`;
    * the merged branch by its null-safe negation, so the NULL-date partition
    * (rows with a NULL timestamp) lands in exactly one branch.
    */
  private def perPartitionFinal(r: DataFrame, cut: Column): DataFrame = {
    val byDate = r.inputFiles.toSeq.map(new Path(_))
      .groupBy(_.getParent.getName.stripPrefix("date="))
    val unmerged = byDate.collect {
      case (d, files) if !files.forall(_.getName.startsWith(GridStore.MergedPrefix)) => d
    }.toSeq
    // latestAgg's column order: the keys, then the rest as stored
    val columns = (keyCols ++ r.columns.filterNot(keyCols.contains)).map(col)
    if (unmerged.isEmpty) return r.filter(cut).select(columns: _*)
    if (unmerged.size == byDate.size) return dedup(r.filter(cut))
    val (nullDate, dated) = unmerged.partition(_ == ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
    val inUnmerged = Seq(
      Option.when(dated.nonEmpty)(col("date").isin(dated.map(java.sql.Date.valueOf): _*)),
      Option.when(nullDate.nonEmpty)(col("date").isNull)
    ).flatten.reduce(_ || _)
    dedup(r.filter(cut && inUnmerged))
      .unionByName(r.filter(cut && !coalesce(inUnmerged, lit(false))).select(columns: _*))
  }

  /** K5 — compaction: rewrite date partitions with dedup materialized
    * (the `OPTIMIZE TABLE grid_data FINAL` analog). With no argument compacts
    * every date. Uses dynamic partition overwrite so untouched dates survive.
    */
  def compact(dates: Seq[java.sql.Date] = Nil): Unit = {
    if (!exists) return
    // mergeSchema: a compaction that read a single file's footer would
    // silently DROP an evolved column (K11) from every rewritten partition —
    // the one operation that rewrites history must see the union schema.
    val base = raw()
    val scoped = if (dates.isEmpty) base else base.filter(col("date").isin(dates: _*))
    // Writing to a staged path means the source files are never overwritten
    // mid-read — no defensive cache/materialize pass needed before the swap.
    val deduped = dedup(scoped)
      .repartition(col("date"))
      .sortWithinPartitions(keyCols.map(col): _*)
    val staged = path + ".compact.tmp"
    deduped.write.mode("overwrite").partitionBy("date").parquet(staged)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    import GridStore.renameOrFail
    val aborted = s"compact swap aborted; staged data intact at $staged"
    // The merged mark (read by finalView): every staged data file is renamed
    // part-… → final-… before any live partition moves, so a failed rename
    // leaves the live store untouched. On a checksum filesystem the .crc
    // sidecar moves with its file.
    for {
      part <- fs.listStatus(new Path(staged)) if part.isDirectory
      file <- fs.listStatus(part.getPath).map(_.getPath) if file.getName.startsWith("part-")
    } renameOrFail(fs, file,
      new Path(part.getPath, GridStore.MergedPrefix + file.getName.stripPrefix("part-")), aborted)
    // T5 swap discipline: the live data is renamed ASIDE before the staged
    // data is renamed in — at no instant is the only surviving copy in the
    // staging dir (delete-then-rename would strand it there on a crash
    // between the two calls). A crash between the renames leaves the live
    // path briefly absent but two durable copies (.compact.old + staging);
    // recovery = promote either. The aside root lives NEXT TO the store so
    // partition discovery over `path` never sees a non-partition dir.
    val oldRoot = new Path(path + ".compact.old")
    fs.delete(oldRoot, true) // clear leftovers from any previously-failed swap
    if (dates.isEmpty) {
      renameOrFail(fs, new Path(path), oldRoot, aborted)
      renameOrFail(fs, new Path(staged), new Path(path), aborted)
    } else {
      fs.mkdirs(oldRoot)
      dates.foreach { d =>
        val part = s"date=$d"
        val live = new Path(s"$path/$part")
        val stagedPart = new Path(s"$staged/$part")
        // a requested date with no rows writes no staged partition — a
        // maintenance call naming an empty/future date must no-op for it,
        // not die mid-loop after earlier dates already swapped
        if (fs.exists(stagedPart)) {
          if (fs.exists(live)) renameOrFail(fs, live, new Path(oldRoot, part), aborted)
          renameOrFail(fs, stagedPart, live, aborted)
        }
      }
      fs.delete(new Path(staged), true)
    }
    fs.delete(oldRoot, true)
  }

  /** Crash recovery for the [[compact]] swap — the startup step a deployment
    * runs before serving from this store. Each crash window leaves a state
    * this repairs:
    *
    *   1. during the staged write → live intact, dangling `.compact.tmp`:
    *      delete the staging leftovers;
    *   2. between the two renames (whole-store) → live ABSENT, both
    *      `.compact.old` (pre-compaction data) and `.compact.tmp` (compacted
    *      copy, `_SUCCESS`-complete) durable: promote the staged copy —
    *      it is the deduped one; fall back to the aside copy if staging is
    *      incomplete;
    *   3. mid per-date loop → live partition dirs partially swapped: any
    *      date moved aside but never replaced gets its staged partition (or,
    *      failing that, the aside original) back;
    *   4. after the swap, before cleanup → live intact: delete leftovers.
    *
    * Idempotent; a no-op on a healthy store. A failed promote throws
    * before anything is deleted, so both durable copies survive it. A
    * promoted staged partition whose files were not yet renamed `final-…`
    * reads as unmerged: [[finalView]] deduplicates it, so it stays exact.
    */
  def recover(): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def promote(src: Path, dst: Path): Unit = GridStore.renameOrFail(
      fs, src, dst, "recover aborted; no copy deleted")
    val live = new Path(path)
    val staged = new Path(path + ".compact.tmp")
    val oldRoot = new Path(path + ".compact.old")
    val stagedOk = fs.exists(staged) && fs.exists(new Path(staged, "_SUCCESS"))
    if (!fs.exists(live)) {
      if (stagedOk) promote(staged, live)
      else if (fs.exists(oldRoot)) promote(oldRoot, live)
    } else if (fs.exists(oldRoot)) {
      fs.listStatus(oldRoot).foreach { st =>
        val name = st.getPath.getName
        if (name.startsWith("date=") && !fs.exists(new Path(live, name))) {
          val stagedPart = new Path(staged, name)
          if (stagedOk && fs.exists(stagedPart)) promote(stagedPart, new Path(live, name))
          else promote(st.getPath, new Path(live, name))
        }
      }
    }
    fs.delete(staged, true)
    fs.delete(oldRoot, true)
    ()
  }
}

private[store] object GridStore {

  /** File-name prefix [[GridStore.compact]] gives its output: a date whose
    * data files all carry it is merged (deduplicated) already.
    */
  val MergedPrefix = "final-"

  /** `fs.rename` that throws instead of returning false. Several
    * filesystems report a failed rename by returning false; a swap that
    * ignores it goes on to delete the copy it meant to keep, or renames
    * the next directory INTO the one that failed to move (Hadoop rename
    * onto an existing directory is move-into).
    */
  def renameOrFail(fs: org.apache.hadoop.fs.FileSystem,
      src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path,
      context: String): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename $src -> $dst failed: $context")
}
