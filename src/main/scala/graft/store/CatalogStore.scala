package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Catalog tables with relational upsert semantics on plain Parquet
  * (no Delta in this environment — SURVEY.md §7.3).
  *
  * Two writers mirror the reference's Postgres catalog
  * (`pipeline-python/src/pipeline_python/defs/resources.py:68-123`):
  *   - K3 `insertIfAbsent` — `INSERT … ON CONFLICT (id) DO NOTHING`
  *     (re-runs never duplicate raw_files rows): left-anti-join then append;
  *   - K4 `upsert` — `INSERT … ON CONFLICT (id) DO UPDATE`
  *     (reprocess = latest metadata wins): union + keep-newest + rewrite.
  *
  * Both tables are small dimensions (one row per ingested file / per curated
  * grid slice — thousands, not billions), so full-table rewrite is the right
  * cost model even at 100 TB of grid data; the big table never does this.
  */
final class CatalogStore(spark: SparkSession, val path: String, val keyCol: String) {

  private def fs = new org.apache.hadoop.fs.Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists: Boolean = fs.exists(new org.apache.hadoop.fs.Path(path))

  def read(): DataFrame = spark.read.parquet(path)

  /** K3 — idempotent insert: rows whose key already exists are dropped.
    * The count is observed during the write job itself (the
    * [[GridStore.append]] discipline) — a separate count() action would
    * compute the anti-join and scan the input twice, and with a
    * non-deterministic input could even disagree with what was written.
    */
  def insertIfAbsent(rows: DataFrame): Long = {
    val fresh =
      if (!exists) rows
      else rows.join(broadcast(read().select(keyCol)), Seq(keyCol), "left_anti")
    val obs = org.apache.spark.sql.Observation()
    // staged write, promoted only when rows actually landed: appending the
    // observed job directly would create the table directory (flipping
    // `exists` on a store that was never written) and accumulate one empty
    // part file per no-op insert between compactions. Part-file names carry
    // the job UUID, so renaming them into the live dir cannot collide; the
    // staging dir itself is per-call unique so CONCURRENT inserts (which
    // the old direct-append mode tolerated) cannot overwrite or delete
    // each other's staged files mid-promote.
    import org.apache.hadoop.fs.Path
    val staged = new Path(path + s".insert.${java.util.UUID.randomUUID()}.tmp")
    // a FAILED staged write has nothing worth recovering — delete its
    // scratch dir instead of orphaning one uniquely-named dir per failed
    // attempt (the keep-for-recovery behavior below is reserved for a
    // half-failed PROMOTE, where the staged files are the only copy)
    try fresh.observe(obs, count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(staged.toString)
    catch {
      case e: Throwable =>
        try fs.delete(staged, true) catch { case _: java.io.IOException => () }
        throw e
    }
    val n = obs.get("n").asInstanceOf[Long]
    if (n > 0L) {
      val live = new Path(path)
      if (!fs.exists(live)) fs.mkdirs(live)
      fs.listStatus(staged).iterator
        .filter(_.getPath.getName.startsWith("part-"))
        .foreach { st =>
          if (!fs.rename(st.getPath, new Path(live, st.getPath.getName)))
            throw new java.io.IOException(
              s"insertIfAbsent promote aborted: rename ${st.getPath} failed; staged data intact")
        }
    }
    // deleted only on success — a half-failed promote keeps its uniquely
    // named scratch dir so "staged data intact" stays true for recovery
    fs.delete(staged, true)
    n
  }

  /** K4 — upsert: incoming rows replace existing rows with the same key.
    * `versionCol` breaks ties deterministically (newest wins).
    */
  def upsert(rows: DataFrame, versionCol: String): Unit = {
    val merged =
      if (!exists) rows
      else {
        val existing = read()
        val incoming = rows.select(existing.columns.map(col): _*)
        Replacing.latest(
          existing.withColumn("__src", lit(0)).unionByName(incoming.withColumn("__src", lit(1))),
          Seq(keyCol), versionCol, tiebreakCols = Seq("__src")
        ).drop("__src")
      }
    // stage-and-swap: the rewrite reads the files it replaces (T5
    // atomicity). Same rename-aside discipline as GridStore.compact:
    // delete-then-rename would leave NO live copy if the rename fails or
    // the JVM dies in between (rename returns FALSE on several
    // filesystems, it does not throw) — rename the live table ASIDE first
    // so at every instant a durable copy exists outside the staging dir,
    // and check every rename.
    val staged = path + ".upsert.tmp"
    merged.coalesce(1).write.mode("overwrite").parquet(staged)
    import org.apache.hadoop.fs.Path
    val aborted = s"upsert swap aborted; staged data intact at $staged"
    val live = new Path(path)
    val aside = new Path(path + ".upsert.old")
    fs.delete(aside, true) // leftovers from a previously-failed swap
    if (exists) GridStore.renameOrFail(fs, live, aside, aborted)
    GridStore.renameOrFail(fs, new Path(staged), live, aborted)
    fs.delete(aside, true)
  }

  /** Crash recovery for the [[upsert]] swap (the [[GridStore.recover]]
    * analog): if the live table is absent, promote the staged copy when it
    * completed (`_SUCCESS`), else the aside copy; then clear leftovers.
    * Idempotent; a no-op on a healthy store. A failed promote throws
    * before anything is deleted, so both durable copies survive it.
    */
  def recover(): Unit = {
    import org.apache.hadoop.fs.Path
    val live = new Path(path)
    val staged = new Path(path + ".upsert.tmp")
    val aside = new Path(path + ".upsert.old")
    def promote(src: Path): Unit = GridStore.renameOrFail(
      fs, src, live, "recover aborted; no copy deleted")
    if (!fs.exists(live)) {
      if (fs.exists(new Path(staged, "_SUCCESS"))) promote(staged)
      else if (fs.exists(aside)) promote(aside)
    }
    fs.delete(staged, true)
    fs.delete(aside, true)
    ()
  }
}

object CatalogStore {

  /** Change preview (the CDC-style dry run of K3/K4): classify each incoming
    * row against the existing table as `insert` (key absent), `update` (key
    * present, any compared column differs — null-safe) or `unchanged`,
    * WITHOUT writing. The report every guarded merge pipeline runs before
    * committing a batch.
    *
    * One left join on the key (broadcast-eligible when the existing side is
    * a dimension; at fact scale it shuffles on the same key the merge itself
    * would) and a scan-local comparison — no second pass, no driver-side
    * diffing. Returns the incoming rows plus an `action` column.
    */
  def changePreview(existing: DataFrame, incoming: DataFrame, keyCol: String,
      compareCols: Seq[String]): DataFrame = {
    require(compareCols.nonEmpty, "need at least one column to compare")
    val o = existing.select(
      (keyCol +: compareCols).map(c => col(c).as(s"__o_$c")): _*)
    val changed = compareCols.map(c => !(col(c) <=> col(s"__o_$c"))).reduce(_ || _)
    incoming.join(o, col(keyCol) === col(s"__o_$keyCol"), "left")
      .withColumn("action",
        when(col(s"__o_$keyCol").isNull, "insert")
          .when(changed, "update")
          .otherwise("unchanged"))
      .drop((s"__o_$keyCol" +: compareCols.map(c => s"__o_$c")): _*)
  }
}
