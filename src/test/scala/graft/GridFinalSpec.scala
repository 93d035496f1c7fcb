package graft

import java.sql.Timestamp

import scala.util.Random

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.functions._

import graft.store.{GridStore, Replacing}

/** Per-partition FINAL: [[GridStore.finalView]] reads the dates [[GridStore.compact]]
  * marked merged (`final-…` files) as they are and deduplicates the rest. Its answer
  * must equal the window-function spec [[Replacing.latest]] over the raw rows on every
  * mix of merged, re-appended, never-compacted, evolved and NULL-date partitions.
  */
class GridFinalSpec extends SparkSpec {
  import spark.implicits._

  private val days = Seq("2026-03-01", "2026-03-02", "2026-03-03", "2026-03-04", "2026-03-05")
  private def day(i: Int) = java.sql.Date.valueOf(days(i))
  // ±0.0 and NaN keys: the aggregate normalizes them, and so must a merged read
  private val coords = Seq(0.0f, -0.0f, Float.NaN, 45.25f)

  /** `n` rows over `onDays` at three hours a day, so keys collide within and
    * across batches; a NULL timestamp for about one row in six when `nulls`.
    * Catalog ids are unique, so equal versions break ties deterministically.
    */
  private def batch(seed: Long, n: Int, onDays: Seq[Int], versions: Seq[String],
      nulls: Boolean = false): DataFrame = {
    val r = new Random(seed)
    Seq.tabulate(n) { i =>
      val ts = if (nulls && r.nextInt(6) == 0) null
        else Timestamp.valueOf(f"${days(onDays(r.nextInt(onDays.size)))} ${r.nextInt(3) * 11}%02d:00:00")
      (Seq("pm2p5", "temperature")(r.nextInt(2)), ts, coords(r.nextInt(4)), coords(r.nextInt(4)),
        r.nextFloat() * 100, "u", s"cat-$seed-$i", Timestamp.valueOf(versions(r.nextInt(versions.size))))
    }.toDF("variable", "timestamp", "lat", "lon", "value", "unit", "catalogId", "insertedAt")
  }

  private val windows = Seq(
    "2026-02-28 00:00:00" -> "2026-03-06 00:00:00", // everything dated
    "2026-03-01 05:00:00" -> "2026-03-01 23:00:00", // inside one date
    "2026-03-02 10:00:00" -> "2026-03-03 12:00:00", // across a date boundary
    "2026-03-03 00:00:00" -> "2026-03-05 22:00:00",
    "2026-04-01 00:00:00" -> "2026-04-02 00:00:00"  // no data
  ).map { case (lo, hi) => (Timestamp.valueOf(lo), Timestamp.valueOf(hi)) }

  /** Rows as a multiset; floats compared by bits after folding -0.0 into 0.0. */
  private def multiset(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq.map {
      case f: Float => java.lang.Float.floatToIntBits(if (f == 0f) 0f else f)
      case other => other
    }).groupBy(identity).view.mapValues(_.size).toMap

  private def assertSame(got: DataFrame, want: DataFrame, clue: String): Unit = {
    assert(got.schema.map(f => f.name -> f.dataType) === want.schema.map(f => f.name -> f.dataType),
      clue)
    assert(multiset(got) === multiset(want), clue)
  }

  private def oracle(rows: DataFrame): DataFrame =
    Replacing.latest(rows, Seq("variable", "timestamp", "lat", "lon"), "insertedAt", Seq("catalogId"))

  /** FINAL, whole and windowed, equals the spec over the raw rows. */
  private def assertFinalExact(store: GridStore, stage: String): Unit = {
    val raw = store.raw()
    assertSame(store.finalView(), oracle(raw), s"$stage: finalView()")
    windows.foreach { case (lo, hi) =>
      assertSame(store.finalView(lo, hi), oracle(raw.filter($"timestamp".between(lo, hi))),
        s"$stage: finalView($lo, $hi)")
    }
  }

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Partition dir name → whether every data file in it carries the mark. */
  private def marks(store: GridStore): Map[String, Boolean] =
    fs.listStatus(new Path(store.path)).filter(_.getPath.getName.startsWith("date=")).map { d =>
      val files = fs.listStatus(d.getPath).map(_.getPath.getName).filterNot(_.startsWith("."))
      d.getPath.getName.stripPrefix("date=") -> files.forall(_.startsWith("final-"))
    }.toMap

  private def merged(store: GridStore): Set[String] = marks(store).collect { case (d, true) => d }.toSet

  private val nullDate = "__HIVE_DEFAULT_PARTITION__"

  test("per-partition FINAL == Replacing.latest over raw on mixed merged/unmerged dates") {
    val store = new GridStore(spark, tempDir("final") + "/grid")
    // legacy: two overlapping batches, never compacted
    store.append(batch(1, 240, 0 to 4, Seq("2026-03-06 00:00:00", "2026-03-06 01:00:00"), nulls = true))
    store.append(batch(2, 200, 0 to 3, Seq("2026-03-06 01:00:00", "2026-03-07 00:00:00"), nulls = true))
    assert(merged(store).isEmpty && marks(store).contains(nullDate))
    assertFinalExact(store, "legacy")

    store.compact(Seq(day(0), day(1)))
    assert(merged(store) === Set(days(0), days(1)))
    assertFinalExact(store, "two dates compacted")

    // appended after compaction: the date is unmerged again
    store.append(batch(3, 120, Seq(1, 2), Seq("2026-03-06 01:00:00", "2026-03-08 00:00:00")))
    assert(merged(store) === Set(days(0)))
    assertFinalExact(store, "re-appended")

    // K11: an evolved column on two dates, one of them compacted
    val evolved = batch(4, 150, Seq(3, 4), Seq("2026-03-07 00:00:00", "2026-03-09 00:00:00"))
      .withColumn("qc_flag", $"value" > 50f)
    store.append(evolved, extras = Seq("qc_flag"))
    store.compact(Seq(day(3)))
    assert(merged(store) === Set(days(0), days(3)))
    assert(store.finalView().columns.contains("qc_flag"))
    assertFinalExact(store, "evolved")

    store.compact()
    assert(marks(store).values.forall(identity) && marks(store).contains(nullDate))
    assert(store.finalView().queryExecution.optimizedPlan.collect { case a: Aggregate => a }.isEmpty)
    assertFinalExact(store, "whole-store compact")

    // one date unmerged, the NULL-date partition still merged
    store.append(batch(5, 100, Seq(2), Seq("2026-03-10 00:00:00")))
    assert(merged(store) === Set(days(0), days(1), days(3), days(4), nullDate))
    assertFinalExact(store, "one date re-appended")

    // the NULL-date partition and another date unmerged too
    store.append(batch(6, 150, Seq(0), Seq("2026-03-10 00:00:00"), nulls = true))
    assert(merged(store) === Set(days(1), days(3), days(4)))
    assertFinalExact(store, "NULL date re-appended")
  }

  test("after one append into a compacted store, only that date's files are deduplicated") {
    val store = new GridStore(spark, tempDir("final") + "/grid")
    store.append(batch(6, 200, 0 to 4, Seq("2026-03-06 00:00:00")))
    store.append(batch(7, 200, 0 to 4, Seq("2026-03-07 00:00:00")))
    store.compact()
    store.append(batch(8, 40, Seq(2), Seq("2026-03-08 00:00:00")))
    val fin = store.finalView()
    val scans = fin.queryExecution.sparkPlan.collect { case a: BaseAggregateExec => a }
      .flatMap(_.collect { case s: FileSourceScanExec => s }).distinct
    val deduped = scans.flatMap(_.selectedPartitions.filePartitionIterator
      .flatMap(_.files.map(_.getPath.toUri.getPath))).toSet
    val onDate = store.raw().inputFiles.map(new Path(_).toUri.getPath)
      .filter(_.contains(s"/date=${days(2)}/")).toSet
    assert(deduped.nonEmpty && deduped === onDate)
    assert(onDate.exists(_.contains("/part-")) && onDate.exists(_.contains("/final-")))
    assertSame(fin, oracle(store.raw()), "one date appended")
  }

  /** The store path re-addressed through [[NoMarkFs]]. */
  private def noMark(path: String): String = {
    spark.sparkContext.hadoopConfiguration.set("fs.nomark.impl", classOf[NoMarkFs].getName)
    "nomark://" + path
  }

  /** Every file under `root`, by relative path, with its length. */
  private def listing(root: String): Map[String, Long] = {
    val it = fs.listFiles(new Path(root), true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .map(st => st.getPath.toString.stripPrefix(new Path(root).toString) -> st.getLen).toMap
  }

  test("a failed mark rename throws before any live partition moves") {
    val store = new GridStore(spark, tempDir("final") + "/grid")
    store.append(batch(9, 200, 0 to 2, Seq("2026-03-06 00:00:00"), nulls = true))
    store.append(batch(10, 200, 0 to 2, Seq("2026-03-07 00:00:00")))
    store.compact(Seq(day(0)))
    val before = listing(store.path)
    val failing = new GridStore(spark, noMark(store.path))
    val e = intercept[java.io.IOException](failing.compact())
    assert(e.getMessage.contains("final-"), e.getMessage)
    assert(listing(store.path) === before, "whole-store compact touched the live store")
    intercept[java.io.IOException](failing.compact(Seq(day(1), day(2))))
    assert(listing(store.path) === before, "per-date compact touched the live store")
    store.recover()
    assert(!fs.exists(new Path(store.path + ".compact.tmp")))
    assert(listing(store.path) === before)
    assertFinalExact(store, "after failed marks")
  }

  test("recover after a crash between the staged write and the swap keeps FINAL exact") {
    val store = new GridStore(spark, tempDir("final") + "/grid")
    store.append(batch(11, 200, 0 to 2, Seq("2026-03-06 00:00:00"), nulls = true))
    store.compact(Seq(day(0)))
    store.append(batch(12, 200, 0 to 2, Seq("2026-03-07 00:00:00"), nulls = true))
    val staged = new Path(store.path + ".compact.tmp")
    val aside = new Path(store.path + ".compact.old")
    def stage(rows: DataFrame): Unit = Replacing.latestAgg(rows, store.keyCols, store.versionCol,
      Seq("catalogId")).write.partitionBy("date").parquet(staged.toString)

    // staged copy complete, swap never started: recover drops it
    stage(store.raw())
    store.recover()
    assert(!fs.exists(staged) && merged(store) === Set.empty[String])
    assertFinalExact(store, "staged, not swapped")

    // live moved aside, the unmarked staged copy is promoted: FINAL dedups it
    stage(store.raw())
    assert(fs.rename(new Path(store.path), aside))
    store.recover()
    assert(!fs.exists(aside) && marks(store).nonEmpty && merged(store).isEmpty)
    assertFinalExact(store, "unmarked staged copy promoted")

    // a per-date swap cut short: one date aside, its staged partition marked
    store.append(batch(13, 80, Seq(1), Seq("2026-03-08 00:00:00")))
    val part = s"date=${days(1)}"
    stage(store.raw().filter($"date" === lit(day(1))))
    fs.listStatus(new Path(staged, part)).map(_.getPath).filter(_.getName.startsWith("part-"))
      .foreach(f => assert(fs.rename(f, new Path(f.getParent, "final-" + f.getName.stripPrefix("part-")))))
    fs.mkdirs(aside)
    assert(fs.rename(new Path(store.path, part), new Path(aside, part)))
    store.recover()
    assert(merged(store) === Set(days(1)))
    assertFinalExact(store, "marked staged partition promoted")
  }
}

/** A local filesystem under its own `nomark://` scheme on which only the
  * compaction's mark renames (to a `final-…` name) fail, by returning false;
  * the write committer's own renames succeed.
  */
class NoMarkFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("nomark:///")
  override def getScheme: String = "nomark"
  override def rename(src: Path, dst: Path): Boolean =
    !dst.getName.startsWith("final-") && super.rename(src, dst)
}
