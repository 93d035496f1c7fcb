package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.store.{CatalogStore, GridStore, Replacing}

/** Store semantics — the heart of the engine (SURVEY.md §7.4): every read
  * must respect keep-latest dedup or idempotency silently breaks. Mirrors the
  * reference's idempotency integration tests
  * (`tests/integration/test_transform_cams.py:100-117`).
  */
class StoreSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = Timestamp.valueOf("2026-01-01 08:00:00")
  private val t1 = Timestamp.valueOf("2026-01-01 09:00:00")

  private def gridRows(insertedAt: Timestamp, value: Double) = Seq(
    ("pm2p5", Timestamp.valueOf("2026-01-01 00:00:00"), 50.0f, 10.0f, value, "µg/m³", "cat-1", insertedAt),
    ("pm2p5", Timestamp.valueOf("2026-01-01 00:00:00"), 50.0f, 10.1f, value + 1, "µg/m³", "cat-1", insertedAt),
    ("pm10", Timestamp.valueOf("2026-01-02 00:00:00"), 50.0f, 10.0f, value + 2, "µg/m³", "cat-2", insertedAt)
  ).toDF("variable", "timestamp", "lat", "lon", "value", "unit", "catalogId", "insertedAt")

  test("A1: double-append is idempotent through finalView; raw keeps both") {
    val store = new GridStore(spark, tempDir("store") + "/grid")
    assert(store.append(gridRows(t0, 1.0)) === 3L)
    assert(store.append(gridRows(t1, 100.0)) === 3L)
    assert(store.raw().count() === 6L)
    val fin = store.finalView().cache()
    assert(fin.count() === 3L, "finalView must dedup to one row per key")
    // latest batch wins
    val v = fin.filter($"variable" === "pm2p5" && $"lon" === 10.0f)
      .select("value").collect()(0).getFloat(0)
    assert(v === 100.0f)
    fin.unpersist()
  }

  test("K5: compaction materializes the dedup; raw == finalView afterwards") {
    val store = new GridStore(spark, tempDir("store") + "/grid")
    store.append(gridRows(t0, 1.0))
    store.append(gridRows(t1, 100.0))
    store.compact()
    assert(store.raw().count() === 3L)
    assert(store.finalView().count() === 3L)
    // date partitioning survives compaction (partition pruning intact)
    val pruned = store.raw().filter($"date" === lit("2026-01-02").cast("date"))
    assert(pruned.count() === 1L)
  }

  test("K11: evolved column reads NULL for old files and survives compaction") {
    val store = new GridStore(spark, tempDir("store") + "/grid")
    store.append(gridRows(t0, 1.0)) // pre-evolution batch: no qc_flag
    store.append(
      gridRows(t1, 100.0).withColumn("qc_flag", $"variable" === "pm2p5"),
      extras = Seq("qc_flag"))
    val merged = store.raw()
    assert(merged.columns.contains("qc_flag"))
    assert(merged.filter($"qc_flag".isNull).count() === 3L,
      "pre-evolution files must surface NULL under the merged schema")
    assert(merged.filter($"qc_flag" === true).count() === 2L)
    // the ONE operation that rewrites history must not drop the column
    store.compact()
    val after = store.raw()
    assert(after.columns.contains("qc_flag"),
      "compaction must preserve evolved columns")
    // keep-latest picked the evolved (t1) versions, so no NULLs remain
    assert(after.count() === 3L)
    assert(after.filter($"qc_flag" === true).count() === 2L)
    assert(after.filter($"qc_flag".isNull).count() === 0L)
  }

  test("non-ASCII units survive the parquet round-trip with exact equality") {
    val store = new GridStore(spark, tempDir("store") + "/grid")
    val rows = Seq(
      ("pm2p5", Timestamp.valueOf("2026-01-01 00:00:00"), 1.0f, 2.0f, 3.0f, "µg/m³", "c1", t0),
      ("temperature", Timestamp.valueOf("2026-01-01 00:00:00"), 1.0f, 2.0f, 4.0f, "°C", "c2", t0),
      ("humidity", Timestamp.valueOf("2026-01-01 00:00:00"), 1.0f, 2.0f, 5.0f, "%", "c3", t0)
    ).toDF("variable", "timestamp", "lat", "lon", "value", "unit", "catalogId", "insertedAt")
    store.append(rows)
    // string-equality predicate on the UTF-8 unit (the C1 conversion filters
    // on unit equality — corruption here would silently skip conversions)
    assert(store.raw().filter($"unit" === "µg/m³").count() === 1L)
    val units = store.raw().select("unit").collect().map(_.getString(0)).toSet
    assert(units === Set("µg/m³", "°C", "%"))
  }

  test("store boundary normalizes: float32 values, second-truncated timestamps") {
    val store = new GridStore(spark, tempDir("store") + "/grid")
    val rows = Seq(("t", Timestamp.valueOf("2026-01-01 00:00:00.789"), 1.0, 2.0, 3.14159,
      "u", "c1", t0)).toDF("variable", "timestamp", "lat", "lon", "value", "unit", "catalogId", "insertedAt")
    store.append(rows)
    val r = store.raw().collect()(0)
    assert(r.getAs[Timestamp]("timestamp") === Timestamp.valueOf("2026-01-01 00:00:00"))
    assert(r.getAs[Float]("lat") === 1.0f)
  }

  test("K3: insertIfAbsent never duplicates keys across re-runs") {
    val cat = new CatalogStore(spark, tempDir("cat") + "/raw_files", "id")
    val rows = Seq(("id-1", "ads", "k1"), ("id-2", "ads", "k2")).toDF("id", "source", "s3Key")
    assert(cat.insertIfAbsent(rows) === 2L)
    assert(cat.insertIfAbsent(rows) === 0L) // idempotent re-run
    val more = Seq(("id-2", "ads", "k2-upd"), ("id-3", "ads", "k3")).toDF("id", "source", "s3Key")
    assert(cat.insertIfAbsent(more) === 1L) // only the new key lands
    assert(cat.read().count() === 3L)
    val k2 = cat.read().filter($"id" === "id-2").select("s3Key").collect()(0).getString(0)
    assert(k2 === "k2", "existing row must not be updated")
  }

  test("K3: a no-op insert neither creates the table nor accumulates empty files") {
    val cat = new CatalogStore(spark, tempDir("cat") + "/raw_files", "id")
    val rows = Seq(("id-1", "ads", "k1")).toDF("id", "source", "s3Key")
    // empty input on an absent store: exists must stay false
    assert(cat.insertIfAbsent(rows.limit(0)) === 0L)
    assert(!cat.exists, "no-op insert created the table directory")
    assert(cat.insertIfAbsent(rows) === 1L)
    val fs = new org.apache.hadoop.fs.Path(cat.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def nFiles = fs.listStatus(new org.apache.hadoop.fs.Path(cat.path))
      .count(_.getPath.getName.startsWith("part-"))
    val before = nFiles
    // idempotent re-runs: no new part files between compactions
    assert(cat.insertIfAbsent(rows) === 0L)
    assert(cat.insertIfAbsent(rows) === 0L)
    assert(nFiles === before, "no-op inserts accumulated empty part files")
    assert(cat.read().count() === 1L)
  }

  test("K4: upsert replaces matched keys, latest version wins") {
    val cat = new CatalogStore(spark, tempDir("cat") + "/curated", "id")
    val v1 = Seq(("c-1", "raw-1", 1L), ("c-2", "raw-1", 1L)).toDF("id", "rawFileId", "v")
    cat.upsert(v1, versionCol = "v")
    val v2 = Seq(("c-2", "raw-9", 2L), ("c-3", "raw-2", 2L)).toDF("id", "rawFileId", "v")
    cat.upsert(v2, versionCol = "v")
    val out = cat.read().collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out === Map("c-1" -> "raw-1", "c-2" -> "raw-9", "c-3" -> "raw-2"))
  }

  test("K4: upsert swap survives a crash between renames; recover promotes a copy") {
    val cat = new CatalogStore(spark, tempDir("cat") + "/curated", "id")
    cat.upsert(Seq(("c-1", "raw-1", 1L)).toDF("id", "rawFileId", "v"), "v")
    cat.upsert(Seq(("c-1", "raw-2", 2L)).toDF("id", "rawFileId", "v"), "v")
    assert(cat.read().collect()(0).getString(1) === "raw-2")
    // simulate the crash window: live renamed aside, staged not yet in
    import org.apache.hadoop.fs.Path
    val fs = new Path(cat.path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new Path(cat.path)
    fs.rename(live, new Path(cat.path + ".upsert.old"))
    assert(!fs.exists(live))
    cat.recover()
    assert(fs.exists(live), "recover must promote the aside copy")
    assert(cat.read().collect()(0).getString(1) === "raw-2")
    // staged-complete crash state: live absent, staged has _SUCCESS
    fs.rename(live, new Path(cat.path + ".upsert.tmp"))
    cat.recover()
    assert(fs.exists(live), "recover must promote the completed staged copy")
    assert(cat.read().collect()(0).getString(1) === "raw-2")
    assert(!fs.exists(new Path(cat.path + ".upsert.tmp")))
    assert(!fs.exists(new Path(cat.path + ".upsert.old")))
  }

  test("K5: compact() scoped to a date with no partition is a no-op for it") {
    val store = new GridStore(spark, tempDir("store") + "/grid")
    store.append(gridRows(t0, 1.0))
    store.append(gridRows(t1, 100.0))
    // one real date plus one the store has never seen: the maintenance call
    // must swap the real one and silently skip the empty one (it used to
    // throw mid-loop after the first date had already swapped)
    store.compact(Seq(java.sql.Date.valueOf("2026-01-01"),
      java.sql.Date.valueOf("2030-12-31")))
    assert(store.raw().filter($"date" === lit("2026-01-01").cast("date")).count() === 2L)
    assert(store.finalView().count() === 3L)
  }

  test("Replacing.latest breaks version ties deterministically") {
    val df = Seq(("k", 1L, "a"), ("k", 1L, "b")).toDF("key", "v", "tag")
    val out = Replacing.latest(df, Seq("key"), "v", tiebreakCols = Seq("tag"))
    assert(out.select("tag").collect()(0).getString(0) === "b")
  }

  test("date predicates prune partitions at the scan (PartitionFilters)") {
    val store = new GridStore(spark, tempDir("store") + "/grid")
    store.append(gridRows(t0, 1.0))
    val pruned = store.raw().filter($"date" === lit("2026-01-02").cast("date"))
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      scan.matches("(?s).*PartitionFilters: \\[[^\\]]*date[^\\]]*\\].*"),
      s"expected date partition filter in scan:\n$scan")
    assert(pruned.count() === 1L)
  }

  test("windowed finalView partition-prunes the scan and keeps dedup exact") {
    val store = new GridStore(spark, tempDir("store") + "/grid")
    store.append(gridRows(t0, 1.0))
    store.append(gridRows(t1, 100.0)) // superseding versions, same keys
    val lo = Timestamp.valueOf("2026-01-02 00:00:00")
    val hi = Timestamp.valueOf("2026-01-02 23:00:00")
    val fin = store.finalView(lo, hi)
    // only the 2026-01-02 key survives, deduped to the latest version
    val rows = fin.collect()
    assert(rows.length === 1)
    assert(rows(0).getAs[Float]("value") === 102.0f)
    // the date bound reaches the scan as a partition filter — years of
    // history outside the window are never listed
    val plan = fin.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*date[^\\]]*\\].*"),
      s"expected date partition filter in:\n$plan")
  }

  test("per-date compaction swap never leaves aside dirs inside the store") {
    val store = new GridStore(spark, tempDir("store") + "/grid")
    store.append(gridRows(t0, 1.0))
    store.append(gridRows(t1, 100.0))
    store.compact(Seq(java.sql.Date.valueOf("2026-01-01")))
    // compacted date deduped; other date untouched; no stray dirs break reads
    assert(store.raw().count() === 4L) // 2 deduped + 2 raw versions of pm10
    assert(store.finalView().count() === 3L)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(store.path + ".compact.old")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(store.path + ".compact.tmp")))
  }

  test("T5: crash between the compaction renames is recoverable from either copy") {
    import org.apache.hadoop.fs.Path
    val store = new GridStore(spark, tempDir("store") + "/grid")
    store.append(gridRows(t0, 1.0))
    store.append(gridRows(t1, 100.0))
    val expected = store.finalView()
      .select("variable", "timestamp", "lat", "lon", "value")
      .collect().map(_.toSeq).toSet
    val fs = new Path(store.path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Reproduce the exact window-2 state compact() crashes into: the staged
    // (compacted, _SUCCESS-complete) copy written, live renamed ASIDE, the
    // rename-in never executed — live path absent, two durable copies.
    val staged = store.path + ".compact.tmp"
    Replacing.latestAgg(store.raw(), store.keyCols, store.versionCol,
      tiebreakCols = Seq("catalogId"))
      .write.partitionBy("date").parquet(staged)
    assert(fs.rename(new Path(store.path), new Path(store.path + ".compact.old")))
    assert(!fs.exists(new Path(store.path)), "simulated crash: live path absent")

    store.recover()
    assert(fs.exists(new Path(store.path)), "recovery must restore the live path")
    assert(!fs.exists(new Path(staged)) &&
      !fs.exists(new Path(store.path + ".compact.old")),
      "recovery must clean both leftover roots")
    // the promoted copy is the compacted one: already deduped, same answers
    assert(store.raw().count() === 3L)
    val got = store.finalView()
      .select("variable", "timestamp", "lat", "lon", "value")
      .collect().map(_.toSeq).toSet
    assert(got === expected)
    store.recover() // idempotent on the healthy store
    assert(store.raw().count() === 3L)
  }

  test("T5: crash DURING the staged write leaves live data untouched; recover cleans up") {
    import org.apache.hadoop.fs.Path
    val store = new GridStore(spark, tempDir("store") + "/grid")
    store.append(gridRows(t0, 1.0))
    val fs = new Path(store.path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a half-written staging dir: files present, no _SUCCESS marker
    val staged = new Path(store.path + ".compact.tmp/date=2026-01-01")
    fs.mkdirs(staged)
    fs.create(new Path(staged, "part-00000.parquet")).close()
    store.recover()
    assert(!fs.exists(new Path(store.path + ".compact.tmp")),
      "incomplete staging dir must be removed")
    assert(store.raw().count() === 3L, "live data untouched")
  }

  /** The store path re-addressed through [[NoRenameFs]]: same files on
    * disk, but every rename reports failure by returning false.
    */
  private def noRename(path: String): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.norename.impl", classOf[NoRenameFs].getName)
    "norename://" + path
  }

  test("T5: GridStore.recover throws on a failed promote and keeps both copies") {
    import org.apache.hadoop.fs.Path
    val store = new GridStore(spark, tempDir("store") + "/grid")
    store.append(gridRows(t0, 1.0))
    store.append(gridRows(t1, 100.0))
    val fs = new Path(store.path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = new Path(store.path + ".compact.tmp")
    val aside = new Path(store.path + ".compact.old")
    // window 2: compacted copy staged, live renamed aside, rename-in lost
    Replacing.latestAgg(store.raw(), store.keyCols, store.versionCol,
      tiebreakCols = Seq("catalogId"))
      .write.partitionBy("date").parquet(staged.toString)
    assert(fs.rename(new Path(store.path), aside))
    intercept[java.io.IOException](new GridStore(spark, noRename(store.path)).recover())
    assert(fs.exists(new Path(staged, "_SUCCESS")) && fs.exists(aside),
      "a failed promote must not delete either durable copy")
    assert(!fs.exists(new Path(store.path)))
    // window 3: live back, one date moved aside and never replaced
    store.recover()
    assert(store.raw().count() === 3L)
    val part = "date=2026-01-01"
    fs.mkdirs(aside)
    assert(fs.rename(new Path(store.path, part), new Path(aside, part)))
    intercept[java.io.IOException](new GridStore(spark, noRename(store.path)).recover())
    assert(fs.exists(new Path(aside, part)),
      "a failed per-date promote must keep the aside partition")
    store.recover()
    assert(store.raw().count() === 3L)
    assert(!fs.exists(aside))
  }

  test("K4: CatalogStore.recover throws on a failed promote and keeps both copies") {
    import org.apache.hadoop.fs.Path
    val cat = new CatalogStore(spark, tempDir("cat") + "/curated", "id")
    cat.upsert(Seq(("c-1", "raw-1", 1L)).toDF("id", "rawFileId", "v"), "v")
    val fs = new Path(cat.path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = new Path(cat.path + ".upsert.tmp")
    val aside = new Path(cat.path + ".upsert.old")
    // crash window: the completed staged copy and the aside copy, no live
    cat.read().write.parquet(staged.toString)
    assert(fs.rename(new Path(cat.path), aside))
    intercept[java.io.IOException](
      new CatalogStore(spark, noRename(cat.path), "id").recover())
    assert(fs.exists(new Path(staged, "_SUCCESS")) && fs.exists(aside),
      "a failed promote must not delete either durable copy")
    cat.recover()
    assert(cat.read().collect()(0).getString(1) === "raw-1")
    assert(!fs.exists(staged) && !fs.exists(aside))
  }

  test("latestAgg (hash-agg form) equals latest (window form) row-for-row") {
    val df = (1 to 500).map { i =>
      (s"k${i % 37}", s"t${i % 11}", i.toLong, s"val-$i", s"id-$i")
    }.toDF("k1", "k2", "v", "payload", "tag")
    val a = Replacing.latest(df, Seq("k1", "k2"), "v", Seq("tag"))
      .collect().map(_.toSeq).toSet
    val b = Replacing.latestAgg(df, Seq("k1", "k2"), "v", Seq("tag"))
      .select("k1", "k2", "v", "payload", "tag")
      .collect().map(_.toSeq).toSet
    assert(a === b)
  }

  test("changePreview classifies insert/update/unchanged with null-safe diffs") {
    val existing = Seq(
      (1L, Some("en"), 100L), (2L, None, 200L), (3L, Some("de"), 300L)
    ).toDF("id", "lang", "n")
    val incoming = Seq(
      (1L, Some("en"), 100L), // identical → unchanged
      (2L, None, 200L),       // identical incl. null lang → unchanged
      (3L, Some("de"), 999L), // value changed → update
      (4L, Some("fr"), 50L),  // new key → insert
      (5L, None, 60L)         // new key with null col → insert
    ).toDF("id", "lang", "n")
    val out = graft.store.CatalogStore
      .changePreview(existing, incoming, "id", Seq("lang", "n"))
      .orderBy("id").collect()
      .map(r => r.getLong(0) -> r.getAs[String]("action"))
    assert(out.toSeq === Seq(1L -> "unchanged", 2L -> "unchanged",
      3L -> "update", 4L -> "insert", 5L -> "insert"))
    // null flipping to value (and back) is an update, not unchanged
    val flip = graft.store.CatalogStore.changePreview(
      existing, Seq((2L, Some("zh"), 200L)).toDF("id", "lang", "n"),
      "id", Seq("lang", "n")).collect()
    assert(flip(0).getAs[String]("action") === "update")
  }
}

/** A local filesystem under its own `norename://` scheme whose rename
  * fails the way several Hadoop filesystems do: by returning false.
  */
class NoRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("norename:///")
  override def getScheme: String = "norename"
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean = false
}
