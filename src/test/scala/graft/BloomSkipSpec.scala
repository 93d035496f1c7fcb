package graft

import org.apache.spark.sql.functions._

import graft.store.SnapshotStore

/** File-level bloom sidecars on the snapshot store: point lookups skip
  * files zones cannot (hash-distributed keys), results are always a
  * SUPERSET of the exact matches (no false negatives), everything without
  * a sidecar is conservatively kept, and sidecars live and die with their
  * group. The k31 driver query proves lookup results against DuckDB;
  * these pin the skip census and the sidecar lifecycle.
  */
class BloomSkipSpec extends SparkSpec {
  import spark.implicits._

  private def fsOf(st: SnapshotStore) = new org.apache.hadoop.fs.Path(st.path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def age(st: SnapshotStore, rel: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(st.path + "/" + rel)
    fsOf(st).setTimes(p, System.currentTimeMillis() - 10 * 60 * 1000L, -1L)
  }

  private def sidecars(st: SnapshotStore): Seq[String] = {
    val dir = new org.apache.hadoop.fs.Path(st.path + "/_manifests")
    fsOf(st).listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".group.bloom"))
  }

  // ids hash-scattered over 16 files: zone maps on id are useless, the
  // exact layout where only a bloom can skip
  private def scattered(lo: Long, hi: Long) =
    spark.range(lo, hi + 1).select(
      col("id"), concat(lit("k"), col("id")).as("k"),
      (col("id") % 13).cast("double").as("v"))
      .repartition(16, col("id"))

  test("point lookup skips most files and misses no rows") {
    val st = new SnapshotStore(spark, tempDir("bloom-skip") + "/snap", "id",
      bloomCols = Seq("id"))
    val v = st.commit(scattered(0, 9999))
    val probes = Seq(42L, 4242L, 7777L)
    val (kept, total) = st.planStatsWhere(v, col("id").isin(probes: _*))
    assert(total === 16)
    assert(kept < total, s"bloom must skip files ($kept/$total kept)")
    val got = st.readWhere(v, col("id").isin(probes: _*))
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq === probes.sorted, "pruned read must contain every match")
    // an absent key: whatever files survive, the filtered result is empty
    assert(st.readWhere(v, col("id") === 123456789L).count() === 0L)
  }

  test("string keys probe type-faithfully") {
    val st = new SnapshotStore(spark, tempDir("bloom-str") + "/snap", "id",
      bloomCols = Seq("k"))
    val v = st.commit(scattered(0, 4999))
    val (kept, total) = st.planStatsWhere(v, col("k").isin("k1234", "k77"))
    assert(kept < total)
    assert(st.readWhere(v, col("k").isin("k1234", "k77")).count() === 2L)
  }

  test("a bloom-less store still prunes via zones, and stays correct") {
    val st = new SnapshotStore(spark, tempDir("bloom-none") + "/snap", "id")
    val v = st.commit(scattered(0, 999))
    // id is the zone-tracked stats column, so even without a sidecar its
    // min/max can skip
    assert(st.readWhere(v, col("id") === 5L).count() === 1L)
    // a column with NO metadata at all (neither zones nor bloom) must
    // keep every file
    val (kept, total) = st.planStatsWhere(v, col("k") === "k5")
    assert(kept === total, "no zones, no sidecar → nothing may be skipped")
    assert(st.readWhere(v, col("k") === "k5").count() === 1L)
  }

  test("untracked column keeps everything") {
    val st = new SnapshotStore(spark, tempDir("bloom-untracked") + "/snap",
      "id", bloomCols = Seq("id"))
    val v = st.commit(scattered(0, 999))
    val (kept, total) = st.planStatsWhere(v, col("k") === "k5")
    assert(kept === total, "a column the sidecar does not track cannot skip")
  }

  test("appends keep earlier sidecars effective; probes cross batches") {
    val st = new SnapshotStore(spark, tempDir("bloom-append") + "/snap", "id",
      bloomCols = Seq("id"))
    st.commit(scattered(0, 4999))
    val v2 = st.commit(scattered(5000, 9999))
    // one probe per batch: both must surface through the carried sidecars
    val probes = Seq(77L, 7077L)
    val (kept, total) = st.planStatsWhere(v2, col("id").isin(probes: _*))
    assert(total === 32)
    assert(kept < total)
    assert(st.readWhere(v2, col("id").isin(probes: _*)).count() === 2L)
  }

  test("rewrite survivors without sidecars are conservatively kept") {
    val st = new SnapshotStore(spark, tempDir("bloom-rewrite") + "/snap", "id",
      bloomCols = Seq("id"))
    st.commit(scattered(0, 999))
    // forced COW (the auto default would mask one row as a delete vector):
    // this test pins the sidecar-LESS survivor keep
    st.deleteWhere(col("id") === 500L, dvMaxFraction = 0.0)
    val v = st.latestVersion.get
    assert(st.readWhere(v, col("id") === 501L).count() === 1L,
      "a survivor of the rewrite lost its sketch but must still be found")
    assert(st.readWhere(v, col("id") === 500L).count() === 0L)
  }

  test("expire retires sidecars with their groups") {
    val st = new SnapshotStore(spark, tempDir("bloom-expire") + "/snap", "id",
      bloomCols = Seq("id"))
    st.commit(scattered(0, 999))
    val before = sidecars(st)
    assert(before.nonEmpty)
    st.commitRewrite(scattered(0, 999)) // supersedes the first group
    sidecars(st).foreach(s => age(st, s"_manifests/$s"))
    val fresh = sidecars(st).filterNot(before.contains)
    st.expire(keepLast = 1)
    assert(sidecars(st).toSet === fresh.toSet,
      "the dead group's sidecar must retire with it; the live one stays")
  }

  test("WAP-staged blooms carry into the published sidecar") {
    val st = new SnapshotStore(spark, tempDir("bloom-wap") + "/snap", "id",
      bloomCols = Seq("id"))
    st.commit(scattered(0, 999))
    st.stageWap(scattered(1000, 1999), "b1")
    val v = st.publishWap("b1")
    val (kept, total) = st.planStatsWhere(v, col("id") === 1500L)
    assert(kept < total, "the published batch's files must be bloom-skippable")
    assert(st.readWhere(v, col("id") === 1500L).count() === 1L)
    assert(!fsOf(st).exists(new org.apache.hadoop.fs.Path(
      st.path + "/_staged/s-b1.bloom")), "the staged sidecar retires at publish")
  }

  test("merge's hit-detection scan bloom-narrows on a hash-distributed key") {
    val st = new SnapshotStore(spark, tempDir("bloom-merge") + "/snap", "id",
      bloomCols = Seq("id"))
    val v1 = st.commit(scattered(0, 9999))
    val delta = Seq((42L, "UPDATED", 1.0), (10042L, "NEW", 2.0))
      .toDF("id", "k", "v")
    // zones are useless here (the delta's [42, 10042] intersects every
    // scattered file); the bloom probe narrows the scan to ~the files
    // that actually hold the keys
    val (n, zone) = st.mergeCandidates(delta, Seq("id"), v1)
    val narrowed = st.mergeScanCandidates(delta, Seq("id"), v1, n, zone)
    assert(zone.size === 16)
    assert(narrowed.size < zone.size,
      s"bloom must narrow the merge scan (${narrowed.size}/${zone.size})")
    // and the merge itself is exact: one update in place, one insert
    st.merge(delta, Seq("id"))
    assert(st.read().count() === 10001L)
    assert(st.read().filter(col("id") === 42L).select("k").head.getString(0)
      === "UPDATED")
    assert(st.read().filter(col("id") === 10042L).count() === 1L)
  }

  test("int-typed key columns probe type-faithfully through readWhere") {
    // the pushdown planner re-hashes probe literals under the table's
    // physical type — a long-typed probe of an INT column must not
    // false-negative
    val st = new SnapshotStore(spark, tempDir("bloom-int") + "/snap", "x",
      bloomCols = Seq("n"))
    val v = st.commit(spark.range(0, 2000).select(
      (col("id") % 10).cast("double").as("x"), col("id").cast("int").as("n"))
      .repartition(8, col("n")))
    assert(st.readWhere(v, col("n") === 1234L).count() === 1L)
    assert(st.readWhere(v, col("n") === 1234).count() === 1L)
    val (kept, total) = st.planStatsWhere(v, col("n") === 1234)
    assert(kept < total)
  }

  test("multi-column blooms probe independently") {
    val st = new SnapshotStore(spark, tempDir("bloom-multi") + "/snap", "id",
      bloomCols = Seq("id", "k"))
    val v = st.commit(scattered(0, 4999))
    val (keptId, total) = st.planStatsWhere(v, col("id") === 123L)
    val (keptK, _) = st.planStatsWhere(v, col("k") === "k456")
    assert(keptId < total && keptK < total)
    assert(st.readWhere(v, col("k") === "k456").count() === 1L)
  }

  test("sidecar cache is a bounded LRU: hot groups stay resident past the cap") {
    // r15 (was a coarse clear-everything past the cap): a long-lived
    // serving store that keeps probing the same live groups must never
    // re-read their sidecars just because other groups churned past the
    // cap — access order keeps the hot set, evicts only the cold tail.
    val st = new SnapshotStore(spark, tempDir("bloom-lru") + "/snap", "id",
      bloomCols = Seq("id"), bloomCacheCap = 4)
    val vs = (0 until 6).map { i =>
      st.commit(spark.range(i * 1000L, i * 1000L + 1000L)
        .select(col("id")).repartition(2, col("id")))
    }
    val hot = {
      // probe v1's band repeatedly: its group is the hot entry
      st.planStatsWhere(vs.last, col("id") === 5L)
      sidecars(st).headOption.getOrElse(fail("no sidecars written"))
    }
    // touch every group via a broad probe, then keep re-touching the hot
    // one between colder probes — the hot sidecar must stay resident
    (0 until 3).foreach { _ =>
      st.planStatsWhere(vs.last, col("id") === 5L) // hits every group incl. hot
    }
    val (size, _) = st.bloomCacheStats(hot)
    assert(size <= 4, s"cache must stay bounded (size $size > cap 4)")
    // with 6 groups and cap 4, SOMETHING was evicted yet probes stay exact
    assert(st.readWhere(vs.last, col("id") === 5L).count() === 1L)
    assert(st.readWhere(vs.last, col("id") === 5005L).count() === 1L)
  }
}
