package graft

import org.apache.spark.sql.functions._

import graft.store.SnapshotStore

/** The manifest-tracked snapshot store (store.Snapshots): commit/pointer
  * protocol, time travel, zone-map pruning, incremental reads, retention,
  * and crash recovery. The k14/k15/k16 driver queries prove data
  * correctness against DuckDB; these tests pin the METADATA behavior the
  * oracle cannot see — file-skip counts, pointer atomicity windows, expiry.
  */
class SnapshotSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore(name: String): SnapshotStore =
    new SnapshotStore(spark, tempDir(name) + "/snap", "id")

  /** Back-date a forged crash artifact past the debris grace window —
    * fresh unacknowledged artifacts are presumed LIVE cross-JVM writers
    * and refused/skipped by the cleanup paths.
    */
  private def age(st: SnapshotStore, rel: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(st.path + "/" + rel)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.setTimes(p, System.currentTimeMillis() - 10 * 60 * 1000L, -1L)
  }

  private def batch(lo: Long, hi: Long) =
    spark.range(lo, hi + 1).select(
      col("id"), (col("id") % 7).cast("string").as("k"),
      (col("id") * 2).cast("double").as("v"))

  test("commit/read round-trip and version numbering") {
    val st = freshStore("snap-rt")
    assert(st.latestVersion.isEmpty)
    assert(st.commit(batch(0, 99)) === 1L)
    assert(st.commit(batch(100, 149)) === 2L)
    assert(st.latestVersion === Some(2L))
    assert(st.versions === Seq(1L, 2L))
    assert(st.read().count() === 150L)
  }

  test("time travel reconstructs every retained version exactly") {
    val st = freshStore("snap-tt")
    st.commit(batch(0, 9))
    st.commit(batch(10, 29))
    st.commit(batch(30, 34))
    assert(st.readAt(1).count() === 10L)
    assert(st.readAt(2).count() === 30L)
    assert(st.readAt(3).count() === 35L)
    // version 2 must not contain version 3's rows
    assert(st.readAt(2).agg(max("id")).head.getLong(0) === 29L)
  }

  test("zone-map prune skips files and loses no rows") {
    val st = freshStore("snap-zm")
    // range-partitioned commit → tight per-file min/max on id
    val v = st.commit(batch(0, 999).repartitionByRange(10, col("id")))
    val (kept, total) = st.planStatsWhere(v, $"id".between(100, 199))
    assert(total === 10, s"expected 10 files, saw $total")
    assert(kept < total, "prune must skip at least one file")
    assert(kept <= 3, s"a 1/10th range should keep ~1-2 files, kept $kept")
    val exact = st.readWhere(v, $"id".between(100, 199))
    assert(exact.count() === 100L)
    // prune+residual == full scan+filter
    val full = st.readAt(v).filter($"id".between(100, 199))
    assert(exact.agg(sum("id")).head.getLong(0) === full.agg(sum("id")).head.getLong(0))
  }

  test("prune to an empty selection still yields the table schema") {
    val st = freshStore("snap-empty")
    val v = st.commit(batch(0, 99).repartitionByRange(4, col("id")))
    val none = st.readWhere(v, $"id".between(5000, 6000))
    assert(none.columns.toSeq === Seq("id", "k", "v"))
    assert(none.count() === 0L)
  }

  test("incremental read returns exactly the files added in (from, to]") {
    val st = freshStore("snap-incr")
    st.commit(batch(0, 9))
    st.commit(batch(10, 19))
    st.commit(batch(20, 29))
    val inc = st.readIncremental(1L, 3L)
    assert(inc.count() === 20L)
    assert(inc.agg(min("id")).head.getLong(0) === 10L)
    assert(st.readIncremental(0L, 2L).count() === 20L)
    assert(st.readIncremental(2L, 3L).count() === 10L)
  }

  test("expire keeps the retained versions readable and frees the rest") {
    val st = freshStore("snap-exp")
    st.commit(batch(0, 9))
    st.commit(batch(10, 19))
    st.commit(batch(20, 29))
    // all three manifests share v1/v2's files, so only expiring BELOW the
    // shared window deletes nothing; keepLast=2 drops manifest v1 only
    // (its files are still referenced by v2 and v3)
    assert(st.expire(keepLast = 2) === 0)
    assert(st.versions === Seq(2L, 3L))
    intercept[IllegalArgumentException](st.readAt(1))
    assert(st.readAt(2).count() === 20L)
    assert(st.read().count() === 30L)
  }

  test("rewrite commit supersedes without breaking old-version readers") {
    val st = freshStore("snap-exp2")
    st.commit(batch(0, 9))
    st.commit(batch(10, 19))
    // compaction analog: rewrite the whole state as one range-sorted commit
    val v3 = st.commitRewrite(st.read().repartitionByRange(2, col("id")))
    assert(v3 === 3L)
    assert(st.read().count() === 20L)
    // old versions still reconstruct — their files were not touched
    assert(st.readAt(1).count() === 10L)
    // retention now has real work: v1/v2's files are unreferenced by v3
    val deleted = st.expire(keepLast = 1)
    assert(deleted > 0, "rewrite must strand the pre-compaction files for expiry")
    assert(st.versions === Seq(3L))
    assert(st.read().count() === 20L)
    assert(st.read().agg(sum("id")).head.getLong(0) === (0L to 19L).sum)
    intercept[IllegalArgumentException](st.readAt(1))
  }

  test("compactSmall bin-packs trickle files, carries heavy files untouched") {
    val st = freshStore("snap-pack")
    // one heavy commit (single file), then five trickle commits
    st.commit(batch(0, 4999).coalesce(1))
    (0 until 5).foreach(i => st.commit(batch(5000 + i * 10, 5009 + i * 10)))
    val before = st.fileCount
    assert(before >= 6)
    // pack everything smaller than the heavy file
    val heavyBytes = 1L << 20
    val v = st.compactSmall(smallBytes = heavyBytes, targetFiles = 1)
    assert(v.nonEmpty)
    val after = st.fileCount
    assert(after < before, s"packing must shrink the census ($before -> $after)")
    assert(st.read().count() === 5050L)
    assert(st.read().agg(sum("id")).head.getLong(0) ===
      (0L to 4999L).sum + (0 until 5).map(i => (5000L + i * 10 to 5009L + i * 10).sum).sum)
    // nothing to pack → no-op, no new version
    assert(st.compactSmall(smallBytes = 10L).isEmpty)
  }

  test("schema-evolved commits read merged (old files surface NULL)") {
    val st = freshStore("snap-evolve")
    st.commit(batch(0, 9))
    st.commit(batch(10, 19).withColumn("quality", col("id").cast("double") / 10.0))
    val r = st.read()
    assert(r.columns.contains("quality"))
    assert(r.filter($"quality".isNull).count() === 10L)
    assert(r.filter($"quality".isNotNull).count() === 10L)
  }

  test("deleteWhere rewrites only touched files; old version keeps the rows") {
    val st = freshStore("snap-del")
    // two range-disjoint files per commit: ids 0..499 in file A, 500..999 in B
    val v1 = st.commit(batch(0, 999).repartitionByRange(2, col("id")))
    val filesBefore = st.fileCount
    // matches live ONLY in the low file; dvMaxFraction=0.0 pins the
    // copy-on-write path (the auto default would mask 100/500 as a DV)
    val v2 = st.deleteWhere($"id" < 100, dvMaxFraction = 0.0)
    assert(v2 === Some(2L))
    assert(st.read().count() === 900L)
    assert(st.read().agg(min("id")).head.getLong(0) === 100L)
    // the untouched high file carried forward VERBATIM (same path)
    val m1Files = st.readAt(v1).select(input_file_name()).distinct()
      .collect().map(_.getString(0)).toSet
    val m2Files = st.read().select(input_file_name()).distinct()
      .collect().map(_.getString(0)).toSet
    assert(m1Files.intersect(m2Files).size === filesBefore - 1,
      "every clean file must carry forward by reference, not rewrite")
    // audit trail: the pre-delete version still holds every row
    assert(st.readAt(v1).count() === 1000L)
    // no matches → no-op, no version churn
    assert(st.deleteWhere($"id" < 0).isEmpty)
    assert(st.latestVersion === Some(2L))
  }

  test("deleteWhere that empties every touched file leaves a consistent table") {
    val st = freshStore("snap-del2")
    st.commit(batch(0, 99).repartitionByRange(2, col("id")))
    st.commit(batch(100, 199))
    val v = st.deleteWhere($"id" >= 100)
    assert(v.nonEmpty)
    assert(st.read().count() === 100L)
    assert(st.read().agg(max("id")).head.getLong(0) === 99L)
  }

  test("commitTagged: an acknowledged tag replays as a no-op") {
    val st = freshStore("snap-tag")
    val v1 = st.commitTagged(batch(0, 9), "batch-0")
    assert(v1 === 1L)
    // replay with DIFFERENT data under the same tag: must resolve, not write
    val v1b = st.commitTagged(batch(100, 199), "batch-0")
    assert(v1b === v1)
    assert(st.read().count() === 10L)
    assert(st.commitTagged(batch(10, 19), "batch-1") === 2L)
    assert(st.read().count() === 20L)
    assert(st.taggedVersion("batch-0") === Some(1L))
    assert(st.taggedVersion("batch-9").isEmpty)
  }

  test("commitTagged: a commit that died before its pointer swap is retried fresh") {
    val st = freshStore("snap-tag2")
    st.commitTagged(batch(0, 9), "batch-0")
    val fs = new org.apache.hadoop.fs.Path(st.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // forge the crash window: v2 manifest carries the tag but the pointer
    // still names v1 — the tag is NOT acknowledged
    val m2 = new org.apache.hadoop.fs.Path(st.path + "/_manifests/v00002.manifest")
    val out = fs.create(m2, true)
    out.write("#tag=batch-1\nbogus\t2\t1\t0.0\t1.0\t10\n".getBytes("UTF-8")); out.close()
    age(st, "_manifests/v00002.manifest") // crashed long ago, not a live writer
    assert(st.taggedVersion("batch-1").isEmpty,
      "an unacknowledged manifest's tag must be invisible")
    // the retry clears the orphan and commits for real
    assert(st.commitTagged(batch(10, 19), "batch-1") === 2L)
    assert(st.read().count() === 20L)
    assert(st.taggedVersion("batch-1") === Some(2L))
  }

  test("model check: random commit/delete/merge/compact/expire sequences preserve content") {
    // Seeded model-based check — the storage-layer test shape: replay a
    // random op sequence against BOTH the store and a trivial in-memory
    // model (id -> payload, so keyed MERGE upserts are observable), assert
    // the visible state (live read + every retained time-travel version)
    // matches after every op. Two seeds keep the wall cost bounded; the
    // seed prints on failure for replay.
    for (seed <- Seq(11L, 47L)) {
      val rnd = new scala.util.Random(seed)
      val st = freshStore(s"snap-model-$seed")
      var nextId = 0L
      var live = Map.empty[Long, Double] // id -> v currently in the table
      var history = Map.empty[Long, Map[Long, Double]] // version -> state
      def state(df: org.apache.spark.sql.DataFrame): Vector[(Long, Double)] =
        df.select("id", "v").collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toVector.sorted
      def record(v: Long): Unit = history += (v -> live)

      (1 to 14).foreach { step =>
        val clue = s"seed=$seed step=$step"
        rnd.nextInt(6) match {
          case 0 | 1 => // commit a fresh disjoint batch
            val nRows = 5 + rnd.nextInt(46)
            val b = batch(nextId, nextId + nRows - 1)
            live = live ++ (nextId until nextId + nRows).map(i => i -> i * 2.0)
            nextId += nRows
            record(st.commit(b))
          case 2 if live.nonEmpty => // delete a random id range
            val a = live.keys.toVector(rnd.nextInt(live.size))
            val b = a + rnd.nextInt(30)
            val v = st.deleteWhere(col("id").between(a, b))
            val expected = live.filter { case (id, _) => id < a || id > b }
            assert(v.isEmpty === (expected == live), clue)
            live = expected
            v.foreach(record)
          case 3 if live.nonEmpty => // keyed MERGE: updates + fresh inserts
            val a = live.keys.toVector(rnd.nextInt(live.size))
            // keys must be unique WITHIN the delta (merge's documented
            // precondition): the update range must not reach the ids the
            // fresh-insert half is about to use
            val hi = math.min(a + rnd.nextInt(20), nextId - 1)
            val nIns = rnd.nextInt(6)
            val payload = -(step.toDouble) // distinguishable from id*2
            val delta = spark.range(a, hi + 1)
              .unionByName(spark.range(nextId, nextId + nIns))
              .select(col("id"), lit("m").as("k"), lit(payload).as("v"))
            // upsert semantics: EVERY delta key ends at the delta payload
            // (matched keys replace, unmatched — including ids inside
            // [a, hi] that an earlier delete removed — insert)
            live = live ++ (a to hi).map(_ -> payload) ++
              (nextId until nextId + nIns).map(_ -> payload)
            nextId += nIns
            record(st.merge(delta, Seq("id")))
          case 4 => // pack everything (content-neutral)
            st.compactSmall(smallBytes = 1L << 30, targetFiles = 2)
              .foreach(record)
          case _ => // retention on a random window, then recover (no-op)
            if (st.versions.nonEmpty) {
              val keep = 1 + rnd.nextInt(3)
              st.expire(keepLast = keep)
              history = history.filter { case (v, _) => st.versions.contains(v) }
            }
            st.recover()
        }
        if (st.latestVersion.nonEmpty) {
          assert(state(st.read()) === live.toVector.sorted,
            s"$clue: live state diverged")
          history.foreach { case (v, want) =>
            assert(state(st.readAt(v)) === want.toVector.sorted,
              s"$clue: time travel to v$v diverged")
          }
        }
      }
    }
  }

  test("multi-column zone stats prune by name; untracked history is kept") {
    val dir = tempDir("snap-multi") + "/snap"
    // v is correlated with id (v = id*2), so range-partitioning by id also
    // clusters v — the regime where a secondary zone map has power
    val st = new SnapshotStore(spark, dir, "id", secondaryStats = Seq("v"))
    val ver = st.commit(batch(0, 999).repartitionByRange(10, col("id")))
    assert(st.statsNamesOf(ver) === Seq("id", "v"))
    // v ∈ [200, 398] ⇔ id ∈ [100, 199]: one-ish file of ten
    val (kept, total) = st.planStatsWhere(ver, $"v".between(200.0, 398.0))
    assert(total === 10)
    assert(kept <= 3, s"secondary prune must skip files, kept $kept")
    val got = st.readWhere(ver, $"v".between(200.0, 398.0))
    assert(got.count() === 100L)
    // a range on a real but untracked column keeps every file and still
    // filters exactly; a misspelt column fails analysis loudly
    val onK = $"k".between("1", "2")
    assert(st.planStatsWhere(ver, onK) === ((10, 10)))
    assert(st.readWhere(ver, onK).count() === st.readAt(ver).filter(onK).count())
    intercept[org.apache.spark.sql.AnalysisException](
      st.readWhere(ver, $"no_such_col".between(0, 1)))
    // a store re-opened WITHOUT the secondary still reads old manifests
    val st2 = new SnapshotStore(spark, dir, "id")
    assert(st2.read().count() === 1000L)
    // history committed BEFORE a column was tracked is conservatively kept
    val ver2 = st2.commit(batch(1000, 1099)) // manifest header: stats=id only
    val st3 = new SnapshotStore(spark, dir, "id", secondaryStats = Seq("v"))
    val ver3 = st3.commit(batch(1100, 1199).coalesce(1))
    // ver3's manifest: ver1's files keep their v bounds (tracked when
    // written, name-aligned through the ver2 carry), ver2's files were
    // committed while v was UNTRACKED so they carry (-Inf, +Inf) and must
    // survive any v-prune; the new file's bounds are disjoint from the
    // probe window. So a far-away window keeps exactly ver2's files.
    val (kept3, total3) = st3.planStatsWhere(ver3, $"v".between(1e9, 2e9))
    val ver2Files = st3.readIncremental(ver, ver2)
      .select(input_file_name()).distinct().count().toInt
    assert(kept3 === ver2Files,
      s"expected exactly the untracked files kept, got $kept3 of $total3")
    assert(st3.readWhere(ver3, $"v".between(2200.0, 2398.0)).count() === 100L)
    // reopening with a DIFFERENT primary re-maps bounds by name: pruning
    // on v as primary stays correct for the name-aligned history
    val st4 = new SnapshotStore(spark, dir, "v")
    val ver4 = st4.commit(batch(1200, 1249).coalesce(1))
    val exact = st4.readWhere(ver4, $"v".between(200.0, 398.0))
    assert(exact.count() === 100L, "name-aligned primary bounds must not lose rows")
    val (kept4, total4) = st4.planStatsWhere(ver4, $"v".between(200.0, 398.0))
    assert(kept4 < total4, "v-primary prune must skip v-disjoint tracked files")
  }

  test("a corrupted manifest or group fails loudly, not as a partial table") {
    val st = freshStore("snap-crc")
    st.commit(batch(0, 99).repartitionByRange(4, col("id")))
    st.commit(batch(100, 199).repartitionByRange(4, col("id")))
    val fs = new org.apache.hadoop.fs.Path(st.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def readText(p: org.apache.hadoop.fs.Path): String = {
      val in = fs.open(p)
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
    }
    // level 1: drop a @group ref line from the manifest LIST — the list's
    // own checksum must catch the truncation
    val m2 = new org.apache.hadoop.fs.Path(st.path + "/_manifests/v00002.manifest")
    val listText = readText(m2)
    assert(listText.contains("#crc="), "manifests must carry their checksum")
    val refs = listText.split("\n").filter(_.startsWith("@"))
      .map(_.stripPrefix("@").split("\t")(0))
    assert(refs.length === 2, "an append must carry the old group + add one")
    val truncatedList = listText.split("\n")
      .filterNot(_.startsWith("@" + refs.last)).mkString("\n")
    val out = fs.create(m2, true)
    out.write(truncatedList.getBytes("UTF-8")); out.close()
    val ex = intercept[IllegalArgumentException](st.read().count())
    assert(ex.getMessage.contains("checksum"))
    // restore the list, then corrupt level 2: drop one entry line from a
    // GROUP file — the group's own checksum must catch it
    val out2 = fs.create(m2, true)
    out2.write(listText.getBytes("UTF-8")); out2.close()
    val g = new org.apache.hadoop.fs.Path(
      st.path + "/_manifests/" + refs.head.stripPrefix("@"))
    val gText = readText(g)
    assert(gText.contains("#crc="), "groups must carry their checksum")
    val truncatedG = gText.split("\n").filterNot(_.contains("part-00003"))
      .mkString("\n")
    assert(truncatedG != gText, "the group must contain the entry to drop")
    val out3 = fs.create(g, true)
    out3.write(truncatedG.getBytes("UTF-8")); out3.close()
    // fresh store instance: the group cache must not mask the corruption
    val st2 = new SnapshotStore(spark, st.path, "id")
    val ex2 = intercept[IllegalArgumentException](st2.read().count())
    assert(ex2.getMessage.contains("checksum"))
  }

  /** The @group refs a version's manifest carries. */
  private def refsOf(st: SnapshotStore, v: Long): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(
      st.path + f"/_manifests/v$v%05d.manifest")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val text = try new String(
      org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8") finally in.close()
    text.split("\n").filter(_.startsWith("@"))
      .map(_.stripPrefix("@").split("\t")(0)).toSeq
  }

  test("two-level manifests: appends carry previous groups BY REFERENCE") {
    val st = freshStore("snap-2lvl")
    val n = 8
    (0 until n).foreach(i =>
      st.commit(batch(i * 100L, i * 100L + 99).repartitionByRange(4, col("id"))))
    // every version's manifest is a LIST of one ref per commit — O(groups),
    // never O(table files): v8 lists 8 refs over 32 data files
    (1 to n).foreach(v => assert(refsOf(st, v).length === v,
      s"v$v must reference exactly $v groups"))
    // each append reuses every previous group file verbatim
    val rn = refsOf(st, n)
    assert(refsOf(st, n - 1).forall(rn.contains),
      "an append must not rewrite any carried group")
    assert(st.read().count() === 100L * n)
  }

  test("two-level manifests: a partial rewrite touches only the groups it hit") {
    val st = freshStore("snap-2lvl-rw")
    (0 until 4).foreach(i =>
      st.commit(batch(i * 100L, i * 100L + 99).repartitionByRange(2, col("id"))))
    val before = refsOf(st, 4L)
    // the delete hits only commit 2's id range → only its group rewrites
    val v5 = st.deleteWhere(col("id").between(110, 120)).get
    val after = refsOf(st, v5)
    // commit 2's group loses its hit file (partial survivor group) and the
    // rewritten rows land as a new batch group; the other three groups
    // carry by reference untouched
    assert(after.length === 5,
      s"3 carried + 1 partial-survivor + 1 rewrite batch: after=$after")
    assert(before.intersect(after).size === 3,
      s"exactly one group may rewrite: before=$before after=$after")
    assert(st.read().count() === 389L)
    // expire past the old versions reclaims the superseded group file
    // (age-gated — too young here, so it must SURVIVE the first expire)
    st.expire(keepLast = 1)
    val fs = new org.apache.hadoop.fs.Path(st.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stale = before.diff(after).head
    val gp = new org.apache.hadoop.fs.Path(st.path + "/_manifests/" + stale)
    assert(fs.exists(gp), "a young unreferenced group must survive expire")
    age(st, "_manifests/" + stale)
    st.expire(keepLast = 1)
    assert(!fs.exists(gp), "an aged unreferenced group must be reclaimed")
    assert(st.read().count() === 389L)
  }

  test("a pure append never opens carried group files (ref + summary carry)") {
    // pin by corruption: wreck the carried group on disk — the append must
    // still succeed (it carries the ref and the list's recorded summary),
    // while an actual READ must fail the group checksum loudly
    val st = freshStore("snap-fastappend")
    st.commit(batch(0, 99))
    val fs = new org.apache.hadoop.fs.Path(st.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val g1 = refsOf(st, 1L).head
    val gp = new org.apache.hadoop.fs.Path(st.path + "/_manifests/" + g1)
    val out = fs.create(gp, true)
    out.write("#crc=0\nbogus\t1\t1\t0.0\t1.0\t10\n".getBytes("UTF-8")); out.close()
    val st2 = new SnapshotStore(spark, st.path, "id") // fresh group cache
    assert(st2.commit(batch(100, 199)) === 2L,
      "an append must not read carried group files")
    assert(refsOf(st2, 2L).contains(g1), "the wrecked group still carries by ref")
    val ex = intercept[IllegalArgumentException](st2.read().count())
    assert(ex.getMessage.contains("checksum"))
  }

  test("pruned reads skip summary-disjoint groups without opening them") {
    val st = freshStore("snap-groupskip")
    st.commit(batch(0, 99))
    st.commit(batch(1000, 1099))
    val fs = new org.apache.hadoop.fs.Path(st.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // wreck the HIGH-range group; a prune over the low range must succeed
    // because the group-level summary proves it disjoint (never opened)
    val g2 = refsOf(st, 2L).diff(refsOf(st, 1L)).head
    val gp = new org.apache.hadoop.fs.Path(st.path + "/_manifests/" + g2)
    val out = fs.create(gp, true)
    out.write("#crc=0\nbogus\t2\t1\t0.0\t1.0\t10\n".getBytes("UTF-8")); out.close()
    val st2 = new SnapshotStore(spark, st.path, "id")
    val low = st2.readWhere(2L, $"id".between(0, 50))
    assert(low.count() === 51L,
      "a prune over the low range must not open the disjoint high group")
    val (kept, total) = st2.planStatsWhere(2L, $"id".between(0, 50))
    assert(total > kept, "the high group's files count toward total via the list")
    // the full read DOES open it and must fail loudly
    intercept[IllegalArgumentException](st2.read().count())
  }

  test("recover: a lost pointer is restored from the newest manifest") {
    val st = freshStore("snap-rec1")
    st.commit(batch(0, 9))
    st.commit(batch(10, 19))
    val fs = new org.apache.hadoop.fs.Path(st.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(st.path + "/_latest"), false)
    assert(st.latestVersion.isEmpty)
    // a commit on the damaged store must REFUSE, not treat the surviving
    // history as debris of a crashed first commit
    intercept[IllegalArgumentException](st.commit(batch(20, 29)))
    st.recover()
    assert(st.latestVersion === Some(2L))
    assert(st.read().count() === 20L)
    // and after repair the store commits normally again
    assert(st.commit(batch(20, 29)) === 3L)
    assert(st.read().count() === 30L)
  }

  test("recover: a commit that died before its pointer swap is rolled back") {
    val st = freshStore("snap-rec2")
    st.commit(batch(0, 9))
    val fs = new org.apache.hadoop.fs.Path(st.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // forge the crash window: version-2 data + manifest exist, pointer
    // still names version 1
    batch(10, 19).write.parquet(st.path + "/data/b00002")
    val m2 = new org.apache.hadoop.fs.Path(st.path + "/_manifests/v00002.manifest")
    val out = fs.create(m2, true)
    out.write("bogus\t2\t1\t0.0\t1.0\t10\n".getBytes("UTF-8")); out.close()
    age(st, "_manifests/v00002.manifest"); age(st, "data/b00002")
    st.recover()
    assert(st.versions === Seq(1L))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(st.path + "/data/b00002")),
      "unacknowledged batch data must not survive recovery")
    // and the store keeps working: the next commit reuses version 2
    assert(st.commit(batch(10, 19)) === 2L)
    assert(st.read().count() === 20L)
  }

  test("a new commit clears debris of a crashed predecessor by itself") {
    val st = freshStore("snap-rec3")
    st.commit(batch(0, 9))
    // crashed version-2 attempt: batch dir only, no manifest, no pointer
    batch(10, 19).write.parquet(st.path + "/data/b00002")
    age(st, "data/b00002") // crashed long ago — inside the grace window it
                           // would refuse as a presumed live writer
    assert(st.commit(batch(20, 29)) === 2L)
    assert(st.read().count() === 20L)
    assert(st.read().agg(max("id")).head.getLong(0) === 29L,
      "the crashed batch's rows must not leak into the new commit")
  }

  test("changelog: appends are inserts, COW deletes are deletes, rewrites cancel") {
    val st = freshStore("snap-cdc")
    val v1 = st.commit(batch(0, 9))
    st.commit(batch(10, 19))                       // v2: pure append
    val v3 = st.deleteWhere(col("id") < 3).get     // v3: rewrites v1's file
    // pure append window: every v2 row an insert, nothing deleted
    val c12 = st.changelog(v1, v1 + 1, Seq("id")).collect()
    assert(c12.forall(_.getAs[String]("_change") == "insert"))
    assert(c12.map(_.getAs[Long]("id")).sorted.toSeq === (10L to 19L))
    // across the delete: v2 rows insert, the deleted v1 rows delete, and
    // the v1 rows REWRITTEN-but-kept (3..9) must cancel out entirely
    val c13 = st.changelog(v1, v3, Seq("id")).collect()
    val ins = c13.filter(_.getAs[String]("_change") == "insert").map(_.getAs[Long]("id"))
    val del = c13.filter(_.getAs[String]("_change") == "delete").map(_.getAs[Long]("id"))
    assert(ins.sorted.toSeq === (10L to 19L))
    assert(del.sorted.toSeq === (0L to 2L))
    // compaction rewrites files without changing content: zero net changes
    val v4 = st.compactSmall(Long.MaxValue).get
    assert(st.changelog(v3, v4, Seq("id")).count() === 0L,
      "a content-preserving rewrite must produce an empty changelog")
  }

  test("changelog opens only CHANGED files — carried files never scan") {
    val st = freshStore("snap-cdc3")
    val v1 = st.commit(batch(0, 9))
    val v2 = st.commit(batch(10, 19))
    val opened = st.changelog(v1, v2, Seq("id")).inputFiles
    assert(opened.nonEmpty)
    assert(opened.forall(_.contains("b00002")),
      s"carried v1 files must not be scanned: ${opened.mkString(", ")}")
  }

  test("changelog: a row appended then deleted inside the window nets to nothing") {
    val st = freshStore("snap-cdc2")
    val v1 = st.commit(batch(0, 9))
    st.commit(batch(100, 109))
    val v3 = st.deleteWhere(col("id").between(100, 104)).get
    val c = st.changelog(v1, v3, Seq("id")).collect()
    val ins = c.filter(_.getAs[String]("_change") == "insert").map(_.getAs[Long]("id"))
    assert(ins.sorted.toSeq === (105L to 109L),
      "rows appended then deleted inside the window must not surface")
    assert(!c.exists(_.getAs[String]("_change") == "delete"),
      "no pre-window row was deleted")
  }

  test("changelog: a same-key payload UPDATE surfaces as delete + insert") {
    // the r12 advisor finding: cancelling added-vs-removed on the keys
    // alone nets a delete+re-append-with-new-payload to NOTHING — a
    // downstream consumer silently misses every update. Full-row
    // cancellation must surface both rows while rewritten-but-kept rows
    // (same key, same payload) still cancel.
    val st = freshStore("snap-cdc-upd")
    val v1 = st.commit(batch(0, 9))
    st.deleteWhere(col("id") === 5)           // v2: rewrites the file, drops id 5
    val v3 = st.commit(spark.range(5, 6).select(
      col("id"), lit("9").as("k"), lit(999.0).as("v")))  // re-append, NEW payload
    val c = st.changelog(v1, v3, Seq("id")).collect()
    val touched = c.filter(_.getAs[Long]("id") == 5L)
    assert(touched.length === 2, s"update must surface as delete + insert: ${c.mkString}")
    val del = touched.find(_.getAs[String]("_change") == "delete").get
    val ins = touched.find(_.getAs[String]("_change") == "insert").get
    assert(del.getAs[Double]("v") === 10.0, "delete row carries the OLD payload")
    assert(ins.getAs[Double]("v") === 999.0, "insert row carries the NEW payload")
    // the other nine rows were rewritten byte-identically and must cancel
    assert(c.length === 2, s"rewritten-but-kept rows must cancel: ${c.mkString}")
  }

  test("changelog to an all-rows-deleted version still returns the delete rows") {
    val st = freshStore("snap-cdc-empty")
    val v1 = st.commit(batch(0, 9))
    val v2 = st.deleteWhere(col("id") >= 0).get  // empties the table
    val c = st.changelog(v1, v2, Seq("id")).collect()
    assert(c.length === 10)
    assert(c.forall(_.getAs[String]("_change") == "delete"))
    assert(c.map(_.getAs[Long]("id")).sorted.toSeq === (0L to 9L))
  }

  test("changelog endpoints must be retained versions — the contract is named") {
    val st = freshStore("snap-cdc-ret")
    st.commit(batch(0, 9))
    st.commit(batch(10, 19))
    st.commit(batch(20, 29))
    st.expire(keepLast = 1)
    val ex = intercept[IllegalArgumentException](st.changelog(1L, 3L, Seq("id")))
    assert(ex.getMessage.contains("retained"),
      s"the error must name the retention contract: ${ex.getMessage}")
    assert(ex.getMessage.contains("keepLast"))
  }

  test("a stalled writer whose aged-out claim was re-claimed must NOT acknowledge") {
    // the r12 verdict's liveness-to-correctness window: writer A renames
    // its manifest then stalls past DebrisGraceMs; writer B ages A's
    // manifest out as debris and claims the version itself; A wakes and
    // would have blessed B's manifest with its pointer swap. The
    // per-commit nonce re-verify must make A throw instead, leaving B's
    // commit as the table state.
    val st = freshStore("snap-stall")
    st.commit(batch(0, 9))
    val fs = new org.apache.hadoop.fs.Path(st.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // writer A's claim on v2 (nonce recorded, pointer not yet swapped)
    val m2 = new org.apache.hadoop.fs.Path(st.path + "/_manifests/v00002.manifest")
    val out = fs.create(m2, true)
    out.write("#nonce=aaa-stalled\nbogus\t2\t1\t0.0\t1.0\t10\n".getBytes("UTF-8"))
    out.close()
    age(st, "_manifests/v00002.manifest") // A has stalled past the grace window
    // writer B commits: ages A's claim out and takes v2 itself
    assert(st.commit(batch(10, 19)) === 2L)
    // A wakes and tries to finish — must throw, never mis-acknowledge
    val ex = intercept[java.util.ConcurrentModificationException](
      st.acknowledge(2L, "aaa-stalled"))
    assert(ex.getMessage.contains("superseded"))
    // table state is B's, untouched by A's failed wake-up
    assert(st.latestVersion === Some(2L))
    assert(st.read().count() === 20L)
    assert(st.read().agg(max("id")).head.getLong(0) === 19L)
  }

  test("cross-JVM manifest claim is create-exclusive on file:// stores") {
    // POSIX rename(2) silently replaces — the claim must be link(2)-style
    // exclusive so a lost race THROWS rather than destroying the winner's
    // manifest. Forge the loser: pre-place a manifest at the version the
    // next commit will claim, younger than the grace window is irrelevant
    // here because the claim itself must fail on existence.
    val st = freshStore("snap-claim")
    st.commit(batch(0, 9))
    val fs = new org.apache.hadoop.fs.Path(st.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m2 = new org.apache.hadoop.fs.Path(st.path + "/_manifests/v00002.manifest")
    val out = fs.create(m2, true)
    out.write("#nonce=winner\nbogus\t2\t1\t0.0\t1.0\t10\n".getBytes("UTF-8"))
    out.close()
    // young claim → the debris guard refuses first (presumed live writer)
    intercept[java.util.ConcurrentModificationException](st.commit(batch(10, 19)))
    val txt = {
      val in = fs.open(m2)
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
    }
    assert(txt.contains("#nonce=winner"),
      "a refused commit must never have overwritten the standing claim")
  }

  test("merge: upsert replaces matched rows, inserts the rest, carries clean files verbatim") {
    val st = freshStore("snap-merge")
    val v1 = st.commit(batch(0, 999).repartitionByRange(2, col("id")))
    val before = st.read().select(input_file_name()).distinct()
      .collect().map(_.getString(0)).toSet
    // updates (ids 0..4, new payload) + inserts (ids 2000..2004);
    // dvMaxFraction=0.0 pins the copy-on-write rewrite path (the auto
    // default would mask 5/500 matched rows as a delete vector)
    val delta = spark.range(0, 5)
      .select(col("id"), lit("u").as("k"), lit(-1.0).as("v"))
      .unionByName(spark.range(2000, 2005)
        .select(col("id"), lit("i").as("k"), lit(-2.0).as("v")))
    val v2 = st.merge(delta, Seq("id"), dvMaxFraction = 0.0)
    assert(v2 === 2L)
    assert(st.read().count() === 1005L)
    assert(st.read().filter($"id" < 5).agg(sum("v")).head.getDouble(0) === -5.0,
      "matched rows must carry the DELTA payload")
    assert(st.read().filter($"id" >= 2000).count() === 5L, "unmatched delta rows insert")
    assert(st.read().filter($"id".between(5, 9)).agg(sum("v")).head.getDouble(0)
      === (5 to 9).map(_ * 2.0).sum,
      "unmatched rows of a HIT file must survive with their original payload")
    val after = st.read().select(input_file_name()).distinct()
      .collect().map(_.getString(0)).toSet
    assert(before.intersect(after).size === before.size - 1,
      "exactly the key-matched file rewrites; clean files carry by reference")
    // audit trail: the pre-merge version is untouched
    assert(st.readAt(v1).count() === 1000L)
    assert(st.readAt(v1).filter($"id" === 0).head.getAs[Double]("v") === 0.0)
  }

  test("merge: zone-pruned candidates skip key-disjoint files") {
    val st = freshStore("snap-merge-zm")
    st.commit(batch(0, 999).repartitionByRange(10, col("id")))
    val delta = spark.range(100, 110)
      .select(col("id"), lit("u").as("k"), lit(-1.0).as("v"))
    val (n, cand) = st.mergeCandidates(delta, Seq("id"), st.latestVersion.get)
    assert(n === 10L)
    assert(cand.size <= 3, s"expected ~1 candidate file of 10, got ${cand.size}")
    st.merge(delta, Seq("id"))
    assert(st.read().count() === 1000L)
    assert(st.read().filter($"v" === -1.0).count() === 10L)
  }

  test("merge: empty delta no-ops; merge into an empty store commits everything") {
    val st = freshStore("snap-merge-empty")
    val v1 = st.merge(batch(0, 9), Seq("id"))
    assert(v1 === 1L, "merge into an empty store inserts everything")
    assert(st.read().count() === 10L)
    val v2 = st.merge(batch(0, -1), Seq("id")) // empty delta
    assert(v2 === v1, "an empty delta must not churn a version")
    assert(st.latestVersion === Some(v1))
  }

  test("merge planned against a stale version fails loudly; the retry lands") {
    // the Iceberg validation discipline, pinned for the new primitive: a
    // commit landing between merge planning and its metadata section must
    // fail the merge with ConcurrentModificationException — silently
    // dropping the concurrent append from the carried set would lose it
    val st = freshStore("snap-merge-race")
    st.commit(batch(0, 99))
    // the compactSmall race shape: interleave small merges with appends;
    // the invariant is that NO interleaving loses or duplicates rows and
    // a stale-planned merge surfaces CME (the caller re-plans), never
    // silently drops the concurrent append from its carried set
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val cme = new java.util.concurrent.atomic.AtomicInteger(0)
    val merger = new Thread(() =>
      try (0 until 3).foreach { i =>
        val d = spark.range(i * 2L, i * 2L + 5)
          .select(col("id"), lit("u").as("k"), lit(-(i + 1.0)).as("v"))
        try { st.merge(d, Seq("id")); () }
        catch { case _: java.util.ConcurrentModificationException =>
          cme.incrementAndGet(); () } // re-plan is the caller's contract
      } catch { case t: Throwable => errs.add(t); () })
    val appender = new Thread(() =>
      try (0 until 3).foreach { i =>
        st.commit(batch(1000L + i * 100, 1000L + i * 100 + 9)); ()
      } catch { case t: Throwable => errs.add(t); () })
    merger.start(); appender.start(); merger.join(); appender.join()
    assert(errs.isEmpty, s"unexpected failure: ${errs.peek()}")
    // whatever interleaving happened: every appended row present exactly
    // once, and every id the SUCCESSFUL merges touched carries a negative
    // payload (a lost-but-silent merge would leave id*2 behind)
    val appended = st.read().filter($"id" >= 1000)
      .select("id").as[Long].collect().sorted
    assert(appended.toSeq ===
      (0 until 3).flatMap(i => (1000L + i * 100) to (1000L + i * 100 + 9)).sorted,
      s"concurrent appends lost rows (CME count=${cme.get()})")
    assert(st.read().count() === 100L + 30L,
      "merges must never duplicate keys under concurrency")
  }

  test("changelog across a merge: updates surface as delete+insert, survivors cancel") {
    val st = freshStore("snap-merge-cdc")
    val v1 = st.commit(batch(0, 9))
    val delta = spark.range(3, 6)
      .select(col("id"), lit("u").as("k"), lit(-1.0).as("v"))
      .unionByName(spark.range(100, 102)
        .select(col("id"), lit("i").as("k"), lit(-2.0).as("v")))
    val v2 = st.merge(delta, Seq("id"))
    val c = st.changelog(v1, v2, Seq("id")).collect()
    val ins = c.filter(_.getAs[String]("_change") == "insert")
    val del = c.filter(_.getAs[String]("_change") == "delete")
    assert(ins.map(_.getAs[Long]("id")).sorted.toSeq === Seq(3L, 4L, 5L, 100L, 101L),
      "updated keys re-insert with the new payload; fresh keys insert")
    assert(del.map(_.getAs[Long]("id")).sorted.toSeq === Seq(3L, 4L, 5L),
      "updated keys surface their OLD row as a delete; survivors cancel")
    assert(del.forall(r => r.getAs[Double]("v") == r.getAs[Long]("id") * 2.0),
      "delete rows carry the pre-merge payload")
    assert(ins.filter(_.getAs[Long]("id") < 100).forall(_.getAs[Double]("v") == -1.0),
      "insert rows carry the delta payload")
  }

  test("merge: a NaN key bound prunes nothing — conservative, never corrupting") {
    // NaN poisons every >=/<= comparison: before the r13 review fix a NaN
    // delta key emptied the candidate set, skipped hit detection, and
    // silently DUPLICATED matched keys. Bounds with no sound information
    // must keep every candidate instead.
    val dir = tempDir("snap-merge-nan") + "/snap"
    val st = new SnapshotStore(spark, dir, "id", secondaryStats = Seq("v"))
    st.commit(batch(0, 99).repartitionByRange(2, col("id")))
    val delta = spark.range(0, 5).select(col("id"), lit("u").as("k"),
      lit(Double.NaN).as("v"))
    val (n, cand) = st.mergeCandidates(delta, Seq("id", "v"), st.latestVersion.get)
    assert(n === 5L)
    assert(cand.size === 1,
      s"the id bounds still prune (1 of 2 files); NaN v bounds prune nothing: $cand")
    // keyed on id alone the NaN rows REPLACE; the merge must stay exact
    val v2 = st.merge(spark.range(0, 5).select(col("id"), lit("u").as("k"),
      lit(-1.0).as("v")), Seq("id"))
    assert(st.readAt(v2).count() === 100L)
    assert(st.read().filter($"v" === -1.0).count() === 5L)
  }

  test("changelog: an update confined to a newly ADDED column still surfaces") {
    val st = freshStore("snap-cdc-evo")
    val v1 = st.commit(batch(0, 9))
    // the medallion-silver shape: same rows rewritten WITH a computed column
    val v2 = st.commitRewrite(st.read().withColumn("x2", col("v") * 2.0))
    val c = st.changelog(v1, v2, Seq("id")).collect()
    assert(c.count(_.getAs[String]("_change") == "insert") === 10,
      s"every row gained x2 and must re-insert: ${c.mkString}")
    assert(c.count(_.getAs[String]("_change") == "delete") === 10)
    assert(c.filter(_.getAs[String]("_change") == "insert")
      .forall(r => !r.isNullAt(r.fieldIndex("x2"))))
    // an added column that is ALL NULL is not a material change: cancels
    val v3 = st.commitRewrite(st.readAt(v2)
      .withColumn("x3", lit(null).cast("double")))
    assert(st.changelog(v2, v3, Seq("id")).count() === 0L,
      "null-padded identical rows must cancel")
  }

  test("recover clears aged claim-tmp debris in _manifests") {
    val st = freshStore("snap-tmpdebris")
    st.commit(batch(0, 9))
    val fs = new org.apache.hadoop.fs.Path(st.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(
      st.path + "/_manifests/v00002.manifest.tmp-deadbeef")
    val out = fs.create(tmp, true)
    out.write("2".getBytes("UTF-8")); out.close()
    st.recover()
    assert(fs.exists(tmp), "a young claim tmp may belong to a live writer")
    age(st, "_manifests/v00002.manifest.tmp-deadbeef")
    st.recover()
    assert(!fs.exists(tmp), "an aged claim tmp is uncollectible debris")
    assert(st.read().count() === 10L)
  }

  test("named refs: pin, verified read, and checkpoint update") {
    val st = freshStore("snap-refs")
    st.commit(batch(0, 9))
    st.commit(batch(10, 29))
    st.createRef("train-pin", 1L)
    assert(st.readRef("train-pin").count() === 10L)
    assert(st.resolveRef("train-pin").map(_._1) === Some(1L))
    assert(st.resolveRef("train-pin").map(_._2) === st.commitIdOf(1L))
    // checkpoint idiom: updateRef moves, createRef on an existing name is
    // a lost claim (create-exclusive)
    st.updateRef("train-pin", 2L)
    assert(st.readRef("train-pin").count() === 30L)
    intercept[java.util.ConcurrentModificationException](
      st.createRef("train-pin", 1L))
    // guards: unacknowledged/absent targets and malformed names refuse
    intercept[IllegalArgumentException](st.createRef("nope", 9L))
    intercept[IllegalArgumentException](st.createRef("../escape", 1L))
    intercept[IllegalStateException](st.readRef("absent"))
    st.dropRef("train-pin")
    assert(st.resolveRef("train-pin").isEmpty)
  }

  test("named refs: a rollback's version-number reuse turns the pin STALE, never silent") {
    val st = freshStore("snap-refs-stale")
    st.commit(batch(0, 9))
    st.commit(batch(10, 19)) // the bad commit a pin might name
    st.createRef("run-a", 2L)
    st.rollbackTo(1L)
    st.commit(batch(100, 119)) // recommit REUSES version number 2
    assert(st.latestVersion === Some(2L))
    // the bare number would now silently serve different data; the ref
    // carries (version, commitId) and fails loudly instead
    val ex = intercept[IllegalStateException](st.readRef("run-a"))
    assert(ex.getMessage.contains("STALE"))
    val r = st.refs().collect().map(x =>
      (x.getString(0), x.getLong(1), x.getBoolean(3))).toSeq
    assert(r === Seq(("run-a", 2L, false)))
    // a fresh pin on the recommitted version is valid (v2' = v1's 10 rows
    // + the 20-row recommit)
    st.createRef("run-b", 2L)
    assert(st.readRef("run-b").count() === 30L)
    assert(st.refs().filter("valid").count() === 1L)
  }

  test("named refs: a valid pin PROTECTS its version from expire; stale pins protect nothing") {
    val st = freshStore("snap-refs-expire")
    st.commit(batch(0, 9))
    st.commit(batch(10, 19))
    st.commit(batch(20, 29))
    st.createRef("pin-v2", 2L)
    // pure appends share every file forward, so no data file dies — the
    // retention bite here is MANIFESTS: v1's goes, v2's survives the
    // keepLast=1 window ONLY via the pin, v3's via keepLast
    st.expire(keepLast = 1)
    assert(st.versions === Seq(2L, 3L))
    assert(st.readRef("pin-v2").count() === 20L)
    assert(st.readAt(3L).count() === 30L)
    intercept[Exception](st.readAt(1L)) // v1 is gone
    // dropping the pin releases the version to the next expire
    st.dropRef("pin-v2")
    st.expire(keepLast = 1)
    assert(st.versions === Seq(3L))
  }

  test("a group file written but never referenced (crash before claim) is debris-swept") {
    // the crash window BELOW the manifest claim: writeManifestFor PUTs the
    // batch's group file first, then claims the manifest — a crash between
    // the two leaves a g-*.group referenced by NO manifest, ever. Both
    // cleanup verbs must reclaim it once aged, and neither may touch it
    // young (a live writer's freshly PUT groups look exactly like this).
    val st = freshStore("snap-orphan-group")
    st.commit(batch(0, 9))
    val fs = new org.apache.hadoop.fs.Path(st.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphan = new org.apache.hadoop.fs.Path(
      st.path + "/_manifests/g-crashed-before-claim.group")
    val out = fs.create(orphan, false)
    out.write("#crc=0\n#stats=id\nbogus\t2\t1\t0.0\t1.0\t10\n".getBytes("UTF-8"))
    out.close()
    st.recover()
    assert(fs.exists(orphan),
      "recover() must skip a young unreferenced group (may be a live writer's)")
    st.expire(keepLast = 5)
    assert(fs.exists(orphan),
      "expire() must skip a young unreferenced group (may be a live writer's)")
    age(st, "_manifests/g-crashed-before-claim.group")
    st.recover()
    assert(!fs.exists(orphan),
      "an aged never-referenced group is crash debris and must be reclaimed")
    // expire() reclaims the same shape independently (either verb suffices)
    val orphan2 = new org.apache.hadoop.fs.Path(
      st.path + "/_manifests/g-crashed-before-claim-2.group")
    val out2 = fs.create(orphan2, false)
    out2.write("#crc=0\n#stats=id\nbogus\t2\t1\t0.0\t1.0\t10\n".getBytes("UTF-8"))
    out2.close()
    age(st, "_manifests/g-crashed-before-claim-2.group")
    st.expire(keepLast = 5)
    assert(!fs.exists(orphan2),
      "expire() must also reclaim aged never-referenced groups")
    assert(st.read().count() === 10L, "debris sweeps must never touch live data")
  }

  test("rollbackTo: the pointer re-acknowledges v, the abandoned suffix reclaims") {
    val st = freshStore("snap-rollback")
    st.commit(batch(0, 9))
    st.commit(batch(10, 19))
    st.commit(batch(20, 29)) // the "bad" commits to undo
    st.rollbackTo(1L)
    assert(st.latestVersion === Some(1L))
    assert(st.read().count() === 10L)
    assert(st.read().agg(max("id")).head.getLong(0) === 9L)
    // version numbers above v are immediately reusable (no debris window)
    assert(st.commit(batch(100, 109)) === 2L)
    assert(st.read().count() === 20L)
    assert(st.read().agg(max("id")).head.getLong(0) === 109L,
      "the abandoned batches must not leak into the recommit")
    // guards: forward rollback and unretained targets refuse
    intercept[IllegalArgumentException](st.rollbackTo(9L))
    st.expire(keepLast = 1)
    intercept[IllegalArgumentException](st.rollbackTo(1L))
  }

  test("snapshots(): one lineage row per acknowledged version with tags and censuses") {
    val st = freshStore("snap-meta")
    st.commit(batch(0, 9))
    st.commitTagged(batch(10, 14), "batch-1")
    val rows = st.snapshots().collect()
    assert(rows.map(_.getAs[Long]("version")).toSeq === Seq(1L, 2L))
    assert(rows(0).getAs[String]("tag") == null)
    assert(rows(1).getAs[String]("tag") === "batch-1")
    assert(rows(1).getAs[Long]("added_rows") === 5L)
    assert(rows(1).getAs[Long]("total_rows") === 15L)
    assert(rows(1).getAs[Int]("total_files") >= rows(1).getAs[Int]("added_files"))
    // commit_id: present, unique per commit, equal to commitIdOf — the
    // identity a pinned reader re-checks against rollback number reuse
    val ids = rows.map(_.getAs[String]("commit_id"))
    assert(ids.forall(_ != null) && ids.distinct.length === ids.length)
    assert(st.commitIdOf(1L).contains(ids(0)))
    assert(st.commitIdOf(2L).contains(ids(1)))
  }

  test("readAsOf: timestamp time travel resolves the newest commit at-or-before") {
    val st = freshStore("snap-asof")
    st.commit(batch(0, 9))
    // back-date v1 so the two commit instants are distinct and ordered
    age(st, "_manifests/v00001.manifest")
    st.commit(batch(10, 19))
    val t1 = st.commitTimeOf(1L)
    val t2 = st.commitTimeOf(2L)
    assert(t1 < t2)
    assert(st.readAsOf(t1).count() === 10L, "at v1's instant: v1 exactly")
    assert(st.readAsOf((t1 + t2) / 2).count() === 10L, "between commits: v1")
    assert(st.readAsOf(t2).count() === 20L)
    assert(st.readAsOf(System.currentTimeMillis() + 60000L).count() === 20L)
    intercept[IllegalArgumentException] { st.readAsOf(t1 - 60000L) }
    // snapshots() carries the instants
    val ts = st.snapshots().collect().map(_.getAs[Long]("commit_ts"))
    assert(ts.toSeq === Seq(t1, t2))
  }

  test("readAsOf refuses to resolve across an expiry gap") {
    val st = freshStore("snap-asof-gap")
    st.commit(batch(0, 9))
    age(st, "_manifests/v00001.manifest")
    st.commit(batch(10, 19))
    st.commit(batch(20, 29))
    st.createRef("pin-v1", 1L)
    st.expire(keepLast = 1) // retained: {1 (pinned), 3} — v2 is GONE
    val t1 = st.commitTimeOf(1L)
    val t3 = st.commitTimeOf(3L)
    // an instant between v1 and v3 may have been v2's state — refusing is
    // the only honest answer (resolving to v1 would be silently stale)
    val ex = intercept[IllegalArgumentException] {
      st.readAsOf((t1 + t3) / 2)
    }
    assert(ex.getMessage.contains("EXPIRED"))
    // ANY instant resolving to the pinned v1 must refuse — v2's commit
    // time is unknowable once expired, so even t1 itself is ambiguous
    intercept[IllegalArgumentException] { st.readAsOf(t1) }
    // at or after the contiguous tail, resolution is exact again
    assert(st.readAsOf(t3).count() === 30L)
    // the pinned version stays reachable through its OWN verbs
    assert(st.readRef("pin-v1").count() === 10L)
  }

  test("a YOUNG unacknowledged manifest refuses the next commit instead of being deleted") {
    // the cross-JVM hazard: another pipeline may sit between its manifest
    // claim and pointer swap — its artifacts must never be cleared as
    // debris while fresh
    val st = freshStore("snap-young")
    st.commit(batch(0, 9))
    val fs = new org.apache.hadoop.fs.Path(st.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m2 = new org.apache.hadoop.fs.Path(st.path + "/_manifests/v00002.manifest")
    val out = fs.create(m2, true)
    out.write("bogus\t2\t1\t0.0\t1.0\t10\n".getBytes("UTF-8")); out.close()
    val ex = intercept[java.util.ConcurrentModificationException](
      st.commit(batch(10, 19)))
    assert(ex.getMessage.contains("LIVE"))
    assert(fs.exists(m2), "a young claim must survive the refused commit")
    // recover() also must NOT roll back a young claim
    st.recover()
    assert(fs.exists(m2), "recover() must skip young unacknowledged claims")
    // once aged, it is crash debris and the next commit reuses the version
    age(st, "_manifests/v00002.manifest")
    assert(st.commit(batch(10, 19)) === 2L)
    assert(st.read().count() === 20L)
  }

  test("expire refuses on an unacknowledged manifest; recover() then makes it safe") {
    // The r11 data-loss window: a commit crashed between manifest rename
    // and pointer swap leaves an orphaned NEWEST manifest. Retention
    // anchored on the raw listing would count the orphan toward keepLast
    // and expire(1) would delete the LIVE manifest + acknowledged data.
    val st = freshStore("snap-exp-orphan")
    st.commit(batch(0, 9))
    st.commit(batch(10, 19))
    val fs = new org.apache.hadoop.fs.Path(st.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // forge the crash window: v3 manifest exists, pointer still names v2
    val m3 = new org.apache.hadoop.fs.Path(st.path + "/_manifests/v00003.manifest")
    val out = fs.create(m3, true)
    out.write("bogus\t3\t1\t0.0\t1.0\t10\n".getBytes("UTF-8")); out.close()
    age(st, "_manifests/v00003.manifest")
    val ex = intercept[IllegalStateException](st.expire(keepLast = 1))
    assert(ex.getMessage.contains("recover()"))
    assert(st.read().count() === 20L, "refused expiry must not touch data")
    st.recover()
    st.expire(keepLast = 1)
    assert(st.read().count() === 20L,
      "post-recover expiry must retain the LIVE version's data")
    assert(st.latestVersion === Some(2L))
  }

  test("expire with no valid pointer refuses instead of guessing") {
    val st = freshStore("snap-exp-noptr")
    st.commit(batch(0, 9))
    val fs = new org.apache.hadoop.fs.Path(st.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(st.path + "/_latest"), false)
    intercept[IllegalStateException](st.expire(keepLast = 1))
    st.recover()
    assert(st.expire(keepLast = 1) === 0)
    assert(st.read().count() === 10L)
  }

  test("a non-numeric pointer reads as damaged, and recover() repairs it") {
    val st = freshStore("snap-badptr")
    st.commit(batch(0, 9))
    val fs = new org.apache.hadoop.fs.Path(st.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ptr = new org.apache.hadoop.fs.Path(st.path + "/_latest")
    val out = fs.create(ptr, true)
    out.write("garbage ".getBytes("UTF-8")); out.close()
    assert(st.latestVersion.isEmpty,
      "unparseable pointer content must read as absent, not throw")
    // the damaged-store guard routes the writer to recover(), not data loss
    intercept[IllegalArgumentException](st.commit(batch(10, 19)))
    st.recover()
    assert(st.latestVersion === Some(1L))
    assert(st.commit(batch(10, 19)) === 2L)
    assert(st.read().count() === 20L)
  }

  test("two concurrent writers: every commit lands, no lost updates") {
    val st = freshStore("snap-race")
    st.commit(batch(0, 9)) // v1: both writers start from the same base
    val perWriter = 4
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def writer(offset: Long): Thread = new Thread(() =>
      try {
        (0 until perWriter).foreach { i =>
          val lo = offset + i * 100L
          st.commit(batch(lo, lo + 9))
        }
      } catch { case t: Throwable => errs.add(t) })
    val a = writer(1000L)
    val b = writer(5000L)
    a.start(); b.start(); a.join(); b.join()
    assert(errs.isEmpty, s"concurrent commits must not fail: ${errs.peek()}")
    // every commit acknowledged: base + 2×perWriter versions, each batch's
    // rows present exactly once in the final table
    assert(st.latestVersion === Some(1L + 2 * perWriter))
    assert(st.read().count() === 10L * (1 + 2 * perWriter))
    val ids = st.read().select("id").as[Long].collect().sorted
    val expected = ((0L to 9L) ++
      (0 until perWriter).flatMap(i => (1000L + i * 100) to (1000L + i * 100 + 9)) ++
      (0 until perWriter).flatMap(i => (5000L + i * 100) to (5000L + i * 100 + 9))).sorted
    assert(ids.toSeq === expected, "a concurrent commit was lost or duplicated")
    // lineage is intact: every intermediate version time-travels
    st.versions.foreach(v => assert(st.readAt(v).count() > 0))
  }

  test("concurrent append vs compaction: conflict fails loudly or composes — never drops rows") {
    val st = freshStore("snap-race-compact")
    // trickle of small files to give compaction something to pack
    (0 until 4).foreach(i => st.commit(batch(i * 10L, i * 10L + 9)))
    val cme = new java.util.concurrent.atomic.AtomicInteger(0)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val appender = new Thread(() =>
      try (0 until 3).foreach { i =>
        st.commit(batch(1000L + i * 100, 1000L + i * 100 + 9))
      } catch { case t: Throwable => errs.add(t) })
    val compactor = new Thread(() =>
      try (0 until 3).foreach { _ =>
        try st.compactSmall(smallBytes = Long.MaxValue, targetFiles = 1)
        catch { case _: java.util.ConcurrentModificationException =>
          cme.incrementAndGet() } // planned-against-stale-version: re-plan
      } catch { case t: Throwable => errs.add(t) })
    appender.start(); compactor.start(); appender.join(); compactor.join()
    assert(errs.isEmpty, s"unexpected failure: ${errs.peek()}")
    // the invariant that matters: whatever interleaving happened, the final
    // table holds every appended row exactly once
    val ids = st.read().select("id").as[Long].collect().sorted
    val expected = ((0L until 40L) ++
      (0 until 3).flatMap(i => (1000L + i * 100) to (1000L + i * 100 + 9))).sorted
    assert(ids.toSeq === expected,
      s"rows lost/duplicated under concurrent compaction (CME count=${cme.get()})")
  }

  // ─── Delete vectors (merge-on-read deletion, r15) ──────────────────────

  /** Data files under the current manifest — DV commits must not add any
    * (the read plan also scans `_dv/` vector parquet; exclude it).
    */
  private def dataFilesOf(st: SnapshotStore): Set[String] =
    st.read().inputFiles.filterNot(_.contains("/_dv/")).toSet

  test("DV delete: a scattered takedown is metadata-only and reads exactly") {
    val st = freshStore("snap-dv")
    // 4 range files of 250 rows; id % 97 == 0 hits ~2-3 rows in EVERY file
    val v1 = st.commit(batch(0, 999).repartitionByRange(4, col("id")))
    val before = dataFilesOf(st)
    val v2 = st.deleteWhere(col("id") % 97 === 0).get
    assert(dataFilesOf(st) === before,
      "a sub-threshold scattered delete must not write or drop data files")
    val (dvFiles, dvRows) = st.dvStats(v2)
    assert(dvFiles >= 1 && dvRows === 11, s"dv census ($dvFiles, $dvRows)")
    // the read is exact: every surviving row, no masked row
    val got = st.read().select("id").as[Long].collect().sorted
    assert(got.toSeq === (0L to 999L).filterNot(_ % 97 == 0))
    // audit trail: the pre-delete version still holds everything
    assert(st.readAt(v1).count() === 1000L)
    // pruned/pushdown reads anti-apply the vectors too
    assert(st.readWhere(v2, col("id").between(0, 200) && col("id") % 97 === 0)
      .count() === 0L)
    assert(st.readWhere(v2, col("id") === 97L).count() === 0L)
    assert(st.readWhere(v2, col("id") === 98L).count() === 1L)
    assert(st.readIncremental(v1, v2).count() === 0L,
      "a DV-only delete adds no files — incremental sees nothing")
    // the per-file detail table exposes the vector refs and masked counts
    val detail = st.files(v2)
    assert(detail.filter(col("dv") =!= "").count() === dvFiles.toLong)
    assert(detail.agg(sum("dv_rows")).head.getLong(0) === dvRows)
    assert(detail.agg(sum("rows") - sum("dv_rows")).head.getLong(0) === 989L)
  }

  test("DV delete equals COW delete row-for-row on the same predicate") {
    val stDv = freshStore("snap-dv-eq-a")
    val stCow = freshStore("snap-dv-eq-b")
    Seq(stDv, stCow).foreach(st =>
      st.commit(batch(0, 999).repartitionByRange(4, col("id"))))
    stDv.deleteWhere(col("id") % 101 === 3, dvMaxFraction = 1.0)
    stCow.deleteWhere(col("id") % 101 === 3, dvMaxFraction = 0.0)
    val a = stDv.read().orderBy("id").collect()
    val b = stCow.read().orderBy("id").collect()
    assert(a.toSeq === b.toSeq, "MoR and COW must read identically")
    assert(stDv.dvStats(stDv.latestVersion.get)._1 > 0)
    assert(stCow.dvStats(stCow.latestVersion.get)._1 === 0)
  }

  test("DV deletes accumulate: a second vector on the same file composes") {
    val st = freshStore("snap-dv-acc")
    st.commit(batch(0, 999).repartitionByRange(2, col("id")))
    st.deleteWhere(col("id") % 97 === 0)
    val v3 = st.deleteWhere(col("id") % 89 === 1).get
    val (_, dvRows) = st.dvStats(v3)
    val expected = (0L to 999L).filter(i => i % 97 == 0 || i % 89 == 1)
    assert(dvRows === expected.size.toLong)
    val got = st.read().select("id").as[Long].collect().sorted
    assert(got.toSeq === (0L to 999L).filterNot(i => i % 97 == 0 || i % 89 == 1))
    // a masked row never re-matches: deleting the same band again no-ops
    assert(st.deleteWhere(col("id") % 97 === 0).isEmpty)
  }

  test("a delete that empties a file's visible rows drops the entry without rewrite") {
    val st = freshStore("snap-dv-full")
    st.commit(batch(0, 99).repartitionByRange(2, col("id")))
    val before = dataFilesOf(st)
    // ids 0..49 live in the low file alone: full-file hit → metadata drop
    val v = st.deleteWhere(col("id") < 50).get
    assert(st.read().count() === 50L)
    assert(st.dvStats(v) === ((0, 0L)), "a full-file delete needs no vector")
    assert(dataFilesOf(st).subsetOf(before), "no rewrite may happen")
  }

  test("changelog across a DV delete surfaces exactly the masked rows") {
    val st = freshStore("snap-dv-cdc")
    val v1 = st.commit(batch(0, 999).repartitionByRange(4, col("id")))
    val v2 = st.deleteWhere(col("id") % 97 === 0).get
    val c = st.changelog(v1, v2, Seq("id")).collect()
    assert(c.forall(_.getAs[String]("_change") == "delete"))
    assert(c.map(_.getAs[Long]("id")).sorted.toSeq
      === (0L to 999L).filter(_ % 97 == 0))
  }

  test("compactSmall folds delete vectors into the rewrite") {
    val st = freshStore("snap-dv-fold")
    st.commit(batch(0, 999).repartitionByRange(4, col("id")))
    // mask MOST of the low file (dvMaxFraction=1.0 forces MoR), so the
    // >=half-masked fold rule picks it up although its bytes are "large";
    // smallBytes=1 proves the DV fold alone justifies the pack
    st.deleteWhere(col("id") < 150, dvMaxFraction = 1.0)
    val (dvFiles, _) = st.dvStats(st.latestVersion.get)
    assert(dvFiles === 1)
    val v = st.compactSmall(smallBytes = 1L, targetFiles = 1).get
    assert(st.dvStats(v) === ((0, 0L)),
      "the fold must retire the vectors (packed files are vector-free)")
    assert(st.read().select("id").as[Long].collect().sorted.toSeq
      === (150L to 999L))
    // content-preserving fold: zero net changes in the changelog
    assert(st.changelog(v - 1, v, Seq("id")).count() === 0L)
  }

  test("merge-on-read MERGE: scattered key updates mask instead of rewriting") {
    val st = freshStore("snap-dv-merge")
    st.commit(batch(0, 999).repartitionByRange(4, col("id")))
    val before = dataFilesOf(st)
    // 8 scattered key updates + 2 inserts, far below every file's threshold
    val delta = spark.range(0, 10).select(
      (col("id") * 119).as("id"), lit("up").as("k"), lit(-1.0).as("v"))
    val v = st.merge(delta, Seq("id"))
    val deltaKeys = (0L until 10L).map(_ * 119) // 9 in range, 1071 inserts
    val got = st.read().filter(col("k") === "up")
      .select("id").as[Long].collect().sorted
    assert(got.toSeq === deltaKeys.sorted)
    assert(st.read().count() === 1001L, "9 in-place updates + 1 insert")
    assert(st.dvStats(v)._2 === 9L, "matched old rows mask, not rewrite")
    assert(before.subsetOf(dataFilesOf(st)),
      "every original file carries forward; only the delta batch is new")
    // and the same merge COW-forced agrees row-for-row
    val stC = freshStore("snap-dv-merge-cow")
    stC.commit(batch(0, 999).repartitionByRange(4, col("id")))
    stC.merge(delta, Seq("id"), dvMaxFraction = 0.0)
    assert(st.read().orderBy("id", "k").collect().toSeq
      === stC.read().orderBy("id", "k").collect().toSeq)
  }

  test("hidden partitioning: layout epochs coexist, audit, and prune independently") {
    val st = new SnapshotStore(spark, tempDir("snap-layout") + "/snap", "id",
      secondaryStats = Seq("v"))
    st.setLayout("cast(id / 125 as int)", 8)
    st.commit(spark.range(0, 1000).select(
      col("id"), (col("id") % 10).cast("double").as("v")))
    st.setLayout("cast(v as int)", 8)
    val v2 = st.commit(spark.range(1000, 2000).select(
      col("id"), (col("id") % 10).cast("double").as("v")))
    // the audit: each commit records the layout it clustered under
    assert(st.layoutOf(1L).contains("cast(id / 125 as int)"))
    assert(st.layoutOf(2L).contains("cast(v as int)"))
    // id predicate: epoch-1 resolves to ONE id-bucket file, epoch-2 files
    // are all id >= 1000 and zone-skip entirely
    val (k1, total) = st.planStatsWhere(v2, col("id") < 125)
    assert(k1 === 1, s"epoch-aware id prune kept $k1 of $total")
    assert(st.readWhere(v2, col("id") < 125).count() === 125L)
    // v predicate over epoch 2: v-clustered files prune to the few files
    // whose v-range covers 3 (hash clustering can co-locate buckets, so
    // zones are ranges, not single values — still a hard skip of the
    // epoch-1 half and most of epoch 2)
    val (k2, _) = st.planStatsWhere(v2, col("v") === 3.0 && col("id") >= 1000L)
    assert(k2 < total / 2, s"epoch-aware v prune kept $k2 of $total")
    assert(st.readWhere(v2, col("v") === 3.0 && col("id") >= 1000L)
      .count() === 100L)
    // layout is metadata: clearing it affects only FUTURE commits
    st.clearLayout()
    assert(st.layout.isEmpty)
    assert(st.read().count() === 2000L)
  }

  test("DV reads anti-join the vectors BROADCAST — the data side never shuffles") {
    val st = freshStore("snap-dv-plan")
    st.commit(batch(0, 999).repartitionByRange(4, col("id")))
    st.deleteWhere(col("id") % 97 === 0)
    val df = st.read()
    assert(df.count() === 989L) // run first: AQE finalizes the plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"the vector anti-join must broadcast the (tiny) vector side:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      "a sort-merge anti-join would shuffle the whole data side per read")
  }

  test("DV anti-join broadcasts UNCONDITIONALLY — even past the auto threshold") {
    // r16: the explicit broadcast() hint, not the 10 MB auto threshold,
    // decides the plan — a store that accumulates vector rows before
    // compaction folds them must never flip to a sort-merge anti-join
    // that shuffles the whole data scan. Forced here by disabling auto
    // broadcast entirely.
    val st = freshStore("snap-dv-forced")
    st.commit(batch(0, 999).repartitionByRange(4, col("id")))
    st.deleteWhere(col("id") % 97 === 0)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = st.read()
      assert(df.count() === 989L)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
        s"the explicit hint must hold with auto-broadcast off:\n$plan")
      assert(!plan.contains("SortMergeJoin"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("an over-cap IN collapses to its range at plan time — sound, still prunes") {
    // r16 (the takedown probe-cap envelope): a 10^4+-key isin must not
    // cost O(files × keys) driver work at plan time. Above InProbeCap the
    // planner collapses the IN to [min, max] — range-clustered files
    // outside the key span still skip, and the read stays exactly the
    // filter semantics.
    val st = freshStore("snap-incap")
    st.commit(batch(0, 99999).repartitionByRange(32, col("id")))
    val keys: Seq[Any] = (0L to SnapshotStore.InProbeCap.toLong).map(Long.box)
    val cond = col("id").isin(keys: _*)
    val t0 = System.nanoTime()
    val (kept, total) = st.planStatsWhere(1L, cond)
    val planSec = (System.nanoTime() - t0) / 1e9
    assert(kept < total,
      s"range collapse must still zone-prune ($kept/$total kept)")
    assert(st.readWhere(1L, cond).count() ===
      st.read().filter(cond).count())
    assert(planSec < 5.0, s"capped planning took ${planSec}s — not bounded")
  }

  test("layout epochs CONVERGE through compaction — no dedicated rewrite") {
    val st = freshStore("snap-converge")
    st.setLayout("cast(id / 250 as int)", 4)
    st.commit(batch(0, 999))
    st.setLayout("cast(v as int) % 4", 4)
    st.commit(batch(1000, 1999))
    val census0 = st.layoutCensus(st.latestVersion.get)
    assert(census0.keys.flatten.toSet.size === 2,
      s"two live epochs expected before compaction: $census0")
    // compaction re-clusters the files it rewrites anyway under the
    // CURRENT layout; everything here is small, so one pass converges
    val vc = st.compactSmall(1L << 30, targetFiles = 4).get
    val census1 = st.layoutCensus(vc)
    assert(census1.keySet === Set(Option("cast(v as int) % 4")),
      s"compaction must converge to the current epoch: $census1")
    assert(st.layoutOf(vc).contains("cast(v as int) % 4"))
    // rows survive the convergence exactly
    assert(st.read().count() === 2000L)
    assert(st.readWhere(vc, col("id") < 100L).count() === 100L)
  }

  test("null-count zone stats: IS NULL / IS NOT NULL prune files exactly") {
    val st = new SnapshotStore(spark, tempDir("snap-nulls") + "/snap", "id",
      secondaryStats = Seq("v2"))
    // v2 is null for id<500 — null-clustered into 2 of 4 range files
    st.commit(spark.range(0, 1000).select(col("id"),
      when(col("id") >= 500, col("id").cast("double")).as("v2"))
      .repartitionByRange(4, col("id")))
    val (kNn, total) = st.planStatsWhere(1L, col("v2").isNotNull)
    assert(total === 4)
    assert(kNn === 2, s"all-null files must skip under IS NOT NULL ($kNn/$total)")
    val (kN, _) = st.planStatsWhere(1L, col("v2").isNull)
    assert(kN === 2, s"null-free files must skip under IS NULL ($kN/$total)")
    // NOT pushes through (exact complements)
    val (kNot, _) = st.planStatsWhere(1L, !col("v2").isNull)
    assert(kNot === 2)
    // and the reads equal the plain filters exactly
    assert(st.readWhere(1L, col("v2").isNull).count() === 500L)
    assert(st.readWhere(1L, col("v2").isNotNull).count() === 500L)
    // composing with a range conjunct narrows further
    val (kBoth, _) = st.planStatsWhere(1L,
      col("v2").isNotNull && col("id") < 750L)
    assert(kBoth === 1, s"conjunct must intersect the skips ($kBoth)")
    // a column with no recorded null counts keeps conservatively
    val st0 = freshStore("snap-nulls-legacy")
    st0.commit(batch(0, 99))
    val (kL, tL) = st0.planStatsWhere(1L, col("k").isNull)
    assert(kL === tL, "untracked columns must not prune on null shapes")
  }

  test("group-level null counts skip whole groups WITHOUT opening them") {
    val dir = tempDir("snap-gnulls")
    val st = new SnapshotStore(spark, s"$dir/snap", "id",
      secondaryStats = Seq("v2"))
    // group 1: v2 all-null; group 2: v2 fully set
    st.commit(spark.range(0, 1000).select(col("id"),
      lit(null).cast("double").as("v2")).repartition(4))
    st.commit(spark.range(1000, 2000).select(col("id"),
      col("id").cast("double").as("v2")).repartition(4))
    // wreck group 1's file on disk: a planner that OPENS it now fails CRC
    val fs = new org.apache.hadoop.fs.Path(st.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m1 = st.path + "/_manifests/v00001.manifest"
    val in = fs.open(new org.apache.hadoop.fs.Path(m1))
    val g1 = try new String(
      org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      .split("\n").find(_.startsWith("@")).get
      .split("\t")(0).stripPrefix("@") finally in.close()
    val gp = new org.apache.hadoop.fs.Path(st.path + "/_manifests/" + g1)
    val out = fs.create(gp, true)
    out.write("#crc=0\ngarbage".getBytes("UTF-8")); out.close()
    // fresh instance (no caches): IS NOT NULL must plan from the REF LINE
    // alone — the all-null group skips summary-level, never opened
    val st2 = new SnapshotStore(spark, s"$dir/snap", "id",
      secondaryStats = Seq("v2"))
    val (kept, total) = st2.planStatsWhere(2L, col("v2").isNotNull)
    assert(total === 8 && kept === 4,
      s"the all-null group must skip at the ref level ($kept/$total)")
    assert(st2.readWhere(2L, col("v2").isNotNull).count() === 1000L)
    // control: IS NULL needs that group's rows — planning must OPEN it
    // and fail the checksum, proving the skip above was the null counts'
    // doing rather than general laziness
    val e = intercept[IllegalArgumentException](
      st2.planStatsWhere(2L, col("v2").isNull))
    assert(e.getMessage.contains("checksum"))
  }

  test("sort order: declared, recorded, preserved by compaction, exploited by top-k") {
    val st = freshStore("snap-sort")
    // an order readers can't see through zone stats buys nothing: refused
    intercept[IllegalArgumentException](st.setSortOrder(Seq("nope")))
    st.setSortOrder(Seq("id"))
    (0 until 4).foreach(i => st.commit(batch(i * 1000L, i * 1000L + 999L)))
    // every commit records the order it wrote under — the epoch audit
    assert(st.sortOrderOf(1L) === Some(Seq("id")))
    // compaction re-establishes the order on the files it rewrites
    val vc = st.compactSmall(1L << 30, targetFiles = 8).get
    assert(st.sortOrderOf(vc) === Some(Seq("id")))
    // order-exploiting top-k: a bounded file prefix, exact result
    val (kept, total) = st.topKStats(vc, "id", 10)
    assert(total === 8 && kept < total, s"top-k must prune ($kept/$total)")
    val got = st.readTopK(vc, "id", 10).collect().map(_.getLong(0)).toSeq
    assert(got === (0L to 9L))
    val dsc = st.readTopK(vc, "id", 3, asc = false)
      .collect().map(_.getLong(0)).toSeq
    assert(dsc === Seq(3999L, 3998L, 3997L))
    // the plan is a bounded heap over the pruned scan — no global sort
    val df = st.readTopK(vc, "id", 10)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must plan as TakeOrderedAndProject:\n$plan")
    // clearing affects only future commits
    st.clearSortOrder()
    assert(st.sortOrder.isEmpty)
    // and top-k stays EXACT even when nothing is sorted (zones are facts)
    val st2 = freshStore("snap-unsorted")
    st2.commit(batch(0, 999).repartition(8, col("k"))) // hash-scattered
    val got2 = st2.readTopK(1L, "id", 5).collect().map(_.getLong(0)).toSeq
    assert(got2 === (0L to 4L))
  }

  test("stacked DV epochs: maintainDv folds the debt, reads stay exact") {
    val st = freshStore("snap-dv-stack")
    st.commit(batch(0, 9999).repartitionByRange(8, col("id")))
    // ten stacked scattered delete epochs over the SAME files — the
    // compliance-burst shape; every epoch appends a vector per hit file
    (0 until 10).foreach { i =>
      assert(st.deleteWhere(col("id") % 503 === i.toLong).nonEmpty)
    }
    val v = st.latestVersion.get
    val (dvFiles, dvRows) = st.dvStats(v)
    assert(dvFiles > 0 && dvRows >= 190L, s"stacked debt: $dvFiles/$dvRows")
    val expected = st.read().count()
    assert(expected === 10000L - dvRows)
    // debt (~2%) under a 50% threshold: metadata-only no-op
    assert(st.maintainDv(0.5).isEmpty)
    // forced trigger: the fold retires every vector, rows unchanged
    val folded = st.maintainDv(0.001).get
    assert(st.dvStats(folded) === ((0, 0L)))
    assert(st.read().count() === expected)
    // nothing left to fold
    assert(st.maintainDv(0.001).isEmpty)
    assert(st.foldDv().isEmpty)
  }

  test("a NEGATED over-cap IN prunes nothing — never a false skip") {
    val st = freshStore("snap-incap-not")
    st.commit(batch(0, 99999).repartitionByRange(32, col("id")))
    // keys cover [0, cap+1] EXCEPT 5: NOT IN matches id=5, which sits
    // INSIDE the keys' range — a polarity-blind range collapse would
    // wrongly skip its file (the range is a superset of the IN, and a
    // NOT over a superset is a subset)
    val keys: Seq[Any] =
      (0L to SnapshotStore.InProbeCap.toLong + 1L).filter(_ != 5L).map(Long.box)
    val cond = !col("id").isin(keys: _*)
    val (kept, total) = st.planStatsWhere(1L, cond)
    assert(kept === total,
      s"negated wide IN must keep conservatively ($kept/$total)")
    assert(st.readWhere(1L, cond).count() ===
      st.read().filter(cond).count())
  }

  test("a DV attach carries the group's bloom sidecar forward") {
    // r16 (the r15 advice medium): a MoR delete re-expresses every hit
    // group; the carried files' sketches must survive, or one scattered
    // takedown degrades every later keyed read to zone-only pruning.
    val st = new SnapshotStore(spark, tempDir("snap-dvbloom") + "/snap",
      "id", bloomCols = Seq("id"))
    // hash-scattered: zones useless on id, only blooms can skip
    st.commit(batch(0, 9999).repartition(16, col("id")))
    val (k0, total0) = st.planStatsWhere(1L, col("id") === 424242L)
    assert(k0 === 0, s"absent key must bloom-skip everything pre-delete ($k0)")
    // one-row-per-file-ish scattered delete: every touched file masks MoR
    val v = st.deleteWhere(col("id") % 991 === 0).get
    val (dvFiles, _) = st.dvStats(v)
    assert(dvFiles > 0, "the delete must have attached vectors")
    val (k1, total1) = st.planStatsWhere(v, col("id") === 424242L)
    assert(total1 === total0)
    assert(k1 === 0,
      s"carried sketches must keep skipping after the DV attach ($k1/$total1)")
    // and a live key still reads exactly (no false skip from the carry)
    assert(st.readWhere(v, col("id") === 4242L).count() === 1L)
  }

  test("expire reclaims vectors of expired versions; live ones survive") {
    val st = freshStore("snap-dv-exp")
    st.commit(batch(0, 999).repartitionByRange(4, col("id")))
    st.deleteWhere(col("id") % 97 === 0)
    val fs = new org.apache.hadoop.fs.Path(st.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dvDirs: Seq[String] = {
      val p = new org.apache.hadoop.fs.Path(st.path + "/_dv")
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.map(_.getPath.getName)
    }
    assert(dvDirs.size === 1)
    // still referenced by the live manifest: expire must keep it
    dvDirs.foreach(d => age(st, s"_dv/$d"))
    st.expire(keepLast = 1)
    assert(dvDirs.size === 1, "a live vector must survive expire")
    assert(st.read().filter(col("id") % 97 === 0).count() === 0L)
    // fold it away, expire again: the vector is unreferenced debris
    st.compactSmall(smallBytes = Long.MaxValue, targetFiles = 2)
    dvDirs.foreach(d => age(st, s"_dv/$d"))
    st.expire(keepLast = 1)
    assert(dvDirs.isEmpty, "an unreferenced vector must age out")
  }
}

/** r17 footer fast path: the commit-time stats census read driver-side
  * from parquet footers must be indistinguishable from the one-job
  * aggregate formulation it replaces — same files, rows, bounds, null
  * counts, bytes — and must refuse (fall back) on non-integer stats
  * columns, where footer min/max semantics diverge (NaN, truncation).
  */
class FooterStatsSpec extends SparkSpec {
  import spark.implicits._

  test("footer stats == aggregate stats on integer columns, nulls included") {
    val dir = tempDir("snap-footer")
    val st = new graft.store.SnapshotStore(spark, dir + "/snap", "id",
      secondaryStats = Seq("v2"))
    val df = spark.range(0, 1000).select(
      col("id"),
      when(col("id") % 5 === 0, lit(null)).otherwise(col("id") * 3).as("v2"),
      (col("id") % 7).cast("string").as("k"))
      .repartition(4)
    st.commit(df)
    val batchDir = new org.apache.hadoop.fs.Path(dir + "/snap/data/b00001")
    val fs = batchDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(batchDir).filter(_.getPath.getName.startsWith("part-"))
    val footer = st.statsFromFooters(parts)
    assert(footer.isDefined, "integer stats columns must take the footer path")
    val agg = st.statsAggForDir(batchDir)
    val f = footer.get.sortBy(_.file)
    val a = agg.sortBy(_.file)
    assert(f.length === a.length && f.nonEmpty)
    f.zip(a).foreach { case (x, y) =>
      assert(x.file === y.file, "path format must match the aggregate census")
      assert(x.rows === y.rows)
      assert(x.bytes === y.bytes)
      assert(x.minS === y.minS && x.maxS === y.maxS)
      assert(x.extra === y.extra)
      assert(x.nulls === y.nulls)
    }
  }

  test("clean double stats columns take the footer path, byte-identical") {
    // r18: doubles are footer-eligible because parquet-mr SUPPRESSES a
    // chunk's min/max when any NaN was written — stats present implies a
    // NaN-free chunk, where footer bounds equal the aggregate's exactly
    val dir = tempDir("snap-footer-dbl")
    val st = new graft.store.SnapshotStore(spark, dir + "/snap", "id",
      secondaryStats = Seq("v"))
    st.commit(spark.range(0, 100).select(
      col("id"), (col("id") * 1.5).as("v")).repartition(3))
    val batchDir = new org.apache.hadoop.fs.Path(dir + "/snap/data/b00001")
    val fs = batchDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(batchDir).filter(_.getPath.getName.startsWith("part-"))
    val f = st.statsFromFooters(parts)
    assert(f.isDefined, "NaN-free double stats must take the footer path")
    val a = st.statsAggForDir(batchDir)
    f.get.sortBy(_.file).zip(a.sortBy(_.file)).foreach { case (x, y) =>
      assert(x === y, "footer census must equal the aggregate census") }
  }

  test("a NaN-bearing double column refuses the footer path") {
    // the writer drops min/max for the chunk that saw NaN; only the
    // aggregate census can record the NaN-poisoned max Spark computes
    val dir = tempDir("snap-footer-nan")
    val st = new graft.store.SnapshotStore(spark, dir + "/snap", "id",
      secondaryStats = Seq("v"))
    st.commit(spark.range(0, 100).select(
      col("id"),
      when(col("id") === 7, lit(Double.NaN)).otherwise(col("id") * 1.5).as("v"))
      .repartition(1))
    val batchDir = new org.apache.hadoop.fs.Path(dir + "/snap/data/b00001")
    val fs = batchDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(batchDir).filter(_.getPath.getName.startsWith("part-"))
    assert(st.statsFromFooters(parts).isEmpty,
      "a NaN-bearing double chunk must fall back to the aggregate census")
    // and the aggregate records the NaN max (Spark ranks NaN topmost)
    val a = st.statsAggForDir(batchDir)
    assert(a.exists(_.extra.head._2.isNaN))
  }

  test("string stats columns take the footer path with identical words") {
    val dir = tempDir("snap-footer-str")
    val st = new graft.store.SnapshotStore(spark, dir + "/snap", "k",
      secondaryStats = Seq("v2"))
    st.commit(spark.range(0, 500).select(
      concat(lit("doc-"), lpad(col("id").cast("string"), 12, "0")).as("k"),
      when(col("id") % 11 === 0, lit(null)).otherwise(col("id")).as("v2"))
      .repartition(4))
    val batchDir = new org.apache.hadoop.fs.Path(dir + "/snap/data/b00001")
    val fs = batchDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(batchDir).filter(_.getPath.getName.startsWith("part-"))
    val f = st.statsFromFooters(parts)
    assert(f.isDefined, "string stats columns must take the footer path")
    val a = st.statsAggForDir(batchDir)
    assert(f.get.length === a.length && f.get.nonEmpty)
    f.get.sortBy(_.file).zip(a.sortBy(_.file)).foreach { case (x, y) =>
      assert(x === y,
        "footer census must equal the aggregate census, derived words included") }
  }

  test("timestamp stats columns take the footer path under the INT64 encoding") {
    // the store's batch writes pin TIMESTAMP_MICROS (INT96, the session
    // default, records no footer statistics); the aggregate casts
    // timestamp→double as micros/1e6, the footer path divides the typed
    // min/max by 1e6 — identical IEEE operation, identical bounds
    val dir = tempDir("snap-footer-ts")
    val st = new graft.store.SnapshotStore(spark, dir + "/snap", "id",
      secondaryStats = Seq("ts"))
    st.commit(spark.range(0, 300).select(
      col("id"),
      expr("timestamp_micros(1704067200000000 + id * 123)").as("ts"))
      .repartition(3))
    val batchDir = new org.apache.hadoop.fs.Path(dir + "/snap/data/b00001")
    val fs = batchDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(batchDir).filter(_.getPath.getName.startsWith("part-"))
    val f = st.statsFromFooters(parts)
    assert(f.isDefined, "INT64-micros timestamp stats must take the footer path")
    val a = st.statsAggForDir(batchDir)
    assert(f.get.length === a.length && f.get.nonEmpty)
    f.get.sortBy(_.file).zip(a.sortBy(_.file)).foreach { case (x, y) =>
      assert(x === y, "footer census must equal the aggregate census") }
  }

  test("the k38 stats shape (string+timestamp+double) is footer-eligible") {
    // GridSnapStore declares variable(string), timestamp, lat/lon(double)
    // — the exact combination the r17 gate excluded; its commits now
    // skip the distributed census job
    val dir = tempDir("snap-footer-grid")
    val st = new graft.store.SnapshotStore(spark, dir + "/snap", "variable",
      secondaryStats = Seq("ts", "lat", "lon"))
    st.commit(spark.range(0, 400).select(
      concat(lit("var_"), (col("id") % 7).cast("string")).as("variable"),
      expr("timestamp_micros(1704067200000000 + (id % 48) * 3600000000)").as("ts"),
      (col("id") % 180 - 90.0).as("lat"),
      (col("id") % 360 - 180.0).as("lon"))
      .repartition(4))
    val batchDir = new org.apache.hadoop.fs.Path(dir + "/snap/data/b00001")
    val fs = batchDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(batchDir).filter(_.getPath.getName.startsWith("part-"))
    val f = st.statsFromFooters(parts)
    assert(f.isDefined, "the k38 stats shape must take the footer path")
    val a = st.statsAggForDir(batchDir)
    assert(f.get.length === a.length && f.get.nonEmpty)
    f.get.sortBy(_.file).zip(a.sortBy(_.file)).foreach { case (x, y) =>
      assert(x === y, "footer census must equal the aggregate census") }
  }

  test("zero-row part files are omitted, matching the aggregate census") {
    // Spark's partition-0 behavior on an empty batch is one schema-only
    // part file; the aggregate census (groupBy input_file_name) produces
    // no group for it, so the footer census must omit it too — otherwise
    // phantom rows=0 entries enter the manifest and bloomsForDir sees
    // nFiles=1 over an empty scan (the r17 ADVICE crash)
    val dir = tempDir("snap-footer-empty")
    val st = new graft.store.SnapshotStore(spark, dir + "/snap", "id",
      secondaryStats = Seq("v2"))
    st.commit(spark.range(0, 10).select(col("id"), (col("id") * 2).as("v2"))
      .where(lit(false)).repartition(1))
    val batchDir = new org.apache.hadoop.fs.Path(dir + "/snap/data/b00001")
    val fs = batchDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(batchDir).filter(_.getPath.getName.startsWith("part-"))
    if (parts.nonEmpty) { // only meaningful when the writer left a 0-row file
      val f = st.statsFromFooters(parts)
      assert(f.isDefined)
      assert(f.get.isEmpty === st.statsAggForDir(batchDir).isEmpty,
        "footer and aggregate census must agree on empty batches")
      assert(f.get.forall(_.rows > 0L), "no rows=0 phantom entries")
    }
  }

  test("commit and stageWap of an empty batch succeed with bloom columns") {
    // pins the r17 ADVICE high finding: the fused bloom path called
    // rows.head on an empty collect when the census reported a phantom
    // zero-row file — a routine empty increment must not crash
    val dir = tempDir("snap-bloom-empty")
    val st = new graft.store.SnapshotStore(spark, dir + "/snap", "id",
      bloomCols = Seq("id"))
    val empty = spark.range(0, 10).select(col("id"))
      .where(lit(false)).repartition(1)
    val v = st.commit(empty)
    st.stageWap(empty, "w1")
    st.commit(spark.range(0, 5).select(col("id")))
    assert(st.read().count() === 5L,
      s"empty commit (v$v) must not affect subsequent reads")
  }

  test("all-null integer column records NaN bounds under both paths") {
    val dir = tempDir("snap-footer-null")
    val st = new graft.store.SnapshotStore(spark, dir + "/snap", "id",
      secondaryStats = Seq("v2"))
    st.commit(spark.range(0, 50).select(
      col("id"), lit(null).cast("long").as("v2")))
    val batchDir = new org.apache.hadoop.fs.Path(dir + "/snap/data/b00001")
    val fs = batchDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(batchDir).filter(_.getPath.getName.startsWith("part-"))
    val f = st.statsFromFooters(parts)
    val a = st.statsAggForDir(batchDir)
    assert(f.isDefined)
    f.get.sortBy(_.file).zip(a.sortBy(_.file)).foreach { case (x, y) =>
      assert(x.extra.head._1.isNaN === y.extra.head._1.isNaN)
      assert(x.extra.head._2.isNaN === y.extra.head._2.isNaN)
      assert(x.nulls === y.nulls)
    }
  }
}

/** r18 group-sketch fold-down: the group bloom line is sized by total
  * rows (the cardinality upper bound) during the aggregate, then folded
  * driver-side to the width its MEASURED density justifies. Folding a
  * power-of-two sketch by OR-ing its halves must be BIT-IDENTICAL to
  * having built the sketch at the half width (probe positions are
  * pos & (width-1) with a width-independent step), so the fold is exact
  * resizing, not approximation.
  */
class BloomFoldSpec extends SparkSpec {
  import graft.functions.BloomSketch
  import graft.store.SnapshotStore

  private def agg(df: org.apache.spark.sql.DataFrame, bits: Int): Array[Byte] =
    df.agg(BloomSketch.bloomAgg(xxhash64(col("id")), bits,
      SnapshotStore.BloomHashes).as("b")).collect()(0).getAs[Array[Byte]](0)

  test("fold == natively built sketch at the folded width") {
    val dir = tempDir("bloom-fold")
    // 200 distinct keys, each repeated 50x: totalRows sizing (10x10000 ->
    // 2^17) vastly oversizes the 200-key group sketch
    spark.range(0, 10000).select((col("id") % 200).as("id"))
      .repartition(2).write.parquet(dir + "/d")
    val df = spark.read.parquet(dir + "/d")
    val wide = agg(df, 1 << 17)
    val folded = SnapshotStore.foldSketch(wide)
    assert(folded.length < wide.length, "a low-cardinality sketch must fold")
    assert(folded.length * 8 >= (1 << 10), "never below the sizing floor")
    val native = agg(df, folded.length * 8)
    assert(java.util.Arrays.equals(folded, native),
      "folding halves must be bit-identical to building at the folded width")
  }

  test("fold never loses a key; near-design-density sketches stay put") {
    val dir = tempDir("bloom-fold2")
    spark.range(0, 3000).select(col("id")).repartition(2)
      .write.parquet(dir + "/d")
    val df = spark.read.parquet(dir + "/d")
    // unique keys: 10x3000 rounds to 2^15; density sits at the design
    // point, so at most the pow2-rounding slack folds away — never below
    // ~10 bits/key
    val wide = agg(df, 1 << 15)
    val folded = SnapshotStore.foldSketch(wide)
    assert(folded.length * 8L >= 8L * 3000,
      s"unique keys must keep >=8 bits/key after folding, got ${folded.length * 8}")
    // no false negatives under either width
    (0L until 3000L by 97L).foreach { k =>
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashLong(k, 42L)
      assert(BloomSketch.containsBytes(folded,
        SnapshotStore.BloomHashes, h), s"key $k lost by fold")
    }
  }

  test("commits with repeated bloom keys write a folded group line that still probes correctly") {
    val dir = tempDir("bloom-fold3")
    val st = new graft.store.SnapshotStore(spark, dir + "/snap", "id",
      bloomCols = Seq("k"))
    // 50k rows but only 64 distinct bloom keys
    st.commit(spark.range(0, 50000).select(col("id"),
      (col("id") % 64).as("k")).repartition(4))
    val v = st.latestVersion.get
    val present: Seq[Any] = Seq(3L, 17L, 63L)
    val absent: Seq[Any] = Seq(1000003L, 2000017L)
    val (keptP, _) = st.planStatsWhere(v, col("k").isin(present: _*))
    assert(keptP > 0, "present keys must keep files")
    val got = st.readWhere(v, col("k").isin(present: _*)).count()
    assert(got === 50000L / 64 * present.size + present.count(_.asInstanceOf[Long] < 50000 % 64),
      "pruned-eq read must return every matching row")
    val (keptA, totalA) = st.planStatsWhere(v, col("k").isin(absent: _*))
    assert(keptA <= totalA) // bloom may false-positive, never false-negative
  }
}

/** r17 bloom-pass fusion: the group-level sketch is now built as per-file
  * sketches at the group width OR-ed driver-side (one aggregate job for
  * both sidecar levels). Sound because the OR of same-width blooms over a
  * partition of the rows is bit-identical to one bloom over all rows —
  * pinned here against the former two-job formulation.
  */
class BloomFuseSpec extends SparkSpec {
  import graft.functions.BloomSketch

  test("OR of per-file sketches == one global sketch (same width)") {
    val dir = tempDir("bloom-fuse")
    spark.range(0, 20000).select(col("id"))
      .repartition(4).write.parquet(dir + "/d")
    val df = spark.read.parquet(dir + "/d")
    val bits = 1 << 14
    val global = df
      .agg(BloomSketch.bloomAgg(xxhash64(col("id")), bits, 5).as("b"))
      .collect()(0).getAs[Array[Byte]](0)
    val perFile = df.groupBy(input_file_name().as("f"))
      .agg(BloomSketch.bloomAgg(xxhash64(col("id")), bits, 5).as("b"))
      .collect().map(_.getAs[Array[Byte]](1))
    assert(perFile.length === 4)
    val ored = perFile.head.clone()
    perFile.tail.foreach { b =>
      var i = 0
      while (i < ored.length) { ored(i) = (ored(i) | b(i)).toByte; i += 1 }
    }
    assert(java.util.Arrays.equals(ored, global),
      "fused group sketch must be bit-identical to the global aggregate")
  }
}
