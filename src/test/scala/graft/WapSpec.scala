package graft

import org.apache.spark.sql.functions._

import graft.store.SnapshotStore

/** Write-audit-publish on the snapshot store: staged batches are invisible
  * until published, publish is exactly-once and rebases like an append,
  * discard never leaks, and every debris sweep distinguishes a staged
  * batch (protected indefinitely) from crashed-stage residue (aged out).
  * The k29 driver query proves the published DATA against DuckDB; these
  * pin the metadata lifecycle the oracle cannot see.
  */
class WapSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore(name: String): SnapshotStore =
    new SnapshotStore(spark, tempDir(name) + "/snap", "id")

  private def fsOf(st: SnapshotStore) = new org.apache.hadoop.fs.Path(st.path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def exists(st: SnapshotStore, rel: String): Boolean =
    fsOf(st).exists(new org.apache.hadoop.fs.Path(st.path + "/" + rel))

  /** Data dirs of a wap id (uuid-suffixed since the racing-stage fix). */
  private def wapDirs(st: SnapshotStore, id: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(st.path + "/data")
    if (!fsOf(st).exists(root)) Seq.empty
    else fsOf(st).listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(s"wap-$id-"))
  }

  private def age(st: SnapshotStore, rel: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(st.path + "/" + rel)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.setTimes(p, System.currentTimeMillis() - 10 * 60 * 1000L, -1L)
  }

  private def batch(lo: Long, hi: Long) =
    spark.range(lo, hi + 1).select(
      col("id"), (col("id") % 7).cast("string").as("k"))

  test("staged batch is invisible until published, then appends") {
    val st = freshStore("wap-basic")
    st.commit(batch(0, 99))
    st.stageWap(batch(100, 149), "day-01")
    assert(st.read().count() === 100L, "stage must not touch the table")
    assert(st.latestVersion === Some(1L))
    assert(st.readWapBatch("day-01").count() === 50L)
    assert(st.readWap("day-01").count() === 150L, "audit sees the would-be table")
    assert(st.read().count() === 100L, "the audit read publishes nothing")
    val v = st.publishWap("day-01")
    assert(v === 2L)
    assert(st.read().count() === 150L)
    // published batch carries the publish version as its CDC basis
    assert(st.readIncremental(1L, 2L).count() === 50L)
  }

  test("publish is exactly-once: a replay returns the same version") {
    val st = freshStore("wap-once")
    st.commit(batch(0, 9))
    st.stageWap(batch(10, 19), "b7")
    val v1 = st.publishWap("b7")
    val v2 = st.publishWap("b7")
    assert(v1 === v2)
    assert(st.read().count() === 20L, "the replay must not double-append")
  }

  test("audit-fail path: discard never became visible and frees the id") {
    val st = freshStore("wap-discard")
    st.commit(batch(0, 9))
    st.stageWap(batch(10, 19).withColumn("k", lit("POISON")), "run")
    // the audit rejects the batch
    assert(st.readWapBatch("run").filter(col("k") === "POISON").count() === 10L)
    st.discardWap("run")
    assert(st.read().filter(col("k") === "POISON").count() === 0L)
    assert(wapDirs(st, "run").isEmpty && !exists(st, "_staged/s-run.list"),
      "discard must free both the data dir and the staged list")
    // the id is reusable after discard
    st.stageWap(batch(10, 19), "run")
    st.publishWap("run")
    assert(st.read().count() === 20L)
  }

  test("publish rebases onto a head that advanced after the stage") {
    val st = freshStore("wap-rebase")
    st.commit(batch(0, 9))
    st.stageWap(batch(20, 29), "late")
    st.commit(batch(10, 19)) // main advances while the audit runs
    val v = st.publishWap("late")
    assert(v === 3L)
    assert(st.read().count() === 30L, "publish appends onto the NEW head")
    assert(st.readAt(2).count() === 20L, "the interleaved commit is intact")
  }

  test("a staged batch survives expire and recover indefinitely") {
    val st = freshStore("wap-protected")
    st.commit(batch(0, 9))
    st.commit(batch(10, 19))
    st.stageWap(batch(20, 29), "slow-audit")
    wapDirs(st, "slow-audit").foreach(d => age(st, s"data/$d"))
    age(st, "_staged/s-slow-audit.list")
    st.recover()
    st.expire(keepLast = 1)
    // both sweeps ran; the staged batch must still be fully publishable
    st.publishWap("slow-audit")
    assert(st.read().count() === 30L)
  }

  test("crashed stage (data written, list never) ages out via recover") {
    val st = freshStore("wap-crashed")
    st.commit(batch(0, 9))
    // forge the crash: a wap dir with no staged list
    val dir = new org.apache.hadoop.fs.Path(st.path + "/data/wap-dead")
    val fs = fsOf(st)
    fs.mkdirs(dir)
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, "part-00000"), false)
    out.write(Array[Byte](1, 2, 3)); out.close()
    st.recover()
    assert(exists(st, "data/wap-dead"),
      "a YOUNG unlisted wap dir may be an in-flight stage — kept")
    age(st, "data/wap-dead")
    st.recover()
    assert(!exists(st, "data/wap-dead"), "aged unlisted wap dir is debris")
  }

  test("recover finishes a publish that crashed before list retirement") {
    val st = freshStore("wap-finish")
    st.commit(batch(0, 9))
    st.stageWap(batch(10, 19), "w")
    val staged = fsOf(st).open(
      new org.apache.hadoop.fs.Path(st.path + "/_staged/s-w.list"))
    val listBytes = org.apache.commons.io.IOUtils.toByteArray(staged)
    staged.close()
    st.publishWap("w")
    assert(!exists(st, "_staged/s-w.list") && exists(st, "_staged/s-w.published"))
    // forge the crash window: list written back as if retirement never ran
    val out = fsOf(st).create(
      new org.apache.hadoop.fs.Path(st.path + "/_staged/s-w.list"), false)
    out.write(listBytes); out.close()
    st.recover()
    assert(!exists(st, "_staged/s-w.list"),
      "recover must retire the list of an acknowledged publish")
    assert(st.read().count() === 20L)
  }

  test("discard refuses a published id — its files are table data") {
    val st = freshStore("wap-refuse")
    st.commit(batch(0, 9))
    st.stageWap(batch(10, 19), "pub")
    st.publishWap("pub")
    intercept[IllegalArgumentException] { st.discardWap("pub") }
    assert(st.read().count() === 20L)
  }

  test("duplicate stage of a live id is refused") {
    val st = freshStore("wap-dup")
    st.commit(batch(0, 9))
    st.stageWap(batch(10, 19), "x")
    intercept[IllegalArgumentException] { st.stageWap(batch(20, 29), "x") }
    st.publishWap("x")
    intercept[IllegalArgumentException] { st.stageWap(batch(20, 29), "x") }
  }

  test("racing stages of one id: one winner, no interleaved files") {
    val st = freshStore("wap-race")
    st.commit(batch(0, 9))
    val gate = new java.util.concurrent.CountDownLatch(1)
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (1 to 2).map { i =>
      new Thread(() => {
        gate.await()
        try { st.stageWap(batch(10L * i, 10L * i + 9), "race"); outcomes.add("ok") }
        catch {
          case _: IllegalArgumentException => outcomes.add("refused")
          case _: java.util.ConcurrentModificationException => outcomes.add("lost")
        }
      })
    }
    threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
    assert(outcomes.size === 2)
    assert(outcomes.toArray.count(_ == "ok") === 1,
      s"exactly one stage must win (got ${outcomes.toArray.mkString(",")})")
    // the winner's batch is coherent: exactly 10 rows from ONE thread
    assert(st.readWapBatch("race").count() === 10L)
    // the loser's unique dir was cleaned (or never written); only the
    // winner's remains referenced
    st.publishWap("race")
    assert(st.read().count() === 20L)
  }

  test("expire retires a fully superseded published wap dir and its tombstone") {
    val st = freshStore("wap-expire")
    st.commit(batch(0, 9))
    st.stageWap(batch(10, 19), "old")
    st.publishWap("old")
    st.commitRewrite(batch(0, 29)) // supersedes every file
    st.expire(keepLast = 1)
    assert(wapDirs(st, "old").isEmpty,
      "expired published wap files leave an empty dir — swept")
    assert(!exists(st, "_staged/s-old.published"),
      "the tombstone retires with its dir")
    assert(st.read().count() === 30L)
  }

  test("publish through a writer with different stats columns aligns bounds by name") {
    val dir = tempDir("wap-align") + "/snap"
    val stager = new SnapshotStore(spark, dir, "id", secondaryStats = Seq("v"))
    val data = spark.range(0, 1000).select(
      col("id"), (col("id") * 2).cast("double").as("v"))
    stager.commit(data.filter(col("id") < 500)
      .repartitionByRange(4, col("id")))
    stager.stageWap(data.filter(col("id") >= 500)
      .repartitionByRange(4, col("id")), "b")
    // a publisher declaring the stats columns in a DIFFERENT order must
    // not re-label the stager's id-bounds as v-bounds
    val publisher = new SnapshotStore(spark, dir, "v", secondaryStats = Seq("id"))
    val v = publisher.publishWap("b")
    // id ∈ [600, 650]: a v-labeled id-bound would prune files that DO
    // contain these rows (v of those rows is 1200..1300)
    assert(publisher.readWhere(v, col("id").between(600, 650))
      .count() === 51L)
    assert(publisher.readWhere(v, col("v").between(1200.0, 1300.0))
      .count() === 51L)
  }

  test("a crashed discard's orphan bloom sidecar cannot wedge a re-stage") {
    val st = new SnapshotStore(spark, tempDir("wap-orphanbloom") + "/snap",
      "id", bloomCols = Seq("id"))
    st.commit(batch(0, 9))
    // forge the crash window: a bloom sidecar with no staged list
    val out = fsOf(st).create(new org.apache.hadoop.fs.Path(
      st.path + "/_staged/s-w.bloom"), false)
    out.write("#crc=0\n".getBytes); out.close()
    st.stageWap(batch(10, 19), "w") // must clear the orphan and claim
    st.publishWap("w")
    assert(st.read().count() === 20L)
  }

  test("waps() reports staged and published ids") {
    val st = freshStore("wap-meta")
    st.commit(batch(0, 9))
    st.stageWap(batch(10, 19), "a")
    st.stageWap(batch(20, 24), "b")
    st.publishWap("a")
    val rows = st.waps().orderBy("wap_id").collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("a", "b"))
    assert(rows(0).getBoolean(3) === true)
    assert(rows(1).getBoolean(3) === false)
    assert(rows(1).getLong(2) === 5L, "rows of a staged batch come from its list")
  }
}
