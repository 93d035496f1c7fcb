package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

import graft.store.SnapshotStore

/** Pruning soundness of the snapshot store's one predicate planner,
  * checked by fixed-seed properties over a store that exercises every
  * metadata shape the planner reads: ref groups plus a (legacy) inline
  * group, NaN and null values in tracked columns, a column tracked only
  * from a later commit, and a store reopened with a different primary
  * stats column. Pruning may only ever skip files, never change answers.
  */
class PruneSoundnessSpec extends SparkSpec {

  private def check(p: Prop, n: Int): Unit = {
    val result = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(n).withInitialSeed(Seed(20261017L)), p)
    assert(result.passed, result.status.toString)
  }

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("k", StringType), StructField("v", DoubleType),
    StructField("w", LongType), StructField("u", DoubleType)))

  /** id-keyed rows: `v` carries NaN and null, `w` and `k` carry nulls,
    * `u` is never zone-tracked.
    */
  private def rows(lo: Long, hi: Long): DataFrame = spark.range(lo, hi).select(
    col("id"),
    when(col("id") % 11 =!= 0, concat(lit("k"), (col("id") % 17).cast("string")))
      .as("k"),
    when(col("id") % 37 === 0, lit(Double.NaN))
      .when(col("id") % 41 === 0, lit(null).cast("double"))
      .otherwise(col("id") * 0.5).as("v"),
    when(col("id") % 13 =!= 0, col("id") % 100).as("w"),
    ((col("id") * 7919) % 1000).cast("double").as("u"))

  private def fsOf(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readText(dir: String, rel: String): Seq[String] = {
    val in = fsOf(dir).open(new Path(s"$dir/$rel"))
    try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      .split("\n").toSeq.filter(_.nonEmpty)
    finally in.close()
  }

  private def writeText(dir: String, rel: String, lines: Seq[String]): Unit = {
    val out = fsOf(dir).create(new Path(s"$dir/$rel"), true)
    try out.write(lines.mkString("\n").getBytes("UTF-8")) finally out.close()
  }

  private def crcOf(body: Seq[String]): String = {
    val crc = new java.util.zip.CRC32
    crc.update(body.mkString("\n").getBytes("UTF-8"))
    java.lang.Long.toHexString(crc.getValue)
  }

  /** Commit version `v + 1` as a legacy manifest: `v`'s list with its
    * newest group's entries written INLINE instead of referenced.
    */
  private def forgeInline(dir: String, v: Long): Long = {
    val list = readText(dir, f"_manifests/v$v%05d.manifest")
    val stats = list.find(_.startsWith("#stats=")).get
    val refs = list.filter(_.startsWith("@"))
    val (ref, entries) = refs.reverseIterator.map { r =>
      val name = r.stripPrefix("@").split("\t")(0)
      (r, readText(dir, s"_manifests/$name"))
    }.find(_._2.contains(stats)).getOrElse(
      fail("no group shares the list's stats header"))
    val body = refs.filterNot(_ == ref) ++ entries.filterNot(_.startsWith("#"))
    val header = list.filter(l => l.startsWith("#") && !l.startsWith("#crc="))
    val next = v + 1
    writeText(dir, f"_manifests/v$next%05d.manifest",
      (header :+ s"#crc=${crcOf(body)}") ++ body)
    writeText(dir, "_latest", Seq(next.toString))
    next
  }

  /** Sorted row renderings — a multiset compare that treats NaN == NaN. */
  private def bag(df: DataFrame): Seq[String] =
    df.select("id", "k", "v", "w", "u").collect().map(_.toString).toSeq.sorted

  // the store under test, built once: four commits through three store
  // objects, then a forged legacy version on top
  private lazy val built: (SnapshotStore, Seq[Long]) = {
    val dir = tempDir("prune-prop") + "/snap"
    val st1 = new SnapshotStore(spark, dir, "id", secondaryStats = Seq("v"))
    st1.commit(rows(0, 300).repartitionByRange(4, col("id")))
    st1.commit(rows(300, 600).repartition(3))
    // w tracked from here on: older files carry no bounds for it
    val st2 = new SnapshotStore(spark, dir, "id", secondaryStats = Seq("v", "w"))
    st2.commit(rows(600, 900).repartitionByRange(3, col("w")))
    // reopened with a different primary stats column
    val st3 = new SnapshotStore(spark, dir, "v", secondaryStats = Seq("id", "w"))
    val v4 = st3.commit(rows(900, 1200).repartitionByRange(4, col("v")))
    val v5 = forgeInline(dir, v4)
    (st3, (1L to v5))
  }

  private val bound: Gen[Double] = Gen.frequency(
    6 -> Gen.choose(-50.0, 1250.0).map(d => math.rint(d * 2) / 2),
    1 -> Gen.const(Double.NaN),
    1 -> Gen.const(Double.NegativeInfinity),
    1 -> Gen.const(Double.PositiveInfinity))

  test("readWhere equals readAt.where for random ranges on tracked and untracked columns") {
    val (st, versions) = built
    val cases = for {
      v <- Gen.oneOf(versions)
      c <- Gen.oneOf("id", "v", "w", "u")
      a <- bound
      b <- bound
    } yield {
      // order the bounds as Spark does (NaN above every double)
      val (lo, hi) = if (java.lang.Double.compare(a, b) <= 0) (a, b) else (b, a)
      (v, c, lo, hi)
    }
    check(Prop.forAll(cases) { case (v, c, lo, hi) =>
      val p: Column = col(c) >= lo && col(c) <= hi
      val (kept, total) = st.planStatsWhere(v, p)
      val same = bag(st.readWhere(v, p)) == bag(st.readAt(v).where(p))
      Prop(kept <= total && same) :| s"v$v $c in [$lo, $hi]: kept $kept/$total"
    }, n = 12)
  }

  test("merge equals keep-latest over read() union delta for random deltas") {
    val (st, _) = built
    // (id, v) payloads: v repeats the table's value (so an (id, v)-keyed
    // merge can match), is random, NaN (equal to NaN as a join key) or null
    // (never matches)
    val deltaRow: Gen[(Long, Any, Any)] = for {
      id <- Gen.frequency(4 -> Gen.choose(0L, 1199L), 1 -> Gen.choose(1200L, 1400L))
      v <- Gen.frequency(4 -> Gen.const(id * 0.5), 2 -> Gen.choose(-10.0, 700.0),
        1 -> Gen.const(Double.NaN), 1 -> Gen.const(null))
      w <- Gen.frequency(4 -> Gen.choose(0L, 99L), 1 -> Gen.const(null))
    } yield (id, v, w)
    val cases = for {
      keys <- Gen.oneOf(Seq("id"), Seq("id", "v"))
      rs <- Gen.nonEmptyListOf(deltaRow)
    } yield (keys, rs.groupBy(_._1).values.map(_.head).toSeq.sortBy(_._1)
      .map { case (id, v, w) => Row(id, "delta", v, w, -1.0) })
    // positional over (id, k, v, w, u); a null key part never matches
    def keyOf(keys: Seq[String], r: Row): Option[Seq[String]] = {
      val at = keys.map(Map("id" -> 0, "v" -> 2))
      if (at.exists(r.isNullAt)) None else Some(at.map(r.get(_).toString))
    }
    check(Prop.forAll(cases) { case (keys, drows) =>
      val delta = spark.createDataFrame(
        spark.sparkContext.parallelize(drows, 2), schema)
      val dKeys = drows.flatMap(keyOf(keys, _)).toSet
      val expected = (st.read().select("id", "k", "v", "w", "u").collect().toSeq
        .filterNot(r => keyOf(keys, r).exists(dKeys)) ++ drows)
        .map(_.toString).sorted
      st.merge(delta, keys)
      Prop(bag(st.read()) == expected) :|
        s"keys $keys, delta ${drows.mkString(" ")}"
    }, n = 3)
  }
}
