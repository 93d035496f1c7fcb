package graft

import org.apache.spark.sql.functions._

import graft.store.{SnapshotStore, ZOrder}

/** Morton-curve clustering: the interleave is bit-exact against a scalar
  * reference, the rewrite preserves content, and — the point — zone-map
  * pruning becomes effective on EVERY clustered dimension at once. The
  * k30 driver query proves content equality against DuckDB; these pin the
  * bit math and the file-skip census the oracle cannot see.
  */
class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  /** Scalar reference: the TOP usableBits(n) bits of dim i, bit b at
    * position b*n+i — mirrors the sign-bit-safe interleave.
    */
  private def mortonRef(xs: Seq[Long]): Long = {
    val n = xs.size
    val usable = ZOrder.usableBits(n)
    var z = 0L
    for (b <- 0 until usable; i <- 0 until n)
      z |= ((xs(i) >> (b + ZOrder.BitsPerDim - usable)) & 1L) << (b * n + i)
    z
  }

  test("interleave matches the scalar reference bit-for-bit (2 and 4 dims)") {
    val cases2 = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 65535L),
      (43690L, 21845L), (256L, 255L), (12345L, 54321L))
    val df2 = cases2.toDF("x", "y")
      .select(col("x"), col("y"),
        ZOrder.interleave(Seq(col("x"), col("y"))).as("z"))
    df2.collect().foreach { r =>
      assert(r.getLong(2) === mortonRef(Seq(r.getLong(0), r.getLong(1))))
    }
    val cases4 = Seq((1L, 2L, 3L, 4L), (65535L, 0L, 65535L, 0L),
      (11111L, 22222L, 33333L, 44444L))
    val df4 = cases4.toDF("a", "b", "c", "d")
    val z4 = df4.select(col("a"), col("b"), col("c"), col("d"),
      ZOrder.interleave(Seq(col("a"), col("b"), col("c"), col("d"))).as("z"))
    z4.collect().foreach { r =>
      assert(r.getLong(4) === mortonRef(
        Seq(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))))
      assert(r.getLong(4) >= 0L,
        "4-dim z-values must stay non-negative — a sign flip wraps the curve")
    }
  }

  test("z-locality: adjacent cells differ less in z than distant ones") {
    // the curve's defining property at the bit level: the high interleaved
    // bits partition space into quadrants, so points sharing a quadrant
    // are z-closer than points across quadrants
    val lowLeft = mortonRef(Seq(10L, 10L))
    val nearLowLeft = mortonRef(Seq(11L, 10L))
    val highRight = mortonRef(Seq(60000L, 60000L))
    assert(math.abs(nearLowLeft - lowLeft) < math.abs(highRight - lowLeft))
  }

  test("scale16 clamps, pins null/NaN to the origin, and spans [0, 65535]") {
    val df = Seq[(java.lang.Double, String)](
      (0.0, "lo"), (100.0, "hi"), (50.0, "mid"),
      (-5.0, "below"), (200.0, "above"),
      (Double.NaN, "nan"), (null, "null")).toDF("v", "tag")
    val out = df.select(col("tag"), ZOrder.scale16(col("v"), 0.0, 100.0).as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("lo") === 0L && out("hi") === 65535L)
    assert(out("mid") === 32768L || out("mid") === 32767L)
    assert(out("below") === 0L && out("above") === 65535L)
    assert(out("nan") === 0L && out("null") === 0L)
  }

  test("cluster preserves content exactly") {
    val df = spark.range(0, 5000).select(
      (col("id") % 100).as("x"), floor(col("id") / 100).as("y"),
      col("id").as("payload"))
    val clustered = ZOrder.cluster(df, Seq("x", "y"), 8)
    assert(clustered.columns.toSeq === df.columns.toSeq, "helper column must drop")
    val a = df.orderBy("payload").collect()
    val b = clustered.orderBy("payload").collect()
    assert(a.toSeq === b.toSeq)
  }

  test("clusterZOrder makes pruning effective on BOTH dimensions") {
    val st = new SnapshotStore(spark, tempDir("zorder") + "/snap",
      "x", secondaryStats = Seq("y"))
    // a 100×100 grid committed sorted by x alone: x-zones tight, y-zones
    // useless (every file spans all of y)
    val grid = spark.range(0, 10000).select(
      (col("id") % 100).as("x"), floor(col("id") / 100).as("y"))
    val v1 = st.commit(grid.repartitionByRange(16, col("x")))
    val (keptY0, total0) = st.planStatsWhere(v1, col("y").between(10.0, 15.0))
    assert(keptY0 === total0, "single-column layout cannot prune the other dim")
    val v2 = st.clusterZOrder(Seq("x", "y"), targetFiles = 16).get
    val (keptX, totalX) = st.planStatsWhere(v2, col("x").between(10.0, 15.0))
    val (keptY, totalY) = st.planStatsWhere(v2, col("y").between(10.0, 15.0))
    assert(totalX === 16 && totalY === 16)
    assert(keptX < totalX, s"x must still prune after clustering ($keptX/$totalX)")
    assert(keptY < totalY, s"y must prune after clustering ($keptY/$totalY)")
    // and the pruned reads are correct, not merely smaller
    assert(st.readWhere(v2, col("y").between(10, 15)).count() === 600L)
    assert(st.readAt(v2).count() === 10000L)
  }

  test("clusterZOrder refuses untracked columns") {
    val st = new SnapshotStore(spark, tempDir("zorder-untracked") + "/snap", "x")
    st.commit(Seq((1L, 2L)).toDF("x", "y"))
    intercept[IllegalArgumentException] {
      st.clusterZOrder(Seq("x", "y"), targetFiles = 2)
    }
  }
}
