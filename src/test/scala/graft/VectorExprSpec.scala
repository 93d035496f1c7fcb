package graft

import org.apache.spark.sql.functions._

import graft.sim.Similarity

/** The native ArrayDot expression must match the interpreted HOF form
  * bit-for-bit (same left-to-right accumulation), survive codegen and
  * interpreted paths, and handle nulls/length mismatches.
  */
class VectorExprSpec extends SparkSpec {
  import spark.implicits._

  private def vecs = Seq(
    (1L, Seq(1.0f, 2.0f, 3.0f), Seq(4.0f, 5.0f, 6.0f)),
    (2L, Seq(0.1f, -0.2f, 0.3f), Seq(-0.4f, 0.5f, -0.6f)),
    (3L, Seq(1e10f, 1.0f, -1e10f), Seq(1.0f, 1.0f, 1.0f)) // order-sensitive sum
  ).toDF("id", "a", "b")

  test("native dot == HOF dot bit-for-bit, including order-sensitive sums") {
    val out = vecs.select(
      Similarity.dot(col("a"), col("b")).as("native"),
      Similarity.dotHof(col("a"), col("b")).as("hof")).collect()
    out.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("null input → null; works in interpreted mode too") {
    val df = Seq((Some(Seq(1.0, 2.0)), None: Option[Seq[Double]])).toDF("a", "b")
    assert(df.select(Similarity.dot(col("a"), col("b"))).collect()(0).isNullAt(0))
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val out = vecs.select(Similarity.dot(col("a"), col("b")).as("d")).collect()
      assert(out(0).getDouble(0) === 32.0)
    }
  }

  test("null elements and length mismatch → NULL, matching the HOF form") {
    // (id, a, b): null element on either side, and unequal lengths
    val df = Seq(
      (1L, Seq[java.lang.Double](1.0, null, 3.0), Seq[java.lang.Double](1.0, 1.0, 1.0)),
      (2L, Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](1.0, null)),
      (3L, Seq[java.lang.Double](1.0, 2.0, 3.0), Seq[java.lang.Double](1.0, 2.0)), // len mismatch
      (4L, Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0, 4.0))       // clean
    ).toDF("id", "a", "b")
    def run() = df.select(col("id"),
      Similarity.dot(col("a"), col("b")).as("native"),
      Similarity.dotHof(col("a"), col("b")).as("hof")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getDouble(1),
        if (r.isNullAt(2)) null else r.getDouble(2)))
    // codegen and interpreted paths must both match the HOF reference
    val both = run() ++ withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(run()).toSeq
    both.foreach { case (id, native, hof) =>
      assert(native === hof, s"id=$id")
      if (id == 4L) assert(native === 11.0) else assert(native === null)
    }
  }
}
