package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

import graft.store.Bucketing

/** Co-located joins: both sides bucketed on the join key ⇒ the physical plan
  * contains no shuffle on either side.
  */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  // string-count: AQE wraps plans in AdaptiveSparkPlanExec, which TreeNode
  // .collect does not descend into
  private def countShuffles(plan: SparkPlan): Int =
    "ShuffleExchange|Exchange hashpartitioning".r
      .findAllIn(plan.toString).length

  test("bucketed big-big equi-join plans with zero Exchange") {
    val left = (1L to 10000L).map(i => (i, s"name-$i")).toDF("id", "name")
    val right = (1L to 10000L).map(i => (i, i * 2.0)).toDF("id", "score")
    Bucketing.writeBucketed(left, "b_left", Seq("id"), 8, sortCols = Seq("id"))
    Bucketing.writeBucketed(right, "b_right", Seq("id"), 8, sortCols = Seq("id"))
    try {
      val joined = spark.table("b_left").join(spark.table("b_right"), "id")
        .filter(col("score") > 10.0)
      // disable broadcast so the co-location does the work a big-big join needs
      val n = withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val plan = joined.queryExecution.executedPlan
        assert(joined.count() === 9995L)
        countShuffles(plan)
      }
      assert(n === 0, "bucketed join must not shuffle either side")
      // the unbucketed control DOES shuffle
      val control = withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        countShuffles(left.join(right, "id").queryExecution.executedPlan)
      }
      assert(control > 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_left")
      spark.sql("DROP TABLE IF EXISTS b_right")
    }
  }

  test("bucket-key aggregation also avoids the shuffle") {
    val df = (1L to 1000L).map(i => (i % 100, i.toDouble)).toDF("k", "v")
    Bucketing.writeBucketed(df, "b_agg", Seq("k"), 4)
    try {
      val agg = spark.table("b_agg").groupBy("k").agg(sum("v"))
      assert(countShuffles(agg.queryExecution.executedPlan) === 0,
        "grouping on the bucket key reuses the bucketing")
      assert(agg.count() === 100L)
    } finally spark.sql("DROP TABLE IF EXISTS b_agg")
  }

  test("coLocatedJoin resolves identically-named keys on both sides") {
    // regression: bare col() refs made the COMMON case — both tables
    // bucketed on the same column name — fail as an ambiguous reference
    val users = (1L to 200L).map(i => (i, s"u$i")).toDF("user_id", "name")
    val events = (1L to 400L).map(i => (i % 200 + 1, i)).toDF("user_id", "event_id")
    Bucketing.writeBucketed(users, "b_users", Seq("user_id"), 4, sortCols = Seq("user_id"))
    Bucketing.writeBucketed(events, "b_events", Seq("user_id"), 4, sortCols = Seq("user_id"))
    try {
      val joined = Bucketing.coLocatedJoin(spark, "b_users", "user_id",
        "b_events", "user_id")
      assert(joined.count() === 400L)
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_users")
      spark.sql("DROP TABLE IF EXISTS b_events")
    }
  }
}
