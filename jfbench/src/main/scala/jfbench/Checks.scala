package jfbench

import java.sql.Date

import org.apache.spark.sql.functions._

/** Output checks of the `etl_day` workload. Every check that fails counts
  * one failure; the first messages are kept for the detail file.
  */
final class Checks(ctx: Ctx) {
  private val failures = new java.util.concurrent.atomic.AtomicLong
  private val msgs = scala.collection.mutable.ArrayBuffer.empty[String]

  def failed: Long = failures.get
  def messages: Seq[String] = msgs.take(20).toSeq
  def fail(msg: String): Unit = { failures.incrementAndGet(); msgs.synchronized(msgs += msg); () }
  private def expect(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)

  /** After all daily runs, in two queries over the store:
    *   - each run returned its expected row count and variables;
    *   - each (source, date) holds one full grid per (variable, step) in the
    *     FINAL view, under catalog ids equal to the curated ids its last run
    *     returned — so a re-ingested date keeps its FINAL counts;
    *   - compaction left only the latest run's rows of each (source, date).
    */
  def runs(st: Stores, done: Seq[(DayRun, RunOut)]): Unit = {
    done.zipWithIndex.foreach { case ((d, out), i) =>
      val rows = if (ctx.corrupt && i == 0) out.rows + 1 else out.rows
      val what = s"${d.source.name} ${d.fields.date}"
      expect(rows == d.source.rowsPerFile, s"$what: stored $rows rows, expected ${d.source.rowsPerFile}")
      expect(out.variables == d.source.storedVariables, s"$what: variables ${out.variables}")
    }
    val slices = st.grids.finalView()
      .groupBy("date", "variable", "timestamp", "catalogId").count().collect()
      .map(r => (r.getDate(0).toString, r.getString(1), r.getTimestamp(2).getTime, r.getString(3), r.getLong(4)))
    val raw = st.grids.raw().groupBy("date", "variable", "insertedAt").count().collect()
      .map(r => (r.getDate(0).toString, r.getString(1), r.getTimestamp(2), r.getLong(3)))
    done.groupBy { case (d, _) => (d.source.name, d.fields.date) }.foreach { case ((src, date), rs) =>
      val (d, out) = rs.last
      val mine = slices.filter(s => s._1 == date.toString && d.source.storedVariables.contains(s._2))
      val steps = d.source.stepHours.map(d.fields.stepMillis).toSet
      expect(mine.length == d.source.storedVariables.length * steps.size &&
        mine.forall(s => s._5 == d.source.storedPoints && steps(s._3)),
        s"$src $date: FINAL slices ${mine.map(s => (s._2, s._5)).mkString(",")}")
      expect(mine.map(_._4).toSet == out.curatedKeys.toSet && out.curatedKeys.distinct == out.curatedKeys,
        s"$src $date: curated ids differ from the grid's catalog ids")
      val versions = raw.filter(r => r._1 == date.toString && d.source.storedVariables.contains(r._2))
      expect(versions.forall(_._3 == d.insertedAt) && versions.map(_._4).sum == d.source.rowsPerFile,
        s"$src $date: compacted rows by insertedAt ${versions.map(v => (v._3, v._4)).mkString(",")}")
    }
  }

  /** Two stores hold the same FINAL rows for `date`. */
  def sameRows(a: Stores, b: Stores, date: Date): Unit = {
    def digest(st: Stores) = st.grids.finalView().filter(col("date") === lit(date)).drop("date")
      .select(xxhash64(col("*")).as("h")).agg(count(lit(1)), expr("bit_xor(h)"))
      .collect()(0)
    val (x, y) = (digest(a), digest(b))
    expect(x == y, s"replay stored $x, DailyJob.run stored $y")
  }
}
