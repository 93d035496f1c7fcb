package graft.serve

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{Lineage, VariableResult}
import graft.serve.RequestValidation.EnvironmentalRequest

/** Typed serving failures — each maps to a distinct HTTP status in
  * [[HttpFront]], mirroring the reference's error taxonomy
  * (`serving-go/internal/api/handler.go:38-59`: 404 variable-not-found,
  * 504 deadline, 500 other).
  */
sealed trait ServeError { def message: String }
object ServeError {
  final case class Missing(vars: Seq[String]) extends ServeError {
    def message: String = s"no data for: ${vars.mkString(", ")}"
  }
  final case class Timeout(budgetSeconds: Long) extends ServeError {
    def message: String = s"query timed out after ${budgetSeconds}s"
  }
  final case class Failure(cause: Throwable) extends ServeError {
    def message: String =
      Option(cause.getMessage).getOrElse(cause.getClass.getName)
  }
}

/** T7 — per-query resource guard: run a Spark action under a wall-clock
  * budget; on expiry, cancel the whole job group (tasks are interrupted,
  * not orphaned) and report [[ServeError.Timeout]]. The Spark analog of the
  * reference's `max_execution_time=15` ClickHouse setting + 18 s request
  * context (`serving-go/cmd/serving/main.go:48-50`, `api/handler.go:38`).
  */
object Deadline {
  def run[T](spark: SparkSession, budget: java.time.Duration)(body: => T): Either[ServeError, T] = {
    val sc = spark.sparkContext
    val group = s"graft-deadline-${java.util.UUID.randomUUID()}"
    @volatile var out: Either[ServeError, T] = Left(ServeError.Timeout(budget.getSeconds))
    val runner = new Thread(() => {
      // job group is thread-local, so it must be set in the thread that
      // submits the jobs; interruptOnCancel reaches into running tasks
      sc.setJobGroup(group, "budgeted serving query", interruptOnCancel = true)
      try out = Right(body)
      catch { case e: Throwable => out = Left(ServeError.Failure(e)) }
      finally sc.clearJobGroup()
    }, group)
    runner.setDaemon(true)
    runner.start()
    // join(0) means wait-forever — a sub-millisecond budget must still be a
    // deadline, not the absence of one
    runner.join(math.max(1L, budget.toMillis))
    if (runner.isAlive) {
      // ...AndFutureJobs: plain cancelJobGroup only reaches jobs active at
      // this instant — a runner between jobs (planning, AQE stage boundary)
      // would submit the rest and run unbudgeted to completion
      sc.cancelJobGroupAndFutureJobs(group)
      runner.interrupt() // also break driver-side waits between jobs
      Left(ServeError.Timeout(budget.getSeconds))
    } else out
  }
}

/** The serving domain service (SURVEY.md §3.1 — reference:
  * `serving-go/internal/domain/environmental.go:41-97`).
  *
  * The reference fans out one goroutine per variable and fails the whole
  * request if ANY variable is missing (no partial responses,
  * `serving-go/README.md:59`). Here the fan-out collapses into ONE
  * aggregate per request — [[PointQuery.atPoint]], keyed by variable, with
  * the point as literals: no join, no broadcast — and the
  * fail-if-any-missing check happens on the ≤ |variables| collected rows.
  * Lineage is resolved ONCE per Service: `curated ⋈ raw_files` (both small
  * dimension catalogs) is collected at construction into an in-memory map
  * `catalogId → Lineage`, and each answer looks its catalogId up there; a
  * catalogId without a curated or raw-file row gets `lineage = None`.
  *
  * Snapshot contract: a Service answers from the grid files and catalog rows
  * that existed when it was built (the frames' file listings and the lineage
  * map are fixed then) — rebuild it after an ingest or a compaction.
  *
  * @param maxStaleness when set, a probe only snaps to grid data at most
  *   this much older than its requested timestamp. Bounds the as-of scan
  *   (unbounded, a snap reads every partition ≤ the probe time) at the cost
  *   of answering "no data" for probes whose freshest grid row is older than
  *   the horizon — the explicit trade the reference gets implicitly from its
  *   primary-key index + query budget.
  * @param queryBudget when set, the per-request wall-clock budget; on expiry
  *   the query's job group is cancelled and the request fails with
  *   [[ServeError.Timeout]] (T7).
  */
final class Service(finalView: DataFrame, curated: DataFrame, rawFiles: DataFrame,
    maxStaleness: Option[java.time.Duration] = None,
    queryBudget: Option[java.time.Duration] = None) {

  private val lineage: Map[String, Lineage] =
    curated.select(col("id").as("catalogId"), col("rawFileId"))
      .join(rawFiles.select(col("id").as("rawFileId"), col("source"), col("dataset")),
        "rawFileId")
      .filter(col("catalogId").isNotNull && col("source").isNotNull)
      .collect()
      .map(r => r.getAs[String]("catalogId") ->
        Lineage(r.getAs[String]("source"), r.getAs[String]("dataset"), r.getAs[String]("rawFileId")))
      .toMap

  /** The one plan that answers `req`. */
  private[graft] def plan(req: EnvironmentalRequest): DataFrame =
    PointQuery.atPoint(finalView, req.variables, Timestamp.from(req.timestamp),
      req.lat.toDouble, req.lon.toDouble, maxStaleness)

  def getVariables(req: EnvironmentalRequest): Either[ServeError, Seq[VariableResult]] = {
    val frame = plan(req)
    val collected = queryBudget match {
      case Some(b) => Deadline.run(finalView.sparkSession, b)(frame.collect())
      case None =>
        try Right(frame.collect())
        catch { case e: Throwable => Left(ServeError.Failure(e)) }
    }
    collected.flatMap { rows =>
      val answered = rows.map { r =>
        // the curated store is Float32, but tolerate double-typed frames
        def f(c: String): Float = r.getAs[Number](c).floatValue()
        val catalogId = r.getAs[String]("catalogId")
        r.getAs[String]("variable") -> VariableResult(
          name = r.getAs[String]("variable"),
          value = f("value"),
          unit = r.getAs[String]("unit"),
          refTimestamp = r.getAs[Timestamp]("refTimestamp"),
          actualLat = f("actualLat"),
          actualLon = f("actualLon"),
          catalogId = catalogId,
          lineage = lineage.get(catalogId))
      }.toMap
      val missing = req.variables.filterNot(answered.contains)
      if (missing.nonEmpty) Left(ServeError.Missing(missing))
      else Right(req.variables.map(answered))
    }
  }
}
