package graft.functions

import java.security.SecureRandom

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.{DataType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** C6 — UUIDv7 generator (time-ordered, RFC 9562).
  *
  * The reference assigns one UUIDv7 per `(variable, timestamp)` grid slice and
  * per ingestion run, app-side (`defs/assets.py:105,206`; Go side
  * `testutil/clickhouse.go:43`). Run ids are minted on the driver; slice ids
  * are minted inside the plan by [[SliceId]], a pure function of the slice,
  * so every row of a slice gets the same id with no collect and no join.
  */
object UuidV7 {
  private val rng = new SecureRandom()
  private val hex = "0123456789abcdef".toCharArray

  def generate(): String = generate(System.currentTimeMillis())

  /** Deterministic timestamp component, random tail. */
  def generate(epochMillis: Long): String = {
    val bytes = new Array[Byte](16)
    rng.nextBytes(bytes)
    putMillis(bytes, epochMillis)
    bytes(6) = ((bytes(6) & 0x0f) | 0x70).toByte // version 7
    bytes(8) = ((bytes(8) & 0x3f) | 0x80).toByte // variant 10
    format(bytes)
  }

  /** Fully deterministic variant for tests/fixtures: tail derived from a seed. */
  def deterministic(epochMillis: Long, seed: Long): String = {
    var h = seed * 0x9e3779b97f4a7c15L + epochMillis
    h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
    h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
    h ^= h >>> 31
    val bytes = new Array[Byte](16)
    var i = 0
    while (i < 8) { bytes(8 + i) = (h >>> (56 - 8 * i)).toByte; i += 1 }
    putMillis(bytes, epochMillis)
    bytes(6) = ((h & 0x0f) | 0x70).toByte
    bytes(8) = ((bytes(8) & 0x3f) | 0x80).toByte
    format(bytes)
  }

  /** Catalog id of the `(variable, timestamp)` slice, `timestamp` in Spark's
    * internal microseconds. The id is `deterministic(ms, (hash << 20) ^ ms)`
    * with `hash` the Java `String` hash of the variable and `ms` the
    * `getTime` of the `java.sql.Timestamp` a collect of that value returns
    * (floor milliseconds, Julian-rebased before the Gregorian switch).
    * Shared by [[SliceId]]'s interpreted and generated code.
    */
  def sliceId(variable: UTF8String, micros: Long): UTF8String = {
    val ms = DateTimeUtils.toJavaTimestamp(micros).getTime
    UTF8String.fromString(
      deterministic(ms, (variable.toString.hashCode.toLong << 20) ^ ms))
  }

  /** Column API for [[SliceId]]. */
  def sliceId(variable: Column, timestamp: Column): Column =
    Bridge.column(SliceId(Bridge.expression(variable), Bridge.expression(timestamp)))

  // 48-bit big-endian unix millis
  private def putMillis(bytes: Array[Byte], epochMillis: Long): Unit = {
    bytes(0) = (epochMillis >>> 40).toByte
    bytes(1) = (epochMillis >>> 32).toByte
    bytes(2) = (epochMillis >>> 24).toByte
    bytes(3) = (epochMillis >>> 16).toByte
    bytes(4) = (epochMillis >>> 8).toByte
    bytes(5) = epochMillis.toByte
  }

  private def format(bytes: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(36)
    var i = 0
    while (i < 16) {
      if (i == 4 || i == 6 || i == 8 || i == 10) sb.append('-')
      sb.append(hex((bytes(i) >>> 4) & 0xf)).append(hex(bytes(i) & 0xf))
      i += 1
    }
    sb.toString
  }
}

/** Native Catalyst expression minting a slice's catalog id in the plan
  * ([[UuidV7.sliceId]]). NULL in either input yields NULL.
  */
case class SliceId(variable: Expression, timestamp: Expression)
    extends BinaryExpression {

  override def left: Expression = variable
  override def right: Expression = timestamp

  override def checkInputDataTypes(): TypeCheckResult =
    (variable.dataType, timestamp.dataType) match {
      case (StringType, TimestampType) => TypeCheckResult.TypeCheckSuccess
      case (v, t) => TypeCheckResult.TypeCheckFailure(
        s"graft_slice_id expects (string, timestamp), got (${v.simpleString}, ${t.simpleString})")
    }

  override def dataType: DataType = StringType

  override def prettyName: String = "graft_slice_id"

  override protected def nullSafeEval(v: Any, ts: Any): Any =
    UuidV7.sliceId(v.asInstanceOf[UTF8String], ts.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, ts) => s"graft.functions.UuidV7.sliceId($v, $ts)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(variable = newLeft, timestamp = newRight)
}
