package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.CalendarInterval

/** `time_bucket(width, ts)` — floor `ts` to a fixed-width bucket, the
  * TimescaleDB/DuckDB-style bucketing function the reference exposes
  * (Basekick-Labs/arc rewrites it to epoch arithmetic before handing SQL
  * to DuckDB, internal/api/query.go:366-443). Implemented as a native
  * Catalyst expression with whole-stage codegen: pure int64 microsecond
  * arithmetic, no date-part decomposition, so it stays inside
  * WholeStageCodegen spans (the Spark analog of the reference's claimed
  * 2.5x epoch-math rewrite).
  *
  * Semantics (microsecond precision, UTC):
  *   bucket(ts) = floorDiv(micros(ts), widthUs) * widthUs
  * Floor (not truncate) division, so pre-epoch timestamps bucket
  * correctly — matching DuckDB's `//` used by the reference's rewrite.
  *
  * Month/year-width intervals are not fixed-width; callers use
  * `date_trunc` for those (the reference likewise leaves months native).
  */
case class TimeBucket(width: Expression, ts: Expression)
    extends BinaryExpression {

  override def left: Expression = width
  override def right: Expression = ts
  override def dataType: DataType = TimestampType
  override def prettyName: String = "time_bucket"

  override def checkInputDataTypes(): TypeCheckResult = {
    val widthOk = width.dataType match {
      case CalendarIntervalType | LongType | _: DayTimeIntervalType => true
      case _ => false
    }
    val tsOk = ts.dataType == TimestampType
    if (widthOk && tsOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"time_bucket expects (interval|bigint micros, timestamp), got " +
        s"(${width.dataType.simpleString}, ${ts.dataType.simpleString})")
  }

  override def nullSafeEval(w: Any, t: Any): Any =
    TimeBucket.bucket(TimeBucket.widthMicros(w), t.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = "graft.functions.TimeBucket"
    defineCodeGen(ctx, ev, (w, t) =>
      s"$cls.bucket($cls.widthMicros($w), $t)")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(width = l, ts = r)
}

object TimeBucket {
  /** Also called from generated code (via the static forwarders). */
  def widthMicros(w: Any): Long = w match {
    case ci: CalendarInterval =>
      if (ci.months != 0)
        throw new IllegalArgumentException(
          "time_bucket: month-width intervals are not fixed-width; use date_trunc")
      ci.days * 86400000000L + ci.microseconds
    case us: java.lang.Long => us.longValue()
  }

  def bucket(widthUs: Long, tsUs: Long): Long =
    Math.floorDiv(tsUs, widthUs) * widthUs

  /** DataFrame-API form; requires the GraftFunctions extension on the
    * session (see HarnessSession).
    * e.g. `time_bucket(expr("INTERVAL '1' HOUR"), col("ts"))`. */
  def time_bucket(width: Column, ts: Column): Column =
    call_function("time_bucket", width, ts)
}
