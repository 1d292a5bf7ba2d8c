package graft.functions

import java.time.Instant

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types.{DataType, TimestampType}

/** The sync path's wall clock: one timestamp (epoch micros), fixed when
  * the caller builds it, that every row of every plan holding it reads.
  *
  * `current_timestamp()` gives the same value per query, but Catalyst
  * folds it into a `TimestampType` literal and codegen writes that
  * literal into the generated Java as a `long` constant — so every
  * generated class carrying `updated_at` or a refetch stamp had new
  * source text each batch, and Spark's codegen cache could never reuse
  * it. This expression is not foldable and its generated code reads the
  * value from the references array (`ctx.addReferenceObj`), so the source
  * text is the same for every clock value and a warm batch compiles
  * nothing. `eval` returns the same value, for the interpreted paths
  * (a projection over a `LocalRelation` is evaluated at optimization time).
  */
case class WallClock(micros: Long) extends LeafExpression {

  override def dataType: DataType = TimestampType
  override def nullable: Boolean = false
  override def prettyName: String = "wall_clock"

  override def eval(input: InternalRow): Any = micros

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wallClock", micros, "java.lang.Long")
    ev.copy(code = code"final long ${ev.value} = $ref.longValue();", isNull = FalseLiteral)
  }
}

object WallClock {

  /** Column API: the current instant, fixed for every plan this column
    * is used in. Build one per batch and share it, so all of a batch's
    * stamps agree. */
  def now(): Column =
    GraftFunctions.toColumn(WallClock(DateTimeUtils.instantToMicros(Instant.now())))
}
