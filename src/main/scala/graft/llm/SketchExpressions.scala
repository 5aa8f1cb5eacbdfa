package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.{BloomFilter, CountMinSketch}

/** Native probe expressions over driver-built sketches.
  *
  * `df.stat.countMinSketch` / `df.stat.bloomFilter` return sketch
  * objects with no public Column-level probe (Spark's own
  * BloomFilterMightContain is internal to runtime-filter injection),
  * so the probes previously ran as Scala UDFs — O(1) per row but
  * outside whole-stage codegen, forcing a codegen fence around every
  * stage they touched. These expressions carry the sketch into the
  * generated code as a reference object (`ctx.addReferenceObj`, the
  * same mechanism Spark uses to ship literal arrays), so the probe is
  * a direct method call inside the stage loop. The sketch serializes
  * once per executor with the plan, not per row; both sketch impls
  * are java-Serializable (they already rode the UDF closure).
  */
case class CountMinEstimateExpr(child: Expression,
    sketch: CountMinSketch) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    sketch.estimateCount(java.lang.Long.valueOf(
      input.asInstanceOf[Long]))
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cms", sketch,
      classOf[CountMinSketch].getName)
    defineCodeGen(ctx, ev,
      c => s"$ref.estimateCount(java.lang.Long.valueOf($c))")
  }
  override protected def withNewChildInternal(newChild: Expression)
      : CountMinEstimateExpr = copy(child = newChild)
}

/** boolean might-contain probe of a long against a bloom filter. */
case class BloomMightContainExpr(child: Expression,
    filter: BloomFilter) extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override protected def nullSafeEval(input: Any): Any =
    filter.mightContainLong(input.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloom", filter,
      classOf[BloomFilter].getName)
    defineCodeGen(ctx, ev, c => s"$ref.mightContainLong($c)")
  }
  override protected def withNewChildInternal(newChild: Expression)
      : BloomMightContainExpr = copy(child = newChild)
}

/** boolean membership probe of a long in a sorted `long[]` (binary
  * search). The set rides the plan as a reference object, so the
  * generated code is the same text for every set.
  */
case class LongSetContainsExpr(child: Expression,
    sorted: Array[Long]) extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override protected def nullSafeEval(input: Any): Any =
    java.util.Arrays.binarySearch(sorted, input.asInstanceOf[Long]) >= 0
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("longSet", sorted, "long[]")
    defineCodeGen(ctx, ev,
      c => s"(java.util.Arrays.binarySearch($ref, $c) >= 0)")
  }
  override def toString: String =
    s"long_set_contains($child, ${sorted.length} keys)"
  override protected def withNewChildInternal(newChild: Expression)
      : LongSetContainsExpr = copy(child = newChild)
}

object SketchColumns {
  import org.apache.spark.sql.graftglue.ColumnBridge.{column, expression}
  def countMinEstimate(c: Column, sketch: CountMinSketch): Column =
    column(CountMinEstimateExpr(expression(c), sketch))
  def bloomMightContain(c: Column, filter: BloomFilter): Column =
    column(BloomMightContainExpr(expression(c), filter))
  def longSetContains(c: Column, sorted: Array[Long]): Column =
    column(LongSetContainsExpr(expression(c), sorted))
}
