package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** `factor_lookup(id)` — the factor vector of `id` in a driver-side
  * factor table carried inside the expression (as [[CosineTopN]] carries
  * its [[CosineMatrix]]), or NULL for an id the table does not hold.
  * It is how a gradient-descent epoch (`rec.GradientMF`) attaches each
  * fact row's user and item vectors without a join. The vector's
  * doubles are the table's bits, unchanged.
  */
case class FactorLookup(child: Expression, table: FactorTable)
    extends UnaryExpression {

  override def dataType: DataType = FactorTable.vectorType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case IntegerType | LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"factor_lookup requires an int or bigint id, got ${other.catalogString}")
  }

  override def nullSafeEval(id: Any): Any =
    table.row(id.asInstanceOf[Number].longValue)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the table rides the references array; each row makes one call
    val ref = ctx.addReferenceObj("factors", table, classOf[FactorTable].getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = ${c.isNull};
      ${CodeGenerator.javaType(dataType)} ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = $ref.row((long) ${c.value});
        ${ev.isNull} = ${ev.value} == null;
      }""")
  }

  override protected def withNewChildInternal(newChild: Expression): FactorLookup =
    copy(child = newChild)

  override def prettyName: String = "factor_lookup"
}

/** One factor table: a vector of `width` doubles per id, ids kept
  * sorted in one array and the vectors in one contiguous array (row r is
  * `flat(r·width until (r+1)·width)`), so a task deserializes it as two
  * blocks rather than one object per id. Its `toString` is one short
  * line, which keeps plan strings small. */
final class FactorTable private (
    /** Ids, ascending. */
    val ids: Array[Long],
    flat: Array[Double],
    val width: Int) extends Serializable {

  def size: Int = ids.length

  /** Row `r`'s vector as a fresh array. */
  def vector(r: Int): Array[Double] =
    java.util.Arrays.copyOfRange(flat, r * width, (r + 1) * width)

  /** `id`'s vector as an array value, or null if the table lacks `id`. */
  def row(id: Long): ArrayData = {
    val r = java.util.Arrays.binarySearch(ids, id)
    if (r < 0) null
    else UnsafeArrayData.fromPrimitiveArray(flat,
      Platform.DOUBLE_ARRAY_OFFSET + r * width * 8, width, 8)
  }

  /** Equality is identity; the hash is the table's shape. A plan's
    * expression hashes order its common subexpressions in the generated
    * code, so with an identity hash every epoch's model would give its
    * query new code text — a Janino compile and a cold JIT each epoch —
    * where with the shape's hash it reuses the cached class. */
  override def hashCode: Int = (ids.length, width).##

  override def toString: String = s"FactorTable(${ids.length} ids x $width)"
}

object FactorTable {
  val vectorType: DataType = ArrayType(DoubleType, containsNull = false)

  /** The table of the `(ids(i), rows(i))` pairs; every row must have
    * `width` elements and every id must be distinct. */
  def apply(ids: Array[Long], rows: Array[Array[Double]], width: Int): FactorTable = {
    require(ids.length == rows.length,
      s"factor table: ${ids.length} ids for ${rows.length} rows")
    require(ids.length.toLong * width * 8 < Int.MaxValue,
      s"factor table: ${ids.length} ids x $width exceed one 2 GiB array")
    val order = ids.indices.sortBy(ids(_)).toArray
    val flat = new Array[Double](ids.length * width)
    order.indices.foreach { r =>
      val v = rows(order(r))
      require(v.length == width,
        s"factor table: id ${ids(order(r))} has ${v.length} elements, not $width")
      if (r > 0) require(ids(order(r)) != ids(order(r - 1)),
        s"factor table: id ${ids(order(r))} repeats")
      System.arraycopy(v, 0, flat, r * width, width)
    }
    new FactorTable(order.map(ids), flat, width)
  }
}
