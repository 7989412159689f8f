package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** `cosine_top_n(vector)` — one interest vector's exact top-`n` items
  * against an item catalog carried inside the expression, as an array of
  * `(_1: score, _2: itemId)` structs, best first: the exact serve's
  * ranking (`StreamOps.topNForUsers`) as a projection instead of a
  * users × catalog cross join ranked by a [[TopKPairs]] aggregate.
  *
  * The contract is the cross-join form's, pair for pair: scores are
  * [[CosineSimilarity]]'s bits, a pair whose `cosine_similarity` is
  * NULL (length mismatch, zero norm, null features) is dropped, ranking
  * is `java.lang.Double.compare` descending (NaN largest) then itemId
  * ascending, and `n` past the catalog returns every scored item. A null
  * vector yields NULL (no rows under `posexplode`). The loop is
  * [[CosineMatrix]]'s, the kernel [[NearestCells]] routes with.
  *
  * Reference anchor: the reference scores every movie per event
  * (its `src/streaming/streaming_rec.py:106-114`).
  */
case class CosineTopN(child: Expression, items: CosineMatrix, n: Int)
    extends UnaryExpression {
  require(n >= 1, s"cosine_top_n: n must be >= 1, got $n")

  override def dataType: DataType = CosineTopN.resultType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"cosine_top_n requires an array<float> or array<double> vector, " +
        s"got ${other.catalogString}")
  }

  @transient private lazy val elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** Shared by interpreted eval and generated code. */
  def topN(input: ArrayData): ArrayData = {
    val k = math.min(n, items.size)
    val topS = new Array[Double](k)
    val topI = new Array[Int](k)
    val m = items.top(CosineMatrix.read(input, elemIsFloat), k,
      worstDegenerate = false, topS, topI)
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      out(i) = InternalRow(topS(i), items.ids(topI(i)))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    topN(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // as NearestCells: the instance (catalog + norms + n) rides the
    // references array and each row makes one call into the kernel
    val selfRef = ctx.addReferenceObj("cosineTopN", this, classOf[CosineTopN].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $selfRef.topN($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): CosineTopN =
    copy(child = newChild)

  override def prettyName: String = "cosine_top_n"
}

object CosineTopN {
  /** `array<struct<_1: score double, _2: itemId bigint>>` — the element
    * shape [[TopKPairs]] emits, so both rankings share one explode. */
  val resultType: DataType = ArrayType(StructType(Seq(
    StructField("_1", DoubleType, nullable = false),
    StructField("_2", LongType, nullable = false))), containsNull = false)
}
