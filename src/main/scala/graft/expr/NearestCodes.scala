package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** `nearest_codes(vector)` — the PQ code word (Euclidean argmin per
  * subspace) of one vector against MODEL-SIZED per-subspace codebooks
  * carried inside the expression: output `array<int>` of `s` code ids,
  * one per subspace, ordered by subspace.
  *
  * This is [[NearestCells]]'s pattern (plan-carried model +
  * JIT-compiled per-row loop inside whole-stage codegen) applied to the
  * PQ ENCODE pass, and it exists for the same §8.12/§8.13 reason: the
  * relational encoder (`PqIndex.encode`) materializes
  * vectors × s × k joined rows and folds them back through a
  * `first(emb)` + struct-`min_by` aggregate — non-primitive buffers
  * downstream of a fan-out join, i.e. the exact SortAggregate shape
  * that cost the r16 serve build 290 s at 2M items. It stays the
  * oracle-mirrorable path for catalog-scale corpora (q109/q111's time);
  * this expression is the large-corpus encoder: O(N) rows, s·k·subDim
  * flops per row, no join, no shuffle, no aggregate.
  *
  * Metric: the serve ranks by COSINE, so codes must encode UNIT
  * vectors; the expression normalizes internally (one |v| pass per
  * row, division folded into the distance loop) so callers feed RAW
  * vectors and pay no interpreted higher-order normalize over the
  * corpus. A zero/NaN-norm vector is encoded unnormalized — every
  * subspace argmin is still deterministic (dist asc, code asc).
  *
  * Reference anchor: Jégou, Douze, Schmid 2011 (product quantization;
  * the IVFADC encode pass), FAISS IndexIVFPQ's `sa_encode`.
  */
case class NearestCodes(child: Expression,
                        codebooks: Seq[Seq[Array[Double]]])
    extends UnaryExpression {
  require(codebooks.nonEmpty, "nearest_codes: no codebooks")
  require(codebooks.forall(_.nonEmpty), "nearest_codes: empty codebook")
  // ragged centroids would AIOOBE mid-scan on executors; fail at
  // construction (= analysis time on the SQL surface) instead
  require(codebooks.forall(_.forall(_.length == codebooks.head.head.length)),
    "nearest_codes: codebook centroids must all have the same length (got " +
      codebooks.map(_.map(_.length).distinct.mkString("/")).mkString(", ") + ")")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_codes requires an array<float> or array<double> vector, " +
        s"got ${other.catalogString}")
  }

  @transient private lazy val elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val subDim: Int = codebooks.head.head.length
  @transient private lazy val cents: Array[Array[Array[Double]]] =
    codebooks.map(_.toArray).toArray

  /** Shared by interpreted eval and generated code. */
  def nearest(input: ArrayData): ArrayData = {
    val n = input.numElements()
    val v = new Array[Double](n)
    var vn = 0.0
    var i = 0
    while (i < n) {
      val x = if (elemIsFloat) input.getFloat(i).toDouble else input.getDouble(i)
      v(i) = x; vn += x * x; i += 1
    }
    vn = math.sqrt(vn)
    val inv = if (vn > 0.0 && !java.lang.Double.isNaN(vn)) 1.0 / vn else 1.0
    val s = cents.length
    val out = new Array[Int](s)
    var sub = 0
    while (sub < s) {
      val cb = cents(sub)
      val off = sub * subDim
      var bestD = Double.PositiveInfinity
      var bestC = -1
      var k = 0
      while (k < cb.length) {
        val c = cb(k)
        var d = 0.0
        var j = 0
        while (j < subDim) {
          val x = (if (off + j < n) v(off + j) * inv else 0.0) - c(j)
          d += x * x; j += 1
        }
        // code id = codebook index; strict < keeps the first (lowest)
        // index on ties, and NaN distances (NaN input elements) never
        // beat bestD so the fallback code 0 stays deterministic
        if (d < bestD) { bestD = d; bestC = k }
        k += 1
      }
      out(sub) = if (bestC < 0) 0 else bestC
      sub += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    nearest(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val selfRef = ctx.addReferenceObj("nearestCodes", this, classOf[NearestCodes].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $selfRef.nearest($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCodes =
    copy(child = newChild)

  override def prettyName: String = "nearest_codes"
}
