package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** `nearest_cells(vector)` — the `nprobe` cosine-nearest centroid ids for
  * one vector, against a MODEL-SIZED centroid table carried inside the
  * expression (score desc, cid asc; a degenerate cosine — zero vector,
  * length mismatch, or a NaN input element — ranks as −1.0, i.e. worst).
  *
  * The centroids live as ONE plan-carried object (`Array[Array[Double]]`,
  * ≤ 4096 × dim doubles ≈ 2 MB at the serve's cap) referenced from
  * generated code via `addReferenceObj`, and the per-row work is a tight
  * JIT-compiled argmax loop — no join, no shuffle, no aggregate, and no
  * N×K row materialization anywhere, at any K.
  *
  * It is the IVF serve's one cosine router, in two roles:
  *
  *  - the serve-index BUILDS (cached and partitioned) assign every
  *    catalog item to its cell in one streaming scan — O(N·K·d) flops
  *    but O(N) rows, replacing the r16 build's materialized |catalog|×K cross join +
  *    two-pass argmax (4 billion scored rows at 2M items × K=2000, plus
  *    a catalog-sized `best` broadcast that Spark's broadcast limits
  *    would kill long before 100 TB);
  *  - the per-micro-batch USER ROUTING becomes a pure projection —
  *    users rows out, no `first(array)`-buffered aggregate (the
  *    SURVEY §8.12 SortAggregate trap the r16 routing still carried)
  *    and nothing for a second evaluation to recompute expensively.
  *
  * Scoring is [[CosineSimilarity]]'s math verbatim (dot/(|v|·|c|),
  * double accumulation in index order) with the same null semantics
  * mapped to −1.0, so an item's own cell is by construction its probe's
  * top-1 — the self-retrieval contract AnnServeSpec pins. The loop is
  * [[CosineMatrix]]'s, the kernel the exact serve ([[CosineTopN]]) runs
  * too; centroid norms are precomputed once per expression instance, so
  * each row pays K·d multiply-adds for the dots only.
  *
  * Reference anchor: the reference scores ALL movies per event
  * (`/root/reference/src/streaming/streaming_rec.py:106-114`); this
  * expression is the routing half of the IVF serve that replaces that
  * full scan (Jégou et al. 2011's coarse quantizer, FAISS's nlist≈√N
  * sizing).
  */
case class NearestCells(child: Expression,
                        centroids: Seq[(Int, Array[Double])],
                        nprobe: Int)
    extends UnaryExpression {
  require(centroids.nonEmpty, "nearest_cells: empty centroid table")
  require(nprobe >= 1, s"nearest_cells: nprobe must be >= 1, got $nprobe")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = child.nullable

  /** `nearest_cells` sits on the SQL surface (GraftExtensions), where a
    * wrong-typed first argument would otherwise surface as an executor
    * ClassCastException; reject it at analysis time instead (ADVICE
    * r17 — CosineSimilarity's helper-enforced contract doesn't cover
    * the injected SQL path). */
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_cells requires an array<float> or array<double> vector, " +
        s"got ${other.catalogString}")
  }

  @transient private lazy val elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val matrix: CosineMatrix = CosineMatrix(
    centroids.map(_._1.toLong).toArray, centroids.map(_._2).toArray)

  /** Shared by interpreted eval and generated code, so the two paths are
    * the same machine code: top-`nprobe` selection by (cos desc, cid asc)
    * over the carried centroids, in [[CosineMatrix]]'s kernel under its
    * −1.0 policy. A NaN cosine (a NaN element in the input vector makes
    * every dot NaN) is mapped to the same −1.0 sentinel as a degenerate
    * pair BEFORE insertion, so every slot fills with a real cid. With
    * every score −1.0 the result is the `nprobe` lowest cids,
    * deterministic. */
  def nearest(input: ArrayData): ArrayData = {
    val np = math.min(nprobe, matrix.size)
    val topS = new Array[Double](np)
    val topI = new Array[Int](np)
    matrix.top(CosineMatrix.read(input, elemIsFloat), np,
      worstDegenerate = true, topS, topI)
    new GenericArrayData(topI.map(i => matrix.ids(i).toInt))
  }

  override def nullSafeEval(input: Any): Any =
    nearest(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the whole expression instance (matrix + norms + nprobe) rides the
    // references array; per row the generated code makes one virtual
    // call into the JIT-compiled kernel loop — the codegen span
    // around it (scan, downstream projections) is preserved
    val selfRef = ctx.addReferenceObj("nearestCells", this, classOf[NearestCells].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = $selfRef.nearest($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCells =
    copy(child = newChild)

  override def prettyName: String = "nearest_cells"
}
