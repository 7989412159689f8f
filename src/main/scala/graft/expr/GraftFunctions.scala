package graft.expr

import org.apache.spark.sql.{Column, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Column-level function surface of the engine (SURVEY §2.8).
  *
  * Everything here is either a composition of codegen'd built-ins or a
  * native Catalyst expression registered on the session — never a Scala
  * closure UDF, so whole-stage codegen spans are preserved.
  */
object GraftFunctions {

  /** Idempotent per-session registration of native expressions, enabling
    * both SQL (`SELECT cosine_similarity(a,b)`) and `call_function` use.
    */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_similarity", exprs => CosineSimilarity(exprs(0), exprs(1)),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "char_shingles",
      exprs => CharShingles(exprs.head, shingleWidth(exprs(1))),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "nearest_cells",
      exprs => NearestCells(exprs.head,
        centroidTable(exprs(1), exprs(2)), constInt(exprs(3), "nprobe")),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "nearest_codes",
      exprs => NearestCodes(arity(exprs, 2, "nearest_codes(v, codebooks)").head,
        codebookTable(exprs(1), "nearest_codes(v, codebooks)")),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "adc_cosine",
      exprs => AdcCosine(arity(exprs, 3, "adc_cosine(q, codes, codebooks)")(0),
        exprs(1),
        codebookTable(exprs(2), "adc_cosine(q, codes, codebooks)")),
      "built-in")
    spark.udf.register("rmse_agg",
      udaf(RmseAggregator, Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble)))
    // the bounded-state synopsis aggregates (q77 / q95) on the SQL
    // surface, at their catalog parameterizations
    spark.udf.register("kmin_distinct64",
      udaf(new KMinDistinct(64), Encoders.scalaLong))
    spark.udf.register("top3_pairs",
      udaf(new TopKPairs(3),
        Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong)))
    // frequency / membership synopses (q98 / q99) at their catalog
    // parameterizations; both take a pre-hashed array<bigint> of
    // positions, so the hash family stays a shared relational expression
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    spark.udf.register("cms_4x256",
      udaf(new CountMinSketch(4, 256), ExpressionEncoder[Array[Long]]()))
    spark.udf.register("bloom_2048",
      udaf(new BloomBits(2048), ExpressionEncoder[Array[Long]]()))
    // distinct-count registers (q108); takes the pre-encoded
    // bucket*32+rho slot, so bucketing/rank stay shared relational
    // expressions like the CMS/Bloom hash families
    spark.udf.register("hll_64",
      udaf(new HllRegisters(64), Encoders.scalaLong))
  }

  /** One-pass character k-gram shingling (see [[CharShingles]]); requires
    * [[register]] on the session first. */
  def charShingles(text: Column, k: Int): Column =
    call_function("char_shingles", text, lit(k))

  /** The k argument of char_shingles must be a foldable integer literal;
    * fail with a message naming the contract instead of a bare cast error.
    */
  private[expr] def shingleWidth(e: org.apache.spark.sql.catalyst.expressions.Expression): Int = {
    val v = try e.eval() catch {
      case t: Throwable => throw new IllegalArgumentException(
        "char_shingles(text, k): k must be a constant integer literal", t)
    }
    v match {
      case n: Number => n.intValue()
      case other => throw new IllegalArgumentException(
        s"char_shingles(text, k): k must be a constant integer literal, got $other")
    }
  }

  /** Native cosine similarity (see [[CosineSimilarity]]); requires
    * [[register]] on the session first. */
  def cosineSimilarity(a: Column, b: Column): Column =
    call_function("cosine_similarity", a, b)

  /** The `nprobe` cosine-nearest centroid ids for a vector column (see
    * [[NearestCells]] — score desc, cid asc; the model-sized centroid
    * table rides the expression as a constant). Requires [[register]]
    * on the session first. */
  def nearestCells(v: Column, centroids: Seq[(Int, Array[Double])],
                   nprobe: Int): Column =
    call_function("nearest_cells", v,
      typedLit(centroids.map(_._1)),
      typedLit(centroids.map(_._2.toSeq)),
      lit(nprobe))

  /** Each vector's exact cosine top-`n` `(_1: score, _2: id)` pairs
    * against the `(id, row)` catalog (see [[CosineTopN]] — score desc,
    * NaN largest, id asc; degenerate pairs dropped). The catalog rides the
    * expression as a driver-side object, not a literal. */
  def cosineTopN(v: Column, ids: Array[Long], rows: Array[Array[Double]],
                 n: Int): Column =
    org.apache.spark.sql.graft.ExpressionColumn(v)(
      CosineTopN(_, CosineMatrix(ids, rows), n))

  /** SQL-surface constants of [[NearestCells]] must be foldable: the
    * cid list and the centroid matrix are a MODEL, not data, and the
    * expression precomputes centroid norms once per instance. */
  private[expr] def centroidTable(
      cidsE: org.apache.spark.sql.catalyst.expressions.Expression,
      centsE: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[(Int, Array[Double])] = {
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val err = "nearest_cells(v, cids, centroids, nprobe): cids and " +
      "centroids must be constant array literals"
    val (cids, cents) = try {
      val cids = cidsE.eval().asInstanceOf[ArrayData].toIntArray()
      val cents = centsE.eval().asInstanceOf[ArrayData]
        .toObjectArray(ArrayType(DoubleType))
        .map(_.asInstanceOf[ArrayData].toDoubleArray())
      (cids, cents)
    } catch {
      case t: Throwable => throw new IllegalArgumentException(err, t)
    }
    require(cids.length == cents.length, err + s" of equal length " +
      s"(got ${cids.length} cids, ${cents.length} centroids)")
    cids.toSeq.zip(cents.toSeq)
  }

  /** The per-subspace PQ code words for a vector column (see
    * [[NearestCodes]] — Euclidean argmin per subspace over the carried
    * codebooks, code id = codebook index, internal normalization).
    * Requires [[register]] on the session first. */
  def nearestCodes(v: Column, codebooks: Seq[Seq[Array[Double]]]): Column =
    call_function("nearest_codes", v,
      typedLit(codebooks.map(_.map(_.toSeq))))

  /** ADC cosine approximation of a raw query against a PQ-coded
    * candidate (see [[AdcCosine]] — score ≈ cosine, null semantics
    * matching [[CosineSimilarity]]). Requires [[register]] first. */
  def adcCosine(q: Column, codes: Column,
                codebooks: Seq[Seq[Array[Double]]]): Column =
    call_function("adc_cosine", q, codes,
      typedLit(codebooks.map(_.map(_.toSeq))))

  /** Arity gate for SQL-surface builders: a wrong-arity call must fail
    * at analysis naming the function's signature, not with a bare
    * IndexOutOfBoundsException from `exprs(2)`. */
  private[expr] def arity(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      n: Int, signature: String)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    require(exprs.length == n,
      s"$signature takes $n arguments, got ${exprs.length}")
    exprs
  }

  /** SQL-surface constant of [[NearestCodes]] / [[AdcCosine]]: the
    * nested codebook matrix is a MODEL, not data — must be a foldable
    * literal. `signature` is the calling function's own signature, so a
    * malformed `adc_cosine` literal reports `adc_cosine`'s shape, not
    * `nearest_codes`'s (ADVICE r18). */
  private[expr] def codebookTable(
      cbE: org.apache.spark.sql.catalyst.expressions.Expression,
      signature: String)
      : Seq[Seq[Array[Double]]] = {
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val err = s"$signature: codebooks must be a constant " +
      "array<array<array<double>>> literal"
    try {
      cbE.eval().asInstanceOf[ArrayData]
        .toObjectArray(ArrayType(ArrayType(DoubleType)))
        .map(_.asInstanceOf[ArrayData]
          .toObjectArray(ArrayType(DoubleType))
          .map(_.asInstanceOf[ArrayData].toDoubleArray()).toSeq)
        .toSeq
    } catch {
      case t: Throwable => throw new IllegalArgumentException(err, t)
    }
  }

  private[expr] def constInt(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      name: String): Int = {
    val v = try e.eval() catch {
      case t: Throwable => throw new IllegalArgumentException(
        s"nearest_cells: $name must be a constant integer literal", t)
    }
    v match {
      case n: Number => n.intValue()
      case other => throw new IllegalArgumentException(
        s"nearest_cells: $name must be a constant integer literal, got $other")
    }
  }

  /** Dot product via built-ins (`zip_with` + `aggregate`) — the pure
    * composition alternative (SURVEY §4.3 preference (a)). */
  def dotProduct(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)

  /** [[dotProduct]] for a STATICALLY-KNOWN width, expanded to a flat
    * `a[0]·b[0] + a[1]·b[1] + …` left-fold of GetArrayItem products —
    * bit-identical to the `zip_with`+`aggregate` fold (same element
    * order, same left-to-right summation, same 0.0 seed — the seed is
    * KEPT rather than folded away because IEEE `0.0 + (−0.0) = 0.0`
    * differs from a bare `−0.0` first term), but whole-stage-codegen
    * friendly: higher-order functions evaluate interpreted (one
    * NamedLambdaVariable store + one interpreted tree walk per
    * element), which is the hot-path cost in a 600 k-row-per-epoch
    * trainer; GetArrayItem compiles into the stage (guide §4). */
  def dotProductFixed(a: Column, b: Column, width: Int): Column = {
    require(width > 0, s"width must be positive, got $width")
    (0 until width).map(i => a(i) * b(i)).foldLeft(lit(0.0d))(_ + _)
  }

  /** Euclidean norm of an array column. */
  def l2Norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0d), (acc, v) => acc + v * v))

  /** L2-normalize a vector column (zero vectors pass through): cosine
    * quantizers must TRAIN on the unit sphere — Euclidean argmin over
    * normalized vectors is cosine argmax, while clustering raw
    * magnitudes groups by length, not direction (measured: serve
    * recall@10 0.45 raw vs 0.92+ normalized on the fixture embeddings).
    * The norm binds ONCE via a 1-element transform: higher-order
    * functions evaluate interpreted, and a lambda body's free subtree is
    * re-evaluated per element — `transform(v, x => x / nrm)` would
    * recompute the full norm aggregate dim times per vector (measured as
    * the r15 serve-build stall at a 200k-item catalog). */
  def l2Normalize(v: Column): Column = {
    val nrm = l2Norm(v)
    element_at(
      transform(array(nrm),
        n => when(n > 0, transform(v, x => x / n)).otherwise(v)), 1)
  }

  /** F6 multi-hot genre encoding (ref `/root/reference/src/streaming/
    * streaming_rec.py:130-134`): `sep`-packed token string → fixed-vocab
    * 0/1 vector, as a pure built-in composition.
    */
  def multiHot(packed: Column, vocab: Seq[String], sep: String = "\\|"): Column = {
    val toks = split(packed, sep)
    array(vocab.map(v => array_contains(toks, lit(v)).cast("int")): _*)
  }

  /** F9 interest-vector blend `U := (1-λr)·U + (λr)·T` (ref
    * `/root/reference/src/streaming/streaming_rec.py:83-99`; λ defaults to
    * the code's 0.05 — the reference's docstring says 0.8, SURVEY §7.4).
    */
  def blendInterest(u: Column, t: Column, r: Column, lambda: Double = 0.05): Column =
    zip_with(u, t, (uv, tv) => uv * (lit(1.0) - lit(lambda) * r) + tv * (lit(lambda) * r))
}
