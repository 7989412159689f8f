package graft.expr

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ExpressionColumn

/** Column-level function surface of the engine (SURVEY §2.8).
  *
  * Everything here is either a composition of codegen'd built-ins or a
  * native Catalyst expression — never a Scala closure UDF, so
  * whole-stage codegen spans are preserved. The Column builders
  * construct their expression node directly ([[ExpressionColumn]]), with
  * the model (centroids, codebooks, an item matrix) passed as an object;
  * the function registry serves only SQL text, filled by [[register]] or
  * [[GraftExtensions]] from the one [[sqlFunctions]] table.
  */
object GraftFunctions {

  /** The native expressions on the SQL surface: name, expression class,
    * and the builder from SQL arguments, whose model arguments must be
    * foldable literals. Read by both fillers of the registry. */
  private[expr] val sqlFunctions
      : Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] = Seq(
    ("cosine_similarity", classOf[CosineSimilarity],
      e => CosineSimilarity(e(0), e(1))),
    ("char_shingles", classOf[CharShingles],
      e => CharShingles(e.head, shingleWidth(e(1)))),
    ("nearest_cells", classOf[NearestCells],
      e => NearestCells(e.head, centroidTable(e(1), e(2)), constInt(e(3), "nprobe"))),
    ("nearest_codes", classOf[NearestCodes],
      e => NearestCodes(arity(e, 2, "nearest_codes(v, codebooks)").head,
        codebookTable(e(1), "nearest_codes(v, codebooks)"))),
    ("adc_cosine", classOf[AdcCosine],
      e => AdcCosine(arity(e, 3, "adc_cosine(q, codes, codebooks)")(0), e(1),
        codebookTable(e(2), "adc_cosine(q, codes, codebooks)"))))

  /** The typed aggregates on the SQL surface, at their catalog
    * parameterizations: q33's RMSE, the bounded-state synopses of q77 /
    * q95, the frequency / membership synopses of q98 / q99 (both take a
    * pre-hashed array<bigint> of positions, so the hash family stays a
    * shared relational expression) and q108's distinct-count registers
    * (the pre-encoded bucket*32+rho slot). A def: the encoders are built
    * only by [[register]], not whenever a Column builder is first used. */
  private def sqlAggregates: Seq[(String, UserDefinedFunction)] = Seq(
    "rmse_agg" -> RmseAggregator.agg,
    "kmin_distinct64" -> KMinDistinct.agg(64),
    "top3_pairs" -> TopKPairs.agg(3),
    "cms_4x256" -> CountMinSketch.agg(4, 256),
    "bloom_2048" -> BloomBits.agg(2048),
    "hll_64" -> HllRegisters.agg(64))

  /** Puts the SQL surface (`SELECT cosine_similarity(a, b)`) on a session
    * the engine does not build with [[GraftExtensions]]. Engine code never
    * needs it: its Column builders reach no registry. */
  def register(spark: SparkSession): Unit = {
    sqlFunctions.foreach { case (name, _, build) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, build, "built-in")
    }
    sqlAggregates.foreach { case (name, f) => spark.udf.register(name, f) }
  }

  /** One-pass character k-gram shingling (see [[CharShingles]]). */
  def charShingles(text: Column, k: Int): Column =
    ExpressionColumn(text)(e => CharShingles(e(0), k))

  /** The k argument of char_shingles must be a foldable integer literal;
    * fail with a message naming the contract instead of a bare cast error.
    */
  private def shingleWidth(e: Expression): Int = {
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

  /** Native cosine similarity (see [[CosineSimilarity]]). */
  def cosineSimilarity(a: Column, b: Column): Column =
    ExpressionColumn(a, b)(e => CosineSimilarity(e(0), e(1)))

  /** The `nprobe` cosine-nearest centroid ids for a vector column (see
    * [[NearestCells]] — score desc, cid asc; the model-sized centroid
    * table rides the expression as a constant). */
  def nearestCells(v: Column, centroids: Seq[(Int, Array[Double])],
                   nprobe: Int): Column =
    ExpressionColumn(v)(e => NearestCells(e(0), centroids, nprobe))

  /** Each vector's exact cosine top-`n` `(_1: score, _2: id)` pairs
    * against the `(id, row)` catalog (see [[CosineTopN]] — score desc,
    * NaN largest, id asc; degenerate pairs dropped). */
  def cosineTopN(v: Column, ids: Array[Long], rows: Array[Array[Double]],
                 n: Int): Column =
    ExpressionColumn(v)(e => CosineTopN(e(0), CosineMatrix(ids, rows), n))

  /** Each id's vector in the factor `table` (see [[FactorLookup]]; NULL
    * for an id the table lacks). */
  def factorLookup(id: Column, table: FactorTable): Column =
    ExpressionColumn(id)(e => FactorLookup(e(0), table))

  /** SQL-surface constants of [[NearestCells]] must be foldable: the
    * cid list and the centroid matrix are a MODEL, not data, and the
    * expression precomputes centroid norms once per instance. */
  private def centroidTable(cidsE: Expression, centsE: Expression)
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
    * codebooks, code id = codebook index, internal normalization). */
  def nearestCodes(v: Column, codebooks: Seq[Seq[Array[Double]]]): Column =
    ExpressionColumn(v)(e => NearestCodes(e(0), codebooks))

  /** ADC cosine approximation of a raw query against a PQ-coded
    * candidate (see [[AdcCosine]] — score ≈ cosine, null semantics
    * matching [[CosineSimilarity]]). */
  def adcCosine(q: Column, codes: Column,
                codebooks: Seq[Seq[Array[Double]]]): Column =
    ExpressionColumn(q, codes)(e => AdcCosine(e(0), e(1), codebooks))

  /** Arity gate for SQL-surface builders: a wrong-arity call must fail
    * at analysis naming the function's signature, not with a bare
    * IndexOutOfBoundsException from `exprs(2)`. */
  private def arity(exprs: Seq[Expression], n: Int, signature: String)
      : Seq[Expression] = {
    require(exprs.length == n,
      s"$signature takes $n arguments, got ${exprs.length}")
    exprs
  }

  /** SQL-surface constant of [[NearestCodes]] / [[AdcCosine]]: the
    * nested codebook matrix is a MODEL, not data — must be a foldable
    * literal. `signature` is the calling function's own signature, so a
    * malformed `adc_cosine` literal reports `adc_cosine`'s shape, not
    * `nearest_codes`'s (ADVICE r18). */
  private def codebookTable(cbE: Expression, signature: String)
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

  private def constInt(e: Expression, name: String): Int = {
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
