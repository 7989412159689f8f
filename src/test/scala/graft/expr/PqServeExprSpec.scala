package graft.expr

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}

import graft.SparkSpec

/** The PQ serve expressions ([[NearestCodes]], [[AdcCosine]]) and the
  * large-corpus encode pass (`IvfIndex.encodePqLarge`) — the three
  * pieces VERDICT r18 flagged as reachable-but-untested. Pins:
  *
  *  1. [[AdcCosine]] score == the hand formula, codegen == interpreted,
  *     with [[CosineSimilarity]]'s null semantics at every edge;
  *  2. two AdcCosine instances in ONE codegen scope compile (the
  *     ADVICE r18 fixed-local-name collision — pinned under
  *     `spark.sql.codegen.fallback=false` so a janino failure is an
  *     error, not a silent interpreted fallback);
  *  3. [[NearestCodes]] == the oracle-checked relational encoder
  *     (`PqIndex.encode`) on the same codebooks and corpus;
  *  4. [[AdcCosine]]'s ranking == `PqIndex`'s ADC ranking (adist asc ==
  *     score desc) on the same codes;
  *  5. `encodePqLarge` round-trips: pq_cells mirrors the raw cells'
  *     cid layout row for row, stored codes == [[NearestCodes]] on the
  *     stored codebooks, and ADC top-k over the codes recovers the
  *     exact cosine top-k on a structured corpus;
  *  6. both SQL surfaces fail at ANALYSIS time with their own names on
  *     wrong input types and malformed codebook literals.
  */
class PqServeExprSpec extends SparkSpec {

  /** Two tiny subspaces (subDim 2), two codes each — hand-checkable. */
  private val cbs: Seq[Seq[Array[Double]]] = Seq(
    Seq(Array(1.0, 0.0), Array(0.0, 1.0)),
    Seq(Array(0.6, 0.8), Array(-0.6, 0.8)))

  /** The scaladoc formula, independently: normalize q, sum squared
    * per-subspace distances to the coded centroids, 1 − adist/2. */
  private def handScore(q: Array[Double], codes: Array[Int]): Option[Double] = {
    if (codes.length != cbs.length) return None
    val n = math.sqrt(q.map(x => x * x).sum)
    if (n == 0.0 || n.isNaN) return None
    val vhat = q.map(_ / n)
    var adist = 0.0
    for (sub <- cbs.indices) {
      val code = codes(sub)
      if (code < 0 || code >= cbs(sub).length) return None
      val c = cbs(sub)(code)
      for (j <- c.indices) {
        val x = (if (sub * 2 + j < vhat.length) vhat(sub * 2 + j) else 0.0) - c(j)
        adist += x * x
      }
    }
    if (adist.isNaN) None else Some(1.0 - adist / 2.0)
  }

  private def viaDataFrame(q: Array[Double], codes: Array[Int]): Option[Double] = {
    import spark.implicits._
    Seq((q, codes)).toDF("q", "codes")
      .select(GraftFunctions.adcCosine(col("q"), col("codes"), cbs).as("s"))
      .as[Option[Double]].head()
  }

  private def viaInterpreted(q: Array[Double], codes: Array[Int]): Option[Double] =
    Option(AdcCosine(Literal.create(q, ArrayType(DoubleType)),
      Literal.create(codes, ArrayType(IntegerType)), cbs).eval(null))
      .map(_.asInstanceOf[Double])

  test("AdcCosine: codegen == interpreted == hand formula, incl. null edges") {
    val cases = Seq(
      (Array(1.0, 0.0, 0.6, 0.8), Array(0, 0)),   // exact reconstruction
      (Array(2.0, 0.0, 1.2, 1.6), Array(0, 0)),   // scale-invariant (unit encode)
      (Array(0.3, -0.7, 0.1, 0.9), Array(1, 1)),
      (Array(0.3, -0.7, 0.1, 0.9), Array(0, 1)),
      (Array(1.0, 1.0), Array(1, 0)),             // short query: missing dims read 0
      (Array(1.0, 0.0, 0.0, 0.0), Array(0, 2)),   // out-of-range code -> null
      (Array(1.0, 0.0, 0.0, 0.0), Array(-1, 0)),  // negative code -> null
      (Array(1.0, 0.0, 0.0, 0.0), Array(0)),      // wrong arity -> null
      (Array(0.0, 0.0, 0.0, 0.0), Array(0, 0)),   // zero norm -> null
      (Array(Double.NaN, 1.0, 0.0, 0.0), Array(0, 0))) // NaN -> null
    for ((q, codes) <- cases) {
      val exp = handScore(q, codes)
      val dfGot = viaDataFrame(q, codes)
      val evGot = viaInterpreted(q, codes)
      assert(dfGot == exp, s"df path, q=${q.toSeq} codes=${codes.toSeq}")
      assert(evGot == exp, s"eval path, q=${q.toSeq} codes=${codes.toSeq}")
    }
    // float input element type takes the same path as double
    import spark.implicits._
    val f = Seq((Array(1.0f, 0.0f, 0.6f, 0.8f), Array(0, 0))).toDF("q", "codes")
      .select(GraftFunctions.adcCosine(col("q"), col("codes"), cbs).as("s"))
      .as[Option[Double]].head()
    // widen the FLOATS to double first — 0.6f != 0.6 in the last ulps
    assert(f == handScore(Array(1.0f, 0.0f, 0.6f, 0.8f).map(_.toDouble),
      Array(0, 0)), s"float path: $f")
  }

  test("two AdcCosine in one codegen scope compile (ADVICE r18 freshName)") {
    // before the fix, nullSafeCodeGen inlined a fixed `java.lang.Double r`
    // per instance without a scoping block (non-nullable children), so two
    // instances in one WholeStageCodegen produced a janino duplicate-
    // variable error and a SILENT fallback. fallback=false turns that
    // into a test failure instead of an invisible de-JIT.
    val prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      import spark.implicits._
      val got = Seq((Array(1.0, 0.0, 0.6, 0.8), Array(0, 0), Array(1, 1)))
        .toDF("q", "c1", "c2")
        .select(
          GraftFunctions.adcCosine(col("q"), col("c1"), cbs).as("s1"),
          GraftFunctions.adcCosine(col("q"), col("c2"), cbs).as("s2"))
        .as[(Option[Double], Option[Double])].head()
      assert(got._1 == handScore(Array(1.0, 0.0, 0.6, 0.8), Array(0, 0)),
        s"first instance wrong: $got")
      assert(got._2 == handScore(Array(1.0, 0.0, 0.6, 0.8), Array(1, 1)),
        s"second instance wrong: $got")
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("NearestCodes: codegen == interpreted; deterministic ties and NaN") {
    def viaDf(v: Array[Double]): Seq[Int] = {
      import spark.implicits._
      Seq(Tuple1(v)).toDF("v")
        .select(GraftFunctions.nearestCodes(col("v"), cbs).as("c"))
        .as[Seq[Int]].head()
    }
    def viaEval(v: Array[Double]): Seq[Int] =
      NearestCodes(Literal.create(v, ArrayType(DoubleType)), cbs)
        .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toIntArray().toSeq
    val vs = Seq(
      Array(1.0, 0.0, 0.6, 0.8),
      Array(0.0, 1.0, -0.6, 0.8),
      Array(5.0, 0.0, 3.0, 4.0),     // scale-invariant: same codes as row 1
      Array(0.0, 0.0, 0.0, 0.0),     // zero norm: encoded unnormalized
      Array(1.0, 1.0))               // short vector: missing dims read 0
    for (v <- vs) {
      val df = viaDf(v); val ev = viaEval(v)
      assert(df == ev, s"codegen != interpreted for ${v.toSeq}: $df vs $ev")
      assert(df.length == cbs.length)
    }
    assert(viaDf(Array(1.0, 0.0, 0.6, 0.8)) == Seq(0, 0))
    assert(viaDf(Array(5.0, 0.0, 3.0, 4.0)) == Seq(0, 0))
    // sub-0 ties exactly between the two codes (unit vector equidistant):
    // strict < keeps the FIRST (lowest) code id
    assert(viaDf(Array(1.0, 1.0, 0.6, 0.8)).head == 0)
    // NaN elements: every distance NaN, never beats bestD -> code 0, not -1
    assert(viaDf(Array(Double.NaN, 0.0, 0.6, 0.8)) == Seq(0, 0))
  }

  /** Deterministic dense-id corpus (vec_id 0..n-1, dim 8), normalized
    * RELATIONALLY so both encoders see identical unit vectors; dense ids
    * make the relational trainer's seed cids exactly 0..k-1, i.e. code
    * id == codebook position on both sides. */
  private def unitCorpus(n: Int): org.apache.spark.sql.DataFrame = {
    GraftFunctions.register(spark)
    spark.range(n).select(col("id").as("vec_id"),
      GraftFunctions.l2Normalize(expr(
        """transform(sequence(0, 7), j ->
             sin(CAST((id % 6) * 89 + j AS DOUBLE)) +
             0.2 * sin(CAST(id * 37 + j * 11 AS DOUBLE)))"""))
        .as("emb")).cache()
  }

  test("NearestCodes == the relational PqIndex encoder (q109's oracle path)") {
    // Tie-contract note: the relational encoder argmins over
    // 6dp-ROUNDED distances with a cid tiebreak; NearestCodes argmins
    // UNROUNDED with a first-index tiebreak. The two agree exactly when
    // no two codebook distances sit within 1e-6 of each other — the
    // sin-based corpus below is margin-rich by construction (distances
    // differ at the 1e-2 scale), so a failure here means an encoder
    // changed, not that a fixture wandered onto a rounding boundary.
    // (q133 mirrors the UNROUNDED contract in SQL for the same reason.)
    import spark.implicits._
    val s = 2; val subDim = 4; val k = 4
    val e = unitCorpus(60)
    val cbsDf = graft.rec.PqIndex.trainCodebooks(e, s, subDim, k, iters = 2)
    // collect positionally by cid (dense ids -> cids are exactly 0..k-1)
    val cbSeq: Seq[Seq[Array[Double]]] = (0 until s).map { sub =>
      val rows = cbsDf.where(col("sub") === sub)
        .select(col("cid").cast("int"), col("c")).collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
      assert(rows.map(_._1).toSeq == (0 until k), s"non-dense cids: ${rows.map(_._1).toSeq}")
      rows.map(_._2).toSeq
    }
    val relational = graft.rec.PqIndex.encode(e, cbsDf)
      .groupBy(col("neighbor_id"))
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("code")))),
        x => x.getField("code")).as("codes"))
      .select(col("neighbor_id").as("vec_id"), col("codes"))
    val native = e.select(col("vec_id"),
      GraftFunctions.nearestCodes(col("emb"), cbSeq).cast("array<bigint>").as("codes"))
    val diff = relational.exceptAll(native).count() +
      native.exceptAll(relational).count()
    assert(diff == 0, {
      val r = relational.orderBy("vec_id").collect().map(x =>
        x.getLong(0) -> x.getSeq[Long](1)).toMap
      val nv = native.orderBy("vec_id").collect().map(x =>
        x.getLong(0) -> x.getSeq[Long](1)).toMap
      val bad = r.keys.filter(id => r(id) != nv(id)).take(5)
      s"encoders disagree on ${bad.map(id => s"$id: ${r(id)} vs ${nv(id)}").mkString("; ")}"
    })
    cbsDf.unpersist()
  }

  test("AdcCosine ranking == PqIndex ADC ranking on the same codes") {
    import spark.implicits._
    val s = 2; val subDim = 4; val k = 4
    val e = unitCorpus(60)
    val cbsDf = graft.rec.PqIndex.trainCodebooks(e, s, subDim, k, iters = 2)
    val cbSeq: Seq[Seq[Array[Double]]] = (0 until s).map(sub =>
      cbsDf.where(col("sub") === sub)
        .select(col("cid").cast("int"), col("c")).collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1).map(_._2).toSeq)
    val probes = e.where(col("vec_id") < 5)
    // relational ADC order: adist asc, neighbor asc (PqIndex.adcTop's
    // contract, re-derived here WITH the rank kept)
    val enc = graft.rec.PqIndex.encode(e, cbsDf)
    val ptab = graft.rec.PqIndex.probeTables(probes, cbsDf)
    val wr = org.apache.spark.sql.expressions.Window.partitionBy(col("probe_id"))
      .orderBy(col("adist"), col("neighbor_id"))
    val relTop = enc.join(broadcast(ptab), Seq("sub", "code"))
      .where(col("probe_id") =!= col("neighbor_id"))
      .groupBy(col("probe_id"), col("neighbor_id"))
      .agg(round(sum(col("pd")), 6).as("adist"))
      .withColumn("rank", row_number().over(wr)).where(col("rank") <= 10)
      .select(col("probe_id"), col("rank"), col("neighbor_id"))
    // AdcCosine order: score desc, neighbor asc — 1 − adist/2 is a
    // strictly decreasing map of adist, so the two orders must agree
    val codesWide = e.select(col("vec_id"),
      GraftFunctions.nearestCodes(col("emb"), cbSeq).as("codes"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("probe_id"))
      .orderBy(col("score").desc, col("vec_id"))
    val natTop = codesWide.crossJoin(
        broadcast(probes.select(col("vec_id").as("probe_id"), col("emb").as("pe"))))
      .where(col("probe_id") =!= col("vec_id"))
      .withColumn("score", GraftFunctions.adcCosine(col("pe"), col("codes"), cbSeq))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= 10)
      .select(col("probe_id"), col("rank"), col("vec_id").as("neighbor_id"))
    val diff = relTop.exceptAll(natTop).count() + natTop.exceptAll(relTop).count()
    assert(diff == 0, {
      val r = relTop.orderBy("probe_id", "rank").collect().toSeq
      val nv = natTop.orderBy("probe_id", "rank").collect().toSeq
      s"ADC rankings disagree:\nrelational: $r\nnative:     $nv"
    })
    cbsDf.unpersist()
  }

  test("encodePqLarge round-trips: layout mirrored, codes pinned, ADC recovers exact top-k") {
    import spark.implicits._
    // structured dim-16 corpus (8 clear topics) — the regime ADC recall
    // claims are meaningful in (the isotropic fixture is noise)
    val items = spark.range(400).select(col("id").as("vec_id"),
      expr("""transform(sequence(0, 15), j ->
                sin(CAST((id % 8) * 97 + j AS DOUBLE)) +
                0.1 * sin(CAST(id * 31 + j * 7 AS DOUBLE)))""").as("emb"))
      .cache()
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-rt").toString
    graft.rec.IvfIndex.buildLarge(items, dir, k = 8, iters = 8)
    graft.rec.IvfIndex.encodePqLarge(spark, dir, s = 4, subDim = 4,
      k = 16, iters = 8)
    val cells = spark.read.parquet(s"$dir/cells")
    val pq = spark.read.parquet(s"$dir/pq_cells")
    // (1) pq_cells mirrors the raw cells' cid layout ROW FOR ROW: the
    // codes file in cell c holds exactly the vectors of cell c
    val layoutDiff = cells.select(col("vec_id"), col("cid"))
      .exceptAll(pq.select(col("vec_id"), col("cid"))).count() +
      pq.select(col("vec_id"), col("cid"))
        .exceptAll(cells.select(col("vec_id"), col("cid"))).count()
    assert(layoutDiff == 0, "pq_cells cid layout diverged from cells")
    // (2) stored codes == NearestCodes re-evaluated on the stored
    // codebooks (the write is exactly one NearestCodes scan)
    val cbSeq = graft.rec.IvfIndex.readPqCodebooks(spark, dir)
    assert(cbSeq.length == 4 && cbSeq.forall(_.length == 16))
    val reEnc = cells.select(col("vec_id"),
      GraftFunctions.nearestCodes(col("emb"), cbSeq).as("codes"))
    val codeDiff = reEnc.exceptAll(pq.select(col("vec_id"), col("codes"))).count()
    assert(codeDiff == 0, "stored codes != NearestCodes on stored codebooks")
    // (3) the SERVE SHAPE over the codes — ADC shortlist, then exact
    // rerank of the shortlist only — recovers the exact cosine top-3 on
    // the structured corpus. (Raw ADC top-3 alone is NOT expected to:
    // q109's own measurement is 0.17 raw vs 0.90 with shortlist+rerank;
    // the codes' job is to put the true neighbors in the shortlist.)
    val probes2 = items.where(col("vec_id") % 37 === 0)
      .select(col("vec_id").as("probe_id"), col("emb").as("pe"))
    val wx = org.apache.spark.sql.expressions.Window.partitionBy(col("probe_id"))
      .orderBy(col("score").desc, col("vec_id"))
    def topBy(scored: org.apache.spark.sql.DataFrame, m: Int) = scored
      .where(col("probe_id") =!= col("vec_id") && col("score").isNotNull)
      .withColumn("rank", row_number().over(wx)).where(col("rank") <= m)
      .select(col("probe_id"), col("vec_id"))
    val exact = topBy(items.crossJoin(broadcast(probes2)).withColumn("score",
      GraftFunctions.cosineSimilarity(col("pe"), col("emb"))), 3).cache()
    val shortlist = topBy(pq.crossJoin(broadcast(probes2)).withColumn("score",
      GraftFunctions.adcCosine(col("pe"), col("codes"), cbSeq)), 40).cache()
    val nProbes = probes2.count()
    // shortlist recall: the exact top-3 must live inside the ADC top-40
    val slHits = exact.intersect(shortlist).count()
    val slRecall = slHits.toDouble / (nProbes * 3)
    info(f"encodePqLarge ADC shortlist recall@40 = $slRecall%.3f over $nProbes probes")
    assert(slRecall >= 0.95, f"ADC shortlist missed exact neighbors: $slRecall%.3f")
    // rerank the shortlist by exact cosine -> top-3 == recall of the
    // shortlist (exact scoring can only surface what the shortlist kept)
    val reranked = topBy(shortlist
      .join(items.select(col("vec_id"), col("emb")), Seq("vec_id"))
      .join(broadcast(probes2), Seq("probe_id"))
      .withColumn("score", GraftFunctions.cosineSimilarity(col("pe"), col("emb"))), 3)
    val hits = exact.intersect(reranked).count()
    val recall = hits.toDouble / (nProbes * 3)
    info(f"encodePqLarge ADC+rerank recall@3 = $recall%.3f")
    assert(recall >= 0.95, f"ADC+rerank recall collapsed: $recall%.3f")
  }

  test("SQL surfaces fail at analysis time with their own names") {
    GraftFunctions.register(spark)
    // wrong-typed query vector -> AnalysisException naming adc_cosine
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT adc_cosine('oops', array(0), " +
        "array(array(array(1.0d, 0.0d)))) ").collect()
    }
    assert(e1.getMessage.toLowerCase.contains("adc_cosine"), e1.getMessage)
    // wrong-typed codes -> same
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT adc_cosine(array(1.0d), array('x'), " +
        "array(array(array(1.0d)))) ").collect()
    }
    assert(e2.getMessage.toLowerCase.contains("adc_cosine"), e2.getMessage)
    // malformed codebook literal reports the CALLING function's
    // signature (ADVICE r18: it used to claim nearest_codes always)
    val e3 = intercept[Exception] {
      spark.sql("SELECT adc_cosine(array(1.0d), array(0), 42)").collect()
    }
    assert(e3.getMessage.contains("adc_cosine(q, codes, codebooks)"),
      s"wrong signature in: ${e3.getMessage}")
    val e4 = intercept[Exception] {
      spark.sql("SELECT nearest_codes(array(1.0d), 42)").collect()
    }
    assert(e4.getMessage.contains("nearest_codes(v, codebooks)"),
      s"wrong signature in: ${e4.getMessage}")
    // nearest_codes type check
    val e5 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT nearest_codes('oops', array(array(array(1.0d))))")
        .collect()
    }
    assert(e5.getMessage.toLowerCase.contains("nearest_codes"), e5.getMessage)
    // wrong ARITY fails naming the signature, not IndexOutOfBounds
    val e6 = intercept[Exception] {
      spark.sql("SELECT adc_cosine(array(1.0d), array(0))").collect()
    }
    assert(e6.getMessage.contains("takes 3 arguments"), e6.getMessage)
    val e7 = intercept[Exception] {
      spark.sql("SELECT nearest_codes(array(1.0d))").collect()
    }
    assert(e7.getMessage.contains("takes 2 arguments"), e7.getMessage)
    // RAGGED codebooks fail at analysis, not as an executor AIOOBE
    val e8 = intercept[Exception] {
      spark.sql("SELECT adc_cosine(array(1.0d, 0.0d), array(0, 0), " +
        "array(array(array(1.0d, 0.0d)), array(array(0.5d))))").collect()
    }
    assert(e8.getMessage.contains("same length"), e8.getMessage)
    val e9 = intercept[Exception] {
      spark.sql("SELECT nearest_codes(array(1.0d), " +
        "array(array(array(1.0d, 0.0d), array(0.5d))))").collect()
    }
    assert(e9.getMessage.contains("same length"), e9.getMessage)
    // happy path on the SQL surface
    val ok = spark.sql(
      """SELECT adc_cosine(array(1.0d, 0.0d), nearest_codes(array(1.0d, 0.0d),
        |  array(array(array(1.0d, 0.0d), array(0.0d, 1.0d)))),
        |  array(array(array(1.0d, 0.0d), array(0.0d, 1.0d)))) AS s
        |""".stripMargin).head().getDouble(0)
    assert(ok == 1.0, s"SQL round trip: $ok")
  }
}
