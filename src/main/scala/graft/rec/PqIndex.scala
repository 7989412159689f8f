package graft.rec

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persistent product-quantization index (Jégou et al. 2011, §IV:
  * asymmetric distance computation) — the canonical PQ math shared by
  * the in-memory catalog paths (q109 flat PQ, q111 IVF-PQ in
  * [[graft.queries.Similarity]]) and the on-disk build/probe pair
  * (q114), the way [[IvfIndex]] is the on-disk twin of q57. Both run the
  * one [[serve]].
  *
  * The index is two parquet tables: `codes` (neighbor_id, sub, code) —
  * s code ids per vector, ALL the ADC scan ever reads, a 64×
  * compression of the scan payload at the catalog's 64-float
  * embeddings — and `codebooks` (sub, cid, c), the per-subspace Lloyd
  * centroids (tiny; broadcast at probe time). The codebooks are the
  * one relation every step reads, and they carry the index's shape:
  * subspace `sub` of a vector is the `size(c)` elements from
  * `sub · size(c)`, so nothing that reads them takes a subspace count
  * or width. Raw vectors stay in the corpus table and are fetched only
  * for the shortlist rows the exact rerank touches. At 100 TB the
  * codebooks fit on a sample ([[Clustering.lloydKMeans]] doc), the
  * encode pass is one broadcast-scored scan, and the probe cost is a
  * broadcast lookup join against 4-byte codes — the memory-bound regime
  * PQ exists for.
  *
  * Everything is 6dp-parity deterministic (the catalog's cross-engine
  * rule): partial distances are rounded before the ADC sum, so results
  * are a pure function of identical inputs on both engines.
  */
object PqIndex {

  /** `(sub, vec_id, emb)`: every subspace slice of `(vec_id, emb)`
    * vectors, one row per vector and `(sub, w)` row of `shape`, from one
    * scan of the vectors. */
  private def slices(vectors: DataFrame, shape: DataFrame): DataFrame =
    vectors.crossJoin(broadcast(shape)).select(col("sub"), col("vec_id"),
      slice(col("emb"), col("sub") * col("w") + 1, col("w")).as("emb"))

  /** The `(sub, w)` shape the codebooks were trained at. */
  private def shapeOf(codebooks: DataFrame): DataFrame =
    codebooks.select(col("sub"), size(col("c")).as("w")).distinct()

  /** The per-subspace codebooks `(sub, cid, c)`: k Lloyd centroids for
    * each of the s `subDim`-wide subspaces — the SAME oracle-checked
    * relational k-means as q57, all s trainings in one grouped plan
    * ([[Clustering.lloydKMeans]] by `sub`), returned cached. */
  def trainCodebooks(vectors: DataFrame, s: Int, subDim: Int, k: Int,
                     iters: Int): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val shape = (0 until s).map(sub => (sub, subDim)).toDF("sub", "w")
    Clustering.lloydKMeans(slices(vectors, shape), k, iters, by = Seq("sub"))
  }

  /** Encoded index `(neighbor_id, sub, code)`: each vector's nearest
    * codebook centroid per subspace — one grouped assignment over every
    * slice at once (one scan of the vectors). */
  def encode(vectors: DataFrame, codebooks: DataFrame): DataFrame =
    Clustering.assignCells(slices(vectors, shapeOf(codebooks)), codebooks,
        by = Seq("sub"))
      .select(col("vec_id").as("neighbor_id"), col("sub"),
        col("cid").as("code"))

  /** Probe-side ADC tables: (probe_id, sub, code) → partial distance,
    * s·k rows per probe. The partial is 6dp-parity: the subspace
    * distance is rounded to 6dp FIRST (q57's cross-engine rule), then
    * squared and re-rounded — both engines square the identical 6dp
    * double, so the partial is bit-identical before the ADC sum. */
  def probeTables(probes: DataFrame, codebooks: DataFrame): DataFrame =
    slices(probes, shapeOf(codebooks))
      .join(broadcast(codebooks), Seq("sub"))
      .select(col("vec_id").as("probe_id"), col("sub"), col("cid").as("code"),
        round(pow(Clustering.distance(col("emb"), col("c")), 2), 6).as("pd"))

  /** ADC shortlist: from (probe_id, neighbor_id, pd) partial-distance
    * rows to the `limit` best candidates per probe. */
  def adcTop(scored: DataFrame, limit: Int): DataFrame = {
    val wa = Window.partitionBy(col("probe_id"))
      .orderBy(col("adist"), col("neighbor_id"))
    scored.groupBy(col("probe_id"), col("neighbor_id"))
      .agg(round(sum(col("pd")), 6).as("adist"))
      .withColumn("srank", row_number().over(wa))
      .where(col("srank") <= limit)
      .select(col("probe_id"), col("neighbor_id"))
  }

  /** The `topK` nearest of each probe's `(probe_id, neighbor_id, pe,
    * ce)` candidate pairs by exact Euclidean distance (neighbor_id
    * breaks ties): `(probe_id, neighbor_id, rank, dist)`. The PQ rerank
    * and the catalog's exact L2 baselines both rank through it. */
  def rankByL2(pairs: DataFrame, topK: Int): DataFrame = {
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("dist"), col("neighbor_id"))
    pairs.withColumn("dist", Clustering.distance(col("pe"), col("ce")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topK)
      .select(col("probe_id"), col("neighbor_id"), col("rank"), col("dist"))
  }

  /** Exact rerank of a (probe_id, neighbor_id) shortlist against the
    * raw `collection` (vec_id, emb) — raw vectors are touched ONLY for
    * these rows; `probes` (vec_id, emb) broadcasts. */
  def rerankTop(shortlist: DataFrame, collection: DataFrame,
                probes: DataFrame, topK: Int): DataFrame = {
    val pr = probes.select(col("vec_id").as("probe_id"), col("emb").as("pe"))
    rankByL2(shortlist
        .join(collection.select(col("vec_id").as("neighbor_id"),
          col("emb").as("ce")), Seq("neighbor_id"))
        .join(broadcast(pr), Seq("probe_id")), topK)
      .orderBy(col("probe_id"), col("rank"))
  }

  /** The PQ serve: ADC of every encoded vector in `codes` against each
    * probe's [[probeTables]] over `codebooks`, the `shortlist` best per
    * probe reranked exactly against the raw `collection`. q109 calls it
    * on tables built in memory, [[probe]] on the stored ones. */
  def serve(codes: DataFrame, codebooks: DataFrame, probes: DataFrame,
            collection: DataFrame, shortlist: Int, topK: Int): DataFrame = {
    val sl = adcTop(
      codes.join(broadcast(probeTables(probes, codebooks)), Seq("sub", "code"))
        .where(col("probe_id") =!= col("neighbor_id")),
      shortlist)
    rerankTop(sl, collection, probes, topK)
  }

  /** Build: train the per-subspace codebooks, encode every vector, and
    * write `codes` + `codebooks` parquet — paid once per corpus
    * version, like [[IvfIndex.build]]. */
  def build(vectors: DataFrame, dir: String, s: Int = 4, subDim: Int = 16,
            k: Int = 16, iters: Int = 2): Unit = {
    val cbs = trainCodebooks(vectors, s, subDim, k, iters)
    encode(vectors, cbs).write.mode("overwrite").parquet(s"$dir/codes")
    cbs.write.mode("overwrite").parquet(s"$dir/codebooks")
    cbs.unpersist()
  }

  /** Probe from disk: [[serve]] over the STORED codes and codebooks (the
    * scan never touches raw vectors); the rerank fetches raw vectors
    * from the caller's `collection` only for the shortlist. Parquet
    * round-trips doubles exactly, so results are identical to an
    * in-memory build from the same vectors. */
  def probe(spark: SparkSession, dir: String, probes: DataFrame,
            collection: DataFrame, shortlist: Int = 80,
            topK: Int = 3): DataFrame =
    serve(spark.read.parquet(s"$dir/codes"),
      spark.read.parquet(s"$dir/codebooks"), probes, collection,
      shortlist, topK)
}
