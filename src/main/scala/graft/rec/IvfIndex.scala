package graft.rec

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expr.GraftFunctions

/** Persistent IVF index (Jégou et al. 2011's inverted file, expressed as
  * a Spark TABLE LAYOUT): the quantizer's cell assignment becomes a
  * cid-PARTITIONED parquet table, so "probe nprobe cells" becomes
  * dynamic partition pruning — the probe-side cid set broadcasts into
  * the scan's PartitionFilters and Spark reads ONLY the probed cells'
  * files. That is the on-disk twin of q57's in-memory cell join, and the
  * property that makes a 100 TB index affordable to probe: I/O scales
  * with nprobe/K of the collection, enforced by the layout rather than
  * by operator discipline. IvfIndexSpec asserts both halves: results
  * equal the in-memory path, and the cells scan carries a
  * dynamicpruning PartitionFilter.
  *
  * cid is stored as INT on both sides: parquet partition-column
  * inference reads directory values as int, and a type-promotion cast on
  * the partition column would defeat dynamic partition pruning.
  */
object IvfIndex {

  /** `(vec_id, emb, cid)`: `vectors` filed in their nearest cell under
    * the Euclidean `centroids` — the rows of the `cells` table, cid as
    * INT. */
  def cells(vectors: DataFrame, centroids: DataFrame): DataFrame =
    Clustering.assignCells(vectors, centroids)
      .withColumn("cid", col("cid").cast("int"))

  /** Build: fit the relational Lloyd's quantizer, write every vector's
    * [[cells]] row partitioned by cid (+ centroids alongside). At 100 TB
    * the quantizer fits on a sample (Clustering.lloydKMeans doc); the
    * assignment pass is one broadcast-scored scan. */
  def build(vectors: DataFrame, dir: String, k: Int = 16,
            iters: Int = 3): Unit = {
    val cent = Clustering.lloydKMeans(vectors, k, iters)
    cells(vectors, cent)
      .write.mode("overwrite").partitionBy("cid").parquet(s"$dir/cells")
    cent.write.mode("overwrite").parquet(s"$dir/centroids")
    cent.unpersist()
  }

  /** Training-set cap of every sampled quantizer ([[buildLarge]],
    * [[encodePqLarge]]'s codebooks, `StreamOps.buildServeIndex`): the
    * lloydKMeans scaladoc's 100-TB prescription ("fit the quantizer on a
    * sample and assign the full collection"); the 16 384-vector sample
    * measured flat build cost across catalog sizes in the r15/r16 serve
    * sweeps. */
  val LargeSampleCap = 16384

  /** Deterministic bounded sample of RAW (vec_id, emb) rows for
    * quantizer training — all of them up to [[LargeSampleCap]], else a
    * hash-ordered [[LargeSampleCap]] of them. The hash pre-filter
    * bounds the sort input to ~4× the cap — an orderBy().limit(16384)
    * over the full corpus exceeds the top-K sort fallback threshold and
    * plans a FULL sort of N rows. Normalize only the survivors (the
    * normalize is an interpreted higher-order expression). */
  private def boundedSample(vectors: DataFrame, nRows: Long): DataFrame = {
    val raw = vectors.select(col("vec_id"), col("emb"))
    if (nRows <= LargeSampleCap) raw
    else {
      val mod = math.max(1L, nRows / (4L * LargeSampleCap))
      raw.where(pmod(xxhash64(col("vec_id")), lit(mod)) === 0)
        .orderBy(xxhash64(col("vec_id")), col("vec_id"))
        .limit(LargeSampleCap)
    }
  }

  /** The input of every seeded MLlib quantizer fit ([[cosineSample]]):
    * the sample hash-partitioned by `vec_id` into a
    * fixed [[FitPartitions]] and sorted by `vec_id` inside each, so the
    * fit's random init and its per-partition sums see the same rows in
    * the same order on every run and every host. Under the sample cap
    * [[boundedSample]] passes rows through in read order, which made two
    * builds of the same corpus write different centroids and codebooks. */
  private def fitOrder(sample: DataFrame): DataFrame =
    sample.repartition(FitPartitions, col("vec_id"))
      .sortWithinPartitions(col("vec_id"))

  private val FitPartitions = 4

  /** The training set of every cosine fit: the [[boundedSample]] of
    * `(vec_id, emb)` rows in [[fitOrder]], on the unit sphere (where
    * Euclidean k-means is cosine clustering). */
  private def cosineSample(vectors: DataFrame): DataFrame =
    fitOrder(boundedSample(vectors, vectors.count()))
      .select(GraftFunctions.l2Normalize(col("emb")).as("emb"))

  /** The one trainer of the cosine quantizer and the PQ codebooks:
    * seeded MLlib k-means over an `emb` column, random init (k-means||
    * init is a driver-local k-means++, minutes at K in the thousands).
    * Returns the `(cid, centroid)` model in MLlib's center order. */
  private def kMeans(train: DataFrame, k: Int, iters: Int,
                     seed: Long): Seq[(Int, Array[Double])] =
    new KMeans()
      .setK(k).setSeed(seed).setMaxIter(iters).setInitMode("random")
      .fit(train.select(array_to_vector(col("emb")).as("features")))
      .clusterCenters.zipWithIndex.map { case (c, i) => (i, c.toArray) }.toSeq

  /** The cosine IVF quantizer of `(vec_id, emb)` rows. [[buildLarge]]
    * and `StreamOps.buildServeIndex` both train through it, so their
    * models for one catalog are equal bit for bit. */
  private[graft] def fitCosine(vectors: DataFrame, k: Int,
                               iters: Int): Seq[(Int, Array[Double])] =
    kMeans(cosineSample(vectors), k, iters, seed = 42L)

  /** The cell of each `emb` under a cosine quantizer `model`: the
    * top-1 of the serve's own router ([[graft.expr.NearestCells]]), so
    * an item's cell is by construction its own probe's nearest. */
  private[graft] def cellOf(emb: Column,
                            model: Seq[(Int, Array[Double])]): Column =
    element_at(GraftFunctions.nearestCells(emb, model, 1), 1)

  /** Large-corpus COSINE build — the streaming serve's regime and the
    * shared writer behind `StreamOps.buildServeIndexPartitioned`
    * (VERDICT r16 item 4: one quantizer lifecycle for the batch index
    * and the serve, not two).
    *
    * Differences from the small-corpus [[build]], each forced by scale:
    *
    *  - quantizer fit by [[fitCosine]] on a bounded NORMALIZED sample;
    *    at K in the thousands [[build]]'s relational lloydKMeans (the
    *    ORACLE-mirrorable path) is minutes where MLlib's is seconds.
    *  - assignment is ONE streaming codegen scan via the native
    *    [[graft.expr.NearestCells]] expression — O(N) rows, K·d flops
    *    per row against the plan-carried centroid matrix. The r16 form
    *    materialized the |catalog|×K cross join (4 billion scored rows
    *    at 2M items × K=2000, 290 s) and broadcast a catalog-sized
    *    argmax table — O(N·K) rows that become 126 billion at 20M
    *    items, and a broadcast Spark's 8 GB limit kills long before
    *    100 TB (VERDICT r16 item 2 + ADVICE r16). The expression pass
    *    moves neither.
    *  - metric is COSINE throughout (the serve ranks by cosine), with
    *    [[graft.expr.NearestCells]]'s (score desc, cid asc) tiebreak —
    *    the same expression the serve routes users with, so an item's
    *    own cell is by construction its probe's top-1 (self-retrieval).
    *    Probe a buildLarge index with the cosine serve
    *    (`StreamOps.topNForUsersAnn`); [[probe]]'s Euclidean
    *    routing matches the [[build]] quantizer.
    *
    * Layout is [[build]]'s exactly — `$dir/cells` cid-partitioned (one
    * file per cell: repartitioned by cid before the partitioned write),
    * `$dir/centroids` alongside — so [[append]]-accumulated fragments
    * [[compact]] identically (AnnServeSpec asserts probe equality over
    * a compacted serve index). Returns the fitted model, which a serve
    * on the index carries. */
  def buildLarge(vectors: DataFrame, dir: String, k: Int,
                 iters: Int = 20): Seq[(Int, Array[Double])] = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val model = fitCosine(vectors, k, iters)
    model.toDF("cid", "c").write.mode("overwrite")
      .parquet(s"$dir/centroids")
    // one streaming pass: no join, no aggregate, no shuffle but the
    // final repartition-by-cid that makes each cell one file. Rows are
    // vec_id-sorted within each cell file (r20, VERDICT r19 item 4):
    // the partitioned write sorts by the partition column anyway, so
    // widening that sort to (cid, vec_id) is free, gives parquet
    // monotone vec_id row-group/page statistics for the PQ serve's
    // rerank point-fetch, and delta-encodes the id column tighter.
    vectors
      .withColumn("cid", cellOf(col("emb"), model))
      .select(col("vec_id"), col("emb"), col("cid"))
      .repartition(col("cid"))
      .sortWithinPartitions(col("cid"), col("vec_id"))
      .write.mode("overwrite").partitionBy("cid").parquet(s"$dir/cells")
    model
  }

  /** The stored centroids of the index under `dir` as the driver-side
    * model the cosine router ([[graft.expr.NearestCells]]) carries,
    * sorted by cid: K rows, so collecting them is reading a model, not
    * moving data. */
  private[graft] def centroids(spark: SparkSession,
                               dir: String): Seq[(Int, Array[Double])] =
    spark.read.parquet(s"$dir/centroids")
      .select(col("cid").cast("int"), col("c")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1).toSeq

  /** Append NEW vectors to an existing index with the STORED quantizer
    * kept FROZEN — the production maintenance regime for a corpus that
    * grows daily: assignment is one broadcast-scored scan of the
    * increment, the write appends files inside each cell's partition
    * directory, and nothing already on disk is read or rewritten. The
    * quantizer is retrained (a fresh [[build]]) only on distribution
    * drift; until then every probe sees old and new vectors through the
    * same cell geometry, so probe-after-append equals probing one index
    * built from the union under that quantizer (IvfIndexSpec asserts
    * exactly this). */
  def append(spark: SparkSession, vectors: DataFrame, dir: String): Unit =
    cells(vectors, spark.read.parquet(s"$dir/centroids"))
      .write.mode("append").partitionBy("cid").parquet(s"$dir/cells")

  /** [[append]] for a [[buildLarge]] (COSINE-metric) index: same frozen
    * quantizer, same append-only file contract, but assignment is the
    * one-pass [[graft.expr.NearestCells]] cosine argmax — the metric
    * the index was built (and is served) under. Appending an increment
    * through [[append]]'s Euclidean scorer would file vectors in the
    * wrong cells for cosine routing and silently break the serve's
    * self-retrieval contract, so the two metrics keep twin entry
    * points sharing one layout and one [[compact]] path. */
  def appendLarge(spark: SparkSession, vectors: DataFrame, dir: String): Unit = {
    vectors
      .withColumn("cid", cellOf(col("emb"), centroids(spark, dir)))
      .select(col("vec_id"), col("emb"), col("cid"))
      .write.mode("append").partitionBy("cid").parquet(s"$dir/cells")
  }

  /** PQ-encode an existing [[buildLarge]] index into its IVFADC serving
    * twin (Jégou et al. 2011 §V; FAISS IndexIVFPQ): per-subspace
    * codebooks fit on the coarse quantizer's own training set
    * ([[cosineSample]]) by its own trainer ([[kMeans]], seeded per
    * subspace; `PqIndex.trainCodebooks` stays the oracle-mirrorable
    * path), then ONE streaming
    * [[graft.expr.NearestCodes]] scan encodes the full corpus — O(N)
    * rows, s·k·subDim flops per row, no join/shuffle/aggregate (the
    * relational encoder's fan-out join + `first(emb)`/`min_by`
    * aggregate is the §8.12 SortAggregate trap at this scale).
    *
    * Layout alongside the raw cells, cid from the cells table verbatim
    * (no re-assignment — the codes file in cell c holds exactly the
    * vectors of cell c): `$dir/pq_cells` (vec_id, codes array<int>,
    * partitioned by cid — WIDE form, ~s ints per vector, so a probe
    * scan reads ~25× fewer bytes than the raw cells at dim 64), and
    * `$dir/pq_codebooks` (sub, code, c). Codes encode the UNIT-sphere
    * vectors (cosine is the serve's metric; [[graft.expr.NearestCodes]]
    * normalizes internally), so ADC's summed squared sub-distances
    * approximate 2−2·cos and ascending ADC order is descending cosine
    * order. */
  def encodePqLarge(spark: SparkSession, dir: String, s: Int = 4,
                    subDim: Int = 16, k: Int = 256,
                    iters: Int = 20): Unit = {
    import spark.implicits._
    val cells = spark.read.parquet(s"$dir/cells")
    val train = cosineSample(cells).cache()
    val kSub = math.min(k.toLong, train.count()).toInt
    val codebooks: Seq[Seq[Array[Double]]] = (0 until s).map { sub =>
      kMeans(train.select(slice(col("emb"), sub * subDim + 1, subDim).as("emb")),
        kSub, iters, seed = 42L + sub).map(_._2)
    }
    train.unpersist()
    codebooks.zipWithIndex.flatMap { case (cb, sub) =>
      cb.zipWithIndex.map { case (c, code) => (sub, code, c.toSeq) }
    }.toDF("sub", "code", "c")
      .write.mode("overwrite").parquet(s"$dir/pq_codebooks")
    cells
      .withColumn("codes", GraftFunctions.nearestCodes(col("emb"), codebooks))
      .select(col("vec_id"), col("codes"), col("cid"))
      .repartition(col("cid"))
      .sortWithinPartitions(col("cid"), col("vec_id"))
      .write.mode("overwrite").partitionBy("cid").parquet(s"$dir/pq_cells")
  }

  /** [[appendLarge]]'s PQ twin (r19): encode NEW vectors with the
    * STORED codebooks — frozen, exactly like the coarse quantizer in
    * the append regime — and append their codes to `pq_cells` under the
    * SAME cids [[appendLarge]] files the raw vectors in (same
    * [[graft.expr.NearestCells]] cosine argmax over the stored
    * centroids, so the two tables stay row-for-row mirrors). Without
    * this, an append leaves `pq_cells` stale and the PQ serve silently
    * misses the increment; with it, append-day maintenance is two
    * one-pass scans of the increment and nothing on disk is rewritten.
    * Codebooks are retrained only with the quantizer (a fresh
    * [[encodePqLarge]] after a rebuild) — per-subspace code geometry
    * drifts with the same distribution shift cell geometry does. */
  def appendPqLarge(spark: SparkSession, vectors: DataFrame, dir: String): Unit = {
    val cbs = readPqCodebooks(spark, dir)
    vectors
      .withColumn("cid", cellOf(col("emb"), centroids(spark, dir)))
      .withColumn("codes", GraftFunctions.nearestCodes(col("emb"), cbs))
      .select(col("vec_id"), col("codes"), col("cid"))
      .write.mode("append").partitionBy("cid").parquet(s"$dir/pq_cells")
  }

  /** [[compact]] for the PQ codes table — the same maintenance pass
    * ([[IndexMaintenance.compactCells]] is layout-generic) over
    * `$dir/pq_cells`, which [[appendPqLarge]] fragments exactly as
    * [[append]] fragments the raw cells. */
  def compactPq(spark: SparkSession, dir: String,
                maxFilesPerCell: Int = 8): CompactStats =
    IndexMaintenance.compactCells(spark, s"$dir/pq_cells", maxFilesPerCell)

  /** The stored per-subspace PQ codebooks of an [[encodePqLarge]] index
    * as the driver-side MODEL the serve expressions carry (s × k ×
    * subDim doubles — ~130 KB at the defaults): outer Seq ordered by
    * subspace, inner by code id, so `codebooks(sub)(code)` is exactly
    * the centroid [[graft.expr.NearestCodes]] wrote `code` for. */
  def readPqCodebooks(spark: SparkSession, dir: String): Seq[Seq[Array[Double]]] = {
    val rows = spark.read.parquet(s"$dir/pq_codebooks")
      .select(col("sub").cast("int"), col("code").cast("int"), col("c"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, cb) =>
      cb.sortBy(_._2).map(_._3).toSeq
    }
  }

  /** Compact cell partitions that [[append]] increments have fragmented
    * past `maxFilesPerCell` data files — see [[IndexMaintenance]] for
    * the cost model (append promises no rewrite; ~365 daily increments
    * later, probe latency is file-open overhead) and the swap
    * mechanics. Only over-threshold cells are read or rewritten; the
    * stored quantizer is untouched, so probe results are identical
    * before and after (IvfIndexSpec asserts both). */
  def compact(spark: SparkSession, dir: String,
              maxFilesPerCell: Int = 8): CompactStats =
    IndexMaintenance.compactCells(spark, s"$dir/cells", maxFilesPerCell)

  /** The `topK` most similar of each probe's `(probe_id, neighbor_id,
    * pe, ce)` candidate pairs by exact cosine (neighbor_id breaks ties):
    * `(probe_id, neighbor_id, rank, score)`, score rounded to 6 dp. The
    * IVF serve and the catalog's exact cosine baselines both rank
    * through it. */
  def rankByCosine(pairs: DataFrame, topK: Int): DataFrame = {
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    pairs.withColumn("score", GraftFunctions.cosineSimilarity(col("pe"), col("ce")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topK)
      .select(col("probe_id"), col("neighbor_id"), col("rank"),
        round(col("score"), 6).as("score"))
  }

  /** The IVF serve: route each `(vec_id, emb)` probe to its `nprobe`
    * nearest cells under the Euclidean `centroids`, join it against the
    * `(vec_id, emb, cid)` [[cells]] of those cells and rank the
    * candidates by exact cosine. q57 calls it on tables built in memory,
    * [[probe]] on the stored ones, where the broadcast probe side's join
    * on the partition column is dynamic partition pruning. */
  def serve(cells: DataFrame, centroids: DataFrame, probes: DataFrame,
            nprobe: Int, topK: Int): DataFrame = {
    val pc = Clustering.assignCells(probes, centroids, nprobe)
      .select(col("vec_id").as("probe_id"), col("emb").as("pe"),
        col("cid").cast("int").as("cid"))
    rankByCosine(cells.join(broadcast(pc), Seq("cid"))
        .where(col("probe_id") =!= col("vec_id"))
        .select(col("probe_id"), col("vec_id").as("neighbor_id"),
          col("pe"), col("emb").as("ce")), topK)
      .orderBy(col("probe_id"), col("rank"))
  }

  /** Probe from disk: [[serve]] over the stored centroids and
    * cid-partitioned cells. */
  def probe(spark: SparkSession, dir: String, probes: DataFrame,
            nprobe: Int = 2, topK: Int = 3): DataFrame =
    serve(spark.read.parquet(s"$dir/cells"),
      spark.read.parquet(s"$dir/centroids"), probes, nprobe, topK)
}
