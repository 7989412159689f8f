package graft.rec

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational Lloyd's k-means, whose every step is a DataFrame
  * transform: the Euclidean coarse quantizer of q57's IVF index, the
  * IVF/PQ catalog queries and [[IvfIndex.build]], deterministic and
  * plan-only, so the DuckDB oracle can mirror it. The cosine quantizer
  * of the large-corpus index and the streaming serve is
  * [[IvfIndex.fitCosine]] (seeded MLlib k-means on the unit sphere).
  */
object Clustering {

  /** Euclidean distance of a vector column to a centroid column, folded
    * sequentially in index order (bit-identical to a scalar loop over the
    * array, e.g. DuckDB's `list_distance`), then rounded so a ~1-ulp
    * cross-engine difference in centroid averages cannot flip an argmin:
    * rounding collapses near-ties to exact ties, and the cid tiebreak
    * resolves those identically everywhere. */
  private def distTo(emb: Column, c: Column): Column =
    round(sqrt(aggregate(zip_with(emb, c, (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, x) => acc + x)), 6)

  /** Nearest-`nprobe` centroids per vector: (vec_id, emb, cid).
    * The centroid table is tiny (K rows) and broadcast, so scoring is a
    * map-side pass over the vectors. The common nprobe=1 argmin goes
    * through `min_by` — a partially-aggregated groupBy that shuffles ~n
    * pre-combined rows, not the n·K scored rows a per-vector window would
    * sort; multi-probe (only ever run on small probe sets) keeps the
    * window top-k. */
  def assignCells(vectors: DataFrame, centroids: DataFrame,
                  nprobe: Int = 1): DataFrame = {
    val scored = vectors.crossJoin(broadcast(centroids))
      .withColumn("dist", distTo(col("emb"), col("c")))
    if (nprobe == 1)
      scored.groupBy(col("vec_id"))
        .agg(first(col("emb")).as("emb"),
             min_by(col("cid"), struct(col("dist"), col("cid"))).as("cid"))
        .select(col("vec_id"), col("emb"), col("cid"))
    else {
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("dist"), col("cid"))
      scored.withColumn("rn", row_number().over(w))
        .where(col("rn") <= nprobe)
        .select(col("vec_id"), col("emb"), col("cid"))
    }
  }

  /** GROUPED nearest-centroid assignment: like [[assignCells]] (nprobe=1)
    * but over a `(grp, vec_id, emb)` relation against `(grp, cid, c)`
    * centroids — every group's argmin runs in the SAME plan, replacing a
    * per-group loop of scans with one equi-join on grp + one partially
    * aggregated groupBy. The per-group math is [[assignCells]]'s exactly
    * (same distTo rounding, same cid tiebreak). */
  def assignCellsGrouped(vectors: DataFrame,
                         centroids: DataFrame): DataFrame =
    vectors.join(broadcast(centroids), Seq("grp"))
      .withColumn("dist", distTo(col("emb"), col("c")))
      .groupBy(col("grp"), col("vec_id"))
      .agg(first(col("emb")).as("emb"),
           min_by(col("cid"), struct(col("dist"), col("cid"))).as("cid"))
      .select(col("grp"), col("vec_id"), col("emb"), col("cid"))

  /** GROUPED [[lloydKMeans]]: one independent k-means PER GROUP, all
    * trained in a single relational plan — the per-subspace PQ codebook
    * build collapses from s sequential trainings (s× the scans, s× the
    * driver roundtrips) to one. Per group the algebra is [[lloydKMeans]]
    * verbatim: same lowest-`vec_id` init, same unrolled rounds, same
    * 6dp-rounded argmin (which also absorbs the aggregation-order ulp
    * differences a fused groupBy can introduce — the same tolerance the
    * cross-engine oracle already relies on). Input `(grp, vec_id, emb)`;
    * output `(grp, cid, c)`, in [[lloydKMeans]]'s [[rounds]]. */
  def lloydKMeansGrouped(vectors: DataFrame, k: Int,
                         iters: Int): DataFrame = {
    // per-group k LOWEST ACTUAL ids (ADVICE r14): `vec_id < k` only
    // equals this when every group's ids densely cover [0, k) — true of
    // the fixtures, silently degenerate (missing centroids) otherwise.
    // For dense-id inputs the two forms pick identical seeds, so the
    // cross-engine oracles (whose SQL keeps the `vec_id < k` spelling)
    // are unaffected.
    val seedW = Window.partitionBy(col("grp")).orderBy(col("vec_id"))
    val init = vectors
      .withColumn("__seed_rn", row_number().over(seedW))
      .where(col("__seed_rn") <= k)
      .select(col("grp"), col("vec_id").as("cid"), col("emb").as("c"))
    rounds(init, iters) { cent =>
      assignCellsGrouped(vectors, cent)
        .select(col("grp"), col("cid"),
          posexplode(col("emb")).as(Seq("pos", "v")))
        .groupBy(col("grp"), col("cid"), col("pos"))
        .agg(avg(col("v")).as("va"))
        .groupBy(col("grp"), col("cid"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("va")))),
          x => x.getField("va")).as("c"))
    }
  }

  /** `iters` Lloyd rounds from `init`, each reading the last one's K-row
    * table as a collected local relation, so every scan runs once and
    * the plan text (printed by every action) stays flat: nesting the
    * rounds doubled it per round, 23k chars at 2 rounds and 8.3M at 10
    * (400 dim-8 vectors, K=4). The last round is returned cached. */
  private def rounds(init: DataFrame, iters: Int)(
      round: DataFrame => DataFrame): DataFrame =
    (1 to iters).foldLeft(init) { (cent, i) =>
      val next = round(cent)
      if (i == iters) next.cache()
      else cent.sparkSession.createDataFrame(
        java.util.Arrays.asList(next.collect(): _*), next.schema)
    }

  /** Lloyd's k-means as a relational plan: deterministic init (the K
    * lowest vec_ids), a fixed number of unrolled assign/update rounds,
    * each round's K-row result read back as a leaf ([[rounds]]).
    * Returns (cid, c: array<double>).
    *
    * Each round is one broadcast assignment pass plus one groupBy over
    * (cid, pos) exploded elements — K·dim cells, trivially small — so the
    * build is O(n·K·dim) scan work per round with only bounded-key
    * shuffles. At 100 TB you'd fit the quantizer on a sample and assign
    * the full collection with [[assignCells]]; both halves are this same
    * code. (Jégou et al. 2011's IVF coarse quantizer, built relationally.)
    */
  def lloydKMeans(vectors: DataFrame, k: Int, iters: Int): DataFrame = {
    // the k LOWEST ACTUAL ids, as the doc promises (ADVICE r14): the old
    // `vec_id < k` filter silently seeded fewer (or zero) centroids on
    // catalogs whose ids don't densely cover [0, k) — e.g. an item
    // catalog starting at 1_000_000 fed through
    // [[graft.stream.StreamOps.buildServeIndex]]. orderBy+limit plans as
    // TakeOrderedAndProject (per-partition top-k, K-row driver merge),
    // and for dense-id inputs picks exactly the same seeds, so the
    // cross-engine oracles (SQL spelling `vec_id < k`) are unaffected.
    val init = vectors.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("cid"), col("emb").as("c"))
    rounds(init, iters) { cent =>
      assignCells(vectors, cent, nprobe = 1)
        .select(col("cid"), posexplode(col("emb")).as(Seq("pos", "v")))
        .groupBy(col("cid"), col("pos"))
        .agg(avg(col("v")).as("va"))
        .groupBy(col("cid"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("va")))),
          x => x.getField("va")).as("c"))
    }
  }
}
