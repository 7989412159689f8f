package graft.rec

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational Lloyd's k-means, whose every step is a DataFrame
  * transform: the Euclidean coarse quantizer of q57's IVF index, the
  * IVF/PQ catalog queries and [[IvfIndex.build]], and the per-subspace
  * PQ codebooks — deterministic and plan-only, so the DuckDB oracle can
  * mirror it. The cosine quantizer of the large-corpus index and the
  * streaming serve is [[IvfIndex.fitCosine]] (seeded MLlib k-means on
  * the unit sphere).
  *
  * Both steps take optional group columns `by`: the relation is then
  * that many independent problems solved in the same plan (the PQ
  * subspaces), keyed by `by` on both the vector and the centroid side;
  * with none it is a single problem.
  */
object Clustering {

  /** The Euclidean distance of two vector columns, folded sequentially
    * in index order (bit-identical to a scalar loop over the array,
    * e.g. DuckDB's `list_distance`), then rounded to 6 dp so a ~1-ulp
    * cross-engine difference in centroid averages cannot flip an
    * argmin: rounding collapses near-ties to exact ties, and the cid
    * tiebreak resolves those identically everywhere. Every relational
    * L2 of the ANN paths (assignment, PQ partials, exact rerank and the
    * exact baselines) is this column. */
  def distance(a: Column, b: Column): Column =
    round(sqrt(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)), 6)

  /** Nearest-`nprobe` centroids per vector: `(by…, vec_id, emb, cid)`
    * from `(by…, vec_id, emb)` vectors and `(by…, cid, c)` centroids.
    * The centroid table is tiny (K rows per group) and broadcast, so
    * scoring is a map-side pass over the vectors. The
    * common nprobe=1 argmin goes through `min_by` — a
    * partially-aggregated groupBy that shuffles ~n pre-combined rows,
    * not the n·K scored rows a per-vector window would sort;
    * multi-probe (only ever run on small probe sets) keeps the window
    * top-k. */
  def assignCells(vectors: DataFrame, centroids: DataFrame,
                  nprobe: Int = 1, by: Seq[String] = Nil): DataFrame = {
    val keys = by.map(col) :+ col("vec_id")
    val out = keys ++ Seq(col("emb"), col("cid"))
    val scored = vectors.join(broadcast(centroids), by)
      .withColumn("dist", distance(col("emb"), col("c")))
    if (nprobe == 1)
      scored.groupBy(keys: _*)
        .agg(first(col("emb")).as("emb"),
             min_by(col("cid"), struct(col("dist"), col("cid"))).as("cid"))
        .select(out: _*)
    else {
      val w = Window.partitionBy(keys: _*).orderBy(col("dist"), col("cid"))
      scored.withColumn("rn", row_number().over(w))
        .where(col("rn") <= nprobe)
        .select(out: _*)
    }
  }

  /** Lloyd's k-means as a relational plan over `(by…, vec_id, emb)`:
    * deterministic init (each group's k lowest ACTUAL vec_ids), a fixed
    * number of unrolled assign/update rounds, each round's K-row result
    * read back as a leaf ([[rounds]]). Returns `(by…, cid, c:
    * array<double>)`, cached.
    *
    * Each round is one broadcast assignment pass plus one groupBy over
    * (cid, pos) exploded elements — K·dim cells, trivially small — so the
    * build is O(n·K·dim) scan work per round with only bounded-key
    * shuffles. At 100 TB you'd fit the quantizer on a sample and assign
    * the full collection with [[assignCells]]; both halves are this same
    * code. (Jégou et al. 2011's IVF coarse quantizer, built
    * relationally.) Grouped, all the groups train in the same plan: the
    * PQ build's s subspace trainings cost one scan per round, not s;
    * per group the algebra is the single problem's verbatim.
    *
    * Seeding by the lowest ids rather than `vec_id < k` (ADVICE r14):
    * the filter seeded fewer (or zero) centroids on catalogs whose ids
    * don't densely cover [0, k). For dense-id inputs the two pick the
    * same seeds, so the cross-engine oracles (SQL spelling `vec_id < k`)
    * are unaffected. One problem seeds through `orderBy.limit`, which
    * plans as a bounded TakeOrderedAndProject (per-partition top-k, a
    * K-row driver merge); groups seed through a per-group window. */
  def lloydKMeans(vectors: DataFrame, k: Int, iters: Int,
                  by: Seq[String] = Nil): DataFrame = {
    val grp = by.map(col)
    val seeds =
      if (by.isEmpty) vectors.orderBy(col("vec_id")).limit(k)
      else vectors
        .withColumn("__seed_rn",
          row_number().over(Window.partitionBy(grp: _*).orderBy(col("vec_id"))))
        .where(col("__seed_rn") <= k)
    val init = seeds.select(grp ++ Seq(col("vec_id").as("cid"), col("emb").as("c")): _*)
    rounds(init, iters) { cent =>
      assignCells(vectors, cent, by = by)
        .select(grp ++ Seq(col("cid"), posexplode(col("emb")).as(Seq("pos", "v"))): _*)
        .groupBy(grp ++ Seq(col("cid"), col("pos")): _*)
        .agg(avg(col("v")).as("va"))
        .groupBy(grp :+ col("cid"): _*)
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
}
