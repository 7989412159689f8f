package graft.rec

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** LightGCN-style embedding propagation (He et al. 2020, SIGIR; ref
  * `/root/reference/src/csv/train_rmse.py:121`, capability M4/SURVEY
  * §7.4): K rounds of normalized neighbor aggregation over the user–item
  * bipartite graph, expressed as joins + aggregations over factor
  * DataFrames — graph semantics without gradient descent.
  *
  * Embeddings are `(id, val: array<double>)` tables of a known width —
  * the layout of [[GradientMF]]'s factor tables, whose LightGCN trainer
  * propagates over the same [[edges]]. Each layer is
  * two edge joins + per-id aggregations (item→user, user→item) on the
  * natural FK keys, one vector per edge row, so the width never
  * multiplies the rows; layer outputs are layer-averaged as in the
  * paper.
  */
object GraphPropagation {

  /** The normalized edge table `(user_id, item_id, w)` with
    * w = 1/√(d_u·d_i) over the rows of `ratings`. The degree tables
    * broadcast (id-dimension-sized) so the edge fact is derived without
    * a shuffle; it is coalesced before caching because the broadcast
    * propagation joins leave no exchange for AQE to coalesce (see
    * Sizing). */
  def edges(ratings: DataFrame): DataFrame = {
    val du = ratings.groupBy(col("user_id")).agg(count(lit(1)).as("du"))
    val di = ratings.groupBy(col("item_id")).agg(count(lit(1)).as("di"))
    ratings.join(broadcast(du), Seq("user_id"))
      .join(broadcast(di), Seq("item_id"))
      .select(col("user_id"), col("item_id"),
        (lit(1.0) / sqrt(col("du") * col("di"))).as("w"))
      .coalesce(Sizing.factParts(ratings))
      .cache()
  }

  /** `(to, val)` with val = Σ_edge w·other.val per `to` id, elementwise
    * over `width`: one edge join + one per-element weighted-sum agg,
    * rows = edges. `other` (`(from, val)`, id-dimension-sized)
    * broadcasts, so the EDGE fact is never shuffled by the join — only
    * its per-id partial aggregates cross the exchange. */
  def spread(edges: DataFrame, other: DataFrame, from: String, to: String,
             width: Int): DataFrame =
    edges.join(broadcast(other.select(col(from), col("val").as("ov"))),
        Seq(from))
      .groupBy(col(to))
      .agg(array((0 until width).map(i =>
        sum(col("w") * col("ov")(i))): _*).as("val"))

  /** One normalized propagation layer item→user→item over `(item_id,
    * val)`. */
  def layer(edges: DataFrame, items: DataFrame, width: Int): DataFrame =
    spread(edges, spread(edges, items, "item_id", "user_id", width),
      "user_id", "item_id", width)

  /** Propagate `layers` rounds from an initial width-`width` item
    * embedding `(item_id, val)`; returns the layer-averaged embedding in
    * the same shape (including layer 0, as LightGCN does). */
  def propagate(ratings: DataFrame, itemEmb0: DataFrame, width: Int,
                layers: Int): DataFrame = {
    val ed = edges(ratings)
    // cache each layer's |items|-row output: layer k's plan embeds
    // layers 0..k-1 AND each layer is a union branch, so without caching
    // layer 0 executes layers+1 times (same O(iters²) lineage re-execution
    // the Lloyd's k-means rounds had)
    val all = (1 to layers).scanLeft(itemEmb0)((e, _) =>
      layer(ed, e, width).cache())
    all.reduce(_ unionAll _)
      .groupBy(col("item_id"))
      .agg(array((0 until width).map(i =>
        sum(col("val")(i)) / (layers + 1)): _*).as("val"))
  }
}
