package graft.rec

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** LightGCN-style embedding propagation (He et al. 2020, SIGIR; ref
  * `/root/reference/src/csv/train_rmse.py:121`, capability M4/SURVEY
  * §7.4): K rounds of normalized neighbor aggregation over the user–item
  * bipartite graph, expressed as joins + aggregations over factor
  * DataFrames — graph semantics without gradient descent.
  *
  * Each layer is two shuffles (item→user, user→item) on the natural FK
  * keys; layer outputs are layer-averaged as in the paper. Works on any
  * embedding width: the vector columns are `array<double>` and combined
  * with `zip_with`-style element arithmetic via posexplode/groupBy, which
  * keeps the plan fully relational (no UDFs) at any dimension.
  */
object GraphPropagation {

  /** One normalized propagation layer item→user→item.
    * @param edges (user_id, item_id, w) with w = 1/√(d_u·d_i)
    * @param itemEmb (item_id, pos, v) exploded embedding */
  private def layer(edges: DataFrame, itemEmb: DataFrame): DataFrame = {
    // Embedding sides broadcast (id-dimension-sized: |ids|·dim rows, the
    // same class as the du/di degree tables below) so the EDGE fact is
    // never re-shuffled by either half-layer join — only its per-id
    // partial aggregates cross each exchange.
    val userEmb = edges.join(broadcast(itemEmb), Seq("item_id"))
      .groupBy(col("user_id"), col("pos"))
      .agg(sum(col("v") * col("w")).as("v"))
    edges.join(broadcast(userEmb), Seq("user_id"))
      .groupBy(col("item_id"), col("pos"))
      .agg(sum(col("v") * col("w")).as("v"))
  }

  /** Propagate `layers` rounds from an initial exploded item embedding
    * (item_id, pos, v); returns the layer-averaged embedding in the same
    * exploded shape (including layer 0, as LightGCN does). */
  def propagate(ratings: DataFrame, itemEmb0: DataFrame, layers: Int): DataFrame = {
    val du = ratings.groupBy(col("user_id")).agg(count(lit(1)).as("du"))
    val di = ratings.groupBy(col("item_id")).agg(count(lit(1)).as("di"))
    // Coalesced before caching: the broadcast half-layer joins leave no
    // exchange for AQE to coalesce (see Sizing).
    val edges = ratings.join(broadcast(du), Seq("user_id"))
      .join(broadcast(di), Seq("item_id"))
      .select(col("user_id"), col("item_id"),
        (lit(1.0) / sqrt(col("du") * col("di"))).as("w"))
      .coalesce(Sizing.factParts(ratings))
      .cache()
    // cache each layer's |items|·dim-row output: layer k's plan embeds
    // layers 0..k-1 AND each layer is a union branch, so without caching
    // layer 0 executes layers+1 times (same O(iters²) lineage re-execution
    // the Lloyd's k-means rounds had)
    val all = (1 to layers).scanLeft(itemEmb0)((e, _) => layer(edges, e).cache())
    all.reduce(_ unionAll _)
      .groupBy(col("item_id"), col("pos"))
      .agg((sum(col("v")) / (layers + 1)).as("v"))
  }
}
