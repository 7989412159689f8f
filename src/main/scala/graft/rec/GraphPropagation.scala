package graft.rec

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expr.FactorTable
import GradientMF.{ItemSide, Model, UserSide, collectSides, lookup, perSide, scaled, sums}

/** LightGCN-style embedding propagation (He et al. 2020, SIGIR; ref
  * `/root/reference/src/csv/train_rmse.py:121`, capability M4/SURVEY
  * §7.4): K rounds of normalized neighbor aggregation over the user–item
  * bipartite graph — graph semantics without gradient descent.
  *
  * Embeddings are [[GradientMF.Model]]s: both sides' vectors of a known
  * width carried on the driver, the layout of [[GradientMF]]'s trainers,
  * whose LightGCN propagates with the same [[step]] over the same
  * [[edges]]. A step is one collected query over the cached edge table
  * that reads each edge's vectors through the carried tables, so no
  * layer joins, caches or broadcasts a table; layer outputs are
  * layer-averaged as in the paper, on the driver.
  *
  * Scale ceiling: as [[GradientMF]]'s, (users + items) × width doubles
  * on the driver and in each step's plan; the edge table stays
  * distributed.
  */
object GraphPropagation {

  /** The normalized edge table `(user_id, item_id, w)` with
    * w = 1/√(d_u·d_i) over the rows of `ratings`. The degrees are one
    * collected [[step]]-shaped query, carried as width-1 tables, so the
    * edge fact is derived without a join; it is coalesced before caching
    * because that leaves no exchange for AQE to coalesce (see Sizing). */
  def edges(ratings: DataFrame): DataFrame = {
    val one = array(lit(1.0))
    val d = collectSides(perSide(ratings, Seq((UserSide, col("user_id"), one),
      (ItemSide, col("item_id"), one))), 1, sums(1), identity)._1
    ratings.select(col("user_id"), col("item_id"),
        (lit(1.0) / sqrt(lookup(col("user_id"), d.users)(0) *
          lookup(col("item_id"), d.items)(0))).as("w"))
      .coalesce(Sizing.factParts(ratings))
      .cache()
  }

  /** One edge pass, collected: per side, `post(Σ_edge w·v)` for each id,
    * v the vector in `m` of the edge's other endpoint (a user's sum runs
    * over its items, an item's over its users; `post` sees the sum as
    * `col("agg")`'s value, with `side` and `id` in scope). A side whose
    * other side is empty in `m` is not computed and comes back empty. */
  def step(edges: DataFrame, m: Model, width: Int,
           post: Column => Column = identity): Model =
    collectSides(perSide(
        edges.select(col("user_id"), col("item_id"), col("w"),
          lookup(col("user_id"), m.users).as("uv"),
          lookup(col("item_id"), m.items).as("vv")),
        Seq((UserSide, col("user_id"), scaled(col("w"), col("vv"), width), m.items),
            (ItemSide, col("item_id"), scaled(col("w"), col("uv"), width), m.users))
          .collect { case (s, id, c, from) if from.size > 0 => (s, id, c) }),
      width, sums(width), post)._1

  /** `pick` of the item tables of layers 0..`layers` — layer k is
    * item→user→item, two [[step]]s, from layer k−1 — as a relation
    * `(item_id, val)` in `itemEmb0`'s shape. `itemEmb0` is layer 0, one
    * width-`width` vector per item. The edge table lives for the call. */
  def itemLayers(ratings: DataFrame, itemEmb0: DataFrame, width: Int,
                 layers: Int)(pick: Seq[FactorTable] => FactorTable): DataFrame = {
    val none = FactorTable(Array.emptyLongArray, Array.empty, width)
    val rows = itemEmb0.select(col("item_id").cast("long"), col("val")).collect()
    val e0 = FactorTable(rows.map(_.getLong(0)),
      rows.map(_.getSeq[Double](1).toArray), width)
    val ed = edges(ratings)
    val all = try (1 to layers).scanLeft(e0) { (items, _) =>
        step(ed, Model(step(ed, Model(none, items), width).users, none), width).items
      } finally ed.unpersist()
    GradientMF.relation(ratings.sparkSession, pick(all), "item_id")
      .select(col("item_id").cast(itemEmb0.schema("item_id").dataType),
        col("val"))
  }

  /** Propagate `layers` rounds from an initial width-`width` item
    * embedding `(item_id, val)`; returns the layer-averaged embedding in
    * the same shape (including layer 0, as LightGCN does): per item, the
    * sum of its vectors in layers 0..`layers`, in layer order, over
    * `layers + 1`. */
  def propagate(ratings: DataFrame, itemEmb0: DataFrame, width: Int,
                layers: Int): DataFrame =
    itemLayers(ratings, itemEmb0, width, layers) { all =>
      val ids = all.flatMap(_.ids).distinct.toArray
      FactorTable(ids, ids.map { id =>
        val vs = all.flatMap(t => Option(t.row(id))).map(_.toDoubleArray)
        Array.tabulate(width)(i => vs.map(_(i)).sum / (layers + 1))
      }, width)
    }
}
