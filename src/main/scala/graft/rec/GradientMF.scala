package graft.rec

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Full-batch gradient-descent matrix factorization, expressed entirely
  * as joins + aggregations (M5's training semantics, relationally): the
  * reference trains its embeddings by gradient descent on rating error
  * (`/root/reference/src/csv/train_rmse.py:121-141`; MF-GD per Koren et
  * al. 2009), and this is that loop with factor tables holding ONE
  * rank-length vector per id — `(id, val: array<double>)` — the layout
  * every production trainer materializes (MLlib ALS's factor tables are
  * the same shape), because it is the one that scales: each epoch's
  * shuffles carry row counts INDEPENDENT of rank (a long `(id, f, val)`
  * layout ships rank× the rows through every edge-keyed join — 64× at a
  * realistic rank-64), and the dot product needs no groupBy at all:
  *
  *  - predict: ratings ⋈ U ⋈ V on the id keys alone (both factor sides
  *    are broadcastable dimension tables), error per rating row as a
  *    map-side fixed-order `zip_with`/`aggregate` fold — no shuffle;
  *  - gradient: one narrow groupBy per side over the rating rows,
  *    per-element `avg(err · otherVec[i])` — per-example-normalized so
  *    step size is degree-independent (a power user's gradient is the
  *    mean over their ratings, not the sum);
  *  - update: `val ← val − lr·(grad + λ·val)`, a 1:1 join + `zip_with`.
  *
  * Each epoch's factor tables are eagerly `localCheckpoint`ed — the
  * update references its input twice (gradient + update term), so as
  * with q72's pointer jumping, lineage truncation per round is what
  * keeps the Catalyst plan constant-size across epochs. At cluster
  * scale the checkpoint becomes a factor-table materialization per
  * epoch, which is what every iterative trainer on Spark does (MLlib
  * ALS checkpoints the same way).
  *
  * MF (q86), BPR (q87/q106) and LightGCN (q88/q107) share ONE epoch
  * loop, [[GradientMF.descend]]: each trainer supplies only its forward
  * relation and its two gradient tables.
  *
  * Determinism: factors initialize from the shared md5-prefix hash
  * (exact integers → exact doubles in [−0.5, 0.499]), the global mean
  * is subtracted from ratings (the residual model), dot products fold
  * f = 0..rank−1 in fixed order, and the whole loop is pure
  * joins/aggs — so the identical computation is expressible as unrolled
  * SQL CTEs and the TRAINING ITSELF is oracle-checkable
  * (q86_mf_gd_training; the oracle spells the same math over a long
  * `(id, f, val)` relation, which DuckDB is happier unrolling).
  */
object GradientMF {
  import graft.Lineage.checkpointLeaf

  private def h32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Deterministic hash-init factor value in [-0.5, 0.499]. */
  private def initVal(kind: String, id: Column, f: Column): Column =
    ((h32(concat(lit(kind), id.cast("string"), lit("_"), f.cast("string")))
      % 1000) - 500).cast("double") / 1000.0

  /** The hash-init factor table `(idCol, val)` over the distinct ids of
    * `ids`: element f of each rank-length vector is exactly the
    * long-format `initVal(kind, id, f)`, so the array layout changes
    * nothing about what is computed; `bias` appends one constant
    * coordinate (BPR's item-bias slot). */
  private def init(kind: String, ids: DataFrame, idCol: String, rank: Int,
                   bias: Option[Double] = None): DataFrame = {
    val base = array((0 until rank).map(f =>
      initVal(kind, col(idCol), lit(f.toLong))): _*)
    ids.select(col(idCol)).distinct()
      .select(col(idCol),
        bias.fold(base)(b => concat(base, array(lit(b)))).as("val"))
  }

  /** Fixed-order dot product (f ascending), statically expanded for
    * the known rank — bit-identical to the former
    * `aggregate(zip_with(...))` fold (same order, same 0.0 seed) but
    * whole-stage-codegen'd instead of interpreted per element
    * ([[graft.expr.GraftFunctions.dotProductFixed]]): this runs once
    * per rating row per epoch, the trainers' hottest expression. */
  private def dot(a: Column, b: Column, width: Int): Column =
    graft.expr.GraftFunctions.dotProductFixed(a, b, width)

  /** One aggregated rank-length vector: element i is `mk(i)` (an
    * aggregate expression), assembled with `array` so a whole gradient
    * vector is a single agg column. */
  private def vecAgg(rank: Int)(mk: Int => Column): Column =
    array((0 until rank).map(mk): _*)

  /** `df` coalesced to its [[Sizing.factParts]] count and cached: the
    * epoch pipeline has no exchange for AQE to coalesce, so the fact's
    * cache and every per-epoch checkpoint take this count. */
  private def cachedFact(df: DataFrame): (DataFrame, Int) = {
    val parts = Sizing.factParts(df)
    (df.coalesce(parts).cache(), parts)
  }

  /** `(user_id, item_id, res)`: ratings minus the mean in `g` (a 1-row
    * `mu` table). */
  private def centred(ratings: DataFrame, g: DataFrame): DataFrame =
    ratings.crossJoin(broadcast(g))
      .select(col("user_id"), col("item_id"),
        (col("rating") - col("mu")).as("res"))

  /** The residual model's training fact, cached (see [[cachedFact]]),
    * with the train mean `g` and the partition count. */
  private def residuals(ratings: DataFrame): (DataFrame, DataFrame, Int) = {
    val g = ratings.agg(avg(col("rating")).as("mu"))
    val (res, parts) = cachedFact(centred(ratings, g))
    (res, g, parts)
  }

  /** Per-rating error rows, carrying both factor vectors so the two
    * gradient aggregations read this one checkpointed relation
    * without any further join. Factor sides are broadcast: they are
    * id-dimension-sized (distinct users/items × rank doubles), while
    * `res` is the ratings FACT — the unbounded side — which these
    * hints keep unshuffled through every epoch (each checkpointLeaf
    * carries defaultSizeInBytes stats, so without the hint the
    * planner sort-merge-joins and re-shuffles the fact twice per
    * epoch). */
  private def predictions(res: DataFrame, u: DataFrame, v: DataFrame,
                          rank: Int): DataFrame =
    res
      .join(broadcast(u.select(col("user_id"), col("val").as("uv"))),
        Seq("user_id"))
      .join(broadcast(v.select(col("item_id"), col("val").as("vv"))),
        Seq("item_id"))
      .select(col("user_id"), col("item_id"),
        (dot(col("uv"), col("vv"), rank) - col("res")).as("err"),
        col("uv"), col("vv"))

  /** Per-example-mean squared-error gradient per `id`, from the error
    * rows of [[predictions]]: `avg(err · other[i])`, `(id, val)`. */
  private def meanGrad(p: DataFrame, id: String, other: String,
                       rank: Int): DataFrame =
    p.groupBy(col(id))
      .agg(vecAgg(rank)(i => avg(col("err") * col(other)(i))).as("val"))

  private def epochLoss(k: Int, p: DataFrame): DataFrame =
    p.agg(round(sqrt(avg(col("err") * col("err"))), 6).as("rmse"))
      .select(lit(k).cast("long").as("epoch"), col("rmse"))

  /** `fit` run with an epoch hook collecting `loss(k, ·)` of each
    * epoch's relation — the `(epoch, …)` trajectory in epoch order. */
  private def trajectory(loss: (Int, DataFrame) => DataFrame)(
      fit: ((Int, DataFrame) => Unit) => Unit): DataFrame = {
    val losses = Seq.newBuilder[DataFrame]
    fit((k, d) => losses += loss(k, d))
    losses.result().reduce(_ unionAll _).orderBy(col("epoch"))
  }

  /** `val ← pin(val − lr·(grad + λ·val))`, elementwise, joined 1:1 per
    * id with the `(id, val)` gradient table. */
  private def update(base: DataFrame, grad: DataFrame, id: String,
                     lr: Double, reg: Double, pin: Column => Column)
      : DataFrame =
    base.join(broadcast(grad.select(col(id), col("val").as("grad"))),
        Seq(id))
      .select(col(id),
        pin(zip_with(col("val"), col("grad"),
          (x, gx) => x - lit(lr) * (gx + lit(reg) * x))).as("val"))

  /** The ONE epoch loop of every trainer here. From the initial factor
    * tables `(user_id, val)` / `(item_id, val)`, each epoch checkpoints
    * `forward(u, v)` (coalesced to `parts`; it feeds the loss and both
    * gradients), hands it to `onEpoch(k, ·)`, takes the two `(id, val)`
    * gradient tables from `grads`, and checkpoints each side's update
    * (`pinUser` re-shapes the user vector after its step). Returns the
    * trained base tables; the loss at index `epochs` is the caller's. */
  private def descend(u0: DataFrame, v0: DataFrame, epochs: Int, parts: Int,
      lr: Double, reg: Double, onEpoch: (Int, DataFrame) => Unit,
      pinUser: Column => Column = identity)(
      forward: (DataFrame, DataFrame) => DataFrame,
      grads: DataFrame => (DataFrame, DataFrame)): (DataFrame, DataFrame) = {
    var u = checkpointLeaf(u0)
    var v = checkpointLeaf(v0)
    for (k <- 0 until epochs) {
      val p = checkpointLeaf(forward(u, v).coalesce(parts))
      onEpoch(k, p)
      val (gu, gv) = grads(p)
      u = checkpointLeaf(update(u, gu, "user_id", lr, reg, pinUser))
      v = checkpointLeaf(update(v, gv, "item_id", lr, reg, identity))
    }
    (u, v)
  }

  /** Train `epochs` full-batch GD epochs of rank-`rank` MF on
    * `ratings` (user_id, item_id, rating); returns the per-epoch RMSE
    * trajectory `(epoch, rmse)` — epochs+1 rows, epoch 0 = the loss at
    * initialization. */
  def trainTrajectory(ratings: DataFrame, rank: Int, lr: Double,
                      reg: Double, epochs: Int): DataFrame =
    trajectory(epochLoss) { onEpoch =>
      val (res, _, parts) = residuals(ratings)
      val (u, v) = descend(init("u", res, "user_id", rank),
          init("i", res, "item_id", rank), epochs, parts, lr, reg, onEpoch)(
        predictions(res, _, _, rank),
        p => (meanGrad(p, "user_id", "vv", rank),
          meanGrad(p, "item_id", "uv", rank)))
      onEpoch(epochs, predictions(res, u, v, rank))
    }

  /** Full-batch BPR gradient descent (Rendle et al. 2009 — the ref's
    * top-N training objective, `/root/reference/src/csv/train_topn.py:
    * 98-109`) over the deterministic per-user (pos, neg) item pair
    * (q82's triple rule: top-rated vs bottom-rated, kept where the
    * ratings strictly differ). Same vector factors, hash init and
    * per-epoch checkpointing as [[trainTrajectory]]; the pairwise score
    * is d = u·(v_pos − v_neg), the loss ln(1+e^−d), and the gradients
    * ride the closed form dL/dd = −1/(1+e^d). Returns the per-epoch
    * `(epoch, bpr_loss, pair_acc)` trajectory — loss falling and the
    * share of correctly-ordered pairs rising is BPR learning, and both
    * are oracle-checked (q87). */
  def bprTrainTrajectory(ratings: DataFrame, rank: Int, lr: Double,
                         reg: Double, epochs: Int): DataFrame =
    trajectory(bprEpochLoss)(bprFit(ratings, rank, lr, reg, epochs, _))

  /** The trained BPR factor tables `(u, v)` — each `(id, val:
    * array<double>)` — for serving a top-N ranking from the pairwise
    * objective (q106 composes these with the precision/recall metric). */
  def bprTrainedFactors(ratings: DataFrame, rank: Int, lr: Double,
                        reg: Double, epochs: Int): (DataFrame, DataFrame) =
    bprFit(ratings, rank, lr, reg, epochs, (_, _) => ())

  /** ALL-positives BPR triples — the reference's actual training regime
    * (`/root/reference/src/csv/train_topn.py:98-109` pairs every
    * positive interaction with a sampled negative), where q82/q106's
    * head-tail rule keeps one triple per user: every (user, item) with
    * rating ≥ `posMin` is a positive, and its negative is a
    * hash-DETERMINISTIC draw from the item catalog (U5's seeded-sampling
    * idiom — the same triple set on every run and engine), anti-joined
    * against the user's rated set so a draw the user has rated drops
    * that triple (expected loss = interaction density, ~6% at the
    * ml-100k shape — the surviving set is still ~all positives; the
    * reference's sampler re-draws instead, a residual the top-N anchor
    * spec documents). The item catalog is indexed by a single-partition
    * window — the item dimension is the SMALL broadcast side throughout
    * (q106's serving makes the same assumption); the catalog count rides
    * a 1-row crossJoin (q06's stats idiom), never a driver collect. */
  def bprAllPosTriples(ratings: DataFrame, posMin: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val items = ratings.select(col("item_id")).distinct()
      .withColumn("idx",
        row_number().over(Window.orderBy(col("item_id"))).cast("long") - 1L)
    val nItems = items.agg(count(lit(1)).as("n_items"))
    ratings.where(col("rating") >= posMin)
      .select(col("user_id"), col("item_id").as("pos_item"))
      .crossJoin(broadcast(nItems))
      .withColumn("idx", pmod(
        h32(concat(lit("neg"), col("user_id").cast("string"), lit("_"),
          col("pos_item").cast("string"))),
        col("n_items")))
      .join(broadcast(items), Seq("idx"))
      .select(col("user_id"), col("pos_item"), col("item_id").as("neg_item"))
      .join(ratings.select(col("user_id"), col("item_id").as("neg_item")),
        Seq("user_id", "neg_item"), "left_anti")
  }

  /** [[bprTrainedFactors]] trained over [[bprAllPosTriples]] instead of
    * the one-per-user head-tail rule, with Rendle's item-bias term —
    * the configuration the top-N quality anchor runs at the ml-100k
    * fixture shape (GdMfSpec): same epoch loop, gradients, hash init
    * and checkpointing; what differs is the triple derivation and the
    * bias coordinate. `posMin = 1.0` (every interaction is a positive)
    * is the reference's own regime — `train_topn.py` trains on ALL
    * train edges as implicit feedback, no rating threshold. */
  def bprTrainedFactorsAllPos(ratings: DataFrame, rank: Int, lr: Double,
                              reg: Double, epochs: Int,
                              posMin: Double = 1.0): (DataFrame, DataFrame) =
    bprFitTriples(bprAllPosTriples(ratings, posMin), rank, lr, reg, epochs,
      (_, _) => (), itemBias = true)

  private def bprEpochLoss(k: Int, d: DataFrame): DataFrame =
    d.agg(
        round(avg(log(lit(1.0) + exp(-col("d")))), 6).as("bpr_loss"),
        round(sum(when(round(col("d"), 6) > 0, 1L).otherwise(0L))
          .cast("double") / count(lit(1)), 6).as("pair_acc"))
      .select(lit(k).cast("long").as("epoch"), col("bpr_loss"),
        col("pair_acc"))

  private def bprFit(ratings: DataFrame, rank: Int, lr: Double,
      reg: Double, epochs: Int, onEpoch: (Int, DataFrame) => Unit)
      : (DataFrame, DataFrame) = {
    // Head-tail triple per user, as ONE partially-aggregated groupBy
    // instead of the former two window passes (each an exchange + full
    // sort of the ratings fact) + a pos⋈neg self-join. The extremes are
    // the windows' rn=1 rows exactly: (rating desc, item_id asc) top-1
    // == argmax of (rating, -item_id); (rating asc, item_id desc) top-1
    // == argmin of the same key — and (rating, -item_id) is unique per
    // user row, so max_by/min_by are deterministic. Comparisons only,
    // no float arithmetic: the selected rows are bit-identical to the
    // window form's.
    bprFitTriples(
      ratings.groupBy(col("user_id")).agg(
          max_by(struct(col("item_id"), col("rating")),
            struct(col("rating"), -col("item_id"))).as("p"),
          min_by(struct(col("item_id"), col("rating")),
            struct(col("rating"), -col("item_id"))).as("n"))
        .where(col("p.rating") > col("n.rating"))
        .select(col("user_id"), col("p.item_id").as("pos_item"),
          col("n.item_id").as("neg_item")),
      rank, lr, reg, epochs, onEpoch)
  }

  /** The BPR epoch loop over an explicit `(user_id, pos_item, neg_item)`
    * triple relation — [[bprFit]] (head-tail triples, q87/q106) and
    * [[bprTrainedFactorsAllPos]] (all-positives triples) share it; the
    * gradient aggregation was already written for arbitrarily many
    * triples per user (avg over the user's pairs keeps the update join
    * 1:1 per id).
    *
    * `itemBias` appends Rendle's item-bias term as ONE MORE VECTOR
    * COORDINATE (BPR-MF's standard bias: the user side of that
    * coordinate is PINNED to 1.0 after every update, so the item side's
    * coordinate is b_i and u·v expands to Σu_f·v_f + b_i): with
    * per-item-averaged gradients and zero-mean random init, the pure
    * factor coordinates carry no popularity signal at epoch 1 (each
    * item's averaged user-vector contributions cancel in expectation) —
    * the bias coordinate is where an item's positive-vs-negative
    * imbalance accumulates from the first epoch, which is what makes
    * the all-positives trainer learn an interaction-frequency ranking
    * at all (measured: P@20 stuck at init level 0.016 for 16 epochs
    * without it). Off (default) = exactly the q87/q106 oracle algebra. */
  private def bprFitTriples(triples: DataFrame, rank: Int, lr: Double,
      reg: Double, epochs: Int, onEpoch: (Int, DataFrame) => Unit,
      itemBias: Boolean = false)
      : (DataFrame, DataFrame) = {
    val (tr, parts) = cachedFact(triples)
    val width = if (itemBias) rank + 1 else rank

    /** Per-pair score rows carrying all three factor vectors, so loss
      * and both gradients read one checkpointed relation. Factor sides
      * broadcast — id-dimension-sized vs the triple relation (see
      * [[predictions]]). */
    def scores(u: DataFrame, v: DataFrame): DataFrame =
      tr
        .join(broadcast(u.select(col("user_id"), col("val").as("uval"))),
          Seq("user_id"))
        .join(broadcast(v.select(col("item_id").as("pos_item"),
          col("val").as("pval"))), Seq("pos_item"))
        .join(broadcast(v.select(col("item_id").as("neg_item"),
          col("val").as("nval"))), Seq("neg_item"))
        .select(col("user_id"), col("pos_item"), col("neg_item"),
          // Σ u[i]·(p[i]−n[i]), statically expanded — the same
          // left-to-right fold (and 0.0 seed) as the former
          // dot(uval, zip_with(pval, nval, _-_)) composition
          (0 until width).map(i =>
              col("uval")(i) * (col("pval")(i) - col("nval")(i)))
            .foldLeft(lit(0.0d))(_ + _).as("d"),
          col("uval"), col("pval"), col("nval"))

    def grads(d: DataFrame): (DataFrame, DataFrame) = {
      val s = d.withColumn("comp", lit(1.0) / (lit(1.0) + exp(col("d"))))
      // the head-tail derivation yields one (pos, neg) pair per user,
      // all-positives yields many — aggregate symmetrically with gv so
      // the update join stays 1:1 per user_id either way
      val gu = s
        .select(col("user_id"),
          zip_with(col("pval"), col("nval"),
            (p, n) => -col("comp") * (p - n)).as("g"))
        .groupBy(col("user_id"))
        .agg(vecAgg(width)(i => avg(col("g")(i))).as("val"))
      val gv = s.select(col("pos_item").as("item_id"),
          transform(col("uval"), x => -col("comp") * x).as("c"))
        .unionAll(s.select(col("neg_item").as("item_id"),
          transform(col("uval"), x => col("comp") * x).as("c")))
        .groupBy(col("item_id"))
        .agg(vecAgg(width)(i => avg(col("c")(i))).as("val"))
      (gu, gv)
    }

    // the user bias slot carries the constant 1 (re-pinned after every
    // update: the model says 1); the item bias starts at 0
    val items = tr.select(col("pos_item").as("item_id"))
      .unionAll(tr.select(col("neg_item").as("item_id")))
    val (u, v) = descend(
        init("u", tr, "user_id", rank, if (itemBias) Some(1.0) else None),
        init("i", items, "item_id", rank, if (itemBias) Some(0.0) else None),
        epochs, parts, lr, reg, onEpoch,
        pinUser = w =>
          if (itemBias) concat(slice(w, 1, rank), array(lit(1.0))) else w)(
      scores, grads)
    onEpoch(epochs, scores(u, v))
    (u, v)
  }

  /** END-TO-END LightGCN training (He et al. 2020; the ref's actual
    * trainer, `/root/reference/src/csv/train_rmse.py:121-141`), K=1
    * with layer averaging, as full-batch GD through the propagation:
    *
    *  - forward: propagated embeddings `U' = (U + ÃV)/2`,
    *    `V' = (V + ÃᵀU)/2` over the 1/√(d_u·d_i)-normalized bipartite
    *    edges ([[GraphPropagation.edges]], q36's propagation),
    *    prediction `u'·v'` on mean-centered ratings;
    *  - backward: because the propagation is LINEAR, backprop through
    *    it is the SAME edge-weighted aggregation applied to the
    *    gradient tables — `∂L/∂U = (G_U' + Ã G_V')/2` — so "gradients
    *    flow through the graph" is literally one more join+agg per
    *    side, and the whole trainer stays relational;
    *  - update: `val ← val − lr·(grad + λ·val)` on the BASE tables.
    *
    * The propagation join+agg carries one vector per edge row — rank
    * never multiplies the edge shuffle. Per-example-mean gradient
    * normalization and per-epoch checkpointing as [[trainTrajectory]].
    * Returns the per-epoch RMSE of the PROPAGATED model — the quantity
    * LightGCN actually trains — and the full run (propagation +
    * backprop + updates) unrolls into SQL, so q88's oracle verifies
    * gradient flow through the graph. */
  def lightgcnTrainTrajectory(ratings: DataFrame, rank: Int, lr: Double,
                              reg: Double, epochs: Int): DataFrame =
    trajectory(epochLoss)(lightgcnFit(ratings, rank, lr, reg, epochs, _))

  /** Train on `train`, then score the held-out `test` with the final
    * PROPAGATED embeddings — the generalization face of q88's trainer
    * (GdMfSpec anchors it at the ml-100k fixture shape). Pairs whose
    * user or item never appears in training are dropped (the standard
    * known-entity evaluation — ALS `coldStartStrategy="drop"` does the
    * same). Returns one row `(n_test, baseline_rmse, test_rmse)`, the
    * baseline predicting the train mean — a trained model must beat it
    * on data it never saw. */
  def lightgcnHoldout(train: DataFrame, test: DataFrame, rank: Int,
                      lr: Double, reg: Double, epochs: Int): DataFrame = {
    val (up, vp, g) = lightgcnFit(train, rank, lr, reg, epochs, (_, _) => ())
    centred(test, g)
      .join(broadcast(up.select(col("user_id"), col("val").as("uv"))),
        Seq("user_id"))
      .join(broadcast(vp.select(col("item_id"), col("val").as("vv"))),
        Seq("item_id"))
      .select(col("res"),
        (dot(col("uv"), col("vv"), rank) - col("res")).as("err"))
      .agg(count(lit(1)).as("n_test"),
        round(sqrt(avg(col("res") * col("res"))), 6).as("baseline_rmse"),
        round(sqrt(avg(col("err") * col("err"))), 6).as("test_rmse"))
  }

  /** The LightGCN trainer: [[descend]] with the propagated forward and
    * the backprop-through-Ã gradients; hands each epoch's checkpointed
    * per-rating error relation (and the final one, at index `epochs`)
    * to `onEpoch`, and returns the final propagated embeddings + the
    * train mean — the artifacts a serving path needs. */
  private def lightgcnFit(ratings: DataFrame, rank: Int, lr: Double,
      reg: Double, epochs: Int, onEpoch: (Int, DataFrame) => Unit)
      : (DataFrame, DataFrame, DataFrame) = {
    val (res, g, parts) = residuals(ratings)
    // ed keeps res's coalesced partitioning through its cache
    val ed = GraphPropagation.edges(res)

    /** (base + Σ_edge w·other)/2 — the forward half-layer; with a
      * gradient table as `other` it is equally the backward pass. */
    def mix(base: DataFrame, other: DataFrame, baseId: String,
            otherId: String): DataFrame =
      base.join(broadcast(GraphPropagation
          .spread(ed, other, otherId, baseId, rank).toDF(baseId, "s")),
          Seq(baseId))
        .select(col(baseId),
          zip_with(col("val"), col("s"), (a, b) => (a + b) / 2).as("val"))

    // each epoch's two cached gradient tables, released once the update
    // checkpoints that read them have materialized: at the next epoch's
    // gradient step, or after the last epoch
    var held = Seq.empty[DataFrame]
    val (u, v) = descend(init("u", res, "user_id", rank),
        init("i", res, "item_id", rank), epochs, parts, lr, reg, onEpoch)(
      // the propagated tables feed ONLY predictions (the gradients read
      // p's embedded uv/vv columns), so as plain plans they evaluate
      // exactly once inside p's checkpoint
      (u, v) => predictions(res, mix(u, v, "user_id", "item_id"),
        mix(v, u, "item_id", "user_id"), rank),
      p => {
        held.foreach(_.unpersist())
        val gup = meanGrad(p, "user_id", "vv", rank).cache()
        val gvp = meanGrad(p, "item_id", "uv", rank).cache()
        held = Seq(gup, gvp)
        (mix(gup, gvp, "user_id", "item_id"), mix(gvp, gup, "item_id", "user_id"))
      })
    held.foreach(_.unpersist())
    val upF = checkpointLeaf(mix(u, v, "user_id", "item_id"))
    val vpF = checkpointLeaf(mix(v, u, "item_id", "user_id"))
    onEpoch(epochs, predictions(res, upF, vpF, rank))
    (upF, vpF, g)
  }
}
