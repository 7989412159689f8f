package graft.rec

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.expr.{FactorTable, GraftFunctions}

/** Full-batch gradient-descent matrix factorization over a ratings fact
  * (M5's training semantics: the reference trains its embeddings by
  * gradient descent on rating error,
  * `/root/reference/src/csv/train_rmse.py:121-141`; MF-GD per Koren et
  * al. 2009), with ONE rank-length vector per id — the layout every
  * production trainer materializes (MLlib ALS's factor tables are the
  * same shape):
  *
  *  - predict: each rating row reads its user and item vectors with
  *    [[graft.expr.FactorLookup]] (no join), error per rating row as a
  *    fixed-order fold;
  *  - gradient: per-element `avg(err · otherVec[i])` per id —
  *    per-example-normalized so step size is degree-independent (a power
  *    user's gradient is the mean over their ratings, not the sum);
  *  - update: `val ← val − lr·(grad + λ·val)`.
  *
  * The model — both factor tables — is carried between epochs on the
  * driver. An epoch is ONE Spark query over the cached fact: every rating
  * row's forward is evaluated once, its contributions to both sides and
  * its loss terms go through one `groupBy(side, id)`, the update is
  * applied to the aggregate, and the collected result is the next model
  * (two Spark jobs: the shuffle map stage and the collect). An epoch
  * checkpoints, caches and broadcasts nothing, and its plan is the same
  * size at every epoch. The initial model and the train mean come from
  * one more query of that shape ([[init]]), and the trained model's own
  * loss from one more epoch query whose update is dropped.
  *
  * Generated code: every epoch's query compiles to the same classes as
  * the one before (a [[graft.expr.FactorTable]] hashes by its shape, so
  * a new model does not reorder the plan's common subexpressions), and
  * no update runs through an interpreted `zip_with`. Spark's cache of
  * generated classes holds 100 entries per JVM, keyed per class loader
  * (a driver copy and an executor copy of each stage); a run of queries
  * that overflows it compiles again and re-warms the JIT every round,
  * so a trainer keeps the number of distinct classes it makes small.
  *
  * Scale ceiling: the model is held on the driver and, inside each
  * query's plan, deserialized by every task — (users + items) × width
  * doubles, ≈ 0.8 GB at 10 M ids × rank 10, and one table must stay
  * below a 2 GiB array. Broadcasting the factor tables, as each epoch did
  * before, collected them to the driver as well (four times an MF epoch),
  * so the ceiling is not lower than it was; past it the factors have to
  * stay distributed (MLlib ALS's blocked tables).
  *
  * MF (q86), BPR (q87/q106) and LightGCN (q88/q107) share the loop,
  * [[GradientMF.descend]], and the one epoch query, [[collectSides]]:
  * each trainer supplies its per-row contributions and loss terms.
  *
  * Determinism: factors initialize from the shared md5-prefix hash
  * (exact integers → exact doubles in [−0.5, 0.499]), the global mean
  * is subtracted from ratings (the residual model), dot products fold
  * f = 0..rank−1 in fixed order, and the whole loop is joins/aggs over
  * the same arithmetic — so the identical computation is expressible as
  * unrolled SQL CTEs and the TRAINING ITSELF is oracle-checkable
  * (q86_mf_gd_training; the oracle spells the same math over a long
  * `(id, f, val)` relation, which DuckDB is happier unrolling).
  */
object GradientMF {

  /** Both factor tables of a model: user vectors (side 0) and item
    * vectors (side 1). */
  private final case class Model(users: FactorTable, items: FactorTable)

  private val UserSide = 0
  private val ItemSide = 1

  private def h32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Deterministic hash-init factor value in [-0.5, 0.499]. */
  private def initVal(kind: String, id: Column, f: Column): Column =
    ((h32(concat(lit(kind), id.cast("string"), lit("_"), f.cast("string")))
      % 1000) - 500).cast("double") / 1000.0

  /** The hash-init model over the ids of `df` named by `sides` (side,
    * id column), and the sums `(n, Σl0, …)` of the `loss` terms over
    * `df`'s rows, collected in one query: [[collectSides]] over
    * [[perSide]] rows that contribute nothing, so its groups are the
    * ids. Element f of each id's rank-length vector is
    * `initVal("u" | "i", id, f)`; `bias` appends one constant coordinate
    * per side (BPR's item-bias slot). */
  private def init(df: DataFrame, sides: Seq[(Int, Column)], rank: Int,
                   bias: Option[(Double, Double)] = None,
                   loss: Seq[Column] = Nil): (Model, Seq[Double]) = {
    def vec(kind: String, b: Option[Double]): Column = {
      val base = array((0 until rank).map(f =>
        initVal(kind, col("id"), lit(f.toLong))): _*)
      b.fold(base)(x => concat(base, array(lit(x))))
    }
    collectSides(
      perSide(df, sides.map { case (s, id) => (s, id, lit(0.0)) }, loss),
      rank + bias.size, lit(0.0),
      _ => when(col("side") === UserSide, vec("u", bias.map(_._1)))
        .otherwise(vec("i", bias.map(_._2))),
      loss.size)
  }

  /** Collected `(side, id, val, …)` rows as a model of `width`. */
  private def model(rows: Array[Row], width: Int): Model = {
    def side(s: Int): FactorTable = {
      val rs = rows.filter(_.getInt(0) == s)
      FactorTable(rs.map(_.getLong(1)), rs.map(_.getSeq[Double](2).toArray),
        width)
    }
    Model(side(UserSide), side(ItemSide))
  }

  /** `id`'s vector in `t` (NULL if `t` lacks it). */
  private def lookup(id: Column, t: FactorTable): Column =
    GraftFunctions.factorLookup(id, t)

  /** The vector in `m` of the current row's `id` on its `side`. */
  private def sideVal(m: Model): Column =
    when(col("side") === UserSide, lookup(col("id"), m.users))
      .otherwise(lookup(col("id"), m.items))

  /** A side's table as a local relation `(idCol, val)`, ids ascending. */
  private def relation(spark: SparkSession, t: FactorTable,
                       idCol: String): DataFrame =
    spark.createDataFrame(
      (0 until t.size).map(r => Row(t.ids(r), t.vector(r).toSeq)).asJava,
      StructType(Seq(StructField(idCol, LongType, nullable = false),
        StructField("val", FactorTable.vectorType, nullable = false))))

  private def relations(spark: SparkSession, m: Model): (DataFrame, DataFrame) =
    (relation(spark, m.users, "user_id"), relation(spark, m.items, "item_id"))

  /** Fixed-order dot product (f ascending), statically expanded for
    * the known rank — bit-identical to the former
    * `aggregate(zip_with(...))` fold (same order, same 0.0 seed) but
    * whole-stage-codegen'd instead of interpreted per element
    * ([[graft.expr.GraftFunctions.dotProductFixed]]): this runs once
    * per rating row per epoch, the trainers' hottest expression. */
  private def dot(a: Column, b: Column, width: Int): Column =
    GraftFunctions.dotProductFixed(a, b, width)

  /** One aggregated rank-length vector: element i is `mk(i)` (an
    * aggregate expression), assembled with `array` so a whole gradient
    * vector is a single agg column. */
  private def vecAgg(rank: Int)(mk: Int => Column): Column =
    array((0 until rank).map(mk): _*)

  /** `e · v[i]` for i < width, as one array column (statically
    * expanded, so it is codegen'd rather than an interpreted
    * `transform`). */
  private def scaled(e: Column, v: Column, width: Int): Column =
    array((0 until width).map(i => e * v(i)): _*)

  /** `body` over `df` coalesced to its [[Sizing.factParts]] count and
    * cached — every epoch query scans it, and its map stage runs one task
    * per partition — released when `body` returns: everything a fit
    * returns is a driver-side model or a local relation, so nothing
    * outlives the fact. */
  private def onCachedFact[T](df: DataFrame)(body: DataFrame => T): T = {
    val fact = df.coalesce(Sizing.factParts(df)).cache()
    try body(fact) finally fact.unpersist()
  }

  /** `(user_id, item_id, res)`: ratings minus the mean `mu`. */
  private def centred(ratings: DataFrame, mu: Double): DataFrame =
    ratings.select(col("user_id"), col("item_id"),
      (col("rating") - lit(mu)).as("res"))

  /** `body` over the residual model's training fact — the ratings
    * cached for the call ([[onCachedFact]]) and centred on their mean μ
    * in each query that reads them — with its hash-init model and μ,
    * both from the one [[init]] query (μ is the sum of the ratings over
    * their count). */
  private def residuals[T](ratings: DataFrame, rank: Int)(
      body: (DataFrame, Model, Double) => T): T =
    onCachedFact(ratings.select(col("user_id"), col("item_id"),
        col("rating"))) { fact =>
      val (m0, Seq(n, total)) = init(fact,
        Seq(UserSide -> col("user_id"), ItemSide -> col("item_id")), rank,
        loss = Seq(col("rating")))
      val mu = total / n
      body(centred(fact, mu), m0, mu)
    }

  /** Per-rating error rows `(user_id, item_id, err, uv, vv)` of model
    * `m` over the residual fact `res`, both vectors attached by lookup. */
  private def predictions(res: DataFrame, m: Model, rank: Int): DataFrame =
    res.select(col("user_id"), col("item_id"), col("res"),
        lookup(col("user_id"), m.users).as("uv"),
        lookup(col("item_id"), m.items).as("vv"))
      .select(col("user_id"), col("item_id"),
        (dot(col("uv"), col("vv"), rank) - col("res")).as("err"),
        col("uv"), col("vv"))

  /** The squared-error loss term of [[predictions]]' rows. */
  private val squaredErr: Seq[Column] = Seq(col("err") * col("err"))

  /** [[predictions]]' rows as [[perSide]] contributions: `err · vv` to
    * the user's gradient, `err · uv` to the item's, `err²` as the loss
    * term. */
  private def errRows(p: DataFrame, rank: Int): DataFrame =
    perSide(p, Seq(
        (UserSide, col("user_id"), scaled(col("err"), col("vv"), rank)),
        (ItemSide, col("item_id"), scaled(col("err"), col("uv"), rank))),
      squaredErr)

  /** One row per fact row and side: `inline` of the `(side, id, c)`
    * structs of `sides`, so each fact row's forward is evaluated once.
    * The loss terms ride the first side's rows as `l0, l1, …` (once per
    * fact row) and are NULL on the others. */
  private def perSide(df: DataFrame, sides: Seq[(Int, Column, Column)],
                      loss: Seq[Column] = Nil): DataFrame =
    df.select(inline(array(sides.zipWithIndex.map { case ((s, id, c), k) =>
      struct(Seq(lit(s).as("side"), id.cast("long").as("id"), c.as("c")) ++
        loss.zipWithIndex.map { case (l, j) =>
          (if (k == 0) l else lit(null).cast("double")).as(s"l$j") }: _*)
    }: _*)))

  /** `c`'s elementwise mean over a [[perSide]] group, as one vector. */
  private def avgs(width: Int): Column = vecAgg(width)(i => avg(col("c")(i)))

  /** `c`'s elementwise sum over a [[perSide]] group, as one vector. */
  private def sums(width: Int): Column = vecAgg(width)(i => sum(col("c")(i)))

  /** The ONE query shape of every trainer here: the [[perSide]] rows go
    * through one `groupBy(side, id)` that folds them with `fold` (e.g.
    * [[avgs]]) and sums each of `nLoss` loss terms (with their count);
    * `post` maps the folded value (`col("agg")`, with `side` and `id` in
    * scope) to the id's next vector of `width`. Collected: the next
    * model, and the loss sums `(n, Σl0, Σl1, …)` over the fact rows. */
  private def collectSides(rows: DataFrame, width: Int, fold: Column,
      post: Column => Column, nLoss: Int = 0): (Model, Seq[Double]) = {
    val loss = if (nLoss == 0) Nil
      else count(col("l0")).cast("double") +:
        (0 until nLoss).map(j => sum(col(s"l$j")))
    val out = rows.groupBy(col("side"), col("id"))
      .agg(fold.as("agg"),
        loss.zipWithIndex.map { case (l, j) => l.as(s"s$j") }: _*)
      .select(Seq(col("side"), col("id"), post(col("agg")).as("val")) ++
        loss.indices.map(j => col(s"s$j")): _*)
      .collect()
    (model(out, width), loss.indices.map(j =>
      out.iterator.filterNot(_.isNullAt(3 + j)).map(_.getDouble(3 + j)).sum))
  }

  /** The per-epoch loss sums as a local relation in epoch order (no
    * job): epoch k's `(n, s0, s1, …)` mapped by `out`. An epoch over no
    * rows has a NULL loss, as an `avg` over no rows. */
  private def trajectory(spark: SparkSession, sums: Seq[Seq[Double]],
                         out: Column*): DataFrame = {
    val schema = StructType(StructField("epoch", LongType, nullable = false) +:
      ("n" +: (1 until sums.head.size).map(j => s"s${j - 1}"))
        .map(StructField(_, DoubleType)))
    val rows = sums.zipWithIndex.map { case (s, k) =>
      Row.fromSeq(k.toLong +: (if (s.head == 0) s.map(_ => null) else s)) }
    spark.createDataFrame(rows.asJava, schema).select(col("epoch") +: out: _*)
  }

  /** `val ← pin(val − lr·(grad + λ·val))`, elementwise against the row's
    * vector in the current model `m` (statically expanded over the
    * `width` elements, as [[scaled]]: a `zip_with` lambda is evaluated
    * interpreted, and takes its aggregate out of whole-stage codegen);
    * `pinUser` re-shapes a user vector after its step. */
  private def gdStep(m: Model, width: Int, lr: Double, reg: Double,
                     pinUser: Option[Column => Column] = None)(grad: Column)
      : Column = {
    val x = sideVal(m)
    val next = array((0 until width).map(i =>
      x(i) - lit(lr) * (grad(i) + lit(reg) * x(i))): _*)
    pinUser.fold(next)(pin =>
      when(col("side") === UserSide, pin(next)).otherwise(next))
  }

  /** The ONE epoch loop of every trainer here: `epochs` steps from
    * `m0`, each returning the next model and the loss sums of the model
    * it started from. Returns the trained model and the per-epoch sums;
    * the trained model's own loss is the caller's: one more `step`,
    * its update dropped, so it runs the epochs' own plan. */
  private def descend(m0: Model, epochs: Int)(
      step: Model => (Model, Seq[Double])): (Model, Seq[Seq[Double]]) =
    (0 until epochs).foldLeft((m0, Seq.empty[Seq[Double]])) {
      case ((m, sums), _) =>
        val (next, s) = step(m)
        (next, sums :+ s)
    }

  private def rmse: Column = round(sqrt(col("s0") / col("n")), 6).as("rmse")

  /** Train `epochs` full-batch GD epochs of rank-`rank` MF on
    * `ratings` (user_id, item_id, rating); returns the per-epoch RMSE
    * trajectory `(epoch, rmse)` — epochs+1 rows, epoch 0 = the loss at
    * initialization. */
  def trainTrajectory(ratings: DataFrame, rank: Int, lr: Double,
                      reg: Double, epochs: Int): DataFrame =
    residuals(ratings, rank) { (res, m0, _) =>
      def step(m: Model) =
        collectSides(errRows(predictions(res, m, rank), rank), rank,
          avgs(rank), gdStep(m, rank, lr, reg), nLoss = 1)
      val (m, losses) = descend(m0, epochs)(step)
      trajectory(res.sparkSession, losses :+ step(m)._2, rmse)
    }

  /** Full-batch BPR gradient descent (Rendle et al. 2009 — the ref's
    * top-N training objective, `/root/reference/src/csv/train_topn.py:
    * 98-109`) over the deterministic per-user (pos, neg) item pair
    * (q82's triple rule: top-rated vs bottom-rated, kept where the
    * ratings strictly differ). Same vector factors, hash init and
    * carried model as [[trainTrajectory]]; the pairwise score
    * is d = u·(v_pos − v_neg), the loss ln(1+e^−d), and the gradients
    * ride the closed form dL/dd = −1/(1+e^d). Returns the per-epoch
    * `(epoch, bpr_loss, pair_acc)` trajectory — loss falling and the
    * share of correctly-ordered pairs rising is BPR learning, and both
    * are oracle-checked (q87). */
  def bprTrainTrajectory(ratings: DataFrame, rank: Int, lr: Double,
                         reg: Double, epochs: Int): DataFrame =
    trajectory(ratings.sparkSession,
      bprFit(ratings, rank, lr, reg, epochs, finalLoss = true)._2,
      round(col("s0") / col("n"), 6).as("bpr_loss"),
      round(col("s1") / col("n"), 6).as("pair_acc"))

  /** The trained BPR factor tables `(u, v)` — each `(id, val:
    * array<double>)`, a local relation of the final model — for serving
    * a top-N ranking from the pairwise objective (q106 composes these
    * with the precision/recall metric). */
  def bprTrainedFactors(ratings: DataFrame, rank: Int, lr: Double,
                        reg: Double, epochs: Int): (DataFrame, DataFrame) =
    relations(ratings.sparkSession,
      bprFit(ratings, rank, lr, reg, epochs, finalLoss = false)._1)

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
    * fixture shape (GdMfSpec): same epoch loop, gradients and hash
    * init; what differs is the triple derivation and the bias
    * coordinate. `posMin = 1.0` (every interaction is a positive)
    * is the reference's own regime — `train_topn.py` trains on ALL
    * train edges as implicit feedback, no rating threshold. */
  def bprTrainedFactorsAllPos(ratings: DataFrame, rank: Int, lr: Double,
                              reg: Double, epochs: Int,
                              posMin: Double = 1.0): (DataFrame, DataFrame) =
    relations(ratings.sparkSession,
      bprFitTriples(bprAllPosTriples(ratings, posMin), rank, lr, reg, epochs,
        finalLoss = false, itemBias = true)._1)

  private def bprFit(ratings: DataFrame, rank: Int, lr: Double,
      reg: Double, epochs: Int, finalLoss: Boolean)
      : (Model, Seq[Seq[Double]]) = {
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
      rank, lr, reg, epochs, finalLoss)
  }

  /** The BPR trainer over an explicit `(user_id, pos_item, neg_item)`
    * triple relation — [[bprFit]] (head-tail triples, q87/q106) and
    * [[bprTrainedFactorsAllPos]] (all-positives triples) share it; the
    * gradient aggregation is written for arbitrarily many triples per
    * user (avg over the user's pairs). Returns the trained model and the
    * per-epoch loss sums `(n, Σ ln(1+e^−d), Σ [round(d, 6) > 0])`, plus
    * the trained model's own with `finalLoss`.
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
      reg: Double, epochs: Int, finalLoss: Boolean,
      itemBias: Boolean = false): (Model, Seq[Seq[Double]]) =
    onCachedFact(triples) { tr =>
      val width = if (itemBias) rank + 1 else rank

      /** Per-pair score rows carrying all three factor vectors. */
      def scores(m: Model): DataFrame =
        tr.select(col("user_id"), col("pos_item"), col("neg_item"),
            lookup(col("user_id"), m.users).as("uval"),
            lookup(col("pos_item"), m.items).as("pval"),
            lookup(col("neg_item"), m.items).as("nval"))
          .select(col("user_id"), col("pos_item"), col("neg_item"),
            // Σ u[i]·(p[i]−n[i]), statically expanded — the same
            // left-to-right fold (and 0.0 seed) as the former
            // dot(uval, zip_with(pval, nval, _-_)) composition
            (0 until width).map(i =>
                col("uval")(i) * (col("pval")(i) - col("nval")(i)))
              .foldLeft(lit(0.0d))(_ + _).as("d"),
            col("uval"), col("pval"), col("nval"))
      val loss = Seq(log(lit(1.0) + exp(-col("d"))),
        when(round(col("d"), 6) > 0, 1.0).otherwise(0.0))

      // the user bias slot carries the constant 1 (re-pinned after every
      // update: the model says 1); the item bias starts at 0
      val (m0, _) = init(tr, Seq(UserSide -> col("user_id"),
          ItemSide -> col("pos_item"), ItemSide -> col("neg_item")),
        rank, if (itemBias) Some((1.0, 0.0)) else None)
      val pin = if (itemBias)
          Some((w: Column) => concat(slice(w, 1, rank), array(lit(1.0))))
        else None
      def step(m: Model) = {
        val s = scores(m).withColumn("comp",
          lit(1.0) / (lit(1.0) + exp(col("d"))))
        // the user's contribution, then one per pair item: the pos and
        // neg items of a pair feed the same per-item mean
        collectSides(perSide(s, Seq(
            (UserSide, col("user_id"), array((0 until width).map(i =>
              -col("comp") * (col("pval")(i) - col("nval")(i))): _*)),
            (ItemSide, col("pos_item"), scaled(-col("comp"), col("uval"), width)),
            (ItemSide, col("neg_item"), scaled(col("comp"), col("uval"), width))),
            loss),
          width, avgs(width), gdStep(m, width, lr, reg, pin), nLoss = 2)
      }
      val (m, losses) = descend(m0, epochs)(step)
      (m, if (finalLoss) losses :+ step(m)._2 else losses)
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
    *    flow through the graph" is one more edge aggregation;
    *  - update: `val ← val − lr·(grad + λ·val)` on the BASE tables.
    *
    * The edge aggregation carries one vector per edge row — rank never
    * multiplies the edge shuffle. Per-example-mean gradient
    * normalization and the carried model as [[trainTrajectory]].
    * Returns the per-epoch RMSE of the PROPAGATED model — the quantity
    * LightGCN actually trains — and the full run (propagation +
    * backprop + updates) unrolls into SQL, so q88's oracle verifies
    * gradient flow through the graph. */
  def lightgcnTrainTrajectory(ratings: DataFrame, rank: Int, lr: Double,
                              reg: Double, epochs: Int): DataFrame =
    trajectory(ratings.sparkSession,
      lightgcnFit(ratings, rank, lr, reg, epochs, finalLoss = true)._2, rmse)

  /** Train on `train`, then score the held-out `test` with the final
    * PROPAGATED embeddings — the generalization face of q88's trainer
    * (GdMfSpec anchors it at the ml-100k fixture shape). Pairs whose
    * user or item never appears in training are dropped (the standard
    * known-entity evaluation — ALS `coldStartStrategy="drop"` does the
    * same): their lookup in the final model is NULL. Returns one row
    * `(n_test, baseline_rmse, test_rmse)`, the baseline predicting the
    * train mean — a trained model must beat it on data it never saw. */
  def lightgcnHoldout(train: DataFrame, test: DataFrame, rank: Int,
                      lr: Double, reg: Double, epochs: Int): DataFrame = {
    val (mp, _, mu) = lightgcnFit(train, rank, lr, reg, epochs,
      finalLoss = false)
    centred(test, mu)
      .select(col("res"), lookup(col("user_id"), mp.users).as("uv"),
        lookup(col("item_id"), mp.items).as("vv"))
      .where(col("uv").isNotNull && col("vv").isNotNull)
      .select(col("res"),
        (dot(col("uv"), col("vv"), rank) - col("res")).as("err"))
      .agg(count(lit(1)).as("n_test"),
        round(sqrt(avg(col("res") * col("res"))), 6).as("baseline_rmse"),
        round(sqrt(avg(col("err") * col("err"))), 6).as("test_rmse"))
  }

  /** The LightGCN trainer: per epoch one edge aggregation propagates the
    * model, one epoch query over the propagated model's per-rating
    * errors yields the gradients w.r.t. the propagated tables (and the
    * loss), and one edge aggregation backpropagates them through Ã and
    * steps the base model. Returns the final PROPAGATED model, the
    * per-epoch loss sums (plus the final model's with `finalLoss`) and
    * the train mean — the artifacts a serving path needs. */
  private def lightgcnFit(ratings: DataFrame, rank: Int, lr: Double,
      reg: Double, epochs: Int, finalLoss: Boolean)
      : (Model, Seq[Seq[Double]], Double) =
    residuals(ratings, rank) { (res, m0, mu) =>
      // ed keeps res's coalesced partitioning through its cache, and is
      // released with it
      val ed = GraphPropagation.edges(res)
      try {
        /** `post((m + Ã·m)/2)` per side, one collected edge aggregation: a
          * user's Σ_edge w·v(item), an item's Σ_edge w·u(user). With a
          * gradient model as `m` it is equally the backward pass. */
        def mix(m: Model)(post: Column => Column): Model =
          collectSides(perSide(
              ed.select(col("user_id"), col("item_id"), col("w"),
                lookup(col("user_id"), m.users).as("uv"),
                lookup(col("item_id"), m.items).as("vv")),
              Seq((UserSide, col("user_id"), scaled(col("w"), col("vv"), rank)),
                (ItemSide, col("item_id"), scaled(col("w"), col("uv"), rank)))),
            rank, sums(rank), s => post(array((0 until rank).map(i =>
              (sideVal(m)(i) + s(i)) / 2): _*)))._1

        /** The gradients w.r.t. the propagated model `mp`, and its loss. */
        def grads(mp: Model) =
          collectSides(errRows(predictions(res, mp, rank), rank), rank,
            avgs(rank), identity, nLoss = 1)

        val (m, losses) = descend(m0, epochs) { m =>
          val (gp, s) = grads(mix(m)(identity))
          (mix(gp)(gdStep(m, rank, lr, reg)), s)
        }
        val mp = mix(m)(identity)
        (mp, if (finalLoss) losses :+ grads(mp)._2 else losses, mu)
      } finally ed.unpersist()
    }
}
