package graft.stream

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.expr.GraftFunctions

/** One rating event on the stream (ref line format `"user_id movie_id
  * rating timestamp"`, `/root/reference/src/streaming/streaming_rec.py:
  * 180-188`). */
case class RatingEvent(userId: Int, itemId: Int, rating: Double, ts: Long)

/** Event enriched with the static item feature vector (stream-static join
  * J1). */
case class EnrichedEvent(userId: Int, itemId: Int, rating: Double, ts: Long,
    features: Array[Double])

/** Per-user interest state emitted after each micro-batch (ST5). */
case class UserInterest(userId: Int, interest: Array[Double], nEvents: Long)

/** Structured-Streaming re-expression of the reference's real-time
  * recommender (`/root/reference/src/streaming/streaming_rec.py`, SURVEY
  * §3.2): socket-line parse → stream-static join → per-user interest
  * state → cosine top-N side output.
  *
  * The reference externalized per-user state to Neo4j and only processed
  * the FIRST event of each micro-batch (`streaming_rec.py:92-104`, bug
  * ST7); here state lives in Spark's state store via
  * `flatMapGroupsWithState` and every event is folded in timestamp order.
  * At cluster scale the state is hash-partitioned by user and the static
  * feature side is broadcast — no external round trips anywhere.
  */
object StreamOps {

  /** ST3: parse `"user item rating ts"` text lines (works on both batch
    * and streaming DataFrames with a `value: string` column). */
  def parseEvents(lines: DataFrame): Dataset[RatingEvent] = {
    import lines.sparkSession.implicits._
    val p = split(col("value"), " ")
    lines.select(
      element_at(p, 1).cast("int").as("userId"),
      element_at(p, 2).cast("int").as("itemId"),
      element_at(p, 3).cast("double").as("rating"),
      element_at(p, 4).cast("long").as("ts"))
      .as[RatingEvent]
  }

  /** ST4/J1: stream-static equi join on the item key; the static side is
    * broadcast (small dimension). */
  def enrich(events: Dataset[RatingEvent], itemFeatures: DataFrame): Dataset[EnrichedEvent] = {
    import events.sparkSession.implicits._
    events.join(broadcast(itemFeatures), Seq("itemId"), "inner")
      .select(col("userId"), col("itemId"), col("rating"), col("ts"),
        col("features"))
      .as[EnrichedEvent]
  }

  /** F9 blend `U := (1-λr)·U + (λr)·T` (ref `streaming_rec.py:83-99`). */
  def blend(u: Array[Double], t: Array[Double], r: Double,
            lambda: Double): Array[Double] =
    u.zip(t).map { case (uv, tv) => uv * (1 - lambda * r) + tv * (lambda * r) }

  /** ST5: per-user mutable interest vector across micro-batches. Events
    * within a batch fold in (ts, itemId) order; one `UserInterest` row is
    * emitted per touched user per batch.
    *
    * `idleTimeout` bounds state to O(active users), not O(users ever
    * seen): a user with no events for the horizon is evicted, and a
    * returning user re-initializes from the zero vector — the
    * reference's own cold start, so the F9 recurrence simply restarts
    * (`streaming_rec.py:83-91` initializes absent users the same way).
    * Without a horizon (`None`) state grows with every user ever seen —
    * fine for a bounded catalog replay, wrong for an unbounded ingest
    * at 100× scale.
    *
    * The horizon is EVENT time (`EventTimeTimeout` + a 0-delay
    * watermark on `ts`, read as epoch millis): a user is idle when the
    * STREAM has moved `idleTimeout` past their last event. That is the
    * deterministic semantics — a backfill replayed at 1000× speed
    * evicts exactly the users the live run would have — and the only
    * one the micro-batch engine can quiesce under:
    * `ProcessingTimeTimeout` makes `shouldRunAnotherBatch` true
    * unconditionally, so the engine busy-loops empty batches and
    * `processAllAvailable` never returns (observed live: 145% CPU,
    * 20 min, committed == available offsets). */
  def interestStream(enriched: Dataset[EnrichedEvent], dim: Int,
                     lambda: Double = 0.05,
                     idleTimeout: Option[java.time.Duration] = None): Dataset[UserInterest] = {
    import enriched.sparkSession.implicits._
    val timeoutConf =
      if (idleTimeout.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    val src = idleTimeout match {
      case Some(_) =>
        // the watermark needs a timestamp-typed column; the extra
        // column is invisible to the EnrichedEvent encoder downstream
        enriched.toDF()
          .withColumn("eventTime", timestamp_millis(col("ts")))
          .withWatermark("eventTime", "0 milliseconds")
          .as[EnrichedEvent]
      case None => enriched
    }
    src
      .groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf) {
        (uid: Int, rows: Iterator[EnrichedEvent], state: GroupState[(Array[Double], Long)]) =>
          if (state.hasTimedOut) {
            // idle horizon elapsed with no new events: drop the vector
            state.remove()
            Iterator.empty
          } else {
            val (u0, n0) = state.getOption.getOrElse((Array.fill(dim)(0.0), 0L))
            val batch = rows.toSeq.sortBy(e => (e.ts, e.itemId))
            val u = batch.foldLeft(u0)((u, e) => blend(u, e.features, e.rating, lambda))
            val n = n0 + batch.size
            state.update((u, n))
            // re-arm on every touch: the timer only fires after a full
            // horizon of event time with nothing from this user (late
            // data can put max(ts)+horizon at or below the watermark —
            // clamp above it, as setTimeoutTimestamp requires)
            idleTimeout.foreach { d =>
              state.setTimeoutTimestamp(math.max(
                batch.map(_.ts).max + d.toMillis,
                state.getCurrentWatermarkMs() + 1))
            }
            Iterator.single(UserInterest(uid, u, n))
          }
      }
  }

  /** ST6: cosine top-N items for each user interest vector (used inside
    * `foreachBatch` on the interest stream, or standalone in batch), as
    * (userId, itemId, rank, score) rows, score desc then itemId asc.
    *
    * A catalog whose features fit in [[PlanMatrixBytes]] is collected
    * when this is called (see [[collectWithin]]) and carried inside the
    * [[graft.expr.CosineTopN]] expression: the serve is one narrow
    * projection over the users — `posexplode` of each vector's top-n
    * array — with no join, no exchange and no aggregate. The returned
    * DataFrame keeps that snapshot of the catalog; a stream calls this
    * once per micro-batch, so each batch re-reads its static side, as
    * the stream-static join does. A larger catalog keeps the users ×
    * catalog cross join (item side broadcast) ranked by the bounded
    * [[graft.expr.TopKPairs]] aggregate of [[topNByUser]], which reads
    * the catalog when the result runs.
    *
    * Both forms keep one contract, row for row, for `interests` with one
    * row per `userId` (the interest stream emits one per touched user):
    * scores are `cosine_similarity`'s, a NULL cosine (length mismatch,
    * zero norm, null vector or features) yields no pair, NaN ranks
    * largest, and `n` past the catalog returns every scored item. A
    * repeated `userId` is outside that contract: the projection ranks
    * each row on its own, the cross join ranks the user's rows as one. */
  def topNForUsers(interests: DataFrame, itemFeatures: DataFrame, n: Int): DataFrame =
    topNForUsers(interests, itemFeatures, n, PlanMatrixBytes)

  /** [[topNForUsers]] under a given carried-matrix budget in bytes. */
  private[stream] def topNForUsers(interests: DataFrame, itemFeatures: DataFrame,
                                   n: Int, budget: Long): DataFrame = {
    val itemType = itemFeatures.schema("itemId").dataType
    requireIntegralIds(itemType)
    collectWithin(itemFeatures.select(col("itemId").cast("long"),
        col("features").cast("array<double>")), budget) match {
      case Some(catalog) =>
        explodeRanked(interests.select(col("userId"),
          GraftFunctions.cosineTopN(col("interest"), catalog.map(_._1),
            catalog.map(_._2), n).as("top")), itemType)
      case None =>
        val scored = interests.crossJoin(broadcast(itemFeatures))
          .withColumn("score",
            GraftFunctions.cosineSimilarity(col("interest"), col("features")))
          .where(col("score").isNotNull)
        topNByUser(scored, n, itemType)
    }
  }

  /** Largest catalog [[topNForUsers]] carries in its plan, in bytes of
    * ids and features (8 per id, 8 per element): 20 MiB, 40,000 items at
    * dim 64. StreamBench's catalog mode (dim 64, 20,000 events/s)
    * measured the projection ahead of the cross join at every catalog
    * it ran, 2,000 to 40,000 items; no crossover was reached, so the
    * budget sits at the largest measured catalog rather than past it —
    * the matrix is copied on the driver and deserialized by every task
    * of the serve, a cost that grows with its bytes. */
  final val PlanMatrixBytes: Long = 20L << 20

  /** The `(itemId, features)` rows of `items` (`itemId: long, features:
    * array<double>`) if they fit in `budget` bytes, else None: one job
    * sums the bytes where the rows are, and only a catalog that fits is
    * collected, by a second, so an over-budget one moves no rows to the
    * driver. A null features value comes back empty, which is
    * degenerate against every vector (length mismatch or zero norm), so
    * it never scores. */
  private def collectWithin(items: DataFrame,
                            budget: Long): Option[Array[(Long, Array[Double])]] = {
    val rows = items.queryExecution.toRdd
    val bytes = rows.map(r =>
      8L * (1 + (if (r.isNullAt(1)) 0 else r.getArray(1).numElements()))).fold(0L)(_ + _)
    if (bytes > budget) None
    else Some(rows.map(r => (r.getLong(0),
      if (r.isNullAt(1)) Array.emptyDoubleArray else r.getArray(1).toDoubleArray())).collect())
  }

  /** Shared ranking tail of the over-budget exact and the ANN serves:
    * per-user bounded top-n via [[graft.expr.TopKPairs]]. */
  private def topNByUser(scored: DataFrame, n: Int,
                         itemType: org.apache.spark.sql.types.DataType): DataFrame = {
    requireIntegralIds(itemType)
    val topk = graft.expr.TopKPairs.agg(n)
    explodeRanked(scored
      .groupBy(col("userId"))
      .agg(topk(col("score"), col("itemId").cast("long")).as("top")), itemType)
  }

  /** Each user's ranked `top` array of `(_1: score, _2: itemId)` pairs,
    * exploded back to the (userId, itemId, rank, score) row shape —
    * itemId cast back to the catalog's own id type so callers see the
    * schema they handed in. */
  private def explodeRanked(withTop: DataFrame,
                            itemType: org.apache.spark.sql.types.DataType): DataFrame =
    withTop
      .select(col("userId"), posexplode(col("top")).as(Seq("pos", "pair")))
      .select(col("userId"),
        col("pair._2").cast(itemType).as("itemId"),
        (col("pos") + 1).cast("long").as("rank"),
        col("pair._1").as("score"))

  /** Both rankings carry itemId as long, so the id round-trip is only
    * lossless for integral catalogs — assert it rather than let the cast
    * null out a string-keyed caller's ids silently (ADVICE r15). */
  private def requireIntegralIds(itemType: org.apache.spark.sql.types.DataType): Unit = {
    import org.apache.spark.sql.types._
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(itemType),
      s"serve ranking requires an integral itemId (got $itemType): " +
        "the ranking carries ids as long and the round-trip would null out " +
        "non-integral ids")
  }

  /** Serve-quantizer cell count for a catalog of `nItems`: the standard
    * IVF sizing guideline (nlist ≈ √N — FAISS's published rule, Jégou
    * et al.'s IVFADC regime) balances per-probe routing work (K cosines
    * against the centroids) against cell-scan work (≈ nprobe/K × N items
    * scored); the optimum of K·d + (nprobe/K)·N·d is K = √(nprobe·N).
    * Floor 16 (tiny catalogs gain nothing from finer cells), cap 64:
    * the partitioning the serve was measured and pinned at. With the
    * r14 default (K=16, nprobe=2) the ANN serve scanned 12.5% of the
    * catalog no matter how large it grew; at the cap it scans 3.1% —
    * the r15 catalog sweep measured the 200k-item serve ceiling moving
    * with exactly this fraction, with the build flat across catalog
    * sizes (training runs on the bounded sample, so K and the rounds,
    * not |catalog|, set its cost). Deep recall at the cap is pinned in
    * AnnServeSpec's many-topic corpus, under both id layouts (recall
    * ≥ 0.95 at K=64, nprobe 2, 8 rounds, when cells are no coarser than
    * the corpus's natural topics — the regime a real item catalog is
    * in; a corpus whose topics are LARGER than 1/K of the space needs
    * nprobe raised to match, the standard IVF recall/latency dial).
    *
    * SMALL-CATALOG REGIME: below [[SmallCatalogCap]] items the law is
    * overruled and K stays at the 16 floor. The √ optimum minimizes
    * per-event work, but a small catalog's scan term is trivial either
    * way (nprobe/16 of ≤ 8k items = ≤ 1k cosines per touched user), so
    * finer cells buy nothing there. The K values are the ones the r15
    * and r16 catalog sweeps measured and AnnServeSpec pins recall in
    * (both regimes); keeping them keeps every cell assignment, and so
    * every served list, unchanged. */
  def serveCells(nItems: Long, nprobe: Int = 2): Int =
    if (nItems <= SmallCatalogCap) 16
    else math.max(16, math.min(64,
      math.ceil(math.sqrt(nprobe.toDouble * nItems)).toInt))

  /** Catalog size below which [[serveCells]] stays at the K=16 floor —
    * the point where nprobe/16 of the catalog (the exact per-event scan
    * at the floor) is ~1k vectors, comfortably under any batch's noise
    * floor. */
  val SmallCatalogCap: Long = 8192L

  /** Build the static serve-side IVF for [[topNForUsersAnn]] — paid once
    * at stream start, like loading a model: the item catalog is
    * quantized by the one cosine trainer of the partitioned index
    * ([[graft.rec.IvfIndex.fitCosine]]: seeded MLlib k-means on the
    * unit sphere, over the whole catalog up to
    * [[graft.rec.IvfIndex.LargeSampleCap]] items and a deterministic
    * hash-ordered sample above it, so training is flat in |catalog|)
    * and each item assigned to its cell. Returns the driver-side
    * centroid model and the cells, cached and materialized here so no
    * micro-batch ever pays the build. A catalog too large to cache is
    * served from the cid-partitioned parquet of
    * [[buildServeIndexPartitioned]] instead, whose model for the same
    * catalog, K and rounds is this one bit for bit;
    * [[topNForUsersAnn]] serves either cells table. */
  def buildServeIndex(itemFeatures: DataFrame, k: Int = 16, iters: Int = 3)
      : (Seq[(Int, Array[Double])], DataFrame) = {
    val model = graft.rec.IvfIndex.fitCosine(
      itemFeatures.select(col("itemId").as("vec_id"), col("features").as("emb")),
      k, iters)
    // cells carry the RAW features for scoring (cosine is scale-invariant,
    // but emitting the caller's own vectors keeps scores bit-comparable
    // with the exact serve); only the cid comes from the normalized
    // space. Assignment is the serve's own router — one shuffle-free
    // pass over the catalog, not a join + aggregation.
    val cells = itemFeatures
      .withColumn("cid", graft.rec.IvfIndex.cellOf(col("features"), model))
      .select(col("cid"), col("itemId"), col("features"))
      .cache()
    cells.count()
    (model, cells)
  }

  /** Cell count for the PARTITIONED serve index: the same √(nprobe·N)
    * law as [[serveCells]] with floor 64 (below it the cached cells of
    * [[buildServeIndex]] are simply better — a catalog that small fits
    * in memory) and cap 4096, which bounds the centroid model the
    * router carries (K × dim doubles ≈ 2 MB at the cap) and the
    * partition-directory count a single index writes. At 2M items the
    * law gives 2000 cells: ~1000 items per cell, per-event scan
    * nprobe/K = 0.1% of the catalog. */
  def serveCellsPartitioned(nItems: Long, nprobe: Int = 2): Int =
    math.max(64, math.min(PartitionedCellCap,
      math.ceil(math.sqrt(nprobe.toDouble * nItems)).toInt))

  private val PartitionedCellCap = 4096

  /** Build the cid-partitioned serve index under `dir` — a thin adapter
    * over the SHARED large-corpus builder [[graft.rec.IvfIndex.buildLarge]]
    * (one quantizer lifecycle — sampled seeded MLlib fit, one-pass
    * [[graft.expr.NearestCells]] cosine assignment, cid-partitioned
    * write, [[graft.rec.IvfIndex.compact]]-able layout — consumed by
    * both the batch index and this serve). Column adaption only: the
    * serve speaks (itemId, features), the index layout stores
    * (vec_id, emb).
    *
    * Returns the centroid model [[graft.rec.IvfIndex.buildLarge]]
    * fitted and the partitioned cells SCAN — deliberately un-cached:
    * the catalog is never broadcast, cached or collected, and per-batch
    * I/O is bounded by touched cells/K of the catalog no matter how
    * large it grows. Reading it once up front also builds the file
    * index one time so micro-batches never re-list the partition tree. */
  def buildServeIndexPartitioned(itemFeatures: DataFrame, dir: String,
                                 k: Int, iters: Int = 20)
      : (Seq[(Int, Array[Double])], DataFrame) = {
    val model = graft.rec.IvfIndex.buildLarge(
      itemFeatures.select(col("itemId").as("vec_id"),
        col("features").as("emb")),
      dir, k, iters)
    (model, readServeCells(itemFeatures.sparkSession, dir))
  }

  /** The partitioned cells table of a [[buildServeIndexPartitioned]] /
    * [[graft.rec.IvfIndex.buildLarge]] index, in the serve's column
    * vocabulary. The rename is a projection — cid partition pruning
    * pushes through it untouched. */
  def readServeCells(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/cells")
      .select(col("vec_id").as("itemId"), col("emb").as("features"),
        col("cid"))

  /** Route each interest vector to its `nprobe` cosine-nearest cells as
    * a PURE PROJECTION: the K-row centroid model rides inside the
    * native [[graft.expr.NearestCells]] expression (one plan-carried
    * matrix, norms precomputed, tight codegen'd argmax loop) — the same
    * expression that assigns every item to its cell, so an item's own
    * cell is by construction its probe's top-1 (the self-retrieval
    * property AnnServeSpec pins). Output: (userId, interest, cid int),
    * `nprobe` rows per user.
    *
    * The r16 form was a crossJoin against the broadcast centroid table
    * folded back by a `first(interest)` + TopKPairs aggregate — users×K
    * intermediate rows and NON-PRIMITIVE aggregate buffers, the exact
    * SortAggregate/ObjectHashAggregate fan-out trap §8.12 documents.
    * This form has no join, no shuffle and no aggregate at all: users
    * rows in, users × nprobe rows out, K·d flops per user inside
    * whole-stage codegen. AnnServeSpec pins the plan (no Exchange, no
    * Aggregate, no Sort). */
  private[stream] def routeCells(interests: DataFrame,
                                 centroids: Seq[(Int, Array[Double])],
                                 nprobe: Int): DataFrame = {
    interests.select(col("userId"), col("interest"),
      explode(GraftFunctions.nearestCells(col("interest"), centroids, nprobe))
        .as("cid"))
  }

  /** One micro-batch's routing, materialized ONCE on the driver: the
    * batch's users routed by [[routeCells]], collected (users × nprobe
    * rows — the model-sized end of the batch, and the side the serve
    * join broadcasts anyway) and handed back as a local relation, with
    * its rows and the sorted touched cids as a LITERAL `cid IN (…)`
    * filter. The literal prunes a partitioned cells scan at PLAN time,
    * deterministically (no reliance on the optimizer's dynamic-pruning
    * heuristics — a micro-batch plan is rebuilt every trigger anyway),
    * and is an ordinary in-memory filter over cached cells.
    *
    * Collecting once means the batch's upstream (state-store read
    * included) runs once, not once for the filter and again inside the
    * join; and a local relation leaves no storage blocks for the
    * ContextCleaner (a per-batch `localCheckpoint` does — a slow leak
    * under an idle driver GC), while the touched-cid fold is a
    * driver-local scan, not a second Spark job. */
  private def routeBatch(interests: DataFrame,
                         centroids: Seq[(Int, Array[Double])],
                         nprobe: Int): (DataFrame, Array[Row], Column) = {
    val plan = routeCells(
      interests.select(col("userId"), col("interest")), centroids, nprobe)
    val rows = plan.collect()
    val cid = plan.schema.fieldIndex("cid")
    val touched = rows.map(_.getInt(cid)).distinct.sorted
    (interests.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows: _*), plan.schema),
      rows, col("cid").isin(touched.toIndexedSeq.map(Int.box): _*))
  }

  /** ANN-accelerated per-batch serve (r14): the ceiling sweep measured
    * the SERVE stage — [[topNForUsers]] scoring every touched user
    * against the whole catalog — as the full loop's bottleneck
    * (STREAMBENCH_r14_sweep, in git history: state path sustains
    * 1.28M ev/s, full loop plateaus ~670k). This serve prunes with an
    * IVF quantizer: [[routeBatch]] routes each user's interest vector
    * to its `nprobe` nearest cells, the touched cids filter `cells`,
    * and cosine runs only over those cells' items joined against the
    * broadcast routed users — scored pairs drop from users × |catalog|
    * to ~users × |catalog| × nprobe/K. Same per-user top-N shape;
    * approximate like every IVF regime, with recall vs the exact serve
    * pinned in AnnServeSpec.
    *
    * `cells` is any (cid, itemId, features) table: the cached cells of
    * [[buildServeIndex]], or the cid-partitioned scan of
    * [[buildServeIndexPartitioned]] / [[readServeCells]], whose scan
    * then reads ONLY the touched cells' partitions (the literal filter
    * lands in its PartitionFilters, pinned in AnnServeSpec). Cells
    * partition the catalog, so a (user, item) pair scores at most once
    * even at nprobe > 1, and ranking is the shared [[topNByUser]] tail:
    * ordering and schema match the exact serve row for row.
    *
    * `centroids` is the index's driver-side model, as its build
    * returned it, so the only job a call runs before its caller's
    * action is the routing collect. */
  def topNForUsersAnn(interests: DataFrame,
                      centroids: Seq[(Int, Array[Double])],
                      cells: DataFrame, n: Int,
                      nprobe: Int = 2): DataFrame = {
    val (routed, _, inTouched) = routeBatch(interests, centroids, nprobe)
    val scored = cells.where(inTouched).join(broadcast(routed), Seq("cid"))
      .withColumn("score",
        GraftFunctions.cosineSimilarity(col("interest"), col("features")))
      .where(col("score").isNotNull)
    topNByUser(scored, n, cells.schema("itemId").dataType)
  }

  // ------------------------------------------------------------------
  // PQ-coded serve arm (r19): past the raw-vector DECODE bound. The r18
  // 20M-item measurement diagnosed the partitioned serve's plateau as
  // per-batch touched-cell raw-vector I/O — ~2000 of 4096 cells touched
  // by 1000 rotating users at nprobe=2, ≈ 5 GB of array<double> decoded
  // per micro-batch, with the scoring flops trivial beside it. The
  // IVFADC answer (Jégou et al. 2011 §V; FAISS IndexIVFPQ): scan the
  // touched cells' 4-int PQ CODES instead (~25× fewer scan bytes at
  // dim 64), rank by the plan-carried-codebook [[graft.expr.AdcCosine]],
  // and touch raw vectors only for a per-user shortlist — the q111/q116
  // batch shape applied per micro-batch.
  // ------------------------------------------------------------------

  /** PQ-encode an existing [[buildServeIndexPartitioned]] index (one
    * [[graft.expr.NearestCodes]] scan over the stored cells —
    * [[graft.rec.IvfIndex.encodePqLarge]], cid layout mirrored row for
    * row), then return the serve-side handles via [[readServeIndexPq]].
    * Paid once per index version, like the build itself. */
  def encodeServeIndexPq(spark: SparkSession, dir: String, s: Int = 4,
                         subDim: Int = 16, k: Int = 256, iters: Int = 20)
      : (DataFrame, Seq[Seq[Array[Double]]]) = {
    graft.rec.IvfIndex.encodePqLarge(spark, dir, s, subDim, k, iters)
    readServeIndexPq(spark, dir)
  }

  /** The PQ half of a serve index: the cid-partitioned codes scan in
    * the serve's column vocabulary (itemId, codes, cid — the rename is
    * a projection, partition pruning pushes through) plus the stored
    * codebooks as the driver-side model [[graft.expr.AdcCosine]]
    * carries (s × k × subDim doubles — ~130 KB at the defaults). */
  def readServeIndexPq(spark: SparkSession, dir: String)
      : (DataFrame, Seq[Seq[Array[Double]]]) = {
    val pq = spark.read.parquet(s"$dir/pq_cells")
      .select(col("vec_id").as("itemId"), col("codes"), col("cid"))
    (pq, graft.rec.IvfIndex.readPqCodebooks(spark, dir))
  }

  /** Per-batch PQ-coded serve: route exactly as [[topNForUsersAnn]]
    * (the same [[routeBatch]] step — pq_cells mirrors the raw cells'
    * cid layout row for row, so the candidate set per user is
    * IDENTICAL), but the pruned scan reads the 4-int CODES and ranks by
    * [[graft.expr.AdcCosine]] — the touched-cell scan payload drops
    * ~25× at dim 64.
    *
    * `shortlist` picks the serving mode:
    *
    *  - `shortlist > 0` — ADC keeps the best `shortlist` candidates per
    *    user (the bounded [[graft.expr.TopKPairs]] aggregate), then the
    *    shortlist — driver-materialized, ≤ users × shortlist rows, the
    *    model-sized end of the batch — is reranked by EXACT cosine
    *    against the raw cells. With `shortlist` ≥ the probed cells'
    *    population this is row-for-row the raw serve (AnnServeSpec pins
    *    it), which is how the serve keeps the reference's top-10
    *    semantics (`streaming_rec.py:106-114`) exactly on small
    *    catalogs. HONEST I/O NOTE: the rerank FETCH is a point-lookup
    *    workload (≤ users × shortlist random ids), and columnar storage
    *    has no point lookup — the fetch join decodes the touched cells'
    *    raw vectors again, so this mode's per-batch I/O stays the raw
    *    serve's (only the COSINE work shrinks to the shortlist). A
    *    cluster partitions that fetch exactly as it partitions the raw
    *    serve's scan; a latency-critical deployment fronts it with a row
    *    store or serves ADC-only.
    *  - `shortlist <= 0` — rank by ADC directly (FAISS IndexIVFPQ's
    *    default regime, no refine): raw vectors are never touched, the
    *    batch's scan I/O is the codes alone — the mode that realizes
    *    the full decode-I/O win; recall vs the raw serve is pinned on
    *    the structured corpus in AnnServeSpec.
    *
    * Ranking tail and schema are [[topNByUser]]'s in both modes, so
    * ordering (score desc, itemId asc) and output shape match the
    * exact and raw ANN serves row for row. */
  def topNForUsersAnnPartitionedPq(interests: DataFrame,
                                   centroids: Seq[(Int, Array[Double])],
                                   pqCells: DataFrame,
                                   codebooks: Seq[Seq[Array[Double]]],
                                   rawCells: DataFrame, n: Int,
                                   nprobe: Int = 2,
                                   shortlist: Int = 64): DataFrame = {
    val spark = interests.sparkSession
    val itemType = pqCells.schema("itemId").dataType
    val (routed, routedRows, inTouched) = routeBatch(interests, centroids, nprobe)
    val adcScored = pqCells.where(inTouched).join(broadcast(routed), Seq("cid"))
      .withColumn("score",
        GraftFunctions.adcCosine(col("interest"), col("codes"), codebooks))
      .where(col("score").isNotNull)
    if (shortlist <= 0) return topNByUser(adcScored, n, itemType)
    // shortlist mode. One interest row per user (the routed relation
    // carries one copy per probed cell; the rerank needs exactly one) —
    // deduplicated on the driver, where the rows already live, not via
    // an in-plan distinct (which would put a needless exchange inside
    // the broadcast). The dedup is only sound when each userId carries
    // ONE interest vector (true of the serve's caller — interestStream
    // emits one state row per touched user per batch); with duplicates
    // the ADC stage would score both but the rerank only the first,
    // silently breaking the row-for-row contract — so assert the
    // precondition instead (routed = users × routes-per-user rows
    // exactly when userIds are unique; routes per user is
    // min(nprobe, K), NearestCells' contract when an index has fewer
    // cells than probes). Checked HERE, before the ADC shortlist
    // collect below pays a second job on a batch that would only fail
    // afterwards.
    val uIdx = routed.schema.fieldIndex("userId")
    val userRows = routedRows.groupBy(_.get(uIdx)).map(_._2.head).toArray
      .map(r => Row(r.get(uIdx), r.get(routed.schema.fieldIndex("interest"))))
    val routesPerUser = math.min(nprobe, centroids.length)
    require(userRows.length.toLong * routesPerUser == routedRows.length ||
        routedRows.isEmpty,
      s"topNForUsersAnnPartitionedPq requires one interest row per " +
        s"userId (got ${routedRows.length} routed rows for " +
        s"${userRows.length} users at min(nprobe=$nprobe, K=" +
        s"${centroids.length})=$routesPerUser routes/user): the " +
        "shortlist rerank pairs each user with a single vector")
    // bounded per-user ADC top-`shortlist`, collected to a driver-local
    // relation (the routed-table discipline: it is the fetch join's
    // broadcast side anyway, and a local relation leaves no storage
    // blocks behind) — then exact-cosine rerank of exactly those
    // (userId, itemId) pairs
    val slPlan = topNByUser(adcScored, shortlist, itemType)
      .select(col("userId"), col("itemId"))
    val slRows = slPlan.collect()
    val sl = spark.createDataFrame(
      java.util.Arrays.asList(slRows: _*), slPlan.schema)
    val userVecs = spark.createDataFrame(
      java.util.Arrays.asList(userRows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        routed.schema("userId"), routed.schema("interest"))))
    // The fetch deliberately carries NO per-itemId literal predicate
    // (r20 — tried and MEASURED OUT): pushing the shortlist's
    // ~users×shortlist ids as a literal In looked free (the ids already
    // sit on the driver, and cells are vec_id-sorted within each file
    // since the r20 buildLarge write), but at 2M items it multiplied
    // rerank-mode p50 4.3× (60.3 s vs 13.9 s, STREAMBENCH_r20 probe vs
    // the r19 pair) — a predicate with tens of thousands of literal
    // children is quadratic-ish in the optimizer (constraint
    // propagation walks it per rule, per micro-batch replan), while
    // buying no scan pruning here: parquet's In pushdown degrades to a
    // full-range min/max above the 10-value threshold, and a ~1000-row
    // cell file is a single row group / page anyway, so every touched
    // cell is decoded whole regardless. The broadcast semi-join below
    // does the same row filtering at hash-lookup cost. The honest
    // mitigations stay as documented: a row store in front of
    // latency-critical rerank, or ADC-only mode.
    val fetched = rawCells.where(inTouched)
      .join(broadcast(sl), Seq("itemId"))
      .join(broadcast(userVecs), Seq("userId"))
    val reranked = fetched.withColumn("score",
        GraftFunctions.cosineSimilarity(col("interest"), col("features")))
      .where(col("score").isNotNull)
    topNByUser(reranked, n, itemType)
  }

  /** Event-time tumbling-window aggregation with a watermark (the natural
    * extension the reference lacks, SURVEY §2.9 "Absent"). */
  def windowedCounts(events: DataFrame, eventTimeCol: String,
                     watermark: String, windowLen: String): DataFrame =
    events
      .withWatermark(eventTimeCol, watermark)
      .groupBy(window(col(eventTimeCol), windowLen))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("n"))

  /** Streaming exact deduplication on a key set — the ingest-time face of
    * the batch dedup pipeline (q26/q72): duplicates arriving within the
    * watermark horizon are dropped; state for keys older than the
    * watermark is evicted, so state size is bounded by the horizon's key
    * cardinality, not the stream's history (the property that keeps this
    * runnable forever at ingest scale). */
  def dedupStream(events: DataFrame, eventTimeCol: String,
                  watermark: String, keys: Seq[String]): DataFrame =
    events
      .withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark(keys)
}
