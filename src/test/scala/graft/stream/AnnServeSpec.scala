package graft.stream

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Recall gates for the ANN-accelerated streaming serve
  * ([[StreamOps.topNForUsersAnn]]) against the exact serve
  * ([[StreamOps.topNForUsers]]).
  *
  * Two corpora, two claims:
  *
  *  1. STRUCTURED (deterministic in-spec clusters — the shape of real
  *     embedding corpora, where co-topic vectors are near-parallel):
  *     cell routing must recover essentially the whole exact top-10
  *     while scanning nprobe/K of the catalog. This is the property
  *     IVF serving exists for.
  *  2. The FIXTURE embeddings, which are measured isotropic noise
  *     (top-10 neighbors share the probe's label at chance rate 0.10;
  *     intra- vs inter-cluster cosine 0.0007 vs 0.0004): no
  *     space-partitioning index can recover deep neighbor lists from
  *     noise without scanning it, so the pin here is the SELECTIVITY
  *     FLOOR — recall must beat the scanned fraction by ≥2× (measured
  *     ~3.5×: 0.42 recall @ 12% scan at k=16, nprobe=2) — plus exact
  *     self-retrieval (a vector's own cell is always its nearest, so
  *     losing self-hits means the routing broke, noise or not).
  */
class AnnServeSpec extends SparkSpec {
  private val n = 10

  private def recallOf(items: org.apache.spark.sql.DataFrame,
                       nprobe: Int, k: Int,
                       iters: Int = 3): (Double, Long, Long) = {
    val interests = items.where(col("itemId") % 7 === 0)
      .select(col("itemId").as("userId"), col("features").as("interest"))
      .cache()
    val users = interests.count()
    val exact = StreamOps.topNForUsers(interests, items, n)
      .select(col("userId"), col("itemId"))
    val (cent, cells) = StreamOps.buildServeIndex(items, k = k, iters = iters)
    val ann = StreamOps.topNForUsersAnn(interests, cent, cells, n, nprobe)
    val hits = exact.intersect(ann.select(col("userId"), col("itemId"))).count()
    val selfHits = ann.where(col("userId") === col("itemId")).count()
    (hits.toDouble / (users * n), selfHits, users)
  }

  test("structured corpus: ANN serve recovers the exact top-10 at 12% scan") {
    // 16 deterministic clusters: centroid dims sin(c*97+j) (near-orthogonal
    // across clusters), items = centroid + 10% deterministic perturbation.
    // itemIds 0..15 land one per cluster (the seeded random init of the
    // quantizer samples its starting centroids, so it need not start
    // with one vector in each true cluster).
    val items = spark.range(2000).select(
      col("id").cast("int").as("itemId"),
      expr("""transform(sequence(0, 63), j ->
                sin(CAST((id % 16) * 97 + j AS DOUBLE)) +
                0.1 * sin(CAST(id * 31 + j * 7 AS DOUBLE)))""").as("features"))
      .cache()
    val (recall, selfHits, users) = recallOf(items, nprobe = 2, k = 16)
    info(f"structured recall@10 = $recall%.3f over $users users")
    assert(recall >= 0.95, f"structured recall collapsed: $recall%.3f")
    assert(selfHits == users, s"self-retrieval lost: $selfHits of $users")
  }

  test("serveCells: √N sizing with a small-catalog floor regime and cap 64") {
    // ≤ SmallCatalogCap: the K=16 floor regime (r16, VERDICT r15 item 5
    // — the √ law's K=63 at 2k items bought nothing per-event but cost
    // 0.5–1 s of p50 in per-batch routing-expression overhead)
    assert(StreamOps.serveCells(100) == 16)
    assert(StreamOps.serveCells(800) == 16)
    assert(StreamOps.serveCells(2000) == 16)
    assert(StreamOps.serveCells(StreamOps.SmallCatalogCap) == 16)
    // above the cap the √(nprobe·N) law engages (and immediately caps:
    // ceil(sqrt(2*8193)) = 129 -> 64), so large catalogs are unchanged
    // from r15 — the measured 200k-item ceiling rests on K=64
    assert(StreamOps.serveCells(StreamOps.SmallCatalogCap + 1) == 64)
    assert(StreamOps.serveCells(20000) == 64)
    assert(StreamOps.serveCells(200000) == 64)
  }

  test("many-topic corpus: recall holds at the serveCells partitioning (3% scan)") {
    // 200 deterministic topics of 10 items each — the regime a real item
    // catalog is in (topics no larger than 1/K of the space). Each
    // user's exact top-10 IS its topic, so deep recall at K=64 cells /
    // nprobe=2 (3.1% scan) requires the quantizer to keep topics whole
    // and the router to find them — the property serveCells's cap is
    // safe under, pinned here.
    val items = spark.range(2000).select(
      col("id").cast("int").as("itemId"),
      expr("""transform(sequence(0, 63), j ->
                sin(CAST((id % 200) * 97 + j AS DOUBLE)) +
                0.1 * sin(CAST(id * 31 + j * 7 AS DOUBLE)))""").as("features"))
      .cache()
    // K=64 is the capped regime every catalog above SmallCatalogCap
    // lands in (serveCells(20000) == serveCells(200000) == 64); the
    // 2000-item corpus stands in for them — cell GEOMETRY, not catalog
    // size, is what recall depends on
    val k = 64
    assert(StreamOps.serveCells(20000) == k)
    val (recall, selfHits, users) = recallOf(items, nprobe = 2, k = k, iters = 8)
    info(f"many-topic recall@10 = $recall%.3f at ${2.0 / k}%.3f scan")
    assert(recall >= 0.95, f"many-topic recall collapsed: $recall%.3f")
    assert(selfHits == users, s"self-retrieval lost: $selfHits of $users")
  }

  test("many-topic corpus: small-catalog regime (K=16) keeps recall whole") {
    // the regime serveCells now picks for the 2k-item fixture catalog
    // (VERDICT r15 item 5): cells 12.5× coarser than the corpus's 200
    // topics — recall survives because a topic still lives WHOLE inside
    // one cell and the router finds it; the cost is scan fraction
    // (12.5% vs 3.1%), which a small catalog can afford
    val items = spark.range(2000).select(
      col("id").cast("int").as("itemId"),
      expr("""transform(sequence(0, 63), j ->
                sin(CAST((id % 200) * 97 + j AS DOUBLE)) +
                0.1 * sin(CAST(id * 31 + j * 7 AS DOUBLE)))""").as("features"))
      .cache()
    val k = StreamOps.serveCells(2000)
    assert(k == 16)
    val (recall, selfHits, users) = recallOf(items, nprobe = 2, k = k, iters = 8)
    info(f"many-topic small-regime recall@10 = $recall%.3f at ${2.0 / k}%.3f scan")
    assert(recall >= 0.95, f"small-regime recall collapsed: $recall%.3f")
    assert(selfHits == users, s"self-retrieval lost: $selfHits of $users")
  }

  test("many-topic corpus, ids permuted: recall holds when the lowest ids share topics") {
    // the many-topic corpus with its item ids permuted by
    // (id·7919 + 13) mod 2000 (7919 is prime to 2000, so a bijection):
    // the K lowest ids no longer land on K distinct topics, so the
    // recall read here is the quantizer's, not the id layout's
    val items = spark.range(2000).select(
      ((col("id") * 7919 + 13) % 2000).cast("int").as("itemId"),
      expr("""transform(sequence(0, 63), j ->
                sin(CAST((id % 200) * 97 + j AS DOUBLE)) +
                0.1 * sin(CAST(id * 31 + j * 7 AS DOUBLE)))""").as("features"))
      .cache()
    val k = 64
    val (recall, selfHits, users) = recallOf(items, nprobe = 2, k = k, iters = 8)
    info(f"many-topic permuted-ids recall@10 = $recall%.3f at ${2.0 / k}%.3f scan")
    assert(recall >= 0.95, f"permuted-ids recall collapsed: $recall%.3f")
    assert(selfHits == users, s"self-retrieval lost: $selfHits of $users")
  }

  test("an ANN serve call runs one Spark job before its first action: the routing collect") {
    // the centroids travel from build to serve as a driver-side model,
    // so building a batch's serve DataFrame collects only the routed
    // users (one job), for the raw serve and for the ADC-only PQ serve
    val items = spark.range(800).select(
      col("id").cast("int").as("itemId"),
      expr("""transform(sequence(0, 15), j ->
                sin(CAST((id % 8) * 97 + j AS DOUBLE)) +
                0.1 * sin(CAST(id * 31 + j * 7 AS DOUBLE)))""").as("features"))
      .cache()
    val interests = items.where(col("itemId") % 13 === 0)
      .select(col("itemId").as("userId"), col("features").as("interest"))
      .cache()
    interests.count()
    val (cent, cells) = StreamOps.buildServeIndex(items, k = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft-serve-jobs").toString
    val (pCent, pCells) = StreamOps.buildServeIndexPartitioned(items, dir, k = 8)
    val (pqCells, cbs) = StreamOps.encodeServeIndexPq(spark, dir,
      s = 4, subDim = 4, k = 32, iters = 5)
    val raw = jobsWhile(StreamOps.topNForUsersAnn(interests, cent, cells, n))
    val pq = jobsWhile(StreamOps.topNForUsersAnnPartitionedPq(interests, pCent,
      pqCells, cbs, pCells, n, shortlist = 0))
    info(s"jobs while building the serve DataFrame: raw $raw, PQ ADC-only $pq")
    assert(raw == 1, s"raw ANN serve ran $raw jobs before an action")
    assert(pq == 1, s"ADC-only PQ serve ran $pq jobs before an action")
  }

  test("ANN serve plan: shuffle-free routing, one aggregate exchange, no window") {
    // The §8.10 scaling claims rest on this shape: user→cell routing is
    // a projection collected once per micro-batch (NO join, so no
    // shuffle), the routed users reach the cells by broadcast of that
    // driver-local relation, the cells are cut to the touched cids by a
    // literal filter, and the only hash exchange in the whole serve is
    // the per-user bounded top-N aggregate — never a Window (the r14
    // exact serve's ranking already moved to TopKPairs; this pins the
    // ANN path to the same discipline).
    val items = spark.range(500).select(
      col("id").cast("int").as("itemId"),
      expr("""transform(sequence(0, 15), j ->
                sin(CAST(id * 13 + j AS DOUBLE)))""").as("features"))
    val (cent, cells) = StreamOps.buildServeIndex(items, k = 16)
    // partition-preserving user slice (a limit() would collapse the
    // input to one partition and erase the aggregate's exchange)
    val interests = items.where(col("itemId") % 25 === 0)
      .select(col("itemId").as("userId"), col("features").as("interest"))
    val ann = StreamOps.topNForUsersAnn(interests, cent, cells, n)
    val p = ann.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("Window"), s"ANN serve plans a window:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"routed users are not broadcast-joined to the cells:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"ANN serve shuffles or degrades a join:\n$p")
    // exactly one shuffle node (the top-N aggregate's), and it hashes
    // on the user key; the BroadcastExchange carries the routed users
    val exchanges = """\(\d+\) Exchange\b""".r.findAllMatchIn(p).size
    assert(exchanges == 1,
      s"expected exactly one shuffle (the top-N aggregate), got $exchanges:\n$p")
    assert(p.contains("hashpartitioning(userId"),
      s"the one exchange does not hash on userId:\n$p")
  }

  test("one ANN serve, any cells source: cached cells == their cid-partitioned scan") {
    // topNForUsersAnn takes the cells as a table: the cached cells of
    // buildServeIndex, or the same cells written in IvfIndex's
    // cid-partitioned layout and scanned back, must serve the same rows
    val items = spark.range(2000).select(
      col("id").cast("int").as("itemId"),
      expr("""transform(sequence(0, 63), j ->
                sin(CAST((id % 16) * 97 + j AS DOUBLE)) +
                0.1 * sin(CAST(id * 31 + j * 7 AS DOUBLE)))""").as("features"))
      .cache()
    val (cent, cached) = StreamOps.buildServeIndex(items, k = 16)
    val dir = java.nio.file.Files.createTempDirectory("graft-any-cells").toString
    cached.select(col("itemId").as("vec_id"), col("features").as("emb"), col("cid"))
      .write.partitionBy("cid").parquet(s"$dir/cells")
    val scanned = StreamOps.readServeCells(spark, dir)
    val interests = items.where(col("itemId") % 7 === 0)
      .select(col("itemId").as("userId"), col("features").as("interest"))
    val fromCache = StreamOps.topNForUsersAnn(interests, cent, cached, n).collect()
    val fromScan = StreamOps.topNForUsersAnn(interests, cent, scanned, n).collect()
    assert(fromCache.length == interests.count() * n)
    assert(fromScan.toSet == fromCache.toSet,
      s"cells source changed the served rows " +
        s"(${(fromScan.toSet -- fromCache).take(3)} vs ${(fromCache.toSet -- fromScan).take(3)})")
  }

  test("serveCellsPartitioned: uncapped √(nprobe·N) law, floor 64, cap 4096") {
    assert(StreamOps.serveCellsPartitioned(2000) == 64)        // floor
    assert(StreamOps.serveCellsPartitioned(200000) == 633)     // ceil(√400000)
    assert(StreamOps.serveCellsPartitioned(2000000) == 2000)   // the 2M-item arm
    assert(StreamOps.serveCellsPartitioned(100000000L) == 4096) // cap
  }

  test("partitioned serve: recall holds, cid partition filters pushed, catalog never broadcast") {
    // the past-the-broadcast-regime arm (VERDICT r15 item 1): cells live
    // as cid-partitioned parquet, each batch reads ONLY touched cells
    val items = spark.range(2000).select(
      col("id").cast("int").as("itemId"),
      expr("""transform(sequence(0, 63), j ->
                sin(CAST((id % 16) * 97 + j AS DOUBLE)) +
                0.1 * sin(CAST(id * 31 + j * 7 AS DOUBLE)))""").as("features"))
      .cache()
    val dir = java.nio.file.Files.createTempDirectory("graft-dpp-serve").toString
    val (cent, cells) = StreamOps.buildServeIndexPartitioned(items, dir, k = 16)
    // partition-preserving user slice (a limit() would collapse
    // partitions and erase the aggregates' exchanges from the plan pin)
    val interests = items.where(col("itemId") % 7 === 0)
      .select(col("itemId").as("userId"), col("features").as("interest"))
      .cache()
    val users = interests.count()
    val exact = StreamOps.topNForUsers(interests, items, n)
      .select(col("userId"), col("itemId"))
    val part = StreamOps.topNForUsersAnn(interests, cent, cells, n)
    val hits = exact.intersect(part.select(col("userId"), col("itemId"))).count()
    val recall = hits.toDouble / (users * n)
    val selfHits = part.where(col("userId") === col("itemId")).count()
    info(f"partitioned-serve recall@10 = $recall%.3f over $users users")
    assert(recall >= 0.95, f"partitioned-serve recall collapsed: $recall%.3f")
    assert(selfHits == users, s"self-retrieval lost: $selfHits of $users")

    val p = part.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // the cells scan must carry the touched cids as PARTITION filters —
    // pruning enforced by layout, not by reading-then-discarding
    assert(p.contains("PartitionFilters: [") &&
      """PartitionFilters: \[[^\]]*cid""".r.findFirstIn(p).isDefined,
      s"cells scan carries no cid partition filter:\n$p")
    // the catalog side is never broadcast — and since r17 neither are
    // the centroids (they ride INSIDE the routing expression): the only
    // BroadcastExchanges are the driver-materialized routed-user table
    // (the pruned join's build side — r18 replaced r17's per-batch
    // localCheckpoint with a local relation, ADVICE r17) and — when
    // Catalyst elects to stack dynamic pruning on top of the literal
    // filter — the DPP subquery's re-broadcast of it. Never one
    // carrying the cells.
    val broadcasts = """\(\d+\) BroadcastExchange""".r.findAllMatchIn(p).size
    assert(broadcasts == 1 || (broadcasts == 2 && p.contains("dynamicpruning")),
      s"unexpected broadcast shape ($broadcasts BroadcastExchanges, " +
        s"dynamicpruning=${p.contains("dynamicpruning")}):\n$p")
    assert(!p.contains("Window") && !p.contains("SortMergeJoin") &&
      !p.contains("CartesianProduct"),
      s"partitioned serve degraded a join or planned a window:\n$p")
    // the §8.12 buffer rule, pinned (VERDICT r16 item 1): the only
    // aggregate in the serve is the bounded top-N tail — no
    // SortAggregate anywhere, and no aggregate at all in the routing
    // (which the next test pins as a pure projection)
    assert(!p.contains("SortAggregate"),
      s"serve plans a SortAggregate (non-primitive buffer crept in):\n$p")
  }

  test("r17 routing is a pure projection: no join, no shuffle, no aggregate") {
    // the r16 routing was a crossJoin + first(array)/TopKPairs aggregate
    // — users×K intermediate rows and the §8.12 non-primitive-buffer
    // trap, evaluated twice per batch. The r17 form carries the
    // centroids inside the NearestCells expression; pin that the routed
    // plan is scan→project→generate only.
    val cents = (0 until 64).map(i =>
      i -> Array.tabulate(16)(j => math.sin(i * 97.0 + j)))
    val interests = spark.range(500).select(
      col("id").cast("int").as("userId"),
      expr("transform(sequence(0, 15), j -> sin(CAST(id + j AS DOUBLE)))")
        .as("interest"))
    val routed = StreamOps.routeCells(interests, cents, nprobe = 2)
    val p = routed.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("Exchange") && !p.contains("Aggregate") &&
      !p.contains("Join") && !p.contains("Sort"),
      s"routing is not a pure projection:\n$p")
    assert(routed.count() == 1000)
  }

  test("repeated serve batches leave no storage blocks behind (ADVICE r17)") {
    // r17's per-batch localCheckpoint parked routed-table blocks on the
    // ContextCleaner — a slow leak under an idle driver GC. The r18
    // driver-local-relation form has NOTHING to clean: after N serve
    // calls the only cached RDDs are the ones there before (the
    // centroid model lives on the driver), none added per batch.
    val items = spark.range(800).select(
      col("id").cast("int").as("itemId"),
      expr("""transform(sequence(0, 15), j ->
                sin(CAST((id % 8) * 97 + j AS DOUBLE)) +
                0.1 * sin(CAST(id * 31 + j * 7 AS DOUBLE)))""").as("features"))
    val dir = java.nio.file.Files.createTempDirectory("graft-serve-noleak").toString
    val (cent, cells) = StreamOps.buildServeIndexPartitioned(items, dir, k = 8)
    val interests = items.where(col("itemId") % 13 === 0)
      .select(col("itemId").as("userId"), col("features").as("interest"))
    val blocksBefore = spark.sparkContext.getRDDStorageInfo.length
    (1 to 5).foreach { _ =>
      StreamOps.topNForUsersAnn(interests, cent, cells, n).collect()
    }
    val blocksAfter = spark.sparkContext.getRDDStorageInfo.length
    assert(blocksAfter == blocksBefore,
      s"serve batches accumulated storage blocks: $blocksBefore -> " +
        s"$blocksAfter (" +
        spark.sparkContext.getRDDStorageInfo.map(_.name).mkString("; ") + ")")
  }

  test("serve index compacts via the shared IvfIndex maintenance path") {
    // VERDICT r16 item 4: ONE index lifecycle. The serve build delegates
    // to IvfIndex.buildLarge (same layout), so append-fragmented serve
    // cells compact with IvfIndex.compact and the serve's results are
    // byte-identical before and after.
    val items = spark.range(1200).select(
      col("id").cast("int").as("itemId"),
      expr("""transform(sequence(0, 15), j ->
                sin(CAST((id % 12) * 97 + j AS DOUBLE)) +
                0.1 * sin(CAST(id * 31 + j * 7 AS DOUBLE)))""").as("features"))
      .cache()
    val dir = java.nio.file.Files.createTempDirectory("graft-serve-compact").toString
    val firstHalf = items.where(col("itemId") < 600)
    val rest = items.where(col("itemId") >= 600)
    val (cent, _) = StreamOps.buildServeIndexPartitioned(firstHalf, dir, k = 8)
    // daily-increment regime: append the rest under the frozen quantizer
    // (appendLarge — the cosine twin; Euclidean append would file the
    // increment in the wrong cells for cosine routing)
    graft.rec.IvfIndex.appendLarge(spark, rest
      .select(col("itemId").as("vec_id"), col("features").as("emb")), dir)
    val cells = StreamOps.readServeCells(spark, dir)
    val interests = items.where(col("itemId") % 17 === 0)
      .select(col("itemId").as("userId"), col("features").as("interest"))
    val before = StreamOps.topNForUsersAnn(interests, cent, cells, n)
      .collect().toSet
    val stats = graft.rec.IvfIndex.compact(spark, dir, maxFilesPerCell = 1)
    assert(stats.files_after < stats.files_before,
      s"compaction rewrote nothing: $stats")
    val after = StreamOps.topNForUsersAnn(interests, cent,
      StreamOps.readServeCells(spark, dir), n).collect().toSet
    assert(after == before, "serve results changed across compaction")
  }

  test("PQ serve: full shortlist == raw partitioned serve row-for-row; plans pinned") {
    // r19 (VERDICT r18 item 1): the IVFADC serve. With the shortlist
    // covering every probed candidate, ADC only ORDERS the shortlist
    // and the exact rerank re-scores all of it — so the output must be
    // row-for-row the raw partitioned serve's (same routing, same
    // candidate cells, same ranking tail). This is the small-catalog
    // exactness contract (streaming_rec.py:106-114 top-N semantics).
    val items = spark.range(2000).select(
      col("id").cast("int").as("itemId"),
      expr("""transform(sequence(0, 63), j ->
                sin(CAST((id % 16) * 97 + j AS DOUBLE)) +
                0.1 * sin(CAST(id * 31 + j * 7 AS DOUBLE)))""").as("features"))
      .cache()
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-serve").toString
    val (cent, cells) = StreamOps.buildServeIndexPartitioned(items, dir, k = 16)
    // k = 256 codes/subspace, the serve's production default — the
    // 16-topic corpus packs ~125 near-identical items per topic, and
    // within-topic DEPTH is exactly what code resolution buys
    val (pqCells, cbs) = StreamOps.encodeServeIndexPq(spark, dir,
      s = 4, subDim = 16, k = 256, iters = 8)
    val interests = items.where(col("itemId") % 7 === 0)
      .select(col("itemId").as("userId"), col("features").as("interest"))
      .cache()
    val users = interests.count()
    val raw = StreamOps.topNForUsersAnn(interests, cent, cells, n)
      .collect().toSet
    val pqFull = StreamOps.topNForUsersAnnPartitionedPq(interests, cent,
      pqCells, cbs, cells, n, shortlist = 2000).collect().toSet
    assert(pqFull == raw,
      s"full-shortlist PQ serve != raw partitioned serve " +
        s"(${(pqFull -- raw).take(3)} vs ${(raw -- pqFull).take(3)})")

    // bounded shortlist (the deployment shape): recall vs the EXACT
    // serve stays whole on the structured corpus, self-retrieval exact
    val exact = StreamOps.topNForUsers(interests, items, n)
      .select(col("userId"), col("itemId"))
    val pqServe = StreamOps.topNForUsersAnnPartitionedPq(interests, cent,
      pqCells, cbs, cells, n, shortlist = 40)
    val hits = exact.intersect(pqServe.select(col("userId"), col("itemId"))).count()
    val recall = hits.toDouble / (users * n)
    val selfHits = pqServe.where(col("userId") === col("itemId")).count()
    info(f"PQ-serve (shortlist 40) recall@10 = $recall%.3f over $users users")
    assert(recall >= 0.95, f"PQ-serve recall collapsed: $recall%.3f")
    assert(selfHits == users, s"self-retrieval lost: $selfHits of $users")

    // ADC-only mode (shortlist <= 0 — the decode-I/O-win regime): raw
    // vectors never touched; recall vs exact pinned on the structured
    // corpus (quantization noise costs a little depth, never the bulk)
    val adcOnly = StreamOps.topNForUsersAnnPartitionedPq(interests, cent,
      pqCells, cbs, cells, n, shortlist = 0)
    val adcHits = exact.intersect(adcOnly.select(col("userId"), col("itemId"))).count()
    val adcRecall = adcHits.toDouble / (users * n)
    info(f"ADC-only serve recall@10 = $adcRecall%.3f")
    assert(adcRecall >= 0.85, f"ADC-only recall collapsed: $adcRecall%.3f")

    // plan pins, ADC-only mode: the pq scan carries the touched cids as
    // PARTITION filters; no Window / SortMergeJoin / SortAggregate; the
    // only broadcast is the routed-user local relation (+ a DPP
    // re-broadcast where Catalyst stacks it)
    val p = adcOnly.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("PartitionFilters: [") &&
      """PartitionFilters: \[[^\]]*cid""".r.findFirstIn(p).isDefined,
      s"pq scan carries no cid partition filter:\n$p")
    assert(!p.contains("Window") && !p.contains("SortMergeJoin") &&
      !p.contains("CartesianProduct") && !p.contains("SortAggregate"),
      s"PQ serve degraded a join or planned a window/SortAggregate:\n$p")
    val broadcasts = """\(\d+\) BroadcastExchange""".r.findAllMatchIn(p).size
    assert(broadcasts == 1 || (broadcasts == 2 && p.contains("dynamicpruning")),
      s"unexpected broadcast shape ($broadcasts):\n$p")
  }

  test("repeated PQ serve batches leave no storage blocks behind") {
    // both driver-materialized relations per batch (routed users AND the
    // ADC shortlist) are local relations — nothing parked on the
    // ContextCleaner across batches, same pin as the raw serve's
    val items = spark.range(800).select(
      col("id").cast("int").as("itemId"),
      expr("""transform(sequence(0, 15), j ->
                sin(CAST((id % 8) * 97 + j AS DOUBLE)) +
                0.1 * sin(CAST(id * 31 + j * 7 AS DOUBLE)))""").as("features"))
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-noleak").toString
    val (cent, cells) = StreamOps.buildServeIndexPartitioned(items, dir, k = 8)
    val (pqCells, cbs) = StreamOps.encodeServeIndexPq(spark, dir,
      s = 4, subDim = 4, k = 32, iters = 5)
    val interests = items.where(col("itemId") % 13 === 0)
      .select(col("itemId").as("userId"), col("features").as("interest"))
    val blocksBefore = spark.sparkContext.getRDDStorageInfo.length
    (1 to 5).foreach { _ =>
      StreamOps.topNForUsersAnnPartitionedPq(interests, cent, pqCells, cbs,
        cells, n, shortlist = 30).collect()
    }
    val blocksAfter = spark.sparkContext.getRDDStorageInfo.length
    assert(blocksAfter == blocksBefore,
      s"PQ serve batches accumulated storage blocks: $blocksBefore -> $blocksAfter")
  }

  test("PQ append/compact: pq_cells tracks appendLarge increments; serve stable across compactPq") {
    // r19: the PQ lifecycle's append regime. appendLarge alone leaves
    // pq_cells STALE (the serve would silently miss the increment);
    // appendPqLarge encodes the increment with the FROZEN stored
    // codebooks under the same cids, keeping the two tables row-for-row
    // mirrors — and compactPq is the shared maintenance pass.
    val items = spark.range(1200).select(
      col("id").cast("int").as("itemId"),
      expr("""transform(sequence(0, 15), j ->
                sin(CAST((id % 12) * 97 + j AS DOUBLE)) +
                0.1 * sin(CAST(id * 31 + j * 7 AS DOUBLE)))""").as("features"))
      .cache()
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-append").toString
    val firstHalf = items.where(col("itemId") < 600)
    val rest = items.where(col("itemId") >= 600)
    val (cent, _) = StreamOps.buildServeIndexPartitioned(firstHalf, dir, k = 8)
    graft.rec.IvfIndex.encodePqLarge(spark, dir, s = 4, subDim = 4,
      k = 32, iters = 5)
    val restVecs = rest
      .select(col("itemId").as("vec_id"), col("features").as("emb"))
    graft.rec.IvfIndex.appendLarge(spark, restVecs, dir)
    graft.rec.IvfIndex.appendPqLarge(spark, restVecs, dir)
    val cells = spark.read.parquet(s"$dir/cells")
    val pq = spark.read.parquet(s"$dir/pq_cells")
    // (1) still row-for-row mirrors after the paired appends
    val layoutDiff = cells.select(col("vec_id"), col("cid"))
      .exceptAll(pq.select(col("vec_id"), col("cid"))).count() +
      pq.select(col("vec_id"), col("cid"))
        .exceptAll(cells.select(col("vec_id"), col("cid"))).count()
    assert(layoutDiff == 0, "pq_cells diverged from cells after append")
    // (2) appended codes == a full re-encode under the stored codebooks
    val cbs = graft.rec.IvfIndex.readPqCodebooks(spark, dir)
    val reEnc = cells.select(col("vec_id"),
      graft.expr.GraftFunctions.nearestCodes(col("emb"), cbs).as("codes"))
    assert(reEnc.exceptAll(pq.select(col("vec_id"), col("codes"))).count() == 0,
      "appended codes != frozen-codebook re-encode")
    // (3) the PQ serve sees the increment, and compactPq (which the
    // paired appends fragmented) changes nothing about its results
    val interests = items.where(col("itemId") % 17 === 0)
      .select(col("itemId").as("userId"), col("features").as("interest"))
    def serve() = StreamOps.topNForUsersAnnPartitionedPq(interests, cent,
      StreamOps.readServeIndexPq(spark, dir)._1, cbs,
      StreamOps.readServeCells(spark, dir), n, shortlist = 0)
    val before = serve().collect().toSet
    val served = before.map(_.getInt(1)) // itemId column
    assert(served.exists(_ >= 600),
      "PQ serve never returns appended items — pq_cells stale")
    val stats = graft.rec.IvfIndex.compactPq(spark, dir, maxFilesPerCell = 1)
    assert(stats.files_after < stats.files_before,
      s"compactPq rewrote nothing: $stats")
    assert(serve().collect().toSet == before,
      "PQ serve results changed across compactPq")
  }

  test("isotropic fixture: selectivity floor and self-retrieval hold") {
    val items = graft.Tables.embeddings(spark, "/root/testdata/sf0.1")
      .select(col("vec_id").cast("int").as("itemId"),
        col("embedding").cast("array<double>").as("features"))
      .cache()
    val nprobe = 2; val k = 16
    val (recall, selfHits, users) = recallOf(items, nprobe, k)
    val scanFrac = nprobe.toDouble / k
    info(f"fixture recall@10 = $recall%.3f (scan fraction $scanFrac%.3f)")
    assert(recall >= 2 * scanFrac,
      f"quantizer adds <2x selectivity over random pruning: $recall%.3f")
    assert(selfHits == users, s"self-retrieval lost: $selfHits of $users")
  }
}
