package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.stream.{RatingEvent, StreamOps}

/** Streaming throughput bench (VERDICT r10 item 3: the batch catalog has
  * 122 timed queries; the reference's HEADLINE real-time recommender —
  * `streaming_rec.py:77-127` → [[StreamOps.interestStream]] /
  * [[StreamOps.topNForUsers]] — had correctness specs but no throughput
  * number). Drives the pipeline with a rate source joined against the
  * sf item table and reports, per configuration: sustained events/s,
  * micro-batch latency (p50/max), and final state-store size.
  *
  * Configurations:
  *  - `state_noevict`  — rate → parse-shape → broadcast enrich →
  *    interest state, NO idle horizon (state = every user ever seen)
  *  - `state_evict`    — same with the event-time idle horizon, so
  *    state is O(active users); the generator ROTATES the active user
  *    cohort (1000 live users, shifting every `rotate` events) to make
  *    the difference measurable: without eviction state grows one
  *    cohort per rotation, with it the watermark clears retired cohorts
  *  - `serve_evict`    — the full reference loop: the evicted-state
  *    interest stream plus per-batch cosine top-10 over the whole item
  *    catalog (foreachBatch, [[StreamOps.topNForUsers]])
  *
  * Event time = the rate source's wall-clock timestamp, so the 0-delay
  * watermark advances in real time and a 10 s idle horizon evicts
  * within the run. Output: ONE JSON line (stdout + stderr, Bench's
  * convention); the committed `STREAMBENCH_r{N}.json` is this line.
  *
  * CEILING SWEEP (VERDICT r13 item 2): the single-rate run only ever
  * confirmed "≥ offered" — it never saturated. Setting
  * `SPARK_GRAFT_STREAM_RATES=40000,80000,160000` switches to sweep
  * mode: at each offered rate three configs run (`state_evict` — state
  * path alone; `serve_evict` — state + per-batch exact cosine top-N
  * serve; `serve_ann_evict` — the serve pruned by the IVF cells of
  * [[StreamOps.topNForUsersAnn]], r14's answer to the measured serve
  * bottleneck), keyed `label@rate` in the output (the key shape
  * `compare_aux_bench.py` matches per-config, so a sweep candidate is
  * only compared on configs a baseline ran). Each entry reports
  * `sustained` = events/s ≥ 0.9 × offered; the ceiling is the largest
  * offered rate still sustained, and comparing the two configs at the
  * first unsustained rate names the bottleneck (state path vs cosine
  * serve). The rate source trivially outruns the pipeline, so an
  * unsustained config shows up as trigger backlog: events/s plateaus
  * at the pipeline's capacity while batches grow.
  *
  * CATALOG SWEEP (VERDICT r14 item 1): every scale measurement above
  * grows users/events; the serve cost is touched-users × |catalog|,
  * and the r14 sweeps fixed the catalog at the sf0.1 2,000 items — at
  * 100 TB the catalog is millions (the reference's own serve scores
  * ALL movies per event, `streaming_rec.py:106-114`). Setting
  * `SPARK_GRAFT_STREAM_CATALOG=1:320000,640000;10:40000,...` runs, per
  * `tiles:rates` group, the exact and ANN serves at each offered rate
  * against an item catalog tiled `tiles`× (id-offset copies of the
  * fixture embeddings — ScaleBench's tiling model on the item axis:
  * every IVF cell gets tiles× the candidates under the same geometry).
  * Config keys carry both axes (`serve_evict@i20000@r40000`), so
  * catalog runs never collide with rate-sweep keys in
  * `compare_aux_bench.py`. Each group's serve index is built EAGERLY
  * before its first run (ADVICE r14: a lazy val first forced inside
  * foreachBatch made micro-batch 1 pay the k-means build), timed and
  * reported as `index_build_ms` context per group, with the cell count
  * sized by [[StreamOps.serveCells]] (nlist ≈ √N, capped — the r15
  * preopt pair ran the fixed r14 K=16 and measured the ANN ceiling
  * tracking its 12.5% scan fraction; the committed preopt artifacts
  * keep that trail).
  *
  * DPP MODE (r16): `SPARK_GRAFT_STREAM_DPP=1` with a catalog spec
  * swaps each group's config pair to the one ANN serve,
  * [[StreamOps.topNForUsersAnn]], over its two cells sources:
  * `serve_ann_evict` reads the cached cells of
  * [[StreamOps.buildServeIndex]] ([[StreamOps.serveCells]] K),
  * `serve_dpp_evict` the cid-PARTITIONED parquet of
  * [[StreamOps.buildServeIndexPartitioned]]
  * ([[StreamOps.serveCellsPartitioned]] K) — one sampled seeded MLlib
  * quantizer, two cell counts — where each batch
  * reads only the touched cells and nothing catalog-sized is ever
  * cached. Both index builds are timed per group (`ann_iN` / `dpp_iN`
  * in `index_build_ms`). Catalog groups are capped at 4M items: the
  * 20M-item serve campaign, which needed a hot-item event space and a
  * lifted cell cap, is retired.
  *
  * PQ MODE (r19, VERDICT r18 item 1): `SPARK_GRAFT_STREAM_PQ=1` on top
  * of DPP mode adds, per catalog group, the IVFADC serve pair over the
  * PQ-encoded twin of the same index
  * ([[StreamOps.topNForUsersAnnPartitionedPq]]): `serve_pq_evict`
  * (ADC shortlist 64 + exact rerank — row-for-row the raw serve's
  * results at full shortlist, but the rerank fetch re-decodes the
  * touched cells' raw vectors, so its per-batch I/O stays the raw
  * serve's) and `serve_pqadc_evict` (ADC-only — raw vectors never
  * touched; the mode that attacks the 20M plateau's measured bound,
  * ~25× fewer scan bytes per touched cell). The one-off encode pass is
  * timed as `pqenc_iN` in `index_build_ms`.
  */
object StreamBench {

  /** Per-coordinate σ of the tiled copies' deterministic gaussian
    * perturbation: the base vectors are unit-norm dim-64, so a copy's
    * expected cosine against its base is 1/√(1+64σ²) ≈ 0.89 — copies
    * stay members of their base's neighborhood (the "same workload,
    * N× denser" tiling model) while every coordinate is a distinct
    * double. */
  private[graft] val TileSigma = 0.0625

  /** Item catalog tiled `t`× by id-offset copies — copy i's itemId is
    * offset by i×`maxId` — with copies ≥ 1 DE-ALIASED (r20, VERDICT
    * r19 item 1): each copy's features are the base vector plus a
    * per-(itemId, coordinate) hash-seeded gaussian perturbation
    * (Box-Muller over two xxhash64 uniforms — the ml-10M ALS fixture's
    * deterministic-noise idiom), tile 0 verbatim. The r16–r19 tiler
    * copied features UNCHANGED, which quietly un-scaled every claim
    * built on the tiled catalog: parquet dictionary-encoded the "20M
    * item" cells table 70× (152 MB on disk, fully page-cached) and
    * the quantizer could only separate the 2,000 distinct points
    * (K_eff 1,736 of 4,096), so scored-pair volume — not bytes —
    * bounded raw and ADC serves alike. With distinct per-id vectors,
    * disk bytes scale with N and k-means can fill all K cells;
    * ScaleTilerSpec pins distinctness, determinism, the tile-0
    * identity and the neighborhood bound. */
  private[graft] def tiledItems(baseItems: DataFrame, t: Int, maxId: Long,
                                nParts: Int): DataFrame = {
    val spark = baseItems.sparkSession
    // uniform in (0,1] from a per-(id, coordinate, salt) xxhash64: low
    // 52 bits + 1 over 2^52+1 — never 0, so ln(u) is finite
    def unit(salt: Int, id: Column, j: Column): Column =
      (xxhash64(id, j, lit(salt)).bitwiseAND(lit((1L << 52) - 1))
        .cast("double") + lit(1.0)) / lit(4503599627370497.0)
    val perturbed = transform(col("features"), (x, j) => {
      val z = sqrt(lit(-2.0) * log(unit(1, col("itemId"), j))) *
        cos(lit(2.0 * math.Pi) * unit(2, col("itemId"), j))
      x + lit(TileSigma) * z
    })
    baseItems
      .crossJoin(broadcast(spark.range(t).select(col("id").as("__tile"))))
      .select((col("itemId") + col("__tile") * maxId).cast("int").as("itemId"),
        col("__tile"), col("features"))
      .select(col("itemId"),
        when(col("__tile") === 0, col("features"))
          .otherwise(perturbed).as("features"))
      .repartition(nParts)
  }

  /** Total bytes under a directory tree — on-disk size context for the
    * bench artifact (the de-aliased catalog's first-class evidence:
    * cells_bytes must scale with N, not with the base fixture). */
  private def dirBytes(dir: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.filter(p => java.nio.file.Files.isRegularFile(p))
      .mapToLong(p => java.nio.file.Files.size(p)).sum()
    finally s.close()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    val cpus = Harness.cpus
    val secs = sys.env.getOrElse("SPARK_GRAFT_STREAM_SECS", "45").toInt
    val rate = sys.env.getOrElse("SPARK_GRAFT_STREAM_RATE", "20000").toInt
    val rotate = sys.env.getOrElse("SPARK_GRAFT_STREAM_ROTATE", "100000").toLong
    val spark = Harness.session()
    import spark.implicits._

    val baseItems = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").cast("int").as("itemId"),
        col("embedding").cast("array<double>").as("features"))
      .cache()
    val nBaseItems = baseItems.count()
    val dim = baseItems.select(size(col("features"))).as[Int].head()

    /** [[tiledItems]] (de-aliased id-offset copies) materialized: t=1 is
      * the fixture catalog verbatim. */
    def tileItems(t: Int): (DataFrame, Long) = {
      if (t == 1) (baseItems, nBaseItems)
      else {
        val maxId = baseItems.agg(max(col("itemId"))).head().getInt(0) + 1L
        // the fixture reads as a couple of files; without the
        // repartition the t× catalog inherits those few partitions and
        // every downstream catalog pass (cell assignment, broadcast
        // build) serializes. Past the r16 grid (t > 1000) partition
        // count scales with rows (~50k rows/partition) so no cached
        // block balloons to gigabytes; the r16-comparable groups keep
        // the r16 partitioning untouched.
        val nParts =
          if (t > 1000) math.max(spark.sparkContext.defaultParallelism,
            (t.toLong * nBaseItems / 50000L).toInt)
          else spark.sparkContext.defaultParallelism
        val tiled = tiledItems(baseItems, t, maxId, nParts).cache()
        (tiled, tiled.count())
      }
    }

    def events(rate: Int, nItems: Long) = {
      spark.readStream.format("rate")
        .option("rowsPerSecond", rate)
        .option("numPartitions", cpus)
        .load()
        .select(
          // 1000 live users; the cohort retires every `rotate` events
          ((col("value") % 1000) + (col("value") / rotate) * 1000)
            .cast("int").as("userId"),
          (col("value") % nItems).cast("int").as("itemId"),
          (lit(1.0) + (col("value") % 5)).as("rating"),
          unix_millis(col("timestamp")).as("ts"))
        .as[RatingEvent]
    }

    def run(label: String, idle: Option[java.time.Duration],
            serveFn: Option[DataFrame => DataFrame], rate: Int,
            items: DataFrame, nItems: Long): String = {
      val interests = StreamOps.interestStream(
        StreamOps.enrich(events(rate, nItems), items), dim, idleTimeout = idle)
      val writer = serveFn match {
        case Some(f) =>
          interests.writeStream.outputMode("append")
            .foreachBatch { (df: org.apache.spark.sql.Dataset[graft.stream.UserInterest], _: Long) =>
              f(df.toDF()).write.format("noop").mode("overwrite").save()
            }
        case None =>
          interests.writeStream.outputMode("append").format("noop")
      }
      val q = writer.option("checkpointLocation",
          java.nio.file.Files.createTempDirectory(s"graft-sb-$label").toString)
        .start()
      Thread.sleep(secs * 1000L)
      val progress = q.recentProgress.toSeq
      q.stop()
      // drop the first 3 batches (bring-up: codegen, broadcast, state
      // store open) so "sustained" means steady state
      // durationMs is a Java map that may lack the key on a degenerate
      // batch — a bare .get(...).toLong would NPE (null unboxing) and
      // kill the run after the earlier configs already burned their 45 s,
      // so keep only batches that report a trigger time (rows and
      // durations must stay paired for the events/s division)
      val completed = progress.filter(p =>
        p.numInputRows > 0 && p.durationMs.get("triggerExecution") != null)
      // far past a config's ceiling a single backlog-swallowing batch can
      // be all that completes inside the window — an empty steady set
      // then read as events/s 0.0, a coin-flip artifact the r15 catalog
      // pair flagged on its own past-ceiling probe. Fall back to every
      // completed batch and say so (`"steady":false`): a bring-up-
      // inclusive plateau beats a fabricated zero. With no completed
      // batch at all there is nothing to report: rate and latencies are
      // null, `"batches":0`.
      val steadySet = completed.drop(3)
      val steady = if (steadySet.nonEmpty) steadySet else completed
      val isSteady = steadySet.nonEmpty
      val trigMs = steady.map(_.durationMs.get("triggerExecution").toLong)
      val rows = steady.map(_.numInputRows).sum
      val eps = Option.when(trigMs.nonEmpty)(rows.toDouble * 1000 / math.max(trigMs.sum, 1L))
      val sorted = trigMs.sorted
      val p50 = sorted.lift(sorted.size / 2)
      val st = progress.lastOption.flatMap(_.stateOperators.headOption)
      def r1(v: Double) = "%.1f".format(v)
      def orNull[A](v: Option[A]) = v.map(_.toString).getOrElse("null")
      s""""$label":{"offered":$rate,"items":$nItems,"event_space":$nItems,""" +
        s""""events_per_sec":${orNull(eps.map(r1))},""" +
        s""""sustained":${isSteady && eps.exists(_ >= 0.9 * rate)},"steady":$isSteady,""" +
        s""""batches":${steady.size},""" +
        s""""batch_ms_p50":${orNull(p50)},"batch_ms_max":${orNull(sorted.lastOption)},""" +
        s""""state_rows_final":${st.map(_.numRowsTotal).getOrElse(-1L)},""" +
        s""""state_mem_mb":${r1(st.map(_.memoryUsedBytes).getOrElse(0L) / 1048576.0)},""" +
        s""""rows_removed_total":${progress.map(_.stateOperators.headOption.map(_.numRowsRemoved).getOrElse(0L)).sum}}"""
    }

    val idle = Some(java.time.Duration.ofSeconds(10))
    // catalog mode: "t1:rate,rate;t2:rate,..." — per tile factor, the
    // exact and ANN serves at each offered rate (see object doc)
    val catalog = sys.env.get("SPARK_GRAFT_STREAM_CATALOG").map(_.split(";")
      .map(_.trim).filter(_.nonEmpty).map { grp =>
        val Array(t, rs) = grp.split(":", 2)
        t.trim.toInt -> rs.split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq
      }.toSeq)
    // rate-sweep mode: SPARK_GRAFT_STREAM_RATES=40000,80000,160000 runs
    // the three headline configs at each offered rate (see object doc);
    // default mode is the r11-compatible three-config single-rate run
    val sweep = sys.env.get("SPARK_GRAFT_STREAM_RATES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq)
    catalog.toSeq.flatten.foreach { case (t, _) => require(t * nBaseItems <= 4000000L,
      s"catalog group $t x $nBaseItems items is over 4M: the 20M-item serve campaign is retired") }

    val buildMsParts = scala.collection.mutable.LinkedHashMap[String, Long]()
    // cell counts per built index — context for the scan-fraction claim:
    // the artifact states the K the p50s were measured under
    val serveKParts = scala.collection.mutable.LinkedHashMap[String, Int]()
    // measured per built partitioned index (r20, VERDICT r19 item 1):
    // non-empty cell count (K_eff — the directory count the quantizer
    // actually populated; the aliased r16–r19 fixture capped it at
    // 1,736 of 4,096) and on-disk bytes of the cells / pq_cells trees
    // (must scale with N now that copies are de-aliased — the 152 MB
    // dictionary-collapsed "20M" catalog is the failure mode this
    // field exists to catch).
    val kEffParts = scala.collection.mutable.LinkedHashMap[String, Int]()
    val bytesParts = scala.collection.mutable.LinkedHashMap[String, Long]()
    // DPP mode (r16): per catalog group, the ANN serve over the cached
    // cells against the same serve over the cid-PARTITIONED cells, which
    // reads only the touched cells' parquet partitions. Exact serve is
    // omitted here — the r15 catalog sweep already measured it dead an
    // order of magnitude below these catalog sizes.
    val dppMode = sys.env.get("SPARK_GRAFT_STREAM_DPP").contains("1")
    // PQ mode (r19): IVFADC serve pair on top of each DPP group. Only
    // meaningful inside catalog+DPP mode — say so loudly rather than
    // burn a full campaign emitting an artifact with no pq configs.
    val pqMode = sys.env.get("SPARK_GRAFT_STREAM_PQ").contains("1")
    if (pqMode && (!dppMode || sys.env.get("SPARK_GRAFT_STREAM_CATALOG").isEmpty))
      System.err.println("WARNING: SPARK_GRAFT_STREAM_PQ=1 has no effect " +
        "without SPARK_GRAFT_STREAM_DPP=1 and SPARK_GRAFT_STREAM_CATALOG " +
        "— no serve_pq_evict/serve_pqadc_evict configs will run")
    val parts = (catalog, sweep) match {
      case (Some(groups), _) =>
        groups.flatMap { case (t, rs) =>
          val (items, nItems) = tileItems(t)
          if (dppMode) {
            var annIdx: (Seq[(Int, Array[Double])], DataFrame) = null
            buildMsParts(s"ann_i$nItems") = math.round(Harness.elapsedMs {
              annIdx = StreamOps.buildServeIndex(items,
                k = StreamOps.serveCells(nItems), iters = 8)
            })
            serveKParts(s"ann_i$nItems") = StreamOps.serveCells(nItems)
            serveKParts(s"dpp_i$nItems") = StreamOps.serveCellsPartitioned(nItems)
            val dppDir = java.nio.file.Files
              .createTempDirectory(s"graft-sb-dpp-$nItems").toString
            var dppIdx: (Seq[(Int, Array[Double])], DataFrame) = null
            buildMsParts(s"dpp_i$nItems") = math.round(Harness.elapsedMs {
              dppIdx = StreamOps.buildServeIndexPartitioned(items, dppDir,
                k = StreamOps.serveCellsPartitioned(nItems))
            })
            // K_eff = populated cell directories; bytes = the tree the
            // touched-cell scans actually read
            kEffParts(s"dpp_i$nItems") = {
              val s = java.nio.file.Files.list(
                java.nio.file.Paths.get(s"$dppDir/cells"))
              try s.filter(p => p.getFileName.toString.startsWith("cid="))
                .count().toInt
              finally s.close()
            }
            bytesParts(s"dpp_i$nItems") = dirBytes(s"$dppDir/cells")
            var pqIdx: (DataFrame, Seq[Seq[Array[Double]]]) = null
            if (pqMode) {
              buildMsParts(s"pqenc_i$nItems") = math.round(Harness.elapsedMs {
                pqIdx = StreamOps.encodeServeIndexPq(spark, dppDir)
              })
              bytesParts(s"pq_i$nItems") = dirBytes(s"$dppDir/pq_cells")
            }
            val out = rs.flatMap { r =>
              Seq(
                run(s"serve_ann_evict@i$nItems@r$r", idle,
                  Some(df => StreamOps.topNForUsersAnn(df, annIdx._1, annIdx._2, 10)),
                  r, items, nItems),
                run(s"serve_dpp_evict@i$nItems@r$r", idle,
                  Some(df => StreamOps.topNForUsersAnn(df, dppIdx._1, dppIdx._2, 10)),
                  r, items, nItems)) ++
              (if (!pqMode) Seq.empty[String] else Seq(
                run(s"serve_pq_evict@i$nItems@r$r", idle,
                  Some(df => StreamOps.topNForUsersAnnPartitionedPq(
                    df, dppIdx._1, pqIdx._1, pqIdx._2, dppIdx._2, 10,
                    shortlist = 64)),
                  r, items, nItems),
                run(s"serve_pqadc_evict@i$nItems@r$r", idle,
                  Some(df => StreamOps.topNForUsersAnnPartitionedPq(
                    df, dppIdx._1, pqIdx._1, pqIdx._2, dppIdx._2, 10,
                    shortlist = 0)),
                  r, items, nItems)))
            }
            annIdx._2.unpersist()
            if (t != 1) items.unpersist()
            out
          } else {
            // eager, timed build — no micro-batch (and no first-run skew
            // between the exact and ANN configs) ever pays the k-means
            var idx: (Seq[(Int, Array[Double])], DataFrame) = null
            // cell count scales with the catalog (serveCells: nlist ≈ √N,
            // capped) — the r15 preopt sweep ran the r14 fixed K=16 and
            // measured the ANN ceiling tracking its 12.5% scan fraction
            // iters = 8: the rounds AnnServeSpec pins recall at the K=64
            // cap with (many-topic corpus, both id layouts; the 3-round
            // default was measured short of the pin there when the
            // quantizer was a relational Lloyd: 0.936 vs 0.974 at 8);
            // training runs on the bounded sample, so the extra rounds
            // don't scale with the catalog
            buildMsParts(s"i$nItems") = math.round(Harness.elapsedMs {
              idx = StreamOps.buildServeIndex(items,
                k = StreamOps.serveCells(nItems), iters = 8)
            })
            val out = rs.flatMap { r => Seq(
              run(s"serve_evict@i$nItems@r$r", idle,
                Some(df => StreamOps.topNForUsers(df, items, 10)),
                r, items, nItems),
              run(s"serve_ann_evict@i$nItems@r$r", idle,
                Some(df => StreamOps.topNForUsersAnn(df, idx._1, idx._2, 10)),
                r, items, nItems))
            }
            idx._2.unpersist()
            if (t != 1) items.unpersist()
            out
          }
        }
      case (None, Some(rs)) =>
        // eager build (ADVICE r14): forced before the first ANN run, not
        // inside its first micro-batch
        val idx = StreamOps.buildServeIndex(baseItems)
        rs.flatMap(r => Seq(
          run(s"state_evict@$r", idle, None, r, baseItems, nBaseItems),
          run(s"serve_evict@$r", idle,
            Some(df => StreamOps.topNForUsers(df, baseItems, 10)),
            r, baseItems, nBaseItems),
          run(s"serve_ann_evict@$r", idle,
            Some(df => StreamOps.topNForUsersAnn(df, idx._1, idx._2, 10)),
            r, baseItems, nBaseItems)))
      case (None, None) => Seq(
        run("state_noevict", None, None, rate, baseItems, nBaseItems),
        run("state_evict", idle, None, rate, baseItems, nBaseItems),
        run("serve_evict", idle,
          Some(df => StreamOps.topNForUsers(df, baseItems, 10)),
          rate, baseItems, nBaseItems))
    }
    val ratesJson = sweep.getOrElse(Seq(rate)).mkString("[", ",", "]")
    val catalogJson = catalog.map(gs =>
      s""","catalog_groups":${gs.map { case (t, rs) =>
        s"""{"tiles":$t,"rates":[${rs.mkString(",")}]}"""
      }.mkString("[", ",", "]")},"index_build_ms":${buildMsParts.map {
        case (k, v) => s""""$k":$v"""
      }.mkString("{", ",", "}")}${
        if (serveKParts.isEmpty) ""
        else s""","serve_k":${serveKParts.map {
          case (k, v) => s""""$k":$v"""
        }.mkString("{", ",", "}")}"""}${
        if (kEffParts.isEmpty) ""
        else s""","k_eff":${kEffParts.map {
          case (k, v) => s""""$k":$v"""
        }.mkString("{", ",", "}")}"""}${
        if (bytesParts.isEmpty) ""
        else s""","cells_bytes":${bytesParts.map {
          case (k, v) => s""""$k":$v"""
        }.mkString("{", ",", "}")}"""}""").getOrElse("")
    val line = parts.mkString(
      s"""{"metric":"stream_bench","rate_rows_per_sec":$rate,"rates":$ratesJson,""" +
        s""""secs_per_config":$secs,""" +
        s""""rotate_events":$rotate,"items":$nBaseItems,"dim":$dim$catalogJson,"configs":{""",
      ",", s"""},"sf":"$sfDir"}""")
    println(line)
    System.err.println(line)
    spark.stop()
  }
}
