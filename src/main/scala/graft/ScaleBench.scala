package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tiled scale-stress bench (VERDICT r13 item 1): the catalog's 100-TB
  * adjudications are DESIGN audits at sf0.1 — this main measures them.
  * It tiles the sf0.1 fixtures at each requested scale (default 4× and
  * 10×, plus the 1× identity) by unioning id-offset copies, runs the
  * 14-query scale set ([[ScaleSet]]: the 10 most expensive catalog
  * queries by r13 cpu_sec, plus the four dedup-family stages) and one
  * build+probe per persistent ANN index at EVERY scale, and reports
  * per-query cpu_sec scaling. A query whose cpu grows ~N× scales
  * linearly; one that grows faster than `N × 1.5` (the same-code spread
  * band SURVEY §8.7 measured, applied to the ratio) is flagged
  * super-linear — exactly the class of bug (driver-side state, quadratic
  * blocking, planning blowup) that a single-scale run cannot catch.
  * THREE scale points (r15, VERDICT item 4) turn each query's scaling
  * into a curve: the per-segment normalized growths distinguish linear
  * from n·log n and from fixed-overhead amortization masking a
  * super-linear term — each query reports a `trend` (its per-unit cpu
  * growth falling / flat / rising across segments).
  *
  * Tiling model — "10× the users, same item catalog", the realistic
  * growth axis for the reference's domain (MovieLens user counts grow
  * ~100× across its published sizes; the movie catalog ~4×):
  *  - orders/lineitem: copy i offsets o_orderkey/l_orderkey by
  *    i×(max+1) — the max taken over the SHARED orderkey domain (both
  *    tables, ADVICE r15: per-table maxima only agree while every
  *    fixture order has lineitems; a childless max-key order would
  *    silently mis-join every copy i>0) — and o_custkey by i×(max+1);
  *    l_partkey is UNCHANGED. The ratings fact (user=o_custkey,
  *    item=l_partkey) then has N× rows and N× users over the same
  *    items — per-user degree (the length of q32's item tails) is
  *    preserved, per-item degree grows N× (the axis the item-keyed
  *    aggregations must absorb, and the bound on q32's heaviest group:
  *    a lead item sums raters(i) tails).
  *  - documents: doc_id offset by i×(max+1), and copy i's text is
  *    alphabet-ROTATED by i (a-z and A-Z each rotated i places;
  *    digits/punct/CJK untouched). Identical copies would make every
  *    doc a 10-clone near-dup cluster — the MinHash edge count (q72)
  *    would then grow ~N²/2 per doc by CONSTRUCTION of the tiling and
  *    false-flag the operator; rotation keeps each copy's
  *    within-corpus similarity structure identical to the source
  *    (shingle sets are rotated pointwise) while cross-copy shingle
  *    collisions become accidental, so the N× corpus behaves like N
  *    independent sf-corpora — the "bigger crawl" model. Copy 0 is the
  *    identity, so the 1× dir IS the source corpus.
  *  - embeddings: vec_id offset by i×(max+1) — each ANN cell gets N×
  *    the candidates under the same geometry.
  * Every scale is WRITTEN through the same tiler (scale 1 = one copy)
  * so parquet layout/codec/file-count-per-row are comparable; the
  * writer repartitions to `scale × source-partitions` so the N× dir has
  * N× the files a real N× dataset would.
  *
  * Methodology is Bench.scala's: per-scale, the query set runs as two
  * full interleaved passes (cache cleared per pass) and each query
  * reports the per-metric min; cpu_sec (executor task CPU via a
  * drained-bus listener delta) is the load-insensitive instrument on
  * this shared host. A query that THROWS in a pass is recorded failed
  * for that sample — failed samples never enter the per-metric min or
  * the flag rule, and a query failed at any scale is excluded from the
  * totals and listed in `failed` (ADVICE r15: a query that breaks only
  * at 10× must surface as FAILED, not as a fast unflagged entry).
  * Index probes report a median of `reps` timed executions after an
  * untimed warmup (IndexBench's convention). Driver-heap context: used
  * heap after clearCache()+GC is reported per scale — in local mode the
  * block manager shares the heap, so this is a bounded-growth sanity
  * signal (compare_aux_bench.py gates max-scale heap against 1× heap).
  *
  * FLAG SELF-ADJUDICATION (r15, VERDICT item 3): in-bench cpu for the
  * sub-second dedup stages carries 2–4× session-state inflation (the
  * r14 attribution diagnosis, [[DedupStage]]). Queries the in-bench
  * ratio flags are therefore RE-MEASURED in fresh JVMs — one
  * [[ScaleProbe]] child per (query, scale), Bench-warmed, min-of-2 —
  * and the headline `superlinear_flagged` list is computed from the
  * CLEAN ratios (`cpu_clean_{s}x`, published beside the in-bench
  * numbers); `superlinear_flagged_inbench` preserves the raw signal.
  * Output rows per scale remain the noise-free semantics-level signal.
  * For the pair ENUMERATORS (q29/q131) the headline flag goes one step
  * further (r16, VERDICT r15 item 2): q132's candidate-pair counts are
  * the work instrument, so their flag is the WORK ratio against the
  * same n×1.5 band — cpu readings (which carry per-task fixed overhead
  * on sub-second queries over 10× the files) ride as context only, and
  * `flag_cause` names the adjudicating ratio in the artifact.
  *
  * Output: ONE JSON line (stdout + stderr, Bench's convention); the
  * committed `SCALEBENCH_r{N}.json` is this line.
  */
object ScaleBench {

  /** The 10 most expensive catalog queries by BENCH_DETAIL_r13_final
    * cpu_sec — together 87% of the catalog's cpu total — plus the four
    * dedup-family stages whose scaling a single-scale run cannot vouch
    * for: q28 (signature build), q72 (MinHash-edge connected
    * components — the ITERATIVE pointer-jumping operator, where
    * driver-side state or a per-round planning blowup would hide), q29
    * (the banded signature equi-join itself — whose r14 run FLAGGED
    * super-linear, leading to the bounded-bucket q131 that rides along
    * to demonstrate the fix scales where the exact form cannot). */
  private val ScaleSet = Seq(
    "q88_lightgcn_training",
    "q107_lightgcn_holdout",
    "q32_item_cf",
    "q65_graph_prop_k2",
    "q106_bpr_topn_metric",
    "q86_mf_gd_training",
    "q37_als_recs",
    "q27_ngram_jaccard",
    "q87_bpr_gd_training",
    "q36_graph_propagation",
    "q72_dedup_components",
    "q28_minhash_sig",
    "q29_minhash_pairs",
    "q131_minhash_pairs_bounded")

  /** The dedup queries share one cached sub-plan (the MinHash signature
    * table), and Bench's first-consumer-pays attribution broke for them
    * at 10×: by the time the dedup group runs, the pass's accumulated
    * caches (capped ratings, trainer intermediates) push unified-memory
    * STORAGE past the eviction floor, so any execution borrowing evicts
    * the signature blocks between — and even mid-way through — these
    * sub-second queries, which then re-derive signatures inside their
    * own timing (r14 diagnosis: q131's cpu_ratio read 24–32 in-bench
    * while its output and its clean-session warm-cache cpu both grew
    * ~11×). ScaleBench therefore runs each dedup-stage query under a
    * CONTROLLED cache state: clearCache() (storage now holds nothing to
    * fight over), then — for the signature CONSUMERS — one untimed run
    * of the signature query to materialize the shared table hot. q28
    * itself gets only the clear, so its timed number IS the signature
    * build. Residual in-bench inflation remains on these sub-second
    * queries even with the hot shared table (late-pass JVM/session
    * state: q72's pinned checkpoint blocks, code-cache pressure —
    * clean-session measurements run 2-4× cheaper), which is why flagged
    * queries are re-measured in fresh JVMs ([[ScaleProbe]]) and each
    * query also reports per-scale rows: OUTPUT growth is noise-free
    * and adjudicates any residual cpu discrepancy. */
  private val DedupStage = Harness.SigConsumers + "q28_minhash_sig"

  private val Passes = 2

  /** Union of `scale` id-offset copies, written as `dst/<name>.parquet`.
    * Each key column is offset to (max value + 1) — derived from the
    * SOURCE table unless `offsets` overrides it with a key-DOMAIN base
    * (callers pass one shared base for keys that join across tables, so
    * copy i's ids live in the same [i*base, (i+1)*base) window on both
    * sides regardless of which side holds the domain's max). Offsets
    * are applied via a broadcast cross join against a `scale`-row tile
    * table (no driver-side loop over copies), and each offset column is
    * cast back to its source type (the fixture ids all fit: the largest
    * 10× key is ~6M, far under Int.MaxValue). */
  private[graft] def tile(spark: SparkSession, src: DataFrame, dst: String,
                          scale: Int, keys: Seq[String],
                          offsets: Map[String, Long] = Map.empty): Unit = {
    val keyMax: Map[String, Long] = keys.map { k =>
      k -> offsets.getOrElse(k,
        src.agg(max(col(k))).head().getAs[Number](0).longValue + 1L)
    }.toMap
    val tiles = spark.range(scale).select(col("id").as("__tile"))
    val tiled = src.crossJoin(broadcast(tiles))
    val withOffsets = keys.foldLeft(tiled) { (df, k) =>
      df.withColumn(k,
        (col(k) + col("__tile") * lit(keyMax(k))).cast(src.schema(k).dataType))
    }
    val srcParts = math.max(1, src.rdd.getNumPartitions)
    withOffsets.drop("__tile")
      .repartition(scale * srcParts)
      .write.mode("overwrite").parquet(dst)
  }

  /** Documents tile by per-copy UNION (not cross join) because copy i's
    * text must be alphabet-rotated by i — `translate` needs a literal
    * replacement alphabet per copy (see the object doc for why identical
    * text copies would corrupt the dedup queries' scaling signal). The
    * union is `scale` branches of one scan each — Catalyst plans it as a
    * single union of scans, no driver-side data movement. Rotation
    * aliases at i ≥ 26 (rot-26 = identity); the tile counts this bench
    * runs are far below that. */
  private[graft] def tileDocuments(spark: SparkSession, src: DataFrame,
                                   dst: String, scale: Int): Unit = {
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    val docMax =
      src.agg(max(col("doc_id"))).head().getAs[Number](0).longValue + 1L
    val idType = src.schema("doc_id").dataType
    val copies = (0 until scale).map { i =>
      val r = i % 26
      val rotL = lower.drop(r) + lower.take(r)
      val rotU = upper.drop(r) + upper.take(r)
      src.withColumn("doc_id",
          (col("doc_id") + lit(i.toLong * docMax)).cast(idType))
        .withColumn("text",
          translate(col("text"), lower + upper, rotL + rotU))
    }
    val srcParts = math.max(1, src.rdd.getNumPartitions)
    copies.reduce(_ unionAll _)
      .repartition(scale * srcParts)
      .write.mode("overwrite").parquet(dst)
  }

  private def buildTiledDir(spark: SparkSession, sfDir: String,
                            base: String, scale: Int): String = {
    val d = s"$base/x$scale"
    val li = Tables.lineitem(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
    // ONE orderkey offset for the shared l_orderkey/o_orderkey domain
    // (ADVICE r15): per-table maxima only coincide while every order has
    // lineitems; the shared-domain max keeps copy windows join-aligned
    // even for a fixture with a childless max-key order.
    val orderBase = math.max(
      li.agg(max(col("l_orderkey"))).head().getAs[Number](0).longValue,
      ord.agg(max(col("o_orderkey"))).head().getAs[Number](0).longValue) + 1L
    tile(spark, li, s"$d/lineitem.parquet",
      scale, Seq("l_orderkey"), Map("l_orderkey" -> orderBase))
    tile(spark, ord, s"$d/orders.parquet",
      scale, Seq("o_orderkey", "o_custkey"), Map("o_orderkey" -> orderBase))
    tileDocuments(spark, Tables.documents(spark, sfDir),
      s"$d/documents.parquet", scale)
    tile(spark, Tables.embeddings(spark, sfDir), s"$d/embeddings.parquet",
      scale, Seq("vec_id"))
    d
  }

  /** Used heap after releasing everything the bench itself pins
    * (callers already clearCache()d): three GC passes, because one
    * System.gc() pass collects the block-manager graph
    * nondeterministically. */
  private def usedHeapMb(): Long = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory) / 1048576
  }

  /** One fresh-JVM [[ScaleProbe]] run: same classpath and --add-opens as
    * this (forked) JVM, same heap cap, same environment (so the same
    * [[Harness.cpus]]). Returns (cpu_sec, wall_sec, rows), or None if the child
    * fails — a None leaves the in-bench flag standing (the honest
    * fallback: no clean number, no exoneration). */
  private def cleanProbe(name: String, dir: String): Option[(Double, Double, Long)] = {
    import scala.jdk.CollectionConverters._
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val jvmArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala.toVector
    val keep = jvmArgs.zipWithIndex.flatMap { case (a, i) =>
      // a trailing bare "--add-opens" with no value (ADVICE r15) must
      // degrade to a dropped flag, not an IndexOutOfBounds that kills
      // the whole bench run
      if (a == "--add-opens" && i + 1 < jvmArgs.length)
        Seq(a, jvmArgs(i + 1)) // value is the next element
      else if (a.startsWith("--add-opens=") || a.startsWith("-Xmx") ||
               a.startsWith("-Dspark.")) Seq(a)
      else Nil
    }
    val cmd = (Seq(javaBin) ++ keep ++
      Seq("-cp", cp, "graft.ScaleProbe", name, dir)).asJava
    val pb = new ProcessBuilder(cmd)
    // child stderr (Spark log noise) flows straight to ours: reading
    // only stdout while the stderr pipe fills would deadlock the child
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    try {
      val p = pb.start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      val ok = p.waitFor() == 0
      val re = """SCALEPROBE_JSON \{.*"cpu_sec":([0-9.]+),"wall_sec":([0-9.]+),"rows":(-?\d+)\}""".r
      re.findFirstMatchIn(out) match {
        case Some(m) if ok =>
          Some((m.group(1).toDouble, m.group(2).toDouble, m.group(3).toLong))
        case _ =>
          System.err.println(s"[scalebench] clean probe $name@$dir failed (rc ok=$ok)")
          None
      }
    } catch {
      case e: Exception =>
        System.err.println(s"[scalebench] clean probe $name@$dir: ${e.getMessage}")
        None
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    val cpus = Harness.cpus
    // "4,10" (VERDICT r15 item 4: two points cannot distinguish linear
    // from n·log n from amortized overhead; three make a curve). A
    // single value keeps the r14 two-point behavior.
    val tilesSpec = sys.env.getOrElse("SPARK_GRAFT_SCALE_TILES", "4,10")
    // distinct: a spec containing 1 (e.g. "1,4,10") must not duplicate
    // the identity point (ADVICE r15 — duplicate JSON keys per query and
    // a degenerate flag ratio); and a max of 1 would make every ratio
    // 1x-vs-1x, so reject it loudly instead of reporting it as "linear"
    val tileScales = tilesSpec.split(",").map(_.trim).filter(_.nonEmpty)
      .map(_.toInt).distinct.toSeq.sorted.filterNot(_ == 1)
    require(tileScales.nonEmpty && tileScales.max > 1,
      s"SPARK_GRAFT_SCALE_TILES=$tilesSpec needs at least one scale > 1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_PROBE_REPS", "5").toInt
    val n = tileScales.max
    val spark = Harness.session()

    val base = java.nio.file.Files.createTempDirectory("graft-scale").toString
    val scales = 1 +: tileScales
    val dirs = scales.map(s => s -> buildTiledDir(spark, sfDir, base, s)).toMap

    val metrics = Harness.metrics(spark)

    val selected = ScaleSet.map(q => q -> SparkEntry.queries(q))

    /** Per-query result at one scale: per-metric min over the OK passes
      * only; `fails` counts thrown passes (ADVICE r15 — a failed pass
      * must not contribute a partial cpu to the min or the flag rule). */
    case class QAtScale(wall: Double, cpu: Double, rows: Long, fails: Int) {
      def allFailed: Boolean = fails == Passes
    }

    // per scale: Passes full interleaved passes (Bench's host-load
    // discipline — samples a full pass apart decorrelate load waves;
    // pass 1 fully warms JIT so pass 2 is steady-state)
    def runScale(dir: String): (Map[String, QAtScale], Long) = {
      val samples = (1 to Passes).flatMap { _ =>
        spark.catalog.clearCache()
        selected.map { case (name, fn) =>
          // controlled cache state for the dedup stages (see [[DedupStage]])
          if (DedupStage(name)) {
            spark.catalog.clearCache()
            Harness.warmSignatures(spark, name, dir)
          }
          name -> Harness.time(metrics, spark, name)(fn(spark, dir).count())
        }
      }
      val byQuery = selected.map { case (name, _) =>
        val s = samples.collect { case (`name`, t) => t }
        val ok = s.flatten
        name -> (if (ok.isEmpty) QAtScale(-1, -1, -1, s.size)
                 else QAtScale(ok.map(_.wallSec).min, ok.map(_.cpuSec).min,
                   ok.map(_.rows).max, s.size - ok.size))
      }.toMap
      spark.catalog.clearCache()
      (byQuery, usedHeapMb())
    }

    // one build + median-of-reps probe per persistent index family, at
    // each scale; probes are the 10 lowest source ids (present at every
    // scale — copy 0 is the source id range)
    def runIndexes(dir: String): Map[String, (Double, Double)] = {
      val e = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
        .cache()
      e.count()
      val probes = e.where(col("vec_id") < 10)
      val out = scala.collection.mutable.LinkedHashMap[String, (Double, Double)]()
      val ivfDir = java.nio.file.Files.createTempDirectory("graft-sc-ivf").toString
      val bIvf = Harness.elapsedMs(graft.rec.IvfIndex.build(e, ivfDir))
      out += "ivf" -> ((bIvf, Harness.medianMs(reps)(
        graft.rec.IvfIndex.probe(spark, ivfDir, probes).collect())))
      val pqDir = java.nio.file.Files.createTempDirectory("graft-sc-pq").toString
      val bPq = Harness.elapsedMs(graft.rec.PqIndex.build(e, pqDir))
      out += "pq" -> ((bPq, Harness.medianMs(reps)(
        graft.rec.PqIndex.probe(spark, pqDir, probes, e).collect())))
      val ipqDir = java.nio.file.Files.createTempDirectory("graft-sc-ivfpq").toString
      val bIpq = Harness.elapsedMs(graft.rec.IvfPqIndex.build(e, ipqDir))
      out += "ivfpq" -> ((bIpq, Harness.medianMs(reps)(
        graft.rec.IvfPqIndex.probe(spark, ipqDir, probes, e).collect())))
      e.unpersist()
      out.toMap
    }

    val results = scales.map { s => s -> runScale(dirs(s)) }.toMap
    val idx = scales.map { s => s -> runIndexes(dirs(s)) }.toMap

    // dedup-stage self-adjudication context (r15): q132's candidate
    // enumeration volumes are exact integers — a deterministic function
    // of the corpus, immune to every timing-attribution problem this
    // bench has ever had — so each scale's profile rides in the
    // artifact and any cpu flag on the pair enumerators can be read
    // against the WORK ratio directly (q29 ~ exact_cand_pairs, q131 ~
    // bounded_cand_pairs; measured r15: 16.2x vs 11.2x at 10x).
    val candProfile = scales.map { s =>
      val r = SparkEntry.queries("q132_lsh_candidate_profile")(spark, dirs(s)).head()
      s -> (0 until 4).map(i => r.getLong(i))
    }.toMap

    def r2(v: Double) = "%.2f".format(v)
    def r3(v: Double) = "%.3f".format(v)
    def q(s: Int) = results(s)._1
    val failedQueries = ScaleSet.filter(name => scales.exists(s => q(s)(name).allFailed))
    val okQueries = ScaleSet.filterNot(failedQueries.contains)

    // the IN-BENCH flag: candidate ratio band is the measured same-code
    // spread (SURVEY §8.7 p90 1.82 ≈ 1.5 applied conservatively to a
    // min-of-2 cpu ratio) — linear is ratio ≈ n. Failed queries never
    // enter (they are surfaced in `failed`, the louder signal).
    val inbenchFlagged = okQueries.filter { name =>
      q(1)(name).cpu > 0.05 && q(n)(name).cpu / math.max(q(1)(name).cpu, 1e-9) > n * 1.5
    }
    // SELF-ADJUDICATION: re-measure every in-bench-flagged query in a
    // fresh JVM per scale; the headline flag list uses the clean ratio
    val cleanByQuery: Map[String, Map[Int, (Double, Double, Long)]] =
      inbenchFlagged.map { name =>
        name -> scales.flatMap(s => cleanProbe(name, dirs(s)).map(s -> _)).toMap
      }.toMap
    // WORK-RATIO ADJUDICATION for the pair ENUMERATORS (VERDICT r15
    // item 2): q132's candidate volumes are exact integers — a
    // deterministic function of the corpus, immune to every timing
    // attribution problem this bench has ever had — so q29/q131's
    // headline flag is their WORK ratio (exact/bounded candidate pairs
    // against the same n×1.5 linearity band), not any cpu reading:
    // r15 measured q131's clean cpu at 15.3–17.1× (a hair over the 15.0
    // band, flapping round to round) while its candidate volume grew
    // 11.2× — per-task fixed overhead from 10× the parquet files on a
    // 0.27 s query, not work. cpu (in-bench and clean) still rides in
    // the artifact as context; a timer can trigger a LOOK, only the
    // counted work decides the flag.
    val workBasis: Map[String, String] = Map(
      "q29_minhash_pairs" -> "exact_cand_pairs",
      "q131_minhash_pairs_bounded" -> "bounded_cand_pairs")
    def workRatio(basis: String): Double = {
      val i = if (basis == "exact_cand_pairs") 2 else 3
      candProfile(n)(i).toDouble / math.max(candProfile(1)(i).toDouble, 1.0)
    }
    val enumFlagged = ScaleSet
      .filter(workBasis.contains).filterNot(failedQueries.contains)
      .filter(name => workRatio(workBasis(name)) > n * 1.5)
    val cpuFlagged = inbenchFlagged.filterNot(workBasis.contains)
      .filter { name =>
        val clean = cleanByQuery(name)
        (clean.get(1), clean.get(n)) match {
          case (Some((c1, _, _)), Some((cn, _, _))) =>
            // a measured clean 1x at/below the timer floor is
            // EXONERATING, not flag-stands (ADVICE r15): the in-bench
            // rule itself treats sub-floor queries as unflaggable
            c1 > 0.05 && cn / math.max(c1, 1e-9) > n * 1.5
          case _ => true // no clean pair → the in-bench flag stands
        }
      }
    val finalFlagged =
      ScaleSet.filter(q => cpuFlagged.contains(q) || enumFlagged.contains(q))
    // name the cause next to each headline flag (and each enumerator
    // exoneration) so the artifact adjudicates itself
    val flagCause: Seq[(String, String)] =
      workBasis.keys.toSeq.filter(ScaleSet.contains)
        .filterNot(failedQueries.contains).map { name =>
          val b = workBasis(name)
          val r = workRatio(b)
          val verdict = if (r > n * 1.5) "superlinear" else "linear"
          name -> f"$b ratio $r%.1f vs band ${n * 1.5}%.1f -> $verdict"
        } ++
        cpuFlagged.map { name =>
          // distinguish an adjudicated clean-pair verdict from the
          // flag-stands default when the probe pair never materialized
          // (ADVICE r16: the artifact must not claim evidence it lacks)
          val clean = cleanByQuery(name)
          val cause =
            if (clean.contains(1) && clean.contains(n))
              "clean cpu ratio over band"
            else "in-bench flag, no clean probe pair (flag stands)"
          name -> cause
        }

    /** Per-unit growth of a segment (s1→s2): ratio of cpu ratio to data
      * ratio — 1.0 is exactly linear, <1 sub-linear. */
    def segGrowth(c1: Double, c2: Double, s1: Int, s2: Int): Double =
      (c2 / math.max(c1, 1e-9)) / (s2.toDouble / s1)

    val qJson = ScaleSet.map { name =>
      val perScale = scales.map { s =>
        val r = q(s)(name)
        s""""cpu_sec_${s}x":${r3(r.cpu)},"rows_${s}x":${r.rows},"wall_${s}x":${r3(r.wall)}"""
      }.mkString(",")
      val failedAt = scales.filter(s => q(s)(name).allFailed)
      val ratio =
        if (failedAt.nonEmpty) -1.0
        else q(n)(name).cpu / math.max(q(1)(name).cpu, 1e-9)
      val rowsRatio =
        if (failedAt.nonEmpty) -1.0
        else q(n)(name).rows.toDouble / math.max(q(1)(name).rows.toDouble, 1.0)
      val failedJson =
        if (failedAt.isEmpty) ""
        else s""","failed_at":[${failedAt.mkString(",")}]"""
      // per-segment per-unit growth + trend, only meaningful on a clean
      // ≥3-point curve above the timer floor
      val trendJson =
        if (scales.size >= 3 && failedAt.isEmpty && q(1)(name).cpu > 0.05) {
          val gs = scales.sliding(2).map { case Seq(a, b) =>
            (s"${b}x_over_${a}x", segGrowth(q(a)(name).cpu, q(b)(name).cpu, a, b))
          }.toSeq
          val trend =
            if (gs.last._2 < 0.8 * gs.head._2) "falling"
            else if (gs.last._2 > 1.25 * gs.head._2) "rising"
            else "flat"
          s""","seg_cpu_growth":{${gs.map { case (k, v) => s""""$k":${r2(v)}""" }.mkString(",")}},""" +
            s""""trend":"$trend""""
        } else ""
      val cleanJson = cleanByQuery.get(name).filter(_.nonEmpty).map { clean =>
        val vals = clean.toSeq.sortBy(_._1)
          .map { case (s, (c, _, _)) => s""""cpu_clean_${s}x":${r3(c)}""" }.mkString(",")
        val ratioJson = (clean.get(1), clean.get(n)) match {
          case (Some((c1, _, _)), Some((cn, _, _))) =>
            s""","cpu_clean_ratio":${r2(cn / math.max(c1, 1e-9))}"""
          case _ => ""
        }
        s""",$vals""" + ratioJson
      }.getOrElse("")
      s""""$name":{$perScale,"cpu_ratio":${r2(ratio)},"rows_ratio":${r2(rowsRatio)}""" +
        failedJson + trendJson + cleanJson + "}"
    }.mkString("{", ",", "}")

    val iJson = Seq("ivf", "pq", "ivfpq").map { k =>
      val perScale = scales.map { s =>
        val (b, p) = idx(s)(k)
        s""""build_ms_${s}x":${math.round(b)},"probe_ms_${s}x":${math.round(p)}"""
      }.mkString(",")
      val ratio = idx(n)(k)._2 / math.max(idx(1)(k)._2, 1e-9)
      s""""$k":{$perScale,"probe_ratio":${r2(ratio)}}"""
    }.mkString("{", ",", "}")
    val cpuTotals = scales.map { s =>
      s""""cpu_sec_total_${s}x":${r3(okQueries.map(q(s)(_).cpu).sum)}"""
    }.mkString(",")
    val heaps = scales.map(s =>
      s""""heap_after_gc_mb_${s}x":${results(s)._2}""").mkString(",")
    val candJson = scales.map { s =>
      val Seq(bk, over, exact, bounded) = candProfile(s)
      s""""lsh_candidates_${s}x":{"buckets":$bk,"buckets_over_cap":$over,""" +
        s""""exact_cand_pairs":$exact,"bounded_cand_pairs":$bounded}"""
    }.mkString(",")
    val totalRatio = okQueries.map(q(n)(_).cpu).sum /
      math.max(okQueries.map(q(1)(_).cpu).sum, 1e-9)
    val line =
      s"""{"metric":"scale_bench","tiles":$n,"scales":[${scales.mkString(",")}],""" +
        s""""passes":$Passes,"cpus":$cpus,""" +
        s""""heap_max_mb":${Runtime.getRuntime.maxMemory / 1048576},""" +
        s"""$cpuTotals,"cpu_total_ratio":${r2(totalRatio)},""" +
        s""""failed":[${failedQueries.map("\"" + _ + "\"").mkString(",")}],""" +
        s""""superlinear_flagged_inbench":[${inbenchFlagged.map("\"" + _ + "\"").mkString(",")}],""" +
        s""""superlinear_flagged":[${finalFlagged.map("\"" + _ + "\"").mkString(",")}],""" +
        s""""flag_cause":{${flagCause.map { case (k, v) => s""""$k":"$v"""" }.mkString(",")}},""" +
        s"""$heaps,$candJson,"queries":$qJson,"index_probes":$iJson,"sf":"$sfDir"}"""
    println(line)
    System.err.println(line)
    spark.stop()
  }
}
