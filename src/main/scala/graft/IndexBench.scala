package graft

import org.apache.spark.sql.functions._

/** Index-maintenance bench: measures the problem `IndexMaintenance.
  * compactCells` exists to solve (IndexMaintenance.scala:17-24's cost
  * model — append promises no rewrite, so ~365 daily increments later
  * probe latency is file-open overhead) and the fix, end to end on the
  * fixture embeddings:
  *
  *   build(1/(N+1) of the corpus) → N frozen-quantizer appends →
  *   [probe latency, data-file count] → compact → [probe latency,
  *   data-file count] — probe equality is IvfIndexSpec's assertion;
  *   this main reports the NUMBERS.
  *
  * RETRAIN ARM (r15, VERDICT r14 item 5): compaction rewrites files but
  * keeps the day-0 quantizer FROZEN — after the corpus grows ~(N+1)×,
  * cell populations have drifted from the centroids the probes prune
  * by (the r14 scale bench measured IVF-family probes growing 1.24–1.39×
  * at 10× candidates under frozen quantizers). The third arm re-trains
  * the quantizer on the FULL grown corpus and rebuilds: `rebuild_ms`
  * vs `probe_ms_retrained` against the compacted-but-frozen
  * `probe_ms_after` gives the growth POLICY number — `breakeven_probes`
  * = rebuild cost / per-probe gain, the probe volume after which
  * retraining has paid for itself (negative gain → -1: keep the frozen
  * quantizer). Set `SPARK_GRAFT_INDEX_TILES=10` to run the same
  * lifecycle on the 10×-tiled embeddings (ScaleBench's item-axis tiling:
  * same geometry, 10× candidates) — the scale at which the policy
  * question is real. The full lifecycle (build → frozen appends →
  * probe/compact/probe → retrain-rebuild → probe) also runs for the
  * COMPOSED IVF-PQ index (`ivfpq_*` keys): the scale benches measured
  * the PQ-family probes drifting MOST under frozen quantizers, so the
  * composed index is where the retrain policy actually bites.
  *
  * RESIZE ARM (r16, VERDICT r15 item 4): the retrain arm answered
  * "same-K refit never pays"; this arm measures the rebuild the policy
  * says IS worth paying — re-SIZING to nlist ≈ √N of the grown corpus
  * (`resized_k`, e.g. 16 → 142 at the 10× tiling). `probe_ms_resized`
  * vs the frozen `probe_ms_after` prices the resize; `resized_
  * breakeven_probes` is the probe volume after which it has paid for
  * itself. For IVF-PQ only the coarse quantizer resizes — the
  * per-subspace codebooks keep their fixed 256-code budget, which
  * corpus size does not change.
  *
  * COSINE LIFECYCLE ARM (r18, VERDICT r17 item 5): `buildLarge` /
  * `appendLarge` are the COSINE twins behind the streaming serve's
  * partitioned index (`StreamOps.buildServeIndexPartitioned`), sharing
  * the Euclidean lifecycle's layout and `compact` path — AnnServeSpec
  * proves probe equality across a compact, but until r18 nothing PRICED
  * that lifecycle. The `cos_*` keys run the same protocol (day-0 build
  * on the first slice, N frozen `appendLarge` increments, probe /
  * compact / probe) with probes served through the cosine serve itself
  * (`StreamOps.topNForUsersAnnPartitioned`, nprobe=2, top-3). Day-0
  * K matches the Euclidean arm's 16 so the two arms price the same
  * fragmentation story — quantizer SIZING policy is the retrain/resize
  * arms' question, answered above.
  *
  * Prints ONE JSON line. Probe latency is the median of `reps` full
  * probe executions (assign → pruned cell scan → per-probe top-k,
  * collect()ed), after one untimed warmup pass; medians because a
  * shared host's load waves would dominate a single sample (the
  * Bench.scala lesson).
  */
object IndexBench {

  private def dataFiles(cellsDir: java.io.File): Int =
    cellsDir.listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("cid="))
      .map(_.listFiles().count(f => f.isFile &&
        !f.getName.startsWith("_") && !f.getName.startsWith(".")))
      .sum

  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    val increments = sys.env.getOrElse("SPARK_GRAFT_INDEX_INCREMENTS", "30").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_INDEX_REPS", "7").toInt
    val tiles = sys.env.getOrElse("SPARK_GRAFT_INDEX_TILES", "1").toInt
    val spark = Harness.session()

    // tiles > 1: the ScaleBench item-axis tiling (id-offset copies, same
    // geometry, tiles× the candidates), written through the same tiler
    // so the parquet layout matches a real corpus of that size
    val srcDir =
      if (tiles == 1) sfDir
      else {
        val d = java.nio.file.Files.createTempDirectory("graft-ib-tiled").toString
        ScaleBench.tile(spark, Tables.embeddings(spark, sfDir),
          s"$d/embeddings.parquet", tiles, Seq("vec_id"))
        d
      }
    val e = Tables.embeddings(spark, srcDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .cache()
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-bench").toString
    val cells = new java.io.File(s"$dir/cells")
    val total = e.count() // one action: materializes the cache AND counts
    // one val ties every Euclidean arm's Lloyd budget to the JSON's
    // euclid_build_iters claim (the cosine arm has cosBuildIters)
    val euclidBuildIters = 3
    val sliceRows = (total + increments) / (increments + 1)

    // day 0: build on the first CONTIGUOUS id range (contiguous, not a
    // modulo stripe: ids arrive in order in the daily-increment story,
    // and lloydKMeans' deterministic init seeds from the K lowest
    // vec_ids — a stripe that skips them would collapse the quantizer);
    // days 1..N: append-only increments under the frozen quantizer
    // (the regime the compaction pass serves)
    graft.rec.IvfIndex.build(
      e.where(col("vec_id") < sliceRows), dir, k = 16, iters = euclidBuildIters)
    (1 to increments).foreach(i => graft.rec.IvfIndex.append(
      spark, e.where(col("vec_id") >= i * sliceRows &&
        col("vec_id") < (i + 1) * sliceRows), dir))

    val probes = e.where(col("vec_id") < 10)
    def probeMedianMs(idxDir: String): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        graft.rec.IvfIndex.probe(spark, idxDir, probes, nprobe = 2, topK = 3)
          .collect()
        (System.nanoTime() - t0) / 1e6
      }
      once() // warmup: JIT + centroid read
      val xs = Vector.fill(reps)(once()).sorted
      // true median for even rep counts too (the env knob allows them)
      if (reps % 2 == 1) xs(reps / 2)
      else (xs(reps / 2 - 1) + xs(reps / 2)) / 2.0
    }

    val filesBefore = dataFiles(cells)
    val msBefore = probeMedianMs(dir)
    val t0 = System.nanoTime()
    val stats = graft.rec.IvfIndex.compact(spark, dir, maxFilesPerCell = 4)
    val compactMs = (System.nanoTime() - t0) / 1e6
    val filesAfter = dataFiles(cells)
    val msAfter = probeMedianMs(dir)

    // retrain arm: quantizer re-trained on the FULL grown corpus, index
    // rebuilt from scratch — the alternative growth policy to
    // compact-under-a-frozen-quantizer
    val dir2 = java.nio.file.Files.createTempDirectory("graft-ivf-rebuild").toString
    val t1 = System.nanoTime()
    graft.rec.IvfIndex.build(e, dir2, k = 16, iters = euclidBuildIters)
    val rebuildMs = (System.nanoTime() - t1) / 1e6
    val msRetrained = probeMedianMs(dir2)
    val gain = msAfter - msRetrained
    val breakeven = if (gain > 0) math.round(rebuildMs / gain) else -1L

    // RESIZE arm (r16, VERDICT r15 item 4): the retrain arm re-fits at
    // the SAME K, and measured that it never pays; §8.11's committed
    // policy — "rebuild only to RESIZE, nlist ≈ √N at corpus doublings"
    // — was extrapolated from the streaming serve's catalog sweep. This
    // arm measures it on the index itself: rebuild on the full grown
    // corpus with K' = ceil(√rows) (FAISS's sizing rule; 16 → ~45 at
    // 1×, ~142 at 10×) and probe — the frozen-vs-resized probe gap is
    // the number the growth policy rests on.
    val resizedK = math.max(16, math.ceil(math.sqrt(total.toDouble)).toInt)
    val dir3 = java.nio.file.Files.createTempDirectory("graft-ivf-resize").toString
    val t1b = System.nanoTime()
    graft.rec.IvfIndex.build(e, dir3, k = resizedK, iters = euclidBuildIters)
    val rebuildResizedMs = (System.nanoTime() - t1b) / 1e6
    val msResized = probeMedianMs(dir3)
    val gainResized = msAfter - msResized
    val breakevenResized =
      if (gainResized > 0) math.round(rebuildResizedMs / gainResized) else -1L

    // ---- the same lifecycle for the COMPOSED index (IVF-PQ) ----
    // The retrain question is sharpest here: the r14/r15 scale benches
    // measured the PQ-family probes drifting most under frozen
    // quantizers (PQ 1.39–1.72×, IVF-PQ 1.16–1.24× at 10× candidates vs
    // IVF's ~1.0×) because BOTH the coarse cells and the per-subspace
    // codebooks were fit on the day-0 distribution. Same protocol:
    // build on the first slice, N frozen appends, probe / compact /
    // probe, then retrain-and-rebuild on the full corpus and probe.
    val pqDir = java.nio.file.Files.createTempDirectory("graft-ivfpq-bench").toString
    val pqCells = new java.io.File(s"$pqDir/codes")
    graft.rec.IvfPqIndex.build(e.where(col("vec_id") < sliceRows), pqDir)
    (1 to increments).foreach(i => graft.rec.IvfPqIndex.append(
      spark, e.where(col("vec_id") >= i * sliceRows &&
        col("vec_id") < (i + 1) * sliceRows), pqDir))
    def pqProbeMedianMs(idxDir: String): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        graft.rec.IvfPqIndex.probe(spark, idxDir, probes, e).collect()
        (System.nanoTime() - t0) / 1e6
      }
      once()
      val xs = Vector.fill(reps)(once()).sorted
      if (reps % 2 == 1) xs(reps / 2)
      else (xs(reps / 2 - 1) + xs(reps / 2)) / 2.0
    }
    val pqFilesBefore = dataFiles(pqCells)
    val pqMsBefore = pqProbeMedianMs(pqDir)
    val t2 = System.nanoTime()
    val pqStats = graft.rec.IvfPqIndex.compact(spark, pqDir, maxFilesPerCell = 4)
    val pqCompactMs = (System.nanoTime() - t2) / 1e6
    val pqFilesAfter = dataFiles(pqCells)
    val pqMsAfter = pqProbeMedianMs(pqDir)
    val pqDir2 = java.nio.file.Files.createTempDirectory("graft-ivfpq-rebuild").toString
    val t3 = System.nanoTime()
    graft.rec.IvfPqIndex.build(e, pqDir2)
    val pqRebuildMs = (System.nanoTime() - t3) / 1e6
    val pqMsRetrained = pqProbeMedianMs(pqDir2)
    val pqGain = pqMsAfter - pqMsRetrained
    val pqBreakeven = if (pqGain > 0) math.round(pqRebuildMs / pqGain) else -1L
    // resize arm for the composed index: only the COARSE quantizer
    // resizes (nlist ≈ √N — cell population is what drifts with corpus
    // growth); the per-subspace codebooks stay at their fixed 256-code
    // budget, which corpus size does not change
    val pqDir3 = java.nio.file.Files.createTempDirectory("graft-ivfpq-resize").toString
    val t3b = System.nanoTime()
    graft.rec.IvfPqIndex.build(e, pqDir3, ivfK = resizedK)
    val pqRebuildResizedMs = (System.nanoTime() - t3b) / 1e6
    val pqMsResized = pqProbeMedianMs(pqDir3)
    val pqGainResized = pqMsAfter - pqMsResized
    val pqBreakevenResized =
      if (pqGainResized > 0) math.round(pqRebuildResizedMs / pqGainResized)
      else -1L

    // ---- the same lifecycle for the COSINE (buildLarge) index ----
    // (r18, VERDICT r17 item 5: the serve's unified lifecycle — sampled
    // seeded MLlib fit + one-pass NearestCells assignment + appendLarge
    // increments + the shared compact — priced where it is claimed.)
    // NOTE (ADVICE r18): the cosine build runs buildLarge's production
    // default of 20 Lloyd iterations, NOT the Euclidean arms' iters=3 —
    // K matches (16) but iteration budget deliberately does not: the
    // sampled MLlib fit makes extra rounds corpus-size-free (the arm's
    // own 1×/10× flat ~2.3 s build is the evidence), while the
    // relational Lloyd arms pay per-corpus-scan per round. The JSON
    // carries both budgets so readers compare like with like.
    val cosBuildIters = 20
    val cosDir = java.nio.file.Files.createTempDirectory("graft-cos-bench").toString
    val cosCells = new java.io.File(s"$cosDir/cells")
    val t4 = System.nanoTime()
    graft.rec.IvfIndex.buildLarge(
      e.where(col("vec_id") < sliceRows), cosDir, k = 16, iters = cosBuildIters)
    val cosBuildMs = (System.nanoTime() - t4) / 1e6
    (1 to increments).foreach(i => graft.rec.IvfIndex.appendLarge(
      spark, e.where(col("vec_id") >= i * sliceRows &&
        col("vec_id") < (i + 1) * sliceRows), cosDir))
    val cosCent = spark.read.parquet(s"$cosDir/centroids").cache()
    cosCent.count()
    val cosProbes = probes
      .select(col("vec_id").cast("int").as("userId"), col("emb").as("interest"))
      .cache()
    cosProbes.count()
    def cosProbeMedianMs(): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        graft.stream.StreamOps.topNForUsersAnnPartitioned(cosProbes, cosCent,
          graft.stream.StreamOps.readServeCells(spark, cosDir), n = 3)
          .collect()
        (System.nanoTime() - t0) / 1e6
      }
      once()
      val xs = Vector.fill(reps)(once()).sorted
      if (reps % 2 == 1) xs(reps / 2)
      else (xs(reps / 2 - 1) + xs(reps / 2)) / 2.0
    }
    val cosFilesBefore = dataFiles(cosCells)
    val cosMsBefore = cosProbeMedianMs()
    val t5 = System.nanoTime()
    val cosStats = graft.rec.IvfIndex.compact(spark, cosDir, maxFilesPerCell = 4)
    val cosCompactMs = (System.nanoTime() - t5) / 1e6
    val cosFilesAfter = dataFiles(cosCells)
    val cosMsAfter = cosProbeMedianMs()

    println(
      s"""{"metric":"ivf_maintenance","sf_dir":"$sfDir","increments":$increments,""" +
      s""""reps":$reps,"tiles":$tiles,"rows":$total,""" +
      s""""files_before":$filesBefore,"files_after":$filesAfter,""" +
      s""""cells_compacted":${stats.cells_compacted},""" +
      s""""probe_ms_before":${math.round(msBefore)},""" +
      s""""probe_ms_after":${math.round(msAfter)},""" +
      s""""compact_ms":${math.round(compactMs)},""" +
      s""""rebuild_ms":${math.round(rebuildMs)},""" +
      s""""probe_ms_retrained":${math.round(msRetrained)},""" +
      s""""breakeven_probes":$breakeven,""" +
      s""""resized_k":$resizedK,""" +
      s""""rebuild_resized_ms":${math.round(rebuildResizedMs)},""" +
      s""""probe_ms_resized":${math.round(msResized)},""" +
      s""""resized_breakeven_probes":$breakevenResized,""" +
      s""""ivfpq_files_before":$pqFilesBefore,"ivfpq_files_after":$pqFilesAfter,""" +
      s""""ivfpq_cells_compacted":${pqStats.cells_compacted},""" +
      s""""ivfpq_probe_ms_before":${math.round(pqMsBefore)},""" +
      s""""ivfpq_probe_ms_after":${math.round(pqMsAfter)},""" +
      s""""ivfpq_compact_ms":${math.round(pqCompactMs)},""" +
      s""""ivfpq_rebuild_ms":${math.round(pqRebuildMs)},""" +
      s""""ivfpq_probe_ms_retrained":${math.round(pqMsRetrained)},""" +
      s""""ivfpq_breakeven_probes":$pqBreakeven,""" +
      s""""ivfpq_rebuild_resized_ms":${math.round(pqRebuildResizedMs)},""" +
      s""""ivfpq_probe_ms_resized":${math.round(pqMsResized)},""" +
      s""""ivfpq_resized_breakeven_probes":$pqBreakevenResized,""" +
      s""""cos_build_ms":${math.round(cosBuildMs)},""" +
      s""""cos_build_iters":$cosBuildIters,"euclid_build_iters":$euclidBuildIters,""" +
      s""""cos_files_before":$cosFilesBefore,"cos_files_after":$cosFilesAfter,""" +
      s""""cos_cells_compacted":${cosStats.cells_compacted},""" +
      s""""cos_probe_ms_before":${math.round(cosMsBefore)},""" +
      s""""cos_probe_ms_after":${math.round(cosMsAfter)},""" +
      s""""cos_compact_ms":${math.round(cosCompactMs)}}""")
    spark.stop()
  }
}
