package graft.rec

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Persistent IVF-PQ index: probing the cid-partitioned codes +
  * codebooks on disk must reproduce the in-memory composed path row for
  * row (the equality that lets q116 share q111's oracle verbatim), and
  * the layout must deliver BOTH prunings — the codes scan is
  * dynamically partition-pruned by the probe's cid set, and the pruned
  * rows carry code ids, never raw vectors.
  */
class IvfPqIndexSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private def vectors = Tables.embeddings(spark, sfDir)
    .select($"vec_id", $"embedding".cast("array<double>").as("emb"))

  test("probe over the persisted index matches the in-memory composed path") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    IvfPqIndex.build(vectors, dir, ivfK = 8, ivfIters = 2,
      s = 4, subDim = 16, k = 8, iters = 2)

    val probes = vectors.where($"vec_id" < 5)
    val got = IvfPqIndex.probe(spark, dir, probes, vectors, nprobe = 2,
      shortlist = 40, topK = 3)
      .as[(Long, Long, Long, Double)].collect().toSeq

    // in-memory reference: same coarse quantizer, same codebooks, same
    // candidate cells, same ADC shortlist + rerank, no persistence
    val cent = Clustering.lloydKMeans(vectors, k = 8, iters = 2).cache()
    val cells = Clustering.assignCells(vectors, cent, nprobe = 1)
      .select($"vec_id".as("neighbor_id"), $"cid")
    val probeCells = Clustering.assignCells(probes, cent, nprobe = 2)
      .select($"vec_id".as("probe_id"), $"cid")
    val cand = cells.join(broadcast(probeCells), Seq("cid"))
      .where($"probe_id" =!= $"neighbor_id")
      .select($"probe_id", $"neighbor_id")
    val cbs = PqIndex.trainCodebooks(vectors, s = 4, subDim = 16,
      k = 8, iters = 2)
    val enc = PqIndex.encode(vectors, cbs)
    val ptab = PqIndex.probeTables(probes, cbs)
    val sl = PqIndex.adcTop(
      cand.join(enc, Seq("neighbor_id"))
        .join(broadcast(ptab), Seq("probe_id", "sub", "code")),
      limit = 40)
    val expected = PqIndex.rerankTop(sl, vectors, probes, topK = 3)
      .as[(Long, Long, Long, Double)].collect().toSeq

    assert(got.nonEmpty && got == expected)
  }

  test("a probe reads the index's shape from its codebooks (s = 2, subDim = 32)") {
    // neither probe nor append takes a subspace count or width: a shape
    // other than the defaults must still score every dimension
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-shape").toString
    IvfPqIndex.build(vectors.where($"vec_id" % 2 === 0), dir, ivfK = 8,
      ivfIters = 2, s = 2, subDim = 32, k = 8, iters = 2)
    IvfPqIndex.append(spark, vectors.where($"vec_id" % 2 === 1), dir)
    val probes = vectors.where($"vec_id" < 5)
    val got = IvfPqIndex.probe(spark, dir, probes, vectors)
      .as[(Long, Long, Long, Double)].collect().toSeq

    // the index's in-memory serve: its stored quantizers over all vectors
    val cent = spark.read.parquet(s"$dir/centroids")
    val cbs = spark.read.parquet(s"$dir/codebooks")
    val expected = IvfPqIndex.serve(IvfPqIndex.cellCodes(vectors, cent, cbs),
        cent, cbs, probes, vectors, nprobe = 2, shortlist = 40, topK = 3)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got.nonEmpty && got == expected)
  }

  test("catalog q116 serves q111's probes from disk with identical results") {
    val fromDisk = graft.SparkEntry.queries("q116_ivfpq_index_probe")(spark, sfDir)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val inMemory = graft.SparkEntry.queries("q111_ivfpq_ann")(spark, sfDir)
      .orderBy($"probe_id", $"rank")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(fromDisk.nonEmpty && fromDisk == inMemory)
  }

  test("append under the frozen quantizers equals encoding the union in memory") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-app").toString
    IvfPqIndex.build(vectors.where($"vec_id" % 2 === 0), dir, ivfK = 8,
      ivfIters = 2, s = 4, subDim = 16, k = 8, iters = 2)
    IvfPqIndex.append(spark, vectors.where($"vec_id" % 2 === 1), dir)

    val probes = vectors.where($"vec_id" < 5)
    val got = IvfPqIndex.probe(spark, dir, probes, vectors, nprobe = 2,
      shortlist = 40, topK = 3)
      .as[(Long, Long, Long, Double)].collect().toSeq

    // reference: BOTH stored (half-trained, frozen) quantizers applied
    // to ALL vectors in memory — append must be invisible to the probe
    val cent = spark.read.parquet(s"$dir/centroids").cache()
    val cbs = spark.read.parquet(s"$dir/codebooks").cache()
    val cells = Clustering.assignCells(vectors, cent, nprobe = 1)
      .select($"vec_id".as("neighbor_id"), $"cid")
    val probeCells = Clustering.assignCells(probes, cent, nprobe = 2)
      .select($"vec_id".as("probe_id"), $"cid")
    val cand = cells.join(broadcast(probeCells), Seq("cid"))
      .where($"probe_id" =!= $"neighbor_id")
      .select($"probe_id", $"neighbor_id")
    val enc = PqIndex.encode(vectors, cbs)
    val ptab = PqIndex.probeTables(probes, cbs)
    val sl = PqIndex.adcTop(
      cand.join(enc, Seq("neighbor_id"))
        .join(broadcast(ptab), Seq("probe_id", "sub", "code")),
      limit = 40)
    val expected = PqIndex.rerankTop(sl, vectors, probes, topK = 3)
      .as[(Long, Long, Long, Double)].collect().toSeq

    assert(got.nonEmpty && got == expected)
  }

  test("compaction bounds per-cell code files without changing probe results") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-cmp").toString
    IvfPqIndex.build(vectors.where($"vec_id" % 3 === 0), dir, ivfK = 8,
      ivfIters = 2, s = 4, subDim = 16, k = 8, iters = 2)
    IvfPqIndex.append(spark, vectors.where($"vec_id" % 3 === 1), dir)
    IvfPqIndex.append(spark, vectors.where($"vec_id" % 3 === 2), dir)

    def fileCounts(): Map[String, Int] = {
      val codes = new java.io.File(s"$dir/codes")
      codes.listFiles().filter(f => f.isDirectory && f.getName.startsWith("cid="))
        .map(d => d.getName -> d.listFiles()
          .count(f => f.isFile && !f.getName.startsWith("_") &&
            !f.getName.startsWith(".")))
        .toMap
    }
    val probes = vectors.where($"vec_id" < 5)
    val before = IvfPqIndex.probe(spark, dir, probes, vectors, nprobe = 2,
      shortlist = 40, topK = 3)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val countsBefore = fileCounts()
    assert(countsBefore.values.exists(_ > 1),
      "fixture failed to fragment any cell")

    val stats = IvfPqIndex.compact(spark, dir, maxFilesPerCell = 1)
    assert(stats.cells_compacted == countsBefore.count(_._2 > 1))
    assert(stats.files_after < stats.files_before)
    assert(fileCounts().values.forall(_ <= 1))
    val after = IvfPqIndex.probe(spark, dir, probes, vectors, nprobe = 2,
      shortlist = 40, topK = 3)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(after.nonEmpty && after == before)
  }

  test("the codes scan is dynamically partition-pruned by the probe's cid set") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq2").toString
    IvfPqIndex.build(vectors, dir, ivfK = 8, ivfIters = 2,
      s = 4, subDim = 16, k = 8, iters = 2)
    val df = IvfPqIndex.probe(spark, dir, vectors.where($"vec_id" < 3),
      vectors, nprobe = 1, shortlist = 40, topK = 3)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"codes scan is not partition-pruned:\n$plan")
  }
}
