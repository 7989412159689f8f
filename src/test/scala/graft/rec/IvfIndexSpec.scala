package graft.rec

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Persistent IVF index: correctness (probe over the parquet-partitioned
  * index equals the in-memory cell join) and the layout property that
  * justifies it — the cells scan is DYNAMICALLY PARTITION-PRUNED by the
  * probe's cid set, so probing touches nprobe/K of the files. */
class IvfIndexSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private def vectors = Tables.embeddings(spark, sfDir)
    .select($"vec_id", $"embedding".cast("array<double>").as("emb"))

  test("probe over the persisted index matches the in-memory cell join") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    IvfIndex.build(vectors, dir, k = 8, iters = 2)

    val probes = vectors.where($"vec_id" < 5)
    val got = IvfIndex.probe(spark, dir, probes, nprobe = 2, topK = 3)
      .as[(Long, Long, Long, Double)].collect().toSeq

    // in-memory reference: same quantizer, same cell join, no persistence
    val cent = Clustering.lloydKMeans(vectors, k = 8, iters = 2).cache()
    val index = Clustering.assignCells(vectors, cent, nprobe = 1)
    val pc = Clustering.assignCells(probes, cent, nprobe = 2)
      .select($"vec_id".as("probe_id"), $"emb".as("pe"), $"cid")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"probe_id").orderBy($"score".desc, $"vec_id")
    val expected = index.join(broadcast(pc), Seq("cid"))
      .where($"probe_id" =!= $"vec_id")
      .withColumn("score",
        graft.expr.GraftFunctions.cosineSimilarity($"pe", $"emb"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where($"rank" <= 3)
      .select($"probe_id", $"vec_id".as("neighbor_id"), $"rank",
        round($"score", 6).as("score"))
      .orderBy($"probe_id", $"rank")
      .as[(Long, Long, Long, Double)].collect().toSeq

    assert(got.nonEmpty && got == expected)
  }

  test("append under the frozen quantizer equals assigning the union in memory") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-app").toString
    IvfIndex.build(vectors.where($"vec_id" % 2 === 0), dir, k = 8, iters = 2)
    IvfIndex.append(spark, vectors.where($"vec_id" % 2 === 1), dir)

    val probes = vectors.where($"vec_id" < 5)
    val got = IvfIndex.probe(spark, dir, probes, nprobe = 2, topK = 3)
      .as[(Long, Long, Long, Double)].collect().toSeq

    // reference: the STORED (half-trained, frozen) quantizer applied to
    // ALL vectors in memory — append must be invisible to the probe
    val cent = spark.read.parquet(s"$dir/centroids").cache()
    val index = Clustering.assignCells(vectors, cent, nprobe = 1)
    val pc = Clustering.assignCells(probes, cent, nprobe = 2)
      .select($"vec_id".as("probe_id"), $"emb".as("pe"), $"cid")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"probe_id").orderBy($"score".desc, $"vec_id")
    val expected = index.join(broadcast(pc), Seq("cid"))
      .where($"probe_id" =!= $"vec_id")
      .withColumn("score",
        graft.expr.GraftFunctions.cosineSimilarity($"pe", $"emb"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where($"rank" <= 3)
      .select($"probe_id", $"vec_id".as("neighbor_id"), $"rank",
        round($"score", 6).as("score"))
      .orderBy($"probe_id", $"rank")
      .as[(Long, Long, Long, Double)].collect().toSeq

    assert(got.nonEmpty && got == expected)
  }

  test("compaction bounds per-cell files without changing probe results") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-cmp").toString
    // three increments fragment every populated cell to >= 2 files
    IvfIndex.build(vectors.where($"vec_id" % 3 === 0), dir, k = 8, iters = 2)
    IvfIndex.append(spark, vectors.where($"vec_id" % 3 === 1), dir)
    IvfIndex.append(spark, vectors.where($"vec_id" % 3 === 2), dir)

    def cellFiles(): Map[String, Set[String]] = {
      val cells = new java.io.File(s"$dir/cells")
      cells.listFiles().filter(f => f.isDirectory && f.getName.startsWith("cid="))
        .map(d => d.getName -> d.listFiles()
          .filter(f => f.isFile && !f.getName.startsWith("_") &&
            !f.getName.startsWith("."))
          .map(f => s"${f.getName}@${f.lastModified}").toSet)
        .toMap
    }
    val probes = vectors.where($"vec_id" < 5)
    val before = IvfIndex.probe(spark, dir, probes, nprobe = 2, topK = 3)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val filesBefore = cellFiles()
    val threshold = 2
    assert(filesBefore.values.exists(_.size > threshold),
      "fixture failed to fragment any cell past the threshold")

    val stats = IvfIndex.compact(spark, dir, maxFilesPerCell = threshold)
    val filesAfter = cellFiles()
    // rewritten exactly the over-threshold cells, each down to one file
    assert(stats.cells_compacted ==
      filesBefore.count(_._2.size > threshold))
    assert(stats.files_after < stats.files_before)
    filesBefore.foreach { case (cell, fb) =>
      if (fb.size > threshold) assert(filesAfter(cell).size == 1)
      else assert(filesAfter(cell) == fb, s"under-threshold $cell was touched")
    }
    // staging dir is gone and probe results are byte-identical
    assert(!new java.io.File(s"$dir/cells/.compacting").exists())
    val after = IvfIndex.probe(spark, dir, probes, nprobe = 2, topK = 3)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(after.nonEmpty && after == before)
    // idempotent: a second pass finds nothing over threshold
    assert(IvfIndex.compact(spark, dir, maxFilesPerCell = threshold) ==
      CompactStats(0, 0, 0))
  }

  test("a crashed swap is recovered: stranded aside cells restored, stale state cleared") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-rec").toString
    IvfIndex.build(vectors.where($"vec_id" % 3 === 0), dir, k = 8, iters = 2)
    IvfIndex.append(spark, vectors.where($"vec_id" % 3 === 1), dir)
    IvfIndex.append(spark, vectors.where($"vec_id" % 3 === 2), dir)
    val probes = vectors.where($"vec_id" < 5)
    val before = IvfIndex.probe(spark, dir, probes, nprobe = 2, topK = 3)
      .as[(Long, Long, Long, Double)].collect().toSeq

    val cells = new java.io.File(s"$dir/cells")
    val live = cells.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cid="))
      .sortBy(_.getName)
    assert(live.length >= 2, "fixture needs at least two populated cells")
    // crash A: a cell was renamed aside and the staged rewrite never
    // landed — the aside holds the ONLY copy of that cell's rows, and a
    // leftover staging dir must not be cleared at its expense
    val victim = live.head
    val aside = new java.io.File(cells, s".old.${victim.getName}")
    assert(victim.renameTo(aside))
    val staging = new java.io.File(cells, ".compacting")
    staging.mkdirs()
    // crash B: the swap completed but the final aside-delete was lost —
    // the live dir wins and the stale aside must be dropped
    val victim2 = live.last
    val staleAside = new java.io.File(cells, s".old.${victim2.getName}")
    staleAside.mkdirs()
    new java.io.FileOutputStream(
      new java.io.File(staleAside, "part-stale.parquet")).close()

    IvfIndex.compact(spark, dir, maxFilesPerCell = 2)

    assert(new java.io.File(cells, victim.getName).exists(),
      "crash-A cell was not restored from its aside copy")
    assert(new java.io.File(cells, victim2.getName).exists())
    assert(cells.listFiles().forall(f =>
      !f.getName.startsWith(".old.") && f.getName != ".compacting"),
      "recovery left aside/staging debris behind")
    val after = IvfIndex.probe(spark, dir, probes, nprobe = 2, topK = 3)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(after.nonEmpty && after == before)
  }

  test("catalog q83 equals q57, row for row") {
    // q83 shares q57's oracle verbatim: serving the persisted index must
    // give the in-memory query's rows exactly
    val fromDisk = graft.SparkEntry.queries("q83_ivf_index_probe")(spark, sfDir)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val inMemory = graft.SparkEntry.queries("q57_ivf_ann")(spark, sfDir)
      .orderBy($"probe_id", $"rank")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(fromDisk.nonEmpty && fromDisk == inMemory)
  }

  test("catalog q83 probes its persisted index through dynamic partition pruning") {
    // the catalog-path twin of the assertion below: the ORACLE row proves
    // q83's results; this proves the layout property on the exact plan the
    // catalog serves (cells scan pruned by the probe's cid set).
    val df = graft.SparkEntry.queries("q83_ivf_index_probe")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"q83's cells scan is not partition-pruned:\n$plan")
  }

  test("the cells scan is dynamically partition-pruned by the probe's cid set") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf2").toString
    IvfIndex.build(vectors, dir, k = 8, iters = 2)
    val df = IvfIndex.probe(spark, dir, vectors.where($"vec_id" < 3),
      nprobe = 1, topK = 3)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"cells scan is not partition-pruned:\n$plan")
  }
}
