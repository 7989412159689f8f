package graft.rec

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Persistent PQ index: probing the on-disk codes + codebooks must
  * reproduce the in-memory ADC path row for row (parquet round-trips
  * doubles exactly, and every distance is 6dp-rounded before any
  * comparison, so the two paths are the same pure function), and the
  * catalog's q114 must equal q109 — the equality that lets q114 share
  * q109's oracle verbatim.
  */
class PqIndexSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private def vectors = Tables.embeddings(spark, sfDir)
    .select($"vec_id", $"embedding".cast("array<double>").as("emb"))

  test("probe over the persisted index matches the in-memory ADC path") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pq").toString
    PqIndex.build(vectors, dir, s = 4, subDim = 16, k = 8, iters = 2)

    val probes = vectors.where($"vec_id" < 5)
    val got = PqIndex.probe(spark, dir, probes, vectors,
      shortlist = 40, topK = 3)
      .as[(Long, Long, Long, Double)].collect().toSeq

    // in-memory reference: same codebooks, same ADC shortlist + rerank,
    // no persistence
    val cbs = PqIndex.trainCodebooks(vectors, s = 4, subDim = 16,
      k = 8, iters = 2)
    val enc = PqIndex.encode(vectors, cbs)
    val ptab = PqIndex.probeTables(probes, cbs)
    val sl = PqIndex.adcTop(
      enc.join(broadcast(ptab), Seq("sub", "code"))
        .where($"probe_id" =!= $"neighbor_id"),
      limit = 40)
    val expected = PqIndex.rerankTop(sl, vectors, probes, topK = 3)
      .as[(Long, Long, Long, Double)].collect().toSeq

    assert(got.nonEmpty && got == expected)
  }

  test("a probe reads the index's shape from its codebooks (s = 2, subDim = 32)") {
    // the probe takes no subspace count or width: a shape other than
    // the defaults must still score every dimension of each vector
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-shape").toString
    PqIndex.build(vectors, dir, s = 2, subDim = 32, k = 8, iters = 2)
    val probes = vectors.where($"vec_id" < 5)
    val got = PqIndex.probe(spark, dir, probes, vectors)
      .as[(Long, Long, Long, Double)].collect().toSeq

    val cbs = PqIndex.trainCodebooks(vectors, s = 2, subDim = 32,
      k = 8, iters = 2)
    val expected = PqIndex.serve(PqIndex.encode(vectors, cbs), cbs, probes,
        vectors, shortlist = 80, topK = 3)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got.nonEmpty && got == expected)
  }

  test("catalog q114 serves q109's probes from disk with identical results") {
    val fromDisk = graft.SparkEntry.queries("q114_pq_index_probe")(spark, sfDir)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val inMemory = graft.SparkEntry.queries("q109_pq_ann")(spark, sfDir)
      .orderBy($"probe_id", $"rank")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(fromDisk.nonEmpty && fromDisk == inMemory)
  }
}
