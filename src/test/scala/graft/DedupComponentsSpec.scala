package graft

import org.apache.spark.sql.functions._

import graft.queries.TextOps

/** q72 near-dup grouping: the propagated keeper labels must equal TRUE
  * connected components (checked against a driver-side union-find over
  * the same candidate pairs) and must have converged within the unrolled
  * rounds — i.e. the fixed round count is enough for the fixture's
  * component diameters, not just oracle-consistent. */
class DedupComponentsSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.01"

  private def pairs = TextOps.minhashPairs.run(spark, sfDir)
    .where(col("est_jaccard") >= 0.5)
    .select($"a_id", $"b_id").as[(Long, Long)].collect()

  test("q72 keeper labels equal true connected components (union-find check)") {
    val ps = pairs
    assert(ps.nonEmpty, "fixture has no candidate pairs at est>=0.5")
    // driver-side union-find ground truth (fine at fixture scale)
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    ps.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val truth = parent.keys.map(d => d -> find(d)).toMap
    val got = TextOps.dedupComponents.run(spark, sfDir)
      .as[(Long, Long)].collect().toMap
    assert(got.keySet == truth.keySet)
    // find() returns the min doc_id of the component because union always
    // parents the larger root under the smaller
    got.foreach { case (d, k) => assert(k == truth(d), s"doc $d: $k != ${truth(d)}") }
  }

  test("q29 gate: refuses oversized corpora, naming q131 (q21 pattern)") {
    // the fixture (and ScaleBench's 10x-tiled sf0.1, 50k docs) pass...
    TextOps.checkExactPairsScale(50000L)
    // ...a corpus-scale input refuses, and the refusal routes to q131
    val e = intercept[IllegalArgumentException] {
      TextOps.checkExactPairsScale(TextOps.ExactLshPairsMaxDocs + 1)
    }
    assert(e.getMessage.contains("q131_minhash_pairs_bounded"))
    // the gated query itself still runs on the fixture
    assert(TextOps.minhashPairs.run(spark, sfDir).limit(1).count() >= 0)
  }

  test("q72 propagation has converged: one more neighbor-min round is a fixpoint") {
    val got = TextOps.dedupComponents.run(spark, sfDir)
      .select($"doc_id", $"keeper_id").as[(Long, Long)].collect().toMap
    val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    got.foreach { case (d, k) =>
      val nbrMin = (adj.getOrElse(d, Array.empty[Long]).map(got) :+ k).min
      assert(nbrMin == k, s"doc $d would still relabel $k -> $nbrMin")
    }
  }

  test("q72 refuses doc_ids its double-valued labels cannot hold exactly") {
    val ok = TextOps.labelTable(Array(1L, (1L << 53) - 1), Array(1L, 1L))
    assert(ok.size == 2)
    Seq(1L << 53, -(1L << 53), Long.MaxValue).foreach { id =>
      val e = intercept[IllegalArgumentException] {
        TextOps.labelTable(Array(1L, id), Array(1L, 1L))
      }
      assert(e.getMessage.contains("q72_dedup_components"), e.getMessage)
    }
  }

  private def q72(): Unit = {
    spark.catalog.clearCache()
    TextOps.dedupComponents.run(spark, sfDir).collect()
  }

  test("a repeated q72 launches the same jobs, at most 28, and compiles almost no new classes") {
    // relational rounds (two cached jump self-joins, a localCheckpoint
    // and a sum job each) launched 135 jobs here and compiled 82 classes
    // on a repeat. A repeat alone compiles 0; after the other suites it
    // has compiled 2, so the bound leaves room for a few recompiles.
    q72() // the first read of a fixture also lists its files and footers
    val (first, second) = (jobsWhile(q72()), jobsWhile(q72()))
    info(s"q72 at sf0.01: $first jobs, then $second")
    assert(first == second, s"q72 launched $first jobs, then $second")
    assert(first <= 28, s"q72 launched $first jobs")
    val before = org.apache.spark.graft.CodegenCompiles.count
    q72()
    val compiled = org.apache.spark.graft.CodegenCompiles.count - before
    info(s"a repeat compiled $compiled classes")
    assert(compiled <= 4, s"a repeated q72 compiled $compiled classes")
  }
}
