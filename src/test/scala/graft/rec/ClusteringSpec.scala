package graft.rec

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Relational Lloyd's k-means: correctness of the unrolled rounds, and
  * that round i reads round i-1's K-row centroid table as a leaf
  * instead of re-executing rounds 1..i-1 (which would make the build
  * O(n·iters²)) or nesting their plans (which doubles the plan text
  * each round).
  */
class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  /** Two tight, well-separated 2-D blobs → k=2 recovers them exactly. */
  private def blobs = {
    val pts =
      (0 until 20).map(i => (i.toLong, Array(0.0 + (i % 5) * 0.01, 0.0))) ++
      (20 until 40).map(i => (i.toLong, Array(10.0 + (i % 5) * 0.01, 10.0)))
    pts.toDF("vec_id", "emb")
  }

  test("lloydKMeans separates two obvious blobs and is deterministic") {
    val cent = Clustering.lloydKMeans(blobs, k = 2, iters = 3)
      .orderBy($"cid").as[(Long, Seq[Double])].collect()
    assert(cent.length == 2)
    // one centroid near (0.02, 0), the other near (10.02, 10)
    val xs = cent.map(_._2.head).sorted
    assert(math.abs(xs(0) - 0.02) < 0.1 && math.abs(xs(1) - 10.02) < 0.1)
    val again = Clustering.lloydKMeans(blobs, k = 2, iters = 3)
      .orderBy($"cid").as[(Long, Seq[Double])].collect()
    assert(cent.toSeq == again.toSeq)
  }

  test("grouped lloydKMeans equals the single-problem lloydKMeans per group") {
    // the PQ build fuses s per-subspace trainings into one grouped plan;
    // per group the result must equal running lloydKMeans on that
    // group's slice alone — same init, same rounds, same argmin
    val grouped = (0 until 3).map(g =>
        blobs.select(lit(g).as("grp"), $"vec_id",
          transform($"emb", v => v + g * 100.0).as("emb")))
      .reduce(_ unionAll _)
    val got = Clustering.lloydKMeans(grouped, k = 2, iters = 3, by = Seq("grp"))
      .orderBy($"grp", $"cid")
      .as[(Int, Long, Seq[Double])].collect().toSeq
    val want = (0 until 3).flatMap { g =>
      Clustering.lloydKMeans(
        blobs.select($"vec_id", transform($"emb", v => v + g * 100.0).as("emb")),
        k = 2, iters = 3)
        .orderBy($"cid").as[(Long, Seq[Double])].collect()
        .map { case (cid, c) => (g, cid, c) }
    }
    // same groups/cids/assignments; centroid coords equal to within the
    // aggregation-order ulp tolerance the 6dp distance rounding absorbs
    assert(got.nonEmpty && got.map(t => (t._1, t._2)) == want.map(t => (t._1, t._2)))
    got.zip(want).foreach { case ((_, _, a), (_, _, b)) =>
      assert(a.size == b.size &&
        a.zip(b).forall { case (x, y) => math.abs(x - y) < 1e-9 })
    }
  }

  test("lloydKMeans seeds from the k lowest ACTUAL ids — sparse/offset id spaces get full-k seeding") {
    // ADVICE r14: the old `vec_id < k` init seeded ZERO centroids for a
    // catalog whose ids start above k (e.g. a real item catalog fed to
    // StreamOps.buildServeIndex). Shifted ids must behave exactly like
    // dense ids: same blobs, same k centroids, same separation.
    val shifted = blobs.select(($"vec_id" + 1000000L).as("vec_id"), $"emb")
    val cent = Clustering.lloydKMeans(shifted, k = 2, iters = 3)
      .as[(Long, Seq[Double])].collect()
    assert(cent.length == 2, s"sparse-id seeding collapsed to ${cent.length} centroids")
    val xs = cent.map(_._2.head).sorted
    assert(math.abs(xs(0) - 0.02) < 0.1 && math.abs(xs(1) - 10.02) < 0.1)
    // grouped form, same property per group
    val g = Clustering.lloydKMeans(
      shifted.select(lit(0).as("grp"), $"vec_id", $"emb"), k = 2, iters = 3,
      by = Seq("grp"))
    assert(g.count() == 2)
  }

  test("each round reads the previous round's cached centroids (O(n·iters), not O(n·iters²))") {
    // iters=10: without per-round materialization this plan re-executes
    // round i-1 inside round i (quadratic re-scan); the final round is
    // cached, so its plan must read centroids from an InMemoryTableScan.
    val cent = Clustering.lloydKMeans(blobs, k = 2, iters = 10)
    assert(cent.count() == 2)
    val p = cent.queryExecution.executedPlan.toString
    assert(p.contains("InMemoryTableScan"),
      s"round-10 plan does not read cached centroids:\n$p")
  }

  test("the plan stays the same size in rounds: each round reads the last as a leaf") {
    // a round whose plan nests every earlier round's doubles the plan
    // text each round; every action prints that text, and at K=64 and
    // 20 rounds the string alone exhausts the driver heap
    val vectors = spark.range(400).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 7), j -> sin(CAST(id * 13 + j AS DOUBLE)))")
        .as("emb"))
    /** The plan text an action on the centroid table prints, once run. */
    def planChars(iters: Int): Int = {
      val cent = Clustering.lloydKMeans(vectors, k = 4, iters)
      assert(cent.count() == 4)
      cent.queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
        .length
    }
    val (two, ten) = (planChars(2), planChars(10))
    info(s"plan text: $two chars at 2 rounds, $ten chars at 10 rounds")
    assert(ten <= 2 * two, s"plan text grows with rounds: $two -> $ten chars")
  }

  test("assignCells nprobe=1 and nprobe=2 agree on the nearest cell") {
    val cent = Clustering.lloydKMeans(blobs, k = 2, iters = 2).cache()
    val one = Clustering.assignCells(blobs, cent, nprobe = 1)
      .select($"vec_id", $"cid").as[(Long, Long)].collect().toMap
    val two = Clustering.assignCells(blobs, cent, nprobe = 2)
    // nprobe=2 returns 2 rows per vector; its nearest (first by dist) must
    // include the nprobe=1 cell
    val twoCells = two.select($"vec_id", $"cid").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    one.foreach { case (v, c) => assert(twoCells(v).contains(c)) }
  }
}
