package graft.rec

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}
import graft.queries.Recommender

/** Item-CF (q32): the degree cap must be a no-op on uniform data and
  * bound power users deterministically; the row-wise sparse product
  * ([[ItemPairs.coRatings]]: item-sorted tails keyed by lead item, one
  * partner map per lead) must count exactly the co-ratings of a nested
  * loop; and a repeated q32 must run the same jobs and reuse its
  * generated classes.
  */
class ItemCfSpec extends SparkSpec {
  import spark.implicits._

  test("degree cap is the identity when every user is under the cap") {
    val r = (for (u <- 1L to 20L; i <- 1L to 10L)
      yield (u, i * u % 37, 1.0 + (u + i) % 5)).distinct
      .toDF("user_id", "item_id", "rating")
    val capped = Ratings.capped(r, 64)
    assert(capped.count() == r.count())
    assert(capped.except(r).count() == 0L && r.except(capped).count() == 0L)
  }

  test("degree cap keeps exactly the top-cap ratings of a power user") {
    val power = (1L to 200L).map(i => (1L, i, 1.0 + (i % 5).toDouble))
    val normal = (1L to 10L).map(i => (2L, i, 3.0))
    val r = (power ++ normal).toDF("user_id", "item_id", "rating")
    val capped = Ratings.capped(r, 64).cache()
    val byUser = capped.groupBy($"user_id").count().as[(Long, Long)]
      .collect().toMap
    assert(byUser(1L) == 64L, s"power user kept ${byUser(1L)} rows")
    assert(byUser(2L) == 10L)
    // kept set = top by (rating desc, item_id asc): all rating-5s and
    // rating-4s (40 each), then the 24 smallest item_ids among rating-3s
    val kept = capped.where($"user_id" === 1L)
      .select($"item_id", $"rating").as[(Long, Double)].collect()
    val expected = power.sortBy { case (_, i, rt) => (-rt, i) }.take(64)
      .map { case (_, i, rt) => (i, rt) }.toSet
    assert(kept.toSet == expected)
  }

  test("sparse-product co-ratings equal a nested loop over the capped ratings") {
    // Seeded ratings with a power user above the cap, a one-rating user
    // (empty tail), fractional ratings (averaged duplicate lines of
    // Ratings.view) and many ties (the cap's order breaks them by item).
    val cap = Recommender.DegreeCap
    val rng = new scala.util.Random(32)
    val values = Seq(1.0, 1.5, 2.0, 7.0 / 3, 2.5, 3.0, 10.0 / 3, 4.0, 4.5, 5.0)
    def ratings(user: Long, degree: Int): Seq[(Long, Long, Double)] =
      rng.shuffle((1L to 150L).toList).take(degree)
        .map(i => (user, i, values(rng.nextInt(values.size))))
    val rows = ratings(1L, 120) ++ ratings(2L, 1) ++
      (3L to 60L).flatMap(u => ratings(u, 2 + rng.nextInt(30)))
    val r = rows.toDF("user_id", "item_id", "rating")

    val kept = rows.groupBy(_._1).values
      .map(_.sortBy { case (_, i, rt) => (-rt, i) }.take(cap)
        .map { case (_, i, rt) => (i, rt) }.sortBy(_._1))
    assert(kept.map(_.size).max == cap && kept.map(_.size).min == 1)
    val expected = kept.toSeq
      .flatMap(xs => for (a <- xs.indices; b <- a + 1 until xs.size)
        yield ((xs(a)._1, xs(b)._1), xs(a)._2 * xs(b)._2))
      .groupMapReduce(_._1)(p => (p._2, 1L)) { case ((d1, n1), (d2, n2)) => (d1 + d2, n1 + n2) }

    val capped = Ratings.capped(r, cap).cache()
    Seq(1, Recommender.MinCommon).foreach { minCommon =>
      val got = ItemPairs.coRatings(capped, minCommon)
        .select($"i", $"j", $"dot", $"n_common").as[(Long, Long, Double, Long)]
        .collect().map { case (i, j, dot, n) => (i, j) -> (dot, n) }
      val want = expected.filter(_._2._2 >= minCommon)
      assert(got.length == got.toMap.size, s"minCommon=$minCommon: a pair is emitted twice")
      assert(got.toMap.keySet == want.keySet,
        s"minCommon=$minCommon: pairs differ by ${(got.toMap.keySet diff want.keySet).take(5)}" +
          s" / ${(want.keySet diff got.toMap.keySet).take(5)}")
      got.foreach { case (ij, (dot, n)) =>
        val (wantDot, wantN) = want(ij)
        assert(n == wantN, s"$ij: n_common $n, nested loop $wantN")
        assert(math.abs(dot - wantDot) <= 1e-9, s"$ij: dot $dot, nested loop $wantDot")
      }
      info(s"minCommon=$minCommon: ${got.length} pairs")
    }
    assert(expected.count(_._2._2 >= Recommender.MinCommon) > 0)
    capped.unpersist()
  }

  private val sf = "/root/testdata/sf0.01"

  private def q32(): Unit = {
    spark.catalog.clearCache()
    SparkEntry.queries("q32_item_cf")(spark, sf).collect()
  }

  test("a repeated q32 launches the same number of jobs, at most 14") {
    q32() // the first read of a fixture also lists its files and footers
    val (first, second) = (jobsWhile(q32()), jobsWhile(q32()))
    info(s"q32 at sf0.01: $first jobs, then $second")
    assert(first == second, s"q32 launched $first jobs, then $second")
    assert(first <= 14, s"q32 launched $first jobs")
  }

  test("a repeated q32 compiles no new classes") {
    q32()
    val before = org.apache.spark.graft.CodegenCompiles.count
    q32()
    val compiled = org.apache.spark.graft.CodegenCompiles.count - before
    assert(compiled == 0, s"a repeated q32 compiled $compiled classes")
  }
}
