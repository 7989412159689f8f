package graft.rec

import org.apache.spark.sql.functions._

import graft.SparkSpec

class GraphPropagationSpec extends SparkSpec {
  import spark.implicits._

  test("one layer on a tiny graph matches the hand-computed closed form") {
    // bipartite graph: u1–{i1,i2}, u2–{i2}; d_u1=2, d_u2=1, d_i1=1, d_i2=2
    val ratings = Seq((1, 1, 1.0), (1, 2, 1.0), (2, 2, 1.0))
      .toDF("user_id", "item_id", "rating")
    val e0 = Seq((1, Seq(1.0)), (2, Seq(3.0))).toDF("item_id", "val")
    val got = GraphPropagation.propagate(ratings, e0, width = 1, layers = 1)
      .orderBy("item_id").as[(Int, Seq[Double])].collect()

    // w(u1,i1)=1/√2, w(u1,i2)=1/2, w(u2,i2)=1/√2
    val w11 = 1 / math.sqrt(2); val w12 = 0.5; val w22 = 1 / math.sqrt(2)
    val u1 = w11 * 1.0 + w12 * 3.0     // user embeddings after item→user
    val u2 = w22 * 3.0
    val i1l1 = w11 * u1                 // items after user→item
    val i2l1 = w12 * u1 + w22 * u2
    val expected = Map(1 -> (1.0 + i1l1) / 2, 2 -> (3.0 + i2l1) / 2)
    got.foreach { case (item, vs) =>
      assert(vs.length == 1)
      assert(math.abs(vs.head - expected(item)) < 1e-12, s"item $item: $vs")
    }
  }

  test("K layers run on fixture ratings and keep all items and dimensions") {
    val r = Ratings.view(spark, "/root/testdata/sf0.001").cache()
    val e0 = r.groupBy(col("item_id"))
      .agg(array(avg(col("rating")), count(lit(1)).cast("double")).as("val"))
    val out = GraphPropagation.propagate(r, e0, width = 2, layers = 2).cache()
    val nItems = r.select("item_id").distinct().count()
    assert(out.select("item_id").distinct().count() == nItems)
    assert(out.agg(min(size(col("val"))), max(size(col("val")))).head() ==
      org.apache.spark.sql.Row(2, 2))
    assert(out.where(exists(col("val"), v => v.isNull || isnan(v))).isEmpty)
  }
}
