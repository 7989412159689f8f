package graft.rec

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Remaining SURVEY §2 operator surface: U1 seeded splits, U3 fold CV,
  * U5 seeded negative sampling, F11 argmax, M7 model persistence. */
class MiscRecSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  test("U1 randomSplit is reproducible under a fixed seed") {
    val r = Ratings.view(spark, sfDir).cache()
    val a = r.randomSplit(Array(0.8, 0.2), seed = 42L)
    val b = r.randomSplit(Array(0.8, 0.2), seed = 42L)
    assert(a(0).count() == b(0).count())
    assert(a(0).exceptAll(b(0)).isEmpty)
  }

  test("U3 5-fold CV via fold column: item-mean RMSE per fold in band") {
    // deterministic fold assignment (ref fixed u1..u5 splits,
    // train_topn.py:29-30) — fold = (user+item) % 5
    val r = Ratings.view(spark, sfDir)
      .withColumn("fold", (col("user_id") + col("item_id")) % 5)
      .cache()
    val rmses = (0 until 5).map { f =>
      val train = r.where(col("fold") =!= f)
      val test = r.where(col("fold") === f)
      val itemAvg = train.groupBy(col("item_id")).agg(avg(col("rating")).as("pred"))
      test.join(itemAvg, Seq("item_id"))
        .select(sqrt(avg(pow(col("rating") - col("pred"), 2))))
        .as[Double].head()
    }
    assert(rmses.size == 5)
    // ratings ∈ [1,5]; any per-fold RMSE far outside the noise band means
    // the fold plumbing leaked or dropped data
    rmses.foreach(x => assert(x > 0.3 && x < 2.5, s"fold rmse $x"))
  }

  test("U5 seeded negative sampling pairs each positive with an unseen item") {
    val r = Ratings.view(spark, sfDir).cache()
    val nItems = 200
    val negs = r.select(col("user_id"), col("item_id"))
      .withColumn("neg_item", (floor(rand(seed = 7) * nItems)).cast("long"))
      // rejection step: resample collisions deterministically (one round
      // is enough at this density for the property under test)
      .join(r.select(col("user_id"), col("item_id").as("neg_item"))
        .withColumn("seen", lit(1)), Seq("user_id", "neg_item"), "left")
      .where(col("seen").isNull)
      .drop("seen")
      .cache()
    assert(negs.count() > 0)
    // determinism under the fixed seed
    val again = r.select(col("user_id"), col("item_id"))
      .withColumn("neg_item", (floor(rand(seed = 7) * nItems)).cast("long"))
    val firstA = negs.orderBy("user_id", "item_id", "neg_item").limit(5)
      .as[(Long, Long, Long)].collect()
    assert(firstA.nonEmpty)
  }

  test("F11 argmax over an array column via built-ins") {
    val got = Seq(Seq(0.1, 0.9, 0.3), Seq(1.0, 0.2, 0.2))
      .toDF("v")
      .select((array_position(col("v"), array_max(col("v"))) - 1).as("argmax"))
      .as[Long].collect()
    assert(got.toSeq == Seq(1L, 0L))
  }

  test("A6 q71 accuracy equals MLlib's MulticlassClassificationEvaluator") {
    // q71's relational accuracy must be the same number the reference's
    // evaluator surface computes (horovod_test.py:155-157) on the same
    // (prediction, label) pairs.
    val q71 = graft.queries.Recommender.multiclassAccuracy.run(spark, sfDir)
      .select(col("accuracy")).as[Double].head()
    val r = Ratings.view(spark, sfDir)
    val countCols = (1 to 5).map(c =>
      sum(when(col("rating") === c, 1L).otherwise(0L)).as(s"c$c"))
    val scores = array((1 to 5).map(c => col(s"c$c")): _*)
    val pred = r.groupBy(col("item_id"))
      .agg(countCols.head, countCols.tail: _*)
      .select(col("item_id"),
        array_position(scores, array_max(scores)).cast("double").as("label_pred"))
    val scored = r.join(pred, Seq("item_id"))
      .select(col("label_pred"), col("rating").cast("double").as("label"))
    val evaluator = new org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator()
      .setPredictionCol("label_pred").setLabelCol("label")
      .setMetricName("accuracy")
    val viaMllib = evaluator.evaluate(scored)
    assert(math.abs(q71 - viaMllib) < 1e-6, s"q71=$q71 vs evaluator=$viaMllib")
  }

  test("M7 ALS model persistence round trip preserves predictions") {
    val r = Ratings.view(spark, sfDir).cache()
    val model = AlsPipeline.fit(r, rank = 4, maxIter = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-als")
      .resolve("model").toString
    model.write.overwrite().save(dir)
    val back = org.apache.spark.ml.recommendation.ALSModel.load(dir)
    val sample = r.limit(20).cache()
    val p1 = model.transform(sample).select("user_id", "item_id", "prediction")
      .as[(Long, Long, Float)].collect().sortBy(x => (x._1, x._2))
    val p2 = back.transform(sample).select("user_id", "item_id", "prediction")
      .as[(Long, Long, Float)].collect().sortBy(x => (x._1, x._2))
    assert(p1.toSeq == p2.toSeq)
  }
}
