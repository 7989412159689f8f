package graft.stream

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.expr.{GraftFunctions, TopKPairs}

/** The exact serve ([[StreamOps.topNForUsers]]) against its contract:
  * every case must return the rows, scores equal bit for bit, of the
  * users × catalog cross join ranked by the bounded [[TopKPairs]]
  * aggregate (the form the plan-carried [[graft.expr.CosineTopN]]
  * projection replaces under [[StreamOps.PlanMatrixBytes]] and keeps
  * above it), copied here as the reference. */
class ExactServeSpec extends SparkSpec {

  /** The cross-join + TopKPairs ranking, as the serve ran it before the
    * carried-matrix projection. */
  private def crossJoinServe(interests: DataFrame, items: DataFrame,
                             n: Int): DataFrame = {
    GraftFunctions.register(spark)
    interests.crossJoin(broadcast(items))
      .withColumn("score",
        GraftFunctions.cosineSimilarity(col("interest"), col("features")))
      .where(col("score").isNotNull)
      .groupBy(col("userId"))
      .agg(TopKPairs.agg(n)(col("score"), col("itemId").cast("long")).as("top"))
      .select(col("userId"), posexplode(col("top")).as(Seq("pos", "pair")))
      .select(col("userId"),
        col("pair._2").cast(items.schema("itemId").dataType).as("itemId"),
        (col("pos") + 1).cast("long").as("rank"),
        col("pair._1").as("score"))
  }

  /** Rows as (userId, itemId, rank, score bits): equal keys mean equal
    * ids, equal ranks and bit-identical scores (NaN included). */
  private def keyed(df: DataFrame): Set[(Long, Long, Long, Long)] =
    df.select(col("userId").cast("long"), col("itemId").cast("long"),
        col("rank"), col("score")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet

  private def assertSameServe(interests: DataFrame, items: DataFrame,
                              n: Int): Set[(Long, Long, Long, Long)] = {
    val got = keyed(StreamOps.topNForUsers(interests, items, n))
    val want = keyed(crossJoinServe(interests, items, n))
    assert(got == want,
      s"serve != cross-join ranking: extra ${(got -- want).take(5)}, " +
        s"missing ${(want -- got).take(5)}")
    got
  }

  private def vectors(rows: Seq[(Int, Array[Double])], id: String,
                      vec: String): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (i, v) => Row(i, v) }: _*),
      StructType(Seq(StructField(id, IntegerType),
        StructField(vec, ArrayType(DoubleType)))))

  private val catalog = vectors(Seq(
    1 -> Array(1.0, 0.0, 0.0), 2 -> Array(0.0, 1.0, 0.0),
    3 -> Array(0.0, 0.0, 1.0), 4 -> Array(1.0, 1.0, 0.0),
    5 -> Array(2.0, 2.0, 0.0), 6 -> Array(1.0, 1.0, 0.0),
    7 -> Array(0.5, 0.25, 0.125)), "itemId", "features")

  test("ties rank by itemId ascending, cut inside the tie") {
    // items 4, 5 and 6 are parallel: equal cosines for every vector
    val users = vectors(Seq(10 -> Array(1.0, 1.0, 0.0),
      11 -> Array(0.3, 0.3, 0.9)), "userId", "interest")
    for (n <- 1 to 4) assertSameServe(users, catalog, n)
    val top2 = keyed(StreamOps.topNForUsers(
      users.where(col("userId") === 10), catalog, 2))
    assert(top2.map(r => (r._2, r._3)) == Set((4L, 1L), (5L, 2L)))
  }

  test("a NaN element ranks largest, in the vector or in an item") {
    val users = vectors(Seq(10 -> Array(Double.NaN, 1.0, 0.0),
      11 -> Array(1.0, 0.5, 0.0)), "userId", "interest")
    val items = catalog.union(vectors(Seq(8 -> Array(0.0, Double.NaN, 1.0)),
      "itemId", "features"))
    val got = assertSameServe(users, items, 3)
    // user 11: the NaN item outranks every real cosine
    assert(got.exists(r => r._1 == 11L && r._2 == 8L && r._3 == 1L))
  }

  test("zero and null interest vectors serve nothing") {
    val users = vectors(Seq(10 -> Array(0.0, 0.0, 0.0), 11 -> null,
      12 -> Array(0.0, 1.0, 1.0)), "userId", "interest")
    val got = assertSameServe(users, catalog, 3)
    assert(got.map(_._1) == Set(12L))
  }

  test("zero and null feature rows never score") {
    val items = catalog.union(vectors(Seq(8 -> Array(0.0, 0.0, 0.0),
      9 -> null), "itemId", "features"))
    val users = vectors(Seq(10 -> Array(1.0, 1.0, 1.0)), "userId", "interest")
    val got = assertSameServe(users, items, 10)
    assert(got.size == 7 && !got.exists(r => r._2 == 8L || r._2 == 9L))
  }

  test("dimension mismatches drop the pair") {
    val items = catalog.union(vectors(Seq(8 -> Array(1.0, 1.0)),
      "itemId", "features"))
    val users = vectors(Seq(10 -> Array(1.0, 0.0, 1.0),
      11 -> Array(1.0, 1.0)), "userId", "interest")
    val got = assertSameServe(users, items, 10)
    assert(got.filter(_._1 == 11L).map(_._2) == Set(8L))
    assert(!got.exists(r => r._1 == 10L && r._2 == 8L))
  }

  test("n past the catalog returns every scored item") {
    val users = vectors(Seq(10 -> Array(0.2, 0.7, 0.1)), "userId", "interest")
    val got = assertSameServe(users, catalog, 50)
    assert(got.size == 7 && got.map(_._3) == (1L to 7L).toSet)
  }

  test("float vectors and features; long item ids come back as long") {
    val items = spark.range(300).select(col("id").as("itemId"),
      expr("transform(sequence(0, 7), j -> CAST(sin(id * 7 + j) AS FLOAT))")
        .as("features"))
    val users = spark.range(0, 300, 29).select(col("id").cast("int").as("userId"),
      expr("transform(sequence(0, 7), j -> CAST(cos(id + j) AS FLOAT))")
        .as("interest"))
    assertSameServe(users, items, 10)
    assert(StreamOps.topNForUsers(users, items, 10).schema("itemId").dataType
      == LongType)
  }

  private def aggregates(df: DataFrame) =
    df.queryExecution.executedPlan.toString.contains("Aggregate")

  private def corpus(nItems: Int) = spark.range(nItems).select(
    col("id").cast("int").as("itemId"),
    expr("""transform(sequence(0, 15), j ->
              sin(CAST((id % 16) * 97 + j AS DOUBLE)) +
              0.1 * sin(CAST(id * 31 + j * 7 AS DOUBLE)))""").as("features"))

  private val corpusUsers = spark.range(0, 4097, 97).select(
    col("id").cast("int").as("userId"),
    expr("transform(sequence(0, 15), j -> sin(CAST(id + j AS DOUBLE)))")
      .as("interest"))

  test("a catalog past the byte budget takes the cross join; at it, the projection") {
    // 8 bytes per id and per element: 4,097 items × (1 + 16) × 8
    val items = corpus(4097).repartition(4)
    val fits = 4097L * 17 * 8
    assert(keyed(StreamOps.topNForUsers(corpusUsers, items, 10, fits - 1)) ==
      assertSameServe(corpusUsers, items, 10))
    assert(aggregates(StreamOps.topNForUsers(corpusUsers, items, 10, fits - 1)),
      "a catalog one byte over its budget did not take the cross-join path")
    assert(keyed(StreamOps.topNForUsers(corpusUsers, items, 10, fits)) ==
      keyed(crossJoinServe(corpusUsers, items, 10)))
    assert(!aggregates(StreamOps.topNForUsers(corpusUsers, items, 10, fits)),
      "a catalog at its budget did not take the projection")
    assert(!aggregates(StreamOps.topNForUsers(corpusUsers, items, 10)),
      "a 4,097-item catalog at dim 16 is under PlanMatrixBytes")
  }

  test("a repeated userId: ranked per row under the budget, as one user over it") {
    // outside the one-row-per-user contract the two forms differ; pin both
    val users = vectors(Seq(10 -> Array(1.0, 0.0, 0.0),
      10 -> Array(0.0, 1.0, 1.0), 11 -> Array(0.2, 0.7, 0.1)), "userId", "interest")
    def served(df: DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3))).sorted.toSeq
    def alone(r: Row) = served(StreamOps.topNForUsers(
      spark.createDataFrame(java.util.Arrays.asList(r), users.schema), catalog, 2))
    assert(served(StreamOps.topNForUsers(users, catalog, 2)) ==
      users.collect().toSeq.flatMap(alone).sorted)
    assert(served(StreamOps.topNForUsers(users, catalog, 2, 0L)) ==
      served(crossJoinServe(users, catalog, 2)))
    assert(served(crossJoinServe(users, catalog, 2)).count(_._1 == 10) == 2)
  }

  test("under the budget the serve plans no exchange, join or aggregate") {
    val users = spark.range(0, 500, 7).select(col("id").cast("int").as("userId"),
      expr("transform(sequence(0, 2), j -> sin(CAST(id + j AS DOUBLE)))")
        .as("interest"))
    val served = StreamOps.topNForUsers(users, catalog, 3)
    val p = served.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Join") &&
      !p.contains("Aggregate"), s"serve plans more than a projection:\n$p")
    assert(served.count() == 72 * 3)
  }
}
