package graft.expr

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.{SessionIds, SparkEntry, SparkSpec}
import graft.queries.TextOps
import graft.rec.IvfIndex
import graft.stream.StreamOps

/** Engine-side Column builders construct their Catalyst node directly:
  * none of them needs, or writes, a function-registry entry. Each call
  * runs on the shared session and on a child session whose registry
  * holds none of the graft function names, and must give the same rows
  * there, leaving that registry as empty of them as it found it. */
class RegistryFreeSpec extends SparkSpec with BeforeAndAfterAll {

  private val sfDir = s"${sys.props("user.home")}/testdata/sf0.001"

  private val graftNames = Seq("cosine_similarity", "char_shingles",
    "nearest_cells", "nearest_codes", "adc_cosine", "hyperplane_bands",
    "minhash_sig", "rmse_agg", "kmin_distinct64", "top3_pairs",
    "cms_4x256", "bloom_2048", "hll_64")

  private def registered(s: SparkSession): Seq[String] =
    graftNames.filter(n =>
      s.sessionState.functionRegistry.functionExists(FunctionIdentifier(n)))

  private lazy val bare: SparkSession = {
    val s = spark.newSession()
    graftNames.foreach(n =>
      s.sessionState.functionRegistry.dropFunction(FunctionIdentifier(n)))
    s
  }

  /** The child session shares the context, which never stops here: drop
    * the memo entries (q28's signatures) its queries left keyed to it. */
  override def afterAll(): Unit =
    try SessionIds.fireEviction(SessionIds.of(bare)) finally super.afterAll()

  /** `f` on the shared session and on the bare one: same rows, and the
    * bare registry still holds no graft name. */
  private def sameOnBare(what: String)(f: SparkSession => DataFrame): Unit = {
    assert(registered(bare).isEmpty, s"setup: ${registered(bare)} still registered")
    val (main, child) = (bitLines(f(spark)), bitLines(f(bare)))
    assert(main.nonEmpty, s"$what: no rows")
    val same = main == child
    assert(same, s"$what: ${main.diff(child).size} rows differ on a session " +
      "without the registry")
    val written = registered(bare)
    assert(written.isEmpty, s"$what registered ${written.mkString(", ")}")
  }

  private def vectors(s: SparkSession, n: Int, dim: Int): DataFrame =
    s.range(n).select(col("id").cast("int").as("itemId"),
      expr(s"""transform(sequence(0, ${dim - 1}), j ->
                 sin(CAST((id % 8) * 97 + j AS DOUBLE)) +
                 0.1 * sin(CAST(id * 31 + j * 7 AS DOUBLE)))""").as("features"))

  test("Column builders build their node on a session without the registry") {
    val cents = Seq((0, Array(1.0, 0.0, 0.0)), (1, Array(0.0, 1.0, 0.0)),
      (2, Array(0.0, 0.0, 1.0)))
    val cbs = Seq(Seq(Array(1.0, 0.0), Array(0.0, 1.0)),
      Seq(Array(0.6, 0.8), Array(-1.0, 0.0)))
    sameOnBare("cosineSimilarity / nearestCells / cosineTopN") { s =>
      vectors(s, 40, 3).select(col("itemId"),
        GraftFunctions.cosineSimilarity(col("features"), array(lit(1.0), lit(2.0), lit(0.5))),
        GraftFunctions.nearestCells(col("features"), cents, 2),
        GraftFunctions.cosineTopN(col("features"), Array(7L, 8L, 9L),
          cents.map(_._2).toArray, 2))
    }
    sameOnBare("nearestCodes / adcCosine") { s =>
      vectors(s, 40, 4)
        .withColumn("codes", GraftFunctions.nearestCodes(col("features"), cbs))
        .select(col("itemId"), col("codes"),
          GraftFunctions.adcCosine(col("features"), col("codes"), cbs))
    }
    sameOnBare("charShingles / MinHash signature") { s =>
      s.range(20).select(col("id"),
          concat(lit("near duplicate text number "), (col("id") % 5).cast("string"))
            .as("text"))
        .select(col("id"), GraftFunctions.charShingles(col("text"), 4),
          TextOps.sigColShared(col("text")))
    }
  }

  test("serve, index builds and catalog queries run without the registry") {
    sameOnBare("buildServeIndex + topNForUsersAnn") { s =>
      val items = vectors(s, 400, 16).cache()
      val (cent, cells) = StreamOps.buildServeIndex(items, k = 8)
      val users = items.where(col("itemId") % 9 === 0)
        .select(col("itemId").as("userId"), col("features").as("interest"))
      StreamOps.topNForUsersAnn(users, cent, cells, 5)
    }
    sameOnBare("buildLarge + encodePqLarge") { s =>
      val dir = java.nio.file.Files.createTempDirectory("graft-bare-ivf").toString
      IvfIndex.buildLarge(vectors(s, 400, 16)
        .select(col("itemId").as("vec_id"), col("features").as("emb")), dir, k = 8)
      IvfIndex.encodePqLarge(s, dir, s = 4, subDim = 4, k = 16, iters = 5)
      s.read.parquet(s"$dir/pq_cells") // vec_id, codes and cid
    }
    Seq("q22_lsh_neardup", "q28_minhash_sig", "q33_rmse_baseline").foreach { q =>
      sameOnBare(q)(s => SparkEntry.queries(q)(s, sfDir))
    }
  }
}
