package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Two builds of the same corpus write the same index: the partitioned
  * serve index and its PQ encoding ([[graft.rec.IvfIndex.buildLarge]],
  * [[graft.rec.IvfIndex.encodePqLarge]]) must give byte-identical
  * centroids, codebooks and cells, whatever order the seeded MLlib fits
  * happen to read their sample in; and the cached serve index, trained
  * by the same fit, carries the partitioned index's model bit for bit. */
class ServeIndexDeterminismSpec extends SparkSpec {

  /** The structured 2,000-item, dim-64 corpus of AnnServeSpec. */
  private def structured(): DataFrame = spark.range(2000).select(
    col("id").cast("int").as("itemId"),
    expr("""transform(sequence(0, 63), j ->
              sin(CAST((id % 16) * 97 + j AS DOUBLE)) +
              0.1 * sin(CAST(id * 31 + j * 7 AS DOUBLE)))""").as("features"))

  test("partitioned serve index and PQ encoding build byte-identically twice") {
    val items = structured().cache()
    val tables = Seq("centroids", "pq_codebooks", "cells", "pq_cells")
    /** Every table as sorted text lines, doubles as their raw bits. */
    def build(): Seq[Seq[String]] = {
      val dir = java.nio.file.Files.createTempDirectory("graft-det-serve").toString
      StreamOps.buildServeIndexPartitioned(items, dir, k = 16)
      StreamOps.encodeServeIndexPq(spark, dir, s = 4, subDim = 16, k = 256, iters = 8)
      tables.map(t => bitLines(spark.read.parquet(s"$dir/$t")))
    }
    val (first, second) = (build(), build())
    tables.indices.foreach { i =>
      val differing = first(i).zip(second(i)).count { case (a, b) => a != b }
      assert(first(i).nonEmpty && first(i).length == second(i).length && differing == 0,
        s"${tables(i)}: $differing of ${first(i).length} rows differ between two builds")
    }
  }

  /** A centroid model as sorted text lines, doubles as their raw bits. */
  private def modelBits(model: Seq[(Int, Array[Double])]): Seq[String] =
    model.map { case (cid, c) =>
      cid + "|" + c.map(d => java.lang.Long.toHexString(
        java.lang.Double.doubleToRawLongBits(d))).mkString("[", ",", "]")
    }.sorted

  test("cached serve index: same centroids and cells whatever the catalog's " +
      "partitioning and row order") {
    val items = structured().cache()
    def build(catalog: DataFrame): Seq[Seq[String]] = {
      val (cent, cells) = StreamOps.buildServeIndex(catalog, k = 16)
      Seq(modelBits(cent), bitLines(cells))
    }
    val inOrder = build(items.repartition(1))
    val reversed = build(items.orderBy(col("itemId").desc).repartition(7))
    Seq("centroids", "cells").zipWithIndex.foreach { case (t, i) =>
      val (a, b) = (inOrder(i), reversed(i))
      val differing = a.zip(b).count { case (x, y) => x != y }
      val same = a.nonEmpty && a.length == b.length && differing == 0
      assert(same, s"$t: $differing of ${a.length} rows differ between orders")
    }
  }

  test("one quantizer: the cached and the partitioned serve index carry " +
      "the same model") {
    val items = structured().cache()
    val (k, iters) = (16, 8)
    val (cached, _) = StreamOps.buildServeIndex(items, k, iters)
    val dir = java.nio.file.Files.createTempDirectory("graft-det-model").toString
    val (partitioned, _) = StreamOps.buildServeIndexPartitioned(items, dir, k, iters)
    val (a, b) = (modelBits(cached), modelBits(partitioned))
    val differing = a.zip(b).count { case (x, y) => x != y }
    assert(a.length == k && a.length == b.length && differing == 0,
      s"$differing of ${a.length} centroids differ between the two builds")
  }
}
