package graft.stream

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Two builds of the same corpus write the same index: the partitioned
  * serve index and its PQ encoding ([[graft.rec.IvfIndex.buildLarge]],
  * [[graft.rec.IvfIndex.encodePqLarge]]) must give byte-identical
  * centroids, codebooks and cells, whatever order the seeded MLlib fits
  * happen to read their sample in. */
class ServeIndexDeterminismSpec extends SparkSpec {

  test("partitioned serve index and PQ encoding build byte-identically twice") {
    val items = spark.range(2000).select(
      col("id").cast("int").as("itemId"),
      expr("""transform(sequence(0, 63), j ->
                sin(CAST((id % 16) * 97 + j AS DOUBLE)) +
                0.1 * sin(CAST(id * 31 + j * 7 AS DOUBLE)))""").as("features"))
      .cache()
    val tables = Seq("centroids", "pq_codebooks", "cells", "pq_cells")
    /** Every table as sorted text lines, doubles as their raw bits. */
    def build(): Seq[Seq[String]] = {
      val dir = java.nio.file.Files.createTempDirectory("graft-det-serve").toString
      StreamOps.buildServeIndexPartitioned(items, dir, k = 16)
      StreamOps.encodeServeIndexPq(spark, dir, s = 4, subDim = 16, k = 256, iters = 8)
      def text(v: Any): String = v match {
        case d: Double => java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))
        case s: scala.collection.Seq[_] => s.map(text).mkString("[", ",", "]")
        case other => String.valueOf(other)
      }
      tables.map(t => spark.read.parquet(s"$dir/$t").collect()
        .map(_.toSeq.map(text).mkString("|")).sorted.toSeq)
    }
    val (first, second) = (build(), build())
    tables.indices.foreach { i =>
      val differing = first(i).zip(second(i)).count { case (a, b) => a != b }
      assert(first(i).nonEmpty && first(i).length == second(i).length && differing == 0,
        s"${tables(i)}: $differing of ${first(i).length} rows differ between two builds")
    }
  }
}
