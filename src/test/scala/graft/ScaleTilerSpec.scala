package graft

import org.apache.spark.sql.functions._

/** Pins the [[ScaleBench]] tiler's invariants — the scale-stress bench's
  * conclusions are only as good as the tiled data's fidelity to "the
  * same workload, N× bigger":
  *
  *  - key-offset copies are exact: stripping copy i's offset yields the
  *    source rows, and copies' key ranges are disjoint (so joins on the
  *    offset keys match only within a copy);
  *  - the derived ratings fact grows exactly N× with per-user degree
  *    PRESERVED (q32's per-user tail length must not move under tiling);
  *  - document rotation is a char bijection: rotating copy i's text
  *    back yields the source text exactly (so each copy's within-corpus
  *    similarity structure is the source's), while copy i≥1 text
  *    differs from the source (so cross-copy shingles don't collide by
  *    identity).
  */
class ScaleTilerSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("tile: N× rows, disjoint offset ranges, copies exact mod offset") {
    val src = Tables.orders(spark, sf)
    val d = tmp("graft-tilespec")
    ScaleBench.tile(spark, src, s"$d/orders.parquet", 3,
      Seq("o_orderkey", "o_custkey"))
    val tiled = spark.read.parquet(s"$d/orders.parquet")
    assert(tiled.count() == 3 * src.count())
    val okMax = src.agg(max(col("o_orderkey"))).head().getAs[Number](0).longValue + 1
    val ckMax = src.agg(max(col("o_custkey"))).head().getAs[Number](0).longValue + 1
    // copy 1 stripped of its offsets == source, column for column
    val copy1 = tiled.where(col("o_orderkey") >= okMax && col("o_orderkey") < 2 * okMax)
      .withColumn("o_orderkey",
        (col("o_orderkey") - okMax).cast(src.schema("o_orderkey").dataType))
      .withColumn("o_custkey",
        (col("o_custkey") - ckMax).cast(src.schema("o_custkey").dataType))
      .select(src.columns.map(col).toSeq: _*)
    assert(copy1.count() == src.count())
    assert(copy1.exceptAll(src.select(src.columns.map(col).toSeq: _*)).count() == 0)
    // custkey ranges disjoint per copy
    assert(tiled.where(col("o_custkey") >= 3 * ckMax).count() == 0)
  }

  test("tiled ratings fact: exactly N× rows, per-user degree preserved") {
    val d = tmp("graft-tilespec-r")
    ScaleBench.tile(spark, Tables.lineitem(spark, sf),
      s"$d/lineitem.parquet", 3, Seq("l_orderkey"))
    ScaleBench.tile(spark, Tables.orders(spark, sf),
      s"$d/orders.parquet", 3, Seq("o_orderkey", "o_custkey"))
    val r1 = graft.rec.Ratings.view(spark, sf)
    val r3 = graft.rec.Ratings.view(spark, d)
    assert(r3.count() == 3 * r1.count())
    def degrees(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("user_id")).agg(count(lit(1)).as("deg"))
        .groupBy(col("deg")).agg(count(lit(1)).as("n_users"))
        .orderBy(col("deg"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // every degree bucket triples in user count; no new buckets appear
    assert(degrees(r3) == degrees(r1).map { case (deg, n) => (deg, 3 * n) })
  }

  test("shared orderkey domain: a childless max-key order keeps every copy join-consistent") {
    // ADVICE r15: per-table maxima only agree while every order has
    // lineitems. Construct the failure fixture — orders' max key 100 has
    // NO lineitems — and tile both sides with the shared-domain offset
    // (what buildTiledDir derives): every copy must join exactly like
    // the source.
    import spark.implicits._
    val orders = Seq((1L, 10L), (2L, 11L), (100L, 12L))
      .toDF("o_orderkey", "o_custkey")
    val lineitem = Seq((1L, 5L), (1L, 6L), (2L, 5L))
      .toDF("l_orderkey", "l_partkey")
    val d = tmp("graft-tilespec-shared")
    val orderBase = 101L // max over BOTH tables' orderkey domain, + 1
    ScaleBench.tile(spark, lineitem, s"$d/lineitem.parquet", 3,
      Seq("l_orderkey"), Map("l_orderkey" -> orderBase))
    ScaleBench.tile(spark, orders, s"$d/orders.parquet", 3,
      Seq("o_orderkey", "o_custkey"), Map("o_orderkey" -> orderBase))
    val to = spark.read.parquet(s"$d/orders.parquet")
    val tl = spark.read.parquet(s"$d/lineitem.parquet")
    val joined = tl.join(to, col("l_orderkey") === col("o_orderkey"))
    // source joins 3 lineitem rows; each of 3 copies must join exactly 3,
    // and every joined pair must sit in one copy's window (same tile)
    assert(joined.count() == 3 * 3)
    val crossCopy = joined.where(
      (col("l_orderkey") / orderBase).cast("long") =!=
        (col("o_custkey") / 13L).cast("long")).count()
    assert(crossCopy == 0, "a lineitem joined an order from another copy")
  }

  test("item tiler: copies de-aliased and deterministic, tile 0 verbatim, neighborhood kept") {
    // r20 (VERDICT r19 item 1): StreamBench's item-catalog tiler must
    // emit a DISTINCT vector per tiled id — the r16–r19 tiler copied
    // features unchanged, so parquet dictionary-encoded the "20M-item"
    // cells table to 152 MB and the quantizer could only populate
    // K_eff 1,736 of 4,096 cells, silently un-scaling every 20M claim.
    val base = spark.range(40).select(
      col("id").cast("int").as("itemId"),
      expr("""transform(sequence(0, 7), j ->
                sin(CAST(id * 13 + j * 7 AS DOUBLE)))""").as("features"))
      .cache()
    val t = 5
    val tiled = StreamBench.tiledItems(base, t, 40L, 4).cache()
    assert(tiled.count() == t * 40)
    // every tiled row's feature vector is distinct — nothing for a
    // dictionary encoder to collapse, nothing for k-means to alias
    assert(tiled.select(col("features")).distinct().count() == t * 40)
    // tile 0 is the fixture verbatim (t=1 and the hot head are the base)
    val tile0 = tiled.where(col("itemId") < 40).select(col("itemId"), col("features"))
    val b = base.select(col("itemId"), col("features"))
    assert(tile0.exceptAll(b).count() == 0 && b.exceptAll(tile0).count() == 0)
    // hash-seeded, so a second tiling is byte-identical
    assert(tiled.exceptAll(StreamBench.tiledItems(base, t, 40L, 4)).count() == 0)
    // copies stay in their base's neighborhood (the tiling model is
    // "same workload, N× denser", not a fresh random catalog): the
    // per-coordinate σ bounds the perturbation well inside the base
    // vectors' scale
    val withBase = tiled.where(col("itemId") >= 40)
      .withColumn("baseId", col("itemId") % 40)
      .join(base.select(col("itemId").as("baseId"), col("features").as("bf")),
        "baseId")
    val minCos = withBase.select(min(graft.expr.GraftFunctions
        .cosineSimilarity(col("features"), col("bf"))))
      .head().getDouble(0)
    assert(minCos > 0.9,
      f"a tiled copy left its base's neighborhood: min cos $minCos%.3f")
  }

  test("tiled documents: rotation is a bijection, copies differ from source") {
    val src = Tables.documents(spark, sf)
    val d = tmp("graft-tilespec-d")
    ScaleBench.tileDocuments(spark, src, s"$d/documents.parquet", 3)
    val tiled = spark.read.parquet(s"$d/documents.parquet")
    assert(tiled.count() == 3 * src.count())
    val docMax = src.agg(max(col("doc_id"))).head().getAs[Number](0).longValue + 1
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    // rot-2 applied to copy 2's text INVERTS to the source text exactly
    val rotL = lower.drop(2) + lower.take(2)
    val rotU = upper.drop(2) + upper.take(2)
    val copy2Back = tiled
      .where(col("doc_id") >= 2 * docMax && col("doc_id") < 3 * docMax)
      .select((col("doc_id") - 2 * docMax).as("doc_id"),
        // inverse mapping: translate FROM the rotated alphabet TO the plain
        translate(col("text"), rotL + rotU, lower + upper).as("back"))
    val joined = copy2Back.join(src.select(col("doc_id"), col("text")), "doc_id")
    assert(joined.count() == src.count())
    assert(joined.where(col("back") =!= col("text")).count() == 0)
    // and copy 2 is NOT byte-identical to the source (rotation did something)
    val copy2Raw = tiled
      .where(col("doc_id") >= 2 * docMax && col("doc_id") < 3 * docMax)
      .select((col("doc_id") - 2 * docMax).as("doc_id"), col("text").as("rot"))
    val differing = copy2Raw.join(src.select(col("doc_id"), col("text")), "doc_id")
      .where(col("rot") =!= col("text")).count()
    assert(differing > 0)
  }
}
