package graft.rec

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.SparkSpec

class SizingSpec extends SparkSpec {
  private val sf = s"${sys.props("user.home")}/testdata/sf0.1"
  private def cores = math.max(2, spark.sparkContext.defaultParallelism / 4)
  // a Range leaf estimates 8 B per row: 2^40 rows are 8 TiB of leaf
  // stats (no data is touched), 131072 partitions of the 64 MB advisory
  private val hugeParts = (8L << 40) / (64L << 20)

  private def huge = spark.range(1L << 40).toDF()

  private def rddLeaf = spark.createDataFrame(
    spark.sparkContext.parallelize(Seq(Row(1L))),
    StructType(Seq(StructField("id", LongType))))

  test("the cores term binds on the fixtures, cached or not") {
    val r = Ratings.view(spark, sf)
    assert(Sizing.factParts(r) == cores)
    // a cached relation's optimized-plan estimate multiplies its join
    // children (≈1.6 TB here until materialized); the analyzed leaves do not
    val cached = Ratings.view(spark, sf).cache()
    try assert(Sizing.factParts(cached) == cores) finally cached.unpersist()
  }

  test("the bytes term binds on a relation whose leaf stats exceed the advisory size") {
    assert(Sizing.factParts(huge) == hugeParts)
  }

  test("a leaf at the defaultSizeInBytes sentinel adds 0; a leaf above it still counts") {
    assert(Sizing.factParts(rddLeaf) == cores)
    assert(Sizing.factParts(huge.union(rddLeaf)) == hugeParts)
    spark.conf.set("spark.sql.defaultSizeInBytes", (1L << 30).toString)
    try {
      assert(Sizing.factParts(rddLeaf) == cores)
      assert(Sizing.factParts(huge.union(rddLeaf)) == hugeParts)
    } finally spark.conf.unset("spark.sql.defaultSizeInBytes")
  }
}
