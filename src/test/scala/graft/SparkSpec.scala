package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      // exercise the SparkSessionExtensions path: native functions are
      // injected at session build, no imperative register() here
      .config("spark.sql.extensions", "graft.expr.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Spark jobs started while `body` runs. The listener bus is drained
    * before the listener is added and before it is read, so jobs of
    * earlier work are not counted and jobs of `body` are not missed. */
  protected def jobsWhile(body: => Any): Int = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    org.apache.spark.graft.ListenerDrain.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.graft.ListenerDrain.waitUntilEmpty(sc)
      started.get
    } finally sc.removeSparkListener(listener)
  }

  /** Rows as sorted text lines, doubles as their raw bits: equal lines
    * mean bit-identical rows. */
  protected def bitLines(df: DataFrame): Seq[String] = {
    def text(v: Any): String = v match {
      case d: Double => java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))
      case s: scala.collection.Seq[_] => s.map(text).mkString("[", ",", "]")
      case r: Row => r.toSeq.map(text).mkString("(", ",", ")")
      case other => String.valueOf(other)
    }
    df.collect().map(_.toSeq.map(text).mkString("|")).sorted.toSeq
  }
}
