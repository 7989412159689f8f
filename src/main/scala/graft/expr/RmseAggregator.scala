package graft.expr

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}

/** RMSE as a typed `Aggregator` (SURVEY §4.3): input (prediction, label),
  * buffer (sum of squared error, count), output sqrt(sse/n).
  *
  * Replaces the reference's `RegressionEvaluator(metricName="rmse")`
  * (`/root/reference/src/als/spark_als.py:163-169`) with a single-pass,
  * map-side-combinable aggregate — at cluster scale this is one shuffle of
  * a 16-byte buffer per partition, never a second job.
  */
object RmseAggregator
    extends Aggregator[(Double, Double), (Double, Long), Double] {

  override def zero: (Double, Long) = (0.0, 0L)

  override def reduce(b: (Double, Long), in: (Double, Double)): (Double, Long) = {
    val d = in._1 - in._2
    (b._1 + d * d, b._2 + 1)
  }

  override def merge(a: (Double, Long), b: (Double, Long)): (Double, Long) =
    (a._1 + b._1, a._2 + b._2)

  override def finish(r: (Double, Long)): Double =
    if (r._2 == 0) Double.NaN else math.sqrt(r._1 / r._2)

  override def bufferEncoder: Encoder[(Double, Long)] =
    Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong)

  override def outputEncoder: Encoder[Double] = Encoders.scalaDouble

  /** Column-ready form: `df.agg(RmseAggregator.agg(pred, label))`. */
  val agg: UserDefinedFunction = org.apache.spark.sql.functions.udaf(this,
    Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble))
}
