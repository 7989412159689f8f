package graft.stream

import scala.collection.mutable

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.TextOps

/** The streaming near-dup operator against its ORACLE-GATED batch twin
  * (q131): same signatures, same banding, same bucket cap — so the
  * equality contract below is transitively checked by the DuckDB gate
  * that certifies q131 itself.
  */
class DedupStreamSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  /** Run the fixture corpus through the streaming operator in `splits`
    * micro-batches (docs fed in doc_id order), collecting each batch's
    * DISTINCT pairs (the documented sink-side dedup). */
  private def streamPairs(splits: Int, cap: Int = TextOps.lshBucketCapShared)
      : Seq[(Long, Seq[(Long, Long, Double)])] = {
    val docs = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)]
      .collect().sortBy(_._1)
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val out = mutable.ListBuffer.empty[(Long, Seq[(Long, Long, Double)])]
    val q = DedupStream.nearDupPairs(in.toDF().toDF("doc_id", "text"), cap)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[NearDupPair], id: Long) =>
        val rows = batch.dropDuplicates("a_id", "b_id")
          .collect().map(p => (p.a_id, p.b_id, p.est_jaccard)).toSeq
        out.synchronized { out += ((id, rows)) }; ()
      }
      .start()
    try {
      val per = math.max(1, math.ceil(docs.length.toDouble / splits).toInt)
      docs.grouped(per).foreach { b =>
        in.addData(b.toIndexedSeq); q.processAllAvailable()
      }
    } finally q.stop()
    out.toSeq
  }

  /** The fixture's banded rows (doc_id, sig, band, bucket) via the SAME
    * shared faces the operator uses. */
  private def bandedRows(): Array[(Long, Seq[Long], Int, String)] =
    TextOps.bandedKeepSig(
      graft.Tables.documents(spark, sfDir)
        .select($"doc_id", TextOps.sigColShared($"text").as("sig"))
        .where($"sig".isNotNull))
      .as[(Long, Seq[Long], Int, String)].collect()

  private def est(a: Seq[Long], b: Seq[Long]): Double =
    a.zip(b).count(p => p._1 == p._2).toDouble / TextOps.lshSigLen

  test("streaming pairs = batch q131 pairs + the saturated buckets' prefixes") {
    val cap = TextOps.lshBucketCapShared
    val streamed = streamPairs(splits = 3)
      .flatMap(_._2).toSet

    val batch = TextOps.minhashPairsBounded.run(spark, sfDir)
      .as[(Long, Long, Double)].collect().toSet

    // expected extras: for each over-cap (band, bucket), all pairs among
    // its first `cap` members by doc_id (= arrival order here)
    val byBucket = bandedRows().groupBy(r => (r._3, r._4))
    val overCap = byBucket.filter(_._2.length > cap)
    assert(overCap.nonEmpty, // the contract's second leg must be exercised
      s"fixture has no over-cap bucket at cap=$cap — q132's profile changed?")
    val prefixPairs = overCap.values.flatMap { rows =>
      val first = rows.sortBy(_._1).take(cap)
      for {
        i <- first.indices; j <- (i + 1) until first.length
      } yield (first(i)._1, first(j)._1,
        math.rint(est(first(i)._2, first(j)._2) * 1e6) / 1e6)
    }.toSet

    assert(batch.subsetOf(streamed),
      s"missing batch pairs: ${(batch -- streamed).take(5)}")
    assert(streamed == batch ++ prefixPairs,
      s"unexpected: ${(streamed -- batch -- prefixPairs).take(5)} / " +
        s"missing: ${(batch ++ prefixPairs -- streamed).take(5)}")
  }

  test("incremental state = one-shot: any batch split yields the same set") {
    val one = streamPairs(splits = 1).flatMap(_._2).toSet
    val five = streamPairs(splits = 5).flatMap(_._2).toSet
    assert(one == five)
  }

  test("a pair spanning micro-batches is emitted at the later doc's arrival") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val out = mutable.ListBuffer.empty[(Long, Long, Long)] // batch, a, b
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val q = DedupStream.nearDupPairs(in.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[NearDupPair], id: Long) =>
        val rows = b.dropDuplicates("a_id", "b_id").collect()
        out.synchronized { rows.foreach(p => out += ((id, p.a_id, p.b_id))) }; ()
      }
      .start()
    try {
      in.addData((1L, text)); q.processAllAvailable()
      in.addData((7L, "unrelated filler words nothing shared here at all x y"))
      q.processAllAvailable()
      in.addData((9L, text)); q.processAllAvailable()
    } finally q.stop()
    // the (1, 9) duplicate pair surfaces exactly once, in doc 9's batch
    assert(out.toList == List((2L, 1L, 9L)))
  }

  test("cross-band duplicate emissions stay inside one micro-batch") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val raw = mutable.ListBuffer.empty[(Long, Int)] // batch -> emissions
    val text = "one two three four five six seven eight nine ten eleven"
    val q = DedupStream.nearDupPairs(in.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[NearDupPair], id: Long) =>
        val n = b.collect().length
        raw.synchronized { raw += ((id, n)) }; ()
      }
      .start()
    try {
      in.addData((1L, text)); q.processAllAvailable()
      in.addData((2L, text)); q.processAllAvailable()
    } finally q.stop()
    // identical docs collide in all 4 bands: 4 raw emissions, all in
    // batch 1 (the later doc's arrival), none later
    assert(raw.toList == List((0L, 0), (1L, 4)))
  }

  // --- idle-horizon eviction (the crawl-ingest configuration) ---------

  /** Drive docs with explicit event times through the horizon operator;
    * returns every emitted (a, b) pair in arrival order. Each step is
    * one micro-batch of (doc_id, text, tsMillis) rows. */
  private def horizonPairs(horizonMs: Long, cap: Int,
      steps: Seq[Seq[(Long, String, Long)]]): List[(Long, Long)] = {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, String, Long)]
    val out = mutable.ListBuffer.empty[(Long, Long)]
    val q = DedupStream.nearDupPairs(
        in.toDF().toDF("doc_id", "text", "ts"), cap,
        idleHorizon = Some(java.time.Duration.ofMillis(horizonMs)))
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[NearDupPair], _: Long) =>
        val rows = b.dropDuplicates("a_id", "b_id").collect()
          .map(p => (p.a_id, p.b_id)).sorted
        out.synchronized { out ++= rows }; ()
      }
      .start()
    try steps.foreach { b => in.addData(b.toIndexedSeq); q.processAllAvailable() }
    finally q.stop()
    out.toList
  }

  test("idle horizon: an evicted bucket emits no pair against aged-out " +
      "members and re-admits from empty") {
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // The watermark for batch N is batch N-1's max event time, and a
    // bucket that receives data in the very batch its timer expires is
    // processed as live — so eviction is made observable the way a real
    // stream does it: unrelated traffic advances the watermark, then a
    // data-less batch for doc 1's buckets fires their timers.
    val pairs = horizonPairs(horizonMs = 1000L, cap = TextOps.lshBucketCapShared,
      steps = Seq(
        // ts starts above 0: the initial watermark is 0 and the 0-delay
        // late filter drops rows at-or-below it
        Seq((1L, text, 10000L)),                   // member at t=10s
        Seq((100L, "totally different filler words one", 15000L)),
        Seq((101L, "other unrelated filler words two", 15500L)),
        // ^ watermark now 15000 ≥ doc-1's timer (t=11000): bucket evicted.
        // Doc 9 re-admits the SAME buckets from empty, so the (1, 9)
        // duplicate pair is NOT emitted (documented recency-window
        // divergence)...
        Seq((9L, text, 16000L)),
        // ...and a fresh duplicate INSIDE the horizon pairs normally
        // against the re-admitted member
        Seq((11L, text, 16400L))))
    assert(pairs == List((9L, 11L)),
      s"expected only the in-horizon pair (9,11), got $pairs")
  }

  test("idle horizon: eviction clears a tombstone — the bucket's fresh " +
      "population gets a new cap budget") {
    val text = "same words every time for the saturation test of buckets"
    val pairs = horizonPairs(horizonMs = 1000L, cap = 2,
      steps = Seq(
        Seq((1L, text, 10000L), (2L, text, 10000L)), // cap full; pair (1,2)
        Seq((3L, text, 10100L)),              // saturates → tombstone
        Seq((4L, text, 10200L)),              // tombstoned: silence, re-arms
        Seq((100L, "totally different filler words one", 15000L)),
        Seq((101L, "other unrelated filler words two", 15500L)),
        // ^ watermark 15000 ≥ the tombstone's timer (t=11200): evicted.
        // 5 and 6 re-admit the bucket and pair as a fresh under-cap
        // population — a new cap budget
        Seq((5L, text, 16000L), (6L, text, 16000L))))
    assert(pairs == List((1L, 2L), (5L, 6L)),
      s"expected ((1,2),(5,6)), got $pairs")
  }

  test("idle horizon: a bucket touched within the horizon keeps its state") {
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val pairs = horizonPairs(horizonMs = 10000L, cap = TextOps.lshBucketCapShared,
      steps = Seq(
        Seq((1L, text, 10000L)),
        Seq((9L, text, 15000L)),   // within horizon: pairs with 1
        Seq((11L, text, 19000L)))) // still within: pairs with 1 and 9
    assert(pairs == List((1L, 9L), (1L, 11L), (9L, 11L)), s"got $pairs")
  }

  // --- recovery: a restart from the checkpoint changes no output -------

  /** The fixture corpus as 4 micro-batches of (doc_id, text, ts) in
    * doc_id order, ts rising 10 ms per doc, through the operator on one
    * checkpoint directory; with `restartAfter = Some(b)` the query is
    * stopped after b batches and a new instance resumes from the same
    * checkpoint. Returns each batch's distinct pairs by batch id. */
  private def checkpointedPairs(horizon: Option[java.time.Duration],
                                restartAfter: Option[Int])
      : Map[Long, Seq[(Long, Long, Double)]] = {
    val docs = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)]
      .collect().sortBy(_._1).map { case (id, t) => (id, t, 10000L + id * 10) }
    implicit val sc = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("dedup-ckpt").toString
    val in = MemoryStream[(Long, String, Long)]
    val out = mutable.Map.empty[Long, Seq[(Long, Long, Double)]]
    def start() = DedupStream.nearDupPairs(
        in.toDF().toDF("doc_id", "text", "ts"), idleHorizon = horizon)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[NearDupPair], id: Long) =>
        val rows = b.dropDuplicates("a_id", "b_id").collect()
          .map(p => (p.a_id, p.b_id, p.est_jaccard)).sorted.toSeq
        out.synchronized { out(id) = rows }; ()
      }
      .start()
    val batches = docs.grouped(math.ceil(docs.length / 4.0).toInt).toSeq
    var q = start()
    try batches.zipWithIndex.foreach { case (b, i) =>
      if (restartAfter.contains(i)) { q.stop(); q = start() }
      in.addData(b.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    out.toMap
  }

  test("a restart from the checkpoint emits the pairs of an uninterrupted run") {
    Seq(None, Some(java.time.Duration.ofMillis(2000))).foreach { horizon =>
      val whole = checkpointedPairs(horizon, restartAfter = None)
      val resumed = checkpointedPairs(horizon, restartAfter = Some(2))
      assert(whole.values.exists(_.nonEmpty), s"horizon $horizon: no pair emitted")
      assert(resumed == whole,
        s"horizon $horizon: restarted run's pairs differ from an uninterrupted run")
    }
  }

  test("the (cap+1)-th member tombstones its bucket and emits nothing") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val out = mutable.ListBuffer.empty[(Long, Long, Double)]
    val text = "same words every time for the saturation test of buckets"
    val q = DedupStream.nearDupPairs(in.toDF().toDF("doc_id", "text"), cap = 3)
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[NearDupPair], _: Long) =>
        val rows = b.dropDuplicates("a_id", "b_id")
          .collect().map(p => (p.a_id, p.b_id, p.est_jaccard))
        out.synchronized { out ++= rows }; ()
      }
      .start()
    try {
      in.addData((1L, text), (2L, text), (3L, text)); q.processAllAvailable()
      in.addData((4L, text)); q.processAllAvailable() // saturates: silence
      in.addData((5L, text)); q.processAllAvailable() // tombstoned: silence
    } finally q.stop()
    assert(out.toSet ==
      Set((1L, 2L, 1.0), (1L, 3L, 1.0), (2L, 3L, 1.0))) // C(3,2), est 1.0
  }
}
