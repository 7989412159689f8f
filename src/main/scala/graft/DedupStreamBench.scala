package graft

import scala.collection.mutable

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.stream.{DedupStream, NearDupPair}

/** Throughput footnote for [[graft.stream.DedupStream]] — the streaming
  * near-dup operator is spec-gated for CORRECTNESS against the
  * oracle-gated batch q131 (DedupStreamSpec); this main gives its SURVEY
  * row a measured number and a linearity check, in the repo's
  * one-JSON-line bench convention.
  *
  * Replays the fixture `documents` corpus (optionally tiled
  * `SPARK_GRAFT_DEDUP_TILES`× — copies get a per-tile marker token
  * appended so shingles, signatures and buckets genuinely differ, the
  * de-aliasing lesson of SURVEY §8.15) through
  * [[DedupStream.nearDupPairs]] in `SPARK_GRAFT_DEDUP_BATCHES`
  * micro-batches, deduping per batch at the sink exactly as the
  * operator's contract prescribes. Reports docs/s end-to-end (including
  * every micro-batch's planning + state round trip) and the distinct
  * pair count.
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_DEDUP_TILES (default 1), SPARK_GRAFT_DEDUP_BATCHES
  * (default 10).
  */
object DedupStreamBench {

  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    val tiles = sys.env.getOrElse("SPARK_GRAFT_DEDUP_TILES", "1").toInt
    val batches = sys.env.getOrElse("SPARK_GRAFT_DEDUP_BATCHES", "10").toInt
    val spark = Harness.session()
    import spark.implicits._

    val base = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1)
    val maxId = base.map(_._1).max + 1
    val docs: Array[(Long, String)] =
      if (tiles <= 1) base
      else (0 until tiles).flatMap { t =>
        if (t == 0) base
        else base.map { case (id, tx) => (id + t * maxId, s"$tx tile$t") }
      }.toArray.sortBy(_._1)

    // Horizon arm (VERDICT r20 item 1): SPARK_GRAFT_DEDUP_HORIZON_SEC
    // replays the same corpus with event time advancing one second per
    // doc and the idle horizon set, so buckets idle longer than the
    // horizon EVICT while the replay runs — the artifact then shows
    // state rows O(active horizon), not O(docs ever seen), directly in
    // `state_rows_max/final` vs the horizonless run's.
    val horizonSec = sys.env.get("SPARK_GRAFT_DEDUP_HORIZON_SEC").map(_.toLong)
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, String, Long)]
    val pairCount = new java.util.concurrent.atomic.AtomicLong(0L)
    val batchMs = mutable.ListBuffer.empty[Long]
    val stateRows = mutable.ListBuffer.empty[Long]
    val q = DedupStream.nearDupPairs(
        in.toDF().toDF("doc_id", "text", "ts"),
        idleHorizon = horizonSec.map(java.time.Duration.ofSeconds(_)))
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[NearDupPair], _: Long) =>
        pairCount.addAndGet(b.dropDuplicates("a_id", "b_id").count()); ()
      }
      .start()
    val t0 = System.nanoTime()
    try {
      val per = math.max(1, math.ceil(docs.length.toDouble / batches).toInt)
      // event time: doc index in replay order, one second per doc (ts
      // rides along but is inert — lit-zero horizonless semantics —
      // unless the horizon arm is on)
      docs.zipWithIndex.map { case ((id, tx), i) => (id, tx, i * 1000L) }
        .grouped(per).foreach { b =>
          val s0 = System.nanoTime()
          in.addData(b.toIndexedSeq); q.processAllAvailable()
          batchMs += (System.nanoTime() - s0) / 1000000L
          Option(q.lastProgress).foreach { p =>
            if (p.stateOperators.nonEmpty)
              stateRows += p.stateOperators(0).numRowsTotal
          }
        }
    } finally q.stop()
    val wallSec = (System.nanoTime() - t0) / 1e9
    val sorted = batchMs.toSeq.sorted
    val p50 = if (sorted.isEmpty) 0L else sorted(sorted.length / 2)
    val line =
      s"""{"metric":"dedup_stream","sf":"$sfDir","tiles":$tiles,""" +
        s""""docs":${docs.length},"batches":${batchMs.length},""" +
        s""""pairs":${pairCount.get()},"wall_sec":${math.rint(wallSec * 1000) / 1000},""" +
        s""""docs_per_sec":${math.rint(docs.length / wallSec)},""" +
        s""""batch_ms_p50":$p50,"batch_ms_max":${sorted.lastOption.getOrElse(0L)},""" +
        s""""horizon_sec":${horizonSec.getOrElse(0L)},""" +
        s""""state_rows_max":${if (stateRows.isEmpty) 0L else stateRows.max},""" +
        s""""state_rows_final":${stateRows.lastOption.getOrElse(0L)}}"""
    // stdout + stderr, the Bench convention
    println(line)
    System.err.println(line)
    spark.stop()
  }
}
