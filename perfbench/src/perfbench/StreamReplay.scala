package perfbench

import java.nio.file.Paths

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.stream.{RatingEvent, StreamOps, UserInterest}

/** `stream-replay`: the seeded rating-event log is replayed through a
  * `MemoryStream` into one long-running query, one micro-batch at a time
  * (add the batch's events, wait until the query has processed
  * everything): `StreamOps.enrich` → `interestStream` with the idle
  * horizon → an exact `topNForUsers(…, 10)` per batch inside
  * `foreachBatch`. Each operation is one micro-batch; the log's batches
  * are split into `a.warmup + a.rounds` equal rounds of consecutive
  * batches, the first `a.warmup` of which are untimed (query start, first
  * state-store versions, JIT). Timed rounds therefore measure the query in
  * its steady state, with cohorts arriving and retired users being
  * evicted. The last
  * emitted vector and last served list per user are written out for the
  * checks in `perfbench/run.py`. */
object StreamReplay {
  import Main._

  def run(spark: SparkSession, a: Args, probe: Probe,
          tracer: Tracer): Seq[Map[String, Any]] = {
    import spark.implicits._
    val sc = spark.sparkContext
    val log = spark.read.parquet(Paths.get(a.data, "stream_events.parquet").toString)
      .select("batch", "userId", "itemId", "rating", "ts")
      .as[(Int, Int, Int, Double, Long)].collect()
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, es) => es.map(e => RatingEvent(e._2, e._3, e._4, e._5)).toSeq }
    val nRounds = a.warmup + a.rounds
    require(log.size % nRounds == 0,
      s"${log.size} micro-batches do not split into $nRounds equal rounds")
    val perRound = log.size / nRounds
    val items = Main.items(spark, a.data).cache()
    val dim = items.select(org.apache.spark.sql.functions.size($"features")).as[Int].head()
    val horizon = Some(java.time.Duration.ofMillis(a.idleMs))

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[RatingEvent]
    val vectors = mutable.Map.empty[Int, (Seq[Double], Long)]
    val served = mutable.Map.empty[Int, Seq[(Int, Double)]]
    var serveNs = List.empty[Long]
    var batchSpan = -1
    val query = StreamOps.interestStream(StreamOps.enrich(in.toDS(), items), dim,
        idleTimeout = horizon)
      .writeStream.outputMode("append")
      .foreachBatch { (ds: Dataset[UserInterest], _: Long) =>
        ds.persist()
        ds.collect().foreach(u => vectors(u.userId) = (u.interest.toSeq, u.nEvents))
        tracer.span("stream.serve", "", batchSpan) { _ =>
          val t0 = System.nanoTime()
          StreamOps.topNForUsers(ds.toDF(), items, 10)
            .select($"userId", $"itemId", $"rank", $"score")
            .as[(Int, Int, Long, Double)].collect()
            .groupBy(_._1).foreach { case (u, rs) =>
              served(u) = rs.sortBy(_._3).map(r => (r._2, r._4)).toSeq }
          serveNs ::= System.nanoTime() - t0
        }
        ds.unpersist()
        ()
      }
      .option("checkpointLocation", Paths.get(a.out, "checkpoint").toString)
      .start()
    var dead: Option[String] = None

    val rounds = log.grouped(perRound).zipWithIndex.map { case (roundLog, round) =>
      if (round == a.warmup) tracer.spans.clear()
      serveNs = Nil
      val progressBefore = query.recentProgress.length
      val roundStart = System.nanoTime()
      val roundStartMs = System.currentTimeMillis()
      val before = probe.snapshot(sc)
      val batches = roundLog.zipWithIndex.map { case (events, i) =>
        val b = round * perRound + i
        val t0 = System.nanoTime()
        val ok = dead.isEmpty && (try {
          tracer.span("bench.op", s"batch$b", -1) { id =>
            batchSpan = id
            in.addData(events)
            query.processAllAvailable()
          }
          true
        } catch { case NonFatal(e) =>
          dead = Some(message(e))
          System.err.println(s"[perfbench] batch $b FAILED: ${dead.get}")
          false
        })
        Map("ok" -> ok, "wall_s" -> (System.nanoTime() - t0) / 1e9, "events" -> events.size)
      }
      val wallS = (System.nanoTime() - roundStart) / 1e9
      val gapS = if (a.traced) probe.gapMs(roundStartMs, System.currentTimeMillis()) / 1e3 else 0.0
      val c = probe.snapshot(sc) - before
      val progress = query.recentProgress.toSeq.drop(progressBefore)
      val ops = progress.flatMap(_.stateOperators.headOption)
      def dur(k: String) = progress.map(p => Option(p.durationMs.get(k)).map(_.toLong).getOrElse(0L))
      Map("round" -> round, "wall_s" -> wallS, "batches" -> batches,
        "error" -> dead.orNull,
        "stream" -> Map(
          "batches" -> progress.size,
          "plan_ms" -> dur("queryPlanning"), "add_batch_ms" -> dur("addBatch"),
          "commit_ms" -> dur("commitOffsets"), "serve_ms" -> serveNs.reverse.map(_ / 1e6),
          "state_rows" -> ops.lastOption.map(_.numRowsTotal).getOrElse(0L),
          "state_updated" -> ops.map(_.numRowsUpdated).sum,
          "state_removed" -> ops.map(_.numRowsRemoved).sum,
          "state_mb" -> ops.lastOption.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0),
          "state_commit_ms" -> ops.map(_.commitTimeMs)),
        "gap_s" -> gapS) ++ fields(c)
    }.toList
    val ops = query.recentProgress.toSeq.flatMap(_.stateOperators.headOption)
    query.stop()
    writeJson(Paths.get(a.out, "stream_replay.json"), Map(
      "users" -> vectors.toSeq.sortBy(_._1).map { case (u, (v, n)) =>
        Map("userId" -> u, "nEvents" -> n, "interest" -> v,
          "served" -> served.getOrElse(u, Nil).map { case (i, s) => Seq(i, s) })
      },
      "state_rows" -> ops.lastOption.map(_.numRowsTotal).getOrElse(-1L),
      "state_removed" -> ops.map(_.numRowsRemoved).sum))
    rounds
  }
}
