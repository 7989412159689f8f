package graft.stream

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Streaming semantics per SURVEY §2.9, driven deterministically with
  * MemoryStream (ref smoke examples: `/root/reference/test/
  * streaming_test.py` docstring transcripts are the golden outputs). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("ST1/A1 word count matches the reference golden transcript") {
    // ref test/streaming_test.py:40-53: lines of words → counts
    implicit val sc = spark.sqlContext
    val in = MemoryStream[String]
    val counts = in.toDF().withColumnRenamed("value", "line")
      .withColumn("word", explode(split($"line", " ")))
      .groupBy("word").count()
    val q = counts.writeStream.outputMode("complete")
      .format("memory").queryName("wc").start()
    in.addData("apache spark", "apache hadoop")
    q.processAllAvailable()
    val got = spark.table("wc").as[(String, Long)].collect().toMap
    assert(got == Map("apache" -> 2L, "spark" -> 1L, "hadoop" -> 1L))
    // second batch accumulates (complete mode)
    in.addData("spark streaming")
    q.processAllAvailable()
    val got2 = spark.table("wc").as[(String, Long)].collect().toMap
    assert(got2 == Map("apache" -> 2L, "spark" -> 2L, "hadoop" -> 1L,
      "streaming" -> 1L))
    q.stop()
  }

  test("streaming CMS: the sketch aggregates incrementally and equals batch") {
    // q98's Count-Min synopsis as a streaming aggregate: because the
    // Aggregator is a true partial aggregate (merge = elementwise add),
    // the state store holds one d×w table per group and each batch
    // merges into it — the streaming face of the same mergeability the
    // batch plan relies on.
    implicit val sc = spark.sqlContext
    graft.expr.GraftFunctions.register(spark)
    val D = 4; val W = 256
    val cellsExpr = "transform(sequence(0, 3), i -> CAST(i AS BIGINT) * 256 + " +
      "pmod(CAST(conv(substring(md5(concat('cm', CAST(i AS STRING), '_', t)), " +
      "1, 8), 16, 10) AS BIGINT), 256))"
    val in = MemoryStream[String]
    val sk = in.toDF().withColumnRenamed("value", "t")
      .selectExpr(s"cms_4x256($cellsExpr) AS cells")
    val q = sk.writeStream.outputMode("complete")
      .format("memory").queryName("cms_stream").start()
    val batch1 = Seq("alpha", "beta", "alpha")
    val batch2 = Seq("gamma", "alpha", "beta")
    val batch3 = Seq("delta", "gamma", "alpha")
    Seq(batch1, batch2, batch3).foreach { b =>
      in.addData(b: _*); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("cms_stream").as[Seq[Long]].head()
    val batch = (batch1 ++ batch2 ++ batch3).toDF("t")
      .selectExpr(s"cms_4x256($cellsExpr) AS cells").as[Seq[Long]].head()
    assert(streamed == batch)
    assert(streamed.sum == 9L * D) // one increment per row per hash row
  }

  test("streaming exact dedup: a duplicate arriving batches later emits once") {
    // q26's exact dedup as a stream: dropDuplicates holds the seen-key
    // set in the state store, so a replayed event in a LATER micro-batch
    // is suppressed, not re-emitted — the replay-safety face of the
    // dedup pipeline (q85's batch replay-dedup is the offline twin).
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("id", "payload")
      .dropDuplicates("id")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_stream").start()
    in.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    in.addData((1L, "a-replayed"), (3L, "c"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dedup_stream").as[(Long, String)].collect()
    assert(got.length == 3)
    // the FIRST arrival wins; the replay's payload never surfaces
    assert(got.toMap == Map(1L -> "a", 2L -> "b", 3L -> "c"))
  }

  test("streaming Bloom: the filter builds incrementally and equals batch") {
    // q99's Bloom synopsis as a streaming aggregate — the second
    // bounded-state synopsis face: merge is elementwise OR (filter
    // union), so the state store holds one m-bit array and each batch
    // ORs into it; a stream-built filter is bit-identical to the
    // batch-built one over the same elements, and the one-sided
    // guarantee (an inserted element always probes positive) holds on
    // the streamed bits.
    implicit val sc = spark.sqlContext
    graft.expr.GraftFunctions.register(spark)
    val posExpr = "transform(sequence(0, 2), j -> " +
      "pmod(CAST(conv(substring(md5(concat('bf', CAST(j AS STRING), '_', t)), " +
      "1, 8), 16, 10) AS BIGINT), 2048))"
    val in = MemoryStream[String]
    val sk = in.toDF().withColumnRenamed("value", "t")
      .selectExpr(s"bloom_2048($posExpr) AS bits")
    val q = sk.writeStream.outputMode("complete")
      .format("memory").queryName("bloom_stream").start()
    val batch1 = Seq("alpha beta gamma", "delta epsilon zeta")
    val batch2 = Seq("eta theta iota", "alpha beta gamma")
    val batch3 = Seq("kappa lambda mu", "eta theta iota")
    Seq(batch1, batch2, batch3).foreach { b =>
      in.addData(b: _*); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("bloom_stream").as[Seq[Long]].head()
    val batch = (batch1 ++ batch2 ++ batch3).toDF("t")
      .selectExpr(s"bloom_2048($posExpr) AS bits").as[Seq[Long]].head()
    assert(streamed == batch)
    assert(streamed.exists(_ != 0L), "filter stayed empty")
    // one-sided: every inserted element's k positions are set
    val probes = (batch1 ++ batch2 ++ batch3).distinct.toDF("t")
      .selectExpr(s"$posExpr AS ps").as[Seq[Long]].collect()
    probes.foreach { ps =>
      ps.foreach { p =>
        val set = (streamed((p / 32).toInt) >> (p % 32).toInt & 1L) == 1L
        assert(set, s"inserted element's bit $p not set")
      }
    }
  }

  test("streaming HLL: registers build incrementally and equal batch") {
    // q108's HyperLogLog as a streaming aggregate — completes the
    // bounded-state synopsis family's streaming story (CMS: add,
    // Bloom: OR, HLL: elementwise MAX): the state store holds one
    // m-register table and each batch maxes into it, so a stream-built
    // register table is identical to the batch-built one over the same
    // elements — and therefore yields the identical distinct estimate.
    implicit val sc = spark.sqlContext
    graft.expr.GraftFunctions.register(spark)
    val slotExpr = "CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT)"
    val enc = s"(($slotExpr div 67108864) * 32 + " +
      s"CASE WHEN $slotExpr % 67108864 = 0 THEN 27L " +
      s"ELSE 27L - length(bin($slotExpr % 67108864)) END)"
    val in = MemoryStream[String]
    val sk = in.toDF().withColumnRenamed("value", "t")
      .selectExpr(s"hll_64($enc) AS regs")
    val q = sk.writeStream.outputMode("complete")
      .format("memory").queryName("hll_stream").start()
    val batch1 = (1 to 40).map(i => s"u$i")
    val batch2 = (21 to 60).map(i => s"u$i") // overlaps batch1
    val batch3 = (41 to 90).map(i => s"u$i") // overlaps batch2
    Seq(batch1, batch2, batch3).foreach { b =>
      in.addData(b: _*); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("hll_stream").as[Seq[Long]].head()
    val batch = (batch1 ++ batch2 ++ batch3).toDF("t")
      .selectExpr(s"hll_64($enc) AS regs").as[Seq[Long]].head()
    assert(streamed == batch)
    assert(streamed.exists(_ > 0L), "registers stayed empty")
  }

  test("streaming KMV: the k-min set merges across micro-batches and equals batch") {
    // q77's KMV synopsis as a streaming aggregate — the LAST of the
    // bounded-state synopsis family to get its streaming face (CMS:
    // elementwise add, Bloom: elementwise OR, HLL: elementwise max,
    // KMV: two-pointer k-min merge + cut): the state store holds one
    // sorted ≤k array per group and each micro-batch merges into it,
    // so a stream-built k-min set is ELEMENT-identical to the
    // batch-built one over the same inputs — and therefore yields the
    // identical (k-1)·2³²/kth distinct estimate q77 computes.
    implicit val sc = spark.sqlContext
    graft.expr.GraftFunctions.register(spark)
    val hExpr = "CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT)"
    val in = MemoryStream[String]
    val sk = in.toDF().withColumnRenamed("value", "t")
      .selectExpr(s"kmin_distinct64($hExpr) AS mins")
    val q = sk.writeStream.outputMode("complete")
      .format("memory").queryName("kmv_stream").start()
    val batch1 = (1 to 50).map(i => s"u$i")
    val batch2 = (26 to 75).map(i => s"u$i")  // overlaps batch1
    val batch3 = (60 to 120).map(i => s"u$i") // overlaps batch2; crosses k
    Seq(batch1, batch2, batch3).foreach { b =>
      in.addData(b: _*); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("kmv_stream").as[Seq[Long]].head()
    val batch = (batch1 ++ batch2 ++ batch3).toDF("t")
      .selectExpr(s"kmin_distinct64($hExpr) AS mins").as[Seq[Long]].head()
    assert(streamed == batch)
    // 120 distinct elements saturate k=64, so the cut-at-k and the
    // duplicate-absorbing insert were both exercised, sorted invariant
    assert(streamed.length == 64 && streamed == streamed.sorted)
  }

  test("ST3 event parse matches the reference golden table") {
    // ref test/streaming_test.py:107-139: "user movie rating ts" lines
    implicit val sc = spark.sqlContext
    val in = MemoryStream[String]
    val parsed = StreamOps.parseEvents(in.toDF())
    val q = parsed.writeStream.outputMode("append")
      .format("memory").queryName("parsed").start()
    in.addData("196 242 3.0 881250949", "186 302 3.0 891717742")
    q.processAllAvailable()
    val got = spark.table("parsed").as[RatingEvent].collect().sortBy(_.userId)
    assert(got.toSeq == Seq(
      RatingEvent(186, 302, 3.0, 891717742L),
      RatingEvent(196, 242, 3.0, 881250949L)))
    q.stop()
  }

  test("ST4+ST5 stream-static join and interest state follow the F9 recurrence") {
    implicit val sc = spark.sqlContext
    val lambda = 0.05
    val features = Seq(
      (1, Array(1.0, 0.0, 0.0)),
      (2, Array(0.0, 1.0, 0.0)),
      (3, Array(0.0, 0.0, 1.0))).toDF("itemId", "features")

    val in = MemoryStream[String]
    val interests = StreamOps.interestStream(
      StreamOps.enrich(StreamOps.parseEvents(in.toDF()), features),
      dim = 3, lambda = lambda)
    val q = interests.writeStream.outputMode("append")
      .format("memory").queryName("interest").start()

    // batch 1: user 7 rates items 1 (r=4) then 2 (r=2); user 8 rates 3
    in.addData("7 1 4.0 100", "7 2 2.0 200", "8 3 5.0 100")
    q.processAllAvailable()
    // batch 2: user 7 rates item 3 (r=5) — state must carry over
    in.addData("7 3 5.0 300")
    q.processAllAvailable()
    q.stop()

    val expected7 = {
      val s0 = Array(0.0, 0.0, 0.0)
      val s1 = StreamOps.blend(s0, Array(1.0, 0.0, 0.0), 4.0, lambda)
      val s2 = StreamOps.blend(s1, Array(0.0, 1.0, 0.0), 2.0, lambda)
      StreamOps.blend(s2, Array(0.0, 0.0, 1.0), 5.0, lambda)
    }
    val rows = spark.table("interest").as[UserInterest].collect()
    val last7 = rows.filter(_.userId == 7).maxBy(_.nEvents)
    assert(last7.nEvents == 3L)
    last7.interest.zip(expected7).foreach { case (g, e) =>
      assert(math.abs(g - e) < 1e-12)
    }
    val u8 = rows.filter(_.userId == 8).maxBy(_.nEvents)
    assert(u8.nEvents == 1L)
    assert(math.abs(u8.interest(2) - 0.25) < 1e-12) // 0 + 0.05*5*1
  }

  test("F4 sentence shuffle preserves the token multiset (ref streaming_test.py:69-104)") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[String]
    val shuffled = in.toDF()
      .select(split($"value", " ").as("toks"))
      .select(shuffle($"toks").as("shuffled"), $"toks")
    val q = shuffled.writeStream.outputMode("append")
      .format("memory").queryName("shuf").start()
    in.addData("the quick brown fox", "jumps over the lazy dog")
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("shuf")
      .as[(Seq[String], Seq[String])].collect()
    assert(rows.length == 2)
    rows.foreach { case (sh, orig) => assert(sh.sorted == orig.sorted) }
  }

  test("ST6 cosine top-N side output ranks by interest alignment") {
    val features = Seq(
      (1, Array(1.0, 0.0)), (2, Array(0.0, 1.0)),
      (3, Array(0.7071067811865476, 0.7071067811865476)))
      .toDF("itemId", "features")
    val interests = Seq((7, Array(1.0, 0.1))).toDF("userId", "interest")
    val got = StreamOps.topNForUsers(interests, features, 2)
      .select($"itemId", $"rank").as[(Int, Long)].collect().sortBy(_._2)
    assert(got.toSeq == Seq((1, 1L), (3, 2L)))
  }

  test("ST5 state survives a query restart from checkpoint") {
    implicit val sc = spark.sqlContext
    val lambda = 0.05
    val features = Seq((1, Array(1.0, 0.0)), (2, Array(0.0, 1.0)))
      .toDF("itemId", "features")
    val ckpt = java.nio.file.Files.createTempDirectory("interest-ckpt").toString
    val in = MemoryStream[String]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[UserInterest]()
    // memory sink can't recover from a checkpoint; foreachBatch can
    def start() = StreamOps.interestStream(
        StreamOps.enrich(StreamOps.parseEvents(in.toDF()), features),
        dim = 2, lambda = lambda)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[UserInterest], _: Long) =>
        batch.collect().foreach(seen.add); ()
      }
      .start()

    val q1 = start()
    in.addData("7 1 4.0 100")
    q1.processAllAvailable()
    q1.stop()

    val q2 = start() // new query instance, same checkpoint → state recovers
    in.addData("7 2 2.0 200")
    q2.processAllAvailable()
    q2.stop()

    val expected = StreamOps.blend(
      StreamOps.blend(Array(0.0, 0.0), Array(1.0, 0.0), 4.0, lambda),
      Array(0.0, 1.0), 2.0, lambda)
    import scala.jdk.CollectionConverters._
    val last = seen.asScala.filter(_.userId == 7).maxBy(_.nEvents)
    assert(last.nEvents == 2L, "state was lost across restart")
    last.interest.zip(expected).foreach { case (g, e) =>
      assert(math.abs(g - e) < 1e-12)
    }
  }

  test("ST5 idle users are evicted and re-initialize per F9 on return") {
    implicit val sc = spark.sqlContext
    val lambda = 0.05
    val features = Seq((1, Array(1.0, 0.0)), (2, Array(0.0, 1.0)))
      .toDF("itemId", "features")
    val in = MemoryStream[String]
    // 200 ms idle horizon in EVENT time: eviction is driven by the
    // stream's own clock (the watermark), so the test is deterministic
    // — no wall-clock sleeps
    val interests = StreamOps.interestStream(
      StreamOps.enrich(StreamOps.parseEvents(in.toDF()), features),
      dim = 2, lambda = lambda,
      idleTimeout = Some(java.time.Duration.ofMillis(200)))
    val q = interests.writeStream.outputMode("append")
      .format("memory").queryName("interest_evict").start()

    in.addData("7 1 4.0 100") // batch 1: user 7 at t=100; timer at 300
    q.processAllAvailable()
    in.addData("8 2 1.0 600") // batch 2: OTHER user moves the watermark
    q.processAllAvailable()   // past 300 → user 7's timer fires, evicted
    in.addData("7 2 2.0 700") // batch 3: user 7 returns after eviction
    q.processAllAvailable()
    q.stop()

    val rows7 = spark.table("interest_evict").as[UserInterest].collect()
      .filter(_.userId == 7)
    // eviction emits no row (two touches → exactly two rows), and the
    // returning user folds from the ZERO vector — the F9 cold start —
    // not from the pre-eviction state (which would read nEvents == 2)
    assert(rows7.length == 2)
    assert(rows7.forall(_.nEvents == 1L),
      "evicted user must re-initialize, not resume")
    val expected = StreamOps.blend(Array(0.0, 0.0), Array(0.0, 1.0), 2.0, lambda)
    val ret = rows7.find(_.interest(1) != 0.0).get
    ret.interest.zip(expected).foreach { case (g, e) =>
      assert(math.abs(g - e) < 1e-12)
    }
  }

  test("ST6+J4 end-to-end: foreachBatch scores top-N and upserts the recs table") {
    implicit val sc = spark.sqlContext
    val features = Seq(
      (1, Array(1.0, 0.0)), (2, Array(0.0, 1.0)), (3, Array(0.6, 0.8)))
      .toDF("itemId", "features")
    val in = MemoryStream[String]
    val interests = StreamOps.interestStream(
      StreamOps.enrich(StreamOps.parseEvents(in.toDF()), features),
      dim = 2, lambda = 0.05)
    // the recommendations "table" maintained across micro-batches via
    // MERGE semantics keyed on (userId, rank) — ref §3.2 shape end to end
    var recs = Seq.empty[(Int, Int, Long)].toDF("userId", "itemId", "rank")
    val q = interests.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[UserInterest], _: Long) =>
        val topn = StreamOps.topNForUsers(batch.toDF(), features, 2)
          .select(col("userId"), col("itemId"), col("rank"))
        recs = graft.io.Upsert.merge(recs, topn, Seq("userId", "rank"))
          .localCheckpoint(true) // pin: batch DataFrames die with the batch
        ()
      }.start()
    def snapshot() = recs.select($"userId", $"itemId", $"rank")
      .as[(Int, Int, Long)].collect().sortBy(_._3)
    in.addData("7 1 5.0 100") // interest → item 1 direction
    q.processAllAvailable()
    val round1 = snapshot()
    in.addData("7 2 5.0 200", "7 2 5.0 300") // interest swings to item 2
    q.processAllAvailable()
    q.stop()
    val round2 = snapshot()
    assert(round1.head == ((7, 1, 1L))) // rank-1 rec was item 1
    assert(round2.head == ((7, 2, 1L))) // upsert replaced it with item 2
    assert(round2.length == 2)          // still exactly k slots per user
  }

  test("stream-stream join matches clicks to impressions within the time bound") {
    implicit val sc = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val imp = MemoryStream[(Int, java.sql.Timestamp)]
    val clk = MemoryStream[(Int, java.sql.Timestamp)]
    val impDF = imp.toDF().toDF("imp_id", "imp_ts").withWatermark("imp_ts", "10 minutes")
    val clkDF = clk.toDF().toDF("clk_id", "clk_ts").withWatermark("clk_ts", "10 minutes")
    val joined = impDF.join(clkDF, expr(
      "imp_id = clk_id AND clk_ts BETWEEN imp_ts AND imp_ts + interval 10 minutes"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj").start()
    imp.addData((1, ts("2024-01-01 10:00:00")), (2, ts("2024-01-01 10:00:00")))
    clk.addData((1, ts("2024-01-01 10:05:00")),  // within bound → joins
                (2, ts("2024-01-01 10:30:00")))  // too late → dropped
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ssj").select($"imp_id").as[Int].collect()
    assert(got.toSeq == Seq(1))
  }

  test("dropDuplicatesWithinWatermark dedups replayed events") {
    implicit val sc = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val in = MemoryStream[(Int, java.sql.Timestamp)]
    val deduped = in.toDF().toDF("id", "et")
      .withWatermark("et", "1 hour")
      .dropDuplicatesWithinWatermark(Seq("id"))
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup").start()
    in.addData((1, ts("2024-01-01 10:00:00")), (2, ts("2024-01-01 10:01:00")))
    q.processAllAvailable()
    in.addData((1, ts("2024-01-01 10:02:00"))) // replay within watermark
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dedup").select($"id").as[Int].collect().sorted
    assert(got.toSeq == Seq(1, 2))
  }

  test("streaming session windows merge across batches and finalize on watermark") {
    // q89 oracle-checks the batch face of session_window; this drives the
    // STREAMING face: a session must keep absorbing in-gap events across
    // micro-batches and only emit (append mode) once the watermark passes
    // its end.
    implicit val sc = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val in = MemoryStream[(Int, java.sql.Timestamp)]
    val sess = in.toDF().toDF("user_id", "et")
      .withWatermark("et", "30 minutes")
      .groupBy($"user_id", session_window($"et", "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select($"user_id", $"session_window.start".as("ws"), $"n")
    val q = sess.writeStream.outputMode("append")
      .format("memory").queryName("sessw").start()
    // batch 1: two events 10 min apart -> one open session
    in.addData((1, ts("2024-01-01 10:00:00")), (1, ts("2024-01-01 10:10:00")))
    q.processAllAvailable()
    // batch 2: 25 min after the last event (< gap) -> extends the SAME session
    in.addData((1, ts("2024-01-01 10:35:00")))
    q.processAllAvailable()
    // batch 3: a far-future event advances the watermark past the session's
    // end (11:05) -> the merged 3-event session finalizes; the new session
    // stays open and unemitted
    in.addData((2, ts("2024-01-01 13:00:00")))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sessw")
      .select($"user_id", $"ws", $"n")
      .as[(Int, java.sql.Timestamp, Long)].collect().toSeq
    assert(got == Seq((1, ts("2024-01-01 10:00:00"), 3L)), s"got $got")
  }

  test("ST2 live socket source: real TCP transport feeds the same parse path") {
    // ref src/streaming/streaming_rec.py:173-179 reads its rating events
    // from a TCP socket; every other spec drives the DAG with MemoryStream,
    // so this one exercises the actual `format("socket")` source against a
    // live localhost ServerSocket (mirroring test/streaming_test.py:24-30).
    val server = new java.net.ServerSocket(0)
    val lines = Seq("196 242 3.0 881250949", "186 302 3.0 891717742",
      "22 377 1.0 878887116")
    val writer = new Thread(() => {
      try {
        val sock = server.accept()
        val out = new java.io.PrintWriter(sock.getOutputStream, true)
        lines.foreach(out.println)
        out.flush()
        // hold the connection open until the test is done draining
        try Thread.sleep(60000L)
        catch { case _: InterruptedException => () }
        sock.close()
      } catch { case _: java.net.SocketException => () }
    })
    writer.setDaemon(true)
    writer.start()
    val parsed = StreamOps.parseEvents(
      spark.readStream.format("socket")
        .option("host", "localhost")
        .option("port", server.getLocalPort)
        .load())
    val q = parsed.writeStream.outputMode("append")
      .format("memory").queryName("socket_parsed").start()
    try {
      // socket delivery is async: drain until all lines arrived (bounded)
      val deadline = System.currentTimeMillis() + 30000L
      while (spark.table("socket_parsed").count() < lines.size &&
             System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        Thread.sleep(50L)
      }
      val got = spark.table("socket_parsed").as[RatingEvent]
        .collect().sortBy(_.userId)
      assert(got.toSeq == Seq(
        RatingEvent(22, 377, 1.0, 878887116L),
        RatingEvent(186, 302, 3.0, 891717742L),
        RatingEvent(196, 242, 3.0, 881250949L)))
    } finally {
      q.stop()
      writer.interrupt()
      server.close()
    }
  }

  test("event-time tumbling window with watermark finalizes past windows") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[java.sql.Timestamp]
    val agg = StreamOps.windowedCounts(
      in.toDF().withColumnRenamed("value", "et"), "et", "10 minutes", "1 hour")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("windowed").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    in.addData(ts("2024-01-01 10:05:00"), ts("2024-01-01 10:40:00"),
               ts("2024-01-01 11:10:00"))
    q.processAllAvailable()
    // advance watermark far past the 10:00 and 11:00 windows
    in.addData(ts("2024-01-01 15:00:00"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("windowed")
      .select(date_format($"ws", "HH:mm").as("w"), $"n")
      .as[(String, Long)].collect().toMap
    assert(got("10:00") == 2L && got("11:00") == 1L)
  }

  test("streaming dedup drops in-horizon duplicates and bounds state by watermark") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, java.sql.Timestamp)]
    val dedup = StreamOps.dedupStream(
      in.toDF().toDF("doc_id", "et"), "et", "10 minutes", Seq("doc_id"))
    val q = dedup.writeStream.outputMode("append")
      .format("memory").queryName("dedup_stream").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // duplicate doc 1 within the same batch AND across batches in-horizon
    in.addData((1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 10:01:00")),
               (2L, ts("2024-01-01 10:02:00")))
    q.processAllAvailable()
    in.addData((1L, ts("2024-01-01 10:05:00")))   // still a dup: inside horizon
    q.processAllAvailable()
    // advance event time far past the watermark: doc 1's state is evicted,
    // so the same key is accepted again (horizon semantics, bounded state)
    in.addData((9L, ts("2024-01-01 12:00:00")))
    q.processAllAvailable()
    in.addData((1L, ts("2024-01-01 12:01:00")))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dedup_stream")
      .select($"doc_id", date_format($"et", "HH:mm").as("m"))
      .as[(Long, String)].collect().sorted
    assert(got.count(_._1 == 1L) == 2,
      s"expected doc 1 kept exactly twice (once per horizon): ${got.mkString(",")}")
    assert(got.toSet == Set((1L, "10:00"), (2L, "10:02"), (9L, "12:00"), (1L, "12:01")))
  }
}
