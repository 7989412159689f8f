package graft.stream

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.queries.TextOps

/** One emitted near-duplicate candidate: `a_id < b_id`, `est_jaccard`
  * the K-entry MinHash agreement fraction rounded to 6dp — the exact
  * row shape of the batch q131 (`TextOps.minhashPairsBounded`). */
case class NearDupPair(a_id: Long, b_id: Long, est_jaccard: Double)

/** One banded doc row entering a bucket group; `ts` is the event-time
  * epoch millis used by the idle horizon (0 when no horizon is set —
  * the column is synthesized so one state function serves both modes). */
private[stream] case class BandedDoc(band: Int, bucket: String,
    doc_id: Long, sig: Seq[Long], ts: Long)

/** Per-(band, bucket) stream state: the signatures of the members seen
  * so far (≤ cap of them), or the saturated tombstone (empty members,
  * flag set) once the bucket has proven itself a boilerplate/template
  * signal. */
private[stream] case class BucketState(members: Seq[(Long, Seq[Long])],
    saturated: Boolean)

/** Streaming near-duplicate detection — the ONLINE face of the
  * oracle-gated batch q131 (bounded-bucket MinHash LSH,
  * `queries/TextOps.scala`): documents arriving on a stream are
  * signed with the SAME native one-pass MinHash expression, banded
  * with the SAME band/bucket derivation, and each new document emits
  * a candidate pair against every previously seen member of each of
  * its buckets — so a near-duplicate of a document ingested three
  * batches (or three days) ago is caught the moment it arrives,
  * without ever re-scanning the corpus. This is the crawl-ingest shape
  * of the dedup stage: the batch form re-reads everything to answer
  * "what duplicates exist", the stream form answers "is THIS new doc a
  * duplicate" at arrival. State per key is bounded by the cap; the KEY
  * COUNT is bounded by the idle horizon when one is set (below) — with
  * `idleHorizon = None` it grows with every (band, bucket) ever seen,
  * which is only acceptable for a bounded-corpus replay, never for an
  * unbounded crawl.
  *
  * Semantics vs the batch twin (spec-pinned in DedupStreamSpec):
  *
  *  - A bucket whose population stays ≤ cap contributes exactly the
  *    batch q131 pairs — same candidates, same est_jaccard.
  *  - A bucket SATURATES when its (cap+1)-th member arrives: it emits
  *    nothing from then on and its state collapses to a tombstone
  *    (members cleared — the cap·C(cap,2) work/output bound is the
  *    q131 linearity rule, held online). The pairs its first `cap`
  *    members already emitted STAND: an online operator cannot
  *    retract history when a bucket later proves over-cap, and those
  *    docs' true near-duplicates keep colliding in their other,
  *    discriminative bands (the same rationale q131 cites for dropping
  *    over-cap buckets entirely). This PREFIX-pair set is the one
  *    documented divergence from the batch form.
  *  - A pair colliding in SEVERAL bands is emitted by each colliding
  *    band, always in the SAME micro-batch (emission happens at the
  *    later doc's arrival batch in every band), so exactly-once output
  *    is one `dropDuplicates` inside the consumer's `foreachBatch` —
  *    never a cross-batch state question. flatMapGroupsWithState must
  *    be the last stateful operator in the plan, so the dedup belongs
  *    to the sink side by construction.
  *  - With `idleHorizon = Some(d)` (the crawl-ingest configuration),
  *    a bucket whose LAST arrival is more than `d` of EVENT time
  *    behind the stream's watermark is EVICTED — members and
  *    tombstones alike — so total state is O(buckets touched within
  *    the horizon), not O(buckets ever seen). A doc arriving after its
  *    bucket was evicted re-admits the bucket from empty: pairs
  *    against evicted members are NOT emitted, and a once-saturated
  *    bucket starts a fresh cap budget. This recency window is the
  *    same honest divergence class as the saturation prefix (an online
  *    operator with bounded state cannot pair against members it has
  *    aged out), and the same event-time idiom as
  *    [[StreamOps.interestStream]]'s idle horizon: `EventTimeTimeout`
  *    plus a 0-delay watermark on `ts` (epoch millis), so a backfill
  *    replayed at 1000× speed evicts exactly the buckets the live run
  *    would have — and the micro-batch engine can quiesce
  *    (`ProcessingTimeTimeout` busy-loops `processAllAvailable`).
  *
  * Scale shape: the signature is a pure projection (no shuffle), the
  * band explode is 4 rows/doc, and the only exchange is the groupBy on
  * (band, bucket) — the same shuffle key as the batch pair join. State
  * is O(active buckets · cap) signatures; saturated buckets hold only
  * a tombstone, so corpus skew (the template bucket that breaks
  * all-pairs LSH) BOUNDS state instead of exploding it, and the idle
  * horizon bounds the bucket count itself on an unbounded stream.
  */
object DedupStream {

  /** Wire the banding over a streaming (doc_id, text) frame and run
    * per-bucket incremental pair emission. Returns the APPEND-mode
    * candidate stream; dedupe per micro-batch at the sink (see class
    * doc). `cap` defaults to the batch q131 bucket cap.
    *
    * `idleHorizon`: event-time idle eviction horizon for bucket state
    * (class doc). When set, `docs` MUST carry a `ts` column of
    * event-time epoch millis; when `None` (default), behavior and
    * state growth are exactly the pre-horizon operator's. */
  def nearDupPairs(docs: DataFrame,
                   cap: Int = TextOps.lshBucketCapShared,
                   idleHorizon: Option[java.time.Duration] = None)
      : Dataset[NearDupPair] = {
    val s = docs.sparkSession
    import s.implicits._
    require(cap > 0, s"bucket cap must be positive, got $cap")
    idleHorizon.foreach { _ =>
      require(docs.columns.contains("ts"),
        "idleHorizon needs an event-time `ts` column (epoch millis)")
    }
    val sigLen = TextOps.lshSigLen
    val withTs =
      if (docs.columns.contains("ts")) docs.select(col("doc_id"), col("text"), col("ts"))
      else docs.select(col("doc_id"), col("text"), lit(0L).as("ts"))
    val signed = withTs
      .select(col("doc_id"),
        TextOps.sigColShared(col("text")).as("sig"), col("ts"))
      .where(col("sig").isNotNull)
    val bandedDf = TextOps.bandedKeepSig(signed)
      .select(col("band"), col("bucket"), col("doc_id"), col("sig"), col("ts"))
    val banded = (idleHorizon match {
      case Some(_) =>
        bandedDf
          .withColumn("eventTime", timestamp_millis(col("ts")))
          .withWatermark("eventTime", "0 milliseconds")
      case None => bandedDf
    }).as[BandedDoc]
    val timeoutConf =
      if (idleHorizon.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    banded
      .groupByKey(r => (r.band, r.bucket))
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf) {
        (_: (Int, String), rows: Iterator[BandedDoc],
         state: GroupState[BucketState]) =>
          if (state.hasTimedOut) {
            // idle past the horizon: members and tombstones evict alike;
            // a later arrival re-admits this bucket from empty
            state.remove()
            Iterator.empty
          } else {
            /** re-arm the event-time timer a full horizon past this
              * batch's newest arrival (clamped above the watermark, as
              * setTimeoutTimestamp requires — the interestStream idiom). */
            def arm(maxTs: Long): Unit = idleHorizon.foreach { d =>
              state.setTimeoutTimestamp(math.max(maxTs + d.toMillis,
                state.getCurrentWatermarkMs() + 1))
            }
            val st = state.getOption.getOrElse(BucketState(Nil, saturated = false))
            if (st.saturated) {
              // tombstoned buckets emit nothing, but their timer re-arms:
              // a template bucket that keeps arriving keeps its tombstone,
              // one that goes quiet is evicted with everything else
              var maxTs = Long.MinValue
              rows.foreach(r => maxTs = math.max(maxTs, r.ts))
              if (maxTs != Long.MinValue) arm(maxTs)
              Iterator.empty
            } else {
              // batch-internal order is not guaranteed by the engine;
              // sort by doc_id (and collapse any replayed duplicate doc)
              // so the prefix semantics are deterministic under replay
              val arriving = rows.toArray.groupBy(_.doc_id).values
                .map(_.head).toArray.sortBy(_.doc_id)
                .filterNot(d => st.members.exists(_._1 == d.doc_id))
              var members = st.members.toVector
              var saturated = false
              val out = Vector.newBuilder[NearDupPair]
              for (d <- arriving if !saturated) {
                if (members.size + 1 > cap) saturated = true
                else {
                  for ((mid, msig) <- members) {
                    var eq = 0
                    var k = 0
                    while (k < sigLen) {
                      if (msig(k) == d.sig(k)) eq += 1
                      k += 1
                    }
                    val est = math.rint(eq.toDouble / sigLen * 1e6) / 1e6
                    out += (if (mid < d.doc_id) NearDupPair(mid, d.doc_id, est)
                            else NearDupPair(d.doc_id, mid, est))
                  }
                  members = members :+ ((d.doc_id, d.sig))
                }
              }
              state.update(
                if (saturated) BucketState(Nil, saturated = true)
                else BucketState(members, saturated = false))
              if (arriving.nonEmpty) arm(arriving.map(_.ts).max)
              out.result().iterator
            }
          }
      }
  }
}
