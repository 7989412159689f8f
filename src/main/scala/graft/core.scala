package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** A named engine query: a Spark DataFrame pipeline over the fixture
  * tables in `sfDir`, plus (when SQL-expressible) an equivalent ANSI SQL
  * text for the driver's DuckDB oracle. Column names/order and row order
  * are made to match the oracle exactly (see SURVEY.md §5.2).
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)

/** Stable per-session ids for session-scoped memo keys (the MinHash
  * signatures of q28/q29/q72/q131, q83 index dirs). `System.identityHashCode` is NOT stable enough — it
  * can alias after a session is garbage-collected, serving a dead
  * session's artifact to a new one. A [[java.util.WeakHashMap]] keyed by
  * the live session object hands out one UUID per session and lets the
  * entry vanish with the session; no alias is possible while the key is
  * reachable.
  */
object SessionIds {
  private val ids = new java.util.WeakHashMap[SparkSession, String]()
  private val evictors =
    new java.util.concurrent.CopyOnWriteArrayList[String => Unit]()
  // ONE listener per SparkContext, firing every sid registered under it:
  // a per-session listener on the shared context accumulated listeners
  // without bound in a long-lived driver cycling newSession()s. Weak keys
  // let a stopped-and-collected context's entry vanish with it.
  private val contextSids = new java.util.WeakHashMap[
    org.apache.spark.SparkContext, java.util.Set[String]]()

  /** Register a callback invoked with a session's id when that session's
    * SparkContext stops. Memo caches keyed on session ids MUST register
    * one: their values (DataFrames, index dirs) strongly reference the
    * session, so without eviction the WeakHashMap entry — and the whole
    * session object graph — stays reachable forever in a long-lived
    * multi-session driver. */
  def registerEvictor(f: String => Unit): Unit = evictors.add(f)

  /** What the context-stop listener runs; exposed for the eviction spec
    * (stopping the shared test session would kill every other suite). */
  private[graft] def fireEviction(sid: String): Unit =
    evictors.forEach(f => f(sid))

  def of(s: SparkSession): String = ids.synchronized {
    var created: Option[String] = None
    val id = ids.computeIfAbsent(s, _ => {
      val fresh = java.util.UUID.randomUUID().toString
      created = Some(fresh)
      fresh
    })
    created.foreach { sid =>
      // sessions sharing a context (newSession()) die with it, so context
      // stop is the right signal; the context's single listener drains
      // every sid registered while it lived
      val sc = s.sparkContext
      val existing = contextSids.get(sc)
      if (existing != null) existing.add(sid)
      else {
        val sids = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
        sids.add(sid)
        try {
          sc.addSparkListener(
            new org.apache.spark.scheduler.SparkListener {
              override def onApplicationEnd(
                  e: org.apache.spark.scheduler.SparkListenerApplicationEnd)
                  : Unit =
                sids.forEach(fireEviction)
            })
          contextSids.put(sc, sids)
        } catch { case _: IllegalStateException => fireEviction(sid) }
      }
    }
    id
  }
}

/** Lineage truncation for iterative and write-many relations. */
object Lineage {

  /** Eager localCheckpoint re-rooted as a FRESH LogicalRDD leaf — the
    * table swap of the Cypher store (`cypher.CypherCompat`), whose every
    * write re-roots the table it rewrote, and the engine's one
    * `localCheckpoint`. (The gradient-descent trainers used it once per
    * epoch until they carried their factor tables as a driver-side
    * model, as q72 now carries its labels; the measurements below are
    * the trainers'.)
    *
    * Spark 4's `localCheckpoint` rewrites the origin plan's statistics
    * onto the checkpoint leaf (`LogicalRDD.rewriteStatsAndConstraints`),
    * and size-only estimation multiplies children's `sizeInBytes`
    * through every join — so an iterative relation whose round-k tables
    * are joins of round-(k−1) checkpoints compounds the stat doubly
    * exponentially. The BigInt's DIGIT COUNT roughly doubles per epoch:
    * by ~15 epochs it has ~10⁵ digits and the driver sits for minutes
    * inside `BigInteger.multiply` under
    * `SizeInBytesOnlyStatsPlanVisitor` (observed on the holdout spec:
    * 12 epochs ≈ 2 min wall, 24 epochs > 30 min, 100% driver CPU, any
    * data size — the cost is arithmetic on the stat itself, not the
    * data). Re-wrapping the checkpointed RDD in `createDataFrame` makes
    * a leaf whose stats are the CONSTANT `defaultSizeInBytes`, so
    * planning cost stays flat in epochs (and in writes); AQE re-plans
    * joins from real runtime shuffle sizes anyway.
    *
    * Negative result, measured: re-wrapping the INTERNAL-row RDD
    * instead (`internalCreateDataFrame(qe.toRdd, schema)` via an
    * org.apache.spark.sql shim, to skip this path's external-Row round
    * trip) benched ~30% SLOWER on the trainers (q86-q88/q106/q107:
    * 61.6 s vs 47.1 s, same set, the slower run under LIGHTER host
    * load) — the Row path deserializes through a codegen'd projection
    * while the raw internal-row scan copies per row. The public API
    * stays. */
  private[graft] def checkpointLeaf(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint(true)
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }
}

/** Parquet fixture-table loaders (TESTDATA.md).
  *
  * All reads go through `spark.read.parquet` so Catalyst gets native
  * column pruning + predicate pushdown into the scan; at cluster scale
  * these would be partitioned tables and the same code applies.
  */
object Tables {
  /** Inferred schemas by (table path, the session's parquet settings),
    * each with the data-file listing `(path, length, modification time)`
    * it was inferred from. */
  private val schemas = new java.util.concurrent.ConcurrentHashMap[
    (String, Seq[(String, String)]), (Seq[(String, Long, Long)], StructType)]()

  /** The parquet table `dir/name.parquet`, read with its memoized schema:
    * Spark infers a parquet schema with a Spark job (footer reads), even
    * for one file, and every catalog query loads its tables afresh. The
    * memo is keyed on the path, every file under it (path, length,
    * modification time) and the session's `spark.sql.parquet.*` /
    * `spark.sql.legacy.parquet.*` settings, which change what is inferred
    * ([[events]] flips `nanosAsLong`), so a rewritten table or a changed
    * setting infers afresh. A missing path reads as before, with Spark's
    * own error. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) spark.read.parquet(path)
    else {
      val files = Seq.newBuilder[(String, Long, Long)]
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      val listing = files.result().sorted
      val settings = spark.conf.getAll.toSeq.filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") ||
          k.startsWith("spark.sql.legacy.parquet.")
      }.sorted
      val key = (path, settings)
      val schema = Option(schemas.get(key)).filter(_._1 == listing)
        .map(_._2).getOrElse {
          val inferred = spark.read.parquet(path).schema
          schemas.put(key, (listing, inferred))
          inferred
        }
      spark.read.schema(schema).parquet(path)
    }
  }

  def region(s: SparkSession, d: String): DataFrame   = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** The events table has shipped with two `ts` physical types across
    * fixture generations: TIMESTAMP(NANOS) (which Spark 4 refuses by
    * default — read nanos as long and truncate to micros, matching
    * DuckDB's ns→us cast) and TIMESTAMP(MICROS, isAdjustedToUTC=false)
    * (which Spark 4 infers as TIMESTAMP_NTZ — cast to TimestampType;
    * the session timezone is pinned to UTC by every entrypoint, so the
    * cast matches DuckDB's naive-as-UTC epoch() exactly). Branch on the
    * loaded dtype so both generations yield the same micros-precision
    * TimestampType `ts`.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import org.apache.spark.sql.functions._
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer division, NOT floor(ts/1000): `/` casts longs to double
        // and 2024-era epoch nanos (~1.7e18) exceed double's 2^53 exact
        // range — ~1.5% of rows land 1 µs off the oracle's exact ns→us cast.
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
