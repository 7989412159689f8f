package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Paths

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** The benchmark's JVM side: sets up a Spark session the way `graft.Bench`
  * does, runs one workload in closed-loop rounds (untimed warm-up rounds,
  * then timed rounds, one operation at a time) and writes the raw
  * per-operation record, the warm-up outputs and the oracle SQL under
  * `--out`. `perfbench/run.py` checks the outputs and computes the
  * metrics; run it rather than this class.
  *
  * {{{
  * perfbench.Main --workload offline-train|stream-replay
  *   --data DIR --out DIR --cpus N --warmup N --rounds N --setups N --trace 0|1
  *   [--ops q01_pricing_summary,...] [--idle-ms MS]
  * }}}
  */
object Main {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Args(workload: String, data: String, out: String,
      cpus: Int, warmup: Int, rounds: Int, setups: Int, traced: Boolean,
      ops: Seq[String], idleMs: Long)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("data"), m("out"), m("cpus").toInt,
      m("warmup").toInt, m("rounds").toInt,
      m("setups").toInt, m("trace") == "1",
      m.get("ops").toSeq.flatMap(_.split(",")).filter(_.nonEmpty),
      m.getOrElse("idle-ms", "0").toLong)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val (spark, setupS, setupIo) = setUp(a)
    val probe = new Probe(a.traced)
    spark.sparkContext.addSparkListener(probe)
    val tracer = new Tracer(a.traced)
    val rounds = a.workload match {
      case "stream-replay" => StreamReplay.run(spark, a, probe, tracer)
      case _ => BatchRounds.run(spark, a, probe, tracer)
    }
    // heap still reachable after the timed phase: caches, state, memos.
    // Spark's cleaner releases broadcasts and shuffles as their owners are
    // collected, so collect until the figure settles.
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    if (a.traced) {
      val spans = tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
      json.writeValue(Paths.get(a.out, "spans.json").toFile, spans)
    }
    json.writeValue(Paths.get(a.out, "raw.json").toFile, Map(
      "workload" -> a.workload, "setup_s" -> setupS,
      "setup_input_mb" -> setupIo.inputB / 1048576.0,
      "setup_input_rows" -> setupIo.inputRows,
      "heap_mb" -> heapMb, "rounds" -> rounds,
      "self_s" -> (if (a.traced) tracer.selfTimes else Map.empty)))
    spark.stop()
  }

  /** Session factory: `graft.Bench`'s settings, with every scratch path
    * inside `--out`. */
  private def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.local.dir", Paths.get(a.out, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(a.out, "warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  val fixtureTables: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "documents", "embeddings")

  /** The serve-side item table: embedding id and vector as doubles. */
  def items(spark: SparkSession, dir: String) =
    graft.Tables.embeddings(spark, dir)
      .select(col("vec_id").cast("int").as("itemId"),
        col("embedding").cast("array<double>").as("features"))

  /** Sets up `a.setups` times in this JVM and keeps the last session. Each
    * set-up is session start, the workload's fixture tables registered
    * (their parquet footers read: every table for the batch workloads, the
    * embeddings for the stream) and the serve item table cached; the first
    * also counts the JVM's own start. */
  private def setUp(a: Args): (SparkSession, Seq[Double], Counters) = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    var spark: SparkSession = null
    var io = Counters.zero
    val times = (1 to a.setups).map { i =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      val startMs = System.currentTimeMillis()
      spark = session(a)
      val p = new Probe(false)
      spark.sparkContext.addSparkListener(p)
      if (a.workload == "stream-replay") items(spark, a.data).createOrReplaceTempView("items")
      else {
        fixtureTables.foreach(t =>
          graft.Tables.load(spark, a.data, t).createOrReplaceTempView(t))
        graft.Tables.events(spark, a.data).createOrReplaceTempView("events")
      }
      items(spark, a.data).cache().count()
      val s = (System.nanoTime() - t0) / 1e9
      io = p.snapshot(spark.sparkContext)
      spark.sparkContext.removeSparkListener(p)
      if (i == 1) s + (startMs - jvmStartMs) / 1e3 else s
    }
    (spark, times, io)
  }

  /** Engine counters of one operation or round as raw-record fields. */
  def fields(c: Counters): Map[String, Any] = Map("jobs" -> c.jobs,
    "stages" -> c.stages, "tasks" -> c.tasks, "cpu_s" -> c.cpuS,
    "task_run_s" -> c.runMs / 1e3, "gc_s" -> c.gcMs / 1e3,
    "shuffle_read_mb" -> c.shuffleReadB / 1048576.0,
    "shuffle_write_mb" -> c.shuffleWriteB / 1048576.0,
    "spill_mb" -> c.spillB / 1048576.0, "input_mb" -> c.inputB / 1048576.0,
    "input_rows" -> c.inputRows)

  def writeJson(path: java.nio.file.Path, v: Any): Unit = json.writeValue(path.toFile, v)

  def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
}

/** `offline-train`: each operation is one catalog query,
  * called and its result collected. Every round starts with an empty SQL
  * cache and q72's label memo cleared, as `graft.Bench` does per pass. */
object BatchRounds {
  import Main._

  def run(spark: SparkSession, a: Args, probe: Probe,
          tracer: Tracer): Seq[Map[String, Any]] = {
    val sc = spark.sparkContext
    val catalog = graft.SparkEntry.catalog.map(q => q.name -> q).toMap
    val oracle = graft.SparkEntry.oracleSql
    writeJson(Paths.get(a.out, "oracle.json"),
      a.ops.map(n => n -> oracle.get(n).orNull).toMap)
    val reference = mutable.Map.empty[String, Array[Row]]
    val schemas = mutable.Map.empty[String, StructType]

    val rounds = (0 until a.warmup + a.rounds).map { round =>
      if (round == a.warmup) tracer.spans.clear()
      spark.catalog.clearCache()
      graft.queries.TextOps.clearLabelMemo()
      val ops = tracer.span("bench.round", "", -1) { rid =>
        a.ops.map { name =>
          if (a.traced) sc.setJobGroup(name, s"perfbench $name round $round")
          val before = probe.snapshot(sc)
          val startMs = System.currentTimeMillis()
          val t0 = System.nanoTime()
          var callNs, actionNs = 0L
          var wrong = false
          val outcome = try {
            val rows = tracer.span("bench.op", name, rid) { oid =>
              val df = tracer.span("queries.call", name, oid) { _ =>
                catalog(name).run(spark, a.data) }
              val t1 = System.nanoTime()
              callNs = t1 - t0
              val r = tracer.span("queries.action", name, oid)(_ => df.collect())
              actionNs = System.nanoTime() - t1
              if (round == 0) schemas(name) = df.schema
              r
            }
            reference.get(name) match {
              case None if round == 0 => reference(name) = rows; Right(rows.length)
              case None => Left("no checked warm-up output")
              case Some(ref) if Rows.same(ref, rows) => Right(rows.length)
              case Some(ref) =>
                wrong = true
                Left(s"result differs from the checked warm-up result " +
                  s"(${rows.length} rows vs ${ref.length})")
            }
          } catch { case NonFatal(e) => Left(message(e)) }
          val wallNs = System.nanoTime() - t0
          val endMs = System.currentTimeMillis()
          if (a.traced) sc.clearJobGroup()
          val c = probe.snapshot(sc) - before
          outcome.left.foreach(e => System.err.println(s"[perfbench] $name round $round FAILED: $e"))
          Map("name" -> name, "ok" -> outcome.isRight, "wrong" -> wrong,
            "error" -> outcome.left.toOption.orNull,
            "wall_s" -> wallNs / 1e9, "call_s" -> callNs / 1e9,
            "action_s" -> actionNs / 1e9,
            "result_rows" -> outcome.getOrElse(0),
            "gap_s" -> (if (a.traced) probe.gapMs(startMs, endMs) / 1e3 else 0.0)) ++ fields(c)
        }
      }
      Map("round" -> round, "ops" -> ops)
    }
    // the checked (warm-up) results go to parquet for the oracle compare
    // after the timed rounds, written concurrently: untimed Spark jobs
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence(reference.toSeq.map { case (name, rows) => Future {
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schemas(name))
        .coalesce(1).write.parquet(Paths.get(a.out, "ref", name).toString)
    } }), scala.concurrent.duration.Duration.Inf)
    rounds
  }
}

/** Result comparison with the oracle rule of `scripts/check_oracle.py`:
  * rows in a canonical order, non-floats exact, floats within 1e-9. */
object Rows {
  private def key(v: Any): String = v match {
    case null => "\u0000"
    case d: Double => "%.6e".format(d)
    case f: Float => "%.6e".format(f.toDouble)
    case r: Row => r.toSeq.map(key).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(key).mkString("[", ",", "]")
    case o => o.toString
  }

  private def eq(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Double, y: Double) => close(x, y)
    case (x: Float, y: Float) => close(x.toDouble, y.toDouble)
    case (x: Row, y: Row) => x.length == y.length &&
      x.toSeq.zip(y.toSeq).forall { case (p, q) => eq(p, q) }
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.length == y.length && x.zip(y).forall { case (p, q) => eq(p, q) }
    case (x, y) => x == y
  }

  private def close(x: Double, y: Double): Boolean =
    (x.isNaN && y.isNaN) || x == y || math.abs(x - y) <= 1e-9 + 1e-9 * math.abs(y)

  def same(a: Array[Row], b: Array[Row]): Boolean =
    a.length == b.length && a.map(r => key(r) -> r).sortBy(_._1).map(_._2)
      .zip(b.map(r => key(r) -> r).sortBy(_._1).map(_._2))
      .forall { case (x, y) => eq(x, y) }
}
