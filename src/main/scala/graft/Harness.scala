package graft

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** What the entrypoint mains (Bench, Verify, Explain, OptProbe, ScaleProbe,
  * ScaleBench, IndexBench, StreamBench, DedupStreamBench) share: the two
  * environment settings, one session factory, one task-metrics listener
  * with the timed step built on it, and one query filter.
  *
  * Env: `SPARK_GRAFT_CPUS` (local cores; default the machine's processor
  * count), `SPARK_GRAFT_SF_DIR` (fixture directory of the mains that take
  * no data argument; default `~/testdata/sf0.1`) and `SPARK_GRAFT_ONLY`
  * (see [[selected]]).
  */
object Harness {

  lazy val cpus: Int = cpusFrom(sys.env)

  private[graft] def cpusFrom(env: Map[String, String]): Int =
    env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  lazy val sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", s"${sys.props("user.home")}/testdata/sf0.1")

  private[graft] def settings(cpus: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // AQE for cached plans: lets coalescePartitions size cached
    // aggregation output by bytes instead of pinning it at
    // shuffle.partitions (see OPTIMIZATION_r21.md)
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    // StreamBench reads every micro-batch's progress record
    "spark.sql.streaming.numRecentProgressUpdates" -> "1000")

  /** The one session builder: `local[cpus]` with [[settings]], log level WARN. */
  def session(): SparkSession = {
    val spark = SparkSession.builder().config(settings(cpus)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `SPARK_GRAFT_ONLY=q86,q88_lightgcn_training` restricts Bench and
    * Verify to those queries: each entry is an exact name or a `qNN`
    * prefix (`q10` selects `q10_*`, not `q100_*`); unset selects all. */
  lazy val selected: String => Boolean = filter(sys.env.get("SPARK_GRAFT_ONLY"))

  private[graft] def filter(spec: Option[String]): String => Boolean = {
    val only = spec.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    name => only.forall(o => o(name) || o(name.takeWhile(_ != '_')))
  }

  /** Task totals of one stage. `site` is the innermost engine frame
    * (`graft.<package>.…`) of the stage's call site, which names the
    * operator that ran it. */
  final case class StageWork(name: String = "", site: String = "",
      tasks: Int = 0, runMs: Long = 0, cpuNs: Long = 0,
      shuffleReadB: Long = 0, shuffleWriteB: Long = 0, inputB: Long = 0) {
    def -(o: StageWork): StageWork = copy(tasks = tasks - o.tasks,
      runMs = runMs - o.runMs, cpuNs = cpuNs - o.cpuNs,
      shuffleReadB = shuffleReadB - o.shuffleReadB,
      shuffleWriteB = shuffleWriteB - o.shuffleWriteB,
      inputB = inputB - o.inputB)
  }

  /** Task totals per stage id at one drained point, or between two. */
  final case class Work(stages: Map[Int, StageWork]) {
    def runMs: Long = stages.valuesIterator.map(_.runMs).sum // executorRunTime, ms
    def cpuNs: Long = stages.valuesIterator.map(_.cpuNs).sum // executorCpuTime, ns
    def since(before: Work): Work = Work(stages.flatMap { case (id, s) =>
      before.stages.get(id) match {
        case Some(b) if b == s => None
        case Some(b) => Some(id -> (s - b))
        case None => Some(id -> s)
      }
    })
  }

  private val EngineFrame = """graft\.[a-z]\w*\..*""".r

  /** Sums every ended task's metrics per stage while registered. The
    * listener bus is asynchronous, so [[snapshot]] drains it first
    * ([[org.apache.spark.graft.ListenerDrain]]): a query's last task-end
    * events would otherwise land in the next query's delta. */
  final class TaskMetrics extends SparkListener {
    private val stages = mutable.Map.empty[Int, StageWork]

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) synchronized {
        val s = stages.getOrElse(e.stageId, StageWork())
        stages(e.stageId) = s.copy(tasks = s.tasks + 1,
          runMs = s.runMs + m.executorRunTime,
          cpuNs = s.cpuNs + m.executorCpuTime,
          shuffleReadB = s.shuffleReadB + m.shuffleReadMetrics.totalBytesRead,
          shuffleWriteB = s.shuffleWriteB + m.shuffleWriteMetrics.bytesWritten,
          inputB = s.inputB + m.inputMetrics.bytesRead)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val site = si.details.linesIterator.map(_.trim)
        .find(EngineFrame.matches).getOrElse("")
      stages(si.stageId) =
        stages.getOrElse(si.stageId, StageWork()).copy(name = si.name, site = site)
    }

    def snapshot(sc: SparkContext): Work = {
      org.apache.spark.graft.ListenerDrain.waitUntilEmpty(sc)
      synchronized(Work(stages.toMap))
    }
  }

  /** A fresh [[TaskMetrics]], registered on the session's context. */
  def metrics(spark: SparkSession): TaskMetrics = {
    val m = new TaskMetrics
    spark.sparkContext.addSparkListener(m)
    m
  }

  /** One successful timed run: rows counted, wall seconds, and the task
    * work of exactly this run's stages. */
  final case class Sample(rows: Long, wallSec: Double, work: Work) {
    def taskSec: Double = work.runMs / 1e3
    def cpuSec: Double = work.cpuNs / 1e9
  }

  /** Wall milliseconds of one evaluation of `body`. */
  def elapsedMs(body: => Any): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e6
  }

  /** One untimed warm-up evaluation of `body` (JIT, model reads), then
    * the true median of `reps` timed ones in ms — the mean of the middle
    * two at an even count. Medians, because a shared host's load waves
    * would dominate a single sample. */
  def medianMs(reps: Int)(body: => Any): Double = {
    body
    val xs = Vector.fill(reps)(elapsedMs(body)).sorted
    if (reps % 2 == 1) xs(reps / 2)
    else (xs(reps / 2 - 1) + xs(reps / 2)) / 2.0
  }

  /** Queries that read the shared MinHash signature table (q28's). */
  val SigConsumers: Set[String] = Set(
    "q72_dedup_components", "q29_minhash_pairs", "q131_minhash_pairs_bounded")

  /** For a [[SigConsumers]] query, materializes the signature table
    * untimed, so its timed run measures the query, not q28. */
  def warmSignatures(spark: SparkSession, name: String, dir: String): Unit =
    if (SigConsumers(name)) SparkEntry.queries("q28_minhash_sig")(spark, dir).count()

  /** Times `run` as query `name`. A run that throws is reported on
    * stderr and returns None, so a failed query never yields a time. */
  def time(metrics: TaskMetrics, spark: SparkSession, name: String)(
      run: => Long): Option[Sample] = {
    val before = metrics.snapshot(spark.sparkContext)
    val t0 = System.nanoTime()
    try {
      val rows = run
      val wall = (System.nanoTime() - t0) / 1e9
      Some(Sample(rows, wall, metrics.snapshot(spark.sparkContext).since(before)))
    } catch {
      case e: Throwable =>
        System.err.println(s"[harness] $name FAILED: ${e.getMessage}")
        None
    }
  }
}
