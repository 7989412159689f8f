package graft

import org.apache.spark.sql.functions.col

class HarnessSpec extends SparkSpec {

  test("session factory: local[cpus], cpus shuffle partitions, UTC, no UI, cached-plan AQE, 1000 progress records") {
    assert(Harness.settings(6) == Map(
      "spark.master" -> "local[6]",
      "spark.sql.shuffle.partitions" -> "6",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.sql.streaming.numRecentProgressUpdates" -> "1000"))
    assert(Harness.cpusFrom(Map("SPARK_GRAFT_CPUS" -> "3")) == 3)
    assert(Harness.cpusFrom(Map.empty) == Runtime.getRuntime.availableProcessors)
  }

  test("query filter: an exact name or a qNN prefix; q10 selects q10_* only, not q100-q109") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    assert(names.count(_.matches("q10[0-9]_.*")) == 10)
    assert(names.filter(Harness.filter(Some("q10"))) == names.filter(_.startsWith("q10_")))
    assert(names.filter(Harness.filter(Some(" q86_mf_gd_training, q88 ,"))) ==
      Seq("q86_mf_gd_training", "q88_lightgcn_training"))
    assert(names.filter(Harness.filter(Some("q86_mf"))).isEmpty)
    assert(names.forall(Harness.filter(None)))
  }

  test("the drained snapshot assigns a second query only that query's own task CPU") {
    val sc = spark.sparkContext
    val m = Harness.metrics(spark)
    def stagesOf(group: String): Set[Int] =
      sc.statusTracker.getJobIdsForGroup(group).toSet[Int].flatMap(j =>
        sc.statusTracker.getJobInfo(j).toSeq.flatMap(_.stageIds.toSeq))
    def run(group: String)(count: => Long): Harness.Sample = {
      sc.setJobGroup(group, group)
      try Harness.time(m, spark, group)(count).get finally sc.clearJobGroup()
    }
    try {
      val a = run("harness-a")(spark.range(0, 3000000, 1, 4)
        .selectExpr("sum(id * id) AS s").count())
      val b = run("harness-b")(spark.range(0, 2000000, 1, 4)
        .groupBy(col("id") % 7).count().count())
      assert(a.work.stages.nonEmpty && b.work.stages.nonEmpty)
      assert(a.work.stages.keySet.subsetOf(stagesOf("harness-a")))
      assert(b.work.stages.keySet.subsetOf(stagesOf("harness-b")))
      assert(b.cpuSec > 0)
      // nothing of b's arrived after b's snapshot: a later drained
      // snapshot holds exactly the task work b's sample was given
      val later = m.snapshot(sc).stages
      assert(b.work.stages.forall { case (id, s) =>
        later(id).copy(name = "", site = "") == s.copy(name = "", site = "") })
    } finally sc.removeSparkListener(m)
  }

  test("a throwing query returns no sample and does not change Bench's totals") {
    val m = Harness.metrics(spark)
    try assert(Harness.time(m, spark, "q02_throws")(
      throw new IllegalStateException("boom")).isEmpty)
    finally spark.sparkContext.removeSparkListener(m)

    def sample(wall: Double, cpuMs: Long) = Some(Harness.Sample(1L, wall,
      Harness.Work(Map(1 -> Harness.StageWork(runMs = 2 * cpuMs, cpuNs = cpuMs * 1000000L)))))
    val ok = Seq("q01_ok" -> sample(2.0, 900), "q01_ok" -> sample(1.5, 800))
    val withFailure = ok ++ Seq("q02_throws" -> sample(0.2, 100), "q02_throws" -> None)
    val (line, detail) = Bench.report(Bench.summarize(withFailure), "sf")
    val (okLine, okDetail) = Bench.report(Bench.summarize(ok), "sf")
    assert(line.startsWith("""{"metric":"total","value":1.500,"unit":"sec","task_sec":1.600,"cpu_sec":0.800,"""))
    assert(line == okLine.replace(""""queries":{"q01":1.500},"failed":[]""",
      """"queries":{"q01":1.500,"q02":null},"failed":["q02"]"""))
    assert(detail == okDetail.replace(""""failed":[]""", """"failed":["q02_throws"]"""))
  }
}
