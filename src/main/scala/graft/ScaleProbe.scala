package graft

/** Fresh-JVM re-measure for one scale-set query (VERDICT r14 item 3):
  * ScaleBench's IN-BENCH cpu attribution for sub-second queries carries
  * 2–4× session-state inflation (late-pass JIT/code-cache state, and
  * in r14 the checkpoint blocks q72's former label memo pinned), so its
  * `superlinear_flagged` list cries wolf and OUTPUT rows had to
  * adjudicate. This main is the clean instrument: ONE query against ONE
  * dataset dir in a brand-new JVM/session, warmed exactly as ScaleBench
  * warms it ([[Harness.warmSignatures]]), run `passes` times, min cpu
  * reported. ScaleBench spawns one
  * of these per flagged query per scale and publishes `cpu_clean_{s}x`
  * beside the in-bench numbers, re-adjudicating the flag from clean cpu.
  *
  * Args: `<queryName> <dataDir> [passes]`. Prints ONE JSON line
  * (marker-prefixed so the parent can find it among Spark log noise);
  * exits 1 without it if any pass fails.
  */
object ScaleProbe {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleProbe <queryName> <dataDir> [passes]")
    val name = args(0)
    val dir = args(1)
    val passes = if (args.length > 2) args(2).toInt else 2
    val spark = Harness.session()
    val metrics = Harness.metrics(spark)
    val fn = SparkEntry.queries(name)
    // the ScaleBench warm protocol, in a session that has run NOTHING else
    Harness.warmSignatures(spark, name, dir)
    val samples = (1 to passes).flatMap(_ =>
      Harness.time(metrics, spark, name)(fn(spark, dir).count()))
    if (samples.size < passes) { spark.stop(); sys.exit(1) }
    def r3(v: Double) = "%.3f".format(v)
    // min over passes (pass 1 additionally pays JIT): the same
    // discipline as the in-bench number, minus the session history
    println(s"""SCALEPROBE_JSON {"query":"$name","dir":"$dir","passes":$passes,""" +
      s""""cpu_sec":${r3(samples.map(_.cpuSec).min)},"wall_sec":${r3(samples.map(_.wallSec).min)},""" +
      s""""rows":${samples.map(_.rows).max}}""")
    spark.stop()
  }
}
