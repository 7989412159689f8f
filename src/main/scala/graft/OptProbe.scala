package graft

/** Dev-only stage-level attribution probe (optimization rounds): runs ONE
  * catalog query and prints every completed stage's cpu / run time and
  * shuffle volumes, so a query-level cpu regression can be pinned to the
  * operator (each stage carries its call site's engine frame). Not part
  * of any bench or output contract — numbers here are for diagnosis,
  * never for artifacts.
  *
  * Usage: runMain graft.OptProbe <queryName> <dataDir> [passes]
  */
object OptProbe {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: OptProbe <queryName> <dataDir> [passes]")
    val name = args(0)
    val dir = args(1)
    val passes = if (args.length > 2) args(2).toInt else 2
    val spark = Harness.session()
    val metrics = Harness.metrics(spark)
    val fn = SparkEntry.queries(name)
    (1 to passes).foreach { p =>
      spark.catalog.clearCache()
      Harness.time(metrics, spark, name)(fn(spark, dir).count()).foreach { s =>
        val stages = s.work.stages.toSeq
        println(f"\n=== pass $p: $name rows=${s.rows} wall=${s.wallSec}%.2f s " +
          f"cpu=${s.cpuSec}%.2f s stages=${stages.size} ===")
        println(f"${"stage"}%6s ${"tasks"}%5s ${"cpu_s"}%8s ${"run_s"}%8s " +
          f"${"sRd_MB"}%8s ${"sWr_MB"}%8s ${"in_MB"}%8s  name")
        stages.sortBy(-_._2.cpuNs).take(40).foreach { case (id, st) =>
          println(f"$id%6d ${st.tasks}%5d ${st.cpuNs / 1e9}%8.2f ${st.runMs / 1e3}%8.2f " +
            f"${st.shuffleReadB / 1e6}%8.1f ${st.shuffleWriteB / 1e6}%8.1f " +
            f"${st.inputB / 1e6}%8.1f  " + (st.name + "  " + st.site).take(180))
        }
      }
    }
    spark.stop()
  }
}
