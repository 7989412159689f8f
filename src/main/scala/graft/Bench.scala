package graft

/** Benchmark main (driver contract): times every catalog query at
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line. A warmup pass touches
  * each fixture table first so per-query numbers measure the query, not
  * session/scan/codegen bring-up; the catalog then runs TWICE end to end
  * — pass 1 in full, then pass 2 in full — and each query reports the
  * min of its two samples. The passes are INTERLEAVED at catalog level
  * (not back-to-back per query) deliberately: the r8 bench showed 2-5×
  * swings on two CONTIGUOUS bands of untouched queries (q29-q31,
  * q80-q82) that vanished on re-measurement with identical code and
  * data (q31 6.4 s → 1.3 s, q82 3.7 s → 1.3 s). Root cause is HOST
  * load: this container shares its machine, and `load average: 9.4`
  * shows up with zero runnable processes in the container's own pid
  * namespace — an external load wave spanning a few seconds covers
  * both of a query's back-to-back passes, so per-query min-of-2 can't
  * filter it, while samples a full catalog (~60 s) apart decorrelate
  * it. Pass 1 also fully warms JIT/codegen, so every pass-2 sample is
  * steady-state regardless of sort position (isolated 7-query runs
  * measured the same small queries 3-7× slower than in-catalog runs
  * for JIT reasons alone — isolation is the wrong way to re-check a
  * single query's number; compare full-catalog runs instead). Timings
  * are rounded to ms so the whole line stays compact enough for log
  * tails.
  *
  * LOAD-INSENSITIVE METRICS (r11): wall-clock on this shared host
  * swings ±22% on identical code (four r10 same-code full-catalog runs
  * spanned 120.8–188.1 s), wider than any plausible single-round code
  * delta — so [[Harness.TaskMetrics]] additionally sums executor task
  * run time and task CPU time per query (delta between drained-bus
  * snapshots around each action).
  * Task CPU time counts only cycles the query's own tasks burned, so
  * external load waves that stretch wall-clock leave it nearly
  * untouched — it is the number to compare round over round. Task RUN
  * time is NOT such an instrument (r11 measured same-code per-query
  * ratios: cpu 1.09 median vs task 1.40 — run time absorbs
  * host-descheduled wall inside a task); keep task_sec as a
  * diagnostic, compare cpu_sec. The four-run r13 band and the flagging
  * rule live in SURVEY §8.7. The
  * per-query `{wall, task_sec, cpu_sec}` triples go to a side FILE
  * (`SPARK_GRAFT_BENCH_DETAIL`, default
  * `/root/repo/bench_detail.json`): the driver keeps only a 2000-byte
  * stdout tail and the compact wall-only line already measures ~1.6 KB
  * at 122 queries — tripling it would push the JSON head outside the
  * parse window again (the r5 "parsed": null failure). The one-line
  * driver contract is unchanged apart from two ~20-byte top-level
  * totals (`task_sec`, `cpu_sec`) and the `failed` list.
  *
  * FAILED QUERIES: a query that throws in any pass reports no time —
  * `null` in `queries`, its name in `failed`, and no share of `value`,
  * `task_sec` or `cpu_sec` — so a crash can never read as a speedup.
  */
object Bench {
  private val Passes = 2

  /** Per query, the min across passes of each of wall, task_sec and
    * cpu_sec — each metric has its own noise source (wall = host load;
    * task/cpu = scheduler jitter and cache state), and min is the
    * load-filtered estimate for each — or None if any pass failed. */
  private[graft] def summarize(samples: Seq[(String, Option[Harness.Sample])])
      : Seq[(String, Option[(Double, Double, Double)])] =
    samples.map(_._1).distinct.map { name =>
      val s = samples.collect { case (`name`, t) => t }
      name -> (if (s.contains(None)) None else {
        val ok = s.flatten
        Some((ok.map(_.wallSec).min, ok.map(_.taskSec).min, ok.map(_.cpuSec).min))
      })
    }

  /** The stdout result line and the side file's per-query detail. */
  private[graft] def report(results: Seq[(String, Option[(Double, Double, Double)])],
                            sfDir: String): (String, String) = {
    def r3(v: Double): String = "%.3f".format(v)
    def names(ns: Seq[String]) = ns.map("\"" + _ + "\"").mkString("[", ",", "]")
    val ok = results.collect { case (k, Some(t)) => (k, t) }
    val failed = results.collect { case (k, None) => k }
    // keys are the unique qNN prefix: the line's reader keeps only a
    // 2000-byte stdout TAIL, and 76 full query names put the line's
    // head outside the window (r5's "parsed": null). qNN keeps the whole line
    // ~1.7 KB at 122 queries incl. the task/cpu totals — ~22 more
    // queries of headroom before the window clips the head again;
    // re-measure `wc -c` when the catalog approaches 140.
    def qnn(k: String) = k.takeWhile(_ != '_')
    val qs = results.map { case (k, v) => "\"" + qnn(k) + "\":" + v.fold("null")(t => r3(t._1)) }
      .mkString("{", ",", "}")
    val total = ok.map(_._2._1).sum
    val taskTotal = ok.map(_._2._2).sum
    val cpuTotal = ok.map(_._2._3).sum
    val line =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","task_sec":${r3(taskTotal)},"cpu_sec":${r3(cpuTotal)},"queries":$qs,"failed":${names(failed.map(qnn))},"sf":"$sfDir"}"""
    // Full {wall, task_sec, cpu_sec} per query goes to a side file: at
    // 122 queries the triple-per-query JSON is ~3× the 2000-byte stdout
    // tail that is parsed, so it cannot ride the contract line. A
    // failed query is only in `failed` there, so compare_bench.py lists
    // it as present on one side instead of reading a null.
    val detail = ok.map { case (k, (w, t, c)) =>
      s""""$k":{"wall":${r3(w)},"task_sec":${r3(t)},"cpu_sec":${r3(c)}}"""
    }.mkString(
      s"""{"sf":"$sfDir","total_wall":${r3(total)},"total_task_sec":${r3(taskTotal)},"total_cpu_sec":${r3(cpuTotal)},"failed":${names(failed)},"queries":{""",
      ",", "}}\n")
    (line, detail)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    val spark = Harness.session()
    // warmup: one scan per fixture table + one tiny aggregate
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings")
      .foreach(t => Tables.load(spark, sfDir, t).count())
    Tables.events(spark, sfDir).count()
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => Harness.selected(name) }
    val metrics = Harness.metrics(spark)
    val samples = (1 to Passes).flatMap { _ =>
      // Each pass starts with an empty SQL cache. Queries share cached
      // sub-plans (q27's shingles, q29's signatures, q57's centroids —
      // the CacheManager dedupes by logical plan), so without the clear
      // a pass-2 sample measures pass-1's cache hit, not the query
      // (q28 read 0.15 s warm vs 0.86 s real). Clearing per PASS, not
      // per query, keeps within-pass sharing — the pipeline cost model
      // (a quantizer is built once, not once per consumer; per-query
      // clearing re-built it for q36/q57/q65/q101 separately and
      // inflated the total ~30 s with no attribution gained) and the
      // same semantics every prior round measured. Also bounds cache
      // accumulation across the 100+-query catalog on the 8 g heap.
      spark.catalog.clearCache()
      selected.map { case (name, fn) =>
        name -> Harness.time(metrics, spark, name)(fn(spark, sfDir).count())
      }
    }
    val (line, detail) = report(summarize(samples), sfDir)
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      "/root/repo/bench_detail.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(detailPath), detail)
    catch { case e: Throwable =>
      System.err.println(s"[bench] detail write to $detailPath failed: ${e.getMessage}")
    }
    // Both streams: sbt's log decoration ("[info] " prefix, "[success]"
    // trailer) rides stdout and broke the driver's tail parse
    // (BENCH_r06 "parsed": null) — stderr carries the line bare.
    println(line)
    System.err.println(line)
    spark.stop()
  }
}
