package graft

/** Session-scoped memos (the MinHash signatures, q83's on-disk IVF
  * index dirs) hold artifacts that strongly reference their
  * SparkSession, so a stopped session's entries must be evicted or the
  * session object graph — and the index's disk — leaks for the driver's
  * lifetime. [[SessionIds]] fires registered evictors on context stop;
  * this drives the eviction directly (stopping the shared test session
  * would kill every other suite) and asserts both memos let go. Queries
  * that finish from driver-side tables must release what they cached.
  */
class SessionEvictionSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  test("session eviction drops memo entries and reclaims index dirs") {
    // populate both session-keyed memos
    queries.TextOps.minhashSig.run(spark, sfDir).count()
    queries.Similarity.ivfIndexProbe.run(spark, sfDir).count()
    queries.Similarity.pqIndexProbe.run(spark, sfDir).count()
    assert(queries.TextOps.sigMemoEntries >= 1)
    val dirs = queries.Similarity.indexMemoDirs
    assert(dirs.size >= 2, "expected both the IVF and PQ index memos")
    dirs.foreach { d =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(d)),
        s"index dir missing before eviction: $d")
    }

    SessionIds.fireEviction(SessionIds.of(spark))

    assert(queries.TextOps.sigMemoEntries == 0,
      "signature memo kept entries for the evicted session")
    assert(queries.Similarity.indexMemoDirs.isEmpty,
      "index memo kept entries for the evicted session")
    dirs.foreach { d =>
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(d)),
        s"index dir not reclaimed on eviction: $d")
    }

    // memos must transparently rebuild for a live session after a spurious
    // eviction — getOrElseUpdate repopulates, nothing is poisoned
    assert(queries.Similarity.ivfIndexProbe.run(spark, sfDir).count() > 0)
    assert(queries.Similarity.indexMemoDirs.nonEmpty)
  }

  test("q36, q65 and q72 leave no persisted RDD behind") {
    // each caches its input (ratings view, edge table, candidate edges)
    // and finishes from driver-side tables, so by the time it returns
    // it must have released them. q28 runs first: the signature table
    // it caches is the shared memo q72 reads, not q72's own. Counted as
    // persisted RDD ids that are not checkpoints and were not persisted
    // before.
    val sc = spark.sparkContext
    def persisted(): Set[Int] =
      sc.getPersistentRDDs.filter(!_._2.isCheckpointed).keySet.toSet
    spark.catalog.clearCache()
    SparkEntry.queries("q28_minhash_sig")(spark, sfDir).collect()
    val before = persisted()
    val left = Seq("q36_graph_propagation", "q65_graph_prop_k2",
        "q72_dedup_components").map { name =>
      SparkEntry.queries(name)(spark, sfDir).collect()
      name -> (persisted() -- before)
    }
    spark.catalog.clearCache()
    assert(left.forall(_._2.isEmpty), s"persisted RDDs left behind: $left")
  }
}
