package graft.queries

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ExpressionColumn

import graft.{Q, SessionIds, Tables}
import graft.expr.GraftFunctions
import graft.rec.{Clustering, IvfIndex, IvfPqIndex, PqIndex}

/** Similarity search over the `embeddings` fixture (vec_id, embedding:
  * array<float> dim 64, label) — the training-data-pipeline ANN surface.
  *
  * Four tiers:
  *  - brute-force cosine top-k for a probe set (baseline; exact);
  *  - all-pairs threshold near-dup (exact; quadratic — correctness anchor);
  *  - banded random-hyperplane LSH (Charikar 2002 sign-random-projection;
  *    Indyk–Motwani 1998 LSH framing) — the 100 TB scale path: candidates
  *    come from an equi-join on (band, bucket) — a plain shuffle join —
  *    instead of a cross join; exact cosine re-verifies candidates;
  *  - IVF-style cell probing (inverted-file ANN à la Jégou et al. 2011,
  *    IVFADC) with a deterministic coarse quantizer.
  *
  * The LSH hyperplanes are deterministic (seeded), and the DuckDB oracle
  * SQL is *generated from the same plane constants*, so even the LSH
  * pipeline is oracle-checked end to end.
  */
object Similarity {

  private val Dim = 64
  private val Bands = 8
  private val RowsPerBand = 3
  private val NPlanes = Bands * RowsPerBand
  private val Threshold = 0.35

  /** Deterministic random hyperplanes (seed fixed → identical in Spark and
    * generated oracle SQL). */
  private[queries] val planes: Array[Array[Double]] = {
    val rnd = new Random(20240812L)
    Array.fill(NPlanes)(Array.fill(Dim)(rnd.nextGaussian()))
  }

  /** All band buckets in one pass (see [[graft.expr.HyperplaneBands]]). */
  private def bandBuckets(e: Column): Column =
    ExpressionColumn(e)(x => graft.expr.HyperplaneBands(x(0), planes, Bands, RowsPerBand))

  /** The `embeddings` fixture as `(vec_id, emb: array<double>)` — the
    * relation every ANN path here reads (float→double widening is
    * exact). */
  private def vectors(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))

  /** The default probe relation for the ANN catalog queries: the first
    * ten vectors of the collection (what every recall oracle assumes).
    * The index serves take the probe set as an ARGUMENT — any
    * (vec_id, emb) relation works, exactly as [[graft.rec.IvfIndex]]
    * and [[graft.rec.PqIndex]] are callable on any probe set. */
  private def defaultProbes(e: DataFrame): DataFrame =
    e.where(col("vec_id") < 10)

  /** Every default probe of `e` against every other `(vec_id, emb)`
    * vector of `cands`: `(probe_id, neighbor_id, pe, ce)`. The probe
    * side broadcasts and the candidate scan streams once — at cluster
    * scale a broadcast nested loop over the candidate partitions, the
    * canonical exact-scoring pattern. */
  private def probePairs(e: DataFrame, cands: DataFrame): DataFrame =
    cands.select(col("vec_id").as("neighbor_id"), col("emb").as("ce"))
      .crossJoin(broadcast(defaultProbes(e)
        .select(col("vec_id").as("probe_id"), col("emb").as("pe"))))
      .where(col("probe_id") =!= col("neighbor_id"))

  /** One row `(n_exact, n_found, recall)`: how many of the `exact` rows
    * `found` also holds, matched on `keys`. */
  private def recall(exact: DataFrame, found: DataFrame,
                     keys: String*): DataFrame =
    exact.select(keys.map(col): _*)
      .join(found.select(keys.map(col) :+ lit(1).as("hit"): _*), keys, "left")
      .agg(count(lit(1)).as("n_exact"),
           count(col("hit")).as("n_found"),
           round(count(col("hit")).cast("double") / count(lit(1)), 6)
             .as("recall"))

  /** Brute-force cosine top-5 neighbors for probes vec_id<10 (SURVEY-brief
    * ANN baseline): every [[probePairs]] pair ranked by exact cosine,
    * the form of each recall query's exact baseline. */
  val annTopk = Q(
    "q20_ann_topk",
    (s, d) => {
      val e = vectors(s, d)
      IvfIndex.rankByCosine(probePairs(e, e), 5)
        .orderBy(col("probe_id"), col("rank"))
    },
    Some("""SELECT probe_id, neighbor_id, rank, round(score, 6) AS score FROM (
             SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
               list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) AS score,
               row_number() OVER (PARTITION BY a.vec_id ORDER BY
                 list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])) DESC,
                 b.vec_id) AS rank
             FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
             WHERE a.vec_id < 10) t
           WHERE rank <= 5 ORDER BY probe_id, rank""")
  )

  /** Hard ceiling for the exact all-pairs path (q21): 50k rows ≈ 1.25e9
    * candidate pairs, the most a correctness anchor should ever scan. */
  private val ExactNeardupMaxRows = 50000L

  /** Size-guard row counts memoized per fixture dir (immutable data):
    * the guard costs one metadata-count job per dataset, not one per
    * q21/q66 invocation. */
  private val rowCountCache =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  /** Exact embedding-cosine near-duplicate pairs (threshold 0.35 — the
    * fixture's vectors are near-orthogonal, max pairwise cos ≈ 0.51).
    *
    * TEST-ORACLE ANCHOR ONLY — quadratic by construction, and gated on
    * input size so it cannot silently become a production path: above
    * [[ExactNeardupMaxRows]] rows it refuses and points at q22 (the
    * banded-LSH path, whose recall against this anchor q66 measures). */
  val embeddingNeardup = Q(
    "q21_embedding_neardup",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val n = rowCountCache.getOrElseUpdate(d, e.count())
      require(n <= ExactNeardupMaxRows,
        s"q21_embedding_neardup is the exact all-pairs correctness anchor " +
        s"(O(n²)); input has $n rows > $ExactNeardupMaxRows. Use " +
        s"q22_lsh_neardup (banded hyperplane LSH) at scale.")
      val a = e.select(col("vec_id").as("a_id"), col("embedding").as("ea"))
      val b = e.select(col("vec_id").as("b_id"), col("embedding").as("eb"))
      a.crossJoin(b)
        .where(col("a_id") < col("b_id"))
        .withColumn("score",
          GraftFunctions.cosineSimilarity(col("ea"), col("eb")))
        .where(col("score") >= Threshold)
        .select(col("a_id"), col("b_id"), round(col("score"), 6).as("score"))
        .orderBy(col("a_id"), col("b_id"))
        // tiny result (hundreds of rows), cached so q66's re-invocation of
        // this plan hits the InMemoryRelation instead of re-running the
        // O(n²) scan (plan-level cache dedupe within a session)
        .cache()
    },
    Some(s"""SELECT a.vec_id AS a_id, b.vec_id AS b_id,
            round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])), 6) AS score
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])) >= $Threshold
            ORDER BY a_id, b_id""")
  )

  /** Banded random-hyperplane LSH near-dup: signature → explode bands →
    * equi-join on (band, bucket) → distinct candidate pairs → exact cosine
    * verify. This is the shape that survives 100 TB: the only join key is
    * (band, bucket), so candidates shuffle-partition evenly and no cross
    * join exists anywhere. Oracle SQL is generated from the same seeded
    * hyperplanes, so bucketing itself is verified. */
  val lshNeardup = Q(
    "q22_lsh_neardup",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val sig = e.select(
        col("vec_id"), col("embedding"), bandBuckets(col("embedding")).as("bks"))
      val exploded = sig.select(
        col("vec_id"), col("embedding"),
        posexplode(col("bks")).as(Seq("band", "bucket")))
      val a = exploded.select(col("band"), col("bucket"),
        col("vec_id").as("a_id"), col("embedding").as("ea"))
      val b = exploded.select(col("band"), col("bucket"),
        col("vec_id").as("b_id"), col("embedding").as("eb"))
      a.join(b, Seq("band", "bucket"))
        .where(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"), col("ea"), col("eb"))
        .distinct()
        .withColumn("score",
          GraftFunctions.cosineSimilarity(col("ea"), col("eb")))
        .where(col("score") >= Threshold)
        .select(col("a_id"), col("b_id"), round(col("score"), 6).as("score"))
        .orderBy(col("a_id"), col("b_id"))
        // tiny result, cached for the same q66 operand reuse as q21
        .cache()
    },
    Some(lshOracleSql)
  )

  /** SQL fragments for the banded-hyperplane signature, generated from the
    * same plane constants as [[graft.expr.HyperplaneBands]] so the DuckDB
    * oracle buckets identically to the Spark expression. */
  private def bandColsSql: String = {
    def planeSql(p: Array[Double]): String =
      p.map(v => s"$v").mkString("[", ", ", "]")
    def bandExpr(band: Int): String =
      (0 until RowsPerBand).map { j =>
        val p = planes(band * RowsPerBand + j)
        s"(CASE WHEN list_dot_product(e, ${planeSql(p)}) > 0 THEN ${1 << j} ELSE 0 END)"
      }.mkString(" + ")
    (0 until Bands).map(b => s"${bandExpr(b)} AS bk$b").mkString(", ")
  }

  /** `a`/`b`-aliased "any band bucket collides" condition over bk0..bkN. */
  private def anyBandSql: String =
    (0 until Bands).map(b => s"a.bk$b = b.bk$b").mkString(" OR ")

  /** DuckDB mirror of q22, generated from the same plane constants. */
  private def lshOracleSql: String =
    s"""WITH sig AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       bk AS (SELECT vec_id, e, $bandColsSql FROM sig)
       SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         round(list_cosine_similarity(a.e, b.e), 6) AS score
       FROM bk a JOIN bk b ON a.vec_id < b.vec_id AND ($anyBandSql)
       WHERE list_cosine_similarity(a.e, b.e) >= $Threshold
       ORDER BY a_id, b_id"""

  /** Recall of the banded-LSH near-dup path (q22) against the exact
    * all-pairs anchor (q21): the number an engineer needs before trusting
    * the approximate path at scale. Both sides are the catalog queries
    * themselves, so this measures exactly what q22 ships. One row:
    * (n_exact, n_found, recall). */
  val lshRecall = Q(
    "q66_lsh_recall",
    (s, d) => recall(embeddingNeardup.run(s, d), lshNeardup.run(s, d),
      "a_id", "b_id"),
    Some(s"""WITH sig AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
            bk AS (SELECT vec_id, e, $bandColsSql FROM sig),
            pairs AS (SELECT ($anyBandSql) AS hit
                      FROM bk a JOIN bk b ON a.vec_id < b.vec_id
                      WHERE list_cosine_similarity(a.e, b.e) >= $Threshold)
            SELECT count(*) AS n_exact,
                   count(*) FILTER (WHERE hit) AS n_found,
                   round(CAST(count(*) FILTER (WHERE hit) AS DOUBLE)
                         / count(*), 6) AS recall
            FROM pairs""")
  )

  private val IvfK = 16
  private val IvfIters = 3
  private val IvfNProbe = 2

  /** IVF ANN (Jégou et al. 2011's inverted-file shape): a k-means coarse
    * quantizer — built as a fully relational Lloyd's loop, seeded by the
    * K lowest vec_ids ([[graft.rec.Clustering.lloydKMeans]]) — partitions
    * the index into K cells; each probe searches only its `nprobe`=2
    * nearest cells (~2/16 of the collection) and exact cosine ranks the
    * candidates. At scale the index is hash-partitioned by cell, so a
    * probe touches 2 partitions instead of the whole collection; q67
    * measures what that pruning costs in recall (≈0.87–0.9 on the
    * fixture, vs ≈0.03 for the sign-grid quantizer this replaced — a
    * learned quantizer is not optional for IVF on high-dim embeddings).
    * The oracle SQL mirrors the same unrolled Lloyd rounds, so the
    * quantizer itself is oracle-checked. */
  val ivfAnn = Q(
    "q57_ivf_ann",
    (s, d) => {
      val e = vectors(s, d)
      val cent = Clustering.lloydKMeans(e, IvfK, IvfIters)
      IvfIndex.serve(IvfIndex.cells(e, cent), cent, defaultProbes(e),
          IvfNProbe, topK = 3)
        // 30-row result, cached so q67 reuses it (the quantizer
        // underneath is itself cached by lloydKMeans)
        .cache()
    },
    Some(s"""$ivfCtes
          SELECT probe_id, neighbor_id, rank, round(score, 6) AS score FROM (
            SELECT p.probe_id, i.vec_id AS neighbor_id,
              list_cosine_similarity(p.pe, i.emb) AS score,
              $ivfRank
          WHERE rank <= 3 ORDER BY probe_id, rank""")
  )

  /** The rank of q57's candidates, from the `probe` and `idx` CTEs of
    * [[ivfCtes]] (q67 nests it two columns further in, see [[nest]]). */
  private def ivfRank: String =
    """row_number() OVER (PARTITION BY p.probe_id ORDER BY
                list_cosine_similarity(p.pe, i.emb) DESC, i.vec_id) AS rank
            FROM probe p JOIN idx i
              ON p.cid = i.cid AND p.probe_id <> i.vec_id) t"""

  /** `sql` two columns further in, as a recall query's CTE list nests
    * the text of the ANN query it measures: the shared text stays
    * byte-identical to the oracle it came from. */
  private def nest(sql: String): String = sql.replace("\n", "\n  ")

  /** The SQL of one Lloyd update step over an `assigned` (vec_id, emb,
    * cid) relation: per cid, the elementwise mean of its vectors — the
    * mirror of [[graft.rec.Clustering.lloydKMeans]]'s update, shared by
    * the IVF and the PQ oracles. */
  private def lloydUpdateSql(assigned: String): String =
    s"""SELECT cid, list(va ORDER BY pos) AS c FROM (
            SELECT cid, pos, avg(v) AS va FROM (
              SELECT cid, unnest(emb) AS v,
                generate_subscripts(emb, 1) AS pos FROM $assigned) u
            GROUP BY cid, pos) g GROUP BY cid"""

  /** DuckDB mirror of the IVF build: the same deterministic init, the
    * same unrolled Lloyd rounds (assignment argmin over ROUNDED distance
    * with cid tiebreak — identical to [[graft.rec.Clustering.assignCells]],
    * so ~1-ulp avg() divergence between engines cannot flip a cell), the
    * same nprobe-cell probing. Ends with CTEs `idx` (vec_id, emb, cid)
    * and `probe` (probe_id, pe, cid). */
  private def ivfCtes: String = {
    def assignSql(cent: String, rn: String, filter: String): String =
      s"""SELECT vec_id, emb, cid FROM (
            SELECT e.vec_id, e.emb, c.cid,
              row_number() OVER (PARTITION BY e.vec_id ORDER BY
                round(list_distance(e.emb, c.c), 6), c.cid) AS rn
            FROM e CROSS JOIN $cent c $filter) t WHERE rn <= $rn"""
    val rounds = (0 until IvfIters).map { i =>
      s"""a$i AS (${assignSql(s"c$i", "1", "")}),
          c${i + 1} AS (${lloydUpdateSql(s"a$i")})"""
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
            FROM embeddings),
        c0 AS (SELECT vec_id AS cid, emb AS c FROM e WHERE vec_id < $IvfK),
        $rounds,
        idx AS (${assignSql(s"c$IvfIters", "1", "")}),
        probe AS (SELECT vec_id AS probe_id, emb AS pe, cid FROM (
          ${assignSql(s"c$IvfIters", IvfNProbe.toString, "WHERE e.vec_id < 10")}) pp)"""
  }

  /** Recall@3 of the IVF cell-probed path (q57) against the exact
    * brute-force top-3 (the q20 shape, k=3): quantifies what single-cell
    * probing loses — the acceptance number for the IVF index before it
    * replaces the exact scan at scale. One row: (n_exact, n_found,
    * recall). */
  val ivfRecall = Q(
    "q67_ivf_recall",
    (s, d) => {
      val e = vectors(s, d)
      recall(IvfIndex.rankByCosine(probePairs(e, e), 3), ivfAnn.run(s, d),
        "probe_id", "neighbor_id")
    },
    Some(s"""$ivfCtes,
            exact AS (SELECT probe_id, neighbor_id FROM (
              SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
                row_number() OVER (PARTITION BY a.vec_id ORDER BY
                  list_cosine_similarity(a.emb, b.emb) DESC, b.vec_id) AS rank
              FROM e a JOIN e b ON a.vec_id <> b.vec_id
              WHERE a.vec_id < 10) t WHERE rank <= 3),
            ivf AS (SELECT probe_id, neighbor_id, 1 AS hit FROM (
              SELECT p.probe_id, i.vec_id AS neighbor_id,
                ${nest(ivfRank)}
              WHERE rank <= 3)
            SELECT count(*) AS n_exact,
                   count(i.hit) AS n_found,
                   round(CAST(count(i.hit) AS DOUBLE) / count(*), 6) AS recall
            FROM exact x LEFT JOIN ivf i
              ON x.probe_id = i.probe_id AND x.neighbor_id = i.neighbor_id""")
  )

  /** Built persistent-index dirs memoized per (session, dataset) — the
    * index is the artifact an ANN service materializes once per corpus
    * version and probes forever after. Keyed on a stable per-session UUID ([[graft.SessionIds]] —
    * (stable for the session's lifetime — an identity hash can alias
    * after GC and serve another session's index); every created dir is
    * registered for recursive deletion at JVM shutdown so per-session
    * indexes can't accumulate across a long-lived driver. */
  private val indexDirCache =
    scala.collection.concurrent.TrieMap.empty[(String, String, String), String]
  private[graft] def indexMemoDirs: Seq[String] =
    indexDirCache.values.toSeq
  /** Memoized on-disk index dir per (session, dataset, kind): build once
    * (like q83's IVF cells or q114's PQ codes), serve every later probe
    * from disk. */
  private def indexDir(s: SparkSession, d: String, kind: String)
                      (build: String => Unit): String =
    indexDirCache.getOrElseUpdate(
      (SessionIds.of(s), d, kind), {
        val dir = deleteOnExit(java.nio.file.Files
          .createTempDirectory(s"graft-$kind-catalog")).toString
        build(dir)
        dir
      })
  // a stopped session's index is unreachable — evict the memo entry and
  // reclaim the disk now instead of waiting for the JVM shutdown hook
  graft.SessionIds.registerEvictor { sid =>
    indexDirCache.filterInPlace { (k, dir) =>
      val dead = k._1 == sid
      // claim-based deletion: exitDirs.remove returns true exactly once,
      // so whichever of {evictor, shutdown hook} claims the dir deletes
      // it and the other skips — the two can run concurrently at JVM
      // exit and an unclaimed double-delete made Files.walk throw
      // mid-eviction, aborting filterInPlace with entries left behind
      if (dead && exitDirs.remove(java.nio.file.Paths.get(dir)))
        deleteRecursively(java.nio.file.Paths.get(dir))
      !dead
    }
  }

  /** Dirs pending deletion at JVM shutdown. ONE static hook drains the
    * set — one hook thread per dir would accumulate unbounded hook
    * threads in a long-lived driver cycling many datasets. */
  private val exitDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()

  private def deleteRecursively(dir: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, NoSuchFileException, Path}
    import java.util.Comparator
    try {
      if (Files.exists(dir)) {
        val walk = Files.walk(dir)
        try walk.sorted(Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
        finally walk.close()
      }
    } catch {
      // tolerate a concurrent deleter (OS tmp reaper, or a pre-claim
      // race) ripping entries out from under the walk — the dir is
      // going away either way, and one dir's failure must not
      // propagate to the caller's loop over the remaining dirs
      case _: NoSuchFileException => ()
      case e: java.io.UncheckedIOException
          if e.getCause.isInstanceOf[NoSuchFileException] => ()
    }
  }

  private lazy val exitHookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      // claim each dir (remove returns true once) so a session evictor
      // running concurrently can't delete the same dir, and guard each
      // deletion so one failure can't kill the hook thread and leak the
      // rest of the set
      exitDirs.forEach { p =>
        if (exitDirs.remove(p))
          try deleteRecursively(p)
          catch { case _: Throwable => () }
      }
    }))

  private def deleteOnExit(dir: java.nio.file.Path): java.nio.file.Path = {
    exitHookInstalled
    exitDirs.add(dir)
    dir
  }

  /** The persistent-IVF face of q57: build the cid-PARTITIONED parquet
    * index once per dataset ([[graft.rec.IvfIndex.build]] — same seeded
    * Lloyd quantizer as q57), then serve the probes by joining against
    * the partitioned cells table, where "probe nprobe cells" is dynamic
    * partition pruning: the probe-side cid set reaches the scan's
    * PartitionFilters and only nprobe/K of the index FILES are read —
    * the property that makes a 100 TB index affordable, enforced by the
    * table LAYOUT (IvfIndexSpec asserts the dynamicpruning filter; this
    * query moves the path into the oracle-checked catalog). Results are
    * identical to q57 — same quantizer, same cells, same exact-cosine
    * ranking (float→double widening is exact) — so it shares q57's
    * oracle SQL verbatim. */
  val ivfIndexProbe = Q(
    "q83_ivf_index_probe",
    (s, d) => {
      val e = vectors(s, d)
      val dir = indexDir(s, d, "ivf")(IvfIndex.build(e, _, IvfK, IvfIters))
      IvfIndex.probe(s, dir, defaultProbes(e), IvfNProbe, topK = 3)
    },
    ivfAnn.oracle
  )

  /** Cluster-blocked semantic near-dup — the THIRD embedding-dedup path
    * next to the exact anchor (q21) and banded LSH (q22): assign every
    * vector to its nearest k-means cell (the same oracle-checked Lloyd
    * quantizer as q57, nprobe = 1) and compare pairs ONLY within a cell.
    * This is the blocking idiom of q53's fuzzy matching applied to
    * embeddings — candidate generation is one equi-join on cid, so the
    * quadratic term is bounded by the largest CELL, not the corpus
    * (n²/K per cell in expectation; K grows with the corpus at scale,
    * and a skewed cell is exactly what AQE skew-join / salting handles).
    * LSH wins when recall must be tunable bandwise; cluster blocking
    * wins when an IVF quantizer ALREADY exists (one artifact serves
    * both ANN probing and dedup) — which is why both are in the
    * catalog. Results are the subset of q21's exact pairs whose members
    * land in the same cell; the oracle reruns the identical unrolled
    * Lloyd rounds, so blocking itself is oracle-checked. */
  val clusterNeardup = Q(
    "q101_cluster_neardup",
    (s, d) => {
      val e = vectors(s, d)
      val cells = IvfIndex.cells(e, Clustering.lloydKMeans(e, IvfK, IvfIters))
      val a = cells.select(col("cid"), col("vec_id").as("a_id"), col("emb").as("ea"))
      val b = cells.select(col("cid"), col("vec_id").as("b_id"), col("emb").as("eb"))
      a.join(b, Seq("cid"))
        .where(col("a_id") < col("b_id"))
        .withColumn("score",
          GraftFunctions.cosineSimilarity(col("ea"), col("eb")))
        .where(col("score") >= Threshold)
        .select(col("a_id"), col("b_id"), round(col("score"), 6).as("score"))
        .orderBy(col("a_id"), col("b_id"))
    },
    Some(s"""$ivfCtes
          SELECT a.vec_id AS a_id, b.vec_id AS b_id,
            round(list_cosine_similarity(a.emb, b.emb), 6) AS score
          FROM idx a JOIN idx b ON a.cid = b.cid AND a.vec_id < b.vec_id
          WHERE list_cosine_similarity(a.emb, b.emb) >= $Threshold
          ORDER BY a_id, b_id""")
  )

  // ---- product quantization (Jégou et al. 2011, §IV: ADC) -----------

  private val PqS = 4 // subspaces
  private val PqSub = 16 // dims per subspace (64 / 4)
  private val PqK = 16 // codes per subspace
  private val PqIters = 2
  private val PqShortlist = 80 // ADC candidates reranked exactly

  /** Product-quantized ANN with asymmetric distance computation — the
    * FOURTH ANN path (vs brute q20, LSH q22, IVF q57/q83) and the one
    * that survives when even per-cell raw vectors don't fit: split the
    * 64-dim embedding into [[PqS]]×[[PqSub]]-dim subspaces, train a
    * [[PqK]]-code Lloyd codebook per subspace (the SAME oracle-checked
    * relational k-means as q57), and store each vector as [[PqS]] CODE
    * BYTES — a 64× compression of the scan payload. A probe precomputes
    * its [[PqS]]×[[PqK]] distance table (one tiny broadcast), and
    * candidate distance is a table-lookup join + sum — the scan never
    * touches raw vectors, which is the memory-bound regime PQ exists
    * for (compose with q57's cells for IVF-PQ). Approximate distance =
    * Σ over subspaces of the squared 6dp-rounded subspace distance
    * (partials rounded before the sum — q100's order-independence
    * rule). Deployment shape: the ADC scan SHORTLISTS the best 80
    * candidates per probe (4% of the fixture collection), then the
    * shortlist — and only the shortlist — is reranked by exact distance
    * against the raw vectors (raw ADC top-3 measured recall 0.17;
    * shortlist+rerank is how PQ is actually served, and lands at 0.90 —
    * q110 measures it). */
  val pqAnn = Q(
    "q109_pq_ann",
    (s, d) => {
      val e = vectors(s, d)
      val cbs = PqIndex.trainCodebooks(e, PqS, PqSub, PqK, PqIters)
      PqIndex.serve(PqIndex.encode(e, cbs), cbs, defaultProbes(e), e,
          PqShortlist, topK = 3)
        .cache() // q110 reuses the ranked result
    },
    Some(s"""$pqCtes,
          $pqTopCtes
          SELECT probe_id, neighbor_id, rank, dist
          FROM pqtop ORDER BY probe_id, rank""")
  )

  /** Shared shortlist-and-rerank tail: from `enc`/`ptab`/`e`, the CTE
    * `pqtop` (probe_id, neighbor_id, rank, dist) — ADC shortlist of
    * [[PqShortlist]] then exact rerank to top-3. */
  private def pqTopCtes: String =
    s"""sl AS (SELECT probe_id, neighbor_id FROM (
          SELECT t.probe_id, t.neighbor_id,
            row_number() OVER (PARTITION BY t.probe_id
              ORDER BY t.adist, t.neighbor_id) AS srank
          FROM (SELECT pt.probe_id, en.neighbor_id,
                  round(sum(pt.pd), 6) AS adist
                FROM enc en JOIN ptab pt
                  ON pt.sub = en.sub AND pt.code = en.code
                WHERE pt.probe_id <> en.neighbor_id
                GROUP BY 1, 2) t) s
        WHERE srank <= $PqShortlist),
        pqtop AS (SELECT probe_id, neighbor_id, rank, dist FROM (
          SELECT s.probe_id, s.neighbor_id,
            round(list_distance(p.emb, n.emb), 6) AS dist,
            row_number() OVER (PARTITION BY s.probe_id ORDER BY
              round(list_distance(p.emb, n.emb), 6), s.neighbor_id) AS rank
          FROM sl s JOIN e p ON p.vec_id = s.probe_id
               JOIN e n ON n.vec_id = s.neighbor_id) t
        WHERE rank <= 3)"""

  /** DuckDB mirror of the PQ build: per subspace, the identical
    * deterministic-init unrolled Lloyd rounds as the engine (q57's
    * assignment rule — argmin over 6dp-ROUNDED distance, cid tiebreak),
    * then the encoded index `enc` (neighbor_id, sub, code) and the
    * probe ADC tables `ptab` (probe_id, sub, code, pd). Assumes a CTE
    * `e` (vec_id, emb DOUBLE[]) is already in scope. */
  private def pqSubCtes: String = {
    def assignSql(src: String, cent: String): String =
      s"""SELECT vec_id, emb, cid FROM (
            SELECT e.vec_id, e.emb, c.cid,
              row_number() OVER (PARTITION BY e.vec_id ORDER BY
                round(list_distance(e.emb, c.c), 6), c.cid) AS rn
            FROM $src e CROSS JOIN $cent c) t WHERE rn <= 1"""
    val subs = (0 until PqS).map { sub =>
      val lo = sub * PqSub + 1
      val hi = (sub + 1) * PqSub
      val rounds = (0 until PqIters).map { i =>
        s"""s${sub}a$i AS (${assignSql(s"s${sub}v", s"s${sub}c$i")}),
            s${sub}c${i + 1} AS (${lloydUpdateSql(s"s${sub}a$i")})"""
      }.mkString(",\n")
      s"""s${sub}v AS (SELECT vec_id, emb[$lo:$hi] AS emb FROM e),
          s${sub}c0 AS (SELECT vec_id AS cid, emb AS c
                        FROM s${sub}v WHERE vec_id < $PqK),
          $rounds"""
    }.mkString(",\n")
    val enc = (0 until PqS).map { sub =>
      s"""SELECT vec_id AS neighbor_id, $sub AS sub, cid AS code
          FROM (${assignSql(s"s${sub}v", s"s${sub}c$PqIters")})"""
    }.mkString("\nUNION ALL\n")
    val ptab = (0 until PqS).map { sub =>
      s"""SELECT p.vec_id AS probe_id, $sub AS sub, c.cid AS code,
            round(power(round(list_distance(p.emb, c.c), 6), 2), 6) AS pd
          FROM s${sub}v p CROSS JOIN s${sub}c$PqIters c
          WHERE p.vec_id < 10"""
    }.mkString("\nUNION ALL\n")
    s"""$subs,
        enc AS ($enc),
        ptab AS ($ptab)"""
  }

  /** pqSubCtes prefixed with the shared `e` relation (flat-PQ form; the
    * IVF-PQ oracle appends [[pqSubCtes]] to [[ivfCtes]], which already
    * defines the identical `e`). */
  private def pqCtes: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
          FROM embeddings),
        $pqSubCtes"""

  /** Recall@3 of the PQ/ADC path (q109) against the exact EUCLIDEAN
    * top-3 (PQ approximates L2, so the baseline ranks by L2, not
    * cosine) — the acceptance number for a 64× scan-payload
    * compression, q66/q67's idiom. */
  val pqRecall = Q(
    "q110_pq_recall",
    (s, d) => {
      val e = vectors(s, d)
      recall(PqIndex.rankByL2(probePairs(e, e), 3), pqAnn.run(s, d),
        "probe_id", "neighbor_id")
    },
    Some(s"""$pqCtes,
            $pqTopCtes,
            $exactL2Cte,
            pq AS (SELECT probe_id, neighbor_id, 1 AS hit FROM pqtop)
            SELECT count(*) AS n_exact,
                   count(p.hit) AS n_found,
                   round(CAST(count(p.hit) AS DOUBLE) / count(*), 6) AS recall
            FROM exact x LEFT JOIN pq p
              ON x.probe_id = p.probe_id AND x.neighbor_id = p.neighbor_id""")
  )

  /** The exact Euclidean top-3 of the default probes as the CTE `exact`
    * (probe_id, neighbor_id) over `e` — the baseline of q110, q112 and
    * q120. */
  private def exactL2Cte: String =
    """exact AS (SELECT probe_id, neighbor_id FROM (
              SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
                row_number() OVER (PARTITION BY a.vec_id ORDER BY
                  round(list_distance(a.emb, b.emb), 6), b.vec_id) AS rank
              FROM e a JOIN e b ON a.vec_id <> b.vec_id
              WHERE a.vec_id < 10) t WHERE rank <= 3)"""

  /** The persistent-PQ face of q109 (q83's build-once/probe-many idiom
    * applied to the memory-bound regime): build the `codes` +
    * `codebooks` parquet index once per dataset
    * ([[graft.rec.PqIndex.build]] — the identical codebooks and ADC
    * math as q109), then serve probes by ADC against the STORED codes —
    * the scan reads 4 code ids per candidate from parquet, never a raw
    * vector, and the exact rerank fetches raw vectors only for the
    * shortlist. q109 times codebook training + encode + serve in one
    * plan; this query pays build once (memoized per session × dataset)
    * and makes the serve path's true cost visible. Results are
    * identical — parquet round-trips doubles exactly — so it shares
    * q109's oracle verbatim (PqIndexSpec asserts equality against the
    * in-memory path row for row). */
  val pqIndexProbe = Q(
    "q114_pq_index_probe",
    (s, d) => {
      val e = vectors(s, d)
      val dir = indexDir(s, d, "pq")(
        PqIndex.build(e, _, PqS, PqSub, PqK, PqIters))
      PqIndex.probe(s, dir, defaultProbes(e), e, PqShortlist, topK = 3)
    },
    pqAnn.oracle
  )

  private val IvfPqShortlist = 40

  /** IVF-PQ — the two prunings COMPOSED, which is the production ANN
    * architecture at 100 TB (Jégou et al. 2011 §V; FAISS IndexIVFPQ):
    * q57's coarse quantizer prunes WHICH vectors are candidates (only
    * the probe's nprobe=2 of 16 cells are scanned — at q83's partition
    * layout that is an I/O bound), and q109's PQ codes prune WHAT the
    * scan reads per candidate (4 code bytes, not 64 floats). ADC
    * shortlist of 40 within the probed cells, then exact rerank touches
    * raw vectors only for those rows. Codes encode the raw vectors
    * (non-residual PQ — the variant that keeps one codebook valid
    * across all cells); q112 measures the composed recall. */
  val ivfPqAnn = Q(
    "q111_ivfpq_ann",
    (s, d) => {
      val e = vectors(s, d)
      val cent = Clustering.lloydKMeans(e, IvfK, IvfIters)
      val cbs = PqIndex.trainCodebooks(e, PqS, PqSub, PqK, PqIters)
      IvfPqIndex.serve(IvfPqIndex.cellCodes(e, cent, cbs), cent, cbs,
          defaultProbes(e), e, IvfNProbe, IvfPqShortlist, topK = 3)
        .cache() // q112 reuses the ranked result
    },
    Some(s"""$ivfCtes,
          $pqSubCtes,
          $ivfPqSlCtes,
          top AS (SELECT probe_id, neighbor_id, rank, dist FROM (
                   SELECT s.probe_id, s.neighbor_id,
                     round(list_distance(p.emb, n.emb), 6) AS dist,
                     $ivfPqRerank)
          SELECT probe_id, neighbor_id, rank, dist
          FROM top ORDER BY probe_id, rank""")
  )

  /** q111's candidate cells and ADC shortlist as the CTEs `cand` and
    * `sl` (q112 nests them, see [[nest]]). */
  private def ivfPqSlCtes: String =
    s"""cand AS (SELECT p.probe_id, i.vec_id AS neighbor_id
                   FROM probe p JOIN idx i
                     ON i.cid = p.cid AND i.vec_id <> p.probe_id),
          sl AS (SELECT probe_id, neighbor_id FROM (
                   SELECT a.probe_id, a.neighbor_id,
                     row_number() OVER (PARTITION BY a.probe_id
                       ORDER BY a.adist, a.neighbor_id) AS srank
                   FROM (SELECT c.probe_id, c.neighbor_id,
                           round(sum(pt.pd), 6) AS adist
                         FROM cand c
                         JOIN enc en ON en.neighbor_id = c.neighbor_id
                         JOIN ptab pt ON pt.probe_id = c.probe_id
                           AND pt.sub = en.sub AND pt.code = en.code
                         GROUP BY 1, 2) a) s
                 WHERE srank <= $IvfPqShortlist)"""

  /** The exact rerank of q111's `sl` shortlist to its top-3 (q112 nests
    * it, see [[nest]]). */
  private def ivfPqRerank: String =
    """row_number() OVER (PARTITION BY s.probe_id ORDER BY
                       round(list_distance(p.emb, n.emb), 6),
                       s.neighbor_id) AS rank
                   FROM sl s JOIN e p ON p.vec_id = s.probe_id
                        JOIN e n ON n.vec_id = s.neighbor_id) t
                 WHERE rank <= 3"""

  /** Recall@3 of the composed IVF-PQ path (q111) against the exact
    * euclidean top-3 — the acceptance number for BOTH prunings applied
    * at once (cells bound it above by what nprobe reaches; PQ shortlist
    * bounds it below that), q66/q67/q110's idiom. */
  val ivfPqRecall = Q(
    "q112_ivfpq_recall",
    (s, d) => {
      val e = vectors(s, d)
      recall(PqIndex.rankByL2(probePairs(e, e), 3), ivfPqAnn.run(s, d),
        "probe_id", "neighbor_id")
    },
    Some(s"""$ivfCtes,
            $pqSubCtes,
            ${nest(ivfPqSlCtes)},
            ivfpq AS (SELECT probe_id, neighbor_id, 1 AS hit FROM (
                     SELECT s.probe_id, s.neighbor_id,
                       ${nest(ivfPqRerank)}),
            $exactL2Cte
            SELECT count(*) AS n_exact,
                   count(p.hit) AS n_found,
                   round(CAST(count(p.hit) AS DOUBLE) / count(*), 6) AS recall
            FROM exact x LEFT JOIN ivfpq p
              ON x.probe_id = p.probe_id AND x.neighbor_id = p.neighbor_id""")
  )

  /** The persistent face of q111 — the FAISS IndexIVFPQ layout on disk
    * ([[graft.rec.IvfPqIndex]]): the coarse cells are the parquet
    * PARTITION COLUMN of the codes table, so "probe nprobe cells" is
    * dynamic partition pruning (q83's I/O property), and the pruned
    * files carry 4-byte PQ codes, not raw vectors (q114's payload
    * property). Build — both quantizers + the partitioned encode — is
    * paid once (memoized per session × dataset); the serve path reads
    * nprobe/K of the files × codes per candidate, then the exact
    * rerank fetches raw vectors only for the shortlist. Identical
    * results to q111 (same quantizers, parquet round-trips doubles
    * exactly), so it shares q111's oracle verbatim; IvfPqIndexSpec
    * asserts the row-for-row equality AND the dynamicpruning
    * PartitionFilter on the codes scan. */
  val ivfPqIndexProbe = Q(
    "q116_ivfpq_index_probe",
    (s, d) => {
      val e = vectors(s, d)
      val dir = indexDir(s, d, "ivfpq")(
        IvfPqIndex.build(e, _, IvfK, IvfIters, PqS, PqSub, PqK, PqIters))
      IvfPqIndex.probe(s, dir, defaultProbes(e), e, IvfNProbe,
        IvfPqShortlist, topK = 3)
    },
    ivfPqAnn.oracle
  )

  /** SQ8 scalar-quantized ANN — the FIFTH ANN regime, between raw
    * floats and PQ on the compression axis: each DIMENSION is quantized
    * independently to a byte against the corpus's per-dimension
    * [min, max] (code = floor((v-mn)/(mx-mn)·255 + 0.5) — floor(x+0.5)
    * because both engines floor identically while round() ties differ),
    * a 4× scan-payload compression at float32 corpora with near-exact
    * recall (q120 measures it vs exact L2 — contrast PQ's raw-ADC 0.17
    * at 64×: the two quantizers buy different points on the same
    * curve). Serving is ASYMMETRIC like PQ's ADC: the probe stays raw,
    * candidates are dequantized in-expression — one map-side zip_with
    * fold per pair, no shuffle beyond the per-probe top-k window. The
    * per-dimension stats are two exact aggregates (min/max — no
    * summation, so bit-identical cross-engine), collected into one
    * broadcast row; at 100 TB they fit on a sample like the PQ/IVF
    * codebooks. */
  val sq8Ann = Q(
    "q119_sq8_ann",
    (s, d) => {
      val e = vectors(s, d)
      val stats = e
        .select(posexplode(col("emb")).as(Seq("pos", "v")))
        .groupBy(col("pos"))
        .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
        .groupBy()
        .agg(
          transform(array_sort(collect_list(struct(col("pos"), col("mn")))),
            x => x.getField("mn")).as("mna"),
          transform(array_sort(collect_list(struct(col("pos"), col("mx")))),
            x => x.getField("mx")).as("rxa"))
        .select(col("mna"), zip_with(col("rxa"), col("mna"),
          (a, b) => a - b).as("rng"))
      // candidate side: quantize then dequantize in one expression chain
      val coded = e.crossJoin(broadcast(stats))
        .withColumn("codes", zip_with(
          zip_with(col("emb"), col("mna"), (v, m) => v - m), col("rng"),
          (dv, r) => when(r === 0.0, 0.0)
            .otherwise(floor(dv / r * 255.0 + 0.5).cast("double"))))
        .select(col("vec_id"), zip_with(
          zip_with(col("codes"), col("rng"), (c, r) => c / 255.0 * r),
          col("mna"), (x, m) => m + x).as("emb"))
      PqIndex.rankByL2(probePairs(e, coded), 3)
        .orderBy(col("probe_id"), col("rank"))
    },
    Some(s"""$sq8Ctes
            SELECT probe_id, neighbor_id, rank, dist FROM (
              SELECT probe_id, neighbor_id, dist,
                CAST(row_number() OVER (PARTITION BY probe_id
                  ORDER BY dist, neighbor_id) AS BIGINT) AS rank
              FROM d) t
            WHERE rank <= 3 ORDER BY probe_id, rank""")
  )

  /** q119's quantizer and its dequantized distances as the CTEs `e`,
    * `ex`, `st`, `dq` and `d` (probe_id, neighbor_id, dist) — q120
    * measures the same rows. */
  private def sq8Ctes: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
              FROM embeddings),
            ex AS (SELECT vec_id, unnest(emb) AS v,
                     generate_subscripts(emb, 1) AS pos FROM e),
            st AS (SELECT pos, min(v) AS mn, max(v) AS mx
                   FROM ex GROUP BY 1),
            dq AS (SELECT vec_id, pos,
                     mn + (CASE WHEN mx = mn THEN 0.0
                       ELSE floor((v - mn) / (mx - mn) * 255.0 + 0.5)
                       END) / 255.0 * (mx - mn) AS dv
                   FROM ex JOIN st USING (pos)),
            d AS (SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
                    round(sqrt(sum((p.v - c.dv) * (p.v - c.dv))), 6) AS dist
                  FROM ex p JOIN dq c ON p.pos = c.pos
                    AND p.vec_id <> c.vec_id
                  WHERE p.vec_id < 10
                  GROUP BY 1, 2)"""

  /** Recall@3 of the SQ8 path (q119) against the exact euclidean top-3
    * — q110/q112's idiom, closing the compression-recall table: byte
    * quantization at 4× compression vs PQ's 4 bits/dim at 64×. */
  val sq8Recall = Q(
    "q120_sq8_recall",
    (s, d) => {
      val e = vectors(s, d)
      recall(PqIndex.rankByL2(probePairs(e, e), 3), sq8Ann.run(s, d),
        "probe_id", "neighbor_id")
    },
    Some(s"""$sq8Ctes,
            sq AS (SELECT probe_id, neighbor_id, 1 AS hit FROM (
                     SELECT probe_id, neighbor_id,
                       row_number() OVER (PARTITION BY probe_id
                         ORDER BY dist, neighbor_id) AS rank
                     FROM d) t WHERE rank <= 3),
            $exactL2Cte
            SELECT count(*) AS n_exact,
                   count(s.hit) AS n_found,
                   round(CAST(count(s.hit) AS DOUBLE) / count(*), 6) AS recall
            FROM exact x LEFT JOIN sq s
              ON x.probe_id = s.probe_id AND x.neighbor_id = s.neighbor_id""")
  )

  /** 32-bit md5-prefix hash, the cross-engine "uniform random" shared
    * with the sampling family (single definition: [[OracleSql.h32]]). */
  private def h32(c: Column): Column = OracleSql.h32(c)

  /** Cluster-balanced sampling — the SEMANTIC curation stage of a
    * training-data pipeline (the SemDeDup / cluster-pruning family):
    * over-representation in a web corpus is per-TOPIC, not per-source,
    * so where q79/q105 balance the mixture by the `source` column, this
    * balances it by the LEARNED semantic cells of q57's quantizer —
    * assign every embedding to its Lloyd cell, then keep a
    * deterministic uniform quota (5) per cell, ranked by the shared
    * md5-prefix hash with vec_id tiebreak. Output carries each cell's
    * pre-balance population, so the imbalance the stage corrects is
    * visible in the result (cells span the full size skew of the
    * corpus; every cell contributes exactly min(cell_n, 5) rows).
    *
    * 100 TB shape: the quantizer fits on a sample (q57's build note),
    * assignment is one broadcast-scored scan, and the quota selection
    * is the bounded [[graft.expr.TopKPairs]] aggregator — ≤ 5 pairs per
    * task per cell reach the shuffle, never the cell population (q105's
    * scale rule applied to semantic strata). */
  val clusterBalance = Q(
    "q129_cluster_balance",
    (s, d) => {
      val k = 5
      val e = vectors(s, d)
      val topk = graft.expr.TopKPairs.agg(k)
      Clustering.assignCells(e, Clustering.lloydKMeans(e, IvfK, IvfIters))
        .select(col("cid"), col("vec_id"),
          h32(concat(lit("cb"), col("vec_id").cast("string"))).as("hv"))
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("cell_n"),
          topk((-col("hv")).cast("double"), col("vec_id")).as("top"))
        .select(col("cid"), col("cell_n"),
          posexplode(col("top")).as(Seq("pos", "p")))
        .select(col("cid"), col("cell_n"),
          (col("pos") + 1).cast("long").as("rank"),
          col("p._2").as("vec_id"), (-col("p._1")).cast("long").as("hv"))
        .orderBy(col("cid"), col("rank"))
    },
    Some(s"""$ivfCtes,
            hv AS (SELECT cid, vec_id,
              ${OracleSql.h32("'cb' || CAST(vec_id AS VARCHAR)")} AS hv
              FROM idx),
            cn AS (SELECT cid, CAST(count(*) AS BIGINT) AS cell_n
                   FROM hv GROUP BY 1),
            r AS (SELECT cid, vec_id, hv,
                    row_number() OVER (PARTITION BY cid
                      ORDER BY hv, vec_id) AS rank
                  FROM hv)
            SELECT r.cid, cn.cell_n, CAST(r.rank AS BIGINT) AS rank,
                   r.vec_id, r.hv
            FROM r JOIN cn USING (cid) WHERE rank <= 5
            ORDER BY cid, rank""")
  )

  /** The SERVE-SHAPED ADC + rerank under the DuckDB gate (r19, VERDICT
    * r18 item 5): q109 gates the relational Euclidean PQ math; this
    * gates the NATIVE expressions the streaming serve actually runs —
    * [[graft.expr.NearestCodes]] encodes the normalized corpus (unit
    * vectors, cosine metric — the serve's contract), and
    * [[graft.expr.AdcCosine]] ranks the ADC shortlist (score ≈ cosine,
    * 1 − adist/2) before the exact-cosine rerank, exactly the
    * `topNForUsersAnnPartitionedPq` shape per micro-batch. Codebooks
    * come from the oracle-mirrorable relational trainer
    * ([[graft.rec.PqIndex.trainCodebooks]], q109's unrolled-Lloyd CTE
    * idiom) at q109's (s=4, subDim=16, k=16, iters=2), so the DuckDB
    * mirror trains IDENTICAL codebooks and the gate pins the
    * expressions, not the trainer twice.
    *
    * Cross-engine determinism: training rounds keep q109's 6dp-rounded
    * argmin (absorbs centroid-average ulps); the ENCODE argmin is
    * UNROUNDED on both sides ([[graft.expr.NearestCodes]]'s strict-<
    * contract — a 6dp-rounded mirror could tie codes the native argmin
    * separates); ADC scores are rounded to 6dp only at the shortlist
    * ordering (membership at the 80-candidate boundary is the only
    * thing they decide); final scores come from the exact cosine rerank
    * of RAW embeddings (q20's proven idiom). */
  val adcRerank = Q(
    "q133_adc_rerank",
    (s, d) => {
      val eraw = vectors(s, d)
      val vhat = eraw.select(col("vec_id"),
        GraftFunctions.l2Normalize(col("emb")).as("emb"))
      // the codebook table, collected once as the model the native
      // expressions carry: outer Seq by subspace, inner by cid
      val cbRows = PqIndex.trainCodebooks(vhat, PqS, PqSub, PqK, PqIters)
        .select(col("sub").cast("int"), col("cid").cast("int"), col("c"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      val cbSeq: Seq[Seq[Array[Double]]] =
        cbRows.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, cb) =>
          val rows = cb.sortBy(_._2)
          // NearestCodes emits code = POSITION in the carried codebook;
          // the SQL mirror emits the trainer's seed cids — equal only
          // for dense-id corpora (the lowest-id seeding's contract)
          require(rows.map(_._2).toSeq == rows.indices,
            s"q133 requires dense codebook cids, got ${rows.map(_._2).toSeq}")
          rows.map(_._3).toSeq
        }
      val codes = vhat.withColumn("codes",
        GraftFunctions.nearestCodes(col("emb"), cbSeq))
      val probes = vhat.where(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("emb").as("pe"))
      val wsl = Window.partitionBy(col("probe_id"))
        .orderBy(col("adc").desc, col("vec_id"))
      val sl = codes.crossJoin(broadcast(probes))
        .where(col("probe_id") =!= col("vec_id"))
        .withColumn("adc",
          round(GraftFunctions.adcCosine(col("pe"), col("codes"), cbSeq), 6))
        .withColumn("srank", row_number().over(wsl))
        .where(col("srank") <= PqShortlist)
        .select(col("probe_id"), col("vec_id").as("neighbor_id"))
      val pr = defaultProbes(eraw)
        .select(col("vec_id").as("probe_id"), col("emb").as("pe"))
      IvfIndex.rankByCosine(sl
          .join(eraw.select(col("vec_id").as("neighbor_id"),
            col("emb").as("ce")), Seq("neighbor_id"))
          .join(broadcast(pr), Seq("probe_id")), 3)
        .orderBy(col("probe_id"), col("rank"))
    },
    Some {
      // UNROUNDED per-subspace argmin (NearestCodes' contract), code =
      // the trainer's seed cid (dense ids -> codebook position)
      val enc2 = (0 until PqS).map { sub =>
        s"""SELECT vec_id AS neighbor_id, $sub AS sub, cid AS code FROM (
              SELECT v.vec_id, c.cid,
                row_number() OVER (PARTITION BY v.vec_id ORDER BY
                  list_distance(v.emb, c.c), c.cid) AS rn
              FROM s${sub}v v CROSS JOIN s${sub}c$PqIters c) t WHERE rn = 1"""
      }.mkString("\nUNION ALL\n")
      val cb = (0 until PqS).map { sub =>
        s"SELECT $sub AS sub, cid AS code, c FROM s${sub}c$PqIters"
      }.mkString("\nUNION ALL\n")
      val pslices = (0 until PqS).map { sub =>
        val lo = sub * PqSub + 1
        val hi = (sub + 1) * PqSub
        s"""SELECT vec_id AS probe_id, $sub AS sub, emb[$lo:$hi] AS pe
            FROM e WHERE vec_id < 10"""
      }.mkString("\nUNION ALL\n")
      s"""WITH eraw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
            FROM embeddings),
          e AS (SELECT vec_id, list_transform(emb,
              x -> x / sqrt(list_inner_product(emb, emb))) AS emb
            FROM eraw),
          $pqSubCtes,
          enc2 AS ($enc2),
          cb AS ($cb),
          pslices AS ($pslices),
          adc AS (SELECT ps.probe_id, en.neighbor_id,
              round(1 - sum(power(list_distance(ps.pe, c.c), 2)) / 2, 6) AS adc
            FROM enc2 en JOIN cb c ON c.sub = en.sub AND c.code = en.code
            JOIN pslices ps ON ps.sub = en.sub
            WHERE ps.probe_id <> en.neighbor_id
            GROUP BY 1, 2),
          sl2 AS (SELECT probe_id, neighbor_id FROM (
              SELECT probe_id, neighbor_id,
                row_number() OVER (PARTITION BY probe_id
                  ORDER BY adc DESC, neighbor_id) AS srank
              FROM adc) t WHERE srank <= $PqShortlist)
          SELECT probe_id, neighbor_id, rank, score FROM (
            SELECT s.probe_id, s.neighbor_id,
              round(list_cosine_similarity(p.emb, nb.emb), 6) AS score,
              row_number() OVER (PARTITION BY s.probe_id ORDER BY
                list_cosine_similarity(p.emb, nb.emb) DESC,
                s.neighbor_id) AS rank
            FROM sl2 s JOIN eraw p ON p.vec_id = s.probe_id
                 JOIN eraw nb ON nb.vec_id = s.neighbor_id) t
          WHERE rank <= 3 ORDER BY probe_id, rank"""
    }
  )

  val all: Seq[Q] = Seq(annTopk, embeddingNeardup, lshNeardup, ivfAnn,
    lshRecall, ivfRecall, ivfIndexProbe, clusterNeardup, pqAnn, pqRecall,
    ivfPqAnn, ivfPqRecall, pqIndexProbe, ivfPqIndexProbe, sq8Ann, sq8Recall,
    clusterBalance, adcRerank)
}
