package graft.rec

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent composed IVF-PQ index (Jégou et al. 2011 §V; the FAISS
  * IndexIVFPQ architecture) — BOTH prunings enforced by the table
  * LAYOUT rather than operator discipline:
  *
  *  - WHICH vectors a probe scans: the coarse quantizer's cell
  *    assignment becomes the parquet PARTITION COLUMN of the `codes`
  *    table, so "probe nprobe cells" is dynamic partition pruning —
  *    I/O scales with nprobe/K of the collection ([[IvfIndex]]'s
  *    property).
  *  - WHAT the scan reads per candidate: the partitioned rows carry
  *    [[PqIndex]]'s code ids (4 per vector at the catalog shape), not
  *    raw vectors — a 64× scan-payload compression ([[PqIndex]]'s
  *    property).
  *
  * Layout: `codes` (neighbor_id, sub, code; partitioned by int cid),
  * `codebooks` (sub, cid, c — the per-subspace Lloyd centroids), and
  * `centroids` (the coarse quantizer). Codes are NON-RESIDUAL (they
  * encode the raw vectors, so one codebook serves all cells — q111's
  * choice); raw vectors stay in the corpus table and are read only for
  * the shortlist rows the exact rerank touches. At 100 TB both
  * quantizers fit on a sample, the build is two broadcast-scored
  * scans, and a probe reads nprobe/K of the files × 4 bytes per
  * candidate — the regime where neither IVF alone (raw floats per
  * candidate) nor flat PQ alone (every candidate scanned) is
  * affordable.
  *
  * Same 6dp-parity determinism as [[PqIndex]]; parquet round-trips
  * doubles exactly, so probing this index reproduces the in-memory
  * composed path (q111) row for row — the equality IvfPqIndexSpec
  * asserts and q116 inherits its oracle from.
  */
object IvfPqIndex {

  /** `(neighbor_id, sub, code, cid)`: `vectors` PQ-encoded with
    * `codebooks` and filed in their nearest coarse cell under
    * `centroids` — the rows of the `codes` table. cid is INT
    * ([[IvfIndex]]'s rule): parquet reads partition-directory values as
    * int, and a type-promotion cast on the partition column would
    * defeat dynamic partition pruning. */
  def cellCodes(vectors: DataFrame, centroids: DataFrame,
                codebooks: DataFrame): DataFrame =
    PqIndex.encode(vectors, codebooks).join(
      Clustering.assignCells(vectors, centroids)
        .select(col("vec_id").as("neighbor_id"), col("cid").cast("int").as("cid")),
      Seq("neighbor_id"))

  /** Build: fit the coarse quantizer and the per-subspace codebooks,
    * and write the [[cellCodes]] PARTITIONED BY cell id — paid once per
    * corpus version. */
  def build(vectors: DataFrame, dir: String, ivfK: Int = 16,
            ivfIters: Int = 3, s: Int = 4, subDim: Int = 16,
            k: Int = 16, iters: Int = 2): Unit = {
    val cent = Clustering.lloydKMeans(vectors, ivfK, ivfIters)
    val cbs = PqIndex.trainCodebooks(vectors, s, subDim, k, iters)
    cent.write.mode("overwrite").parquet(s"$dir/centroids")
    cbs.write.mode("overwrite").parquet(s"$dir/codebooks")
    cellCodes(vectors, cent, cbs)
      .write.mode("overwrite").partitionBy("cid").parquet(s"$dir/codes")
    cbs.unpersist()
    cent.unpersist()
  }

  /** Append NEW vectors with BOTH stored quantizers kept frozen
    * ([[IvfIndex.append]]'s maintenance regime, applied to the composed
    * index): the increment's [[cellCodes]] under the stored centroids
    * and codebooks are appended inside the cell partition directories —
    * no retraining, no rewrite of existing files. Probe-after-append
    * equals probing one index built from the union under the same
    * quantizers (IvfPqIndexSpec asserts it). */
  def append(spark: SparkSession, vectors: DataFrame, dir: String): Unit =
    cellCodes(vectors, spark.read.parquet(s"$dir/centroids"),
        spark.read.parquet(s"$dir/codebooks"))
      .write.mode("append").partitionBy("cid").parquet(s"$dir/codes")

  /** Compact code partitions that [[append]] increments have fragmented
    * past `maxFilesPerCell` data files ([[IvfIndex.compact]]'s twin —
    * see [[IndexMaintenance]] for the cost model and swap mechanics).
    * Only over-threshold cells are read or rewritten; both stored
    * quantizers are untouched, so probe results are identical before
    * and after (IvfPqIndexSpec asserts both). */
  def compact(spark: SparkSession, dir: String,
              maxFilesPerCell: Int = 8): CompactStats =
    IndexMaintenance.compactCells(spark, s"$dir/codes", maxFilesPerCell)

  /** The IVF-PQ serve: route each probe to its `nprobe` nearest cells
    * under `centroids`, ADC the `(neighbor_id, sub, code, cid)` codes
    * of those cells against its [[PqIndex.probeTables]] over
    * `codebooks`, and rerank the `shortlist` best exactly against the
    * raw `collection`. q111 calls it on tables built in memory,
    * [[probe]] on the stored ones, where the join on the partition
    * column is dynamic partition pruning: only the probed cells' files
    * are read. */
  def serve(codes: DataFrame, centroids: DataFrame, codebooks: DataFrame,
            probes: DataFrame, collection: DataFrame, nprobe: Int,
            shortlist: Int, topK: Int): DataFrame = {
    val probeCells = Clustering.assignCells(probes, centroids, nprobe)
      .select(col("vec_id").as("probe_id"), col("cid").cast("int").as("cid"))
    val sl = PqIndex.adcTop(
      codes.join(broadcast(probeCells), Seq("cid"))
        .where(col("probe_id") =!= col("neighbor_id"))
        .join(broadcast(PqIndex.probeTables(probes, codebooks)),
          Seq("probe_id", "sub", "code")),
      shortlist)
    PqIndex.rerankTop(sl, collection, probes, topK)
  }

  /** Probe from disk: [[serve]] over the stored centroids, codebooks and
    * cid-partitioned codes. */
  def probe(spark: SparkSession, dir: String, probes: DataFrame,
            collection: DataFrame, nprobe: Int = 2, shortlist: Int = 40,
            topK: Int = 3): DataFrame =
    serve(spark.read.parquet(s"$dir/codes"),
      spark.read.parquet(s"$dir/centroids"),
      spark.read.parquet(s"$dir/codebooks"), probes, collection, nprobe,
      shortlist, topK)
}
