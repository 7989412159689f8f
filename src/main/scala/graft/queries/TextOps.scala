package graft.queries

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ShiftRight
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ExpressionColumn

import graft.{Q, Tables}
import graft.expr.{FactorTable, GraftFunctions}

/** Text analysis + deduplication over the `documents` fixture (doc_id,
  * text, lang, source, n_chars) — the training-data-pipeline text surface
  * from the brief: token counting, quality scoring, language ID, exact
  * dedup, n-gram Jaccard, MinHash+LSH (Broder 1997, "On the resemblance
  * and containment of documents"; banding per Leskovec–Rajaraman–Ullman,
  * Mining of Massive Datasets ch. 3), SimHash (Charikar 2002, STOC;
  * Manku et al. 2007, WWW), and winnowing-style rolling-hash
  * fingerprinting (Schleimer–Wilkerson–Aiken 2003, SIGMOD).
  *
  * Everything is pure `functions._` composition (codegen'd, no UDFs), and
  * every query — including the MinHash/SimHash pipelines — carries DuckDB
  * oracle SQL. Where a pipeline needs a shared deterministic string hash,
  * both sides use the first 8 hex chars of md5 parsed to a BIGINT
  * (`conv(substr(md5(s),1,8),16,10)` in Spark; an equivalent generated
  * strpos-polynomial in DuckDB), so signatures are bit-identical across
  * engines.
  *
  * Scale stance: each op is one scan plus hash-partitioned aggregations /
  * equi-joins on bounded keys (doc_id, shingle-hash, band bucket) — no
  * cross joins, no collects; at 100 TB the shuffles stay balanced because
  * every key's cardinality is O(docs) or O(docs × shingles-per-doc).
  */
object TextOps {

  // ---- shared deterministic hashing ------------------------------------

  /** 32-bit md5-prefix hash, Spark side (single shared definition —
    * see [[OracleSql.h32]]). */
  private def h32(c: Column): Column = OracleSql.h32(c)

  /** Same 32-bit hash — DuckDB side (shared, see [[OracleSql.h32]]). */
  private def h32Sql(s: String): String = OracleSql.h32(s)

  /** Polynomial "rolling" hash of a 4-char shingle (base 31, mod 1000003)
    * — Spark side. */
  private def rh4(c: Column): Column =
    ((ascii(substring(c, 1, 1)) * lit(29791L)) +
     (ascii(substring(c, 2, 1)) * lit(961L)) +
     (ascii(substring(c, 3, 1)) * lit(31L)) +
      ascii(substring(c, 4, 1)).cast("long")) % lit(1000003L)

  /** Same polynomial hash — DuckDB side. */
  private def rh4Sql(s: String): String =
    s"((ascii(substr($s,1,1))*29791 + ascii(substr($s,2,1))*961 + " +
      s"ascii(substr($s,3,1))*31 + ascii(substr($s,4,1))) % 1000003)"

  /** Distinct char-4-gram shingles per doc — Spark side. */
  /** All char-4-gram shingle occurrences (multiset — no shuffle; one-pass
    * via the char_shingles expression). */
  private def rawShingles(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"),
      explode(GraftFunctions.charShingles(col("text"), 4)).as("s"))
  }

  private def shingles(docs: DataFrame): DataFrame =
    rawShingles(docs).distinct()

  /** Same shingle relation — DuckDB side (CTE body). */
  private val shinglesSql: String =
    """SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 4) AS s
       FROM (SELECT doc_id, text, unnest(range(1, length(text) - 2)) AS i
             FROM documents)"""

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is",
    "on", "for", "with")

  // ---- queries ---------------------------------------------------------

  /** Token counting: whitespace tokens + a BPE-ish regex token count
    * (words / digit runs / single punctuation). */
  val tokenCount = Q(
    "q23_token_count",
    (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_ws_tokens"),
          size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
            .cast("long").as("n_re_tokens"),
          length(col("text")).cast("long").as("len"))
        .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)
             AS n_re_tokens,
           CAST(length(text) AS BIGINT) AS len
           FROM documents ORDER BY doc_id""")
  )

  /** Quality scoring: length, punctuation ratio, stopword ratio, composite
    * score — the heuristic-filter stage of a data pipeline. */
  val textQuality = Q(
    "q24_text_quality",
    (s, d) => {
      val toks = split(col("text"), " ")
      val nTok = size(toks).cast("double")
      val nStop = size(filter(toks, t => t.isInCollection(stopwords))).cast("double")
      val punct = length(regexp_replace(col("text"), "[^.,;:!?]", "")).cast("double")
      val len = length(col("text")).cast("double")
      Tables.documents(s, d)
        .select(col("doc_id"),
          round(nTok, 6).as("n_tokens"),
          round(punct / len, 6).as("punct_ratio"),
          round(nStop / nTok, 6).as("stop_ratio"),
          round(least(nTok / 100.0, lit(1.0)) * 0.4 +
                (lit(1.0) - punct / len) * 0.3 +
                least(nStop / nTok * 5.0, lit(1.0)) * 0.3, 6).as("quality"))
        .orderBy(col("doc_id"))
    },
    Some(s"""SELECT doc_id,
            round(nt, 6) AS n_tokens,
            round(pc / ln, 6) AS punct_ratio,
            round(ns / nt, 6) AS stop_ratio,
            round(least(nt / 100.0, 1.0) * 0.4 + (1.0 - pc / ln) * 0.3 +
                  least(ns / nt * 5.0, 1.0) * 0.3, 6) AS quality
            FROM (SELECT doc_id,
              CAST(len(string_split(text, ' ')) AS DOUBLE) AS nt,
              CAST(len(list_filter(string_split(text, ' '),
                t -> list_contains([${stopwords.map("'" + _ + "'").mkString(",")}], t)))
                AS DOUBLE) AS ns,
              CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS pc,
              CAST(length(text) AS DOUBLE) AS ln
              FROM documents)
            ORDER BY doc_id""")
  )

  /** Language ID by stopword-marker voting (n-gram heuristic family).
    * Deterministic argmax with fixed priority order; all-zero → 'unknown'. */
  val langId = Q(
    "q25_lang_id",
    (s, d) => {
      val markers = Seq(
        "en" -> Seq("the", "a", "of", "and", "is"),
        "de" -> Seq("der", "die", "und", "ist", "das"),
        "es" -> Seq("el", "la", "y", "que", "los"),
        "fr" -> Seq("le", "les", "et", "des", "une"),
        "zh" -> Seq("de5", "shi4", "le5", "zai4", "he2"))
      val toks = split(col("text"), " ")
      val scores = markers.map { case (l, ms) =>
        l -> size(filter(toks, t => t.isInCollection(ms))).cast("long")
      }
      val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
      // first lang in declaration order with the max (non-zero) score wins
      val guessOrdered = scores.reverse.foldLeft(lit("unknown")) {
        case (acc, (l, sc)) => when(sc === best && best > 0, lit(l)).otherwise(acc)
      }
      Tables.documents(s, d)
        .select(col("doc_id"), guessOrdered.as("guessed_lang"))
        .orderBy(col("doc_id"))
    },
    Some {
      val markers = Seq(
        "en" -> Seq("the", "a", "of", "and", "is"),
        "de" -> Seq("der", "die", "und", "ist", "das"),
        "es" -> Seq("el", "la", "y", "que", "los"),
        "fr" -> Seq("le", "les", "et", "des", "une"),
        "zh" -> Seq("de5", "shi4", "le5", "zai4", "he2"))
      val scoreCols = markers.map { case (l, ms) =>
        s"CAST(len(list_filter(string_split(text, ' '), " +
          s"t -> list_contains([${ms.map("'" + _ + "'").mkString(",")}], t))) AS BIGINT) AS s_$l"
      }.mkString(", ")
      val best = s"greatest(${markers.map("s_" + _._1).mkString(", ")})"
      val cases = markers.map { case (l, _) =>
        s"WHEN s_$l = $best AND $best > 0 THEN '$l'"
      }.mkString(" ")
      s"""SELECT doc_id, CASE $cases ELSE 'unknown' END AS guessed_lang
          FROM (SELECT doc_id, $scoreCols FROM documents)
          ORDER BY doc_id"""
    }
  )

  /** Exact deduplication: hash-groupBy on content digest; keeper = min id.
    * (The fixture has no exact dups, so every group has cnt=1 — the
    * pipeline is still verified value-for-value.) */
  val exactDedup = Q(
    "q26_exact_dedup",
    (s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("keeper_id"))
        .orderBy(col("keeper_id")),
    Some("""SELECT md5(text) AS content_hash, count(*) AS cnt,
           min(doc_id) AS keeper_id
           FROM documents GROUP BY 1 ORDER BY keeper_id""")
  )

  /** N-gram Jaccard similarity between consecutive doc pairs (char
    * 4-gram shingle sets, intersection-over-union via shingle equi-join).
    * Exactness anchor for the MinHash estimate in q29. */
  val ngramJaccard = Q(
    "q27_ngram_jaccard",
    (s, d) => {
      val sh = shingles(Tables.documents(s, d)).cache()
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val inter = sh.select(col("doc_id").as("a_id"), col("s"))
        .join(sh.select((col("doc_id") - 1).as("a_id"), col("s")), Seq("a_id", "s"))
        .groupBy(col("a_id")).agg(count(lit(1)).as("inter"))
      inter
        .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")), Seq("a_id"))
        .join(sizes.select((col("doc_id") - 1).as("a_id"), col("n").as("nb")), Seq("a_id"))
        .select(col("a_id"), (col("a_id") + 1).as("b_id"),
          round(col("inter").cast("double") /
            (col("na") + col("nb") - col("inter")).cast("double"), 6).as("jaccard"))
        .orderBy(col("a_id"))
    },
    Some(s"""WITH sh AS ($shinglesSql),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
            inter AS (
              SELECT a.doc_id AS a_id, count(*) AS inter
              FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1 AND a.s = b.s
              GROUP BY 1)
            SELECT i.a_id, i.a_id + 1 AS b_id,
              round(CAST(inter AS DOUBLE) /
                    CAST(na.n + nb.n - inter AS DOUBLE), 6) AS jaccard
            FROM inter i
            JOIN sizes na ON na.doc_id = i.a_id
            JOIN sizes nb ON nb.doc_id = i.a_id + 1
            ORDER BY a_id""")
  )

  // MinHash machinery: K hash functions (a_k·h + b_k) mod P over shingle
  // hashes, deterministic seeds shared with the generated oracle SQL.
  private val K = 16
  private val Bands = 4
  private val RowsPerBand = K / Bands
  private val P = 2147483647L
  private[queries] val minhashCoef: Array[(Long, Long)] = {
    val rnd = new Random(777L)
    Array.fill(K)((rnd.nextInt(1000000).toLong + 1, rnd.nextInt(1000000).toLong + 1))
  }

  /** The one-pass signature expression (see [[graft.expr.MinHashSig]])
    * with THIS catalog's seeded coefficients. */
  private def minhashSigCol(text: Column): Column =
    ExpressionColumn(text)(e => graft.expr.MinHashSig(e(0), 4, minhashCoef, P))

  // -- shared faces for the streaming near-dup operator ---------------
  // (graft.stream.DedupStream MUST band and sign exactly as the batch
  // q28/q131 pipeline does, or its spec's equality contract against the
  // oracle-gated batch twin is meaningless — so the stream reuses THESE
  // functions rather than restating the formulas.)
  private[graft] def lshSigLen: Int = K
  private[graft] def lshBucketCapShared: Int = LshBucketCap
  private[graft] def sigColShared(text: Column): Column = minhashSigCol(text)
  /** [[bandedOf]] keeping the signature column alongside each banded
    * row — the stream's per-bucket state stores it for the pair's
    * est_jaccard. */
  private[graft] def bandedKeepSig(m: DataFrame): DataFrame =
    // col("*") so a caller-side event-time column (the stream's idle
    // horizon) rides through the explode untouched; every input here
    // carries (doc_id, sig [, ts]) and band/bucket are appended
    m.select(col("*"),
      posexplode(array((0 until Bands).map { b =>
        concat_ws("_", (0 until RowsPerBand).map(j =>
          element_at(col("sig"), b * RowsPerBand + j + 1)): _*)
      }: _*)).as(Seq("band", "bucket")))

  /** One signature DataFrame memoized per (session, dataset): the
    * MinHash table is the shared, expensive first stage of FOUR catalog
    * queries (q28/q29/q72/q131, plus q78 through q72), and relying on
    * the plan cache to dedupe per-invocation copies proved fragile —
    * each invocation builds a fresh `MinHashSig` expression, and under
    * the r14 scale-stress run the separately-registered copies
    * intermittently missed each other, re-deriving the signature table
    * inside a consumer's timing (SCALEBENCH r14 a–c attribution
    * artifact). Handing every consumer the SAME DataFrame object makes
    * reuse an identity, not a plan-matching question. Keyed on the
    * stable session id; evicted with the session. */
  private val sigCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]
  graft.SessionIds.registerEvictor(sid =>
    sigCache.filterInPlace((k, _) => k._1 != sid))

  private[graft] def sigMemoEntries: Int = sigCache.size

  /** Per-doc signatures (doc_id, sig: array<bigint> length K) — the
    * shared, shuffle-free first stage of q28/q29/q72/q131. `.cache()`
    * on every call is deliberate: it is a no-op while registered and
    * RE-registers the one shared plan after a `clearCache()` (the bench
    * clears per pass), so the memo never serves an uncacheable orphan. */
  private def signatures(s: SparkSession, d: String): DataFrame =
    sigCache.getOrElseUpdate((graft.SessionIds.of(s), d), {
      Tables.documents(s, d)
        .select(col("doc_id"), minhashSigCol(col("text")).as("sig"))
        .where(col("sig").isNotNull)
    }).cache()

  /** Per-doc MinHash signature, exploded to (doc_id, k, mh) rows so the
    * oracle compare is flat. The signature is computed per row by the
    * native one-pass expression — no explode, no shuffle; the only
    * exchange left in the plan is the output ORDER BY. (The oracle keeps
    * the explode/groupBy formulation, so the expression's hash/min math
    * is itself oracle-verified.) */
  val minhashSig = Q(
    "q28_minhash_sig",
    (s, d) =>
      signatures(s, d)
        .select(col("doc_id"), posexplode(col("sig")).as(Seq("k", "mh")))
        .select(col("doc_id"), col("k").cast("long").as("k"), col("mh"))
        .orderBy(col("doc_id"), col("k")),
    Some {
      val mhCols = minhashCoef.zipWithIndex.map { case ((a, b), k) =>
        s"min(($a * hv + $b) % $P) AS mh$k"
      }.mkString(", ")
      val unions = (0 until K).map { k =>
        s"SELECT doc_id, CAST($k AS BIGINT) AS k, mh$k AS mh FROM m"
      }.mkString(" UNION ALL ")
      s"""WITH sh AS ($shinglesSql),
          hv AS (SELECT doc_id, ${h32Sql("s")} AS hv FROM sh),
          m AS (SELECT doc_id, $mhCols FROM hv GROUP BY doc_id)
          SELECT doc_id, k, mh FROM ($unions) ORDER BY doc_id, k"""
    }
  )

  /** Hard ceiling for q29's exact all-pairs bucket enumeration:
    * Θ(Σ C(bucket, 2)) output, measured 16× rows for 10× input at the
    * fixture's bucket skew (SCALEBENCH_r14; heaviest band bucket 386
    * docs = 74k pairs). 100k docs ≈ 20× the sf0.1 fixture — DELIBERATELY
    * above ScaleBench's 10×-tiled 50k so the scale bench keeps measuring
    * the quadratic side by side with q131's bounded form, and low enough
    * that no real corpus reaches the enumeration ungated. */
  private[graft] val ExactLshPairsMaxDocs = 100000L

  /** Document-count memo per fixture dir (immutable data): the q29 gate
    * costs one metadata-count job per dataset, not one per invocation —
    * the q21 `rowCountCache` pattern (Similarity.scala). */
  private val docCountCache =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  /** The q21 require-gate pattern applied to q29: refuse the exact
    * all-pairs enumeration above [[ExactLshPairsMaxDocs]] docs, naming
    * the scale-safe form. Factored out so the spec can exercise the
    * refusal without materializing a 100k-doc corpus. */
  private[graft] def checkExactPairsScale(
      nDocs: Long, cap: Long = ExactLshPairsMaxDocs): Unit =
    require(nDocs <= cap,
      s"q29_minhash_pairs is the exact all-pairs correctness anchor " +
      s"(Θ(Σ C(bucket,2)) pair output — measured 16× rows for 10× input, " +
      s"SCALEBENCH_r14); input has $nDocs docs > $cap. Use " +
      s"q131_minhash_pairs_bounded (bucket-capped banding) at corpus scale.")

  /** MinHash-LSH near-dup candidates: docs sharing at least one band of
    * the signature, with the signature-estimated Jaccard attached. The
    * join key is the banded signature — at scale this is the only
    * shuffle. CAVEAT (measured, SCALEBENCH r14): the pair OUTPUT is
    * Θ(Σ C(bucket, 2)), and a boilerplate-heavy corpus has heavy
    * buckets (the sf0.1 fixture's largest band bucket holds 386 docs =
    * 74k pairs from one key; tiled 10×, the operator's cpu grew 36× for
    * 10× input). This exact all-pairs form is the CORRECTNESS anchor;
    * [[minhashPairsBounded]] (q131) is the form to run at corpus scale —
    * and, the q21 pattern (VERDICT r14 what's-wrong #1), the anchor is
    * size-GATED so it cannot silently become a production path: above
    * [[ExactLshPairsMaxDocs]] docs it refuses and names q131. */
  val minhashPairs = Q(
    "q29_minhash_pairs",
    (s, d) => {
      checkExactPairsScale(docCountCache.getOrElseUpdate(d,
        graft.Tables.documents(s, d).count()))
      val m = signatures(s, d).cache()
      val banded = bandedOf(m)
      val cand = banded.select(col("band"), col("bucket"), col("doc_id").as("a_id"))
        .join(banded.select(col("band"), col("bucket"), col("doc_id").as("b_id")),
          Seq("band", "bucket"))
        .where(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id")).distinct()
      val est = (0 until K).map(k =>
        when(element_at(col("sa"), k + 1) === element_at(col("sb"), k + 1), 1.0)
          .otherwise(0.0))
        .reduce(_ + _) / K.toDouble
      cand
        .join(m.select(col("doc_id").as("a_id"), col("sig").as("sa")), Seq("a_id"))
        .join(m.select(col("doc_id").as("b_id"), col("sig").as("sb")), Seq("b_id"))
        .select(col("a_id"), col("b_id"), round(est, 6).as("est_jaccard"))
        .orderBy(col("a_id"), col("b_id"))
    },
    Some {
      val mhCols = minhashCoef.zipWithIndex.map { case ((a, b), k) =>
        s"min(($a * hv + $b) % $P) AS mh$k"
      }.mkString(", ")
      val anyBand = (0 until Bands).map { b =>
        (0 until RowsPerBand).map(j => s"a.mh${b * RowsPerBand + j} = b.mh${b * RowsPerBand + j}")
          .mkString("(", " AND ", ")")
      }.mkString(" OR ")
      val est = (0 until K).map(k =>
        s"(CASE WHEN a.mh$k = b.mh$k THEN 1.0 ELSE 0.0 END)").mkString(" + ")
      s"""WITH sh AS ($shinglesSql),
          hv AS (SELECT doc_id, ${h32Sql("s")} AS hv FROM sh),
          m AS (SELECT doc_id, $mhCols FROM hv GROUP BY doc_id)
          SELECT a.doc_id AS a_id, b.doc_id AS b_id,
            round(($est) / $K.0, 6) AS est_jaccard
          FROM m a JOIN m b ON a.doc_id < b.doc_id AND ($anyBand)
          ORDER BY a_id, b_id"""
    }
  )

  /** Per-band bucket-population cap for [[minhashPairsBounded]]: ≈ p99.5
    * of the fixture's bucket-size distribution (29 of ~19k buckets
    * exceed it), and high enough that genuine near-dup clusters pass
    * while template/boilerplate keys are excluded. */
  private[queries] val LshBucketCap = 32

  /** The (doc_id, band, bucket) exploded banding of the MinHash
    * signature table — the shared first step of q29, q131, and the q132
    * profile (identical expression in all three, factored so the
    * banding cannot drift between the enumerators and the instrument
    * that prices them). */
  private def bandedOf(m: DataFrame): DataFrame =
    bandedKeepSig(m).select(col("doc_id"), col("band"), col("bucket"))

  /** LSH candidate-work profile — the noise-free WORK instrument for
    * the dedup stage (SURVEY §8.9). The r15 scale bench measured q131's
    * fresh-JVM cpu growing 15–17× for 10× input against 11.2× output
    * rows, and the adjudication ("the bounded-regime cap transition:
    * sub-cap buckets grow quadratically until the per-key Cap² ceiling
    * flattens the total") was argued from the operator's structure —
    * this query makes it measurable: one row of exact integers giving
    * the bucket count, the over-cap bucket count, and the candidate
    * enumeration volume Σ C(bsz, 2) of the exact (q29) and bounded
    * (q131) forms. Candidate counts are a deterministic function of the
    * corpus (no timer, no session state), so their per-scale ratios
    * adjudicate any cpu flag on the pair enumerators the way output
    * rows adjudicate the smaller queries. */
  val lshCandidateProfile = Q(
    "q132_lsh_candidate_profile",
    (s, d) => {
      val bs = bandedOf(signatures(s, d))
        .groupBy(col("band"), col("bucket"))
        .agg(count(lit(1)).as("bsz"))
      bs.agg(
        count(lit(1)).as("buckets"),
        sum(when(col("bsz") > LshBucketCap, 1L).otherwise(0L))
          .as("buckets_over_cap"),
        sum(expr("(bsz * (bsz - 1)) DIV 2")).as("exact_cand_pairs"),
        sum(when(col("bsz") <= LshBucketCap,
            expr("(bsz * (bsz - 1)) DIV 2")).otherwise(0L))
          .as("bounded_cand_pairs"))
    },
    Some {
      val mhCols = minhashCoef.zipWithIndex.map { case ((a, b), k) =>
        s"min(($a * hv + $b) % $P) AS mh$k"
      }.mkString(", ")
      val bandSelects = (0 until Bands).map { b =>
        val bucket = (0 until RowsPerBand)
          .map(j => s"mh${b * RowsPerBand + j}").mkString(" || '_' || ")
        s"SELECT doc_id, $b AS band, $bucket AS bucket FROM m"
      }.mkString(" UNION ALL ")
      s"""WITH sh AS ($shinglesSql),
          hv AS (SELECT doc_id, ${h32Sql("s")} AS hv FROM sh),
          m AS (SELECT doc_id, $mhCols FROM hv GROUP BY doc_id),
          banded AS ($bandSelects),
          bs AS (SELECT band, bucket, count(*) AS bsz
                 FROM banded GROUP BY band, bucket)
          SELECT count(*) AS buckets,
            CAST(sum(CASE WHEN bsz > $LshBucketCap THEN 1 ELSE 0 END) AS BIGINT)
              AS buckets_over_cap,
            CAST(sum((bsz * (bsz - 1)) // 2) AS BIGINT) AS exact_cand_pairs,
            CAST(sum(CASE WHEN bsz <= $LshBucketCap
                     THEN (bsz * (bsz - 1)) // 2 ELSE 0 END) AS BIGINT)
              AS bounded_cand_pairs
          FROM bs"""
    }
  )

  /** q29 with the at-scale guard the SCALEBENCH r14 flag demanded:
    * identical banding, but a (band, bucket) key whose population
    * exceeds [[LshBucketCap]] contributes NO pairs. Rationale (the
    * standard web-dedup practice): a band key shared by hundreds of
    * documents is a boilerplate/template signal, not a near-duplicate
    * signal — its C(n,2) explosion is exactly the quadratic term that
    * breaks all-pairs enumeration at corpus scale, and docs that are
    * TRULY near-duplicates of each other keep colliding in their other,
    * discriminative bands. The bucket-size filter is one count
    * aggregate on the same shuffle key as the pair join, so work and
    * output are both bounded by Cap per key — Σ C(min(n, 0-or-n≤Cap), 2)
    * — making the operator linear in bucket COUNT regardless of corpus
    * skew (measured side by side with q29 in SCALEBENCH_r14). */
  val minhashPairsBounded = Q(
    "q131_minhash_pairs_bounded",
    (s, d) => {
      val m = signatures(s, d).cache()
      val banded = bandedOf(m)
      val keep = banded.groupBy(col("band"), col("bucket"))
        .agg(count(lit(1)).as("bsz"))
        .where(col("bsz") <= LshBucketCap)
        .select(col("band"), col("bucket"))
      val small = banded.join(keep, Seq("band", "bucket"))
      val cand = small.select(col("band"), col("bucket"), col("doc_id").as("a_id"))
        .join(small.select(col("band"), col("bucket"), col("doc_id").as("b_id")),
          Seq("band", "bucket"))
        .where(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id")).distinct()
      val est = (0 until K).map(k =>
        when(element_at(col("sa"), k + 1) === element_at(col("sb"), k + 1), 1.0)
          .otherwise(0.0))
        .reduce(_ + _) / K.toDouble
      cand
        .join(m.select(col("doc_id").as("a_id"), col("sig").as("sa")), Seq("a_id"))
        .join(m.select(col("doc_id").as("b_id"), col("sig").as("sb")), Seq("b_id"))
        .select(col("a_id"), col("b_id"), round(est, 6).as("est_jaccard"))
        .orderBy(col("a_id"), col("b_id"))
    },
    Some {
      val mhCols = minhashCoef.zipWithIndex.map { case ((a, b), k) =>
        s"min(($a * hv + $b) % $P) AS mh$k"
      }.mkString(", ")
      val bandSelects = (0 until Bands).map { b =>
        val bucket = (0 until RowsPerBand)
          .map(j => s"mh${b * RowsPerBand + j}").mkString(" || '_' || ")
        s"SELECT doc_id, $b AS band, $bucket AS bucket FROM m"
      }.mkString(" UNION ALL ")
      val est = (0 until K).map(k =>
        s"(CASE WHEN sa.mh$k = sb.mh$k THEN 1.0 ELSE 0.0 END)").mkString(" + ")
      s"""WITH sh AS ($shinglesSql),
          hv AS (SELECT doc_id, ${h32Sql("s")} AS hv FROM sh),
          m AS (SELECT doc_id, $mhCols FROM hv GROUP BY doc_id),
          banded AS ($bandSelects),
          keep AS (SELECT band, bucket FROM banded
                   GROUP BY band, bucket HAVING count(*) <= $LshBucketCap),
          small AS (SELECT b.doc_id, b.band, b.bucket
                    FROM banded b JOIN keep k
                    ON b.band = k.band AND b.bucket = k.bucket),
          cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
                   FROM small a JOIN small b
                   ON a.band = b.band AND a.bucket = b.bucket
                      AND a.doc_id < b.doc_id)
          SELECT c.a_id, c.b_id, round(($est) / $K.0, 6) AS est_jaccard
          FROM cand c
          JOIN m sa ON sa.doc_id = c.a_id
          JOIN m sb ON sb.doc_id = c.b_id
          ORDER BY a_id, b_id"""
    }
  )

  /** Shared CTE prefix for q29/q72: signatures `m`, plus (for q72) the
    * thresholded symmetric candidate-edge list `ed` with self-loops. */
  private def minhashCtes: String = {
    val mhCols = minhashCoef.zipWithIndex.map { case ((a, b), k) =>
      s"min(($a * hv + $b) % $P) AS mh$k"
    }.mkString(", ")
    s"""sh AS ($shinglesSql),
        hv AS (SELECT doc_id, ${h32Sql("s")} AS hv FROM sh),
        m AS (SELECT doc_id, $mhCols FROM hv GROUP BY doc_id)"""
  }

  /** Propagation rounds for q72: each round is a neighbor-min step plus
    * TWO pointer jumps, so reachable distance satisfies r' = 4r + 3 —
    * after n rounds, 4ⁿ−1. The fixture's near-dup graph chains
    * CONSECUTIVE docs (est ≥ 0.5 between doc i and i+1 is common by
    * construction), so component diameter can approach the doc count —
    * 8 rounds covers diameter 65535, far above any fixture scale, and
    * DedupComponentsSpec asserts actual convergence (one more round is a
    * fixpoint) plus equality with a union-find ground truth. Rounds scale
    * as log(diameter), and the round count — not per-round data — is the
    * local cost driver (each round is one collected query over the edge
    * list), which is why two jumps per round beats twice the rounds. */
  private val CcRounds = 8

  /** q72's labels as a width-1 table: `labels(r)` is the keeper of
    * `ids(r)`. A label rides as a double, exact only below 2^53 in
    * magnitude, so every doc_id must be (labels are doc_ids). */
  private[graft] def labelTable(ids: Array[Long], labels: Array[Long]): FactorTable = {
    require(ids.forall(id => -(1L << 53) < id && id < (1L << 53)),
      "q72_dedup_components carries its labels as doubles: every doc_id " +
        "must lie strictly between -2^53 and 2^53")
    FactorTable(ids, labels.map(l => Array(l.toDouble)), 1)
  }

  /** Does nothing: q72 keeps nothing between calls. Kept because the
    * benchmark's round loop (`perfbench/src/perfbench/Main.scala`)
    * calls it. */
  def clearLabelMemo(): Unit = ()

  /** Near-dup GROUPING (the step after candidate generation in a dedup
    * pipeline): connected components over the MinHash-LSH candidate graph
    * (q29 pairs with est_jaccard ≥ 0.5), each doc labeled with the min
    * doc_id of its component — the keeper its group deduplicates to.
    *
    * Components come from min-label propagation with pointer jumping
    * (the MapReduce connected-components family — Rastogi et al. 2013
    * "hash-to-min", Kiveris et al. 2014): per round, label(d) =
    * min(label(n) for n ∈ N(d) ∪ {d}) followed by label(d) =
    * label(label(d)), twice. The labels are carried on the driver: a
    * round is ONE collected `groupBy(dst).min(label(src))` over the
    * cached candidate-edge list, reading each source's label through the
    * carried table (round 1 needs none: label₀(src) = src), and the two
    * pointer jumps run on the collected arrays. Every label is
    * non-increasing, so a round that changes none is the fixpoint; the
    * loop stops there, capped at the CcRounds the oracle SQL unrolls, so
    * a graph that has not converged still gets the oracle's exact labels
    * and the propagation itself is oracle-checked.
    *
    * Scale ceiling: the labels cost |nodes| × 16 bytes (an id and a
    * label) on the driver and, inside each round's plan, in every task;
    * the candidate-edge list stays distributed. */
  val dedupComponents = Q(
    "q72_dedup_components",
    (s, d) => {
      // symmetric adjacency + self-loops, in one pass over the pairs: a
      // node's own label joins in on the same path as its neighbors'
      // (one self-loop per pair it is in; a min ignores the repeats)
      val withSelf = minhashPairs.run(s, d)
        .where(col("est_jaccard") >= 0.5)
        .select(inline(array(Seq("a_id" -> "b_id", "b_id" -> "a_id",
          "a_id" -> "a_id", "b_id" -> "b_id").map { case (x, y) =>
            struct(col(x).as("src"), col(y).as("dst")) }: _*)))
        .cache()
      /** label(d) := min of `label` over d's in-edges, ids ascending. */
      def neighborMin(label: Column): (Array[Long], Array[Long]) =
        withSelf.groupBy(col("dst")).agg(min(label).cast("long")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).unzip
      import s.implicits._
      try {
        val (ids, first) = neighborMin(col("src"))
        // label(d) := label(label(d)), every d against the same labels
        def jump(l: Array[Long]): Array[Long] =
          l.map(k => l(java.util.Arrays.binarySearch(ids, k)))
        // `lab` is round `round`'s labels, `prev` round `round` − 1's
        @scala.annotation.tailrec
        def rounds(lab: Array[Long], prev: Array[Long], round: Int): Array[Long] =
          if (round == CcRounds || java.util.Arrays.equals(lab, prev)) lab
          else rounds(jump(jump(neighborMin(GraftFunctions.factorLookup(
            col("src"), labelTable(ids, lab))(0))._2)), lab, round + 1)
        ids.zip(rounds(jump(jump(first)), ids, 1)).toSeq
          .toDF("doc_id", "keeper_id").orderBy(col("doc_id"))
      } finally withSelf.unpersist()
    },
    Some {
      val anyBand = (0 until Bands).map { b =>
        (0 until RowsPerBand).map(j => s"a.mh${b * RowsPerBand + j} = b.mh${b * RowsPerBand + j}")
          .mkString("(", " AND ", ")")
      }.mkString(" OR ")
      val est = (0 until K).map(k =>
        s"(CASE WHEN a.mh$k = b.mh$k THEN 1.0 ELSE 0.0 END)").mkString(" + ")
      // AS MATERIALIZED: each jump references its input twice and ed is
      // referenced every round — inlined CTEs would blow up exponentially
      // (the Spark side carries each round's labels on the driver).
      val rounds = (1 to CcRounds).map { i =>
        s"""s$i AS MATERIALIZED (SELECT e.dst AS doc_id, min(l.keeper) AS keeper
                  FROM ed e JOIN l${i - 1} l ON e.src = l.doc_id GROUP BY 1),
           j$i AS MATERIALIZED (SELECT a.doc_id, b.keeper
                   FROM s$i a JOIN s$i b ON a.keeper = b.doc_id),
           l$i AS MATERIALIZED (SELECT a.doc_id, b.keeper
                   FROM j$i a JOIN j$i b ON a.keeper = b.doc_id)"""
      }.mkString(",\n")
      s"""WITH $minhashCtes,
          pr AS MATERIALIZED (SELECT a.doc_id AS a_id, b.doc_id AS b_id
                 FROM m a JOIN m b ON a.doc_id < b.doc_id AND ($anyBand)
                 WHERE round(($est) / $K.0, 6) >= 0.5),
          ed AS MATERIALIZED (SELECT a_id AS src, b_id AS dst FROM pr
                 UNION ALL SELECT b_id, a_id FROM pr
                 UNION ALL SELECT DISTINCT a_id, a_id FROM (
                   SELECT a_id FROM pr UNION ALL SELECT b_id FROM pr) n(a_id)),
          l0 AS MATERIALIZED (SELECT DISTINCT src AS doc_id, src AS keeper FROM ed),
          $rounds
          SELECT doc_id, keeper AS keeper_id FROM l$CcRounds
          ORDER BY doc_id"""
    }
  )

  /** SimHash (32-bit) per doc over whitespace tokens (multiset-weighted):
    * bit j of the signature = sign of Σ_tokens (±1 by token-hash bit j). */
  val simhash = Q(
    "q30_simhash",
    (s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
        .select(col("doc_id"), h32(col("t")).as("hv"))
      val bitSums = (0 until 32).map(j =>
        sum(shiftright(col("hv"), j).bitwiseAND(lit(1L)) * 2 - 1).as(s"bs$j"))
      val sig = (0 until 32).map(j =>
        when(col(s"bs$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
      toks.groupBy(col("doc_id"))
        .agg(bitSums.head, bitSums.tail: _*)
        .select(col("doc_id"), sig.as("simhash"))
        .orderBy(col("doc_id"))
    },
    Some {
      val bitSums = (0 until 32).map(j =>
        s"sum(((hv >> $j) & 1) * 2 - 1) AS bs$j").mkString(", ")
      val sig = (0 until 32).map(j =>
        s"(CASE WHEN bs$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
      s"""WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
          hv AS (SELECT doc_id, ${h32Sql("t")} AS hv FROM tok),
          bs AS (SELECT doc_id, $bitSums FROM hv GROUP BY doc_id)
          SELECT doc_id, CAST($sig AS BIGINT) AS simhash FROM bs
          ORDER BY doc_id"""
    }
  )

  /** Rolling-hash fingerprints: polynomial hash of each char 4-gram,
    * mod-sampled (h % 8 == 0) — winnowing-style content fingerprints. */
  val fingerprint = Q(
    "q31_fingerprint",
    (s, d) =>
      // hash + mod-filter BEFORE the distinct: the shuffle then carries
      // ~1/8 of the rows as (long, long) pairs instead of every shingle
      // string — the order-of-magnitude win at 100 TB.
      rawShingles(Tables.documents(s, d))
        .select(col("doc_id"), rh4(col("s")).as("fp"))
        .where(col("fp") % 8 === 0)
        .distinct()
        .orderBy(col("doc_id"), col("fp")),
    Some(s"""SELECT DISTINCT doc_id, ${rh4Sql("s")} AS fp
            FROM ($shinglesSql)
            WHERE ${rh4Sql("s")} % 8 = 0
            ORDER BY doc_id, fp""")
  )

  /** Word-trigram Jaccard between consecutive doc pairs (the token-level
    * twin of q27's char shingles; same intersection-over-union join). */
  val wordNgramJaccard = Q(
    "q56_word_ngram_jaccard",
    (s, d) => {
      val sh = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"),
          // guard: sequence(1,0) would descend, not be empty
          explode(expr("""CASE WHEN size(toks) < 3 THEN array()
            ELSE transform(sequence(1, size(toks) - 2),
              i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1])) END""")).as("s"))
        .distinct()
        .cache()
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val inter = sh.select(col("doc_id").as("a_id"), col("s"))
        .join(sh.select((col("doc_id") - 1).as("a_id"), col("s")), Seq("a_id", "s"))
        .groupBy(col("a_id")).agg(count(lit(1)).as("inter"))
      inter
        .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")), Seq("a_id"))
        .join(sizes.select((col("doc_id") - 1).as("a_id"), col("n").as("nb")), Seq("a_id"))
        .select(col("a_id"), (col("a_id") + 1).as("b_id"),
          round(col("inter").cast("double") /
            (col("na") + col("nb") - col("inter")).cast("double"), 6).as("jaccard"))
        .orderBy(col("a_id"))
    },
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           sh AS (SELECT DISTINCT doc_id,
                    unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                      i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1]
                        || ' ' || toks[CAST(i AS INT) + 2])) AS s
                  FROM t),
           sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
           inter AS (SELECT a.doc_id AS a_id, count(*) AS inter
                     FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1 AND a.s = b.s
                     GROUP BY 1)
           SELECT i.a_id, i.a_id + 1 AS b_id,
             round(CAST(inter AS DOUBLE) / CAST(na.n + nb.n - inter AS DOUBLE), 6)
               AS jaccard
           FROM inter i JOIN sizes na ON na.doc_id = i.a_id
           JOIN sizes nb ON nb.doc_id = i.a_id + 1
           ORDER BY a_id""")
  )

  /** Word n-grams per doc (1-based windows over the whitespace tokens);
    * docs with fewer than n tokens contribute no rows on either engine. */
  private def wordGrams(s: SparkSession, d: String, n: Int): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(expr(
        s"""CASE WHEN size(toks) < $n THEN array()
           ELSE transform(sequence(1, size(toks) - ${n - 1}),
             i -> concat_ws(' ', ${(0 until n).map(j => s"toks[i-1+$j]").mkString(", ")}))
           END""")).as("s"))

  /** Same relation — DuckDB CTE body (`t` = tokenized documents). */
  private def wordGramsSql(n: Int): String =
    s"""SELECT doc_id, unnest(list_transform(range(1, greatest(len(toks) - ${n - 2}, 1)),
         i -> ${(0 until n).map(j => s"toks[CAST(i AS INT) + $j]").mkString(" || ' ' || ")})) AS s
       FROM t"""

  /** Within-document repetition (the Gopher-family quality rule — Rae et
    * al. 2021 §A1.1: drop docs whose duplicate n-gram fraction is high):
    * per doc, the fraction of word trigrams that are repeats. Counts are
    * exact integers, so the ratio is oracle-stable; one explode + one
    * groupBy on doc_id — a map-side-combinable single shuffle at any
    * scale. */
  val repetition = Q(
    "q73_repetition",
    (s, d) =>
      wordGrams(s, d, 3)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_trigrams"),
             countDistinct(col("s")).as("n_unique"))
        .select(col("doc_id"), col("n_trigrams"), col("n_unique"),
          round(lit(1.0) - col("n_unique").cast("double") / col("n_trigrams"), 6)
            .as("dup_frac"))
        .orderBy(col("doc_id")),
    Some(s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
            g AS (${wordGramsSql(3)})
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
                   CAST(count(DISTINCT s) AS BIGINT) AS n_unique,
                   round(1.0 - CAST(count(DISTINCT s) AS DOUBLE) / count(*), 6)
                     AS dup_frac
            FROM g GROUP BY 1 ORDER BY doc_id""")
  )

  /** Benchmark decontamination (the train/test-overlap scrub every
    * training-data pipeline runs before shipping a corpus): flag corpus
    * docs sharing any word n-gram with the benchmark set — here the
    * deterministic holdout doc_id % 20 = 0, with n=4 sized to the
    * fixture's vocabulary (production pipelines use 8–13-gram windows;
    * n is a parameter of [[wordGrams]]). The only shuffle is the
    * equi-join on the n-gram itself — benchmark grams are tiny and
    * broadcast, so at 100 TB this is a map-side filter over the corpus
    * scan. */
  val contamination = Q(
    "q74_contamination",
    (s, d) => {
      val g = wordGrams(s, d, 4)
      val bench = g.where(col("doc_id") % 20 === 0).select(col("s")).distinct()
      g.where(col("doc_id") % 20 =!= 0)
        .join(broadcast(bench), Seq("s"))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("s")).as("n_shared"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
            g AS (${wordGramsSql(4)}),
            b AS (SELECT DISTINCT s FROM g WHERE doc_id % 20 = 0)
            SELECT g.doc_id, CAST(count(DISTINCT g.s) AS BIGINT) AS n_shared
            FROM g JOIN b USING (s) WHERE g.doc_id % 20 <> 0
            GROUP BY 1 ORDER BY doc_id""")
  )

  /** END-TO-END corpus cleaning (the composition story: the catalog's
    * text operators ARE a pipeline): quality filter (q24 score ≥ 0.5) →
    * language filter (q25 = 'en') → near-dup removal (keep only q72
    * component keepers and graph singletons) → per-source corpus stats.
    * Both sides COMPOSE the existing operators — the Spark side chains
    * the catalog queries' own `run` functions, the oracle embeds their
    * oracle SQL as CTEs — so the pipeline can't drift from its stages.
    * The mean quality rides on exact integer micro-units (q24's score is
    * 6-decimal-rounded, so ×10⁶ is integral) keeping the aggregate
    * order-independent across engines. */
  val cleanCorpus = Q(
    "q78_clean_corpus",
    (s, d) => {
      val q = textQuality.run(s, d)
        .select(col("doc_id"), col("n_tokens"), col("quality"))
      val l = langId.run(s, d)
      val kp = dedupComponents.run(s, d)
      Tables.documents(s, d).select(col("doc_id"), col("source"))
        .join(q, Seq("doc_id")).join(l, Seq("doc_id"))
        .join(kp, Seq("doc_id"), "left")
        .where(col("quality") >= 0.5 && col("guessed_lang") === "en" &&
          (col("keeper_id").isNull || col("keeper_id") === col("doc_id")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_tokens").cast("long")).as("sum_tokens"),
             sum(round(col("quality") * 1000000, 0).cast("long")).as("q6"))
        .select(col("source"), col("n_docs"), col("sum_tokens"),
          round(col("q6").cast("double") / col("n_docs") / 1000000.0, 6)
            .as("avg_quality"))
        .orderBy(col("source"))
    },
    Some(s"""WITH q AS (${textQuality.oracle.get}),
            l AS (${langId.oracle.get}),
            kp AS (${dedupComponents.oracle.get})
            SELECT source, n_docs, sum_tokens,
              round(CAST(q6 AS DOUBLE) / n_docs / 1000000.0, 6) AS avg_quality
            FROM (
              SELECT d.source, count(*) AS n_docs,
                CAST(sum(CAST(q.n_tokens AS BIGINT)) AS BIGINT) AS sum_tokens,
                CAST(sum(CAST(round(q.quality * 1000000, 0) AS BIGINT)) AS BIGINT)
                  AS q6
              FROM documents d
              JOIN q USING (doc_id) JOIN l USING (doc_id)
              LEFT JOIN kp USING (doc_id)
              WHERE q.quality >= 0.5 AND l.guessed_lang = 'en'
                AND (kp.keeper_id IS NULL OR kp.keeper_id = d.doc_id)
              GROUP BY 1) t
            ORDER BY source""")
  )

  /** Deterministic DATA MIXING (the mixture step of a training-data
    * pipeline: sample each source down to its target weight): keep a doc
    * iff hash(doc) mod 1000 < its source's target permille — a pure
    * per-row predicate, so the sample is reproducible, join-free,
    * map-side, and identically computable by the oracle (seeded rand()
    * would never cross engines). Source weights are a deterministic
    * function of the source index (250/500/750‰ by index mod 3). Reports
    * per-source target vs realized keep-rate — the drift check a mixture
    * job ships with. */
  val dataMixture = Q(
    "q79_data_mixture",
    (s, d) => {
      val idx = regexp_replace(col("source"), "[^0-9]", "").cast("int")
      val w = ((idx % 3) + 1) * 250
      val kept = (h32(concat(lit("mix"), col("doc_id").cast("string"))) % 1000 < w)
        .cast("long")
      Tables.documents(s, d)
        .select(col("source"), w.as("target_permille"), kept.as("kept"))
        .groupBy(col("source"))
        .agg(min(col("target_permille")).cast("long").as("target_permille"),
             count(lit(1)).as("n_total"), sum(col("kept")).as("n_kept"))
        .select(col("source"), col("target_permille"), col("n_total"), col("n_kept"),
          round(col("n_kept").cast("double") / col("n_total"), 6).as("realized"))
        .orderBy(col("source"))
    },
    Some(s"""WITH m AS (SELECT source,
              ((CAST(regexp_replace(source, '[^0-9]', '', 'g') AS INT) % 3) + 1) * 250
                AS target_permille,
              CASE WHEN ${h32Sql("'mix' || CAST(doc_id AS VARCHAR)")} % 1000 <
                ((CAST(regexp_replace(source, '[^0-9]', '', 'g') AS INT) % 3) + 1) * 250
              THEN 1 ELSE 0 END AS kept
            FROM documents)
            SELECT source, CAST(min(target_permille) AS BIGINT) AS target_permille,
              count(*) AS n_total, CAST(sum(kept) AS BIGINT) AS n_kept,
              round(CAST(sum(kept) AS DOUBLE) / count(*), 6) AS realized
            FROM m GROUP BY 1 ORDER BY source""")
  )

  /** Corpus length-distribution histogram (the shape report a filtering
    * stage is tuned against): docs bucketed by n_chars into fixed 50-char
    * bins via integer division — exact-integer bucket ids, one map-side
    * combinable groupBy. */
  val lengthHistogram = Q(
    "q80_length_histogram",
    (s, d) =>
      Tables.documents(s, d)
        .select((col("n_chars").cast("long")).as("nc"))
        .groupBy(expr("nc div 50").as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
             min(col("nc")).as("min_chars"), max(col("nc")).as("max_chars"))
        .select((col("bucket") * 50).as("bucket_lo"), col("n_docs"),
          col("min_chars"), col("max_chars"))
        .orderBy(col("bucket_lo")),
    Some("""SELECT (CAST(n_chars AS BIGINT) // 50) * 50 AS bucket_lo,
           count(*) AS n_docs,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
           FROM documents GROUP BY 1 ORDER BY bucket_lo""")
  )

  /** Heavy hitters by SAMPLED counting (the sticky-sampling /
    * sample-and-count family, Manku & Motwani 2002): frequent-token
    * discovery over a deterministic 10% hash-sample of documents,
    * measured AGAINST the exact top-k as its recall — the q66/q67
    * acceptance-number idiom applied to frequency sketching. At 100 TB
    * the exact path is a full-corpus token shuffle; the sampled path
    * shuffles a tenth of it (or less), and this query reports exactly
    * what that discount costs. Counts are exact integers with token
    * tiebreaks, so both top-k sets are oracle-stable. */
  val sampledHeavyHitters = Q(
    "q90_sampled_heavy_hitters",
    (s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
        .where(col("t") =!= "")
      def topk(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("t")).agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("t")).limit(20)
      val exactTop = topk(toks).select(col("t"))
      val sampleTop = topk(toks.where(
          h32(concat(lit("hh"), col("doc_id").cast("string"))) % 10 === 0))
        .select(col("t"), lit(1).as("hit"))
      exactTop.join(sampleTop, Seq("t"), "left")
        .agg(count(lit(1)).as("n_topk"), count(col("hit")).as("n_found"),
          round(count(col("hit")).cast("double") / count(lit(1)), 6)
            .as("recall"))
    },
    Some(s"""WITH toks AS (SELECT doc_id, t FROM (
              SELECT doc_id, unnest(string_split(text, ' ')) AS t
              FROM documents) u WHERE t <> ''),
            ex AS (SELECT t FROM (
              SELECT t, count(*) AS c FROM toks GROUP BY 1
              ORDER BY c DESC, t LIMIT 20) e),
            sm AS (SELECT t, 1 AS hit FROM (
              SELECT t, count(*) AS c FROM toks
              WHERE ${h32Sql("'hh' || CAST(doc_id AS VARCHAR)")} % 10 = 0
              GROUP BY 1 ORDER BY c DESC, t LIMIT 20) q)
            SELECT count(*) AS n_topk, count(sm.hit) AS n_found,
                   round(CAST(count(sm.hit) AS DOUBLE) / count(*), 6) AS recall
            FROM ex LEFT JOIN sm USING (t)""")
  )

  // ---- mergeable frequency / membership sketches -----------------------

  private val CmsD = 4
  private val CmsW = 256

  /** The d flattened CMS cell indexes (i·w + bucket_i) of one token —
    * the shared md5-prefix hash family, salted per row, so the oracle
    * reproduces the cells bit-exactly. */
  private def cmsCells(t: Column): Column =
    transform(sequence(lit(0), lit(CmsD - 1)), i =>
      i.cast("long") * CmsW +
        pmod(h32(concat(lit("cm"), i.cast("string"), lit("_"), t)),
          lit(CmsW.toLong)))

  /** Count-Min-Sketch heavy hitters (Cormode & Muthukrishnan 2005):
    * build a d×w counter table over ALL token occurrences as ONE
    * bounded-state aggregate ([[graft.expr.CountMinSketch]] — O(d·w)
    * per map task, merge = elementwise add, the sketch family's third
    * member next to q77's KMV and q90's sampling), then read back the
    * estimate `min_i cells[bucket_i(t)]` for the exact top-20 tokens and
    * report estimate vs truth — the q66/q67 acceptance idiom. The
    * overestimate is structurally ≥ 0 (CMS never undercounts), and
    * every number is an exact integer, so the oracle — which rebuilds
    * the same cells by summing per-token counts per (row, bucket) in
    * SQL — matches bit-for-bit. At 100 TB the exact path shuffles the
    * corpus's full token stream; the sketch ships a few KB per task. */
  val cmsHeavyHitters = Q(
    "q98_cms_heavy_hitters",
    (s, d) => {
      val toks = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("t"))
        .where(col("t") =!= "")
      val sk = toks.agg(
        graft.expr.CountMinSketch.agg(CmsD, CmsW)(cmsCells(col("t")))
          .as("cells"))
      val cnt = toks.groupBy(col("t")).agg(count(lit(1)).as("n_exact"))
      val top = cnt.orderBy(col("n_exact").desc, col("t")).limit(20)
      top.crossJoin(broadcast(sk))
        .select(col("t"), col("n_exact"),
          array_min(transform(cmsCells(col("t")), p =>
            element_at(col("cells"), (p + 1).cast("int")))).as("cms_est"))
        .withColumn("overcount", col("cms_est") - col("n_exact"))
        .orderBy(col("n_exact").desc, col("t"))
    },
    Some(s"""WITH toks AS (SELECT t FROM (
              SELECT unnest(string_split(text, ' ')) AS t FROM documents) u
              WHERE t <> ''),
            cnt AS (SELECT t, CAST(count(*) AS BIGINT) AS n_exact
                    FROM toks GROUP BY 1),
            hi AS (SELECT unnest(range($CmsD)) AS i),
            pos AS (SELECT c.t, c.n_exact, hi.i,
                    ${h32Sql("'cm' || CAST(hi.i AS VARCHAR) || '_' || c.t")}
                      % $CmsW AS bucket
                    FROM cnt c CROSS JOIN hi),
            cells AS (SELECT i, bucket, CAST(sum(n_exact) AS BIGINT) AS cell
                      FROM pos GROUP BY 1, 2),
            top AS (SELECT t FROM cnt ORDER BY n_exact DESC, t LIMIT 20),
            est AS (SELECT p.t, p.n_exact, min(cl.cell) AS cms_est
                    FROM pos p JOIN top tp ON tp.t = p.t
                    JOIN cells cl ON cl.i = p.i AND cl.bucket = p.bucket
                    GROUP BY 1, 2)
            SELECT t, n_exact, cms_est, cms_est - n_exact AS overcount
            FROM est ORDER BY n_exact DESC, t""")
  )

  private val BloomM = 2048
  private val BloomK = 3

  /** The k Bloom bit positions of one gram (shared hash family). */
  private def bloomPos(c: Column): Column =
    transform(sequence(lit(0), lit(BloomK - 1)), j =>
      pmod(h32(concat(lit("bf"), j.cast("string"), lit("_"), c)),
        lit(BloomM.toLong)))

  /** Bloom-filter decontamination — q74's semantics with the benchmark
    * gram SET compressed to [[BloomM]] bits ([[graft.expr.BloomBits]]:
    * merge = OR, O(m) state): the corpus side tests its grams MAP-SIDE
    * against the broadcast bit array (`forall` over shiftright bit
    * probes — no join touches the corpus gram stream), which is the
    * shape that survives a benchmark suite too big to broadcast
    * exactly. The price is a one-sided error, and the query REPORTS it:
    * per doc, grams flagged by the filter vs grams exactly shared
    * (q74's join), `n_false_pos = n_bloom − n_exact ≥ 0`; a Bloom
    * filter can never miss a truly contaminated gram. All counts exact
    * integers; the oracle models the bit array as the set of set
    * positions. */
  val bloomDecontamination = Q(
    "q99_bloom_decontam",
    (s, d) => {
      val g = wordGrams(s, d, 4)
      val bench = g.where(col("doc_id") % 20 === 0).select(col("s")).distinct()
      val bloom = bench.agg(
        graft.expr.BloomBits.agg(BloomM)(bloomPos(col("s"))).as("bits"))
      val gd = g.where(col("doc_id") % 20 =!= 0).distinct()
      val isSet = (p: Column) => {
        val word = element_at(col("bits"),
          (((p - pmod(p, lit(32L))) / 32) + 1).cast("int"))
        // functions.shiftright takes a constant shift; this one varies per row
        (ExpressionColumn(word, pmod(p, lit(32L)).cast("int"))(e => ShiftRight(e(0), e(1)))
          % 2) === 1
      }
      gd.crossJoin(broadcast(bloom))
        .withColumn("bloom_hit",
          when(forall(bloomPos(col("s")), isSet), 1L).otherwise(0L))
        .join(broadcast(bench.select(col("s"), lit(1L).as("hit"))),
          Seq("s"), "left")
        .withColumn("ex_hit", when(col("hit").isNotNull, 1L).otherwise(0L))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(col("bloom_hit")).as("n_bloom"),
          sum(col("ex_hit")).as("n_exact"))
        .withColumn("n_false_pos", col("n_bloom") - col("n_exact"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
            g AS (${wordGramsSql(4)}),
            b AS (SELECT DISTINCT s FROM g WHERE doc_id % 20 = 0),
            hj AS (SELECT unnest(range($BloomK)) AS j),
            bits AS (SELECT DISTINCT
              ${h32Sql("'bf' || CAST(j AS VARCHAR) || '_' || s")} % $BloomM AS p
              FROM b CROSS JOIN hj),
            gd AS (SELECT DISTINCT doc_id, s FROM g WHERE doc_id % 20 <> 0),
            gp AS (SELECT gd.doc_id, gd.s,
              ${h32Sql("'bf' || CAST(j AS VARCHAR) || '_' || gd.s")} % $BloomM AS p
              FROM gd CROSS JOIN hj),
            fl AS (SELECT doc_id, s,
                     CASE WHEN count(bits.p) = $BloomK THEN 1 ELSE 0 END AS bloom_hit
                   FROM gp LEFT JOIN bits USING (p) GROUP BY 1, 2),
            exf AS (SELECT gd.doc_id, gd.s,
                      CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END AS ex_hit
                    FROM gd LEFT JOIN b ON b.s = gd.s)
            SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                   CAST(sum(f.bloom_hit) AS BIGINT) AS n_bloom,
                   CAST(sum(e.ex_hit) AS BIGINT) AS n_exact,
                   CAST(sum(f.bloom_hit) - sum(e.ex_hit) AS BIGINT) AS n_false_pos
            FROM fl f JOIN exf e ON e.doc_id = f.doc_id AND e.s = f.s
            GROUP BY 1 ORDER BY f.doc_id""")
  )

  /** BM25 relevance ranking (Robertson & Walker 1994; k1 = 1.2,
    * b = 0.75) — the retrieval face of the text surface: query terms
    * are derived FROM the corpus (document-frequency ranks 5–7, via
    * bounded orderBy+limit — no global row_number window), so the query
    * is deterministic without assuming fixture content. tf / df /
    * doc-length are exact integers; each per-term partial score is
    * rounded to 6dp BEFORE the per-doc sum (q82's libm-parity rule) so
    * the sum is order-independent, then the ranking key is the rounded
    * total with doc_id tiebreak. Shapes: df and tf are one
    * map-combinable groupBy each, the query-term table broadcasts, and
    * the final top-15 is a TakeOrdered — nothing touches scale. */
  val bm25 = Q(
    "q100_bm25",
    (s, d) => {
      // constants written as the same parsed literals the oracle uses
      // (1.2 + 1 computed in double is a round-to-even tie against the
      // parsed literal 2.2 — don't derive, spell)
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
        .where(col("t") =!= "")
      val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot"))
      val dfq = toks.select(col("doc_id"), col("t")).distinct()
        .groupBy(col("t")).agg(count(lit(1)).as("df"))
      val qterms = dfq.orderBy(col("df").desc, col("t")).limit(7)
        .orderBy(col("df").asc, col("t").desc).limit(3)
      val tf = toks.join(broadcast(qterms), Seq("t"))
        .groupBy(col("doc_id"), col("t"), col("df"))
        .agg(count(lit(1)).as("tf"))
      tf.join(dl, Seq("doc_id")).crossJoin(broadcast(stats))
        .select(col("doc_id"),
          round(log(lit(1.0) +
              (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)) *
            (col("tf") * lit(2.2)) /
            (col("tf") + lit(1.2) * (lit(0.25) +
              lit(0.75) * col("dl") * col("n_docs") / col("tot"))), 6).as("sc"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_terms"), round(sum(col("sc")), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(15)
    },
    Some("""WITH toks AS (SELECT doc_id, t FROM (
              SELECT doc_id, unnest(string_split(text, ' ')) AS t
              FROM documents) u WHERE t <> ''),
            dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
                   FROM toks GROUP BY 1),
            st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(dl) AS BIGINT) AS tot FROM dl),
            dfq AS (SELECT t, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
                    FROM toks GROUP BY 1),
            qt AS (SELECT t, df FROM (
              SELECT t, df, row_number() OVER (ORDER BY df DESC, t) AS rn
              FROM dfq) r WHERE rn BETWEEN 5 AND 7),
            tf AS (SELECT k.doc_id, k.t, qt.df, CAST(count(*) AS BIGINT) AS tf
                   FROM toks k JOIN qt ON qt.t = k.t GROUP BY 1, 2, 3),
            sc AS (SELECT tf.doc_id,
                     round(ln(1.0 + (st.n_docs - tf.df + 0.5) / (tf.df + 0.5)) *
                       (tf.tf * 2.2) /
                       (tf.tf + 1.2 * (0.25 +
                         0.75 * dl.dl * st.n_docs / st.tot)), 6) AS sc
                   FROM tf JOIN dl USING (doc_id) CROSS JOIN st)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
                   round(sum(sc), 6) AS score
            FROM sc GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 15""")
  )

  // ---- sequence preparation (chunking / packing) -----------------------

  private val ChunkLen = 200
  private val ChunkStride = 150

  /** Fixed-window document chunking with overlap (stride 150, window
    * 200 → 50-char overlap) — the context-window preparation step of an
    * LLM data pipeline: each doc explodes into ceil(len/stride) chunks,
    * identified by (doc_id, chunk_idx, offset) and carried as the
    * shared md5-prefix hash rather than the text itself (results stay
    * narrow; a real pipeline writes the chunk text to the training
    * shard). Pure map-side explode — each doc's cost is its own length,
    * no shuffle before the output sort. Offsets/lengths are exact
    * integers; `substring` is ASCII-safe on the fixture (code-point vs
    * UTF-16 divergence is the known cross-engine caveat for non-ASCII,
    * see `expr.CharShingles`). */
  val docChunks = Q(
    "q102_doc_chunks",
    (s, d) =>
      Tables.documents(s, d)
        // empty docs yield no chunks: without this, len=0 makes the upper
        // bound -1 and Spark's sequence(0,-1) STEPS BACKWARD to [0,-1]
        // (two bogus rows) where DuckDB's range(0) is empty
        .where(length(col("text")) > 0)
        .select(col("doc_id"), col("text"),
          length(col("text")).cast("long").as("len"))
        .select(col("doc_id"), col("text"), col("len"),
          explode(sequence(lit(0L),
            expr(s"(len + ${ChunkStride - 1}) div $ChunkStride - 1")))
            .as("chunk_idx"))
        .select(col("doc_id"), col("chunk_idx"),
          (col("chunk_idx") * ChunkStride).as("chunk_offset"), col("text"))
        .select(col("doc_id"), col("chunk_idx"), col("chunk_offset"),
          expr(s"substring(text, CAST(chunk_offset + 1 AS INT), $ChunkLen)")
            .as("chunk"))
        .select(col("doc_id"), col("chunk_idx"), col("chunk_offset"),
          length(col("chunk")).cast("long").as("chunk_len"),
          h32(col("chunk")).as("chunk_hash"))
        .orderBy(col("doc_id"), col("chunk_idx")),
    Some(s"""SELECT doc_id, chunk_idx, chunk_offset,
            CAST(length(chunk) AS BIGINT) AS chunk_len,
            ${h32Sql("chunk")} AS chunk_hash
            FROM (
              SELECT doc_id, i AS chunk_idx, i * $ChunkStride AS chunk_offset,
                substr(text, CAST(i * $ChunkStride + 1 AS INT), $ChunkLen) AS chunk
              FROM (SELECT doc_id, text,
                      unnest(range((length(text) + ${ChunkStride - 1})
                        // $ChunkStride)) AS i
                    FROM documents) u) c
            ORDER BY doc_id, chunk_idx""")
  )

  private val PackBin = 1000L
  private val PackShard = 500L

  /** Contiguous sequence packing — filling fixed-size training bins
    * (1000 chars) with documents in deterministic order: per shard, a
    * running character total assigns each doc to the bin its START
    * falls in (`(cum − len) div bin`), the relational form of
    * append-in-order packing. The window partitions on (source, shard =
    * doc_id div 500), so no task ever sorts more than 500 docs — the
    * honest version of "packing is sequential per output shard", made
    * scale-safe by bounding the shard, not by pretending packing
    * parallelizes within one. All integers. */
  val sequencePacking = Q(
    "q103_sequence_packing",
    (s, d) => {
      val w = Window
        .partitionBy(col("source"), col("shard"))
        .orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          expr(s"doc_id div $PackShard").as("shard"),
          length(col("text")).cast("long").as("len"))
        .withColumn("cum", sum(col("len")).over(w))
        .select(col("source"), col("shard"),
          expr(s"(cum - len) div $PackBin").as("bin"),
          col("len"))
        .groupBy(col("source"), col("shard"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("n_chars"))
        .orderBy(col("source"), col("shard"), col("bin"))
    },
    Some(s"""WITH l AS (SELECT source, doc_id, doc_id // $PackShard AS shard,
              CAST(length(text) AS BIGINT) AS len FROM documents),
            c AS (SELECT source, shard, len,
                    sum(len) OVER (PARTITION BY source, shard ORDER BY doc_id
                      ROWS UNBOUNDED PRECEDING) AS cum
                  FROM l)
            SELECT source, shard, CAST((cum - len) // $PackBin AS BIGINT) AS bin,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len) AS BIGINT) AS n_chars
            FROM c GROUP BY 1, 2, 3 ORDER BY source, shard, bin""")
  )

  /** Stratified deterministic sampling — exactly k docs per source (the
    * balanced data-mixture draw, where q79 is the RATE-based one): rank
    * docs inside each stratum by the shared md5 hash of a salted doc_id
    * (a uniform, engine-identical "random" order) and keep the k
    * smallest. The selection runs as the bounded `TopKPairs` aggregator
    * — every task ships at most k pairs per stratum to the shuffle, so
    * a source with a billion docs costs the same shuffle as one with a
    * hundred (the window form sorts the whole stratum). Hashes are
    * < 2^32 so their negated-double scores are exact; ties break on
    * doc_id on both sides. */
  val stratifiedSample = Q(
    "q105_stratified_sample",
    (s, d) => {
      val k = 5
      val topk = graft.expr.TopKPairs.agg(k)
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          h32(concat(lit("samp"), col("doc_id").cast("string"))).as("hv"))
        .groupBy(col("source"))
        .agg(topk((-col("hv")).cast("double"), col("doc_id")).as("top"))
        .select(col("source"), posexplode(col("top")).as(Seq("pos", "p")))
        .select(col("source"), (col("pos") + 1).cast("long").as("rank"),
          col("p._2").as("doc_id"), (-col("p._1")).cast("long").as("hv"))
        .orderBy(col("source"), col("rank"))
    },
    Some(s"""WITH h AS (SELECT source, doc_id,
              ${h32Sql("'samp' || CAST(doc_id AS VARCHAR)")} AS hv
              FROM documents),
            r AS (SELECT source, doc_id, hv,
                    row_number() OVER (PARTITION BY source
                      ORDER BY hv, doc_id) AS rank
                  FROM h)
            SELECT source, rank, doc_id, hv
            FROM r WHERE rank <= 5 ORDER BY source, rank""")
  )

  /** WEIGHTED sampling without replacement (Efraimidis & Spirakis 2006,
    * algorithm A-ES) — the third sampling mode next to rate-based
    * mixing (q79) and uniform stratified draws (q105): per source, keep
    * the k docs with the largest u^(1/w), selected equivalently by the
    * monotone key ln(u)/w, where w = n_chars (longer docs
    * proportionally likelier — a length-weighted mixing policy) and u
    * is the shared-hash uniform ((h+0.5)/2³², exact in both engines).
    * Keys are 6dp-rounded before selection (q82's libm-parity rule for
    * ln) with doc_id tiebreak, and the selection runs as the bounded
    * [[graft.expr.TopKPairs]] aggregator — ≤ k pairs per task reach the
    * shuffle, never the stratum (the same scale shape as q105). */
  val weightedSample = Q(
    "q113_weighted_sample",
    (s, d) => {
      val k = 5
      val topk = graft.expr.TopKPairs.agg(k)
      Tables.documents(s, d)
        .where(col("n_chars") > 0)
        .select(col("source"), col("doc_id"),
          round(
            log((h32(concat(lit("ws"), col("doc_id").cast("string")))
              .cast("double") + 0.5) / 4294967296.0)
              / col("n_chars").cast("double"), 6).as("key"))
        .groupBy(col("source"))
        .agg(topk(col("key"), col("doc_id")).as("top"))
        .select(col("source"), posexplode(col("top")).as(Seq("pos", "p")))
        .select(col("source"), (col("pos") + 1).cast("long").as("rank"),
          col("p._2").as("doc_id"), col("p._1").as("key"))
        .orderBy(col("source"), col("rank"))
    },
    Some(s"""WITH kx AS (SELECT source, doc_id,
              round(ln((${h32Sql("'ws' || CAST(doc_id AS VARCHAR)")} + 0.5)
                / 4294967296.0) / CAST(n_chars AS DOUBLE), 6) AS key
              FROM documents WHERE n_chars > 0),
            r AS (SELECT source, doc_id, key,
                    row_number() OVER (PARTITION BY source
                      ORDER BY key DESC, doc_id) AS rank
                  FROM kx)
            SELECT source, rank, doc_id, key
            FROM r WHERE rank <= 5 ORDER BY source, rank""")
  )

  /** PII detection + redaction — the compliance stage every
    * training-data pipeline runs before anything else sees the text.
    * The synthetic corpus carries no PII, so the query SYNTHESIZES it
    * deterministically on both engines (q74's benchmark idiom, q115's
    * WAV-synth idiom): every 7th doc gains an email, every 11th a
    * phone number, then the SAME regexes detect and redact them —
    * the oracle checks the full synthesize→detect→redact round trip.
    * Patterns are restricted to syntax Java regex and RE2 interpret
    * identically (character classes + bounded repetition, greedy
    * maximal munch — no backrefs, no lookaround). Redaction is one
    * codegen'd `regexp_replace` per row (map-side, no shuffle); the
    * only shuffle is the final doc_id sort, so at 100 TB this is a
    * pure scan-transform — the shape a redaction pass must have. */
  val piiRedact = Q(
    "q117_pii_redact",
    (s, d) => {
      val email = "[a-z0-9]+@[a-z0-9.]+"
      val phone = "555-[0-9]{4}"
      Tables.documents(s, d)
        .select(col("doc_id"), concat(col("text"),
          when(col("doc_id") % 7 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@mail"), (col("doc_id") % 5).cast("string"), lit(".com")))
            .otherwise(lit("")),
          when(col("doc_id") % 11 === 0,
            concat(lit(" call 555-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
            .otherwise(lit(""))).as("pt"))
        .select(col("doc_id"),
          size(expr(s"regexp_extract_all(pt, '$email', 0)"))
            .cast("long").as("n_emails"),
          size(expr(s"regexp_extract_all(pt, '$phone', 0)"))
            .cast("long").as("n_phones"),
          md5(regexp_replace(regexp_replace(col("pt"), lit(email),
            lit("<EMAIL>")), lit(phone), lit("<PHONE>"))).as("redacted_md5"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH p AS (SELECT doc_id, text
              || CASE WHEN doc_id % 7 = 0 THEN ' contact user'
                   || CAST(doc_id AS VARCHAR) || '@mail'
                   || CAST(doc_id % 5 AS VARCHAR) || '.com' ELSE '' END
              || CASE WHEN doc_id % 11 = 0 THEN ' call 555-'
                   || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END AS pt
            FROM documents)
            SELECT doc_id,
              CAST(len(regexp_extract_all(pt, '[a-z0-9]+@[a-z0-9.]+')) AS BIGINT) AS n_emails,
              CAST(len(regexp_extract_all(pt, '555-[0-9]{4}')) AS BIGINT) AS n_phones,
              md5(regexp_replace(regexp_replace(pt, '[a-z0-9]+@[a-z0-9.]+',
                '<EMAIL>', 'g'), '555-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5
            FROM p ORDER BY doc_id""")
  )

  /** Line-level boilerplate dedup (the CCNet / RefinedWeb idiom: a
    * LINE repeated across many documents is boilerplate — headers,
    * copyright footers, nav bars — and is dropped from every doc
    * while unique lines stay). The fixture text has no newlines, so
    * "lines" are non-overlapping 6-token segments plus one SYNTHESIZED
    * per-source copyright footer (appearing in every doc of the
    * source — exactly the cross-doc repetition the stage exists to
    * remove); a line is boilerplate when it occurs in more than 5
    * distinct docs. Output is per-doc kept/dropped counts plus the
    * md5 of the reassembled text, so the oracle pins the whole
    * segment→count→filter→reassemble chain including order.
    *
    * Scale shape: segmentation is a map-side explode; the frequency
    * table groups by the 32-bit line hash (shuffles longs, never the
    * line strings — q29's rule) and is map-combinable; the keep-join
    * is an equi-join on that hash; reassembly is one per-doc sorted
    * aggregation. The heavy boilerplate keys are exactly what AQE
    * skew handling targets, and the threshold test needs only the
    * (hash → n_docs) side, never the raw text, on the build side. */
  val lineDedup = Q(
    "q118_line_dedup",
    (s, d) => {
      val t = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("text"))
      val segs = t
        .select(col("doc_id"), posexplode(split(col("text"), " "))
          .as(Seq("pos", "tok")))
        .groupBy(col("doc_id"), floor(col("pos") / 6).cast("long").as("seg"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as("line"))
      val lines = segs.unionByName(
        t.select(col("doc_id"), lit(-1L).as("seg"),
          concat(lit("copyright "), col("source"),
            lit(" all rights reserved")).as("line")))
        .withColumn("lh", h32(col("line")))
      val freq = lines.groupBy(col("lh"))
        .agg(countDistinct(col("doc_id")).as("nd"))
      lines.join(freq, Seq("lh"))
        .groupBy(col("doc_id"))
        .agg(
          sum(when(col("nd") <= 5, 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("nd") > 5, 1L).otherwise(0L)).as("n_dropped"),
          md5(array_join(transform(filter(
            array_sort(collect_list(struct(col("seg"), col("line"), col("nd")))),
            x => x.getField("nd") <= 5), x => x.getField("line")), " "))
            .as("clean_md5"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH t AS (SELECT doc_id, source,
                string_split(text, ' ') AS toks FROM documents),
            u AS (SELECT doc_id, unnest(toks) AS tok,
                    generate_subscripts(toks, 1) AS pos FROM t),
            w AS (SELECT doc_id, CAST((pos - 1) // 6 AS BIGINT) AS seg,
                    tok, pos FROM u),
            lines AS (SELECT doc_id, seg,
                        string_agg(tok, ' ' ORDER BY pos) AS line
                      FROM w GROUP BY 1, 2
                      UNION ALL
                      SELECT doc_id, CAST(-1 AS BIGINT),
                        'copyright ' || source || ' all rights reserved'
                      FROM t),
            lh AS (SELECT doc_id, seg, line,
                     ${OracleSql.h32("line")} AS lh FROM lines),
            freq AS (SELECT lh, count(DISTINCT doc_id) AS nd
                     FROM lh GROUP BY 1)
            SELECT l.doc_id,
              CAST(sum(CASE WHEN f.nd <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
              CAST(sum(CASE WHEN f.nd > 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
              md5(string_agg(CASE WHEN f.nd <= 5 THEN l.line END, ' '
                ORDER BY l.seg)) AS clean_md5
            FROM lh l JOIN freq f USING (lh)
            GROUP BY 1 ORDER BY doc_id""")
  )

  val all: Seq[Q] = Seq(tokenCount, textQuality, langId, exactDedup,
    ngramJaccard, minhashSig, minhashPairs, minhashPairsBounded,
    lshCandidateProfile,
    simhash, fingerprint,
    wordNgramJaccard, dedupComponents, repetition, contamination,
    cleanCorpus, dataMixture, lengthHistogram, sampledHeavyHitters,
    cmsHeavyHitters, bloomDecontamination, bm25, docChunks,
    sequencePacking, stratifiedSample, weightedSample, piiRedact,
    lineDedup)
}
