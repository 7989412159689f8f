package graft.rec

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** One position of a user's item-sorted ratings: the lead item `i`, its
  * rating `ri`, and every later item of the same user (`js`, ascending)
  * with its rating (`rjs`). */
final case class LeadTail(i: Long, ri: Double, js: Array[Long], rjs: Array[Double])

/** Co-rating of the item pair `i < j`: `dot` = Σ ri·rj and `n_common` the
  * number of users who rated both. */
final case class CoRating(i: Long, j: Long, dot: Double, n_common: Long)

/** Item-item co-rating counts of q32 as a row-wise sparse product
  * (Gustavson's algorithm): the pair table RᵀR is built one lead-item row
  * at a time, each row summed into a small map keyed by the partner item.
  *
  *  1. Each user's ratings are grouped into one item-sorted list.
  *  2. Position p of a list of d items becomes one [[LeadTail]] row
  *     (xs(p), xs(p+1..)): d−1 rows per user, not d²/2 pair rows.
  *  3. The tails are shuffled by lead item, so the exchange carries the
  *     pair work as bytes and AQE sizes it from them.
  *  4. Each lead item's tails are summed into a primitive-keyed map
  *     ([[CoRatingMap]]); only partners co-rated by at least `minCommon`
  *     users leave it.
  *
  * No stage keys a shuffle or a hash aggregate by the near-unique (i, j)
  * pair. Scale bound, for per-user degree capped at `cap`: the work of
  * lead item i is at most raters(i) × (cap − 1) tail entries, and its map
  * holds at most one entry per item co-rated with i.
  */
object ItemPairs {

  /** `ratings` (user_id, item_id, rating), one row per (user, item) →
    * (i, j, dot, n_common) for every i < j co-rated by ≥ `minCommon` users. */
  def coRatings(ratings: DataFrame, minCommon: Int): DataFrame = {
    require(minCommon >= 1, s"minCommon must be at least 1, got $minCommon")
    import ratings.sparkSession.implicits._
    leadTails(ratings)
      .groupBy(col("i")).as[Long, LeadTail]
      .flatMapGroups { (i, tails) =>
        val acc = new CoRatingMap
        tails.foreach { t =>
          var k = 0
          while (k < t.js.length) { acc.add(t.js(k), t.ri * t.rjs(k)); k += 1 }
        }
        acc.rows(i, minCommon)
      }
      .toDF()
  }

  private def leadTails(ratings: DataFrame): Dataset[LeadTail] = {
    import ratings.sparkSession.implicits._
    ratings.groupBy(col("user_id"))
      .agg(array_sort(collect_list(struct(col("item_id"), col("rating")))).as("xs"))
      .select(col("xs.item_id"), col("xs.rating"))
      .as[(Array[Long], Array[Double])]
      .flatMap { case (items, rs) =>
        Iterator.range(0, items.length - 1).map { p =>
          LeadTail(items(p), rs(p),
            java.util.Arrays.copyOfRange(items, p + 1, items.length),
            java.util.Arrays.copyOfRange(rs, p + 1, rs.length))
        }
      }
  }
}

/** One lead item's partner sums: open addressing over parallel primitive
  * arrays (partner id, Σ ri·rj, co-rating count), linear probing, grown
  * at half load. A slot is empty while its count is 0. */
private final class CoRatingMap {
  private var keys = new Array[Long](64)
  private var dots = new Array[Double](64)
  private var counts = new Array[Long](64)
  private var size = 0

  private def slot(ks: Array[Long], cs: Array[Long], j: Long): Int = {
    val mask = ks.length - 1
    var s = ((j * 0x9E3779B97F4A7C15L) >>> 32).toInt & mask
    while (cs(s) != 0 && ks(s) != j) s = (s + 1) & mask
    s
  }

  def add(j: Long, v: Double): Unit = {
    val s = slot(keys, counts, j)
    if (counts(s) == 0) {
      keys(s) = j
      size += 1
    }
    dots(s) += v
    counts(s) += 1
    if (2 * size > keys.length) grow()
  }

  private def grow(): Unit = {
    val (ok, od, oc) = (keys, dots, counts)
    keys = new Array[Long](ok.length * 2)
    dots = new Array[Double](ok.length * 2)
    counts = new Array[Long](ok.length * 2)
    var s = 0
    while (s < ok.length) {
      if (oc(s) != 0) {
        val t = slot(keys, counts, ok(s))
        keys(t) = ok(s)
        dots(t) = od(s)
        counts(t) = oc(s)
      }
      s += 1
    }
  }

  /** The partners counted at least `minCommon` times, as rows of lead `i`. */
  def rows(i: Long, minCommon: Int): Iterator[CoRating] =
    Iterator.range(0, keys.length).filter(s => counts(s) >= minCommon)
      .map(s => CoRating(i, keys(s), dots(s), counts(s)))
}
