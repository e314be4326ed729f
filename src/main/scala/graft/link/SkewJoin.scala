package graft.link

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Explicit skew handling for joins whose RIGHT side is unique per key
  * and whose LEFT side is Zipf-skewed on the key (hub entities: popular
  * repos/langs/domains — north rule: "salted keys for skewed entities").
  *
  * Strategy: detect hot keys with one cheap map-side-combined
  * aggregation (collected — the hot set is tiny by definition), then
  * split —
  *  - hot slice: the right rows for hot keys (unique per key × few hot
  *    keys) broadcast, so the skewed rows join with NO shuffle;
  *  - cold slice: normal shuffle join, now skew-free.
  *
  * Deterministic and independent of AQE's runtime skew split (which we
  * also leave enabled); unlike blind salting it does not inflate the
  * shuffle S-fold for the 99% of keys that are cold.
  */
object SkewJoin {

  /** Max hot keys we special-case; beyond this, fall back to the plain
    * join and let AQE handle it (a hot set this large means the skew
    * threshold was set too low, not that the data has 4096 hubs).
    */
  val MaxHotKeys = 4096

  /** Below this left-side size the hot-key detection job costs more
    * than any possible skew: plain join (AQE still covers it).
    */
  val MinRowsForDetection = 1000000L

  /** A unique-per-key right side at or below this row count is
    * broadcast outright — a broadcast hash join is skew-IMMUNE (no
    * shuffle of the left at all), so both the detection pass and the
    * hot/cold split are pure waste when the dimension side is small.
    * Sized for the NARROW right sides this module contracts for (an
    * id→id mapping is ~16 bytes/row → ~32 MB at the cap — well inside
    * executor broadcast budgets); wide dimension tables must not come
    * through the hint fast path (see [[joinUniqueRight]]).
    */
  val BroadcastableRightRows = 2000000L

  /** `df` with a broadcast hint while `rows`, its known or upper-bound
    * row count, is within [[BroadcastableRightRows]]; beyond it the
    * join is left to AQE's runtime sizes instead of an unbounded
    * broadcast.
    */
  def hinted(df: DataFrame, rows: Long): DataFrame =
    if (rows <= BroadcastableRightRows) broadcast(df) else df

  /** left ⋈ right on `key`; `right` MUST be unique per key AND narrow
    * (a few small columns — an id→id mapping, not a wide dimension
    * table): the `rightCountHint` fast path broadcasts on ROW count
    * alone, so a 500k-row right side is assumed to be ≲ tens of MB.
    * Callers with wide right sides should pass rightCountHint = None
    * and let AQE decide from actual byte statistics.
    * `leftCountHint`: pass a known (or upper-bound) left row count to
    * skip the detection aggregation for small inputs — iterative
    * callers (CC) know it from their fixpoint bookkeeping.
    * `rightCountHint`: pass a known right row count (e.g. from a stage
    * manifest) to take the broadcast fast path without any probe job.
    */
  def joinUniqueRight(left: DataFrame, right: DataFrame, key: String,
                      hotThreshold: Long = 100000L,
                      leftCountHint: Option[Long] = None,
                      rightCountHint: Option[Long] = None): DataFrame = {
    if (rightCountHint.exists(_ <= BroadcastableRightRows))
      return left.join(broadcast(right), Seq(key))
    if (leftCountHint.exists(_ < MinRowsForDetection))
      return left.join(right, Seq(key))
    val hotKeys = left.groupBy(key).count()
      .filter(col("count") > hotThreshold)
      .select(key).limit(MaxHotKeys + 1).collect().map(_.get(0))
    if (hotKeys.isEmpty || hotKeys.length > MaxHotKeys) {
      left.join(right, Seq(key))
    } else {
      val isHot = col(key).isin(hotKeys.toSeq: _*)
      val rightHot = right.filter(isHot)
      val hotJoined = left.filter(isHot).join(broadcast(rightHot), Seq(key))
      val coldJoined = left.filter(!isHot).join(right, Seq(key))
      coldJoined.unionByName(hotJoined)
    }
  }
}
