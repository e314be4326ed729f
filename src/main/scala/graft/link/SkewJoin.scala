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

  /** `df` with a broadcast hint while its size estimate is within the
    * session's `spark.sql.autoBroadcastJoinThreshold` — the threshold
    * the planner applies to every join it sizes itself, so a negative
    * one never broadcasts. The estimate is `rows`, a known or
    * upper-bound row count (from a stage manifest), times the row size
    * Catalyst's size-only estimator uses for `df`'s own schema: 8 bytes
    * plus each column's default size. Beyond the threshold the join is
    * left to AQE's runtime sizes instead of an unbounded broadcast.
    */
  def hinted(df: DataFrame, rows: Long): DataFrame = {
    val threshold = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (threshold >= 0 && rows * (8L + df.schema.defaultSize) <= threshold)
      broadcast(df)
    else df
  }

  /** left ⋈ right on `key`; `right` MUST be unique per key.
    * `leftCountHint`: pass a known (or upper-bound) left row count to
    * skip the detection aggregation for small inputs — iterative
    * callers (CC) know it from their fixpoint bookkeeping.
    */
  def joinUniqueRight(left: DataFrame, right: DataFrame, key: String,
                      hotThreshold: Long = 100000L,
                      leftCountHint: Option[Long] = None): DataFrame = {
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
