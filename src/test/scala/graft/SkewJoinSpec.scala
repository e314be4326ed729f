package graft

import graft.link.SkewJoin
import org.apache.spark.sql.functions._

class SkewJoinSpec extends SparkSpec {
  import spark.implicits._

  // Zipf-ish left side: key 0 is a hub with 5000 rows, keys 1..50
  // have 20 each
  private lazy val left = (
    (1 to 5000).map(i => (0L, i.toLong)) ++
      (for (k <- 1L to 50L; i <- 1 to 20) yield (k, i.toLong))
  ).toDF("k", "v")
  private lazy val right = (0L to 60L).map(k => (k, s"r$k")).toDF("k", "tag")

  private def resultSet(df: org.apache.spark.sql.DataFrame) =
    df.select("k", "v", "tag").as[(Long, Long, String)].collect().toSet

  test("hot-path split result equals plain join") {
    val plain = resultSet(left.join(right, Seq("k")))
    // hotThreshold=100 → key 0 goes through the broadcast hot slice
    val skew = resultSet(SkewJoin.joinUniqueRight(left, right, "k",
      hotThreshold = 100L))
    assert(skew == plain && plain.size == left.count())
  }

  test("hot slice actually broadcasts; cold slice keeps the plain join") {
    val joined = SkewJoin.joinUniqueRight(left, right, "k", hotThreshold = 100L)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("no hot keys → single plain join") {
    val even = (1L to 500L).map(k => (k, k * 2)).toDF("k", "v")
    val got = resultSet(SkewJoin.joinUniqueRight(even, right, "k",
      hotThreshold = 100L))
    val plain = resultSet(even.join(right, Seq("k")))
    assert(got == plain)
  }

  test("count hint below detection floor skips the detection job") {
    val got = resultSet(SkewJoin.joinUniqueRight(left, right, "k",
      hotThreshold = 100L, leftCountHint = Some(10000L)))
    assert(got == resultSet(left.join(right, Seq("k"))))
  }

  test("hinted broadcasts iff rows × Catalyst's row size is within the broadcast threshold") {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
    def broadcasts(rows: Long): Boolean =
      SkewJoin.hinted(right, rows).queryExecution.analyzed.find {
        case h: ResolvedHint => h.hints.strategy.contains(BROADCAST)
        case _ => false
      }.isDefined
    val rowSize = 8L + 8L + 20L // row overhead + long k + string tag
    assert(8L + right.schema.defaultSize == rowSize)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    withConf(key -> (1000L * rowSize).toString) {
      assert(broadcasts(999L) && broadcasts(1000L))
      assert(!broadcasts(1001L))
    }
    withConf(key -> "-1") {
      assert(!broadcasts(0L) && !broadcasts(1L))
    }
  }

  test("left rows without a right match drop (inner-join semantics)") {
    val sparseRight = Seq((0L, "hub")).toDF("k", "tag")
    val got = resultSet(SkewJoin.joinUniqueRight(left, sparseRight, "k",
      hotThreshold = 100L))
    assert(got.size == 5000 && got.forall(_._1 == 0L))
  }
}
