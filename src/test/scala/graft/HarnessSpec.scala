package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the engine session policy [[Harness]] hands every main: the
  * shuffle-partition formula and the planner keys. Pure: no session. */
class HarnessSpec extends AnyFunSuite {

  private val mb = 1L << 20

  test("shuffle partitions: one per 32 MB of input, floored at 4, capped at cpus") {
    // sf0.1 is ~17 MB of parquet: below one 32 MB share, so the floor
    assert(Harness.shufflePartitions(17 * mb, cpus = 4) == 4)
    // a large input is capped at the core count
    assert(Harness.shufflePartitions(100L * 1024 * mb, cpus = 8) == 8)
    assert(Harness.shufflePartitions(100L * 1024 * mb, cpus = 32) == 32)
    // between floor and cap the input decides: 10 × 32 MB
    assert(Harness.shufflePartitions(320 * mb, cpus = 32) == 10)
    // a tiny (or absent) input is floored at 4, even on fewer cores
    assert(Harness.shufflePartitions(0L, cpus = 2) == 4)
    assert(Harness.shufflePartitions(1L, cpus = 32) == 4)
  }

  test("planner keys: AQE off, 16 MB broadcast line, hash join over SMJ, " +
      "trusted bucket order, bucketed scans kept bucketed") {
    assert(Harness.planner.toMap == Map(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> (16 * mb).toString,
      "spark.sql.join.preferSortMergeJoin" -> "false",
      "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true",
      "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false"))
    assert(Harness.planner.map(_._1).distinct.size == Harness.planner.size)
  }
}
