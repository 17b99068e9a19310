package graft.kg

import org.scalatest.funsuite.AnyFunSuite

class ConnectedComponentsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Both execution paths must agree: driver union-find (small-graph fast
    * path) and the distributed label-propagation loop. */
  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val df = edges.toDF("src", "dst")
    val driver = ConnectedComponents.run(spark, df).as[(Long, Long)].collect().toMap
    val dist = ConnectedComponents.run(spark, df, driverSolveThreshold = -1L)
      .as[(Long, Long)].collect().toMap
    assert(driver == dist, s"driver=$driver dist=$dist")
    driver
  }

  test("path graph contracts to min id") {
    val got = cc(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("long chain (pointer jumping beats 25-round limit)") {
    val n = 200L
    val got = cc((1L until n).map(i => (i, i + 1)))
    assert(got.size == n.toInt)
    assert(got.values.forall(_ == 1L))
  }

  test("star graph") {
    val got = cc(Seq((10L, 1L), (10L, 2L), (10L, 3L)))
    assert(got.values.forall(_ == 1L))
  }

  test("disjoint components keep separate labels") {
    val got = cc(Seq((1L, 2L), (5L, 6L), (6L, 7L)))
    assert(got(1L) == 1L && got(2L) == 1L)
    assert(got(5L) == 5L && got(6L) == 5L && got(7L) == 5L)
  }

  test("self loops and duplicates are harmless") {
    val got = cc(Seq((1L, 1L), (1L, 2L), (2L, 1L), (1L, 2L)))
    assert(got == Map(1L -> 1L, 2L -> 1L))
  }

  test("empty edge set") {
    assert(cc(Seq.empty).isEmpty)
  }

  test("driver budget boundary: |E| edges solve on the driver, |E| - 1 runs the loop, same labels") {
    // several partitions, so the bounded collect has to read past the first
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 3L), (7L, 8L), (9L, 7L))
      .toDF("src", "dst").repartition(3)
    val n = 5L
    val (atBudget, driverRounds) =
      ConnectedComponents.runWithStats(spark, edges, driverSolveThreshold = n)
    val (overBudget, loopRounds) =
      ConnectedComponents.runWithStats(spark, edges, driverSolveThreshold = n - 1)
    assert(driverRounds == 0, "threshold = |E| must take the driver path")
    assert(loopRounds > 0, "threshold = |E| - 1 must take the distributed loop")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L, 9L -> 7L)
    assert(atBudget.as[(Long, Long)].collect().toMap == want)
    assert(overBudget.as[(Long, Long)].collect().toMap == want)
  }

  test("incremental CC: seeded delta == full rebuild, rounds collapse") {
    // history: two resolved 256-chains; delta: one bridge edge
    def chain(base: Long): Seq[(Long, Long)] =
      (0L until 255L).map(i => (base + i, base + i + 1))
    val history = chain(0L) ++ chain(1000L)
    val delta = Seq((255L, 1000L))
    val prev = ConnectedComponents.run(spark, history.toDF("src", "dst"))

    val (inc, incRounds) = ConnectedComponents.incrementalWithStats(
      spark, prev, delta.toDF("src", "dst"), driverSolveThreshold = -1L)
    val (full, fullRounds) = ConnectedComponents.runWithStats(
      spark, (history ++ delta).toDF("src", "dst"), driverSolveThreshold = -1L)

    // identical labels, INCLUDING component ids (representatives are min
    // ids of the prior partition, so seeding adds no new minima)
    assert(inc.as[(Long, Long)].collect().toMap == full.as[(Long, Long)].collect().toMap)
    // the seeded loop pays for the delta's structure (stars + 1 edge,
    // diameter ≤ 5), not for re-contracting two 256-chains
    assert(fullRounds >= 9, s"full rebuild rounds: $fullRounds")
    assert(incRounds <= 4, s"incremental rounds: $incRounds (full: $fullRounds)")
  }
}
