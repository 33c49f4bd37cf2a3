package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Seeded randomized law checks for the dedup/similarity primitives —
  * each compares a distributed operator against an independent
  * driver-side reference implementation on generated inputs (the
  * scalacheck bridge isn't in the offline cache, so these are
  * hand-rolled with a fixed-seed RNG: same rigor, reproducible runs).
  * These primitives back most of the extension surface, so a silent
  * regression here would corrupt many queries at once. */
class PropertyLawsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session
  import spark.implicits._

  /** Reference: driver-side union-find with path compression; the
    * minimum member of each component, for every node that touches an
    * edge. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.foreach { case (a, b) => union(a, b) }
    val nodes = edges.flatMap(t => Seq(t._1, t._2)).distinct
    nodes.groupBy(find).flatMap { case (_, members) =>
      val m = members.min; members.map(_ -> m)
    }
  }

  private def labels(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getAs[Number](0).longValue -> r.getAs[Number](1).longValue).toMap

  /** The driver path (`connectedComponents` under the default size
    * rule), the forced distributed loop and the reference agree on rows,
    * and both paths on the output schema. */
  private def assertPathsAgree(pairs: DataFrame, expected: Map[Long, Long],
                               clue: String): Unit = {
    val fast = ext.TextOps.connectedComponents(pairs, "a_id", "b_id", maxIters = 40)
    assert(fast.queryExecution.analyzed.isInstanceOf[LocalRelation],
      s"$clue: a small graph should take the driver path")
    val loop = ext.TextOps.componentsLoop(pairs, "a_id", "b_id", maxIters = 40)
    assert(fast.schema == loop.schema, s"$clue: schemas differ")
    assert(labels(fast) == expected, s"$clue: driver path")
    assert(labels(loop) == expected, s"$clue: loop")
  }

  test("connectedComponents equals union-find on random graphs (seeded ×5)") {
    val rnd = new scala.util.Random(20260814L)
    for (round <- 1 to 5) {
      val n = 30 + rnd.nextInt(50)
      val nEdges = 20 + rnd.nextInt(60)
      val edges = Seq.fill(nEdges)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val expected = unionFind(edges)
      val clue = s"round $round: n=$n edges=${edges.size}"
      // odd rounds Long ids, even rounds Int ids: one loop run per graph
      if (round % 2 == 1) assertPathsAgree(edges.toDF("a_id", "b_id"), expected, s"$clue, Long ids")
      else assertPathsAgree(edges.map { case (a, b) => (a.toInt, b.toInt) }.toDF("a_id", "b_id"),
        expected, s"$clue, Int ids")
    }
  }

  test("connectedComponents: the driver path's edge cap is the broadcast budget " +
    "over the per-edge driver footprint") {
    import ext.TextOps.{driverBytesPerEdge, driverEdgeCap}
    assert(driverEdgeCap(-1L) == -1)
    assert(driverEdgeCap(10L << 20) == 20480)
    // a raised budget admits proportionally more edges, never 16 B each
    assert(driverEdgeCap(100L << 20) == 204800)
    assert(driverEdgeCap(Long.MaxValue) == Int.MaxValue - 1)
    val four = Seq((1L, 2L), (2L, 3L), (7L, 8L), (8L, 3L)).toDF("a_id", "b_id")
    def drivenAt(budget: Long, pairs: DataFrame): Boolean = {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", budget.toString)
      try {
        val out = ext.TextOps.connectedComponents(pairs, "a_id", "b_id")
        assert(labels(out) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L, 8L -> 1L))
        out.queryExecution.analyzed.isInstanceOf[LocalRelation]
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
    assert(drivenAt(4 * driverBytesPerEdge, four), "4 edges fit a 4-edge budget")
    assert(!drivenAt(4 * driverBytesPerEdge - 1, four), "4 edges exceed a 3-edge budget")
    assert(!drivenAt(-1L, four), "a negative budget turns the driver path off")
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("connectedComponents: empty pair lists; a chain deeper than maxIters") {
    assertPathsAgree(Seq.empty[(Long, Long)].toDF("a_id", "b_id"), Map.empty, "empty, Long ids")
    assertPathsAgree(Seq.empty[(Int, Int)].toDF("a_id", "b_id"), Map.empty, "empty, Int ids")
    // chain 0-1-…-11: diameter 11, labels need more than 4 rounds to settle
    val chainEdges = (0L until 11L).map(i => (i, i + 1))
    val chain = chainEdges.toDF("a_id", "b_id")
    assert(labels(ext.TextOps.connectedComponents(chain, "a_id", "b_id", maxIters = 4)) ==
      unionFind(chainEdges), "the driver path is not bounded by maxIters")
    val err = intercept[IllegalArgumentException](
      ext.TextOps.componentsLoop(chain, "a_id", "b_id", maxIters = 4))
    assert(err.getMessage.contains("did not converge"), err.getMessage)
    assert(spark.sharedState.cacheManager.isEmpty,
      "a loop that did not converge left frames in the session cache")
  }

  test("sorted_intersect_count equals Set.intersect on random long sets (seeded ×20)") {
    graft.functions.TextSignatureFunctions.register(spark)
    val rnd = new scala.util.Random(42L)
    val cases = Seq.fill(20) {
      val a = Seq.fill(5 + rnd.nextInt(60))(rnd.nextInt(40).toLong).distinct.sorted
      val b = Seq.fill(5 + rnd.nextInt(60))(rnd.nextInt(40).toLong).distinct.sorted
      (a, b, a.toSet.intersect(b.toSet).size.toLong)
    }
    val got = cases.map { case (a, b, _) => (a, b) }.toDF("a", "b")
      .select(graft.functions.TextSignatureFunctions
        .sorted_intersect_count(col("a"), col("b")).as("n"))
      .as[Long].collect().toSeq
    assert(got == cases.map(_._3), "two-pointer merge disagrees with Set.intersect")
  }

  test("minhash banding soundness: identical token sets collide in every band; " +
    "Jaccard lower bound from signature agreement (seeded)") {
    graft.functions.TextSignatureFunctions.register(spark)
    val rnd = new scala.util.Random(7L)
    val sets = Seq.fill(12)(Seq.fill(30 + rnd.nextInt(40))(
      rnd.nextInt(2000).toLong).distinct.sorted)
    val df = (sets ++ sets).zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "htoks")
    val sigs = df.select(col("id"), graft.functions.TextSignatureFunctions
      .minhash_signature(col("htoks"), 64).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    // duplicate ids (i, i+12) carry identical sets → identical signatures
    (0 until 12).foreach { i =>
      assert(sigs(i.toLong) == sigs((i + 12).toLong),
        "identical token sets must have identical minhash signatures")
    }
    // signature agreement is an unbiased Jaccard estimator: for disjoint
    // id ranges the agreement fraction must be far below the identical case
    val a = sigs(0L); val b = sigs(1L)
    val agree = a.zip(b).count { case (x, y) => x == y }
    assert(agree < 48, s"near-disjoint sets agreed on $agree/64 minhashes")
  }

  test("60-bit md5 gram hash: Spark conv(substring(md5)) equals driver-side " +
    "BigInteger reference (seeded ×50)") {
    val rnd = new scala.util.Random(99L)
    val inputs = Seq.fill(50)(Seq.fill(8)(s"w${rnd.nextInt(500)}").mkString(" "))
    val got = inputs.toDF("g")
      .select(conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long").as("h"))
      .as[Long].collect().toSeq
    val expected = inputs.map { g =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString
      new java.math.BigInteger(d.substring(0, 15), 16).longValueExact()
    }
    assert(got == expected, "md5-prefix hash domain drifted from the reference")
  }
}
