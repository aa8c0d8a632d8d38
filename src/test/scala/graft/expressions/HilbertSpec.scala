package graft.expressions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Hilbert curve key: the defining adjacency property (consecutive keys
  * are Manhattan-adjacent cells — the locality Morton lacks), bijection,
  * range, and the registered-expression path. */
class HilbertSpec extends SparkSpec {

  test("consecutive Hilbert keys are Manhattan-adjacent on a 32x32 grid " +
      "(Morton is not); the walk is a bijection starting at the origin") {
    val n = 32
    val cells = for (x <- 0 until n; y <- 0 until n)
      yield (x, y, HilbertUtil.hilbert62(x.toLong, y.toLong))
    val keys = cells.map(_._3)
    // bijection over [0, n^2): every cell a distinct key in range
    assert(keys.toSet == (0L until (n.toLong * n)).toSet)
    val byKey = cells.sortBy(_._3)
    assert((byKey.head._1, byKey.head._2) == (0, 0))
    byKey.sliding(2).foreach { case Seq((x1, y1, d1), (x2, y2, _)) =>
      val manhattan = math.abs(x1 - x2) + math.abs(y1 - y2)
      assert(manhattan == 1,
        s"curve jumped from ($x1,$y1) to ($x2,$y2) at d=$d1")
    }
    // Morton genuinely lacks this — the property test is not vacuous
    val morton = (for (x <- 0 until n; y <- 0 until n)
      yield (x, y, ZOrderUtil.interleave62(x.toLong, y.toLong)))
      .sortBy(_._3)
    val mortonJumps = morton.sliding(2).count {
      case Seq((x1, y1, _), (x2, y2, _)) =>
        math.abs(x1 - x2) + math.abs(y1 - y2) > 1
    }
    assert(mortonJumps > 0)
  }

  test("full-width inputs stay non-negative and only low 31 bits count") {
    val full = HilbertUtil.hilbert62(0x7fffffffL, 0x7fffffffL)
    assert(full >= 0 && full < (1L << 62))
    assert(HilbertUtil.hilbert62(-1L, -1L) == full) // masked to low 31
    assert(HilbertUtil.hilbert62(0L, 0L) == 0L)
  }

  test("equal-length key ranges have tighter bounding boxes than Morton " +
      "(the zone-map win, measured)") {
    val n = 64
    // 100 cells per "file": NOT a power of 4, so neither curve tiles
    // into aligned squares — the realistic unaligned-range case where
    // Morton's quadrant-boundary jumps inflate the bounding boxes
    def boxArea(keyed: Seq[(Int, Int, Long)]): Long =
      keyed.sortBy(_._3).grouped(100).map { g =>
        val xs = g.map(_._1); val ys = g.map(_._2)
        (xs.max - xs.min + 1).toLong * (ys.max - ys.min + 1)
      }.sum
    val cells = for (x <- 0 until n; y <- 0 until n) yield (x, y)
    val h = boxArea(cells.map { case (x, y) =>
      (x, y, HilbertUtil.hilbert62(x.toLong, y.toLong)) })
    val z = boxArea(cells.map { case (x, y) =>
      (x, y, ZOrderUtil.interleave62(x.toLong, y.toLong)) })
    assert(h < z, s"hilbert total box area $h not tighter than morton $z")
  }

  test("registered expression matches the static helper through codegen") {
    import spark.implicits._
    graft.Functions.ensure(spark)
    val got = Seq((3L, 0L), (1L, 1L), (123456L, 654321L),
        (0x7fffffffL, 42L))
      .toDF("x", "y")
      .selectExpr("x", "y", "hilbert62(x, y) AS h")
      .as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, h) =>
      assert(h == HilbertUtil.hilbert62(x, y), s"($x,$y)")
    }
  }

  test("wrong argument count is a descriptive analysis-time error, " +
      "never IndexOutOfBounds or a silently dropped argument") {
    graft.Functions.ensure(spark)
    for ((sql, want) <- Seq(
        "SELECT hilbert62(1L)" -> "hilbert62 expects exactly 2 arguments, got 1",
        "SELECT hilbert62(1L, 2L, 3L)" -> "hilbert62 expects exactly 2 arguments, got 3",
        "SELECT zorder62(1L)" -> "zorder62 expects exactly 2 arguments, got 1")) {
      val e = intercept[Exception](spark.sql(sql).collect())
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(_.contains(want)),
        s"$sql: wanted '$want' in ${messages(e)}")
    }
  }
}
