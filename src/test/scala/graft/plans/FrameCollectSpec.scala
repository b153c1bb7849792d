package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Parity of the primitive window-frame collectors against the
  * collect_list forms they replace: the unsorted collector keeps the
  * same dropped-null multiset in frame order; the sorted-pick
  * aggregates (sortedPicksAgg for rollQuantiles, hampelMedMadAgg for
  * hampel) pick from the same total order sort_array applies (-0.0 <
  * 0.0, NaN greatest — the explicit [0.0, -0.0] case pins the running
  * engine placing -0.0 first, not in input order). Pinned on
  * adversarial values (null, NaN, ±0.0, ±1e308) over sliding,
  * centered, and clipped-edge frames.
  */
class FrameCollectSpec extends SparkSpec {
  import spark.implicits._

  private def df = {
    val rng = new scala.util.Random(11)
    val special = Seq(Double.NaN, 0.0, -0.0, 1e308, -1e308, 1.5, -2.5)
    (for (g <- 0 until 4; t <- 0 until 40) yield {
      val pick = rng.nextInt(10)
      val v: java.lang.Double =
        if (pick == 0) null
        else if (pick <= 3) special(rng.nextInt(special.length))
        else rng.nextDouble() * 100 - 50
      (g, t, v)
    }).toDF("g", "t", "v")
  }

  private val win = Window.partitionBy("g").orderBy("t")

  private def bits(row: org.apache.spark.sql.Row, i: Int): Seq[Long] =
    row.getSeq[Double](i).map(java.lang.Double.doubleToRawLongBits)

  test("collectDoubles == collect_list over sliding/centered/clipped frames") {
    for ((lo, hi) <- Seq((-6, 0), (-3, 3), (-50, 0), (0, 5))) {
      val frame = win.rowsBetween(lo, hi)
      val rows = df
        .withColumn("a", FrameAggKernels.collectDoubles($"v", hi - lo + 1).over(frame))
        .withColumn("b", collect_list($"v").over(frame))
        .orderBy("g", "t")
        .select("a", "b").collect()
      rows.zipWithIndex.foreach { case (r, i) =>
        assert(bits(r, 0) == bits(r, 1), s"frame ($lo,$hi) row $i")
      }
    }
  }

  /** sortedPicksAgg at EVERY rank of a w-row frame vs get() picks
    * from sort_array(collect_list): picks past the collected count are
    * null on both sides.
    */
  private def picksVsSortArray(d: org.apache.spark.sql.DataFrame, w: Int,
      orderCols: Seq[String]): Seq[org.apache.spark.sql.Row] = {
    val frame = win.rowsBetween(-(w - 1), 0)
    val ranks = 1 to w
    d.withColumn("a", FrameAggKernels.sortedPicksAgg($"v", ranks, w).over(frame))
      .withColumn("b", sort_array(collect_list($"v").over(frame)))
      // per-rank get(), not a transform() lambda: transform is
      // interpreted, and CollapseProject would pull sort_array into it
      // — interpreted sort_array compares doubles with SQL ordering
      // (-0.0 == 0.0, input order kept), while its generated code (the
      // path a projection takes) sorts with java.util.Arrays.sort
      .withColumn("b", array(ranks.map(r => get($"b", lit(r - 1))): _*))
      .orderBy(orderCols.map(col): _*)
      .select("a", "b").collect().toSeq
  }

  private def bitsOpt(row: org.apache.spark.sql.Row, i: Int): Seq[Option[Long]] =
    row.getSeq[Any](i).map {
      case null => None
      case d: Double => Some(java.lang.Double.doubleToRawLongBits(d))
    }

  test("sortedPicksAgg == sort_array(collect_list) picks incl. NaN and signed zero") {
    val rows = picksVsSortArray(df, 8, Seq("g", "t"))
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(bitsOpt(r, 0) == bitsOpt(r, 1), s"row $i")
    }
    // the fixture really puts NaN and both zero signs into sorted frames
    val picked = rows.flatMap(r => bitsOpt(r, 0).flatten).toSet
    assert(picked.contains(java.lang.Double.doubleToRawLongBits(-0.0)) &&
      picked.contains(0L) && rows.exists(r => r.getSeq[Any](0).exists {
        case d: Double => d.isNaN
        case _ => false
      }), "fixture must exercise NaN and both zero signs")
  }

  test("sortedPicksAgg on an explicit [0.0, -0.0] frame: BIT-equal, -0.0 first") {
    // pins the signed-zero order against the RUNNING engine instead of
    // RNG luck: both sort_array and Arrays.sort place -0.0 strictly
    // below +0.0 (Double.compare order), not in input order
    val zdf = Seq((1, 1, 0.0), (1, 2, -0.0), (1, 3, 1.0)).toDF("g", "t", "v")
    val r = picksVsSortArray(zdf, 3, Seq("t")).last
    assert(bitsOpt(r, 0) == bitsOpt(r, 1))
    assert(bitsOpt(r, 0).head.contains(java.lang.Double.doubleToRawLongBits(-0.0)))
    assert(bitsOpt(r, 1).head.contains(java.lang.Double.doubleToRawLongBits(-0.0)))
  }

  test("hampelMedMadAgg == sort_array(collect_list) median/MAD picks on nullable longs") {
    val rng = new scala.util.Random(13)
    val ldf = (for (g <- 0 until 3; t <- 0 until 30) yield {
      val v: java.lang.Long =
        if (rng.nextInt(8) == 0) null else (rng.nextLong() % 1000L): java.lang.Long
      (g, t, v)
    }).toDF("g", "t", "v")
    val k = 3
    val frame = win.rowsBetween(-k, k)
    val rows = ldf
      .withColumn("a", FrameAggKernels.hampelMedMadAgg($"v", k).over(frame))
      .withColumn("s", sort_array(collect_list($"v").over(frame)))
      .withColumn("med", get($"s", lit(k)))
      .withColumn("b", array($"med",
        get(array_sort(transform($"s", x => abs(x - $"med"))), lit(k))))
      .orderBy("g", "t")
      .select("a", "b").collect()
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getSeq[Any](0) == r.getSeq[Any](1), s"row $i")
    }
    assert(rows.exists(_.getSeq[Any](0).head == null) &&
      rows.exists(_.getSeq[Any](0).head != null), "short + full frames")
  }

  test("empty frames give empty arrays, never null") {
    val one = Seq((1, 1, null: java.lang.Double)).toDF("g", "t", "v")
    val frame = win.rowsBetween(-3, 0)
    val r = one
      .withColumn("a", FrameAggKernels.collectDoubles($"v", 4).over(frame))
      .select("a").head()
    assert(!r.isNullAt(0) && r.getSeq[Double](0).isEmpty)
  }
}
