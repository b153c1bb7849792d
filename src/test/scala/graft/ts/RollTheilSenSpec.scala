package graft.ts

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins TimeOps.rollTheilSen — the rolling (windowed) robust slope —
  * against a brute-force loop median, its robustness contrast with a
  * rolling OLS, and the bounded-frame plan shape.
  */
class RollTheilSenSpec extends SparkSpec {
  import spark.implicits._

  private val w = 14

  private def run(rows: Seq[(Long, Long, Double)]) =
    TimeOps.rollTheilSen(rows.toDF("user_id", "ts_us", "value"),
      "value", "ts_us", Seq("user_id"), Seq("ts_us"), w)
      .orderBy("ts_us").collect()

  test("matches the brute-force windowed lower-median slope (noisy series)") {
    val rows = (0 until 60).map { t =>
      (1L, t.toLong * 1000L, 2.0 * t + ((t * 2654435761L) % 97L).toDouble / 9.7)
    }
    val got = run(rows)
    rows.indices.foreach { t =>
      if (t < w - 1) assert(got(t).isNullAt(3), s"t=$t: window not full yet")
      else {
        val win = rows.slice(t - w + 1, t + 1)
        val slopes = (for {
          a <- 0 until w; b <- (a + 1) until w
        } yield (win(b)._3 - win(a)._3) / (win(b)._2 - win(a)._2).toDouble).sorted
        assert(got(t).getDouble(3) == slopes((slopes.size + 1) / 2 - 1),
          s"t=$t: ${got(t).getDouble(3)} vs brute force")
      }
    }
  }

  test("robustness: a spike passing through the window leaves the rolling slope near truth") {
    // clean slope 3 per ts-unit, one wild spike mid-series
    val rows = (0 until 40).map { t =>
      (1L, t.toLong, if (t == 25) 1.0e6 else 3.0 * t)
    }
    val got = run(rows)
    // every full window (even the 13 containing the spike) keeps the
    // median slope exactly 3: ≤13 of 91 pair slopes touch the spike
    (w - 1 until 40).foreach { t =>
      assert(got(t).getDouble(3) == 3.0,
        s"t=$t: rolling Sen slope must shrug off the spike: ${got(t)}")
    }
  }

  test("scale shape: one bounded sliding frame, kernel in the executed plan") {
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .select("user_id", "ts_us", "event_id", "value")
    val plan = TimeOps.rollTheilSen(ev, "value", "ts_us", Seq("user_id"),
      Seq("ts_us", "event_id"), w).queryExecution.executedPlan.toString
    val lower = plan.toLowerCase
    assert(lower.contains("rolltheilsenagg"), s"aggregate must plan:\n${plan.take(1500)}")
    assert("specifiedwindowframe\\(rowframe, -13, currentrow".r.findAllIn(lower).nonEmpty,
      s"frame must be the bounded trailing 14 rows:\n${plan.take(1500)}")
    // the fold runs INSIDE the window aggregate (r21): no collect_list
    // materialization anywhere, one Window node
    assert(plan.linesIterator.count(_.contains("Window [")) == 1 &&
      !lower.contains("collect_list"),
      s"one WindowExec, no collect_list:\n${plan.take(2000)}")
  }

  /** The brute-force lower-median pairwise slope of rows[t-w+1 .. t]:
    * null on a clipped frame (t < w−1) or when any value in it is null.
    */
  private def bruteSlope(rows: Seq[(Long, Long, Option[Double])], t: Int): Option[Double] =
    if (t < w - 1) None
    else {
      val win = rows.slice(t - w + 1, t + 1)
      if (win.exists(_._3.isEmpty)) None
      else {
        val slopes = (for {
          a <- 0 until w; b <- (a + 1) until w
        } yield (win(b)._3.get - win(a)._3.get) / (win(b)._2 - win(a)._2).toDouble).sorted
        Some(slopes((slopes.size + 1) / 2 - 1))
      }
    }

  test("frame-fold aggregate ≡ pair kernel: verdicts align on nulls and clipped frames") {
    // null value at t = 20: every window containing it must be null,
    // exactly like the brute-force pair loop (the aggregate latches the
    // null; a clipped warm-up frame is null by size)
    val rows = (0 until 45).map { t =>
      (1L, t.toLong * 1000L, if (t == 20) None else Some(2.0 * t + (t % 5)))
    }
    val got = rows.toDF("user_id", "ts_us", "value")
      .select(col("ts_us"), graft.plans.FrameAggKernels.rollTheilSen(
        col("ts_us").cast("double"), col("value").cast("double"), w)
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts_us").rowsBetween(-(w - 1), 0)).as("q"))
      .orderBy("ts_us").collect()
    got.zipWithIndex.foreach { case (r, t) =>
      val want = bruteSlope(rows, t)
      assert(r.isNullAt(1) == want.isEmpty, s"t=$t verdict mismatch: $r vs $want")
      if (!r.isNullAt(1))
        assert(java.lang.Double.doubleToRawLongBits(r.getDouble(1)) ==
          java.lang.Double.doubleToRawLongBits(want.get), s"t=$t value mismatch: $r vs $want")
    }
    val nullAt = got.map(r => (r.getLong(0) / 1000L).toInt -> r.isNullAt(1)).toMap
    (20 until 20 + w).foreach(t => assert(nullAt(t), s"t=$t window holds the null"))
    (0 until w - 1).foreach(t => assert(nullAt(t), s"t=$t clipped warm-up frame"))
    assert(!nullAt(19) && !nullAt(20 + w), "clean full windows stay non-null")
  }
}
