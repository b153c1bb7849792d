package graft.plans

import graft.SparkSpec
import graft.ts.Featurize
import org.apache.spark.sql.functions._

/** Value parity of the multi-column roll aggregate and the fused
  * featurize rolls against the dedicated single-column aggregates and
  * the declarative expression forms, plus the plan shape of a
  * multi-column roll family: every fold aggregate on ONE Window op.
  */
class MultiRollKernelSpec extends SparkSpec {
  import spark.implicits._

  private def df2 = {
    val rng = new scala.util.Random(7)
    (for (g <- 0 until 3; t <- 0 until 60)
      yield (g, t, math.sin(t * 0.3) + g + rng.nextDouble() * 0.1,
        math.cos(t * 0.17) * 2 - g + rng.nextDouble() * 0.1))
      .toDF("g", "t", "v", "u")
  }

  test("fused rollmean over 2 columns x 2 windows equals the expression form") {
    val d = df2
    val fused = Featurize.rollmean(d, Seq("v", "u"), Seq("g"), Seq("t"), Seq(5, 9))
    val expr = Featurize.rollmean(d, Seq("v", "u"), Seq("g"), Seq("t"), Seq(5, 9), useKernel = false)
    assert(fused.featureNames == expr.featureNames)
    val cols = Seq("g", "t") ++ fused.featureNames
    val a = fused.df.orderBy("g", "t").select(cols.map(col): _*).collect().toSeq
    val b = expr.df.orderBy("g", "t").select(cols.map(col): _*).collect().toSeq
    assert(a == b)
  }

  test("fused rollmean skips nulls exactly like the coalesce+count expression form") {
    val d = df2.withColumn("v", when($"t" % 7 === 0, lit(null)).otherwise($"v"))
      .withColumn("u", when($"t" % 11 === 3, lit(null)).otherwise($"u"))
    val fused = Featurize.rollmean(d, Seq("v", "u"), Seq("g"), Seq("t"), Seq(5), Some(2))
    val expr = Featurize.rollmean(d, Seq("v", "u"), Seq("g"), Seq("t"), Seq(5), Some(2), useKernel = false)
    val cols = Seq("g", "t") ++ fused.featureNames
    val a = fused.df.orderBy("g", "t").select(cols.map(col): _*).collect().toSeq
    val b = expr.df.orderBy("g", "t").select(cols.map(col): _*).collect().toSeq
    assert(a == b)
  }

  test("fused rollstats over 2 columns equals the expression form") {
    val d = df2
    val fused = Featurize.rollStats(d, Seq("v", "u"), Seq("g"), Seq("t"), Seq(6))
    val expr = Featurize.rollStats(d, Seq("v", "u"), Seq("g"), Seq("t"), Seq(6), useKernel = false)
    assert(fused.featureNames == expr.featureNames)
    val cols = Seq("g", "t") ++ fused.featureNames
    val a = fused.df.orderBy("g", "t").select(cols.map(col): _*).collect().toSeq
    val b = expr.df.orderBy("g", "t").select(cols.map(col): _*).collect().toSeq
    assert(a == b)
  }

  test("a 2-column pipeline plans ONE Window, ONE exchange, per-column bare frames") {
    // one frame-fold AGGREGATE per (column, depth) rollmean family — 4
    // here, each buffering one NaN-encoded column, zero frame arrays —
    // all riding ONE Window op over ONE hash exchange
    val res = Featurize.featurizeData(df2, Seq("g"), Seq("t"), Seq(
      Featurize.Lag(Seq("v", "u"), Seq(1, 3)),
      Featurize.Rollmean(Seq("v", "u"), Seq(5, 9)),
      Featurize.HorizonTargets(Seq("v"), Seq(2), "wide")))
    val plan = res.df.queryExecution.executedPlan.toString
    val windows = "(?m)^\\s*(?:\\+- )?Window ".r.findAllIn(plan).length
    val buffers = "doubleframecollect".r.findAllIn(plan).length +
      "collect_list".r.findAllIn(plan).length
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    val aggs = "multirollagg".r.findAllIn(plan).length
    assert(windows == 1, s"expected ONE Window op, got $windows")
    assert(buffers == 0, s"aggregate mode must plan ZERO frame arrays, got $buffers")
    assert(aggs == 4,
      s"expected one fold aggregate per (column, w) rollmean — 4 — got $aggs")
    assert(hashExchanges == 1, s"expected 1 hash exchange, got $hashExchanges")
  }

  test("mixed-mode specs against one frame equal their dedicated kernels") {
    val d = df2
    val (g, o) = (Seq("g"), Seq("t"))
    val win = Featurize.seriesWindow(g, o)
    // ONE two-column aggregate (v at index 0, u at 1) for all four specs
    val specs = Seq(
      RollSpecDef(0, 0, 5, 5, 0, Array.empty),
      RollSpecDef(2, 1, 8, 8, 0, Array.empty),
      RollSpecDef(4, 0, 6, 6, 2, Array.empty),
      RollSpecDef(5, 1, 10, 10, 0, RollFoldKernel.momentCoefs(10)))
    val depth = specs.map(_.depth).max
    val fused = d.select(col("g"), col("t"),
        FrameAggKernels.multiRollAgg(Seq($"v", $"u"), specs, depth)
          .over(win.rowsBetween(-(depth - 1), 0)).as("r"))
      .select(col("g"), col("t"),
        element_at($"r", 1).as("m"), element_at($"r", 2).as("z"),
        element_at($"r", 3).as("a"), element_at($"r", 4).as("sk"))
    // each op on its own: its dedicated single-column aggregate, and its
    // declarative form (rollMoments has none, so sk keeps its aggregate)
    def single(useKernel: Boolean) = {
      val m = Featurize.rollmean(d, Seq("v"), g, o, Seq(5), useKernel = useKernel).df
      val z = Featurize.zscore(m, "u", g, o, 8, useKernel = useKernel).df
      val a = Featurize.autocorr(z, "v", g, o, lagK = 2, w = 6, useKernel = useKernel).df
      Featurize.rollMoments(a, "u", g, o, 10).df.select(col("g"), col("t"),
        col("v_rollmean_w5").as("m"), col("u_zscore_w8").as("z"),
        col("v_autocorr_l2_w6").as("a"), col("u_skew_w10").as("sk"))
    }
    val f = fused.orderBy("g", "t").collect().toSeq
    assert(f == single(useKernel = true).orderBy("g", "t").collect().toSeq)
    assert(f == single(useKernel = false).orderBy("g", "t").collect().toSeq)
  }
}
