package graft.ts

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Multi-column roll families split into one frame-fold aggregate per
  * (column, depth), all on ONE Window operator. The split must match
  * the declarative forms — including nulls, NaNs (missing values, the
  * pandas contract), and short groups — and cross-column specs must
  * still read both columns through one aggregate.
  */
class SharedMultiFrameSpec extends SparkSpec {
  import spark.implicits._

  private val nan = Double.NaN
  private lazy val df = (for (g <- Seq(1, 2); i <- 0 until 40) yield {
    val v: java.lang.Double =
      if ((i + g) % 9 == 0) null else if (i % 13 == 0) nan else (i * 3 + g).toDouble
    val w: java.lang.Double = if (i % 7 == 0) null else (i * 2 - g).toDouble
    (g, i.toLong, v, w)
  }).toDF("g", "t", "v", "w")

  private def feats = Seq(
    Featurize.Lag(Seq("v", "w"), Seq(1, 3)),
    Featurize.Rollmean(Seq("v", "w"), Seq(4, 9)))

  // doubles → bit patterns: NaN must compare EQUAL to itself here
  // (lag features legitimately carry NaN through)
  private def rows(d: org.apache.spark.sql.DataFrame, names: Seq[String]) =
    d.orderBy("g", "t").select((Seq("g", "t") ++ names).map(col): _*).collect().map(_.toSeq.map {
      case x: Double => java.lang.Double.doubleToLongBits(x)
      case x         => x
    }).toSeq

  test("per-column split aggregates == declarative forms on nulls, NaNs, and short groups") {
    val r = Featurize.featurizeData(df, Seq("g"), Seq("t"), feats)
    val lags = Featurize.lagFeatures(df, Seq("v", "w"), Seq("g"), Seq("t"), Seq(1, 3))
    // the roll folds treat NaN as missing; the declarative lag-fold
    // form sees it as the null it stands for
    val nulled = df.withColumn("v", when(isnan($"v"), lit(null)).otherwise($"v"))
    val rolls = Featurize.rollmean(nulled, Seq("v", "w"), Seq("g"), Seq("t"), Seq(4, 9),
      useKernel = false)
    assert(r.featureNames == lags.featureNames ++ rolls.featureNames)
    assert(rows(r.df, lags.featureNames) == rows(lags.df, lags.featureNames))
    assert(rows(r.df, rolls.featureNames) == rows(rolls.df, rolls.featureNames))
  }

  test("split plans one Window operator (frames share it) and no array allocation") {
    val qe = Featurize.featurizeData(df, Seq("g"), Seq("t"), feats).df.queryExecution
    val windows = "\\bWindow \\[".r.findAllIn(qe.executedPlan.toString).length
    assert(windows == 1,
      s"all roll aggregates must ride ONE Window operator, saw $windows:\n${qe.executedPlan.toString.take(2000)}")
    // the optimized logical plan shows the frame elements before
    // LocalTableScan folding: no array() element construction
    assert(!qe.optimizedPlan.toString.contains("collect_list(array("),
      "split path must not build array elements")
  }

  test("cross-column specs still read both columns in one pass") {
    // mode-6 cross-corr runs as ONE multi-child frame-fold aggregate
    // (MultiRollAgg over NaN-encoded v AND w — no frame array at all)
    val r = Featurize.crossCorr(df, "v", "w", Seq("g"), Seq("t"), w = 5)
    val plan = r.df.queryExecution.analyzed.toString
    assert(plan.contains("multirollagg"),
      s"mode-6 cross-corr defaults to the multi-column aggregate:\n${plan.take(2000)}")
    assert(!plan.contains("collect_list"), s"no frame array:\n${plan.take(2000)}")
  }
}
