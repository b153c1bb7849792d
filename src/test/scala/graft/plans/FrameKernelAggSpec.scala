package graft.plans

import graft.SparkSpec
import graft.ts.{Featurize, Taylor, TimeOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Parity of the frame-fold KERNEL aggregates (MultiRollAgg /
  * TaylorTrailingAgg / the sorted-pick aggregates) against independent
  * references they must reproduce bit-for-bit — on NULL-BEARING
  * adversarial input, because the aggregates' NaN-positional encoding
  * is exactly the lag/lead expression forms' (and the DuckDB oracles')
  * null semantics. The references are each op's declarative
  * `useKernel=false` form; where an op has none (moments, crosscorr),
  * a plain-Scala fold over a wrapped collect_list frame that follows
  * the OracleGen operation order; for the sorted picks, the
  * sort_array(collect_list) two-step written out here.
  */
class FrameKernelAggSpec extends SparkSpec {
  import spark.implicits._

  private val G = Seq("g")
  private val O = Seq("t")

  /** Null-bearing adversarial series: nulls, huge magnitudes, ±0.0,
    * short groups (shorter than every window), exact-window groups.
    */
  private def nullDf: DataFrame = {
    val rng = new scala.util.Random(7)
    val special = Seq(0.0, -0.0, 1e12, -1e12, 2.5, -3.5)
    (for (g <- 0 until 5; t <- 0 until (if (g == 3) 4 else if (g == 4) 14 else 40))
      yield {
        val pick = rng.nextInt(12)
        val v: java.lang.Double =
          if (pick == 0) null
          else if (pick <= 3) special(rng.nextInt(special.length))
          else rng.nextDouble() * 200 - 100
        (g, t, v)
      }).toDF("g", "t", "v")
  }

  /** Null-free variant. */
  private def cleanDf: DataFrame = {
    val rng = new scala.util.Random(9)
    (for (g <- 0 until 4; t <- 0 until (if (g == 2) 5 else 40))
      yield (g, t, rng.nextDouble() * 200 - 100)).toDF("g", "t", "v")
  }

  private def bitsOf(df: DataFrame, cols: Seq[String]): Seq[Seq[Option[Long]]] =
    df.orderBy("g", "t").select(cols.map(col): _*).collect().toSeq.map { r =>
      cols.indices.map(i =>
        if (r.isNullAt(i)) None
        else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(i))))
    }

  /** Per row (ordered by g, t): the trailing `depth` frame rows of
    * `cols`, oldest first, null slots kept in place — the positional
    * window a lag() chain sees (rows before the group start are absent).
    */
  private def frames(df: DataFrame, cols: Seq[String], depth: Int): Seq[Seq[Seq[Option[Double]]]] = {
    val win = org.apache.spark.sql.expressions.Window.partitionBy("g").orderBy("t")
      .rowsBetween(-(depth - 1), 0)
    df.withColumn("__f", collect_list(array(cols.map(c => col(c).cast("double")): _*)).over(win))
      .orderBy("g", "t").select("__f").collect().toSeq.map { r =>
        r.getSeq[scala.collection.Seq[Any]](0).toSeq.map(_.toSeq.map {
          case null => None
          case d: Double => Some(d)
        })
      }
  }

  private def bitsOpt(v: Option[Double]): Option[Long] =
    v.map(java.lang.Double.doubleToRawLongBits)

  /** Left fold over i = 0 until n starting from the i = 0 TERM — the
    * OracleGen `reduceLeft((a, b) => s"($a + $b)")` association.
    */
  private def fold(n: Int)(f: Int => Double): Double =
    (1 until n).foldLeft(f(0))((acc, i) => acc + f(i))

  /** OracleGen.momentsExprs in plain Scala: term(i) = lag i (newest
    * first), coalesce(·, 0.0) folds, mean over w, centered power sums
    * with the d2·d / d2·d2 grouping, gated on w non-null terms.
    */
  private def momentsRef(frame: Seq[Option[Double]], w: Int): Seq[Option[Long]] = {
    val coefs = RollFoldKernel.momentCoefs(w)
    def term(i: Int): Option[Double] = if (i < frame.size) frame(frame.size - 1 - i) else None
    val cnt = (0 until w).count(i => term(i).isDefined)
    if (cnt < w) return Seq(None, None)
    val mean = fold(w)(i => term(i).getOrElse(0.0)) / w
    def d(i: Int): Double = term(i).get - mean
    def d2(i: Int): Double = d(i) * d(i)
    val m2 = fold(w)(d2) / w
    val m3 = fold(w)(i => d2(i) * d(i)) / w
    val m4 = fold(w)(i => d2(i) * d2(i)) / w
    val skew = coefs(0) * (m3 / (m2 * math.sqrt(m2)))
    val kurt = coefs(1) * ((coefs(2) * ((m4 / (m2 * m2)) - 3.0)) + 6.0)
    Seq(bitsOpt(Some(skew)), bitsOpt(Some(kurt)))
  }

  /** OracleGen.crosscorrExpr in plain Scala: pair(i) = both lag-i
    * values present, five case-when folds, shifted Pearson, gated on w
    * complete pairs.
    */
  private def crosscorrRef(frame: Seq[Seq[Option[Double]]], w: Int): Option[Long] = {
    def at(i: Int): Seq[Option[Double]] =
      if (i < frame.size) frame(frame.size - 1 - i) else Seq(None, None)
    def pair(i: Int): Boolean = at(i).forall(_.isDefined)
    def x(i: Int): Double = at(i)(0).get
    def y(i: Int): Double = at(i)(1).get
    def sum(f: Int => Double): Double = fold(w)(i => if (pair(i)) f(i) else 0.0)
    val n = (0 until w).count(pair)
    if (n < w) return None
    val nd = n.toDouble
    val mx = sum(x) / nd
    val my = sum(y) / nd
    val sxxc = sum(i => (x(i) - mx) * (x(i) - mx))
    val syyc = sum(i => (y(i) - my) * (y(i) - my))
    val sxyc = sum(i => (x(i) - mx) * (y(i) - my))
    bitsOpt(Some(sxyc / math.sqrt(sxxc * syyc)))
  }

  test("rollmean agg ≡ declarative lag-fold form on null-bearing input, BIT-exact") {
    val df = nullDf
    val a = {
      val r = Featurize.rollmean(df, Seq("v"), G, O, Seq(7), None, useKernel = true)
      bitsOf(r.df, r.featureNames)
    }
    val d = {
      val r = Featurize.rollmean(df, Seq("v"), G, O, Seq(7), None, useKernel = false)
      bitsOf(r.df, r.featureNames)
    }
    assert(a == d)
    // minPeriods < w too
    val a2 = {
      val r = Featurize.rollmean(df, Seq("v"), G, O, Seq(5), Some(2), useKernel = true)
      bitsOf(r.df, r.featureNames)
    }
    val d2 = {
      val r = Featurize.rollmean(df, Seq("v"), G, O, Seq(5), Some(2), useKernel = false)
      bitsOf(r.df, r.featureNames)
    }
    assert(a2 == d2)
  }

  test("rollstats agg ≡ declarative form on null-bearing input, BIT-exact (zeros canonicalized)") {
    // min/max over a frame holding BOTH zero signs: the kernels (r21's
    // multiRoll and this aggregate, identically) fold newest-first with
    // `>`/`<` and keep the first-seen zero, while native max().over()
    // keeps its own first-seen — the SIGN of a zero min/max is
    // evaluation-order-specific on both engines (the oracle compares
    // min/max numerically; a -0.0 cannot arise from the integer-cents
    // gate data). Compare with zeros canonicalized; everything else is
    // raw-bit.
    val df = nullDf
    def canon(b: Seq[Seq[Option[Long]]]): Seq[Seq[Option[Long]]] =
      b.map(_.map(_.map(l => if (l == java.lang.Double.doubleToRawLongBits(-0.0)) 0L else l)))
    val a = {
      val r = Featurize.rollStats(df, Seq("v"), G, O, Seq(7), None, useKernel = true)
      bitsOf(r.df, r.featureNames)
    }
    val d = {
      val r = Featurize.rollStats(df, Seq("v"), G, O, Seq(7), None, useKernel = false)
      bitsOf(r.df, r.featureNames)
    }
    assert(canon(a) == canon(d))
  }

  test("zscore agg ≡ declarative form on null-bearing input, BIT-exact") {
    val df = nullDf
    val a = {
      val r = Featurize.zscore(df, "v", G, O, w = 6, useKernel = true)
      bitsOf(r.df, r.featureNames)
    }
    val d = {
      val r = Featurize.zscore(df, "v", G, O, w = 6, useKernel = false)
      bitsOf(r.df, r.featureNames)
    }
    assert(a == d)
  }

  test("autocorr agg ≡ declarative form on null-bearing input, BIT-exact") {
    val df = nullDf
    val a = {
      val r = Featurize.autocorr(df, "v", G, O, lagK = 2, w = 5, useKernel = true)
      bitsOf(r.df, r.featureNames)
    }
    val d = {
      val r = Featurize.autocorr(df, "v", G, O, lagK = 2, w = 5, useKernel = false)
      bitsOf(r.df, r.featureNames)
    }
    assert(a == d)
  }

  test("ewma_trunc agg ≡ declarative form on null-bearing input, BIT-exact") {
    val df = nullDf
    val a = {
      bitsOf(TimeOps.ewmaTruncated(df, "v", G, O, alpha = 0.2, k = 8, out = "e",
        useKernel = true), Seq("e"))
    }
    val d = bitsOf(TimeOps.ewmaTruncated(df, "v", G, O, alpha = 0.2, k = 8, out = "e",
      useKernel = false), Seq("e"))
    assert(a == d)
  }

  test("moments agg ≡ collector+kernel two-step on null-free input, BIT-exact") {
    // rollMoments has no declarative twin: the reference is a
    // collect_list frame folded in plain Scala (momentsRef), on the
    // null-free series and on the null-bearing one
    for (df <- Seq(cleanDf, nullDf)) {
      val r = Featurize.rollMoments(df, "v", G, O, w = 6)
      val a = bitsOf(r.df, r.featureNames)
      val d = frames(df, Seq("v"), 6).map(f => momentsRef(f.map(_.head), 6))
      assert(a == d)
      assert(a.exists(_.head.isDefined) && a.exists(_.head.isEmpty), "full + warm-up rows")
    }
  }

  test("crosscorr agg ≡ wrapped-frame kernel (positional) on null-bearing input, BIT-exact") {
    val rng = new scala.util.Random(21)
    val df = (for (g <- 0 until 3; t <- 0 until 30) yield {
      def v(): java.lang.Double =
        if (rng.nextInt(10) == 0) null else rng.nextDouble() * 50 - 25
      (g, t, v(), v())
    }).toDF("g", "t", "x", "y")
    val a = {
      val r = Featurize.crossCorr(df, "x", "y", G, O, w = 5)
      bitsOf(r.df, r.featureNames)
    }
    // reference: a wrapped collect_list(array(x, y)) frame (null slots
    // keep their position) folded in plain Scala (crosscorrRef)
    val d = frames(df, Seq("x", "y"), 5).map(f => Seq(crosscorrRef(f, 5)))
    assert(a == d)
    assert(a.exists(_.head.isDefined) && a.exists(_.head.isEmpty), "full + gated rows")
  }

  test("trailing taylor agg ≡ declarative CASE form on null-bearing input, BIT-exact") {
    val df = nullDf
    for ((deg, w, span, fill) <- Seq((2, 7, None, false), (1, 5, None, true),
        (1, 7, Some(5), true))) {
      val a = {
        val r = Taylor.windowedTaylorCoefs(df, Seq("v"), G, O, deg, Seq(w),
          Seq("trailing"), Seq(span), fill, useKernel = true)
        bitsOf(r.df, r.featureNames)
      }
      val d = {
        val r = Taylor.windowedTaylorCoefs(df, Seq("v"), G, O, deg, Seq(w),
          Seq("trailing"), Seq(span), fill, useKernel = false)
        bitsOf(r.df, r.featureNames)
      }
      assert(a == d, s"deg=$deg w=$w span=$span fill=$fill")
    }
  }

  /** The featurizeData block below, op by op in declarative form:
    * lag() features, the useKernel=false rollmean and taylor folds, and
    * the wide lead targets.
    */
  private def declarativeBlock(df: DataFrame, rollW: Int, tayW: Int, align: String,
      fill: Boolean, lags: Seq[Int], leads: Seq[Int]): (DataFrame, Seq[String]) = {
    val l = Featurize.lagFeatures(df, Seq("v"), G, O, lags)
    val m = Featurize.rollmean(l.df, Seq("v"), G, O, Seq(rollW), None, useKernel = false)
    val t = Taylor.windowedTaylorCoefs(m.df, Seq("v"), G, O, 1, Seq(tayW),
      Seq(align), Seq(None), fill, useKernel = false)
    val h = Featurize.horizonTargets(t.df, Seq("v"), G, O, leads, "wide")
    (h.df, l.featureNames ++ m.featureNames ++ t.featureNames)
  }

  test("fused block (lags + rollmean + trailing taylor + lead) agg ≡ declarative forms, and ≡ on nulls") {
    // the ts_pipeline shape end-to-end through featurizeData
    val feats = Seq(
      Featurize.Lag(Seq("v"), Seq(1, 3)),
      Featurize.Rollmean(Seq("v"), Seq(4)),
      Featurize.WindowedTaylorCoefs(Seq("v"), taylorDegree = 1, Seq(5),
        Seq("trailing"), Seq(None), fillEdges = false),
      Featurize.HorizonTargets(Seq("v"), Seq(2), "wide"))
    for (df <- Seq(cleanDf, nullDf)) {
      val r = Featurize.featurizeData(df, G, O, feats)
      val (d, names) = declarativeBlock(df, 4, 5, "trailing", fill = false, Seq(1, 3), Seq(2))
      assert(r.featureNames == names)
      assert(bitsOf(r.df, names :+ "v_target2") == bitsOf(d, names :+ "v_target2"))
    }
  }

  test("fused block with CENTERED taylor: rolls split to aggregates, taylor unchanged") {
    // the ts_pipeline_full block shape (centered taylor keeps the
    // collector + kernel two-step; the rolls move to their own
    // aggregates): every column ≡ its op's declarative form
    val feats = Seq(
      Featurize.Lag(Seq("v"), Seq(1)),
      Featurize.Rollmean(Seq("v"), Seq(4)),
      Featurize.WindowedTaylorCoefs(Seq("v"), taylorDegree = 1, Seq(5),
        Seq("centered"), Seq(None), fillEdges = true))
    for (df <- Seq(cleanDf, nullDf)) {
      val r = Featurize.featurizeData(df, G, O, feats)
      val (d, names) = declarativeBlock(df, 4, 5, "centered", fill = true, Seq(1), Nil)
      assert(r.featureNames == names)
      assert(bitsOf(r.df, names) == bitsOf(d, names))
    }
  }

  test("hampel med/mad agg ≡ sorted-collector two-step on null-bearing input, BIT-exact") {
    val df = nullDf
    val k = 3
    val a = bitsOf(TimeOps.hampel(df, "v", G, O, k = k).withColumn("o",
      col("is_outlier").cast("double")), Seq("value_hampel", "o"))
    // reference: sort_array(collect_list) over the centered frame, get()
    // picks for the median and the MAD, the integer outlier gate
    val win = org.apache.spark.sql.expressions.Window.partitionBy("g").orderBy("t")
      .rowsBetween(-k, k)
    val ref = df
      .withColumn("__c", floor(col("v") * 100L + lit(0.5)).cast("long"))
      .withColumn("__cnt", count(col("__c")).over(win))
      .withColumn("__arr", sort_array(collect_list(col("__c")).over(win)))
      .withColumn("__med", get(col("__arr"), lit(k)))
      .withColumn("__mad",
        get(array_sort(transform(col("__arr"), x => abs(x - col("__med")))), lit(k)))
    val isOut = col("__cnt") === 2 * k + 1 &&
      abs(col("__c") - col("__med")) * lit(10000L) > col("__mad") * lit(44478L)
    val d = bitsOf(ref
      .withColumn("value_hampel",
        when(isOut, col("__med").cast("double") / 100L).otherwise(col("v").cast("double")))
      .withColumn("o", when(isOut, lit(1.0)).otherwise(lit(0.0))), Seq("value_hampel", "o"))
    assert(a == d)
    assert(a.exists(_(1).contains(java.lang.Double.doubleToRawLongBits(1.0))), "some outlier flagged")
  }

  test("rollQuantiles sorted-picks agg ≡ sorted-collector two-step on null-bearing input, BIT-exact") {
    val df = nullDf
    val w = 4
    def names = Seq("v_q1_w4", "v_med_w4", "v_q3_w4")
    val a = bitsOf(TimeOps.rollQuantiles(df, "v", G, O, w = w), names)
    // reference: sort_array(collect_list) + element_at at rank ceil(p·w),
    // gated on a full window of non-null values
    val win = org.apache.spark.sql.expressions.Window.partitionBy("g").orderBy("t")
      .rowsBetween(-(w - 1), 0)
    val ranks = Seq(0.25, 0.5, 0.75).map(p => math.ceil(p * w).toInt)
    val ref = df
      .withColumn("__cnt", count(col("v")).over(win))
      .withColumn("__arr", sort_array(collect_list(col("v")).over(win)))
    val d = bitsOf(names.zip(ranks).foldLeft(ref) { case (acc, (n, rk)) =>
      acc.withColumn(n, when(col("__cnt") === w, element_at(col("__arr"), rk)))
    }, names)
    assert(a == d)
    assert(a.exists(_.head.isDefined) && a.exists(_.head.isEmpty), "full + gated rows")
  }

  test("multi-column fused rolls (ts_pipeline_multi shape) agg ≡ declarative forms") {
    val rng = new scala.util.Random(31)
    val df = (for (g <- 0 until 3; t <- 0 until 35) yield
      (g, t, rng.nextDouble() * 10, rng.nextDouble() * 5)).toDF("g", "t", "v", "v2")
    val feats = Seq(
      Featurize.Lag(Seq("v", "v2"), Seq(1, 3)),
      Featurize.Rollmean(Seq("v", "v2"), Seq(4, 9)))
    val r = Featurize.featurizeData(df, G, O, feats)
    val l = Featurize.lagFeatures(df, Seq("v", "v2"), G, O, Seq(1, 3))
    val m = Featurize.rollmean(l.df, Seq("v", "v2"), G, O, Seq(4, 9), None, useKernel = false)
    val names = l.featureNames ++ m.featureNames
    assert(r.featureNames == names)
    assert(bitsOf(r.df, names) == bitsOf(m.df, names))
  }
}
