package graft.ts

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Result of a featurization step: the augmented frame plus the running
  * list of created feature column names (mirrors the reference's
  * `(data, feature_names)` convention, featurize.py:29-34).
  */
final case class FeatureResult(df: DataFrame, featureNames: Seq[String]) {
  def andThen(f: DataFrame => FeatureResult): FeatureResult = {
    val next = f(df)
    FeatureResult(next.df, featureNames ++ next.featureNames)
  }
}

/** Spark-native re-expression of reichlab/timeseriesutils
  * `featurize.py`. The reference assumes the frame is pre-sorted per
  * group; Spark has no row order, so every op takes explicit
  * `orderCols`. All ops share one `Window.partitionBy(groupCols)
  * .orderBy(orderCols)` — Catalyst collapses the whole feature pipeline
  * into a single Exchange + Sort, so a multi-feature pipeline costs one
  * shuffle at any scale (the pandas reference does one groupby pass per
  * feature).
  *
  * Insufficient-window cells are NULL (the reference uses NaN; NULL is
  * the Spark-native missing marker and what the DuckDB oracle emits).
  */
object Featurize {

  /** Per-group ordered window, the one shared sort of the pipeline. */
  def seriesWindow(groupCols: Seq[String], orderCols: Seq[String]): WindowSpec = {
    val w = if (groupCols.isEmpty) Window.partitionBy() else Window.partitionBy(groupCols.map(col): _*)
    w.orderBy(orderCols.map(col): _*)
  }

  /** One roll-family feature against the shared multi-column frame:
    * output names (1 per slot), source column, and the kernel-mode
    * parameters (graft.plans.RollSpecDef numbering).
    */
  private[ts] final case class RollReq(
      names: Seq[String],
      src: String,
      mode: Int,
      w: Int,
      minP: Int,
      lagK: Int = 0,
      weights: Array[Double] = Array.empty,
      src2: Option[String] = None)

  /** Project a family of trailing roll features — and, from
    * [[fusedWindowBlock]], trailing Taylor specs — as frame-fold window
    * aggregates ([[graft.plans.MultiRollAgg]] /
    * [[graft.plans.TaylorTrailingAgg]]): each aggregate's eval() IS the
    * fold, so no frame array is ever built per row. When no request
    * reads two columns, the rolls split into one aggregate per
    * (column, depth), each buffering a single NaN-encoded column; a
    * cross-column spec (mode 6) puts the whole family into ONE
    * multi-column aggregate at the widest depth. Every aggregate shares
    * the partition/order spec (frames differ per function, which
    * WindowExec handles natively), and `extra` rides the same select,
    * so the block plans ONE Window operator.
    */
  private def applyRollReqs(
      df: DataFrame,
      win: WindowSpec,
      reqs: Seq[RollReq],
      extra: Seq[(String, Column)],
      taylors: Seq[TaylorBasis.Spec] = Nil): DataFrame = {
    import graft.plans.{FrameAggKernels, RollSpecDef}
    def frame(depth: Int): WindowSpec = win.rowsBetween(-(depth - 1), 0)
    val rollKs: Seq[(Column, Seq[RollReq])] =
      if (reqs.forall(_.src2.isEmpty)) {
        reqs.map(_.src).distinct.flatMap { c =>
          val mine = reqs.filter(_.src == c)
          mine.groupBy(r => RollSpecDef(r.mode, 0, r.w, r.minP, r.lagK, r.weights).depth)
            .toSeq.sortBy(_._1).map { case (depth, rs) =>
              val specs = rs.map(r => RollSpecDef(r.mode, 0, r.w, r.minP, r.lagK, r.weights))
              (FrameAggKernels.multiRollAgg(Seq(col(c)), specs, depth).over(frame(depth)), rs)
            }
        }
      } else {
        val colsUsed = (reqs.map(_.src) ++ reqs.flatMap(_.src2)).distinct
        val specs = reqs.map { r =>
          // mode 6 (cross-corr) carries its second column's index in lagK
          val lk = r.src2.map(colsUsed.indexOf).getOrElse(r.lagK)
          RollSpecDef(r.mode, colsUsed.indexOf(r.src), r.w, r.minP, lk, r.weights)
        }
        val depth = specs.map(_.depth).max
        Seq((FrameAggKernels.multiRollAgg(colsUsed.map(col), specs, depth)
          .over(frame(depth)), reqs))
      }
    // trailing taylor: depth-(w+1) frame, see KernelRuntime.taylorFlat
    val tayKs = taylors.map { t =>
      val table = graft.plans.TaylorKernel.evaluatorFromSpec(t).table
        .copy(frameLo = t.windowSize, nanNull = true)
      FrameAggKernels.taylorTrailingAgg(col(t.column), table)
        .over(win.rowsBetween(-t.windowSize, 0))
    }
    // two selects: the kernel arrays materialize ONCE, then per-feature
    // element_at projections read them — same Window operator, and each
    // fold runs once per row, not per feature
    val aggCols = rollKs.zipWithIndex.map { case ((k, _), i) => k.as(s"__roll$i") } ++
      tayKs.zipWithIndex.map { case (k, i) => k.as(s"__tay$i") }
    val withAgg = df.select(col("*") +:
      (aggCols ++ extra.map { case (n, e) => e.as(n) }): _*)
    val rollProjs = rollKs.zipWithIndex.flatMap { case ((_, rs), i) =>
      rs.flatMap(_.names).zipWithIndex.map { case (nm, slot) =>
        element_at(col(s"__roll$i"), slot + 1).as(nm)
      }
    }
    val tayProjs = taylors.zipWithIndex.flatMap { case (t, i) =>
      (0 to t.degree).map(d => element_at(col(s"__tay$i"), d + 1).as(t.featName(d)))
    }
    withAgg.select(col("*") +: (rollProjs ++ tayProjs): _*)
      .drop(rollKs.indices.map(i => s"__roll$i") ++
        taylors.indices.map(i => s"__tay$i"): _*)
  }

  /** The fused window block of [[featurizeData]]: every roll-family
    * request, every Taylor spec and `extra` (lags/leads) over one
    * partition/order spec.
    *
    * Rolls and TRAILING taylor specs fold in their own frame-fold
    * aggregates ([[applyRollReqs]]). CENTERED taylor specs cannot: their
    * branch select reads pos/rpos, which a frame aggregate cannot see,
    * so they keep the collector + [[graft.plans.TaylorKernel]] two-step
    * — a single spec through [[Taylor.kernelExprs]], several through
    * [[sharedFrameBlock]]'s one shared frame — in a second Window
    * operator that rides the same sort.
    */
  private[ts] def fusedWindowBlock(
      df: DataFrame,
      win: WindowSpec,
      reqs: Seq[RollReq],
      taylors: Seq[TaylorBasis.Spec],
      extra: Seq[(String, Column)]): DataFrame = {
    if (reqs.isEmpty && taylors.size == 1) {
      val t = taylors.head
      val feats = Taylor.kernelExprs(Seq(t.column), t.degree, Seq(t.windowSize),
        Seq(t.align), Seq(t.ewSpan), t.fillEdges, win)
      return df.select(col("*") +: (extra ++ feats).map { case (n, e) => e.as(n) }: _*)
    }
    if (taylors.forall(_.align == "trailing")) applyRollReqs(df, win, reqs, extra, taylors)
    else if (reqs.nonEmpty || extra.nonEmpty)
      fusedWindowBlock(applyRollReqs(df, win, reqs, extra), win, Nil, taylors, Nil)
    else sharedFrameBlock(df, win, taylors)
  }

  /** Several taylor specs, at least one CENTERED, through ONE collect
    * frame + pos/cnt feeding one [[graft.plans.TaylorKernel]] per spec:
    * depth = the family's max past need, reach = its max future need —
    * a single window aggregation buffer for the whole family.
    *
    * Null rows must keep their POSITION in the frame (a bare
    * collect_list drops nulls and shifts everything after them), so the
    * element encoding depends on how many source columns the specs
    * read: several → WRAPPED `array(cols)` elements (array() is never
    * dropped, null slot = null source value); exactly one → BARE
    * doubles with null ENCODED as NaN (`coalesce(x, NaN)`), which the
    * kernel decodes back to null — identical positional semantics, no
    * per-row array allocation (the r7 ts_pipeline regression). Either
    * way a taylor branch touching a null emits a NULL coefficient
    * exactly like the declarative lag/lead CASE form. (A genuine NaN
    * VALUE in the source column is treated as missing — the reference
    * is pandas, where NaN IS the missing value.)
    */
  private def sharedFrameBlock(
      df: DataFrame,
      win: WindowSpec,
      taylors: Seq[TaylorBasis.Spec]): DataFrame = {
    import graft.plans.TaylorKernel
    val colsUsed = taylors.map(_.column).distinct
    def tPast(t: TaylorBasis.Spec): Int =
      if (t.align == "trailing") t.windowSize - 1 else (t.windowSize - 1) / 2
    def tFut(t: TaylorBasis.Spec): Int = t.windowSize - 1 - tPast(t)
    val frameLo = taylors.map(tPast).max
    val frameHi = taylors.map(tFut).max
    val needsCnt = frameHi > 0 || taylors.exists(_.needsCount)
    val bareNaN = colsUsed.size == 1
    // NaN-as-missing must hold in BOTH frame encodings (pandas
    // semantics): the bare frame encodes null AS NaN and its kernel
    // treats NaN as missing, so the wrapped frame maps NaN TO null (its
    // kernel treats null as missing) — the same NaN-bearing input gives
    // the same answer in single- and multi-column pipelines.
    val elem =
      if (bareNaN) coalesce(col(colsUsed.head).cast("double"), lit(Double.NaN))
      else array(colsUsed.map { c =>
        val d = col(c).cast("double")
        when(isnan(d), lit(null)).otherwise(d)
      }: _*)
    // bare single-column frame: the primitive collector (elem is
    // coalesce(x, NaN) — never null, so nothing is dropped and rows
    // keep their position). Wrapped multi-column frames keep
    // collect_list (array elements).
    val frame =
      (if (bareNaN) graft.plans.FrameAggKernels.collectDoubles(elem, frameLo + frameHi + 1)
       else collect_list(elem)).over(win.rowsBetween(-frameLo, frameHi))
    val posC = row_number().over(win).cast("long") - 1
    val cntC =
      if (needsCnt)
        count(lit(1)).over(win.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
      else lit(-1L)
    // stage A materializes frame/pos/cnt in the ONE Window operator;
    // stage B runs each kernel ONCE on the materialized frame; stage C
    // projects per-feature elements. Three selects so CollapseProject
    // can't duplicate a kernel per output feature.
    val stageA = df.select(col("*") +:
      Seq(frame.as("__frame"), posC.as("__pos"), cntC.as("__cnt")): _*)
    val tayCols = taylors.zipWithIndex.map { case (t, i) =>
      TaylorKernel.fromSpecShared(t, col("__frame"), col("__pos"), col("__cnt"),
        frameLo, if (bareNaN) -1 else colsUsed.indexOf(t.column),
        nanNull = bareNaN).as(s"__tay$i")
    }
    val stageB = stageA.select(col("*") +: tayCols: _*)
    val tayProjs = taylors.zipWithIndex.flatMap { case (t, i) =>
      (0 to t.degree).map(d => element_at(col(s"__tay$i"), d + 1).as(t.featName(d)))
    }
    stageB.select(col("*") +: tayProjs: _*)
      .drop("__frame", "__pos", "__cnt")
      .drop(taylors.indices.map(i => s"__tay$i"): _*)
  }

  /** Lagged copies of `columns` (reference featurize.py:174 `lag`).
    * Feature names: `{c}_lag{k}`.
    */
  def lagFeatures(
      df: DataFrame,
      columns: Seq[String],
      groupCols: Seq[String],
      orderCols: Seq[String],
      lags: Seq[Int]): FeatureResult = {
    val win = seriesWindow(groupCols, orderCols)
    val feats = for (c <- columns; k <- lags) yield s"${c}_lag$k" -> lag(col(c), k).over(win)
    FeatureResult(feats.foldLeft(df) { case (d, (n, e)) => d.withColumn(n, e) }, feats.map(_._1))
  }

  /** Reference convenience (featurize.py:220): when `lags` is omitted,
    * compute every lag 1..windowSize.
    */
  def lagFeatures(
      df: DataFrame,
      columns: Seq[String],
      groupCols: Seq[String],
      orderCols: Seq[String],
      windowSize: Int): FeatureResult =
    lagFeatures(df, columns, groupCols, orderCols, 1 to windowSize)

  /** Trailing rolling mean (reference featurize.py:116 `rollmean`).
    * Feature names: `{c}_rollmean_w{w}`. `minPeriods=None` in the
    * reference means "full window required" (pandas semantics) →
    * `minPeriods` defaults to the window size here.
    *
    * Implemented as an explicit lag-sum rather than `avg().over(rows
    * frame)` so the summation order is fixed left-to-right — the DuckDB
    * oracle (OracleGen.rollmeanExpr) emits the identical association,
    * giving bit-equal doubles. All lag terms share the window spec, so
    * this is still a single Window operator inside whole-stage codegen.
    */
  def rollmean(
      df: DataFrame,
      columns: Seq[String],
      groupCols: Seq[String],
      orderCols: Seq[String],
      windowSizes: Seq[Int],
      minPeriods: Option[Int] = None,
      useKernel: Boolean = true): FeatureResult = {
    val win = seriesWindow(groupCols, orderCols)
    if (useKernel) {
      // one-pass fold aggregates for every (column, window) pair (same
      // newest→oldest fold order as the expression twin → bit-identical;
      // nulls skipped per-fold ≡ the expression's coalesce(x,0) + count)
      val reqs = for (c <- columns; w <- windowSizes)
        yield RollReq(Seq(s"${c}_rollmean_w$w"), c, mode = 0, w = w, minP = minPeriods.getOrElse(w))
      return FeatureResult(applyRollReqs(df, win, reqs, Nil), reqs.flatMap(_.names))
    }
    val feats = for (c <- columns; w <- windowSizes) yield {
      val minP = minPeriods.getOrElse(w)
      def term(i: Int): Column = if (i == 0) col(c) else lag(col(c), i).over(win)
      val total = (0 until w).map(i => coalesce(term(i).cast("double"), lit(0.0))).reduceLeft(_ + _)
      val cnt = (0 until w).map(i => when(term(i).isNotNull, 1).otherwise(0)).reduceLeft(_ + _)
      s"${c}_rollmean_w$w" -> when(cnt >= minP, total / cnt)
    }
    FeatureResult(feats.foldLeft(df) { case (d, (n, e)) => d.withColumn(n, e) }, feats.map(_._1))
  }

  /** Forecast targets h steps ahead (reference featurize.py:230
    * `horizon_targets`). `wide` adds `{c}_target{h}` lead columns;
    * `long` stacks one copy of the frame per horizon with a `horizon`
    * column and `{c}_target` leads (long adds `horizon` to the feature
    * list, wide adds nothing — reference behavior).
    */
  def horizonTargets(
      df: DataFrame,
      columns: Seq[String],
      groupCols: Seq[String],
      orderCols: Seq[String],
      horizons: Seq[Int],
      layout: String = "long"): FeatureResult = {
    val win = seriesWindow(groupCols, orderCols)
    layout match {
      case "wide" =>
        val out = (for (c <- columns; h <- horizons) yield (c, h)).foldLeft(df) {
          case (d, (c, h)) => d.withColumn(s"${c}_target$h", lead(col(c), h).over(win))
        }
        FeatureResult(out, Nil)
      case "long" =>
        // ONE Window computes every horizon's lead, then explode fans
        // the row out into (horizon, targets) copies — one scan + one
        // sort for any horizon count (a union of per-horizon frames
        // would re-scan and re-sort the input per horizon)
        val copies = horizons.map { h =>
          struct(lit(h).as("horizon") +:
            columns.map(c => lead(col(c), h).over(win).as(s"${c}_target")): _*)
        }
        val names = columns.map(c => s"${c}_target") :+ "horizon"
        // the window exprs must be projected before the Generate —
        // explode() can't host them directly
        val exploded = df.withColumn("__copies", array(copies: _*))
          .withColumn("__h", explode(col("__copies"))).drop("__copies")
        val out = names.foldLeft(exploded) {
          (d, n) => d.withColumn(n, col(s"__h.$n"))
        }.drop("__h")
        FeatureResult(out, Seq("horizon"))
      case other => throw new IllegalArgumentException(s"layout must be 'long' or 'wide', got $other")
    }
  }

  /** Rolling min/max/std over trailing windows (beyond the reference's
    * rollmean — the rest of the rolling-stats family a TS engine
    * needs). min/max are native window aggs (order-independent, exact
    * on both engines); std uses the explicit two-sums formula with the
    * same left-fold order as the DuckDB twin
    * (OracleGen.rollstatsExprs): sqrt((Σx² − (Σx)²/n) / (n−1)).
    */
  def rollStats(
      df: DataFrame,
      columns: Seq[String],
      groupCols: Seq[String],
      orderCols: Seq[String],
      windowSizes: Seq[Int],
      minPeriods: Option[Int] = None,
      useKernel: Boolean = true): FeatureResult = {
    val win = seriesWindow(groupCols, orderCols)
    if (useKernel) {
      val reqs = for (c <- columns; w <- windowSizes) yield RollReq(
        Seq(s"${c}_rollmin_w$w", s"${c}_rollmax_w$w", s"${c}_rollstd_w$w"),
        c, mode = 1, w = w, minP = minPeriods.getOrElse(w))
      return FeatureResult(applyRollReqs(df, win, reqs, Nil), reqs.flatMap(_.names))
    }
    val feats = (for (c <- columns; w <- windowSizes) yield {
      val minP = minPeriods.getOrElse(w)
      val frame = win.rowsBetween(-(w - 1), Window.currentRow)
      def term(i: Int): Column = if (i == 0) col(c) else lag(col(c), i).over(win)
      val sum1 = (0 until w).map(i => coalesce(term(i).cast("double"), lit(0.0))).reduceLeft(_ + _)
      val cnt = (0 until w).map(i => when(term(i).isNotNull, 1).otherwise(0)).reduceLeft(_ + _)
      // shifted two-pass variance — see OracleGen.rollstatsExprs (r16:
      // the s2 − s1²/n form went negative on large-magnitude windows)
      val mean = sum1 / cnt
      val s2c = (0 until w)
        .map(i => coalesce((term(i).cast("double") - mean) * (term(i).cast("double") - mean), lit(0.0)))
        .reduceLeft(_ + _)
      val std = sqrt(s2c / (cnt - 1))
      Seq(
        s"${c}_rollmin_w$w" -> when(cnt >= minP, min(col(c)).over(frame)),
        s"${c}_rollmax_w$w" -> when(cnt >= minP, max(col(c)).over(frame)),
        s"${c}_rollstd_w$w" -> when(cnt >= greatest(lit(minP), lit(2)), std))
    }).flatten
    FeatureResult(feats.foldLeft(df) { case (d, (n, e)) => d.withColumn(n, e) }, feats.map(_._1))
  }

  /** Rolling sample skewness + excess kurtosis over trailing full
    * windows (anomaly-shape detection): one fold-kernel pass computing
    * the four power sums; bias-correction coefficients and every
    * arithmetic step mirror OracleGen.momentsExprs exactly — bit-equal,
    * no rounding. Null until the window is full.
    */
  def rollMoments(
      df: DataFrame,
      c: String,
      groupCols: Seq[String],
      orderCols: Seq[String],
      w: Int): FeatureResult = {
    val win = seriesWindow(groupCols, orderCols)
    val names = Seq(s"${c}_skew_w$w", s"${c}_kurt_w$w")
    require(w >= 4, s"rolling moments need w >= 4, got $w")
    // frame-fold aggregate: the moments fold runs inside the window
    // aggregate's eval() — no frame array (see FrameAggKernels)
    val k = graft.plans.FrameAggKernels.multiRollAgg(Seq(col(c)),
      Seq(graft.plans.RollSpecDef(5, 0, w, w, 0, graft.plans.RollFoldKernel.momentCoefs(w))), w)
      .over(win.rowsBetween(-(w - 1), 0))
    FeatureResult(
      df.select(col("*"), element_at(k, 1).as(names(0)), element_at(k, 2).as(names(1))), names)
  }

  /** Rolling autocorrelation at lag `k` over trailing windows of `w`
    * pairs: Pearson r between (x_t-i, x_t-i-k) for i = 0..w-1, via the
    * five-sums closed form with a fixed left fold — mirrored exactly by
    * OracleGen.autocorrExpr. Null until the window has `w` full pairs.
    */
  def autocorr(
      df: DataFrame,
      c: String,
      groupCols: Seq[String],
      orderCols: Seq[String],
      lagK: Int,
      w: Int,
      useKernel: Boolean = true): FeatureResult = {
    val win = seriesWindow(groupCols, orderCols)
    if (useKernel) {
      val name = s"${c}_autocorr_l${lagK}_w$w"
      val k = graft.plans.FrameAggKernels.multiRollAgg(Seq(col(c)),
        Seq(graft.plans.RollSpecDef(4, 0, w, w, lagK, Array.empty)), w + lagK)
        .over(win.rowsBetween(-(w + lagK - 1), 0))
      return FeatureResult(df.select(col("*"), element_at(k, 1).as(name)), Seq(name))
    }
    def x(i: Int): Column = if (i == 0) col(c) else lag(col(c), i).over(win)
    def y(i: Int): Column = lag(col(c), i + lagK).over(win)
    def pair(i: Int): Column = x(i).isNotNull && y(i).isNotNull
    def fold(f: Int => Column): Column = (0 until w).map(f).reduceLeft(_ + _)
    val n = fold(i => when(pair(i), 1).otherwise(0))
    val nd = n.cast("double")
    val sx = fold(i => when(pair(i), x(i).cast("double")).otherwise(lit(0.0)))
    val sy = fold(i => when(pair(i), y(i).cast("double")).otherwise(lit(0.0)))
    // shifted Pearson — see KernelRuntime mode 4 (r16 cancellation fix)
    val mx = sx / nd
    val my = sy / nd
    val sxxc = fold(i => when(pair(i),
      (x(i).cast("double") - mx) * (x(i).cast("double") - mx)).otherwise(lit(0.0)))
    val syyc = fold(i => when(pair(i),
      (y(i).cast("double") - my) * (y(i).cast("double") - my)).otherwise(lit(0.0)))
    val sxyc = fold(i => when(pair(i),
      (x(i).cast("double") - mx) * (y(i).cast("double") - my)).otherwise(lit(0.0)))
    val r = sxyc / sqrt(sxxc * syyc)
    val name = s"${c}_autocorr_l${lagK}_w$w"
    FeatureResult(df.withColumn(name, when(n >= w, r)), Seq(name))
  }

  /** Rolling cross-correlation between TWO columns over trailing `w`
    * rows: Pearson r of (cx_t-i, cy_t-i) pairs, i = 0..w-1, five-sums
    * closed form with a fixed newest→oldest left fold — mirrored
    * exactly by OracleGen.crosscorrExpr. Null until the window holds
    * `w` complete (both-non-null) pairs. Lives only on the
    * multi-column roll aggregate: the op inherently reads two columns
    * from the same frame.
    */
  def crossCorr(
      df: DataFrame,
      cx: String,
      cy: String,
      groupCols: Seq[String],
      orderCols: Seq[String],
      w: Int): FeatureResult = {
    val win = seriesWindow(groupCols, orderCols)
    val name = s"${cx}_${cy}_crosscorr_w$w"
    val reqs = Seq(RollReq(Seq(name), cx, mode = 6, w = w, minP = w, src2 = Some(cy)))
    FeatureResult(applyRollReqs(df, win, reqs, Nil), Seq(name))
  }

  /** Rolling z-score: (x − rolling mean) / rolling std over a trailing
    * `w` window, same explicit-sums formulation as rollStats (OracleGen
    * twin: zscoreExpr). Null until the window is full.
    */
  def zscore(
      df: DataFrame,
      c: String,
      groupCols: Seq[String],
      orderCols: Seq[String],
      w: Int,
      useKernel: Boolean = true): FeatureResult = {
    val win = seriesWindow(groupCols, orderCols)
    if (useKernel) {
      val name = s"${c}_zscore_w$w"
      // the current row is the positional frame's last element, so no
      // separate current-value child is needed
      val k = graft.plans.FrameAggKernels.multiRollAgg(Seq(col(c)),
        Seq(graft.plans.RollSpecDef(2, 0, w, w, 0, Array.empty)), w)
        .over(win.rowsBetween(-(w - 1), 0))
      return FeatureResult(df.select(col("*"), element_at(k, 1).as(name)), Seq(name))
    }
    def term(i: Int): Column = if (i == 0) col(c) else lag(col(c), i).over(win)
    val sum1 = (0 until w).map(i => coalesce(term(i).cast("double"), lit(0.0))).reduceLeft(_ + _)
    val cnt = (0 until w).map(i => when(term(i).isNotNull, 1).otherwise(0)).reduceLeft(_ + _)
    // shifted two-pass std — see rollStats (r16 cancellation fix)
    val mean = sum1 / cnt
    val s2c = (0 until w)
      .map(i => coalesce((term(i).cast("double") - mean) * (term(i).cast("double") - mean), lit(0.0)))
      .reduceLeft(_ + _)
    val std = sqrt(s2c / (cnt - 1))
    val name = s"${c}_zscore_w$w"
    FeatureResult(df.withColumn(name, when(cnt >= w, (col(c).cast("double") - mean) / std)), Seq(name))
  }

  /** Spark-native analogue of df_to_train_test_matrices
    * (featurize.py:52): per-group order-sorted tensors
    * `x: (T,P)  y: (T)` from the NaN-dropped frame, plus the feature
    * vector at the global max order key (`x_T`). Assembly is fully
    * distributed (groupBy + sort_array(collect_list)); only the final
    * `collect` for ML handoff is driver-side — unlike the reference,
    * which pivots the whole frame through a single pandas process.
    */
  def trainTestTensors(
      df: DataFrame,
      featureCols: Seq[String],
      targetCol: String,
      groupCols: Seq[String],
      orderCol: String): DataFrame = {
    val featArr = array(featureCols.map(c => col(c).cast("double")): _*)
    val clean = df.na.drop(featureCols :+ targetCol)
    val train = clean
      .groupBy(groupCols.map(col): _*)
      .agg(sort_array(collect_list(struct(
        col(orderCol).as("t"), featArr.as("x"), col(targetCol).cast("double").as("y")))).as("rows"))
      .select(groupCols.map(col) :+ col("rows.t").as("t") :+ col("rows.x").as("x") :+ col("rows.y").as("y"): _*)
    // global max order key via a broadcast-joined 1-row aggregate — no
    // driver action mid-operator (a .head() here would force an eager
    // job and break lazy composition)
    val maxT = df.agg(max(col(orderCol)).as("__maxT"))
    val xT = df.join(broadcast(maxT), col(orderCol) === col("__maxT"))
      .select(groupCols.map(col) :+ featArr.as("x_T"): _*)
    train.join(xT, groupCols, "full")
  }

  /** Per-group tensors collected to the driver: the explicit ML handoff
    * (reference df_to_train_test_matrices returns numpy (L,T,P) arrays,
    * featurize.py:52-113). Everything upstream stays distributed; this
    * is the ONE deliberate driver materialization, sized L·T·P doubles
    * — call it only when the tensors are meant to feed a local trainer.
    */
  final case class GroupTensors(
      key: Seq[Any],
      t: Array[Any],
      x: Array[Array[Double]],
      y: Array[Double],
      xT: Array[Double])

  def toLocalTensors(tensors: DataFrame, groupCols: Seq[String]): Seq[GroupTensors] = {
    val cols = groupCols.map(col) ++ Seq(col("t"), col("x"), col("y"), col("x_T"))
    tensors.select(cols: _*).collect().toSeq.map { r =>
      val g = groupCols.indices.map(r.get)
      val base = groupCols.length
      def arr[T](i: Int)(f: Any => T)(implicit ct: scala.reflect.ClassTag[T]): Array[T] =
        if (r.isNullAt(i)) Array.empty[T] else r.getSeq[Any](i).map(f).toArray
      GroupTensors(
        g,
        arr[Any](base)(identity),
        arr[Array[Double]](base + 1)(v => v.asInstanceOf[scala.collection.Seq[Double]].toArray),
        arr[Double](base + 2)(_.asInstanceOf[Double]),
        arr[Double](base + 3)(v => if (v == null) Double.NaN else v.asInstanceOf[Double]))
    }
  }

  /** Declarative feature spec, mirroring the reference's
    * `{'fun': ..., 'args': {...}}` dictionaries (featurize.py:7
    * `featurize_data`).
    */
  sealed trait Feature
  final case class Lag(columns: Seq[String], lags: Seq[Int]) extends Feature
  final case class Rollmean(columns: Seq[String], windowSizes: Seq[Int], minPeriods: Option[Int] = None)
      extends Feature
  final case class HorizonTargets(columns: Seq[String], horizons: Seq[Int], layout: String = "long")
      extends Feature
  final case class WindowedTaylorCoefs(
      columns: Seq[String],
      taylorDegree: Int = 1,
      windowSizes: Seq[Int] = Seq(21),
      windowAligns: Seq[String] = Seq("centered"),
      ewSpans: Seq[Option[Int]] = Seq(None),
      fillEdges: Boolean = true) extends Feature
  final case class Domfreq(
      columns: Seq[String],
      windowSizes: Seq[Int] = Seq(21),
      windowAligns: Seq[String] = Seq("centered"),
      nDomfreq: Int = 5,
      fs: Double = 1.0,
      detrend: String = "linear") extends Feature
  /** Arbitrary user feature step — the analogue of the reference
    * accepting any callable in its spec list (featurize.py:43-44 `fun`).
    * Receives (frame, groupCols, orderCols), returns the augmented
    * frame plus its new feature names.
    */
  final case class Custom(f: (DataFrame, Seq[String], Seq[String]) => FeatureResult) extends Feature

  /** Apply a list of feature specs, accumulating feature names —
    * the Spark analogue of `featurize_data` (featurize.py:7).
    */
  def featurizeData(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[String],
      features: Seq[Feature]): FeatureResult = {
    // Consecutive window-expressible features (Lag, Rollmean, wide
    // HorizonTargets, WindowedTaylorCoefs) are FUSED into one select so
    // their window expressions land in a single Window operator — the
    // whole block costs one exchange + one sort + one pass at any
    // feature count (PlanAuditSpec pins it). A feature reading an
    // output of the current block, or a non-fusible step (long
    // horizons, domfreq, Custom), flushes the block first.
    val win = seriesWindow(groupCols, orderCols)
    // (exprs, rollReqs, taylorSpecs, featureNames, inputColumns); exprs
    // may outnumber names (wide targets add columns but no feature
    // names — reference rule). Roll-family AND taylor features across
    // the WHOLE block share one multi-column frame (fusedWindowBlock),
    // so e.g. rollmeans + taylor coefs over several value columns cost
    // ONE window aggregation buffer, not one per (column, spec).
    def fusible(f: Feature): Option[(Seq[(String, Column)], Seq[RollReq], Seq[TaylorBasis.Spec], Seq[String], Seq[String])] =
      f match {
        case Lag(cs, ks) =>
          val es = for (c <- cs; k <- ks) yield s"${c}_lag$k" -> lag(col(c), k).over(win)
          Some((es, Nil, Nil, es.map(_._1), cs))
        case Rollmean(cs, ws, mp) =>
          val reqs = for (c <- cs; w <- ws)
            yield RollReq(Seq(s"${c}_rollmean_w$w"), c, mode = 0, w = w, minP = mp.getOrElse(w))
          Some((Nil, reqs, Nil, reqs.flatMap(_.names), cs))
        case HorizonTargets(cs, hs, "wide") =>
          val es = for (c <- cs; h <- hs) yield s"${c}_target$h" -> lead(col(c), h).over(win)
          Some((es, Nil, Nil, Nil, cs))
        case t: WindowedTaylorCoefs =>
          val specs = for {
            c <- t.columns; w <- t.windowSizes; a <- t.windowAligns; s <- t.ewSpans
          } yield TaylorBasis.Spec(c, t.taylorDegree, w, a, s, t.fillEdges)
          val names = specs.flatMap(sp => (0 to sp.degree).map(sp.featName))
          Some((Nil, Nil, specs, names, t.columns))
        case _ => None
      }
    var cur = FeatureResult(df, Nil)
    val bufExprs = scala.collection.mutable.ArrayBuffer.empty[(String, Column)]
    val bufRoll = scala.collection.mutable.ArrayBuffer.empty[RollReq]
    val bufTay = scala.collection.mutable.ArrayBuffer.empty[TaylorBasis.Spec]
    val bufNames = scala.collection.mutable.ArrayBuffer.empty[String]
    def flush(): Unit = if (bufExprs.nonEmpty || bufRoll.nonEmpty || bufTay.nonEmpty) {
      val d =
        if (bufRoll.nonEmpty || bufTay.nonEmpty)
          fusedWindowBlock(cur.df, win, bufRoll.toSeq, bufTay.toSeq, bufExprs.toSeq)
        else cur.df.select(col("*") +: bufExprs.toSeq.map { case (n, e) => e.as(n) }: _*)
      cur = FeatureResult(d, cur.featureNames ++ bufNames)
      bufExprs.clear(); bufRoll.clear(); bufTay.clear(); bufNames.clear()
    }
    features.foreach { f =>
      fusible(f) match {
        case Some((exprs, reqs, tays, names, inputs)) =>
          val produced = (bufExprs.map(_._1) ++ bufRoll.flatMap(_.names) ++
            bufTay.flatMap(sp => (0 to sp.degree).map(sp.featName))).toSet
          if (inputs.exists(produced)) flush()
          bufExprs ++= exprs; bufRoll ++= reqs; bufTay ++= tays; bufNames ++= names
        case None =>
          flush()
          cur = cur.andThen { d =>
            f match {
              case HorizonTargets(cs, hs, l) => horizonTargets(d, cs, groupCols, orderCols, hs, l)
              case fq: Domfreq =>
                DomFreq.domfreq(d, fq.columns, groupCols, orderCols,
                  fq.windowSizes, fq.windowAligns, fq.nDomfreq, fq.fs, fq.detrend)
              case Custom(fn) => fn(d, groupCols, orderCols)
              case other => throw new IllegalStateException(s"unexpected feature $other")
            }
          }
      }
    }
    flush()
    cur
  }
}
