package graft.ts

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import TaylorBasis._

/** Rolling windowed Taylor-polynomial coefficients (reference
  * featurize.py:428 windowed_taylor_coefs). See TaylorBasis for the
  * closed-form design: every coefficient is a constant-weighted sum of
  * lag/lead columns selected by a CASE on the row's position in its
  * group — no UDF, no per-window solve, fully codegen'd, one shared
  * window sort for the whole pipeline.
  */
object Taylor {

  private def term(c: String, l: Int, win: org.apache.spark.sql.expressions.WindowSpec): Column =
    if (l < 0) lag(col(c), -l).over(win)
    else if (l > 0) lead(col(c), l).over(win)
    else col(c)

  /** Σ_j m(d)(j)·value(t+lags(j)), left-associated to mirror
    * OracleGen.taylorExprs exactly. Empty or all-zero weight rows emit
    * literal 0.0 (a zero-weighted sum would produce ±0.0 or NULL
    * instead of the reference's exact positive 0.0).
    */
  private def branchSum(br: Branch, d: Int, c: String, win: org.apache.spark.sql.expressions.WindowSpec): Column =
    if (br.lags.isEmpty || br.m(d).forall(_ == 0.0)) lit(0.0)
    else br.lags.indices.map(j => lit(br.m(d)(j)) * term(c, br.lags(j), win)).reduceLeft(_ + _)

  /** `useKernel = true` (default) evaluates each (column, spec) with
    * ONE sliding collect_list frame + the one-pass TaylorKernel
    * expression — value-identical to the Column-expression form (same
    * TaylorBasis tables, same fold order; TaylorKernelSpec pins
    * bit-equality) but ~5× faster: WindowExec runs one frame processor
    * instead of ~w lag/lead processors and the projection is a
    * compiled loop instead of a thousand-node CASE tree.
    * `useKernel = false` keeps the pure-Column form (readable spec,
    * null-tolerant per-term).
    */
  def windowedTaylorCoefs(
      df: DataFrame,
      columns: Seq[String],
      groupCols: Seq[String],
      orderCols: Seq[String],
      taylorDegree: Int,
      windowSizes: Seq[Int],
      windowAligns: Seq[String],
      ewSpans: Seq[Option[Int]],
      fillEdges: Boolean,
      useKernel: Boolean = true): FeatureResult = {
    val win = Featurize.seriesWindow(groupCols, orderCols)
    if (useKernel)
      return kernelPath(df, columns, groupCols, orderCols, taylorDegree,
        windowSizes, windowAligns, ewSpans, fillEdges, win)
    // partition count expressed on the SAME ordered spec with an
    // unbounded frame: identical value, but it shares the single Window
    // operator with row_number and the lag/lead terms instead of
    // planning a second partition-only Window (+ its own sort)
    val cntWin = win.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // materialize position/count ONCE: inlining them into every
    // coefficient's CASE makes Catalyst plan a fresh
    // Window(count)+Window(row_number) pair per output column
    val pos = col("__pos")
    val rpos = col("__cnt") - 1 - pos

    def condCol(spec: Spec, cond: Cond): Column = {
      val h = (spec.windowSize - 1) / 2
      cond match {
        case Overlap   => pos < h && rpos < h
        case NullAt(i) => rpos === i
        case RposEq(i) => rpos === i
        case PosEq(i)  => pos === i
        case Interior =>
          if (spec.align == "trailing") pos >= spec.windowSize
          else pos >= h && rpos >= h + 1
      }
    }

    val specs = for {
      c <- columns; w <- windowSizes; a <- windowAligns; s <- ewSpans
    } yield Spec(c, taylorDegree, w, a, s, fillEdges)

    val feats = specs.flatMap { spec =>
      val brs = branches(spec)
      (0 to taylorDegree).map { d =>
        val chain = brs.map { br =>
          val v =
            if (br.nullRows(d)) lit(null).cast("double")
            else branchSum(br, d, spec.column, win)
          (condCol(spec, br.cond), v)
        }
        val expr = chain.tail.foldLeft(when(chain.head._1, chain.head._2)) {
          case (acc, (cnd, v)) => acc.when(cnd, v)
        }
        spec.featName(d) -> expr
      }
    }
    // __cnt (a second, partition-only Window op) only exists when some
    // spec is centered — trailing-only pipelines stay single-Window
    val needsCnt = specs.exists(_.needsCount)
    val withPos0 = df.withColumn("__pos", row_number().over(win).cast("long") - 1)
    val withPos = if (needsCnt) withPos0.withColumn("__cnt", count(lit(1)).over(cntWin)) else withPos0
    val out = feats.foldLeft(withPos) { case (d, (n, e)) => d.withColumn(n, e) }
      .drop("__pos", "__cnt")
    FeatureResult(out, feats.map(_._1))
  }

  /** The kernel feature columns as (name, expr) pairs — used by the
    * kernel path and by Featurize.featurizeData's fused feature block.
    */
  def kernelExprs(
      columns: Seq[String],
      taylorDegree: Int,
      windowSizes: Seq[Int],
      windowAligns: Seq[String],
      ewSpans: Seq[Option[Int]],
      fillEdges: Boolean,
      win: org.apache.spark.sql.expressions.WindowSpec): Seq[(String, Column)] = {
    val cntWin = win.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val specs = for {
      c <- columns; w <- windowSizes; a <- windowAligns; s <- ewSpans
    } yield Spec(c, taylorDegree, w, a, s, fillEdges)
    val posCol = row_number().over(win).cast("long") - 1
    val cntCol = if (specs.exists(_.needsCount)) count(lit(1)).over(cntWin) else lit(-1L)
    // trailing specs fold inside a frame aggregate (no frame array, no
    // pos/cnt window functions — KernelRuntime.taylorFlat's
    // synthesized-position contract over a depth-(w+1) frame). Centered
    // specs keep the collector + kernel two-step: their branch select
    // reads pos/rpos, which a frame aggregate cannot see.
    def kernelCol(spec: Spec): Column = {
      val wsize = spec.windowSize
      if (spec.align == "trailing") {
        val table = graft.plans.TaylorKernel.evaluatorFromSpec(spec).table
          .copy(frameLo = wsize, nanNull = true)
        return graft.plans.FrameAggKernels
          .taylorTrailingAgg(col(spec.column), table)
          .over(win.rowsBetween(-wsize, 0))
      }
      val h = (wsize - 1) / 2
      // primitive frame collector (r21): collect_list semantics (nulls
      // dropped, frame order) with zero boxing — see FrameAggKernels
      val xs = graft.plans.FrameAggKernels
        .collectDoubles(col(spec.column).cast("double"), wsize)
        .over(win.rowsBetween(-h, wsize - 1 - h))
      graft.plans.TaylorKernel.fromSpec(spec, xs, posCol, cntCol)
    }
    specs.flatMap { spec =>
      (0 to taylorDegree).map(deg => spec.featName(deg) -> element_at(kernelCol(spec), deg + 1))
    }
  }

  /** A multi-spec taylor family through Featurize.fusedWindowBlock:
    * trailing specs fold in their own frame aggregates; a family with
    * centered specs reads ONE shared frame — depth = the family's max
    * past need, reach = its max future need — via
    * TaylorKernel.fromSpecShared, one window aggregation buffer for the
    * whole family instead of one collect frame per spec.
    */
  def sharedKernelBlock(
      df: DataFrame,
      specs: Seq[Spec],
      win: org.apache.spark.sql.expressions.WindowSpec): FeatureResult = {
    val names = specs.flatMap(sp => (0 to sp.degree).map(sp.featName))
    FeatureResult(Featurize.fusedWindowBlock(df, win, Nil, specs, Nil), names)
  }

  private def kernelPath(
      df: DataFrame,
      columns: Seq[String],
      groupCols: Seq[String],
      orderCols: Seq[String],
      taylorDegree: Int,
      windowSizes: Seq[Int],
      windowAligns: Seq[String],
      ewSpans: Seq[Option[Int]],
      fillEdges: Boolean,
      win: org.apache.spark.sql.expressions.WindowSpec): FeatureResult = {
    val specs = for {
      c <- columns; w <- windowSizes; a <- windowAligns; s <- ewSpans
    } yield Spec(c, taylorDegree, w, a, s, fillEdges)
    if (specs.size > 1) return sharedKernelBlock(df, specs, win)
    val feats = kernelExprs(columns, taylorDegree, windowSizes, windowAligns, ewSpans, fillEdges, win)
    FeatureResult(
      df.select(col("*") +: feats.map { case (n, e) => e.as(n) }: _*), feats.map(_._1))
  }

}
