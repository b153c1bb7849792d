package graft.plans

/** One roll-family feature request for [[MultiRollAgg]]: `mode` selects
  * the fold in [[KernelRuntime.multiRollFlat]], `colIdx` the source
  * column inside each buffered frame row, and `(w, minP, lagK,
  * weights)` carry the per-mode parameters.
  *
  * Every fold replicates its Column-expression twin's ORDER — terms
  * newest→oldest, left-associated — so results are bit-identical to
  * the declarative forms and to the generated DuckDB oracles.
  *
  * Modes / outputs (null elements where gated):
  *  0 rollmean  → [mean]                  gate: cnt >= minP
  *  1 rollstats → [min, max, std]         gates: cnt >= minP / max(minP,2)
  *  2 zscore    → [(x-mean)/std]          gate: cnt >= w, current row present
  *  3 ewmaTrunc → [num/den]               weights(i) = beta^i, no gate
  *  4 autocorr  → [pearson r over pairs]  gate: nPairs >= w; lagK = the lag
  *  5 moments   → [skew, excess kurtosis] gate: cnt >= w; weights = momentCoefs(w)
  *  6 crosscorr → [pearson r of 2 columns] gate: nPairs >= w; lagK = the
  *                SECOND column's index
  */
final case class RollSpecDef(
    mode: Int,
    colIdx: Int,
    w: Int,
    minP: Int,
    lagK: Int,
    weights: Array[Double]) {
  /** Rows of history this spec needs (= its frame depth). */
  def depth: Int = if (mode == 4) w + lagK else w
  def nOut: Int = mode match { case 1 => 3; case 5 => 2; case _ => 1 }
}

object RollFoldKernel {
  /** Bias-correction constants of the rolling moments fold (mode 5)
    * for window length w, shared verbatim with OracleGen.momentsExprs:
    * [skewCoef, kurtA, kurtB].
    */
  def momentCoefs(w: Int): Array[Double] = Array(
    math.sqrt(w.toDouble * (w - 1)) / (w - 2),     // skew
    (w - 1).toDouble / ((w - 2) * (w - 3)),        // kurt outer
    (w + 1).toDouble)                              // kurt inner
}
