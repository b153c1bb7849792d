package graft.ts

/** DuckDB SQL emitters that mirror Featurize's Column expressions
  * term-for-term. The correctness gate hash-compares our parquet output
  * against DuckDB running this SQL, so floating-point expressions must
  * associate identically on both sides: every emitter here is written as
  * the same left-fold over the same term order as its Featurize twin.
  */
object OracleGen {

  /** `PARTITION BY g ORDER BY o` body shared by all window exprs. */
  def over(groupCols: Seq[String], orderCols: Seq[String]): String = {
    val part = if (groupCols.isEmpty) "" else s"partition by ${groupCols.mkString(", ")} "
    s"($part" + s"order by ${orderCols.mkString(", ")})"
  }

  /** Mirrors Featurize.lagFeatures. */
  def lagExpr(c: String, k: Int, ov: String): String = s"lag($c, $k) over $ov as ${c}_lag$k"

  /** Mirrors Featurize.rollmean: same left-to-right coalesce-sum. */
  def rollmeanExpr(c: String, w: Int, minP: Int, ov: String): String = {
    def term(i: Int): String = if (i == 0) c else s"lag($c, $i) over $ov"
    val total = (0 until w).map(i => s"coalesce(cast(${term(i)} as double), 0.0)").reduceLeft((a, b) => s"($a + $b)")
    val cnt = (0 until w).map(i => s"(case when ${term(i)} is not null then 1 else 0 end)").reduceLeft((a, b) => s"($a + $b)")
    s"case when $cnt >= $minP then $total / $cnt end as ${c}_rollmean_w$w"
  }

  /** Mirrors Featurize.horizonTargets wide layout. */
  def leadExpr(c: String, h: Int, ov: String, alias: String): String =
    s"lead($c, $h) over $ov as $alias"

  /** Render a double so DuckDB parses it to the exact same IEEE bits as
    * Spark's `lit(d)`. The exponent is load-bearing: without one DuckDB
    * types a long literal as DECIMAL(17,17), whose cast to DOUBLE is
    * not correctly rounded (the scaled integer exceeds 2^53) — observed
    * 1-ulp drift. With an exponent the literal is parsed as DOUBLE via
    * strtod, which round-trips Java's shortest representation exactly.
    */
  def litD(d: Double): String = {
    val s = d.toString
    if (s.contains('E') || s.contains('e')) s else s + "E0"
  }

  /** Mirrors Featurize.rollStats: native windowed min/max + explicit
    * two-sums std with identical fold order.
    */
  def rollstatsExprs(c: String, w: Int, minP: Int, ov: String): Seq[String] = {
    def term(i: Int): String = if (i == 0) c else s"lag($c, $i) over $ov"
    val frame = ov.dropRight(1) + s" rows between ${w - 1} preceding and current row)"
    val sum1 = (0 until w).map(i => s"coalesce(cast(${term(i)} as double), 0.0)").reduceLeft((a, b) => s"($a + $b)")
    val cnt = (0 until w).map(i => s"(case when ${term(i)} is not null then 1 else 0 end)").reduceLeft((a, b) => s"($a + $b)")
    // SHIFTED two-pass variance (r16): the sum-of-squares form
    // s2 − s1²/n cancels catastrophically at large magnitudes (a
    // 1e12-valued window turned it NEGATIVE — Spark sqrt gave NaN,
    // DuckDB sqrt threw; surfaced by the events edge fixture).
    // Squares of (term − mean) are non-negative by construction and
    // numerically honest; identical fold order on every path
    // (kernel / declarative / this twin) keeps bit-parity.
    val mean = s"($sum1 / $cnt)"
    val s2c = (0 until w)
      .map(i => s"coalesce((cast(${term(i)} as double) - $mean) * (cast(${term(i)} as double) - $mean), 0.0)")
      .reduceLeft((a, b) => s"($a + $b)")
    val std = s"sqrt(($s2c / ($cnt - 1)))"
    Seq(
      s"case when $cnt >= $minP then min($c) over $frame end as ${c}_rollmin_w$w",
      s"case when $cnt >= $minP then max($c) over $frame end as ${c}_rollmax_w$w",
      s"case when $cnt >= greatest($minP, 2) then $std end as ${c}_rollstd_w$w")
  }

  /** Mirrors Featurize.autocorr: five-sums Pearson r, same fold order. */
  def autocorrExpr(c: String, lagK: Int, w: Int, ov: String): String = {
    def x(i: Int): String = if (i == 0) c else s"lag($c, $i) over $ov"
    def y(i: Int): String = s"lag($c, ${i + lagK}) over $ov"
    def pair(i: Int): String = s"${x(i)} is not null and ${y(i)} is not null"
    def fold(f: Int => String): String = (0 until w).map(f).reduceLeft((a, b) => s"($a + $b)")
    val n = fold(i => s"(case when ${pair(i)} then 1 else 0 end)")
    val nd = s"cast($n as double)"
    def s(body: Int => String): String =
      fold(i => s"(case when ${pair(i)} then ${body(i)} else 0.0 end)")
    val sx = s(i => s"cast(${x(i)} as double)")
    val sy = s(i => s"cast(${y(i)} as double)")
    // SHIFTED Pearson — see KernelRuntime mode 4 (r16: the raw-sums
    // n·sxx − sx² denominators cancel at large magnitudes and the two
    // engines' identical formulas produced different garbage)
    val mx = s"($sx / $nd)"
    val my = s"($sy / $nd)"
    val sxxc = s(i => s"(cast(${x(i)} as double) - $mx) * (cast(${x(i)} as double) - $mx)")
    val syyc = s(i => s"(cast(${y(i)} as double) - $my) * (cast(${y(i)} as double) - $my)")
    val sxyc = s(i => s"(cast(${x(i)} as double) - $mx) * (cast(${y(i)} as double) - $my)")
    val r = s"($sxyc / sqrt(($sxxc * $syyc)))"
    s"case when $n >= $w then $r end as ${c}_autocorr_l${lagK}_w$w"
  }

  /** Mirrors Featurize.crossCorr (RollSpecDef mode 6): five-sums
    * Pearson r between two columns over the trailing w rows, same
    * newest→oldest left fold.
    */
  def crosscorrExpr(cx: String, cy: String, w: Int, ov: String): String = {
    def x(i: Int): String = if (i == 0) cx else s"lag($cx, $i) over $ov"
    def y(i: Int): String = if (i == 0) cy else s"lag($cy, $i) over $ov"
    def pair(i: Int): String = s"${x(i)} is not null and ${y(i)} is not null"
    def fold(f: Int => String): String = (0 until w).map(f).reduceLeft((a, b) => s"($a + $b)")
    val n = fold(i => s"(case when ${pair(i)} then 1 else 0 end)")
    val nd = s"cast($n as double)"
    def s(body: Int => String): String =
      fold(i => s"(case when ${pair(i)} then ${body(i)} else 0.0 end)")
    val sx = s(i => s"cast(${x(i)} as double)")
    val sy = s(i => s"cast(${y(i)} as double)")
    // shifted Pearson — see autocorrExpr (r16 cancellation fix)
    val mx = s"($sx / $nd)"
    val my = s"($sy / $nd)"
    val sxxc = s(i => s"(cast(${x(i)} as double) - $mx) * (cast(${x(i)} as double) - $mx)")
    val syyc = s(i => s"(cast(${y(i)} as double) - $my) * (cast(${y(i)} as double) - $my)")
    val sxyc = s(i => s"(cast(${x(i)} as double) - $mx) * (cast(${y(i)} as double) - $my)")
    val r = s"($sxyc / sqrt(($sxxc * $syyc)))"
    s"case when $n >= $w then $r end as ${cx}_${cy}_crosscorr_w$w"
  }

  /** Mirrors Featurize.rollMoments: four power-sum folds (newest →
    * oldest, left-associated, like the kernel's loop), then the exact
    * arithmetic step order of RollSpecDef mode 5, with the SAME
    * bias-correction constants (RollFoldKernel.momentCoefs).
    */
  def momentsExprs(c: String, w: Int, ov: String): Seq[String] = {
    val coefs = graft.plans.RollFoldKernel.momentCoefs(w)
    def term(i: Int): String = if (i == 0) c else s"lag($c, $i) over $ov"
    def fold(p: Int): String = (0 until w)
      .map(i => s"coalesce(${(1 to p).map(_ => s"cast(${term(i)} as double)").mkString(" * ")}, 0.0)")
      .reduceLeft((a, b) => s"($a + $b)")
    val cnt = (0 until w).map(i => s"(case when ${term(i)} is not null then 1 else 0 end)")
      .reduceLeft((a, b) => s"($a + $b)")
    val s1 = fold(1)
    // CENTERED power sums — see KernelRuntime mode 5 (r16: the
    // raw-power-sum expansions drown in cancellation noise at large
    // magnitudes; Σ(v−mean)^p with the kernel's exact multiply
    // grouping — d2·d for p=3, d2·d2 for p=4 — stays bit-parallel)
    val mean = s"($s1 / $w)"
    def d(i: Int): String = s"(cast(${term(i)} as double) - $mean)"
    def d2(i: Int): String = s"(${d(i)} * ${d(i)})"
    def cfold(body: Int => String): String = (0 until w)
      .map(i => s"coalesce(${body(i)}, 0.0)").reduceLeft((a, b) => s"($a + $b)")
    val m2 = s"(${cfold(d2)} / $w)"
    val m3 = s"(${cfold(i => s"(${d2(i)} * ${d(i)})")} / $w)"
    val m4 = s"(${cfold(i => s"(${d2(i)} * ${d2(i)})")} / $w)"
    val skew = s"(${litD(coefs(0))} * ($m3 / ($m2 * sqrt($m2))))"
    val kurt = s"(${litD(coefs(1))} * ((${litD(coefs(2))} * (($m4 / ($m2 * $m2)) - 3.0E0)) + 6.0E0))"
    Seq(
      s"case when $cnt >= $w then $skew end as ${c}_skew_w$w",
      s"case when $cnt >= $w then $kurt end as ${c}_kurt_w$w")
  }

  /** Mirrors Featurize.zscore. */
  def zscoreExpr(c: String, w: Int, ov: String): String = {
    def term(i: Int): String = if (i == 0) c else s"lag($c, $i) over $ov"
    val sum1 = (0 until w).map(i => s"coalesce(cast(${term(i)} as double), 0.0)").reduceLeft((a, b) => s"($a + $b)")
    val cnt = (0 until w).map(i => s"(case when ${term(i)} is not null then 1 else 0 end)").reduceLeft((a, b) => s"($a + $b)")
    // shifted two-pass std — see rollstatsExprs (r16 cancellation fix)
    val mean = s"($sum1 / $cnt)"
    val s2c = (0 until w)
      .map(i => s"coalesce((cast(${term(i)} as double) - $mean) * (cast(${term(i)} as double) - $mean), 0.0)")
      .reduceLeft((a, b) => s"($a + $b)")
    val std = s"sqrt(($s2c / ($cnt - 1)))"
    s"case when $cnt >= $w then ((cast($c as double) - $mean) / $std) end as ${c}_zscore_w$w"
  }

  /** Mirrors TimeOps.interpolateLinear over (orderCol=t, valueCol=v). */
  def interpolateExpr(t: String, v: String, ov: String, alias: String): String = {
    val before = ov.dropRight(1) + " rows between unbounded preceding and current row)"
    val after = ov.dropRight(1) + " rows between current row and unbounded following)"
    val prevV = s"last_value($v ignore nulls) over $before"
    val prevT = s"last_value(case when $v is not null then $t end ignore nulls) over $before"
    val nextV = s"first_value($v ignore nulls) over $after"
    val nextT = s"first_value(case when $v is not null then $t end ignore nulls) over $after"
    val frac = s"(cast($t - $prevT as double) / cast($nextT - $prevT as double))"
    s"""case when $v is not null then cast($v as double)
       | when $prevV is not null and $nextV is not null then ($prevV + (($nextV - $prevV) * $frac))
       | when $prevV is not null then $prevV end as $alias""".stripMargin
  }

  /** Mirrors TimeOps.ewmaTruncated: same term order and association. */
  def ewmaTruncExpr(c: String, alpha: Double, k: Int, ov: String, alias: String): String = {
    val beta = 1.0 - alpha
    def term(i: Int): String = if (i == 0) c else s"lag($c, $i) over $ov"
    val num = (0 until k).map(i => s"(${litD(math.pow(beta, i))} * coalesce(cast(${term(i)} as double), 0.0))")
      .reduceLeft((a, b) => s"($a + $b)")
    val den = (0 until k).map(i => s"(case when ${term(i)} is not null then ${litD(math.pow(beta, i))} else 0.0 end)")
      .reduceLeft((a, b) => s"($a + $b)")
    s"$num / $den as $alias"
  }

  /** Mirrors DomFreq.oneSpec: the padded rolling window is rebuilt in
    * SQL as slices of the per-group ordered value list (values equal to
    * the streaming scan's windows by construction), and the DFT kernel
    * is unrolled with the SAME literal trig/detrend tables
    * (DomFreq.DftTables) the Scala kernel reads, identical fold order —
    * every double is bit-equal except log(), which differs at ulp level
    * between libm and the JVM and is rounded to 4dp on BOTH sides.
    *
    * Output: freq features exact, logpow features round(…,4); NULL for
    * groups the reference cannot process (centered n < w/2, trailing
    * n < w) via the len(xs) guard.
    */
  def domfreqSql(
      c: String,
      w: Int,
      align: String,
      nDomfreq: Int,
      fs: Double,
      detrend: String,
      part: String,
      ordSql: String,
      baseSelect: String,
      keyCols: Seq[String],
      table: String,
      orderBy: String): String = {
    val t = DomFreq.DftTables(w, fs, detrend)
    val hw = w / 2
    val kEff = math.min(nDomfreq, t.nBins)
    def fold(terms: Seq[String]): String = terms.reduceLeft((a, b) => s"($a + $b)")
    val xs = align match {
      case "centered" =>
        s"""list_concat(list_concat(
           |    case when pos < $hw then list_slice(fl, pos + 1, $hw) else [] end,
           |    list_slice(fl, greatest(pos - $hw, 0) + 1, least(pos + ${w - 1 - hw}, cnt - 1) + 1)),
           |    case when pos + ${w - hw} > cnt then list_slice(fl, cnt - $hw + 1, pos + ${w - 2 * hw}) else [] end)""".stripMargin
      case "trailing" =>
        s"""list_concat(
           |    case when pos < ${w - 1} then list_slice(fl, pos + 2, $w) else [] end,
           |    list_slice(fl, greatest(pos - ${w - 1}, 0) + 1, pos + 1))""".stripMargin
      // strictly-causal trailing (the streaming twin's semantics): no
      // head-pad recycling — rows before the first full window get []
      // (→ null features via the len(xs) = w gate), later rows use the
      // same [pos-w+1 .. pos] slice as padded trailing. Feature names
      // still carry the 't' suffix (align.head).
      case "trailing_causal" =>
        s"case when pos >= ${w - 1} then list_slice(fl, pos - ${w - 2}, pos + 1) else [] end"
    }
    val xmean = s"${fold((1 to w).map(i => s"xs[$i]"))} / $w"
    val (baseE, slopeE) = detrend match {
      case "linear" =>
        val sxy = fold((0 until w).map(i => s"(${litD(t.dt(i))} * (xs[${i + 1}] - xmean))"))
        ("xmean", s"case when ${litD(t.sxx)} > 0.0E0 then $sxy / ${litD(t.sxx)} else 0.0E0 end")
      case "constant" => ("xmean", "0.0E0")
      case _          => ("0.0E0", "0.0E0")
    }
    val yCols = (0 until w)
      .map(i => s"(xs[${i + 1}] - ($baseE + (slope * ${litD(t.dt(i))}))) as y$i").mkString(",\n  ")
    val reIm = (0 until t.nBins).flatMap { k =>
      Seq(
        s"${fold((0 until w).map(i => s"(y$i * ${litD(t.cosT(k)(i))})"))} as re$k",
        s"${fold((0 until w).map(i => s"(y$i * ${litD(t.sinT(k)(i))})"))} as im$k")
    }.mkString(",\n  ")
    val pCols = (0 until t.nBins).map { k =>
      val core = s"(((re$k * re$k) + (im$k * im$k)) / ${litD(t.denom)})"
      val isDc = k == 0
      val isNyq = w % 2 == 0 && k == w / 2
      (if (isDc || isNyq) core else s"($core * 2.0E0)") + s" as p$k"
    }.mkString(",\n  ")
    val structs = (0 until t.nBins).map(k => s"{'np': -p$k, 'b': $k, 'p': p$k}").mkString(", ")
    val names = DomFreq.featureNames(c, w, align, nDomfreq)
    val feats = (0 until kEff).flatMap { i =>
      Seq(
        s"(ord[${i + 1}].b * ${litD(fs)}) / $w as ${names(i)}",
        // + 0.0E0 after the round: logpow = ln(p) <= 0, and p in
        // (0.99995, 1) rounds to -0.0 in DuckDB vs +0.0 in Spark —
        // canonicalize (the Spark side appends + lit(0.0) identically)
        s"round(case when ord[${i + 1}].p = 0.0E0 then cast('-infinity' as double) else ln(ord[${i + 1}].p) end, 4) + 0.0E0 as ${names(nDomfreq + i)}")
    }.mkString(",\n ")
    s"""with base as (
       |  select $baseSelect,
       |    cast(row_number() over (partition by $part order by $ordSql) as bigint) - 1 as pos,
       |    count(*) over (partition by $part) as cnt,
       |    list(cast($c as double)) over (partition by $part order by $ordSql
       |      rows between unbounded preceding and unbounded following) as fl
       |  from $table),
       |wnd as (select *, $xs as xs from base),
       |st as (select *, $xmean as xmean from wnd),
       |sl as (select *, $slopeE as slope from st),
       |ys as (select *,
       |  $yCols
       |from sl),
       |bs as (select *,
       |  $reIm
       |from ys),
       |ps as (select *,
       |  $pCols
       |from bs),
       |srt as (select *, case when len(xs) = $w then list_sort([$structs]) end as ord from ps)
       |select ${keyCols.mkString(", ")},
       | $feats
       |from srt
       |order by $orderBy""".stripMargin
  }

  /** Mirrors Taylor.windowedTaylorCoefs: same branches, same
    * left-associated weighted sums (TaylorBasis is the single source of
    * the weights). Returns one `CASE … END as featName` per degree.
    */
  def taylorExprs(spec: TaylorBasis.Spec, ov: String, groupCols: Seq[String]): Seq[String] = {
    import TaylorBasis._
    val c = spec.column
    val cntOver =
      if (groupCols.isEmpty) "(count(*) over ())" else s"(count(*) over (partition by ${groupCols.mkString(", ")}))"
    val pos = s"(row_number() over $ov - 1)"
    val rpos = s"($cntOver - 1 - $pos)"
    def term(l: Int): String =
      if (l < 0) s"lag($c, ${-l}) over $ov" else if (l > 0) s"lead($c, $l) over $ov" else c
    def branchSum(br: Branch, d: Int): String =
      if (br.lags.isEmpty || br.m(d).forall(_ == 0.0)) "0.0"
      else br.lags.indices.map(j => s"(${litD(br.m(d)(j))} * ${term(br.lags(j))})")
        .reduceLeft((a, b) => s"($a + $b)")
    val h = (spec.windowSize - 1) / 2
    def cond(cd: Cond): String = cd match {
      case Overlap   => s"$pos < $h and $rpos < $h"
      case NullAt(i) => s"$rpos = $i"
      case RposEq(i) => s"$rpos = $i"
      case PosEq(i)  => s"$pos = $i"
      case Interior =>
        if (spec.align == "trailing") s"$pos >= ${spec.windowSize}"
        else s"$pos >= $h and $rpos >= ${h + 1}"
    }
    val brs = branches(spec)
    (0 to spec.degree).map { d =>
      val whens = brs.map { br =>
        val v =
          if (br.nullRows(d)) "cast(null as double)"
          else branchSum(br, d)
        s"when ${cond(br.cond)} then $v"
      }.mkString(" ")
      s"case $whens end as ${spec.featName(d)}"
    }
  }
}
