package graft.plans

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Runtime bodies of the custom kernels, hoisted out of the Expression
  * and aggregate classes so that generated (whole-stage codegen) Java
  * can call them as plain static methods: a top-level Scala object
  * compiles to a class with static forwarders, so janino sees
  * `graft.plans.KernelRuntime.taylor(...)`.
  *
  * This is what replaces CodegenFallback for the hot scalar kernels:
  * the child expression is evaluated by generated code (no interpreted
  * tree walk, no boxing of the input), and the per-row work is ONE
  * JIT-compiled static call. These are the ONLY copies of the kernel
  * loops — the Expressions' `nullSafeEval` and their `doGenCode` output
  * both call here, so interpreted and codegen paths are bit-identical
  * by construction (CodegenWiringSpec pins it). The `*Flat` bodies are
  * the folds of the frame-fold window aggregates in
  * [[FrameAggKernels]], over the primitive buffer the aggregate filled
  * in frame order (FrameKernelAggSpec, StlSpec and RollTheilSenSpec pin
  * them against the declarative Column forms).
  */
object KernelRuntime {
  private val D = java.lang.Double.valueOf(_: Double)

  /** The roll-family folds of [[MultiRollAgg]] (modes: see
    * [[RollSpecDef]]) over one interleaved primitive double[] the
    * aggregate buffered in frame order — no frame array is ever
    * materialized. Row i's column c sits at xs(i·arity+c); null source
    * values were ENCODED as NaN at update(), so rows keep their
    * POSITION and every fold skips NaN terms — the lag/lead expression
    * forms' and the DuckDB oracles' semantics (a genuine NaN value is
    * missing too: pandas semantics). Each spec folds over only its own
    * trailing `min(depth, n)` rows ending at the current row, so specs
    * of different depths share one buffer bit-exactly. `futureLen` =
    * number of FUTURE rows present in the buffer (0 for the trailing
    * frames every caller uses); the current row sits at index
    * nRows − 1 − futureLen.
    */
  def multiRollFlat(xs: Array[Double], nRows: Int, arity: Int, futureLen: Int,
      specs: Array[RollSpecDef]): ArrayData = {
    val end = nRows - 1 - futureLen // index of the current row inside the frame
    var totalOut = 0
    var t = 0
    while (t < specs.length) { totalOut += specs(t).nOut; t += 1 }
    val out = new Array[Any](totalOut)
    var o = 0
    var s = 0
    while (s < specs.length) {
      val sp = specs(s)
      val c = sp.colIdx
      val avail = math.max(0, math.min(sp.depth, end + 1))
      val start = end + 1 - avail
      @inline def nul(i: Int): Boolean = java.lang.Double.isNaN(xs(i * arity + c))
      @inline def at(i: Int): Double = xs(i * arity + c)
      sp.mode match {
        case 0 => // rollmean: newest→oldest sum over non-nulls, gate cnt >= minP
          var acc = 0.0; var cnt = 0; var i = end
          while (i >= start) { if (!nul(i)) { acc += at(i); cnt += 1 }; i -= 1 }
          out(o) = if (cnt >= sp.minP) D(acc / cnt) else null
          o += 1
        case 1 => // rollstats: min/max/std over non-nulls
          var s1 = 0.0; var mn = Double.MaxValue; var mx = Double.MinValue
          var cnt = 0; var i = end
          while (i >= start) {
            if (!nul(i)) {
              val v = at(i)
              s1 += v
              if (v < mn) mn = v
              if (v > mx) mx = v
              cnt += 1
            }
            i -= 1
          }
          // SHIFTED two-pass variance (r16): s2 − s1²/n cancels
          // catastrophically at large magnitudes (negative operand →
          // NaN here, a hard error in the DuckDB twin); (v − mean)²
          // is non-negative by construction. Same newest-first fold
          // order as the declarative form and the oracle.
          val mean1 = s1 / cnt
          var s2c = 0.0
          i = end
          while (i >= start) {
            if (!nul(i)) { val d = at(i) - mean1; s2c += d * d }
            i -= 1
          }
          val std = math.sqrt(s2c / (cnt - 1))
          out(o) = if (cnt >= sp.minP) D(mn) else null
          out(o + 1) = if (cnt >= sp.minP) D(mx) else null
          out(o + 2) = if (cnt >= math.max(sp.minP, 2)) D(std) else null
          o += 3
        case 2 => // zscore of the current row against its trailing window
          // shifted two-pass std — see case 1 (r16 cancellation fix)
          var s1 = 0.0; var cnt = 0; var i = end
          while (i >= start) { if (!nul(i)) { s1 += at(i); cnt += 1 }; i -= 1 }
          out(o) =
            if (cnt >= sp.w && end >= 0 && !nul(end)) {
              val x = at(end)
              val mean = s1 / cnt
              var s2c = 0.0
              i = end
              while (i >= start) {
                if (!nul(i)) { val d = at(i) - mean; s2c += d * d }
                i -= 1
              }
              val std = math.sqrt(s2c / (cnt - 1))
              D((x - mean) / std)
            } else null
          o += 1
        case 3 => // truncated EWMA, weights(i) = beta^i newest-first
          var num = 0.0; var den = 0.0; var i = 0
          val lim = math.min(sp.w, avail)
          while (i < lim) {
            if (!nul(end - i)) {
              val wi = sp.weights(i)
              num += wi * at(end - i); den += wi
            }
            i += 1
          }
          out(o) = D(num / den)
          o += 1
        case 4 => // autocorr over trailing pairs, gate nPairs >= w
          // SHIFTED Pearson (r16): the five-raw-sums form's
          // n·sxx − sx² denominators cancel catastrophically at large
          // magnitudes (the two engines' identical formulas produced
          // DIFFERENT garbage signs at 1e12 — events edge fixture);
          // centered sums are exact where raw sums are noise
          var np = 0; var sx = 0.0; var sy = 0.0
          var i = 0
          while (i < sp.w) {
            val xi = end - i
            val yi = xi - sp.lagK
            if (yi >= start && !nul(xi) && !nul(yi)) { np += 1; sx += at(xi); sy += at(yi) }
            i += 1
          }
          val nd = np.toDouble
          val mx = sx / nd
          val my = sy / nd
          var sxxc = 0.0; var syyc = 0.0; var sxyc = 0.0
          i = 0
          while (i < sp.w) {
            val xi = end - i
            val yi = xi - sp.lagK
            if (yi >= start && !nul(xi) && !nul(yi)) {
              val dx = at(xi) - mx
              val dy = at(yi) - my
              sxxc += dx * dx; syyc += dy * dy; sxyc += dx * dy
            }
            i += 1
          }
          val r = sxyc / math.sqrt(sxxc * syyc)
          out(o) = if (np >= sp.w) D(r) else null
          o += 1
        case 6 => // rolling cross-correlation col[colIdx] vs col[lagK]
          val c2 = sp.lagK
          @inline def nul2(i: Int): Boolean = java.lang.Double.isNaN(xs(i * arity + c2))
          @inline def at2(i: Int): Double = xs(i * arity + c2)
          // shifted Pearson — see case 4 (r16 cancellation fix)
          var np = 0; var sx = 0.0; var sy = 0.0
          var i = 0
          while (i < sp.w) {
            val xi = end - i
            if (xi >= start && !nul(xi) && !nul2(xi)) { np += 1; sx += at(xi); sy += at2(xi) }
            i += 1
          }
          val nd = np.toDouble
          val mx = sx / nd
          val my = sy / nd
          var sxxc = 0.0; var syyc = 0.0; var sxyc = 0.0
          i = 0
          while (i < sp.w) {
            val xi = end - i
            if (xi >= start && !nul(xi) && !nul2(xi)) {
              val dx = at(xi) - mx
              val dy = at2(xi) - my
              sxxc += dx * dx; syyc += dy * dy; sxyc += dx * dy
            }
            i += 1
          }
          val r = sxyc / math.sqrt(sxxc * syyc)
          out(o) = if (np >= sp.w) D(r) else null
          o += 1
        case _ => // mode 5: skew + kurtosis, weights = momentCoefs(w)
          // CENTERED power sums (r16): the raw-power-sum expansions of
          // m2/m3/m4 cancel catastrophically at large magnitudes (1e12
          // values: s4 ~ 1e48 — the centered moments drown in noise);
          // Σ(v−mean)^p is exact where the expansion is garbage
          var s1 = 0.0; var cnt = 0; var i = end
          while (i >= start) { if (!nul(i)) { s1 += at(i); cnt += 1 }; i -= 1 }
          if (cnt >= sp.w) {
            val mean = s1 / cnt
            var m2s = 0.0; var m3s = 0.0; var m4s = 0.0
            i = end
            while (i >= start) {
              if (!nul(i)) {
                val d = at(i) - mean
                val d2 = d * d
                m2s += d2; m3s += d2 * d; m4s += d2 * d2
              }
              i -= 1
            }
            val m2 = m2s / cnt
            val m3 = m3s / cnt
            val m4 = m4s / cnt
            out(o) = D(sp.weights(0) * (m3 / (m2 * math.sqrt(m2))))
            out(o + 1) = D(sp.weights(1) * ((sp.weights(2) * ((m4 / (m2 * m2)) - 3.0)) + 6.0))
          } else { out(o) = null; out(o + 1) = null }
          o += 2
      }
      s += 1
    }
    new GenericArrayData(out)
  }

  /** Flat-buffer twin of [[taylor]] for [[TaylorTrailingAgg]] (r22),
    * TRAILING specs only. The aggregate's frame is one row DEEPER than
    * the spec's own window (depth w+1, i.e. frameLo = w), so the
    * synthesized position pos* = nRows − 1 = min(pos, w) is exact for
    * every PosEq(i ≤ w−1) branch and reaches the Interior branch
    * (pos ≥ w) iff the true position does — trailing branch tables
    * contain ONLY PosEq and Interior conditions and never read rpos,
    * which is why no cnt column is needed. Values were NaN-ENCODED at
    * update() (rows keep their position; a branch term touching a
    * missing value nulls that coefficient — the lag/lead CASE form's
    * and the oracle's exact semantics). Same fold arithmetic as
    * [[taylor]], element for element.
    */
  def taylorFlat(xs: Array[Double], nRows: Int, t: TaylorTable): ArrayData = {
    val pos = nRows - 1 // = min(true pos, frameLo) under the depth-(w+1) contract
    var b = 0
    var sel = -1
    while (sel < 0 && b < t.condTypes.length) {
      val hit = t.condTypes(b) match {
        case 3 => pos == t.condIs(b)
        case 4 => pos >= t.w
        case _ => false // Overlap/NullAt/RposEq never occur in trailing tables
      }
      if (hit) sel = b else b += 1
    }
    if (sel < 0) return null
    val curIdx = pos // = min(pos*, frameLo) — the buffer's last row
    val h = t.h
    val out = new Array[Any](t.degree + 1)
    val m = t.ms(sel)
    val from = t.froms(sel)
    var d = 0
    while (d <= t.degree) {
      if (t.nullRows(sel)(d)) out(d) = null
      else if (t.zeroRows(sel)(d) || m(d).length == 0) out(d) = D(0.0)
      else {
        val row = m(d)
        var s = 0.0
        var ok = true
        var j = 0
        while (ok && j < row.length) {
          val idx = curIdx + (from + j) - h
          if (idx < 0 || idx >= nRows || java.lang.Double.isNaN(xs(idx))) ok = false
          else {
            if (j == 0) s = row(0) * xs(idx)
            else s += row(j) * xs(idx)
            j += 1
          }
        }
        out(d) = if (ok) D(s) else null
      }
      d += 1
    }
    new GenericArrayData(out)
  }

  /** See [[TaylorKernel]] for the branch/indexing contract; `t` carries
    * the precomputed TaylorBasis tables. Returns null (no array) for
    * rows outside every branch (fillEdges=false edges).
    */
  def taylor(xs: ArrayData, pos: Long, cnt: Long, t: TaylorTable): ArrayData = {
    val rpos = cnt - 1L - pos
    val h = t.h
    var b = 0
    var sel = -1
    while (sel < 0 && b < t.condTypes.length) {
      val hit = t.condTypes(b) match {
        case 0 => pos < h && rpos < h
        case 1 => rpos == t.condIs(b)
        case 2 => rpos == t.condIs(b)
        case 3 => pos == t.condIs(b)
        case _ => if (t.trailing) pos >= t.w else pos >= h && rpos >= h + 1
      }
      if (hit) sel = b else b += 1
    }
    if (sel < 0) return null
    // index of the current row inside the frame: with a dedicated frame
    // (frameLo < 0) the frame starts max(h - pos, 0) short of full, so
    // current = min(pos, h); a shared frame's past depth is frameLo.
    val fl = if (t.frameLo < 0) h.toLong else t.frameLo.toLong
    val curIdx = math.min(pos, fl).toInt
    val c = t.colIdx
    val n = xs.numElements()
    @inline def nulAt(i: Int): Boolean =
      if (c >= 0) xs.getArray(i).isNullAt(c)
      else if (t.nanNull) java.lang.Double.isNaN(xs.getDouble(i))
      // NaN-as-missing in every frame encoding (pandas semantics)
      else xs.isNullAt(i) || java.lang.Double.isNaN(xs.getDouble(i))
    @inline def valAt(i: Int): Double =
      if (c < 0) xs.getDouble(i) else xs.getArray(i).getDouble(c)
    val out = new Array[Any](t.degree + 1)
    val m = t.ms(sel)
    val from = t.froms(sel)
    var d = 0
    while (d <= t.degree) {
      if (t.nullRows(sel)(d)) out(d) = null
      else if (t.zeroRows(sel)(d) || m(d).length == 0) out(d) = D(0.0)
      else {
        val row = m(d)
        var s = 0.0
        var ok = true
        var j = 0
        while (ok && j < row.length) {
          val idx = curIdx + (from + j) - h
          if (idx < 0 || idx >= n || nulAt(idx)) ok = false
          else {
            if (j == 0) s = row(0) * valAt(idx)
            else s += row(j) * valAt(idx)
            j += 1
          }
        }
        out(d) = if (ok) D(s) else null
      }
      d += 1
    }
    new GenericArrayData(out)
  }

  /** See [[NormalizeText]]: ONE pass over the UTF8String's bytes for
    * ANY input — no String round-trip, no regex (r19: the old version
    * fell back to per-doc Pattern.replaceAll on the first non-ASCII
    * byte, which serialized ~6 min of single-task normalize on the
    * mixed-script real corpus under the gate).
    *
    * Why a byte loop is exact off the ASCII path too: the declarative
    * pipeline is lower → map non-[a-z0-9 ] to space → collapse → trim.
    * After lowercasing, every non-ASCII code point maps to a space
    * (which then collapses), UNLESS its JVM lowercase lands in ASCII
    * [a-z0-9]. Exactly two code points in the JVM's casing tables do:
    * U+212A KELVIN SIGN → 'k' (bytes E2 84 AA) and U+0130 İ → "i" +
    * U+0307 combining dot (bytes C4 B0; the combining dot is itself a
    * separator). NormalizeTokensSpec scans the full code-point range
    * to pin that claim against the running JVM, and fuzzes byte-path
    * equality vs the exact-JVM-call NormalizeImpl reference. Locale
    * context rules (Greek final sigma) pick between two non-ASCII
    * lowercase forms, so both collapse to the same separator.
    *
    * Malformed bytes (crawler accidents): String decode turns each
    * malformed sequence into U+FFFD(s) → separators. The scanner only
    * ever consumes continuation bytes (0x80-0xBF) after a lead byte —
    * never an ASCII byte — so kept characters can't be swallowed, and
    * separator multiplicity is irrelevant under run-collapse.
    */
  def normalizeText(s: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String = {
    val b = s.getBytes
    val n = b.length
    // Output never exceeds input: ASCII 1→1; E2 84 AA (3)→'k' (1);
    // C4 B0 (2)→"i " (2); any other sequence (≥1)→ at most one ' '.
    val out = new Array[Byte](n)
    var o = 0
    var lastSpace = true // suppresses leading spaces + collapses runs
    var i = 0
    while (i < n) {
      val c0: Int = b(i) & 0xff
      if (c0 < 0x80) {
        var c = c0
        if (c >= 'A' && c <= 'Z') c += 32
        val keep = (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
        if (keep) { out(o) = c.toByte; o += 1; lastSpace = false }
        else if (!lastSpace) { out(o) = ' '; o += 1; lastSpace = true }
        i += 1
      } else if (c0 == 0xc4 && i + 1 < n && b(i + 1) == 0xb0.toByte) {
        // U+0130 İ → 'i' + combining dot; the dot is a separator
        out(o) = 'i'; o += 1
        out(o) = ' '; o += 1; lastSpace = true
        i += 2
      } else if (c0 == 0xe2 && i + 2 < n && b(i + 1) == 0x84.toByte &&
                 b(i + 2) == 0xaa.toByte) {
        // U+212A KELVIN SIGN → 'k'
        out(o) = 'k'; o += 1; lastSpace = false
        i += 3
      } else {
        // any other non-ASCII code point → separator; skip the lead
        // byte plus up to (expected-length - 1) CONTINUATION bytes
        if (!lastSpace) { out(o) = ' '; o += 1; lastSpace = true }
        var rem =
          if (c0 >= 0xf0 && c0 <= 0xf7) 3
          else if (c0 >= 0xe0) 2
          else if (c0 >= 0xc0) 1
          else 0 // bare continuation or invalid lead: itself only
        i += 1
        while (rem > 0 && i < n && (b(i) & 0xc0) == 0x80) { i += 1; rem -= 1 }
      }
    }
    // drop a single trailing space (runs were already collapsed, and
    // a kept 'i' from U+0130 re-enters the normal flow above)
    if (o > 0 && out(o - 1) == ' ') o -= 1
    org.apache.spark.unsafe.types.UTF8String.fromBytes(out, 0, o)
  }

  /** See [[TokenizeText]]: split(normalize(s), " ") with Spark's
    * limit -1 semantics (empty string → one empty token). The
    * normalized bytes are single-space separated by construction, so
    * tokenization is one more byte scan.
    */
  def tokenizeText(s: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val norm = normalizeText(s)
    val b = norm.getBytes
    val n = b.length
    if (n == 0)
      return new GenericArrayData(Array[Any](org.apache.spark.unsafe.types.UTF8String.EMPTY_UTF8))
    var cnt = 1
    var i = 0
    while (i < n) { if (b(i) == ' ') cnt += 1; i += 1 }
    val out = new Array[Any](cnt)
    var start = 0
    var k = 0
    i = 0
    while (i <= n) {
      if (i == n || b(i) == ' ') {
        out(k) = org.apache.spark.unsafe.types.UTF8String.fromBytes(b, start, i - start)
        k += 1
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** See [[MinhashPerms]]: all k permutation minima in one pass; null
    * (no array) for an empty input, matching array_min-of-empty.
    */
  def minhashPerms(arr: ArrayData, as: Array[Long], bs: Array[Long], mod: Long): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return null
    val k = as.length
    val out = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var j = 0
      while (j < k) {
        val v = (as(j) * h + bs(j)) % mod
        if (v < out(j)) out(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** See [[HashFeatureVec]]: one-pass signed hashing-trick bucket sums
    * over a token-hash array — out(b) = Σ_{h: pmod(h,dim)=b}
    * (1 − 2·((h≫16)&1)). Value-identical to the per-bucket
    * filter+aggregate declarative form (parity spec-pinned); one
    * O(tokens+dim) pass replaces dim filtered traversals.
    */
  def hashFeatureVec(arr: ArrayData, dim: Int): ArrayData = {
    val acc = new Array[Long](dim)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var b = (h % dim).toInt
      if (b < 0) b += dim
      acc(b) += 1L - 2L * ((h >> 16) & 1L)
      i += 1
    }
    new GenericArrayData(acc)
  }

  /** See [[SimHash32]]. */
  def simhash32(arr: ArrayData): Long = {
    val n = arr.numElements()
    val counts = new Array[Int](32)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var j = 0
      while (j < 32) {
        counts(j) += ((h >> j) & 1L).toInt
        j += 1
      }
      i += 1
    }
    var sim = 0L
    var j = 0
    while (j < 32) {
      if (2 * counts(j) >= n) sim |= (1L << j)
      j += 1
    }
    sim
  }

  /** See [[CosineSim]]: boxed null when the lengths differ (the
    * declarative zip_with null-pads the shorter side → NULL dot).
    */
  def cosineSim(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  /** See [[LshBucketKernel]]; the NULL-vector → 0 case is handled by
    * the caller (eval / generated glue), this body sees non-null input.
    */
  def lshBucket(arr: ArrayData, planes: Array[Array[Double]]): Long = {
    val dim = if (planes.isEmpty) 0 else planes(0).length
    if (arr.numElements() < dim) return 0L
    var i = 0
    while (i < dim) {
      if (arr.isNullAt(i)) return 0L
      i += 1
    }
    var b = 0L
    var j = 0
    while (j < planes.length) {
      val p = planes(j)
      var s = 0.0
      i = 0
      while (i < dim) {
        s += p(i) * arr.getFloat(i).toDouble
        i += 1
      }
      if (s >= 0.0) b |= (1L << j)
      j += 1
    }
    b
  }

  /** See [[NearestCentroidKernel]]; `cnorms` are the precomputed
    * centroid L2 norms (cosine mode). Boxed null when no centroid
    * matches the vector's length.
    */
  def nearestCentroid(
      arr: ArrayData,
      centroids: Array[Array[Double]],
      cnorms: Array[Double],
      l2: Boolean): java.lang.Integer = {
    val n = arr.numElements()
    if (l2) {
      var best = Double.PositiveInfinity
      var bestIdx = -1
      var j = 0
      while (j < centroids.length) {
        val c = centroids(j)
        if (c.length == n) {
          var d = 0.0
          var i = 0
          while (i < n) { val t = arr.getFloat(i).toDouble - c(i); d += t * t; i += 1 }
          if (d < best) { best = d; bestIdx = j }
        }
        j += 1
      }
      return if (bestIdx < 0) null else java.lang.Integer.valueOf(bestIdx)
    }
    var na = 0.0
    var i = 0
    while (i < n) { val x = arr.getFloat(i).toDouble; na += x * x; i += 1 }
    val sna = math.sqrt(na)
    var best = Double.NegativeInfinity
    var bestIdx = -1
    var j = 0
    while (j < centroids.length) {
      val c = centroids(j)
      if (c.length == n) {
        var dot = 0.0
        i = 0
        while (i < n) { dot += arr.getFloat(i).toDouble * c(i); i += 1 }
        val cos = dot / (sna * cnorms(j))
        if (cos > best) { best = cos; bestIdx = j }
      }
      j += 1
    }
    if (bestIdx < 0) null else java.lang.Integer.valueOf(bestIdx)
  }

  /** See [[ShingleHash60]]. */
  def shingleHash60(arr: ArrayData, n: Int, mod: Long): ArrayData = {
    val nt = arr.numElements()
    if (nt < n) return new GenericArrayData(Array.empty[Long])
    val md = TextHash.localDigest()
    val out = new Array[Long](nt - n + 1)
    val toks = new Array[String](nt)
    var i = 0
    while (i < nt) { toks(i) = arr.getUTF8String(i).toString; i += 1 }
    i = 0
    while (i <= nt - n) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      out(i) = TextHash.h60mod(md,
        org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString), mod)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** See [[SpanHash60]]: full 60-bit h60 (no mod) of each winLen-char
    * window at the given stride. Direct byte offsets on ASCII input
    * (the normalize contract guarantees [a-z0-9 ]); the non-ASCII
    * defensive path replays the declarative code-point semantics.
    */
  def spanHash60(s: org.apache.spark.unsafe.types.UTF8String, winLen: Int, stride: Int): ArrayData = {
    val b = s.getBytes
    val n = b.length
    var ascii = true
    var i = 0
    while (ascii && i < n) { if (b(i) < 0) ascii = false; i += 1 }
    val md = TextHash.localDigest()
    @inline def h60of(d: Array[Byte]): Long = {
      var v = 0L
      var j = 0
      while (j < 7) { v |= (d(j) & 0xffL) << (52 - 8 * j); j += 1 }
      v | ((d(7) & 0xf0L) >>> 4)
    }
    if (ascii) {
      if (n < winLen) return new GenericArrayData(Array.empty[Long])
      val cnt = (n - winLen) / stride + 1
      val out = new Array[Long](cnt)
      var k = 0
      var off = 0
      while (k < cnt) {
        md.reset()
        md.update(b, off, winLen)
        out(k) = h60of(md.digest())
        k += 1
        off += stride
      }
      new GenericArrayData(out)
    } else {
      // defensive: windows by CODE POINTS (what substring(t,i,winLen)
      // and length(t) count), hashed over each window's UTF-8 bytes
      val nc = s.numChars()
      if (nc < winLen) return new GenericArrayData(Array.empty[Long])
      val cnt = (nc - winLen) / stride + 1
      val out = new Array[Long](cnt)
      var k = 0
      var pos = 0
      while (k < cnt) {
        md.reset()
        out(k) = h60of(md.digest(s.substring(pos, pos + winLen).getBytes))
        k += 1
        pos += stride
      }
      new GenericArrayData(out)
    }
  }

  private val HexChars = "0123456789abcdef".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  /** See [[FrameMd5Kernel]]: md5 hex of every `every`-th fixed-width
    * (`frameChars` code points) frame of the payload, in ONE byte pass.
    * The declarative form md5(substr(t, idx·fc + 1, fc)) walks from
    * byte 0 on every substr to find its char offset (the spanHash60
    * quadratic-substr lesson); here frame-start byte offsets fall out
    * of a single boundary walk (chars == bytes on the ASCII fast path).
    * Hex formatting matches Spark's md5() (lowercase), so the output
    * strings are byte-identical to the expression form — and the
    * DuckDB oracles are untouched.
    */
  def frameMd5(s: org.apache.spark.unsafe.types.UTF8String, frameChars: Int, every: Int): ArrayData = {
    val b = s.getBytes
    val n = b.length
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val md = TextHash.localDigest()
    @inline def hex(d: Array[Byte]): org.apache.spark.unsafe.types.UTF8String = {
      val out = new Array[Byte](32)
      var j = 0
      while (j < 16) {
        out(2 * j) = HexChars((d(j) >> 4) & 0xf)
        out(2 * j + 1) = HexChars(d(j) & 0xf)
        j += 1
      }
      org.apache.spark.unsafe.types.UTF8String.fromBytes(out)
    }
    var ascii = true
    var i = 0
    while (ascii && i < n) { if (b(i) < 0) ascii = false; i += 1 }
    if (ascii) {
      val nFrames = (n + frameChars - 1) / frameChars
      val kept = (nFrames + every - 1) / every
      val out = new Array[Any](kept)
      var k = 0
      while (k < kept) {
        val start = k * every * frameChars
        val len = math.min(frameChars, n - start)
        md.reset()
        md.update(b, start, len)
        out(k) = hex(md.digest())
        k += 1
      }
      new GenericArrayData(out)
    } else {
      // frame boundaries by CODE POINTS (what length()/substr() count):
      // one walk records each frame's start byte offset
      val starts = scala.collection.mutable.ArrayBuffer.empty[Int]
      var chars = 0
      var off = 0
      while (off < n) {
        if (chars % frameChars == 0) starts += off
        off += org.apache.spark.unsafe.types.UTF8String.numBytesForFirstByte(b(off))
        chars += 1
      }
      val nFrames = starts.length
      val kept = (nFrames + every - 1) / every
      val out = new Array[Any](kept)
      var k = 0
      while (k < kept) {
        val f = k * every
        val s0 = starts(f)
        val e0 = if (f + 1 < nFrames) starts(f + 1) else n
        md.reset()
        md.update(b, s0, e0 - s0)
        out(k) = hex(md.digest())
        k += 1
      }
      new GenericArrayData(out)
    }
  }

  /** See [[graft.plans.BpeCountKernel]]: the trained merge table applied
    * to one word's symbol array, merges in rank order, each a greedy
    * left-to-right non-overlapping fuse — the exact
    * [[graft.functions.TokenizerStats.mergeOnce]] fold rule (fuse when
    * the previous UNFUSED symbol equals lhs and the current equals rhs,
    * continue AFTER the fused symbol), replacing `rounds` chained
    * interpreted aggregate() HOF passes with one static call. Returns
    * the final symbol COUNT (the only thing the encode rollup consumes).
    */
  def bpeTokenCount(arr: ArrayData, lhs: Array[String], rhs: Array[String]): Long = {
    var m0 = arr.numElements()
    if (m0 == 0) return 0L
    var s = new Array[String](m0)
    var i = 0
    while (i < m0) { s(i) = arr.getUTF8String(i).toString; i += 1 }
    var m = 0
    while (m < lhs.length) {
      val a = lhs(m)
      val b = rhs(m)
      var has = false
      i = 0
      while (!has && i < m0 - 1) {
        if (s(i) == a && s(i + 1) == b) has = true
        i += 1
      }
      if (has) {
        val ab = a + b
        val out = new Array[String](m0)
        var w = 0
        i = 0
        while (i < m0) {
          if (i < m0 - 1 && s(i) == a && s(i + 1) == b) { out(w) = ab; i += 2 }
          else { out(w) = s(i); i += 1 }
          w += 1
        }
        s = out
        m0 = w
      }
      m += 1
    }
    m0.toLong
  }

  /** See [[TokenHash60]]. */
  def tokenHash60(arr: ArrayData, mod: Long): ArrayData = {
    val n = arr.numElements()
    val md = TextHash.localDigest()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = TextHash.h60mod(md, arr.getUTF8String(i), mod); i += 1 }
    new GenericArrayData(out)
  }

  /** See [[FingerprintKernel]]. */
  def fingerprint(arr: ArrayData, mod: Long): Long = {
    val n = arr.numElements()
    val md = TextHash.localDigest()
    var h = 0L
    var i = 0
    while (i < n) {
      h = (h * 131L + TextHash.h60mod(md, arr.getUTF8String(i), mod)) % mod
      i += 1
    }
    h
  }

  /** See [[TokenEntropy]]. */
  def tokenEntropy(arr: ArrayData): Double = {
    val n = arr.numElements()
    if (n == 0) return 0.0
    val counts = new java.util.TreeMap[String, Int]()
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i).toString
      counts.merge(t, 1, (a, b) => a + b)
      i += 1
    }
    val nd = n.toDouble
    var h = 0.0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val p = it.next().toDouble / nd
      h += p * math.log(p)
    }
    // + 0.0 canonicalizes the single-token case's -0.0 to 0.0
    -h + 0.0
  }

  /** The fold of [[StlConvAgg]]: fixed-coefficient convolution over a
    * full sliding frame — Σᵢ coefs(i)·xs(i), left-fold starting from
    * the i = 0 TERM (not 0.0 — preserves the Column `reduceLeft` bit
    * pattern including the −0.0 corner). `n` counts every frame row, so
    * a clipped edge frame (n ≠ taps) yields null; the caller has
    * already nulled on a null element — together the declarative
    * lag/lead chain's null propagation.
    */
  def stlConvFlat(xs: Array[Double], n: Int, coefs: Array[Double]): java.lang.Double = {
    if (n != coefs.length) return null
    var acc = coefs(0) * xs(0)
    var i = 1
    while (i < n) {
      acc = acc + coefs(i) * xs(i)
      i += 1
    }
    D(acc)
  }

  /** The fold of [[StlLoessFitAgg]]: the weighted degree-1 local fit at
    * the frame center from five simultaneous left-folds over
    * interleaved (ρ, v) pairs. Term arithmetic replicates the Column
    * form exactly — each term is wₖ(i)·ρ or wₖ(i)·(ρ·v) (that grouping),
    * folds start from the i = 0 term, and the fit is
    * (S2·T0 − S1·T1)/(S0·S2 − S1²) with a null verdict on a zero
    * denominator or a clipped frame.
    */
  def stlLoessFitFlat(xs: Array[Double], n: Int, w0: Array[Double],
      w1: Array[Double], w2: Array[Double]): java.lang.Double = {
    if (n != w0.length) return null
    var s0 = 0d; var s1 = 0d; var s2 = 0d; var t0 = 0d; var t1 = 0d
    var i = 0
    while (i < n) {
      val r = xs(2 * i)
      val rv = r * xs(2 * i + 1)
      if (i == 0) {
        s0 = w0(0) * r; s1 = w1(0) * r; s2 = w2(0) * r
        t0 = w0(0) * rv; t1 = w1(0) * rv
      } else {
        s0 = s0 + w0(i) * r; s1 = s1 + w1(i) * r; s2 = s2 + w2(i) * r
        t0 = t0 + w0(i) * rv; t1 = t1 + w1(i) * rv
      }
      i += 1
    }
    val den = s0 * s2 - s1 * s1
    if (den == 0.0) null else D((s2 * t0 - s1 * t1) / den)
  }

  /** See [[SortableDoubleBits]]: the order-preserving IEEE-754 int64
    * mapping k = bits XOR ((bits >> 63) & Long.MaxValue) — flips the
    * magnitude bits of negatives so SIGNED k ascends exactly with the
    * double's numeric order over all finite values and infinities
    * (−∞ near Long.MinValue, −0.0 = −1, +0.0 = 0, +∞ = 0x7FF0…).
    * `doubleToLongBits` (NOT raw) canonicalizes every NaN — sign-bit
    * and payload variants included — to the single positive pattern
    * 0x7FF8…, so ALL NaNs collapse to ONE key that orders ABOVE +∞,
    * exactly Spark percentile()'s NaN semantics (boxed Double.equals
    * + Double.compare); a raw-bits sign-bit NaN would otherwise map
    * BELOW −∞ and distinct payloads would count as distinct keys
    * (ADVICE r14). The map is an involution on canonical bit
    * patterns (every non-NaN, plus the canonical NaN), so the same
    * XOR inverts it.
    */
  def sortableDoubleBits(x: Double): Long = {
    val bits = java.lang.Double.doubleToLongBits(x)
    bits ^ ((bits >> 63) & java.lang.Long.MAX_VALUE)
  }

  def sortableBitsToDouble(k: Long): Double =
    java.lang.Double.longBitsToDouble(k ^ ((k >> 63) & java.lang.Long.MAX_VALUE))

  /** The fold of [[RollTheilSenAgg]], also called per key by the
    * streaming twin: lower-median pairwise slope of one FULL trailing
    * window of interleaved (t, v) rows — all w(w−1)/2 slopes
    * (v_b − v_a)/(t_b − t_a) for a < b in time order, sorted, element
    * ⌈m/2⌉ picked (the theilSen type-1 convention). The slope operands
    * are the identical subtract/divide the oracle's lag-pair
    * expressions compute; sorting a fixed multiset of doubles and
    * picking a rank is engine-independent (ties yield equal values; a
    * tied-timestamp pair divides to ±Infinity on both engines — the
    * documented unique-ts contract makes it moot). A clipped edge frame
    * (n ≠ w) yields null.
    */
  def rollTheilSenFlat(xs: Array[Double], n: Int, w: Int): java.lang.Double = {
    if (n != w) return null
    val m = w * (w - 1) / 2
    val slopes = new Array[Double](m)
    var k = 0
    var a = 0
    while (a < w - 1) {
      var b = a + 1
      while (b < w) {
        slopes(k) = (xs(2 * b + 1) - xs(2 * a + 1)) / (xs(2 * b) - xs(2 * a))
        k += 1
        b += 1
      }
      a += 1
    }
    java.util.Arrays.sort(slopes)
    D(slopes((m + 1) / 2 - 1))
  }

  /** Catalyst double ordering (SQLOrderingUtil.compareDoubles): plain
    * `<`/`>` for the fast path, java.lang.Double.compare for the ties —
    * so NaN sorts greater than everything and −0.0 below +0.0, exactly
    * the semantics Spark's `least` resolves its winner with.
    */
  private def dcmp(x: Double, y: Double): Int =
    if (x < y) -1 else if (x > y) 1 else java.lang.Double.compare(x, y)

  /** See [[DtwKernel]]: the full DTW DP of [[graft.ts.TimeOps
    * .DtwExprSql]] as ONE rolling-buffer loop — cell (i, j) =
    * |vaᵢ − vbⱼ| + least(prev(j), cur(j−1), prev(j−1)), identical
    * abs/min/plus operations in identical order, so the value is
    * bit-equal to the nested-aggregate HOF form (DtwKernelSpec pins
    * parity, nulls/NaN/−0.0 included). Null semantics replicate the
    * expression tree exactly: a null element nulls its cell's cost
    * (and the first row's running sum propagates), `least` SKIPS null
    * arguments left to right (null only when all three are), and `+`
    * null-propagates. The returned value is table(n1, n2) — null when
    * either length is < 1 (the expression's explicit guard; the
    * BinaryExpression wrapper already nulled a null va/vb).
    */
  def dtw(va: ArrayData, vb: ArrayData): java.lang.Double = {
    val n1 = va.numElements()
    val n2 = vb.numElements()
    if (n1 < 1 || n2 < 1) return null
    val prev = new Array[Double](n2)
    val prevN = new Array[Boolean](n2)
    // first DP row: r(j) = cost(1, j) + r(j−1), null-propagating
    val a0n = va.isNullAt(0)
    val a0 = if (a0n) 0d else va.getDouble(0)
    var j = 0
    while (j < n2) {
      val bn = vb.isNullAt(j)
      val cn = a0n || bn
      val c = if (cn) 0d else math.abs(a0 - vb.getDouble(j))
      if (j == 0) { prevN(0) = cn; prev(0) = c }
      else {
        prevN(j) = cn || prevN(j - 1)
        prev(j) = if (prevN(j)) 0d else c + prev(j - 1)
      }
      j += 1
    }
    val cur = new Array[Double](n2)
    val curN = new Array[Boolean](n2)
    var i = 1
    while (i < n1) {
      val ain = va.isNullAt(i)
      val ai = if (ain) 0d else va.getDouble(i)
      var j2 = 0
      while (j2 < n2) {
        val bn = vb.isNullAt(j2)
        val cn = ain || bn
        val c = if (cn) 0d else math.abs(ai - vb.getDouble(j2))
        if (j2 == 0) {
          // row(1) = cost(i, 1) + prev(1): plain null-propagating add
          curN(0) = cn || prevN(0)
          cur(0) = if (curN(0)) 0d else c + prev(0)
        } else {
          // least(prev(j), row(j−1), prev(j−1)): left-fold, skip nulls,
          // strict `<` per dcmp keeps the EARLIER argument on ties
          var m = 0d
          var mn = true
          if (!prevN(j2)) { m = prev(j2); mn = false }
          if (!curN(j2 - 1) && (mn || dcmp(cur(j2 - 1), m) < 0)) { m = cur(j2 - 1); mn = false }
          if (!prevN(j2 - 1) && (mn || dcmp(prev(j2 - 1), m) < 0)) { m = prev(j2 - 1); mn = false }
          curN(j2) = cn || mn
          cur(j2) = if (curN(j2)) 0d else c + m
        }
        j2 += 1
      }
      // roll the buffers: cur becomes prev for the next DP row
      System.arraycopy(cur, 0, prev, 0, n2)
      System.arraycopy(curN, 0, prevN, 0, n2)
      i += 1
    }
    if (prevN(n2 - 1)) null else D(prev(n2 - 1))
  }
}
