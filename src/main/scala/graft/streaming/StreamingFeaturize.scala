package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming twins of the batch featurize/TimeOps operators
  * (SURVEY.md §streaming). Same column names and NULL semantics as the
  * batch ops, so a pipeline can be developed in batch and deployed on a
  * stream unchanged.
  */
case class Ev(user_id: Long, ts_us: Long, value: Double)
case class JsonEv(event_type: String, props: String, user_id: Long, value: Double)
case class TypedEv(user_id: Long, ts_us: Long, event_type: String)
case class Doc(doc_id: Long, text: String)
case class DedupVerdict(doc_id: Long, dup_of: Option[Long])
case class SeenDoc(first_id: Long)
case class LineVerdict(doc_id: Long, line_h: Long, dup_of: Option[Long])
case class RollFeat(
    user_id: Long,
    ts_us: Long,
    value: Double,
    value_lag1: Option[Double],
    value_rollmean: Option[Double])
/** Top-level on purpose: object-nested state classes produce
  * `Outer$Inner` names the encoder's generated Java fails to resolve.
  */
case class RingState(ring: Array[Double], lastTs: Long = Long.MinValue)
case class EwmaState(num: Double, den: Double, lastTs: Long = Long.MinValue)
case class EwmVolState(num1: Double, num2: Double, den: Double, lastTs: Long = Long.MinValue)
case class HwState(t: Long, l: Double, b: Double, s: Array[Double], lastTs: Long = Long.MinValue)
case class BtState(ring: Array[Long], n: Long, lastTs: Long = Long.MinValue)
case class BtOut(user_id: Long, ts_us: Long, e1: Option[Long], e4: Option[Long])
case class HwOut(user_id: Long, ts_us: Long, value: Double,
    level: Double, trend: Double, season: Double, fitted: Option[Double])
case class EwmVolOut(user_id: Long, ts_us: Long, value: Double,
    ewma: Double, ewm_var: Double, ewm_std: Option[Double])

case class CusumState(sPos: Double, sNeg: Double, lastTs: Long = Long.MinValue)

case class TsRing(ts: Array[Double], vs: Array[Double], lastTs: Long = Long.MinValue)
case class RollSenOut(user_id: Long, ts_us: Long, value: Double, roll_sen: Option[Double])

case class PermEntState(
    hasA: Boolean,
    a: Double,
    hasB: Boolean,
    b: Double,
    counts: Array[Long],
    lastTs: Long = Long.MinValue)

case class PermEntOut(
    user_id: Long,
    ts_us: Long,
    m: Long,
    c0: Long, c1: Long, c2: Long, c3: Long, c4: Long, c5: Long)

case class KalmanState(init: Boolean, x: Double, p: Double, lastTs: Long = Long.MinValue)

case class KalmanOut(user_id: Long, ts_us: Long, value: Double, kalman: Double)

case class BrownState(
    num1: Double,
    den1: Double,
    num2: Double,
    den2: Double,
    lastTs: Long = Long.MinValue)

case class BrownOut(
    user_id: Long,
    ts_us: Long,
    value: Double,
    ewma1: Double,
    ewma2: Double,
    level: Double,
    trend: Double,
    forecast1: Double)

case class CusumOut(
    user_id: Long,
    ts_us: Long,
    value: Double,
    cusum_pos: Double,
    cusum_neg: Double,
    cusum_alarm: Boolean)

case class PeakState(peak: Double, lastTs: Long = Long.MinValue)

case class PackState(tokEnd: Long, lastId: Long = Long.MinValue)

case class PackFrag(
    doc_id: Long,
    shard: Int,
    bin_id: Long,
    bin_off: Long,
    frag_tokens: Long)

case class DrawdownOut(
    user_id: Long,
    ts_us: Long,
    value: Double,
    peak: Double,
    drawdown: Double)

case class TrendState(
    n: Long,
    sx: Double,
    sv: Double,
    sxx: Double,
    svv: Double,
    sxv: Double,
    lastTs: Long = Long.MinValue)

case class TrendOut(
    user_id: Long,
    ts_us: Long,
    value: Double,
    trend_n: Long,
    slope_s4: Option[Long],
    intercept_s4: Option[Long],
    r2_s4: Option[Long])
case class BandMin(min_id: Long)
case class PosRing(ring: Array[Double], pos: Long, lastTs: Long = Long.MinValue)

object StreamingFeaturize {

  /** The exact per-key twins (rollingFeatures / taylor / domfreq /
    * ewma) replay the batch operator's ts order. Batch order is ts
    * alone, so a duplicate (key, ts_us) has NO order both engines agree
    * on, and a late arrival in a later micro-batch would be appended
    * where batch would have inserted it — either silently diverges from
    * the batch oracle. Sort the micro-batch and FAIL FAST on any
    * violation of the strictly-increasing-ts contract instead
    * (`lastTs` in each state carries the contract across batches).
    */
  private def sortedStrict(evs: Iterator[Ev], lastTs: Long, key: Long): Seq[Ev] = {
    val sorted = evs.toSeq.sortBy(_.ts_us)
    var prev = lastTs
    sorted.foreach { e =>
      require(e.ts_us > prev,
        s"streaming exact twin: ts_us=${e.ts_us} for key=$key is not strictly after " +
          s"the last processed ts_us=$prev (duplicate or late event) — the exact " +
          "twins require strictly increasing ts_us per key")
      prev = e.ts_us
    }
    sorted
  }

  /** Per-key streaming lag/rollmean via flatMapGroupsWithState: state is
    * a (w-1)-deep ring buffer per key — O(w) memory per key, unbounded
    * stream. Events are processed in event-time order WITHIN each
    * micro-batch; duplicate or cross-batch late timestamps fail fast
    * (sortedStrict) instead of silently diverging from batch — drop
    * late data with withWatermark upstream.
    *
    * Emits the batch operators' exact semantics: `value_lag1` null for
    * the first event of a key, `value_rollmean` null until a full
    * window of w values exists (minPeriods = w).
    */
  def rollingFeatures(events: Dataset[Ev], w: Int): Dataset[RollFeat] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: Long, evs: Iterator[Ev], state: GroupState[RingState]) => {
          var ring: Vector[Double] = state.getOption.map(_.ring.toVector).getOrElse(Vector.empty)
          val lastTs = state.getOption.map(_.lastTs).getOrElse(Long.MinValue)
          val evSeq = sortedStrict(evs, lastTs, key)
          val out = evSeq.map { e =>
            val lag1 = ring.lastOption
            val withCur = (ring :+ e.value).takeRight(w)
            // newest-first summation: bit-identical to the batch
            // rollmean's (current + lag1 + lag2 + …) fold order
            val mean = if (withCur.size >= w) Some(withCur.reverseIterator.sum / w) else None
            ring = withCur.takeRight(w - 1)
            RollFeat(key, e.ts_us, e.value, lag1, mean)
          }
          state.update(RingState(ring.toArray, evSeq.lastOption.map(_.ts_us).getOrElse(lastTs)))
          out.iterator
        })
  }

  /** The ts_perm_entropy pattern id in Scala — the SAME comparisons
    * the shared SQL text (`TimeOps.PermPatternSql`) evaluates, mapped
    * to the dense 0..5 index of the six reachable packings. The
    * comparisons go through `java.lang.Double.compare`, NOT primitive
    * `<`/`<=`: SQL comparison semantics (Spark and DuckDB both) treat
    * NaN as greater than everything and equal to itself, while a Java
    * primitive comparison on NaN is always false — which would pack
    * an id outside the six reachable ones and kill the stream, where
    * the batch twin computes a valid pattern.
    */
  private def permPatternIndex(a0: Double, b0: Double, c0: Double): Int = {
    // -0.0 → +0.0 first: Double.compare orders -0.0 < +0.0 but SQL
    // treats the two zeros as equal (the one place Double.compare and
    // SQL total order disagree besides nothing).
    def z(v: Double): Double = if (v == 0.0) 0.0 else v
    val a = z(a0); val b = z(b0); val c = z(c0)
    def lt(x: Double, y: Double): Int = if (java.lang.Double.compare(x, y) < 0) 1 else 0
    def le(x: Double, y: Double): Int = if (java.lang.Double.compare(x, y) <= 0) 1 else 0
    val id = (lt(b, a) + lt(c, a)) * 9 +
      (le(a, b) + lt(c, b)) * 3 +
      (le(a, c) + le(b, c))
    id match {
      case 5 => 0; case 7 => 1; case 11 => 2
      case 15 => 3; case 19 => 4; case 21 => 5
      case other => throw new IllegalStateException(s"unreachable pattern id $other")
    }
  }

  /** Streaming permutation-entropy monitor — the ts_perm_entropy twin
    * as an online ordinal-complexity read: O(1) state per key (the
    * last two values + six integer pattern counts), one output row per
    * COMPLETED triple carrying the RUNNING counts. The entropy itself
    * is applied batch-side over these columns with the same shared
    * `TimeOps.PermEntropySql` text, so stream and oracle are exact by
    * construction; the batch query's final row equals each series'
    * last streamed row.
    */
  def streamingPermEntropy(events: Dataset[Ev]): Dataset[PermEntOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: Long, evs: Iterator[Ev], state: GroupState[PermEntState]) => {
          val st = state.getOption.getOrElse(
            PermEntState(hasA = false, 0.0, hasB = false, 0.0, new Array[Long](6)))
          val counts = st.counts.clone()
          var hasA = st.hasA; var a = st.a
          var hasB = st.hasB; var b = st.b
          var m = counts.sum
          val evSeq = sortedStrict(evs, st.lastTs, key)
          val out = evSeq.flatMap { e =>
            val c = e.value
            val row = if (hasA && hasB) {
              counts(permPatternIndex(a, b, c)) += 1
              m += 1
              Some(PermEntOut(key, e.ts_us, m,
                counts(0), counts(1), counts(2), counts(3), counts(4), counts(5)))
            } else None
            hasA = hasB; a = b
            hasB = true; b = c
            row
          }
          state.update(PermEntState(hasA, a, hasB, b, counts,
            evSeq.lastOption.map(_.ts_us).getOrElse(st.lastTs)))
          out.iterator
        })
  }

  /** Streaming rolling Theil-Sen: the [[graft.ts.TimeOps.rollTheilSen]]
    * twin — per event, the lower-median pairwise slope of the trailing
    * `w` [t, v] rows, from a (w−1)-deep [ts, value] ring per key
    * (O(w) state, unbounded stream). BIT-identical to batch by
    * construction: each full window is handed, as interleaved (t, v)
    * pairs, to the SAME [[graft.plans.KernelRuntime.rollTheilSenFlat]]
    * fold the batch window aggregate runs — one code path, one verdict.
    * Null until the window fills (minPeriods = w), sortedStrict order
    * contract as the other twins.
    */
  def streamingRollTheilSen(events: Dataset[Ev], w: Int): Dataset[RollSenOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: Long, evs: Iterator[Ev], state: GroupState[TsRing]) => {
          var ts: Vector[Double] = state.getOption.map(_.ts.toVector).getOrElse(Vector.empty)
          var vs: Vector[Double] = state.getOption.map(_.vs.toVector).getOrElse(Vector.empty)
          val lastTs = state.getOption.map(_.lastTs).getOrElse(Long.MinValue)
          val evSeq = sortedStrict(evs, lastTs, key)
          val out = evSeq.map { e =>
            val wt = (ts :+ e.ts_us.toDouble).takeRight(w)
            val wv = (vs :+ e.value).takeRight(w)
            val sen =
              if (wt.size == w) {
                val xs = wt.indices.flatMap(i => Seq(wt(i), wv(i))).toArray
                Option(graft.plans.KernelRuntime.rollTheilSenFlat(xs, w, w)).map(_.doubleValue)
              } else None
            ts = wt.takeRight(w - 1); vs = wv.takeRight(w - 1)
            RollSenOut(key, e.ts_us, e.value, sen)
          }
          state.update(TsRing(ts.toArray, vs.toArray,
            evSeq.lastOption.map(_.ts_us).getOrElse(lastTs)))
          out.iterator
        })
  }

  /** Streaming exact dedup: the batch Dedup.exact twin for a document
    * stream. State per normalized-text key = the first doc_id seen;
    * later arrivals emit `dup_of = first`. The grouping key is the
    * 60-bit content hash, NOT the text — state stays tiny and the
    * shuffle carries (hash, id) only, same discipline as the batch
    * path. (Hash collisions at 2^-60: acceptable for dedup; key by the
    * normalized text itself if not.)
    */
  def streamingExactDedup(docs: Dataset[Doc]): Dataset[DedupVerdict] = {
    import docs.sparkSession.implicits._
    val hashed = docs
      .withColumn("__k", graft.functions.TextOps.h60(graft.functions.TextOps.normalize(col("text"))))
      .select(col("doc_id"), col("__k")).as[(Long, Long)]
    hashed
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Long, rows: Iterator[(Long, Long)], state: GroupState[SeenDoc]) => {
          val ids = rows.map(_._1).toSeq.sorted
          var first = state.getOption.map(_.first_id)
          val out = ids.map { id =>
            first match {
              case None =>
                first = Some(id)
                DedupVerdict(id, None)
              case Some(f) => DedupVerdict(id, Some(f))
            }
          }
          state.update(SeenDoc(first.get))
          out.iterator
        })
  }

  /** Streaming LINE-level dedup: the online half of the batch
    * [[graft.dedup.Dedup.lineDedup]] recipe — per ELIGIBLE line
    * instance (trimmed UTF-8 byte length ≥ `minLen`, the batch
    * contract), emit the first EARLIER document that already carried
    * the line (`dup_of`; null when this document is itself the first
    * carrier, including re-occurrences within one document). State per
    * line hash = one long (the first doc id), so the store grows with
    * DISTINCT eligible lines, never instances; the shuffle carries
    * (h60, doc_id) pairs only — the streaming-exact-dedup discipline
    * at line granularity. Within a micro-batch, docs process in id
    * order (the replay contract), so batch boundaries can't change
    * verdicts.
    */
  def streamingLineDedup(docs: Dataset[Doc], minLen: Int = 8): Dataset[LineVerdict] = {
    import docs.sparkSession.implicits._
    val lines = docs.toDF()
      .select(col("doc_id"), explode(split(col("text"), "\n")).as("__line"))
      .withColumn("__t", trim(col("__line")))
      .where(octet_length(col("__t")) >= minLen)
      .select(col("doc_id"), graft.functions.TextOps.h60(col("__t")).as("line_h"))
      .as[(Long, Long)]
    lines
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (k: Long, rows: Iterator[(Long, Long)], state: GroupState[SeenDoc]) => {
          val ids = rows.map(_._1).toSeq.sorted
          var first = state.getOption.map(_.first_id)
          val out = ids.map { id =>
            first match {
              case None =>
                first = Some(id)
                LineVerdict(id, k, None)
              case Some(f) =>
                LineVerdict(id, k, if (f < id) Some(f) else None)
            }
          }
          state.update(SeenDoc(first.get))
          out.iterator
        })
  }

  /** Streaming sequence packing: the `Packing.packFragments` twin.
    * Packing is naturally INCREMENTAL — state per shard is ONE long
    * (the running token total); each arriving document appends at the
    * current offset and emits its spanned-bin fragments immediately.
    * Bit-identical to batch for doc_id-ordered arrival (docs within a
    * micro-batch are sorted; cross-batch order is the replay
    * contract, enforced like the Ev twins' sortedStrict).
    *
    * The token count rides the same codegen'd Column expression as the
    * batch path (TextOps.tokenCount), applied BEFORE the stateful
    * operator — only (doc_id, n_tok) pairs shuffle to the shard state.
    */
  def streamingPack(
      docs: Dataset[Doc],
      capacity: Long = 512L,
      shards: Int = 32): Dataset[PackFrag] = {
    import docs.sparkSession.implicits._
    val toks = docs
      .withColumn("n_tok", graft.functions.TextOps.tokenCount(col("text")).cast("long"))
      .select(col("doc_id"), col("n_tok")).as[(Long, Long)]
    toks
      .groupByKey(t => (t._1 % shards).toInt)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (shard: Int, rows: Iterator[(Long, Long)], state: GroupState[PackState]) => {
          var tokEnd = state.getOption.map(_.tokEnd).getOrElse(0L)
          var lastId = state.getOption.map(_.lastId).getOrElse(Long.MinValue)
          val out = scala.collection.mutable.ArrayBuffer.empty[PackFrag]
          rows.toSeq.sortBy(_._1).foreach { case (id, n) =>
            require(id > lastId,
              s"stream_pack: doc $id arrived after $lastId in shard $shard — " +
                "packing requires in-order arrival")
            lastId = id
            if (n > 0) {
              val start = tokEnd
              tokEnd += n
              var b = start / capacity
              val bMax = (tokEnd - 1) / capacity
              while (b <= bMax) {
                val fs = math.max(start, b * capacity)
                val fe = math.min(tokEnd, (b + 1) * capacity)
                out += PackFrag(id, shard, b, fs - b * capacity, fe - fs)
                b += 1
              }
            }
          }
          state.update(PackState(tokEnd, lastId))
          out.iterator
        })
  }

  /** Streaming MinHash near-dup: the batch minhashDupOf twin for a
    * document stream. The batch signature/banding Column expressions
    * run unchanged on the stream; state per (band_idx, band_key)
    * bucket = the minimum doc_id seen (one long — the same anchored
    * bucket-min discipline as the batch path), and the per-doc verdict
    * aggregates the doc's band candidates (emitted together in its
    * arrival micro-batch). First-seen wins: a doc's verdict reflects
    * docs that arrived before it, which equals the batch verdict when
    * arrival order follows id order (spec-pinned).
    */
  def streamingMinhashDedup(
      docs: Dataset[Doc],
      shingleSize: Int = 3,
      k: Int = 16,
      rowsPerBand: Int = 4): DataFrame = {
    import docs.sparkSession.implicits._
    val sig = graft.dedup.Dedup.minhashSignatures(
      docs.toDF(), "doc_id", "text", shingleSize, graft.functions.TextOps.minhashParams(k))
    val bands = graft.dedup.Dedup.lshBands(sig, "doc_id", k, rowsPerBand)
      .as[(Long, Int, String)]
    val candidates = bands
      .groupByKey(r => (r._2, r._3))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: (Int, String), rows: Iterator[(Long, Int, String)], state: GroupState[BandMin]) => {
          val ids = rows.map(_._1).toSeq.sorted
          var mn = state.getOption.map(_.min_id)
          val out = ids.map { id =>
            val cand = mn.filter(_ < id)
            if (mn.forall(id < _)) mn = Some(id)
            (id, cand)
          }
          state.update(BandMin(mn.get))
          out.iterator
        })
      .toDF("doc_id", "cand")
    candidates.groupBy("doc_id").agg(min("cand").as("dup_of"))
  }

  /** Watermarked tumbling aggregation: the streaming twin of the batch
    * ts_tumbling query (same 1-day buckets, count + sum).
    */
  def tumblingAgg(events: DataFrame, tsCol: String, watermark: String, windowLen: String): DataFrame =
    events
      .withColumn("__ts", timestamp_micros(col(tsCol)))
      .withWatermark("__ts", watermark)
      .groupBy(window(col("__ts"), windowLen), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .select(unix_micros(col("window.start")).as("day_us"), col("user_id"),
        col("n_events"), col("sum_value"))

  /** Watermarked tumbling OHLC candles — the streaming ts_ohlc twin:
    * open/close ride min_by/max_by on the event time inside the
    * windowed aggregation (declarative aggs, so partial/merge state is
    * Spark-managed and bounded per open window). All outputs are
    * picked or compared values → exact vs the batch oracle.
    */
  def tumblingOhlc(events: DataFrame, tsCol: String, watermark: String, windowLen: String): DataFrame =
    events
      .withColumn("__ts", timestamp_micros(col(tsCol)))
      .withWatermark("__ts", watermark)
      .groupBy(window(col("__ts"), windowLen), col("user_id"))
      .agg(
        min_by(col("value"), col(tsCol)).as("open"),
        max("value").as("high"),
        min("value").as("low"),
        max_by(col("value"), col(tsCol)).as("close"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), unix_micros(col("window.start")).as("bucket"),
        col("open"), col("high"), col("low"), col("close"), col("n_events"))

  /** Watermarked session rollups via `session_window`: the streaming
    * twin of the batch sess_agg query (sessionize + per-session
    * count/sum). Sessions close when the gap exceeds `gap`; emission
    * waits for the watermark, exactly Structured Streaming's
    * session-window contract.
    */
  def sessionAgg(events: DataFrame, tsCol: String, watermark: String, gap: String): DataFrame =
    events
      .withColumn("__ts", timestamp_micros(col(tsCol)))
      .withWatermark("__ts", watermark)
      .groupBy(session_window(col("__ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        unix_micros(col("session_window.end")).as("session_end_us"),
        col("n_events"), col("sum_value"))

  /** Streaming windowed Taylor coefficients — the trailing-align twin of
    * Taylor.windowedTaylorCoefs. State per key = a (≤ w)-deep ring of
    * values + the row position; each event evaluates the SAME
    * TaylorKernel the batch plan runs (one branch-table construction,
    * one fold body — bit-identical by construction), fed the same
    * clipped trailing frame collect_list would build. Centered aligns
    * need future rows and are rejected; trailing branch conditions are
    * pure functions of pos (never rpos), so the streaming emission at
    * event time equals the batch value — the batch SQL oracle gates the
    * stream unchanged.
    */
  def streamingTaylor(events: Dataset[Ev], spec: graft.ts.TaylorBasis.Spec): DataFrame = {
    require(spec.align == "trailing",
      s"streaming taylor is trailing-only (centered reads future rows), got ${spec.align}")
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.{Encoders, Row}
    val w = spec.windowSize
    val degree = spec.degree
    val names = (0 to degree).map(spec.featName)
    val schema = StructType(
      Seq(StructField("user_id", LongType, nullable = false),
        StructField("ts_us", LongType, nullable = false),
        StructField("value", DoubleType, nullable = false)) ++
        names.map(StructField(_, DoubleType, nullable = true)))
    val kernel = graft.plans.TaylorKernel.evaluatorFromSpec(spec)
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: Long, evs: Iterator[Ev], state: GroupState[PosRing]) => {
          var ring: Vector[Double] = state.getOption.map(_.ring.toVector).getOrElse(Vector.empty)
          var pos: Long = state.getOption.map(_.pos).getOrElse(-1L)
          val lastTs = state.getOption.map(_.lastTs).getOrElse(Long.MinValue)
          val evSeq = sortedStrict(evs, lastTs, key)
          val out = evSeq.map { e =>
            pos += 1
            ring = (ring :+ e.value).takeRight(w)
            // cnt only feeds rpos, which no trailing branch consults —
            // pos + 1 ("current row is the last seen") keeps it sane
            val res = kernel.nullSafeEval(new GenericArrayData(ring.toArray), pos, pos + 1)
            val feats: Seq[Any] =
              if (res == null) Seq.fill(degree + 1)(null)
              else {
                val a = res.asInstanceOf[ArrayData]
                (0 to degree).map(d => if (a.isNullAt(d)) null else a.getDouble(d))
              }
            Row.fromSeq(Seq[Any](key, e.ts_us, e.value) ++ feats)
          }
          state.update(PosRing(ring.toArray, pos, evSeq.lastOption.map(_.ts_us).getOrElse(lastTs)))
          out.iterator
        })(Encoders.product[PosRing], Encoders.row(schema))
  }

  /** Streaming dominant-frequency features — the strictly-causal twin of
    * DomFreq.domfreq's trailing align. State per key = a w-deep ring +
    * position; once a full window exists ([pos-w+1 .. pos]) the event
    * runs the SAME periodogramTopK kernel (same DftTables trig/detrend
    * tables) the batch scan runs. Rows before the first full window emit
    * null features: the batch's head-pad recycling reads FUTURE values
    * (featurize.py:576-581 prepends the first w rows), which a causal
    * stream cannot — the oracle twin is OracleGen.domfreqSql with
    * align = "trailing_causal".
    */
  def streamingDomfreq(
      events: Dataset[Ev],
      w: Int,
      nDomfreq: Int,
      fs: Double = 1.0,
      detrend: String = "linear"): DataFrame = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.{Encoders, Row}
    val tables = graft.ts.DomFreq.DftTables(w, fs, detrend)
    val kEff = math.min(nDomfreq, tables.nBins)
    val names = graft.ts.DomFreq.featureNames("value", w, "trailing", nDomfreq)
    val schema = StructType(
      Seq(StructField("user_id", LongType, nullable = false),
        StructField("ts_us", LongType, nullable = false),
        StructField("value", DoubleType, nullable = false)) ++
        names.map(StructField(_, DoubleType, nullable = true)))
    val nullFeats: Seq[Any] = Seq.fill(2 * nDomfreq)(null)
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: Long, evs: Iterator[Ev], state: GroupState[PosRing]) => {
          val ring: Array[Double] = state.getOption.map(_.ring).getOrElse(new Array[Double](w))
          var pos: Long = state.getOption.map(_.pos).getOrElse(-1L)
          val lastTs = state.getOption.map(_.lastTs).getOrElse(Long.MinValue)
          val evSeq = sortedStrict(evs, lastTs, key)
          val out = evSeq.map { e =>
            pos += 1
            ring((pos % w).toInt) = e.value
            val feats: Seq[Any] =
              if (pos < w - 1) nullFeats
              else {
                val xs = new Array[Double](w)
                var i = 0
                while (i < w) { xs(i) = ring(((pos - w + 1 + i) % w).toInt); i += 1 }
                val f = graft.ts.DomFreq.periodogramTopK(xs, tables, nDomfreq)
                if (f == null) nullFeats
                else
                  (0 until nDomfreq).map(j => if (j < kEff) (f(j): Any) else null) ++
                    (0 until nDomfreq).map(j => if (j < kEff) (f(kEff + j): Any) else null)
              }
            Row.fromSeq(Seq[Any](key, e.ts_us, e.value) ++ feats)
          }
          state.update(PosRing(ring, pos, evSeq.lastOption.map(_.ts_us).getOrElse(lastTs)))
          out.iterator
        })(Encoders.product[PosRing], Encoders.row(schema))
  }

  /** Streaming exact recursive EWMA (pandas ewm adjust=true), the
    * TimeOps.ewma twin: state per key = the two running scalars
    * (num, den) — O(1) memory per key on an unbounded stream, same
    * recurrence and therefore bit-identical values to the batch scan
    * for in-order input (duplicate/late timestamps fail fast via
    * sortedStrict; drop late data with withWatermark upstream).
    */
  def streamingEwma(events: Dataset[Ev], alpha: Double): Dataset[RollFeat] = {
    import events.sparkSession.implicits._
    val beta = 1.0 - alpha
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: Long, evs: Iterator[Ev], state: GroupState[EwmaState]) => {
          var (num, den) = state.getOption.map(s => (s.num, s.den)).getOrElse((0.0, 0.0))
          val lastTs = state.getOption.map(_.lastTs).getOrElse(Long.MinValue)
          val evSeq = sortedStrict(evs, lastTs, key)
          val out = evSeq.map { e =>
            num = beta * num + e.value
            den = beta * den + 1.0
            RollFeat(key, e.ts_us, e.value, None, Some(num / den))
          }
          state.update(EwmaState(num, den, evSeq.lastOption.map(_.ts_us).getOrElse(lastTs)))
          out.iterator
        })
  }

  /** Streaming EWM mean/variance/volatility — the TimeOps.ewmVol twin
    * and the canonical ONLINE volatility monitor: three β-decayed
    * scalars of state per key (Σwx, Σwx², Σw), arithmetic identical to
    * the batch scan so outputs are bit-identical for in-order input
    * (sortedStrict order contract shared with the other recursions).
    */
  def streamingEwmVol(events: Dataset[Ev], alpha: Double): DataFrame = {
    import events.sparkSession.implicits._
    val beta = 1.0 - alpha
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: Long, evs: Iterator[Ev], state: GroupState[EwmVolState]) => {
          var (num1, num2, den) = state.getOption
            .map(s => (s.num1, s.num2, s.den)).getOrElse((0.0, 0.0, 0.0))
          val lastTs = state.getOption.map(_.lastTs).getOrElse(Long.MinValue)
          val evSeq = sortedStrict(evs, lastTs, key)
          val out = evSeq.map { e =>
            num1 = beta * num1 + e.value
            num2 = beta * num2 + e.value * e.value
            den = beta * den + 1.0
            val e1 = num1 / den
            val e2 = num2 / den
            val v = e2 - e1 * e1
            EwmVolOut(key, e.ts_us, e.value, e1, v,
              if (v >= 0.0) Some(math.sqrt(v)) else None)
          }
          state.update(EwmVolState(num1, num2, den,
            evSeq.lastOption.map(_.ts_us).getOrElse(lastTs)))
          out.iterator
        }).toDF()
  }

  /** Streaming naive-forecast backtest — the ts_backtest_naive twin:
    * one-step-ahead absolute errors of the naive (lag 1) and
    * seasonal-naive (lag 4) baselines in integer cents, carried as a
    * FOUR-slot ring of state per key — forecast evaluation is
    * naturally online (each arrival scores the forecasts made before
    * it). Emits per-event errors; the per-series MAE rollup runs
    * batch-side after replay (integer sums — order-free).
    */
  def streamingNaiveBacktest(events: Dataset[Ev]): Dataset[BtOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: Long, evs: Iterator[Ev], state: GroupState[BtState]) => {
          val st = state.getOption.getOrElse(BtState(new Array[Long](4), 0L))
          val ring = st.ring.clone()
          var n = st.n
          val evSeq = sortedStrict(evs, st.lastTs, key)
          val out = evSeq.map { e =>
            val c = math.floor(e.value * 100 + 0.5).toLong
            val e1 = if (n >= 1) Some(math.abs(c - ring(((n - 1) % 4).toInt))) else None
            // slot n%4 still holds the value from 4 steps back —
            // read it BEFORE overwriting with the current one
            val e4 = if (n >= 4) Some(math.abs(c - ring((n % 4).toInt))) else None
            ring((n % 4).toInt) = c
            n += 1
            BtOut(key, e.ts_us, e1, e4)
          }
          state.update(BtState(ring, n, evSeq.lastOption.map(_.ts_us).getOrElse(st.lastTs)))
          out.iterator
        })
  }

  /** Streaming Holt-Winters — the TimeOps.holtWinters twin as an
    * online seasonal forecaster: state per key = the observation
    * counter, level, trend, and the m seasonal indices (O(1)+m on an
    * unbounded stream), recursion arithmetic identical to the batch
    * scan so outputs are bit-identical for in-order input
    * (sortedStrict order contract).
    */
  def streamingHoltWinters(events: Dataset[Ev], alpha: Double, beta: Double,
      gamma: Double, period: Int): DataFrame = {
    import events.sparkSession.implicits._
    val oneA = 1.0 - alpha
    val oneB = 1.0 - beta
    val oneG = 1.0 - gamma
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: Long, evs: Iterator[Ev], state: GroupState[HwState]) => {
          val st = state.getOption.getOrElse(
            HwState(0L, 0.0, 0.0, new Array[Double](period)))
          var t = st.t
          var l = st.l
          var b = st.b
          val s = st.s.clone()
          val evSeq = sortedStrict(evs, st.lastTs, key)
          val out = evSeq.map { e =>
            if (t == 0L) {
              l = e.value; b = 0.0
              java.util.Arrays.fill(s, 0.0)
              t = 1L
              HwOut(key, e.ts_us, e.value, l, 0.0, 0.0, None)
            } else {
              t += 1L
              val idx = (t % period).toInt
              val sIdx = s(idx)
              val fit = (l + b) + sIdx
              val lNew = (alpha * (e.value - sIdx)) + (oneA * (l + b))
              val bNew = (beta * (lNew - l)) + (oneB * b)
              val sNew = (gamma * (e.value - lNew)) + (oneG * sIdx)
              l = lNew; b = bNew; s(idx) = sNew
              HwOut(key, e.ts_us, e.value, l, b, sNew, Some(fit))
            }
          }
          state.update(HwState(t, l, b, s,
            evSeq.lastOption.map(_.ts_us).getOrElse(st.lastTs)))
          out.iterator
        }).toDF()
  }

  /** Streaming two-sided CUSUM — the TimeOps.cusum twin and the
    * canonical ONLINE use of the detector (drift monitoring on a live
    * feature stream). State per key = the two accumulators, O(1) on an
    * unbounded stream; the recurrence is identical to the batch scan,
    * so values are bit-identical for in-order input (duplicate/late
    * timestamps fail fast via sortedStrict).
    */
  /** The ts_kalman twin and the canonical ONLINE state estimator: the
    * filter recursion IS already incremental — three scalars of state
    * per key (init flag, x̂, P), identical arithmetic to the batch
    * scan, so outputs are bit-identical for in-order arrival
    * (sortedStrict contract, same as the other recursions).
    */
  def streamingKalman(
      events: Dataset[Ev],
      q: Double,
      r: Double): Dataset[KalmanOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: Long, evs: Iterator[Ev], state: GroupState[KalmanState]) => {
          var (init, x, p) = state.getOption.map(s => (s.init, s.x, s.p))
            .getOrElse((false, 0.0, 0.0))
          val lastTs = state.getOption.map(_.lastTs).getOrElse(Long.MinValue)
          val evSeq = sortedStrict(evs, lastTs, key)
          val out = evSeq.map { e =>
            if (!init) { init = true; x = e.value; p = r }
            else {
              val pp = p + q
              val kk = pp / (pp + r)
              x = x + kk * (e.value - x)
              p = (1.0 - kk) * pp
            }
            KalmanOut(key, e.ts_us, e.value, x)
          }
          state.update(KalmanState(init, x, p, evSeq.lastOption.map(_.ts_us).getOrElse(lastTs)))
          out.iterator
        })
  }

  def streamingCusum(
      events: Dataset[Ev],
      target: Double,
      slack: Double,
      threshold: Double): Dataset[CusumOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: Long, evs: Iterator[Ev], state: GroupState[CusumState]) => {
          var (sPos, sNeg) = state.getOption.map(s => (s.sPos, s.sNeg)).getOrElse((0.0, 0.0))
          val lastTs = state.getOption.map(_.lastTs).getOrElse(Long.MinValue)
          val evSeq = sortedStrict(evs, lastTs, key)
          val out = evSeq.map { e =>
            sPos = math.max(0.0, sPos + (e.value - target - slack))
            sNeg = math.max(0.0, sNeg + (target - slack - e.value))
            CusumOut(key, e.ts_us, e.value, sPos, sNeg, sPos > threshold || sNeg > threshold)
          }
          state.update(CusumState(sPos, sNeg, evSeq.lastOption.map(_.ts_us).getOrElse(lastTs)))
          out.iterator
        })
  }

  /** Streaming running-peak drawdown — the TimeOps.drawdown twin with
    * ONE double of state per key (the peak). max is exact arithmetic,
    * so the output is bit-identical to the batch window for in-order
    * input (fail-fast order contract via sortedStrict).
    */
  def streamingDrawdown(events: Dataset[Ev]): Dataset[DrawdownOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: Long, evs: Iterator[Ev], state: GroupState[PeakState]) => {
          var peak = state.getOption.map(_.peak).getOrElse(Double.NegativeInfinity)
          val lastTs = state.getOption.map(_.lastTs).getOrElse(Long.MinValue)
          val evSeq = sortedStrict(evs, lastTs, key)
          val out = evSeq.map { e =>
            peak = math.max(peak, e.value)
            DrawdownOut(key, e.ts_us, e.value, peak, peak - e.value)
          }
          state.update(PeakState(peak, evSeq.lastOption.map(_.ts_us).getOrElse(lastTs)))
          out.iterator
        })
  }

  /** Streaming funnel stage table — the q_funnel twin's stateful core:
    * per-user FIRST-TOUCH time per stage as a complete-mode streaming
    * aggregation. `min` is monotone, so Spark manages three longs of
    * state per user with no watermark needed, and arrival order cannot
    * change the answer — unlike the exact per-key scan twins, this op
    * needs no order contract at all. The tiny global rollup runs
    * batch-side after replay (a second streaming aggregation level
    * would violate the single-agg constraint).
    */
  def streamingFunnelStages(events: Dataset[TypedEv]): DataFrame =
    events.toDF()
      .where(col("event_type").isin("view", "click", "purchase"))
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "view", col("ts_us"))).as("t_view"),
        min(when(col("event_type") === "click", col("ts_us"))).as("t_click"),
        min(when(col("event_type") === "purchase", col("ts_us"))).as("t_purchase"))

  /** Streaming JSON-sidecar rollup — the events_json twin, first
    * (incremental) stage: per-(type, bucket, USER) counts and integer
    * sums as ONE streaming aggregation in complete mode. Every
    * aggregate is commutative-monotone (count/sum of integers), so
    * arrival order cannot change the answer and no order contract is
    * needed. The distinct-user fold happens batch-side after replay
    * (count(distinct) is unsupported inside a streaming agg, and the
    * per-user grouping makes it a plain count of sink rows — the
    * stream_funnel two-level precedent).
    */
  def streamingJsonRollup(ev: Dataset[JsonEv], field: String, bucketWidth: Int): DataFrame =
    ev.toDF()
      .select(col("event_type"),
        get_json_object(col("props"), "$." + field).cast("long").as("__k"),
        col("user_id"), col("value"))
      .withColumn("k_bucket",
        floor(col("__k") / lit(bucketWidth.toDouble)).cast("long"))
      .groupBy(col("event_type"), col("k_bucket"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("__k")).as("sum_k"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("sum_value_cents"))

  /** Streaming expanding OLS trend — the TimeOps.expandingTrend twin
    * and the canonical ONLINE drift-slope monitor: six scalars of state
    * per key (n and the five prefix sums), each event appended in the
    * same left-to-right order the batch window accumulates, so the
    * doubles — and the floor(x·10⁴ + 0.5)-scaled outputs — are
    * bit-identical to the batch scan for in-order input (fail-fast
    * order contract via sortedStrict).
    */
  def streamingTrend(events: Dataset[Ev]): Dataset[TrendOut] = {
    import events.sparkSession.implicits._
    def s4(x: Double): Long = math.floor(x * 10000.0 + 0.5).toLong
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: Long, evs: Iterator[Ev], state: GroupState[TrendState]) => {
          var st = state.getOption.getOrElse(TrendState(0L, 0.0, 0.0, 0.0, 0.0, 0.0))
          val evSeq = sortedStrict(evs, st.lastTs, key)
          val out = evSeq.map { e =>
            val x = st.n.toDouble // 0-based position of this event
            st = TrendState(st.n + 1, st.sx + x, st.sv + e.value,
              st.sxx + x * x, st.svv + e.value * e.value, st.sxv + x * e.value, e.ts_us)
            val n = st.n.toDouble
            val vx = n * st.sxx - st.sx * st.sx
            val vy = n * st.svv - st.sv * st.sv
            val num = n * st.sxv - st.sx * st.sv
            val slope = num / vx
            TrendOut(key, e.ts_us, e.value, st.n,
              if (vx <= 0) None else Some(s4(slope)),
              if (vx <= 0) None else Some(s4((st.sv - slope * st.sx) / n)),
              if (vx <= 0 || vy <= 0) None else Some(s4(num * num / (vx * vy))))
          }
          state.update(st)
          out.iterator
        })
  }

  /** Streaming Brown double-exponential smoothing — the
    * TimeOps.brownSmoothing twin: ONLINE level/trend estimation and
    * one-step-ahead forecasting per key with four scalars of state.
    * Identical recurrence to the batch scan → bit-identical output for
    * in-order input (fail-fast order contract via sortedStrict).
    */
  def streamingBrown(events: Dataset[Ev], alpha: Double): Dataset[BrownOut] = {
    import events.sparkSession.implicits._
    val beta = 1.0 - alpha
    val trendC = alpha / (1.0 - alpha)
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: Long, evs: Iterator[Ev], state: GroupState[BrownState]) => {
          var (num1, den1, num2, den2) = state.getOption
            .map(s => (s.num1, s.den1, s.num2, s.den2)).getOrElse((0.0, 0.0, 0.0, 0.0))
          val lastTs = state.getOption.map(_.lastTs).getOrElse(Long.MinValue)
          val evSeq = sortedStrict(evs, lastTs, key)
          val out = evSeq.map { e =>
            num1 = beta * num1 + e.value
            den1 = beta * den1 + 1.0
            val e1 = num1 / den1
            num2 = beta * num2 + e1
            den2 = beta * den2 + 1.0
            val e2 = num2 / den2
            val level = 2.0 * e1 - e2
            val trend = trendC * (e1 - e2)
            BrownOut(key, e.ts_us, e.value, e1, e2, level, trend, level + trend)
          }
          state.update(BrownState(num1, den1, num2, den2,
            evSeq.lastOption.map(_.ts_us).getOrElse(lastTs)))
          out.iterator
        })
  }
}
