package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Frame-fold AGGREGATE kernels (r21): the sliding-window loess /
  * rolling-Theil-Sen fits computed directly INSIDE a
  * TypedImperativeAggregate over a primitive double buffer, instead of
  * a collect_list frame handed to a scalar kernel expression.
  *
  * Why: window collect_list pays, per (output row × frame row), one
  * boxed append into an ArrayBuffer[Any] (Spark's Collect buffers
  * box primitives) plus, per output row, the list's GenericArrayData
  * materialization, its UnsafeRow conversion, and only THEN a kernel
  * fold. These aggregates keep the frame in one interleaved
  * double[] (zero boxing, zero per-row allocation), and eval() IS the
  * fold — the window emits the final double and nothing else.
  *
  * EXACTNESS: update() sees the frame rows in frame order (WindowExec
  * feeds sliding frames in row order), the fold is the corresponding
  * KernelRuntime `*Flat` body, and the null/edge verdict is
  * structural: `n` counts EVERY frame row while `nullSeen` latches any
  * null input, so (n ≠ taps || nullSeen) ⇔ the lag/lead chain's
  * clipped-frame / null-tap NULL. StlSpec / RollTheilSenSpec pin the
  * aggregates against the declarative folds and a brute-force slope.
  *
  * ORDER CONTRACT: these aggregates are only meaningful over an
  * ORDERED window frame (the fold is order-sensitive). They must not
  * be planned as a groupBy aggregate, where partial-merge row order
  * is nondeterministic — merge() exists for interface completeness
  * and concatenates in merge order, which no production path relies
  * on (windows never merge).
  */
final class FrameState(val cap: Int, val arity: Int) {
  val xs = new Array[Double](cap * arity)
  var n = 0
  var nullSeen = false
}

abstract class FrameFoldAgg extends TypedImperativeAggregate[FrameState] {
  /** frame capacity in ROWS — the exact size a full frame must have */
  protected def cap: Int
  protected def arity: Int

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def createAggregationBuffer(): FrameState = new FrameState(cap, arity)

  override def merge(a: FrameState, b: FrameState): FrameState = {
    // interface completeness only (see the order contract above):
    // concatenate b after a, clamped at cap like update
    a.nullSeen |= b.nullSeen
    val take = math.min(math.min(b.n, b.cap), cap - math.min(a.n, cap))
    if (take > 0) {
      System.arraycopy(b.xs, 0, a.xs, math.min(a.n, cap) * arity, take * arity)
    }
    a.n += b.n
    a
  }

  override def serialize(b: FrameState): Array[Byte] = {
    val stored = math.min(b.n, cap) * arity
    val bb = java.nio.ByteBuffer.allocate(5 + 8 * stored)
    bb.putInt(b.n)
    bb.put(if (b.nullSeen) 1.toByte else 0.toByte)
    var i = 0
    while (i < stored) { bb.putDouble(b.xs(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): FrameState = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val b = new FrameState(cap, arity)
    b.n = bb.getInt()
    b.nullSeen = bb.get() == 1.toByte
    val stored = math.min(b.n, cap) * arity
    var i = 0
    while (i < stored) { b.xs(i) = bb.getDouble(); i += 1 }
    b
  }
}

/** Pass-1 tricube moving average: Σᵢ coefs(i)·v(i) over a full ±q
  * frame — [[KernelRuntime.stlConvFlat]] as the window aggregate.
  */
case class StlConvAgg(
    child: Expression,
    coefs: Array[Double],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends FrameFoldAgg {
  override protected def cap: Int = coefs.length
  override protected def arity: Int = 1
  override def children: Seq[Expression] = Seq(child)

  override def update(b: FrameState, input: InternalRow): FrameState = {
    val v = child.eval(input)
    if (v == null) b.nullSeen = true
    else if (b.n < b.cap) b.xs(b.n) = v.asInstanceOf[Double]
    b.n += 1
    b
  }

  override def eval(b: FrameState): Any =
    if (b.nullSeen) null else KernelRuntime.stlConvFlat(b.xs, b.n, coefs)

  override def withNewMutableAggBufferOffset(newOffset: Int): StlConvAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): StlConvAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): StlConvAgg =
    copy(child = newChildren.head)
}

/** Pass-2 weighted degree-1 loess fit at the frame center —
  * [[KernelRuntime.stlLoessFitFlat]] over interleaved (ρ, v) pairs.
  */
case class StlLoessFitAgg(
    rho: Expression,
    v: Expression,
    w0: Array[Double],
    w1: Array[Double],
    w2: Array[Double],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends FrameFoldAgg {
  override protected def cap: Int = w0.length
  override protected def arity: Int = 2
  override def children: Seq[Expression] = Seq(rho, v)

  override def update(b: FrameState, input: InternalRow): FrameState = {
    val r = rho.eval(input)
    val x = v.eval(input)
    if (r == null || x == null) b.nullSeen = true
    else if (b.n < b.cap) {
      b.xs(2 * b.n) = r.asInstanceOf[Double]
      b.xs(2 * b.n + 1) = x.asInstanceOf[Double]
    }
    b.n += 1
    b
  }

  override def eval(b: FrameState): Any =
    if (b.nullSeen) null else KernelRuntime.stlLoessFitFlat(b.xs, b.n, w0, w1, w2)

  override def withNewMutableAggBufferOffset(newOffset: Int): StlLoessFitAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): StlLoessFitAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): StlLoessFitAgg =
    copy(rho = newChildren(0), v = newChildren(1))
}

/** Rolling Theil-Sen lower-median slope over one trailing [t, v]
  * window — [[KernelRuntime.rollTheilSenFlat]] as the aggregate.
  */
case class RollTheilSenAgg(
    t: Expression,
    v: Expression,
    w: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends FrameFoldAgg {
  override protected def cap: Int = w
  override protected def arity: Int = 2
  override def children: Seq[Expression] = Seq(t, v)

  override def update(b: FrameState, input: InternalRow): FrameState = {
    val a = t.eval(input)
    val x = v.eval(input)
    if (a == null || x == null) b.nullSeen = true
    else if (b.n < b.cap) {
      b.xs(2 * b.n) = a.asInstanceOf[Double]
      b.xs(2 * b.n + 1) = x.asInstanceOf[Double]
    }
    b.n += 1
    b
  }

  override def eval(b: FrameState): Any =
    if (b.nullSeen) null else KernelRuntime.rollTheilSenFlat(b.xs, b.n, w)

  override def withNewMutableAggBufferOffset(newOffset: Int): RollTheilSenAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): RollTheilSenAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): RollTheilSenAgg =
    copy(t = newChildren(0), v = newChildren(1))
}

/** Primitive window-frame COLLECTOR (r21 batch 2): `collect_list`
  * minus the boxing, for the one frame whose consumer is a scalar
  * kernel expression — the centered [[TaylorKernel]], whose branch
  * select reads pos/rpos, which a frame aggregate cannot see.
  *
  * Semantics are exactly CollectList's: null inputs are DROPPED, the
  * result is never null (empty frame → empty array), elements arrive
  * in frame order. The buffer is one growable primitive array —
  * update() never boxes — and eval() is a single
  * `UnsafeArrayData.fromPrimitiveArray` memcpy instead of
  * CollectList's ArrayBuffer[Any] → GenericArrayData → per-element
  * unsafe conversion.
  *
  * The ORDER CONTRACT of [[FrameFoldAgg]] applies: window frames only
  * (WindowExec feeds update() in frame order and never merges); merge
  * exists for interface completeness.
  */
final class DblFrameState(cap: Int) {
  var xs = new Array[Double](cap)
  var n = 0
}

case class DoubleFrameCollect(
    child: Expression,
    capHint: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[DblFrameState] {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)

  override def createAggregationBuffer(): DblFrameState =
    new DblFrameState(math.max(capHint, 4))

  override def update(b: DblFrameState, input: InternalRow): DblFrameState = {
    val v = child.eval(input)
    if (v != null) {
      if (b.n == b.xs.length) b.xs = java.util.Arrays.copyOf(b.xs, b.n * 2)
      b.xs(b.n) = v.asInstanceOf[Double]
      b.n += 1
    }
    b
  }

  override def merge(a: DblFrameState, b: DblFrameState): DblFrameState = {
    // interface completeness only (windows never merge): concatenate
    if (a.n + b.n > a.xs.length) a.xs = java.util.Arrays.copyOf(a.xs, a.n + b.n)
    System.arraycopy(b.xs, 0, a.xs, a.n, b.n)
    a.n += b.n
    a
  }

  override def eval(b: DblFrameState): Any =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(java.util.Arrays.copyOf(b.xs, b.n))

  override def serialize(b: DblFrameState): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 8 * b.n)
    bb.putInt(b.n)
    var i = 0
    while (i < b.n) { bb.putDouble(b.xs(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): DblFrameState = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val b = new DblFrameState(math.max(n, 4))
    var i = 0
    while (i < n) { b.xs(i) = bb.getDouble(); i += 1 }
    b.n = n
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): DoubleFrameCollect =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): DoubleFrameCollect =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): DoubleFrameCollect =
    copy(child = newChildren.head)
}

/** Frame-fold KERNEL aggregates (r22, the StlLoessFitAgg pattern with N
  * outputs): the roll-family / trailing-Taylor kernels computed
  * directly inside a TypedImperativeAggregate over one interleaved
  * primitive double[] — eval() IS the kernel fold and emits the final
  * output array. A collector frame + scalar kernel would pay, per
  * output row, the frame copy + UnsafeArrayData materialization and
  * the kernel's ArrayData re-read.
  *
  * ENCODING: every child is NaN-ENCODED (`coalesce(x, NaN)` — never
  * null), so rows keep their POSITION in the buffer and the folds skip
  * NaN exactly like the declarative forms skip null terms. These
  * are the lag/lead expression forms' — and therefore the DuckDB
  * oracles' — exact semantics (a genuine NaN value is missing too:
  * pandas semantics). This is the POSITIONAL contract: a null row
  * holds its place in the window, as in the declarative forms.
  * FrameKernelAggSpec pins the aggregates bit-equal to the
  * useKernel=false declarative folds on null-bearing input.
  *
  * The [[FrameFoldAgg]] ORDER CONTRACT applies: ordered window frames
  * only (WindowExec feeds update() in frame order and never merges);
  * merge() exists for interface completeness.
  */
final class FlatFrameState(cap: Int) {
  var xs = new Array[Double](cap)
  var n = 0 // ROWS stored; xs holds n·arity doubles
}

abstract class FlatFrameAgg extends TypedImperativeAggregate[FlatFrameState] {
  protected def arity: Int
  protected def capRows: Int

  // update() runs once per frame row; `children`/`arity` are defs on
  // the subclasses (a fresh Seq per access; List.length is O(n)) —
  // snapshot both. @transient lazy: re-derived after serialization.
  @transient private lazy val childArr: Array[Expression] = children.toArray
  @transient private lazy val ar: Int = arity

  override def createAggregationBuffer(): FlatFrameState =
    new FlatFrameState(math.max(capRows, 4) * arity)

  override def update(b: FlatFrameState, input: InternalRow): FlatFrameState = {
    val arity = ar
    if ((b.n + 1) * arity > b.xs.length)
      b.xs = java.util.Arrays.copyOf(b.xs, b.xs.length * 2)
    val base = b.n * arity
    val cs = childArr
    var k = 0
    while (k < arity) {
      val v = cs(k).eval(input)
      // children are coalesce(x, NaN) — the null arm is defensive only
      b.xs(base + k) = if (v == null) Double.NaN else v.asInstanceOf[Double]
      k += 1
    }
    b.n += 1
    b
  }

  override def merge(a: FlatFrameState, b: FlatFrameState): FlatFrameState = {
    // interface completeness only (windows never merge): concatenate
    val need = (a.n + b.n) * arity
    if (need > a.xs.length) a.xs = java.util.Arrays.copyOf(a.xs, need)
    System.arraycopy(b.xs, 0, a.xs, a.n * arity, b.n * arity)
    a.n += b.n
    a
  }

  override def serialize(b: FlatFrameState): Array[Byte] = {
    val stored = b.n * arity
    val bb = java.nio.ByteBuffer.allocate(4 + 8 * stored)
    bb.putInt(b.n)
    var i = 0
    while (i < stored) { bb.putDouble(b.xs(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): FlatFrameState = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val b = new FlatFrameState(math.max(n, 4) * arity)
    val stored = n * arity
    var i = 0
    while (i < stored) { b.xs(i) = bb.getDouble(); i += 1 }
    b.n = n
    b
  }
}

/** A whole roll-feature family (any mix of [[RollSpecDef]] modes,
  * columns and window sizes) as ONE window aggregate: children are the
  * NaN-encoded source columns (arity ≥ 1), eval() runs
  * [[KernelRuntime.multiRollFlat]] — zero frame materialization.
  * Caller contract: trailing frames only (rowsBetween(-(depth−1), 0)),
  * the current row is the buffer's last row.
  */
case class MultiRollAgg(
    children: Seq[Expression],
    specs: Array[RollSpecDef],
    capHint: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends FlatFrameAgg {
  override protected def arity: Int = children.length
  override protected def capRows: Int = capHint
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = false

  override def eval(b: FlatFrameState): Any =
    KernelRuntime.multiRollFlat(b.xs, b.n, children.length, 0, specs)

  override def withNewMutableAggBufferOffset(newOffset: Int): MultiRollAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MultiRollAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MultiRollAgg =
    copy(children = newChildren)
}

/** One TRAILING Taylor (column, spec) as a window aggregate over a
  * depth-(w+1) frame — see [[KernelRuntime.taylorFlat]] for the
  * synthesized-position argument. Emits the degree+1 coefficient array
  * (null outside every branch — fillEdges=false edges), exactly like
  * [[TaylorKernel]].
  */
case class TaylorTrailingAgg(
    child: Expression,
    table: TaylorTable,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends FlatFrameAgg {
  require(table.trailing, "TaylorTrailingAgg is trailing-only — centered specs " +
    "need pos/cnt, which a frame aggregate cannot see (keep the two-step there)")
  override def children: Seq[Expression] = Seq(child)
  override protected def arity: Int = 1
  override protected def capRows: Int = table.w + 1
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = true

  override def eval(b: FlatFrameState): Any =
    KernelRuntime.taylorFlat(b.xs, b.n, table)

  override def withNewMutableAggBufferOffset(newOffset: Int): TaylorTrailingAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TaylorTrailingAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TaylorTrailingAgg =
    copy(child = newChildren.head)
}

/** Sorted-pick frame aggregates (r22): the `sort_array(collect_list)
  * → element-pick` two-steps of rollQuantiles / hampel as ONE
  * aggregate whose eval() sorts a primitive copy and emits just the
  * picked elements — the sorted frame array is never materialized as a
  * row value. Null inputs are DROPPED exactly like collect_list
  * (sorting makes position irrelevant); picks past the collected count
  * are null (the `get()`/cnt-gate semantics of the call sites).
  * `java.util.Arrays.sort(double[])` is the total order sort_array
  * applies (-0.0 < 0.0, NaN greatest: java.lang.Double.compare order);
  * FrameCollectSpec pins both aggregates against sort_array on NaN,
  * signed zeros, an explicit [0.0, -0.0] frame and nullable longs. The
  * [[FrameFoldAgg]] window-only ORDER CONTRACT applies.
  */
case class DoubleSortedPicksAgg(
    child: Expression,
    ranks: Array[Int], // 1-based ranks into the ascending sort
    capHint: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[DblFrameState] {

  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): DblFrameState =
    new DblFrameState(math.max(capHint, 4))

  override def update(b: DblFrameState, input: InternalRow): DblFrameState = {
    val v = child.eval(input)
    if (v != null) {
      if (b.n == b.xs.length) b.xs = java.util.Arrays.copyOf(b.xs, b.n * 2)
      b.xs(b.n) = v.asInstanceOf[Double]
      b.n += 1
    }
    b
  }

  override def merge(a: DblFrameState, b: DblFrameState): DblFrameState = {
    if (a.n + b.n > a.xs.length) a.xs = java.util.Arrays.copyOf(a.xs, a.n + b.n)
    System.arraycopy(b.xs, 0, a.xs, a.n, b.n)
    a.n += b.n
    a
  }

  override def eval(b: DblFrameState): Any = {
    val s = java.util.Arrays.copyOf(b.xs, b.n)
    java.util.Arrays.sort(s) // same total order as sort_array (see the class doc)
    val out = new Array[Any](ranks.length)
    var i = 0
    while (i < ranks.length) {
      val r = ranks(i)
      out(i) = if (r >= 1 && r <= b.n) java.lang.Double.valueOf(s(r - 1)) else null
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(b: DblFrameState): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 8 * b.n)
    bb.putInt(b.n)
    var i = 0
    while (i < b.n) { bb.putDouble(b.xs(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): DblFrameState = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val b = new DblFrameState(math.max(n, 4))
    var i = 0
    while (i < n) { b.xs(i) = bb.getDouble(); i += 1 }
    b.n = n
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): DoubleSortedPicksAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): DoubleSortedPicksAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): DoubleSortedPicksAgg =
    copy(child = newChildren.head)
}

final class LngFrameState(cap: Int) {
  var xs = new Array[Long](cap)
  var n = 0
}

/** Hampel's per-frame [median, MAD] over integer cents as ONE
  * aggregate: eval() sorts the collected longs once for the median,
  * then sorts the absolute deviations for the MAD — what a
  * sort_array(collect_list) window + per-row transform/array_sort
  * projection computes, without that shape's two array allocations
  * per row. Element picks use `get()` semantics: index k out of
  * bounds → null.
  */
case class HampelMedMadAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[LngFrameState] {

  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): LngFrameState =
    new LngFrameState(2 * k + 1)

  override def update(b: LngFrameState, input: InternalRow): LngFrameState = {
    val v = child.eval(input)
    if (v != null) {
      if (b.n == b.xs.length) b.xs = java.util.Arrays.copyOf(b.xs, b.n * 2)
      b.xs(b.n) = v.asInstanceOf[Long]
      b.n += 1
    }
    b
  }

  override def merge(a: LngFrameState, b: LngFrameState): LngFrameState = {
    if (a.n + b.n > a.xs.length) a.xs = java.util.Arrays.copyOf(a.xs, a.n + b.n)
    System.arraycopy(b.xs, 0, a.xs, a.n, b.n)
    a.n += b.n
    a
  }

  override def eval(b: LngFrameState): Any = {
    if (b.n <= k) return new GenericArrayData(Array[Any](null, null))
    val s = java.util.Arrays.copyOf(b.xs, b.n)
    java.util.Arrays.sort(s)
    val med = s(k)
    // reuse the sorted buffer for the deviations (|x − med| of a sorted
    // long array is NOT sorted — re-sort)
    var i = 0
    while (i < b.n) { s(i) = math.abs(s(i) - med); i += 1 }
    java.util.Arrays.sort(s)
    new GenericArrayData(Array[Any](
      java.lang.Long.valueOf(med), java.lang.Long.valueOf(s(k))))
  }

  override def serialize(b: LngFrameState): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 8 * b.n)
    bb.putInt(b.n)
    var i = 0
    while (i < b.n) { bb.putLong(b.xs(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): LngFrameState = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val b = new LngFrameState(math.max(n, 4))
    var i = 0
    while (i < n) { b.xs(i) = bb.getLong(); i += 1 }
    b.n = n
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): HampelMedMadAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HampelMedMadAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HampelMedMadAgg =
    copy(child = newChildren.head)
}

object FrameAggKernels {
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

  def conv(v: Column, coefs: Array[Double]): Column =
    column(StlConvAgg(expression(v), coefs).toAggregateExpression())

  /** Window collect_list(double) without boxing — null inputs dropped,
    * never null, frame order preserved. `capHint` = the frame's row
    * bound (a hint only; the buffer grows past it).
    */
  def collectDoubles(v: Column, capHint: Int): Column =
    column(DoubleFrameCollect(expression(v), capHint).toAggregateExpression())

  def loessFit(rho: Column, v: Column,
      w0: Array[Double], w1: Array[Double], w2: Array[Double]): Column =
    column(StlLoessFitAgg(expression(rho), expression(v), w0, w1, w2)
      .toAggregateExpression())

  def rollTheilSen(t: Column, v: Column, w: Int): Column =
    column(RollTheilSenAgg(expression(t), expression(v), w).toAggregateExpression())

  /** The multi-roll family as one frame-fold aggregate (r22). `cols`
    * are the raw source columns — NaN-encoding happens here so every
    * call site shares the one positional contract. `capHint` = the
    * frame's row depth.
    */
  def multiRollAgg(cols: Seq[Column], specs: Seq[RollSpecDef], capHint: Int): Column = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    val enc = cols.map(c => expression(coalesce(c.cast("double"), lit(Double.NaN))))
    column(MultiRollAgg(enc, specs.toArray, capHint).toAggregateExpression())
  }

  /** Ascending-sort element picks (1-based ranks) in one aggregate —
    * fuses `sort_array(collect_list) + element_at` (rollQuantiles).
    */
  def sortedPicksAgg(v: Column, ranks: Seq[Int], capHint: Int): Column =
    column(DoubleSortedPicksAgg(expression(v), ranks.toArray, capHint)
      .toAggregateExpression())

  /** Hampel's [median, MAD] integer-cents pair in one aggregate. */
  def hampelMedMadAgg(v: Column, k: Int): Column =
    column(HampelMedMadAgg(expression(v), k).toAggregateExpression())

  /** One trailing Taylor spec as a frame-fold aggregate (r22) — the
    * caller must put it over `rowsBetween(-w, 0)` (depth w+1; see
    * KernelRuntime.taylorFlat).
    */
  def taylorTrailingAgg(v: Column, table: TaylorTable): Column = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    column(TaylorTrailingAgg(
      expression(coalesce(v.cast("double"), lit(Double.NaN))), table).toAggregateExpression())
  }
}
