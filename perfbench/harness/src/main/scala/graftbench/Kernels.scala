package graftbench

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.TextOps
import graft.plans.{KernelRuntime, RollFoldKernel, RollSpecDef, TaylorKernel}
import graft.ts.TaylorBasis

/** Single-threaded, Spark-free timing of the `KernelRuntime` fold bodies
  * the featurize and curation queries spend their task time in. Inputs
  * come from a fixed-seed generator, so the figures compare code, not
  * data.
  */
object Kernels {
  val Depths: Seq[Int] = Seq(7, 28, 365)
  @volatile private var sink: Any = null

  /** Nanoseconds per call of `body`, the median of five timed blocks of
    * about `blockMs` each, after a warm-up of `warmMs`.
    */
  private def nsPerCall(warmMs: Double, blockMs: Double)(body: Int => Any): Double = {
    var i = 0
    val w0 = System.nanoTime()
    while (System.nanoTime() - w0 < warmMs * 1e6) { sink = body(i); i += 1 }
    val per = (System.nanoTime() - w0).toDouble / i
    val n = math.max(1, (blockMs * 1e6 / per).toInt)
    val samples = (0 until 5).map { _ =>
      val t = System.nanoTime()
      var k = 0
      while (k < n) { sink = body(k); k += 1 }
      (System.nanoTime() - t).toDouble / n
    }.sorted
    samples(2)
  }

  private val rnd = new scala.util.Random(7L)
  /** Event-like values: exponential, two decimals, like the generated `value`. */
  private def values(n: Int): Array[Double] =
    Array.fill(n)(math.round(-math.log(1.0 - rnd.nextDouble()) * 5000.0) / 100.0)

  /** The fused roll family the featurize surface asks for at window `d`:
    * rollmean, rollstats, zscore, ewma_trunc, autocorr (lag 1) and moments.
    */
  def rollSpecs(d: Int): Array[RollSpecDef] = Array(
    RollSpecDef(0, 0, d, d, 0, Array.empty),
    RollSpecDef(1, 0, d, d, 0, Array.empty),
    RollSpecDef(2, 0, d, d, 0, Array.empty),
    RollSpecDef(3, 0, d, 0, 0, Array.tabulate(d)(i => math.pow(0.9, i))),
    RollSpecDef(4, 0, d - 1, d - 1, 1, Array.empty),
    RollSpecDef(5, 0, d, d, 0, RollFoldKernel.momentCoefs(d)))

  /** Kernel figures plus their operation counts (elements folded per row,
    * bytes or shingles per document).
    */
  def run(): (Map[String, Double], Map[String, Double]) = {
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val ops = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val nFrames = 32
    Depths.foreach { d =>
      val specs = rollSpecs(d)
      val rollFrames = Array.fill(nFrames)(values(d))
      metrics(s"kernels.multiRollFlat.d$d.ns_per_row") = nsPerCall(60, 25) { i =>
        KernelRuntime.multiRollFlat(rollFrames(i % nFrames), d, 1, 0, specs)
      }
      ops(s"kernels.multiRollFlat.d$d.elems_per_row") = specs.map(_.depth).sum.toDouble

      // trailing frames hold w + 1 rows; a full frame selects the interior branch
      val table = TaylorKernel.evaluatorFromSpec(
        TaylorBasis.Spec("value", 2, d, "trailing", None, fillEdges = false)).table
      val taylorFrames = Array.fill(nFrames)(values(d + 1))
      metrics(s"kernels.taylorFlat.d$d.ns_per_row") = nsPerCall(60, 25) { i =>
        KernelRuntime.taylorFlat(taylorFrames(i % nFrames), d + 1, table)
      }
      ops(s"kernels.taylorFlat.d$d.madds_per_row") = 3.0 * d

      // (t, v) interleaved; strictly increasing t, as in a series frame
      val tsFrames = Array.fill(nFrames) {
        val v = values(d)
        var t = 0.0
        Array.tabulate(2 * d)(k => if (k % 2 == 0) { t += 1.0 + rnd.nextInt(60); t } else v(k / 2))
      }
      metrics(s"kernels.rollTheilSenFlat.d$d.ns_per_row") = nsPerCall(60, 25) { i =>
        KernelRuntime.rollTheilSenFlat(tsFrames(i % nFrames), d, d)
      }
      ops(s"kernels.rollTheilSenFlat.d$d.slopes_per_row") = d * (d - 1) / 2.0
    }

    val vocab = ("batch part spark line column order small sort fast value scan hash slow group " +
      "agg filter query a big key window row table stream merge data vector join the customer " +
      "Spark QUERY Data café naïve Straße İstanbul Kelvin").split(' ')
    val docs = Array.fill(256) {
      val n = 8 + rnd.nextInt(90)
      UTF8String.fromString(Seq.fill(n)(vocab(rnd.nextInt(vocab.length)))
        .mkString(" ").replace("a big", "a,  big!"))
    }
    val docBytes = docs.map(_.numBytes().toLong).sum.toDouble
    val perDoc = nsPerCall(60, 25) { i => KernelRuntime.normalizeText(docs(i % docs.length)) }
    metrics("kernels.normalizeText.ns_per_byte") = perDoc * docs.length / docBytes
    ops("kernels.normalizeText.bytes_per_doc") = docBytes / docs.length

    val params = TextOps.minhashParams(16)
    val as = params.map(_._1).toArray
    val bs = params.map(_._2).toArray
    val shingles = Array.fill(256)(UnsafeArrayData.fromPrimitiveArray(
      Array.fill(5 + rnd.nextInt(90))((rnd.nextLong() >>> 4) % TextOps.MinhashMod)))
    metrics("kernels.minhashPerms.ns_per_doc") = nsPerCall(60, 25) { i =>
      KernelRuntime.minhashPerms(shingles(i % shingles.length), as, bs, TextOps.MinhashMod)
    }
    ops("kernels.minhashPerms.hash_perms_per_doc") =
      shingles.map(_.numElements().toDouble).sum / shingles.length * as.length
    (metrics.toMap, ops.toMap)
  }
}
