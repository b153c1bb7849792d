package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.TextOps

/** SQL surface for the graft kernels.
  *
  * Two ways in:
  *  - config: `spark.sql.extensions=graft.plans.GraftExtensions`
  *    registers the functions at session build time;
  *  - imperative: `GraftFunctions.register(spark)` on a live session
  *    (what tests and notebooks use).
  *
  * Registered functions (both take an ARRAY<BIGINT> of pre-computed
  * hashes — see TextOps.shingleHashes / tokenHashes32):
  *  - graft_minhash16(hashes): ARRAY<BIGINT> of the 16 default-seed
  *    permutation minima (plans.MinhashPerms)
  *  - graft_simhash32(hashes): BIGINT SimHash (plans.SimHash32)
  */
object GraftFunctions {
  private val defaultParams = TextOps.minhashParams(16)

  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_minhash16" -> { exprs =>
      MinhashPerms(exprs.head, defaultParams.map(_._1).toArray, defaultParams.map(_._2).toArray, TextOps.MinhashMod)
    },
    "graft_simhash32" -> { exprs => SimHash32(exprs.head) })

  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, b) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, b, "scala_udf")
    }

  private[plans] def inject(e: SparkSessionExtensions): Unit =
    builders.foreach { case (name, b) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[MinhashPerms].getName, name),
        b))
    }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.inject(e)
    // opt-in range-join rewrite: fires only when the session sets
    // spark.graft.rangeJoin.bucketMicros (see RewriteRangeJoin)
    e.injectOptimizerRule(session => RewriteRangeJoin(() => RewriteRangeJoin.bucketMicros(session)))
  }
}
