package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** Opt-in Catalyst optimizer rule: rewrite a bare point-in-interval
  * INNER join — `p.ts BETWEEN i.s AND i.e` (plus any key-equality
  * conjuncts) — into the bucketed equi-join shape `ts_range_join`
  * builds by hand (TimeOps.rangeJoin).
  *
  * Why a RULE: Spark plans a join whose only cross-side predicates are
  * inequalities as BroadcastNestedLoopJoin (or a cartesian product) —
  * O(|points|·|intervals|) work per key, the classic 100 TB cliff.
  * With a time-bucket granularity the user declares via
  * `spark.graft.rangeJoin.bucketMicros`, each interval explodes into
  * its overlapped buckets, each point maps to ONE bucket, and the join
  * becomes hash-partitionable on (keys…, bucket) with the original
  * range predicate re-applied as the join filter — same rows, shuffle
  * shapes instead of nested loops. The rewrite fires only when the
  * conf is set (granularity is a data-dependent decision the engine
  * cannot guess), only on Inner joins, and only for 64-bit integral
  * point/bound columns.
  *
  * Expressible with built-ins? The SHAPE is (TimeOps.rangeJoin) — but
  * only by the user rewriting their query. The rule makes the natural
  * BETWEEN-join formulation scale without the user knowing the trick:
  * exactly the "drop to a custom Rule where the declarative surface
  * can't express it" case.
  *
  * Correctness notes: bucket = x div w is monotone, so s ≤ p ≤ e
  * implies bucket(p) ∈ [bucket(s), bucket(e)] — no hits are lost; the
  * re-applied range conjuncts kill false bucket-mates. Invalid
  * intervals (s > e, or null bounds) are pre-filtered — `sequence()`
  * would raise on a negative span, and an inner join could never keep
  * those rows anyway (the range predicate is null/false). A marker
  * attribute prefix makes the rule idempotent under Spark's
  * fixed-point batch for user-provided rules.
  */
case class RewriteRangeJoin(bucketWidth: () => Option[Long]) extends Rule[LogicalPlan] {

  private val Marker = "__graft_rj"

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case other => Seq(other)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = bucketWidth() match {
    case None => plan
    case Some(w) if w > 0 =>
      plan.transformUp {
        case j @ Join(_, _, Inner, Some(cond), _) =>
          rewrite(j, cond, w).getOrElse(j)
      }
    case _ => plan
  }

  /** Which side of the join an expression's references live on:
    * 1 = left only, 2 = right only, 0 = neither/both/empty.
    */
  private def sideOf(e: Expression, j: Join): Int = {
    val refs = e.references
    if (refs.isEmpty) 0
    else if (refs.subsetOf(j.left.outputSet)) 1
    else if (refs.subsetOf(j.right.outputSet)) 2
    else 0
  }

  private def rewrite(j: Join, cond: Expression, w: Long): Option[LogicalPlan] = {
    val cs = conjuncts(cond)
    // idempotence under the fixed-point user-rule batch
    if (cs.exists(_.references.exists(_.name.startsWith(Marker)))) return None
    // normalize every inequality to (big, small, original): big >= small
    val ineqs = cs.flatMap {
      case c @ GreaterThanOrEqual(a, b) => Some((a, b, c: Expression))
      case c @ GreaterThan(a, b)        => Some((a, b, c: Expression))
      case c @ LessThanOrEqual(a, b)    => Some((b, a, c: Expression))
      case c @ LessThan(a, b)           => Some((b, a, c: Expression))
      case _ => None
    }
    // find p >= s (p = big) and p <= e (p = small) with p on one side,
    // s and e both on the other, all 64-bit integral
    val hit = (for {
      (p1, s, c1) <- ineqs.iterator
      (e, p2, c2) <- ineqs.iterator
      if !(c1 eq c2) && p1.semanticEquals(p2)
      pSide = sideOf(p1, j)
      bSide = sideOf(s, j)
      if pSide != 0 && bSide != 0 && pSide != bSide && sideOf(e, j) == bSide
      if p1.dataType == LongType && s.dataType == LongType && e.dataType == LongType
    } yield (p1, s, e, c1, c2, pSide)).take(1).toSeq.headOption
    hit.map { case (p, s, e, c1, c2, pSide) =>
      val rest = cs.filterNot(c => (c eq c1) || (c eq c2))
      val wLit = Literal(w)
      val (pointsPlan, intsPlan) = if (pSide == 1) (j.left, j.right) else (j.right, j.left)
      val bPt = Alias(IntegralDivide(p, wLit), s"${Marker}_bp")()
      val pointsProj = Project(pointsPlan.output :+ bPt, pointsPlan)
      val validInts = Filter(LessThanOrEqual(s, e), intsPlan)
      val bInt = AttributeReference(s"${Marker}_bi", LongType)()
      // Sequence is timezone-aware even over longs: without an explicit
      // zone it reports unresolved and the optimizer rejects the plan
      val seq = Sequence(
        IntegralDivide(s, wLit), IntegralDivide(e, wLit), Some(Literal(1L)),
        Some(conf.sessionLocalTimeZone))
      val gen = Generate(
        Explode(seq),
        unrequiredChildIndex = Nil, outer = false, qualifier = None,
        generatorOutput = Seq(bInt), child = validInts)
      val bucketEq = EqualTo(bPt.toAttribute, bInt)
      val newCond = (rest ++ Seq(c1, c2) :+ bucketEq).reduce(And)
      val (nl, nr) = if (pSide == 1) (pointsProj, gen) else (gen, pointsProj)
      Project(j.output, Join(nl, nr, Inner, Some(newCond), j.hint))
    }
  }
}

object RewriteRangeJoin {
  /** The session's bucket width: None when unset; a malformed or
    * non-positive value fails fast instead of silently disabling the
    * rewrite.
    */
  def bucketMicros(session: org.apache.spark.sql.SparkSession): Option[Long] =
    session.conf.getOption("spark.graft.rangeJoin.bucketMicros")
      .map(graft.GraftConf.parse("spark.graft.rangeJoin.bucketMicros", _,
        "a positive integer number of microseconds")(_.toLongOption.filter(_ > 0)))
}
