package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

/** Optimizer rule (SURVEY.md §4.3 "custom Rule" slot, second instance
  * beside [[DotProductRewrite]]): BAND JOINS WITHOUT THE NESTED LOOP.
  *
  * An inner join whose only cross-side predicate is a band —
  * `a BETWEEN b - d1 AND b + d2`, `abs(a - b) <= d`, or any
  * inequality-pair bounding `a - b` — has no equi key, so Spark plans a
  * BroadcastNestedLoopJoin (or cartesian): O(|L|·|R|), THE classic
  * scale-killer for event-correlation queries. The engine's hand-written
  * escape is the bin-and-explode equi join ([[graft.operators.EventOps
  * .bandJoinBinned]]); this rule applies that rewrite AUTOMATICALLY, so
  * the naive formulation a user actually writes gets the scalable plan:
  *
  *  - bin width `w = max(|lo|, |hi|, 1)` where `a − b ∈ [lo, hi]` is the
  *    extracted band: any matching pair lands in the same or an adjacent
  *    bin.
  *  - the right side is EXPLODED to its bin and both neighbours (3 rows);
  *    the join becomes an EQUI join on the bin base value with the
  *    original band predicate kept as residual — each matching pair
  *    meets exactly one of the three probe copies, so no dedup is needed
  *    and the result multiset is unchanged.
  *  - bins are computed with pure INTEGER arithmetic
  *    (`e − pmod(e, w)` = the bin's base value — no division, no
  *    floating point, exact for negatives via pmod's [0, w) range), which
  *    is also why the rule only fires on integral-typed band columns
  *    (our event-time columns are epoch-µs BIGINTs): a double bin could
  *    mis-bucket a boundary value by one ulp and silently drop a match.
  *
  * Guards: inner joins only, no join hints, no existing cross-side equi
  * conjunct (then Spark already has a hash/SMJ key and the rewrite would
  * only add work), both band expressions deterministic and fully resolved
  * from one side each. Idempotent by construction — the rewritten join
  * HAS an equi conjunct, so the guard rejects it on the next pass.
  * NULL semantics preserved: a NULL band column nulls the bin, the equi
  * probe comparison, and the original residual alike — the row drops in
  * both plans.
  */
object BandJoinRewrite extends Rule[LogicalPlan] {

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case other => Seq(other)
  }

  private def isIntegral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private def literalLong(e: Expression): Option[Long] = e match {
    case Literal(v: Byte, ByteType) => Some(v.toLong)
    case Literal(v: Short, ShortType) => Some(v.toLong)
    case Literal(v: Int, IntegerType) => Some(v.toLong)
    case Literal(v: Long, LongType) => Some(v)
    case _ => None
  }

  /** One-sided bound on the difference `a − b`: lo means `a − b >= v`,
    * hi means `a − b <= v`.
    */
  private case class DiffBound(a: Expression, b: Expression,
      lo: Option[Long], hi: Option[Long])

  /** Interpret one conjunct as a bound (or, for abs, a complete band) on
    * an `a − b` difference. Strict comparisons keep the same bound — the
    * bin width only needs an upper envelope; the residual enforces
    * strictness.
    */
  private def asDiffBound(c: Expression): Option[DiffBound] = {
    // normalize every comparison to x <= y
    val xy: Option[(Expression, Expression)] = c match {
      case LessThanOrEqual(l, r) => Some((l, r))
      case LessThan(l, r) => Some((l, r))
      case GreaterThanOrEqual(l, r) => Some((r, l))
      case GreaterThan(l, r) => Some((r, l))
      case _ => None
    }
    c match {
      // abs(a - b) <= d  (and the flipped d >= abs(a - b))
      case LessThanOrEqual(Abs(Subtract(a, b, _), _), l) =>
        literalLong(l).map(d => DiffBound(a, b, Some(-d), Some(d)))
      case LessThan(Abs(Subtract(a, b, _), _), l) =>
        literalLong(l).map(d => DiffBound(a, b, Some(-d), Some(d)))
      case GreaterThanOrEqual(l, Abs(Subtract(a, b, _), _)) =>
        literalLong(l).map(d => DiffBound(a, b, Some(-d), Some(d)))
      case GreaterThan(l, Abs(Subtract(a, b, _), _)) =>
        literalLong(l).map(d => DiffBound(a, b, Some(-d), Some(d)))
      case _ => xy.flatMap {
        // x <= y shapes
        case (a, Add(b, l, _)) if literalLong(l).isDefined =>
          Some(DiffBound(a, b, None, Some(literalLong(l).get))) //  a − b <= d
        case (a, Subtract(b, l, _)) if literalLong(l).isDefined =>
          Some(DiffBound(a, b, None, Some(-literalLong(l).get))) // a − b <= −d
        case (Add(b, l, _), a) if literalLong(l).isDefined =>
          Some(DiffBound(a, b, Some(literalLong(l).get), None)) //  a − b >= d
        case (Subtract(b, l, _), a) if literalLong(l).isDefined =>
          Some(DiffBound(a, b, Some(-literalLong(l).get), None)) // a − b >= −d
        case (Subtract(a, b, _), l) if literalLong(l).isDefined =>
          Some(DiffBound(a, b, None, Some(literalLong(l).get))) //  a − b <= d
        case (l, Subtract(a, b, _)) if literalLong(l).isDefined =>
          Some(DiffBound(a, b, Some(literalLong(l).get), None)) //  a − b >= d
        case _ => None
      }
    }
  }

  private def sideOk(e: Expression, side: LogicalPlan): Boolean =
    e.deterministic && e.references.nonEmpty &&
      e.references.subsetOf(side.outputSet) &&
      isIntegral(e.dataType)

  /** A cross-side equi conjunct means Spark already has a hash key. */
  private def hasEquiKey(cond: Expression, left: LogicalPlan, right: LogicalPlan): Boolean =
    conjuncts(cond).exists {
      case EqualTo(l, r) => crossSide(l, r, left, right)
      case EqualNullSafe(l, r) => crossSide(l, r, left, right)
      case _ => false
    }

  private def crossSide(l: Expression, r: Expression,
      left: LogicalPlan, right: LogicalPlan): Boolean =
    (l.references.nonEmpty && r.references.nonEmpty &&
      l.references.subsetOf(left.outputSet) && r.references.subsetOf(right.outputSet)) ||
      (l.references.nonEmpty && r.references.nonEmpty &&
        l.references.subsetOf(right.outputSet) && r.references.subsetOf(left.outputSet))

  /** Find a complete band: merge per-(a, b) bounds across conjuncts
    * (orientation normalized to a-from-left), return (a, b, width).
    */
  private def findBand(cond: Expression, left: LogicalPlan,
      right: LogicalPlan): Option[(Expression, Expression, Long)] = {
    val oriented = conjuncts(cond).flatMap(asDiffBound).flatMap { db =>
      if (sideOk(db.a, left) && sideOk(db.b, right)) Some(db)
      else if (sideOk(db.a, right) && sideOk(db.b, left))
        // a − b ∈ [lo, hi]  ⇔  b − a ∈ [−hi, −lo]
        Some(DiffBound(db.b, db.a, db.hi.map(-_), db.lo.map(-_)))
      else None
    }
    oriented
      .groupBy(db => (db.a.canonicalized, db.b.canonicalized))
      .values
      .flatMap { group =>
        val los = group.flatMap(_.lo)
        val his = group.flatMap(_.hi)
        if (los.nonEmpty && his.nonEmpty) {
          val lo = los.max // tightest
          val hi = his.min
          if (hi >= lo) {
            val w = math.max(math.max(math.abs(lo), math.abs(hi)), 1L)
            Some((group.head.a, group.head.b, w))
          } else None
        } else None
      }
      .headOption
  }

  private def binBase(e: Expression, w: Long): Expression = {
    val asLong = if (e.dataType == LongType) e else Cast(e, LongType)
    Subtract(asLong, Pmod(asLong, Literal(w)))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, Inner, Some(cond), hint)
        if hint == JoinHint.NONE && !hasEquiKey(cond, left, right) =>
      findBand(cond, left, right) match {
        case Some((a, b, w)) =>
          val probe = AttributeReference("_graft_band_bin", LongType)()
          val rBin = binBase(b, w)
          val gen = Generate(
            Explode(CreateArray(Seq(
              Subtract(rBin, Literal(w)), rBin, Add(rBin, Literal(w))))),
            unrequiredChildIndex = Nil, outer = false, qualifier = None,
            generatorOutput = Seq(probe), child = right)
          val newCond = And(EqualTo(binBase(a, w), probe), cond)
          Project(j.output, Join(left, gen, Inner, Some(newCond), hint))
        case None => j
      }
  }
}
