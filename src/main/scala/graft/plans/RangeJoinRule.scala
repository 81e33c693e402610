package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Catalyst optimizer rule: rewrite naive interval joins into bucketed
  * equi-joins (the logical-plan form of operators.RangeJoin).
  *
  * Matches `fact ⋈ bands ON v >= lo AND v < hi` where `v` comes from one
  * side and `lo`/`hi` (integral) from the other. OSS Spark plans this as a
  * BroadcastNestedLoopJoin — O(|fact|·|bands|) interpreted comparisons.
  * The rewrite:
  *
  *   bands' = bands GENERATE explode(sequence(lo div w, (hi-1) div w)) AS b
  *   fact'  = fact  PROJECT  floor(v / w) AS b
  *   fact' ⋈ bands' ON b = b AND v >= lo AND v < hi
  *
  * which Catalyst then plans as a hash join on `b` with the range
  * predicate as residual — shuffle parallel, codegen'd, AQE-splittable.
  * The bucket width is 1024 (row count × width tradeoff).
  *
  * Injected by [[GraftExtensions]]; proven equivalent in RangeJoinRuleSpec.
  */
object RangeJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  private val BucketWidth = 1024L

  private def integral(e: Expression): Boolean = e.dataType match {
    case LongType | org.apache.spark.sql.types.IntegerType => true
    case _ => false
  }

  // the analyzer wraps the integral band bounds in cast-to-double for the
  // comparison against a double probe value — match through the cast
  private def uncast(e: Expression): Expression = e match {
    case c: Cast => uncast(c.child)
    case other => other
  }

  /** Find a `(v >= lo, v < hi)` pair among the condition's conjuncts where
    * v is from `left` and lo/hi from `right`; returns (v, lo, hi, residual
    * conjuncts incl. the range pair itself as post-filter).
    */
  private def findRangePair(
      conjuncts: Seq[Expression],
      left: LogicalPlan,
      right: LogicalPlan): Option[(Expression, Expression, Expression)] = {
    val ges = conjuncts.collect {
      case GreaterThanOrEqual(v, lo)
          if v.references.subsetOf(left.outputSet) &&
            lo.references.subsetOf(right.outputSet) && integral(uncast(lo)) =>
        (v, uncast(lo))
    }
    val lts = conjuncts.collect {
      case LessThan(v, hi)
          if v.references.subsetOf(left.outputSet) &&
            hi.references.subsetOf(right.outputSet) && integral(uncast(hi)) =>
        (v, uncast(hi))
    }
    (for {
      (v1, lo) <- ges
      (v2, hi) <- lts
      if v1.semanticEquals(v2) && (v1.dataType == DoubleType || integral(v1))
    } yield (v1, lo, hi)).headOption
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    // the __graft_bucket guard stops the rule re-firing on its own output
    // (the rewritten condition still contains the original range pair)
    case j @ Join(left, right, Inner, Some(cond), hint)
        if !cond.references.exists(_.name.startsWith("__graft_bucket")) &&
          findRangePair(splitConjunctivePredicates(cond), left, right).isDefined =>
      val (v1, lo, hi) = findRangePair(splitConjunctivePredicates(cond), left, right).get
      val w = Literal(BucketWidth, LongType)
      val longLo = Cast(lo, LongType)
      val longHi = Cast(hi, LongType)
      // Floor-division on BOTH sides: IntegralDivide truncates toward zero,
      // which disagrees with the probe side's Floor for negative bounds and
      // would silently drop matches. Double division is exact for |x|<2^53.
      def floorDiv(x: Expression): Expression =
        Cast(Floor(Divide(Cast(x, DoubleType), Cast(w, DoubleType))), LongType)
      // bands side: explode the bucket range each interval overlaps
      // Sequence is TimeZoneAwareExpression: unresolved until a zone is set
      val seq = new Sequence(
        floorDiv(longLo),
        floorDiv(Subtract(longHi, Literal(1L, LongType))),
        Literal(1L, LongType)).withTimeZone(conf.sessionLocalTimeZone)
      val bandBucket = AttributeReference("__graft_bucket_r", LongType, nullable = true)()
      val bandsExploded = Generate(
        Explode(seq),
        unrequiredChildIndex = Nil,
        outer = false,
        qualifier = None,
        generatorOutput = Seq(bandBucket),
        child = right)
      // fact side: arithmetic bucket of the probe value
      val factBucketExpr = Cast(Floor(Divide(Cast(v1, DoubleType), Cast(w, DoubleType))), LongType)
      val factBucket = Alias(factBucketExpr, "__graft_bucket_l")()
      val factProjected = Project(left.output :+ factBucket, left)
      // original condition (range pair + any residual conjuncts) stays as
      // the post-bucket filter; only the bucket equality is new
      val rewritten = Join(
        factProjected,
        bandsExploded,
        Inner,
        Some(And(EqualTo(factBucket.toAttribute, bandBucket), cond)),
        hint)
      // strip the internal bucket columns
      Project(j.output, rewritten)
  }
}
