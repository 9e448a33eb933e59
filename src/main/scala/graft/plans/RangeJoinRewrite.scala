package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Optimizer rule: rewrite point-in-interval inequality joins into
  * banded equi-joins.
  *
  * Spark plans `points ⋈ intervals ON p >= lo AND p < hi` (no equality
  * conjunct) as BroadcastNestedLoopJoin — O(|points| × |intervals|)
  * comparisons, unusable at scale. This rule detects the shape on a
  * resolved inner join and rewrites it to the same plan
  * [[graft.operators.RangeJoin.pointInInterval]] builds by hand:
  *
  *   - points gain a band id `floor(p / W)`;
  *   - intervals explode onto every band they overlap
  *     (`sequence(floor(lo/W), floor(hi/W))`);
  *   - the join becomes an EQUI join on the band id, with the original
  *     inequality predicate kept as the post-join filter.
  *
  * Null/empty-interval semantics are unchanged: a null point or bound
  * produces a null band/array, which the equi-join/explode drops —
  * exactly the rows the raw predicate could never match. The extra
  * `lo < hi` pre-filter only removes rows that match nothing.
  *
  * Wide intervals: banding explodes `interval_width / bandWidth` band
  * rows per interval, so one huge interval (relative to bandWidth)
  * could inflate the build side without bound. Intervals spanning more
  * than `maxBands` bands therefore take a FALLBACK branch: the plan
  * becomes a union of (banded equi-join over narrow intervals) and
  * (the original inequality join over just the wide ones). The wide
  * branch stays a nested-loop join — the honest cost for pathological
  * intervals — but it only carries the few rows past the cap, which is
  * what lets the rewrite default ON safely. Known price: the interval
  * side is scanned once per branch even when every interval is narrow
  * (the wide filter must run to prove itself empty; AQE then erases
  * the empty join, including the point-side scan, at runtime). One
  * extra pass over the — typically small — interval side is the cost
  * of never nested-looping an unbounded build.
  *
  * Config: [[graft.Knobs.rangeJoinEnabled]] and
  * [[graft.Knobs.rangeJoinMaxBands]]; bands are [[BandWidth]] wide. The narrow branch's
  * join condition contains an equality, so the rule never re-fires on
  * it; the wide branch is tagged with [[RangeJoinRewrite.SkipTag]] so
  * the rule's own fixpoint batch leaves it alone.
  */
case class RangeJoinRewrite(spark: org.apache.spark.sql.SparkSession)
  extends Rule[LogicalPlan] with PredicateHelper {

  private def maxBands: Long = graft.Knobs.rangeJoinMaxBands(spark)

  private def refsOnly(e: Expression, side: LogicalPlan): Boolean =
    e.references.nonEmpty && e.references.subsetOf(side.outputSet)

  /** Decompose `cond` as (point, lo, hi) with point from `l` and
    * bounds from `r`: p >= lo AND p < hi (any conjunct order). */
  private def matchPointInterval(cond: Expression, l: LogicalPlan, r: LogicalPlan)
  : Option[(Expression, Expression, Expression)] = cond match {
    case And(a, b) =>
      val pair = Seq((a, b), (b, a)).collectFirst {
        case (GreaterThanOrEqual(p1, lo), LessThan(p2, hi))
          if p1.semanticEquals(p2) => (p1, lo, hi)
      }
      pair.filter { case (p, lo, hi) =>
        refsOnly(p, l) && refsOnly(lo, r) && refsOnly(hi, r) &&
          p.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] &&
          lo.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] &&
          hi.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]
      }
    case _ => None
  }

  private def bandOf(e: Expression): Expression =
    Floor(Divide(Cast(e, DoubleType), Literal(RangeJoinRewrite.BandWidth)))

  /** Structural re-entry guard backing up [[RangeJoinRewrite.SkipTag]]:
    * the wide-fallback branch carries a `span > maxBands` filter over
    * the interval side, so even if an optimizer rule rebuilds the Join
    * via `copy()` and drops the tag, the recomputed marker predicate
    * identifies the branch and the rule skips it (a second rewrite
    * would stack a contradictory — but unprovably empty — narrow
    * branch per fixpoint iteration). */
  private def isWideFallback(r: LogicalPlan, span: Expression): Boolean = {
    val marker = GreaterThan(span, Literal(maxBands))
    r.collectFirst {
      case Filter(c, _)
        if splitConjunctivePredicates(c).exists(_.semanticEquals(marker)) => ()
    }.isDefined
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!graft.Knobs.rangeJoinEnabled(spark)) return plan
    plan.transformUp {
      // cond.deterministic: a non-deterministic point/bound expression
      // (rand()) would otherwise be duplicated into the bands, the
      // Sequence, and the retained post-join predicate — each
      // evaluating independently, changing semantics vs the original
      // single-evaluation join
      case j @ Join(left, right, Inner, Some(cond), hint)
        if j.resolved && cond.deterministic &&
          j.getTagValue(RangeJoinRewrite.SkipTag).isEmpty =>
        matchPointInterval(cond, left, right) match {
          case Some((p, lo, hi)) if !isWideFallback(right, Subtract(bandOf(hi), bandOf(lo))) =>
            // left: append the point's band id
            val lBand = Alias(bandOf(p), "__graft_band_l")()
            val newLeft = Project(left.output :+ lBand, left)

            // interval span in bands: floor(hi/W) - floor(lo/W)
            val span = Subtract(bandOf(hi), bandOf(lo))
            val nonEmpty = LessThan(lo, hi)
            val narrowPred = And(nonEmpty, LessThanOrEqual(span, Literal(maxBands)))

            // narrow right side: drop empty/wide intervals, explode
            // covered bands. Sequence is TimeZoneAwareExpression:
            // without a zone id it reports unresolved and fails plan
            // validation
            val bandsArr = Alias(
              Sequence(bandOf(lo), bandOf(hi), Some(Literal(1L)),
                Some(conf.sessionLocalTimeZone)), "__graft_bands")()
            val filtered = Filter(narrowPred, right)
            val withArr = Project(right.output :+ bandsArr, filtered)
            val rBand = AttributeReference("__graft_band_r", LongType, nullable = false)()
            val exploded = Generate(
              Explode(bandsArr.toAttribute), unrequiredChildIndex = Nil,
              outer = false, qualifier = None,
              generatorOutput = Seq(rBand), child = withArr)
            val newRight = Project(right.output :+ rBand, exploded)

            val newCond = And(EqualTo(lBand.toAttribute, rBand), cond)
            val narrowJoin =
              Project(j.output, Join(newLeft, newRight, Inner, Some(newCond), hint))

            // wide fallback: the original inequality join over only the
            // intervals past the cap (null bounds match nothing under
            // either predicate, so they drop from both branches exactly
            // as the raw join dropped them)
            val widePred = And(nonEmpty, GreaterThan(span, Literal(maxBands)))
            val wideJoin = Join(left, Filter(widePred, right), Inner, Some(cond), hint)
            wideJoin.setTagValue(RangeJoinRewrite.SkipTag, ())
            Union(narrowJoin, Project(j.output, wideJoin))
          case _ => j
        }
    }
  }
}

object RangeJoinRewrite {
  val BandWidth = 100.0 // of the banded equi-join, in the point column's units
  /** Marks the wide-interval fallback join this rule emits, so the
    * rule's own fixpoint batch never rewrites it again (its condition
    * still matches the point-in-interval shape by construction). */
  val SkipTag: org.apache.spark.sql.catalyst.trees.TreeNodeTag[Unit] =
    org.apache.spark.sql.catalyst.trees.TreeNodeTag[Unit]("graft.rangeJoin.skip")
}

/** Session-extensions entry point: register graft's optimizer rules
  * in every session built with `.withExtensions(new GraftExtensions)`
  * or via `spark.sql.extensions=graft.plans.GraftExtensions` (the rule
  * then runs inside the main operator-optimization batch, so Catalyst
  * further optimizes the rewritten plan — pushdown, pruning). */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(session => RangeJoinRewrite(session))
  }
}

object GraftExtensions {
  /** Install on an ALREADY-RUNNING session via
    * `experimental.extraOptimizations` (extensions can't be added to a
    * live session). The rule then runs in the user-provided batch
    * after the main optimizer — correctness identical, the rewritten
    * operators just skip a second pushdown pass. Idempotent. */
  def install(spark: org.apache.spark.sql.SparkSession): Unit = {
    val existing = spark.experimental.extraOptimizations
    if (!existing.exists(_.isInstanceOf[RangeJoinRewrite]))
      spark.experimental.extraOptimizations = existing :+ RangeJoinRewrite(spark)
  }
}
